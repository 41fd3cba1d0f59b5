// Plan snapshot dumper for the optimization-round evidence files:
//   sbt "runMain graft.tools.PlanDump <outDir> <suffix> <query1,query2,...> [sfDir]"
// writes <outDir>/<query>_<suffix>.txt with the query's explain("formatted")
// under the SAME session shape the bench harness times (local[$SPARK_GRAFT_CPUS],
// shuffle.partitions = cpus, AQE on), so the committed plans match what the
// driver's bench actually executes (modulo AQE's runtime re-optimization,
// which explain() cannot show before execution). One query's plan:
//   sbt "runMain graft.tools.PlanDump /tmp/plans now q_feature_matrix <sfDir>"
// writes /tmp/plans/q_feature_matrix_now.txt.
package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "plans/r07"
    val suffix = if (args.length > 1) args(1) else "before"
    val names =
      if (args.length > 2) args(2).split(",").toSeq.filter(_.nonEmpty)
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val dir = if (args.length > 3) args(3)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
