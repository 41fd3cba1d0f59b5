package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Listeners

/** `Tables.parquet` reads the schema from one footer on the driver: the
  * same schema as `spark.read.parquet`, and no Spark job to get it.
  */
class SchemaReadSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    Listeners.drain(sc)
    sc.addSparkListener(l)
    try { body; Listeners.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  private lazy val native: String = {
    val dir = Files.createTempDirectory("graft-native").toString
    datagen.TranscriptGen.turns(spark, 40, 7).repartition(3).write.parquet(s"$dir/turns")
    datagen.TranscriptGen.state(spark, 40, 7).write.parquet(s"$dir/state")
    dir
  }

  test("the native layout reads and builds the conversation matrix with 0 jobs") {
    val cfg = Main.parseArgs(Array("--set", s"input=$native"))
    assert(jobs {
      val turns = Tables.parquet(spark, s"$native/turns")
      val state = Tables.parquet(spark, s"$native/state")
      Main.postProcess(Main.buildMatrix(spark, cfg, turns, Some(state)), cfg)
    } == 0)
    for (t <- Seq("turns", "state"))
      assert(Tables.parquet(spark, s"$native/$t").schema == spark.read.parquet(s"$native/$t").schema)
  }

  test("Tables.documents reads a single-file table with 0 jobs and the inferred schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-docs")
    Seq((1L, "a b c", "en", "s1", 5L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("tmp").toString)
    val part = Files.list(dir.resolve("tmp")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve("documents.parquet"))
    assert(jobs(Tables.documents(spark, dir.toString)) == 0)
    assert(Tables.documents(spark, dir.toString).schema ==
      spark.read.parquet(dir.resolve("documents.parquet").toString).schema)
  }

  test("a partitioned directory keeps Spark's inference, a missing path its error") {
    val dir = Files.createTempDirectory("graft-parts").toString
    spark.range(20).withColumn("p", col("id") % 3).write.partitionBy("p").parquet(s"$dir/t")
    val got = Tables.parquet(spark, s"$dir/t")
    assert(got.schema == spark.read.parquet(s"$dir/t").schema)
    assert(got.columns.contains("p") && got.count() == 20)
    intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, s"$dir/missing"))
  }
}
