package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}
import com.fasterxml.jackson.databind.ObjectMapper

/** Every oracle key against its DuckDB oracle, inside the unit suite:
  * each query's output is dumped the way `graft.Verify` dumps it (one
  * parquet directory per key plus `oracle_sql.json`) and `tools/check.py`
  * compares it with the oracle SQL. Cancelled when python3 cannot import
  * duckdb.
  */
class OracleGateSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def deleteTree(p: Path): Unit =
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def checkAgainstOracles(keys: Seq[String]): Unit = {
    assume(Process(Seq("python3", "-c", "import duckdb")).!(ProcessLogger(_ => ())) == 0,
      "python3 cannot import duckdb")
    val out = Files.createTempDirectory("oracle-gate")
    try {
      for (k <- keys)
        SparkEntry.queries(k)(spark, sfDir).coalesce(1).write.parquet(s"$out/$k")
      Files.writeString(out.resolve("oracle_sql.json"), new ObjectMapper()
        .writeValueAsString(keys.map(k => k -> SparkEntry.oracleSql(k)).toMap.asJava))
      val log = new StringBuilder
      val append = (l: String) => { log.append(l).append('\n'); () }
      val rc = Process(Seq("python3", Paths.get("tools", "check.py").toString,
        sfDir, out.toString)).!(ProcessLogger(append, append))
      assert(rc == 0 && log.toString.linesIterator.contains("ALL PASS"), log.toString)
    } finally deleteTree(out)
  }

  private val nearDupKeys = Seq(
    "q_minhash", "q_neardup_lsh", "q_neardup_cosine", "q_simhash_neardup",
    "q_incremental_neardup", "q_minhash_error", "q_dedup_clusters",
    "q_dedup_clusters_star", "q_dedup_keeper_best", "q_split_leakage_safe",
    "q_soft_dedup", "q_dup_matrix", "q_containment", "q_contain_prune")

  private val featureMatrixKeys = Seq(
    "q_feature_matrix", "q_feature_matrix_windowed", "q_feature_matrix_windowed_full")

  test("near-dup family matches its DuckDB oracles (tools/check.py ALL PASS)") {
    checkAgainstOracles(nearDupKeys)
  }

  test("feature-matrix family matches its DuckDB oracles (tools/check.py ALL PASS)") {
    checkAgainstOracles(featureMatrixKeys)
  }

  test("every other oracle key matches its DuckDB oracle (tools/check.py ALL PASS)") {
    val rest = SparkEntry.oracleSql.keys.toSeq.sorted.diff(nearDupKeys ++ featureMatrixKeys)
    assert(rest.nonEmpty)
    checkAgainstOracles(rest)
  }
}
