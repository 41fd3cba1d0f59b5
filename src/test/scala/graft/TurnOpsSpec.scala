package graft

import graft.ops._
import graft.plans.TurnScan
import org.apache.spark.sql.functions._

class TurnOpsSpec extends SparkSpec {
  import spark.implicits._

  test("sessionize: gap > threshold starts a new session; <= does not") {
    val t = Seq(
      ("a", 0, ts("2024-01-01 00:00:00")),
      ("a", 1, ts("2024-01-01 00:00:30")),   // 30s gap, same session
      ("a", 2, ts("2024-01-01 00:01:31")),   // 61s gap, new session
      ("a", 3, ts("2024-01-01 00:02:31")),   // exactly 60s: NOT a new session (strict >)
      ("b", 0, ts("2024-01-01 00:00:00"))
    ).toDF("conv_id", "turn_idx", "ts")
    val got = TurnScan.sessions(t, 60).select("conv_id", "turn_idx", "session_id")
      .as[(String, Int, Int)].collect().toMap2
    assert(got(("a", 0)) == 0 && got(("a", 1)) == 0)
    assert(got(("a", 2)) == 1)
    assert(got(("a", 3)) == 1)
    assert(got(("b", 0)) == 0)
  }

  test("backfill forward-fills nulls, leaves leading nulls") {
    val t = Seq(
      ("a", 0, null.asInstanceOf[String]),
      ("a", 1, "x"), ("a", 2, null.asInstanceOf[String]), ("a", 3, "y"),
      ("a", 4, null.asInstanceOf[String])
    ).toDF("conv_id", "turn_idx", "tool")
    val got = Backfill.ffill(t, "tool", "ff").select("turn_idx", "ff")
      .as[(Int, Option[String])].collect().toMap
    assert(got(0).isEmpty)
    assert(got(2).contains("x"))
    assert(got(4).contains("y"))
  }

  test("run length: runs of equal values segment correctly") {
    val t = Seq(("a", 0, "u"), ("a", 1, "u"), ("a", 2, "v"), ("a", 3, "u"))
      .toDF("conv_id", "turn_idx", "role")
    val stats = RunLength.runStats(t).collect().head
    assert(stats.getAs[Long]("n_runs") == 3)
    assert(stats.getAs[Long]("run_len_max") == 2)
  }

  test("window fanout: reference arithmetic hop = ws - overlap, n = (N - overlap)/hop") {
    // N=10, ws=8, overlap=2 → hop=6, n_windows=(10-2)/6=1 → only window 0 covering 0..7
    val t = (0 until 10).map(i => ("a", i)).toDF("conv_id", "turn_idx")
    val w = WindowFanout.byTurnIdx(t, 8, 2)
    val byWin = w.groupBy("window_id").count().as[(Int, Long)].collect().toMap
    assert(byWin == Map(0 -> 8L))
    // N=14 → n_windows=(14-2)/6=2: win0=0..7, win1=6..13; rows 6,7 in both
    val t2 = (0 until 14).map(i => ("a", i)).toDF("conv_id", "turn_idx")
    val w2 = WindowFanout.byTurnIdx(t2, 8, 2)
    val byWin2 = w2.groupBy("window_id").count().as[(Int, Long)].collect().toMap
    assert(byWin2 == Map(0 -> 8L, 1 -> 8L))
    val both = w2.filter(col("turn_idx").isin(6, 7)).groupBy("turn_idx").count()
      .as[(Int, Long)].collect().toMap
    assert(both == Map(6 -> 2L, 7 -> 2L))
  }

  test("clusteredPartitions takes its width from the session's shuffle partitions") {
    val df = (1 to 50).map(i => (i % 7, i)).toDF("k", "v")
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "5")
      assert(Ordered.clusteredPartitions(df, "k").rdd.getNumPartitions == 5)
    } finally spark.conf.set(key, before)
  }

  test("lag features: first row has null prev, exact micro deltas") {
    val t = Seq(
      ("a", 0, "user", "hi", ts("2024-01-01 00:00:00.000001")),
      ("a", 1, "assistant", "hello!", ts("2024-01-01 00:00:01.500001"))
    ).toDF("conv_id", "turn_idx", "role", "text", "ts")
    val rows = TurnScan.lag(t).orderBy("turn_idx").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("prev_role")))
    assert(rows(1).getAs[String]("prev_role") == "user")
    assert(rows(1).getAs[Long]("delta_ts_us") == 1500000L)
    assert(rows(1).getAs[Int]("prev_text_len") == 2)
  }

  implicit class Map2[A, B, C](xs: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = xs.map(x => (x._1, x._2) -> x._3).toMap
  }
}
