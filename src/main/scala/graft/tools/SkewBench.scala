package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.BlockedScan
import graft.plans.TurnScan

/** Skew-crossover experiment (r3 VERDICT #6): demonstrate that the
  * boundary-carry blocked scan WINS where it exists to win — a corpus whose
  * tail conversation is far larger than what one task should sort.
  *
  * `q_sessionize_blocked` proves row-identity at fixture scale with a demo
  * `blockRows=16`, where the carry machinery costs ~3× the plain window
  * (documented in TurnOps). The failure mode it guards against only appears
  * when ONE conversation's rows dominate a whole task: the plain form, the
  * turn scan's `session_id` ([[graft.plans.TurnScan.sessions]]),
  * serializes that key's sort + scan on one core while every other core
  * idles. Here the generator's skew tail is cranked so the
  * biggest conversation is ~`giantTurns` rows (vs a ~160-turn median), and
  * both forms sessionize the SAME materialized parquet at local[32] with
  * `blockRows = 100000` — the realistic setting: a block sorts in-memory in
  * one task, and a 10⁷-row conversation gets ~100-way parallelism.
  *
  * Usage: runMain graft.tools.SkewBench [giantTurns] [nConvs] [reps]
  * Prints one JSON line: plain/blocked medians, speedup, and the
  * row-identity check on the full result (count + per-conv session sums).
  */
object SkewBench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val giantTurns = args.lift(0).map(_.toInt).getOrElse(2000000)
    val nConvs = args.lift(1).map(_.toLong).getOrElse(20000L)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-skew-bench")
      .config("spark.sql.shuffle.partitions", "192")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // corpus: normal tail ~40-turn mean, ONE giant conversation of
    // ~giantTurns rows (skewEvery = nConvs → exactly conv 0 is giant; with
    // the default seed conv 0's pre-skew turn count is 4, so the factor is
    // giantTurns/4 — the realized size is measured and printed regardless)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", "/tmp/graft_skew_corpus")
    // prune to the sessionizer's working set before materializing: the
    // engine's own pipelines project text away before any heavy sort
    // (Tables.turns / featureMatrix project text→text_len up front), so
    // carrying ~200B of text through every window shuffle here would
    // measure disk bandwidth, not the skew behavior under test
    graft.datagen.TranscriptGen.turns(spark, nConvs,
        meanTurns = 40, skewEvery = nConvs, skewFactor = giantTurns / 4)
      .select("conv_id", "turn_idx", "ts")
      .repartition(64)
      .write.mode("overwrite").parquet(dir)
    val turns = spark.read.parquet(dir)
    val nTurns = turns.count()
    val giant = turns.groupBy("conv_id").count().agg(max("count")).head.getLong(0)

    def timeNoop(df: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    val plainF = () => TurnScan.sessions(turns, 3600)
    val blockedF = () => BlockedScan.sessionizeByGap(turns, 3600, blockRows = 100000)

    // row-identity on THIS corpus before timing anything (the property
    // spec covers 3 block sizes at small scale; this pins the giant-key
    // case): same row count and identical per-conversation session sums
    val dig = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("conv_id")
        .agg(count(lit(1)).as("n"), sum("session_id").as("s"), max("session_id").as("m"))
        .agg(count(lit(1)), sum("n"), sum("s"), sum("m")).head.toSeq
    val (dPlain, dBlocked) = (dig(plainF()), dig(blockedF()))
    require(dPlain == dBlocked, s"blocked != plain: $dPlain vs $dBlocked")

    // warm both paths once, then interleave timed reps
    timeNoop(plainF()); timeNoop(blockedF())
    val (tP, tB) = (Seq.newBuilder[Double], Seq.newBuilder[Double])
    (1 to reps).foreach { r =>
      val p = timeNoop(plainF()); val b = timeNoop(blockedF())
      tP += p; tB += b
      System.err.println(f"[skew] rep $r: plain=$p%.1fs blocked=$b%.1fs")
    }
    val (mP, mB) = (median(tP.result()), median(tB.result()))
    println(f"""{"metric":"skew_sessionize","turns":$nTurns,"giant_conv_turns":$giant,"block_rows":100000,"plain_sec":$mP%.2f,"blocked_sec":$mB%.2f,"speedup":${mP / mB}%.2f,"reps":$reps,"identical":true}""")
    spark.stop()
  }
}
