package graft

import graft.ops._
import org.apache.spark.sql.functions._

class OpsVariantsSpec extends SparkSpec {
  import spark.implicits._

  test("as-of join with tolerance: stale state yields null") {
    val turns = Seq(
      ("a", 0, ts("2024-01-01 00:00:10")),
      ("a", 1, ts("2024-01-01 02:00:00"))  // state 2h old > 1h tolerance
    ).toDF("conv_id", "turn_idx", "ts")
    val state = Seq(("a", ts("2024-01-01 00:00:00"), "s0")).toDF("conv_id", "ts", "state_val")
    val m = AsOf.join(turns, state, "conv_id", "ts", Seq("state_val"),
        AsOf.AtOrBefore, toleranceUs = Some(3600L * 1000000))
      .collect().map(r => r.getInt(1) -> Option(r.getAs[String]("state_val"))).toMap
    assert(m(0).contains("s0"))
    assert(m(1).isEmpty)
  }

  test("bfill picks first non-null at-or-after") {
    val t = Seq(("a", 0, null.asInstanceOf[String]), ("a", 1, "x"),
      ("a", 2, null.asInstanceOf[String]))
      .toDF("conv_id", "turn_idx", "tool")
    val got = Backfill.bfill(t, "tool", "bf").select("turn_idx", "bf")
      .as[(Int, Option[String])].collect().toMap
    assert(got(0).contains("x"))
    assert(got(1).contains("x"))
    assert(got(2).isEmpty)
  }

  test("as-of: latest state row wins even when its value is NULL") {
    // Regression (ADVICE r1): per-column last(ignoreNulls) let an OLDER
    // non-null value leak through the latest state's explicit NULL. The
    // struct-tracked form must return the latest row's NULL.
    val turns = Seq(("a", 0, ts("2024-01-01 00:00:30"))).toDF("conv_id", "turn_idx", "ts")
    val state = Seq(
      ("a", ts("2024-01-01 00:00:00"), Some("s0")),
      ("a", ts("2024-01-01 00:00:20"), None: Option[String])
    ).toDF("conv_id", "ts", "state_val")
    val got = AsOf.join(turns, state, "conv_id", "ts", Seq("state_val"))
      .select("state_val").as[Option[String]].head()
    assert(got.isEmpty, "latest state's NULL must not be bypassed")
  }

  test("as-of tolerance: staleness measured from the MATCHED row, value and ts from the same row") {
    // Latest state has NULL value; an older row has a value. The match is
    // the latest row, so (a) value is NULL, and (b) even within tolerance
    // of the older row, nothing from it may leak.
    val turns = Seq(
      ("a", 0, ts("2024-01-01 00:30:00")),
      ("a", 1, ts("2024-01-01 03:00:00"))).toDF("conv_id", "turn_idx", "ts")
    val state = Seq(
      ("a", ts("2024-01-01 00:00:00"), Some("s0")),
      ("a", ts("2024-01-01 00:20:00"), None: Option[String])
    ).toDF("conv_id", "ts", "state_val")
    val m = AsOf.join(turns, state, "conv_id", "ts", Seq("state_val"),
        AsOf.AtOrBefore, toleranceUs = Some(3600L * 1000000))
      .collect().map(r => r.getInt(1) -> Option(r.getAs[String]("state_val"))).toMap
    assert(m(0).isEmpty) // matched row (00:20, NULL) is fresh but valueless
    assert(m(1).isEmpty) // matched row stale anyway
  }

  test("as-of multi-column values all come from one state row") {
    val turns = Seq(("a", 0, ts("2024-01-01 00:00:30"))).toDF("conv_id", "turn_idx", "ts")
    val state = Seq(
      ("a", ts("2024-01-01 00:00:00"), Some("x0"), Some("y0")),
      ("a", ts("2024-01-01 00:00:20"), Some("x1"), None: Option[String])
    ).toDF("conv_id", "ts", "xv", "yv")
    val r = AsOf.join(turns, state, "conv_id", "ts", Seq("xv", "yv")).head()
    assert(Option(r.getAs[String]("xv")).contains("x1"))
    assert(Option(r.getAs[String]("yv")).isEmpty) // NOT y0 — same-row rule
  }

  test("TrimmedMeanAgg: 200k-value group in sane time, exact vs window-rank form") {
    // O(n) amortized buffering: the old `buf :+ v` form was O(n²) — ~2·10¹⁰
    // element copies for this group; it would not finish inside the bound.
    val n = 200000
    val df = spark.range(n)
      .select(lit("big").as("conv_id"),
        // deterministic pseudo-random values with heavy tails
        (pmod(xxhash64(col("id")), lit(10007)).cast("double")).as("v"))
    val t0 = System.nanoTime()
    val agg = df.groupBy("conv_id")
      .agg(graft.functions.TrimmedMeanAgg(0.1)(col("v")).as("tm"))
      .as[(String, Double)].head()._2
    val secs = (System.nanoTime() - t0) / 1e9
    val oracle = graft.functions.Stats.trimmedMean(df, "v", 0.1, "tm", "conv_id")
      .as[(String, Double)].head()._2
    assert(math.abs(agg - oracle) < 1e-6, s"agg=$agg oracle=$oracle")
    assert(secs < 60, s"took ${secs}s — buffering regressed to quadratic?")
  }

  test("TrimmedMeanAgg ranks NULLs like the window-rank form: first, counted in n") {
    // k = ⌊0.1·n⌋ with n counting NULLs: NULLs trimmed, NULLs kept, all NULL
    val v = Seq[(String, Option[Double])](
      ("a", None), ("a", None), ("a", Some(4)), ("a", Some(1)), ("a", Some(6)),
      ("a", Some(8)), ("a", Some(2)), ("a", Some(7)), ("a", Some(5)), ("a", Some(3)),
      ("b", Some(9)), ("b", None), ("c", None)) ++
      (1 to 12).map(i => ("d", if (i % 4 == 0) None else Some(i.toDouble)))
    val df = v.toDF("conv_id", "v")
    val agg = df.groupBy("conv_id")
      .agg(round(graft.functions.TrimmedMeanAgg(0.1)(col("v")), 6).as("tm"))
    val oracle = graft.functions.Stats.trimmedMean(df, "v", 0.1, "tm", "conv_id")
    assert(agg.exceptAll(oracle).isEmpty && oracle.exceptAll(agg).isEmpty,
      s"${agg.collect().toSeq} vs ${oracle.collect().toSeq}")
    assert(agg.filter(col("conv_id") === "a").head().getDouble(1) == 4.0)
  }

  test("banded simhash near-dup equals all-pairs form (pigeonhole completeness)") {
    import graft.functions.TextFns._
    // random-ish 60-bit hashes plus planted near-dups at hamming 1..6
    val base = spark.range(60)
      .select(col("id").as("doc_id"), pmod(xxhash64(col("id")), shiftleft(lit(1L), 60)).as("h"),
        lit("s").as("source"))
    val planted = base.filter(col("doc_id") < 6)
      .select((col("doc_id") + 1000).as("doc_id"),
        // flip doc_id+1 low bits => hamming = doc_id+1
        col("h").bitwiseXOR(shiftleft(lit(1L), 0) +
          when(col("doc_id") >= 1, shiftleft(lit(1L), 13)).otherwise(0) +
          when(col("doc_id") >= 2, shiftleft(lit(1L), 27)).otherwise(0) +
          when(col("doc_id") >= 3, shiftleft(lit(1L), 41)).otherwise(0) +
          when(col("doc_id") >= 4, shiftleft(lit(1L), 55)).otherwise(0) +
          when(col("doc_id") >= 5, shiftleft(lit(1L), 59)).otherwise(0)).as("h"),
        col("source"))
    val all = base.unionByName(planted)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] = df
      .select("da", "db", "hamming").as[(Long, Long, Long)].collect().toSet
    val brute = pairs(all.as("a").join(all.as("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 6))
    val banded0 = hashBands(all, "h", 60, 7)
    val banded = pairs(banded0.as("a").join(banded0.as("b"),
        col("a.source") === col("b.source") && col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("a.h").as("ha"),
        col("b.doc_id").as("db"), col("b.h").as("hb")).distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= 6))
    assert(banded == brute)
    assert(brute.size >= 6, s"planted pairs missing: ${brute.size}")
  }

  test("tie-merge fuses each role run by run_id: first value, summed duration") {
    val t = Seq(
      ("a", 0, "user", 10L), ("a", 1, "user", 5L), // fuse
      ("a", 2, "assistant", 7L),
      ("a", 3, "user", 2L), ("a", 4, "user", 1L), ("a", 5, "user", 4L) // fuse x3
    ).toDF("conv_id", "turn_idx", "role", "dur")
    val got = graft.plans.TurnScan.runs(t.repartition(3))
      .groupBy(col("conv_id"), col("run_id"))
      .agg(min_by(col("role"), col("turn_idx")).as("role"), sum(col("dur")).as("dur"),
        count(lit(1)).as("n_fused"))
      .orderBy("run_id")
      .select("run_id", "role", "dur", "n_fused")
      .as[(Int, String, Long, Long)].collect().toSeq
    assert(got == Seq((0, "user", 15L, 2L), (1, "assistant", 7L, 1L), (2, "user", 7L, 3L)))
    // the run ids are the Window reference's, row for row
    val ids = graft.plans.TurnScan.runs(t).select("turn_idx", "run_id")
    assert(ids.exceptAll(ReferenceModules.runIds(t).select("turn_idx", "run_id")).isEmpty)
  }

  test("stateful scan (tool episodes): silence reset + order invariance under repartitioning") {
    def mkTs(min: Int) = ts(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val t = Seq(
      ("a", 0, Some("t1"), mkTs(0)),
      ("a", 1, None, mkTs(5)),          // non-call: no state
      ("a", 2, Some("t2"), mkTs(10)),   // 10min since last call → same episode
      ("a", 3, Some("t3"), mkTs(200)),  // >2h silence → new episode
      ("b", 0, Some("t9"), mkTs(0))
    ).toDF("conv_id", "turn_idx", "tool", "ts")
    val expect = Set(
      ("a", 0, "t1+t2", 2L, 0, 2),
      ("a", 1, "t3", 1L, 3, 3),
      ("b", 0, "t9", 1L, 0, 0))
    Seq(t.repartition(1), t.repartition(7, col("turn_idx"))).foreach { in =>
      val got = StatefulScan.toolEpisodes(in, resetSeconds = 7200)
        .collect().map(e => (e.conv_id, e.episode_id, e.name, e.n_calls, e.start_idx, e.end_idx))
        .toSet
      assert(got == expect)
    }
  }

  test("blocked boundary-carry sessionize equals the turn-scan form on skewed data") {
    val turns = graft.datagen.TranscriptGen.turns(spark, 30, skewEvery = 29)
    val direct = graft.plans.TurnScan.sessions(turns, 3600)
      .select("conv_id", "turn_idx", "session_id")
      .orderBy("conv_id", "turn_idx").collect().toSeq
    Seq(7, 64, 100000).foreach { blockRows =>
      val blocked = BlockedScan.sessionizeByGap(turns, 3600, blockRows)
        .select("conv_id", "turn_idx", "session_id")
        .orderBy("conv_id", "turn_idx").collect().toSeq
      assert(blocked == direct, s"blockRows=$blockRows diverged")
    }
  }

  test("native codegen dot product == HOF reference form (values + null semantics)") {
    import graft.functions.VectorFns._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val both = e.select(
        dot(col("embedding"), col("embedding")).as("native"),
        dotHof(col("embedding"), col("embedding")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // bit-identical
    // null semantics: length mismatch -> null; null element -> null
    val edge = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f))
    ).toDF("a", "b")
    val got = edge.select(dot(col("a"), col("b"))).as[Option[Double]].collect().toSeq
    assert(got == Seq(None, Some(11.0)))
    val withNullElem = spark.sql(
      "SELECT cast(array(1.0, NULL) AS array<float>) a, cast(array(2.0, 3.0) AS array<float>) b")
    assert(withNullElem.select(dot(col("a"), col("b"))).as[Option[Double]].head().isEmpty)
  }

  test("dot product accepts float/double mixes (trained-codebook + plane-literal paths)") {
    import graft.functions.VectorFns._
    val mixed = spark.sql(
      """SELECT cast(array(1.5, -2.0) AS array<float>) f,
        |       cast(array(0.25, 4.0) AS array<double>) d""".stripMargin)
    val got = mixed.select(
      dot(col("f"), col("d")).as("fd"),
      dot(col("d"), col("d")).as("dd")).head()
    assert(got.getDouble(0) == 1.5 * 0.25 + -2.0 * 4.0)
    assert(got.getDouble(1) == 0.25 * 0.25 + 4.0 * 4.0)
    // deterministic plane weights are engine-portable md5-derived integers
    assert(planeWeight(0, 1) == planeWeight(0, 1))
    assert(planeWeight(0, 1) >= -1000 && planeWeight(0, 1) <= 1000)
    assert((0 until 16).flatMap(p => (1 to 64).map(d => planeWeight(p, d))).distinct.size > 50)
  }

  test("salted aggregation equals direct groupBy on skewed data") {
    val turns = graft.datagen.TranscriptGen.turns(spark, 30, skewEvery = 29)
      .withColumn("text_len", length(col("text")).cast("long"))
    val salted = Salted.countsAndSums(turns, "conv_id", "turn_idx", 16,
      "n_turns", Map("sum_text_len" -> "text_len"))
      .orderBy("conv_id").collect().toSeq
    val direct = turns.groupBy("conv_id").agg(
      count(lit(1)).as("n_turns"), sum(col("text_len")).as("sum_text_len"))
      .orderBy("conv_id").collect().toSeq
    assert(salted == direct)
  }

  test("approx quantiles hold the rank-bracket guarantee of the exact form (scale twin)") {
    // q_gap_quantiles_approx has no SQL oracle (sketch internals don't
    // hash-match across engines) — this is its correctness pin, stated as
    // the guarantee the sketch actually makes: approx_percentile returns
    // an OBSERVED value whose rank is within ε·n of the target, so it
    // must lie between the exact interpolated quantiles at q∓0.01 (a
    // bracket wide enough to absorb interpolation-vs-element differences
    // on sf0.001's small per-role groups, and far tighter than any
    // wrong-column/wrong-group regression). n_gaps must be exact.
    val dir = "/root/testdata/sf0.001"
    def byRole(name: String) =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => r.getAs[String]("role") ->
          (r.getAs[Long]("n_gaps"),
            Seq(r.getAs[Double]("p50"), r.getAs[Double]("p90"), r.getAs[Double]("p99")))).toMap
    val approx = byRole("q_gap_quantiles_approx")
    val exact = byRole("q_gap_quantiles")
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    // exact interpolated quantiles at the bracket edges, same derivation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val brackets = Tables.turns(spark, dir)
      .withColumn("gap_s", (LagLead.micros(col("ts")) -
        LagLead.micros(lag(col("ts"), 1).over(w))).cast("double") / 1e6)
      .filter(col("gap_s").isNotNull)
      .groupBy("role")
      .agg(expr("percentile(gap_s, array(0.49D, 0.51D, 0.89D, 0.91D, 0.98D, 1.0D))").as("b"))
      .collect().map(r => r.getAs[String]("role") ->
        r.getSeq[Double](1)).toMap
    for (role <- approx.keySet) {
      assert(approx(role)._1 == exact(role)._1, s"$role: n_gaps must be exact")
      val b = brackets(role)
      val lohi = Seq((b(0), b(1)), (b(2), b(3)), (b(4), b(5)))
      approx(role)._2.zip(lohi).zip(Seq("p50", "p90", "p99")).foreach {
        case ((a, (lo, hi)), q) =>
          assert(a >= lo - 1e-6 && a <= hi + 1e-6,
            s"$role $q: approx=$a outside exact bracket [$lo, $hi]")
      }
    }
  }
}
