package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.features.Incremental

/** Incremental feature maintenance: slicing the corpus in time, merging
  * per-conversation partials, and finalizing must equal the single-pass
  * aggregate — at any split point, any association order. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  // 3 convs: a 7-turn with one >24h session break, a 2-turn short one
  // (vanishes from late slices), and one with a null text (null power-sum
  // path). ts gaps in hours except the 30h break in conv a.
  private def fixture: DataFrame = {
    val rows = Seq(
      ("a", 0, "system", "sys", None: Option[String], 0L),
      ("a", 1, "user", "hello there", None, 1L),
      ("a", 2, "assistant", "hi", Some("tool_1"), 2L),
      ("a", 3, "user", "question about things", None, 3L),
      ("a", 4, "assistant", "answer", None, 33L), // 30h gap -> new session
      ("a", 5, "user", "more", None, 34L),
      ("a", 6, "assistant", "done and dusted", Some("tool_2"), 35L),
      ("b", 0, "system", "s", None, 0L),
      ("b", 1, "user", "short conv", None, 1L),
      ("c", 0, "system", null, None, 0L),
      ("c", 1, "user", "only non-null text", None, 50L)) // 50h -> break
    rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "h")
      .withColumn("ts", timestamp_micros(col("h") * 3600L * 1000000L))
      .drop("h")
  }

  private def collectSorted(df: DataFrame): Seq[String] =
    df.orderBy("conv_id").collect().map(_.toString).toSeq

  test("split-merge-finalize equals single-pass at every split point") {
    val t = fixture
    val direct = collectSorted(Incremental.finalize(Incremental.partials(t)))
    for (k <- 1 to 6) {
      val got = collectSorted(Incremental.finalize(Incremental.merge(
        Incremental.partials(t.filter(col("turn_idx") < k)),
        Incremental.partials(t.filter(col("turn_idx") >= k)))))
      assert(got == direct, s"split at turn_idx=$k diverged")
    }
  }

  test("family subsets: moments-only partials merge identically and skip sketch columns") {
    val t = fixture
    val none = Set.empty[String]
    val direct = collectSorted(Incremental.finalize(Incremental.partials(t, families = none)))
    val full = collectSorted(Incremental.finalize(Incremental.partials(t)))
    assert(direct == full, "finalize must not depend on the sketch families")
    val p = Incremental.partials(t, families = none)
    assert(!p.columns.contains("tool_hist") && !p.columns.contains("tok_kmv") &&
      !p.columns.contains("gap_hist"))
    val merged = Incremental.merge(
      Incremental.partials(t.filter(col("turn_idx") < 3), families = none),
      Incremental.partials(t.filter(col("turn_idx") >= 3), families = none))
    assert(collectSorted(Incremental.finalize(merged)) == direct)
    // mismatched family sets must fail loudly, not silently drop a summary
    val e = intercept[IllegalArgumentException] {
      Incremental.merge(
        Incremental.partials(t, families = none),
        Incremental.partials(t))
    }
    assert(e.getMessage.contains("family mismatch"))
    // unknown family names are rejected up front
    intercept[IllegalArgumentException] {
      Incremental.partials(t, families = Set("nope"))
    }
  }

  test("histogram partials merge to the direct single-pass histogram at every split") {
    val t = fixture
    def histPairs(p: DataFrame): Seq[(String, String, Long)] =
      p.select(col("conv_id"), explode(col("tool_hist")).as(Seq("tool", "n")))
        .orderBy("conv_id", "tool")
        .as[(String, String, Long)].collect().toSeq
    val direct = histPairs(Incremental.partials(t))
    assert(direct.nonEmpty)
    for (k <- 1 to 6) {
      val got = histPairs(Incremental.merge(
        Incremental.partials(t.filter(col("turn_idx") < k)),
        Incremental.partials(t.filter(col("turn_idx") >= k))))
      assert(got == direct, s"split at turn_idx=$k diverged")
    }
    // a conv with no tool calls carries a null map through the merge
    val noTools = Incremental.merge(
        Incremental.partials(t.filter(col("turn_idx") < 2)),
        Incremental.partials(t.filter(col("turn_idx") >= 2)))
      .filter(col("conv_id") === "b").select("tool_hist").collect().head
    assert(noTools.isNullAt(0))
  }

  test("KMV sketch: slice merges equal the direct sketch exactly, both branches live") {
    // conv "big": ~90 distinct tokens across 6 turns (estimator branch,
    // size == k); conv "small": 5 distinct tokens (exact branch). Token
    // sets overlap across slices so the distinct-union property is real.
    val rows =
      (0 until 6).map { i =>
        val words = (0 until 20).map(j => s"w${(i * 17 + j) % 90}").mkString(" ")
        ("big", i, "user", words, None: Option[String], i.toLong)
      } ++ Seq(
        ("small", 0, "user", "a b c", None: Option[String], 0L),
        ("small", 1, "user", "b c d e", None, 1L))
    val t = rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "h")
      .withColumn("ts", timestamp_micros(col("h") * 3600L * 1000000L))
      .drop("h")
    def sketches(p: DataFrame): Map[String, Seq[Long]] =
      p.select(col("conv_id"), col("tok_kmv")).as[(String, Seq[Long])]
        .collect().toMap
    val direct = sketches(Incremental.partials(t))
    assert(direct("big").size == Incremental.KmvK, "estimator branch not live")
    assert(direct("small").size == 5, "exact branch not live")
    for (k <- 1 to 5) {
      val got = sketches(Incremental.merge(
        Incremental.partials(t.filter(col("turn_idx") < k)),
        Incremental.partials(t.filter(col("turn_idx") >= k))))
      assert(got == direct, s"split at turn_idx=$k: merged sketch != direct")
    }
    // the estimator lands within the ~1/sqrt(k-2) KMV error band of truth
    val est = Incremental.partials(t)
      .select(col("conv_id"),
        graft.functions.Kmv.estimate(col("tok_kmv"), Incremental.KmvK))
      .as[(String, Double)].collect().toMap
    assert(est("small") == 5.0)
    assert(math.abs(est("big") - 90.0) / 90.0 < 0.4,
      s"estimate ${est("big")} too far from 90")
  }

  test("gap histogram: boundary-stitched merges equal the direct histogram at every split") {
    val t = fixture
    def gapPairs(p: DataFrame): Seq[(String, Int, Long)] =
      p.select(col("conv_id"), explode(col("gap_hist")).as(Seq("bin", "cnt")))
        .orderBy("conv_id", "bin")
        .as[(String, Int, Long)].collect().toSeq
    // fixture gaps in hours: a → 1,1,1,30,1,1; b → 1; c → 50
    val direct = gapPairs(Incremental.partials(t))
    assert(direct == Seq(("a", 1, 5L), ("a", 30, 1L), ("b", 1, 1L), ("c", 50, 1L)))
    for (k <- 1 to 6) {
      val got = gapPairs(Incremental.merge(
        Incremental.partials(t.filter(col("turn_idx") < k)),
        Incremental.partials(t.filter(col("turn_idx") >= k))))
      assert(got == direct, s"split at turn_idx=$k diverged: $got")
    }
    // Σcounts = n-1 per conversation survives any merge (boundary stitch
    // adds exactly the one gap neither slice saw)
    val merged = Incremental.merge(
      Incremental.partials(t.filter(col("turn_idx") < 4)),
      Incremental.partials(t.filter(col("turn_idx") >= 4)))
    merged.select(col("conv_id"), col("n"),
        aggregate(map_values(col("gap_hist")), lit(0L), _ + _).as("gsum"))
      .as[(String, Long, Long)].collect().foreach {
        case (cid, n, gsum) => assert(gsum == n - 1, s"$cid: gsum=$gsum n=$n")
      }
  }

  test("three-way merge associates") {
    val t = fixture
    val Seq(p1, p2, p3) = Seq(
      t.filter(col("turn_idx") < 2),
      t.filter(col("turn_idx") >= 2 && col("turn_idx") < 5),
      t.filter(col("turn_idx") >= 5)).map(Incremental.partials(_))
    val leftAssoc = collectSorted(Incremental.finalize(
      Incremental.merge(Incremental.merge(p1, p2), p3)))
    val rightAssoc = collectSorted(Incremental.finalize(
      Incremental.merge(p1, Incremental.merge(p2, p3))))
    val direct = collectSorted(Incremental.finalize(Incremental.partials(t)))
    assert(leftAssoc == direct)
    assert(rightAssoc == direct)
  }

  test("session stitch: boundary gap splits or joins sessions correctly") {
    val t = fixture
    // split exactly at conv a's 30h break (turn 4): slice sessions must
    // stitch to 2, not 1 (gap breaks) — and at turn 3 (1h boundary gap)
    // the slices' sessions must fuse back to 2 total, not 3
    for (k <- Seq(3, 4)) {
      val merged = Incremental.merge(
        Incremental.partials(t.filter(col("turn_idx") < k)),
        Incremental.partials(t.filter(col("turn_idx") >= k)))
      val sess = merged.filter(col("conv_id") === "a")
        .select("sessions").as[Long].head()
      assert(sess == 2L, s"split at $k: sessions=$sess")
    }
  }

  test("store: three upsert cycles equal the direct pass; old gens expire") {
    val t = fixture
    val dir = Files.createTempDirectory("inc_store").toString
    graft.features.IncrementalStore.upsert(spark, dir, t.filter(col("turn_idx") < 2))
    graft.features.IncrementalStore.upsert(spark, dir,
      t.filter(col("turn_idx") >= 2 && col("turn_idx") < 5))
    graft.features.IncrementalStore.upsert(spark, dir, t.filter(col("turn_idx") >= 5))
    val got = collectSorted(graft.features.IncrementalStore.features(spark, dir))
    val direct = collectSorted(Incremental.finalize(Incremental.partials(t)))
    assert(got == direct)
    // retention: only gen-1 and gen-2 remain after the third cycle
    val gens = new java.io.File(dir).list().filter(_.startsWith("gen-")).sorted.toSeq
    assert(gens == Seq("gen-1", "gen-2"), s"gens=$gens")
    // re-running the LAST cycle (post-flip crash recovery) must be a
    // no-op: the slice fingerprint recorded in _CURRENT matches, so the
    // store neither double-merges nor advances a generation
    graft.features.IncrementalStore.upsert(spark, dir, t.filter(col("turn_idx") >= 5))
    val gens2 = new java.io.File(dir).list().filter(_.startsWith("gen-")).sorted.toSeq
    assert(gens2 == Seq("gen-1", "gen-2"), s"re-run advanced the store: $gens2")
    val again = collectSorted(graft.features.IncrementalStore.features(spark, dir))
    assert(again == direct, "no-op re-run changed the features")
  }

  test("all-null-text slice keeps null power sums until a real value merges in") {
    val t = fixture
    // conv c turn 0 has null text: a slice holding only that turn has
    // null s1..s4; merging the non-null slice must produce the same
    // moments as the direct pass (sum-ignores-nulls semantics)
    val merged = Incremental.finalize(Incremental.merge(
      Incremental.partials(t.filter(col("turn_idx") < 1)),
      Incremental.partials(t.filter(col("turn_idx") >= 1))))
    val direct = Incremental.finalize(Incremental.partials(t))
    assert(collectSorted(merged) == collectSorted(direct))
    // and a conv whose every text is null stays null end-to-end
    val allNull = Seq(("z", 0, "user", null: String, None: Option[String]))
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
      .withColumn("ts", timestamp_micros(lit(0L)))
    val z = Incremental.finalize(Incremental.merge(
      Incremental.partials(allNull), Incremental.partials(allNull.limit(0))))
    assert(z.select("len_mean").as[Option[Double]].head().isEmpty)
  }

  test("generationDrift: PSI off the histogram family matches a hand-computed value") {
    // two "generations" with known corpus-level gap histograms:
    // prev: bin0=3, bin1=1   cur: bin0=3+1=4, bin1=1+2=3, bin2=1
    val prev = Seq(
      ("a", Map(0 -> 3L, 1 -> 1L))).toDF("conv_id", "gap_hist")
    val cur = Seq(
      ("a", Map(0 -> 3L, 1 -> 2L)),
      ("b", Map(0 -> 1L, 1 -> 1L, 2 -> 1L))).toDF("conv_id", "gap_hist")
    val got = Incremental.generationDrift(prev, cur)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).head
    // independent reimplementation: union support {0,1,2}, Laplace +1,
    // denominators tot+3
    val (ca, cb) = (Map(0 -> 3L, 1 -> 1L, 2 -> 0L), Map(0 -> 4L, 1 -> 3L, 2 -> 1L))
    val (ta, tb) = (ca.values.sum + 3.0, cb.values.sum + 3.0)
    val psi = (0 to 2).map { k =>
      val pa = (ca(k) + 1) / ta; val pb = (cb(k) + 1) / tb
      (pa - pb) * math.log(pa / pb)
    }.sum
    assert(got._1 == "gap_hist" && got._2 == 3L)
    assert(math.abs(got._3 - math.round(psi * 1e6) / 1e6) < 1e-9,
      s"psi ${got._3} != expected $psi")
  }

  test("IncrementalStore.drift: previous-vs-current generation PSI, no corpus rescan") {
    val t = fixture
    val store = Files.createTempDirectory("drift_store").toString
    val s1 = t.filter(col("turn_idx") < 3)
    val s2 = t.filter(col("turn_idx") >= 3)
    graft.features.IncrementalStore.upsert(spark, store, s1, epochId = Some(1L))
    graft.features.IncrementalStore.upsert(spark, store, s2, epochId = Some(2L))
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq
    // gen-0 = partials(slice1), gen-1 = merged ≡ partials(all) (pinned
    // above), so the store drift must equal the direct computation
    val direct = Incremental.generationDrift(
      Incremental.partials(s1), Incremental.partials(t))
    assert(rows(graft.features.IncrementalStore.drift(spark, store)) == rows(direct))
    // the tool_hist family rides the same machinery
    val dt = graft.features.IncrementalStore.drift(spark, store, "tool_hist").collect().head
    assert(dt.getString(0) == "tool_hist" && dt.getLong(1) >= 1L)
  }

  test("store: a replayed epoch is a no-op, identical content under a new epoch merges") {
    val t = fixture
    val dir = Files.createTempDirectory("epoch_store").toString
    val s1 = t.filter(col("turn_idx") < 3)
    val s2 = t.filter(col("turn_idx") >= 3)
    def gens = new java.io.File(dir).list().filter(_.startsWith("gen-")).sorted.toSeq
    graft.features.IncrementalStore.upsert(spark, dir, s1, epochId = Some(0L))
    graft.features.IncrementalStore.upsert(spark, dir, s2, epochId = Some(1L))
    val before = gens
    // at-least-once redelivery of the last cycle carries the SAME epoch:
    // the epoch-mixed slice fingerprint makes it a detected no-op
    graft.features.IncrementalStore.upsert(spark, dir, s2, epochId = Some(1L))
    assert(gens == before, s"replayed epoch advanced the store: $before -> $gens")
    // the SAME content under a NEW epoch is a genuinely new cycle: it is
    // merged, not dropped as a replay, so the store advances a generation
    graft.features.IncrementalStore.upsert(spark, dir, s2, epochId = Some(2L))
    assert(gens != before, "identical-content new epoch was dropped as a replay")
    // previous-vs-current PSI reads off the two retained generations
    val dr = graft.features.IncrementalStore.drift(spark, dir).collect().head
    assert(dr.getString(0) == "gap_hist" && !dr.isNullAt(2),
      s"store drift must produce a concrete PSI row, got $dr")
  }
}
