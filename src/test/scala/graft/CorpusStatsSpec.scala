package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Properties of the corpus-statistics operators the DuckDB oracle cannot
  * express: content-defined chunking reconstruction + edit-locality, and
  * determinism of the mixture-budget selection.
  */
class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic pseudo-random token stream (seeded LCG, no RNG calls). */
  private def synthTokens(n: Int, seed: Long): Seq[String] = {
    var x = seed
    (0 until n).map { _ =>
      x = (x * 6364136223846793005L + 1442695040888963407L)
      s"w${java.lang.Long.remainderUnsigned(x >>> 16, 97)}"
    }
  }

  private def chunksOf(texts: Seq[String]): Map[String, Seq[String]] =
    texts.toDF("text")
      .withColumn("a", split(col("text"), " "))
      .withColumn("h", TextFns.cdcHashes(col("a")))
      .withColumn("cuts", TextFns.cdcCuts(col("a"), col("h")))
      .select(col("text"), TextFns.cdcChunks(col("a"), col("cuts")).as("chunks"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
      .toMap

  test("cdc chunks reconstruct the text exactly, at every length") {
    val texts = Seq(1, 2, 4, 5, 16, 40, 200).map(n => synthTokens(n, seed = n).mkString(" "))
    val got = chunksOf(texts)
    texts.foreach { t =>
      assert(got(t).mkString(" ") == t, s"reconstruction failed for len ${t.length}")
      assert(got(t).forall(_.nonEmpty))
    }
  }

  test("cdc boundaries are edit-local: a prepend preserves the suffix chunks") {
    val base = synthTokens(300, seed = 7)
    val orig = base.mkString(" ")
    val edited = (Seq("zz1", "zz2", "zz3") ++ base).mkString(" ")
    val got = chunksOf(Seq(orig, edited))
    val (a, b) = (got(orig), got(edited))
    assert(a.size >= 8, s"fixture too short to be meaningful: ${a.size} chunks")
    // boundaries depend only on a 4-token window, so cut positions in the
    // untouched region shift by exactly 3: every original chunk except the
    // first (whose leading window overlaps the edit) must survive verbatim
    assert(a.tail.toSet.subsetOf(b.toSet),
      s"lost ${(a.tail.toSet -- b.toSet).size} suffix chunks to a 3-token prepend")
  }

  test("curation funnel stages are monotone and budget-bounded per source") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_curate")(spark, dir)
      .select("source", "n_raw", "n_dedup", "n_quality", "n_selected", "toks_selected")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (raw, dd, q, sel) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(raw >= dd && dd >= q && q >= sel,
        s"funnel not monotone for ${r.getString(0)}: $raw/$dd/$q/$sel")
      assert(sel > 0 || q == 0, s"selection emptied a non-empty pool for ${r.getString(0)}")
    }
    // at least one stage must actually filter somewhere, or the fixture is vacuous
    assert(rows.exists(r => r.getLong(3) < r.getLong(2)), "quality gate filtered nothing")
    assert(rows.exists(r => r.getLong(4) < r.getLong(3)), "budget selection kept everything")
  }

  test("redaction counts match the fingerprint change exactly") {
    val dir = "/root/testdata/sf0.001"
    import graft.functions.TextFns.md5Long
    val joined = SparkEntry.queries("q_redact_terms")(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), md5Long(col("text")).as("orig_fp")), Seq("doc_id"))
    // a doc's fingerprint changes iff something was redacted in it
    val bad = joined.filter(
      (col("n_terms") + col("n_pii") > 0) === (col("red_fp") === col("orig_fp")))
    assert(bad.count() == 0, "redaction count and fingerprint change disagree")
    val hit = joined.filter(col("n_terms") > 0).count()
    assert(hit > 0, "term dictionary never fired — vacuous fixture")
  }

  test("dup-span merge: overlap fuses, adjacency fuses, gaps split, short docs pass through") {
    // hand-built corpus pinning the island semantics the oracle shares:
    // S (7 tokens) is shared by A/B/C/D/E, T (5 tokens) by D/F; filler
    // tokens are globally unique so no accidental 5-gram repeats.
    val S = (1 to 7).map(i => s"s$i")
    val T = (1 to 5).map(i => s"t$i")
    def u(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val docs = Seq(
      1L -> (u("ua", 5) ++ S ++ u("va", 5)),        // one 3-shingle overlap run → 1 span of 7
      2L -> (u("wb", 5) ++ S ++ u("zb", 5)),
      3L -> (S ++ u("gc", 6) ++ S),                 // gap 13 > K → 2 spans of 7
      4L -> (S.take(5) ++ T),                       // S-span touches T-span → fused, frac 1.0
      5L -> (S.take(5) ++ u("ee", 5)),              // sharer of S's 5-prefix
      6L -> (u("ff", 5) ++ T),                      // sharer of T
      7L -> Seq("a", "b", "c"),                     // shorter than K: zero spans, not dropped
      // WITHIN-doc-only repeat: R appears twice in doc 8 and nowhere else —
      // min(doc)=max(doc), so the cross-document rule must yield ZERO spans
      // (pins the rule against an occurrence-count>1 rewrite)
      8L -> ((1 to 5).map(i => s"r$i") ++ u("hh", 6) ++ (1 to 5).map(i => s"r$i"))
    )
    val dir = java.nio.file.Files.createTempDirectory("dupspans").toString
    docs.map { case (id, ts) => (id, ts.mkString(" "), "en", "src", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_dup_spans")(spark, dir)
      .select("doc_id", "tok_cnt", "n_spans", "dup_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got == Seq(
      (1L, 17L, 1L, 7L), (2L, 17L, 1L, 7L), (3L, 20L, 2L, 14L),
      (4L, 10L, 1L, 10L), (5L, 10L, 1L, 5L), (6L, 10L, 1L, 5L),
      (7L, 3L, 0L, 0L), (8L, 16L, 0L, 0L)))
    // the cut pass drops exactly the spans: doc 4 is fully covered (empty
    // survivor), doc 7 survives verbatim, doc 1 keeps its 10 filler tokens
    import graft.functions.TextFns.md5Long
    val cutDf = SparkEntry.queries("q_dup_spans_cut")(spark, dir)
      .select("doc_id", "kept_tokens", "kept_fp")
      .as[(Long, Long, Long)].collect()
    val cut = cutDf.map(r => r._1 -> r._3).toMap
    val cutRows = cutDf.map(r => r._1 -> r._2).toMap
    assert(cutRows == Map(1L -> 10L, 2L -> 10L, 3L -> 6L, 4L -> 0L,
      5L -> 5L, 6L -> 5L, 7L -> 3L, 8L -> 16L))
    val fps = Seq(
      "" -> 4L,                                          // fully cut
      (u("ua", 5) ++ u("va", 5)).mkString(" ") -> 1L,    // span excised cleanly
      "a b c" -> 7L)                                     // untouched short doc
      .map { case (txt, id) => id ->
        Seq(txt).toDF("t").select(md5Long(col("t"))).as[Long].head() }
    fps.foreach { case (id, fp) =>
      assert(cut(id) == fp, s"kept_fp mismatch for doc $id") }
  }

  test("skew-safe dup-span marking ≡ window marking, incl. a hot shingle") {
    import graft.ops.DupSpans
    def run(docs: org.apache.spark.sql.DataFrame, skewSafe: Boolean) =
      DupSpans.spans(docs, k = 5, skewSafe = skewSafe)
        .as[(Long, Long, Long)].collect().toSeq.sorted
    // fixture corpus: the two physical forms must agree row-for-row
    val fixture = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), split(col("text"), " ").as("a"))
    val base = run(fixture, skewSafe = false)
    assert(base.nonEmpty)
    assert(run(fixture, skewSafe = true) == base)
    // hot-shingle corpus (the regime the skew path exists for): 300 docs
    // share one 9-token boilerplate block → its 5 interior shingles carry
    // 300 occurrences each, dwarfing every other sig
    val boiler = (1 to 9).map(i => s"B$i")
    val hot = (0L until 300L).map { id =>
      (id, (boiler ++ synthTokens(8, seed = id + 1000).map(t => s"u${id}_$t"))
        .mkString(" "))
    }.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("a"))
    val hotWin = run(hot, skewSafe = false)
    assert(hotWin.size == 300 && hotWin.forall { case (_, s, e) => s == 0L && e == 8L })
    assert(run(hot, skewSafe = true) == hotWin)
    // and the chunk-dedup physical twin agrees with its window form
    val dir = "/root/testdata/sf0.001"
    val plain = SparkEntry.queries("q_chunk_dedup")(spark, dir)
      .collect().map(_.toString).toSeq
    val skew = SparkEntry.queries("q_chunk_dedup_skew")(spark, dir)
      .collect().map(_.toString).toSeq
    assert(plain == skew)
  }

  test("dup spans are invariant under input repartitioning") {
    // the dup rule and island merge ride window functions — their own
    // exchanges must make the result independent of the incoming layout
    val dir = "/root/testdata/sf0.001"
    import graft.ops.DupSpans
    def run(docs: org.apache.spark.sql.DataFrame) =
      DupSpans.spans(docs, k = 5).as[(Long, Long, Long)].collect().toSeq.sorted
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("a"))
    val base = run(docs)
    assert(base.nonEmpty)
    assert(run(docs.repartition(7)) == base)
    assert(run(docs.repartition(1)) == base)
  }

  test("mixture-budget selection is deterministic and a subset per source") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q_mix_budget")
    val r1 = q(spark, dir).collect().map(_.toString).toSeq
    val r2 = q(spark, dir).collect().map(_.toString).toSeq
    assert(r1 == r2, "hash-mod selection must be bit-stable across runs")
    assert(r1.nonEmpty && r1.size < 500, s"expected a strict subset, got ${r1.size}")
    // the selected token total must be near the 40% budget: the hash-mod is
    // uniform, so allow a wide-but-bounding band around the target
    val toks = q(spark, dir).agg(sum("tok_cnt")).as[Long].head()
    val total = Tables.documents(spark, dir)
      .agg(sum(size(split(col("text"), " ")).cast("long"))).as[Long].head()
    val frac = toks.toDouble / total
    assert(frac > 0.25 && frac < 0.55, s"selected fraction $frac far from the 0.4 budget")
  }

  test("ngram novelty: hand-computed fixture — first doc 1, dup 0, overlap fractional") {
    // the fixture SFs carry no exact dups, so pin the semantics on a
    // crafted corpus written in the documents schema and fed to the SAME
    // registry query (Tables.documents reads dir/documents.parquet)
    val dir = java.nio.file.Files.createTempDirectory("novelty").toString
    Seq(
      (0L, "a b c d", "en", "s0"),             // grams: abc bcd → both novel
      (1L, "a b c d", "en", "s0"),             // exact dup → 0 novel
      (2L, "c d e f", "en", "s0"),             // cde def novel; (no shared gram)
      (3L, "a b c x y z", "en", "s0"),         // abc seen; bcx cxy xyz novel
      (4L, "t u", "en", "s0"),                 // < 3 tokens → no grams
      (5L, null.asInstanceOf[String], "en", "s0"), // null text → no grams
      (6L, "a b c d e f", "en", "s0")          // abc bcd cde def all seen → 0
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_ngram_novelty")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_ => r.getDouble(3))))
      .toMap
    assert(got(0L) == ((2L, 2L, Some(1.0))), s"first doc all-novel: ${got(0L)}")
    assert(got(1L) == ((2L, 0L, Some(0.0))), s"exact dup zero-novelty: ${got(1L)}")
    assert(got(2L) == ((2L, 2L, Some(1.0))))
    assert(got(3L) == ((4L, 3L, Some(0.75))), s"partial overlap: ${got(3L)}")
    assert(got(4L) == ((0L, 0L, None)), "short doc: no grams, null novelty")
    assert(got(5L) == ((0L, 0L, None)), "null text: no grams, null novelty")
    assert(got(6L) == ((4L, 0L, Some(0.0))), "all grams seen earlier")
    // every gram is novel in exactly one doc: Σ n_novel = |distinct grams|
    assert(got.values.map(_._2).sum == 7L)
  }

  test("vocab growth: deciles partition the gram vocabulary, cumulative is exact") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_vocab_growth")(spark, dir)
      .select("decile", "n_new_grams", "vocab_cum").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall(t => t._1 >= 0 && t._1 <= 9))
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.length >= 5,
      s"trigram vocabulary must keep growing past half the corpus (got ${rows.length} deciles)")
    // running sum is internally consistent and ends at the full vocabulary
    val cum = rows.sortBy(_._1).scanLeft(0L)(_ + _._2).tail
    assert(rows.sortBy(_._1).map(_._3).toSeq == cum.toSeq)
    // totals must agree with the per-doc novelty view of the same corpus:
    // every gram is novel in exactly one doc, hence one decile
    val novelTotal = SparkEntry.queries("q_ngram_novelty")(spark, dir)
      .agg(sum("n_novel")).collect().head.getLong(0)
    assert(rows.map(_._2).sum == novelTotal,
      "growth curve and per-doc novelty must partition the same vocabulary")
  }

  test("quality calibration: per-source [0,1] span, monotone in q, equal slices") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_quality_calibrate")(spark, dir)
      .select("source", "q", "q_pct").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val bySrc = rows.groupBy(_._1)
    bySrc.foreach { case (src, rs) =>
      assert(rs.map(_._3).min == 0.0 && rs.map(_._3).max == 1.0,
        s"$src: percent-rank must span [0,1] exactly")
      // monotone: ranked by (q, within-source order), q_pct never decreases
      val sorted = rs.sortBy(t => (t._2, t._3))
      assert(sorted.map(_._3).sliding(2).forall(p => p.head <= p.last),
        s"$src: q_pct must be monotone in q")
    }
    // the calibration contract: a threshold selects the SAME share of
    // every equal-sized source (that is what raw q cannot do)
    val picked = bySrc.map { case (_, rs) => rs.count(_._3 >= 0.8) }
    assert(picked.toSet.size == 1,
      s"equal-sized sources must select equal counts at a q_pct threshold: $picked")
  }

  test("minhash error: same candidates as the production pipeline, exact arithmetic") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q_minhash_error")(spark, dir)
      .select("da", "db", "est_jaccard", "jaccard", "abs_err").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got.nonEmpty)
    // est is a k/8 lattice value; abs_err recomputes from the row itself
    got.foreach { case (da, db, est, j, err) =>
      assert(da < db)
      assert((est * 8).round / 8.0 == est && est >= 0.0 && est <= 1.0,
        s"est must be a multiple of 1/8: $est")
      assert(math.abs(err - math.abs(est - j)) < 1e-9,
        s"abs_err must be |est - jaccard| for ($da,$db)")
    }
    // the calibration must measure the LIVE candidate set: identical pairs
    // to the bucket-grouped lshBandSigs candidates the dedup pipeline uses
    val docs = Tables.documents(spark, dir)
    val prodCand = SparkEntry.lshBandSigs(docs)
      .groupBy("source", "band", "bkey")
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(col("ds")).as("da"), col("ds"))
      .select(col("da"), explode(filter(col("ds"), d => d > col("da"))).as("db"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(t => (t._1, t._2)).toSet == prodCand,
      "calibration pairs must equal the production candidate set")
  }

  test("knn recall: per-query bounds, full truth panel, brute self-recall is 1") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_knn_recall")(spark, dir)
      .select("qid", "n_true", "hits", "recall").collect()
    assert(rows.length == 5, "one row per query-panel member")
    rows.foreach { r =>
      assert(r.getLong(1) == 3L, "brute truth is top-3 per query")
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 3L)
      val rec = r.getDouble(3)
      assert(rec >= 0.0 && rec <= 1.0, s"recall out of bounds: $rec")
    }
    // sanity of the measurement itself: truth evaluated against truth is 1
    val truth = SparkEntry.queries("q_knn_brute")(spark, dir)
      .select("qid", "nbr")
    val self = truth.join(truth.withColumnRenamed("nbr", "nbr2"),
        Seq("qid")).filter(col("nbr") === col("nbr2")).count()
    assert(self == 15L, "self-intersection of a 5x3 truth set must be 15")
  }

  test("length buckets: partition the corpus, ladder-exact assignment, waste bounded") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_length_buckets")(spark, dir)
      .select("bucket", "n_docs", "sum_tokens", "padded_tokens", "waste")
      .collect()
    val ladder = Set(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)
    assert(rows.forall(r => ladder.contains(r.getLong(0))))
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.map(_.getLong(1)).sum == nDocs, "buckets must partition the corpus")
    rows.foreach { r =>
      val (b, n, s, p, w) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))
      assert(p == b * n)
      assert(s <= p, "real tokens cannot exceed the padded capacity")
      // boundary correctness read off the data: every doc in a bucket above
      // the floor rung must NOT have fit the next rung down
      if (b > 16L) assert(s > (b / 2) * n,
        s"bucket $b holds a doc that belongs in ${b / 2}")
      assert(w >= 0.0 && w < 1.0)
    }
  }

  test("containment: hand fixture — inner found at 1.0, asymmetric, sub-threshold dropped") {
    val a = (1 to 30).map(i => s"a$i")
    val docs = Seq(
      1L -> a.mkString(" "),                               // outer
      2L -> a.slice(9, 21).mkString(" "),                  // 12-token slice of 1
      3L -> ((1 to 5).map(i => s"a$i") ++ (1 to 5).map(i => s"b$i")).mkString(" "),
      4L -> (1 to 10).map(i => s"c$i").mkString(" "),      // exact dup pair
      5L -> (1 to 10).map(i => s"c$i").mkString(" ")
    ).toDF("doc_id", "text")
    val got = SparkEntry.containmentPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // doc 2's 10 trigrams all live in doc 1 → (2,1,1.0); doc 1 is NOT
    // contained in doc 2 (10/28) — asymmetry; doc 3 shares only 3 of its
    // 8 trigrams with doc 1 (0.375 < 0.9) — candidate generated (df=2,
    // rare) but threshold drops it; exact dups 4/5 emit both directions
    assert(got == Set((2L, 1L, 1.0), (4L, 5L, 1.0), (5L, 4L, 1.0)), s"got $got")
    // prune acts on the detection: strictly contained 2 removed in favor
    // of 1, mutual pair {4,5} keeps the min id, untouched 3 survives
    val kept = SparkEntry.containPrune(docs).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L), s"kept $kept")
  }

  test("containment ↔ dup spans hand-off: an all-hot-shingle doc is dup spans' job") {
    // boilerplate block B sits in 12 docs, so each of its trigrams has
    // df = 13 > 10 (hot); doc 100 is B alone — wholly contained in every
    // carrier, yet without one rare shingle the blocking cannot pair it.
    // Docs 200/201 are the control: a 10-token run R shared by two docs
    // only (rare), found at containment 1.0.
    val B = (1 to 12).map(i => s"B$i")
    val R = (1 to 10).map(i => s"R$i")
    def u(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val docs = ((100L -> B) +: (1L to 12L).map(id => id -> (B ++ u(s"f${id}_", 6))) :+
        (200L -> R) :+ (201L -> (u("g", 4) ++ R ++ u("h", 4))))
      .map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text")
    val pairs = SparkEntry.containmentPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs == Set((200L, 201L, 1.0)), s"got $pairs")
    // dup spans take the hand-off: the whole of doc 100 is one span
    import graft.ops.DupSpans
    val spans = DupSpans.spans(docs.select(col("doc_id"), split(col("text"), " ").as("a")), k = 5)
      .as[(Long, Long, Long)].collect().filter(_._1 == 100L).toSeq
    assert(spans == Seq((100L, 0L, B.size - 1L)), s"doc 100 spans: $spans")
  }

  test("corpus card: volumes partition the corpus, dup rate fires, shares bounded") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val rows = SparkEntry.queries("q_corpus_card")(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum == docs.count(),
      "per-source n_docs must partition the corpus")
    assert(rows.map(_.getLong(5)).sum ==
      docs.selectExpr("source", "text").distinct().count(),
      "distinct fingerprints must match distinct (source, text)")
    rows.foreach { r =>
      val (nDocs, fp) = (r.getLong(1), r.getLong(5))
      assert(fp <= nDocs)
      Seq(4, 6, 8).foreach { i =>
        val v = r.getDouble(i)
        assert(v >= 0.0 && v <= 1.0, s"share col $i out of range: $v")
      }
      assert(r.getDouble(3) > 0.0, "mean_tokens positive")
    }
    // the fixture's duplicates are NEAR-dups (token edits), never exact
    // text copies — the card must report that truthfully as rate 0
    assert(rows.forall(_.getDouble(6) == 0.0),
      "fixture has no exact text dups, rate must be exactly 0")
    // and the rate + majority-lang rules fire on a crafted frame: 2 exact
    // copies among 3 docs, langs 2:1 with a count tie broken by lang
    val crafted = Seq(
      ("x y", "en", "s"), ("x y", "de", "s"), ("p q", "de", "s"),
      (("a " * 60).trim, "en", "t"), ("b", "en", "t")
    ).toDF("text", "lang", "source")
    val card = SparkEntry.corpusCard(crafted)
      .collect().map(r => r.getString(0) -> r).toMap
    val sRow = card("s")
    assert(sRow.getLong(5) == 2 && math.abs(sRow.getDouble(6) - 0.333333) < 1e-9,
      s"dup rate: $sRow")
    assert(sRow.getString(7) == "de" && math.abs(sRow.getDouble(8) - 0.666667) < 1e-9,
      "majority lang with exact share")
    val tRow = card("t")
    assert(math.abs(tRow.getDouble(4) - 0.5) < 1e-9, "one of two t-docs is short")
    assert(tRow.getDouble(6) == 0.0 && tRow.getString(7) == "en")
  }

  test("quality sweep: monotone retention curve, exact top/bottom anchors") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_quality_sweep")(spark, dir).collect()
      .groupBy(_.getString(0))
    val nDocs = Tables.documents(spark, dir)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == nDocs.keySet)
    rows.foreach { case (src, rs) =>
      val byThr = rs.sortBy(_.getLong(1))
      // threshold 0 keeps everything — docs AND the full token mass
      assert(byThr.head.getLong(1) == 0L && byThr.head.getLong(2) == nDocs(src))
      assert(math.abs(byThr.head.getDouble(4) - 1.0) < 1e-9)
      // retention is monotone non-increasing in the threshold
      byThr.sliding(2).foreach { case Array(a, b) =>
        assert(a.getLong(2) >= b.getLong(2) && a.getLong(3) >= b.getLong(3),
          s"$src: retention must fall as the bar rises")
        case _ =>
      }
      // the top decile keeps ~10% of docs (integer-bucket exact: the
      // count of ranks with (10(rk-1)) div (n-1) >= 9, always >= 1).
      // The anchors assume ≥ 5 docs per source — smaller sources emit
      // fewer threshold rows by contract; make that precondition loud
      // instead of letting a regenerated tiny-source fixture produce a
      // misleading anchor failure.
      assert(nDocs(src) >= 5,
        s"fixture precondition: source $src has only ${nDocs(src)} docs")
      val top = byThr.last
      assert(top.getLong(1) == 9L && top.getLong(2) >= 1L &&
        top.getLong(2) <= nDocs(src) / 5,
        s"$src top decile ${top.getLong(2)} of ${nDocs(src)}")
    }
  }

  test("gopher filters: every rule boundary exact — inclusive edges hold") {
    def mk(toks: Seq[String]) = toks.mkString(" ")
    val w48 = Seq.fill(48)("word"); val w43 = Seq.fill(43)("word")
    val docs = Seq(
      // 50 toks, mean len 3.92, 0 sym, all alpha, 2 stopwords → passes
      1L -> mk(Seq("the", "a") ++ w48),
      // 49 toks → f_len fails alone
      2L -> mk(Seq("the", "a") ++ w48.drop(1)),
      // exactly 10% symbol tokens (5 of 50) → f_symbol HOLDS (inclusive)
      3L -> mk(Seq("the", "a") ++ w43 ++ Seq.fill(5)("#tag")),
      // 6 of 50 symbol tokens → f_symbol fails; alpha 44/50 still ≥ 0.8
      4L -> mk(Seq("the", "a") ++ w43.drop(1) ++ Seq.fill(6)("#tag")),
      // mean word length 2 < 3 → f_word_len fails; no stopwords either
      5L -> mk(Seq.fill(50)("ab"))
    ).toDF("doc_id", "text")
    val got = SparkEntry.gopherFilters(docs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))
      .toMap
    assert(got(1L) == ((true, true, true, true, true, true)))
    assert(got(2L) == ((false, true, true, true, true, false)))
    assert(got(3L) == ((true, true, true, true, true, true)),
      s"10% symbols must pass inclusively: ${got(3L)}")
    assert(got(4L) == ((true, true, false, true, true, false)))
    assert(got(5L) == ((true, false, true, true, false, false)))
  }

  test("bigram LM: hand fixture hits all three backoff arms") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      1L -> "a b a b",   // train
      2L -> "a c",       // train
      3L -> "a b z",     // held out: seen bigram + OOV floor
      4L -> "c a",       // held out: unseen bigram, seen unigram backoff
      5L -> "x"          // 1 token -> no bigrams -> dropped
    ).toDF("doc_id", "text")
    val got = SparkEntry.bigramNll(docs, col("doc_id") <= 2L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // model (train docs 1,2): c1 = a:3 b:2 c:1, total 6;
    // c2 = (a,b):2 (b,a):1 (a,c):1
    def nll(lps: Double*): Double = -(lps.sum / lps.size)
    val exp = Map(
      1L -> (3L, nll(math.log(2.0 / 3), math.log(1.0 / 2), math.log(2.0 / 3))),
      2L -> (1L, nll(math.log(1.0 / 3))),
      3L -> (2L, nll(math.log(2.0 / 3), math.log(0.4 / 6))),
      4L -> (1L, nll(math.log(0.4 * 3 / 6))))
    assert(got.keySet == exp.keySet, s"got ${got.keySet}")
    exp.foreach { case (id, (n, v)) =>
      assert(got(id)._1 == n, s"doc $id n_bigrams ${got(id)._1} != $n")
      assert(math.abs(got(id)._2 - v) < 5e-7, s"doc $id nll2 ${got(id)._2} != $v")
    }
  }

  test("soft dedup: weights partition each cluster's unit mass, singletons keep 1") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_soft_dedup")(spark, dir)
      .select("doc_id", "cluster", "cluster_size", "weight").collect()
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.length == nDocs, "soft dedup keeps every document")
    rows.foreach { r =>
      val (cs, w) = (r.getLong(2), r.getDouble(3))
      assert(w > 0.0 && w <= 1.0)
      if (cs == 1L) assert(w == 1.0, "a singleton must keep full weight")
      assert(math.abs(w - 1.0 / cs) <= 5e-7, s"weight $w for size $cs")
    }
    // every cluster contributes exactly one document's worth of mass
    rows.groupBy(_.getLong(1)).foreach { case (c, rs) =>
      val tot = rs.map(_.getDouble(3)).sum
      assert(math.abs(tot - 1.0) <= rs.length * 5e-7,
        s"cluster $c mass $tot over ${rs.length} members")
      assert(rs.map(_.getLong(2)).toSet == Set(rs.length.toLong),
        s"cluster_size disagrees with the actual member count for $c")
    }
    // multiplicity actually occurs in the fixture, so the rule fires
    assert(rows.exists(_.getLong(2) > 1L), "fixture has no dup cluster")
  }
}
