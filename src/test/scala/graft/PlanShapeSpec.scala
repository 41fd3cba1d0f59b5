package graft

/** Physical-plan shape guards: the perf work of rounds 1-3 is encoded in
  * the PLANS (fused single aggregation, bucket-grouped candidates instead
  * of self-joins, broadcast joins, banded LSH instead of all-pairs), so a
  * regression that silently reintroduces a cartesian product, an extra
  * shuffle, or a second aggregation pass should fail a test, not wait for
  * a benchmark to drift. Counts are taken on the pre-execution plan
  * (deterministic at fixture size) and pinned as upper bounds.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString

  private def count(p: String, pat: String): Int = pat.r.findAllIn(p).size
  private def exchanges(p: String): Int = count(p, "Exchange (hash|range|Single)")
  private def aggs(p: String): Int =
    count(p, "HashAggregate|SortAggregate|ObjectHashAggregate")
  /** Plan nodes named `op` (tree prefix stripped, first word compared). */
  private def nodes(p: String, op: String): Int =
    p.linesIterator.count(_.replaceFirst("^[\\s:|+-]*", "").takeWhile(_ != ' ') == op)

  test("no query plans a cartesian product or an unexpected sort-merge join") {
    // every join in the library is either broadcastable by construction
    // (dims, codebooks, candidate lists, query sets) or key-bucketed;
    // q_knn_ivf's 16-centroid crossJoin is an explicit broadcast NLJ and
    // is exempted from the SMJ check only
    for (n <- Seq("q_feature_matrix", "q_feature_matrix_windowed_full",
        "q_neardup_lsh", "q_simhash_neardup", "q_neardup_cosine",
        "q_knn_lsh", "q_knn_brute", "q_asof_exec", "q_merge_precedent",
        "q_dup_spans_cut", "q_dup_matrix", "q_incremental_neardup",
        "q_postprocess", "q_containment")) {
      val p = plan(n)
      assert(count(p, "CartesianProduct") == 0, s"$n plans a cartesian product")
      if (n != "q_merge_precedent") // full-outer variant merge IS a legitimate SMJ
        assert(count(p, "SortMergeJoin") == 0, s"$n plans a sort-merge join")
    }
  }

  test("flagship: native as-of, ONE fused aggregation, bounded exchanges") {
    val p = plan("q_feature_matrix")
    assert(p.contains("AsOfMerge"), "flagship must run the native as-of exec (r3 VERDICT #2)")
    assert(aggs(p) == 2, s"flagship must stay a single fused aggregate pair, got ${aggs(p)}")
    // r4: turn-numbering exchange (hash conv_id, reused by as-of + windows
    // + aggregate) + small state exchange + final ORDER BY — the as-of
    // left side must NOT re-shuffle (hash-clustered layout contract)
    assert(exchanges(p) <= 3, s"flagship exchange count regressed: ${exchanges(p)}")
    // the module stack: ONE sort by (conv_id, turn_idx) and ONE native
    // turn scan (lag, session and run columns) between the as-of merge and
    // the aggregate, no Window; the totals add the turn-numbering window,
    // its sort, the state sort and the ORDER BY
    val ls = p.linesIterator.toSeq
    val stack = ls.slice(ls.indexWhere(_.contains("ObjectHashAggregate")),
      ls.indexWhere(_.contains("AsOfMerge"))).mkString("\n")
    assert(nodes(stack, "Window") == 0 && nodes(stack, "Sort") == 1 &&
      nodes(stack, "TurnScan") == 1, s"flagship module stack regrew:\n$p")
    assert(nodes(p, "Window") == 1 && nodes(p, "Sort") == 4, s"flagship plan:\n$p")
    val w = plan("q_feature_matrix_windowed_full")
    assert(w.contains("AsOfMerge"), "windowed-full must run the native as-of exec")
    assert(aggs(w) == 2, s"windowed-full must stay a single fused aggregate pair, got ${aggs(w)}")
    assert(exchanges(w) <= 4, s"windowed-full exchange count regressed: ${exchanges(w)}")
    // the flagship's nodes plus the fan-out's window_id window
    assert(nodes(w, "Window") == 2 && nodes(w, "Sort") == 4 && nodes(w, "TurnScan") == 1,
      s"windowed-full plan:\n$w")
  }

  test("dup-spans: one corpus tokenize pass, no self-join, bounded exchanges") {
    val p = plan("q_dup_spans")
    // shingles are built row-locally and marked via two window aggs over
    // ONE sig exchange; the span merge + both aggregates share the doc_id
    // exchange; tok_cnt joins back broadcast-or-bucketed, never cartesian
    assert(count(p, "CartesianProduct") == 0)
    assert(count(p, "Generate explode") == 1, s"corpus must be shingled exactly once:\n$p")
    assert(exchanges(p) <= 5, s"dup-spans exchange count regressed: ${exchanges(p)}")
  }

  test("skew-path twins: no sig window, partial-aggregated marking, no cartesian") {
    // the whole point of the skew variants is that NO window partitions on
    // the shingle/chunk sig — marking must ride a partial-aggregating
    // groupBy plus an AQE-plannable join (the only Window left in
    // q_dup_spans_skew is the per-doc island merge)
    val p = plan("q_dup_spans_skew")
    assert(count(p, "CartesianProduct") == 0)
    // the island merge is 2 Window nodes (lag and running-sum frames);
    // the plain form adds the sig-marking window on top — the skew form
    // must carry ONLY the island pair
    assert(count(p, "Window") == 2,
      s"skew dup-spans must keep only the island-merge windows:\n$p")
    assert(count(plan("q_dup_spans"), "Window") == 3)
    val c = plan("q_chunk_dedup_skew")
    assert(count(c, "CartesianProduct") == 0)
    assert(count(c, "Window") == 0,
      s"skew chunk-dedup must not window at all:\n$c")
    val probe = plan("q_knn_ivf_probe2")
    assert(count(probe, "SortMergeJoin") == 0,
      "probe join must stay broadcast (query set is bounded)")
  }

  test("token count and feature drift stay single-scan partial-aggregating plans") {
    val t = plan("q_token_count")
    assert(aggs(t) == 2, s"token count must be ONE partial+final aggregate pair, got ${aggs(t)}")
    assert(exchanges(t) <= 2, s"token count exchange count regressed: ${exchanges(t)}")
    val d = plan("q_feature_drift")
    assert(count(d, "CartesianProduct") == 0)
    assert(exchanges(d) <= 4, s"feature drift exchange count regressed: ${exchanges(d)}")
  }

  test("centroid similarity: ONE pooling pass, pairs via pack + double-explode") {
    val p = plan("q_centroid_sim")
    assert(count(p, "CartesianProduct") == 0)
    assert(count(p, "SortMergeJoin") == 0 && count(p, "BroadcastHashJoin") == 0,
      "pairs must come from the packed frame, not a derived-frame self-join")
    // (label,dim) pooling exchange + label re-assembly exchange + single-
    // partition pack + final sort — the pooling pipeline runs exactly once
    assert(exchanges(p) <= 4, s"centroid-sim exchange count regressed: ${exchanges(p)}")
  }

  test("turn packing: no aggregation, bounded exchanges") {
    val p = plan("q_pack_turns")
    assert(aggs(p) == 0, s"greedy packing must not aggregate, got ${aggs(p)}")
    // turns-derivation window exchange + groupByKey's lambda-keyed
    // exchange (opaque to column-level reuse) + the final ORDER BY
    assert(exchanges(p) <= 3, s"pack-turns exchange count regressed: ${exchanges(p)}")
  }

  test("ordered scans aggregate nothing and shuffle once (plus the final sort)") {
    val p = plan("q_sessionize")
    assert(aggs(p) == 0)
    assert(exchanges(p) <= 3)
    // every per-conversation lag, session and run key walks its turns once,
    // in the native scan: exactly 1 TurnScan, and no Window beyond the one
    // `Tables.turns` uses to number the turns
    for (k <- Seq("q_lag_features", "q_sessionize", "q_session_stats", "q_runlength_roles",
        "q_tie_merge", "q_gap_quantiles", "q_gap_quantiles_approx", "q_mean_nonzero",
        "q_bucket_battery")) {
      val q = plan(k)
      assert(nodes(q, "TurnScan") == 1 && nodes(q, "Window") == 1, s"$k:\n$q")
    }
  }

  test("native as-of exec: present in plan, no aggregation, bounded exchanges") {
    val p = plan("q_asof_exec")
    assert(p.contains("AsOfMerge"))
    assert(aggs(p) == 0)
    assert(exchanges(p) <= 4)
  }

  test("range layout (orderedPartitions): window scans reuse the exchange AND the sort") {
    // the documented single-input ordered-scan contract: one explicit range
    // exchange + in-partition sort up front, then a (key) ORDER BY (ord)
    // window adds NO further exchange and NO further sort. Input must be
    // exchange-free itself (TranscriptGen's cumulative-ts window is not),
    // so build a plain arithmetic frame.
    import org.apache.spark.sql.functions.{col, concat, lit, timestamp_micros}
    val t = spark.range(2000).select(
      concat(lit("c"), (col("id") / 100).cast("long").cast("string")).as("conv_id"),
      (col("id") % 100).cast("int").as("turn_idx"),
      lit("user").as("role"),
      lit("xxxx").as("text"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ts"))
    val laid = graft.ops.Ordered.orderedPartitions(t, "conv_id", "turn_idx")
    val p = graft.plans.TurnScan.lag(laid)
      .queryExecution.executedPlan.toString
    assert(count(p, "Exchange rangepartitioning") == 1, s"range layout missing in:\n$p")
    assert(count(p, "Exchange hashpartitioning") == 0, s"window re-shuffled the laid frame:\n$p")
    assert(count(p, "\\+- Sort") == 1, s"window re-sorted the laid frame:\n$p")
  }

  test("multi-table as-of: two chained native execs, fact side laid out once") {
    val p = plan("q_asof_multi")
    assert(count(p, "AsOfMerge") == 2, s"expected 2 chained execs in:\n$p")
    // turns derivation exchange + one small exchange per state table +
    // the final ORDER BY — the fact side must NOT re-shuffle between execs
    assert(exchanges(p) <= 4, s"fact side re-shuffled between as-of stages: ${exchanges(p)}")
    assert(aggs(p) == 0)
  }

  test("LSH paths: banded equi-joins, bounded exchanges") {
    assert(exchanges(plan("q_knn_lsh")) <= 3)
    assert(exchanges(plan("q_neardup_cosine")) <= 6)
    assert(exchanges(plan("q_neardup_lsh")) <= 8)
    assert(exchanges(plan("q_simhash_neardup")) <= 4)
  }

  test("MinHash signatures are row-local: no aggregate, no hash exchange") {
    // the kernel signs each document where the spread lands it: no token
    // explode, no groupBy(doc) exchange collecting the minima. The only
    // exchanges left are the spread's round-robin and q_minhash's
    // ORDER BY range exchange.
    val band = SparkEntry.lshBandSigs(Tables.documents(spark, "/root/testdata/sf0.001"))
      .queryExecution.executedPlan.toString
    val mh = plan("q_minhash")
    def kinds(p: String) = "Exchange (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    for ((n, p) <- Seq("lshBandSigs" -> band, "q_minhash" -> mh)) {
      assert(aggs(p) == 0, s"$n aggregates:\n$p")
      assert(count(p, "Exchange hashpartitioning") == 0, s"$n hash-exchanges:\n$p")
      assert(count(p, "Generate explode") == 0, s"$n explodes tokens:\n$p")
    }
    assert(kinds(band).forall(_ == "RoundRobinPartitioning"), band)
    assert(kinds(mh).filterNot(_ == "RoundRobinPartitioning") == Seq("rangepartitioning"), mh)
  }

  test("decontamination: eval vocabulary broadcasts, corpus side never shuffles for the join") {
    val p = plan("q_decontaminate")
    assert(count(p, "BroadcastHashJoin") == 1,
      s"eval n-gram set must broadcast (fixed-size suite vs unbounded corpus):\n$p")
    assert(count(p, "SortMergeJoin|CartesianProduct") == 0)
  }

  test("greedy packing: one hash exchange on the shard key, no aggregation") {
    val p = plan("q_pack_greedy")
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"packing must shuffle exactly once (the shard-stream exchange):\n$p")
    assert(aggs(p) == 0, "packing is a scan, not an aggregation")
  }

  test("exact-k prefilter sample: both branches planned, no cartesian, broadcast thresholds") {
    val p = plan("q_sample_topk_prefilter")
    assert(count(p, "Window \\[row_number") == 2,
      s"fast (survivor-sorted) and fallback (full-sort) branches must both be planned:\n$p")
    // Spark pushes the rank filter into WindowGroupLimit (partial+final per
    // branch) — the top-k never sorts more than k rows per task
    assert(count(p, "WindowGroupLimit") == 4,
      s"rank<=k must plan as WindowGroupLimit top-k pushdown:\n$p")
    assert(count(p, "CartesianProduct|SortMergeJoin") == 0,
      "stratum thresholds and status are sources-sized — they must broadcast")
  }

  test("quality-ranked budget selection: broadcast budgets, checkpointed input") {
    val p = plan("q_mix_select")
    assert(count(p, "SortMergeJoin|CartesianProduct") == 0)
    assert(count(p, "BroadcastHashJoin") == 1,
      s"sources-sized budget frame must broadcast:\n$p")
    assert(count(p, "Scan parquet") == 0,
      s"budgets and ranking share the one materialized frame:\n$p")
    // scale-path pin (composite-key running-sum window) lives in RankedSpec
  }

  test("ngram novelty: join-not-window, row-local gram dedup, no cartesian") {
    val p = plan("q_ngram_novelty")
    // first-occurrence via groupBy(min) + equi-join, NOT a min-over-window
    // on the gram hash: windows give hot boilerplate grams no map-side
    // combine and no AQE skew split (the DupSpans lesson)
    assert(count(p, "Window") == 0, s"novelty must not plan a window:\n$p")
    assert(count(p, "CartesianProduct") == 0)
    // gram distinct-ing is array_distinct before the explode — a corpus-
    // wide Distinct/Deduplicate pass on (doc, gram) must not appear
    assert(!p.contains("Deduplicate"), "gram dedup must stay row-local")
  }

  test("containment: rare-bucket candidates, array verify, no window, no cartesian") {
    val p = plan("q_containment")
    assert(count(p, "CartesianProduct") == 0)
    // the df gate is a map-side-combinable aggregate, never a window (a
    // hot boilerplate shingle must partially aggregate, not pile onto
    // one window task)
    assert(count(p, "Window") == 0, s"containment must not plan a window:\n$p")
    // postings explode twice (df count + rare bucket join side), the
    // bucket pair fan-out twice (da, db), pair-side + direction fan-outs
    // once each as EXPLODES — self-unions there re-plan the whole
    // postings pipeline per branch (16 copies measured before the fix)
    assert(count(p, "Generate explode") <= 6,
      s"postings recompute blowup — fan-outs must stay explodes:\n$p")
  }

  test("soft dedup: pair-graph increment only — no cartesian, no window") {
    val p = plan("q_soft_dedup")
    assert(count(p, "CartesianProduct") == 0)
    // cluster sizes come from a map-side-combinable count + equi-joins
    // (corpus-sized both sides — SMJ/shuffled-hash is the right plan);
    // a count-over-window would pile each cluster onto one task
    assert(count(p, "Window") == 0, s"soft dedup must not plan a window:\n$p")
  }

  test("quality sweep: corpus scanned into one checkpoint, no SMJ/cartesian") {
    val p = plan("q_quality_sweep")
    assert(count(p, "Scan parquet") == 0,
      s"sweep reads the one materialized (doc,source,tok,q) frame:\n$p")
    assert(count(p, "CartesianProduct|SortMergeJoin") == 0)
    // at fixture size Ranked.perSource's declarative branch picks the
    // plain window (strictly cheaper below SingleSortMaxRows); the
    // at-scale composite-key (source, __bkt) window shape is pinned by
    // RankedSpec with buckets forced on
    assert(count(p, "Window") >= 1)
  }

  test("length buckets: one scan, one aggregate pair, no joins") {
    val p = plan("q_length_buckets")
    assert(count(p, "Join") == 0, s"bucketing is a pure aggregation:\n$p")
    assert(aggs(p) == 2, s"exactly one partial+final aggregate pair:\n$p")
    assert(count(p, "Scan parquet") == 1)
  }

  test("knn recall: query-panel-sized joins only, no cartesian") {
    val p = plan("q_knn_recall")
    assert(count(p, "CartesianProduct") == 0)
    // truth/approx frames are queries×k-sized — the recall joins broadcast
    assert(count(p, "SortMergeJoin") == 0,
      s"recall-stage joins over panel-sized frames must broadcast:\n$p")
  }

  test("ngram novelty: split evaluated once per branch, no inferred-filter blowup") {
    val p = plan("q_ngram_novelty")
    // the two traps trigramArr's scaladoc documents: (a) split must stay a
    // materialized attribute (one "split(" per scan branch, never inlined
    // into the per-gram lambda — that re-splits per element, O(tokens²)),
    // (b) no InferFiltersFromGenerate filter substituted below the token
    // projection (explode of a projected gram alias reintroduces (a) in
    // filter form — measured 9.0s vs 1.7s at sf0.1)
    assert(count(p, "split\\(") <= 2,
      s"split(text) must appear once per branch, got inline blowup:\n$p")
    assert(count(p, "element_at\\(split") == 0 && count(p, "size\\(split") == 0,
      s"an inferred generate-filter re-inlined the gram expression:\n$p")
  }

  test("vocab growth: broadcast scalar max, no cartesian, 10-row window only") {
    val p = plan("q_vocab_growth")
    assert(count(p, "CartesianProduct") == 0)
    assert(count(p, "BroadcastNestedLoopJoin") == 1,
      s"the 1-row max(doc_id) frame must broadcast:\n$p")
    // the only window runs over the deciles-sized aggregate, never the
    // token frame (first-occurrence is a groupBy, the novelty lesson)
    assert(count(p, "Window") == 1)
  }

  test("quality calibration: checkpointed input, no SMJ/cartesian") {
    val p = plan("q_quality_calibrate")
    assert(count(p, "CartesianProduct|SortMergeJoin") == 0)
    assert(count(p, "Scan parquet") == 0,
      s"calibrate reads the one materialized (doc,source,q) frame:\n$p")
    // scale-path pin (composite-key rank window) lives in RankedSpec
  }

  test("semdedup: within-cell pairs via cell-keyed join, never a whole-cell pack") {
    val p = plan("q_semdedup")
    // the old form packed ~corpus/16 embeddings into ONE collect_list row
    // per cell before a double explode — a row-size bomb at scale (VERDICT
    // r6). Pairs must come from the cell-keyed self-equi-join of the
    // materialized assignment: no list pack, no cartesian, and the join is
    // AQE-skew-splittable on the cell key.
    assert(count(p, "collect_list") == 0,
      s"semdedup must not pack cells into collect_list rows:\n$p")
    assert(count(p, "CartesianProduct") == 0)
  }

  test("minhash error: bucket-grouped candidates, no cartesian, no window") {
    val p = plan("q_minhash_error")
    assert(count(p, "CartesianProduct") == 0)
    assert(count(p, "Window") == 0,
      "candidates come from bucket groupBy, never a window or self-join")
  }
}
