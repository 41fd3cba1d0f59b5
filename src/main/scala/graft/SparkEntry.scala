package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.plans.TurnScan

/** Driver contract — one entry per implemented operator (SURVEY.md §2), an
  * equivalent DuckDB oracle SQL for each, and the flagship pipeline.
  *
  * Conventions for oracle parity (the driver hash-compares values):
  *  - every count-like output is LONG/BIGINT in both engines;
  *  - every float output is `round(x, 6)` in both engines;
  *  - every query has a deterministic total ORDER BY on its key columns;
  *  - time deltas are exact integer microseconds (`unix_micros` ↔
  *    `epoch_us`), never float seconds.
  */
object SparkEntry {

  /** Session gap threshold: 24h (fixture gaps median ≈ 8.5h → ~9 sessions
    * per conversation at sf0.01).
    */
  val SessionGapSeconds: Long = 86400L

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_feature_matrix")(spark, "/root/testdata/sf0.001")

  /** Scale-adaptive scan spread (r7, guide §2/§6): heavy ROW-LOCAL work
    * (per-token md5 for minhash/shingles/CDC) inherits the scan's
    * partitioning, and a small corpus arrives as ONE file → ONE task
    * doing all the hashing while the rest of the machine idles. When the
    * scan landed on fewer partitions than the session's parallelism,
    * spread rows round-robin first (a sub-MB exchange at fixture size);
    * at production scale a corpus scan already yields ≥ parallelism
    * splits and this is the identity — the width is derived from the
    * input, never a constant. Only used ahead of order-insensitive
    * aggregations (min/count/sum or verified-pair outputs).
    */
  private[graft] def spreadSmallScan(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Distinct-trigram array over a MATERIALIZED token-array attribute.
    * The attribute is load-bearing: higher-order lambdas run interpreted
    * (no codegen, no cross-reference subexpression elimination), so each
    * `element_at` re-evaluates its array child per element — pass
    * `split(text, " ")` directly and shingling goes O(tokens²) per doc
    * (measured: the trigram projection alone cost 3.6s vs 0.55s at sf0.1
    * once the split was a projected attribute). Callers must
    * `select(split(col("text"), " ").as("a"))` first and pass `col("a")`;
    * CollapseProject keeps the projection separate because the alias is
    * non-cheap and multiply referenced. Null text / < 3 tokens → [].
    *
    * Second trap: `explode` THIS EXPRESSION directly — never a projected
    * alias of it. Exploding a cheap `grams` attribute lets
    * InferFiltersFromGenerate add `size(grams) > 0` (it skips non-cheap
    * generator inputs, SPARK-33544), and PushDownPredicates then pushes
    * that filter below BOTH projections, alias-substituting the full
    * quadratic split-inlined expression back in — measured 9.0s vs 1.7s
    * for q_ngram_novelty at sf0.1, plan-pinned by PlanShapeSpec.
    */
  private[graft] def trigramArr(a: Column): Column =
    when(size(a) >= 3,
      array_distinct(transform(sequence(lit(1), size(a) - 2),
        i => concat_ws(" ", element_at(a, i),
          element_at(a, i + 1), element_at(a, i + 2)))))
      .otherwise(array().cast("array<string>"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ——— ingest normalization (S2 analog): per-turn text equality gate ———
    "q_turns_base" -> ((s, dir) =>
      Tables.turns(s, dir)
        .orderBy("conv_id", "turn_idx")),

    // ——— W1/W10 lag/lead turn features ———
    "q_lag_features" -> ((s, dir) =>
      TurnScan.lag(Tables.turns(s, dir))
        .select(col("conv_id"), col("turn_idx"), col("prev_role"), col("next_role"),
          col("delta_ts_us"), col("prev_text_len").cast("long").as("prev_text_len"))
        .orderBy("conv_id", "turn_idx")),

    // ——— W9 ts-gap sessionization ———
    "q_sessionize" -> ((s, dir) =>
      TurnScan.sessions(Tables.turns(s, dir), SessionGapSeconds)
        .select("conv_id", "turn_idx", "session_id")
        .orderBy("conv_id", "turn_idx")),

    // ——— W9 blocked variant: boundary-carry ordered scan (skew path for
    //     giant conversations; row-identical to the single-window form) ———
    "q_sessionize_blocked" -> ((s, dir) =>
      BlockedScan.sessionizeByGap(Tables.turns(s, dir), SessionGapSeconds, blockRows = 16)
        .select("conv_id", "turn_idx", "session_id")
        .orderBy("conv_id", "turn_idx")),

    // ——— A19-style per-conversation session stats: the feature matrix's
    //     session aggregates, read on session END rows (one groupBy) ———
    "q_session_stats" -> ((s, dir) => {
      val aggs = graft.features.SessionModule.aggs
      TurnScan.sessions(Tables.turns(s, dir), SessionGapSeconds)
        .groupBy("conv_id").agg(aggs.head, aggs.tail: _*)
        .orderBy("conv_id")
    }),

    // ——— J1 as-of join, at-or-before semantics ———
    "q_asof_state" -> ((s, dir) =>
      AsOf.join(Tables.turns(s, dir), Tables.state(s, dir),
          "conv_id", "ts", Seq("state_val"), AsOf.AtOrBefore)
        .select("conv_id", "turn_idx", "state_val")
        .orderBy("conv_id", "turn_idx")),

    // ——— J1 via the NATIVE physical operator: custom LogicalPlan +
    //     SparkStrategy + AsOfMergeExec (plans/AsOfMerge.scala) — one
    //     forward merge pass per co-partitioned (key, ts)-sorted partition,
    //     O(1) state, left partitioning/ordering preserved. Same oracle as
    //     q_asof_state: the two implementations must agree row-for-row. ———
    "q_asof_exec" -> ((s, dir) =>
      graft.plans.AsOfMerge.join(Tables.turns(s, dir), Tables.state(s, dir),
          "conv_id", "ts", Seq("state_val"))
        .select("conv_id", "turn_idx", "state_val")
        .orderBy("conv_id", "turn_idx")),

    // ——— the native operator's other two modes, against the same oracles
    //     as the union-window forms (all three semantics oracle-checked) ———
    "q_asof_exec_strict" -> ((s, dir) =>
      graft.plans.AsOfMerge.join(Tables.turns(s, dir), Tables.state(s, dir),
          "conv_id", "ts", Seq("state_val"), strict = true)
        .select("conv_id", "turn_idx", "state_val")
        .orderBy("conv_id", "turn_idx")),

    "q_asof_exec_tolerance" -> ((s, dir) =>
      graft.plans.AsOfMerge.join(Tables.turns(s, dir), Tables.state(s, dir),
          "conv_id", "ts", Seq("state_val"),
          toleranceUs = Some(48L * 3600 * 1000000))
        .select("conv_id", "turn_idx", "state_val")
        .orderBy("conv_id", "turn_idx")),

    // ——— multi-table point-in-time join (the feature-store shape): the
    //     fact side aligned against TWO independent state tables through
    //     chained native execs — AsOfMergeExec preserves left partitioning
    //     and ordering, so the fact table is laid out ONCE and each extra
    //     state table costs only its own small exchange + sort (the
    //     union-window form would re-sort the fact rows per table). ———
    "q_asof_multi" -> ((s, dir) =>
      graft.plans.AsOfMerge.joinMany(Tables.turns(s, dir),
          Seq(Tables.state(s, dir) -> Seq("state_val"),
              Tables.state2(s, dir) -> Seq("load_val")),
          "conv_id", "ts")
        .select("conv_id", "turn_idx", "state_val", "load_val")
        .orderBy("conv_id", "turn_idx")),

    // ——— J1 as-of join, strictly-before (zero temporal leakage) ———
    "q_asof_strict" -> ((s, dir) =>
      AsOf.join(Tables.turns(s, dir), Tables.state(s, dir),
          "conv_id", "ts", Seq("state_val"), AsOf.StrictlyBefore)
        .select("conv_id", "turn_idx", "state_val")
        .orderBy("conv_id", "turn_idx")),

    // ——— W5 forward-fill (backfilled feature column) ———
    "q_backfill_tool" -> ((s, dir) =>
      Backfill.ffill(Tables.turns(s, dir), "tool", "tool_ff")
        .select("conv_id", "turn_idx", "tool_ff")
        .orderBy("conv_id", "turn_idx")),

    // ——— A1/A25 census: per-conversation×role counts + text-length stats ———
    "q_census_role" -> ((s, dir) =>
      Tables.turns(s, dir)
        .groupBy("conv_id", "role").agg(
          count(lit(1)).as("n_turns"),
          count(col("tool")).as("n_tool_calls"),
          countDistinct(col("tool")).as("n_distinct_tools"),
          min(length(col("text"))).cast("long").as("text_len_min"),
          max(length(col("text"))).cast("long").as("text_len_max"),
          round(avg(length(col("text"))), 6).as("text_len_mean"),
          round(stddev_samp(length(col("text"))), 6).as("text_len_std"))
        .orderBy("conv_id", "role")),

    // ——— A5 statistical moments with bias corrections (scipy parity) ———
    "q_moments" -> ((s, dir) => {
      val len = length(col("text")).cast("double")
      Tables.turns(s, dir)
        .groupBy("conv_id").agg(
          round(avg(len), 6).as("len_mean"),
          round(stddev_samp(len), 6).as("len_std"),
          round(graft.functions.Stats.skewnessSample(len), 6).as("len_skew"),
          round(graft.functions.Stats.kurtosisSample(len), 6).as("len_kurt"))
        .orderBy("conv_id")
    }),

    // ——— A6 exact trimmed mean (10% both tails) ———
    "q_trimmed_mean" -> ((s, dir) =>
      graft.functions.Stats.trimmedMean(
          Tables.turns(s, dir).withColumn("len", length(col("text")).cast("double")),
          "len", 0.1, "len_trim_mean", "conv_id")
        .orderBy("conv_id")),

    // ——— W3 rolling aggregate (trailing 5-row frame over turn order; a
    //     true centered frame lives in Windowed.motion). A Window, not the
    //     turn scan: a 5-row frame needs four rows of lookbehind, the
    //     scan keeps one ———
    "q_rolling_textlen" -> ((s, dir) => {
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx")).rowsBetween(-4, 0)
      Tables.turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          round(avg(length(col("text"))).over(w), 6).as("len_roll5"))
        .orderBy("conv_id", "turn_idx")
    }),

    // ——— W2 run-length encoding of role runs ———
    "q_runlength_roles" -> ((s, dir) =>
      RunLength.runStats(Tables.turns(s, dir))
        .orderBy("conv_id")),

    // ——— J3 pairwise role theta-join (texture ratios, inf/nan edge rules) ———
    "q_texture_pairs" -> ((s, dir) => {
      val c = Tables.turns(s, dir).groupBy("conv_id", "role").agg(count(lit(1)).as("n"))
      val a = c.select(col("conv_id"), col("role").as("role_a"), col("n").as("n_a"))
      val b = c.select(col("conv_id"), col("role").as("role_b"), col("n").as("n_b"))
      a.join(b, Seq("conv_id")).filter(col("role_a") < col("role_b"))
        .select(col("conv_id"), col("role_a"), col("role_b"),
          round(when(col("n_b") === 0,
              when(col("n_a") > 0, lit(Double.PositiveInfinity)).otherwise(lit(Double.NaN)))
            .otherwise(col("n_a").cast("double") / col("n_b")), 6).as("ratio"))
        .orderBy("conv_id", "role_a", "role_b")
    }),

    // ——— A2 scope ladder as one grouping-sets pass (role/tool/conv) ———
    "q_scope_rollup" -> ((s, dir) =>
      Tables.turns(s, dir)
        .groupingSets(
          Seq(Seq(col("conv_id"), col("role")),
              Seq(col("conv_id"), col("tool")),
              Seq(col("conv_id"))),
          col("conv_id"), col("role"), col("tool"))
        .agg(
          when(grouping(col("role")) === 0, "role")
            .when(grouping(col("tool")) === 0, "tool")
            .otherwise("conv").as("scope"),
          when(grouping(col("role")) === 0, col("role"))
            .when(grouping(col("tool")) === 0, coalesce(col("tool"), lit("none")))
            .otherwise("*").as("grp_key"),
          count(lit(1)).as("n_turns"),
          round(avg(length(col("text"))), 6).as("text_len_mean"))
        .select("conv_id", "scope", "grp_key", "n_turns", "text_len_mean")
        .orderBy("conv_id", "scope", "grp_key")),

    // ——— A13 densities (turns/hour, tool-call ratio) ———
    "q_density" -> ((s, dir) => {
      val us = LagLead.micros(col("ts"))
      Tables.turns(s, dir)
        .groupBy("conv_id").agg(
          count(lit(1)).as("n_turns"),
          ((max(us) - min(us)).cast("double") / 3.6e9).as("__hours"),
          (count(col("tool")).cast("double") / count(lit(1))).as("__toolfrac"))
        .select(col("conv_id"), col("n_turns"),
          round(col("__hours"), 6).as("active_hours"),
          round(when(col("__hours") > 0, col("n_turns") / col("__hours")), 6).as("turns_per_hour"),
          round(col("__toolfrac"), 6).as("tool_call_density"))
        .orderBy("conv_id")
    }),

    // ——— W10/A7 positional first/last + argmax (min_by/max_by) ———
    "q_first_last" -> ((s, dir) =>
      Tables.turns(s, dir)
        .groupBy("conv_id").agg(
          min_by(col("role"), col("turn_idx")).as("first_role"),
          max_by(col("role"), col("turn_idx")).as("last_role"),
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"),
          max_by(col("text"),
            length(col("text")).cast("long") * 1000000L + col("turn_idx")).as("longest_text"))
        .orderBy("conv_id")),

    // ——— W8 overlapping sliding windows + per-window aggregates ———
    "q_window_agg" -> ((s, dir) =>
      WindowFanout.byTurnIdx(Tables.turns(s, dir), 8, 2)
        .groupBy("conv_id", "window_id").agg(
          count(lit(1)).as("n_turns"),
          round(avg(length(col("text"))), 6).as("len_mean"))
        .orderBy("conv_id", "window_id")),

    // ——— A17 composite: as-of join → per-state histogram with shares ———
    "q_asof_histogram" -> ((s, dir) => {
      val j = AsOf.join(Tables.turns(s, dir), Tables.state(s, dir),
        "conv_id", "ts", Seq("state_val"), AsOf.AtOrBefore)
      j.groupBy(col("conv_id"), coalesce(col("state_val"), lit("none")).as("state_key"))
        .agg(count(lit(1)).as("n"))
        .select(col("conv_id"), col("state_key"), col("n"),
          round(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy(col("conv_id"))), 6).as("share"))
        .orderBy("conv_id", "state_key")
    }),

    // ——— text analysis: token/quality metrics per document ———
    "q_text_stats" -> ((s, dir) => {
      import graft.functions.TextFns._
      Tables.documents(s, dir).select(
        col("doc_id"),
        nTokens(col("text")).as("n_tokens"),
        size(distinctTokens(col("text"))).cast("long").as("n_unique"),
        round(meanTokenLen(col("text")), 6).as("mean_tok_len"),
        round(stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(qualityScore(col("text")), 6).as("quality"))
        .orderBy("doc_id")
    }),

    // ——— tokenizer-aware token counting ———
    // Whitespace words vs a GPT-2-style pretokenizer regex (contraction
    // suffixes, space-prefixed letter/digit runs, punctuation runs) — the
    // budget/billing token estimate a training pipeline sizes corpora
    // with, summed per conversation (turn texts carry the digit/
    // punctuation structure the regex exists for; the documents table is
    // a pure word stream where the two counts coincide). The pattern
    // avoids lookaheads so the SAME regex runs under Java (Spark
    // codegen'd regexp_extract_all) and RE2 (DuckDB). Token math is
    // row-local; the plan is one scan + one partial-aggregating exchange
    // on conv_id at any corpus size.
    "q_token_count" -> ((s, dir) => {
      val pat = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"
      Tables.turns(s, dir).filter(col("text").isNotNull)
        .select(col("conv_id"),
          size(split(col("text"), " ")).cast("long").as("ws"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("bpe"),
          length(col("text")).cast("long").as("ch"))
        .groupBy(col("conv_id"))
        // nullif-style zero guard: a whitespace-only conversation has
        // n_bpe = 0, which must yield NULL in both engines (ANSI Divide
        // would otherwise throw here while DuckDB returns inf)
        .agg(sum(col("ws")).as("n_ws"), sum(col("bpe")).as("n_bpe"),
          round(sum(col("ch")).cast("double") /
            when(sum(col("bpe")) =!= 0L, sum(col("bpe"))), 6)
            .as("chars_per_tok"))
        .orderBy("conv_id")
    }),

    // ——— language-ID heuristic ———
    "q_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        graft.functions.TextFns.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // ——— document fingerprint (md5-based rolling id) ———
    "q_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        graft.functions.TextFns.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // ——— exact dedup: keeper mapping by text identity ———
    // Shuffle hygiene at scale: group by the 60-bit md5 fingerprint, not
    // the raw text — the shuffle key is 8 bytes instead of the full
    // document. Collision risk is accepted explicitly: P(any collision)
    // ≈ n²/2^61 (~1e-7 at n=100M docs); a paranoid variant would re-verify
    // text equality within fingerprint groups.
    "q_dedup_exact" -> ((s, dir) => {
      import graft.functions.TextFns.md5Long
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), md5Long(col("text")).as("__fp"))
      val groups = d.groupBy("__fp").agg(
        min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      d.join(groups, Seq("__fp"))
        .select(col("doc_id"), col("keeper"), col("n_copies"))
        .orderBy("doc_id")
    }),

    // ——— MinHash signatures (near-dup scale path) ———
    "q_minhash" -> ((s, dir) =>
      graft.functions.TextFns.minhashRows(
          spreadSmallScan(Tables.documents(s, dir)), "doc_id", "text", 8)
        .orderBy("doc_id", "seed")),

    // ——— SimHash (bit-majority fingerprint) ———
    "q_simhash" -> ((s, dir) =>
      graft.functions.TextFns.simhash(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // ——— n-gram (token-set) Jaccard near-dup pairs ≥ 0.9 ———
    "q_neardup_jaccard" -> ((s, dir) => {
      import graft.functions.TextFns._
      // exact-baseline operator, bounded: the quadratic token join is the
      // thing the LSH path (q_neardup_lsh) exists to avoid at scale.
      // Token frame materialized once (r7): the self-join's two aliases
      // plus the two size joins re-planned the tokenize pipeline 4× —
      // legitimate here because the operator is bounded by contract
      // (doc_id < 1000), so the checkpoint is fixture-sized by the same
      // argument that bounds the quadratic join itself.
      val toks = Tables.documents(s, dir).filter(col("doc_id") < 1000)
        .select(col("doc_id"), explode(distinctTokens(col("text"))).as("tok"))
        .localCheckpoint()
      val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val inter = toks.as("a").join(toks.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("i"))
      inter
        .join(broadcast(sizes).withColumnRenamed("doc_id", "da").withColumnRenamed("sz", "sa"), Seq("da"))
        .join(broadcast(sizes).withColumnRenamed("doc_id", "db").withColumnRenamed("sz", "sb"), Seq("db"))
        .withColumn("jaccard", col("i").cast("double") / (col("sa") + col("sb") - col("i")))
        .filter(col("jaccard") >= 0.9)
        .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("da", "db")
    }),

    // ——— brute-force cosine top-k (similarity-search baseline) ———
    "q_knn_brute" -> ((s, dir) => {
      import graft.functions.VectorFns._
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val sims = broadcast(q).join(e, col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("nbr"),
          round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nbr"))
      sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .orderBy("qid", "rank")
    }),

    // ——— label-centroid similarity (embedding mean-pool) ———
    // The aggregation side of the embedding ops: mean-pool vectors per
    // label and compare the pooled representations pairwise — the corpus-
    // level "how close are these sources/classes in embedding space"
    // analytics (cluster sanity, mixture design). Pooling is the
    // distributed elementwise mean: posexplode to (label, dim, value),
    // partial-aggregating groupBy on (label, dim) — the shuffle carries
    // labels×dims rows, NOT vectors — and per-dim sort re-assembles the
    // centroid. Components round(,6) before the cosine (the IVF codebook
    // convention) so both engines compare bit-identical centroids; the
    // pairwise stage is a labels²-sized frame, broadcast by AQE.
    "q_centroid_sim" -> ((s, dir) => {
      import graft.functions.VectorFns._
      val cent = Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(round(avg(col("v")), 6).as("c"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          e => e("c")).as("centroid"))
      // pairs from ONE pooled frame via pack + double-explode (a self-join
      // of the derived frame would recompute the whole pooling pipeline on
      // both sides — exchange reuse does not fire across join aliases);
      // packing all centroids into one row is bounded by the label
      // vocabulary, the same cap argument as the IVF codebook pin
      val packed = cent.agg(collect_list(struct(col("label"), col("centroid"))).as("cs"))
      packed.select(explode(col("cs")).as("a"), col("cs"))
        .select(col("a"), explode(col("cs")).as("b"))
        .filter(col("a.label") < col("b.label"))
        .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
          round(cosine(col("a.centroid"), col("b.centroid")), 6).as("cos_sim"))
        .orderBy("label_a", "label_b")
    }),

    // ——— LSH-banded ANN: 32 random hyperplanes, 4 bands of 8 bits ———
    // The scale path for sign-plane LSH (r2 gap: 4 axis-aligned planes =
    // 16 buckets, toy recall/selectivity): a 32-bit random-plane signature
    // (each bit one codegen'd dot product against a deterministic integer
    // plane), BANDED like the MinHash/SimHash near-dup paths — candidates
    // are the union of 4 per-band equi-join buckets (multi-table LSH:
    // recall from band count, selectivity from band WIDTH — 8-bit bands
    // mean a query probes ~n/256 of the corpus per band, not n/16), never
    // an all-pairs comparison. Queries are broadcast; the corpus side is
    // one scan + one band fan-out.
    "q_knn_lsh" -> ((s, dir) => {
      import graft.functions.VectorFns._
      val e = Tables.embeddings(s, dir)
      val banded = bandedSignature(e)
      val qb = banded.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "qid")
      val cand = broadcast(qb).join(banded, Seq("band_idx", "band_val"))
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("nbr")).distinct()
      val qv = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val sims = cand
        .join(broadcast(qv), Seq("qid"))
        .join(e.withColumnRenamed("vec_id", "nbr"), Seq("nbr"))
        .select(col("qid"), col("nbr"),
          round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nbr"))
      sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .orderBy("qid", "rank")
    }),

    // ——— embedding-cosine near-dup pairs: banded sign-plane candidates +
    //     exact cosine verify. Same scale architecture as the MinHash/
    //     SimHash near-dup paths: a 32-plane signature banded 4×8 bits,
    //     candidates are bucket-grouped per band (never an all-pairs
    //     join), and the verify resolves both pair sides in ONE corpus
    //     scan. Band WIDTH is the selectivity knob: 8-bit bands give 256
    //     buckets per band, so candidate cost is Σ|bucket|² ≈ n²/128 per
    //     band instead of the n²/8 a 4-bit banding costs (measured 6.5s →
    //     the fix at sf0.1). Recall is the multi-table sign-LSH curve
    //     (≥1-of-4 8-bit bands ≈ 0.90 at cos 0.95, the production
    //     near-dup regime); the fixture embeddings are random (max
    //     pairwise cos ≈ 0.51), so the demo threshold is 0.4, where the
    //     same curve gives ~0.10 — the oracle replicates the banding, so
    //     the approximate contract is hash-checked exactly. ———
    "q_neardup_cosine" -> ((s, dir) => {
      import graft.functions.VectorFns._
      val e = Tables.embeddings(s, dir)
      val cand = NearDup.bucketPairs(bandedSignature(e),
        Seq("band_idx", "band_val"), "vec_id", as = ("va", "vb"))
      NearDup.resolvePairs(e, cand, "vec_id", col("embedding"), ("ea", "eb"), ("va", "vb"))
        .select(col("va"), col("vb"), round(cosine(col("ea"), col("eb")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.4)
        .orderBy("va", "vb")
    }),

    // ——— MinHash-LSH near-dup dedup: banded candidates + exact verify ———
    // The scale path: k=8 minhashes, 2 bands of 4 → candidate pairs share a
    // full band within the same `source` (per-domain dedup, the standard
    // sharding for web-scale corpora); exact Jaccard only on candidates via
    // array_intersect (no quadratic token-join shuffle). Approximate-recall
    // semantics are the operator's contract (recall ≈ 1-(1-j^4)^2).
    "q_neardup_lsh" -> ((s, dir) =>
      neardupLshPairs(s, dir).orderBy("da", "db")),

    // ——— INCREMENTAL near-dup: slice-only signatures vs the stored table ———
    // Closes the last full-recompute in the curation stack (VERDICT r5 #7):
    // when a new slice of documents is appended, near-dup detection should
    // cost O(slice) signature computation + one band-join against the
    // PERSISTED signature table — never re-tokenizing the old corpus. The
    // slice boundary is append-style (doc_id ≥ 80% of the id space,
    // derived from the data so the query is SF-stable). Plan shape: buckets
    // whose members are all stored are pruned BEFORE the pair explode (at
    // 10¹² docs that is ~all of them — the cycle's candidate set is sized
    // by the slice, not the corpus), and old↔old pairs inside mixed buckets
    // are dropped (they were already emitted by the cycle that ingested
    // them). Since da < db and "new" is an id suffix, at-least-one-new ⟺
    // db ≥ threshold — the same rule the oracle twin applies to the full
    // pair pipeline. A deployment that persists signatures would READ the
    // is_new=false rows instead of recomputing them; here both sides are
    // computed so the DuckDB twin can reproduce the table from the same
    // parquet.
    "q_incremental_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val thr = docs.agg(
        floor(lit(0.8) * (max(col("doc_id")) + lit(1L))).cast("long").as("__thr"))
      val sigs = lshBandSigs(docs).join(broadcast(thr))
        .withColumn("is_new", col("doc_id") >= col("__thr"))
      val cand = NearDup.bucketPairs(sigs, Seq("source", "band", "bkey"), "doc_id",
        newFlag = Some("is_new"))
      lshVerify(docs, cand)
        .join(broadcast(thr))
        .select(col("da"), col("db"), col("jaccard"),
          (col("da") >= col("__thr")).cast("long").as("new_new"))
        .orderBy("da", "db")
    }),

    // ——— dedup COMPLETION: keeper assignment via connected components ———
    // Near-dup detection yields pairs; production dedup needs one KEEPER
    // per duplicate cluster (pairs are not transitive-closed: a~b, b~c
    // without a~c still must collapse to one keeper). Components over the
    // verified LSH pairs (ops.Components.minLabel): a pair graph within
    // the broadcast budget is labelled by one driver union-find; larger
    // graphs run star contraction. Either way the label is the exact
    // component minimum; every corpus doc gets a keeper (singletons keep
    // themselves).
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      NearDup.clusterOf(docs.select(col("doc_id")),
          neardupLshPairs(docs, carrySource = false), as = "keeper")
        .orderBy("doc_id")
    }),

    // ——— dedup completion via STAR CONTRACTION (oracle-pinned) ———
    // Same contract and oracle as q_dedup_clusters, but the components run
    // through the O(log n) large-star/small-star contraction (Kiveris et
    // al., SoCC'14) at every graph size — the path minLabel takes over its
    // driver budget, which the sf fixtures' pair graphs never exceed. With
    // both registry entries green, minLabel's two algorithms are each
    // oracle-verified.
    "q_dedup_clusters_star" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      NearDup.clusterOf(docs.select(col("doc_id")), neardupLshPairs(docs, carrySource = false),
          Components.starContract(_, _, _), "keeper")
        .orderBy("doc_id")
    }),

    // ——— quality-aware keeper selection ———
    // Production dedup does not keep the minimum doc_id — it keeps the
    // BEST cluster member (highest quality score, deterministic doc_id
    // tiebreak), so near-dup collapse and quality filtering compose
    // instead of fighting. Same pair graph and components as
    // q_dedup_clusters; the keeper rule is one max_by over the
    // cluster-labeled frame (the ordering key is a (quality, −doc_id)
    // struct — exact, no string encoding needed on the Spark side).
    "q_dedup_keeper_best" -> ((s, dir) => {
      import graft.functions.TextFns
      val docs = Tables.documents(s, dir)
      val clustered = NearDup.clusterOf(
        docs.select(col("doc_id"), round(TextFns.qualityScore(col("text")), 6).as("q")),
        neardupLshPairs(docs, carrySource = false))
      val keepers = clustered.groupBy(col("cluster"))
        .agg(max_by(col("doc_id"),
            struct(col("q"), (-col("doc_id")).as("nd"))).as("keeper"),
          max(col("q")).as("keeper_q"))
      clustered.join(keepers, Seq("cluster"))
        .select(col("doc_id"), col("keeper"), col("keeper_q"))
        .orderBy("doc_id")
    }),

    // ——— leakage-safe train/val/test split ———
    // The split assignment a dedup-aware pipeline must use: hashing the
    // DOC id sends near-duplicates of one document into different splits
    // (the classic eval-leakage bug — the model "generalizes" to its own
    // training data); hashing the duplicate-cluster KEEPER sends every
    // member of a cluster to the SAME split. Deterministic hash-mod
    // (80/10/10) over the keeper id from the same components pipeline as
    // q_dedup_clusters — re-runs, resumed shards, and both engines agree
    // row-for-row.
    "q_split_leakage_safe" -> ((s, dir) => {
      import graft.functions.TextFns.md5Long
      val h = md5Long(concat_ws("#", lit("split"), col("keeper"))) % 100
      val docs = Tables.documents(s, dir)
      NearDup.clusterOf(docs.select(col("doc_id")),
          neardupLshPairs(docs, carrySource = false), as = "keeper")
        .select(col("doc_id"), col("keeper"),
          when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
        .orderBy("doc_id")
    }),

    // ——— cross-source duplication matrix ———
    // Corpus governance: which sources duplicate into which — the
    // licensing/contamination question a mixture designer asks before
    // weighting sources. Rides the verified LSH pair list (≪ corpus);
    // each pair maps to its unordered source pair (least/greatest
    // normalization keeps the matrix upper-triangular), one count per
    // cell. The doc→source join is pairs-sized, the aggregate is
    // sources²-sized; nothing here grows with the corpus beyond the
    // pair pipeline itself.
    "q_dup_matrix" -> ((s, dir) => {
      // r7b: `source` rides the pair pipeline (the band bucket key already
      // contains it — pairs are within-source by construction, so sa ≡ sb
      // and least/greatest of the two equal values is the value itself);
      // the two pairs⋈corpus joins this replaced re-scanned the documents
      // table twice per run for a column the bucket row already held.
      val pairs = neardupLshPairs(s, dir, carrySource = true)
      pairs
        .groupBy(col("source").as("src_a"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("src_a"), col("src_a").as("src_b"), col("n_pairs"))
        .orderBy("src_a", "src_b")
    }),

    // ——— soft dedup: duplication-aware sampling weights ———
    // The modern alternative to hard removal: keep every duplicate but
    // downweight it by its cluster multiplicity (weight = 1/cluster_size),
    // so a document repeated 40× contributes ~1 document's worth of
    // gradient signal instead of 40 (and instead of 1 arbitrary survivor —
    // hard dedup loses the natural frequency prior entirely). Rides the
    // SAME pair graph and components as q_dedup_clusters; the increment is
    // one cluster-sized map-side-combinable count + a corpus⋈clusters
    // equi-join — nothing new grows with the corpus beyond the pair
    // pipeline. Weight is one correctly-rounded division of exact
    // integers (no intermediate float).
    "q_soft_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clustered = NearDup.clusterOf(docs.select(col("doc_id")),
        neardupLshPairs(docs, carrySource = false))
      val sizes = clustered.groupBy("cluster")
        .agg(count(lit(1)).as("cluster_size"))
      clustered.join(sizes, Seq("cluster"))
        .select(col("doc_id"), col("cluster"), col("cluster_size"),
          round(lit(1.0) / col("cluster_size"), 6).as("weight"))
        .orderBy("doc_id")
    }),

    // ——— containment near-dup: rare-shingle blocked, ASYMMETRIC ———
    // The dedup axis symmetric Jaccard misses: a short document 90%+
    // contained in a longer one (wire stories inside aggregator pages,
    // quoted messages inside replies) has LOW Jaccard (|A∩B|/|A∪B| shrinks
    // with the size ratio) so MinHash-LSH never pairs it; containment
    // |A∩B|/|A| is the right score and needs its own candidate generation.
    // Blocking: a doc pair is a candidate iff it shares a RARE trigram
    // (global document frequency in [2, 10]) — recall contract: any inner
    // doc with ≥ 1 rare shingle among its (≥90%) shared ones is found;
    // docs made ENTIRELY of corpus-hot boilerplate are the dup-spans
    // family's job, not this one's. Scale shape: candidate fan-out per
    // shingle is capped at C(10,2) pairs BY THE BLOCKING PREDICATE (a hot
    // shingle produces zero candidates — skew-immune by construction, no
    // salting needed: df is a map-side-combinable count and only RARE
    // postings ever bucket-group, so collect_list is bounded ≤ 10),
    // verify resolves both pair sides in one trigram-set scan
    // (NearDup.resolvePairs, row-local array intersect), and the
    // threshold test is exact integer arithmetic (10·i ≥ 9·n — no float boundary); the
    // rounded score is reporting only. Emits BOTH directions when both
    // clear 0.9 (exact dups ⇒ two rows at 1.0).
    "q_containment" -> ((s, dir) =>
      containmentPairs(Tables.documents(s, dir))),

    // ——— containment pruning: act on the detection ———
    // The kept-documents set after containment dedup: a STRICTLY
    // contained doc (one direction only — the wire story inside the
    // aggregator page) is removed in favor of its superset; a MUTUAL
    // pair (exact/near-exact dups, both directions ≥ 0.9) keeps the
    // min id — one deterministic total rule, so chains and mixed cases
    // resolve identically at any parallelism/engine. The increment over
    // q_containment is pairs-sized (one pairs self-join on the reversed
    // key + one corpus anti-join) — nothing new grows with the corpus.
    "q_contain_prune" -> ((s, dir) =>
      containPrune(Tables.documents(s, dir))),

    // ——— Gopher document-filter battery (MassiveText rules) ———
    // The pre-dedup hygiene gate every large text pipeline runs first
    // (Rae et al. 2021, MassiveText §A1.1): per document, the rules
    // computable over whitespace tokens — length window, mean word
    // length window, symbol-token share, alphabetic-token share,
    // stopword presence — each exposed as its own flag (pipelines tune
    // per-rule, so the battery must show WHICH rule fired) plus the
    // conjunction. Line-structure rules (bullet/ellipsis starts) are
    // out of scope: the transcript corpus is single-line by
    // construction. EVERY threshold is exact integer arithmetic
    // (3n ≤ Σlen ≤ 10n, 10·sym ≤ n, 5·alpha ≥ 4n) — no float boundary
    // can desync engines. One scan, row-local token work, one output
    // row per doc — scan speed at any corpus size.
    "q_gopher_filters" -> ((s, dir) =>
      gopherFilters(Tables.documents(s, dir))),

    // ——— corpus card: the per-source governance datasheet ———
    // The table a mixture designer reads before weighting anything (the
    // "datasheets for datasets" summary row): per source — volume (docs,
    // tokens, mean length), exact-duplication rate (distinct fingerprints
    // vs docs — the md5Long fingerprint pass IS the stats pass: level 1
    // of a two-level aggregate groups (source, fp) and carries every
    // per-doc statistic, level 2 re-aggregates per source, so dedup
    // accounting costs no extra scan), hygiene (short-doc share), and
    // language mix (majority lang by (count, lang) struct argmax — the
    // q_dedup_keeper_best composite-key rule; DuckDB twin encodes it as
    // a fixed-width printf key). TWO corpus passes total (fp-keyed +
    // lang-keyed), both map-side-combinable two-level aggregates — no
    // per-source windows, nothing grows beyond sources² at any corpus
    // size; every share is one correctly-rounded division of exact
    // integers.
    "q_corpus_card" -> ((s, dir) => corpusCard(Tables.documents(s, dir))),

    // ——— deterministic stratified sampling (curation primitive) ———
    // Hash-mod sampling, NOT rand(): the decision is a pure function of
    // the row key, so the sample is identical at any parallelism / any
    // re-run / both engines — the only sampling shape that composes with
    // resumable pipelines at web scale (re-running a failed shard must
    // re-pick the same rows). Stratified by role via per-stratum rates:
    // keep all tool-role turns, 20% of user turns, 5% of the rest — the
    // typical "downsample the majority class" curation rule.
    "q_sample_hash" -> ((s, dir) => {
      import graft.functions.TextFns.md5Long
      val rate = when(col("role") === "tool", 100)
        .when(col("role") === "user", 20).otherwise(5)
      Tables.turns(s, dir)
        .withColumn("__h", md5Long(concat_ws("#", col("conv_id"), col("turn_idx"))) % 100)
        .filter(col("__h") < rate)
        .select(col("conv_id"), col("turn_idx"), col("role"))
        .orderBy("conv_id", "turn_idx")
    }),

    // ——— exact-k deterministic stratified sample ———
    // q_sample_hash's rate form yields EXPECTED-size samples; eval subsets
    // and ablation slices need EXACT size. Rank each stratum's docs by the
    // 60-bit key hash (a uniform, engine-portable permutation of the
    // stratum — 8 bytes of sort key, nothing from the payload) and keep the
    // k smallest: exactly min(k, |stratum|) rows per stratum, identical at
    // any parallelism / re-run / engine, and consistent under corpus
    // APPEND (a doc's rank only ever grows as new docs hash below it, so
    // consecutive samples overlap maximally — the property reservoir
    // sampling has and random-split does not). Per-stratum sort on an
    // 8-byte key: the same per-group-sort shape as q_gap_quantiles; at
    // 10¹²-doc scale swap the full sort for a two-pass hash-threshold
    // (sample rate ≈ k/|stratum| then exact top-k inside the ~k-sized
    // survivor set) — same contract, bounded shuffle.
    "q_sample_topk" -> ((s, dir) => {
      import graft.functions.TextFns.md5Long
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          md5Long(col("doc_id").cast("string")).as("__h"))
      graft.ops.Sampling.topKByHash(d, "source", "__h", 25L, Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
        .orderBy("source", "rk")
    }),

    // ——— exact-k sample, scale form: hash-threshold prefilter ———
    // The 10¹²-doc spelling of q_sample_topk, same oracle (output is
    // identical BY CONSTRUCTION, not approximately): the k smallest hashes
    // almost surely sit under threshold 4k/|stratum| of the hash space, so
    // the per-stratum sort runs on a ~4k-row survivor set instead of the
    // stratum (the full-corpus window sort becomes a scan + a tiny sort).
    // EXACTNESS is restored declaratively, not probabilistically: strata
    // whose survivor count comes up short of min(k, n) — possible only
    // under pathological hash clustering, P ≈ e^{-k} per stratum at the 4×
    // margin — are re-ranked from the FULL table via an anti-join-shaped
    // fallback branch unioned in. The fallback frame is empty in any
    // non-adversarial run, so nothing materializes for it beyond the
    // per-stratum counts the plan already aggregates.
    "q_sample_topk_prefilter" -> ((s, dir) => {
      import graft.functions.TextFns.md5Long
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        md5Long(col("doc_id").cast("string")).as("__h"))
      graft.ops.Sampling.topKByHashPrefiltered(d, "source", "__h", 25L,
          tiebreak = Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
        .orderBy("source", "rk")
    }),

    // ——— greedy sequence packing (training-batch assembly) ———
    // Pack documents into fixed-capacity token bins — the op that turns a
    // curated corpus into training sequences. Greedy packing is a
    // non-associative prefix scan, so it runs as hash-sharded independent
    // streams (ops.Packing): one exchange on (source, shard) + an
    // in-partition sort, O(1) state per stream. nShards scales with the
    // cluster; packing quality is shard-size-independent in expectation.
    // Oracle = a DuckDB recursive CTE walking each stream row by row —
    // the exact same greedy recurrence, implemented the opposite way.
    "q_pack_greedy" -> ((s, dir) =>
      graft.ops.Packing.packGreedy(Tables.documents(s, dir),
          capacity = 200L, nShards = 4)
        .toDF().orderBy("doc_id")),

    // ——— transcript context assembly (turn-block packing) ———
    // Chunk each conversation's turns, in order, into ≤40-token context
    // blocks without splitting a turn — the SFT context-window assembly
    // step (ops.Packing.packTurns; the conversation is the greedy stream,
    // so parallelism is natural and the conv_id exchange is the same one
    // the whole turn pipeline rides).
    "q_pack_turns" -> ((s, dir) =>
      graft.ops.Packing.packTurns(Tables.turns(s, dir), capacity = 40L)
        .toDF().orderBy("conv_id", "turn_idx")),

    // ——— sliding context windows with stride ———
    // Long-context training prep: each document yields token windows of
    // width W every S tokens (overlapping when S < W), the counterpart of
    // packing for runs that want stride-covered context rather than
    // disjoint bins. Starts come from sequence(0, lastStart, S) where
    // lastStart = the largest multiple of S at which a window still has
    // ≥1 token (short docs yield exactly one window) — ROW-LOCAL Column
    // algebra (explode of a bounded sequence, windows-per-doc ≤
    // tok_cnt/S + 1): zero shuffle beyond the output sort, codegen end to
    // end, so it runs at scan speed on any corpus. Window end clamps to
    // the doc (the final, possibly-short tail window is kept — training
    // pipelines pad it; dropping it would lose the doc's suffix).
    // NULL-text docs yield no window; an EMPTY-string doc yields one
    // 1-token window, because both engines tokenize "" to [""] (split
    // semantics, not a bug to paper over — a pipeline that wants blank
    // docs gone filters them upstream, q_curate-style).
    "q_chunk_windows" -> ((s, dir) => {
      val W = 40L; val S = 25L
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tok_cnt"))
      d.select(col("doc_id"), col("tok_cnt"),
          explode(sequence(lit(0L),
            expr(s"greatest(tok_cnt - 1, 0) div $S") * S, lit(S))).as("w_start"))
        .withColumn("w_end", least(col("w_start") + W, col("tok_cnt")))
        .filter(col("w_start") < col("tok_cnt"))
        .withColumn("win_idx", (col("w_start") / S).cast("long"))
        .select(col("doc_id"), col("win_idx"), col("w_start"), col("w_end"))
        .orderBy("doc_id", "win_idx")
    }),

    // ——— token-budget context trimming ———
    // The SFT preprocessing step packing does not cover: keep the maximal
    // SUFFIX of each conversation's turns whose token sum fits the context
    // budget (recent turns matter, old turns truncate from the left — the
    // standard chat-template trim). Reverse running token sum per
    // conversation ≤ budget: ONE window on the layout the whole turn
    // pipeline already rides (conv_id exchange, turn_idx sort) — no joins,
    // no second pass; emits the kept turns with their distance-from-end
    // token total so downstream assembly can verify the budget.
    "q_context_trim" -> ((s, dir) => {
      val budget = 120L
      val w = Window.partitionBy(col("conv_id"))
        .orderBy(col("turn_idx").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          size(split(col("text"), " ")).cast("long").as("tok_cnt"))
        .withColumn("cum_from_end", sum(col("tok_cnt")).over(w))
        .filter(col("cum_from_end") <= budget)
        .orderBy("conv_id", "turn_idx")
    }),

    // ——— eval-set decontamination (n-gram overlap) ———
    // Flag training documents that share word 3-grams with a held-out
    // eval set (here: the deterministic doc_id % 97 == 0 slice — in
    // production, the benchmark suites). The eval n-gram vocabulary is
    // fixed-size and tiny relative to the corpus, so it BROADCASTS; the
    // train side is one scan + explode (bounded by tokens-per-doc) + a
    // partial-aggregating per-doc count — no corpus-sized shuffle beyond
    // the final per-doc aggregate. Contamination = ≥30% of a doc's
    // distinct 3-grams appearing in the eval vocabulary.
    "q_decontaminate" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("a"))
      val ngr = toks.select(col("doc_id"),
        explode(array_distinct(
          when(size(col("a")) >= 3,
            transform(sequence(lit(1), size(col("a")) - 2),
              i => concat_ws(" ", element_at(col("a"), i),
                element_at(col("a"), i + 1), element_at(col("a"), i + 2))))
          .otherwise(array().cast("array<string>")))).as("g"))
      val evalNgrams = ngr.filter(col("doc_id") % 97 === 0)
        .select(col("g")).distinct().withColumn("__hit", lit(1))
      ngr.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalNgrams), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("total_ngrams"),
          count(col("__hit")).as("overlap_ngrams"))
        .withColumn("overlap_ratio",
          round(col("overlap_ngrams").cast("double") / col("total_ngrams"), 6))
        .withColumn("contaminated", col("overlap_ratio") >= 0.3)
        .orderBy("doc_id")
    }),

    // ——— repetition-based quality signals (Gopher-style filters) ———
    // The within-document repetition family from the Gopher/MassiveText
    // quality rules, adapted to whitespace tokens: top-2-gram fraction
    // (occurrences of the most frequent word 2-gram ÷ all 2-grams) and
    // duplicate-3-gram fraction (1 − distinct/total). Each n-gram pass is
    // one scan + bounded explode + two-level aggregate (partial map-side
    // combine on (doc_id, gram), then per-doc) — the same shuffle shape at
    // any corpus size; the two passes join on doc_id. Filtering is the
    // consumer's threshold choice; the engine emits the signals.
    "q_quality_repetition" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("a"))
      def grams(n: Int) = toks.select(col("doc_id"),
        explode(when(size(col("a")) >= n,
          transform(sequence(lit(1), size(col("a")) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(j => element_at(col("a"), i + j)): _*)))
          .otherwise(array().cast("array<string>"))).as("g"))
      val g2 = grams(2).groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("__n"))
        .groupBy(col("doc_id"))
        .agg(max(col("__n")).as("top2_cnt"), sum(col("__n")).as("n2"))
      val g3 = grams(3).groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("__n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("__n")).as("n3"), count(lit(1)).as("d3"))
      g2.join(g3, Seq("doc_id"))
        .select(col("doc_id"), col("n2"), col("n3"),
          round(col("top2_cnt").cast("double") / col("n2"), 6).as("top2_frac"),
          round(lit(1.0) - col("d3").cast("double") / col("n3"), 6).as("dup3_frac"))
        .orderBy("doc_id")
    }),

    // ——— content-defined chunk-level dedup (CDC) ———
    // Whole-document fingerprints miss boilerplate shared BETWEEN
    // documents; content-defined chunking finds it: token hashes feed a
    // 4-gram rolling hash, and positions where it ≡ 0 (mod 16) become
    // chunk boundaries — so an insertion early in a page shifts only the
    // chunk it lands in, and every other chunk keeps its signature
    // (the rsync/LBFS boundary trick). Chunking is row-local higher-order
    // Column algebra (one projection, no shuffle, no UDF). The corpus-wide
    // occurrence count rides a count-over-window on the 60-bit sig — NOT a
    // groupBy+self-join, which would rerun the md5-per-token chunking on
    // both sides (exchange reuse does not fire across the join's aliases)
    // and hand AQE a corpus-sized frame to broadcast. One chunking pass,
    // one exchange on sig, one on doc_id.
    // Emits per-doc chunk counts + how many chunks also appear elsewhere.
    "q_chunk_dedup" -> ((s, dir) =>
      cdcChunkSigs(s, dir)
        .withColumn("n_occ", count(lit(1)).over(Window.partitionBy(col("sig"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          count(when(col("n_occ") > 1, 1)).as("dup_chunks"))
        .orderBy("doc_id")),

    // ——— CDC chunk dedup, HOT-CHUNK SKEW PATH ———
    // Same semantics and oracle as q_chunk_dedup; the corpus-wide
    // occurrence count moves from a count-over-window on sig (every
    // occurrence of one boilerplate chunk → ONE task, un-splittable by
    // AQE) to groupBy(sig) — whose partial aggregation collapses the hot
    // chunk map-side — plus a chunks⋈dupSigs join that AQE broadcasts
    // (dupSigs is duplicated-chunk-sized) or skew-splits. The chunking
    // projection (the dominant cost: md5 per token) is materialized ONCE
    // rather than recomputed on the aggregate side — the same trade as
    // q_dup_spans_skew, measured in tools/DupSkewBench.scala.
    "q_chunk_dedup_skew" -> ((s, dir) => {
      val sigs = cdcChunkSigs(s, dir, spread = false).localCheckpoint()
      val dupSigs = sigs.groupBy(col("sig"))
        .agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") > 1)
        .select(col("sig"), lit(1).as("__dup"))
      sigs.join(dupSigs, Seq("sig"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          count(col("__dup")).as("dup_chunks"))
        .orderBy("doc_id")
    }),

    // ——— TF-IDF top terms per document ———
    // The classic corpus-statistics operator: tf = term count ÷ doc
    // length, idf = ln(N ÷ docfreq), top-3 terms per doc by score.
    // Doc length and docfreq ride count-windows over the ONE (doc_id,
    // term) aggregate — the groupBy-then-join-back spelling tokenizes the
    // whole corpus once per derived frame (column pruning defeats
    // exchange reuse; measured: 3 parquet scans + 3 explode/agg passes).
    // Here the corpus is read and exploded exactly once; everything after
    // is tf-sized (distinct doc×term, ≪ token stream). The doc_id
    // exchange is shared by the dlen window and the rank window (same
    // partitioning, different sort), and Spark's WindowGroupLimit pushes
    // the rk≤3 filter below the final sort. Ties break on the term.
    "q_tfidf_top" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      val tf = toks.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
      val nd = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("t"))))
        .withColumn("dlen", sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
        .crossJoin(broadcast(nd))
        .withColumn("s",
          (col("cnt").cast("double") / col("dlen")) *
            log(col("n_docs").cast("double") / col("df")))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("s").desc, col("t"))))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk").cast("int").as("rk"),
          col("t").as("term"), round(col("s"), 6).as("tfidf"))
        .orderBy("doc_id", "rk")
    }),

    // ——— duplicated n-gram span detection ———
    // The span-level dedup granularity between exact-doc fingerprints,
    // CDC chunks, and MinHash near-dup: mark every 5-token shingle that
    // also appears in ANOTHER document, then merge the marked positions
    // into maximal duplicated spans per document — the substring-dedup
    // signal of Lee et al. 2022 ("Deduplicating Training Data Makes LMs
    // Better"), whose suffix-array step this replaces with the shuffle-
    // friendly shingle-hash form. Shingles are built row-locally from the
    // token array (one projection, no fan-out join); "appears elsewhere"
    // is min(doc)≠max(doc) over a count-window on the 60-bit shingle hash
    // (two window aggs sharing ONE exchange on sig — exact, and cheaper
    // than a distinct-count); span merge is the sessionize island trick on
    // positions (new span when pos > prev + K, i.e. coverage gap). Plan:
    // one corpus scan + tiny doc-id scan, one exchange on sig, one on
    // doc_id (shared by the island window and the final aggregate).
    // At 100 TB every frame after the shingle explode is token-stream-
    // sized and hash-partitioned; nothing is broadcast or collected.
    "q_dup_spans" -> ((s, dir) => dupSpansQuery(s, dir, skewSafe = false)),

    // ——— duplicated-span detection, HOT-SHINGLE SKEW PATH ———
    // Identical semantics and oracle to q_dup_spans, different physical
    // marking: groupBy(sig) (map-side partial agg collapses a hot
    // boilerplate shingle per input partition) + an AQE-broadcastable /
    // skew-splittable positions⋈dupSigs join, instead of the min/max
    // window that pins every occurrence of one sig to one task. This is
    // the 100-TB deployment form for corpora with hot shingles (license
    // headers, navigation chrome); the trade — one materialization of the
    // shingle projection instead of a second compute pass — and the
    // measured crossover live in ops/DupSpans.scala and
    // tools/DupSkewBench.scala.
    "q_dup_spans_skew" -> ((s, dir) => dupSpansQuery(s, dir, skewSafe = true)),

    // ——— duplicated-span CUT pass ———
    // The removal stage the detection feeds: drop every token covered by a
    // cross-document duplicated span and reconstruct the surviving text.
    // Semantics: ALL occurrences are cut (the conservative variant of Lee
    // et al.'s ExactSubstr removal — a keeper-occurrence rule needs span
    // identity across documents, which merged coverage unions don't have).
    // The cut itself is ROW-LOCAL: per-doc spans collect into a tiny array
    // (docs carry ~2 spans on average, bounded by tok_cnt/K), join back on
    // doc_id, and a filter-with-index lambda keeps uncovered tokens — no
    // token-level shuffle beyond the detection's own two exchanges.
    "q_dup_spans_cut" -> ((s, dir) => {
      import graft.functions.TextFns
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("a"))
      val spanArr = DupSpans.spans(docs, k = 5)
        .groupBy(col("doc_id"))
        .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
      docs.join(spanArr, Seq("doc_id"), "left")
        .select(col("doc_id"), size(col("a")).cast("long").as("tok_cnt"),
          filter(col("a"), (t, i) => !DupSpans.covered(i.cast("long"), col("spans")))
            .as("kept"))
        .select(col("doc_id"), col("tok_cnt"),
          size(col("kept")).cast("long").as("kept_tokens"),
          TextFns.md5Long(concat_ws(" ", col("kept"))).as("kept_fp"))
        .orderBy("doc_id")
    }),

    // ——— feature-drift detection (PSI between corpus snapshots) ———
    // The pipeline-QA operator a recurring training-data build needs:
    // population stability index of a feature's distribution between two
    // corpus snapshots (here the established early/late turn_idx split),
    // per role. Laplace-smoothed shares over the OBSERVED bin union (a bin
    // absent from both snapshots contributes nothing — documented, exact,
    // and deterministic), PSI = Σ (pa−pb)·ln(pa/pb). Plan: one scan with
    // conditional partial-aggregating counts per (role, bin), totals as
    // windows over the tiny grouped frame, final per-role aggregate — the
    // same two-exchange shape at any corpus size; alerting thresholds
    // (0.1 / 0.25) are the consumer's business, not the operator's.
    "q_feature_drift" -> ((s, dir) => {
      val b = Tables.turns(s, dir).filter(col("text").isNotNull)
        .select(col("role"),
          when(col("turn_idx") < 20, 1L).otherwise(0L).as("isa"),
          least(length(col("text")), lit(63)).cast("long").as("bin"))
      val g = b.groupBy(col("role"), col("bin"))
        .agg(sum(col("isa")).as("ca"), sum(lit(1L) - col("isa")).as("cb"))
      val wr = Window.partitionBy(col("role"))
      val p = g
        .withColumn("tota", sum(col("ca")).over(wr))
        .withColumn("totb", sum(col("cb")).over(wr))
        .withColumn("pa",
          (col("ca") + 1).cast("double") / (col("tota") + 64).cast("double"))
        .withColumn("pb",
          (col("cb") + 1).cast("double") / (col("totb") + 64).cast("double"))
      p.groupBy(col("role"))
        .agg(count(lit(1)).as("n_bins"),
          round(sum((col("pa") - col("pb")) * log(col("pa") / col("pb"))), 6)
            .as("psi"))
        .orderBy("role")
    }),

    // ——— feature-drift detection, KS form ———
    // The two-sample Kolmogorov–Smirnov statistic between the same two
    // snapshots: max |ECDF_a − ECDF_b| over observed text lengths, per
    // role — the binning-free complement to q_feature_drift's PSI (PSI
    // needs a bin design; KS is exact on the raw values and its final
    // MAX is order-independent, so cross-engine double parity is free).
    // Same plan shape: one scan, conditional counts per (role, len),
    // cumulative windows over the tiny grouped frame, per-role aggregate.
    "q_feature_drift_ks" -> ((s, dir) => {
      val b = Tables.turns(s, dir).filter(col("text").isNotNull)
        .select(col("role"),
          when(col("turn_idx") < 20, 1L).otherwise(0L).as("isa"),
          length(col("text")).cast("long").as("len"))
      val g = b.groupBy(col("role"), col("len"))
        .agg(sum(col("isa")).as("ca"), sum(lit(1L) - col("isa")).as("cb"))
      val wcum = Window.partitionBy(col("role")).orderBy(col("len"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wr = Window.partitionBy(col("role"))
      val e = g
        .withColumn("cuma", sum(col("ca")).over(wcum))
        .withColumn("cumb", sum(col("cb")).over(wcum))
        .withColumn("tota", sum(col("ca")).over(wr))
        .withColumn("totb", sum(col("cb")).over(wr))
      // a role entirely absent from one snapshot is MAXIMUM drift, not a
      // NaN the max would quietly propagate past a `ks > threshold` alert
      // (0/0 ECDFs; doubles don't throw under ANSI) — pin ks = 1.0
      e.groupBy(col("role"))
        .agg(count(lit(1)).as("n_points"),
          round(when(max(col("tota")) === 0L || max(col("totb")) === 0L, lit(1.0))
            .otherwise(max(abs(
              col("cuma").cast("double") / col("tota").cast("double") -
              col("cumb").cast("double") / col("totb").cast("double")))), 6).as("ks"))
        .orderBy("role")
    }),

    // ——— unigram-LM perplexity quality score ———
    // The CCNet-style quality signal: train a unigram language model on
    // the corpus itself (token count ÷ corpus total), score each document
    // by its mean negative log-likelihood — low-NLL docs are boringly
    // typical, high-NLL docs are noise/gibberish; both tails get filtered
    // in production. The LM is the vocabulary aggregate (tiny, broadcast
    // back); scoring is one joined scan + per-doc aggregate. This is the
    // distributed two-pass shape a real KenLM-scored pipeline uses, with
    // the model table standing in for the external LM.
    "q_quality_lm" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      val v = toks.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      val tot = v.agg(sum(col("cnt")).as("total"))
      val lp = v.crossJoin(broadcast(tot))
        .select(col("t"), log(col("cnt").cast("double") / col("total")).as("lp"))
      toks.join(broadcast(lp), Seq("t"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"), round(-avg(col("lp")), 6).as("nll"))
        .orderBy("doc_id")
    }),

    // ——— bigram-LM quality with stupid backoff (KenLM shape) ———
    // q_quality_lm's unigram model scores "is this word common"; the
    // production CCNet/KenLM signal scores "is this word common HERE".
    // This is the bigram step of that ladder with stupid backoff
    // (Brants et al. 2007, "Large Language Models in Machine
    // Translation"): the model trains on a deterministic 80% hash-slice
    // of the corpus and scores ALL documents — training on the full
    // corpus would make every scored bigram seen and the backoff dead
    // code, where a real pipeline always scores with an LM trained
    // elsewhere, so held-out docs genuinely exercise both backoff arms:
    //   p(w2|w1) = c2(w1,w2)/c1(w1)    bigram seen in train
    //            = 0.4·c1(w2)/total    unseen bigram, w2 in train vocab
    //            = 0.4·1/total         OOV floor
    // Scale shape: model tables are map-side-combinable counts; scoring
    // joins are equi-joins on token/bigram keys (a hot "the"-like key is
    // an AQE-skew-splittable JOIN, not a window); the scalar total
    // broadcasts; bigrams are built ROW-LOCALLY from the materialized
    // token array (the trigramArr HOF rules: attribute lambda refs,
    // explode the expression directly).
    "q_quality_lm2" -> ((s, dir) => {
      import graft.functions.TextFns.md5Long
      bigramNll(Tables.documents(s, dir),
        md5Long(concat(lit("lm2#"), col("doc_id").cast("string"))) % 5 =!= 0)
    }),

    // ——— source-mixture token budgeting ———
    // Training-mixture construction: given a token budget (40% of the
    // corpus) split EQUALLY across sources, each source keeps a
    // deterministic hash-share of its documents sized so its expected
    // token take ≈ budget/n_sources, capped at keeping everything.
    // Thresholds are exact integer arithmetic on per-source token sums
    // (a sources-sized frame, broadcast back); membership is the same
    // hash-mod rule as q_sample_hash, so the selection is reproducible
    // at any parallelism and composes with resumable shards. Threshold
    // product 10^6 × budget-tokens stays far inside BIGINT at 100 TB
    // (10^13 tokens → 10^19 < 2^63).
    "q_mix_budget" -> ((s, dir) => {
      import graft.functions.TextFns.md5Long
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("tok_cnt"))
      val bySrc = d.groupBy(col("source")).agg(sum(col("tok_cnt")).as("src_toks"))
      val g = bySrc.agg(count(lit(1)).as("n_src"), sum(col("src_toks")).as("total"))
      val thr = bySrc.crossJoin(broadcast(g))
        .select(col("source"),
          least(expr("1000000 * ((total * 2) div 5) div (n_src * src_toks)"),
            lit(1000000L)).as("thr"))
      d.join(broadcast(thr), Seq("source"))
        .filter(md5Long(col("doc_id").cast("string")) % 1000000 < col("thr"))
        .select(col("doc_id"), col("source"), col("tok_cnt"))
        .orderBy("doc_id")
    }),

    // ——— temperature-weighted mixture sampling ———
    // The multilingual/multi-source rebalancing rule (XLM/mBERT-style):
    // sample source i with probability ∝ (its token share)^α, α < 1 —
    // upweights small sources without letting any source dominate. α = 1/2
    // here because sqrt is IEEE-CORRECTLY-ROUNDED (bit-identical in any
    // engine), keeping the oracle deterministic where a general pow(x, 0.7)
    // is not guaranteed to be; a production α ≠ 1/2 runs the SAME plan with
    // pow and accepts last-ULP rate wobble (documented, like the sketch
    // family). Per-doc keep rate_i = 1e6 · N_target · w_i / (Σw · n_i)
    // evaluated in ONE multiply-then-divide order both engines mirror, then
    // floor()ed to an integer threshold for the hash-mod filter — the same
    // deterministic-at-any-parallelism selection shape as q_mix_budget.
    // Plan: two tiny aggregates (sources-sized, broadcast) + one scan.
    "q_mix_temperature" -> ((s, dir) => {
      import graft.functions.TextFns.md5Long
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("tok_cnt"))
      val bySrc = d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"), sum(col("tok_cnt")).as("src_toks"))
      val g = bySrc.agg(sum(sqrt(col("src_toks").cast("double"))).as("wsum"),
        expr("(sum(n_docs) * 2) div 5").as("n_target"))
      val thr = bySrc.crossJoin(broadcast(g))
        .select(col("source"),
          least(floor(lit(1000000.0) * col("n_target").cast("double") *
              sqrt(col("src_toks").cast("double")) /
              (col("wsum") * col("n_docs").cast("double"))),
            lit(1000000L)).cast("long").as("thr"))
      d.join(broadcast(thr), Seq("source"))
        .filter(md5Long(col("doc_id").cast("string")) % 1000000 < col("thr"))
        .select(col("doc_id"), col("source"), col("tok_cnt"))
        .orderBy("doc_id")
    }),

    // ——— quality-ranked budget selection ———
    // The step after q_mix_budget's RATE sampling when the pipeline wants
    // the BEST documents under each source's token budget rather than a
    // uniform sample: rank each source's docs by quality (deterministic
    // doc_id tiebreak on the 6-dp-rounded score, so both engines order
    // identical doubles identically), take the ranked PREFIX whose running
    // token sum fits the budget (40% of the source's tokens, computed in
    // exact integer arithmetic). One groupBy for budgets (broadcast — it is
    // sources-sized) + the bucketed two-level running sum of
    // [[graft.ops.Ranked.perSource]] (r7): per-source approx-quantile
    // buckets, bucket token offsets, within-bucket running sum — exactly
    // the old single per-source window value without its one-task-per-
    // source sort, so the EXACT prefix rule survives at 10¹² docs (the
    // previously documented approx-cutoff swap is no longer needed for
    // scale — the exact form now scales). Selection is
    // prefix-of-ranked-list, not first-fit: a doc that overflows the budget
    // ends its source's intake (deterministic and engine-portable, where
    // first-fit backtracking is neither).
    "q_mix_select" -> ((s, dir) => {
      import graft.functions.TextFns
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("tok_cnt"),
        round(TextFns.qualityScore(col("text")), 6).as("q"))
        .localCheckpoint() // budgets + perSource (splits + rank) — was 2 scans
      val budgets = d.groupBy(col("source"))
        .agg(expr("(sum(tok_cnt) * 2) div 5").as("budget"))
      // running token sum via the bucketed two-level form (bucket token
      // offsets + within-bucket running sum ≡ the old single per-source
      // window, row for row — RankedSpec), no one-task-per-source sort
      graft.ops.Ranked.perSource(d, "source", "q", "doc_id",
          descQ = true, cumOf = Some("tok_cnt"))
        .join(broadcast(budgets), Seq("source"))
        .withColumn("cum_toks", col("__cum"))
        .filter(col("cum_toks") <= col("budget"))
        .select(col("doc_id"), col("source"), col("tok_cnt"), col("q"),
          col("cum_toks"))
        .orderBy("source", "doc_id")
    }),

    // ——— term / pattern redaction ———
    // The PII-scrubbing shape: a word-boundary alternation built from a
    // redaction dictionary plus a digit-pattern class, applied with
    // global regexp_replace — pure codegen'd scalar work, no shuffle
    // beyond the output sort, so it runs at scan speed on any corpus.
    // The dictionary branch is live on this corpus; the digit pattern
    // (phone-shaped) matches nothing in the synthetic text by design —
    // the count column proves the plumbing without inventing data.
    // Emits match counts and the 60-bit fingerprint of the redacted
    // text (the compact equality witness both engines can hash).
    "q_redact_terms" -> ((s, dir) => {
      import graft.functions.TextFns.md5Long
      val termPat = "\\b(customer|vector)\\b"
      val piiPat = "\\d{3}[-.]\\d{4}"
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(termPat), lit(0)))
            .cast("long").as("n_terms"),
          size(regexp_extract_all(col("text"), lit(piiPat), lit(0)))
            .cast("long").as("n_pii"),
          md5Long(regexp_replace(
            regexp_replace(col("text"), termPat, "<TERM>"),
            piiPat, "<NUM>")).as("red_fp"))
        .orderBy("doc_id")
    }),

    // ——— end-to-end curation funnel ———
    // The full training-data curation pipeline as ONE declarative plan:
    // exact-dedup keeper → quality gate (token-length band + language)
    // → equal-per-source token budgeting, reported as a per-source
    // funnel (raw → dedup → quality → selected). Two corpus passes, the
    // same shape as q_mix_budget: pass 1 reduces keeper rows by
    // fingerprint (one aggregate, min_by picks the keeper's attributes —
    // no window, no sort) down to per-source token sums; the thresholds
    // (sources-sized) broadcast into pass 2, where one fingerprint
    // window + one aggregate emit every funnel stage as conditional
    // counts. Selection reuses the deterministic hash-mod rule, so the
    // curated set is reproducible at any parallelism and composes with
    // resumable shards. LEFT join on thresholds: a source whose docs all
    // fail quality still reports its raw/dedup counts.
    "q_curate" -> ((s, dir) => {
      import graft.functions.TextFns.md5Long
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("tok_cnt"),
          md5Long(col("text")).as("fp"))
      val qOk = col("tok_cnt").between(30, 90) && col("lang") =!= "zh"
      val keepers = d.groupBy(col("fp"))
        .agg(min_by(struct(col("source"), col("lang"), col("tok_cnt")),
          col("doc_id")).as("kr"))
        .select(col("kr.source").as("source"), col("kr.lang").as("lang"),
          col("kr.tok_cnt").as("tok_cnt"))
        .filter(qOk)
      val bySrc = keepers.groupBy(col("source")).agg(sum(col("tok_cnt")).as("src_toks"))
      val g = bySrc.agg(count(lit(1)).as("n_src"), sum(col("src_toks")).as("total"))
      val thr = bySrc.crossJoin(broadcast(g))
        .select(col("source"),
          least(expr("1000000 * ((total * 2) div 5) div (n_src * src_toks)"),
            lit(1000000L)).as("thr"))
      val sel = col("is_keeper") && qOk &&
        md5Long(col("doc_id").cast("string")) % 1000000 < col("thr")
      d.withColumn("is_keeper",
          col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("fp"))))
        .join(broadcast(thr), Seq("source"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_raw"),
          count(when(col("is_keeper"), 1)).as("n_dedup"),
          count(when(col("is_keeper") && qOk, 1)).as("n_quality"),
          count(when(sel, 1)).as("n_selected"),
          coalesce(sum(when(sel, col("tok_cnt"))), lit(0L)).as("toks_selected"))
        .orderBy("source")
    }),

    // ——— exact per-group quantiles (p50/p90/p99 inter-turn gap) ———
    // Spark's `percentile` is the exact sort-based form with R-7 linear
    // interpolation — the same definition as DuckDB's quantile_cont, so
    // the oracle matches without sketch-tolerance hand-waving. Gaps are
    // derived in exact integer micros first (TIMESTAMP_NTZ convention),
    // scaled to float seconds only at the aggregate input. At corpus
    // scale the exact form is one sort per (role) group inside the
    // HashAggregate; swap to approx_percentile when a sketch tolerance
    // is acceptable — same plan shape, no oracle equality.
    "q_gap_quantiles" -> ((s, dir) => {
      TurnScan.lag(Tables.turns(s, dir))
        .withColumn("gap_s", col("delta_ts_us").cast("double") / 1e6)
        .filter(col("gap_s").isNotNull)
        .groupBy(col("role"))
        .agg(
          count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap_s, 0.5D)"), 6).as("p50"),
          round(expr("percentile(gap_s, 0.9D)"), 6).as("p90"),
          round(expr("percentile(gap_s, 0.99D)"), 6).as("p99"))
        .orderBy("role")
    }),

    // ——— incremental feature maintenance (mergeable partials) ———
    // The feature-store upsert path: slice the corpus in time, aggregate
    // each slice to per-conversation sufficient statistics, MERGE the
    // partials, finalize — and the result must equal a single-pass
    // aggregate over everything (the oracle computes exactly that direct
    // form, so the equality IS what this query checks). Split at
    // turn_idx 20: short conversations exist only in the first slice,
    // exercising the one-sided merge path; moments come from exact
    // integer power sums, so both engines run the identical IEEE
    // sequence at finalize.
    "q_incremental" -> ((s, dir) => {
      import graft.features.Incremental
      val t = Tables.turns(s, dir)
      val fams = Set.empty[String] // moments-only store: no sketch passes
      Incremental.finalize(
        Incremental.merge(
          Incremental.partials(t.filter(col("turn_idx") < 20), families = fams),
          Incremental.partials(t.filter(col("turn_idx") >= 20), families = fams)))
        .orderBy("conv_id")
    }),

    // ——— incremental maintenance of the open-set histogram family ———
    // The A3/A20 map histograms are themselves mergeable summaries (key
    // union + per-key count sum via map_zip_with), so the feature-store
    // upsert now covers the reference's most numerous feature family
    // (harmony/utils.py:473-485 interval/chord Counters) without a full
    // recompute. Oracle = the direct single-pass histogram, so the
    // merge≡direct equality IS the check; compared on exploded sorted
    // pairs like q_histogram_map.
    "q_incremental_hist" -> ((s, dir) => {
      import graft.features.Incremental
      val t = Tables.turns(s, dir)
      val fams = Set(Incremental.FamHist)
      Incremental.merge(
        Incremental.partials(t.filter(col("turn_idx") < 20), families = fams),
        Incremental.partials(t.filter(col("turn_idx") >= 20), families = fams))
        .select(col("conv_id"), explode(col("tool_hist")).as(Seq("tool", "n")))
        .orderBy("conv_id", "tool")
    }),

    // ——— mergeable distinct-count sketch (KMV) in the incremental path ———
    // Slice sketches merged through the store equal the direct sketch
    // EXACTLY (k smallest of a union ⊆ union of per-side k smallest), so
    // the oracle below — a direct single-pass KMV over all turns — is the
    // merge-equals-direct correctness statement for cardinality features,
    // estimator arithmetic included (same multiply-then-divide op order in
    // both engines). See functions.Kmv for why KMV and not hll_sketch_agg.
    "q_incremental_distinct" -> ((s, dir) => {
      import graft.features.Incremental
      import graft.functions.Kmv
      val t = Tables.turns(s, dir)
      val fams = Set(Incremental.FamKmv)
      Incremental.merge(
        Incremental.partials(t.filter(col("turn_idx") < 20), families = fams),
        Incremental.partials(t.filter(col("turn_idx") >= 20), families = fams))
        .filter(col("tok_kmv").isNotNull)
        .select(col("conv_id"),
          size(col("tok_kmv")).as("kmv_size"),
          round(Kmv.estimate(col("tok_kmv"), Incremental.KmvK), 6).as("est_distinct"))
        .orderBy("conv_id")
    }),

    // ——— mergeable binned-gap histogram → quantiles in the incremental path ———
    // The deterministic mergeable quantile summary: a fixed-bin (integer
    // hour `div`, overflow at 96) histogram of inter-turn gaps rides the
    // same partials as counts/moments. Unlike KLL/t-digest its merge is a
    // plain key-union count-sum — no absorption-order dependence — and the
    // slice-boundary gap (invisible to either slice) is stitched in at
    // merge from (last_us, first_us), the same trick as `sessions`, so
    // merged ≡ direct exactly (Σcounts = n-1 per conversation). p50_bin is
    // the lower-median bin read off the merged histogram with pure integer
    // rank arithmetic — the quantile feature a store can maintain
    // incrementally at 10¹² turns. Oracle = the direct single-pass binned
    // histogram + the same rank selection.
    "q_incremental_gap_hist" -> ((s, dir) => {
      import graft.features.Incremental
      import org.apache.spark.sql.expressions.Window
      val t = Tables.turns(s, dir)
      val fams = Set(Incremental.FamGapHist)
      val ex = Incremental.merge(
        Incremental.partials(t.filter(col("turn_idx") < 20), families = fams),
        Incremental.partials(t.filter(col("turn_idx") >= 20), families = fams))
        .select(col("conv_id"), explode(col("gap_hist")).as(Seq("bin", "cnt")))
      val wc = Window.partitionBy(col("conv_id")).orderBy(col("bin"))
      val wa = Window.partitionBy(col("conv_id"))
      ex.withColumn("__cum", sum(col("cnt")).over(wc))
        .withColumn("__total", sum(col("cnt")).over(wa))
        .withColumn("p50_bin",
          min(when(col("__cum") * 2 >= col("__total") + 1, col("bin"))).over(wa)
            .cast("int"))
        .drop("__cum", "__total")
        .orderBy("conv_id", "bin")
    }),

    // ——— scale twin of q_gap_quantiles: sketch-based quantiles ———
    // Same derivation and plan shape (one window for gaps, one grouped
    // aggregate), with the exact sort-based percentile swapped for
    // approx_percentile at an explicit accuracy (50000: p99 of a
    // heavy-tailed gap distribution needs tail resolution ~1/accuracy) — the 100-TB path where
    // a per-group value sort is not acceptable. No SQL oracle on purpose
    // (sketch internals are engine-specific, they do not hash-match);
    // OpsVariantsSpec pins it within tolerance of the exact form.
    "q_gap_quantiles_approx" -> ((s, dir) => {
      TurnScan.lag(Tables.turns(s, dir))
        .withColumn("gap_s", col("delta_ts_us").cast("double") / 1e6)
        .filter(col("gap_s").isNotNull)
        .groupBy(col("role"))
        .agg(
          count(lit(1)).as("n_gaps"),
          round(expr("approx_percentile(gap_s, 0.5D, 50000)"), 6).as("p50"),
          round(expr("approx_percentile(gap_s, 0.9D, 50000)"), 6).as("p90"),
          round(expr("approx_percentile(gap_s, 0.99D, 50000)"), 6).as("p99"))
        .orderBy("role")
    }),

    // ——— J1 variant: bounded-staleness as-of join (48h tolerance) ———
    "q_asof_tolerance" -> ((s, dir) =>
      AsOf.join(Tables.turns(s, dir), Tables.state(s, dir),
          "conv_id", "ts", Seq("state_val"), AsOf.AtOrBefore,
          toleranceUs = Some(48L * 3600 * 1000000))
        .select("conv_id", "turn_idx", "state_val")
        .orderBy("conv_id", "turn_idx")),

    // ——— W5 variant: backward fill (first state at-or-after) ———
    "q_bfill_tool" -> ((s, dir) =>
      Backfill.bfill(Tables.turns(s, dir), "tool", "tool_bf")
        .select("conv_id", "turn_idx", "tool_bf")
        .orderBy("conv_id", "turn_idx")),

    // ——— skew path: two-phase salted aggregation (≡ plain groupBy) ———
    "q_salted_census" -> ((s, dir) =>
      Salted.countsAndSums(
          Tables.turns(s, dir).withColumn("text_len", length(col("text")).cast("long")),
          "conv_id", "turn_idx", 16, "n_turns", Map("sum_text_len" -> "text_len"))
        .orderBy("conv_id")),

    // ——— SimHash near-dup pairs: hamming ≤ 6 within source ———
    // Scale path (no all-pairs join): pigeonhole the 60-bit hash into 7
    // bands — hamming ≤ 6 guarantees ≥ 1 band equal — equi-join candidates
    // on (source, band_idx, band_val), verify exact hamming on candidates.
    // Same answer as the quadratic form, but the join is hash-bucketed:
    // cost is Σ bucket² over ~2^9-value buckets, not Σ source².
    "q_simhash_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // source rides the simhash grouping key (r7) — one fewer join back
      // to the corpus scan (spread measured net-negative here: the 60
      // conditional sums partial-aggregate well in one scan task)
      val sh = graft.functions.TextFns.simhash(docs,
        "doc_id", "text", carryCols = Seq("source"))
      val banded = graft.functions.TextFns.hashBands(sh, "simhash", 60, 7)
      NearDup.bucketPairs(banded, Seq("source", "band_idx", "band_val"), "doc_id",
          payload = Seq("simhash"))
        .withColumn("hamming",
          bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).cast("long"))
        .filter(col("hamming") <= 6)
        .select("da", "db", "hamming")
        .orderBy("da", "db")
    }),

    // ——— F1/F2 analog: cadence classification from mean inter-turn gap ———
    "q_cadence" -> ((s, dir) => {
      val us = LagLead.micros(col("ts"))
      Tables.turns(s, dir)
        .groupBy("conv_id")
        .agg(((max(us) - min(us)) / greatest(count(lit(1)) - 1, lit(1)) / 1000000L)
          .as("__gap_s"))
        .select(col("conv_id"), round(col("__gap_s"), 6).as("mean_gap_s"),
          when(col("__gap_s") < 60, "rapid")
            .when(col("__gap_s") < 3600, "active")
            .when(col("__gap_s") < 86400, "slow")
            .otherwise("dormant").as("cadence"))
        .orderBy("conv_id")
    }),

    // ——— A25/O3/G3: tool census string + presence unbundling ———
    "q_tool_census" -> ((s, dir) =>
      Tables.turns(s, dir)
        .groupBy("conv_id")
        .agg(
          array_join(array_sort(collect_set(col("tool"))), ",").as("instrumentation"),
          max(when(col("tool") === "tool_0", 1).otherwise(0)).cast("long").as("has_tool_0"),
          max(when(col("tool") === "tool_1", 1).otherwise(0)).cast("long").as("has_tool_1"),
          max(when(col("tool") === "tool_2", 1).otherwise(0)).cast("long").as("has_tool_2"),
          max(when(col("tool") === "tool_3", 1).otherwise(0)).cast("long").as("has_tool_3"))
        .orderBy("conv_id")),

    // ——— A18/A22 analog: state-transition counts after the as-of join ———
    "q_state_transitions" -> ((s, dir) => {
      val j = AsOf.join(Tables.turns(s, dir), Tables.state(s, dir),
        "conv_id", "ts", Seq("state_val"), AsOf.AtOrBefore)
        .withColumn("state_key", coalesce(col("state_val"), lit("none")))
      // a Window, not the turn scan: the scan lags `role`, and this lags
      // the as-of state
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      j.withColumn("changed",
          when(lag(col("state_key"), 1).over(w).isNotNull &&
            lag(col("state_key"), 1).over(w) =!= col("state_key"), 1).otherwise(0))
        .groupBy("conv_id")
        .agg(
          sum(col("changed")).as("n_transitions"),
          countDistinct(col("state_key")).as("n_states"),
          round(sum(col("changed")).cast("double") / count(lit(1)), 6).as("transition_rate"))
        .orderBy("conv_id")
    }),

    // ——— multimodal metadata: opaque binary payload stats ———
    "q_media_meta" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
          substring(md5(col("text")), 1, 8).as("sig8"))
        .orderBy("doc_id")),

    // ——— generic relational: broadcast dim join + multi-level agg ———
    "q_pricing_by_segment" -> ((s, dir) => {
      // NOTE (r7, measured): spreading the 3-split lineitem scan to the
      // session width before the broadcast joins + countDistinct expand
      // was tried and REVERTED (+1.3s — the round-robin exchange plus
      // 32-task expand cost more than the 3-task layout it replaced)
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      // revenue accumulates in EXACT integer ten-thousandths (price is a
      // 2-decimal currency, discount a 2-decimal fraction → the product is
      // a 4-decimal value; ≤10⁷ cents × ≤100 × ~10⁹ rows stays inside
      // BIGINT): a double sum is accumulation-ORDER-dependent, and at sf0.1
      // Spark's partial-agg order vs DuckDB's sequential order differed by
      // one ULP on a 1.2e9 total, flipping the rounded cent. The half-up
      // round to cents happens in INTEGER arithmetic too ((tt+50) div 100):
      // a total landing on an exact .5-cent midpoint is a tie that
      // float round() breaks differently per engine (Spark rounds the
      // shortest decimal repr, DuckDB the binary value — observed one cent
      // apart at sf0.1). Only the final exact-integer → double division is
      // floating point, and it is bit-identical in any engine.
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_lines"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          sum(round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("__rev_tt"),
          round(avg(col("l_quantity")), 4).as("avg_qty"))
        .withColumn("revenue",
          expr("(__rev_tt + 50) div 100").cast("double") / 100.0)
        .select(col("c_mktsegment"), col("o_orderpriority"), col("n_lines"),
          col("n_orders"), col("revenue"), col("avg_qty"))
        .orderBy("c_mktsegment", "o_orderpriority")
    }),

    // ——— W8 window MODE: per-(conv, window) feature rows ———
    "q_feature_matrix_windowed" -> ((s, dir) =>
      graft.features.Windowed.featureMatrixWindowed(Tables.turns(s, dir))
        .orderBy("conv_id", "window_id")),

    // ——— W8 window mode × FULL module registry (reference: all modules
    //     re-run per window, extract.py:416-464): one fan-out, composite
    //     per-window key, ONE shared HashAggregate of every module's aggs ———
    "q_feature_matrix_windowed_full" -> ((s, dir) =>
      graft.features.Windowed.featureMatrixWindowedFull(
          Tables.turns(s, dir), Some(Tables.state(s, dir)))
        .orderBy("conv_id", "window_id")),

    // ——— W3 motion: resample → derivative → centered rolling mean ———
    // Input re-laid at the session width (r7): motion's resample explode
    // + three window passes are COMPUTE-heavy per row, and under the
    // AQE-coalesced derivation exchange they ran on 2 tasks at fixture
    // size (measured 1.3s across the two window stages). The explicit
    // clusteredPartitions exchange is exempt from coalescing, so the
    // window stack runs at the configured width at any scale; the same
    // treatment was measured a NET LOSS for the cheap turn queries and
    // the wide-row fused aggregates, so it stays per-query (Tables.turns
    // note).
    "q_motion" -> ((s, dir) =>
      graft.features.Windowed.motion(
          graft.ops.Ordered.clusteredPartitions(Tables.turns(s, dir), "conv_id"),
          stepSeconds = 120, win = 2)
        .orderBy("conv_id", "pos")),

    // ——— J6 semi-join include list (limit_files analog) ———
    "q_semi_big_convs" -> ((s, dir) => {
      val t = Tables.turns(s, dir)
      val big = t.groupBy("conv_id").agg(count(lit(1)).as("n")).filter(col("n") > 60)
        .select("conv_id")
      t.join(big, Seq("conv_id"), "left_semi")
        .groupBy("conv_id").agg(count(lit(1)).as("n_turns"))
        .orderBy("conv_id")
    }),

    // ——— J5 anti-join resume (exclude_files analog) ———
    "q_anti_big_convs" -> ((s, dir) => {
      val t = Tables.turns(s, dir)
      val big = t.groupBy("conv_id").agg(count(lit(1)).as("n")).filter(col("n") > 60)
        .select("conv_id")
      t.join(big, Seq("conv_id"), "left_anti")
        .groupBy("conv_id").agg(count(lit(1)).as("n_turns"))
        .orderBy("conv_id")
    }),

    // ——— O3 custom-order sort by reference list (instrument order) ———
    "q_role_order" -> ((s, dir) => {
      val order = Seq("system", "user", "assistant", "tool")
      val rank = order.zipWithIndex.foldLeft(lit(99)) { case (acc, (r, i)) =>
        when(col("role") === r, i).otherwise(acc)
      }
      Tables.turns(s, dir)
        .select(col("conv_id"), col("role"), rank.as("rank"))
        .distinct()
        .groupBy("conv_id")
        .agg(array_join(transform(array_sort(collect_list(struct(col("rank"), col("role")))),
          x => x.getField("role")), ",").as("roles_ordered"))
        .orderBy("conv_id")
    }),

    // ——— IVF ANN: TRAINED 16-centroid codebook, search within cell ———
    // r2 gap closed: the codebook is now trained, not the lowest-16-id
    // stub. Deterministic spherical k-means: seed with the 16 lowest-id
    // vectors, then 3 Lloyd iterations entirely in DataFrame ops —
    // assign = argmax of round(cosine, 6) against the broadcast codebook
    // (one codegen'd dot_product_f per centroid), re-center = element-wise
    // mean via posexplode with components rounded to 6 decimals so the
    // DuckDB oracle reproduces the codebook bit-for-bit; a cell that loses
    // all members drops out (both engines agree). At 100 TB training runs
    // on a sample; the per-iteration shape (broadcast codebook, one corpus
    // pass) is already the scale path.
    "q_knn_ivf" -> ((s, dir) => {
      import graft.functions.VectorFns._
      val (_, assigned) = ivfModel(s, dir)
      val q = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("cell"))
      val sims = broadcast(q).join(assigned, Seq("cell"))
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("cell"), col("vec_id").as("nbr"),
          round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nbr"))
      sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .orderBy("qid", "rank")
    }),

    // ——— IVF ANN with MULTI-PROBE (nprobe = 2) ———
    // q_knn_ivf's single-probe contract has a recall cliff: a query lands
    // in exactly one Voronoi cell and true neighbors across the boundary
    // are unreachable (r5 VERDICT → r6 #3). The standard knob: each query
    // probes its TOP-2 cells by centroid cosine — same broadcast-codebook
    // plan shape, one extra candidate fan-out per query, strictly a
    // superset of the single-probe candidates. Output drops the per-query
    // `cell` column (a query now has two) and keeps the search contract:
    // top-3 neighbors over the probed candidate union.
    "q_knn_ivf_probe2" -> ((s, dir) => {
      import graft.functions.VectorFns._
      val (cents, assigned) = ivfModel(s, dir)
      val qprobe = Tables.embeddings(s, dir).filter(col("vec_id") < 5)
        .crossJoin(broadcast(cents))
        .withColumn("d", round(cosine(col("embedding"), col("cv")), 6))
        .withColumn("r", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("d").desc, col("cent_id"))))
        .filter(col("r") <= 2)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("cent_id").as("cell"))
      val sims = broadcast(qprobe).join(assigned, Seq("cell"))
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("nbr"),
          round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nbr"))
      sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .orderBy("qid", "rank")
    }),

    // ——— semantic dedup in embedding space (SemDeDup shape) ———
    // Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
    // through semantic deduplication"): cluster embeddings with k-means,
    // then WITHIN each cluster drop items whose cosine to another member
    // exceeds τ — semantic near-dups that share no tokens (paraphrases,
    // translations) which MinHash/SimHash cannot see. Keep rule here is
    // deterministic greedy-by-id: x is a duplicate iff some SAME-CELL
    // y < x has cos(x,y) ≥ τ (the published method's arbitrary keep order
    // pinned to ids so both engines agree). Reuses the trained IVF
    // codebook; within-cell pairs come from pack + ordered double-explode
    // (a derived-frame self-join would recompute the k-means assignment
    // on both sides). The per-cell quadratic is the algorithm's published
    // cost envelope — at scale k grows with the corpus to cap cell sizes,
    // and the per-iteration/assignment shape is already the scale path.
    "q_semdedup" -> ((s, dir) => {
      import graft.functions.VectorFns._
      val (_, assigned) = ivfModel(s, dir)
      // Within-cell pairs via a cell-keyed SELF-EQUI-JOIN of the
      // checkpointed assignment (r7b, VERDICT r6): the old whole-cell
      // collect_list packed ~corpus/16 embeddings into ONE row before a
      // double explode — a row-size bomb at scale and a single-task
      // build per cell. The join form generates the identical y < x pair
      // set (same cells, same members), is AQE-skew-splittable on the
      // cell key, and recomputes nothing: `assigned` is materialized, so
      // the two aliases read checkpoint blocks, not the k-means pipeline.
      val pairs = assigned
        .join(assigned.select(col("cell"),
            col("vec_id").as("y_id"), col("embedding").as("y_emb")),
          Seq("cell"))
        .filter(col("y_id") < col("vec_id"))
        .select(col("cell"), col("vec_id").as("vid"),
          round(cosine(col("embedding"), col("y_emb")), 6).as("cs"))
      val dupFlags = pairs.groupBy(col("vid"))
        .agg(max((col("cs") >= 0.35).cast("int")).as("dup"))
      assigned.select(col("vec_id"), col("cell"))
        .join(dupFlags.withColumnRenamed("vid", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          coalesce(col("dup"), lit(0)).cast("int").as("is_dup"))
        .orderBy("vec_id")
    }),

    // ——— custom typed Aggregator: one-pass exact trimmed mean ———
    "q_trimmed_custom" -> ((s, dir) =>
      Tables.turns(s, dir)
        .groupBy("conv_id")
        .agg(round(graft.functions.TrimmedMeanAgg(0.1)(
          length(col("text")).cast("double")), 6).as("len_trim_mean"))
        .orderBy("conv_id")),

    // ——— A10/A11: duration-weighted mean + gradient over the gap axis ———
    "q_weighted_mean" -> ((s, dir) => {
      // a Window, not the turn scan: the weight is the gap to the NEXT
      // turn (lead(ts)), which the scan does not emit
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      val gapS = (LagLead.micros(lead(col("ts"), 1).over(w)) - LagLead.micros(col("ts"))) / 1e6
      Tables.turns(s, dir)
        .withColumn("len", length(col("text")).cast("double"))
        .withColumn("gap_s", gapS)
        .withColumn("dlen", abs(col("len") - lag(col("len"), 1).over(w)))
        .groupBy("conv_id")
        .agg(
          // guard sum(gap)=0 (all turns at one instant): Spark divide gives
          // NULL, DuckDB float division gives NaN/inf — pin both to NULL
          round(when(sum(col("gap_s")) > 0,
            sum(col("len") * col("gap_s")) / sum(col("gap_s"))), 6).as("len_weighted_mean"),
          round(avg(col("dlen")), 6).as("len_gradient_mean"))
        .orderBy("conv_id")
    }),

    // ——— A12 mean-of-nonzero: mean inter-turn gap ignoring zero gaps ———
    "q_mean_nonzero" -> ((s, dir) =>
      TurnScan.lag(Tables.turns(s, dir))
        .groupBy("conv_id")
        .agg(round(avg(when(col("delta_ts_us") =!= 0, col("delta_ts_us") / 1e6)), 6)
          .as("gap_mean_nonzero_s"))
        .orderBy("conv_id")),

    // ——— P6 availability filter: keep conversations where required
    //     signals exist (musiF skips scores missing required parts) ———
    "q_availability" -> ((s, dir) =>
      Tables.turns(s, dir)
        .groupBy("conv_id")
        .agg(count(lit(1)).as("n_turns"),
          count(col("tool")).as("__n_tool"),
          count(when(col("role") === "user", 1)).as("__n_user"))
        .filter(col("__n_tool") > 0 && col("__n_user") > 0)
        .select("conv_id", "n_turns")
        .orderBy("conv_id")),

    // ——— F1/A21 full rule-table classification: broadcast rules table
    //     (token → label, priority) over exploded tokens — the word-list
    //     classifier port (musicxml/tempo.py:63-244 shape) ———
    "q_rule_classify" -> ((s, dir) => {
      import s.implicits._
      val rules = Seq(
        ("join", "relational", 1), ("merge", "relational", 2),
        ("stream", "streaming", 1), ("window", "streaming", 2),
        ("scan", "access", 2), ("data", "data", 3), ("the", "common", 9)
      ).toDF("tok", "label", "prio")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(graft.functions.TextFns.distinctTokens(col("text"))).as("tok"))
      val matched = toks.join(broadcast(rules), Seq("tok"))
        .groupBy("doc_id")
        // composite min (priority, label) encoded as one sortable string —
        // engine-portable arg-min (DuckDB arg_min takes no struct key)
        .agg(min(format_string("%03d|%s", col("prio"), col("label"))).as("__k"))
        .select(col("doc_id"), substring_index(col("__k"), "|", -1).as("label"))
      Tables.documents(s, dir).select(col("doc_id"))
        .join(matched, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), lit("other")).as("label"))
        .orderBy("doc_id")
    }),

    // ——— F1 FULL port: two-level word-list classifier with suffix-
    //     expansion precompute (tempo.py:112-119: base words expanded with
    //     -etto/-issimo/... variants BEFORE matching) and level-1→level-2
    //     collapse (get_tempo_grouped_2, tempo.py:185-244: the matched
    //     variant maps into a coarse family through the same expanded
    //     sets). Level 1 = FIRST matching token in document order (the
    //     reference scans words left to right), with the "ma non" negation
    //     look-back ported as a prev-token guard. The expansion is a
    //     driver-side precompute into one broadcast rule table carrying
    //     (variant → family), so the level-2 collapse is exactly the
    //     expanded-set membership the reference builds. ———
    "q_rule_classify_2level" -> ((s, dir) => {
      import s.implicits._
      val bases = Seq(
        ("join", "relational"), ("merge", "relational"),
        ("stream", "temporal"), ("window", "temporal"),
        ("scan", "access"), ("filter", "access"), ("sort", "access"))
      // suffix expansion (tempo.py:112-119 mechanics: word+suffix and
      // word-minus-last-char+suffix)
      val rules = bases.flatMap { case (w, fam) =>
        (Seq(w, w + "s", w + "ed", w + "ing", w.dropRight(1) + "ing"))
          .map(v => (v, fam))
      }.distinct.toDF("variant", "family")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val guarded = toks.withColumn("prev_tok", lag(col("tok"), 1).over(wOrd))
      val matched = guarded.join(broadcast(rules), col("tok") === col("variant"))
        .filter(coalesce(col("prev_tok"), lit("")) =!= "not")
        .groupBy("doc_id")
        // first match in token order: composite arg-min over (pos, variant,
        // family) encoded as one sortable string (engine-portable)
        .agg(min(format_string("%09d|%s|%s",
          col("pos"), col("variant"), col("family"))).as("__k"))
        .select(col("doc_id"),
          element_at(split(col("__k"), "\\|"), 2).as("label1"),
          element_at(split(col("__k"), "\\|"), 3).as("label2"))
      Tables.documents(s, dir).select(col("doc_id"))
        .join(matched, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label1"), lit("na")).as("label1"),
          coalesce(col("label2"), lit("na")).as("label2"))
        .orderBy("doc_id")
    }),

    // ——— A26 mix-with-precedent + G2 column-group sum, end to end ———
    // Two role-variant matrices of the same conversations merged by the
    // reference's name rules (common.py:39-54): *_max → larger, *_min →
    // smaller, strings → precedent wins, numerics → mean, all
    // null-coalescing; then a G2 column-group sum over the merged frame
    // (process/utils.py:44-225 shape).
    "q_merge_precedent" -> ((s, dir) => {
      val t = Tables.turns(s, dir)
      // len_mean is NOT pre-rounded: avg of integer lengths is an exact
      // integer sum → one IEEE division, bit-identical in both engines —
      // while rounding each variant to 6 digits first MANUFACTURES exact
      // decimal midpoints whose (a+b)/2 sits on a .xxxxxx5 tie that the two
      // engines' round() can break differently (observed at sf0.1:
      // 21.0278595 → 21.027859 vs 21.02786). Round once, at the end.
      def variant(role: String) = t.filter(col("role") === role)
        .groupBy("conv_id").agg(
          max(length(col("text"))).cast("long").as("len_max"),
          min(length(col("text"))).cast("long").as("len_min"),
          avg(length(col("text"))).as("len_mean"),
          count(lit(1)).as("n_turns"),
          first(lit(role)).as("variant_label"))
      val merged = graft.process.PostProcess.mergeWithPrecedent(
        variant("user"), variant("assistant"), Seq("conv_id"))
      graft.process.PostProcess.sumColumnGroup(
          merged, "len_extremes_sum", Seq("len_max", "len_min"))
        .select(col("conv_id"), col("len_max"), col("len_min"),
          round(col("len_mean").cast("double"), 6).as("len_mean"),
          round(col("n_turns").cast("double"), 6).as("n_turns_mean"),
          col("variant_label"),
          round(col("len_extremes_sum"), 6).as("len_extremes_sum"))
        .orderBy("conv_id")
    }),

    // ——— F4 typed metadata probe: JSON-path attribute probe with
    //     absent→null / malformed→null semantics (extract_numeric_tempo,
    //     musicxml/tempo.py:284-311: ElementTree path probe returning None
    //     when the attribute is missing or non-numeric). The turn text's
    //     trailing segment is a semi-structured payload; `$.k` is probed
    //     as a TYPED long, `$.m` exercises the absent path. ———
    "q_meta_probe" -> ((s, dir) =>
      Tables.turns(s, dir)
        .withColumn("__payload", regexp_extract(col("text"), "^[a-z]+:\\d+:(.*)$", 1))
        .select(col("conv_id"), col("turn_idx"),
          // try_cast, not cast: ANSI mode (Spark 4 default) would throw on
          // a non-numeric attribute instead of the promised NULL
          get_json_object(col("__payload"), "$.k").try_cast("long").as("k_probe"),
          get_json_object(col("__payload"), "$.m").try_cast("long").as("m_probe"))
        .orderBy("conv_id", "turn_idx")),

    // ——— F8 label regex parsing: vendored-regex port shape
    //     (harmony/utils.py:719-754) over the turn text encoding ———
    "q_label_parse" -> ((s, dir) =>
      Tables.turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          regexp_extract(col("text"), "^([a-z]+):", 1).as("etype"),
          regexp_extract(col("text"), "^[a-z]+:(\\d+):", 1).cast("long").as("eid"),
          regexp_extract(col("text"), "\"k\": (\\d+)", 1).cast("long").as("k_val"))
        .orderBy("conv_id", "turn_idx")),

    // ——— A4 classified-bucket battery: wide conditional-count columns
    //     (the 66-output bucket battery shape, scoring/handler.py) ———
    "q_bucket_battery" -> ((s, dir) => {
      val len = length(col("text"))
      def bucket(c: org.apache.spark.sql.Column, name: String) =
        sum(when(c, 1L).otherwise(0L)).as(name)
      TurnScan.lag(Tables.turns(s, dir))
        .groupBy("conv_id")
        .agg(
          bucket(len < 50, "n_len_0_49"),
          bucket(len >= 50 && len < 100, "n_len_50_99"),
          bucket(len >= 100 && len < 150, "n_len_100_149"),
          bucket(len >= 150 && len < 200, "n_len_150_199"),
          bucket(len >= 200, "n_len_200_plus"),
          bucket(col("delta_ts_us") < 60000000L, "n_gap_under_1m"),
          bucket(col("delta_ts_us") >= 60000000L && col("delta_ts_us") < 3600000000L, "n_gap_1m_1h"),
          bucket(col("delta_ts_us") >= 3600000000L && col("delta_ts_us") < 86400000000L, "n_gap_1h_1d"),
          bucket(col("delta_ts_us") >= 86400000000L, "n_gap_over_1d"),
          bucket(col("role") === "user" && len >= 100, "n_long_user"),
          bucket(col("role") === "assistant" && len >= 100, "n_long_assistant"),
          bucket(col("tool").isNotNull && col("role") === "tool", "n_tool_role_calls"))
        .orderBy("conv_id")
    }),

    // ——— G1/A3 open-set histogram as MapType, compared on exploded
    //     sorted pairs (SURVEY §7.4#5 protocol); the wide-column export
    //     path (PostProcess.explodeMapToColumns) is spec-verified ———
    "q_histogram_map" -> ((s, dir) => {
      val t = Tables.turns(s, dir)
        .withColumn("tool_key", coalesce(col("tool"), lit("none")))
      OpenHistogram.histMap(t, Seq("conv_id"), "tool_key")
        .select(col("conv_id"), explode(col("hist")).as(Seq("tool_key", "n")))
        .orderBy("conv_id", "tool_key")
    }),

    // ——— A20/G1: normalized open-set histogram (share map), compared on
    //     exploded pairs ———
    "q_histogram_map_share" -> ((s, dir) => {
      val t = Tables.turns(s, dir)
        .withColumn("role_key", col("role"))
      OpenHistogram.histMapShare(t, Seq("conv_id"), "role_key")
        .select(col("conv_id"), explode(col("hist_share")).as(Seq("role_key", "share")))
        .orderBy("conv_id", "role_key")
    }),

    // ——— G1 wide export end-to-end: map histogram → reference-style wide
    //     scalar columns (the last spec-only G1 path, now oracle-pinned) ———
    // The engine's native histogram is ONE map column; the reference's
    // data-dependent wide layout (one scalar column per observed key,
    // prefix.py:64-126 naming) is reproduced at export by
    // explodeMapToColumns + renderReferenceNames. The tool vocabulary is
    // closed (tool_0..tool_3 + none), so the DuckDB twin is a static
    // conditional-sum pivot aliased to the same rendered names.
    "q_export_wide" -> ((s, dir) => {
      val t = Tables.turns(s, dir)
        .withColumn("tool_key", coalesce(col("tool"), lit("none")))
      val hist = OpenHistogram.histMap(t, Seq("conv_id"), "tool_key")
      graft.process.PostProcess.renderReferenceNames(
        graft.process.PostProcess.explodeMapToColumns(hist, "hist", "Hist"))
        .orderBy("conv_id")
    }),

    // ——— P3/P4/P5/G2/G4/O2 post-process pipeline, end to end ———
    // The full DataProcessor second stage (musif/process/processor.py:
    // 116-140) over a per-(conv, week) feature matrix whose sparsity is
    // REAL (a role absent from a window leaves its stats null — 3-18% per
    // column on the fixture at every SF): delete columns by name rule
    // (P3: tmp_ prefix, _raw suffix), drop >95%-null columns (P5 — catches
    // the engineered all-null legacy column and nothing else, so the
    // dynamic column decision is scale-stable and the DuckDB twin can be
    // static), drop rows with >25% nulls (P4: 9 cols → ≤2 nulls survive:
    // a missing role keeps its window, a window missing two signal
    // families is dropped), sum a column group with coalesce-0 (G2), fill
    // remaining *_mean nulls with 0 (G4), priority-first column order
    // (O2/O5). Doubles rounded at the END so every post-process stage sees
    // raw values, same as the reference.
    "q_postprocess" -> ((s, dir) => {
      val len = length(col("text")).cast("double")
      val fm = Tables.turns(s, dir)
        .groupBy(col("conv_id"), window(col("ts").cast("timestamp"), "7 days").as("w"))
        .agg(
          count(lit(1)).as("n_turns"),
          avg(when(col("role") === "user", len)).as("user_len_mean"),
          avg(when(col("role") === "assistant", len)).as("asst_len_mean"),
          avg(when(col("role") === "system", len)).as("sys_len_mean"),
          avg(when(col("tool").isNotNull, col("turn_idx").cast("double"))).as("tool_idx_mean"),
          sum(when(col("role") === "user", len)).as("user_len_sum"),
          sum(when(col("role") === "assistant", len)).as("asst_len_sum"),
          max(len).as("len_peak_raw"),
          count(when(col("role") === "tool", 1)).as("tmp_tool_rows"))
        .withColumn("legacy_score", lit(null).cast("double"))
        .select(col("conv_id"), unix_micros(col("w.start")).as("w_start_us"),
          col("n_turns"), col("user_len_mean"), col("asst_len_mean"),
          col("sys_len_mean"), col("tool_idx_mean"), col("user_len_sum"),
          col("asst_len_sum"), col("len_peak_raw"), col("tmp_tool_rows"),
          col("legacy_score"))
      import graft.process.PostProcess
      val p3 = PostProcess.deleteColumns(fm, prefixes = Seq("tmp_"), suffixes = Seq("_raw"))
      val p5 = PostProcess.dropSparseColumns(p3, 0.95)
      val p4 = PostProcess.dropSparseRows(p5, 0.25)
      val g2 = PostProcess.sumColumnGroup(p4, "len_sum_group", Seq("user_len_sum", "asst_len_sum"))
      val g4 = PostProcess.fillByPredicate(g2, 0.0, _.endsWith("_mean"))
      val out = PostProcess.orderColumns(g4, Seq("conv_id", "w_start_us"))
      out.select(out.columns.map(c =>
        if (out.schema(c).dataType == org.apache.spark.sql.types.DoubleType)
          round(col(c), 6).as(c) else col(c)): _*)
        .orderBy("conv_id", "w_start_us")
    }),

    // ——— W7 tie-merge: fuse consecutive same-role turns (utterances) —
    //     musiF folds a tied note's duration into the note that starts the
    //     tie (density/handler.py:175-197); here each role run is one fused
    //     row: the run's first role, its summed text length, its span ———
    "q_tie_merge" -> ((s, dir) =>
      TurnScan.runs(Tables.turns(s, dir))
        .groupBy(col("conv_id"), col("run_id").as("fuse_id"))
        .agg(
          min_by(col("role"), col("turn_idx")).as("role"),
          sum(length(col("text")).cast("long")).as("len_sum"),
          count(lit(1)).as("n_fused"),
          min(col("turn_idx")).as("start_turn_idx"),
          max(col("turn_idx")).as("end_turn_idx"))
        .orderBy("conv_id", "fuse_id")),

    // ——— W6 stateful ordered scan: tool-call episode assembly with
    //     silence reset (flatMapSortedGroups escape hatch) ———
    "q_tool_episodes" -> ((s, dir) =>
      StatefulScan.toolEpisodes(Tables.turns(s, dir), resetSeconds = 604800L)
        .toDF()
        .orderBy("conv_id", "episode_id")),

    // ——— native event-time tumbling windows (streaming-shared form) ———
    "q_tumbling_weeks" -> ((s, dir) =>
      Tables.turns(s, dir)
        .groupBy(col("conv_id"), window(col("ts").cast("timestamp"), "7 days").as("w"))
        .agg(count(lit(1)).as("n_turns"), count(col("tool")).as("n_tool_calls"))
        .select(col("conv_id"), unix_micros(col("w.start")).as("w_start_us"),
          col("n_turns"), col("n_tool_calls"))
        .orderBy("conv_id", "w_start_us")),

    // ——— FLAGSHIP: the full per-conversation wide feature matrix ———
    // All modules fused: one enrich chain (native as-of merge, then lag +
    // session + run windows over one sort) over the ordered turns, session
    // and run statistics folded into window columns + conditional aggs and
    // the trimmed mean into the aggregate, so the whole matrix is one
    // parquet scan, one full-table exchange, and ONE shared HashAggregate
    // pair (shape pinned by PlanShapeSpec).
    "q_feature_matrix" -> ((s, dir) =>
      graft.features.FeatureRegistry.featureMatrix(
          Tables.turns(s, dir), Some(Tables.state(s, dir)))
        .orderBy("conv_id")),

    // ——— F5 string repeat/casing + F11/F12 padding & position arithmetic
    //     (native codegen'd functions; oracle-pinned so the two previously
    //     "trivial, untested" SURVEY rows are hash-checked like the rest) ———
    "q_string_ops" -> ((s, dir) =>
      Tables.turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          upper(col("role")).as("role_uc"),
          lower(col("role")).as("role_lc"),
          expr("repeat('*', turn_idx % 5)").as("marker"),
          lpad(col("turn_idx").cast("string"), 4, "0").as("idx_pad"),
          substring(col("text"), 1, 8).as("text_head"))
        .orderBy("conv_id", "turn_idx")),

    // ——— O7 limit as deterministic top-k (total tiebreak order) ———
    "q_top_convs" -> ((s, dir) =>
      Tables.turns(s, dir)
        .groupBy("conv_id").agg(count(lit(1)).as("n_turns"))
        .orderBy(col("n_turns").desc, col("conv_id"))
        .limit(10)),

    // ——— ANN index quality: recall@k of the LSH index vs brute truth ———
    // "Measure, don't guess" applied to the index itself: an approximate
    // search operator is only done when its recall is a NUMBER the pipeline
    // recomputes whenever the index parameters change (band count/width,
    // plane set) — the index-evaluation job every production ANN deployment
    // runs. Built ON the registry's own entries (not re-stated pipelines),
    // so it measures exactly the shipped q_knn_lsh against exactly the
    // shipped q_knn_brute ground truth; both rank with the same
    // deterministic tiebreak (cos desc, nbr), so the set intersection is
    // well-defined in both engines. Plan: two query-driven pipelines whose
    // results are queries×k-sized, a semi-join + two tiny aggregates — at
    // any corpus size the recall stage itself is query-set-sized (the cost
    // lives in the underlying index/truth scans). At 100 TB the truth side
    // runs over a SAMPLED query panel (vec_id < 5 here is the fixture's
    // panel) — recall estimation never needs corpus×corpus work.
    "q_knn_recall" -> ((s, dir) => {
      val truth = queries("q_knn_brute")(s, dir).select(col("qid"), col("nbr"))
      val approx = queries("q_knn_lsh")(s, dir).select(col("qid"), col("nbr"))
      val hits = truth.join(broadcast(approx), Seq("qid", "nbr"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
      truth.groupBy(col("qid")).agg(count(lit(1)).as("n_true"))
        .join(broadcast(hits), Seq("qid"), "left")
        .select(col("qid"), col("n_true"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)).cast("double") /
            col("n_true"), 6).as("recall"))
        .orderBy("qid")
    }),

    // ——— n-gram novelty: per-doc fraction of first-seen trigrams ———
    // The diversity/redundancy curation signal (the "how much of this doc
    // is new to the corpus" axis that dedup's binary keep/drop flattens):
    // a trigram is NOVEL in the first doc (by doc_id) that contains it, and
    // a doc's novelty is its novel share of distinct trigrams. Boilerplate-
    // heavy and near-duplicate docs score near 0; the corpus's first
    // occurrence of new content scores near 1. Shapes for scale: grams are
    // distinct ROW-LOCALLY (array_distinct before explode — no corpus-wide
    // distinct shuffle), the shuffle key is the 60-bit md5 of the gram
    // (8 bytes, never the gram text; same collision bound as exact dedup —
    // ~n²/2⁶¹ expected colliding gram pairs), and the gram frame shuffles
    // exactly ONCE: per-doc novel counts are read off the first-occurrence
    // frame itself (n_novel(doc) = |{grams whose min(doc_id) = doc}| — a
    // second map-side-combinable groupBy chained on the already-exchanged
    // min() output, no join back to gram occurrences), while n_grams is
    // row-local (|distinct gram array|). A hot boilerplate trigram is
    // absorbed by partial aggregation in BOTH stages — there is no
    // gram-sized join or window anywhere for skew to poison (measured at
    // sf0.1, tokens materialized per [[trigramArr]]: this one-exchange
    // form 1.7s vs 2.1s for the join-back form — and 11.4s vs 8.7s before
    // the materialization, i.e. the attribute matters 5× more than the
    // plan shape here). Docs with < 3 tokens or null text surface with
    // n_grams = 0 and null novelty.
    "q_ngram_novelty" -> ((s, dir) => {
      import graft.functions.TextFns.md5Long
      val d = Tables.documents(s, dir)
      val tokd = d.select(col("doc_id"), split(col("text"), " ").as("a"))
      val novel = tokd
        .select(col("doc_id"), explode(trigramArr(col("a"))).as("gram"))
        .select(col("doc_id"), md5Long(col("gram")).as("gh"))
        .groupBy(col("gh")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
      tokd.select(col("doc_id"),
          size(trigramArr(col("a"))).cast("long").as("n_grams"))
        .join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          when(col("n_grams") > 0,
            round(coalesce(col("n_novel"), lit(0L)).cast("double") /
              col("n_grams"), 6)).as("novelty"))
        .orderBy("doc_id")
    }),

    // ——— sequence-length bucketing: padding-waste accounting ———
    // The batch-shape planning job behind length-grouped batching: assign
    // every doc to the smallest power-of-two context length that holds it
    // and account, per bucket, how many pad tokens that batch shape burns
    // (padded = bucket · n_docs; waste = 1 − real/padded). The ladder is a
    // LITERAL case chain — no log2() float round-trip, so bucket assignment
    // is exact integer logic both engines evaluate identically (IEEE log2
    // of an exact power of two is not guaranteed correctly rounded; a CASE
    // ladder is); docs past the top rung clamp to it (a production ladder
    // extends the literal list). waste is one correctly-rounded double
    // division of exact integers. Plan: one scan + one map-side-combinable
    // groupBy over ≤ 9 keys — scan speed at any corpus size.
    "q_length_buckets" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(coalesce(size(split(col("text"), " ")).cast("long"), lit(0L))
          .as("tok_cnt"))
      val edges = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)
      val bucket = edges.dropRight(1).reverse
        .foldLeft(lit(edges.last): org.apache.spark.sql.Column) { (acc, e) =>
          when(col("tok_cnt") <= e, lit(e)).otherwise(acc)
        }
      d.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok_cnt")).as("sum_tokens"))
        .select(col("bucket"), col("n_docs"), col("sum_tokens"),
          (col("bucket") * col("n_docs")).as("padded_tokens"),
          round(lit(1.0) - col("sum_tokens").cast("double") /
            (col("bucket") * col("n_docs")).cast("double"), 6).as("waste"))
        .orderBy("bucket")
    }),

    // ——— vocabulary growth curve (Heaps'-law saturation diagnostic) ———
    // "Is more data still adding new content?" — the dataset-sizing
    // question answered by how many NEW distinct trigrams each corpus
    // decile introduces (flattening curve ⇒ saturation ⇒ marginal data is
    // increasingly redundant). TRIGRAM granularity deliberately: the
    // single-token vocabulary of any real corpus (and this fixture)
    // saturates in the first decile — a 1-row curve — while n-gram
    // vocabulary keeps growing, which is what the sizing decision needs.
    // Same first-occurrence machinery as q_ngram_novelty (its corpus-level
    // companion): row-local distinct grams over the materialized token
    // attribute ([[trigramArr]]), 60-bit hashed shuffle key, one
    // map-side-combinable min() groupBy; deciles are doc_id RANGES via
    // exact integer div against a broadcast 1-row max (no rank sort), so
    // the curve is one tiny aggregate over the first-occurrence frame + a
    // 10-row running sum. Scan-speed at any corpus (0.9s at sf0.1).
    "q_vocab_growth" -> ((s, dir) => {
      import graft.functions.TextFns.md5Long
      val d = Tables.documents(s, dir)
      val first = d.select(col("doc_id"), split(col("text"), " ").as("a"))
        .select(col("doc_id"), explode(trigramArr(col("a"))).as("gram"))
        .select(col("doc_id"), md5Long(col("gram")).as("gh"))
        .groupBy("gh").agg(min(col("doc_id")).as("first_doc"))
      val mx = d.agg((max(col("doc_id")) + lit(1L)).as("n"))
      val dec = first.crossJoin(broadcast(mx))
        .select(expr("(first_doc * 10) div n").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("n_new_grams"))
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.withColumn("vocab_cum", sum(col("n_new_grams")).over(w))
        .orderBy("decile")
    }),

    // ——— cross-source quality calibration: per-source percent-rank ———
    // Raw quality scores are NOT comparable across sources (a 0.7 in a
    // forum dump ≠ a 0.7 in curated reference text — different length and
    // punctuation regimes), so mixture design thresholds on the CALIBRATED
    // score: each doc's percent-rank within its source. A threshold
    // q_pct ≥ x then selects the same top (1−x) slice of EVERY source —
    // the rank-normalization step quality-stratified mixtures run before
    // q_mix_select. Engine-exact by construction: the order key is
    // (6-dp-rounded q, doc_id) — a total order with no ties — so
    // percent_rank = (rank−1)/(n−1) is a correctly-rounded division of
    // exact integers in both engines (no stddev/mean float accumulation, a
    // z-score's order-dependent sums would not hash-match). Plan (r7):
    // the rank comes from [[graft.ops.Ranked.perSource]] — approx-quantile
    // buckets + bucket offsets + within-bucket row_number, EXACTLY equal
    // to the old single per-source window sort (RankedSpec) without its
    // one-task-per-source full sort (the registry's last scale-killer
    // shape, VERDICT r6 #1); the n==1 guard reproduces percent_rank's
    // pinned 0.0.
    "q_quality_calibrate" -> ((s, dir) => {
      import graft.functions.TextFns
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        round(TextFns.qualityScore(col("text")), 6).as("q"))
        .localCheckpoint() // referenced twice by perSource (splits + rank)
      graft.ops.Ranked.perSource(d, "source", "q", "doc_id")
        .withColumn("q_pct",
          round(when(col("__n") === 1L, lit(0.0))
            .otherwise((col("__rn") - 1L).cast("double") /
              (col("__n") - 1L).cast("double")), 6))
        .select(col("doc_id"), col("source"), col("q"), col("q_pct"))
        .orderBy("doc_id")
    }),

    // ——— quality-threshold operating curve (retention sweep) ———
    // The decision table BEHIND q_quality_calibrate's threshold: for
    // every per-source quality cut t ∈ {0.0, 0.1, …, 0.9}, how many
    // documents and tokens survive — the "how much do I lose at each
    // bar" curve a mixture designer reads before fixing q_pct ≥ t.
    // Buckets are EXACT INTEGER percent-rank tenths:
    // (10·(rank−1)) div (n−1), capped at 9 — never floor(q_pct·10),
    // whose ×10-then-floor of an inexact double is a float boundary.
    // Each doc fans out to the thresholds it passes (explode ≤ 10 rows,
    // collapsed map-side by the partial aggregate — the shuffle is
    // sources×10 at ANY corpus size); the rank rides the bucketed
    // two-level form (the calibrate r7 note — no per-source full sort);
    // a threshold row exists iff some doc passes it (single-doc sources
    // emit only t = 0.0 — bucket (n−1)=0 guard). Membership is the
    // EXACT rank ratio, not calibrate's 6-dp-rounded published q_pct:
    // at n−1 ≥ 2×10⁶ a boundary doc within 5e-7 of a tenth can round
    // up in q_pct while the sweep (and any exact selection) counts it
    // below the bar — the integer rule here is the authoritative,
    // float-boundary-free selection.
    "q_quality_sweep" -> ((s, dir) => {
      import graft.functions.TextFns
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("tok_cnt"),
        round(TextFns.qualityScore(col("text")), 6).as("q"))
        .localCheckpoint() // referenced twice by perSource (splits + rank)
      val per = Window.partitionBy(col("source"))
      // rank via the bucketed two-level form (no per-source full sort —
      // the calibrate r7 note); bucket stays the exact integer tenth rule
      val b = graft.ops.Ranked.perSource(d, "source", "q", "doc_id")
        .withColumnRenamed("__rn", "rk").withColumnRenamed("__n", "n")
        .withColumn("bucket",
          least(expr("(10 * (rk - 1)) div greatest(n - 1, 1)"), lit(9L)))
      // src_toks IS the t=0 row's token sum (every doc has bucket ≥ 0),
      // read back via a window over the sources×10 frame — a second
      // corpus scan just to re-total tokens would double the query's I/O
      b.select(col("source"), col("tok_cnt"),
          explode(sequence(lit(0L), col("bucket"))).as("thr_tenths"))
        .groupBy("source", "thr_tenths")
        .agg(count(lit(1)).as("docs_kept"), sum(col("tok_cnt")).as("tokens_kept"))
        .withColumn("src_toks",
          max(when(col("thr_tenths") === 0L, col("tokens_kept"))).over(per))
        .select(col("source"), col("thr_tenths"), col("docs_kept"),
          col("tokens_kept"),
          round(col("tokens_kept").cast("double") / col("src_toks").cast("double"), 6)
            .as("token_share"))
        .orderBy("source", "thr_tenths")
    }),

    // ——— MinHash estimator calibration: estimated vs exact Jaccard ———
    // The companion measurement to q_knn_recall, for the dedup side:
    // MinHash-LSH keeps/drops documents based on an 8-seed ESTIMATE of
    // Jaccard, and this query measures that estimator against the exact
    // verified value over the live candidate set — the calibration job
    // that tells a pipeline owner whether k = 8 seeds is enough before
    // trusting the banding at a new threshold. est = matching-seed share
    // (k/8 — exactly representable, so the 6-dp round is engine-exact);
    // exact = the verify stage's Jaccard, UNfiltered (calibration needs
    // the whole candidate range, not just ≥ 0.9 keepers); abs_err is one
    // IEEE subtract of two identical doubles. ONE minhash pass total: the
    // per-doc signature vector is computed once and BOTH derived forms —
    // band keys ([[lshBandKeys]], the banding of lshBandSigs) and the est
    // seed-match — slice it; candidates come from NearDup.bucketPairs,
    // exact sides resolve in one documents scan (NearDup.resolvePairs,
    // Jaccard without the threshold).
    "q_minhash_error" -> ((s, dir) => {
      import graft.functions.TextFns._
      val docs = Tables.documents(s, dir)
      // Per-doc 8-slot signature, row-local (the MinHashExpr kernel after
      // the spread), MATERIALIZED once: the frame is referenced three
      // times (banding + both per-side signature joins) and each lazy
      // reference would re-execute the whole minhash pipeline. A NULL-text
      // doc keeps a NULL sig, which bands to no rows and so never pairs.
      val sig = spreadSmallScan(docs)
        .select(col("doc_id"), col("source"), minhashSig(col("text"), MinHashK).as("sig"))
        .localCheckpoint()
      val banded = sig.select(col("doc_id"), col("source"),
        posexplode(lshBandKeys(col("sig"))).as(Seq("band", "bkey")))
      val cand = NearDup.bucketPairs(banded, Seq("source", "band", "bkey"), "doc_id")
      val exact = NearDup.resolvePairs(docs, cand, "doc_id", tokenSet, ("sa", "sb"))
        .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
        .select(col("da"), col("db"), (col("i").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("i"))).as("j"))
      exact
        .join(sig.select(col("doc_id").as("da"), col("sig").as("siga")), Seq("da"))
        .join(sig.select(col("doc_id").as("db"), col("sig").as("sigb")), Seq("db"))
        .withColumn("n_match", aggregate(zip_with(col("siga"), col("sigb"),
          (a, b) => when(a === b, 1).otherwise(0)), lit(0), (acc, x) => acc + x))
        .select(col("da"), col("db"),
          round(col("n_match").cast("double") / MinHashK, 6).as("est_jaccard"),
          round(col("j"), 6).as("jaccard"),
          round(abs(col("n_match").cast("double") / MinHashK - round(col("j"), 6)), 6)
            .as("abs_err"))
        .orderBy("da", "db")
    }),
  )

  /** Per-document CDC chunk signatures — ONE definition for q_chunk_dedup
    * and q_chunk_dedup_skew: token hashes → 4-gram rolling hash → ≡0 (mod
    * 16) boundaries → chunk strings → 60-bit sigs. Entirely row-local
    * higher-order Column algebra (one projection, no shuffle, no UDF).
    */
  private def cdcChunkSigs(s: SparkSession, dir: String,
                           spread: Boolean = true): DataFrame = {
    import graft.functions.TextFns
    // spread before the md5-per-token chunking (r7, see spreadSmallScan);
    // the skew twin materializes the projection and measured better
    // keeping the scan's narrow layout for its checkpoint
    val d = Tables.documents(s, dir)
    (if (spread) spreadSmallScan(d) else d)
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .withColumn("h", TextFns.cdcHashes(col("a")))
      .withColumn("cuts", TextFns.cdcCuts(col("a"), col("h")))
      .select(col("doc_id"),
        explode(TextFns.cdcChunks(col("a"), col("cuts"))).as("chunk"))
      .select(col("doc_id"), TextFns.md5Long(col("chunk")).as("sig"))
  }

  /** Shared body of q_dup_spans / q_dup_spans_skew — per-doc span counts
    * over [[graft.ops.DupSpans.spans]]; `skewSafe` picks the marking
    * strategy (window vs aggregate+join), the output contract is identical
    * and both map to the SAME oracle SQL.
    */
  private def dupSpansQuery(s: SparkSession, dir: String,
                            skewSafe: Boolean): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("a"))
    // spread only the shingle branch (md5 per k-window is the heavy
    // row-local work); the tok_cnt branch is a cheap size() projection.
    // The skew twin materializes the shingle projection (localCheckpoint
    // inside dupPositions) and measured better on the narrow scan layout.
    val agg = DupSpans.spans(if (skewSafe) docs else spreadSmallScan(docs),
      k = 5, skewSafe = skewSafe)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1L).as("dup_tokens"))
    docs.select(col("doc_id"), size(col("a")).cast("long").as("tok_cnt"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tok_cnt"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("tok_cnt"), 6)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Rare-shingle-blocked asymmetric containment (q_containment's body,
    * factored so the spec can drive it with a hand-built fixture). Input
    * needs (doc_id, text); emits (inner_doc, outer_doc, containment) for
    * every direction whose trigram containment |A∩B|/|A| clears 0.9 —
    * exact-integer threshold (10·i ≥ 9·n), rounded score for reporting
    * only. See the registry entry's comment for the blocking contract; a
    * document made entirely of corpus-hot shingles is left to
    * [[graft.ops.DupSpans.spans]] (CorpusStatsSpec "containment ↔ dup
    * spans hand-off").
    */
  private[graft] def containmentPairs(docs: DataFrame): DataFrame = {
    import graft.functions.TextFns.md5Long
    // The trigram-hash frame is MATERIALIZED once (r7): it is referenced
    // by three consumers (the df count, the rare-bucket join side, and
    // the verify sets), and each lazy reference re-executed the scan +
    // trigram + md5 pipeline (3 planned copies measured in the r6 plan).
    // On a multi-executor cluster swap localCheckpoint for
    // persist(DISK_ONLY) — same trade as DupSpans.spansSkewSafe.
    // r7b: the checkpoint holds ONE row per doc (the per-doc distinct
    // trigram hash ARRAY) instead of one row per (doc, gram) — same
    // bytes, ~10³× fewer rows through the block manager, and the verify
    // side reads the checkpoint as is (the old per-gram form needed a
    // corpus-wide collect_list exchange to rebuild exactly this array).
    // The md5-per-gram work is unchanged (one hash per distinct gram,
    // row-local); postings for the df gate and the rare buckets are
    // explodes OF the checkpoint, sharing its one gh exchange.
    val g = spreadSmallScan(docs)
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .select(col("doc_id"),
        transform(trigramArr(col("a")), gr => md5Long(gr)).as("hs"))
      .localCheckpoint()
    val posting = g.select(col("doc_id"), explode(col("hs")).as("gh"))
    // Candidates in two hot-key-safe stages: (1) df per shingle via a
    // map-side-combinable count (a boilerplate shingle partially
    // aggregates — never one task's buffer), filtered to rare BEFORE any
    // list exists; (2) only RARE postings (df ≤ 10) bucket-group into doc
    // lists, so collect_list is bounded ≤ 10 by construction. Both stages
    // exchange g on gh, so the scan feeds one reusable shuffle.
    val rare = posting.groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 10)).select("gh")
    val cand = NearDup.bucketPairs(posting.join(rare, Seq("gh")), Seq("gh"), "doc_id")
    // Verify: the checkpoint row already holds the per-doc distinct
    // trigram hashes (trigramArr applies array_distinct before hashing),
    // so it IS the side's set — its size doubles as |A|/|B| (the oracle's
    // `sz` counts exactly these elements) and the intersection is
    // row-local over bounded arrays. Measured 3× faster than re-joining
    // per-gram postings and regrouping on (da, db, gh): the array form
    // ships each side once per pair instead of one shuffled row per gram
    // per pair. array_intersect is order-insensitive, so element order
    // cannot change any output.
    val j = NearDup.resolvePairs(g, cand, "doc_id", col("hs"), ("sa", "sb"))
      .select(col("da"), col("db"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("i"),
        size(col("sa")).cast("long").as("na"),
        size(col("sb")).cast("long").as("nb"))
    j.select(col("i"), explode(array(
        struct(col("da").as("inner_doc"), col("db").as("outer_doc"), col("na").as("n")),
        struct(col("db").as("inner_doc"), col("da").as("outer_doc"), col("nb").as("n")))).as("d"))
      .filter(col("i") * 10 >= col("d.n") * 9)
      .select(col("d.inner_doc").as("inner_doc"), col("d.outer_doc").as("outer_doc"),
        round(col("i").cast("double") / col("d.n"), 6).as("containment"))
      .orderBy("inner_doc", "outer_doc")
  }

  /** Gopher/MassiveText document-filter battery (q_gopher_filters's
    * body, factored so the spec can drive rule boundaries with crafted
    * docs). Input needs (doc_id, text).
    */
  private[graft] def gopherFilters(docs: DataFrame): DataFrame = {
    // token array projected ONCE as an attribute — the five HOF measures
    // below are CodegenFallback, so an inlined split would re-tokenize
    // every row ~5× (the trigramArr CSE trap). \A...\z anchors, not
    // ^...$: Java's non-MULTILINE $ matches before a final \n where
    // RE2's does not — a trailing-newline token would desync engines.
    val t = col("a")
    val n = size(t).cast("long")
    val sumLen = aggregate(t, lit(0L), (acc, x) => acc + length(x))
    val symCnt = size(filter(t, x =>
      x.contains("#") || x.contains("..."))).cast("long")
    // FULLY-alphabetic tokens, an intentional deviation (ADVICE r6): the
    // cited MassiveText rule (Rae et al. §A1.1) only requires a token to
    // CONTAIN one alphabetic character; this corpus is single-line
    // synthetic text where the strict form keeps the rule live (the
    // contains-alpha form passes every token). Both engines implement the
    // same strict predicate, so parity is unaffected.
    val alphaCnt = size(filter(t, x => x.rlike("\\A[A-Za-z]+\\z"))).cast("long")
    val stopCnt = size(filter(t, x =>
      x.isin("the", "a", "is", "of", "and", "to", "in"))).cast("long")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .select(col("doc_id"), n.as("n_tok"), sumLen.as("sum_len"),
        symCnt.as("sym"), alphaCnt.as("alpha"), stopCnt.as("stop"))
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") >= 50 && col("n_tok") <= 100000).as("f_len"),
        (col("sum_len") >= lit(3L) * col("n_tok") &&
          col("sum_len") <= lit(10L) * col("n_tok")).as("f_word_len"),
        (lit(10L) * col("sym") <= col("n_tok")).as("f_symbol"),
        (lit(5L) * col("alpha") >= lit(4L) * col("n_tok")).as("f_alpha"),
        (col("stop") >= 2L).as("f_stopwords"))
      .withColumn("passes",
        col("f_len") && col("f_word_len") && col("f_symbol") &&
          col("f_alpha") && col("f_stopwords"))
      .orderBy("doc_id")
  }

  /** Containment-dedup keeper set (q_contain_prune's body): remove every
    * strictly contained doc; mutual-containment groups keep the min id.
    * Rides [[containmentPairs]]; the rule is pairs-local.
    */
  private[graft] def containPrune(docs: DataFrame): DataFrame = {
    // One aggregate over the unordered pair key replaces the
    // pairs⋈reversed-pairs self-join (which would re-plan the whole
    // containment pipeline per side): per {lo, hi}, which directions
    // cleared the threshold decides the removal —
    //   lo⊂hi only → remove lo;  hi⊂lo only → remove hi;
    //   mutual (near-exact dups) → remove hi (keep the min id).
    val removed = containmentPairs(docs)
      .select(least(col("inner_doc"), col("outer_doc")).as("lo"),
        greatest(col("inner_doc"), col("outer_doc")).as("hi"),
        (col("inner_doc") < col("outer_doc")).as("fwd"))
      .groupBy("lo", "hi")
      .agg(max(when(col("fwd"), 1L).otherwise(0L)).as("lo_in_hi"),
        max(when(!col("fwd"), 1L).otherwise(0L)).as("hi_in_lo"))
      .select(when(col("lo_in_hi") === 1L && col("hi_in_lo") === 0L, col("lo"))
        .otherwise(col("hi")).as("doc_id"))
      .distinct()
    docs.select("doc_id").join(removed, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Per-source governance datasheet (q_corpus_card's body, factored so
    * the spec can drive it with crafted frames). Input needs
    * (source, text, lang).
    */
  private[graft] def corpusCard(docs: DataFrame): DataFrame = {
    import graft.functions.TextFns.fingerprint
    val d = docs.select(col("source"),
      size(split(col("text"), " ")).cast("long").as("tok_cnt"),
      fingerprint(col("text")).as("fp"), col("lang"))
    val byFp = d.groupBy("source", "fp").agg(
      count(lit(1)).as("n"), sum(col("tok_cnt")).as("toks"),
      sum(when(col("tok_cnt") < 50, 1L).otherwise(0L)).as("short"))
    val stats = byFp.groupBy("source").agg(
      sum(col("n")).as("n_docs"), sum(col("toks")).as("total_tokens"),
      sum(col("short")).as("short_docs"),
      count(lit(1)).as("n_distinct_fp"))
    // NULL-lang guard (ADVICE r6): the DuckDB twin's argmax key
    // (printf('%020d', c) || lang) goes NULL for a NULL-lang group and
    // max() skips it, while a bare max(struct(c, lang)) here would still
    // let that group win on count. Wrapping the struct in a NULL-lang
    // `when` reproduces the oracle's skip exactly (max ignores NULL
    // inputs; an all-NULL-lang source yields a NULL top_lang both sides).
    // Latent on this fixture (no NULL langs) — aligned for the general
    // contract, output unchanged.
    val top = d.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .groupBy("source").agg(
        max(when(col("lang").isNotNull, struct(col("c"), col("lang")))).as("m"))
      .select(col("source"), col("m.lang").as("top_lang"),
        col("m.c").as("top_lang_cnt"))
    stats.join(broadcast(top), Seq("source"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round(col("total_tokens").cast("double") / col("n_docs").cast("double"), 6)
          .as("mean_tokens"),
        round(col("short_docs").cast("double") / col("n_docs").cast("double"), 6)
          .as("short_share"),
        col("n_distinct_fp"),
        round(lit(1.0) - col("n_distinct_fp").cast("double") / col("n_docs").cast("double"), 6)
          .as("exact_dup_rate"),
        col("top_lang"),
        round(col("top_lang_cnt").cast("double") / col("n_docs").cast("double"), 6)
          .as("top_lang_share"))
      .orderBy("source")
  }

  /** Bigram-LM NLL with stupid backoff (q_quality_lm2's body, factored
    * so the spec can inject a hand-built train split). `train` is a
    * boolean Column over the doc frame selecting the model's training
    * slice; every document is scored. Docs with < 2 tokens (or null
    * text) have no bigrams and drop out, matching the oracle's WHERE.
    */
  private[graft] def bigramNll(docs: DataFrame, train: Column): DataFrame = {
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("a"),
      train.as("train"))
    val bg = d.select(col("doc_id"), col("train"),
        explode(when(size(col("a")) >= 2,
          transform(sequence(lit(2), size(col("a"))),
            i => struct(element_at(col("a"), i - 1).as("w1"),
              element_at(col("a"), i).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("doc_id"), col("train"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val toks = d.select(col("train"), explode(col("a")).as("t"))
    val c1 = toks.filter(col("train")).groupBy("t").agg(count(lit(1)).as("c1"))
    val c2 = bg.filter(col("train")).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c2"))
    val tot = c1.agg(sum(col("c1")).as("total"))
    bg.join(c2, Seq("w1", "w2"), "left")
      .join(c1.withColumnRenamed("t", "w1").withColumnRenamed("c1", "cw1"),
        Seq("w1"), "left")
      .join(c1.withColumnRenamed("t", "w2").withColumnRenamed("c1", "cw2"),
        Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("c2").isNotNull,
          log(col("c2").cast("double") / col("cw1").cast("double")))
          .when(col("cw2").isNotNull,
            log(lit(0.4) * col("cw2").cast("double") / col("total").cast("double")))
          .otherwise(log(lit(0.4) / col("total").cast("double"))).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(-avg(col("lp")), 6).as("nll2"))
      .orderBy("doc_id")
  }

  /** Verified MinHash-LSH near-dup pairs (da < db, jaccard ≥ 0.9) — ONE
    * definition for `q_neardup_lsh` and the dedup-completion queries (its
    * oracle twin is [[neardupPairsCtes]]): [[lshBandSigs]] banding,
    * [[graft.ops.NearDup.bucketPairs]] candidates, [[lshVerify]]. The
    * band key is the 60-bit md5Long of the 4-minhash CSV, not the ~40-char
    * string (8-byte shuffle key, same buckets — collision odds
    * ~|keys|²/2^61).
    *
    * @param carrySource ride the bucket's `source` onto each emitted pair
    *        (pairs are within-source BY CONSTRUCTION — the band bucket key
    *        includes `source` — so the column is functionally dependent on
    *        `da` and adding it to the pre-verify distinct cannot change the
    *        pair set). Saves q_dup_matrix two corpus joins.
    */
  private[graft] def neardupLshPairs(s: SparkSession, dir: String,
                                     carrySource: Boolean = false): DataFrame =
    neardupLshPairs(Tables.documents(s, dir), carrySource)

  /** [[neardupLshPairs]] over a `documents` frame the caller also reads
    * (the dedup-completion queries cluster the same scan). */
  private[graft] def neardupLshPairs(docs: DataFrame, carrySource: Boolean): DataFrame = {
    val carry = if (carrySource) Seq("source") else Nil
    val cand = NearDup.bucketPairs(lshBandSigs(docs), Seq("source", "band", "bkey"),
      "doc_id", carry = carry)
    lshVerify(docs, cand, carry)
  }

  /** MinHash slots per signature: 2 bands of 4. */
  private final val MinHashK = 8

  /** Per-(doc, band) LSH signature rows `(doc_id, band, bkey, source)` —
    * the banding stage of [[neardupLshPairs]], shared with
    * `q_incremental_neardup`. One row per doc_id in `docs`.
    */
  private[graft] def lshBandSigs(docs: DataFrame): DataFrame = {
    // Row-local after the spread: the MinHashExpr kernel signs each doc
    // where it lands (no token explode, no per-doc exchange to collect
    // minima — bit-identical to that min-aggregate form, MinHashSpec), and
    // `source` simply rides the row. The signature is its own projection
    // so the band keys slice it instead of re-running the kernel.
    spreadSmallScan(docs)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFns.minhashSig(col("text"), MinHashK).as("sig"))
      .select(col("doc_id"), posexplode(lshBandKeys(col("sig"))).as(Seq("band", "bkey")),
        col("source"))
  }

  /** The 2 band keys of an 8-slot signature: md5Long of each 4-slot CSV
    * (decimal minhashes joined by ","); NULL for a NULL signature, so it
    * explodes to no rows. A generator over this EXPRESSION, not over a
    * `sig` attribute, so InferFiltersFromGenerate adds no `size(sig) > 0`
    * filter that PushDownPredicates would push under the projection —
    * re-running the kernel there (the trap [[trigramArr]] describes).
    */
  private def lshBandKeys(sig: Column): Column =
    when(sig.isNotNull, array((0 until 2).map(b =>
      graft.functions.TextFns.md5Long(concat_ws(",",
        (4 * b until 4 * b + 4).map(i => sig(i).cast("string")): _*))): _*))

  /** Exact-Jaccard verify of candidate pairs (da < db) → pairs with
    * jaccard ≥ 0.9; both sides' token sets come from one documents scan
    * ([[graft.ops.NearDup.resolvePairs]]).
    */
  private def lshVerify(docs: DataFrame, cand: DataFrame,
                        carryCols: Seq[String] = Nil): DataFrame =
    NearDup.resolvePairs(docs, cand, "doc_id", tokenSet, ("sa", "sb"), carry = carryCols)
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("i").cast("double") / (size(col("sa")) + size(col("sb")) - col("i")))
      .filter(col("jaccard") >= 0.9)
      .select((Seq(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard")) ++
        carryCols.map(col)): _*)

  /** A document's distinct whitespace tokens — the Jaccard verify side of
    * [[lshVerify]] and q_minhash_error.
    */
  private def tokenSet: Column = array_distinct(split(col("text"), " "))

  /** Oracle twin of [[graft.ops.DupSpans.spans]] (k = 5): the CTE chain up
    * to `spn` (per-doc maximal duplicated spans, 0-based inclusive s/e),
    * shared by the q_dup_spans and q_dup_spans_cut oracles so the shingle
    * width, dup rule, and island break cannot desync. Shingle at 0-based
    * pos i covers tokens a[i+1 : i+5] in DuckDB's 1-based inclusive slice.
    */
  private val dupSpanCtes: String =
    """d AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
      |sh AS (SELECT doc_id,
      |  unnest(list_transform(range(0, len(a) - 4), i -> {'pos': i,
      |    'sig': ('0x' || substr(md5(array_to_string(a[i+1 : i+5], ' ')), 1, 15))::BIGINT})) AS s
      |  FROM d WHERE len(a) >= 5),
      |sp AS (SELECT doc_id, s.pos AS pos, s.sig AS sig FROM sh),
      |dp AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
      |    min(doc_id) OVER (PARTITION BY sig) <> max(doc_id) OVER (PARTITION BY sig) AS dup
      |  FROM sp) WHERE dup),
      |isl AS (SELECT doc_id, pos,
      |  sum(CASE WHEN prev IS NULL OR pos > prev + 5 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM (SELECT doc_id, pos,
      |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM dp)),
      |spn AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 4 AS e
      |  FROM isl GROUP BY 1, 2)""".stripMargin

  /** ONE oracle for q_dup_spans AND q_dup_spans_skew — the two registry
    * entries are physical variants (window vs aggregate+join marking) of
    * the same operator, so they must share the semantic twin verbatim.
    */
  private val dupSpansOracle: String =
    s"""WITH $dupSpanCtes,
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens FROM spn GROUP BY 1)
      |SELECT d.doc_id, CAST(len(a) AS BIGINT) AS tok_cnt,
      |  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
      |  round(CAST(coalesce(dup_tokens, 0) AS DOUBLE) / len(a), 6) AS dup_frac
      |FROM d LEFT JOIN agg USING (doc_id)
      |ORDER BY 1""".stripMargin

  /** ONE oracle for q_chunk_dedup AND q_chunk_dedup_skew (same
    * physical-variant-twin rule as [[dupSpansOracle]]). DuckDB lists are
    * 1-indexed with inclusive slices; range(a,b) is end-exclusive, so b
    * holds 1-based boundary positions in [4, n-1] — the same cut set as
    * the Spark filter over sequence(4, n-1).
    */
  private val chunkDedupOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
      |hd AS (SELECT doc_id, a,
      |  list_transform(a, t -> (('0x' || substr(md5(t), 1, 15))::BIGINT) % 1048576) AS h FROM d),
      |bd AS (SELECT doc_id, a,
      |  list_filter(range(4, len(a)), i ->
      |    (h[i-3] + h[i-2]*31 + h[i-1]*961 + h[i]*29791) % 16 = 0) AS b FROM hd),
      |cd AS (SELECT doc_id, a,
      |  [CAST(0 AS BIGINT)] || b || [CAST(len(a) AS BIGINT)] AS cuts FROM bd),
      |ch AS (SELECT doc_id,
      |  unnest(list_transform(range(1, len(cuts)),
      |    c -> array_to_string(a[cuts[c]+1 : cuts[c+1]], ' '))) AS chunk FROM cd),
      |sg AS (SELECT doc_id, ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS sig FROM ch),
      |sc AS (SELECT sig, count(*) AS n_occ FROM sg GROUP BY 1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(count(CASE WHEN n_occ > 1 THEN 1 END) AS BIGINT) AS dup_chunks
      |FROM sg JOIN sc USING (sig) GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** ONE oracle for q_dedup_clusters AND q_dedup_clusters_star: the two
    * registry entries run different component algorithms —
    * `Components.minLabel` (one driver union-find when the pair graph fits
    * the broadcast budget, else star contraction) vs O(log n) star
    * contraction directly — against one semantic contract: the
    * recursive-CTE transitive closure seeded from ALL documents
    * (singletons keep themselves).
    */
  private lazy val dedupClustersOracle: String =
    s"""WITH RECURSIVE $neardupPairsCtes,
       |pairs AS (SELECT da, db FROM ver WHERE j >= 0.9),
       |edges AS (SELECT da AS src, db AS dst FROM pairs
       |          UNION ALL SELECT db, da FROM pairs),
       |reach AS (
       |  SELECT doc_id, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.src AS doc_id, reach.r FROM reach JOIN edges e ON e.dst = reach.doc_id
       |)
       |SELECT doc_id, min(r) AS keeper FROM reach GROUP BY 1
       |ORDER BY doc_id""".stripMargin

  /** Oracle twin of [[containmentPairs]] up to `j` (per-candidate exact
    * trigram intersection + both docs' distinct-trigram counts), shared
    * by the q_containment and q_contain_prune oracles so the blocking
    * rule and threshold arithmetic cannot desync.
    */
  private val containmentCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE text IS NOT NULL),
      |g AS (
      |  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram
      |    FROM toks)),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |rare AS (SELECT gh FROM (SELECT gh, count(*) AS df FROM g GROUP BY 1)
      |         WHERE df BETWEEN 2 AND 10),
      |rg AS (SELECT g.doc_id, g.gh FROM g JOIN rare ON rare.gh = g.gh),
      |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      |  FROM rg x JOIN rg y ON y.gh = x.gh AND x.doc_id < y.doc_id),
      |inter AS (SELECT c.da, c.db, count(*) AS i
      |  FROM cand c
      |  JOIN g ga ON ga.doc_id = c.da
      |  JOIN g gb ON gb.doc_id = c.db AND gb.gh = ga.gh
      |  GROUP BY 1, 2),
      |j AS (SELECT i.da, i.db, i.i, sa.n AS na, sb.n AS nb
      |  FROM inter i
      |  JOIN sz sa ON sa.doc_id = i.da
      |  JOIN sz sb ON sb.doc_id = i.db)""".stripMargin

  /** Oracle twin of [[neardupLshPairs]]: the CTE chain up to `ver`
    * (candidate pairs + exact-Jaccard verify), shared by the q_neardup_lsh
    * and q_dedup_clusters oracles so the pair definition cannot desync.
    */
  private val neardupPairsCtes: String =
    """toks AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
      |seeds AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS seed),
      |mh AS (
      |  SELECT t.doc_id, s.seed,
      |    min(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || '|' || t.tok), 1, 15))::BIGINT) AS m
      |  FROM toks t, seeds s GROUP BY 1, 2),
      |bands0 AS (
      |  SELECT doc_id, seed // 4 AS band,
      |    ('0x' || substr(md5(string_agg(m::VARCHAR, ',' ORDER BY seed)), 1, 15))::BIGINT AS bkey
      |  FROM mh GROUP BY 1, 2),
      |bands AS (SELECT b.*, d.source FROM bands0 b JOIN documents d USING (doc_id)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.source = b.source
      |       AND a.doc_id < b.doc_id),
      |sets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s FROM documents),
      |ver AS (
      |  SELECT c.da, c.db,
      |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |      / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS j
      |  FROM cand c JOIN sets x ON c.da = x.doc_id JOIN sets y ON c.db = y.doc_id)""".stripMargin

  /** DuckDB cosine over two DOUBLE[] expressions (the oracle twin of
    * VectorFns.cosine: left-to-right list_sum matches DotProductExpr's
    * accumulation order).
    */
  private def duckCos(a: String, b: String): String =
    s"list_sum(list_apply(list_zip($a, $b), t -> t[1] * t[2]))" +
      s" / (sqrt(list_sum(list_apply($a, x -> x * x)))" +
      s" * sqrt(list_sum(list_apply($b, x -> x * x))))"

  /** Oracle twin of `VectorFns.bandedSignature` (32 md5-derived integer
    * planes, 4 bands × 8 bits): CTEs `planes`/`dots`/`sig`/`bands` over
    * the `embeddings` view. One definition for both LSH paths. Null-strict
    * like DotProductExpr (ADVICE r3): an embedding with dim ≠ 64 or any
    * NULL element gets a NULL dot → bit 0, never a silent partial sum.
    */
  private def duckBandsCte(nPlanes: Int = 32, nBands: Int = 4): String = {
    val width = nPlanes / nBands
    val mask = (1 << width) - 1
    s"""planes AS (
       |  SELECT p.p, d.d,
       |    (('0x' || substr(md5(p.p || ':' || d.d), 1, 15))::BIGINT % 2001) - 1000 AS w
       |  FROM (SELECT unnest(range(0, $nPlanes)) AS p) p,
       |       (SELECT unnest(range(1, 65)) AS d) d),
       |dots AS (
       |  SELECT e.vec_id, pl.p,
       |    CASE WHEN min(CASE WHEN len(e.embedding) = 64
       |                        AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
       |                  THEN 1 ELSE 0 END) = 1
       |         THEN sum(e.embedding[pl.d]::DOUBLE * pl.w) END AS dot
       |  FROM embeddings e, planes pl GROUP BY 1, 2),
       |sig AS (
       |  SELECT vec_id,
       |    sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS s
       |  FROM dots GROUP BY 1),
       |bands AS (
       |  SELECT vec_id, b.b AS band_idx, (s >> (b.b * $width)) & $mask AS band_val
       |  FROM sig, (SELECT unnest(range(0, $nBands)) AS b) b)""".stripMargin
  }

  /** Trained IVF codebook + cell assignment — ONE definition for q_knn_ivf
    * and q_knn_ivf_probe2. Deterministic spherical k-means: seed with the
    * 16 lowest-id vectors, then 3 Lloyd iterations entirely in DataFrame
    * ops — assign = argmax of round(cosine, 6) against the broadcast
    * codebook (one codegen'd dot_product_f per centroid), re-center =
    * element-wise mean via posexplode with components rounded to 6
    * decimals so the DuckDB oracle reproduces the codebook bit-for-bit; a
    * cell that loses all members drops out (both engines agree). At 100 TB
    * training runs on a sample; the per-iteration shape (broadcast
    * codebook, one corpus pass) is already the scale path.
    *
    * The codebook is PINNED per iteration: a CODEBOOK-sized collect (16
    * rows × dim doubles — bounded by k, not by data) makes each Lloyd
    * iteration ONE corpus pass against a literal broadcast codebook.
    * Without pinning, the lazy lineage re-executes every prior iteration
    * at each reference (measured: 20 parquet scans in the plan vs
    * 1-per-iteration pinned). Driver-side codebook exchange between
    * iterations is the standard shape for distributed k-means at any
    * scale.
    *
    * @return (codebook (cent_id, cv), assigned (vec_id, embedding, cell))
    */
  private def ivfModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.functions.VectorFns._
    val e = Tables.embeddings(s, dir)
    val seed = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"),
        transform(col("embedding"), x => x.cast("double")).as("cv"))
    def pinCodebook(df: DataFrame): DataFrame = {
      import scala.jdk.CollectionConverters._
      s.createDataFrame(df.collect().toSeq.asJava, df.schema)
    }
    // Argmax per vector as a PARTIAL-AGGREGABLE max_by over the
    // (d, −cent_id) struct (r7) — identical selection to the previous
    // row_number window (rank 1 by d desc, cent_id asc: highest cosine,
    // lowest id on ties — cent_id is unique within a vec_id so the struct
    // order is total), but the k-way fan-out collapses map-side instead
    // of shuffling k rows per vector into a window sort.
    def assign(c: DataFrame): DataFrame =
      e.crossJoin(broadcast(c))
        .withColumn("d", round(cosine(col("embedding"), col("cv")), 6))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cent_id"),
            struct(col("d"), (-col("cent_id")).as("nc"))).as("cell"),
          first(col("embedding")).as("embedding"))
    val cents = (1 to 3).foldLeft(seed) { (c, _) =>
      pinCodebook(assign(c)
        .select(col("cell").as("cent_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cent_id", "pos").agg(avg(col("v").cast("double")).as("m"))
        .groupBy("cent_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => round(x.getField("m"), 6)).as("cv")))
    }
    // materialized once (r7): q_knn_ivf and q_semdedup each reference the
    // assignment twice (query side + candidate side), and each lazy
    // reference re-ran the crossJoin + argmax pass
    val assigned = assign(cents)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .localCheckpoint()
    (cents, assigned)
  }

  /** Oracle twin of [[ivfModel]]: the CTE chain from raw embeddings to the
    * trained codebook (`c3`) and the per-vector cell `assigned`, shared by
    * the q_knn_ivf and q_knn_ivf_probe2 oracles so the model cannot
    * desync between the single-probe and multi-probe twins.
    */
  private lazy val ivfModelCtes: String =
    s"""e2 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, emb AS cv FROM e2 WHERE vec_id < 16),
       |${ivfIter(1)},
       |${ivfIter(2)},
       |${ivfIter(3)},
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${duckCos("e.emb", "c.cv")}, 6) DESC, c.cent_id) AS r
       |    FROM e2 e, c3 c)
       |  WHERE r = 1)""".stripMargin

  /** One unrolled Lloyd iteration for the q_knn_ivf oracle: assign every
    * vector to its argmax-rounded-cosine centroid from `c{i-1}`, then
    * re-center cells as element-wise means rounded to 6 decimals (the
    * exact twin of the Spark fold in q_knn_ivf).
    */
  private def ivfIter(i: Int): String =
    s"""a$i AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${duckCos("e.emb", "c.cv")}, 6) DESC, c.cent_id) AS r
       |    FROM e2 e, c${i - 1} c)
       |  WHERE r = 1),
       |c$i AS (
       |  SELECT cell AS cent_id, list(round(m, 6) ORDER BY pos) AS cv FROM (
       |    SELECT cell, pos, avg(v) AS m FROM (
       |      SELECT cell, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v
       |      FROM a$i)
       |    GROUP BY 1, 2)
       |  GROUP BY cell)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_turns_base" -> Oracle.withTurns(
      "SELECT conv_id, turn_idx, role, text, tool, ts FROM turns ORDER BY conv_id, turn_idx"),

    "q_lag_features" -> Oracle.withTurns(
      """SELECT conv_id, turn_idx,
        |  lag(role) OVER w AS prev_role,
        |  lead(role) OVER w AS next_role,
        |  epoch_us(ts) - epoch_us(lag(ts) OVER w) AS delta_ts_us,
        |  lag(length(text)) OVER w AS prev_text_len
        |FROM turns
        |WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        |ORDER BY conv_id, turn_idx""".stripMargin),

    // identical semantics to q_sessionize — the blocked scan must be
    // row-identical to the single-window form
    "q_sessionize_blocked" -> Oracle.withTurns(
      s"""SELECT conv_id, turn_idx,
        |  CAST(sum(CASE WHEN gap_us > ${SessionGapSeconds}000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
        |FROM (SELECT conv_id, turn_idx,
        |        epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx)) AS gap_us
        |      FROM turns)
        |ORDER BY conv_id, turn_idx""".stripMargin),

    "q_sessionize" -> Oracle.withTurns(
      s"""SELECT conv_id, turn_idx,
        |  CAST(sum(CASE WHEN gap_us > ${SessionGapSeconds}000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
        |FROM (SELECT conv_id, turn_idx,
        |        epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx)) AS gap_us
        |      FROM turns)
        |ORDER BY conv_id, turn_idx""".stripMargin),

    "q_session_stats" -> (s"WITH ${Oracle.turnsCte},\n" +
      s"""sess AS (
        |  SELECT conv_id, turn_idx,
        |    sum(CASE WHEN gap_us > ${SessionGapSeconds}000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM (SELECT conv_id, turn_idx,
        |          epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx)) AS gap_us
        |        FROM turns)
        |), per AS (SELECT conv_id, session_id, count(*) AS n FROM sess GROUP BY 1, 2)
        |SELECT conv_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |       round(avg(n), 6) AS sess_len_mean,
        |       CAST(max(n) AS BIGINT) AS sess_len_max
        |FROM per GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_asof_state" -> Oracle.withTurnsAndState(
      """SELECT t.conv_id, t.turn_idx, s.state_val
        |FROM turns t ASOF LEFT JOIN state s
        |  ON t.conv_id = s.conv_id AND t.ts >= s.ts
        |ORDER BY t.conv_id, t.turn_idx""".stripMargin),

    "q_asof_exec" -> Oracle.withTurnsAndState(
      """SELECT t.conv_id, t.turn_idx, s.state_val
        |FROM turns t ASOF LEFT JOIN state s
        |  ON t.conv_id = s.conv_id AND t.ts >= s.ts
        |ORDER BY t.conv_id, t.turn_idx""".stripMargin),

    "q_asof_exec_strict" -> Oracle.withTurnsAndState(
      """SELECT t.conv_id, t.turn_idx, s.state_val
        |FROM turns t ASOF LEFT JOIN state s
        |  ON t.conv_id = s.conv_id AND t.ts > s.ts
        |ORDER BY t.conv_id, t.turn_idx""".stripMargin),

    "q_asof_exec_tolerance" -> Oracle.withTurnsAndState(
      """, u AS (
        |  SELECT conv_id, ts, turn_idx, CAST(NULL AS VARCHAR) AS sv, 0 AS is_state FROM turns
        |  UNION ALL
        |  SELECT conv_id, ts, NULL, state_val, 1 FROM state
        |), f AS (
        |  SELECT conv_id, ts, turn_idx, is_state,
        |    last_value(CASE WHEN is_state = 1 THEN {'sts': ts, 'sval': sv} END IGNORE NULLS)
        |      OVER w AS st
        |  FROM u WINDOW w AS (PARTITION BY conv_id ORDER BY ts, is_state DESC
        |                      ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT conv_id, turn_idx,
        |  CASE WHEN epoch_us(ts) - epoch_us(st.sts) <= 172800000000
        |       THEN st.sval END AS state_val
        |FROM f WHERE is_state = 0 ORDER BY conv_id, turn_idx""".stripMargin),

    "q_asof_multi" -> (
      s"""WITH ${Oracle.turnsCte},
         |${Oracle.stateCte},
         |${Oracle.state2Cte}
         |SELECT t.conv_id, t.turn_idx, s.state_val, s2.load_val
         |FROM turns t
         |ASOF LEFT JOIN state s ON t.conv_id = s.conv_id AND t.ts >= s.ts
         |ASOF LEFT JOIN state2 s2 ON t.conv_id = s2.conv_id AND t.ts >= s2.ts
         |ORDER BY t.conv_id, t.turn_idx""".stripMargin),

    "q_asof_strict" -> Oracle.withTurnsAndState(
      """SELECT t.conv_id, t.turn_idx, s.state_val
        |FROM turns t ASOF LEFT JOIN state s
        |  ON t.conv_id = s.conv_id AND t.ts > s.ts
        |ORDER BY t.conv_id, t.turn_idx""".stripMargin),

    "q_backfill_tool" -> Oracle.withTurns(
      """SELECT conv_id, turn_idx,
        |  last_value(tool IGNORE NULLS)
        |    OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS tool_ff
        |FROM turns ORDER BY conv_id, turn_idx""".stripMargin),

    "q_census_role" -> Oracle.withTurns(
      """SELECT conv_id, role,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(count(tool) AS BIGINT) AS n_tool_calls,
        |  CAST(count(DISTINCT tool) AS BIGINT) AS n_distinct_tools,
        |  CAST(min(length(text)) AS BIGINT) AS text_len_min,
        |  CAST(max(length(text)) AS BIGINT) AS text_len_max,
        |  round(avg(length(text)), 6) AS text_len_mean,
        |  round(stddev_samp(length(text)), 6) AS text_len_std
        |FROM turns GROUP BY conv_id, role ORDER BY conv_id, role""".stripMargin),

    "q_moments" -> Oracle.withTurns(
      """SELECT conv_id,
        |  round(avg(length(text)), 6) AS len_mean,
        |  round(stddev_samp(length(text)), 6) AS len_std,
        |  round(CASE WHEN count(*) >= 3 AND stddev_samp(length(text)) > 0
        |        THEN skewness(length(text)) END, 6) AS len_skew,
        |  round(CASE WHEN count(*) >= 4 AND stddev_samp(length(text)) > 0
        |        THEN kurtosis(length(text)) END, 6) AS len_kurt
        |FROM turns GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_trimmed_mean" -> Oracle.withTurns(
      """SELECT conv_id, round(avg(len), 6) AS len_trim_mean
        |FROM (
        |  SELECT conv_id, CAST(length(text) AS DOUBLE) AS len,
        |         row_number() OVER (PARTITION BY conv_id ORDER BY length(text)) AS rn,
        |         count(*) OVER (PARTITION BY conv_id) AS n
        |  FROM turns)
        |WHERE rn > floor(n * 0.1) AND rn <= n - floor(n * 0.1)
        |GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_rolling_textlen" -> Oracle.withTurns(
      """SELECT conv_id, turn_idx,
        |  round(avg(length(text)) OVER (PARTITION BY conv_id ORDER BY turn_idx
        |        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS len_roll5
        |FROM turns ORDER BY conv_id, turn_idx""".stripMargin),

    "q_runlength_roles" -> Oracle.withTurnsCtes(
      """runs AS (
        |  SELECT conv_id,
        |    sum(CASE WHEN prev IS NULL OR prev <> role THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM (SELECT conv_id, turn_idx, role,
        |          lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
        |        FROM turns)
        |), per AS (SELECT conv_id, run_id, count(*) AS run_len FROM runs GROUP BY 1, 2)
        |SELECT conv_id, CAST(count(*) AS BIGINT) AS n_runs,
        |       round(avg(run_len), 6) AS run_len_mean,
        |       CAST(max(run_len) AS BIGINT) AS run_len_max
        |FROM per GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_texture_pairs" -> Oracle.withTurnsCtes(
      """c AS (SELECT conv_id, role, count(*) AS n FROM turns GROUP BY 1, 2)
        |SELECT a.conv_id, a.role AS role_a, b.role AS role_b,
        |  round(CASE WHEN b.n = 0 THEN (CASE WHEN a.n > 0 THEN 'inf'::DOUBLE ELSE 'nan'::DOUBLE END)
        |        ELSE CAST(a.n AS DOUBLE) / b.n END, 6) AS ratio
        |FROM c a JOIN c b ON a.conv_id = b.conv_id AND a.role < b.role
        |ORDER BY a.conv_id, role_a, role_b""".stripMargin),

    "q_scope_rollup" -> Oracle.withTurns(
      """SELECT conv_id,
        |  CASE WHEN GROUPING(role) = 0 THEN 'role'
        |       WHEN GROUPING(tool) = 0 THEN 'tool' ELSE 'conv' END AS scope,
        |  CASE WHEN GROUPING(role) = 0 THEN role
        |       WHEN GROUPING(tool) = 0 THEN coalesce(tool, 'none') ELSE '*' END AS grp_key,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  round(avg(length(text)), 6) AS text_len_mean
        |FROM turns
        |GROUP BY GROUPING SETS ((conv_id, role), (conv_id, tool), (conv_id))
        |ORDER BY conv_id, scope, grp_key""".stripMargin),

    "q_density" -> Oracle.withTurns(
      """SELECT conv_id,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  round(CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE) / 3.6e9, 6) AS active_hours,
        |  round(CASE WHEN max(epoch_us(ts)) > min(epoch_us(ts))
        |        THEN count(*) / (CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE) / 3.6e9)
        |        END, 6) AS turns_per_hour,
        |  round(CAST(count(tool) AS DOUBLE) / count(*), 6) AS tool_call_density
        |FROM turns GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_first_last" -> Oracle.withTurns(
      """SELECT conv_id,
        |  arg_min(role, turn_idx) AS first_role,
        |  arg_max(role, turn_idx) AS last_role,
        |  min(ts) AS first_ts,
        |  max(ts) AS last_ts,
        |  arg_max(text, CAST(length(text) AS BIGINT) * 1000000 + turn_idx) AS longest_text
        |FROM turns GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_window_agg" -> Oracle.withTurnsCtes(
      """convn AS (SELECT conv_id, count(*) AS n FROM turns GROUP BY 1),
        |wins AS (SELECT conv_id, unnest(range(0, CAST(greatest((n - 2) // 6, 1) AS BIGINT))) AS wid
        |         FROM convn)
        |SELECT w.conv_id, CAST(w.wid AS INTEGER) AS window_id,
        |       CAST(count(*) AS BIGINT) AS n_turns,
        |       round(avg(length(t.text)), 6) AS len_mean
        |FROM wins w JOIN turns t
        |  ON t.conv_id = w.conv_id AND t.turn_idx BETWEEN w.wid * 6 AND w.wid * 6 + 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_asof_histogram" -> Oracle.withTurnsAndState(
      """, j AS (
        |  SELECT t.conv_id, coalesce(s.state_val, 'none') AS state_key
        |  FROM turns t ASOF LEFT JOIN state s
        |    ON t.conv_id = s.conv_id AND t.ts >= s.ts
        |), c AS (SELECT conv_id, state_key, count(*) AS n FROM j GROUP BY 1, 2)
        |SELECT conv_id, state_key, CAST(n AS BIGINT) AS n,
        |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY conv_id), 6) AS share
        |FROM c ORDER BY conv_id, state_key""".stripMargin),

    "q_text_stats" -> (
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
        |  round((CAST(length(text) AS DOUBLE) - (len(string_split(text, ' ')) - 1))
        |        / len(string_split(text, ' ')), 6) AS mean_tok_len,
        |  round(CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','is','of','and','to','in'))) AS DOUBLE)
        |        / len(string_split(text, ' ')), 6) AS stopword_ratio,
        |  round(ln(1.0 + len(string_split(text, ' '))) *
        |        (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','is','of','and','to','in'))) AS DOUBLE)
        |          / len(string_split(text, ' '))), 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin),

    // regex evaluated ONCE per row in the inner projection; nullif guards
    // the whitespace-only-conversation case to NULL (Spark side mirrors
    // with a `when` guard — ANSI Divide would throw there, inf here)
    "q_token_count" -> Oracle.withTurns(
      """SELECT conv_id,
        |  CAST(sum(ws) AS BIGINT) AS n_ws,
        |  CAST(sum(bpe) AS BIGINT) AS n_bpe,
        |  round(CAST(sum(ch) AS DOUBLE) / nullif(sum(bpe), 0), 6) AS chars_per_tok
        |FROM (SELECT conv_id,
        |    len(string_split(text, ' ')) AS ws,
        |    len(regexp_extract_all(text,
        |      '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+')) AS bpe,
        |    length(text) AS ch
        |  FROM turns WHERE text IS NOT NULL)
        |GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_lang_id" -> (
      """SELECT doc_id, lang,
        |  CASE WHEN CAST(len(list_filter(string_split(text, ' '),
        |         t -> t IN ('the','a','is','of'))) AS DOUBLE)
        |       / len(string_split(text, ' ')) > 0.02
        |       THEN 'en' ELSE 'unknown' END AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin),

    "q_fingerprint" -> (
      """SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    "q_dedup_exact" -> (
      """WITH groups AS (
        |  SELECT text, min(doc_id) AS keeper, count(*) AS n_copies
        |  FROM documents GROUP BY text)
        |SELECT d.doc_id, g.keeper, CAST(g.n_copies AS BIGINT) AS n_copies
        |FROM documents d JOIN groups g ON d.text = g.text
        |ORDER BY d.doc_id""".stripMargin),

    "q_minhash" -> (
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |seeds AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS seed)
        |SELECT t.doc_id, s.seed,
        |  min(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || '|' || t.tok), 1, 15))::BIGINT) AS minhash
        |FROM toks t, seeds s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_simhash" -> (
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |bits AS (SELECT CAST(unnest(range(0, 60)) AS INTEGER) AS b),
        |pb AS (SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s FROM th, bits GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        |FROM pb GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "q_neardup_jaccard" -> (
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |    WHERE doc_id < 1000)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, round(j, 6) AS jaccard FROM (
        |  SELECT i.da, i.db, CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) AS j
        |  FROM inter i JOIN sizes sa ON i.da = sa.doc_id JOIN sizes sb ON i.db = sb.doc_id)
        |WHERE j >= 0.9 ORDER BY da, db""".stripMargin),

    "q_knn_brute" -> (
      """WITH sims AS (
        |  SELECT q.vec_id AS qid, e.vec_id AS nbr,
        |    round(list_sum(list_apply(list_zip(q.embedding::DOUBLE[], e.embedding::DOUBLE[]),
        |            t -> t[1] * t[2]))
        |      / (sqrt(list_sum(list_apply(q.embedding::DOUBLE[], x -> x * x)))
        |         * sqrt(list_sum(list_apply(e.embedding::DOUBLE[], x -> x * x)))), 6) AS cos_sim
        |  FROM embeddings q JOIN embeddings e ON q.vec_id < 5 AND q.vec_id <> e.vec_id)
        |SELECT qid, nbr, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT qid, nbr, cos_sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nbr) AS rank
        |  FROM sims)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // Centroid components round(,6) BEFORE the cosine (IVF codebook
    // convention) so both engines compare bit-identical vectors; the
    // cosine spelling matches VectorFns.cosine's dot/(norm*norm) order.
    "q_centroid_sim" -> (
      """WITH ex AS (SELECT label,
        |  unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'dim': i, 'v': embedding[i]})) AS u
        |  FROM embeddings),
        |pc AS (SELECT label, u.dim AS dim, round(avg(u.v), 6) AS c
        |  FROM ex GROUP BY 1, 2),
        |cent AS (SELECT label, list(c ORDER BY dim) AS centroid FROM pc GROUP BY 1)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  round(list_sum(list_apply(list_zip(a.centroid, b.centroid), t -> t[1] * t[2]))
        |    / (sqrt(list_sum(list_apply(a.centroid, x -> x * x)))
        |       * sqrt(list_sum(list_apply(b.centroid, x -> x * x)))), 6) AS cos_sim
        |FROM cent a JOIN cent b ON a.label < b.label
        |ORDER BY 1, 2""".stripMargin),

    "q_knn_lsh" -> (
      s"""WITH ${duckBandsCte()},
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS qid, e.vec_id AS nbr
        |  FROM bands q JOIN bands e
        |    ON q.band_idx = e.band_idx AND q.band_val = e.band_val
        |  WHERE q.vec_id < 5 AND q.vec_id <> e.vec_id),
        |sims AS (
        |  SELECT c.qid, c.nbr,
        |    round(${duckCos("qe.embedding::DOUBLE[]", "ne.embedding::DOUBLE[]")}, 6) AS cos_sim
        |  FROM cand c
        |  JOIN embeddings qe ON qe.vec_id = c.qid
        |  JOIN embeddings ne ON ne.vec_id = c.nbr)
        |SELECT qid, nbr, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT qid, nbr, cos_sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nbr) AS rank
        |  FROM sims)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    "q_neardup_cosine" -> (
      s"""WITH ${duckBandsCte()},
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
        |  FROM bands a JOIN bands b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |       AND a.vec_id < b.vec_id),
        |e2 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
        |SELECT va, vb, cos_sim FROM (
        |  SELECT c.va, c.vb, round(${duckCos("x.emb", "y.emb")}, 6) AS cos_sim
        |  FROM cand c JOIN e2 x ON x.vec_id = c.va JOIN e2 y ON y.vec_id = c.vb)
        |WHERE cos_sim >= 0.4 ORDER BY va, vb""".stripMargin),

    "q_neardup_lsh" -> (
      s"""WITH $neardupPairsCtes
         |SELECT da, db, round(j, 6) AS jaccard FROM ver WHERE j >= 0.9
         |ORDER BY da, db""".stripMargin),

    // the incremental cycle's output is the full pair pipeline restricted
    // to pairs involving the new slice: da < db and "new" = an id suffix,
    // so at-least-one-new ⟺ db ≥ threshold (same rule as the Spark side)
    "q_incremental_neardup" -> (
      s"""WITH $neardupPairsCtes,
         |thr AS (SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT) AS t FROM documents)
         |SELECT da, db, round(j, 6) AS jaccard,
         |  CAST(CASE WHEN da >= thr.t THEN 1 ELSE 0 END AS BIGINT) AS new_new
         |FROM ver, thr WHERE j >= 0.9 AND db >= thr.t
         |ORDER BY da, db""".stripMargin),

    "q_dedup_clusters" -> dedupClustersOracle,
    // algorithm-variant twin: SAME oracle — minLabel and starContract are
    // two algorithms for one contract (label = component minimum)
    "q_dedup_clusters_star" -> dedupClustersOracle,

    // same recursive closure as the clusters oracle, then one count per
    // cluster label; 1.0::DOUBLE forces double division (bare 1.0 is
    // DECIMAL in DuckDB — decimal division rounds differently)
    "q_soft_dedup" -> (
      s"""WITH RECURSIVE $neardupPairsCtes,
         |pairs AS (SELECT da, db FROM ver WHERE j >= 0.9),
         |edges AS (SELECT da AS src, db AS dst FROM pairs
         |          UNION ALL SELECT db, da FROM pairs),
         |reach AS (
         |  SELECT doc_id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.src AS doc_id, reach.r FROM reach JOIN edges e ON e.dst = reach.doc_id
         |),
         |lab AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY 1),
         |cs AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY 1)
         |SELECT l.doc_id, l.cluster,
         |  CAST(cs.cluster_size AS BIGINT) AS cluster_size,
         |  round(1.0::DOUBLE / cs.cluster_size, 6) AS weight
         |FROM lab l JOIN cs USING (cluster)
         |ORDER BY l.doc_id""".stripMargin),

    // every threshold is the same exact-integer comparison the Spark
    // side runs (3n ≤ Σlen ≤ 10n etc.) — booleans, no float boundary
    "q_gopher_filters" -> (
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE text IS NOT NULL),
        |m AS (SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tok,
        |  CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS BIGINT) AS sum_len,
        |  CAST(len(list_filter(t, x -> contains(x, '#') OR contains(x, '...'))) AS BIGINT) AS sym,
        |  CAST(len(list_filter(t, x -> regexp_matches(x, '\A[A-Za-z]+\z'))) AS BIGINT) AS alpha,
        |  CAST(len(list_filter(t, x -> x IN ('the','a','is','of','and','to','in'))) AS BIGINT) AS stop
        |  FROM d)
        |SELECT doc_id, n_tok,
        |  n_tok BETWEEN 50 AND 100000 AS f_len,
        |  (sum_len >= 3 * n_tok AND sum_len <= 10 * n_tok) AS f_word_len,
        |  (10 * sym <= n_tok) AS f_symbol,
        |  (5 * alpha >= 4 * n_tok) AS f_alpha,
        |  (stop >= 2) AS f_stopwords,
        |  (n_tok BETWEEN 50 AND 100000
        |   AND sum_len >= 3 * n_tok AND sum_len <= 10 * n_tok
        |   AND 10 * sym <= n_tok AND 5 * alpha >= 4 * n_tok
        |   AND stop >= 2) AS passes
        |FROM m ORDER BY doc_id""".stripMargin),

    // two two-level aggregates mirroring the Spark passes; the majority
    // lang re-encodes the (count, lang) struct argmax as a fixed-width
    // printf key (zero-padded count then lang — same total order);
    // 1.0::DOUBLE forces double subtraction (bare 1.0 is DECIMAL)
    "q_corpus_card" -> (
      """WITH d AS (SELECT source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt,
        |  ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp, lang
        |  FROM documents),
        |f AS (SELECT source, fp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(tok_cnt) AS BIGINT) AS toks,
        |  CAST(sum(CASE WHEN tok_cnt < 50 THEN 1 ELSE 0 END) AS BIGINT) AS short
        |  FROM d GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  CAST(sum(short) AS BIGINT) AS short_docs,
        |  CAST(count(*) AS BIGINT) AS n_distinct_fp FROM f GROUP BY 1),
        |l AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
        |t AS (SELECT source, max(printf('%020d', c) || lang) AS mk FROM l GROUP BY 1),
        |tt AS (SELECT source, substr(mk, 21) AS top_lang,
        |  CAST(substr(mk, 1, 20) AS BIGINT) AS top_lang_cnt FROM t)
        |SELECT s.source, n_docs, total_tokens,
        |  round(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS mean_tokens,
        |  round(CAST(short_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS short_share,
        |  n_distinct_fp,
        |  round(1.0::DOUBLE - CAST(n_distinct_fp AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS exact_dup_rate,
        |  top_lang,
        |  round(CAST(top_lang_cnt AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS top_lang_share
        |FROM s JOIN tt USING (source)
        |ORDER BY source""".stripMargin),

    // rare-shingle blocked containment: trigram postings over the 60-bit
    // hash (the q_ngram_novelty gram CTE), df ∈ [2,10] blocking, exact
    // intersection on candidates, integer 10·i ≥ 9·n threshold — the
    // round(,6) score is reporting only, never the cut
    "q_containment" -> (
      s"""WITH $containmentCtes
         |SELECT da AS inner_doc, db AS outer_doc,
         |  round(i::DOUBLE / na, 6) AS containment
         |FROM j WHERE i * 10 >= na * 9
         |UNION ALL
         |SELECT db, da, round(i::DOUBLE / nb, 6) FROM j WHERE i * 10 >= nb * 9
         |ORDER BY inner_doc, outer_doc""".stripMargin),

    // the act-on-detection half: directed containment pairs from the
    // shared CTEs, strict containment removes the inner doc, mutual
    // containment (exact/near-exact dups) keeps the min id
    "q_contain_prune" -> (
      s"""WITH $containmentCtes,
         |cp AS (
         |  SELECT da AS inner_doc, db AS outer_doc FROM j WHERE i * 10 >= na * 9
         |  UNION ALL
         |  SELECT db, da FROM j WHERE i * 10 >= nb * 9),
         |removed AS (
         |  SELECT DISTINCT a.inner_doc AS doc_id
         |  FROM cp a LEFT JOIN cp b
         |    ON b.inner_doc = a.outer_doc AND b.outer_doc = a.inner_doc
         |  WHERE b.inner_doc IS NULL OR a.inner_doc > a.outer_doc)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM removed)
         |ORDER BY doc_id""".stripMargin),

    // Same recursive closure as the clusters oracle, then the hash-mod
    // split keyed on the cluster KEEPER (hashing 'split#<keeper>' — the
    // literal prefix decorrelates this hash stream from q_sample_hash's).
    "q_split_leakage_safe" -> (
      s"""WITH RECURSIVE $neardupPairsCtes,
         |pairs AS (SELECT da, db FROM ver WHERE j >= 0.9),
         |edges AS (SELECT da AS src, db AS dst FROM pairs
         |          UNION ALL SELECT db, da FROM pairs),
         |reach AS (
         |  SELECT doc_id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.src AS doc_id, reach.r FROM reach JOIN edges e ON e.dst = reach.doc_id
         |),
         |k AS (SELECT doc_id, min(r) AS keeper FROM reach GROUP BY 1)
         |SELECT doc_id, keeper,
         |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, keeper,
         |  ('0x' || substr(md5('split#' || CAST(keeper AS VARCHAR)), 1, 15))::BIGINT % 100 AS h
         |  FROM k)
         |ORDER BY doc_id""".stripMargin),

    "q_dup_matrix" -> (
      s"""WITH $neardupPairsCtes,
         |pairs AS (SELECT da, db FROM ver WHERE j >= 0.9),
         |ss AS (SELECT least(a.source, b.source) AS src_a,
         |  greatest(a.source, b.source) AS src_b
         |  FROM pairs JOIN documents a ON pairs.da = a.doc_id
         |             JOIN documents b ON pairs.db = b.doc_id)
         |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM ss GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin),

    // DuckDB has no struct-keyed arg_max: encode (quality, −doc_id) as a
    // fixed-width printf string (lexicographic = numeric for the
    // non-negative zero-padded fields), max it, decode the doc_id back —
    // the established composite-arg_max convention. Quality expression =
    // the q_text_stats `quality` twin, rounded BEFORE comparison so both
    // engines order identical doubles.
    "q_dedup_keeper_best" -> (
      s"""WITH RECURSIVE $neardupPairsCtes,
         |pairs AS (SELECT da, db FROM ver WHERE j >= 0.9),
         |edges AS (SELECT da AS src, db AS dst FROM pairs
         |          UNION ALL SELECT db, da FROM pairs),
         |reach AS (
         |  SELECT doc_id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.src AS doc_id, reach.r FROM reach JOIN edges e ON e.dst = reach.doc_id
         |),
         |comp AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY 1),
         |qv AS (SELECT doc_id,
         |  round(ln(1.0 + len(string_split(text, ' '))) *
         |        (1.0 - CAST(len(list_filter(string_split(text, ' '),
         |          t -> t IN ('the','a','is','of','and','to','in'))) AS DOUBLE)
         |          / len(string_split(text, ' '))), 6) AS q
         |  FROM documents),
         |enc AS (SELECT c.doc_id, c.cluster, qv.q,
         |  printf('%013.6f', qv.q) || '#' || printf('%010d', 9999999999 - c.doc_id) AS ek
         |  FROM comp c JOIN qv USING (doc_id)),
         |k AS (SELECT cluster, max(ek) AS mek, max(q) AS keeper_q
         |  FROM enc GROUP BY 1)
         |SELECT e.doc_id,
         |  CAST(9999999999 - CAST(split_part(k.mek, '#', 2) AS BIGINT) AS BIGINT) AS keeper,
         |  k.keeper_q
         |FROM enc e JOIN k USING (cluster)
         |ORDER BY 1""".stripMargin),

    "q_sample_hash" -> Oracle.withTurns(
      """SELECT conv_id, turn_idx, role FROM turns
        |WHERE ('0x' || substr(md5(conv_id || '#' || CAST(turn_idx AS VARCHAR)), 1, 15))::BIGINT % 100
        |      < CASE WHEN role = 'tool' THEN 100 WHEN role = 'user' THEN 20 ELSE 5 END
        |ORDER BY conv_id, turn_idx""".stripMargin),

    "q_sample_topk" -> (
      """WITH h AS (SELECT doc_id, source,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hh
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY hh ASC, doc_id ASC) AS rk
        |  FROM h)
        |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 25 ORDER BY source, rk""".stripMargin),

    // identical contract to q_sample_topk — the prefilter is a physical
    // optimization with a declarative exactness fallback, so the oracle IS
    // the plain windowed form
    "q_sample_topk_prefilter" -> (
      """WITH h AS (SELECT doc_id, source,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hh
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY hh ASC, doc_id ASC) AS rk
        |  FROM h)
        |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 25 ORDER BY source, rk""".stripMargin),

    // The recursive CTE walks each (source, shard) stream row by row —
    // the identical greedy recurrence to ops.Packing, implemented the
    // opposite way (row recursion vs a sorted-group scan).
    "q_pack_greedy" -> (
      """WITH RECURSIVE d AS (
        |  SELECT source, CAST(doc_id % 4 AS INTEGER) AS shard, doc_id,
        |    CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS tok_cnt,
        |    row_number() OVER (PARTITION BY source, doc_id % 4 ORDER BY doc_id) AS rn
        |  FROM documents),
        |pack AS (
        |  SELECT source, shard, doc_id, tok_cnt, rn,
        |    1 AS bin, tok_cnt AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.shard, d.doc_id, d.tok_cnt, d.rn,
        |    CASE WHEN p.fill + d.tok_cnt > 200 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + d.tok_cnt > 200 THEN d.tok_cnt
        |         ELSE p.fill + d.tok_cnt END
        |  FROM pack p JOIN d ON d.source = p.source AND d.shard = p.shard
        |    AND d.rn = p.rn + 1)
        |SELECT source, shard, doc_id, tok_cnt, CAST(bin AS INTEGER) AS bin
        |FROM pack ORDER BY doc_id""".stripMargin),

    // The same row-walking recursive recurrence as q_pack_greedy's twin,
    // per conversation in turn order; null text counts zero tokens.
    "q_pack_turns" -> (s"WITH RECURSIVE ${Oracle.turnsCte},\n" +
      """d AS (
        |  SELECT conv_id, turn_idx,
        |    CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS tok_cnt,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
        |  FROM turns),
        |pack AS (
        |  SELECT conv_id, turn_idx, tok_cnt, rn, 1 AS block, tok_cnt AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.conv_id, d.turn_idx, d.tok_cnt, d.rn,
        |    CASE WHEN p.fill + d.tok_cnt > 40 THEN p.block + 1 ELSE p.block END,
        |    CASE WHEN p.fill + d.tok_cnt > 40 THEN d.tok_cnt
        |         ELSE p.fill + d.tok_cnt END
        |  FROM pack p JOIN d ON d.conv_id = p.conv_id AND d.rn = p.rn + 1)
        |SELECT conv_id, turn_idx, tok_cnt, CAST(block AS INTEGER) AS block
        |FROM pack ORDER BY conv_id, turn_idx""".stripMargin),

    // range(start, stop, step) excludes stop → +1 on the last start; both
    // engines keep the clamped tail window and drop NULL-text docs (an
    // empty-string doc tokenizes to [""] in both engines → one window)
    "q_chunk_windows" -> (
      """WITH d AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt FROM documents),
        |w AS (SELECT doc_id, tok_cnt,
        |  unnest(range(0, ((greatest(tok_cnt - 1, 0) // 25) * 25) + 1, 25)) AS w_start
        |  FROM d)
        |SELECT doc_id, CAST(w_start // 25 AS BIGINT) AS win_idx,
        |  CAST(w_start AS BIGINT) AS w_start,
        |  CAST(least(w_start + 40, tok_cnt) AS BIGINT) AS w_end
        |FROM w WHERE w_start < tok_cnt ORDER BY doc_id, win_idx""".stripMargin),

    "q_context_trim" -> Oracle.withTurns(
      """SELECT conv_id, turn_idx, tok_cnt,
        |  CAST(cum_from_end AS BIGINT) AS cum_from_end FROM (
        |  SELECT conv_id, turn_idx,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt,
        |    sum(CAST(len(string_split(text, ' ')) AS BIGINT))
        |      OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_from_end
        |  FROM turns)
        |WHERE cum_from_end <= 120 ORDER BY conv_id, turn_idx""".stripMargin),

    "q_decontaminate" -> (
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |ngr AS (
        |  SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
        |  FROM toks, unnest(range(1, len(a) - 1)) AS t(i)),
        |ev AS (SELECT DISTINCT g FROM ngr WHERE doc_id % 97 = 0)
        |SELECT doc_id, total_ngrams, overlap_ngrams, overlap_ratio,
        |  overlap_ratio >= 0.3 AS contaminated
        |FROM (
        |  SELECT n.doc_id, count(*) AS total_ngrams,
        |    count(ev.g) AS overlap_ngrams,
        |    round(CAST(count(ev.g) AS DOUBLE) / count(*), 6) AS overlap_ratio
        |  FROM ngr n LEFT JOIN ev ON n.g = ev.g
        |  WHERE n.doc_id % 97 <> 0
        |  GROUP BY 1)
        |ORDER BY doc_id""".stripMargin),

    "q_quality_repetition" -> (
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |g2 AS (
        |  SELECT doc_id, a[i] || ' ' || a[i+1] AS g
        |  FROM toks, unnest(range(1, len(a))) AS t(i) WHERE len(a) >= 2),
        |g3 AS (
        |  SELECT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
        |  FROM toks, unnest(range(1, len(a) - 1)) AS t(i) WHERE len(a) >= 3),
        |s2 AS (
        |  SELECT doc_id, CAST(max(n) AS BIGINT) AS top2_cnt, CAST(sum(n) AS BIGINT) AS n2
        |  FROM (SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2) GROUP BY 1),
        |s3 AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n3, CAST(count(*) AS BIGINT) AS d3
        |  FROM (SELECT doc_id, g, count(*) AS n FROM g3 GROUP BY 1, 2) GROUP BY 1)
        |SELECT s2.doc_id AS doc_id, n2, n3,
        |  round(CAST(top2_cnt AS DOUBLE) / n2, 6) AS top2_frac,
        |  round(1.0 - CAST(d3 AS DOUBLE) / n3, 6) AS dup3_frac
        |FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id
        |ORDER BY 1""".stripMargin),

    "q_chunk_dedup" -> chunkDedupOracle,
    // physical-variant twin: SAME oracle — the skew path changes the plan,
    // not the semantics
    "q_chunk_dedup_skew" -> chunkDedupOracle,

    "q_dup_spans" -> dupSpansOracle,
    // physical-variant twin: SAME oracle — the skew path changes the plan,
    // not the semantics
    "q_dup_spans_skew" -> dupSpansOracle,

    // Cut pass twin: spans via the SHARED dupSpanCtes, token stream
    // rebuilt positionally, covered tokens dropped by NOT EXISTS range
    // probe, survivors re-joined in position order and fingerprinted.
    "q_dup_spans_cut" -> (
      s"""WITH $dupSpanCtes,
        |tq AS (SELECT doc_id, u.p AS p, u.t AS t FROM (SELECT doc_id,
        |  unnest(list_transform(range(1, len(a) + 1), i -> {'p': i - 1, 't': a[i]})) AS u
        |  FROM d)),
        |kept AS (SELECT doc_id, p, t FROM tq WHERE NOT EXISTS
        |  (SELECT 1 FROM spn WHERE spn.doc_id = tq.doc_id
        |     AND tq.p >= spn.s AND tq.p <= spn.e)),
        |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
        |  string_agg(t, ' ' ORDER BY p) AS kt FROM kept GROUP BY 1)
        |SELECT d.doc_id, CAST(len(a) AS BIGINT) AS tok_cnt,
        |  CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens,
        |  ('0x' || substr(md5(coalesce(kt, '')), 1, 15))::BIGINT AS kept_fp
        |FROM d LEFT JOIN ka USING (doc_id)
        |ORDER BY 1""".stripMargin),

    // Unit-width length bins capped at 63 (fixture texts are short); identical
    // cast-then-divide op order keeps pa/pb bit-equal across engines.
    "q_feature_drift" -> Oracle.withTurns(
      """SELECT role, CAST(count(*) AS BIGINT) AS n_bins,
        |  round(sum((pa - pb) * ln(pa / pb)), 6) AS psi
        |FROM (SELECT role,
        |    CAST(ca + 1 AS DOUBLE) / CAST(tota + 64 AS DOUBLE) AS pa,
        |    CAST(cb + 1 AS DOUBLE) / CAST(totb + 64 AS DOUBLE) AS pb
        |  FROM (SELECT role, bin, ca, cb,
        |      sum(ca) OVER (PARTITION BY role) AS tota,
        |      sum(cb) OVER (PARTITION BY role) AS totb
        |    FROM (SELECT role, bin,
        |        CAST(sum(isa) AS BIGINT) AS ca,
        |        CAST(sum(1 - isa) AS BIGINT) AS cb
        |      FROM (SELECT role,
        |          CASE WHEN turn_idx < 20 THEN 1 ELSE 0 END AS isa,
        |          least(length(text), 63) AS bin
        |        FROM turns WHERE text IS NOT NULL)
        |      GROUP BY 1, 2)))
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_feature_drift_ks" -> Oracle.withTurns(
      """SELECT role, CAST(count(*) AS BIGINT) AS n_points,
        |  round(CASE WHEN max(tota) = 0 OR max(totb) = 0 THEN 1.0
        |    ELSE max(abs(CAST(cuma AS DOUBLE) / CAST(tota AS DOUBLE)
        |               - CAST(cumb AS DOUBLE) / CAST(totb AS DOUBLE))) END, 6) AS ks
        |FROM (SELECT role,
        |    sum(ca) OVER (PARTITION BY role ORDER BY len
        |      ROWS UNBOUNDED PRECEDING) AS cuma,
        |    sum(cb) OVER (PARTITION BY role ORDER BY len
        |      ROWS UNBOUNDED PRECEDING) AS cumb,
        |    sum(ca) OVER (PARTITION BY role) AS tota,
        |    sum(cb) OVER (PARTITION BY role) AS totb
        |  FROM (SELECT role, len,
        |      CAST(sum(isa) AS BIGINT) AS ca,
        |      CAST(sum(1 - isa) AS BIGINT) AS cb
        |    FROM (SELECT role,
        |        CASE WHEN turn_idx < 20 THEN 1 ELSE 0 END AS isa,
        |        length(text) AS len
        |      FROM turns WHERE text IS NOT NULL)
        |    GROUP BY 1, 2))
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_tfidf_top" -> (
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS dlen FROM tf GROUP BY 1),
        |dfr AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.t,
        |  (CAST(cnt AS DOUBLE) / dlen) * ln(CAST(n_docs AS DOUBLE) / df) AS s
        |  FROM tf JOIN dl USING (doc_id) JOIN dfr USING (t) CROSS JOIN nd),
        |rk AS (SELECT doc_id, t, s,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, t) AS rk FROM sc)
        |SELECT doc_id, CAST(rk AS INTEGER) AS rk, t AS term, round(s, 6) AS tfidf
        |FROM rk WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin),

    "q_quality_lm" -> (
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |v AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
        |lp AS (SELECT t, ln(CAST(cnt AS DOUBLE) / total) AS lp FROM v CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks, round(-avg(lp), 6) AS nll
        |FROM toks JOIN lp USING (t) GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // bigram stupid backoff: same 80% hash train slice ('lm2#' prefix
    // decorrelates this hash stream from q_sample_hash/q_split's), the
    // CASE mirrors the three arms exactly; 0.4::DOUBLE forces double
    // (bare 0.4 is DECIMAL in DuckDB), and operand order matches the
    // Spark side so every float op is the same correctly-rounded IEEE op
    "q_quality_lm2" -> (
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS a,
        |  (('0x' || substr(md5('lm2#' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5) != 0 AS train
        |  FROM documents),
        |bg AS (SELECT doc_id, train, b.w1 AS w1, b.w2 AS w2 FROM (
        |  SELECT doc_id, train,
        |    unnest(list_transform(range(2, len(a) + 1),
        |      i -> {'w1': a[i-1], 'w2': a[i]})) AS b
        |  FROM d WHERE len(a) >= 2)),
        |tk AS (SELECT train, unnest(a) AS t FROM d),
        |c1 AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM tk WHERE train GROUP BY 1),
        |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg WHERE train GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM c1),
        |sc AS (SELECT g.doc_id,
        |  CASE WHEN c2.c2 IS NOT NULL THEN ln(CAST(c2.c2 AS DOUBLE) / CAST(w1c.c1 AS DOUBLE))
        |       WHEN w2c.c1 IS NOT NULL THEN ln(0.4::DOUBLE * CAST(w2c.c1 AS DOUBLE) / CAST(total AS DOUBLE))
        |       ELSE ln(0.4::DOUBLE / CAST(total AS DOUBLE)) END AS lp
        |  FROM bg g
        |  LEFT JOIN c2 ON c2.w1 = g.w1 AND c2.w2 = g.w2
        |  LEFT JOIN c1 w1c ON w1c.t = g.w1
        |  LEFT JOIN c1 w2c ON w2c.t = g.w2
        |  CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, round(-avg(lp), 6) AS nll2
        |FROM sc GROUP BY 1
        |ORDER BY 1""".stripMargin),

    "q_mix_budget" -> (
      """WITH d AS (SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt FROM documents),
        |s AS (SELECT source, CAST(sum(tok_cnt) AS BIGINT) AS src_toks FROM d GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_src, CAST(sum(src_toks) AS BIGINT) AS total FROM s),
        |thr AS (SELECT source,
        |  least((1000000 * ((total * 2) // 5)) // (n_src * src_toks), 1000000) AS thr
        |  FROM s CROSS JOIN g)
        |SELECT d.doc_id, d.source, d.tok_cnt FROM d JOIN thr USING (source)
        |WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT) % 1000000 < thr
        |ORDER BY doc_id""".stripMargin),

    "q_mix_temperature" -> (
      """WITH d AS (SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt FROM documents),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tok_cnt) AS BIGINT) AS src_toks FROM d GROUP BY 1),
        |g AS (SELECT sum(sqrt(CAST(src_toks AS DOUBLE))) AS wsum,
        |  (CAST(sum(n_docs) AS BIGINT) * 2) // 5 AS n_target FROM s),
        |thr AS (SELECT source,
        |  least(CAST(floor(1000000.0 * CAST(n_target AS DOUBLE) *
        |      sqrt(CAST(src_toks AS DOUBLE)) /
        |      (wsum * CAST(n_docs AS DOUBLE))) AS BIGINT),
        |    1000000) AS thr
        |  FROM s CROSS JOIN g)
        |SELECT d.doc_id, d.source, d.tok_cnt FROM d JOIN thr USING (source)
        |WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT) % 1000000 < thr
        |ORDER BY doc_id""".stripMargin),

    "q_mix_select" -> (
      """WITH d AS (SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt,
        |  round(ln(1.0 + len(string_split(text, ' '))) *
        |        (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','is','of','and','to','in'))) AS DOUBLE)
        |          / len(string_split(text, ' '))), 6) AS q
        |  FROM documents),
        |b AS (SELECT source, (CAST(sum(tok_cnt) AS BIGINT) * 2) // 5 AS budget
        |  FROM d GROUP BY 1),
        |r AS (SELECT d.*, b.budget,
        |  sum(tok_cnt) OVER (PARTITION BY d.source ORDER BY q DESC, doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
        |  FROM d JOIN b USING (source))
        |SELECT doc_id, source, tok_cnt, q, CAST(cum_toks AS BIGINT) AS cum_toks
        |FROM r WHERE cum_toks <= budget ORDER BY source, doc_id""".stripMargin),

    // Both regex dialects (Java / RE2) agree on \b, \d, {m} counts and
    // alternation; DuckDB needs the explicit 'g' flag Spark applies by
    // default. Group 0 = whole match in both regexp_extract_all forms.
    "q_redact_terms" -> (
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(customer|vector)\b', 0)) AS BIGINT) AS n_terms,
        |  CAST(len(regexp_extract_all(text, '\d{3}[-.]\d{4}', 0)) AS BIGINT) AS n_pii,
        |  ('0x' || substr(md5(
        |    regexp_replace(regexp_replace(text, '\b(customer|vector)\b', '<TERM>', 'g'),
        |      '\d{3}[-.]\d{4}', '<NUM>', 'g')), 1, 15))::BIGINT AS red_fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // Keeper classes group on raw text (the engine groups on its 60-bit
    // fingerprint — same equivalence classes modulo md5 collision, the
    // q_dedup_exact convention); keeper attributes come from the
    // min-doc_id row on both sides.
    "q_curate" -> (
      """WITH d AS (SELECT doc_id, source, lang, text,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt FROM documents),
        |k AS (SELECT text, min(doc_id) AS keeper FROM d GROUP BY 1),
        |ke AS (SELECT d.source, d.tok_cnt FROM d JOIN k ON d.doc_id = k.keeper
        |  WHERE d.tok_cnt BETWEEN 30 AND 90 AND d.lang <> 'zh'),
        |s AS (SELECT source, CAST(sum(tok_cnt) AS BIGINT) AS src_toks FROM ke GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_src, CAST(sum(src_toks) AS BIGINT) AS total FROM s),
        |thr AS (SELECT source,
        |  least((1000000 * ((total * 2) // 5)) // (n_src * src_toks), 1000000) AS thr
        |  FROM s CROSS JOIN g),
        |dk AS (SELECT d.*,
        |  (d.doc_id = min(d.doc_id) OVER (PARTITION BY d.text)) AS is_keeper,
        |  (d.tok_cnt BETWEEN 30 AND 90 AND d.lang <> 'zh') AS q_ok,
        |  (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT) % 1000000 AS hm
        |  FROM d)
        |SELECT dk.source,
        |  CAST(count(*) AS BIGINT) AS n_raw,
        |  CAST(count(CASE WHEN is_keeper THEN 1 END) AS BIGINT) AS n_dedup,
        |  CAST(count(CASE WHEN is_keeper AND q_ok THEN 1 END) AS BIGINT) AS n_quality,
        |  CAST(count(CASE WHEN is_keeper AND q_ok AND hm < thr THEN 1 END) AS BIGINT) AS n_selected,
        |  CAST(coalesce(sum(CASE WHEN is_keeper AND q_ok AND hm < thr THEN tok_cnt END), 0) AS BIGINT) AS toks_selected
        |FROM dk LEFT JOIN thr USING (source)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    "q_gap_quantiles" -> Oracle.withTurns(
      """, gaps AS (
        |  SELECT role,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP))
        |         - epoch_us(CAST(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS TIMESTAMP))
        |         AS DOUBLE) / 1e6 AS gap_s
        |  FROM turns)
        |SELECT role, count(*) AS n_gaps,
        |  round(quantile_cont(gap_s, 0.5), 6) AS p50,
        |  round(quantile_cont(gap_s, 0.9), 6) AS p90,
        |  round(quantile_cont(gap_s, 0.99), 6) AS p99
        |FROM gaps WHERE gap_s IS NOT NULL GROUP BY role
        |ORDER BY role""".stripMargin),

    // Direct single-pass form — the Spark side computes the SAME numbers
    // via slice → partials → merge → finalize, so this equality check is
    // the incremental-maintenance correctness statement itself.
    "q_incremental" -> Oracle.withTurns(
      """, base AS (
        |  SELECT conv_id, role, tool,
        |    CAST(length(text) AS BIGINT) AS len,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
        |           - epoch_us(CAST(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS TIMESTAMP))
        |           > 86400000000 THEN 1 ELSE 0 END AS brk
        |  FROM turns),
        |agg AS (
        |  SELECT conv_id,
        |    count(*) AS n,
        |    CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
        |    CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
        |    CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_role,
        |    count(tool) AS n_tool_calls,
        |    CAST(sum(len) AS DOUBLE) AS s1,
        |    CAST(sum(len * len) AS DOUBLE) AS s2,
        |    CAST(sum(len * len * len) AS DOUBLE) AS s3,
        |    CAST(sum(len * len * len * len) AS DOUBLE) AS s4,
        |    min(len) AS len_min, max(len) AS len_max,
        |    min(us) AS first_us, max(us) AS last_us,
        |    CAST(sum(brk) + 1 AS BIGINT) AS n_sessions
        |  FROM base GROUP BY 1)
        |SELECT conv_id, n AS n_turns, n_user, n_assistant, n_tool_role,
        |  n_tool_calls,
        |  round(s1 / n, 6) AS len_mean,
        |  round(CASE WHEN n >= 2 THEN sqrt((s2 - s1 * s1 / n) / (n - 1)) END, 6) AS len_std,
        |  round(CASE WHEN n >= 3 AND (s2 / n - (s1 / n) * (s1 / n)) > 0 THEN
        |      ((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
        |        / ((s2 / n - (s1 / n) * (s1 / n)) * sqrt(s2 / n - (s1 / n) * (s1 / n))))
        |      * sqrt(n * (n - 1)) / (n - 2) END, 6) AS len_skew,
        |  round(CASE WHEN n >= 4 AND (s2 / n - (s1 / n) * (s1 / n)) > 0 THEN
        |      ((n + 1) * ((s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
        |          - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
        |        / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3) + 6)
        |      * (n - 1) / ((n - 2) * (n - 3)) END, 6) AS len_kurt,
        |  len_min, len_max, n_sessions,
        |  last_us - first_us AS duration_us
        |FROM agg ORDER BY conv_id""".stripMargin),

    "q_asof_tolerance" -> Oracle.withTurnsAndState(
      """, u AS (
        |  SELECT conv_id, ts, turn_idx, CAST(NULL AS VARCHAR) AS sv, 0 AS is_state FROM turns
        |  UNION ALL
        |  SELECT conv_id, ts, NULL, state_val, 1 FROM state
        |), f AS (
        |  SELECT conv_id, ts, turn_idx, is_state,
        |    last_value(CASE WHEN is_state = 1 THEN {'sts': ts, 'sval': sv} END IGNORE NULLS)
        |      OVER w AS st
        |  FROM u WINDOW w AS (PARTITION BY conv_id ORDER BY ts, is_state DESC
        |                      ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT conv_id, turn_idx,
        |  CASE WHEN epoch_us(ts) - epoch_us(st.sts) <= 172800000000
        |       THEN st.sval END AS state_val
        |FROM f WHERE is_state = 0 ORDER BY conv_id, turn_idx""".stripMargin),

    "q_bfill_tool" -> Oracle.withTurns(
      """SELECT conv_id, turn_idx,
        |  first_value(tool IGNORE NULLS)
        |    OVER (PARTITION BY conv_id ORDER BY turn_idx
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tool_bf
        |FROM turns ORDER BY conv_id, turn_idx""".stripMargin),

    "q_salted_census" -> Oracle.withTurns(
      """SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        |FROM turns GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_simhash_neardup" -> (
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |bits AS (SELECT CAST(unnest(range(0, 60)) AS INTEGER) AS b),
        |pb AS (SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s FROM th, bits GROUP BY 1, 2),
        |sh AS (
        |  SELECT pb.doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash,
        |    min(d.source) AS source
        |  FROM pb JOIN documents d ON pb.doc_id = d.doc_id GROUP BY pb.doc_id)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
        |ORDER BY da, db""".stripMargin),

    "q_cadence" -> Oracle.withTurns(
      """SELECT conv_id,
        |  round((max(epoch_us(ts)) - min(epoch_us(ts)))
        |        / greatest(count(*) - 1, 1) / 1000000, 6) AS mean_gap_s,
        |  CASE WHEN (max(epoch_us(ts)) - min(epoch_us(ts)))
        |            / greatest(count(*) - 1, 1) / 1000000 < 60 THEN 'rapid'
        |       WHEN (max(epoch_us(ts)) - min(epoch_us(ts)))
        |            / greatest(count(*) - 1, 1) / 1000000 < 3600 THEN 'active'
        |       WHEN (max(epoch_us(ts)) - min(epoch_us(ts)))
        |            / greatest(count(*) - 1, 1) / 1000000 < 86400 THEN 'slow'
        |       ELSE 'dormant' END AS cadence
        |FROM turns GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_tool_census" -> Oracle.withTurns(
      """SELECT conv_id,
        |  coalesce(string_agg(DISTINCT tool, ',' ORDER BY tool), '') AS instrumentation,
        |  CAST(max(CASE WHEN tool = 'tool_0' THEN 1 ELSE 0 END) AS BIGINT) AS has_tool_0,
        |  CAST(max(CASE WHEN tool = 'tool_1' THEN 1 ELSE 0 END) AS BIGINT) AS has_tool_1,
        |  CAST(max(CASE WHEN tool = 'tool_2' THEN 1 ELSE 0 END) AS BIGINT) AS has_tool_2,
        |  CAST(max(CASE WHEN tool = 'tool_3' THEN 1 ELSE 0 END) AS BIGINT) AS has_tool_3
        |FROM turns GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_state_transitions" -> Oracle.withTurnsAndState(
      """, j AS (
        |  SELECT t.conv_id, t.turn_idx, coalesce(s.state_val, 'none') AS state_key
        |  FROM turns t ASOF LEFT JOIN state s
        |    ON t.conv_id = s.conv_id AND t.ts >= s.ts
        |), c AS (
        |  SELECT conv_id, state_key,
        |    CASE WHEN lag(state_key) OVER (PARTITION BY conv_id ORDER BY turn_idx) IS NOT NULL
        |          AND lag(state_key) OVER (PARTITION BY conv_id ORDER BY turn_idx) <> state_key
        |         THEN 1 ELSE 0 END AS changed
        |  FROM j)
        |SELECT conv_id, CAST(sum(changed) AS BIGINT) AS n_transitions,
        |       CAST(count(DISTINCT state_key) AS BIGINT) AS n_states,
        |       round(CAST(sum(changed) AS DOUBLE) / count(*), 6) AS transition_rate
        |FROM c GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_media_meta" -> (
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       substr(md5(text), 1, 8) AS sig8
        |FROM documents ORDER BY doc_id""".stripMargin),

    "q_pricing_by_segment" -> (
      """SELECT c.c_mktsegment, o.o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
        |  CAST((sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) *
        |        (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT))) + 50) // 100
        |       AS DOUBLE) / 100.0 AS revenue,
        |  round(avg(l.l_quantity), 4) AS avg_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_feature_matrix_windowed" -> Oracle.withTurnsCtes(
      """convn AS (SELECT conv_id, count(*) AS n FROM turns GROUP BY 1),
        |wins AS (SELECT conv_id, unnest(range(0, CAST(greatest((n - 2) // 6, 1) AS BIGINT))) AS wid
        |         FROM convn)
        |SELECT w.conv_id, CAST(w.wid AS INTEGER) AS window_id,
        |       CAST(count(*) AS BIGINT) AS n_turns,
        |       CAST(count(t.tool) AS BIGINT) AS n_tool_calls,
        |       CAST(min(t.turn_idx) AS INTEGER) AS first_turn,
        |       CAST(max(t.turn_idx) AS INTEGER) AS last_turn,
        |       round(avg(length(t.text)), 6) AS len_mean,
        |       CAST(max(length(t.text)) AS BIGINT) AS len_max,
        |       CAST(count(CASE WHEN t.role = 'user' THEN 1 END) AS BIGINT) AS n_user_turns,
        |       CAST(count(CASE WHEN t.role = 'assistant' THEN 1 END) AS BIGINT) AS n_assistant_turns
        |FROM wins w JOIN turns t
        |  ON t.conv_id = w.conv_id AND t.turn_idx BETWEEN w.wid * 6 AND w.wid * 6 + 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_feature_matrix_windowed_full" -> Oracle.withTurnsAndState(
      s""", tj AS (
        |  SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, s.state_val
        |  FROM turns t ASOF LEFT JOIN state s
        |    ON t.conv_id = s.conv_id AND t.ts >= s.ts
        |), convn AS (SELECT conv_id, count(*) AS n FROM turns GROUP BY 1),
        |wins AS (SELECT conv_id, unnest(range(0, CAST(greatest((n - 2) // 6, 1) AS BIGINT))) AS wid
        |         FROM convn),
        |base AS (
        |  SELECT w.wid, t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, t.state_val,
        |    epoch_us(t.ts) - epoch_us(lag(t.ts) OVER pw) AS delta_us,
        |    lag(t.role) OVER pw AS prev_role
        |  FROM wins w JOIN tj t
        |    ON t.conv_id = w.conv_id AND t.turn_idx BETWEEN w.wid * 6 AND w.wid * 6 + 7
        |  WINDOW pw AS (PARTITION BY t.conv_id, w.wid ORDER BY t.turn_idx)
        |), b2 AS (
        |  SELECT *, sum(CASE WHEN delta_us > ${SessionGapSeconds}000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY conv_id, wid ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM base
        |), mainp AS (
        |  SELECT conv_id, wid,
        |    count(CASE WHEN role = 'user' THEN 1 END) AS role_user_n_turns,
        |    round(avg(CASE WHEN role = 'user' THEN length(text) END), 6) AS role_user_len_mean,
        |    count(CASE WHEN role = 'assistant' THEN 1 END) AS role_assistant_n_turns,
        |    round(avg(CASE WHEN role = 'assistant' THEN length(text) END), 6) AS role_assistant_len_mean,
        |    count(CASE WHEN role = 'system' THEN 1 END) AS role_system_n_turns,
        |    round(avg(CASE WHEN role = 'system' THEN length(text) END), 6) AS role_system_len_mean,
        |    count(CASE WHEN role = 'tool' THEN 1 END) AS role_tool_n_turns,
        |    round(avg(CASE WHEN role = 'tool' THEN length(text) END), 6) AS role_tool_len_mean,
        |    count(*) AS n_turns,
        |    count(tool) AS n_tool_calls,
        |    count(DISTINCT tool) AS n_distinct_tools,
        |    arg_min(role, turn_idx) AS first_role,
        |    arg_max(role, turn_idx) AS last_role,
        |    round(avg(delta_us / 1000000.0), 6) AS delta_ts_mean_s,
        |    round(stddev_samp(delta_us / 1000000.0), 6) AS delta_ts_std_s,
        |    count(CASE WHEN prev_role = role THEN 1 END) AS n_role_repeats,
        |    CAST(max(session_id) + 1 AS BIGINT) AS n_sessions,
        |    round(CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE) / 3.6e9, 6) AS active_hours,
        |    round(CASE WHEN max(epoch_us(ts)) > min(epoch_us(ts))
        |          THEN count(*) / (CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE) / 3.6e9)
        |          END, 6) AS turns_per_hour,
        |    round(CAST(count(tool) AS DOUBLE) / count(*), 6) AS tool_call_density,
        |    round(avg(length(text)), 6) AS len_mean,
        |    CAST(min(length(text)) AS BIGINT) AS len_min,
        |    CAST(max(length(text)) AS BIGINT) AS len_max,
        |    count(state_val) AS n_turns_with_state,
        |    count(DISTINCT state_val) AS n_distinct_states,
        |    CAST(count(*) AS DOUBLE) AS nn,
        |    sum(CAST(length(text) AS DOUBLE)) AS s1,
        |    sum(CAST(length(text) AS DOUBLE) * CAST(length(text) AS DOUBLE)) AS s2,
        |    sum(CAST(length(text) AS DOUBLE) * CAST(length(text) AS DOUBLE)
        |        * CAST(length(text) AS DOUBLE)) AS s3,
        |    sum(CAST(length(text) AS DOUBLE) * CAST(length(text) AS DOUBLE)
        |        * CAST(length(text) AS DOUBLE) * CAST(length(text) AS DOUBLE)) AS s4
        |  FROM b2 GROUP BY conv_id, wid
        |), main AS (
        |  -- power-sum moment forms, op order mirroring the Spark side
        |  -- bit-for-bit (exact integer sums; *, /, sqrt only): immune to
        |  -- engine-specific streaming-moment rounding at round(,6) ties
        |  SELECT * EXCLUDE (nn, s1, s2, s3, s4),
        |    round(CASE WHEN nn >= 2
        |          THEN sqrt((s2 - s1 * s1 / nn) / (nn - 1)) END, 6) AS len_std,
        |    round(CASE WHEN nn >= 3 AND (s2 / nn - (s1 / nn) * (s1 / nn)) > 0 THEN
        |          ((s3 / nn - 3 * (s1 / nn) * (s2 / nn)
        |            + 2 * (s1 / nn) * (s1 / nn) * (s1 / nn))
        |           / ((s2 / nn - (s1 / nn) * (s1 / nn))
        |              * sqrt(s2 / nn - (s1 / nn) * (s1 / nn))))
        |          * sqrt(nn * (nn - 1)) / (nn - 2) END, 6) AS len_skew,
        |    round(CASE WHEN nn >= 4 AND (s2 / nn - (s1 / nn) * (s1 / nn)) > 0 THEN
        |          ((nn + 1) * ((s4 / nn - 4 * (s1 / nn) * (s3 / nn)
        |            + 6 * (s1 / nn) * (s1 / nn) * (s2 / nn)
        |            - 3 * (s1 / nn) * (s1 / nn) * (s1 / nn) * (s1 / nn))
        |           / ((s2 / nn - (s1 / nn) * (s1 / nn))
        |              * (s2 / nn - (s1 / nn) * (s1 / nn))) - 3) + 6)
        |          * (nn - 1) / ((nn - 2) * (nn - 3)) END, 6) AS len_kurt
        |  FROM mainp
        |), sessf AS (
        |  SELECT conv_id, wid, round(avg(n), 6) AS sess_len_mean,
        |         CAST(max(n) AS BIGINT) AS sess_len_max
        |  FROM (SELECT conv_id, wid, session_id, count(*) AS n FROM b2 GROUP BY 1, 2, 3)
        |  GROUP BY conv_id, wid
        |), runbase AS (
        |  SELECT conv_id, wid,
        |    sum(CASE WHEN prev_role IS NULL OR prev_role <> role THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY conv_id, wid ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM b2
        |), runf AS (
        |  SELECT conv_id, wid, CAST(count(*) AS BIGINT) AS n_runs,
        |         round(avg(run_len), 6) AS run_len_mean, CAST(max(run_len) AS BIGINT) AS run_len_max
        |  FROM (SELECT conv_id, wid, run_id, count(*) AS run_len FROM runbase GROUP BY 1, 2, 3)
        |  GROUP BY conv_id, wid
        |), trimf AS (
        |  SELECT conv_id, wid, round(avg(len), 6) AS len_trim_mean
        |  FROM (SELECT conv_id, wid, CAST(length(text) AS DOUBLE) AS len,
        |          row_number() OVER (PARTITION BY conv_id, wid ORDER BY length(text)) AS rn,
        |          count(*) OVER (PARTITION BY conv_id, wid) AS n
        |        FROM b2)
        |  WHERE rn > floor(n * 0.1) AND rn <= n - floor(n * 0.1)
        |  GROUP BY conv_id, wid
        |)
        |SELECT main.* EXCLUDE (wid), CAST(main.wid AS INTEGER) AS window_id,
        |       sessf.sess_len_mean, sessf.sess_len_max,
        |       trimf.len_trim_mean,
        |       runf.n_runs, runf.run_len_mean, runf.run_len_max
        |FROM main
        |JOIN sessf USING (conv_id, wid)
        |JOIN runf USING (conv_id, wid)
        |JOIN trimf USING (conv_id, wid)
        |ORDER BY conv_id, window_id""".stripMargin),

    "q_motion" -> Oracle.withTurnsCtes(
      """b AS (
        |  SELECT conv_id, turn_idx, CAST(length(text) AS DOUBLE) AS len,
        |    coalesce(least((epoch_us(lead(ts) OVER w) - epoch_us(ts)) // 1000000, 600), 120) AS dur_s
        |  FROM turns WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        |), r AS (
        |  SELECT conv_id, turn_idx, len,
        |    unnest(range(0, CAST(greatest(dur_s // 120, 1) AS BIGINT))) AS rep
        |  FROM b
        |), p AS (
        |  SELECT conv_id, len,
        |    CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, rep) AS INTEGER) AS pos
        |  FROM r
        |), sp AS (
        |  SELECT conv_id, pos, len,
        |    (len - lag(len) OVER (PARTITION BY conv_id ORDER BY pos)) / 120 AS speed
        |  FROM p)
        |SELECT conv_id, pos, CAST(len AS BIGINT) AS v,
        |  round(speed, 6) AS speed,
        |  round(avg(speed) OVER (PARTITION BY conv_id ORDER BY pos
        |        ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS speed_roll
        |FROM sp ORDER BY conv_id, pos""".stripMargin),

    "q_semi_big_convs" -> Oracle.withTurnsCtes(
      """big AS (SELECT conv_id FROM turns GROUP BY 1 HAVING count(*) > 60)
        |SELECT t.conv_id, CAST(count(*) AS BIGINT) AS n_turns
        |FROM turns t WHERE t.conv_id IN (SELECT conv_id FROM big)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_anti_big_convs" -> Oracle.withTurnsCtes(
      """big AS (SELECT conv_id FROM turns GROUP BY 1 HAVING count(*) > 60)
        |SELECT t.conv_id, CAST(count(*) AS BIGINT) AS n_turns
        |FROM turns t WHERE t.conv_id NOT IN (SELECT conv_id FROM big)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_role_order" -> Oracle.withTurnsCtes(
      """d AS (
        |  SELECT DISTINCT conv_id, role,
        |    CASE role WHEN 'system' THEN 0 WHEN 'user' THEN 1
        |         WHEN 'assistant' THEN 2 WHEN 'tool' THEN 3 ELSE 99 END AS rnk
        |  FROM turns)
        |SELECT conv_id, string_agg(role, ',' ORDER BY rnk) AS roles_ordered
        |FROM d GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_knn_ivf" -> (
      s"""WITH $ivfModelCtes,
        |sims AS (
        |  SELECT q.vec_id AS qid, q.cell, e.vec_id AS nbr,
        |    round(${duckCos("q.emb", "e.emb")}, 6) AS cos_sim
        |  FROM assigned q JOIN assigned e ON q.cell = e.cell
        |  WHERE q.vec_id < 5 AND q.vec_id <> e.vec_id)
        |SELECT qid, CAST(cell AS BIGINT) AS cell, nbr, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT qid, cell, nbr, cos_sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nbr) AS rank
        |  FROM sims)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // SemDeDup twin: the SAME model CTEs; within-cell ordered pairs, a
    // vector is a duplicate iff a lower-id same-cell member sits within
    // the cosine threshold.
    "q_semdedup" -> (
      s"""WITH $ivfModelCtes,
        |pr AS (
        |  SELECT a.vec_id AS vid, round(${duckCos("a.emb", "b.emb")}, 6) AS cs
        |  FROM assigned a JOIN assigned b
        |    ON a.cell = b.cell AND b.vec_id < a.vec_id),
        |df AS (SELECT vid, max(CASE WHEN cs >= 0.35 THEN 1 ELSE 0 END) AS dup
        |  FROM pr GROUP BY 1)
        |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
        |  CAST(coalesce(dup, 0) AS INTEGER) AS is_dup
        |FROM assigned a LEFT JOIN df ON df.vid = a.vec_id
        |ORDER BY a.vec_id""".stripMargin),

    // Multi-probe twin: the SAME model CTEs (codebook + assignment), the
    // query side ranks cells by centroid cosine and keeps its top 2.
    "q_knn_ivf_probe2" -> (
      s"""WITH $ivfModelCtes,
        |qprobe AS (
        |  SELECT vec_id AS qid, emb AS qemb, cent_id AS cell FROM (
        |    SELECT e.vec_id, e.emb, c.cent_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(${duckCos("e.emb", "c.cv")}, 6) DESC, c.cent_id) AS r
        |    FROM e2 e, c3 c WHERE e.vec_id < 5)
        |  WHERE r <= 2),
        |sims AS (
        |  SELECT q.qid, e.vec_id AS nbr,
        |    round(${duckCos("q.qemb", "e.emb")}, 6) AS cos_sim
        |  FROM qprobe q JOIN assigned e ON e.cell = q.cell
        |  WHERE q.qid <> e.vec_id)
        |SELECT qid, nbr, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT qid, nbr, cos_sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nbr) AS rank
        |  FROM sims)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    "q_trimmed_custom" -> Oracle.withTurns(
      """SELECT conv_id, round(avg(len), 6) AS len_trim_mean
        |FROM (
        |  SELECT conv_id, CAST(length(text) AS DOUBLE) AS len,
        |         row_number() OVER (PARTITION BY conv_id ORDER BY length(text)) AS rn,
        |         count(*) OVER (PARTITION BY conv_id) AS n
        |  FROM turns)
        |WHERE rn > floor(n * 0.1) AND rn <= n - floor(n * 0.1)
        |GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_weighted_mean" -> Oracle.withTurnsCtes(
      """b AS (
        |  SELECT conv_id, CAST(length(text) AS DOUBLE) AS len,
        |    (epoch_us(lead(ts) OVER w) - epoch_us(ts)) / 1000000.0 AS gap_s,
        |    abs(CAST(length(text) AS DOUBLE)
        |        - lag(CAST(length(text) AS DOUBLE)) OVER w) AS dlen
        |  FROM turns WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
        |SELECT conv_id,
        |  round(CASE WHEN sum(gap_s) > 0 THEN sum(len * gap_s) / sum(gap_s) END, 6)
        |    AS len_weighted_mean,
        |  round(avg(dlen), 6) AS len_gradient_mean
        |FROM b GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_mean_nonzero" -> Oracle.withTurns(
      """SELECT conv_id,
        |  round(avg(CASE WHEN delta_us <> 0 THEN delta_us / 1e6 END), 6)
        |    AS gap_mean_nonzero_s
        |FROM (SELECT conv_id,
        |        epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx))
        |          AS delta_us
        |      FROM turns)
        |GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_availability" -> Oracle.withTurns(
      """SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns
        |FROM turns GROUP BY conv_id
        |HAVING count(tool) > 0 AND count(CASE WHEN role = 'user' THEN 1 END) > 0
        |ORDER BY conv_id""".stripMargin),

    "q_rule_classify" -> (
      """WITH rules(tok, label, prio) AS (VALUES
        |  ('join', 'relational', 1), ('merge', 'relational', 2),
        |  ('stream', 'streaming', 1), ('window', 'streaming', 2),
        |  ('scan', 'access', 2), ('data', 'data', 3), ('the', 'common', 9)),
        |toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |m AS (
        |  SELECT t.doc_id, min(printf('%03d|%s', r.prio, r.label)) AS k
        |  FROM toks t JOIN rules r ON t.tok = r.tok GROUP BY 1)
        |SELECT d.doc_id,
        |       CASE WHEN m.k IS NULL THEN 'other'
        |            ELSE split_part(m.k, '|', 2) END AS label
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    "q_rule_classify_2level" -> (
      """WITH base(tok, fam) AS (VALUES
        |  ('join', 'relational'), ('merge', 'relational'),
        |  ('stream', 'temporal'), ('window', 'temporal'),
        |  ('scan', 'access'), ('filter', 'access'), ('sort', 'access')),
        |rules AS (
        |  SELECT DISTINCT v AS variant, fam AS family FROM (
        |    SELECT unnest([tok, tok || 's', tok || 'ed', tok || 'ing',
        |                   left(tok, length(tok) - 1) || 'ing']) AS v, fam
        |    FROM base)),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, tok, pos,
        |         lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_tok
        |  FROM toks),
        |m AS (
        |  SELECT g.doc_id,
        |         min(printf('%09d|%s|%s', g.pos, r.variant, r.family)) AS k
        |  FROM g JOIN rules r ON g.tok = r.variant
        |  WHERE coalesce(g.prev_tok, '') <> 'not'
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |       CASE WHEN m.k IS NULL THEN 'na' ELSE split_part(m.k, '|', 2) END AS label1,
        |       CASE WHEN m.k IS NULL THEN 'na' ELSE split_part(m.k, '|', 3) END AS label2
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    "q_merge_precedent" -> Oracle.withTurnsCtes(
      """a AS (
        |  SELECT conv_id, max(length(text)) AS len_max, min(length(text)) AS len_min,
        |         avg(length(text)) AS len_mean, count(*) AS n_turns,
        |         'user' AS variant_label
        |  FROM turns WHERE role = 'user' GROUP BY conv_id),
        |b AS (
        |  SELECT conv_id, max(length(text)) AS len_max, min(length(text)) AS len_min,
        |         avg(length(text)) AS len_mean, count(*) AS n_turns,
        |         'assistant' AS variant_label
        |  FROM turns WHERE role = 'assistant' GROUP BY conv_id),
        |m AS (
        |  SELECT coalesce(a.conv_id, b.conv_id) AS conv_id,
        |    CASE WHEN a.len_max IS NULL THEN b.len_max
        |         WHEN b.len_max IS NULL THEN a.len_max
        |         WHEN a.len_max >= b.len_max THEN a.len_max ELSE b.len_max END AS len_max,
        |    CASE WHEN a.len_min IS NULL THEN b.len_min
        |         WHEN b.len_min IS NULL THEN a.len_min
        |         WHEN a.len_min <= b.len_min THEN a.len_min ELSE b.len_min END AS len_min,
        |    CASE WHEN a.len_mean IS NULL THEN b.len_mean
        |         WHEN b.len_mean IS NULL THEN a.len_mean
        |         ELSE (CAST(a.len_mean AS DOUBLE) + CAST(b.len_mean AS DOUBLE)) / 2.0 END AS len_mean,
        |    CASE WHEN a.n_turns IS NULL THEN CAST(b.n_turns AS DOUBLE)
        |         WHEN b.n_turns IS NULL THEN CAST(a.n_turns AS DOUBLE)
        |         ELSE (CAST(a.n_turns AS DOUBLE) + CAST(b.n_turns AS DOUBLE)) / 2.0 END AS n_turns,
        |    coalesce(a.variant_label, b.variant_label) AS variant_label
        |  FROM a FULL JOIN b ON a.conv_id = b.conv_id)
        |SELECT conv_id, CAST(len_max AS BIGINT) AS len_max,
        |       CAST(len_min AS BIGINT) AS len_min,
        |       round(len_mean, 6) AS len_mean,
        |       round(n_turns, 6) AS n_turns_mean,
        |       variant_label,
        |       round(coalesce(CAST(len_max AS DOUBLE), 0) +
        |             coalesce(CAST(len_min AS DOUBLE), 0), 6) AS len_extremes_sum
        |FROM m ORDER BY conv_id""".stripMargin),

    "q_meta_probe" -> Oracle.withTurns(
      """SELECT conv_id, turn_idx,
        |  CASE WHEN json_valid(regexp_extract(text, '^[a-z]+:\d+:(.*)$', 1))
        |       THEN TRY_CAST(json_extract_string(regexp_extract(text, '^[a-z]+:\d+:(.*)$', 1), '$.k') AS BIGINT)
        |  END AS k_probe,
        |  CASE WHEN json_valid(regexp_extract(text, '^[a-z]+:\d+:(.*)$', 1))
        |       THEN TRY_CAST(json_extract_string(regexp_extract(text, '^[a-z]+:\d+:(.*)$', 1), '$.m') AS BIGINT)
        |  END AS m_probe
        |FROM turns ORDER BY conv_id, turn_idx""".stripMargin),

    "q_label_parse" -> Oracle.withTurns(
      """SELECT conv_id, turn_idx,
        |  regexp_extract(text, '^([a-z]+):', 1) AS etype,
        |  CAST(regexp_extract(text, '^[a-z]+:(\d+):', 1) AS BIGINT) AS eid,
        |  CAST(regexp_extract(text, '"k": (\d+)', 1) AS BIGINT) AS k_val
        |FROM turns ORDER BY conv_id, turn_idx""".stripMargin),

    "q_bucket_battery" -> Oracle.withTurnsCtes(
      """b AS (
        |  SELECT conv_id, length(text) AS len, role, tool,
        |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx))
        |      AS delta_us
        |  FROM turns)
        |SELECT conv_id,
        |  CAST(sum(CASE WHEN len < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_0_49,
        |  CAST(sum(CASE WHEN len >= 50 AND len < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_50_99,
        |  CAST(sum(CASE WHEN len >= 100 AND len < 150 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_100_149,
        |  CAST(sum(CASE WHEN len >= 150 AND len < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_150_199,
        |  CAST(sum(CASE WHEN len >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_200_plus,
        |  CAST(sum(CASE WHEN delta_us < 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_under_1m,
        |  CAST(sum(CASE WHEN delta_us >= 60000000 AND delta_us < 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_1m_1h,
        |  CAST(sum(CASE WHEN delta_us >= 3600000000 AND delta_us < 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_1h_1d,
        |  CAST(sum(CASE WHEN delta_us >= 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_over_1d,
        |  CAST(sum(CASE WHEN role = 'user' AND len >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_user,
        |  CAST(sum(CASE WHEN role = 'assistant' AND len >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_assistant,
        |  CAST(sum(CASE WHEN tool IS NOT NULL AND role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_role_calls
        |FROM b GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    "q_histogram_map" -> Oracle.withTurns(
      """SELECT conv_id, coalesce(tool, 'none') AS tool_key,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM turns GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_incremental_hist" -> Oracle.withTurns(
      """SELECT conv_id, tool, CAST(count(*) AS BIGINT) AS n
        |FROM turns WHERE tool IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // direct single-pass KMV — the Spark side reaches the same sketch via
    // slice partials + store merge, so equality IS the incremental
    // cardinality-maintenance check; 1152921504606846976.0 = 2^60 (the
    // md5Long hash width), 31 = k-1 at k=32
    "q_incremental_distinct" -> Oracle.withTurns(
      """, tok AS (
        |  SELECT DISTINCT conv_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM (
        |    SELECT conv_id, unnest(string_split(text, ' ')) AS tok
        |    FROM turns WHERE text IS NOT NULL)),
        |rk AS (
        |  SELECT conv_id, h,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY h) AS rn
        |  FROM tok)
        |SELECT conv_id, CAST(count(*) AS INTEGER) AS kmv_size,
        |  round(CASE WHEN count(*) < 32 THEN CAST(count(*) AS DOUBLE)
        |        ELSE 31.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE) END, 6)
        |    AS est_distinct
        |FROM rk WHERE rn <= 32 GROUP BY 1 ORDER BY conv_id""".stripMargin),

    // direct single-pass binned gap histogram + integer-rank lower-median
    // bin — the Spark side reaches the same rows via slice partials merged
    // with the boundary-gap stitch, so equality proves merged ≡ direct for
    // the mergeable-quantile summary. 3600000000 = the hour bin in µs,
    // 96 = the overflow bin; cum*2 >= total+1 is the divisionless
    // lower-median rank test (identical in the Spark form).
    "q_incremental_gap_hist" -> Oracle.withTurns(
      """, g AS (
        |  SELECT conv_id, epoch_us(ts) -
        |    epoch_us(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx)) AS gap_us
        |  FROM turns),
        |h AS (
        |  SELECT conv_id,
        |    CAST(least(gap_us // 3600000000, 96) AS INTEGER) AS bin,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM g WHERE gap_us IS NOT NULL GROUP BY 1, 2),
        |c AS (
        |  SELECT conv_id, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY conv_id ORDER BY bin) AS cum,
        |    sum(cnt) OVER (PARTITION BY conv_id) AS total
        |  FROM h)
        |SELECT conv_id, bin, cnt,
        |  CAST(min(CASE WHEN cum * 2 >= total + 1 THEN bin END)
        |       OVER (PARTITION BY conv_id) AS INTEGER) AS p50_bin
        |FROM c ORDER BY conv_id, bin""".stripMargin),

    // static pivot twin of the dynamic wide export — the closed tool
    // vocabulary (tool_0..3 + none) makes the column set, and the aliases
    // are the exact renderReferenceNames renderings
    "q_export_wide" -> Oracle.withTurns(
      """SELECT conv_id,
        |  CAST(sum(CASE WHEN tool IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "Score_HistNone",
        |  CAST(sum(CASE WHEN tool = 'tool_0' THEN 1 ELSE 0 END) AS BIGINT) AS "Score_HistTool0",
        |  CAST(sum(CASE WHEN tool = 'tool_1' THEN 1 ELSE 0 END) AS BIGINT) AS "Score_HistTool1",
        |  CAST(sum(CASE WHEN tool = 'tool_2' THEN 1 ELSE 0 END) AS BIGINT) AS "Score_HistTool2",
        |  CAST(sum(CASE WHEN tool = 'tool_3' THEN 1 ELSE 0 END) AS BIGINT) AS "Score_HistTool3"
        |FROM turns GROUP BY conv_id ORDER BY conv_id""".stripMargin),

    // the static twin of the dynamic post-process pipeline: the P3 deletes
    // (tmp_/_raw) and the P5 column drop (only legacy_score, 100% null at
    // any SF, crosses the 0.95 threshold) are baked into the select list;
    // P4's row rule, G2's coalesce-0 group sum, and G4's mean-fill are
    // literal expressions. 9 * 0.25 = the Spark side's
    // df.columns.length * maxNullFraction with 9 surviving columns.
    "q_postprocess" -> Oracle.withTurnsCtes(
      """fm AS (
        |  SELECT conv_id,
        |         (epoch_us(ts) // 604800000000) * 604800000000 AS w_start_us,
        |         CAST(count(*) AS BIGINT) AS n_turns,
        |         avg(CASE WHEN role = 'user' THEN CAST(length(text) AS DOUBLE) END) AS user_len_mean,
        |         avg(CASE WHEN role = 'assistant' THEN CAST(length(text) AS DOUBLE) END) AS asst_len_mean,
        |         avg(CASE WHEN role = 'system' THEN CAST(length(text) AS DOUBLE) END) AS sys_len_mean,
        |         avg(CASE WHEN tool IS NOT NULL THEN CAST(turn_idx AS DOUBLE) END) AS tool_idx_mean,
        |         sum(CASE WHEN role = 'user' THEN CAST(length(text) AS DOUBLE) END) AS user_len_sum,
        |         sum(CASE WHEN role = 'assistant' THEN CAST(length(text) AS DOUBLE) END) AS asst_len_sum
        |  FROM turns GROUP BY 1, 2),
        |kept AS (
        |  SELECT * FROM fm
        |  WHERE (CASE WHEN user_len_mean IS NULL THEN 1 ELSE 0 END
        |       + CASE WHEN asst_len_mean IS NULL THEN 1 ELSE 0 END
        |       + CASE WHEN sys_len_mean IS NULL THEN 1 ELSE 0 END
        |       + CASE WHEN tool_idx_mean IS NULL THEN 1 ELSE 0 END
        |       + CASE WHEN user_len_sum IS NULL THEN 1 ELSE 0 END
        |       + CASE WHEN asst_len_sum IS NULL THEN 1 ELSE 0 END) <= 9 * 0.25)
        |SELECT conv_id, w_start_us, n_turns,
        |       round(coalesce(user_len_mean, 0), 6) AS user_len_mean,
        |       round(coalesce(asst_len_mean, 0), 6) AS asst_len_mean,
        |       round(coalesce(sys_len_mean, 0), 6) AS sys_len_mean,
        |       round(coalesce(tool_idx_mean, 0), 6) AS tool_idx_mean,
        |       round(user_len_sum, 6) AS user_len_sum,
        |       round(asst_len_sum, 6) AS asst_len_sum,
        |       round(coalesce(user_len_sum, 0) + coalesce(asst_len_sum, 0), 6) AS len_sum_group
        |FROM kept ORDER BY conv_id, w_start_us""".stripMargin),

    "q_histogram_map_share" -> Oracle.withTurnsCtes(
      """c AS (SELECT conv_id, role AS role_key, count(*) AS n FROM turns GROUP BY 1, 2)
        |SELECT conv_id, role_key,
        |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY conv_id), 6) AS share
        |FROM c ORDER BY conv_id, role_key""".stripMargin),

    "q_tie_merge" -> Oracle.withTurnsCtes(
      """f AS (
        |  SELECT conv_id, turn_idx, role, length(text) AS tl,
        |    CAST(sum(CASE WHEN prev IS NULL OR prev <> role THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING)
        |      - 1 AS INTEGER) AS fuse_id
        |  FROM (SELECT conv_id, turn_idx, role, text,
        |          lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
        |        FROM turns)
        |)
        |SELECT conv_id, fuse_id, arg_min(role, turn_idx) AS role,
        |       CAST(sum(tl) AS BIGINT) AS len_sum,
        |       CAST(count(*) AS BIGINT) AS n_fused,
        |       CAST(min(turn_idx) AS INTEGER) AS start_turn_idx,
        |       CAST(max(turn_idx) AS INTEGER) AS end_turn_idx
        |FROM f GROUP BY 1, 2 ORDER BY conv_id, fuse_id""".stripMargin),

    "q_tool_episodes" -> Oracle.withTurnsCtes(
      """calls AS (
        |  SELECT conv_id, turn_idx, tool, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_us
        |  FROM turns WHERE tool IS NOT NULL
        |), ep AS (
        |  SELECT conv_id, turn_idx, tool,
        |    CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 604800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING)
        |      - 1 AS INTEGER) AS episode_id
        |  FROM calls
        |)
        |SELECT conv_id, episode_id, string_agg(tool, '+' ORDER BY turn_idx) AS name,
        |       CAST(count(*) AS BIGINT) AS n_calls,
        |       CAST(min(turn_idx) AS INTEGER) AS start_idx,
        |       CAST(max(turn_idx) AS INTEGER) AS end_idx
        |FROM ep GROUP BY 1, 2 ORDER BY conv_id, episode_id""".stripMargin),

    "q_tumbling_weeks" -> Oracle.withTurns(
      """SELECT conv_id,
        |  (epoch_us(ts) // 604800000000) * 604800000000 AS w_start_us,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(count(tool) AS BIGINT) AS n_tool_calls
        |FROM turns GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_feature_matrix" -> Oracle.withTurnsAndState(
      s""", base AS (
        |  SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, s.state_val,
        |    epoch_us(t.ts) - epoch_us(lag(t.ts) OVER w) AS delta_us,
        |    lag(t.role) OVER w AS prev_role
        |  FROM turns t ASOF LEFT JOIN state s
        |    ON t.conv_id = s.conv_id AND t.ts >= s.ts
        |  WINDOW w AS (PARTITION BY t.conv_id ORDER BY t.turn_idx)
        |), b2 AS (
        |  SELECT *, sum(CASE WHEN delta_us > ${SessionGapSeconds}000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM base
        |), main AS (
        |  SELECT conv_id,
        |    count(CASE WHEN role = 'user' THEN 1 END) AS role_user_n_turns,
        |    round(avg(CASE WHEN role = 'user' THEN length(text) END), 6) AS role_user_len_mean,
        |    count(CASE WHEN role = 'assistant' THEN 1 END) AS role_assistant_n_turns,
        |    round(avg(CASE WHEN role = 'assistant' THEN length(text) END), 6) AS role_assistant_len_mean,
        |    count(CASE WHEN role = 'system' THEN 1 END) AS role_system_n_turns,
        |    round(avg(CASE WHEN role = 'system' THEN length(text) END), 6) AS role_system_len_mean,
        |    count(CASE WHEN role = 'tool' THEN 1 END) AS role_tool_n_turns,
        |    round(avg(CASE WHEN role = 'tool' THEN length(text) END), 6) AS role_tool_len_mean,
        |    count(*) AS n_turns,
        |    count(tool) AS n_tool_calls,
        |    count(DISTINCT tool) AS n_distinct_tools,
        |    arg_min(role, turn_idx) AS first_role,
        |    arg_max(role, turn_idx) AS last_role,
        |    round(avg(delta_us / 1000000.0), 6) AS delta_ts_mean_s,
        |    round(stddev_samp(delta_us / 1000000.0), 6) AS delta_ts_std_s,
        |    count(CASE WHEN prev_role = role THEN 1 END) AS n_role_repeats,
        |    CAST(max(session_id) + 1 AS BIGINT) AS n_sessions,
        |    round(CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE) / 3.6e9, 6) AS active_hours,
        |    round(CASE WHEN max(epoch_us(ts)) > min(epoch_us(ts))
        |          THEN count(*) / (CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE) / 3.6e9)
        |          END, 6) AS turns_per_hour,
        |    round(CAST(count(tool) AS DOUBLE) / count(*), 6) AS tool_call_density,
        |    round(avg(length(text)), 6) AS len_mean,
        |    round(stddev_samp(length(text)), 6) AS len_std,
        |    round(CASE WHEN count(*) >= 3 AND stddev_samp(length(text)) > 0
        |          THEN skewness(length(text)) END, 6) AS len_skew,
        |    round(CASE WHEN count(*) >= 4 AND stddev_samp(length(text)) > 0
        |          THEN kurtosis(length(text)) END, 6) AS len_kurt,
        |    CAST(min(length(text)) AS BIGINT) AS len_min,
        |    CAST(max(length(text)) AS BIGINT) AS len_max,
        |    count(state_val) AS n_turns_with_state,
        |    count(DISTINCT state_val) AS n_distinct_states
        |  FROM b2 GROUP BY conv_id
        |), sessf AS (
        |  SELECT conv_id, round(avg(n), 6) AS sess_len_mean, CAST(max(n) AS BIGINT) AS sess_len_max
        |  FROM (SELECT conv_id, session_id, count(*) AS n FROM b2 GROUP BY 1, 2)
        |  GROUP BY conv_id
        |), runbase AS (
        |  SELECT conv_id,
        |    sum(CASE WHEN prev_role IS NULL OR prev_role <> role THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM b2
        |), runf AS (
        |  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_runs,
        |         round(avg(run_len), 6) AS run_len_mean, CAST(max(run_len) AS BIGINT) AS run_len_max
        |  FROM (SELECT conv_id, run_id, count(*) AS run_len FROM runbase GROUP BY 1, 2)
        |  GROUP BY conv_id
        |), trimf AS (
        |  SELECT conv_id, round(avg(len), 6) AS len_trim_mean
        |  FROM (SELECT conv_id, CAST(length(text) AS DOUBLE) AS len,
        |          row_number() OVER (PARTITION BY conv_id ORDER BY length(text)) AS rn,
        |          count(*) OVER (PARTITION BY conv_id) AS n
        |        FROM b2)
        |  WHERE rn > floor(n * 0.1) AND rn <= n - floor(n * 0.1)
        |  GROUP BY conv_id
        |)
        |SELECT main.*, sessf.sess_len_mean, sessf.sess_len_max,
        |       trimf.len_trim_mean,
        |       runf.n_runs, runf.run_len_mean, runf.run_len_max
        |FROM main
        |JOIN sessf USING (conv_id)
        |JOIN runf USING (conv_id)
        |JOIN trimf USING (conv_id)
        |ORDER BY conv_id""".stripMargin),

    "q_string_ops" -> Oracle.withTurns(
      """SELECT conv_id, turn_idx,
        |  upper(role) AS role_uc,
        |  lower(role) AS role_lc,
        |  repeat('*', turn_idx % 5) AS marker,
        |  lpad(CAST(turn_idx AS VARCHAR), 4, '0') AS idx_pad,
        |  substr(text, 1, 8) AS text_head
        |FROM turns ORDER BY conv_id, turn_idx""".stripMargin),

    "q_top_convs" -> Oracle.withTurns(
      """SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns
        |FROM turns GROUP BY 1
        |ORDER BY n_turns DESC, conv_id LIMIT 10""".stripMargin),

    // recall@3 of the banded sign-plane index vs brute truth — the truth
    // and approx CTEs restate q_knn_brute / q_knn_lsh verbatim (same
    // tiebreak), then one semi-count per query id
    "q_knn_recall" -> (
      s"""WITH ${duckBandsCte()},
        |bsims AS (
        |  SELECT q.vec_id AS qid, e.vec_id AS nbr,
        |    round(${duckCos("q.embedding::DOUBLE[]", "e.embedding::DOUBLE[]")}, 6) AS cos_sim
        |  FROM embeddings q JOIN embeddings e ON q.vec_id < 5 AND q.vec_id <> e.vec_id),
        |truth AS (SELECT qid, nbr FROM (
        |  SELECT qid, nbr, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nbr) AS rank
        |  FROM bsims) WHERE rank <= 3),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS qid, e.vec_id AS nbr
        |  FROM bands q JOIN bands e
        |    ON q.band_idx = e.band_idx AND q.band_val = e.band_val
        |  WHERE q.vec_id < 5 AND q.vec_id <> e.vec_id),
        |lsims AS (
        |  SELECT c.qid, c.nbr,
        |    round(${duckCos("qe.embedding::DOUBLE[]", "ne.embedding::DOUBLE[]")}, 6) AS cos_sim
        |  FROM cand c
        |  JOIN embeddings qe ON qe.vec_id = c.qid
        |  JOIN embeddings ne ON ne.vec_id = c.nbr),
        |approx AS (SELECT qid, nbr FROM (
        |  SELECT qid, nbr, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nbr) AS rank
        |  FROM lsims) WHERE rank <= 3),
        |h AS (SELECT t.qid, count(*) AS hits FROM truth t
        |  JOIN approx a ON a.qid = t.qid AND a.nbr = t.nbr GROUP BY 1),
        |tt AS (SELECT qid, count(*) AS n_true FROM truth GROUP BY 1)
        |SELECT tt.qid, CAST(tt.n_true AS BIGINT) AS n_true,
        |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  round(CAST(coalesce(h.hits, 0) AS DOUBLE) / tt.n_true, 6) AS recall
        |FROM tt LEFT JOIN h ON h.qid = tt.qid
        |ORDER BY tt.qid""".stripMargin),

    // novelty: trigram first-occurrence by min(doc_id) over the 60-bit
    // gram hash (the shared md5Long primitive); docs without grams keep
    // n_grams = 0 and NULL novelty in both engines
    "q_ngram_novelty" -> (
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh FROM (
        |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram
        |    FROM toks)),
        |first AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY 1),
        |per AS (
        |  SELECT g.doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
        |  FROM g JOIN first f ON f.gh = g.gh GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
        |  round(CAST(p.n_novel AS DOUBLE) / p.n_grams, 6) AS novelty
        |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // power-of-two length ladder as a literal CASE chain (no float log2);
    // waste = 1 − real/padded over exact integers
    "q_length_buckets" -> (
      """WITH d AS (
        |  SELECT coalesce(len(string_split(text, ' ')), 0) AS tok_cnt
        |  FROM documents),
        |b AS (SELECT tok_cnt,
        |  CASE WHEN tok_cnt <= 16 THEN 16 WHEN tok_cnt <= 32 THEN 32
        |       WHEN tok_cnt <= 64 THEN 64 WHEN tok_cnt <= 128 THEN 128
        |       WHEN tok_cnt <= 256 THEN 256 WHEN tok_cnt <= 512 THEN 512
        |       WHEN tok_cnt <= 1024 THEN 1024 WHEN tok_cnt <= 2048 THEN 2048
        |       ELSE 4096 END AS bucket
        |  FROM d)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tok_cnt) AS BIGINT) AS sum_tokens,
        |  CAST(bucket * count(*) AS BIGINT) AS padded_tokens,
        |  round(CAST(1 AS DOUBLE) - CAST(sum(tok_cnt) AS DOUBLE)
        |    / CAST(bucket * count(*) AS DOUBLE), 6) AS waste
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    // trigram first-occurrence by min(doc_id) over the 60-bit hash (the
    // q_ngram_novelty gram CTE); deciles by exact integer division;
    // cumulative sum CAST to BIGINT (DuckDB window sum of BIGINT returns
    // HUGEINT)
    "q_vocab_growth" -> (
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh FROM (
        |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram
        |    FROM toks)),
        |first AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY 1),
        |nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
        |dg AS (SELECT CAST((first_doc * 10) // nn.n AS BIGINT) AS decile,
        |    count(*) AS n_new_grams
        |  FROM first, nn GROUP BY 1)
        |SELECT decile, CAST(n_new_grams AS BIGINT) AS n_new_grams,
        |  CAST(sum(n_new_grams) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_cum
        |FROM dg ORDER BY decile""".stripMargin),

    // per-source percent-rank of the 6-dp quality score; the (q, doc_id)
    // order key is tie-free so percent_rank = (row−1)/(n−1) exactly;
    // NULLS FIRST pins DuckDB to Spark's asc-nulls-first default
    "q_quality_calibrate" -> (
      """WITH d AS (SELECT doc_id, source,
        |  round(ln(1.0 + len(string_split(text, ' '))) *
        |        (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','is','of','and','to','in'))) AS DOUBLE)
        |          / len(string_split(text, ' '))), 6) AS q
        |  FROM documents)
        |SELECT doc_id, source, q,
        |  round(percent_rank() OVER (PARTITION BY source
        |    ORDER BY q ASC NULLS FIRST, doc_id ASC), 6) AS q_pct
        |FROM d ORDER BY doc_id""".stripMargin),

    // the same integer bucket rule ((10·(rank−1)) // greatest(n−1,1),
    // cap 9) over the calibrate quality expression; NULLS FIRST pins
    // DuckDB's ASC order to Spark's asc default
    "q_quality_sweep" -> (
      """WITH d AS (SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt,
        |  round(ln(1.0 + len(string_split(text, ' '))) *
        |        (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','is','of','and','to','in'))) AS DOUBLE)
        |          / len(string_split(text, ' '))), 6) AS q
        |  FROM documents),
        |b AS (SELECT source, tok_cnt,
        |  least((10 * (row_number() OVER (PARTITION BY source
        |      ORDER BY q ASC NULLS FIRST, doc_id ASC) - 1))
        |    // greatest(count(*) OVER (PARTITION BY source) - 1, 1), 9) AS bucket
        |  FROM d),
        |e AS (SELECT source, tok_cnt, unnest(range(0, bucket + 1)) AS thr
        |  FROM b),
        |g AS (SELECT source, CAST(thr AS BIGINT) AS thr_tenths,
        |  CAST(count(*) AS BIGINT) AS docs_kept,
        |  CAST(sum(tok_cnt) AS BIGINT) AS tokens_kept
        |  FROM e GROUP BY 1, 2)
        |SELECT source, thr_tenths, docs_kept, tokens_kept,
        |  round(CAST(tokens_kept AS DOUBLE) / CAST(
        |    max(CASE WHEN thr_tenths = 0 THEN tokens_kept END)
        |      OVER (PARTITION BY source) AS DOUBLE), 6) AS token_share
        |FROM g
        |ORDER BY 1, 2""".stripMargin),

    // estimator calibration over the live candidate set: matching-seed
    // share vs the verify stage's exact Jaccard (unfiltered `ver`)
    "q_minhash_error" -> (
      s"""WITH $neardupPairsCtes,
        |mm AS (SELECT c.da, c.db,
        |    sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) AS n_match
        |  FROM cand c
        |  JOIN mh x ON x.doc_id = c.da
        |  JOIN mh y ON y.doc_id = c.db AND y.seed = x.seed
        |  GROUP BY 1, 2)
        |SELECT v.da, v.db,
        |  round(CAST(mm.n_match AS DOUBLE) / 8, 6) AS est_jaccard,
        |  round(v.j, 6) AS jaccard,
        |  round(abs(CAST(mm.n_match AS DOUBLE) / 8 - round(v.j, 6)), 6) AS abs_err
        |FROM ver v JOIN mm ON mm.da = v.da AND mm.db = v.db
        |ORDER BY v.da, v.db""".stripMargin),
  )
}
