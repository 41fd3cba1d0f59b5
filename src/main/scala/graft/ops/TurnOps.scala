package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-layout helpers: the engine's partitioning contract.
  *
  * Every ordered scan (lag/lead, sessionize, backfill, as-of) wants the data
  * range-partitioned by the entity key and sorted by the ordering key inside
  * each partition. One explicit exchange up front, then every window frame
  * over `(key) ORDER BY (ord)` is shuffle-free — Catalyst recognizes the
  * child ordering and elides the sort. At 100 TB this is the difference
  * between one range exchange and a shuffle per window operator.
  */
object Ordered {

  /** Range-partition by `key`, sort partitions by `(key, ord...)`.
    * `numPartitions <= 0` leaves the session default (AQE-friendly).
    */
  def orderedPartitions(df: DataFrame, key: String, ord: String*): DataFrame = {
    val sorted = (key +: ord).map(col)
    df.repartitionByRange(col(key)).sortWithinPartitions(sorted: _*)
  }

  /** Hash-clustered layout for BINARY co-partitioned operators — the
    * native as-of merge ([[graft.plans.AsOfMergeExec]]) requires
    * `ClusteredDistribution` on BOTH children, and co-partition
    * compatibility across the two sides is only achievable under HASH
    * partitioning: range bounds are per-shuffle samples, so Spark cannot
    * shuffle the state side "into" a range layout, and EnsureRequirements
    * would instead re-shuffle the fact side too (measured: a range-laid
    * flagship paid THREE full-table exchanges). A hash-clustered left side
    * passes through untouched while only the small state side shuffles;
    * the exec's own `requiredChildOrdering` supplies the `(key, ts)`
    * in-partition sort. Range layout ([[orderedPartitions]]) remains the
    * right contract for single-input window scans.
    */
  def clusteredPartitions(df: DataFrame, key: String): DataFrame = {
    // EXPLICIT width (r7): `repartition(col)` with no count lets AQE
    // coalesce the post-shuffle side by BYTES (advisory 64MB), which at
    // bench-fixture sizes folds the CPU-heavy window/as-of/aggregate
    // stages that reuse this exchange onto 2-3 tasks while the rest of
    // the machine idles — compute-bound stages must be sized by the
    // session's configured width, not by shuffle bytes. The width is the
    // session's shuffle partition count (the scale-configured knob — the
    // cluster run sets it to thousands, the local bench to its core
    // count), NOT a constant, read typed as Spark's own exchanges read
    // it; an explicit count is exempt from AQE coalescing, so the layout
    // behaves identically whether coalescing is on (per-query bench) or
    // off (scaling pairs).
    val sp = org.apache.spark.sql.graft.Bridge.sqlConf(df.sparkSession).numShufflePartitions
    df.repartition(sp, col(key))
  }
}

/** Lag/lead turn features (SURVEY.md W1/W10; musiF interval extraction,
  * musif/extract/features/melody — `_get_intervals`
  * musif/musicxml/common.py:199-203) come from the native
  * [[graft.plans.TurnScan]] pass (`TurnScan.lag`); this holds the
  * timestamp convention every engine-side delta uses.
  */
object LagLead {
  /** Exact integer microseconds since epoch. Parquet timestamps load as
    * TIMESTAMP_NTZ in Spark 4; the session runs in UTC so the cast is
    * lossless and matches DuckDB's epoch_us.
    */
  def micros(c: Column): Column = unix_micros(c.cast("timestamp"))
}

/** Blocked ordered scan with boundary carry (SURVEY.md §7.4#2) — the skew
  * answer for ORDERED operators, which salting can't help (a window over
  * one giant conv_id serializes on one task). The conversation is cut into
  * `blockRows`-sized blocks by turn_idx; each block computes its scan
  * locally in parallel, and the per-block boundary state (last ts, flag
  * count) — a tiny frame, |blocks| rows — is carried across blocks with a
  * cheap window + broadcast join back. Exactly the streaming "carry state
  * between micro-batches" trick applied spatially.
  *
  * Result is row-identical to the turn scan's `session_id`
  * (property-tested); use when a key's row count exceeds what one task
  * should sort (~10⁷).
  */
object BlockedScan {

  /** Sessionize-by-gap (`session_id` ≡ [[graft.plans.TurnScan.sessions]])
    * with per-key parallelism `⌈rows/blockRows⌉`. Kept beside the turn
    * scan as its measured skew twin: the scan walks one key on one task,
    * this splits a giant key across tasks (crossover in BENCH.md, measured
    * by `graft.tools.SkewBench`). Cost: one extra groupBy + two
    * broadcast-sized frames; each heavy window sorts only (key, block)
    * slices.
    */
  def sessionizeByGap(turns: DataFrame, gapSeconds: Long, blockRows: Int,
                      key: String = "conv_id", ts: String = "ts",
                      ord: String = "turn_idx"): DataFrame = {
    require(blockRows > 0)
    val gapUs = gapSeconds * 1000000L
    val k = col(key)
    // blocked input materialized once (r7): the plan references it four
    // times (bounds, flags, offsets, final recombine), and each lazy
    // reference re-derived the input pipeline. Same trade as
    // DupSpans.spansSkewSafe — on a multi-executor cluster swap
    // localCheckpoint for persist(DISK_ONLY).
    val blocked = turns.withColumn("__blk", (col(ord).cast("long") / blockRows).cast("int"))
      .localCheckpoint()
    val wBlk = Window.partitionBy(k, col("__blk")).orderBy(col(ord))

    // per-block boundary frame: |blocks| rows — tiny relative to the data
    val bounds = blocked.groupBy(k, col("__blk"))
      .agg(max_by(col(ts), col(ord)).as("__last_ts"))
    val wByBlk = Window.partitionBy(k).orderBy(col("__blk"))
    val carry = bounds
      .withColumn("__prev_last_ts", lag(col("__last_ts"), 1).over(wByBlk))
      .select(k, col("__blk"), col("__prev_last_ts"))

    // local scan: the gap of a block's FIRST row reaches back to the
    // previous block's last ts via the carried boundary
    val withFlags = blocked
      .join(broadcast(carry), Seq(key, "__blk"))
      .withColumn("__prev_ts",
        coalesce(lag(col(ts), 1).over(wBlk), col("__prev_last_ts")))
      .withColumn("__flag",
        when(LagLead.micros(col(ts)) - LagLead.micros(col("__prev_ts")) > gapUs, 1)
          .otherwise(0))
      .withColumn("__local",
        sum(col("__flag")).over(wBlk.rowsBetween(Window.unboundedPreceding, 0)))

    // cross-block offset: cumulative flag count of all PRIOR blocks
    val offsets = withFlags.groupBy(k, col("__blk"))
      .agg(sum(col("__flag")).as("__nflags"))
      .withColumn("__offset",
        coalesce(sum(col("__nflags")).over(
          wByBlk.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(k, col("__blk"), col("__offset"))

    withFlags
      .join(broadcast(offsets), Seq(key, "__blk"))
      .withColumn("session_id", (col("__local") + col("__offset")).cast("int"))
      .drop("__blk", "__prev_last_ts", "__prev_ts", "__flag", "__local", "__offset")
  }
}

/** Forward-fill / last-observation-carried-forward (SURVEY.md W5; musiF
  * time-signature carry and tonality-map gap fill,
  * musif/extract/features/tempo/handler.py:120-136,
  * scale_relative/utils.py:61-72). Window frames, not the turn scan: the
  * last non-NULL value can lie any number of rows back (or ahead), and the
  * scan carries only the previous row.
  */
object Backfill {
  def ffill(df: DataFrame, valueCol: String, outCol: String,
            key: String = "conv_id", ord: String = "turn_idx"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ord))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn(outCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Backward fill: first non-null at-or-after this position. */
  def bfill(df: DataFrame, valueCol: String, outCol: String,
            key: String = "conv_id", ord: String = "turn_idx"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ord))
      .rowsBetween(0, Window.unboundedFollowing)
    df.withColumn(outCol, first(col(valueCol), ignoreNulls = true).over(w))
  }
}

/** Two-phase salted aggregation for skewed keys (SURVEY.md §4.2): partial
  * aggregate per (key, salt) splits one giant key across `saltBuckets`
  * tasks, final aggregate per key combines the partials. Results identical
  * to a direct groupBy — the point is the shuffle shape under skew.
  * (musiF parallelizes per file — joblib `Parallel`, extract.py:357-360 —
  * and has no answer to one pathological file; this is ours.)
  */
object Salted {
  /** Skew-safe counts + sums. `sums` maps output name → input column. */
  def countsAndSums(df: DataFrame, key: String, ord: String, saltBuckets: Int,
                    countName: String, sums: Map[String, String]): DataFrame = {
    val salted = df.withColumn("__salt", pmod(col(ord), lit(saltBuckets)))
    val partialAggs = count(lit(1)).as("__pc") +:
      sums.toSeq.map { case (out, in) => sum(col(in)).as(s"__ps_$out") }
    val partial = salted.groupBy(col(key), col("__salt"))
      .agg(partialAggs.head, partialAggs.tail: _*)
    val finalAggs = sum(col("__pc")).as(countName) +:
      sums.toSeq.map { case (out, _) => sum(col(s"__ps_$out")).as(out) }
    partial.groupBy(col(key)).agg(finalAggs.head, finalAggs.tail: _*)
  }
}

/** Run-length encoding of role runs (SURVEY.md W2/W4; musiF ascent/descent
  * chunking melody/handler.py:675-689 and dedup-consecutive
  * harmony/utils.py:23): the turn scan's `run_id` numbers the runs.
  */
object RunLength {
  /** Per-conversation statistics over runs of equal `role`. */
  def runStats(turns: DataFrame): DataFrame =
    graft.plans.TurnScan.runs(turns)
      .groupBy(col("conv_id"), col("run_id"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_runs"),
        round(avg(col("run_len")), 6).as("run_len_mean"),
        max(col("run_len")).as("run_len_max"))
}

/** Overlapping sliding windows over `turn_idx` (SURVEY.md W8; musiF
  * measure windows `_process_score_windows` extract.py:416-464 with
  * hop = window_size - overlap, n_windows = (N - overlap) / hop,
  * extract.py:429-434). Overlap means one row belongs to several windows —
  * not a Spark window frame but a generator: each turn explodes into the
  * window ids containing it, then any per-window aggregate is an ordinary
  * groupBy. At scale the fan-out factor is ceil(ws/hop) (small constant),
  * and the groupBy keys extend the conv_id partitioning → local aggregation.
  * The conversation length comes from an unordered `count over (key)`
  * window: a fan-out is no ordered walk, so the turn scan has no part here.
  */
object WindowFanout {
  /** Adds `window_id`; fan-out by explode(sequence(lo, hi)).
    * Window w covers turn_idx in [w*hop, w*hop + ws - 1], w in
    * [0, n_windows-1] where n_windows = max(1, (N - overlap) / hop)
    * (floor). Rows beyond the last window's end are clipped into it only if
    * they fall inside its span (reference drops the tail the same way).
    */
  def byTurnIdx(turns: DataFrame, windowSize: Int, overlap: Int,
                key: String = "conv_id", ord: String = "turn_idx"): DataFrame = {
    require(overlap < windowSize, "overlap must be < window_size")
    val hop = windowSize - overlap
    val n = count(lit(1)).over(Window.partitionBy(col(key)))
    val nWindows = greatest(((n - overlap) / hop).cast("int"), lit(1))
    val i = col(ord)
    // smallest window containing i: ceil((i - ws + 1)/hop) clipped at 0
    val lo = greatest(ceil((i - windowSize + 1).cast("double") / hop).cast("int"), lit(0))
    // largest: floor(i/hop), clipped at n_windows-1
    val hi = least((i / hop).cast("int"), col("__n_windows") - 1)
    turns
      .withColumn("__n_windows", nWindows) // window fn materialized before the generator
      .withColumn("window_id", explode_outer(
        when(lo <= hi, sequence(lo, hi)).otherwise(lit(null))))
      .filter(col("window_id").isNotNull)
      .drop("__n_windows")
  }
}
