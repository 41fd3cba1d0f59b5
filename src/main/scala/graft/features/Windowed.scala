package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.WindowFanout

/** Window-mode feature extraction — musiF's second execution mode
  * (`_process_score_windows`, musif/extract/extract.py:416-464): one output
  * row per (conv_id, window_id) instead of per conversation, windows of
  * `windowSize` turns overlapping by `overlap`.
  *
  * Implementation: the W8 fan-out generator (each turn explodes into the
  * ≤⌈ws/hop⌉ windows containing it) followed by one grouped aggregate —
  * the per-window analog of the flagship's single-pass design. The fan-out
  * factor is a small constant, the groupBy key extends the conv_id
  * clustering, so aggregation is partial-combine local.
  */
object Windowed {

  def featureMatrixWindowed(turns: DataFrame, windowSize: Int = 8, overlap: Int = 2): DataFrame = {
    val slim = turns
      .withColumn("text_len", length(col("text")).cast("long"))
      .drop("text")
    val fanned = WindowFanout.byTurnIdx(slim, windowSize, overlap)
    fanned.groupBy(col("conv_id"), col("window_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        count(col("tool")).as("n_tool_calls"),
        min(col("turn_idx")).as("first_turn"),
        max(col("turn_idx")).as("last_turn"),
        round(avg(col("text_len")), 6).as("len_mean"),
        max(col("text_len")).as("len_max"),
        count(when(col("role") === "user", 1)).as("n_user_turns"),
        count(when(col("role") === "assistant", 1)).as("n_assistant_turns"))
  }

  /** Window mode over the FULL module registry — reference behavior: musiF
    * re-runs ALL feature modules per window (`_process_score_windows`,
    * extract.py:416-464), not a hand-picked aggregate set.
    *
    * Spark-first shape (one fan-out + one grouped aggregate):
    *  1. as-of state alignment runs PRE-fan-out on the whole conversation —
    *     a turn's point-in-time state is a property of the turn, invariant
    *     across the windows containing it (and computing it per window copy
    *     would redo the union-window join ×fanout for identical results);
    *  2. the W8 fan-out explodes each turn into the ≤⌈ws/hop⌉ windows
    *     containing it;
    *  3. each (conv, window) slice becomes a composite-key "conversation"
    *     (a `struct(conv_id, window_id)` key), so every module's enrich columns and aggs —
    *     written against `conv_id` — run per window UNCHANGED: lag deltas
    *     restart at window starts, sessions/runs/trim ranks are computed
    *     within the window, exactly like the reference's per-window re-run;
    *  4. ONE shared HashAggregate over the composite key, then the key is
    *     split back into (conv_id, window_id).
    */
  def featureMatrixWindowedFull(turns: DataFrame, state: Option[DataFrame],
                                windowSize: Int = 8, overlap: Int = 2,
                                modules: Seq[FeatureModule] =
                                  FeatureRegistry.modulesFor(Nil, windowed = true)): DataFrame = {
    val ordered = FeatureRegistry.toposort(modules)
    val slim =
      if (turns.columns.contains("text"))
        turns.withColumn("text_len", length(col("text"))).drop("text")
      else turns
    // stage 1: per-turn as-of alignment (stateful modules), before fan-out
    val aligned = ordered.foldLeft(slim) { (df, m) =>
      m match {
        case s: StatefulModule => s.enrichWith(df, state)
        case _                 => df
      }
    }
    // stage 2+3: fan-out, then composite per-window conversation key — a
    // STRUCT, not a "conv#window" string: no separator-collision hazard
    // (a conv_id containing the separator char would split wrong) and no
    // string building/parsing through the shuffle at scale
    val fanned = WindowFanout.byTurnIdx(aligned, windowSize, overlap)
      .withColumn("conv_id",
        struct(col("conv_id").as("c"), col("window_id").as("w")))
      .drop("window_id")
    val enriched = ordered.foldLeft(fanned) { (df, m) =>
      m match {
        case _: StatefulModule => df // already applied pre-fan-out
        case _                 => m.enrich(df)
      }
    }
    // stage 4: the single shared aggregate — every module's aggs fused
    val aggExprs = ordered.flatMap(_.aggs)
    val main = enriched.groupBy(col("conv_id"))
      .agg(aggExprs.head, aggExprs.tail: _*)
    val split = main
      .withColumn("window_id", col("conv_id.w").cast("int"))
      .withColumn("conv_id", col("conv_id.c"))
    split.select((Seq("conv_id", "window_id") ++
      split.columns.filterNot(c => c == "conv_id" || c == "window_id")).map(col): _*)
  }

  /** Motion features — musiF W3 (`_motion_features_single_window_step`,
    * melody/handler.py:615-698): resample the per-turn value stream at a
    * fixed step along an accumulated-duration axis (np.repeat analog via
    * explode(sequence)), first discrete derivative, centered rolling mean
    * over 2w+1 samples.
    *
    * Transcript mapping: value = text_len, duration of a turn = gap to the
    * next turn capped at `capSeconds` (so session breaks don't explode the
    * resample), step in seconds.
    */
  def motion(turns: DataFrame, stepSeconds: Int, win: Int,
             capSeconds: Int = 600): DataFrame = {
    // a Window, not the turn scan: the duration is the gap to the NEXT
    // turn (lead(ts)), which the scan does not emit
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val durS = least(
      (unix_micros(lead(col("ts"), 1).over(w).cast("timestamp")) -
        unix_micros(col("ts").cast("timestamp"))) / 1000000L,
      lit(capSeconds)).cast("int")
    val resampled = turns
      .withColumn("text_len", length(col("text")).cast("double"))
      .withColumn("__dur_s", coalesce(durS, lit(stepSeconds)))
      // np.repeat: one sample per full step inside the turn's duration,
      // at least one sample per turn
      .withColumn("rep", explode(sequence(lit(0),
        greatest((col("__dur_s") / stepSeconds).cast("int") - 1, lit(0)))))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"), col("rep"))))
    // speed windows order by the SAME keys the pos row_number sorted on
    // (r7): `pos` IS row_number over (turn_idx, rep), so ordering by
    // (turn_idx, rep) is the identical row order — but spelled this way
    // Spark sees the existing sort satisfies the window's requirement and
    // plans no second sort (ordering by the derived `pos` column forced a
    // re-sort of every partition)
    val wPos = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"), col("rep"))
    resampled
      .withColumn("speed",
        (col("text_len") - lag(col("text_len"), 1).over(wPos)) / stepSeconds)
      .withColumn("speed_roll",
        round(avg(col("speed")).over(wPos.rowsBetween(-win, win)), 6).as("speed_roll"))
      .select(col("conv_id"), col("pos"), col("text_len").cast("long").as("v"),
        round(col("speed"), 6).as("speed"), col("speed_roll"))
  }
}
