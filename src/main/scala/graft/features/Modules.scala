package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.LagLead
import graft.plans.TurnScan
import graft.functions.{Stats, TrimmedMeanAgg}

/** The built-in transcript feature modules (SURVEY.md §7.1 item 5).
  * Each cites the musiF analog it re-expresses.
  *
  * Design rule (scale): NO module re-aggregates its own frame. Multi-level
  * features are folded into the single shared HashAggregate: session and
  * run lengths as per-turn columns read on END rows, the trimmed mean as an
  * aggregate expression. The lag, session and run columns all come from ONE
  * native [[graft.plans.TurnScan]] pass: each module's `enrich` adds its
  * group to the same node, whose exec walks every conversation once in
  * (conv_id, turn_idx) order with one row of lookahead. The flagship matrix
  * is therefore ONE scan of the turns table, one exchange, the as-of merge,
  * ONE sort and one turn scan, then one aggregate (plan shape pinned by
  * PlanShapeSpec). A naive per-module groupBy design was measured to
  * re-scan the source once per module.
  */

/** Census: per-role and whole-conversation counts — musiF `core` + `scoring`
  * (core/handler.py:41-69, basic_modules/scoring/handler.py:52-149).
  * Per-role features are conditional aggregates over the known role set —
  * no pivot, no extra shuffle.
  */
object CensusModule extends FeatureModule {
  val name = "census"
  override def aggs: Seq[Column] = {
    val perRole = FeatureRegistry.Roles.flatMap { r =>
      Seq(
        count(when(col("role") === r, 1)).as(s"role_${r}_n_turns"),
        round(avg(when(col("role") === r, col("text_len"))), 6).as(s"role_${r}_len_mean"))
    }
    perRole ++ Seq(
      count(lit(1)).as("n_turns"),
      count(col("tool")).as("n_tool_calls"),
      // size(collect_set) not countDistinct: avoids the Expand rewrite
      // (x3 row blow-up) in the shared single-pass aggregate
      size(collect_set(col("tool"))).cast("long").as("n_distinct_tools"),
      min_by(col("role"), col("turn_idx")).as("first_role"),
      max_by(col("role"), col("turn_idx")).as("last_role"))
  }
}

/** As-of state exposure — J1+A17 (scale_relative/utils.py:100-135): every
  * turn aligned to latest at-or-before state.
  *
  * Runs through the NATIVE [[graft.plans.AsOfMergeExec]] (r3 VERDICT #2 —
  * the hot inner loop of every feature run should use the fused operator,
  * not just its own oracle queries): the union-window form shuffles
  * turns+state TOGETHER through one hash exchange and sorts the union,
  * while the native exec's `ClusteredDistribution` is already satisfied by
  * a HASH-clustered left side (what `Tables.turns` leaves behind, or
  * [[graft.ops.Ordered.clusteredPartitions]] — range layout does NOT
  * compose here, see that scaladoc), so only the (small) state side
  * shuffles, each side sorts in isolation,
  * and the left partitioning survives — the downstream window stack and
  * the final conv_id HashAggregate run exchange-free. Net: the flagship
  * drops from two full-table exchanges to one. Semantics are spec-asserted
  * identical to [[graft.ops.AsOf.join]] (AsOfMergeSpec) and oracle-checked
  * via `q_feature_matrix` + `q_asof_exec`.
  */
object AsOfStateModule extends StatefulModule {
  val name = "asofstate"
  override def enrichWith(turns: DataFrame, state: Option[DataFrame]): DataFrame =
    state match {
      case Some(st) =>
        graft.plans.AsOfMerge.join(turns, st, "conv_id", "ts", Seq("state_val"), strict = false)
      case None => turns.withColumn("state_val", lit(null).cast("string"))
    }
  override def aggs: Seq[Column] = Seq(
    count(col("state_val")).as("n_turns_with_state"),
    size(collect_set(col("state_val"))).cast("long").as("n_distinct_states"))
}

/** Lag features — musiF melody intervals (W1, musicxml/common.py:199-203). */
object LagModule extends FeatureModule {
  val name = "lag"
  override val deps: Seq[String] = Seq("asofstate")
  override def enrich(turns: DataFrame): DataFrame = TurnScan.lag(turns)
  // Stats in SECONDS: micro-magnitudes (~1e10) would leave float-sum noise
  // above round(,6) resolution; second-magnitudes keep parity bit-stable.
  override def aggs: Seq[Column] = Seq(
    round(avg(col("delta_ts_us") / 1e6), 6).as("delta_ts_mean_s"),
    round(stddev_samp(col("delta_ts_us") / 1e6), 6).as("delta_ts_std_s"),
    count(when(col("prev_role") === col("role"), 1)).as("n_role_repeats"))
}

/** Sessions — W9 + A19 (harmony/utils.py:207-271 pattern). A session
  * breaks where the gap between consecutive turns exceeds `gapSeconds`
  * (NULL gap = no break; the same breaks number `session_id` in
  * [[graft.plans.TurnScan.sessions]]); lengths are measured on session END
  * rows, so `q_session_stats` reads these aggregates too.
  */
class SessionModuleBase(gapSeconds: Long) extends FeatureModule {
  val name = "sessions"
  override val deps: Seq[String] = Seq("lag")
  override def enrich(turns: DataFrame): DataFrame = TurnScan.sessions(turns, gapSeconds)
  override def aggs: Seq[Column] = Seq(
    count(when(col("sess_end"), 1)).as("n_sessions"),
    round(avg(when(col("sess_end"), col("sess_len"))), 6).as("sess_len_mean"),
    max(when(col("sess_end"), col("sess_len"))).as("sess_len_max"))
}

object SessionModule extends SessionModuleBase(graft.SparkEntry.SessionGapSeconds)

/** Densities — musiF density/handler.py:48-69 (notes per beat → turns per
  * hour, tool calls per turn).
  */
object DensityModule extends FeatureModule {
  val name = "density"
  private val us = LagLead.micros(col("ts"))
  override def aggs: Seq[Column] = Seq(
    round((max(us) - min(us)).cast("double") / 3.6e9, 6).as("active_hours"),
    round(when((max(us) - min(us)) > 0,
      count(lit(1)) / ((max(us) - min(us)).cast("double") / 3.6e9)), 6).as("turns_per_hour"),
    round(count(col("tool")).cast("double") / count(lit(1)), 6).as("tool_call_density"))
}

/** Text-length moments + exact trimmed mean — musiF A5/A6
  * (melody/handler.py:133-312,577-607) with scipy bias=False parity.
  * The trimmed mean is an aggregate in the shared pass (no rank window, no
  * extra sort): n counts every row, NULL `text_len` ranks first, ⌊0.1·n⌋
  * ranks are dropped from each tail and the kept non-NULL lengths averaged.
  * Known oracle divergence, untested by any fixture (none has NULL text):
  * the DuckDB oracle's `ORDER BY length(text)` ranks NULLs LAST, so a
  * conversation with NULL text would trim different rows there;
  * FeatureMatrixSpec pins the Spark side.
  */
object TextStatsModule extends FeatureModule {
  val name = "textstats"
  override val deps: Seq[String] = Seq("asofstate")
  override def aggs: Seq[Column] =
    aggsWith(stddev_samp(_), Stats.skewnessSample, Stats.kurtosisSample)

  private[features] def aggsWith(std: Column => Column, skew: Column => Column,
                                 kurt: Column => Column): Seq[Column] = {
    val len = col("text_len").cast("double")
    Seq(
      round(avg(len), 6).as("len_mean"),
      round(std(len), 6).as("len_std"),
      round(skew(len), 6).as("len_skew"),
      round(kurt(len), 6).as("len_kurt"),
      min(len).cast("long").as("len_min"),
      max(len).cast("long").as("len_max"),
      round(TrimmedMeanAgg(0.1)(len), 6).as("len_trim_mean"))
  }
}

/** Window-mode drop-in for [[TextStatsModule]]: same feature names, but
  * std/skew/kurt use the power-sum forms (Stats.*Pow) — exact for the
  * ≤ windowSize integer lengths of one window, and bit-identical across
  * engines (see Stats scaladoc for the rounding-tie failure this avoids).
  */
object TextStatsWindowModule extends FeatureModule {
  val name = "textstats"
  override val deps: Seq[String] = Seq("asofstate")
  override def aggs: Seq[Column] = TextStatsModule.aggsWith(
    Stats.stddevSampPow, Stats.skewnessSamplePow, Stats.kurtosisSamplePow)
}

/** Role-run structure — W2 (melody/handler.py:675-689 ascent/descent runs).
  * Same per-turn-column + conditional-agg shape as sessions.
  */
object RunLengthModule extends FeatureModule {
  val name = "runlength"
  override val deps: Seq[String] = Seq("sessions")
  override def enrich(turns: DataFrame): DataFrame = TurnScan.runs(turns)
  override def aggs: Seq[Column] = Seq(
    count(when(col("run_end"), 1)).as("n_runs"),
    round(avg(when(col("run_end"), col("run_len"))), 6).as("run_len_mean"),
    max(when(col("run_end"), col("run_len"))).as("run_len_max"))
}
