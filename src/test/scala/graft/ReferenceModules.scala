package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.features._
import graft.functions.Stats
import graft.ops.LagLead

/** The Window formulation of the lag, session, run-length and
  * trimmed-mean modules — the reference [[FeatureMatrixSpec]],
  * [[TurnScanSpec]] and the blocked-scan specs hold the native turn scan
  * and the single-sort modules to, row for row. Lag columns come from
  * lag/lead windows, sessions from the cumulative [[sessionIds]] id, runs
  * from their own lag/lead(role) and the cumulative [[runIds]] id, and trim
  * ranks from a `row_number over (text_len, turn_idx)` window with n =
  * `count over conv_id`.
  */
object ReferenceModules {

  /** prev/next role, the exact microsecond delta to the previous turn and
    * the previous text length (`text_len`, else `length(text)`).
    */
  def lagFeatures(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val len = if (turns.columns.contains("text_len")) col("text_len")
              else length(col("text"))
    turns
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .withColumn("next_role", lead(col("role"), 1).over(w))
      .withColumn("delta_ts_us", LagLead.micros(col("ts")) - LagLead.micros(lag(col("ts"), 1).over(w)))
      .withColumn("prev_text_len", lag(len, 1).over(w))
  }

  /** `session_id`: a running count of the turns whose gap to the previous
    * turn exceeds `gapSeconds` (a NULL gap counts 0) — the DuckDB oracle's
    * spelling of `q_sessionize`.
    */
  def sessionIds(turns: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val newSess = when(
      LagLead.micros(col("ts")) - LagLead.micros(lag(col("ts"), 1).over(w)) > gapSeconds * 1000000L, 1
    ).otherwise(0)
    turns.withColumn("session_id",
      sum(newSess).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
  }

  /** `run_id`: a running count of the turns whose role differs from the
    * previous one (or follows a NULL role), minus one; a NULL role after a
    * non-NULL one counts 0 — the oracle's spelling of `q_runlength_roles`
    * and `q_tie_merge`.
    */
  def runIds(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val changed = when(
      lag(col("role"), 1).over(w).isNull || lag(col("role"), 1).over(w) =!= col("role"), 1
    ).otherwise(0)
    turns.withColumn("run_id",
      (sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1).cast("int"))
  }

  object Lag extends FeatureModule {
    val name = "lag"
    override val deps: Seq[String] = LagModule.deps
    override def enrich(turns: DataFrame): DataFrame = lagFeatures(turns)
    override def aggs: Seq[Column] = LagModule.aggs
  }

  class Sessions(gapSeconds: Long) extends FeatureModule {
    val name = "sessions"
    override val deps: Seq[String] = Seq("lag")
    override def enrich(turns: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
      sessionIds(turns, gapSeconds)
        .withColumn("__rn", row_number().over(w))
        .withColumn("sess_start",
          lag(col("session_id"), 1).over(w).isNull ||
            lag(col("session_id"), 1).over(w) =!= col("session_id"))
        .withColumn("sess_end",
          lead(col("session_id"), 1).over(w).isNull ||
            lead(col("session_id"), 1).over(w) =!= col("session_id"))
        .withColumn("__sess_start_rn",
          last(when(col("sess_start"), col("__rn")), ignoreNulls = true).over(wCum))
        .withColumn("sess_len",
          when(col("sess_end"), col("__rn") - col("__sess_start_rn") + 1).cast("long"))
    }
    override def aggs: Seq[Column] = Seq(
      count(when(col("sess_end"), 1)).as("n_sessions"),
      round(avg(when(col("sess_end"), col("sess_len"))), 6).as("sess_len_mean"),
      max(when(col("sess_end"), col("sess_len"))).as("sess_len_max"))
  }

  private val len = col("text_len").cast("double")

  private def trimRanks(turns: DataFrame): DataFrame = {
    val wRank = Window.partitionBy(col("conv_id")).orderBy(col("text_len"), col("turn_idx"))
    turns
      .withColumn("__len_rn", row_number().over(wRank))
      .withColumn("__len_n", count(lit(1)).over(Window.partitionBy(col("conv_id"))))
  }

  private val trimMean: Column = round(avg(when(
    col("__len_rn") > floor(col("__len_n") * 0.1) &&
      col("__len_rn") <= col("__len_n") - floor(col("__len_n") * 0.1), len)), 6)
    .as("len_trim_mean")

  object TextStats extends FeatureModule {
    val name = "textstats"
    override val deps: Seq[String] = Seq("asofstate")
    override def enrich(turns: DataFrame): DataFrame = trimRanks(turns)
    override def aggs: Seq[Column] = Seq(
      round(avg(len), 6).as("len_mean"),
      round(stddev_samp(len), 6).as("len_std"),
      round(Stats.skewnessSample(len), 6).as("len_skew"),
      round(Stats.kurtosisSample(len), 6).as("len_kurt"),
      min(len).cast("long").as("len_min"),
      max(len).cast("long").as("len_max"),
      trimMean)
  }

  object TextStatsWindow extends FeatureModule {
    val name = "textstats"
    override val deps: Seq[String] = Seq("asofstate")
    override def enrich(turns: DataFrame): DataFrame = trimRanks(turns)
    override def aggs: Seq[Column] = Seq(
      round(avg(len), 6).as("len_mean"),
      round(Stats.stddevSampPow(len), 6).as("len_std"),
      round(Stats.skewnessSamplePow(len), 6).as("len_skew"),
      round(Stats.kurtosisSamplePow(len), 6).as("len_kurt"),
      min(len).cast("long").as("len_min"),
      max(len).cast("long").as("len_max"),
      trimMean)
  }

  object RunLength extends FeatureModule {
    val name = "runlength"
    override val deps: Seq[String] = Seq("sessions")
    override def enrich(turns: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
      runIds(turns)
        .withColumn("run_start",
          lag(col("role"), 1).over(w).isNull ||
            lag(col("role"), 1).over(w) =!= col("role"))
        .withColumn("run_end",
          lead(col("role"), 1).over(w).isNull ||
            lead(col("role"), 1).over(w) =!= col("role"))
        .withColumn("__run_start_rn",
          last(when(col("run_start"), col("__rn")), ignoreNulls = true).over(wCum))
        .withColumn("run_len",
          when(col("run_end"), col("__rn") - col("__run_start_rn") + 1).cast("long"))
    }
    override def aggs: Seq[Column] = Seq(
      count(when(col("run_end"), 1)).as("n_runs"),
      round(avg(when(col("run_end"), col("run_len"))), 6).as("run_len_mean"),
      max(when(col("run_end"), col("run_len"))).as("run_len_max"))
  }

  /** `modules` with each turn-scan and single-sort module swapped for its
    * reference twin (the gap is the caller's; other modules pass through).
    */
  def of(modules: Seq[FeatureModule], gapSeconds: Long): Seq[FeatureModule] =
    modules.map {
      case LagModule             => Lag
      case _: SessionModuleBase  => new Sessions(gapSeconds)
      case TextStatsModule       => TextStats
      case TextStatsWindowModule => TextStatsWindow
      case RunLengthModule       => RunLength
      case m                     => m
    }
}
