package graft.datagen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, fully-distributed synthetic transcript generator
  * (FIXTURES.md §1). Everything derives from xxhash64 of (seed, conv, turn)
  * — no `rand()` (whose stream depends on partitioning), so the SAME table
  * materializes at any parallelism level: the precondition for the
  * two-cluster-size scaling evidence (BASELINE.md scaling gate).
  *
  * Skew: every `skewEvery`-th conversation gets ~100x the turns — the
  * "few giant conversations" tail (SURVEY.md §7.4#2) that exercises salting
  * and AQE skew handling.
  */
object TranscriptGen {

  /** uniform [0,1) from a hash — deterministic across partitionings. */
  private def u(cols: Column*): Column =
    (pmod(xxhash64(cols: _*), lit(1000000L)).cast("double") / 1e6)

  def turns(spark: SparkSession, nConvs: Long, seed: Long = 42L,
            meanTurns: Int = 40, skewEvery: Long = 997L, skewFactor: Int = 100): DataFrame = {
    val base = lit(1704067200000000L) // 2024-01-01 UTC, micros

    val convs = spark.range(nConvs)
      .select(
        col("id").as("cid"),
        format_string("c%010d", col("id")).as("conv_id"))
      // cubed uniform → right-skewed turn counts around the mean
      .withColumn("n_turns",
        (lit(4) + (pow(u(lit(seed), col("cid")), 3) * meanTurns * 4).cast("int")) *
          when(col("cid") % skewEvery === 0, skewFactor).otherwise(1))

    val perTurn = convs
      .select(col("cid"), col("conv_id"),
        explode(sequence(lit(0), col("n_turns") - 1)).as("turn_idx"))
      .withColumn("h", xxhash64(lit(seed), col("cid"), col("turn_idx")))
      // inter-turn gap: 1s..10min, with a >24h session break every ~37 turns
      .withColumn("gap_us",
        lit(1000000L) * (lit(1) + pmod(col("h"), lit(600))) +
          when(pmod(col("h"), lit(37)) === 0, lit(172800000000L)).otherwise(0L))

    // a running sum of gaps (the generator builds ts, it reads none), so a
    // Window frame, not the turn scan
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, 0)

    perTurn
      .withColumn("ts_us", base + sum(col("gap_us")).over(w))
      .select(
        col("conv_id"),
        col("turn_idx").cast("int").as("turn_idx"),
        when(col("turn_idx") === 0, "system")
          .when(col("turn_idx") % 3 === 1, "user")
          .when(pmod(col("h"), lit(5)) === 0, "tool")
          .otherwise("assistant").as("role"),
        rpad(format_string("%s:%d", col("conv_id"), col("turn_idx")),
          (lit(20) + pmod(col("h"), lit(180))).cast("int"), lit("x")).as("text"),
        when(pmod(col("h"), lit(5)) === 0 && col("turn_idx") % 3 === 2,
          concat(lit("tool_"), pmod(col("h"), lit(4)).cast("string")))
          .otherwise(lit(null).cast("string")).as("tool"),
        timestamp_micros(col("ts_us")).as("ts"))
  }

  /** State side-table: roughly one state change per 8 turns, offset between
    * turn timestamps (ties exercised separately in unit fixtures).
    */
  def state(spark: SparkSession, nConvs: Long, seed: Long = 42L): DataFrame = {
    val t = turns(spark, nConvs, seed)
    t.filter(pmod(xxhash64(lit(seed + 1), col("conv_id"), col("turn_idx")), lit(8)) === 0)
      .select(
        col("conv_id"),
        timestamp_micros(LagLeadMicros(col("ts")) - 500000L).as("ts"),
        concat(lit("st_"),
          pmod(xxhash64(lit(seed + 2), col("conv_id"), col("turn_idx")), lit(20)).cast("string"))
          .as("state_val"))
  }

  private def LagLeadMicros(c: Column): Column = unix_micros(c.cast("timestamp"))
}
