package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Canonical input tables for the transcript feature engine.
  *
  * The engine's native input is an Iceberg-style table of multi-turn
  * conversation transcripts `(conv_id, turn_idx, role, text, tool, ts)`
  * (BASELINE.json `input_hint`). In this sandbox the table is derived
  * deterministically from the driver's `events.parquet` so that the DuckDB
  * oracle can reproduce it from the very same parquet with the very same
  * SQL (see [[Oracle.turnsCte]]). The derivation itself is plain ingest
  * normalization — the analog of musiF's parse/normalize stage
  * (reference: musif/extract/extract.py:44-98).
  *
  * Scale note: at 100 TB the turns table would be stored already
  * range-partitioned by `conv_id` and sorted by `(conv_id, turn_idx)`
  * inside files; the derivation window below exists only to synthesize
  * that table from the sandbox fixture. Engine operators take any
  * DataFrame of this shape.
  */
object Tables {

  /** Rows with event_id % 7 == 0 become the `state` side-table; the rest
    * are turns. This interleaves state and turn timestamps per
    * conversation, exercising the as-of join (musiF's per-beat harmonic
    * annotation alignment, musif/extract/features/scale_relative/utils.py:109-126).
    */
  val StateMod = 7

  /** `spark.read.parquet(path)` without the schema-inference job: the
    * schema comes from one footer read on the driver
    * ([[org.apache.spark.sql.graft.Bridge.parquetSchema]]); a layout that
    * rule does not decide (partition directories, schema merging) reads
    * as before.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    Bridge.parquetSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  def events(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/events.parquet")

  private def convId = concat(lit("c"), lpad(col("user_id").cast("string"), 6, "0"))

  /** The canonical turns table. Deterministic: (ts, event_id) is a total
    * order within each conversation.
    */
  def turns(spark: SparkSession, dir: String): DataFrame = {
    // Materialize conv_id FIRST, then partition the numbering window by
    // that ATTRIBUTE — and the oracle CTE partitions by the SAME derived
    // expression, not by user_id: lpad TRUNCATES beyond 6 digits in both
    // engines, so two user_ids CAN collide into one conv_id, and both
    // engines must then number the collided conversation identically.
    // the frame then leaves here hash-clustered on conv_id itself, and the
    // native as-of merge + window stack + final aggregate all reuse this
    // ONE exchange. Partitioned by user_id (or by the unprojected conv_id
    // EXPRESSION, which Catalyst extracts as a hidden `_w0` column),
    // downstream operators cannot see the co-location and EnsureRequirements
    // inserts a second full-table shuffle (measured on the flagship plan).
    // (the numbering window orders by (ts, event_id): it makes turn_idx,
    // so the turn scan, which walks turn_idx order, cannot replace it)
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("event_id"))
    // NOTE (r7, measured): pinning this exchange at the session width
    // (explicit repartition, exempt from AQE coalescing) was tried and
    // REVERTED — it widened every turn query's post-shuffle stages, and
    // while the few compute-heavy ones won (q_motion −0.96s), the ~60
    // cheap turn queries each paid +0.2-0.5s of per-task overhead and
    // the wide-row fused aggregates paid per-task hashmap init ×10
    // (q_feature_matrix_windowed_full +1.1s). AQE's byte-based
    // coalescing is the right default here; the one query that needs
    // width re-layouts its own input (see q_motion).
    events(spark, dir)
      .filter(col("event_id") % StateMod =!= 0)
      .select(convId.as("conv_id"), col("event_type"), col("event_id"),
        col("props"), col("ts"))
      .select(
        col("conv_id"),
        (row_number().over(w) - 1).cast("int").as("turn_idx"),
        when(col("event_type") === "click", "user")
          .when(col("event_type") === "view", "assistant")
          .when(col("event_type") === "signup", "system")
          .when(col("event_type") === "purchase", "assistant")
          .otherwise("tool").as("role"),
        // concat (NULL-propagating) not concat_ws (NULL-skipping): the
        // oracle builds text with `||`, which yields NULL if any part is
        // NULL — both engines must agree on that edge.
        concat(col("event_type"), lit(":"), col("event_id").cast("string"),
          lit(":"), col("props")).as("text"),
        when(col("event_type").isin("error", "purchase"),
          concat(lit("tool_"), (col("event_id") % 4).cast("string")))
          .otherwise(lit(null).cast("string")).as("tool"),
        col("ts"))
  }

  /** Per-entity state-change side table (as-of join right side); the
    * transcript analog of the ms3 harmonic annotation table
    * (musif/extract/utils.py:20-56).
    */
  def state(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("event_id") % StateMod === 0)
      .select(
        convId.as("conv_id"),
        col("ts"),
        concat(col("event_type"), lit("_"), (col("event_id") % 10).cast("string")).as("state_val"))

  /** A SECOND per-entity state table (a load/pricing-style signal) for the
    * multi-table point-in-time join (`AsOfMerge.joinMany`): a different
    * sampling of events (event_id % 5 == 0) with its own value column.
    * Overlaps `state` where event_id % 35 == 0 — realistic: independent
    * feature tables are rarely disjoint in time.
    */
  def state2(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("event_id") % 5 === 0)
      .select(
        convId.as("conv_id"),
        col("ts"),
        concat(upper(col("event_type")), lit("_"),
          (col("event_id") % 3).cast("string")).as("load_val"))

  def documents(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/documents.parquet")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/embeddings.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/lineitem.parquet")

  def orders(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/orders.parquet")

  def customer(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/customer.parquet")
}

/** DuckDB-dialect CTE bodies reproducing [[Tables]] — prepended to every
  * oracle SQL so the driver's DuckDB run sees exactly the tables the Spark
  * queries consume.
  */
object Oracle {
  val turnsCte: String =
    """turns AS (
      |  SELECT 'c' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
      |         CAST(row_number() OVER (PARTITION BY 'c' || lpad(CAST(user_id AS VARCHAR), 6, '0')
      |                                 ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
      |         CASE event_type WHEN 'click' THEN 'user' WHEN 'view' THEN 'assistant'
      |              WHEN 'signup' THEN 'system' WHEN 'purchase' THEN 'assistant'
      |              ELSE 'tool' END AS role,
      |         event_type || ':' || CAST(event_id AS VARCHAR) || ':' || props AS text,
      |         CASE WHEN event_type IN ('error','purchase')
      |              THEN 'tool_' || CAST(event_id % 4 AS VARCHAR) END AS tool,
      |         ts
      |  FROM events WHERE event_id % 7 <> 0
      |)""".stripMargin

  val stateCte: String =
    """state AS (
      |  SELECT 'c' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
      |         ts,
      |         event_type || '_' || CAST(event_id % 10 AS VARCHAR) AS state_val
      |  FROM events WHERE event_id % 7 = 0
      |)""".stripMargin

  val state2Cte: String =
    """state2 AS (
      |  SELECT 'c' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
      |         ts,
      |         upper(event_type) || '_' || CAST(event_id % 3 AS VARCHAR) AS load_val
      |  FROM events WHERE event_id % 5 = 0
      |)""".stripMargin

  /** `WITH turns AS (...) <body>` */
  def withTurns(body: String): String = s"WITH $turnsCte\n$body"

  /** `WITH turns AS (...), state AS (...) <body>` */
  def withTurnsAndState(body: String): String = s"WITH $turnsCte,\n$stateCte\n$body"

  /** `WITH turns AS (...), <body-that-begins-with-more-CTEs>` — for oracle
    * SQL whose body starts with its own CTE definitions.
    */
  def withTurnsCtes(body: String): String = s"WITH $turnsCte,\n$body"
}
