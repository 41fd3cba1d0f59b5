package graft

import graft.ops.AsOf
import graft.plans.{AsOfMerge, AsOfMergeExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native AsOfMergeExec physical operator must be row-identical to the
  * Catalyst-composed union-window form (graft.ops.AsOf) in every mode, at
  * any input partitioning, and must actually appear in the physical plan.
  */
class AsOfMergeSpec extends SparkSpec {

  private lazy val turns = graft.datagen.TranscriptGen.turns(spark, 40, skewEvery = 13)
  private lazy val state = graft.datagen.TranscriptGen.state(spark, 40)

  private def canon(df: DataFrame): Seq[String] =
    df.select(col("conv_id"), col("turn_idx"), col("state_val"))
      .orderBy("conv_id", "turn_idx")
      .collect().map(_.mkString("|")).toSeq

  test("exec == union-window form: at-or-before, strict, tolerance") {
    val tol = Some(48L * 3600 * 1000000)
    val cases = Seq(
      (AsOf.AtOrBefore, false, None),
      (AsOf.StrictlyBefore, true, None),
      (AsOf.AtOrBefore, false, tol))
    for ((sem, strict, t) <- cases) {
      val reference = canon(AsOf.join(turns, state, "conv_id", "ts", Seq("state_val"), sem, t))
      val native = canon(AsOfMerge.join(turns, state, "conv_id", "ts", Seq("state_val"), strict, t))
      assert(native == reference, s"mode=$sem strict=$strict tol=$t diverged")
    }
  }

  test("exec is repartition-invariant (co-partitioning inserted by planner)") {
    val reference = canon(AsOf.join(turns, state, "conv_id", "ts", Seq("state_val")))
    val shuffled = AsOfMerge.join(
      turns.repartition(7, col("turn_idx")),
      state.repartition(3),
      "conv_id", "ts", Seq("state_val"))
    assert(canon(shuffled) == reference)
  }

  test("AsOfMergeExec appears in the physical plan; left keeps all columns") {
    val joined = AsOfMerge.join(turns, state, "conv_id", "ts", Seq("state_val"))
    val plan = joined.queryExecution.executedPlan
    // AdaptiveSparkPlanExec wraps the real plan as a leaf, so collect()
    // can't see inside; the tree string renders it (Spark strips the
    // "Exec" suffix from physical node names)
    assert(plan.toString.contains("AsOfMerge"), s"no AsOfMergeExec in:\n$plan")
    assert(joined.columns.toSeq == turns.columns.toSeq :+ "state_val")
    // left columns and row count are preserved exactly (one output row per
    // left row — it is a join that can never duplicate or drop)
    assert(joined.count() == turns.count())
  }

  test("SQLMetrics: numOutputRows == left rows, numMatched == rows with state") {
    // AQE wraps the plan, hiding the exec from collect() until execution
    // finalizes — disable it for this one assertion-by-metric test
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = AsOfMerge.join(turns, state, "conv_id", "ts", Seq("state_val"))
      val expectMatched = joined.filter(col("state_val").isNotNull).count()
      val expectRows = turns.count()
      val df = AsOfMerge.join(turns, state, "conv_id", "ts", Seq("state_val"))
      // drive THIS dataset's own QueryExecution (a write.save() plans a
      // separate one, leaving these metric accumulators untouched)
      df.collect()
      val exec = df.queryExecution.executedPlan.collect { case e: AsOfMergeExec => e }
      assert(exec.nonEmpty, "AsOfMergeExec not found in non-AQE plan")
      assert(exec.head.metrics("numOutputRows").value == expectRows)
      assert(exec.head.metrics("numMatched").value == expectMatched)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("state derived from the turns frame: exec == union-window form") {
    // the right side shares the left's lineage (one relation, read twice)
    val st = turns.select(col("conv_id"), col("ts"), col("role").as("state_val"))
    for (strict <- Seq(false, true)) {
      val sem = if (strict) AsOf.StrictlyBefore else AsOf.AtOrBefore
      val native = AsOfMerge.join(turns, st, "conv_id", "ts", Seq("state_val"), strict)
      assert(native.count() == turns.count())
      assert(canon(native) == canon(AsOf.join(turns, st, "conv_id", "ts", Seq("state_val"), sem)),
        s"strict=$strict")
    }
  }

  test("state deduplicated on (conv_id, ts) feeding exceptAll: exec == union-window form") {
    // dropDuplicates on a key subset becomes an aggregate that renews
    // state_val's attribute id below the node; exceptAll's rewrite must
    // still find the value column
    val st = state.dropDuplicates("conv_id", "ts")
    val native = AsOfMerge.join(turns, st, "conv_id", "ts", Seq("state_val"))
    val reference = AsOf.join(turns, st, "conv_id", "ts", Seq("state_val"))
    assert(native.exceptAll(reference).isEmpty && reference.exceptAll(native).isEmpty)
    assert(native.exceptAll(native).isEmpty)
  }

  test("null keys/timestamps: exec matches the union-window form exactly") {
    import spark.implicits._
    // null key = its own group (Window.partitionBy groups NULLs); null ts
    // sorts first (visible to at-or-before, never passes a tolerance)
    val l = Seq(
      ("a", 0, Some("2020-01-01 00:00:05")),
      (null, 1, Some("2020-01-01 00:00:05")),
      ("a", 2, None: Option[String]))
      .toDF("conv_id", "turn_idx", "ts")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val r = Seq(
      ("a", Some("2020-01-01 00:00:01"), "s1"),
      (null, Some("2020-01-01 00:00:01"), "s_nullkey"),
      ("a", None: Option[String], "s_nullts"))
      .toDF("conv_id", "ts", "state_val")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    for (((sem, strict, tol), i) <- Seq(
        (AsOf.AtOrBefore, false, None),
        (AsOf.StrictlyBefore, true, None),
        (AsOf.AtOrBefore, false, Some(3600L * 1000000))).zipWithIndex) {
      val reference = AsOf.join(l, r, "conv_id", "ts", Seq("state_val"), sem, tol)
        .orderBy("turn_idx").select("state_val").as[Option[String]].collect().toSeq
      val native = AsOfMerge.join(l, r, "conv_id", "ts", Seq("state_val"), strict, tol)
        .orderBy("turn_idx").select("state_val").as[Option[String]].collect().toSeq
      assert(native == reference, s"case $i ($sem strict=$strict tol=$tol)")
    }
    // sanity on the concrete values in the at-or-before case
    val got = AsOfMerge.join(l, r, "conv_id", "ts", Seq("state_val"))
      .orderBy("turn_idx").select("state_val").as[Option[String]].collect().toSeq
    assert(got == Seq(Some("s1"), Some("s_nullkey"), Some("s_nullts")))
  }
}
