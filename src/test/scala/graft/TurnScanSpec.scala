package graft

import graft.features._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native turn scan equals the Window reference ([[ReferenceModules]])
  * row for row — every lag, session and run column and both ids — on every
  * NULL placement the Window spelling gives meaning to. The feature matrix
  * checksum cannot catch a kernel bug on its own: its reference path runs
  * the same kernel.
  */
class TurnScanSpec extends SparkSpec {
  import spark.implicits._

  private val G = SparkEntry.SessionGapSeconds
  private val T0 = 1704067200000000L // 2024-01-01 UTC, micros

  /** (conv_id, turn_idx, role, text, ts, tool). */
  private lazy val turns: DataFrame = {
    def conv(id: String, roles: Seq[String], gapsUs: Seq[Long],
             nullTs: Set[Int] = Set.empty): Seq[(String, Int, String, String, Option[Long])] = {
      val at = gapsUs.scanLeft(T0)(_ + _)
      roles.indices.map { i =>
        (id, i, roles(i), if (i % 5 == 4) null else "x" * (i + 1),
          if (nullTs(i)) None else Some(at(i)))
      }
    }
    val s = 1000000L
    val (u, a, t) = ("user", "assistant", "tool")
    val rows =
      // NULL role first, beside equal roles, doubled, and last; NULL ts
      // first, middle and last
      conv("roles", Seq(null, u, u, null, u, a, a, null, null, t, null),
        Seq.fill(10)(10 * s), nullTs = Set(0, 5, 10)) ++
      // gaps of exactly G and 300 s (no break) and of one microsecond more
      conv("gaps", Seq(u, a, u, a, u, a, t),
        Seq(G * s, G * s + 1, 300 * s, 300 * s + 1, 299 * s, 301 * s)) ++
      conv(null, Seq(u, u, a), Seq(5 * s, G * s + 1)) ++
      conv("one", Seq(u), Nil) ++
      conv("one_null", Seq(null), Nil, nullTs = Set(0)) ++
      conv("all_null_ts", Seq(u, a, a), Seq(1, 1), nullTs = Set(0, 1, 2))
    rows.toDF("conv_id", "turn_idx", "role", "text", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      .withColumn("tool", when(col("turn_idx") % 3 === 2, lit("search")))
  }

  private val cols = Seq("conv_id", "turn_idx", "role") ++ graft.plans.TurnScan.LagColumns ++
    graft.plans.TurnScan.SessionColumns ++ graft.plans.TurnScan.RunColumns

  private def kernel(df: DataFrame, gap: Long): DataFrame =
    RunLengthModule.enrich(new SessionModuleBase(gap).enrich(LagModule.enrich(df)))

  private def reference(df: DataFrame, gap: Long): DataFrame =
    ReferenceModules.RunLength.enrich(
      new ReferenceModules.Sessions(gap).enrich(ReferenceModules.Lag.enrich(df)))

  private def assertSame(got: DataFrame, ref: DataFrame, what: String): Unit = {
    val (g, r) = (got.select(cols.map(col): _*), ref.select(cols.map(col): _*))
    assert(g.schema.map(f => f.name -> f.dataType) == r.schema.map(f => f.name -> f.dataType), what)
    val extra = g.exceptAll(r).collect()
    val missing = r.exceptAll(g).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: rows only in the kernel ${extra.toSeq}, only in the reference ${missing.toSeq}")
    assert(g.count() == turns.count(), what)
  }

  test("kernel ≡ Window reference: NULL roles, timestamps and keys, gap edges, 1 and 7 partitions") {
    val ref = reference(turns, G)
    // the fixture reaches the three-valued run edges and both gap edges
    assert(ref.filter(col("run_start").isNull).count() > 0)
    assert(ref.filter(col("run_end").isNull).count() > 0)
    val gaps = ref.filter(col("conv_id") === "gaps").orderBy("turn_idx")
      .select("sess_start").as[Boolean].collect().toSeq
    assert(gaps.take(3) == Seq(true, false, true), s"gap G is no break, G + 1 µs is: $gaps")
    // the ids count past NULL starts: a NULL role after a non-NULL one
    // stays in the run before it, and a NULL gap opens no session
    val roles = ref.filter(col("conv_id") === "roles").orderBy("turn_idx")
      .select("run_id", "session_id").as[(Int, Int)].collect().toSeq
    assert(roles.map(_._1) == Seq(0, 1, 1, 1, 2, 3, 3, 3, 4, 5, 5), roles)
    assert(roles.map(_._2).forall(_ == 0), roles)
    for (gap <- Seq(G, 300L); parts <- Seq(1, 7)) {
      val in = turns.repartition(parts)
      assertSame(kernel(in, gap), reference(in, gap), s"gap=$gap partitions=$parts")
    }
  }

  test("kernel ≡ Window reference on the windowed struct(conv_id, window_id) key") {
    val keyed = turns.withColumn("conv_id",
      struct(col("conv_id").as("c"), (col("turn_idx") / 4).cast("int").as("w")))
    for (parts <- Seq(1, 7)) {
      val in = keyed.repartition(parts)
      assertSame(kernel(in, G), reference(in, G), s"struct key, partitions=$parts")
    }
  }

  test("self-join: a turn-scan frame joins itself on (conv_id, turn_idx)") {
    val x = graft.plans.TurnScan.sessions(turns, G)
    val j = x.as("a").join(x.as("b"), Seq("conv_id", "turn_idx"))
      .select(col("a.session_id").as("sa"), col("b.session_id").as("sb"),
        col("a.sess_len").as("la"), col("b.sess_len").as("lb"))
    // the NULL conv_id group has no equi-join partner
    assert(j.count() == turns.filter(col("conv_id").isNotNull).count())
    assert(j.filter(col("sa") =!= col("sb") || !col("la").eqNullSafe(col("lb"))).isEmpty)
  }

  test("exceptAll: a turn-scan frame minus itself is empty") {
    val y = graft.plans.TurnScan.lag(turns)
    assert(y.exceptAll(y).isEmpty)
    assert(y.union(y).exceptAll(y).count() == turns.count())
  }

  test("the module chain plans one turn scan; session_gap_seconds reaches it") {
    val p = kernel(turns, G).queryExecution.executedPlan.toString
    assert("TurnScan".r.findAllIn(p).size == 1 && !p.contains("Window"), p)
    val cfg = Main.parseArgs(Array("--set", "session_gap_seconds=300"))
    val got = Main.buildMatrix(spark, cfg, turns, None)
    val ref = FeatureRegistry.featureMatrix(turns, None,
      ReferenceModules.of(FeatureRegistry.modulesFor(Nil, 300L), 300L))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
    assert(got.count() == 6)
  }
}
