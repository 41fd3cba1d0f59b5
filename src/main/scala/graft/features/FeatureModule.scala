package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's module contract — the Spark reimagining of musiF's feature
  * modules (`update_part_objects`/`update_score_objects`, dispatched at
  * musif/extract/extract.py:498-511,726-777).
  *
  * musiF mutates a per-score blackboard dict in dependency order; here each
  * module contributes declaratively to ONE logical plan:
  *
  *  - `enrich` adds per-turn columns (lag/session bounds/as-of state) — runs
  *    in dependency order on the shared turns frame; the lag, session and
  *    run modules each add their column group to one native
  *    [[graft.plans.TurnScan]] node, whose exec walks every conversation
  *    once in (conv_id, turn_idx) order with one row of lookahead, so the
  *    stack costs one sort and one pass;
  *  - `aggs` contributes aggregate expressions to a single shared
  *    `groupBy(conv_id)` pass — Catalyst fuses ALL modules' aggregates into
  *    one HashAggregate (musiF needs one pass per module; we need one total).
  *    Multi-pass features fold into the same pass: run and session lengths
  *    as per-turn columns + conditional aggs, the trimmed mean as a buffering
  *    aggregate — an earlier design joined them back as separate
  *    per-conversation frames, but the fused form needs no extra join.
  *
  * Per-role features use conditional aggregation over the KNOWN role set
  * (`when(role === r, ...)`) instead of a pivot — no second shuffle.
  */
trait FeatureModule {
  def name: String

  /** Modules whose `enrich` must run before this one's (validated like
    * musiF's `musif_dependencies`, extract.py:716-721).
    */
  def deps: Seq[String] = Nil

  /** Add per-turn columns. Default: pass-through. */
  def enrich(turns: DataFrame): DataFrame = turns

  /** Aggregate expressions (must be aliased) for the shared
    * groupBy(conv_id) pass over the enriched frame.
    */
  def aggs: Seq[Column] = Nil
}

object FeatureRegistry {
  val Roles: Seq[String] = Seq("user", "assistant", "system", "tool")

  def all: Seq[FeatureModule] = Seq(
    AsOfStateModule, CensusModule, LagModule, SessionModule, DensityModule,
    TextStatsModule, RunLengthModule)

  /** Config-driven module selection (musiF: YAML `features:` list picks
    * modules, config.py): empty `names` = all; otherwise the named modules
    * PLUS their transitive deps (musiF hard-errors on a missing dep; we
    * resolve it — the dep's enrich columns are required, its aggs come
    * along, same as the reference pulling prerequisite modules). Swaps in
    * the session-gap override and, for window mode, the power-sum
    * text-stats variant.
    */
  def modulesFor(names: Seq[String],
                 sessionGapSeconds: Long = graft.SparkEntry.SessionGapSeconds,
                 windowed: Boolean = false): Seq[FeatureModule] = {
    val base = all.map {
      case SessionModule if sessionGapSeconds != graft.SparkEntry.SessionGapSeconds =>
        new SessionModuleBase(sessionGapSeconds)
      case TextStatsModule if windowed => TextStatsWindowModule
      case m => m
    }
    if (names.isEmpty) base
    else {
      val byName = base.map(m => m.name -> m).toMap
      val unknown = names.filterNot(byName.contains)
      require(unknown.isEmpty,
        s"unknown modules $unknown; available: ${base.map(_.name).sorted}")
      val want = scala.collection.mutable.Set(names: _*)
      var grew = true
      while (grew) {
        val more = want.flatMap(n => byName(n).deps).diff(want)
        grew = more.nonEmpty
        want ++= more
      }
      base.filter(m => want.contains(m.name))
    }
  }

  /** Kahn toposort honoring `deps`; fails fast on unknown/cyclic deps —
    * same error semantics as musiF's order validation.
    */
  def toposort(modules: Seq[FeatureModule]): Seq[FeatureModule] = {
    val byName = modules.map(m => m.name -> m).toMap
    modules.foreach { m =>
      val missing = m.deps.filterNot(byName.contains)
      require(missing.isEmpty, s"module ${m.name}: unknown deps $missing")
    }
    val sorted = scala.collection.mutable.ArrayBuffer[FeatureModule]()
    val visited = scala.collection.mutable.Map[String, Int]() // 0=new 1=visiting 2=done
    def visit(m: FeatureModule): Unit = visited.getOrElse(m.name, 0) match {
      case 2 => ()
      case 1 => throw new IllegalArgumentException(s"dependency cycle at ${m.name}")
      case _ =>
        visited(m.name) = 1
        m.deps.foreach(d => visit(byName(d)))
        visited(m.name) = 2
        sorted += m
    }
    modules.foreach(visit)
    sorted.toSeq
  }

  /** The flagship wide matrix: one row per conv_id. `state` feeds the
    * as-of module; pass None to skip it (missing-annotation path,
    * musiF harmony/handler.py:41-47).
    */
  def featureMatrix(turns: DataFrame, state: Option[DataFrame],
                    modules: Seq[FeatureModule] = all): DataFrame = {
    val ordered = toposort(modules)
    // Column pruning the optimizer can't do for us: raw `text` (hundreds of
    // bytes/row) would otherwise ride through every sort/shuffle of the
    // window stack. Project to its length up front — the matrix only ever
    // consumes text_len. ~5x less bytes through the heavy operators.
    val slim =
      if (turns.columns.contains("text"))
        turns.withColumn("text_len", org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text"))).drop("text")
      else turns
    val enriched = ordered.foldLeft(slim) { (df, m) =>
      m match {
        case s: StatefulModule => s.enrichWith(df, state)
        case _                 => m.enrich(df)
      }
    }
    val aggExprs = ordered.flatMap(_.aggs)
    enriched.groupBy(col("conv_id")).agg(aggExprs.head, aggExprs.tail: _*)
  }
}

/** Modules that additionally consume the state side-table. */
trait StatefulModule extends FeatureModule {
  def enrichWith(turns: DataFrame, state: Option[DataFrame]): DataFrame
}
