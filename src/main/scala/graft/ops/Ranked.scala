package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-source rank / running-sum WITHOUT a per-source single-task
  * sort — the scale fix for the registry's last full-sort family
  * (q_quality_calibrate / q_quality_sweep / q_mix_select, VERDICT r6 #1):
  * `row_number().over(Window.partitionBy(source).orderBy(q, id))` sorts an
  * ENTIRE source in one task — at 10¹² docs and ~10 sources that is a
  * ~10¹¹-row single-task sort, the same exposure class as the hot-sig
  * window DupSpans closed in r6.
  *
  * Two-level scheme (classic distributed rank):
  *   1. per-source approximate quantile split points over `q`
  *      (`percentile_approx`, whose sketch merge may depend on how the
  *      input is partitioned; accuracy only affects bucket BALANCE, never
  *      correctness), materialized once so every consumer reads the same
  *      split points;
  *   2. each row's bucket = #splits strictly below (asc) / above (desc)
  *      its q — a pure function of q, so ties always share a bucket and
  *      bucketing is monotone w.r.t. the (q, id) sort order. A NULL q
  *      takes the terminal bucket where the plain window orders NULLs:
  *      the first bucket ascending, the last descending;
  *   3. per-(source, bucket) counts (+ payload sums) roll into per-bucket
  *      offsets via a window over the TINY sources×buckets frame;
  *   4. row_number / running sum inside (source, bucket) + the bucket's
  *      offset ≡ the single-window value, row for row, by bucket-major
  *      ordering.
  *
  * The per-task sort is bucket-sized; buckets default to 4× the session
  * parallelism (a cluster-shaped knob, overridable per call for a
  * data-shaped one at true scale). Residual exposure, documented: a single
  * q VALUE holding a ~task-overflowing tie run still lands in one bucket —
  * with the tie-free (q, id) key that is a measure-zero pathology the
  * approx-quantile family shares.
  *
  * Output = input columns + `__rn` (1-based per-source row number under
  * (q asc|desc, id asc)), `__n` (per-source row count), and — when
  * `cumOf` is set — `__cum` (per-source running sum of that column,
  * unbounded-preceding..current under the same order).
  *
  * The input is referenced twice (split points + ranked side) and counted
  * once for the size branch: pass a MATERIALIZED frame (localCheckpoint).
  * At or below [[SingleSortMaxRows]] the plain single-window plan is
  * chosen instead — the q_sample_topk_prefilter declarative-fallback
  * pattern: at that size the one-task sort is strictly cheaper than split
  * points + offset joins, while any corpus that could overflow a task
  * picks the bucketed plan from its own count.
  */
object Ranked {
  /** Rows above which the single-window form is no longer acceptable and
    * the bucketed two-level plan is chosen instead, decided from the
    * materialized input's exact count (a metadata-cheap action over the
    * checkpoint): fixture-sized sources stay on the plain plan (whose
    * one-task sort is FASTER below millions of rows — no split-point
    * pass, no offset joins) while any production corpus crosses into the
    * bucketed plan long before a source overflows one task.
    */
  private val SingleSortMaxRows = 4000000L

  def perSource(d: DataFrame, source: String, q: String, id: String,
                descQ: Boolean = false,
                cumOf: Option[String] = None,
                buckets: Int = 0): DataFrame = {
    val ord0 = if (descQ) Seq(col(q).desc, col(id).asc)
               else Seq(col(q).asc, col(id).asc)
    if (buckets == 0 && d.count() <= SingleSortMaxRows) {
      // small-input branch: the plain per-source window IS the best plan
      // here; the bucketed branch below is the shape that must hold at
      // scale (RankedSpec pins their row-for-row equality and the
      // composite-key window with buckets forced on)
      val w = Window.partitionBy(col(source)).orderBy(ord0: _*)
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy(col(source))
      val r = d.withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__n", count(lit(1)).over(wn))
      return cumOf.fold(r)(c => r.withColumn("__cum", sum(col(c)).over(wc)))
    }
    val b = if (buckets > 0) buckets
      else math.max(8, d.sparkSession.sparkContext.defaultParallelism * 4)
    val fracs = array((1 until b).map(i => lit(i.toDouble / b)): _*)
    // sources-sized; materialized so the offsets side and the ranked side
    // read ONE set of split points — two lazy references would each run
    // the approximate aggregate, and nothing forces them to agree
    val bounds = d.groupBy(col(source))
      .agg(percentile_approx(col(q), fracs, lit(10000)).as("__splits"))
      .localCheckpoint()
    // #splits strictly on the came-before side of q: monotone in the sort
    // order and identical for tied q values, so global (q, id) order ≡
    // (bucket, q, id) order — the equivalence the offsets below rely on.
    // NULL q sorts first ascending and last descending (Spark's default
    // null ordering), so it takes bucket 0 or the last of the b buckets.
    val bkt: Column = when(col(q).isNull, lit(if (descQ) b - 1L else 0L))
      .otherwise(aggregate(col("__splits"), lit(0L),
        (acc, s) => acc + when(if (descQ) s > col(q) else s < col(q), 1L)
          .otherwise(0L)))
    val withB = d.join(broadcast(bounds), Seq(source))
      .withColumn("__bkt", bkt).drop("__splits")
    val aggs = count(lit(1)).as("__c") +:
      cumOf.map(c => sum(col(c)).as("__s")).toList
    val perB = withB.groupBy(col(source), col("__bkt"))
      .agg(aggs.head, aggs.tail: _*)
    // offsets over the sources×buckets frame — tiny at any corpus size
    val wo = Window.partitionBy(col(source)).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wn = Window.partitionBy(col(source))
    val offs0 = perB
      .withColumn("__off", coalesce(sum(col("__c")).over(wo), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wn))
    val offs = cumOf.fold(offs0)(_ =>
        offs0.withColumn("__soff", coalesce(sum(col("__s")).over(wo), lit(0L))))
      .drop("__c", "__s")
    val wRank = Window.partitionBy(col(source), col("__bkt")).orderBy(ord0: _*)
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = withB.join(broadcast(offs), Seq(source, "__bkt"))
      .withColumn("__rn", row_number().over(wRank).cast("long") + col("__off"))
    cumOf.fold(ranked.drop("__bkt", "__off")) { c =>
      ranked.withColumn("__cum", sum(col(c)).over(wCum) + col("__soff"))
        .drop("__bkt", "__off", "__soff")
    }
  }
}
