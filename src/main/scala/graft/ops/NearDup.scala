package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The near-dup family's shared stages, each defined once — SparkER's
  * (EDBT'19) blocking / matching / clustering split:
  *
  *  - [[bucketPairs]]: blocking → candidate pairs. Every candidate
  *    generator (MinHash bands, SimHash bands, cosine sign-plane bands,
  *    rare-shingle postings) is a block key over an item frame; the
  *    caller owns the key and its bounds, this stage owns the pair shape.
  *  - [[resolvePairs]]: fetch both sides of each candidate pair in ONE
  *    scan of the items, ready for a row-local verify (Jaccard, cosine,
  *    containment, hamming).
  *  - [[clusterOf]]: verified pairs → one cluster label per document.
  */
object NearDup {

  /** Candidate pairs from BUCKET GROUPING: items sharing all `keys` form
    * a bucket; singleton buckets drop; each bucket explodes into its
    * (a, b) member pairs with a < b; pairs found in several buckets
    * collapse under one `distinct`. Cost is Σ|bucket|² — the caller's
    * block key bounds it. Grouping, not a block-key self-join: the
    * self-join's two aliases each recompute the whole upstream pipeline
    * (exchange reuse does not fire across aliases — measured 2×), while
    * one more groupBy extends the existing shuffle.
    *
    * @param id      member id column; outputs are named by `as`
    * @param payload member columns that ride along as struct fields and
    *                come out as `<p>_a` / `<p>_b`, after each side's id
    * @param newFlag boolean member column marking NEW items (an append
    *                slice): buckets without a new member are pruned before
    *                the pair explode, and only pairs whose larger-id
    *                member is new are kept — every pair touching the slice
    *                when new ids are a suffix of the id space
    * @param carry   bucket key columns copied onto each pair (they must
    *                be functionally dependent on the pair, or `distinct`
    *                would see one pair several times)
    */
  def bucketPairs(items: DataFrame, keys: Seq[String], id: String,
                  payload: Seq[String] = Nil, newFlag: Option[String] = None,
                  carry: Seq[String] = Nil,
                  as: (String, String) = ("da", "db")): DataFrame = {
    val structured = payload.nonEmpty || newFlag.nonEmpty
    val member = if (structured) struct((id +: payload ++: newFlag.toSeq).map(col): _*)
                 else col(id)
    val idOf: Column => Column = if (structured) _.getField(id) else identity
    val (a, b) = if (structured) ("a", "b") else as
    val bucketIf = newFlag.foldLeft(size(col("ds")) > 1)((c, f) =>
      c && exists(col("ds"), _.getField(f)))
    val pairs = items.groupBy(keys.map(col): _*)
      .agg(collect_list(member).as("ds"))
      .filter(bucketIf)
      .select(carry.map(col) ++ Seq(explode(col("ds")).as(a), col("ds")): _*)
      .select(carry.map(col) ++ Seq(col(a),
        explode(filter(col("ds"), d => idOf(d) > idOf(col(a)))).as(b)): _*)
    val kept = newFlag.fold(pairs)(f => pairs.filter(col(b).getField(f)))
    val out = if (!structured) Seq(col(a), col(b))
      else Seq(a -> as._1, b -> as._2).flatMap { case (side, name) =>
        idOf(col(side)).as(name) +:
          payload.map(p => col(side).getField(p).as(s"${p}_$side"))
      }
    kept.select(out ++ carry.map(col): _*).distinct()
  }

  /** Both sides of each candidate pair resolved in ONE scan of `items`:
    * output = the pair columns, `carry`, and `value` (an expression over
    * `items`) of each side as `as._1` / `as._2`.
    *
    *  - The candidate list is MATERIALIZED once: it feeds both the fan-out
    *    and the item prefilter, and a second lazy reference would
    *    re-execute the whole blocking pipeline. `localCheckpoint` runs
    *    that pipeline when the plan is BUILT, and its blocks live on the
    *    executors that computed them: on a multi-executor cluster, where
    *    an executor can be lost, swap it for `persist(DISK_ONLY)` or a
    *    reliable checkpoint. The frame is pairs-sized (≪ items by the
    *    blocking contract).
    *  - Items not in any pair are dropped BEFORE `value` is built and
    *    shuffled (the optimizer does not push the semi-join below an
    *    expensive projection on its own), so only candidate items are
    *    ever tokenized or exchanged. AQE broadcasts the id list while
    *    small.
    *  - The pair-side fan-out is an EXPLODE of the one planned candidate
    *    subtree: a two-branch union would re-plan (and re-execute) the
    *    candidate pipeline per branch.
    *  - The join is SHUFFLE_HASH with the pair list as build side: letting
    *    the planner broadcast put the value projection + join + partial
    *    aggregate into one single-partition stage (measured 4.6 s vs
    *    0.8 s at sf0.1). Both sides key by id, the item side streams in
    *    parallel, and neither side is ever collected to one place.
    */
  def resolvePairs(items: DataFrame, cand: DataFrame, id: String, value: Column,
                   as: (String, String), pair: (String, String) = ("da", "db"),
                   carry: Seq[String] = Nil): DataFrame = {
    val c = cand.localCheckpoint()
    val (pa, pb) = pair
    val fanOut = explode(array(col(pa), col(pb))).as(id)
    val Seq(va, vb) = Seq(pa -> as._1, pb -> as._2).map { case (p, name) =>
      first(when(col(id) === col(p), col("s")), ignoreNulls = true).as(name)
    }
    items.join(c.select(fanOut), Seq(id), "left_semi")
      .select(col(id), value.as("s"))
      .join(c.select(fanOut +: (pa +: pb +: carry).map(col): _*).hint("shuffle_hash"), Seq(id))
      .groupBy((pa +: pb +: carry).map(col): _*)
      .agg(va, vb)
  }

  /** Every row of `docs` (keyed by `doc_id`, its other columns kept) with
    * its duplicate cluster in column `as`: the component label `components`
    * assigns over the verified pairs `(da, db)`, or the document's own id
    * when it has no pair (a singleton keeps itself).
    */
  def clusterOf(docs: DataFrame, pairs: DataFrame,
                components: (DataFrame, String, String) => DataFrame =
                  Components.minLabel(_, _, _),
                as: String = "cluster"): DataFrame =
    docs.join(components(pairs, "da", "db").withColumnRenamed("node", "doc_id"),
        Seq("doc_id"), "left")
      .select(docs.columns.map(col) :+ coalesce(col("label"), col("doc_id")).as(as): _*)
}
