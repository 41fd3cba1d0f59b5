package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components over an undirected edge list — the dedup-completion
  * operator: near-dup detection emits PAIRS, but pairs are not transitively
  * closed (a~b, b~c without a~c), so keeper assignment needs each node's
  * component representative. Reference analog: musiF has no graph step (its
  * corpus is curated); this is part of the beyond-reference training-data
  * pipeline tier (SURVEY.md §6).
  *
  * One contract (label = component-minimum node id, partition-order
  * independent — the property the DuckDB oracle's recursive-CTE closure
  * reproduces exactly), three algorithms chosen by graph size and shape:
  *
  *  - driver union-find ([[minLabel]], graphs within the broadcast budget):
  *    the dedup shape — a few hundred verified pairs — is read to the
  *    driver in one job and labelled there. At that size the distributed
  *    loop below spends its ~23 jobs on Spark's per-job floor, not on data.
  *  - iterative min-label propagation ([[minLabel]], larger graphs),
  *    O(diameter) rounds. The expected shape for dedup graphs — small,
  *    dense components (duplicate clusters) on an edge list orders of
  *    magnitude smaller than the corpus, converging in a handful of
  *    rounds. Rounds are run in FUSED PAIRS (two propagation joins per
  *    materialization + convergence action), and round 1 is folded into
  *    the seed (label = min(node, min direct neighbor) is one aggregate,
  *    no join), so the fixed per-round cost — `localCheckpoint` lineage
  *    truncation plus a blocking convergence read — is paid half as often.
  *  - [[starContract]]: alternating large-star/small-star contraction
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    SoCC'14 — public algorithm), O(log n) rounds REGARDLESS of
  *    component diameter. The 100-TB fallback for chain-shaped duplicate
  *    clusters (shingled spam, boilerplate chains) where propagation's
  *    O(diameter) loop would not terminate in bounded rounds.
  *
  * Propagation hitting its iteration cap automatically falls back to
  * [[starContract]] on the same edges instead of failing — the cap is a
  * shape detector, not an error.
  */
object Components {

  /** Iterative stages must be sized to the GRAPH, not the corpus: the
    * near-dup edge list is orders of magnitude smaller than the documents
    * table, and running each tiny propagation round at the session's
    * corpus-tuned shuffle width pays ~8 stages × width in task-launch
    * overhead per round (measured: 1.2s/round at width 32 on a 91k-edge
    * graph vs ~0.2s at width 1). The edge list is already materialized, so
    * its exact count is free — ~100k edges per partition, capped.
    */
  private def graphParts(nEdges: Long): Int =
    math.max(1L, math.min(2048L, nEdges / 100000L + 1L)).toInt

  /** Run `body` with the session's shuffle width pinned to `parts`,
    * restoring the previous value after. Only safe because every frame the
    * body returns is eagerly materialized (localCheckpoint) before the
    * restore — nothing lazy escapes with the narrowed width.
    *
    * SINGLE-PLANNER assumption: `spark.sql.shuffle.partitions` is a
    * session-global knob, so any query PLANNED concurrently on the same
    * SparkSession during `body` (a streaming micro-batch, a parallel test
    * suite sharing the session) silently plans at the narrowed width.
    * Callers running components concurrently with other planning on one
    * session should use `SparkSession.newSession()` for isolation — the
    * per-round frames here are deliberately tiny, so the narrowed width is
    * an optimization for THIS loop, not a safe ambient default.
    */
  private def withShuffleParts[T](df: DataFrame, parts: Int)(body: => T): T = {
    val conf = df.sparkSession.conf
    val prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body finally conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Labels each node of the undirected graph `edges(a, b)` with its
    * component's minimum node id.
    *
    * The edge pipeline is materialized once. A graph of at most
    * `autoBroadcastJoinThreshold / 32` edges with BIGINT ids is then read
    * to the driver in one job and labelled by a union-find, returned as a
    * local frame. The budget is Spark's own: an edge is two 8-byte ids
    * and yields up to two label rows, so the driver path runs exactly when
    * Spark would ship the label frame whole to every executor anyway. A
    * larger graph, other id types, or a threshold ≤ 0 (broadcast
    * disabled) run the distributed propagation loop, which falls back to
    * [[starContract]] after `maxIters` rounds.
    *
    * Edges with a NULL endpoint are dropped on both paths (a NULL id is no
    * node): a node seen only beside a NULL gets no row, and
    * `NearDup.clusterOf` keeps such a node as its own cluster.
    *
    * @return (node, label) — label = min node id reachable from `node`;
    *         every node of an edge without NULLs gets a row.
    */
  def minLabel(edges: DataFrame, a: String, b: String, maxIters: Int = 50): DataFrame = {
    // Materialize the (possibly expensive) edge pipeline ONCE, BEFORE any
    // read or union references it (r7): symmetrize is a two-branch union,
    // and a union's branches each re-plan and re-execute their subtree —
    // the old symmetrize-then-checkpoint ran the whole LSH pair pipeline
    // twice per query.
    val ec = edges.select(col(a).as("src"), col(b).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint()
    val budget = driverBudget(ec)
    // one job whatever the checkpoint's width: a single task walks its
    // blocks in turn and stops at budget + 1 rows
    val head = if (budget > 0) ec.coalesce(1).limit(budget + 1).collect() else Array.empty[Row]
    if (budget > 0 && head.length <= budget) driverLabels(ec.sparkSession, head)
    else {
      // The symmetrized view is a cheap two-branch union over the
      // checkpoint blocks and needs no second materialization at fixture
      // width (AQE leaves small pipelines at 1-2 partitions); a wide
      // checkpoint gets the dst layout so no propagation round
      // re-exchanges the edge side.
      val parts = graphParts(2L * ec.count())
      val sym0 = ec.unionByName(ec.select(col("dst").as("src"), col("src").as("dst")))
      val sym = if (ec.rdd.getNumPartitions * 2 > parts * 4)
        sym0.repartition(parts, col("dst")).localCheckpoint() else sym0
      withShuffleParts(ec, parts) { minLabelLoop(sym, ec, maxIters) }
    }
  }

  /** Edges the driver path takes: `autoBroadcastJoinThreshold / 32`, 0
    * (never) when broadcast is disabled or the ids are not BIGINT.
    */
  private def driverBudget(ec: DataFrame): Int =
    if (ec.schema.forall(_.dataType == LongType))
      math.max(0L, math.min(Int.MaxValue - 1L,
        Bridge.sqlConf(ec.sparkSession).autoBroadcastJoinThreshold / 32)).toInt
    else 0

  /** Union-find over driver-resident (src, dst) rows, linking by minimum
    * root: nodes are indexed in ascending id order, so every root is its
    * component's minimum index, i.e. its minimum id.
    */
  private def driverLabels(spark: SparkSession, edges: Array[Row]): DataFrame = {
    val ends = new Array[Long](2 * edges.length)
    edges.indices.foreach { i =>
      ends(2 * i) = edges(i).getLong(0)
      ends(2 * i + 1) = edges(i).getLong(1)
    }
    java.util.Arrays.sort(ends)
    var n = 0
    ends.indices.foreach { i =>
      if (i == 0 || ends(i) != ends(i - 1)) { ends(n) = ends(i); n += 1 }
    }
    val parent = Array.range(0, n)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ends, 0, n, id)
    edges.foreach { e =>
      val (x, y) = (find(index(e.getLong(0))), find(index(e.getLong(1))))
      if (x < y) parent(y) = x else if (y < x) parent(x) = y
    }
    val labels = java.util.Arrays.asList((0 until n).map(i => Row(ends(i), ends(find(i)))): _*)
    spark.createDataFrame(labels, StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("label", LongType, nullable = false))))
  }

  private def minLabelLoop(sym: DataFrame, ec: DataFrame,
                           maxIters: Int): DataFrame = {
    // seed = round 1 folded into initialization: with labels initialized to
    // node ids, the first propagation round computes exactly
    // min(node, min direct neighbor) — one aggregate over sym, no join
    var lbl = sym.groupBy(col("src").as("node")).agg(min(col("dst")).as("__mn"))
      .select(col("node"), least(col("node"), col("__mn")).as("label"))
      .localCheckpoint()
    // One propagation step in ONE join + ONE aggregate (r7): unioning the
    // label frame into the aggregation input is the self-loop trick —
    // min over {own label} ∪ {neighbor labels} ≡ the old
    // propagate-then-least left join, with one fewer join and one fewer
    // exchange per step (iterates are identical row-for-row: labels
    // start at node ids and only decrease).
    def step(l: DataFrame): DataFrame =
      sym.join(l.select(col("node").as("dst"), col("label")), "dst")
        .select(col("src").as("node"), col("label"))
        .unionByName(l)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
    // Convergence (r7): labels are positive, start at node ids, and only
    // ever DECREASE, so the label sum is strictly monotone until the
    // fixpoint — "sum unchanged across a fused pair" ⇔ both steps were
    // no-ops ⇔ fixpoint. One exact decimal aggregate over the
    // already-materialized checkpoint replaces the carried round-start
    // label + change-flag column (decimal, not long: at 10¹² nodes a
    // long sum of 10¹²-sized ids overflows).
    def labelSum(l: DataFrame): java.math.BigDecimal =
      l.agg(coalesce(sum(col("label").cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO)))
        .head.getDecimal(0)
    var prevSum = labelSum(lbl)
    var iter = 1 // the seed IS round 1
    var converged = false
    while (!converged && iter < maxIters) {
      iter += 2
      val next = step(step(lbl)).localCheckpoint()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      lbl = next
    }
    if (!converged) {
      // giant-diameter component: propagation's O(diameter) loop is the
      // wrong algorithm — swap to the O(log n) contraction, same contract
      // (handed the already-materialized edge checkpoint, not the
      // original pipeline — the fallback must not re-run it)
      System.err.println(s"[components] minLabel hit the $maxIters-round cap " +
        "(giant-diameter component) — falling back to large-star/small-star contraction")
      starContract(ec, "src", "dst")
    } else lbl
  }

  /** Alternating large-star/small-star connected components. Each round is
    * two grouped aggregates + joins over the CURRENT edge set (which only
    * shrinks toward one star per component); convergence is an
    * order-independent edge-set signature reaching a fixed point, checked
    * on the already-materialized checkpoint. Converges in O(log n) rounds
    * on any graph shape — the web-scale path for components whose diameter
    * exceeds what propagation can walk.
    *
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its closed neighborhood;
    *  - small-star: every node links its smaller-or-equal neighbors (and
    *    itself) to that minimum.
    *
    * At the fixpoint each component is a star centered on its minimum
    * node, so the edge list IS the (node → label) mapping.
    */
  def starContract(edges: DataFrame, a: String, b: String, maxRounds: Int = 60): DataFrame = {
    // ONE materialization of the (possibly expensive) edge pipeline (r7):
    // the old nodes-union + e0 chain referenced `edges` in three union/
    // filter branches, executing the whole pair pipeline three times per
    // query. `nodes` stays lazy over the checkpoint blocks — it is
    // referenced once, by the final label join.
    val ec = edges.select(col(a).as("u"), col(b).as("v")).localCheckpoint()
    val nodes = ec.select(col("u").as("node"))
      .unionByName(ec.select(col("v").as("node")))
      .distinct()
    val e0 = ec.filter(col("u") =!= col("v")).distinct().localCheckpoint()
    withShuffleParts(e0, graphParts(e0.count())) {
      starLoop(nodes, e0, maxRounds)
    }
  }

  private def starLoop(nodes: DataFrame, e0: DataFrame, maxRounds: Int): DataFrame = {
    var e = e0

    // min over the closed neighborhood of each node of `d` (d must hold
    // every direction that matters to the caller)
    def closedMin(d: DataFrame): DataFrame =
      d.groupBy(col("u")).agg(min(col("v")).as("__mnv"))
        .select(col("u"), least(col("u"), col("__mnv")).as("m"))

    def largeStar(d: DataFrame): DataFrame = {
      val nbrs = d.unionByName(d.select(col("v").as("u"), col("u").as("v")))
      nbrs.join(closedMin(nbrs), Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(d: DataFrame): DataFrame = {
      // canonical high→low orientation, then each node links its ≤-side
      // neighborhood (and itself) to the neighborhood minimum
      val c = d.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val m = closedMin(c)
      c.join(m, Seq("u"))
        .select(col("v"), col("m"))
        .unionByName(m.select(col("u").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // order-independent edge-set signature: (count, XOR of per-edge hash).
    // XOR, not sum: the edge set is distinct, so XOR is a valid set
    // signature, and it cannot overflow under ANSI mode
    def signature(d: DataFrame): (Long, Long) = {
      val r = d.select(xxhash64(col("u"), col("v")).as("__h"))
        .agg(count(lit(1)), expr("bit_xor(__h)")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var sig = signature(e)
    var round = 0
    var done = sig._1 == 0L // no edges → all singletons
    while (!done && round < maxRounds) {
      // ONE star op per materialization (r7) — each star op references
      // its input ~4× (the symmetrized union feeds both the neighborhood
      // join and closedMin), so even composing small∘large in one plan
      // executed the inner largeStar ~4× per round; the same subplan-
      // replication argument that kept two ROUNDS from fusing (measured
      // 21.5s vs 11.8s on the fixture graph) applies one level down
      // (measured again r7: 4.9s vs 3.0s of components time at sf0.1).
      round += 1
      val ls = largeStar(e).localCheckpoint()
      val next = smallStar(ls).localCheckpoint()
      val s2 = signature(next)
      done = s2 == sig
      sig = s2
      e = next
    }
    require(done, s"star contraction did not converge in $maxRounds rounds — " +
      "not a graph-shape issue (contraction is O(log n) on any shape); " +
      "inspect the edge list for pathological input")
    // materialize inside the narrowed-shuffle scope (see withShuffleParts)
    nodes.join(e.select(col("u").as("node"), col("v").as("__lbl")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__lbl"), col("node")).as("label"))
      .localCheckpoint()
  }
}
