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
  * reproduces exactly), two algorithms chosen by graph size:
  *
  *  - driver union-find ([[minLabel]], graphs within the broadcast budget):
  *    the dedup shape — a few hundred verified pairs — is read to the
  *    driver in one job and labelled there, where a distributed loop would
  *    spend its jobs on Spark's per-job floor, not on data.
  *  - [[starContract]]: alternating large-star/small-star contraction
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    SoCC'14 — public algorithm), O(log n) rounds REGARDLESS of
  *    component diameter, for every graph over the budget. No
  *    O(diameter) min-label propagation loop is kept: over the budget,
  *    contraction measured as fast or faster on small clusters and on
  *    long chains alike.
  */
object Components {

  /** Iterative stages must be sized to the GRAPH, not the corpus: the
    * near-dup edge list is orders of magnitude smaller than the documents
    * table, and running each tiny round at the session's corpus-tuned
    * shuffle width pays several stages × width in task-launch overhead per
    * round (measured: star contraction on 2,000 diameter-59 chains at
    * width 200 ran 17.3–24.2 s unnarrowed vs 7.9–8.3 s narrowed). The edge
    * list is already materialized, so its exact count is free — ~100k
    * edges per partition, capped.
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
    * disabled) run star contraction on the same materialized edges.
    *
    * Edges with a NULL endpoint are dropped on both paths (a NULL id is no
    * node): a node seen only beside a NULL gets no row, and
    * `NearDup.clusterOf` keeps such a node as its own cluster.
    *
    * @return (node, label) — label = min node id reachable from `node`;
    *         every node of an edge without NULLs gets a row.
    */
  def minLabel(edges: DataFrame, a: String, b: String): DataFrame = {
    val ec = edgeCheckpoint(edges, a, b)
    val budget = driverBudget(ec)
    // one job whatever the checkpoint's width: a single task walks its
    // blocks in turn and stops at budget + 1 rows
    val head = if (budget > 0) ec.coalesce(1).limit(budget + 1).collect() else Array.empty[Row]
    if (budget > 0 && head.length <= budget) driverLabels(ec.sparkSession, head)
    else starFrom(ec)
  }

  /** The edge pipeline as (u, v) without NULL endpoints, materialized
    * ONCE: every later read or union references the checkpoint blocks, not
    * the (possibly expensive) pair pipeline, which a union's branches would
    * otherwise each re-execute.
    */
  private def edgeCheckpoint(edges: DataFrame, a: String, b: String): DataFrame =
    edges.select(col(a).as("u"), col(b).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .localCheckpoint()

  /** Edges the driver path takes: `autoBroadcastJoinThreshold / 32`, 0
    * (never) when broadcast is disabled or the ids are not BIGINT.
    */
  private def driverBudget(ec: DataFrame): Int =
    if (ec.schema.forall(_.dataType == LongType))
      math.max(0L, math.min(Int.MaxValue - 1L,
        Bridge.sqlConf(ec.sparkSession).autoBroadcastJoinThreshold / 32)).toInt
    else 0

  /** Union-find over driver-resident (u, v) rows, linking by minimum
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

  /** Alternating large-star/small-star connected components. Each round is
    * two grouped aggregates + joins over the CURRENT edge set (which only
    * shrinks toward one star per component); convergence is an
    * order-independent edge-set signature reaching a fixed point, checked
    * on the already-materialized checkpoint. Converges in O(log n) rounds
    * on any graph shape — the path for every graph over [[minLabel]]'s
    * driver budget.
    *
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its closed neighborhood;
    *  - small-star: every node links its smaller-or-equal neighbors (and
    *    itself) to that minimum.
    *
    * At the fixpoint each component is a star centered on its minimum
    * node, so the edge list IS the (node → label) mapping. Edges with a
    * NULL endpoint are dropped, as in [[minLabel]].
    */
  def starContract(edges: DataFrame, a: String, b: String, maxRounds: Int = 60): DataFrame =
    starFrom(edgeCheckpoint(edges, a, b), maxRounds)

  /** Star contraction over an edge checkpoint from [[edgeCheckpoint]].
    * `nodes` stays lazy over the checkpoint blocks — it is referenced
    * once, by the final label join.
    */
  private def starFrom(ec: DataFrame, maxRounds: Int = 60): DataFrame = {
    val nodes = ec.select(col("u").as("node"))
      .unionByName(ec.select(col("v").as("node")))
      .distinct()
    var e = ec.filter(col("u") =!= col("v")).distinct().localCheckpoint()

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

    withShuffleParts(e, graphParts(e.count())) {
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
}
