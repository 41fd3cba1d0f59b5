package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Listeners
import graft.ops.{Components, NearDup}

/** Connected-components keeper assignment (ops.Components.minLabel):
  * transitive closure over near-dup PAIRS — the dedup-completion step.
  * Every `minLabel` case runs on both of its paths: as configured (these
  * graphs fit the broadcast budget, so the driver union-find labels them)
  * and with broadcast disabled (star contraction).
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** `body` with the broadcast threshold set to `bytes`; `minLabel`'s
    * driver budget is `bytes / 32` edges. */
  private def withBroadcastThreshold[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** `body` with broadcast joins disabled: `minLabel` then takes its
    * star-contraction path whatever the graph's size. */
  private def distributed[T](body: => T): T = withBroadcastThreshold(-1)(body)

  private def onBothPaths(body: => Unit): Unit = { body; distributed(body) }

  private def sorted(labels: DataFrame): Seq[(Long, Long)] =
    labels.orderBy("node").as[(Long, Long)].collect().toSeq

  /** `body`'s result and the number of Spark jobs it submits. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val group = "components-job-pin"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "minLabel job pin", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      Listeners.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("chain closes transitively: a~b, b~c -> one keeper, no a~c edge needed") {
    onBothPaths {
      val edges = Seq((2L, 1L), (2L, 3L), (9L, 8L)).toDF("da", "db")
      val got = Components.minLabel(edges, "da", "db")
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
    }
  }

  test("long path converges to the global component minimum") {
    onBothPaths {
      // path 10-9-8-...-1 (diameter 9) plus a disjoint triangle
      val path = (1L until 10L).map(i => (i, i + 1))
      val tri = Seq((20L, 21L), (21L, 22L), (22L, 20L))
      val got = Components.minLabel((path ++ tri).toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      (1L to 10L).foreach(n => assert(got(n) == 1L, s"node $n"))
      (20L to 22L).foreach(n => assert(got(n) == 20L, s"node $n"))
    }
  }

  test("result is partition-layout invariant") {
    onBothPaths {
      val edges = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
      val one = sorted(Components.minLabel(edges.repartition(1), "a", "b"))
      val many = sorted(Components.minLabel(edges.repartition(7), "a", "b"))
      assert(one == many)
      assert(one.forall(_._2 == 1L))
    }
  }

  test("a diameter-119 path resolves with broadcast off") {
    // path 1-2-...-120: star contraction's rounds grow with log n, not
    // with the diameter (broadcast is off, so the driver path is skipped)
    distributed {
      val edges = (1L until 120L).map(i => (i, i + 1)).toDF("a", "b")
      val got = Components.minLabel(edges, "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got.size == 120)
      (1L to 120L).foreach(n => assert(got(n) == 1L, s"node $n"))
    }
  }

  test("starContract equals minLabel on random graphs") {
    onBothPaths {
      val rnd = new scala.util.Random(42)
      for (trial <- 1 to 4) {
        val n = 30 + trial * 20
        val edges = (1 to n).map(_ =>
          (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).toDF("a", "b")
        val viaStar = sorted(Components.starContract(edges, "a", "b"))
        val viaProp = sorted(Components.minLabel(edges, "a", "b"))
        assert(viaStar == viaProp, s"trial $trial (n=$n) diverged")
      }
    }
  }

  test("driver path equals distributed path equals starContract on random multigraphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4; parts <- Seq(1, 7)) {
      val n = 20 + trial * 25
      val base = (1 to n).map(_ => (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
      val loops = (1 to 3).map { _ => val v = rnd.nextInt(n).toLong + 1; (v, v) }
      val dups = base.take(n / 4)
      val reversed = base.slice(n / 4, n / 2).map(_.swap)
      val isolated = Seq((1000L + trial, 1000L + trial))
      val edges = rnd.shuffle(base ++ loops ++ dups ++ reversed ++ isolated)
        .toDF("a", "b").repartition(parts)
      val viaDriver = sorted(Components.minLabel(edges, "a", "b"))
      val viaLoop = distributed(sorted(Components.minLabel(edges, "a", "b")))
      val viaStar = sorted(Components.starContract(edges, "a", "b"))
      val what = s"trial $trial, $parts partitions"
      assert(viaDriver == viaLoop, what)
      assert(viaDriver == viaStar, what)
      assert(viaDriver.contains((1000L + trial, 1000L + trial)), what)
    }
  }

  test("edges with a NULL endpoint are dropped on both paths") {
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)), (None, None),
      (Some(5L), Some(4L)), (Some(6L), None)).toDF("a", "b")
    val want = Seq(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L)
    val viaDriver = sorted(Components.minLabel(edges, "a", "b"))
    val viaLoop = distributed(sorted(Components.minLabel(edges, "a", "b")))
    assert(viaDriver == want)
    assert(viaLoop == want)
    // a node seen only beside a NULL is its own cluster
    val docs = (1L to 6L).toDF("doc_id")
    val got = NearDup.clusterOf(docs, edges.toDF("da", "db"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("a 200-edge graph within the broadcast budget is labelled in at most 2 jobs") {
    // star contraction submits several jobs per round (two checkpoints
    // and a signature read); the driver path reads the edge checkpoint once
    val edges = (1L to 200L).map(i => (i, i % 37 + 1000L)).toDF("a", "b").localCheckpoint()
    val (_, jobs) = jobsIn(Components.minLabel(edges, "a", "b"))
    assert(jobs >= 1 && jobs <= 2, s"$jobs jobs")
  }

  test("budget boundary at threshold / 32: 50 edges on the driver, 51 contracted") {
    withBroadcastThreshold(32L * 50) {
      for (n <- Seq(50L, 51L)) {
        // stars over blocks of 7 consecutive ids, self-loops at the centres
        val edges = (1L to n).map(i => (i, i / 7 * 7)).toDF("a", "b").localCheckpoint()
        val (labels, jobs) = jobsIn(Components.minLabel(edges, "a", "b"))
        if (n == 50L) assert(jobs <= 2, s"$n edges: $jobs jobs")
        else assert(jobs > 2, s"$n edges took the driver path ($jobs jobs)")
        assert(sorted(labels) == sorted(Components.starContract(edges, "a", "b")), s"$n edges")
      }
    }
  }

  test("quality keeper is idempotent and quality-dominates its cluster") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q_dedup_keeper_best")(spark, dir).localCheckpoint()
    // a keeper must keep itself (idempotent collapse target)
    val k = out.select(col("keeper").as("doc_id")).distinct()
      .join(out, Seq("doc_id"))
    assert(k.filter(col("keeper") =!= col("doc_id")).count() == 0,
      "a keeper mapped to a different keeper")
    // the keeper's quality dominates every member's own quality
    val q = Tables.documents(spark, dir).select(col("doc_id"),
      round(graft.functions.TextFns.qualityScore(col("text")), 6).as("q"))
    assert(out.join(q, "doc_id").filter(col("keeper_q") < col("q")).count() == 0,
      "a cluster member outranks its keeper's quality")
  }

  test("starContract handles self-loops, singleton edges and a triangle") {
    val edges = Seq((5L, 5L), (1L, 2L), (7L, 8L), (8L, 9L), (9L, 7L)).toDF("a", "b")
    val got = Components.starContract(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
  }
}
