package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Phase-level timing of q_dedup_clusters (VERDICT r4 #2): splits the
  * query into pair-pipeline materialization, component labeling, and the
  * corpus keeper join, so the components' FIXED cost (seed + fused
  * propagation rounds + convergence reads) is visible independently of
  * ambient noise on the expensive pair pipeline.
  *
  * `label` times `minLabel`'s distributed propagation loop (broadcast
  * disabled for that call, so the graph cannot take the driver path) —
  * the like-for-like twin of `star`; `driver` is the same labelling at the
  * session's own broadcast threshold, which small graphs take through the
  * driver union-find.
  *
  *   sbt -batch "runMain graft.tools.ComponentsBench [sfDir] [reps]"
  */
object ComponentsBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder().master("local[32]")
      .appName("components-bench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def sec[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    for (rep <- 1 to reps) {
      // pairs pipeline, materialized once (exactly what minLabel's
      // symmetrize checkpoint pays inside the query)
      val (pairs, tPairs) = sec {
        graft.SparkEntry.neardupLshPairs(spark, sfDir).localCheckpoint()
      }
      val nPairs = pairs.count()
      val (lbl, tLabel) = sec {
        val key = "spark.sql.autoBroadcastJoinThreshold"
        val prev = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try graft.ops.Components.minLabel(pairs, "da", "db").localCheckpoint()
        finally spark.conf.set(key, prev)
      }
      val nNodes = lbl.count()
      val (_, tDriver) = sec {
        graft.ops.Components.minLabel(pairs, "da", "db").localCheckpoint()
      }
      val (_, tJoin) = sec {
        graft.ops.NearDup.clusterOf(graft.Tables.documents(spark, sfDir).select(col("doc_id")),
            pairs, (_, _, _) => lbl, "keeper")
          .write.mode("overwrite").format("noop").save()
      }
      val (lblStar, tStar) = sec {
        graft.ops.Components.starContract(pairs, "da", "db").localCheckpoint()
      }
      val nStar = lblStar.count()
      println(f"rep $rep: pairs=$tPairs%.2fs (n=$nPairs) label=$tLabel%.2fs " +
        f"(nodes=$nNodes) driver=$tDriver%.2fs star=$tStar%.2fs (nodes=$nStar) " +
        f"keeperJoin=$tJoin%.2fs total=${tPairs + tLabel + tJoin}%.2fs")
    }
    spark.stop()
  }
}
