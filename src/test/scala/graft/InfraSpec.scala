package graft

import graft.checkpoint.Snapshot
import graft.datagen.TranscriptGen
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Bench outlier rejection, datagen determinism and checkpoint resume. */
class InfraSpec extends SparkSpec {
  import spark.implicits._

  test("bench outlier rejection: min-anchored, noise-inflated pairs rejected") {
    import Bench.ScalePair
    // the r3 campaign that motivated the fix: rep 1's high side was 2.2x
    // inflated but stayed under 2x of a median dragged up by later pairs
    val r3 = Seq(
      ScalePair(1, 129.2, 98.8), ScalePair(2, 151.2, 42.1),
      ScalePair(3, 170.6, 44.5), ScalePair(4, 146.1, 56.3))
    assert(Bench.cleanPairs(r3).map(_.rep) == Seq(2, 3, 4))
    // physically-impossible efficiency (>1.05) is rejected even when fast
    val fast = Seq(ScalePair(1, 100.0, 20.0), ScalePair(2, 100.0, 25.0))
    assert(Bench.cleanPairs(fast).map(_.rep) == Seq(2))
    assert(Bench.cleanPairs(Nil).isEmpty)
  }

  test("datagen is deterministic across parallelism levels") {
    val a = TranscriptGen.turns(spark, 50).repartition(2)
      .orderBy("conv_id", "turn_idx").collect().toSeq
    val b = TranscriptGen.turns(spark, 50).repartition(11)
      .orderBy("conv_id", "turn_idx").collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("datagen skew tail: conv 0 is ~skewFactor bigger than the median") {
    val counts = TranscriptGen.turns(spark, 30, skewEvery = 29)
      .groupBy("conv_id").count().as[(String, Long)].collect().toMap
    val skewed = counts("c0000000000")
    val others = counts.collect { case (k, v) if k.stripPrefix("c").toLong % 29 != 0 => v }.toSeq.sorted
    val median = others(others.size / 2)
    assert(skewed > median * 10)
  }

  test("checkpoint: kill, resume, identical result, lineage complete") {
    val out = Files.createTempDirectory("snap2").toString
    val input = TranscriptGen.turns(spark, 40)
    val job = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("conv_id").agg(count(lit(1)).as("n"))

    // run 1 dies after 2 shards
    var processed = 0
    try Snapshot.runResumable(input, out, 4) { df =>
      processed += 1
      if (processed > 2) throw new RuntimeException("simulated kill")
      job(df)
    } catch { case _: RuntimeException => () }
    assert(Snapshot.completedShards(out).size == 2)

    // run 2 resumes: processes exactly the missing shards
    val recs = Snapshot.runResumable(input, out, 4)(job)
    assert(recs.size == 2)
    assert(Snapshot.completedShards(out) == Set(0, 1, 2, 3))

    // snapshot content == single-shot computation
    val got = Snapshot.read(spark, out).orderBy("conv_id").collect().toSeq
    val exp = job(input).orderBy("conv_id").collect().toSeq
    assert(got == exp)

    // lineage has rows + latency per shard
    val lin = Snapshot.lineage(spark, out).collect()
    assert(lin.length == 4)
    assert(lin.forall(r => r.getAs[Long]("rows") > 0 && r.getAs[Long]("wallMs") >= 0))
  }
}
