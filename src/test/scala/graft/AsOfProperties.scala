package graft

import graft.ops.AsOf
import graft.plans.TurnScan
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property tests (SURVEY.md §5.2#3) over randomly generated micro-tables:
  * zero temporal leakage, sessionization invariant, and determinism under
  * repartitioning. Kept to few cases — each case runs Spark jobs.
  */
object AsOfProperties extends Properties("asof") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  private lazy val spark = TestSpark.spark
  import scala.jdk.CollectionConverters._

  private val genTable = for {
    nTurns <- Gen.choose(1, 25)
    nState <- Gen.choose(0, 10)
    turnTs <- Gen.listOfN(nTurns, Gen.choose(0L, 1000L))
    stateTs <- Gen.listOfN(nState, Gen.choose(0L, 1000L))
  } yield (turnTs, stateTs)

  private def ts(sec: Long) = new java.sql.Timestamp(1704067200000L + sec * 1000)

  property("never selects state strictly after the turn; strict never selects at-equal") =
    Prop.forAll(genTable) { case (turnTs, stateTs) =>
      import spark.implicits._
      val turns = turnTs.sorted.zipWithIndex
        .map { case (t, i) => ("c", i, ts(t)) }.toDF("conv_id", "turn_idx", "ts")
      val state = stateTs.zipWithIndex
        .map { case (t, i) => ("c", ts(t), s"s$t-$i") }.toDF("conv_id", "ts", "state_val")

      def chosenTs(sem: AsOf.Semantics): Seq[(Long, Option[Long])] =
        AsOf.join(turns, state, "conv_id", "ts", Seq("state_val"), sem)
          .collect().map { r =>
            val tSec = (r.getTimestamp(2).getTime - 1704067200000L) / 1000
            val sv = Option(r.getAs[String]("state_val"))
              .map(_.stripPrefix("s").takeWhile(_ != '-').toLong)
            (tSec, sv)
          }.toSeq

      val le = chosenTs(AsOf.AtOrBefore)
      val lt = chosenTs(AsOf.StrictlyBefore)
      val leOk = le.forall { case (t, sv) => sv.forall(_ <= t) }
      val ltOk = lt.forall { case (t, sv) => sv.forall(_ < t) }
      val countOk = le.size == turnTs.size && lt.size == turnTs.size
      leOk && ltOk && countOk
    }

  property("result invariant under repartitioning") =
    Prop.forAll(genTable) { case (turnTs, stateTs) =>
      import spark.implicits._
      val turns = turnTs.sorted.zipWithIndex
        .map { case (t, i) => ("c", i, ts(t)) }.toDF("conv_id", "turn_idx", "ts")
      // distinct state ts so the chosen value is uniquely determined
      val state = stateTs.distinct.zipWithIndex
        .map { case (t, i) => ("c", ts(t), s"s$t") }.toDF("conv_id", "ts", "state_val")
      val a = AsOf.join(turns.repartition(1), state.repartition(1),
        "conv_id", "ts", Seq("state_val")).orderBy("turn_idx").collect().toSeq
      val b = AsOf.join(turns.repartition(5), state.repartition(3),
        "conv_id", "ts", Seq("state_val")).orderBy("turn_idx").collect().toSeq
      a == b
    }

  property("native AsOfMergeExec ≡ union-window form on random micro-tables, all modes") =
    Prop.forAll(genTable) { case (turnTs, stateTs) =>
      import spark.implicits._
      val turns = turnTs.sorted.zipWithIndex
        .map { case (t, i) => ("c", i, ts(t)) }.toDF("conv_id", "turn_idx", "ts")
      // distinct state ts so the chosen value is uniquely determined
      val state = stateTs.distinct.zipWithIndex
        .map { case (t, _) => ("c", ts(t), s"s$t") }.toDF("conv_id", "ts", "state_val")
      Seq((AsOf.AtOrBefore, false, None),
          (AsOf.StrictlyBefore, true, None),
          (AsOf.AtOrBefore, false, Some(100L * 1000000))).forall {
        case (sem, strict, tol) =>
          val reference = AsOf.join(turns, state, "conv_id", "ts", Seq("state_val"), sem, tol)
            .orderBy("turn_idx").collect().toSeq
          val native = graft.plans.AsOfMerge.join(
              turns.repartition(3), state.repartition(2),
              "conv_id", "ts", Seq("state_val"), strict, tol)
            .orderBy("turn_idx").collect().toSeq
          native == reference
      }
    }

  property("blocked boundary-carry sessionize ≡ turn scan, any block size") =
    Prop.forAll(
      Gen.listOfN(20, Gen.choose(1L, 200L)),
      Gen.choose(1, 25)) { (gaps, blockRows) =>
      import spark.implicits._
      val tss = gaps.scanLeft(0L)(_ + _)
      val turns = tss.zipWithIndex.map { case (t, i) => ("c", i, ts(t)) }
        .toDF("conv_id", "turn_idx", "ts")
      val direct = TurnScan.sessions(turns, 100)
        .orderBy("turn_idx").select("session_id").as[Int].collect().toSeq
      val blocked = graft.ops.BlockedScan.sessionizeByGap(turns, 100, blockRows)
        .orderBy("turn_idx").select("session_id").as[Int].collect().toSeq
      direct == blocked
    }

  property("sessionize: new session iff gap > threshold") =
    Prop.forAll(Gen.listOfN(15, Gen.choose(1L, 200L))) { gaps =>
      import spark.implicits._
      val tss = gaps.scanLeft(0L)(_ + _)
      val turns = tss.zipWithIndex.map { case (t, i) => ("c", i, ts(t)) }
        .toDF("conv_id", "turn_idx", "ts")
      val got = TurnScan.sessions(turns, 100)
        .orderBy("turn_idx").select("session_id").as[Int].collect().toSeq
      val expected = gaps.scanLeft(0) { case (sid, g) => if (g > 100) sid + 1 else sid }
      got == expected
    }
}
