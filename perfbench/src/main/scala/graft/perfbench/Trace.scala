package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Internals
import scala.collection.mutable

/** One timed call: `(name, start, end, parent)` inside one trace id. */
final class Span(val id: Int, val trace: Int, val name: String, val parent: Int,
                 val startEpochMs: Long, val startNs: Long) {
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
  def endEpochMs: Long = startEpochMs + (endNs - startNs) / 1000000L
}

/** Per-stage totals collected from task-end events. */
final class StageRec(val span: Int) {
  var submittedMs: Long = -1L
  var completedMs: Long = -1L
  val taskMs = mutable.ArrayBuffer[Long]()
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

final class JobRec(val span: Int, val callSite: String)

/** The benchmark's own engine listener. Every job carries the id of the
  * span that submitted it in its job group, so stage and task counts land
  * on the enclosing span; executed plans are kept per SQL execution and
  * attributed the same way.
  */
final class EngineListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val execSpan = mutable.Map[Long, Int]()
  val plans = mutable.ArrayBuffer[(Int, SparkPlan)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val span = prop("spark.jobGroup.id").flatMap(_.toIntOption).getOrElse(0)
    // the result stage is named after the job's call site
    val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    jobs(e.jobId) = new JobRec(span, prop("callSite.short").getOrElse(site))
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
    prop("spark.sql.execution.id").flatMap(_.toLongOption)
      .foreach(x => execSpan.getOrElseUpdate(x, span))
  }

  private def stage(id: Int): StageRec =
    stages.getOrElseUpdate(id, new StageRec(stageSpan.getOrElse(id, 0)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).submittedMs =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).completedMs =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stage(e.stageId)
    r.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      r.cpuNs += m.executorCpuTime
      r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Internals.queryExecution(end).foreach { qe =>
        synchronized { plans += (execSpan.getOrElse(end.executionId, 0) -> qe.executedPlan) }
      }
    case _ => ()
  }
}

/** Engine totals over the jobs of a set of spans. */
final case class EngineTotals(jobs: Int, stages: Int, tasks: Int, cpuS: Double,
                              shuffleReadBytes: Long, shuffleWriteBytes: Long,
                              spillBytes: Long,
                              stageBusyS: Double, taskSkew: Double)

/** Spans kept in memory for one invocation, written out as one JSON at the
  * end. Spans nest on the calling thread; the benchmark is a closed loop,
  * so one pipeline runs at a time.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val engine = new EngineListener
  sc.addSparkListener(engine)

  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  var trace = 0

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size + 1, trace, name, open.headOption.map(_.id).getOrElse(0),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = Internals.drainListeners(sc)

  def subtree(root: Span): Set[Int] = {
    val ids = mutable.Set(root.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSet
  }

  def jobsIn(root: Span): Seq[JobRec] = engine.synchronized {
    val ids = subtree(root)
    engine.jobs.values.filter(j => ids.contains(j.span)).toSeq
  }

  def plansIn(root: Span): Seq[SparkPlan] = engine.synchronized {
    val ids = subtree(root)
    engine.plans.collect { case (s, p) if ids.contains(s) => p }.toSeq
  }

  def totals(root: Span): EngineTotals = engine.synchronized {
    val ids = subtree(root)
    val st = engine.stages.values.filter(r => ids.contains(r.span) && r.taskMs.nonEmpty).toSeq
    val slowest = st.filter(_.completedMs >= 0).maxByOption(r => r.completedMs - r.submittedMs)
    val skew = slowest.map { r =>
      val t = r.taskMs.sorted
      val med = t(t.size / 2).toDouble
      if (med > 0) t.last / med else 1.0
    }.getOrElse(0.0)
    EngineTotals(
      jobs = engine.jobs.values.count(j => ids.contains(j.span)),
      stages = st.size,
      tasks = st.map(_.taskMs.size).sum,
      cpuS = st.map(_.cpuNs).sum / 1e9,
      shuffleReadBytes = st.map(_.shuffleReadBytes).sum,
      shuffleWriteBytes = st.map(_.shuffleWriteBytes).sum,
      spillBytes = st.map(_.spillBytes).sum,
      stageBusyS = busySeconds(root, st),
      taskSkew = skew)
  }

  /** Seconds of the span during which at least one of its stages ran. */
  private def busySeconds(root: Span, st: Seq[StageRec]): Double = {
    val iv = st.filter(r => r.submittedMs >= 0 && r.completedMs >= 0)
      .map(r => (math.max(r.submittedMs, root.startEpochMs), math.min(r.completedMs, root.endEpochMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb))            => busy += cb - ca; cur = Some((a, b))
        case None                      => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => busy += b - a }
    busy / 1e3
  }

  def toJson: Seq[Map[String, Any]] = engine.synchronized {
    val jobsBySpan = engine.jobs.values.groupBy(_.span)
    spans.map { s =>
      scala.collection.immutable.ListMap[String, Any]("id" -> s.id, "trace" -> s.trace,
        "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startEpochMs,
        "end_ms" -> s.endEpochMs, "seconds" -> s.seconds,
        "jobs" -> jobsBySpan.get(s.id).map(_.map(_.callSite).toSeq).getOrElse(Nil))
    }.toSeq
  }
}

/** Walks executed plans, adaptive stages and subqueries included. */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => q +: nodes(q.plan)
    case r: ReusedExchangeExec    => Seq(r)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Shuffle and broadcast exchanges; a reused exchange is not counted twice. */
  def exchanges(p: SparkPlan): Int = nodes(p).count {
    case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
    case _                                                 => false
  }

  /** Bytes of the files the parquet scans opened ("size of files read"). */
  def scannedBytes(p: SparkPlan): Long =
    nodes(p).collect { case f: FileSourceScanExec => f.metrics.get("filesSize").map(_.value).getOrElse(0L) }.sum

  /** `(numOutputRows, numMatched)` summed over the as-of merge operators. */
  def asOfRows(p: SparkPlan): (Long, Long) =
    nodes(p).collect { case a: graft.plans.AsOfMergeExec =>
      (a.metrics("numOutputRows").value, a.metrics("numMatched").value)
    }.foldLeft((0L, 0L)) { case ((x, y), (a, b)) => (x + a, y + b) }
}
