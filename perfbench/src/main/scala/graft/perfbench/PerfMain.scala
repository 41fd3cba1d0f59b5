package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The benchmark's JVM side. One invocation runs one workload:
  *
  *  1. set-up: session start, input generation;
  *  2. the reference checksum (untimed);
  *  3. set-up: the workload's warm-up passes;
  *  4. untraced, timed iterations (closed loop, one pipeline at a time),
  *     each checked against the reference, then the untimed invariants;
  *  5. with `--trace 1`, traced passes that split an iteration by layer.
  *
  * Writes the result object to `--result` (the caller prints it) and the
  * per-iteration samples, spans and host fingerprint next to it.
  *
  *   PerfMain --workload conversation --seed 1 --seconds 10 --trace 0 \
  *            --work <work dir> --result <file> [--deadline 150]
  */
object PerfMain {

  /** Untraced iterations that give the traced run its overhead baseline. */
  val TraceBaselineIters = 2
  /** Traced passes; the first only warms the prefix plans, so that no
    * prefix takes a first run's one-off costs: times are the median of the
    * rest, and a count must agree on every pass that reports it.
    */
  val TracedPasses = 2
  val MinIters = 3

  /** Exact-repeat counts: identical on two traced passes of one seed. */
  val Counts: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks", "plan.jobs_at_build",
    "asof.rows", "asof.matched", "lsh.candidates", "lsh.verified", "fanout.row_ratio",
    "layout.exchanges", "components.jobs", "aggregate.rows_out", "sink.files")

  /** A reported metric; its direction and bound live in BENCHMARK.json. */
  final case class Metric(name: String, unit: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("wall_s", "s"), Metric("turns_per_s", "1/s"), Metric("cpu_s", "s"),
    Metric("peak_rss_mb", "MB"), Metric("setup_s", "s"), Metric("ok_frac", "ratio"))

  val PerLayer: Seq[Metric] = {
    def m(n: String, u: String) = Metric(n, u)
    Seq(
      m("datagen.s", "s"),
      m("scan.s", "s"), m("scan.bytes_read", "bytes"), m("scan.passes", "ratio"),
      m("layout.exchanges", "count"), m("layout.shuffle_write_bytes", "bytes"),
      m("asof.s", "s"), m("asof.rows", "count"), m("asof.matched", "count"),
      m("asof.match_rate", "ratio"),
      m("enrich.s", "s"), m("enrich.spill_bytes", "bytes"), m("enrich.task_skew", "ratio"),
      m("aggregate.s", "s"), m("aggregate.rows_out", "count"),
      m("fanout.s", "s"), m("fanout.row_ratio", "ratio"),
      m("incremental.partials_s", "s"), m("incremental.upsert_s", "s"),
      m("incremental.finalize_s", "s"), m("incremental.store_bytes_per_input_byte", "ratio"),
      m("post.s", "s"), m("sink.s", "s"), m("sink.bytes", "bytes"), m("sink.files", "count"),
      m("snapshot.shard_s_p50", "s"), m("snapshot.shard_s_max", "s"), m("snapshot.readback_s", "s"),
      m("lsh.band_s", "s"), m("lsh.pairs_s", "s"), m("lsh.candidates", "count"),
      m("lsh.verified", "count"), m("lsh.verify_yield", "ratio"),
      m("components.s", "s"), m("components.jobs", "count"), m("containment.s", "s"),
      m("plan.s", "s"), m("plan.jobs_at_build", "count"),
      m("spark.jobs", "count"), m("spark.stages", "count"), m("spark.tasks", "count"),
      m("spark.shuffle_read_bytes", "bytes"), m("spark.spill_bytes", "bytes"),
      m("spark.executor_cpu_s", "s"), m("spark.driver_gap_s", "s"),
      m("jvm.gc_s", "s"), m("jvm.jit_s", "s"),
      m("trace.overhead_s", "s"), m("trace.counts_repeat", "count"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Quartiles by the same rule as Python's `statistics.quantiles(n=4)`. */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    def q(k: Int): Double = {
      if (n < 2) return s.headOption.getOrElse(Double.NaN)
      val m = n + 1
      val j = math.max(1, math.min(n - 1, k * m / 4))
      val delta = k * m - 4 * j
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), q(3))
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def session(cpus: Int, localDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cpus).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's default of 100 generated classes is less than one
      // iteration needs in some JVMs (the cache evicts per segment, so
      // whether it overflows depends on hashes): such a JVM regenerates and
      // re-JITs its classes every iteration and runs 30–50% slower
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", localDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One timed iteration. `cpuS` is the JVM's utime+stime, `jitS` the
    * JIT's compilation time (elapsed, summed over compiler threads).
    */
  final case class Sample(wallS: Double, cpuS: Double, jitS: Double,
                          stealShare: Double, otherShare: Double, ok: Boolean, error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(opt.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload; choose one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val result = Paths.get(opt("result")).toAbsolutePath
    val deadline = System.nanoTime() + (opt.getOrElse("deadline", "150").toDouble * 1e9).toLong
    def timeLeft: Double = (deadline - System.nanoTime()) / 1e9
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val phases = mutable.LinkedHashMap[String, Double]()
    def phase(name: String): Unit = phases(name) = (System.nanoTime() - t0) / 1e9
    val log = (s: String) => println(s"[perfbench] $s")

    val jit0 = Host.jitMs()
    // half the cores: at these input sizes the driver thread, the JIT
    // compilers and GC do much of the work, and with every core given to
    // executors their contention set most of the run-to-run spread
    val cpus = math.max(1, Host.nproc / 2)
    val (spark, sessionS) = timed(session(cpus, work.resolve("spark-local")))
    try {
      // --- set-up: input generation, once
      val in = work.resolve("input")
      val genS = timed(wl.generate(spark, in, seed))._2
      val units = wl.units(spark, in)
      phase("datagen")
      var outN = 0
      def freshOut(): Path = {
        Host.deleteTree(work.resolve(s"out-$outN"))
        outN += 1
        work.resolve(s"out-$outN")
      }
      // --- reference checksum (untimed, before the warm-up so its code
      // does not disturb the JIT profile the timed loop inherits)
      var reference = wl.reference(spark, in, work.resolve("reference")).orNull
      phase("reference")
      /** Compare an output with the reference; the first checked output
        * becomes the reference when the workload has no reference path.
        */
      def check(out: Path): Boolean = try {
        val c = wl.outputChecksum(spark, out)
        if (reference == null) reference = c
        c == reference
      } catch { case _: Exception => false }

      // --- set-up: warm-up; each pass is shaped like a timed iteration
      // (run, then check)
      val warm = mutable.ArrayBuffer[Double]()
      val warmJit = mutable.ArrayBuffer[Double]()
      var warmFailed = 0
      while (warm.size < wl.warmPasses) {
        val out = freshOut()
        val j0 = Host.jitMs()
        warm += timed(wl.run(spark, in, out))._2
        warmJit += (Host.jitMs() - j0) / 1e3
        if (!check(out)) warmFailed += 1
      }
      phase("warm_up")
      val setupS = sessionS + genS + warm.sum
      val jitSetupS = (Host.jitMs() - jit0) / 1e3
      log(f"set-up: session ${sessionS}%.3f s, datagen $genS%.3f s, " +
        f"warm-up ${warm.size} passes ${warm.map(x => f"$x%.3f").mkString("/")} s " +
        f"(JIT ${warmJit.map(x => f"$x%.2f").mkString("/")} s)")

      // --- timed iterations, tracing off
      val samples = mutable.ArrayBuffer[Sample]()
      def iterate(): Sample = {
        val out = freshOut()
        val c0 = Host.cpu()
        val j0 = Host.jitMs()
        val t0 = System.nanoTime()
        val err = try { wl.run(spark, in, out); None } catch { case e: Exception => Some(e.toString) }
        val wall = (System.nanoTime() - t0) / 1e9
        val jit = (Host.jitMs() - j0) / 1e3
        val u = Host.usage(c0, Host.cpu())
        Sample(wall, u.cpuS, jit, u.stealShare, u.otherShare,
          err.isEmpty && check(out), err)
      }
      val budgetIters = if (trace) TraceBaselineIters else Int.MaxValue
      while (samples.size < budgetIters && (samples.size < MinIters ||
        (samples.map(_.wallS).sum < seconds && timeLeft > 3 * samples.map(_.wallS).max)))
        samples += iterate()
      val peakRss = Host.peakRssMb()
      phase("timed")
      val walls = samples.map(_.wallS).toSeq
      val wallMed = median(walls)
      val (wq1, wq3) = quartiles(walls)
      val failed = samples.count(!_.ok)
      samples.filter(_.error.nonEmpty).foreach(s => log(s"iteration error: ${s.error.get}"))

      // --- untimed invariants on the last timed output
      val invariants = ("warm_up_outputs_match_reference" -> (warmFailed == 0)) +:
        wl.invariants(spark, in, work.resolve("reference"), work.resolve(s"out-$outN"))
      invariants.foreach { case (n, ok) => log(s"invariant $n: ${if (ok) "pass" else "FAIL"}") }
      phase("invariants")

      // --- traced passes
      var perLayer = ListMap.empty[String, Double]
      var spans: Seq[Map[String, Any]] = Nil
      var tracedFailed = 0
      var mismatched: Seq[String] = Nil
      var passMetrics: Seq[Map[String, Double]] = Nil
      if (trace) {
        val t = new Tracer(spark)
        val passes = (1 to TracedPasses).map { k =>
          t.trace = k
          val out = freshOut()
          val (m, passS) = timed(wl.traced(spark, t, in, out))
          log(f"traced pass $k: $passS%.3f s")
          if (!check(out)) tracedFailed += 1
          m
        }
        passMetrics = passes
        val timedPasses = passes.drop(1)
        mismatched = Counts.filter(c => passes.flatMap(_.get(c)).distinct.size > 1)
        val fixed = Map(
          "datagen.s" -> genS,
          "jvm.jit_s" -> jitSetupS,
          "trace.overhead_s" -> (median(timedPasses.map(_("trace.pipeline_s"))) - wallMed),
          "trace.counts_repeat" -> (if (mismatched.isEmpty) 1.0 else 0.0))
        perLayer = ListMap(PerLayer.map { m =>
          val v = fixed.getOrElse(m.name,
            if (Counts.contains(m.name)) passes.last.getOrElse(m.name, 0.0)
            else median(timedPasses.map(_.getOrElse(m.name, 0.0))))
          m.name -> v
        }: _*)
        spans = t.toJson
        phase("traced")
      }

      val attempted = samples.size + (if (trace) TracedPasses else 0)
      val failedAll = failed + tracedFailed
      val correct = failedAll == 0 && invariants.forall(_._2)
      val e2e = ListMap(
        "wall_s" -> wallMed,
        "turns_per_s" -> units / wallMed,
        "cpu_s" -> median(samples.map(_.cpuS).toSeq),
        "peak_rss_mb" -> peakRss,
        "setup_s" -> setupS,
        "ok_frac" -> (samples.size - failed).toDouble / samples.size)

      // --- human-readable report
      val fp = ListMap[String, Any](
        "nproc" -> Host.nproc, "mem_total_gb" -> Host.memTotalGb(),
        "jvm" -> System.getProperty("java.version"), "spark" -> spark.version,
        "master" -> s"local[$cpus]",
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
      log(s"workload=${wl.name} seed=$seed trace=${if (trace) 1 else 0} host " +
        fp.map { case (k, v) => s"$k=$v" }.mkString(" "))
      log(f"input: $units records, ${wl.inputBytes(in)} bytes")
      log("elapsed at end of " + phases.map { case (k, v) => f"$k $v%.1f s" }.mkString(", "))
      EndToEnd.foreach { m =>
        val extra = m.name match {
          case "wall_s" => f" (q1 $wq1%.4f, q3 $wq3%.4f, n=${walls.size})"
          case "setup_s" => f" (session $sessionS%.3f + datagen $genS%.3f + ${warm.size} warm passes ${warm.sum}%.3f)"
          case _ => ""
        }
        log(f"${m.name} = ${e2e(m.name)}%.6f ${m.unit}$extra")
      }
      log(f"failed_frac = ${failed.toDouble / samples.size}%.4f ($failed of ${samples.size} iterations)")
      log(f"contention per iteration: steal ${samples.map(s => f"${s.stealShare}%.3f").mkString("/")}, " +
        f"other tenants ${samples.map(s => f"${s.otherShare}%.3f").mkString("/")}")
      if (trace) {
        PerLayer.foreach { m =>
          val v = perLayer(m.name)
          if (m.unit == "count") log(f"${m.name} = ${v.toLong} count") else log(f"${m.name} = $v%.6f ${m.unit}")
        }
        if (mismatched.nonEmpty) log(s"counts differ between traced passes: ${mismatched.mkString(", ")}")
      }

      val metrics =
        if (trace) ListMap(PerLayer.map(m => m.name -> ListMap("value" -> perLayer(m.name), "unit" -> m.unit)): _*)
        else ListMap(EndToEnd.map(m => m.name -> ListMap("value" -> e2e(m.name), "unit" -> m.unit)): _*)
      val line = ListMap("correct" -> correct, "attempted" -> attempted, "failed" -> failedAll,
        "metrics" -> metrics)
      val artifact = ListMap[String, Any](
        "workload" -> wl.name, "seed" -> seed, "trace" -> trace, "host" -> fp,
        "input_records" -> units, "input_bytes" -> wl.inputBytes(in),
        "setup" -> ListMap("session_s" -> sessionS, "datagen_s" -> genS, "warm_passes" -> warm.size,
          "warm_s" -> warm, "warm_jit_s" -> warmJit, "jit_s" -> jitSetupS),
        "invariants" -> ListMap(invariants: _*), "elapsed_s" -> phases,
        "samples" -> samples.map(s => ListMap("wall_s" -> s.wallS, "cpu_s" -> s.cpuS,
          "jit_s" -> s.jitS,
          "steal_share" -> s.stealShare, "other_share" -> s.otherShare, "ok" -> s.ok, "error" -> s.error)),
        "wall_s" -> ListMap("median" -> wallMed, "q1" -> wq1, "q3" -> wq3, "n" -> walls.size),
        "end_to_end" -> e2e, "per_layer" -> perLayer, "counts_mismatched" -> mismatched,
        "traced_passes" -> passMetrics,
        "spans" -> spans, "result" -> line)
      Files.createDirectories(result.getParent)
      Files.writeString(result.resolveSibling(result.getFileName.toString.stripSuffix(".json") + ".artifact.json"),
        Json.render(artifact))
      Files.writeString(result, Json.render(line))
    } finally spark.stop()
  }
}
