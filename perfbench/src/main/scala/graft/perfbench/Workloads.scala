package graft.perfbench

import graft.{Main, SparkEntry, Tables}
import graft.checkpoint.Snapshot
import graft.datagen.TranscriptGen
import graft.features._
import graft.ops.{Components, WindowFanout}
import graft.process.PostProcess
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** One benchmark workload: seeded inputs, the timed closed-loop call, the
  * output check, and the traced pass that splits an iteration by layer.
  */
abstract class Workload(val name: String) {

  /** Warm-up rule: this many passes, each shaped like a timed iteration.
    * The JIT is still compiling after a dozen passes on this engine, so no
    * pass is a true plateau; a fixed count puts every run's timed
    * iterations at the same point of the warm-up curve, where an adaptive
    * stop rule made the count, and with it the timings, vary run to run.
    */
  def warmPasses: Int

  /** Write this seed's inputs under `dir`. */
  def generate(spark: SparkSession, dir: Path, seed: Long): Unit

  /** Input records one iteration consumes: turns, or documents on `dedup`. */
  def units(spark: SparkSession, in: Path): Long

  /** Input bytes on disk, the base of `scan.passes`. */
  def inputBytes(in: Path): Long = Host.dataFiles(in)._1

  /** The timed call: one pipeline run, from call to committed output. */
  def run(spark: SparkSession, in: Path, out: Path): Unit

  /** Order-independent checksum of the committed output of `run`. */
  def outputChecksum(spark: SparkSession, out: Path): String

  /** The expected output checksum through a reference path, computed once
    * before the warm-up; None makes the first warm-up pass the reference.
    */
  def reference(spark: SparkSession, in: Path, work: Path): Option[String]

  /** Untimed invariants, checked once on `out`, the committed output of the
    * last timed iteration; `work` is the directory `reference` used.
    */
  def invariants(spark: SparkSession, in: Path, work: Path, out: Path): Seq[(String, Boolean)]

  /** One traced pass: the pipeline under spans, then each layer's prefix
    * written to a `noop` sink. Writes the same output layout as `run`.
    */
  def traced(spark: SparkSession, t: Tracer, in: Path, out: Path): Map[String, Double]
}

object Workloads {
  val all: Seq[Workload] = Seq(Conversation, Dedup)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Files each generated table is written as. */
  val InputFiles = 4

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Count + sum and xor of per-row hashes, doubles rounded to 6 places
    * (the registry's oracle convention): independent of row order and
    * partitioning.
    */
  def checksum(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`").cast(DoubleType), 6).as(f.name)
        case _                      => col(s"`${f.name}`")
      }
    }
    val h = xxhash64(to_json(struct(cols: _*)))
    val r = df.select(h.as("__h"))
      .agg(count(lit(1)), sum(pmod(col("__h"), lit(1000000007L))), expr("bit_xor(__h)")).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  /** `AsOfStateModule` with the union-window `AsOf.join` in place of the
    * native merge: the reference path the output checks compare against.
    */
  object ReferenceAsOf extends StatefulModule {
    val name: String = AsOfStateModule.name
    override def deps: Seq[String] = AsOfStateModule.deps
    override def enrichWith(turns: DataFrame, state: Option[DataFrame]): DataFrame = state match {
      case Some(st) => graft.ops.AsOf.join(turns, st, "conv_id", "ts", Seq("state_val"))
      case None     => AsOfStateModule.enrichWith(turns, None)
    }
    override def aggs = AsOfStateModule.aggs
  }

  def gap: Long = SparkEntry.SessionGapSeconds

  def modules(windowed: Boolean, reference: Boolean): Seq[FeatureModule] =
    FeatureRegistry.modulesFor(Nil, gap, windowed).map {
      case AsOfStateModule if reference => ReferenceAsOf
      case m                            => m
    }

  /** Every 97th conversation ×10 long. TranscriptGen's default tail (every
    * 997th ×100) puts one or two giant conversations of seed-dependent
    * length into a corpus of this size, which moved the input size by up
    * to half between seeds.
    */
  val SkewEvery = 97L
  val SkewFactor = 10

  def writeCorpus(spark: SparkSession, dir: Path, nConvs: Long, seed: Long): Unit = {
    TranscriptGen.turns(spark, nConvs, seed, skewEvery = SkewEvery, skewFactor = SkewFactor)
      .repartition(InputFiles)
      .write.mode("overwrite").parquet(dir.resolve("turns").toString)
    TranscriptGen.state(spark, nConvs, seed).repartition(InputFiles / 2)
      .write.mode("overwrite").parquet(dir.resolve("state").toString)
  }

  def config(kv: (String, Any)*): graft.config.GraftConfig =
    Main.parseArgs(kv.flatMap { case (k, v) => Seq("--set", s"$k=$v") }.toArray)

  /** Sum of the spans named `n` (or `n:<detail>`) under `root`. */
  def sumSpans(t: Tracer, root: Span, n: String): Double =
    t.spans.filter(s => (s.name == n || s.name.startsWith(n + ":")) && t.subtree(root).contains(s.id))
      .map(_.seconds).sum

  def jobsInSpans(t: Tracer, root: Span, n: String): Int =
    t.spans.filter(s => (s.name == n || s.name.startsWith(n + ":")) && t.subtree(root).contains(s.id))
      .map(s => t.jobsIn(s).size).sum

  /** Engine counters of the pipeline span shared by every workload. */
  def engineMetrics(t: Tracer, pipe: Span, gcS: Double, inBytes: Long, out: Path): Map[String, Double] = {
    val e = t.totals(pipe)
    val plans = t.plansIn(pipe)
    val scanned = plans.map(Plans.scannedBytes).sum
    val (sinkBytes, sinkFiles) = Host.dataFiles(out)
    Map(
      "spark.jobs" -> e.jobs.toDouble,
      "spark.stages" -> e.stages.toDouble,
      "spark.tasks" -> e.tasks.toDouble,
      "spark.shuffle_read_bytes" -> e.shuffleReadBytes.toDouble,
      "spark.spill_bytes" -> e.spillBytes.toDouble,
      "spark.executor_cpu_s" -> e.cpuS,
      "spark.driver_gap_s" -> math.max(0.0, pipe.seconds - e.stageBusyS),
      "jvm.gc_s" -> gcS,
      "scan.bytes_read" -> scanned.toDouble,
      "scan.passes" -> (if (inBytes > 0) scanned.toDouble / inBytes else 0.0),
      "layout.exchanges" -> plans.map(Plans.exchanges).sum.toDouble,
      "layout.shuffle_write_bytes" -> e.shuffleWriteBytes.toDouble,
      "plan.s" -> sumSpans(t, pipe, "plan"),
      "plan.jobs_at_build" -> jobsInSpans(t, pipe, "plan").toDouble,
      "sink.bytes" -> sinkBytes.toDouble,
      "sink.files" -> sinkFiles.toDouble,
      "trace.pipeline_s" -> pipe.seconds)
  }

  /** Corpus size of `conversation`: ≈48 turns per conversation on average
    * (see `SkewEvery` for the tail).
    */
  val NConvs = 2000L

  /** Run `body` as span `name` and return the span. */
  def spanOf(t: Tracer, name: String)(body: => Unit): Span = {
    t.span(name)(body)
    t.spans.filter(_.name == name).last
  }
}

import Workloads._

/** `Main.run` on a `TranscriptGen` corpus in the native turns/ + state/ layout. */
abstract class MainWorkload(name: String, mode: String, shards: Int) extends Workload(name) {

  private val windowed = mode == "windowed"
  private val WindowSize = 8
  private val WindowOverlap = 2

  def cfg(in: Path, out: Path): graft.config.GraftConfig = config(
    "input" -> in, "output" -> out, "mode" -> mode, "shards" -> shards, "format" -> "parquet",
    "window.size" -> WindowSize, "window.overlap" -> WindowOverlap)

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = writeCorpus(spark, dir, NConvs, seed)

  def units(spark: SparkSession, in: Path): Long = spark.read.parquet(in.resolve("turns").toString).count()

  def run(spark: SparkSession, in: Path, out: Path): Unit = Main.run(spark, cfg(in, out))

  def readOutput(spark: SparkSession, out: Path): DataFrame =
    if (shards > 1) Snapshot.read(spark, out.toString) else spark.read.parquet(out.toString)

  def outputChecksum(spark: SparkSession, out: Path): String = checksum(readOutput(spark, out))

  private def inputs(spark: SparkSession, in: Path): (DataFrame, DataFrame) =
    (spark.read.parquet(in.resolve("turns").toString), spark.read.parquet(in.resolve("state").toString))

  def reference(spark: SparkSession, in: Path, work: Path): Option[String] = {
    val (turns, state) = inputs(spark, in)
    val mods = modules(windowed, reference = true)
    val matrix =
      if (windowed) Windowed.featureMatrixWindowedFull(turns, Some(state), WindowSize, WindowOverlap, mods)
      else FeatureRegistry.featureMatrix(turns, Some(state), mods)
    Some(checksum(Main.postProcess(matrix, cfg(in, work))))
  }

  def invariants(spark: SparkSession, in: Path, work: Path, out: Path): Seq[(String, Boolean)] = {
    val got = readOutput(spark, out)
    val convs = inputs(spark, in)._1.select("conv_id").distinct().count()
    if (windowed) {
      val lineage = Snapshot.lineage(spark, out.toString).collect()
      Seq(
        "windowed.all_shards_committed" -> (lineage.length == shards),
        "windowed.lineage_rows_equal_readback" ->
          (lineage.map(_.getAs[Long]("rows")).sum == got.count()),
        "windowed.every_conversation_has_a_window" ->
          (got.select("conv_id").distinct().count() == convs))
    } else Seq("conversation.rows_equal_distinct_conv_ids" -> (got.count() == convs))
  }

  def traced(spark: SparkSession, t: Tracer, in: Path, out: Path): Map[String, Double] = {
    val c = cfg(in, out)
    var shardSeconds = Seq(0.0)
    val gc0 = Host.gcMs()
    val pipe = spanOf(t, "pipeline") {
      val (turns, state) = inputs(spark, in)
      if (shards > 1) {
        val recs = Snapshot.runResumable(turns, out.toString, shards) { shard =>
          t.span("plan")(Main.postProcess(Main.buildMatrix(spark, c, shard, Some(state)), c))
        }
        shardSeconds = recs.map(_.wallMs / 1e3).sorted
      } else {
        val m = t.span("plan")(Main.postProcess(Main.buildMatrix(spark, c, turns, Some(state)), c))
        t.span("sink")(PostProcess.saveParquet(m, out.toString))
      }
    }
    val gcS = (Host.gcMs() - gc0) / 1e3

    // Layer prefixes, each written to a noop sink; each extends the one
    // before it, in the fold order of FeatureRegistry.featureMatrix and
    // Windowed.featureMatrixWindowedFull, so self time = prefix − previous.
    // Each is built from the inputs inside its span, so each span holds its
    // own analysis and planning. On the sharded path the prefixes run over
    // the whole input.
    val ordered = FeatureRegistry.toposort(modules(windowed, reference = false))
    val (stateful, rest) =
      if (windowed) ordered.partition(_.isInstanceOf[StatefulModule])
      else ordered.splitAt(ordered.lastIndexWhere(_.isInstanceOf[StatefulModule]) + 1)
    def fold(df: DataFrame, state: DataFrame, ms: Seq[FeatureModule]) = ms.foldLeft(df) {
      case (d, s: StatefulModule) => s.enrichWith(d, Some(state))
      case (d, m)                 => m.enrich(d)
    }
    def slim = {
      val (turns, state) = inputs(spark, in)
      (turns.withColumn("text_len", length(col("text"))).drop("text"), state)
    }
    def aligned = { val (df, state) = slim; (fold(df, state, stateful), state) }
    def fanned = {
      val (df, state) = aligned
      (WindowFanout.byTurnIdx(df, WindowSize, WindowOverlap)
        .withColumn("conv_id", struct(col("conv_id").as("c"), col("window_id").as("w")))
        .drop("window_id"), state)
    }
    def enriched = { val (df, state) = if (windowed) fanned else aligned; fold(df, state, rest) }
    def matrix = { val (turns, state) = inputs(spark, in); Main.buildMatrix(spark, c, turns, Some(state)) }
    if (windowed) {
      // the windowed path reports only the layers conversation mode lacks
      val asof = spanOf(t, "prefix:asof")(noop(aligned._1)).seconds
      val fan = spanOf(t, "prefix:fanout")(noop(fanned._1)).seconds
      val ratio = t.span("counts")(fanned._1.count().toDouble / slim._1.count())
      // the read-back count Snapshot.runResumable makes per committed shard
      val readback = (0 until shards).map { k =>
        spanOf(t, "snapshot:readback")(spark.read.parquet(out.resolve(s"shard=$k").toString).count()).seconds
      }.sum
      t.drain()
      return Map(
        "fanout.s" -> (fan - asof),
        "fanout.row_ratio" -> ratio,
        "snapshot.shard_s_p50" -> PerfMain.median(shardSeconds),
        "snapshot.shard_s_max" -> shardSeconds.last,
        "snapshot.readback_s" -> readback)
    }
    val scan = spanOf(t, "prefix:scan")(noop(slim._1)).seconds
    val asof = spanOf(t, "prefix:asof")(noop(aligned._1)).seconds
    val enrichSpan = spanOf(t, "prefix:enrich")(noop(enriched))
    val agg = spanOf(t, "prefix:aggregate")(noop(matrix)).seconds
    val post = spanOf(t, "prefix:post")(noop(Main.postProcess(matrix, c))).seconds
    t.drain()

    val e = engineMetrics(t, pipe, gcS, inputBytes(in), out)
    val enrichE = t.totals(enrichSpan)
    val (asofRows, asofMatched) = t.plansIn(pipe).map(Plans.asOfRows)
      .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    e ++ Map(
      "scan.s" -> scan,
      "asof.s" -> (asof - scan),
      "asof.rows" -> asofRows.toDouble,
      "asof.matched" -> asofMatched.toDouble,
      "asof.match_rate" -> (if (asofRows > 0) asofMatched.toDouble / asofRows else 0.0),
      "enrich.s" -> (enrichSpan.seconds - asof),
      "enrich.spill_bytes" -> enrichE.spillBytes.toDouble,
      "enrich.task_skew" -> enrichE.taskSkew,
      "aggregate.s" -> (agg - enrichSpan.seconds),
      "aggregate.rows_out" -> readOutput(spark, out).count().toDouble,
      "post.s" -> (post - agg),
      "sink.s" -> (pipe.seconds - e("plan.s") - post))
  }
}

/** `Main.run` in conversation mode, the flagship path. Its traced run also
  * traces the two write paths on the same corpus, untimed by the closed
  * loop: windowed mode (size 8, overlap 2) as the resumable snapshot write,
  * and incremental cycles upserting `turn_idx` bands into a fresh
  * generation store. They take most of a traced pass, so they run on the
  * last pass only, after the first has warmed the plan code they share.
  * From them it reports only the layers the conversation path lacks:
  * `fanout.*`, `snapshot.*` and `incremental.*`.
  */
object Conversation extends MainWorkload("conversation", "conversation", 1) {
  val warmPasses = 3

  override def traced(spark: SparkSession, t: Tracer, in: Path, out: Path): Map[String, Double] = {
    val own = super.traced(spark, t, in, out)
    if (t.trace < PerfMain.TracedPasses) return own
    // the write paths report only their own layers
    // beside `out`, whose checksum must cover the conversation output only
    def beside(n: String) = out.resolveSibling(s"${out.getFileName}-$n")
    val (w, i) = (beside(WindowedSharded.name), beside(IncrementalCycles.name))
    IncrementalCycles.slice(spark, in)
    val writes = t.span("writes:windowed_sharded")(WindowedSharded.traced(spark, t, in, w)) ++
      t.span("writes:incremental")(IncrementalCycles.traced(spark, t, in, i))
    val checks = WindowedSharded.invariants(spark, in, w, w) ++ IncrementalCycles.invariants(spark, in, i)
    require(checks.forall(_._2), s"write-path invariants failed: ${checks.filterNot(_._2).map(_._1)}")
    own ++ writes
  }
}

/** Traced only, by `Conversation`: the resumable two-shard snapshot write. */
object WindowedSharded extends MainWorkload("windowed_sharded", "windowed", 2) {
  val warmPasses = 0
}

/** Traced only, by `Conversation`: two incremental cycles as `Main.run`
  * makes them in `mode: incremental`, each upserting the next `turn_idx`
  * band of the corpus into a fresh generation store; the second merges
  * into the generation the first committed.
  */
object IncrementalCycles {
  val name = "incremental"
  /** `turn_idx` band edges of the two slices: append-only per conversation. */
  val Bands: Seq[(Int, Int)] = Seq((0, 24), (24, Int.MaxValue))

  private def slicePath(in: Path, k: Int): Path = in.resolve(s"slice-$k")

  /** Split the corpus under `in` into the band slices, once. */
  def slice(spark: SparkSession, in: Path): Unit =
    if (!Files.exists(slicePath(in, Bands.size - 1))) {
      val turns = spark.read.parquet(in.resolve("turns").toString)
      Bands.zipWithIndex.foreach { case ((lo, hi), k) =>
        turns.filter(col("turn_idx") >= lo && col("turn_idx") < hi).repartition(InputFiles)
          .write.mode("overwrite").parquet(slicePath(in, k).resolve("turns").toString)
      }
    }

  def inputBytes(in: Path): Long = Bands.indices.map(k => Host.dataFiles(slicePath(in, k))._1).sum

  private def cfg(in: Path, out: Path, store: Path) = config(
    "input" -> in, "output" -> out, "mode" -> "incremental", "state_dir" -> store,
    "shards" -> 1, "format" -> "parquet")

  private def cycleOut(out: Path, k: Int) = out.resolve(s"cycle-$k")

  /** The store after the cycles equals `finalize(partials(all turns))`:
    * the IncrementalSpec merge ≡ direct property.
    */
  def invariants(spark: SparkSession, in: Path, out: Path): Seq[(String, Boolean)] = {
    val store = IncrementalStore.features(spark, out.resolve("store").toString)
    val d = Incremental.finalize(Incremental.partials(spark.read.parquet(in.resolve("turns").toString), gap))
    Seq("incremental.store_equals_direct" -> (store.exceptAll(d).isEmpty && d.exceptAll(store).isEmpty))
  }

  /** The cycles as `Main.run` makes them (upsert, finalize, sink), then
    * their layer prefixes.
    */
  def traced(spark: SparkSession, t: Tracer, in: Path, out: Path): Map[String, Double] = {
    val store = out.resolve("store")
    t.span("cycles") {
      Bands.indices.foreach { k =>
        val c = cfg(slicePath(in, k), cycleOut(out, k), store)
        val turns = spark.read.parquet(slicePath(in, k).resolve("turns").toString)
        t.span("upsert")(IncrementalStore.upsert(spark, store.toString, turns, gap))
        val m = t.span("plan")(Main.postProcess(IncrementalStore.features(spark, store.toString), c))
        t.span("sink")(PostProcess.saveParquet(m, cycleOut(out, k).toString))
      }
    }
    val storeBytes = Host.du(store)._1

    // prefixes replay the cycles against a second, fresh store
    val store2 = out.resolve("store-prefix")
    var partials, upsert, fin = 0.0
    Bands.indices.foreach { k =>
      val c = cfg(slicePath(in, k), out, store2)
      val turns = spark.read.parquet(slicePath(in, k).resolve("turns").toString)
      val p = spanOf(t, "prefix:partials")(noop(Incremental.partials(turns, gap))).seconds
      partials += p
      upsert += spanOf(t, "prefix:upsert")(IncrementalStore.upsert(spark, store2.toString, turns, gap)).seconds - p
      fin += spanOf(t, "prefix:finalize")(
        noop(Main.postProcess(IncrementalStore.features(spark, store2.toString), c))).seconds
    }
    t.drain()
    Map(
      "incremental.partials_s" -> partials,
      "incremental.upsert_s" -> upsert,
      "incremental.finalize_s" -> fin,
      "incremental.store_bytes_per_input_byte" -> storeBytes.toDouble / inputBytes(in))
  }
}

/** The near-dup registry queries on a seeded documents table in the
  * fixture schema `(doc_id, text, lang, source, n_chars)`.
  */
object Dedup extends Workload("dedup") {
  val warmPasses = 2
  /** Timed per iteration: `q_dedup_clusters` runs the whole LSH pair
    * pipeline (banding, candidates, verify), then the components rounds;
    * `q_containment` runs the rare-shingle-blocked containment pairs.
    * `q_neardup_lsh` runs once per invocation, untimed, for the DuckDB
    * cross-check.
    */
  val Queries: Seq[String] = Seq("q_dedup_clusters", "q_containment")
  val OracleQuery = "q_neardup_lsh"
  val NDocs = 1500
  /** Planted shares: a near-duplicate is an earlier document of the same
    * source with one token replaced (Jaccard ≈ 0.96; chains of edits form
    * multi-document clusters); a contained document is the first 60% of
    * an earlier document's tokens (Jaccard ≈ 0.6, so LSH must not pair it).
    */
  val NearDupRate = 0.10
  val ContainedRate = 0.03
  val Vocab = 6000
  val Sources = 20
  val Langs: Seq[String] = Seq("en", "de", "fr", "es", "zh")

  private def word(k: Int): String = {
    val b = new StringBuilder
    var x = k + 26 * 26
    while (x > 0) { b += ('a' + x % 26).toChar; x /= 26 }
    b.toString
  }

  def documents(seed: Long): Seq[(Long, String, String, String, Long)] = {
    val rnd = new java.util.SplittableRandom(seed)
    val toks = scala.collection.mutable.ArrayBuffer[Array[String]]()
    val meta = scala.collection.mutable.ArrayBuffer[(String, String)]()
    (0 until NDocs).map { i =>
      val r = rnd.nextDouble()
      val (t, m) =
        if (i >= 20 && r < NearDupRate) {
          val j = rnd.nextInt(i)
          val c = toks(j).clone()
          c(rnd.nextInt(c.length)) = word(rnd.nextInt(Vocab))
          (c, meta(j))
        } else if (i >= 20 && r < NearDupRate + ContainedRate) {
          val j = rnd.nextInt(i)
          (toks(j).take(math.ceil(toks(j).length * 0.6).toInt), meta(j))
        } else {
          val n = 40 + rnd.nextInt(30)
          (Array.fill(n)(word(rnd.nextInt(Vocab))),
            (Langs(rnd.nextInt(Langs.size)), s"src${rnd.nextInt(Sources)}"))
        }
      toks += t
      meta += m
      val text = t.mkString(" ")
      (i.toLong, text, m._1, m._2, text.length.toLong)
    }
  }

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    import spark.implicits._
    val tmp = dir.resolve("documents.tmp")
    documents(seed).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Host.deleteTree(tmp)
  }

  def units(spark: SparkSession, in: Path): Long = Tables.documents(spark, in.toString).count()

  def run(spark: SparkSession, in: Path, out: Path): Unit =
    Queries.foreach { q =>
      SparkEntry.queries(q)(spark, in.toString).write.mode("overwrite").parquet(out.resolve(q).toString)
    }

  def outputChecksum(spark: SparkSession, out: Path): String =
    Queries.map(q => s"$q=${checksum(spark.read.parquet(out.resolve(q).toString))}").mkString(";")

  /** Writes the oracle query's output, SQL and input for the DuckDB
    * cross-check made outside the JVM; the first warm-up pass is the
    * reference the timed iterations must reproduce.
    */
  def reference(spark: SparkSession, in: Path, work: Path): Option[String] = {
    val oracle = work.resolve("oracle")
    Files.createDirectories(oracle)
    SparkEntry.queries(OracleQuery)(spark, in.toString).write.mode("overwrite")
      .parquet(oracle.resolve(OracleQuery).toString)
    Files.writeString(oracle.resolve(s"$OracleQuery.sql"), SparkEntry.oracleSql(OracleQuery))
    Files.copy(in.resolve("documents.parquet"), oracle.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    None
  }

  /** Keepers must be the minimum doc id of each connected component of the
    * oracle-checked pairs (a union-find here).
    */
  def invariants(spark: SparkSession, in: Path, work: Path, out: Path): Seq[(String, Boolean)] = {
    val pairs = spark.read.parquet(work.resolve("oracle").resolve(OracleQuery).toString)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val keepers = spark.read.parquet(out.resolve("q_dedup_clusters").toString).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper"))
    Seq(
      "dedup.lsh_pairs_nonempty" -> pairs.nonEmpty,
      "dedup.keepers_are_component_minima" ->
        (keepers.length == NDocs && keepers.forall { case (d, k) => find(d) == k }))
  }

  def traced(spark: SparkSession, t: Tracer, in: Path, out: Path): Map[String, Double] = {
    val dir = in.toString
    val gc0 = Host.gcMs()
    val pipe = spanOf(t, "pipeline") {
      Queries.foreach { q =>
        val df = t.span(s"plan:$q")(SparkEntry.queries(q)(spark, dir))
        t.span(s"sink:$q")(df.write.mode("overwrite").parquet(out.resolve(q).toString))
      }
    }
    val gcS = (Host.gcMs() - gc0) / 1e3

    // prefixes, each built inside its span; self time = prefix − scan or
    // the prefix it extends
    def docs = Tables.documents(spark, dir)
    val scan = spanOf(t, "prefix:scan")(noop(docs)).seconds
    val band = spanOf(t, "prefix:lsh_band")(noop(SparkEntry.lshBandSigs(docs))).seconds
    val pairs = spanOf(t, "prefix:lsh_pairs")(noop(SparkEntry.neardupLshPairs(spark, dir))).seconds
    var candidates, verified = 0L
    var pairsC: DataFrame = null
    t.span("counts") {
      candidates = SparkEntry.lshBandSigs(docs).groupBy("source", "band", "bkey")
        .agg(collect_list(col("doc_id")).as("ds")).filter(size(col("ds")) > 1)
        .select(explode(col("ds")).as("da"), col("ds"))
        .select(col("da"), explode(filter(col("ds"), d => d > col("da"))).as("db"))
        .distinct().count()
      pairsC = SparkEntry.neardupLshPairs(spark, dir).localCheckpoint()
      verified = pairsC.count()
    }
    val comp = spanOf(t, "prefix:components")(noop(Components.minLabel(pairsC, "da", "db")))
    val contain = spanOf(t, "prefix:containment")(noop(SparkEntry.containmentPairs(docs))).seconds
    t.drain()
    val e = engineMetrics(t, pipe, gcS, inputBytes(in), out)
    e ++ Map(
      "scan.s" -> scan,
      "lsh.band_s" -> (band - scan),
      "lsh.pairs_s" -> (pairs - band),
      "lsh.candidates" -> candidates.toDouble,
      "lsh.verified" -> verified.toDouble,
      "lsh.verify_yield" -> (if (candidates > 0) verified.toDouble / candidates else 0.0),
      "components.s" -> comp.seconds,
      "components.jobs" -> t.jobsIn(comp).size.toDouble,
      "containment.s" -> (contain - scan))
  }
}
