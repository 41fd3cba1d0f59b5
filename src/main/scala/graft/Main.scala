package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{GraftConfig, MiniYaml}
import graft.features.{FeatureRegistry, Windowed}
import graft.process.PostProcess
import java.nio.file.{Files, Paths}

/** Config-driven entry point — the musiF CLI/YAML workflow
  * (musif/__main__.py:13-182 driving Config, musif/config.py:96-158 merge
  * semantics: defaults ← yaml file ← explicit overrides) re-expressed as a
  * spark-submit main:
  *
  *   spark-submit --class graft.Main engine.jar \
  *     --config example.yml --set output=/tmp/out --set mode=windowed
  *
  * Config keys (see `example.yml`): input, output, mode
  * (conversation|windowed|incremental — incremental also needs state_dir:
  * the slice-upsert generation store), format (parquet|csv), modules (list; empty =
  * all, deps auto-resolved), window.size/overlap, session_gap_seconds,
  * shards (>1 → resumable snapshot write with per-shard lineage), post.*
  * (drop_prefixes/suffixes/contains, row_null_max, col_null_max,
  * fill_value, reference_names, order_columns).
  */
object Main {

  def buildMatrix(spark: SparkSession, cfg: GraftConfig, turns: DataFrame,
                  state: Option[DataFrame]): DataFrame = {
    val mode = cfg.str("mode").getOrElse("conversation")
    val gap = cfg.long("session_gap_seconds", SparkEntry.SessionGapSeconds)
    val names = cfg.list("modules")
    mode match {
      case "conversation" =>
        val mods = FeatureRegistry.modulesFor(names, gap)
        // no explicit layout call: Tables.turns already leaves the frame
        // hash-clustered on conv_id (its numbering window's exchange), and
        // an explicit repartition is a user shuffle EnsureRequirements
        // never elides — it would be a redundant second full-table
        // exchange. A caller with un-clustered input gets exactly one
        // planner-inserted hash exchange from the as-of exec's
        // requiredChildDistribution (see Ordered.clusteredPartitions for
        // when to force the layout by hand).
        FeatureRegistry.featureMatrix(turns, state, mods)
      case "windowed" =>
        val mods = FeatureRegistry.modulesFor(names, gap, windowed = true)
        Windowed.featureMatrixWindowedFull(turns, state,
          cfg.int("window.size", 8), cfg.int("window.overlap", 2), mods)
      case other => throw new IllegalArgumentException(
        s"mode must be conversation|windowed|incremental, got $other")
    }
  }

  def postProcess(matrix: DataFrame, cfg: GraftConfig): DataFrame = {
    var df = matrix
    val pre = Seq(cfg.list("post.drop_prefixes"), cfg.list("post.drop_suffixes"),
      cfg.list("post.drop_contains"))
    if (pre.exists(_.nonEmpty))
      df = PostProcess.deleteColumns(df, prefixes = pre(0), suffixes = pre(1), contains = pre(2))
    cfg.dbl("post.col_null_max").foreach(t => df = PostProcess.dropSparseColumns(df, t))
    cfg.dbl("post.row_null_max").foreach(t => df = PostProcess.dropSparseRows(df, t))
    cfg.dbl("post.fill_value").foreach { v =>
      val pre = cfg.list("post.fill_prefixes")
      df = PostProcess.fillByPredicate(df, v,
        c => pre.isEmpty || pre.exists(c.startsWith))
    }
    if (cfg.bool("post.order_columns", true)) df = PostProcess.orderColumns(df)
    if (cfg.bool("post.reference_names", false)) df = PostProcess.renderReferenceNames(df)
    df
  }

  def run(spark: SparkSession, cfg: GraftConfig): Unit = {
    val input = cfg.str("input").getOrElse(
      throw new IllegalArgumentException("config key 'input' is required"))
    val output = cfg.str("output").getOrElse(
      throw new IllegalArgumentException("config key 'output' is required"))

    // native layout (input/turns, input/state parquet dirs) or the sandbox
    // fixture layout (events.parquet → ingest normalization)
    val (turns, state) =
      if (Files.exists(Paths.get(input, "turns")))
        (Tables.parquet(spark, s"$input/turns"),
          if (Files.exists(Paths.get(input, "state")))
            Some(Tables.parquet(spark, s"$input/state")) else None)
      else
        (Tables.turns(spark, input), Some(Tables.state(spark, input)))

    val fmt = cfg.str("format").getOrElse("parquet")
    // incremental mode: treat the input as ONE APPENDED SLICE, upsert its
    // per-conversation partials into the durable generation store
    // (config `state_dir`), and write the store's finalized features — the
    // nightly-ingestion shape: cycle cost O(slice), not O(corpus). The
    // standard post-process and format knobs apply to the feature output.
    if (cfg.str("mode").contains("incremental")) {
      val stateDir = cfg.str("state_dir").getOrElse(
        throw new IllegalArgumentException("mode=incremental requires 'state_dir'"))
      // fail fast rather than silently ignore (ADVICE r4): the generation
      // store is one serial upsert cycle — the resumable-shard path does
      // not apply to it
      require(cfg.int("shards", 1) == 1,
        "mode=incremental maintains one generation store per cycle; shards>1 " +
          "(the resumable snapshot path) does not apply — feed slices sequentially instead")
      val gap = cfg.long("session_gap_seconds", SparkEntry.SessionGapSeconds)
      features.IncrementalStore.upsert(spark, stateDir, turns, gap)
      val m = postProcess(features.IncrementalStore.features(spark, stateDir), cfg)
      save(m, fmt, output)
      System.err.println(s"[graft] incremental upsert done → $output (state: $stateDir)")
      return
    }

    val shards = cfg.int("shards", 1)
    if (shards > 1) {
      // fail fast on silently-unsupported combinations (ADVICE r2):
      //  - the resumable path always writes parquet shards; a csv request
      //    must error, not silently produce parquet
      //  - post.col_null_max is DATA-dependent: applied per shard it drops
      //    different columns in different shards (shard-dependent schemas);
      //    apply it globally on the read-back instead:
      //    PostProcess.dropSparseColumns(Snapshot.read(spark, out), t)
      require(fmt == "parquet",
        s"shards>1 writes resumable parquet snapshots; format=$fmt is not supported on the sharded path")
      require(cfg.dbl("post.col_null_max").isEmpty,
        "post.col_null_max is data-dependent and cannot run per shard (schemas would " +
          "diverge across shards); with shards>1 apply it globally after read-back: " +
          "PostProcess.dropSparseColumns(Snapshot.read(spark, output), threshold)")
      // resumable snapshot write: matrix computed per conv_id shard, each
      // shard committed with lineage; rerun resumes at the first missing
      val recs = checkpoint.Snapshot.runResumable(turns, output, shards) { shard =>
        postProcess(buildMatrix(spark, cfg, shard, state), cfg)
      }
      System.err.println(s"[graft] ${recs.size} shard(s) written; lineage in $output/_manifest")
    } else {
      val m = postProcess(buildMatrix(spark, cfg, turns, state), cfg)
      save(m, fmt, output)
    }
    System.err.println(s"[graft] done → $output")
  }

  private def save(m: DataFrame, fmt: String, output: String): Unit = fmt match {
    case "csv"     => PostProcess.saveCsv(m, output)
    case "parquet" => PostProcess.saveParquet(m, output)
    case other     => throw new IllegalArgumentException(s"format parquet|csv, got $other")
  }

  def parseArgs(args: Array[String]): GraftConfig = {
    var file: Option[String] = None
    val sets = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--config" => file = Some(args(i + 1)); i += 2
        case "--set"    => sets += args(i + 1); i += 2
        case other      => throw new IllegalArgumentException(
          s"unknown arg $other (usage: --config conf.yml [--set k=v ...])")
      }
    }
    val fileLayer = file.map(p => MiniYaml.parse(
      new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))).getOrElse(Map.empty)
    GraftConfig.fromLayers(fileLayer, GraftConfig.overridesFromArgs(sets.toSeq))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, cfg) finally spark.stop()
  }
}
