package graft.pipeline

import graft.core.{RunCaches, Synthetic}
import graft.export.Export
import graft.ops._
import graft.sources.{Tiff, Zarr}
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import java.nio.file.{Files, Paths}

/** CLI batch entry point — the reference's `scip OUTPUT CONFIG
  * PATHS...` (main.py:292-376). The config may be the reference's own
  * YAML (its actual query language, parsed by the offline subset
  * parser in [[YamlConfig]] and key-normalized from the scip shape —
  * a real scip_zarr.yml runs unconverted) or the same structure as
  * JSON (Jackson ships with Spark). Below is the graft-flattened key
  * shape both front-ends normalize to:
  *
  * Config shape (all stages optional except load/mask):
  * {{{
  * { "load": {"format": "synthetic|tiff|multiframe_tiff|zarr",
  *            "paths": [...], "regex": "...", "channels": ["0","1"],
  *            "channel_names": ["ch0","ch1"], "n": 100},
  *   "project": {"op": "max"},
  *   "illumination_correction": {"median_filter_size": 50},
  *   "segment": {"method": "watershed_dapi", "cell_diameter": 10, "parent_channel": 0},
  *   "sample": {"k": 50},
  *   "filter": {"population": true},
  *   "mask": [{"name": "li", "method": "li", "smooth": [0.75]},
  *            {"name": "spot", "method": "spot", "spotsize": 5}],
  *   "mask_filters": [{"method": "std", "channels": [0], "threshold": 1.0}],
  *   "normalization": {"quantile": true},
  *   "feature_extraction": {"types": ["regions","bbox","shape","intensity","texture"]},
  *   "export": {"format": "parquet", "coalesce": 1, "quantiles_csv": true} }
  * }}}
  *
  * Usage: `runMain graft.pipeline.Cli OUTPUT_DIR CONFIG.{json,yml} [timing.json] [PATHS...]`
  *
  * PATHS are positional, after the config — the reference's own call
  * shape (`scip OUTPUT CONFIG PATHS...`): when present they override
  * the config's `load.paths`, so a verbatim scip invocation (whose
  * YAML carries no paths at all) runs unchanged. The timing output is
  * recognized ONLY as the first argument after CONFIG, and only when
  * it ends in `.json` (graft's addition — the reference spells it as
  * a `--timing` option); a `.json` among the later PATHS is an error,
  * never a silently-claimed timing file.
  */
object Cli {

  /** Split the positional args after CONFIG into (timing output,
    * data paths). The timing output is only recognized in the FIRST
    * position, and only when it ends in `.json`; a `.json` among the
    * later PATHS is an error (it used to be silently claimed as the
    * timing file — dropped from load.paths AND clobbered on disk by
    * Export.timingJson). */
  private[pipeline] def splitArgs(
      rest: Seq[String]): (Option[String], Seq[String]) = {
    val timingPath = rest.headOption.filter(_.endsWith(".json"))
    val cliPaths = rest.drop(if (timingPath.isDefined) 1 else 0)
    require(!cliPaths.exists(_.endsWith(".json")),
      "a .json data path is not supported among positional PATHS (the " +
        "timing output is only accepted directly after CONFIG): " +
        cliPaths.filter(_.endsWith(".json")).mkString(", "))
    (timingPath, cliPaths)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Cli OUTPUT_DIR CONFIG.{json,yml,yaml} [timing.json] [PATHS...]")
    val Array(outputDir, configPath) = args.take(2)
    val (timingPath, cliPaths) = splitArgs(args.drop(2).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    try {
      run(spark, outputDir, configPath, cliPaths)
      val runtime = (System.nanoTime() - t0) / 1e9
      timingPath.foreach(tp => Export.timingJson(spark, tp,
        Map("output" -> outputDir, "config" -> configPath), runtime))
      println(f"Full runtime $runtime%.2f s")
    } finally spark.stop()
  }

  /** One pipeline run: config → features → exports. The caches the
    * run creates are dropped when it ends, also on failure; caches the
    * caller holds are left as they are. */
  def run(spark: SparkSession, outputDir: String, configPath: String,
      cliPaths: Seq[String] = Nil): Unit = {
    // the reference's config IS a YAML file (main.py:119-138) —
    // accept it unconverted next to the JSON spelling: .yml/.yaml
    // goes through the offline subset parser + the scip-shape key
    // normalizer (see YamlConfig); both land on the same JsonNode
    // consumers below
    val raw =
      if (configPath.endsWith(".yml") || configPath.endsWith(".yaml"))
        YamlConfig.parse(new String(
          Files.readAllBytes(Paths.get(configPath)), "UTF-8"))
      else new ObjectMapper().readTree(Files.readAllBytes(Paths.get(configPath)))
    val root = YamlConfig.normalize(raw)
    // CLI-positional PATHS (the reference's shape — its configs carry
    // no paths key) override/supply load.paths
    if (cliPaths.nonEmpty) {
      val arr = JsonNodeFactory.instance.arrayNode()
      cliPaths.foreach(arr.add)
      loadStage(root).set[JsonNode]("paths", arr)
      ()
    }
    val cfg = parseConfig(root)
    // the stages' caches (Illumination.correct, the prepared stream of
    // a config with aggregates, ...) live until the exports consumed
    // them; there is no per-dataset completion hook, so the run boundary
    // is their scope
    val caches = new RunCaches
    try runStages(spark, outputDir, root, cfg, caches)
    finally caches.release()
  }

  private def runStages(spark: SparkSession, outputDir: String, root: JsonNode,
      cfg: PipelineConfig, caches: RunCaches): Unit = {
    val source = loadSource(spark, root.get("load"))
    val exportNode = Option(root.get("export"))
    val wantQuantiles =
      exportNode.flatMap(e => Option(e.get("quantiles_csv"))).exists(_.asBoolean())

    // channel_boundaries.csv whenever normalization runs
    // (main.py:49-60,240) and quantiles.csv under its legacy flag: the
    // first branch's extents, the ones its normalization consumed —
    // after masking and the population filter, as in the reference
    val (table, extents) = Pipeline.runPrepared(spark,
      Pipeline.prepare(spark, source, cfg, caches), cfg, caches, withExtents = wantQuantiles)
    // through the Hadoop FS layer: outputDir may be a cluster
    // destination (s3a/hdfs) — java.nio would create a literal local
    // "s3a:/..." directory on the driver
    val outPath = new org.apache.hadoop.fs.Path(outputDir)
    Export.sinkFs(outPath, spark.sparkContext.hadoopConfiguration).mkdirs(outPath)

    val coalesce = exportNode.flatMap(e => Option(e.get("coalesce"))).map(_.asInt()).getOrElse(0)
    // export.filename names the partition objects, exactly like the
    // reference ({filename}.{partition}.parquet / .h5ad, main.py:271)
    val filename = exportNode.flatMap(e => Option(e.get("filename")))
      .map(_.asText()).getOrElse("features")
    val parts = if (coalesce > 0) table.coalesce(coalesce) else table
    exportNode.flatMap(e => Option(e.get("format"))).map(_.asText()).getOrElse("parquet") match {
      case "anndata" => graft.export.AnnData.export(parts, outputDir, filename)
      case _ => Export.parquetPartFiles(parts, outputDir, filename)
    }

    extents.foreach { mm =>
      if (cfg.normalize) // wide {channel}_min/{channel}_max columns indexed by group
        Export.channelBoundariesCsv(spark, mm, cfg.channelNames,
          s"$outputDir/channel_boundaries.csv")
      if (wantQuantiles) Export.quantilesCsv(spark, mm, s"$outputDir/quantiles.csv")
    }
  }

  private def strings(n: JsonNode): Seq[String] =
    (0 until n.size()).map(n.get(_).asText())
  private def ints(n: JsonNode): Seq[Int] =
    (0 until n.size()).map(n.get(_).asInt())
  private def doubles(n: JsonNode): Seq[Double] =
    (0 until n.size()).map(n.get(_).asDouble())

  def loadSource(spark: SparkSession, load: JsonNode) = {
    require(load != null, "config needs a load stage")
    load.get("format").asText() match {
      case "synthetic" =>
        val n = Option(load.get("n")).map(_.asInt()).getOrElse(10)
        Option(load.get("kind")).map(_.asText()) match {
          case Some("cells") => Synthetic.cells(spark, n,
            // channels may be the documented array form — asInt() on
            // an ArrayNode silently returns 0 (0-channel events)
            channels = Option(load.get("channels")).map(ch =>
              if (ch.isArray) ch.size() else ch.asInt()).getOrElse(2))
          case _ => Synthetic.conftest(spark, n)
        }
      case "tiff" =>
        val regex = Option(load.get("regex")).map(_.asText()).getOrElse(
          throw new IllegalArgumentException("tiff load needs a 'regex' key"))
        val chans = Option(load.get("channels")).map(strings).getOrElse(
          throw new IllegalArgumentException("tiff load needs a 'channels' key"))
        val meta = Tiff.loadMeta(spark, strings(load.get("paths")), regex)
        Tiff.loadPixels(meta, chans)
      case "multiframe_tiff" =>
        val mfChannels = Option(load.get("channels")).map(ints).orNull
        strings(load.get("paths"))
          .map(Tiff.loadMultiframeDirectory(spark, _, mfChannels))
          .reduceLeft(_ unionByName _).as(graft.core.Codecs.imageEventEncoder)
      case "zarr" =>
        val regex = Option(load.get("regex")).map(_.asText()).orNull
        strings(load.get("paths"))
          .map(Zarr.metaFromDirectory(spark, _, regex))
          .reduceLeft(_ unionByName _) match { case meta =>
            Zarr.loadPixels(meta,
              Option(load.get("channels")).map(ints).orNull)
          }
      case "czi" =>
        val scenesNode = Option(load.get("scenes")).filterNot(_.isNull)
        val sceneList = scenesNode.filter(_.isArray).map(strings).orNull
        val sceneRegex = scenesNode.filter(_.isTextual).map(_.asText()).orNull
        val regex = Option(load.get("regex")).map(_.asText()).orNull
        strings(load.get("paths"))
          .map(p => graft.sources.Czi.metaFromDirectory(spark, p,
            scenes = sceneList, scenesRegex = sceneRegex, regex = regex))
          .reduceLeft(_ unionByName _) match { case meta =>
            graft.sources.Czi.loadPixels(meta,
              Option(load.get("channels")).map(ints).orNull)
          }
      case other => throw new IllegalArgumentException(s"unknown load format: $other")
    }
  }

  /** The config's load stage. The reference tree also carries
    * PRE-RELEASE configs keyed loading:/masking: (repo-root
    * scip_czi.yml etc.) that current scip itself rejects ("Config is
    * incomplete", main.py:120-132): they are refused by name, before
    * the missing `load` node would bury the actual problem. */
  private def loadStage(root: JsonNode): ObjectNode = {
    require(!(root.has("loading") || root.has("masking")),
      "config uses the reference's pre-release key shape " +
        "(loading:/masking:) which current scip also rejects — " +
        "rename to load:/mask: (see test/data/scip_zarr.yml for the " +
        "current shape)")
    root.get("load") match {
      case load: ObjectNode => load
      case _ => throw new IllegalArgumentException("config needs a load stage")
    }
  }

  def parseConfig(root: JsonNode): PipelineConfig = {
    val load = loadStage(root)
    val channelNames = Option(load.get("channel_names")).map(strings)
      .getOrElse(Option(load.get("channels")).map(strings).getOrElse(Seq("ch0", "ch1", "ch2")))

    val maskNode = Option(root.get("mask")).filterNot(_.isNull).orNull
    // the reference's `mask: null` config: ONE pass-through "no"
    // branch (unprefixed features computed from the segmentation
    // stage's masks — see Masking.NoOp). A mask-dependent feature set
    // without a segmentation stage has no masks to read; the
    // reference KeyErrors there, this fails with the reason.
    val noMask = maskNode == null || maskNode.size() == 0
    if (noMask) {
      val types = Option(root.get("feature_extraction")).filterNot(_.isNull)
        .flatMap(f => Option(f.get("types"))).map(strings)
        .getOrElse(Seq("regions", "bbox", "shape", "intensity", "texture"))
      require(root.hasNonNull("segment") || types.forall(_ == "raw"),
        "mask: null needs a segmentation stage — its per-cell masks are " +
          "what the \"no\" branch's shape/intensity/bbox features read " +
          "(the reference's to_events contract); configure segment, a " +
          "mask, or feature_extraction types [raw]")
    }
    val branches = if (noMask)
      Seq(MaskBranchConfig("no", Masking.NoOp))
    else (0 until maskNode.size()).map { i =>
      val b = maskNode.get(i)
      val method = b.get("method").asText() match {
        case "none" | "no" => Masking.NoOp
        case "circle" => Masking.Circle
        case "threshold" | "otsu" => Masking.Otsu
        case "li" => Masking.Li(Option(b.get("smooth")).map(doubles).getOrElse(Seq(1.0)))
        case "spot" => Masking.Spot(Option(b.get("spotsize")).map(_.asInt()).getOrElse(5))
        case "sobel" => Masking.SobelQuantile(Option(b.get("quantile")).map(_.asDouble()).getOrElse(0.9))
        case "watershed" => Masking.WatershedMethod(
          Option(b.get("noisy_channels")).map(n =>
            (0 until n.size()).map(n.get(_).asInt())).getOrElse(Seq.empty))
        case m => throw new IllegalArgumentException(s"unknown mask method: $m")
      }
      MaskBranchConfig(
        Option(b.get("name")).map(_.asText()).getOrElse(b.get("method").asText()),
        method,
        // per-branch feature selection (the reference's per-branch
        // feature_extraction map, normalized by YamlConfig); absent →
        // the pipeline-level types
        featureTypes = Option(b.get("feature_types")).filterNot(_.isNull)
          .map(strings))
    }

    val maskFilters = Option(root.get("mask_filters")).toSeq.flatMap { mf =>
      (0 until mf.size()).map { i =>
        val f = mf.get(i)
        val chs = ints(f.get("channels"))
        def threshold: Double = Option(f.get("threshold")).map(_.asDouble())
          .getOrElse(throw new IllegalArgumentException(
            s"mask filter '${f.get("method").asText()}' needs a 'threshold' key"))
        f.get("method").asText() match {
          case "normaltest" => Masking.NormalTest(chs)
          case "std" => Masking.StdFilter(chs, threshold)
          case "value_range" => Masking.ValueRange(chs, threshold)
          case m => throw new IllegalArgumentException(s"unknown mask filter: $m")
        }
      }
    }

    PipelineConfig(
      channelNames = channelNames,
      mainChannelIndex = Option(root.get("main_channel_index")).map(_.asInt()).getOrElse(0),
      projectOp = Option(root.get("project")).flatMap(p => Option(p.get("op"))).map(_.asText()),
      illuminationCorrection = root.has("illumination_correction") &&
        !root.get("illumination_correction").isNull,
      // settings.median_filter_size, like the reference's
      // illumination_correction settings dict (jones_2006.correct) —
      // a SIZE (window width), the reference's only spelling. The old
      // "median_radius" alias passed the value through unconverted, so
      // radius-expecting users got a window of half the intent.
      illuminationMedianSize = Option(root.get("illumination_correction"))
        .filterNot(_.isNull).flatMap(n => Option(n.get("median_filter_size")))
        .map(_.asInt()).getOrElse(50),
      illuminationPrecomputed = Option(root.get("illumination_correction"))
        .filterNot(_.isNull).flatMap(n => Option(n.get("precomputed")))
        .map(_.asText()),
      segment = Option(root.get("segment")).filterNot(_.isNull).map { s =>
        s.get("method").asText() match {
          case "watershed_dapi" => Segmentation.WatershedDapi(
            Option(s.get("cell_diameter")).map(_.asInt()).getOrElse(10))
          case "cellpose" => Segmentation.CellposeShaped(
            parentChannelIndex = Option(s.get("parent_channel")).map(_.asInt()).getOrElse(0),
            dapiChannelIndex = Option(s.get("dapi_channel")).map(_.asInt()).getOrElse(0),
            channelIndices = Option(s.get("channels")).map(ints).orNull,
            cellDiameter = Option(s.get("cell_diameter")).map(_.asInt()).getOrElse(10),
            flowThreshold = Option(s.get("flow_threshold")).map(_.asDouble()).getOrElse(0.4))
          case m => throw new IllegalArgumentException(s"unknown segmenter: $m")
        }
      },
      segmentParentChannel = Option(root.get("segment")).filterNot(_.isNull)
        .flatMap(s => Option(s.get("parent_channel"))).map(_.asInt()).getOrElse(0),
      sampleK = Option(root.get("sample")).filterNot(_.isNull)
        .flatMap(s => Option(s.get("k"))).map(_.asInt()),
      sampleWithReplacement = Option(root.get("sample")).filterNot(_.isNull)
        .flatMap(s => Option(s.get("with_replacement"))).exists(_.asBoolean()),
      maskNpyDir = Option(root.get("segment")).filterNot(_.isNull)
        .flatMap(s => Option(s.get("export_masks"))).map(_.asText()),
      maskFilters = maskFilters,
      branches = branches,
      combinedIndices = Option(root.get("mask_combined_indices"))
        .orElse(Option(root.get("combined_indices"))).map(ints).orNull,
      populationFilter = Option(root.get("filter")).filterNot(_.isNull)
        .flatMap(f => Option(f.get("population"))).exists(_.asBoolean()),
      normalize = Option(root.get("normalization")).filterNot(_.isNull)
        .flatMap(n => Option(n.get("quantile"))).exists(_.asBoolean()),
      featureTypes = Option(root.get("feature_extraction")).filterNot(_.isNull)
        .flatMap(f => Option(f.get("types"))).map(strings)
        .getOrElse(Seq("regions", "bbox", "shape", "intensity", "texture")))
  }
}
