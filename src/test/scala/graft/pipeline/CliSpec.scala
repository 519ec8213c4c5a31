package graft.pipeline

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** the CLI batch entry end-to-end: JSON config → pipeline → exports */
class CliSpec extends SparkSpec {

  test("synthetic source + quantiles_csv + parquet export") {
    val out = Files.createTempDirectory("cli-parquet").toString
    val config = Files.createTempFile("cli", ".json")
    Files.writeString(config,
      """{ "load": {"format": "synthetic", "n": 6},
        |  "mask": [{"name": "circle", "method": "circle"}],
        |  "feature_extraction": {"types": ["regions", "intensity"]},
        |  "export": {"coalesce": 1, "quantiles_csv": true} }""".stripMargin)
    Cli.run(spark, out, config.toString)
    val features = spark.read.parquet(s"$out/features.0.parquet") // reference {filename}.{i}.parquet layout
    assert(features.count() == 6)
    assert(features.columns.exists(_.startsWith("feat_")))
    val q = Files.readString(Paths.get(out, "quantiles.csv"))
    assert(q.linesIterator.size > 1, q)
  }

  test("a pre-release config and a config without load are refused by name") {
    def config(json: String) = {
      val f = Files.createTempFile("cli-refused", ".json")
      Files.writeString(f, json)
      f.toString
    }
    def refusal(json: String, paths: Seq[String]) = intercept[IllegalArgumentException] {
      Cli.run(spark, Files.createTempDirectory("cli-refused").toString, config(json), paths)
    }.getMessage
    val preRelease =
      """{ "loading": {"format": "synthetic", "n": 2},
        |  "masking": [{"name": "circle", "method": "circle"}] }""".stripMargin
    for (paths <- Seq(Nil, Seq("/data/a.zarr"))) {
      val e = refusal(preRelease, paths)
      assert(e.contains("loading:/masking:") && e.contains("pre-release"), e)
      val noLoad = refusal("""{ "mask": [{"name": "circle", "method": "circle"}] }""", paths)
      assert(noLoad.contains("config needs a load stage"), noLoad)
    }
  }

  test("yaml config in graft key shape runs the same pipeline as json") {
    val out = Files.createTempDirectory("cli-yaml").toString
    val config = Files.createTempFile("cli", ".yml")
    Files.writeString(config,
      """# graft-shape config, YAML spelling
        |load:
        |  format: synthetic
        |  n: 6
        |mask:
        |  - name: circle
        |    method: circle
        |feature_extraction:
        |  types: [regions, intensity]
        |export:
        |  coalesce: 1
        |""".stripMargin)
    Cli.run(spark, out, config.toString)
    val features = spark.read.parquet(s"$out/features.0.parquet")
    assert(features.count() == 6)
    assert(features.columns.exists(_.startsWith("feat_")))
  }

  test("the reference's own scip_zarr.yml runs UNCONVERTED (scip key shape)") {
    // the VERBATIM reference file — not a byte changed: the Python
    // (?P<group>...) regex, the mask.methods/filters nesting, and the
    // per-branch feature_extraction map are all the reference's own.
    // The data path rides as a positional CLI arg, exactly the
    // reference's call shape (scip OUTPUT CONFIG PATHS...)
    val ref = Paths.get("/root/reference/test/data/scip_zarr.yml")
    assume(Files.exists(ref) &&
      Files.exists(Paths.get("/root/reference/test/data/test.zarr")))
    val out = Files.createTempDirectory("cli-scip-yaml").toString
    Cli.run(spark, out, ref.toString,
      cliPaths = Seq("/root/reference/test/data/test.zarr"))
    // the reference config sets no coalesce → one object per
    // partition (the {filename}.{partition}.parquet layout) — read
    // them all
    val features = spark.read.parquet(s"$out/features.*.parquet")
    // the reference's own e2e expectation on this config+data
    // (test/test_main.py): 10 rows, all four branch families present
    assert(features.count() == 10)
    val cols = features.columns
    Seq("circle-1", "circle-2", "spot", "li").foreach(b =>
      assert(cols.exists(_.contains(b)), s"branch $b missing: ${cols.take(20).mkString(",")}"))
    // per-branch feature selection honored: li carries no bbox columns
    assert(!cols.exists(_.contains("li_bbox")),
      cols.filter(_.contains("bbox")).mkString(","))
    assert(cols.exists(_.contains("circle-1_bbox")))
  }

  test("the reference's scip_tiff_seg.yml runs UNCONVERTED (mask: null => " +
    "pass-through 'no' branch over segmentation masks)") {
    // the second current-shape reference config: tiff scan →
    // jones-2006 illumination keyed on the regex's plate group →
    // cellpose segmentation → mask: null (the features read the
    // SEGMENTATION's per-cell masks; columns go unprefixed — the
    // reference's dict(no=images) branch) → shape+intensity
    val ref = Paths.get("/root/reference/test/data/scip_tiff_seg.yml")
    val tiffs = "/root/reference/test/data/tiffs"
    assume(Files.exists(ref) && Files.exists(Paths.get(tiffs)))
    val out = Files.createTempDirectory("cli-tiffseg-yaml").toString
    Cli.run(spark, out, ref.toString, cliPaths = Seq(tiffs))
    val features = spark.read.parquet(s"$out/features.*.parquet")
    val rows = features.collect()
    assert(rows.length >= 2, s"expected detected cells, got ${rows.length}")
    val featCols = features.columns.filter(_.startsWith("feat_"))
    // unprefixed branch naming (no branch token between feat_ and the
    // stat): intensity columns carry the channel names, shape columns
    // the _combined suffix
    assert(featCols.exists(_.contains("DAPI")) &&
      featCols.exists(_.contains("actin")),
      featCols.take(10).mkString(","))
    assert(featCols.exists(_.endsWith("_combined")))
    assert(!featCols.exists(_.contains("_no_")),
      "the \"no\" branch must not inject a prefix token")
    assert(rows.exists(r => featCols.exists(c => r.getAs[Any](c) != null)))
  }

  test("the reference's test/data/scip.yml: verbatim file refused the way " +
    "current scip refuses it; its current-shape YAML twin matches the " +
    "JSON-config run byte-for-byte") {
    val ref = Paths.get("/root/reference/test/data/scip.yml")
    val images = "/root/reference/test/data/images"
    assume(Files.exists(ref) && Files.isDirectory(Paths.get(images)))
    // 1. the verbatim file is PRE-RELEASE shaped (root key `loading:`,
    // and incomplete — no mask/export/...): current scip's own main.py
    // asserts "Config is incomplete." on it (main.py:120-132; the
    // conftest fixture that loads it never reaches main). Our CLI
    // refuses it BY NAME with the rename hint — pin that.
    val out1 = Files.createTempDirectory("cli-scipyml-verbatim").toString
    val e = intercept[IllegalArgumentException] {
      Cli.run(spark, out1, ref.toString, cliPaths = Seq(images))
    }
    assert(e.getMessage.contains("loading:/masking:"), e.getMessage)
    // 2. the CURRENT-shape YAML spelling of the same multiframe-TIFF
    // pipeline (completed the way main.py requires), over the same
    // reference corpus via a positional path, must export the exact
    // rows the p15 JSON-config run exports
    val yml = Files.createTempFile("scip-current", ".yml")
    Files.writeString(yml,
      """load:
        |  format: multiframe_tiff
        |  channels: [0, 1]
        |  channel_names: [ch0, ch1]
        |mask:
        |  - name: li
        |    method: li
        |    smooth: [0.75, 0.75]
        |  - name: circle
        |    method: circle
        |feature_extraction:
        |  types: [regions, bbox, intensity]
        |export:
        |  coalesce: 1
        |""".stripMargin)
    val outY = Files.createTempDirectory("cli-scipyml-yaml").toString
    Cli.run(spark, outY, yml.toString, cliPaths = Seq(images))
    val json = Files.createTempFile("scip-current", ".json")
    Files.writeString(json,
      s"""{ "load": {"format": "multiframe_tiff", "paths": ["$images"],
         |            "channels": [0, 1], "channel_names": ["ch0", "ch1"]},
         |  "mask": [{"name": "li", "method": "li", "smooth": [0.75, 0.75]},
         |           {"name": "circle", "method": "circle"}],
         |  "feature_extraction": {"types": ["regions", "bbox", "intensity"]},
         |  "export": {"coalesce": 1} }""".stripMargin)
    val outJ = Files.createTempDirectory("cli-scipyml-json").toString
    Cli.run(spark, outJ, json.toString)
    val fy = spark.read.parquet(s"$outY/features.0.parquet")
    val fj = spark.read.parquet(s"$outJ/features.0.parquet")
    assert(fy.count() == 11 && fj.count() == 11) // the 11-image corpus
    assert(fy.columns.toSeq == fj.columns.toSeq)
    val key = fy.columns.head
    assert(fy.orderBy(key).collect().toSeq ==
      fj.orderBy(key).collect().toSeq,
      "YAML-front-end run diverged from the JSON-config run")
  }

  test("positional-arg split: timing .json only in first position; a " +
    "later .json data path is an error, never a silent timing claim") {
    // no args: no timing, no paths
    assert(Cli.splitArgs(Nil) == ((None, Nil)))
    // first-position .json is the timing output
    assert(Cli.splitArgs(Seq("t.json")) == ((Some("t.json"), Nil)))
    assert(Cli.splitArgs(Seq("t.json", "/data/a.zarr", "/data/b.tif")) ==
      ((Some("t.json"), Seq("/data/a.zarr", "/data/b.tif"))))
    // plain paths pass through untouched
    assert(Cli.splitArgs(Seq("/data/a.zarr")) ==
      ((None, Seq("/data/a.zarr"))))
    // a later .json used to be claimed as the timing file AND dropped
    // from the data paths — now an error naming the offender
    val e = intercept[IllegalArgumentException] {
      Cli.splitArgs(Seq("/data/a.zarr", "oops.json"))
    }
    assert(e.getMessage.contains("oops.json"), e.getMessage)
    // ...even when a legitimate timing file is also present
    val e2 = intercept[IllegalArgumentException] {
      Cli.splitArgs(Seq("t.json", "/data/a.zarr", "oops.json"))
    }
    assert(e2.getMessage.contains("oops.json"), e2.getMessage)
  }

  test("mask: null without a segmentation stage is refused loudly") {
    val config = Files.createTempFile("nomask", ".yml")
    Files.writeString(config,
      """load:
        |  format: synthetic
        |  n: 4
        |mask:
        |feature_extraction:
        |  types: [shape, intensity]
        |export:
        |  coalesce: 1
        |""".stripMargin)
    val out = Files.createTempDirectory("cli-nomask").toString
    val e = intercept[IllegalArgumentException] {
      Cli.run(spark, out, config.toString)
    }
    assert(e.getMessage.contains("mask: null needs a segmentation"),
      e.getMessage)
  }

  test("czi source + cellpose segmentation + anndata export") {
    val dir = Files.createTempDirectory("cli-czi")
    val czi = dir.resolve("plate.czi").toString
    graft.sources.Czi.writeMinimal(czi, Seq("s0"), tiles = 1, channels = 2,
      depth = 1, h = 48, w = 48,
      // two bright blobs on a dark field so the stub model finds cells
      (s, t, c, z, r, col) => {
        val d1 = (r - 14) * (r - 14) + (col - 14) * (col - 14)
        val d2 = (r - 34) * (r - 34) + (col - 34) * (col - 34)
        if (d1 < 49 || d2 < 49) 200f + (r + col) % 7 else 10f + (r * col) % 3
      })
    val out = Files.createTempDirectory("cli-anndata").toString
    val config = Files.createTempFile("cli-czi", ".json")
    Files.writeString(config,
      s"""{ "load": {"format": "czi", "paths": ["$czi"], "channels": [0, 1]},
         |  "segment": {"method": "cellpose", "parent_channel": 0,
         |              "dapi_channel": 0, "cell_diameter": 8},
         |  "mask": [{"name": "cells", "method": "circle"}],
         |  "feature_extraction": {"types": ["regions", "intensity"]},
         |  "export": {"format": "anndata", "coalesce": 1} }""".stripMargin)
    Cli.run(spark, out, config.toString)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".h5ad"))
    assert(files.nonEmpty)
    val root = graft.export.H5Read.read(files.head.getPath)
    assert(root.children.contains("X") && root.children.contains("obs"))
    assert(root.children("X").dims.head > 0, "per-cell rows expected")
  }

  /** a (N, maxLen) <f4 zlib zarr v2 store of three-channel cell events
    * (a dark brightfield disk, a DAPI blob, noise), ragged around 40x40 */
  private def writeCellZarr(dir: java.nio.file.Path, n: Int): Unit = {
    val rng = new scala.util.Random(17)
    val events = (0 until n).map { _ =>
      val h = 36 + rng.nextInt(8); val w = 36 + rng.nextInt(8)
      val (cy, cx) = (h / 2 + rng.nextInt(3) - 1, w / 2 + rng.nextInt(3) - 1)
      val px = new Array[Float](3 * h * w)
      for (r <- 0 until h; c <- 0 until w) {
        val d2 = (r - cy) * (r - cy) + (c - cx) * (c - cx)
        px(r * w + c) = (100 + 3 * rng.nextGaussian() - 50 * math.exp(-d2 / 40.0)).toFloat
        px(h * w + r * w + c) = (10 + rng.nextGaussian() + 40 * math.exp(-d2 / 12.0)).toFloat
        px(2 * h * w + r * w + c) = (10 + rng.nextGaussian() + 90 * math.exp(-d2 / 8.0)).toFloat
      }
      (h, w, px)
    }
    val maxLen = events.map(_._3.length).max
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(".zarray"),
      s"""{"chunks":[$n,$maxLen],"compressor":{"id":"zlib","level":5},"dtype":"<f4",
         |"fill_value":0,"filters":null,"order":"C","shape":[$n,$maxLen],"zarr_format":2}""".stripMargin)
    Files.writeString(dir.resolve(".zattrs"),
      s"""{"object_number":[${(0 until n).mkString(",")}],""" +
        s""""shape":[${events.map { case (h, w, _) => s"[3,$h,$w]" }.mkString(",")}]}""")
    val bb = java.nio.ByteBuffer.allocate(n * maxLen * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    events.zipWithIndex.foreach { case ((_, _, px), i) =>
      bb.position(i * maxLen * 4); px.foreach(bb.putFloat)
    }
    val deflater = new java.util.zip.Deflater(5)
    deflater.setInput(bb.array()); deflater.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    Files.write(dir.resolve("0.0"), out.toByteArray)
  }

  test("a run drops only the caches it created, never the caller's") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val callers = spark.range(40).selectExpr("id * 3 AS v").cache()
    callers.count()
    val level = callers.storageLevel
    assert(level != org.apache.spark.storage.StorageLevel.NONE)
    // illumination and the prepared stream of the population filter
    // and normalization cache
    val normalizing = Files.createTempFile("cli-caches", ".json")
    Files.writeString(normalizing,
      """{ "load": {"format": "synthetic", "kind": "cells", "n": 8, "channels": 2},
        |  "illumination_correction": {"median_filter_size": 5},
        |  "mask": [{"name": "circle", "method": "circle"},
        |           {"name": "li", "method": "li", "smooth": [1.0, 1.0]}],
        |  "filter": {"population": true},
        |  "normalization": {"quantile": true},
        |  "feature_extraction": {"types": ["regions", "intensity"]},
        |  "export": {"coalesce": 1} }""".stripMargin)
    val zarr = Files.createTempDirectory("cli-caches-zarr").resolve("sample.zarr")
    writeCellZarr(zarr, 6)
    val zarrConfig = Files.createTempFile("cli-caches", ".yml")
    Files.writeString(zarrConfig,
      """load:
        |  format: zarr
        |  channels: [0, 1, 2]
        |  channel_names: [BF, PI, DAPI]
        |mask:
        |  main_channel_index: 0
        |  combined_indices: [0, 1, 2]
        |  methods:
        |    - method: circle
        |      name: circle-1
        |    - method: circle
        |      name: circle-2
        |    - method: li
        |      name: li
        |      kwargs:
        |        smooth: [0.75, 0.75, 0.75]
        |    - method: spot
        |      name: spot
        |      kwargs:
        |        spotsize: 5
        |feature_extraction:
        |  types: [regions, bbox, shape, intensity, texture]
        |export:
        |  format: parquet
        |""".stripMargin)
    for ((config, paths) <- Seq(normalizing -> Nil, zarrConfig -> Seq(zarr.toString))) {
      val out = Files.createTempDirectory("cli-caches-out").toString
      Cli.run(spark, out, config.toString, cliPaths = paths)
      assert(spark.read.parquet(s"$out/features.*.parquet").count() > 0, config)
      assert(callers.storageLevel == level, s"caller's cache dropped by $config")
      assert(callers.count() == 40)
    }
    // and the runs left no cache of their own behind
    callers.unpersist(blocking = true)
    assert(cacheManager.isEmpty)
  }

  /** a JSON config over the synthetic cell source with the population
    * filter and normalization, one mask branch per entry of `masks` */
  private def aggregateConfig(masks: String*): java.nio.file.Path = {
    val config = Files.createTempFile("cli-aggregates", ".json")
    Files.writeString(config,
      s"""{ "load": {"format": "synthetic", "kind": "cells", "n": 40, "channels": 2},
         |  "mask": [${masks.mkString(", ")}],
         |  "filter": {"population": true},
         |  "normalization": {"quantile": true},
         |  "feature_extraction": {"types": ["regions", "intensity"]},
         |  "export": {"coalesce": 1, "quantiles_csv": true} }""".stripMargin)
    config
  }

  test("channel_boundaries.csv and quantiles.csv equal the first branch's rebuild") {
    val config = aggregateConfig("""{"name": "li", "method": "li", "smooth": [1.0, 1.0]}""",
      """{"name": "circle", "method": "circle"}""")
    val out = Files.createTempDirectory("cli-extents").toString
    Cli.run(spark, out, config.toString)
    // the old export: branch 0 rebuilt, filtered, and its extents taken
    val root = YamlConfig.normalize(
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readAllBytes(config)))
    val cfg = Cli.parseConfig(root)
    val prepared = Pipeline.prepare(spark, Cli.loadSource(spark, root.get("load")), cfg).cache()
    val first = graft.ops.Masking.branch(prepared, cfg.branches.head.method,
      cfg.mainChannelIndex, cfg.combinedIndices)
    val mm = graft.ops.Normalization.groupMinMax(spark, graft.ops.PopulationFilter(spark, first))
    val ref = Files.createTempDirectory("cli-extents-ref").toString
    graft.export.Export.channelBoundariesCsv(spark, mm, cfg.channelNames,
      s"$ref/channel_boundaries.csv")
    graft.export.Export.quantilesCsv(spark, mm, s"$ref/quantiles.csv")
    spark.catalog.clearCache()
    for (f <- Seq("channel_boundaries.csv", "quantiles.csv"))
      assert(Files.readString(Paths.get(out, f)) == Files.readString(Paths.get(ref, f)), f)
    assert(mm.size == 8) // 4 groups × 2 channels
  }

  test("jobs before the export do not depend on the number of branches") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    /** the call site of every job `Cli.run` submits, in order */
    def jobSites(config: java.nio.file.Path): Seq[String] = {
      val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val marker = "cli-spec-marker"
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          sites.add(j.stageInfos.maxBy(_.stageId).name) // the result stage's call site
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      try {
        Cli.run(spark, Files.createTempDirectory("cli-jobs").toString, config.toString)
        sc.setCallSite(marker)
        try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
        // the bus delivers in order: once the marker is in, every job of
        // the run is
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!sites.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      } finally sc.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val all = sites.asScala.toSeq
      assert(all.contains(marker))
      all.takeWhile(_ != marker)
    }
    def beforeExport(sites: Seq[String]): Int = {
      val n = sites.indexWhere(_.contains("Export.scala"))
      assert(n >= 0, sites)
      n
    }
    val one = jobSites(aggregateConfig("""{"name": "circle", "method": "circle"}"""))
    val four = jobSites(aggregateConfig("""{"name": "circle-1", "method": "circle"}""",
      """{"name": "circle-2", "method": "circle"}""",
      """{"name": "li", "method": "li", "smooth": [0.75, 0.75]}""",
      """{"name": "spot", "method": "spot", "spotsize": 5}"""))
    assert(beforeExport(one) == beforeExport(four), s"one branch: $one; four: $four")
    assert(one.length == four.length, s"one branch: $one; four: $four")
  }

  test("an anndata output with channel_boundaries.csv holds no checksum sidecar") {
    val config = Files.createTempFile("cli-anndata-nocrc", ".json")
    Files.writeString(config,
      """{ "load": {"format": "synthetic", "kind": "cells", "n": 12, "channels": 2},
        |  "mask": [{"name": "circle", "method": "circle"}],
        |  "normalization": {"quantile": true},
        |  "feature_extraction": {"types": ["regions", "intensity"]},
        |  "export": {"format": "anndata", "coalesce": 2} }""".stripMargin)
    val out = Files.createTempDirectory("cli-anndata-nocrc").toString
    Cli.run(spark, out, config.toString)
    val names = new java.io.File(out).listFiles().map(_.getName).sorted.toSeq
    assert(names == Seq("channel_boundaries.csv", "features.0.h5ad", "features.1.h5ad"), names)
  }
}
