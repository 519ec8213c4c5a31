package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import graft.core.ImageEvent
import graft.export.{AnnData, Export}
import graft.ops._
import graft.pipeline.{Cli, Pipeline, PipelineConfig, YamlConfig}
import graft.rel.Q
import org.apache.spark.sql.{Dataset, GraftBridge, SparkSession}
import java.nio.file.{Files, Paths}

/** The traced run: the workload's unit of work (one `Cli.run`, or one
  * pass over the registry cells) traced between two untraced ones, with
  * listener counters, Catalyst rule and planning times and job and query
  * spans; then, for the imaging workloads, one probe per layer, each
  * timed around calls into that layer from outside the program.
  *
  * A stage probe times the difference between materializing a cached
  * prefix with and without the stage. Only the stages in the workload's
  * config are probed, in pipeline order, each on the previous stage's
  * output. Layer metrics this workload does not exercise are left out
  * here; the runner reports them as 0.
  */
object Probes {
  type DS = Dataset[ImageEvent]
  private val mb = 1024.0 * 1024.0

  /** every column of every row, written nowhere */
  def mat(ds: Dataset[_]): Unit =
    ds.toDF().write.format("noop").mode("overwrite").save()

  def parse(plan: Main.Plan): (ObjectNode, PipelineConfig) = {
    val text = new String(Files.readAllBytes(Paths.get(plan.config)), "UTF-8")
    val root = YamlConfig.normalize(YamlConfig.parse(text)).asInstanceOf[ObjectNode]
    val arr = JsonNodeFactory.instance.arrayNode()
    plan.paths.foreach(arr.add)
    root.get("load").asInstanceOf[ObjectNode].set[JsonNode]("paths", arr)
    (root, Cli.parseConfig(root))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally w.close()
    }
  }

  /** What one traced run of the workload leaves for the layer probes */
  final class Traced(val spark: SparkSession, val tracer: Tracer,
      val counters: TaskCounters, val phases: PhaseTimes) {
    val rec = new java.util.LinkedHashMap[String, Any]()
    val layers = new java.util.LinkedHashMap[String, Any]()
    def span[T](name: String)(body: => T): T = tracer.span(spark, name)(body)
    def timed[T](name: String)(body: => T): (Double, T) = span(name)(Main.time(body))
    def drain(): Unit = GraftBridge.drainListenerBus(spark)

    /** stop listening and put the spans into the record */
    def finish(): java.util.Map[String, Any] = {
      spark.catalog.clearCache()
      drain()
      spark.listenerManager.unregister(phases)
      spark.sparkContext.removeSparkListener(counters)
      val spans = new java.util.ArrayList[java.util.Map[String, Any]]()
      tracer.spans.foreach { s =>
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
        m.put("run_id", s.runId); m.put("start", s.start); m.put("end", s.end)
        spans.add(m)
      }
      rec.put("layers", layers)
      rec.put("spans", spans)
      rec
    }
  }

  /** untraced, traced (as span `root`), untraced; the spark.* metrics
    * of the traced one. The first untraced run still warms code paths
    * the single set-up left cold, so the overhead compares against the
    * second, made right after the traced run. */
  def traceOnce(spark: SparkSession, plan: Main.Plan, root: String,
      once: String => java.util.Map[String, Any])(body: Traced => Boolean): Traced = {
    val warm = once(s"${plan.out}/untraced0")
    val tracer = new Tracer(s"${plan.workload}/traced")
    val t = new Traced(spark, tracer, new TaskCounters(Some(tracer)), new PhaseTimes)
    spark.sparkContext.addSparkListener(t.counters)
    spark.listenerManager.register(t.phases)
    System.gc()
    t.drain()
    t.counters.reset(); t.phases.reset()
    val rules0 = RuleTimes.snapshot()
    val (wall, ok) = Main.time {
      tracer.span(spark, root) {
        try body(t)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"perfbench: traced $root failed: $e"); false }
      }
    }
    t.drain()
    val (analysisNs, otherRulesNs) = RuleTimes.since(rules0)
    val untraced = once(s"${plan.out}/untraced")
    t.rec.put("untraced", java.util.List.of(warm, untraced))
    t.rec.put("traced", java.util.Map.of("wall_s", wall, "ok", ok, "out", s"${plan.out}/traced"))
    t.rec.put("root_span", root)
    val c = t.counters
    t.layers.put("trace.overhead_s", wall - untraced.get("wall_s").asInstanceOf[Double])
    t.layers.put("spark.analysis_s", analysisNs / 1e9)
    t.layers.put("spark.optimization_s", otherRulesNs / 1e9)
    t.layers.put("spark.planning_s", t.phases.planningMs / 1e3)
    t.layers.put("spark.jobs", c.jobs)
    t.layers.put("spark.stages", c.stages)
    t.layers.put("spark.tasks", c.tasks)
    t.layers.put("spark.shuffle_write_mb", c.shuffleWrite / mb)
    t.layers.put("spark.shuffle_read_mb", c.shuffleRead / mb)
    t.layers.put("spark.task_cpu_s", c.cpuNs / 1e9)
    t.layers.put("spark.gc_s", c.gcMs / 1e3)
    t.layers.put("spark.peak_exec_mem_mb", c.peakExecMem / mb)
    t
  }

  /** registry: one traced pass, with build, planning and execution time,
    * jobs and failures summed per cell family */
  def tracedRegistry(spark: SparkSession, plan: Main.Plan, cells: Seq[Q],
      once: String => java.util.Map[String, Any]): java.util.Map[String, Any] = {
    val perCell = new java.util.ArrayList[java.util.Map[String, Any]]()
    val t = traceOnce(spark, plan, "registry.pass", once) { t =>
      cells.foreach { q =>
        t.drain()
        val (jobs0, plan0) = (t.counters.jobs, t.phases.allPhasesMs)
        val rec = Registry.runCell(spark, q, plan.paths.head, Some(t.tracer))
        t.drain()
        rec.put("jobs", t.counters.jobs - jobs0)
        rec.put("plan_s", (t.phases.allPhasesMs - plan0) / 1e3)
        perCell.add(rec)
      }
      true
    }
    Seq("q", "d", "s", "t", "m", "p").foreach { f =>
      // a cell's family is the first letter of its name
      val mine = (0 until perCell.size).map(perCell.get).filter(_.get("cell").toString.take(1) == f)
      def sum(k: String) = mine.map(_.get(k).asInstanceOf[Number].doubleValue).sum
      t.layers.put(s"registry.$f.build_s", sum("build_s"))
      t.layers.put(s"registry.$f.plan_s", sum("plan_s"))
      t.layers.put(s"registry.$f.exec_s", sum("materialize_s") - sum("plan_s"))
      t.layers.put(s"registry.$f.jobs", sum("jobs").toLong)
      t.layers.put(s"registry.$f.failed",
        mine.count(c => !c.get("ok").asInstanceOf[Boolean]).toLong)
    }
    t.rec.put("cells", perCell)
    t.finish()
  }

  /** imaging: one traced `Cli.run`, then the layer probes */
  def tracedRun(spark: SparkSession, plan: Main.Plan,
      once: String => java.util.Map[String, Any]): java.util.Map[String, Any] = {
    val t = traceOnce(spark, plan, "cli.run", once) { _ =>
      Cli.run(spark, s"${plan.out}/traced", plan.config, plan.paths); true
    }
    t.span("probes")(probeLayers(t, plan))
    t.finish()
  }

  def probeLayers(t: Traced, plan: Main.Plan): Unit = {
    import t.{layers, spark, timed}
    // graft.pipeline: config parsing, and plan building with its eager jobs
    val (root, cfg) = parse(plan)
    layers.put("pipeline.config_s",
      median(Seq.fill(5)(timed("pipeline.config")(parse(plan))._1)))
    val load = root.get("load")
    t.drain()
    val jobs0 = t.counters.jobs
    val (buildS, table) = timed("pipeline.build")(
      Pipeline.run(spark, Cli.loadSource(spark, load), cfg))
    t.drain()
    layers.put("pipeline.build_s", buildS)
    layers.put("pipeline.eager_jobs", t.counters.jobs - jobs0)

    // graft.export: the configured sink over the cached feature table
    table.cache(); mat(table)
    val sink = Option(root.get("export")).flatMap(e => Option(e.get("format")))
      .map(_.asText()).getOrElse("parquet")
    val sinkDir = s"${plan.out}/probe-sink"
    if (sink == "anndata")
      layers.put("export.h5ad_s", timed("export.h5ad")(
        AnnData.export(table, sinkDir, "features"))._1)
    else
      layers.put("export.parquet_s", timed("export.parquet")(
        Export.parquetPartFiles(table, sinkDir, "features"))._1)
    layers.put("export.mb_written", dirBytes(sinkDir) / mb)
    table.unpersist(true)

    // graft.sources: decode every event
    val src = Cli.loadSource(spark, load)
    layers.put("sources.decode_s", timed("sources.decode")(mat(src))._1)
    val c0 = src.cache(); mat(c0)
    layers.put("sources.events", c0.count())
    layers.put("sources.input_mb", plan.paths.map(dirBytes).sum / mb)

    // graft.ops: the configured stages, chained over cached prefixes
    val scans = scala.collection.mutable.Map.empty[DS, Double]
    def scan(ds: DS): Double = scans.getOrElseUpdate(ds, Main.time(mat(ds))._1)
    def stage(name: String, in: DS)(f: DS => DS): DS = {
      val base = scan(in)
      val (dt, out) = timed(s"ops.$name") { val o = f(in).cache(); mat(o); o }
      layers.put(s"ops.${name}_s", dt - base)
      if (in ne c0) in.unpersist(true)
      out
    }
    var head: DS = c0
    if (cfg.illuminationCorrection)
      head = stage("illumination", head)(Illumination.correct(spark, _,
        cfg.illuminationMedianSize))
    cfg.segment.collect { case s: Segmentation.Segmenter => s }.foreach { seg =>
      val before = head.count()
      head = stage("segment", head)(ds => Segmentation.toEvents(
        Segmentation.segment(ds, seg, cfg.segmentParentChannel), cfg.segmentParentChannel))
      layers.put("ops.segment_cells_per_event", head.count().toDouble / math.max(1L, before))
    }
    if (cfg.maskFilters.nonEmpty)
      head = stage("mask_filter", head)(
        Masking.computeFilters(_, cfg.maskFilters, cfg.mainChannelIndex))

    val first = cfg.branches.head
    var branch: DS = null
    cfg.branches.foreach { b =>
      val base = scan(head)
      val (dt, out) = timed(s"ops.mask.${b.name}") {
        val o = Masking.branch(head, b.method, cfg.mainChannelIndex, cfg.combinedIndices).cache()
        mat(o); o
      }
      layers.put(s"ops.mask.${b.name}_s", dt - base)
      if (b eq first) branch = out else out.unpersist(true)
    }
    if (head ne c0) head.unpersist(true)

    if (cfg.populationFilter) {
      val live = (ds: DS) => ds.filter((e: ImageEvent) => e.hasPixels).count()
      val before = live(branch)
      branch = stage("popfilter", branch)(PopulationFilter(spark, _))
      layers.put("ops.popfilter_kept_frac", live(branch).toDouble / math.max(1L, before))
    }
    if (cfg.normalize)
      branch = stage("normalize", branch)(Normalization.normalize(spark, _))

    // graft.ops.Features / graft.kernels: the first branch's families and
    // the raw one, one at a time over the cached masked branch
    val base = scan(branch)
    (first.featureTypes.getOrElse(cfg.featureTypes) :+ "raw").foreach { f =>
      val (dt, _) = timed(s"features.$f")(mat(
        Features.extract(branch, cfg.channelNames, Seq(f), first.name)))
      layers.put(s"features.${f}_s", dt - base)
    }
    branch.unpersist(true)
    c0.unpersist(true)
  }
}
