package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.pipeline.Cli
import org.apache.spark.sql.{GraftBridge, SparkSession}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: set-up, the timed closed loop (of `Cli.run`
  * calls, or of passes over the registry cells), and the traced run.
  * Reads one plan file written by `run.py` and writes one result file;
  * output checks happen in `run.py` after this process has exited,
  * outside every timed span.
  *
  * Usage: `perfbench.Main PLAN.json RESULT.json`
  */
object Main {
  private val json = new ObjectMapper()

  final case class Plan(workload: String, config: String, paths: Seq[String],
      warmConfig: String, warmPaths: Seq[String], out: String, localDir: String,
      seconds: Double, trace: Boolean, setups: Int, settle: Int, cpus: Int,
      cells: Seq[String]) {
    def registry: Boolean = cells.nonEmpty
  }

  private def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq

  def readPlan(path: String): Plan = {
    val p = json.readTree(Files.readAllBytes(Paths.get(path)))
    Plan(p.get("workload").asText(), p.get("config").asText(""), strings(p.get("paths")),
      p.get("warm_config").asText(""), strings(p.get("warm_paths")), p.get("out").asText(),
      p.get("local_dir").asText(), p.get("seconds").asDouble(),
      p.get("trace").asBoolean(), p.get("setups").asInt(), p.get("settle").asInt(),
      p.get("cpus").asInt(),
      strings(p.get("cells")))
  }

  /** the session `Cli.main` builds, or for the registry the one
    * `graft.Verify` and `graft.Bench` build (with the program's planner
    * extensions), with scratch space kept in the benchmark's own
    * directory */
  def session(plan: Plan, k: Int): SparkSession = {
    val builder = SparkSession.builder()
    if (plan.registry) builder.withExtensions(new graft.plans.GraftExtensions)
    val spark = builder
      .master(s"local[${plan.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", plan.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", plan.localDir)
      // a stopped session's managed tables stay on disk, unknown to the
      // next session's catalog: each set-up session gets its own
      .config("spark.sql.warehouse.dir", s"${plan.localDir}/warehouse$k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** single-thread spin (the calibration `graft.Bench` records as cal_1t,
    * at 1/10 of its iterations): if this moved, the machine moved */
  def spin(iters: Long = 100000000L): Double = {
    var x = 0x9E3779B97F4A7C15L; var i = 0L
    val t0 = System.nanoTime()
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** seconds the JIT compilers and the garbage collectors have spent in
    * this process so far: a run that compiled or collected more than the
    * next one was still warming up */
  def jitGcSeconds(): (Double, Double) = {
    import java.lang.management.ManagementFactory
    (ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3)
  }

  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: perfbench.Main PLAN.json RESULT.json")
    val plan = readPlan(args(0))
    // where this process's time went, for the run record
    val t0 = System.nanoTime()
    val phases = new java.util.LinkedHashMap[String, Any]()
    def mark(name: String): Unit = phases.put(name, (System.nanoTime() - t0) / 1e9)
    val result = new java.util.LinkedHashMap[String, Any]()
    val context = new java.util.LinkedHashMap[String, Any]()
    context.put("nproc", Runtime.getRuntime.availableProcessors())
    context.put("cpus", plan.cpus)
    context.put("loadavg_start", loadavg())
    context.put("cal_1t_sec", spin())
    context.put("java_version", System.getProperty("java.version"))
    context.put("jvm", System.getProperty("java.vm.name") + " " +
      System.getProperty("java.vm.version"))
    context.put("spark_version", org.apache.spark.SPARK_VERSION)

    // set-up: session start plus one warm-up of the same work, repeated;
    // every session but the last is stopped again. The imaging warm-up is
    // a `Cli.run` of the same config on separate inputs of the same size;
    // the registry's is one execution of every cell on the workload's own
    // tables, written to parquet for the output checks.
    mark("context")
    // looked up in the first set-up, which so pays for loading the registry
    lazy val cells = if (plan.registry) Registry.cells(plan.cells) else Nil
    val setups = new java.util.ArrayList[Double]()
    var spark: SparkSession = null
    for (k <- 1 to plan.setups) {
      val (dt, s) = time {
        val s = session(plan, k)
        if (plan.registry) Registry.writeOutputs(s, cells, plan.paths.head, s"${plan.out}/setup$k")
        else Cli.run(s, s"${plan.out}/warm$k", plan.warmConfig, plan.warmPaths)
        s
      }
      setups.add(dt)
      spark = s
      if (k < plan.setups) { spark.stop(); spark = null }
    }
    result.put("setup_s", setups)
    mark("setups")

    val counters = new TaskCounters(None)
    spark.sparkContext.addSparkListener(counters)
    val once = if (plan.registry) (out: String) =>
      Registry.pass(spark, cells, plan.paths.head, counters)
    else (out: String) => cliRun(spark, plan, out, counters)
    if (!plan.trace) {
      result.put("settle", (1 to plan.settle).map(k => once(s"${plan.out}/settle$k")).asJava)
      result.put("runs", timedLoop(plan, once))
    } else if (plan.registry) result.put("trace", Probes.tracedRegistry(spark, plan, cells, once))
    else result.put("trace", Probes.tracedRun(spark, plan, once))
    mark("measured")
    context.put("loadavg_end", loadavg())
    result.put("context", context)
    spark.stop()
    mark("stopped")
    result.put("phases_at_s", phases)
    json.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(args(1)), result)
  }

  /** one untraced `Cli.run`: wall time from call to return (the sink
    * files are closed when it returns) and the largest task execution
    * memory seen while it ran */
  def cliRun(spark: SparkSession, plan: Plan, out: String,
      counters: TaskCounters): java.util.Map[String, Any] = {
    val rec = new java.util.LinkedHashMap[String, Any]()
    System.gc()
    GraftBridge.drainListenerBus(spark)
    counters.reset()
    val (jit0, gc0) = jitGcSeconds()
    val t0 = System.nanoTime()
    try {
      Cli.run(spark, out, plan.config, plan.paths)
      rec.put("ok", true)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"perfbench: Cli.run failed: $e")
        rec.put("ok", false)
        rec.put("error", e.toString)
    }
    rec.put("wall_s", (System.nanoTime() - t0) / 1e9)
    val (jit1, gc1) = jitGcSeconds()
    rec.put("jit_s", jit1 - jit0)
    rec.put("gc_s", gc1 - gc0)
    GraftBridge.drainListenerBus(spark)
    rec.put("peak_exec_mem_bytes", counters.peakExecMem)
    rec.put("out", out)
    rec
  }

  /** closed loop: one run at a time until `seconds` have passed, and at
    * least three */
  def timedLoop(plan: Plan, once: String => java.util.Map[String, Any])
      : java.util.List[java.util.Map[String, Any]] = {
    val runs = new java.util.ArrayList[java.util.Map[String, Any]]()
    val t0 = System.nanoTime()
    while (runs.size < 3 || (System.nanoTime() - t0) / 1e9 < plan.seconds)
      runs.add(once(s"${plan.out}/run${runs.size}"))
    runs
  }
}
