package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import graft.rel.Q
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** The registry workload: a fixed subset of `SparkEntry.queries` cells,
  * one after another, each built with `fn(spark, tablesDir)` and then
  * materialized with every output column to the `noop` sink.
  */
object Registry {
  def cells(names: Seq[String]): Seq[Q] = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, sys.error(s"no registry cell $n")))
  }

  /** one cell: build (which includes any eager jobs the cell runs while
    * it builds its plan), then materialize */
  def runCell(spark: SparkSession, q: Q, dir: String,
      tracer: Option[Tracer] = None): java.util.Map[String, Any] = {
    val rec = new java.util.LinkedHashMap[String, Any]()
    rec.put("cell", q.name)
    def span[T](phase: String)(body: => T): T = tracer match {
      case Some(t) => t.span(spark, s"registry.${q.name}.$phase")(body)
      case None => body
    }
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val df = span("build")(q.fn(spark, dir))
      t1 = System.nanoTime()
      span("materialize")(Probes.mat(df))
      rec.put("ok", true)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"perfbench: ${q.name} failed: $e")
        rec.put("ok", false)
        rec.put("error", e.toString)
    }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    rec.put("build_s", (t1 - t0) / 1e9)
    rec.put("materialize_s", (t2 - t1) / 1e9)
    rec
  }

  /** one pass over the cells; `wall_s` is the sum of the cells' times */
  def pass(spark: SparkSession, qs: Seq[Q], dir: String,
      counters: TaskCounters): java.util.Map[String, Any] = {
    val rec = new java.util.LinkedHashMap[String, Any]()
    System.gc()
    GraftBridge.drainListenerBus(spark)
    counters.reset()
    val (jit0, gc0) = Main.jitGcSeconds()
    val cellRecs = new java.util.ArrayList[java.util.Map[String, Any]]()
    qs.foreach(q => cellRecs.add(runCell(spark, q, dir)))
    val (jit1, gc1) = Main.jitGcSeconds()
    rec.put("jit_s", jit1 - jit0)
    rec.put("gc_s", gc1 - gc0)
    GraftBridge.drainListenerBus(spark)
    var wall = 0.0
    var ok = true
    cellRecs.forEach { c =>
      wall += c.get("build_s").asInstanceOf[Double] + c.get("materialize_s").asInstanceOf[Double]
      ok &&= c.get("ok").asInstanceOf[Boolean]
    }
    rec.put("ok", ok)
    rec.put("wall_s", wall)
    rec.put("peak_exec_mem_bytes", counters.peakExecMem)
    rec.put("cells", cellRecs)
    rec
  }

  /** each cell's output as one parquet file under `out/<cell>` (the way
    * `graft.Verify` writes it), with the cells' DuckDB oracle SQL beside
    * them, for the checks that run after this process has exited */
  def writeOutputs(spark: SparkSession, qs: Seq[Q], dir: String, out: String): Unit = {
    qs.foreach { q =>
      try q.fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"perfbench: ${q.name} output not written: $e")
      }
    }
    val oracle = new java.util.TreeMap[String, String]()
    val sql = SparkEntry.oracleSql
    qs.foreach(q => sql.get(q.name).foreach(oracle.put(q.name, _)))
    new ObjectMapper().writeValue(new java.io.File(s"$out/oracle_sql.json"), oracle)
  }
}
