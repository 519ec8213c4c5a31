package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Cumulative task-level I/O counters — snapshot deltas around each
    * query give measured per-query shuffle/input volume, the direct
    * evidence for the "shuffles carry digests, never text/pixels"
    * scale claims. Attribution is exact: the listener bus is drained
    * (GraftBridge.drainListenerBus) before every snapshot, so no
    * in-flight task-end event can land in a neighboring query. */
  private final class IoListener extends org.apache.spark.scheduler.SparkListener {
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val input = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    def snapshot(): (Long, Long, Long) =
      (shuffleWrite.get, shuffleRead.get, input.get)
  }

  /** Pick the Spark scratch dir for this bench run. tmpfs by default
    * (see the spark.local.dir comment below), but with two guards the
    * round-9 advice asked for: (1) the reused directory is cleaned at
    * startup, so shuffle files from a crashed invocation can't
    * accumulate across runs; (2) tmpfs is only trusted when /dev/shm
    * has ≥ 8× the corpus in free space — shuffle+spill for the
    * heaviest queries stays within a few × corpus, so at the larger
    * scale factors (sf10/100 probes) where that headroom isn't there,
    * fall back to real disk rather than ENOSPC mid-run or squeezing
    * the page cache the timings depend on. SPARK_GRAFT_LOCAL_DIR
    * still overrides everything. */
  private def chooseLocalDir(sfDir: String): String =
    sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      def du(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
        else f.length()
      val shm = new java.io.File("/dev/shm")
      val d = new java.io.File(shm, "graft-bench-local")
      rm(d)
      val corpus = du(new java.io.File(sfDir))
      if (shm.isDirectory && shm.getUsableSpace > 8L * corpus) d.getPath
      else {
        System.err.println(
          s"[bench] /dev/shm headroom ${shm.getUsableSpace} < 8x corpus " +
            s"$corpus — using disk for spark.local.dir")
        java.nio.file.Files.createTempDirectory("graft-bench-local").toString
      }
    })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // shuffle files and spilled/checkpointed blocks on tmpfs: the VM
      // shares a host whose disk latency fluctuates on multi-minute
      // scales, and the localCheckpoint/shuffle-heavy queries (the CC
      // trio, q38) swung 25-50% between invocations while the CPU
      // calibration moved <5% — the artifact should measure the plan's
      // cost, not the neighbors' disk traffic. Local-mode-bench only;
      // a cluster deployment sizes real local disks instead.
      .config("spark.local.dir", chooseLocalDir(sfDir))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JVM/codegen/parquet-footer init otherwise lands on
    // whichever query runs first. Warm EVERY table (not just lineitem —
    // round-2 bench charged d01/d02 ~5s of classload for reading
    // documents.parquet cold) plus one throwaway registry query for the
    // codegen/UDF classload path.
    Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        try spark.read.parquet(f.getPath).count()
        catch { case _: Throwable => } // events.parquet nanos: footer still warmed
      }
    // one relational query (first alphabetically) + one imaging
    // pipeline query: the p-family's synthetic sources, kernel JIT,
    // and wide feature plans otherwise charge their first-run warmup
    // to whichever p-query times first (observed p01 8.4s cold vs
    // 3.3s warm)
    // ...plus one connected-components query: the alternating-star
    // fixpoint's kernel JIT + localCheckpoint block-manager paths
    // otherwise warm up inside whichever CC query times first — the
    // d07/d14/d17 trio swung ±30% across rounds on identical plans,
    // and an unwarmed first-timed-run is half of that lottery
    Seq(SparkEntry.queries.toSeq.sortBy(_._1).headOption.map(_._1),
        Some("p01_pipeline_e2e"), Some("d07_dedup_clusters"))
      .flatten.distinct.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => }
    }
    spark.catalog.clearCache()
    System.gc()
    // deterministic order; caches are per-query scoped — clear between
    // queries so one query's persisted subplans can't poison the next
    // (shared local JVM heap)
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)
    def ioSnapshot(): (Long, Long, Long) = {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      io.snapshot()
    }
    // one timed execution; caches cleared + GC after, so queries are
    // isolated from each other's persisted subplans and garbage
    // (observed d04 swinging 7s..30s with identical plans when GC debt
    // carried over)
    // run-INTEGRATED calibration: one short spin sample (~0.1s, 1/20
    // of the headline calibration's iterations) after every timed
    // query. The single post-warmup snapshot proved to be a one-
    // instant probe of a multi-minute window (round 14: snapshot
    // 1.795, run median drifting as ambient shifted mid-run), so the
    // normalization divides by the run's MEDIAN delivery instead —
    // the median is robust to the handful of samples that land inside
    // a neighbor's burst. ~20s of untimed overhead per invocation;
    // never inside a query's timed span.
    val calSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def spin(iters: Long): Double = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      val t0 = System.nanoTime()
      while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42) System.err.println("") // keep the loop un-eliminable
      (System.nanoTime() - t0) / 1e9
    }
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Boolean, Double, Long, Long, Long) = {
      val before = ioSnapshot()
      val t0 = System.nanoTime()
      // a throwing query must NOT be recorded as a fast successful run
      // (a broken build would make the total IMPROVE): failures are
      // loud on stderr, listed in the artifact, and excluded from the
      // timings so the numbers only ever describe queries that ran
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"ERROR: bench query $name failed: $e")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      System.gc()
      val after = ioSnapshot()
      // scaled ×20 to the headline calibration's iteration count
      calSamples += spin(50000000L) * 20.0
      (ok, dt, after._1 - before._1, after._2 - before._2,
        after._3 - before._3)
    }
    // BEST-OF-2 per query: a single run is at the mercy of whatever
    // else the machine is doing (round 5's record carried a 33s p03
    // that reproduced at ~4s — pure contention); the min of two
    // back-to-back runs bounds that poisoning at the cost of one extra
    // pass. I/O counters are taken from the kept (faster) run — the
    // volumes themselves are plan-deterministic.
    // optional builder-side probe filter (the Verify third-arg
    // convention): comma-separated name prefixes via SPARK_GRAFT_ONLY
    // the value is embedded verbatim in the JSON artifact line, so it
    // must be JSON-safe by construction (a quote or backslash would
    // make the record unparseable); empty string = no filter, so it
    // neither filters nor forces SPARK_GRAFT_BENCH_OUT
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").filter(_.nonEmpty).map { raw =>
        require(raw.matches("[A-Za-z0-9_,]+"),
          "SPARK_GRAFT_ONLY must match [A-Za-z0-9_,]+ (it is embedded " +
            s"verbatim in the bench JSON artifact); got: '$raw'")
        raw.split(',').toSeq.filter(_.nonEmpty)
      }.filter(_.nonEmpty)
    // a filtered probe must NEVER masquerade as the canonical record:
    // refuse the default artifact path when a filter is active
    require(only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT"),
      "SPARK_GRAFT_ONLY is set but SPARK_GRAFT_BENCH_OUT is not — a " +
        "filtered run would overwrite bench_full.json with a partial record")
    // MACHINE CALIBRATION: a deterministic CPU spin (single-thread and
    // all-cores), timed once per invocation, plus the OS load averages.
    // The VM shares a host; whole invocations shift ±30-70% with
    // ambient load the bench can't control (measured: four identical
    // back-to-back CC-probe invocations at loadavg≈2 spread 2-19%
    // per query, shifting UNIFORMLY across unrelated queries — an
    // environment signature, not a plan one). Embedding the
    // calibration in the artifact makes cross-round drift diagnosable
    // FROM THE RECORD: if cal_1t moved, the machine moved.
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    val loadStart = loadavg()
    spin(50000000L) // JIT the spin itself before timing it
    val cal1t = spin(1000000000L)
    val calAll = {
      val nThreads = Runtime.getRuntime.availableProcessors()
      val t0 = System.nanoTime()
      val ts = (0 until nThreads).map { _ =>
        val t = new Thread(() => { spin(500000000L); () }); t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    // iterative driver-loop queries (the alternating-star CC fixpoint,
    // PageRank's synchronized power iterations) stack one JIT/GC/IO
    // lottery ticket PER ROUND of their loop, so best-of-2 under-bounds
    // their variance (observed ±30% across rounds on identical plans
    // where the one-job queries hold ~±5%); they run to CONVERGENCE —
    // up to 5 attempts, stopping once the two fastest agree within 5% —
    // so the recorded min is a stable statistic of the plan given the
    // invocation's environment, and their raw attempt times land in
    // the artifact ("attempts") so within-invocation spread is
    // auditable next to the calibration
    val iterative = Set("d07_dedup_clusters", "d14_dedup_materialize",
      "d17_dup_weights", "d22_cluster_split", "d23_dedup_serve_stored",
      "d24_dedup_serve_bucketed", "q38_pagerank")
    // streaming-trigger cells: each starts a real streaming query
    // (AvailableNow drain), whose fixed trigger/checkpoint overhead is
    // a per-attempt lottery the same way the iterative loops' rounds
    // are (r10 measured p12 swinging 1.9 -> 4.5s on untouched code
    // with no trace to prove the variance) — they get the same
    // attempt-trace + second-window treatment, with a slightly
    // lighter budget (2..4 attempts vs 3..5: one trigger, not N loop
    // rounds)
    val streamingTrigger = Set("p12_stream_windowed",
      "p16_stream_attribution", "p17_stream_dedup", "p21_stream_sessions",
      "p23_exactly_once", "p24_stream_enrich", "p27_stream_curation",
      "p27c_stream_neardup", "p29b_stream_cdc", "p29c_stream_cdc_evicting")
    val traced = iterative ++ streamingTrigger
    val attemptLog =
      scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    // per-attempt START offsets (seconds since the run began), aligned
    // 1:1 with attemptLog — the evidence that adjudicates a host-
    // contention burst from the record alone: a regression cluster
    // whose cells' attempt windows are contiguous in wall time IS the
    // burst signature (r10's p12 and r11's m11..p01 clusters were
    // unprovable precisely because untraced cells kept only their min)
    val startLog =
      scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    val benchStartMs = System.currentTimeMillis()
    def sinceStart(): Double =
      (System.currentTimeMillis() - benchStartMs) / 1e3
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    // the PREVIOUS round's per-query record (read BEFORE this run
    // overwrites the file): any untraced cell whose best-of-2 lands
    // >1.5x its previous time gets one extra attempt at the END of the
    // run — the second-window rule the traced set already follows —
    // so a contention burst during its first window can't stand as the
    // round's number without a late-window sample to contradict it.
    // Only trusted when the previous artifact ran the same sf.
    val prevQueries: Map[String, Double] = {
      val path = sys.env.getOrElse("SPARK_GRAFT_PREV_BENCH", outPath)
      try {
        val f = new java.io.File(path)
        if (!f.isFile) Map.empty
        else {
          val node =
            new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
          if (node.path("sf").asText("") != sfDir) Map.empty
          else {
            val q = node.path("queries")
            val it = q.fieldNames()
            val b = Map.newBuilder[String, Double]
            while (it.hasNext) {
              val k = it.next(); b += k -> q.path(k).asDouble()
            }
            b.result()
          }
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"WARN: previous bench artifact unreadable: $e")
        Map.empty
      }
    }
    val runs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .map { case (name, fn) =>
      val maxAttempts =
        if (iterative(name)) 5 else if (streamingTrigger(name)) 4 else 2
      val minAttempts = if (iterative(name)) 3 else 2
      // ANY attempt failing marks the query failed: a pass-then-throw
      // is rerun-instability (leaked state, fixture race) that a
      // best-of record must surface, not hide behind run 1's timing
      var times = List.empty[Double]
      var kept: Option[(Boolean, Double, Long, Long, Long)] = None
      var bad: Option[(Boolean, Double, Long, Long, Long)] = None
      var i = 0
      def converged: Boolean = {
        val best2 = times.sorted.take(2)
        i >= minAttempts && best2.size == 2 && best2(1) <= best2.head * 1.05
      }
      var starts = List.empty[Double]
      while (i < maxAttempts && bad.isEmpty && !converged) {
        starts ::= sinceStart()
        val r = runOnce(name, fn)
        // the failed attempt's wall time is logged too (keeps the
        // attempts/starts arrays aligned); it never enters the kept
        // timings — the query is excluded from results on any failure
        times ::= r._2
        if (!r._1) bad = Some(r)
        else if (kept.forall(r._2 < _._2)) kept = Some(r)
        i += 1
      }
      // EVERY cell's raw attempts + start offsets land in the artifact
      // (the data was always measured; only the min used to survive) —
      // so any future regression, traced or not, is adjudicable from
      // the record without a re-run
      attemptLog(name) = times.reverse
      startLog(name) = starts.reverse
      val v = bad.orElse(kept).get
      (name, bad.isEmpty, (v._2, v._3, v._4, v._5))
    }
    val results0 = runs.collect { case (name, true, v) => name -> v }.toMap
    // SECOND-WINDOW revisit for the traced set (iterative + streaming-
    // trigger): their back-to-back
    // attempts all sit inside one host-contention burst window, so an
    // invocation that lands on a noisy minute records a uniformly slow
    // plateau no matter how many attempts it takes (measured: plateau
    // mins 2.0/2.4/2.6s across three identical d07-only invocations).
    // One more attempt at the END of the run — minutes away from the
    // first window — samples an independent burst; min over BOTH
    // windows is what makes two independent invocations reproduce.
    // The any-attempt-fails rule applies here too: a late-window throw
    // is the same rerun-instability the main loop surfaces.
    // ...and for any UNTRACED cell whose best-of-2 regressed >1.5x vs
    // the previous round's artifact (same sf): its first-window
    // attempts all sat inside one burst window too, so the same late
    // sample either clears the regression or confirms the plan got
    // slower — the record adjudicates either way (the hole r10's p12
    // and r11's m12/m13/p01 sat in).
    val lateFailed = scala.collection.mutable.ListBuffer.empty[String]
    val regressed = scala.collection.mutable.ListBuffer.empty[String]
    val results = results0.map { case (name, v) =>
      val regressedVsPrev =
        prevQueries.get(name).exists(p => p > 0 && v._1 > p * 1.5)
      if (!traced(name) && regressedVsPrev) regressed += name
      if (!traced(name) && !regressedVsPrev) name -> v
      else {
        startLog(name) = startLog.getOrElse(name, Nil) :+ sinceStart()
        val r = runOnce(name, SparkEntry.queries(name))
        attemptLog(name) = attemptLog.getOrElse(name, Nil) :+ r._2
        if (r._1) {
          if (r._2 < v._1) name -> ((r._2, r._3, r._4, r._5)) else name -> v
        } else { lateFailed += name; name -> v }
      }
    }.filterNot { case (name, _) => lateFailed.contains(name) }
    val failed = runs.filterNot(_._2).map(_._1) ++ lateFailed
    // Truncation-proof reporting. The driver tail-captures stdout, and
    // both the r3 (~4.6 KB unsorted) and r4 (~2.3 KB sorted) single
    // lines lost their HEAD to the capture window — an unparseable
    // fragment. So: the full per-query map prints FIRST (losing its
    // head costs nothing; the file artifact is the lossless record),
    // and the LAST line is a compact ~0.6 KB summary — total plus the
    // slowest-12 per-query timings — that any tail capture keeps whole.
    def r4(v: Double): Double = math.rint(v * 1e4) / 1e4
    val sorted = results.toSeq.sortBy(_._1)
    def qJson(entries: Seq[(String, (Double, Long, Long, Long))]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + r4(v._1) }
        .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    // CALIBRATION-NORMALIZED TOTAL: three rounds running, the
    // cross-round totals delta has been window-dominated (r13's +9.6%
    // arrived with loadavg 5.25 and cal_1t 2.10 vs a quiet ~1.6), so
    // the artifact now carries the total scaled to a PINNED reference
    // calibration: normalized_total = total * (RefCal1t / cal_1t).
    // The single-thread spin is the cleanest ambient proxy the record
    // has (pure CPU, no I/O, immune to plan changes); the rule and the
    // pinned constant are documented in SCALE.md — cross-round
    // comparisons should read normalized_total first and fall back to
    // the raw value + env block for anything surprising.
    // quiet-window calibration on this machine, RE-DERIVED round 15
    // with the SAME 50M×20-burst-median discipline the run-integrated
    // divisor uses (the r14 advice flagged the original pin as a
    // sustained-1e9 measurement — a methodology mismatch): six
    // interleaved (burst-median, sustained) rounds at loadavg≈1.0 gave
    // burst medians 1.901..1.931 (median 1.918) and burst/sustained
    // ratios 0.994..1.020 (mean 1.003), so the two disciplines agree
    // within ±2% on this host and the pin stands at 1.92 — now
    // methodology-matched to its divisor. Raw totals stay primary in
    // cross-round claims; see SCALE.md for the probe record.
    val RefCal1t = 1.92
    // the run-integrated median (one sample per timed query) is the
    // divisor when enough samples exist; the post-warmup snapshot is
    // the fallback for tiny filtered probes
    val calRunMed: Option[Double] =
      if (calSamples.size >= 3) {
        val s = calSamples.sorted
        Some(s(s.size / 2))
      } else None
    val calEffective = calRunMed.getOrElse(cal1t)
    val normalizedTotal =
      if (calEffective > 0) total * (RefCal1t / calEffective) else total
    // per-cell AMBIENT flag: a cell whose own attempts spread >1.5×
    // within one invocation was measured under contention (identical
    // plan, same JVM, minutes apart) — the min is still kept, but the
    // flag marks the cell so a cross-round regression on it reads as
    // weather until a quiet re-run says otherwise
    val ambientSuspect = attemptLog.collect {
      case (name, ts) if ts.size >= 2 && ts.min > 0 &&
        ts.max / ts.min > 1.5 => name
    }.toSeq.sorted
    val ioJson = sorted.map { case (k, v) =>
      "\"" + k + "\":{\"sw_mb\":" + r4(v._2 / 1e6) + ",\"sr_mb\":" +
        r4(v._3 / 1e6) + ",\"in_mb\":" + r4(v._4 / 1e6) + "}"
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val attemptsJson = attemptLog.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(r4).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val startsJson = startLog.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(t => r4(t)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val regressedJson = regressed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val envJson =
      s"""{"cal_1t_sec":${r4(cal1t)},"cal_allcores_sec":${r4(calAll)},"cal_ref_1t_sec":$RefCal1t,"cal_run_med_1t_sec":${calRunMed.map(r4).getOrElse(-1.0)},"cal_run_n":${calSamples.size},"loadavg_start":${r4(loadStart)},"loadavg_end":${r4(loadavg())},"run_start_epoch_ms":$benchStartMs}"""
    val ambientJson = ambientSuspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    // file artifact: everything (all timings + measured per-query I/O +
    // the machine calibration + per-cell attempt traces and attempt
    // START offsets — enough to adjudicate a contention burst from the
    // record alone)
    val fileLine =
      s"""{"metric":"total","value":${r4(total)},"normalized_total":${r4(normalizedTotal)},"unit":"sec","queries":${qJson(sorted)},"sf":"$sfDir","n_queries":${results.size},"failed":$failedJson,"env":$envJson,"ambient_suspect":$ambientJson,"attempts":$attemptsJson,"starts":$startsJson,"revisited_regressions":$regressedJson,"io":$ioJson${only.map(o => s""","only":"${o.mkString(",")}"""").getOrElse("")}}"""
    val artifactRef =
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outPath), (fileLine + "\n").getBytes("UTF-8"))
        outPath
      } catch {
        // the file is the LOSSLESS record (stdout only guarantees the
        // compact total line survives capture) — a failed write must be
        // loud, even though the run itself still reports via stdout
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"WARN: bench artifact write to $outPath failed: $e — " +
              "full per-query timings/IO survive only in stdout")
          s"WRITE_FAILED:$outPath"
      }
    println(s"""{"metric":"per_query","unit":"sec","queries":${qJson(sorted)},"sf":"$sfDir"}""")
    // r16 driver-contract fix (VERDICT r15 item 2): the FINAL stdout line
    // is one JSON object with the FULL per-query map — the r14/r15 drivers
    // could not build a per-query table from the slowest-12 summary that
    // used to stand here (PERF per_query was empty both rounds). The
    // compact slowest-12 summary still prints, one line earlier, so any
    // small tail capture keeps a whole line; bench_full.json remains the
    // lossless record (attempts/starts/io/env).
    val slowest = sorted.sortBy(-_._2._1).take(12).sortBy(_._1)
    println(
      s"""{"metric":"total_summary","value":${r4(total)},"normalized_total":${r4(normalizedTotal)},"unit":"sec","queries":${qJson(slowest)},"sf":"$sfDir","n_queries":${results.size},"failed":$failedJson,"queries_shown":"slowest_12_of_${results.size}","full_artifact":"$artifactRef"}""")
    println(
      s"""{"metric":"total","value":${r4(total)},"normalized_total":${r4(normalizedTotal)},"unit":"sec","queries":${qJson(sorted)},"sf":"$sfDir","n_queries":${results.size},"failed":$failedJson,"full_artifact":"$artifactRef"}""")
    spark.stop()
  }
}
