package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming extension over the `events` stream schema
  * (event_id, user_id, ts, event_type, value, props).
  *
  * The reference is batch-only (SURVEY.md §2.1 "not present"); this
  * module is the engine's streaming surface: the same transforms
  * declared once and runnable on either a static DataFrame or a
  * `readStream` source — Catalyst plans the incremental version with
  * watermark-based state eviction. Stateful per-key logic uses
  * `flatMapGroupsWithState`, the Spark-native analogue of a custom
  * stateful operator.
  */
object Streaming {

  /** event-time tumbling-window aggregate with a watermark — the
    * streaming form of rel.RelQueries q21_time_bucket. On a static
    * frame the watermark is a no-op and results equal the batch
    * query (asserted in StreamingSpec). */
  def windowedTypeCounts(events: DataFrame,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
          .as("sum_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** streaming exact dedup — the incremental form of d01: keep the
    * first occurrence of each content digest, with state bounded by
    * the watermark horizon (dropDuplicatesWithinWatermark keys state
    * on the digest only and evicts entries older than the watermark —
    * the 100 TB-stream shape: state size tracks the horizon's distinct
    * digests, never the full history). */
  def dedupStream(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame = {
    val digested = docs.withColumn("digest", md5(col(textCol)))
    val deduped =
      if (docs.isStreaming)
        digested.withWatermark(tsCol, watermark)
          .dropDuplicatesWithinWatermark("digest")
      else {
        // batch parity: dropDuplicatesWithinWatermark is
        // streaming-only (UnsupportedOperationChecker rejects it on a
        // static frame). dropDuplicates("digest") would keep an
        // ARBITRARY row per digest (partition-dependent) — the batch
        // equivalent of the stream's "first occurrence" is the
        // earliest row per digest, tie-broken over the remaining
        // ORDERABLE columns (a map-typed column would fail analysis
        // in an orderBy) so the survivor is total-order deterministic
        // whenever the orderable columns distinguish the rows
        val orderable = digested.schema.fields
          .filter(f => org.apache.spark.sql.catalyst.expressions
            .RowOrdering.isOrderable(f.dataType))
          .map(_.name).toSeq
        val order = col(tsCol) +: orderable
          .filterNot(c => c == "digest" || c == tsCol).map(col)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("digest").orderBy(order: _*)
        digested.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
      }
    deduped.drop("digest") // internal helper column, not caller schema
  }

  /** stream-stream attribution join: each purchase joined to the same
    * user's clicks within the preceding `horizon` — the streaming form
    * of the batch as-of join (rel q26), bounded so state can be
    * evicted. Both sides carry event-time watermarks and the join
    * condition is time-bounded, which is exactly what lets Spark drop
    * buffered rows once the watermark passes the horizon: state size
    * tracks the horizon, never the full history. (A streaming "latest
    * click only" would need a second stateful pass; the reference
    * attribution window emits every in-horizon click with its lag.) */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    p.join(c, expr(
      s"""p_user = c_user AND
         |click_ts <= purchase_ts AND
         |click_ts >= purchase_ts - INTERVAL $horizon""".stripMargin))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** File-source events STREAM with the same schema + ts normalization
    * `Tables.events` applies to the batch read (shared by every
    * registry query that runs the real incremental engine). */
  /** Two-layout file stream over `$dir/<name>` — THE shared source
    * plumbing for every streamed registry gate (events/documents/
    * orders). FileStreamSource requires a DIRECTORY base path, so two
    * layouts are accepted (the same two the batch readers handle): a
    * single FILE `<name>` (driver testdata) is scoped via
    * pathGlobFilter over its parent, while a Spark-written DIRECTORY
    * `<name>` (part-files inside) streams from the directory itself —
    * the glob would match no part-file there and silently drain zero
    * rows. Schema comes from a batch probe of the same path. The probe
    * is memoized JVM-wide and FIRST-PROBE-WINS: schema-affecting
    * session confs are NOT part of the key, so a caller that needs a
    * conf-dependent schema (only nanosAsLong today) must set it before
    * the FIRST probe of that path — [[eventsStream]] does, and it is
    * the only events-path prober; docs/orders have no nanos columns.
    * Unbounded, but keyed by distinct (path, mtime, len) of a handful
    * of static test tables. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]

  private def tableStream(s: SparkSession, dir: String, name: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val path = s"$dir/$name"
    val hPath = new org.apache.hadoop.fs.Path(path)
    val status = hPath
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(hPath)
    val isDirLayout = status.isDirectory
    // the batch probe re-lists and re-reads the parquet footers on
    // EVERY drain construction — pure per-query fixed cost for a
    // static table (10 streamed registry cells × 2-4 bench attempts
    // each probe the same testdata files). Memoize per (path, mtime,
    // len): the status (already fetched for the layout check) keys the
    // cache, so a FILE-layout in-place rewrite — a new mtime — re-probes
    // instead of serving a stale schema. For a DIRECTORY layout the
    // top-level mtime only changes when direct children are created or
    // deleted — a rewrite confined to nested partition subdirs would be
    // missed; the streamed tables are all flat Spark-written dirs, so
    // the invalidation matches the layouts that exist. Metadata-only;
    // the drain still reads every data row from the files.
    // Plain get → probe OUTSIDE the map lock → putIfAbsent (r15 advice):
    // computeIfAbsent would hold the CHM bin lock across a Spark job, so
    // concurrent first-probes of colliding keys (parallel test suites)
    // serialize behind a footer read. A racing duplicate probe is
    // harmless — both compute the same schema; first insert wins.
    val key = (path, status.getModificationTime, status.getLen)
    val batchSchema = {
      val cached = schemaCache.get(key)
      if (cached != null) cached
      else {
        val probed = s.read.parquet(path).schema
        val prior = schemaCache.putIfAbsent(key, probed)
        if (prior != null) prior else probed
      }
    }
    val rdr0 = s.readStream.schema(batchSchema)
    val rdr = maxFilesPerTrigger.fold(rdr0)(n =>
      rdr0.option("maxFilesPerTrigger", n.toString))
    if (isDirLayout) rdr.parquet(path)
    else rdr.option("pathGlobFilter", name).parquet(dir)
  }

  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // schema from the batch reader (nanosAsLong conversions included),
    // then the same ts normalization Tables.events applies
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = tableStream(s, dir, "events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** [[windowedTypeCounts]] executed as a REAL incremental streaming
    * query — not batch parity, the streaming engine itself: a file
    * `readStream` over the events parquet, Trigger.AvailableNow (drain
    * everything visible, then stop — the deterministic "batch via the
    * streaming engine" trigger), Complete-mode aggregate into a memory
    * sink, result handed back as a static DataFrame. This is the
    * registry's proof that the incremental plan (state store, trigger
    * scheduling, complete-mode snapshotting) computes the SAME answer
    * the batch plan and the DuckDB oracle do — windowed-aggregate
    * parity is otherwise only spec-asserted on static frames.
    *
    * Scale posture: the streamed aggregate's state is windows×types
    * (bounded); the memory sink holds only that aggregate, never
    * events. On a real cluster the same code ships with a durable
    * checkpoint dir + kafka/file source — AvailableNow is THE
    * recommended backfill trigger, so this path is the production
    * backfill shape, not a test harness. The sink's temp view is
    * dropped before returning (the result is localCheckpointed off the
    * view first), so repeated calls cannot collide or leak catalog
    * entries. */
  def windowedTypeCountsStreamed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val events = eventsStream(s, dir)
    val name = "p12_sink_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // one state-store instance per shuffle partition, and the windowed
    // aggregate commits every instance per micro-batch: the same
    // bounded-drain scoping p16/p17/p21/p27/p29 already apply (p12 was
    // the one streamed cell still paying 32 store instances for a
    // windows×types-bounded aggregate). Same restore-after-termination
    // race note as attributionJoinStreamed.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val q =
      try windowedTypeCounts(events)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
      catch { case e: Throwable =>
        s.conf.set("spark.sql.shuffle.partitions", prevParts); throw e
      }
    try {
      try q.awaitTermination()
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      // layout-mismatch guard on the SOURCE side: a mismatched file
      // listing drains zero INPUT rows — that is the error state. The
      // OUTPUT being empty is not (it just mirrors an empty input
      // here), and checking input keeps the contract aligned with the
      // join/dedup drains below, where empty output is legitimate.
      requireSourceDrained(drainStats(q), dir)
      s.table(name)
        .withColumn("window_start",
          date_format(col("window_start"), "yyyy-MM-dd HH:00"))
        .orderBy("window_start", "event_type")
        .localCheckpoint(true)
    } finally {
      // runs on the failure path too — the sink's view must not leak
      if (q.isActive) q.stop()
      s.catalog.dropTempView(name)
    }
  }

  /** Per-drain observability read off the finished query's progress
    * log: total source rows ingested across micro-batches and the
    * final stateful-operator row count (after the last watermark
    * advance — i.e. AFTER eviction ran). StreamingSpec pins the
    * watermark-bounded-state claim on these numbers. */
  private[graft] final case class DrainStats(inputRows: Long,
      stateRows: Long, stateRowsRemoved: Long = 0L)

  private[graft] def drainStats(
      q: org.apache.spark.sql.streaming.StreamingQuery): DrainStats = {
    val progress = q.recentProgress
    // state rows from the LAST batch that reported stateful operators:
    // AvailableNow appends a final empty batch to advance the watermark
    // and run eviction, so this is the post-eviction footprint.
    // (Caveat: the HDFS-backed store can over-report numRowsTotal in
    // the first batches after a checkpoint RESTART — eviction proofs
    // should use stateRowsRemoved, which counts actual removals.)
    val stateRows = progress.reverse
      .find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)
      .getOrElse(0L)
    val removed = progress.map(_.stateOperators.map(_.numRowsRemoved).sum).sum
    DrainStats(progress.map(_.numInputRows).sum, stateRows, removed)
  }

  /** The layout-mismatch guard shared by the streamed registry
    * queries: a file listing that matches nothing drains zero SOURCE
    * rows — loud error. An empty RESULT is not checked: for a
    * stream-stream join (no click within the horizon of any purchase)
    * or a filtered dedup it is a legitimate data state the oracle
    * reproduces, not a harness failure. */
  private def requireSourceDrained(st: DrainStats, dir: String,
      table: String = "events.parquet"): Unit =
    require(st.inputRows > 0,
      s"streaming source drained ZERO input rows from $dir/$table — " +
        "file-source layout mismatch (no files matched the listing)")

  /** [[attributionJoin]] executed as a REAL incremental stream-stream
    * join (p16): both sides are file `readStream`s over the events
    * parquet (the p12 source shape), filtered to clicks/purchases,
    * joined under watermarks with the time-bounded condition,
    * Trigger.AvailableNow into an append-mode memory sink. Unlike a
    * dedup, the join OUTPUT is a set — no survivor ambiguity — so the
    * drained result hash-gates against the DuckDB time-bounded join
    * directly. State posture: both buffers evict at watermark-horizon,
    * so state tracks the horizon, never history; AvailableNow drains
    * the backlog deterministically (the production backfill trigger). */
  def attributionJoinStreamed(s: SparkSession, dir: String): DataFrame =
    attributionJoinDrained(s, dir)._1

  private[graft] def attributionJoinDrained(
      s: SparkSession, dir: String): (DataFrame, DrainStats) = {
    import org.apache.spark.sql.streaming.Trigger
    val events = eventsStream(s, dir)
    val clicks = events.filter(col("event_type") === "click" &&
      col("user_id").isNotNull)
    val purchases = events.filter(col("event_type") === "purchase" &&
      col("user_id").isNotNull)
    val name = "p16_sink_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // A stream-stream join runs FOUR state-store instances per shuffle
    // partition (left/right × key-to-count/key-with-index); the store
    // count is fixed at QUERY START from shuffle.partitions and is pure
    // fixed overhead for a bounded backfill drain. Scope the partition
    // count down for this query only (each call starts its own query
    // with a fresh checkpoint, so the setting cannot leak into another
    // stream's state layout); a long-lived production deployment sizes
    // it to its own throughput before .start().
    // NOTE the conf is restored only AFTER awaitTermination: the query
    // reads shuffle.partitions in its OWN run thread while constructing
    // the first microbatch, so restoring at .start()-return would race.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val q =
      try attributionJoin(clicks, purchases)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      catch { case e: Throwable =>
        s.conf.set("spark.sql.shuffle.partitions", prevParts); throw e
      }
    try {
      try q.awaitTermination()
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val st = drainStats(q)
      // an EMPTY JOIN RESULT is a legitimate data state (no click
      // within the horizon of any purchase — the oracle returns zero
      // rows too); only a zero-input drain is an error
      requireSourceDrained(st, dir)
      val out = s.table(name)
        .select(col("purchase_id"), col("user_id"),
          unix_micros(col("purchase_ts")).as("purchase_ts_us"),
          col("click_id"), unix_micros(col("click_ts")).as("click_ts_us"))
        .orderBy("purchase_id", "click_id")
        .localCheckpoint(true)
      (out, st)
    } finally {
      if (q.isActive) q.stop()
      s.catalog.dropTempView(name)
    }
  }

  /** Streaming DEDUP through the real incremental engine (p17 — the
    * third stateful-operator class under the value gate, after p12's
    * aggregation and p16's join): file readStream →
    * `dropDuplicatesWithinWatermark` on the (user_id, event_type)
    * digest → AvailableNow append sink. WHICH physical row survives a
    * duplicate group is arrival-order-dependent, so only the KEY
    * columns are projected — the surviving key SET is deterministic
    * and hash-gates against DuckDB's DISTINCT. State posture: the
    * digest set evicts at the watermark (the operator's whole point
    * vs plain dropDuplicates, whose state never shrinks). */
  def streamedKeyDedup(s: SparkSession, dir: String): DataFrame =
    keyDedupDrained(s, dir)._1

  private[graft] def keyDedupDrained(
      s: SparkSession, dir: String): (DataFrame, DrainStats) = {
    import org.apache.spark.sql.streaming.Trigger
    val events = eventsStream(s, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"))
    val name = "p17_sink_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // one state-store instance per partition; same bounded-drain
    // scoping (and the same restore-after-termination race note) as
    // attributionJoinStreamed
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val q =
      try events
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("user_id", "event_type")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      catch { case e: Throwable =>
        s.conf.set("spark.sql.shuffle.partitions", prevParts); throw e
      }
    try {
      try q.awaitTermination()
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val st = drainStats(q)
      // empty output is legitimate here too (e.g. every user_id NULL —
      // the oracle's filtered DISTINCT is empty as well); only a
      // zero-input drain is a harness failure
      requireSourceDrained(st, dir)
      val out = s.table(name)
        .orderBy("user_id", "event_type")
        .localCheckpoint(true)
      (out, st)
    } finally {
      if (q.isActive) q.stop()
      s.catalog.dropTempView(name)
    }
  }

  // ---- stateful: per-user running statistics ----------------------------

  case class EventRow(event_id: Long, user_id: Long, ts: Timestamp,
      event_type: String, value: Double)

  /** boundary conversion from the raw (nullable) events schema:
    * EventRow's primitive fields would NPE on NULL during
    * deserialization, so EVERY primitive-typed field is null-filtered
    * here (event_id included) — the same exclusion q26's as-of join
    * applies. */
  def eventRows(df: DataFrame): Dataset[EventRow] = {
    implicit val enc = Encoders.product[EventRow]
    df.filter(col("event_id").isNotNull && col("user_id").isNotNull &&
        col("value").isNotNull && col("ts").isNotNull)
      .select("event_id", "user_id", "ts", "event_type", "value")
      .as[EventRow]
  }
  /** `lastTs` is the max event time EVER seen for the key — the idle
    * timeout must be set from it, not from the current batch's max: a
    * late-but-valid older event would otherwise shrink the eviction
    * deadline and prematurely reset the running stats. (Adding the
    * field changed the flatMapGroupsWithState state schema: a
    * checkpoint written by the 3-field build cannot restore — restart
    * such queries with a fresh checkpoint location.) */
  case class UserState(n: Long, sum: Double, max: Double, lastTs: Long)
  case class UserUpdate(user_id: Long, n: Long, sum: Double, max: Double)

  /** per-user running stats via flatMapGroupsWithState: the custom
    * keyed-state pattern (mapGroupsWithState family). Emits one update
    * row per key per micro-batch. State is WATERMARK-BOUNDED: a user
    * idle past `idleHorizon` of event time is evicted (EventTime
    * timeout), so state tracks the active-user set, not every user
    * ever seen — the 100 TB-stream posture of this module. */
  def runningUserStats(events: Dataset[EventRow],
      idleHorizon: String = "24 hours"): Dataset[UserUpdate] = {
    implicit val stateEnc = Encoders.product[UserState]
    implicit val outEnc = Encoders.product[UserUpdate]
    implicit val keyEnc = Encoders.scalaLong
    implicit val rowEnc = Encoders.product[EventRow]
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String
        .fromString(idleHorizon))
    // month-denominated horizons have no fixed millisecond length —
    // silently treating them as 0 would evict active users instantly
    require(iv.months == 0,
      s"idleHorizon '$idleHorizon' uses months — give a fixed-length " +
        "horizon (days/hours/minutes)")
    val horizonMs = iv.days.toLong * 86400000L + iv.microseconds / 1000L
    events.toDF()
      .withWatermark("ts", idleHorizon)
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[EventRow], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            state.remove() // idle past the horizon: evict
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(
              UserState(0L, 0.0, Double.MinValue, Long.MinValue))
            var touched = false
            rows.foreach { r =>
              s = UserState(s.n + 1, s.sum + r.value,
                math.max(s.max, r.value), math.max(s.lastTs, r.ts.getTime))
              touched = true
            }
            if (touched) {
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + horizonMs)
              Iterator.single(UserUpdate(user, s.n, s.sum, s.max))
            } else Iterator.empty
          }
      }
  }

  /** event-time sessionization: a user's events group into sessions
    * closed after `gapMs` of event-time silence, enforced by the
    * watermark (EventTimeTimeout) — the canonical
    * flatMapGroupsWithState pattern. The caller must put a watermark
    * on `ts` before grouping (done here).
    *
    * Out-of-order contract (append mode): a late-but-valid event (≥
    * watermark) merges correctly with the carried open session — it
    * extends it only when actually within `gapMs` reach (bidirectional
    * check), bridges it with other spans of the same batch, or forms
    * its own earlier session otherwise. The one append-mode boundary:
    * a session already EMITTED closed via the data path is final — a
    * later event that would have bridged it yields a separate session
    * rather than a retraction (exact batch parity therefore holds
    * whenever late events don't land inside an already-closed span's
    * gap reach; tighten `watermark` toward `gapMs` to shrink that
    * window). */
  case class SessionState(start: Long, end: Long, n: Long)
  case class SessionOut(user_id: Long, start: Long, end: Long, n: Long, closed: Boolean)

  def sessionize(events: Dataset[EventRow], gapMs: Long,
      watermark: String = "10 seconds"): Dataset[SessionOut] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val keyEnc = Encoders.scalaLong
    implicit val rowEnc = Encoders.product[EventRow]
    events
      .withWatermark("ts", watermark)
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[EventRow], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start, s.end, s.n, closed = true))
          } else {
            val times = rows.map(_.ts.getTime).toArray.sorted
            if (times.isEmpty) Iterator.empty
            else {
              // 1) gap-split the batch's own (sorted) times into spans:
              // an event farther than gapMs past the current span end
              // starts a new span
              val spans = scala.collection.mutable.ArrayBuffer.empty[SessionState]
              times.foreach { t =>
                if (spans.nonEmpty && t <= spans.last.end + gapMs) {
                  val cur = spans.last
                  spans(spans.length - 1) = SessionState(
                    cur.start, math.max(cur.end, t), cur.n + 1)
                } else spans += SessionState(t, t, 1L)
              }
              // 2) merge the carried open session by gap REACH, not
              // list position: it unions exactly the spans within
              // gapMs of it (possibly bridging several); a span wholly
              // before start-gap or after end+gap stays separate — a
              // naive "extend the last" would swallow a late event
              // into the open session across an arbitrary silence
              val sessions = state.getOption match {
                case None => spans
                case Some(st) =>
                  val (touch, apart) = spans.partition(sp =>
                    sp.start <= st.end + gapMs && st.start <= sp.end + gapMs)
                  val merged = touch.foldLeft(st) { (a, b) =>
                    SessionState(math.min(a.start, b.start),
                      math.max(a.end, b.end), a.n + b.n)
                  }
                  // gap-split guarantees apart-spans are > gapMs from
                  // every touch-span AND from st, so one pass suffices
                  (apart :+ merged).sortBy(_.start)
              }
              val closed = sessions.init.map(cs =>
                SessionOut(user, cs.start, cs.end, cs.n, closed = true))
              val open = sessions.last
              state.update(open)
              // close when the watermark passes the session end + gap
              state.setTimeoutTimestamp(open.end + gapMs)
              (closed :+ SessionOut(user, open.start, open.end, open.n,
                closed = false)).iterator
            }
          }
      }
  }

  /** [[sessionize]] executed as a REAL incremental streaming query
    * (p21 — the fourth stateful-operator class under the value gate,
    * after p12's aggregation, p16's join and p17's dedup, and the only
    * one running CUSTOM state: flatMapGroupsWithState with
    * EventTimeTimeout). File readStream over the events parquet →
    * per-user gap sessionization → AvailableNow append sink.
    *
    * Determinism contract for the gate: sessionize emits every closed
    * session once, a closed=false snapshot of each key's trailing open
    * session, and — when the final watermark passes end+gap — that
    * session AGAIN via the timeout path with identical (start,end,n).
    * Folding the sink by (user_id, session_start) with max(end)/max(n)
    * therefore yields exactly the batch gap-sessionization set: under
    * an AvailableNow drain of the registry source the data arrives in
    * one micro-batch per key, so a session's start never moves after
    * its first emission (end/n only grow, and max() tracks them).
    * State posture: one open session per ACTIVE user, evicted by
    * EventTimeTimeout at end+gap — state tracks the active-user set at
    * the watermark horizon, never session history (pinned on
    * [[DrainStats.stateRows]] in StreamingSpec). */
  def sessionizeStreamed(s: SparkSession, dir: String): DataFrame =
    sessionizeDrained(s, dir)._1

  private[graft] def sessionizeDrained(
      s: SparkSession, dir: String): (DataFrame, DrainStats) = {
    import org.apache.spark.sql.streaming.Trigger
    val rows = eventRows(eventsStream(s, dir))
    val name = "p21_sink_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // one state-store instance per partition; same bounded-drain
    // scoping (and restore-after-termination race note) as p16/p17
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val q =
      try sessionize(rows, gapMs = graft.rel.PipelineQueries.SessionGapMs,
          watermark = "10 seconds")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      catch { case e: Throwable =>
        s.conf.set("spark.sql.shuffle.partitions", prevParts); throw e
      }
    try {
      try q.awaitTermination()
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val st = drainStats(q)
      requireSourceDrained(st, dir)
      // the fold below is correct ONLY under a single-data-batch drain
      // (a later batch could move an open session's start, leaving the
      // superseded snapshot as a spurious row) — enforce the documented
      // invariant loudly instead of letting a conf change (e.g.
      // maxFilesPerTrigger) corrupt the gate silently
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"p21 drained $dataBatches data micro-batches — the session fold " +
          "assumes one; unset maxFilesPerTrigger or fold by session id")
      val out = s.table(name)
        .groupBy(col("user_id"), col("start").as("session_start"))
        .agg(max("end").as("session_end"), max("n").as("n_events"))
        .orderBy("user_id", "session_start")
        .localCheckpoint(true)
      (out, st)
    } finally {
      if (q.isActive) q.stop()
      s.catalog.dropTempView(name)
    }
  }

  /** STREAM-STATIC dimension enrichment (p24) — the stateless
    * streaming class p12/p16/p17/p21 don't cover: a fact stream joined
    * to a STATIC dimension (here the SCD2 current version per user,
    * p22's is_current slice). Stream-static inner joins keep NO state
    * — the static side is planned per micro-batch (broadcast here), so
    * this topology scales with the dimension, not the stream history;
    * it's the standard enrichment shape between a kafka fact feed and
    * a warehouse dim table. Late/duplicate handling stays with the
    * upstream classes; enrichment itself is pure. */
  def enrichStreamed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    // the static dim side is re-planned (and its broadcast rebuilt)
    // EVERY micro-batch — so uncut, the whole SCD2-history subplan
    // (p22's window + joins) re-executes once per batch of the drain.
    // Materialize the current-version slice ONCE (dimension-sized:
    // one row per current user); the topology stays a stream-static
    // broadcast join, each batch just rebroadcasts the materialized
    // rows instead of recomputing history. Production shape unchanged
    // — a real deployment reads its dim table from storage, it does
    // not re-derive SCD2 per micro-batch.
    val cur = graft.rel.Lineage.cut(
      graft.rel.PipelineQueries.scd2History(s, dir)
        .filter(col("is_current") === 1L)
        .select(col("user_id"), col("attr").as("cur_attr"), col("version")))
    val obs = eventsStream(s, dir)
      .filter(col("event_type") === "purchase" &&
        col("event_id").isNotNull && col("user_id").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("obs_ts_us"))
    val name = "p24_sink_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = obs.join(broadcast(cur), Seq("user_id"))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      requireSourceDrained(drainStats(q), dir)
      s.table(name)
        .select(col("event_id"), col("user_id"), col("obs_ts_us"),
          col("cur_attr"), col("version"))
        .orderBy("event_id")
        .localCheckpoint(true)
    } finally {
      if (q.isActive) q.stop()
      s.catalog.dropTempView(name)
    }
  }

  // ---- p23: exactly-once file delivery (idempotent foreachBatch) -------

  /** Marker-gated idempotent batch commit — the foreachBatch
    * exactly-once recipe for stores without transactions: write the
    * batch under a batch-scoped directory, then create the commit
    * MARKER as the atomic publish point. Re-delivery of a committed
    * batch (the at-least-once retry every streaming engine makes after
    * a sink failure) sees the marker and no-ops; a crash BEFORE the
    * marker leaves uncommitted garbage a retry simply overwrites
    * (mode=overwrite), and readers never see it because the read side
    * lists MARKERS, not directories. Idempotence + marker-scoped reads
    * = exactly-once delivery on top of an at-least-once channel. */
  private[graft] def commitBatchIdempotent(df: org.apache.spark.sql.Dataset[
      org.apache.spark.sql.Row], batchId: Long, out: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$out/_commit_$batchId")
    if (fs.exists(marker)) false // already committed: re-delivery no-ops
    else {
      df.write.mode("overwrite").parquet(s"$out/batch_$batchId")
      fs.create(marker, true).close() // the atomic publish point
      true
    }
  }

  /** Read back ONLY marker-committed batches (uncommitted directories
    * from a crashed attempt are invisible by construction). */
  private[graft] def readCommitted(s: SparkSession, out: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(out)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    val ids = fs.listStatus(base).map(_.getPath.getName)
      .filter(_.startsWith("_commit_")).map(_.stripPrefix("_commit_").toLong)
      .sorted
    require(ids.nonEmpty, s"p23: no committed batches under $out")
    s.read.parquet(ids.map(id => s"$out/batch_$id"): _*)
  }

  /** Marker-pinned SNAPSHOT read (p25): the read side of the p23
    * protocol generalized to time travel — a reader that lists markers
    * `<= asOf` sees exactly the table as it existed when that batch
    * committed, untouched by later appends (each batch directory is
    * immutable once its marker exists). This is snapshot isolation
    * from nothing but a filesystem: no transaction log replay, no
    * compaction coordination — the marker SET is the version. */
  private[graft] def readCommittedAsOf(s: SparkSession, out: String,
      asOf: Long): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(out)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    val ids = fs.listStatus(base).map(_.getPath.getName)
      .filter(_.startsWith("_commit_")).map(_.stripPrefix("_commit_").toLong)
      .filter(_ <= asOf).sorted
    require(ids.nonEmpty, s"p25: no committed batches <= $asOf under $out")
    s.read.parquet(ids.map(id => s"$out/batch_$id"): _*)
  }

  /** p25's registry body: three deterministic event batches committed
    * through the p23 marker protocol, then EVERY snapshot version is
    * read back and aggregated — the gate proves each as-of read
    * reproduces exactly the prefix of history that had committed at
    * that version, with later appends invisible. */
  def snapshotReads(s: SparkSession, dir: String, out: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(out)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(base, true)
    fs.deleteOnExit(base)
    val ev = graft.rel.Tables.events(s, dir)
      .filter(col("event_type").isNotNull && col("event_id").isNotNull)
      .select(col("event_id"), col("event_type"))
    (0L until 3L).foreach { b =>
      require(commitBatchIdempotent(
        ev.filter(col("event_id") % 3 === b), b, out),
        s"p25: batch $b failed to commit")
    }
    (0L until 3L).map { asOf =>
      readCommittedAsOf(s, out, asOf)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("event_id").as("sum_ids"))
        .select(lit(asOf).as("as_of"), col("event_type"), col("n"),
          col("sum_ids"))
    }.reduce(_ unionAll _).orderBy("as_of", "event_type")
  }

  /** [[commitBatchIdempotent]] driven by a REAL streaming query (p23):
    * file readStream → foreachBatch with the marker protocol →
    * AvailableNow drain, then every drained batch is RE-DELIVERED
    * through the same commit path (the retry case) before the read —
    * the gate therefore fails if idempotence doesn't hold (duplicated
    * rows double every count) OR if the commit protocol loses rows.
    * State posture: the sink tracks one marker per batch; re-delivery
    * cost is one filesystem stat. */
  /** File-source documents STREAM — the docs-table dual of
    * [[eventsStream]] (same two-layout handling; no ts column, so no
    * nanos normalization). */
  private def docsStream(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int]): DataFrame =
    tableStream(s, dir, "documents.parquet", maxFilesPerTrigger)

  /** INCREMENTAL curation (p27) — the batch curation DAG (p26) run
    * through the real streaming engine, micro-batch by micro-batch:
    * file readStream over the documents parquet → the IDENTICAL
    * per-row stage definitions the batch DAG uses (curationGopher's
    * one-projection rule battery, curationKeepers' min-struct dedup,
    * curationFinal's quality+split — shared code, so batch and
    * incremental curation cannot drift) → Complete-mode memory sink,
    * AvailableNow. The keeper aggregate is the stream's STATE: one
    * (digest → min keeper-row) entry per distinct digest, updated as
    * batches arrive — the incremental-materialized-view shape (q47's
    * class), which is what makes the final snapshot ARRIVAL-ORDER
    * INDEPENDENT: min(struct) commutes, so any partitioning of the
    * corpus into micro-batches converges to the batch answer (a
    * first-arrival dedup would not — the survivor would depend on
    * file listing order). State posture at 100 TB: one row per
    * distinct digest (corpus-scale, RocksDB-backed) — the price of
    * exact min-keeper semantics; pipelines that can accept
    * first-arrival survivorship run the d15 bloom/anti-join per batch
    * instead and keep no dense state. */
  def curationStreamed(s: SparkSession, dir: String): DataFrame =
    curationDrained(s, dir, maxFilesPerTrigger = None)._1

  /** p27 with drain observability: `maxFilesPerTrigger` forces a
    * GENUINELY multi-batch drain (StreamingSpec uses it to pin that
    * the incremental keeper state converges to the batch answer
    * across micro-batch boundaries, not just on a one-batch drain);
    * the second element counts data micro-batches. */
  private[graft] def curationDrained(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int],
      checkpoint: Option[String] = None): (DataFrame, Int) = {
    import org.apache.spark.sql.streaming.Trigger
    val staged = graft.rel.PipelineQueries.curationFinal(
      graft.rel.PipelineQueries.curationKeepers(
        graft.rel.PipelineQueries.curationGopher(
          docsStream(s, dir, maxFilesPerTrigger))))
    val name = "p27_sink_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // data-batch counting rides a listener, NOT q.recentProgress: the
    // progress ring buffer keeps only the last
    // spark.sql.streaming.numRecentProgressUpdates (default 100)
    // entries, so a drain with more micro-batches than that would
    // silently under-report (round-9 advice). The listener sees every
    // progress event; the listener bus is drained before the count is
    // read so no in-flight event is missed.
    val dataBatchCount = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == name && e.progress.numInputRows > 0) {
          dataBatchCount.incrementAndGet(); ()
        }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    // one state-store instance per partition; same bounded-drain
    // scoping (and restore-after-termination race note) as p16/p17/p21
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    // with a checkpoint the run is RESTARTABLE: offsets + keeper state
    // recover from it, so a second drain over the same location picks
    // up only new files and re-emits the full restored snapshot (the
    // complete-mode memory sink re-materializes on restart — the
    // recoverable shape, unlike an append-mode memory sink)
    val writer0 = staged
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
    val writer = checkpoint.fold(writer0)(c =>
      writer0.option("checkpointLocation", c))
    val q =
      try writer.start()
      catch { case e: Throwable =>
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        s.streams.removeListener(listener)
        throw e
      }
    try {
      try q.awaitTermination()
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      requireSourceDrained(drainStats(q), dir, "documents.parquet")
      org.apache.spark.sql.GraftBridge.drainListenerBus(s)
      val dataBatches = dataBatchCount.get
      val out = s.table(name)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
        .orderBy("doc_id")
        .localCheckpoint(true)
      (out, dataBatches)
    } finally {
      if (q.isActive) q.stop()
      s.streams.removeListener(listener)
      s.catalog.dropTempView(name)
    }
  }

  /** INCREMENTAL curation WITH the near-dup stage (p27c) — p26c's DAG
    * run micro-batch by micro-batch. The per-row stages and the
    * snapshot rule are the SHARED batch definitions
    * (curationGopher/Keepers/Final and the d05 simhash blocking —
    * batch and incremental cannot drift); what is genuinely
    * incremental is the CROSS-BATCH NEAR-DUP STATE
    * (PipelineQueries.NearDupState): each arriving batch upserts the
    * keeper table, probes the STORED bucket-partitioned band index
    * with a statically-pruned scan (the d16 batch-vs-corpus prune),
    * and appends the discovered Hamming ≤ 3 pairs — so per-batch work
    * scales with the batch while the final snapshot equals the batch
    * p26c answer for ANY micro-batch partitioning of the corpus
    * (nearDupStep's scaladoc carries the argument; the specs pin it
    * through forced multi-batch drains). The keeper/band/reason state
    * rides foreachBatch rather than a streaming aggregate because the
    * near-dup stage needs a SECOND keyed grouping downstream of the
    * keeper aggregate — beyond what chained stateful operators
    * support in one Complete-mode query; foreachBatch with a
    * marker-committed state store (PipelineQueries.NearDupStore —
    * per-batch deltas, restart restore, re-delivery no-op, periodic
    * compaction) is the standard production shape for exactly this
    * (the same slot d15's bloom state occupies), and the restart spec
    * kills between drains to prove the fold survives. */
  def curationNearDupStreamed(s: SparkSession, dir: String): DataFrame =
    curationNearDupDrained(s, dir, maxFilesPerTrigger = None)._1

  /** p27c with drain observability (the curationDrained convention):
    * `maxFilesPerTrigger` forces a genuinely multi-batch drain; the
    * second element counts data micro-batches. `checkpoint` +
    * `stateRoot` together make the drain RESTARTABLE: the checkpoint
    * carries the source offsets, the [[graft.rel.PipelineQueries
    * .NearDupStore]] at `stateRoot` carries the marker-committed
    * per-batch state deltas, and a fresh call with the same pair
    * restores the fold exactly (kill-and-restart spec-pinned in
    * IncrementalCurationSpec). Defaults keep the registry gate
    * run-scoped: a fresh temp state root per call. */
  private[graft] def curationNearDupDrained(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int], checkpoint: Option[String] = None,
      stateRoot: Option[String] = None,
      compactEvery: Option[Int] = None): (DataFrame, Int) = {
    import org.apache.spark.sql.streaming.Trigger
    // a caller-less state root is RUN-SCOPED: it must die with the
    // call (the bench runs this gate up to 5 attempts per invocation —
    // leaked roots would accumulate in /tmp forever)
    val tmpStore = stateRoot.isEmpty
    val store = graft.rel.PipelineQueries.NearDupStore(stateRoot.getOrElse(
      java.nio.file.Files.createTempDirectory("p27c-state").toString))
    // the hot state starts empty on every call — after a restart the
    // first delivered batch restores it from the committed deltas
    var state: Option[graft.rel.PipelineQueries.NearDupState] = None
    val dataBatches = new java.util.concurrent.atomic.AtomicInteger
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val q =
      try {
        val w0 = docsStream(s, dir, maxFilesPerTrigger).writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], batchId: Long) =>
            if (!df.isEmpty) {
              state = Some(graft.rel.PipelineQueries.nearDupStep(
                store, state, batchId, df))
              val n = dataBatches.incrementAndGet()
              // periodic store maintenance INSIDE the live loop (the
              // production cadence — a real deployment runs it on a
              // schedule): folds the delta dirs so probe fan-in stays
              // O(batches since last fold); the hot state is
              // untouched — only the storage layout changes
              if (compactEvery.exists(k => k > 0 && n % k == 0))
                store.compact(s)
            }
            ()
          }
          .trigger(Trigger.AvailableNow())
        checkpoint.fold(w0)(c => w0.option("checkpointLocation", c)).start()
      }
      catch { case e: Throwable =>
        s.conf.set("spark.sql.shuffle.partitions", prevParts); throw e
      }
    try {
      try q.awaitTermination()
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      requireSourceDrained(drainStats(q), dir, "documents.parquet")
    } finally { if (q.isActive) q.stop() }
    // a restarted drain may deliver ZERO new batches (everything was
    // committed before the kill) — the snapshot then comes entirely
    // from the restored store
    val st = state.orElse(store.restore(s)).getOrElse(
      sys.error("p27c drained zero data micro-batches"))
    val out = graft.rel.PipelineQueries.nearDupSnapshot(st)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .orderBy("doc_id")
      .localCheckpoint(true)
    // the eager checkpoint above means nothing references the store's
    // files anymore (the hot state is in-memory cuts); a run-scoped
    // temp root is deleted here rather than leaked — deliberately only
    // on the SUCCESS path, so a failed drain leaves the store for a
    // post-mortem (and a caller-provided root is never touched)
    if (tmpStore) {
      val p = new org.apache.hadoop.fs.Path(store.root)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    (out, dataBatches.get)
  }

  def exactlyOnceStreamed(s: SparkSession, dir: String,
      out: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = new org.apache.hadoop.fs.Path(out)
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(base, true) // fresh run root (runId-scoped path)
    fs.deleteOnExit(base)
    val events = eventsStream(s, dir)
      .filter(col("event_type").isNotNull)
      .select("event_id", "event_type")
    val q = events.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        commitBatchIdempotent(df, id, out); ()
      }
      .option("checkpointLocation", s"$out/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      requireSourceDrained(drainStats(q), dir)
    } finally { if (q.isActive) q.stop() }
    // the at-least-once event: re-deliver every committed batch through
    // the same path; markers must make each a no-op
    val ids = fs.listStatus(base).map(_.getPath.getName)
      .filter(_.startsWith("_commit_")).map(_.stripPrefix("_commit_").toLong)
    ids.foreach { id =>
      val redelivered = commitBatchIdempotent(
        s.read.parquet(s"$out/batch_$id"), id, out)
      require(!redelivered, s"p23: batch $id was RE-COMMITTED on retry — " +
        "the marker protocol is not idempotent")
    }
    readCommitted(s, out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_ids"))
      .orderBy("event_type")
  }

  // ---- p29b: streaming CDC apply (latest-version-per-key state) --------

  /** One changelog version: key, per-key-unique monotone sequence,
    * delete tombstone flag, payload. */
  final case class CdcVersion(k: Long, seq: Long, del: Boolean, qty: Double)
  /** Per-key retained state: the highest-seq version seen so far.
    * Tombstones are retained because a removed tombstone would let a
    * late out-of-order version OLDER than the delete resurrect the
    * key on arrival — the state must remember how far the key's
    * history has been applied. Retention policy, both implemented in
    * [[cdcUpdates]]:
    *
    *  - NoTimeout (the p29b gate's finite drain): tombstones retained
    *    for the run — exact under ARBITRARY disorder.
    *  - `tombstoneHorizonSeq = Some(H)` (the unbounded-production
    *    shape, [[cdcUpdatesEvicting]]): the changelog's seq becomes
    *    the stream's EVENT TIME (1 seq = 1s on a synthetic axis), the
    *    watermark delay is H seq-units, and a tombstone registers an
    *    EventTimeTimeout at its own event time — it is evicted once
    *    the watermark (= global seq frontier − H) passes its seq.
    *    THE HORIZON RULE: exactness holds iff delivery disorder is
    *    bounded by H seq-units behind the frontier. A version ≤ H
    *    behind still meets the retained tombstone (timeouts never
    *    fire before the watermark passes) and cannot resurrect; a
    *    version > H behind is DROPPED by the watermark's late-event
    *    filter — it can never resurrect the key either, because by
    *    the time the tombstone is evicted every older version is by
    *    construction beyond-horizon and filtered. Eviction is
    *    therefore unconditionally resurrection-safe; what the bound
    *    sacrifices is beyond-horizon versions of ANY key (dropped,
    *    exactly like every watermarked stateful op in this engine).
    *    State = live keys + at most the horizon's worth of
    *    tombstones. Event-time (not processing-time) timeouts are
    *    load-bearing twice over: the horizon is a DATA property so
    *    the rule survives backfills/replays at any speed, and
    *    ProcessingTimeTimeout's shouldRunAnotherBatch=always would
    *    keep an AvailableNow drain scheduling batches forever.
    *    Both rule halves + the state bound are spec-pinned in
    *    StreamingSpec. Live keys never time out — they ARE the
    *    snapshot. */
  final case class CdcState(lastSeq: Long, del: Boolean, qty: Double)
  /** One emitted row per key per batch: the key's new snapshot. */
  final case class CdcUpdate(k: Long, last_seq: Long, del: Boolean,
      qty: Double)

  /** Orders-table file stream — the changelog source for p29b (no
    * timestamp column is consumed, so no nanos normalization). */
  private def ordersStream(s: SparkSession, dir: String): DataFrame =
    tableStream(s, dir, "orders.parquet")

  /** The latest-version-per-key fold as STREAMING STATE — the
    * incremental form of [[graft.rel.PipelineQueries.cdcApply]]'s one
    * hash aggregate: `mapGroupsWithState` keeps exactly one
    * [[CdcState]] per key (the same per-key O(1) footprint the batch
    * fold's partial-aggregate buffer has) and each micro-batch emits
    * the key's updated snapshot row. Within a batch AND against the
    * retained state, the highest seq wins — so re-ordered delivery
    * across batches converges to the same snapshot the batch fold
    * computes over the full changelog (spec-asserted, including a
    * late pre-delete version arriving after its key's tombstone). */
  private[graft] def cdcUpdates(log: Dataset[CdcVersion])
      : Dataset[CdcUpdate] = {
    implicit val stEnc = Encoders.product[CdcState]
    implicit val upEnc = Encoders.product[CdcUpdate]
    implicit val keyEnc = Encoders.scalaLong
    log.groupByKey(_.k)
      .mapGroupsWithState[CdcState, CdcUpdate](GroupStateTimeout.NoTimeout) {
        (k: Long, versions: Iterator[CdcVersion],
         state: GroupState[CdcState]) =>
          var best = state.getOption.getOrElse(
            CdcState(Long.MinValue, del = true, qty = 0.0))
          versions.foreach { v =>
            if (v.seq > best.lastSeq) best = CdcState(v.seq, v.del, v.qty)
          }
          state.update(best)
          CdcUpdate(k, best.lastSeq, best.del, best.qty)
      }
  }

  /** [[CdcVersion]] with the seq mapped onto a synthetic event-time
    * axis (1 seq = 1 s since the epoch) so the watermark machinery
    * can express the disorder horizon — see [[CdcState]]'s rule. */
  final case class CdcVersionTs(k: Long, seq: Long, del: Boolean,
      qty: Double, ev: java.sql.Timestamp)

  /** The horizon-evicting variant of [[cdcUpdates]] — same fold, but
    * tombstoned keys register an EventTimeTimeout at their own event
    * time and are evicted once the watermark (global seq frontier −
    * horizon) passes it. The caller must have applied
    * `withWatermark("ev", "<horizon> seconds")` to `log` — the
    * watermark's late filter is PART of the semantics (it is what
    * makes eviction resurrection-safe; see [[CdcState]]). */
  private[graft] def cdcUpdatesEvicting(log: Dataset[CdcVersionTs])
      : Dataset[CdcUpdate] = {
    implicit val stEnc = Encoders.product[CdcState]
    implicit val upEnc = Encoders.product[CdcUpdate]
    implicit val keyEnc = Encoders.scalaLong
    log.groupByKey(_.k)
      .mapGroupsWithState[CdcState, CdcUpdate](
        GroupStateTimeout.EventTimeTimeout) {
        (k: Long, versions: Iterator[CdcVersionTs],
         state: GroupState[CdcState]) =>
          if (state.hasTimedOut) {
            // the watermark passed this tombstone's event time: every
            // version that could still arrive for it is beyond-horizon
            // and will be late-filtered, so removal cannot resurrect
            // anything. Re-emitting the final tombstone row is
            // idempotent under the snapshot's max_by(last_seq) fold.
            val last = state.get
            state.remove()
            CdcUpdate(k, last.lastSeq, last.del, last.qty)
          } else {
            var best = state.getOption.getOrElse(
              CdcState(Long.MinValue, del = true, qty = 0.0))
            versions.foreach { v =>
              if (v.seq > best.lastSeq) best = CdcState(v.seq, v.del, v.qty)
            }
            state.update(best)
            // timeouts clear on every invocation with data: an
            // un-delete (higher-seq 'U') leaves no stale timeout, a
            // re-delete re-arms at the NEW tombstone's event time.
            // setTimeoutTimestamp must stay above the current
            // watermark (a within-horizon tombstone always is; the
            // max guards the boundary batch where the row passed the
            // previous batch's filter but the watermark just moved)
            if (best.del) {
              state.setTimeoutTimestamp(math.max(best.lastSeq * 1000L,
                state.getCurrentWatermarkMs() + 1))
            }
            CdcUpdate(k, best.lastSeq, best.del, best.qty)
          }
      }
  }

  def cdcStreamed(s: SparkSession, dir: String): DataFrame =
    cdcDrained(s, dir)._1

  /** p29c: the HORIZON-EVICTING CDC drain under the hash gate — the
    * bounded-state production shape ([[cdcUpdatesEvicting]]) landing
    * on the exact same snapshot as the batch fold (p29) and the
    * NoTimeout stream (p29b), with eviction PROVABLY firing inside
    * the gated run (`stateRowsRemoved > 0` is required, not assumed).
    *
    * Why exactness is unconditional here: an AvailableNow drain over
    * a FileStreamSource with no maxFilesPerTrigger delivers the whole
    * changelog in ONE data micro-batch, and the watermark consumed by
    * a batch is computed from the PREVIOUS batch — so during the data
    * batch it is the epoch and the late-event filter can drop
    * nothing; delivery disorder is bounded by 0 ≤ H and the proved
    * horizon rule (see [[CdcState]]) applies trivially. Eviction then
    * runs in the trailing watermark-advance batch AvailableNow
    * appends: every key whose retained state is a tombstone with
    * seq < maxSeq − H times out and is removed.
    *
    * H comes from the DATA, not a constant: half the gap between the
    * global max seq and the earliest final-tombstone seq, so at least
    * that tombstone provably evicts at any sf while keys tombstoned
    * near the frontier demonstrate the retained-within-horizon half
    * of the rule. (A fixed H would silently stop evicting — or evict
    * nothing — as the seq range grows with scale.) */
  def cdcStreamedEvicting(s: SparkSession, dir: String): DataFrame = {
    // bounded probe: per-key final op over the changelog — the same
    // one-hash-aggregate shape as the batch fold, collapsed to 1 row
    val fin = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey").as("k"), col("o_orderkey").as("seq"),
        coalesce(col("o_orderstatus") === "F", lit(false))
          .cast("long").as("del"))
      .groupBy("k")
      .agg(max("seq").as("last_seq"),
        max_by(col("del"), col("seq")).as("del_last"))
      .agg(max("last_seq").as("max_seq"),
        min(when(col("del_last") === 1L, col("last_seq"))).as("min_tomb"))
      .head()
    val maxSeq = fin.getLong(0)
    require(!fin.isNullAt(1),
      "p29c: the changelog has no final tombstone — the eviction gate " +
        "cannot demonstrate a removal on this corpus")
    val minTomb = fin.getLong(1)
    // with the earliest tombstone 0-1 seq behind the frontier, h clamps
    // to 1 and the watermark (maxSeq - 1) only ever EQUALS the
    // tombstone's timeout timestamp — no eviction can fire, and the
    // in-body stateRowsRemoved require would misread a data property
    // as an eviction bug. Name the data-limitation case up front
    // instead (r14 advice).
    require(minTomb < maxSeq - 1,
      s"p29c: earliest final tombstone (seq=$minTomb) sits within 1 of " +
        s"the changelog frontier (seq=$maxSeq) — the eviction gate " +
        "cannot demonstrate a removal on this corpus")
    val h = math.max(1L, (maxSeq - minTomb) / 2)
    val (snap, st) = cdcDrained(s, dir, tombstoneHorizonSeq = Some(h))
    require(st.stateRowsRemoved > 0,
      s"p29c: horizon eviction (H=$h seq-units) removed zero state " +
        "rows — the gate must exercise the eviction path, not just " +
        "the fold")
    snap
  }

  /** p29b's drained body: orders-as-changelog file stream →
    * [[cdcUpdates]] state fold (Update mode) → foreachBatch with the
    * p23 marker-idempotent commit (Update-mode output needs an
    * at-least-once-safe sink; the marker protocol upgrades it to
    * exactly-once) → AvailableNow drain → snapshot read. The snapshot
    * re-folds the committed update rows per key by last_seq: across a
    * multi-batch drain (or a restart) a key emits once per batch it
    * appears in, and the highest-seq emission is its final state —
    * the same max_by discipline as the batch fold, over batch-count-
    * bounded rows per key, never the changelog. A run-scoped out root
    * (no caller checkpoint/out) dies on the success path, the p27c
    * tempdir discipline. */
  private[graft] def cdcDrained(s: SparkSession, dir: String,
      checkpoint: Option[String] = None,
      outRoot: Option[String] = None,
      tombstoneHorizonSeq: Option[Long] = None): (DataFrame, DrainStats) = {
    import org.apache.spark.sql.streaming.Trigger
    implicit val verEnc = Encoders.product[CdcVersion]
    // the checkpoint and the committed-output directory are ONE unit
    // of durable state: a caller checkpoint with a fresh temp outRoot
    // would recover offsets (drain zero rows) against an output with
    // no _commit_ markers and die with a misleading layout error
    require(checkpoint.isEmpty == outRoot.isEmpty,
      "cdcDrained: checkpoint and outRoot must be passed together — " +
        "recovered offsets are only meaningful against the same run's " +
        "committed output")
    val tmpOut = outRoot.isEmpty
    val out = outRoot.getOrElse(
      java.nio.file.Files.createTempDirectory("p29b-out").toString)
    // del is NULL-safe (coalesce to false) to match the batch twin's
    // when(...).otherwise("U") and the oracle's CASE ... ELSE 'U' — a
    // NULL status row must not NPE the non-nullable CdcVersion field
    // while both other engines default it to an upsert. Key/seq/
    // payload follow the changelog PK contract (non-null), which the
    // orders derivation satisfies by construction.
    val logCols = ordersStream(s, dir).select(
      col("o_custkey").as("k"), col("o_orderkey").as("seq"),
      coalesce(col("o_orderstatus") === "F", lit(false)).as("del"),
      col("o_totalprice").as("qty"))
    val updates = tombstoneHorizonSeq match {
      case Some(h) =>
        implicit val tsEnc = Encoders.product[CdcVersionTs]
        cdcUpdatesEvicting(logCols
          .withColumn("ev", timestamp_seconds(col("seq")))
          .withWatermark("ev", s"$h seconds")
          .as[CdcVersionTs])
      case None =>
        cdcUpdates(logCols.as[CdcVersion])
    }
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val q =
      try {
        val w0 = updates.toDF().writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], id: Long) =>
            // AvailableNow can deliver a trailing empty batch — skip
            // the write+marker (p27c's guard): an empty batch dir
            // would be listed and opened by every snapshot read
            if (!df.isEmpty) { commitBatchIdempotent(df, id, out); () }
          }
          .outputMode(OutputMode.Update())
          .trigger(Trigger.AvailableNow())
        w0.option("checkpointLocation",
          checkpoint.getOrElse(s"$out/_checkpoint")).start()
      } catch { case e: Throwable =>
        s.conf.set("spark.sql.shuffle.partitions", prevParts); throw e
      }
    val st =
      try {
        try q.awaitTermination()
        finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
        val st0 = drainStats(q)
        // a crash-recovery rerun may legitimately drain ZERO new rows
        // (everything committed before the stop) — the snapshot then
        // comes entirely from the committed updates (the p27c
        // zero-new-batches discipline). Only a zero-input drain with
        // NO committed history is the layout-mismatch error.
        if (st0.inputRows == 0) {
          val fs = new org.apache.hadoop.fs.Path(out)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val hasCommits = fs.exists(new org.apache.hadoop.fs.Path(out)) &&
            fs.listStatus(new org.apache.hadoop.fs.Path(out))
              .exists(_.getPath.getName.startsWith("_commit_"))
          if (!hasCommits) requireSourceDrained(st0, dir, "orders.parquet")
        }
        st0
      } finally { if (q.isActive) q.stop() }
    val upd = readCommitted(s, out)
    val snap = upd
      .groupBy("k")
      .agg(max(col("last_seq")).as("final_seq"),
        max_by(col("del").cast("long"), col("last_seq")).as("_del_last"),
        max_by(col("qty"), col("last_seq")).as("_qty_last"))
      .filter(col("_del_last") === 0L)
      .select(col("k").as("cust_key"), col("final_seq").as("last_seq"),
        col("_qty_last").as("qty"))
      .orderBy("cust_key")
      .localCheckpoint(true)
    if (tmpOut) {
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    (snap, st)
  }
}
