package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Cluster-scale join/aggregate techniques as first-class utilities:
  * bucketed co-located joins (pre-shuffle once, join forever without
  * an Exchange) and salted two-phase aggregation for skewed keys.
  * Both are *plan* transformations — results are identical to the
  * naive forms (spec-asserted), only the shuffle structure changes.
  */
object ScaleOps {

  /** Write `df` as a bucketed+sorted managed table. Spark persists the
    * hash-partitioning in the catalog, so any later equi-join or
    * aggregation on `key` between tables bucketed with the same count
    * requires NO Exchange — the 100 TB pattern for a fact table that
    * is joined on the same key by every downstream query (the
    * pre-shuffle is paid once at ingest, not per query). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
    // run-scoped hygiene (the d23/p18/p23 sink-fixture discipline):
    // demo tables are per-JVM-named so reruns can't green-wash, which
    // also means every invocation would otherwise leak a parquet copy
    // under ./spark-warehouse forever (measured: 64 leaked p14/d24
    // table dirs before this). The files must outlive every read in
    // THIS session, so deletion is registered for JVM exit, not done
    // eagerly; the in-memory catalog dies with the session anyway.
    val spark = df.sparkSession
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .deleteOnExit(loc)
    ()
  }

  /** Equi-join two same-bucketed tables on their bucket key. With both
    * sides bucketed by `key` into the same count, the planner emits a
    * SortMergeJoin with zero Exchange operators (asserted in
    * ScaleOpsSpec) — co-located, shuffle-free. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame = {
    // disable broadcast so the plan demonstrates the co-located join
    // (at real scale both sides are too big to broadcast anyway)
    spark.table(left).hint("merge")
      .join(spark.table(right).hint("merge"), key)
  }

  /** Build a Bloom filter over `key`'s values with Spark's NATIVE
    * `bloom_filter_agg` (the runtime-row-level-filtering aggregate):
    * map-side partial filters merge bitwise up the normal aggregate
    * path. `expectedKeys` sizes the filter at an EXPLICIT 10 bits/key
    * (the 3-arg constructor): ~1% worst-case fpp at capacity — the
    * contract the q33/d15 fp audits were written against — where the
    * 2-arg form's 8-bits/key engine default lands at ~2.1% and left
    * the fp_bounded ≤ 0.03 audit only 1.4× of headroom. Callers size
    * from the actual key count when that is cheap (a materialized
    * batch, a small dim scan) — the conf-default 1M-key/1 MB filter
    * costs a megabyte PER TASK in build buffers, probe literal, and
    * deserialization, a measured 2.7× on d15.
    *
    * SIZING IS CAPPED, NOT UNBOUNDED: BloomFilterAggregate silently
    * clamps to `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`
    * (default 4M keys) and `.maxNumBits` (default 64M bits), so past
    * the caps the realized fpp would climb without any visible
    * change. This builder fails LOUDLY at the cap instead — the
    * caller must either raise the two confs (they are plain session
    * confs; 10 bits/key at 100M keys is a 125 MB filter, still one
    * broadcast-sized literal) or accept a documented larger fpp by
    * pre-partitioning the key space.
    *
    * Returns the serialized bits (null for an empty/all-null input —
    * [[bloomMightContain]] then yields null, i.e. filters everything,
    * the correct empty-build semantics). Keys enter the filter as
    * xxhash64 longs — the same convention Spark's InjectRuntimeFilter
    * rule uses, and the one type the probe expression accepts for any
    * key column. NULL keys must be pre-filtered on BOTH sides:
    * xxhash64 maps NULL to the seed, so an unfiltered NULL would
    * otherwise enter/match. */
  def bloomBuild(df: DataFrame, key: Column, expectedKeys: Long)
      : Array[Byte] = {
    require(expectedKeys > 0, "bloomBuild: expectedKeys must be positive")
    val numBits = expectedKeys * BloomBitsPerKey
    val conf = df.sparkSession.sessionState.conf
    val maxItems = conf.getConfString(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    val maxBits = conf.getConfString(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    // the aggregate clamps silently; degrade loudly here instead so an
    // over-cap build is a decision, not a quiet fpp regression
    require(expectedKeys <= maxItems && numBits <= maxBits,
      s"bloomBuild: $expectedKeys keys x $BloomBitsPerKey bits/key " +
        s"exceeds the runtime-filter caps (maxNumItems=$maxItems, " +
        s"maxNumBits=$maxBits) — BloomFilterAggregate would clamp " +
        "silently and the realized fpp would rise unbounded; raise " +
        "spark.sql.optimizer.runtime.bloomFilter.{maxNumItems,maxNumBits} " +
        "for this session or partition the key space")
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(GraftBridge.expression(xxhash64(key)),
        Literal(expectedKeys), Literal(numBits))
      .toAggregateExpression()
    df.select(GraftBridge.column(agg)).head.getAs[Array[Byte]](0)
  }

  /** Explicit bits/key for [[bloomBuild]]: 10 ≈ the ~1% fpp design
    * point (k = ln2·bits/key ≈ 7 hashes) the fp audits assume. */
  val BloomBitsPerKey: Long = 10L

  /** Probe of a [[bloomBuild]] filter via the native codegen'd
    * `might_contain` expression — unlike a Scala-UDF probe it stays
    * INSIDE the scan's whole-stage-codegen span (PlanSpec pins zero
    * ScalaUDF in the d15/q33 scans), deserializing the bits once per
    * task. No false negatives (the Bloom contract); false positives
    * at the configured fpp ride into whatever exact verify follows. */
  def bloomMightContain(bits: Array[Byte], key: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bits,
          org.apache.spark.sql.types.BinaryType),
        GraftBridge.expression(xxhash64(key))))
  }

  /** Salted two-phase aggregation: spread one hot group over
    * `saltBuckets` sub-keys, aggregate partially per (key, salt), then
    * combine per key. Exactly equals the direct groupBy for count/
    * min/max and for sums over integers or integer-valued doubles
    * (every addition exact); real-valued double sums can differ in
    * final ulps from the direct plan because the association order
    * changes — same caveat as Spark's own partial aggregation under
    * repartitioning. The payoff: the widest shuffle partition shrinks
    * by ~saltBuckets, which is what keeps a skewed key (one language
    * at 80% of a corpus, one hot user) from pinning a single reducer
    * at 100 TB. AQE's skew handling covers *joins*; this is the
    * aggregation-side equivalent.
    */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
      saltBuckets: Int, saltCols: Seq[String] = Nil): DataFrame = {
    require(saltBuckets > 1, "saltBuckets must be > 1")
    require(!df.columns.contains("_salt"),
      "saltedSumCount reserves the _salt column — rename it on the input")
    df.withColumn("_salt", contentSalt(df, saltBuckets, saltCols))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pn"))
      .groupBy(col(key))
      .agg(sum(col("_psum")).as("sum_" + valueCol),
        sum(col("_pn")).as("n"))
  }

  /** Deterministic per-row salt: a content hash over every column,
    * NOT a row-index (`monotonically_increasing_id`) or random. The
    * distinction only matters under failure, which is exactly when it
    * matters most: a row-index salt changes when a lost map task is
    * recomputed with a different input order (any input downstream of
    * a shuffle has fetch-order-dependent row order), so reducers that
    * already fetched the original output and reducers that fetch the
    * recomputed output see DIFFERENT (key, salt) routings of the same
    * rows — rows silently double-count or vanish (the SPARK-23207
    * round-robin-repartition bug class; Spark's own fix sorts before
    * round-robin). A content hash routes a given row identically on
    * every recomputation, so retries are safe by construction.
    *
    * The price: byte-identical duplicate rows co-route to one salt
    * bucket. If a hot key's rows are literal copies, salting cannot
    * spread them deterministically — the caller then passes
    * `saltCols` naming a distinguishing column set (a unique id) and
    * the hash ranges over exactly those instead of the whole row.
    * `saltCols` must themselves be retry-deterministic per row (a
    * stored id qualifies; a generated row index does NOT — that
    * re-opens the SPARK-23207 hole this hash exists to close). */
  private def contentSalt(df: DataFrame, saltBuckets: Int,
      saltCols: Seq[String]): Column = {
    val src = if (saltCols.nonEmpty) saltCols else df.columns.toSeq
    pmod(xxhash64(src.map(col): _*), lit(saltBuckets.toLong))
  }

  /** Salted equi-join for skewed keys: the JOIN-side counterpart of
    * [[saltedSumCount]], for the regime AQE's skew-join cannot reach —
    * when EVERY key is hot (a handful of distinct values over a huge
    * fact side), a plain shuffle join routes the entire fact table
    * into ≤ |keys| reducer tasks no matter how many partitions are
    * configured; AQE can split a skewed partition's FILES, but a
    * hash-join build/probe on (key) still funnels per-key. The fix is
    * classic salting: replicate the (small-per-key but not
    * broadcastable) `dim` side once per salt bucket, route each fact
    * row to one bucket, and join on (key, salt) — the widest task
    * shrinks by ~saltBuckets while the result set is EXACTLY the plain
    * join's (each fact row meets each matching dim row exactly once,
    * at its one salt value; spec-asserted against the broadcast plan).
    *
    * Fact-side routing uses the deterministic content salt (see
    * [[contentSalt]] — a row-index salt corrupts results under stage
    * retry; for a join the corruption is per-row output, not even a
    * re-foldable aggregate). `dim` must be unique per `key` (the usual
    * dim-table contract) — with duplicate dim keys the join is still
    * correct (every copy is replicated to every salt) but the fan-out
    * multiplies, so callers should pre-aggregate first.
    *
    * Cost model: dim is written saltBuckets× into the exchange (it is
    * the SMALL side — that is the premise), fact once; versus the
    * unsalted plan the fact-side exchange is unchanged and the max
    * task width drops by the salt factor. At 100 TB this is the
    * difference between 6 reducers owning a corpus and 6×64 sharing
    * it. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltBuckets: Int, saltCols: Seq[String] = Nil): DataFrame = {
    require(saltBuckets > 1, "saltBuckets must be > 1")
    require(!fact.columns.contains("_salt") && !dim.columns.contains("_salt"),
      "saltedJoin reserves the _salt column — rename it on the input")
    val salts = array((0 until saltBuckets).map(i => lit(i.toLong)): _*)
    val dimSalted = dim.withColumn("_salt", explode(salts))
    // shuffle_hash, not the default sort-merge: no sort on either side,
    // and the build side is the replicated dim (still the small one)
    fact.withColumn("_salt", contentSalt(fact, saltBuckets, saltCols))
      .join(dimSalted.hint("shuffle_hash"), Seq(key, "_salt"))
      .drop("_salt")
  }

  /** Z-order (Morton) clustered write — the lakehouse data-layout
    * technique (Delta/Iceberg `OPTIMIZE ZORDER`) for tables filtered
    * on MORE THAN ONE dimension: each row's two cluster columns are
    * rank-normalized to 21 bits and bit-interleaved into one z-value;
    * range-partitioning + sorting on z makes every output file a
    * bounded RECTANGLE in (c1, c2) space instead of a full-width
    * stripe. A linear sort serves only its own sort column — a filter
    * on the other column touches every file; the z-layout keeps both
    * columns' per-file min/max tight, so parquet file- and
    * row-group-stats pruning works for either dimension (file-count
    * property asserted in ScaleOpsSpec). Normalization bounds come
    * from one 4-scalar aggregate over the input.
    */
  def zOrderWrite(df: DataFrame, c1: String, c2: String, path: String,
      nFiles: Int): Unit = {
    val bounds = df.agg(min(col(c1)).cast("double"), max(col(c1)).cast("double"),
      min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
    if (bounds.isNullAt(0) || bounds.isNullAt(2)) {
      // empty input (or an all-null cluster column): nothing to
      // cluster — still produce the sink instead of an NPE on the bounds
      df.write.mode(SaveMode.Overwrite).parquet(path)
      return
    }
    val (lo1, hi1, lo2, hi2) =
      (bounds.getDouble(0), bounds.getDouble(1),
        bounds.getDouble(2), bounds.getDouble(3))
    val zUdf = udf { (a: Double, b: Double) =>
      val bits = 21
      def norm(v: Double, lo: Double, hi: Double): Long =
        if (hi <= lo) 0L
        else math.min(((v - lo) / (hi - lo) * ((1L << bits) - 1)).toLong,
          (1L << bits) - 1)
      val x = norm(a, lo1, hi1); val y = norm(b, lo2, hi2)
      var z = 0L; var i = 0
      while (i < bits) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    df.withColumn("_z", zUdf(col(c1).cast("double"), col(c2).cast("double")))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** k best rows per key via the engine's native whole-operator
    * ([[graft.plans.TopKPerKeyPlan]] → partial per-partition bounded
    * heaps → key-clustered final merge): the scale replacement for
    * `row_number().over(Window.partitionBy(...)) <= k`, which
    * shuffles and sorts EVERY row. Only ≤ partitions·keys·k rows
    * reach the exchange; no partition ever sorts. `orderBy` is
    * (column, ascending) pairs and should be a total order (add a
    * unique tiebreak column) for a deterministic result set; row
    * order within the result is unspecified, like any aggregate. */
  def topKPerKey(df: DataFrame, keyCols: Seq[String],
      orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, Expression, SortOrder}
    val lp = org.apache.spark.sql.GraftBridge.analyzed(df)
    def attr(n: String) = lp.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"topKPerKey: no column '$n' in [${lp.output.map(_.name).mkString(", ")}]"))
    val keys = keyCols.map(attr(_): Expression)
    val ord = orderBy.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    org.apache.spark.sql.GraftBridge.ofRows(df.sparkSession,
      graft.plans.TopKPerKeyPlan(keys, ord, k, lp))
  }

  /** Exclusive prefix sum of `valueCol` (long) in global `keyCol`
    * (long) order, as a distributed TWO-PHASE pass: range-partition by
    * key, per-partition totals collect to the driver (one long per
    * partition), their cumulative sums broadcast back, and a second
    * per-partition pass emits each row's running offset. The naive
    * formulation — `sum() OVER (ORDER BY key)` with no partitioning —
    * funnels the entire dataset through ONE reducer; this never does
    * (PlanSpec pins no SinglePartition exchange on t13, its consumer).
    *
    * Output columns: keyCol, valueCol, "prefix". Handles empty range
    * partitions (their total is 0, offsets stay aligned by partition
    * id). The input is cached for the two passes and unpersisted
    * before return — the result itself is plain rows.
    */
  def prefixSum(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parted = df
      .select(col(keyCol).cast("long"), col(valueCol).cast("long"))
      .repartitionByRange(col(keyCol))
      .sortWithinPartitions(keyCol)
      .as[(Long, Long)]
      .cache() // both phases must see identical partitions
    val totals = parted.rdd
      .mapPartitionsWithIndex { case (pid, it) =>
        var s = 0L; it.foreach(s += _._2); Iterator.single((pid, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(totals.scanLeft(0L)(_ + _))
    val out = parted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var run = offsets.value(pid)
      it.map { case (k, v) => val p = run; run += v; (k, v, p) }
    }.toDF(keyCol, valueCol, "prefix")
      // materialize before unpersist so the cache isn't yanked from
      // under a lazy consumer
      .localCheckpoint()
    parted.unpersist()
    out
  }

  /** Cap on the driver-collected (partition, group, subtotal) list in
    * [[groupedPrefixSum]]. The list is bounded by partitions + distinct
    * groups; at 1M entries × ~64 bytes that is ~64 MB of driver heap —
    * far above any sane grouping column (languages, domains-of-interest)
    * and far below where the driver falls over, so the failure is loud
    * while legitimate callers never see it. */
  val GroupedPrefixMaxSubtotals: Int = 1 << 20

  /** Per-GROUP exclusive prefix sum of `valueCol` (long) in
    * `orderCols` order within each `groupCol` (string) group, as the
    * same distributed two-phase pass as [[prefixSum]]: range-partition
    * on (group, order...), per-partition PER-GROUP subtotals collect
    * to the driver (bounded by `partitions + distinct groups` entries
    * — each partition holds at most one group that also appears in a
    * later partition, so the list is partitions-many boundary groups
    * plus one entry per wholly-contained group run), cumulative
    * offsets broadcast back, second pass streams each partition once.
    *
    * The naive formulation — `sum() OVER (PARTITION BY group ORDER BY
    * ...)` — funnels every row of a group through ONE reducer task,
    * which is exactly the skew ceiling a training-data corpus hits at
    * 100 TB (one dominant language = one task owning trillions of
    * tokens). Range partitioning on (group, order) instead splits a
    * big group across many partitions and the offset pass stitches the
    * sums back; no task ever holds more than one partition's rows.
    *
    * Output: the input columns plus "cum_before" (the group's running
    * token count BEFORE this row). All other columns ride along.
    *
    * The driver-collected subtotal list is capped at
    * `maxDriverSubtotals` entries (default [[GroupedPrefixMaxSubtotals]])
    * — keying on an unbounded column (domain, url) fails loudly rather
    * than growing the driver heap silently.
    */
  def groupedPrefixSum(df: DataFrame, groupCol: String,
      orderCols: Seq[Column], valueCol: String,
      maxDriverSubtotals: Int = GroupedPrefixMaxSubtotals): DataFrame = {
    require(!df.columns.contains("cum_before"),
      "groupedPrefixSum: input already has a 'cum_before' column — " +
        "rename or drop it before calling (the output column would collide)")
    require(df.schema(groupCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"groupedPrefixSum: groupCol '$groupCol' must be StringType, got " +
        df.schema(groupCol).dataType.simpleString)
    require(df.schema(valueCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"groupedPrefixSum: valueCol '$valueCol' must be LongType, got " +
        df.schema(valueCol).dataType.simpleString)
    val spark = df.sparkSession
    val sortCols = col(groupCol) +: orderCols
    val parted = df
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .cache() // both phases must see identical partitions
    val gIdx = parted.schema.fieldIndex(groupCol)
    val vIdx = parted.schema.fieldIndex(valueCol)
    val subRdd = parted.rdd
      .mapPartitionsWithIndex { case (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach { r =>
          m.update(r.getString(gIdx),
            m.getOrElse(r.getString(gIdx), 0L) + r.getLong(vIdx))
        }
        m.iterator.map { case (g, s) => (pid, g, s) }
      }
    // The driver-side list is bounded by partitions + distinct groups
    // (see scaladoc), but a caller keying on an UNBOUNDED column
    // (domain, url) would grow it silently — fail loudly instead,
    // the LmMaxModelRows discipline. The size check runs BEFORE
    // collect() materializes anything on the driver (a post-collect
    // require would fire only after the heap it guards is already
    // spent): one extra executor-side pass over the CACHED partitions,
    // returning a single long.
    val nSubtotals = subRdd.count()
    require(nSubtotals <= maxDriverSubtotals,
      s"groupedPrefixSum: $nSubtotals per-partition group " +
        s"subtotals exceed maxDriverSubtotals=$maxDriverSubtotals — the " +
        s"group column '$groupCol' has too many distinct values for a " +
        "driver-collected offset table; raise the cap only if the driver " +
        "heap can hold it, or pre-aggregate the group key")
    val subtotals = subRdd.collect()
    // offsets(pid -> group -> sum of the group's subtotals in pid' < pid):
    // per group, sort its subtotals by pid once and scanLeft the running
    // sum — O(P log P) per group, not O(P^2) re-scans
    val offsets: Map[Int, Map[String, Long]] = subtotals
      .groupBy(_._2)
      .iterator
      .flatMap { case (g, entries) =>
        val sorted = entries.sortBy(_._1)
        val cum = sorted.scanLeft(0L)((acc, e) => acc + e._3)
        sorted.iterator.zip(cum.iterator).map { case ((pid, _, _), before) =>
          (pid, g, before)
        }
      }
      .toArray
      .groupBy(_._1)
      .map { case (pid, xs) => pid -> xs.map(t => t._2 -> t._3).toMap }
    val bc = spark.sparkContext.broadcast(offsets)
    val outSchema = parted.schema
      .add("cum_before", org.apache.spark.sql.types.LongType, nullable = false)
    val rows = parted.rdd.mapPartitionsWithIndex { case (pid, it) =>
      val run = scala.collection.mutable.HashMap.empty[String, Long]
      bc.value.get(pid).foreach(run ++= _)
      it.map { r =>
        val g = r.getString(gIdx)
        val p = run.getOrElse(g, 0L)
        run.update(g, p + r.getLong(vIdx))
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ p)
      }
    }
    val out = spark.createDataFrame(rows, outSchema)
      // materialize before unpersist so the cache isn't yanked from
      // under a lazy consumer
      .localCheckpoint()
    parted.unpersist()
    out
  }
}
