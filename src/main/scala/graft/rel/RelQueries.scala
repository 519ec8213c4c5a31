package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Aggregator, Window}

/** The declared relational operator surface of the engine (SURVEY.md
  * §2.2): every dataflow primitive the reference pipeline uses —
  * scan/project/filter/regex/union/distinct/group-agg/broadcast-join/
  * shuffle-join/semi/anti/pivot/explode/window/sample/limit/
  * aggregate-then-filter — exercised as an oracle-checked query over the
  * driver's star schema.
  *
  * Each generalizes a concrete reference pattern (file:line cites into
  * /root/reference). All plans are declarative DataFrame ops so Catalyst
  * applies pushdown/pruning/partial-agg; joins against the small
  * dimensions are explicitly `broadcast(...)` (the reference's J1/J2
  * pattern, src/scip/illumination_correction/jones_2006.py:118-120).
  *
  * Determinism contract: every query ORDER BYs a unique key, aggregates
  * over exact-decimal money columns are rounded to 2 decimals in both
  * the Spark plan and the DuckDB oracle, dates are emitted as formatted
  * strings — so row hashes match the oracle bit-for-bit.
  */
object RelQueries {
  import Tables._

  /** Exact fixed-point money aggregation. Money columns carry ≤4 decimal
    * digits, so `round(x·10⁴)` recovers the exact per-row integer in both
    * engines; the sum is then integer arithmetic — no FP accumulation
    * drift, no rounding-boundary hazard against the oracle. (TPC-H
    * specifies DECIMAL for exactly this reason.) */
  /** Money in integer ten-thousandths — the quantization step whose
    * rounding mode the oracle parity depends on; q47's mergeable MV
    * state stores these units undivided. */
  private[rel] def moneyUnits(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 10000).cast("long")
  private def moneySum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(moneyUnits(c)).cast("double") / 10000.0
  private def moneySumSql(expr: String): String =
    s"sum(CAST(round(($expr) * 10000) AS BIGINT)) / 10000.0"

  val all: Seq[Q] = Seq(
    // ---- scans / projections -------------------------------------------
    // S1-S9 generalization: parquet scan + column pruning.
    Q("q01_scan_project",
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber") { (s, d) =>
      lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // F1-F4 generalization: predicate pushdown to the parquet scan.
    Q("q02_filter_pushdown",
      "SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_date, " +
        "l_extendedprice FROM lineitem " +
        "WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_discount > 0.05 " +
        "ORDER BY l_orderkey, l_linenumber") { (s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
          col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // P3/P5 generalization: computed projection + rename (pure, codegen'd).
    // No rounding: both engines perform the identical IEEE multiplies, so
    // the raw doubles match bit-for-bit (rounding would *introduce*
    // half-way-tie divergence between BigDecimal-HALF_UP and nearbyint).
    Q("q03_project_compute",
      "SELECT l_orderkey, l_linenumber, " +
        "l_extendedprice * (1 - l_discount) AS revenue, " +
        "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber") { (s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).as("charge"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Regex meta-extraction at scan (loading/tiff.py:135-141).
    Q("q04_regex_extract",
      "SELECT doc_id, regexp_extract(source, 'src([0-9]+)', 1) AS src_num, " +
        "lang FROM documents ORDER BY doc_id") { (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          regexp_extract(col("source"), "src([0-9]+)", 1).as("src_num"),
          col("lang"))
        .orderBy("doc_id")
    },

    // S1 union of per-path sources (loading/__init__.py:44).
    Q("q05_union_all",
      "SELECT c_name AS name, 'customer' AS kind FROM customer UNION ALL " +
        "SELECT s_name AS name, 'supplier' AS kind FROM supplier " +
        "ORDER BY kind, name") { (s, d) =>
      customer(s, d).select(col("c_name").as("name"), lit("customer").as("kind"))
        .unionByName(
          supplier(s, d).select(col("s_name").as("name"), lit("supplier").as("kind")))
        .orderBy("kind", "name")
    },

    // A4: distinct (main.py:175's distinct group count).
    Q("q06_distinct",
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment") {
      (s, d) =>
        customer(s, d).select("c_mktsegment").distinct().orderBy("c_mktsegment")
    },

    // ---- aggregations ---------------------------------------------------
    // A1-A3: partial+final hash aggregation (TPC-H Q1 shape).
    Q("q07_agg_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | ${moneySumSql("l_extendedprice")} AS sum_base_price,
        | ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
        | avg(l_quantity) AS avg_qty,
        | ${moneySumSql("l_extendedprice")} / count(*) AS avg_price,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          // l_quantity is integral: its double sum is exact, so plain avg
          // matches the oracle bit-for-bit.
          avg("l_quantity").as("avg_qty"),
          (moneySum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // A1: per-group min/max extents (quantile_normalization.py:25-64).
    Q("q08_group_minmax",
      """SELECT l_suppkey, min(l_extendedprice) AS min_price,
        | max(l_extendedprice) AS max_price, min(l_quantity) AS min_qty,
        | max(l_quantity) AS max_qty, count(*) AS n
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin) {
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_suppkey")
          .agg(min("l_extendedprice").as("min_price"),
            max("l_extendedprice").as("max_price"),
            min("l_quantity").as("min_qty"),
            max("l_quantity").as("max_qty"),
            count(lit(1)).as("n"))
          .orderBy("l_suppkey")
    },

    // A3: global mean/std of a per-record stat (filter/threshold.py:15-19).
    Q("q09_global_stats",
      """SELECT avg(l_quantity) AS avg_qty,
        | round(stddev_pop(l_quantity), 6) AS std_qty,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        | count(*) AS n
        |FROM lineitem""".stripMargin) { (s, d) =>
      // avg: l_quantity is integer-valued, every partial sum < 2^53 is
      // EXACT in any accumulation order -> one division, bit-identical
      // unrounded (round(.,6) was the cross-engine half-tie hazard).
      // stddev: the unrounded value IS order-dependent at ulp level
      // (Welford accumulation), so round(6) stays load-bearing there;
      // accepted flake bound = the q40/t18 class (a hash flip needs the
      // true value within ~1e-12 of a .5e-6 rounding boundary).
      lineitem(s, d)
        .agg(avg("l_quantity").as("avg_qty"),
          round(stddev_pop("l_quantity"), 6).as("std_qty"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"),
          count(lit(1)).as("n"))
    },

    // ---- joins ----------------------------------------------------------
    // J1/J2: broadcast hash equi-join of a small dimension.
    Q("q10_join_broadcast",
      s"""SELECT p_brand, count(*) AS n_items, sum(l_quantity) AS sum_qty,
        | ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          sum("l_quantity").as("sum_qty"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy("p_brand")
    },

    // J3 generalization: multi-way join (shuffle join on the fact side,
    // broadcast on dims).
    Q("q11_join_multi",
      s"""SELECT r_name, n_name, count(*) AS n_orders,
        | ${moneySumSql("o_totalprice")} AS revenue
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) {
      (s, d) =>
        orders(s, d)
          .join(customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(count(lit(1)).as("n_orders"),
            moneySum(col("o_totalprice")).as("revenue"))
          .orderBy("r_name", "n_name")
    },

    // Semi join (EXISTS).
    Q("q12_semi_join",
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    },

    // Anti join (NOT EXISTS) — missing-channel drop generalization
    // (loading/tiff.py:152).
    Q("q13_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- pivot (S2: loading/tiff.py:145 id×channel matrix) --------------
    Q("q14_pivot",
      """SELECT n_name,
        | count(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS "AUTOMOBILE",
        | count(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS "BUILDING",
        | count(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 END) AS "FURNITURE",
        | count(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 END) AS "HOUSEHOLD",
        | count(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS "MACHINERY"
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val pivoted = customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .pivot("c_mktsegment", segs)
        .agg(count(lit(1)))
      // Spark pivot yields NULL for empty cells; the oracle's COUNT(CASE)
      // yields 0 — normalize.
      pivoted
        .select(col("n_name") +: segs.map(v => coalesce(col(s"`$v`"), lit(0L)).as(v)): _*)
        .orderBy("n_name")
    },

    // ---- explode / flatMap (X1: segmentation 1→N) ------------------------
    Q("q15_explode_tokens",
      """SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY cnt DESC, token""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
    },

    // ---- window functions (north-star: top-k per group) ------------------
    Q("q16_window_topk",
      """SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer)
        |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      customer(s, d)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("c_mktsegment", "rn")
    },

    // Running aggregate over event time (north-star window machinery).
    Q("q17_window_running",
      """SELECT event_id, user_id,
        | sum(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running
        |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .select(col("event_id"), col("user_id"),
          (sum(round(col("value") * 100).cast("long")).over(w).cast("double")
            / 100.0).as("running"))
        .orderBy("user_id", "event_id")
    },

    // ---- aggregate-then-filter (F2: filter/threshold.py) -----------------
    // The population filter: compute a global stat, broadcast it back as a
    // predicate (decorrelated scalar subquery via crossJoin(broadcast)).
    Q("q18_agg_then_filter",
      """SELECT l_returnflag, count(*) AS n_above
        |FROM lineitem
        |WHERE l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val li = lineitem(s, d)
      val stats = li.agg(avg("l_extendedprice").as("avg_price"))
      li.crossJoin(broadcast(stats))
        .filter(col("l_extendedprice") > col("avg_price"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_above"))
        .orderBy("l_returnflag")
    },

    // Rollup (engine generalization beyond reference's single-key groupBy).
    Q("q19_rollup",
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus,
        | sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("returnflag", "linestatus")
    },

    // Full cube (all grouping sets — the rollup's superset; Spark plans
    // one Expand + one aggregate, not 4 scans).
    Q("q27_cube",
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus,
        | sum(l_quantity) AS sum_qty,
        | sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price,
        | count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100).cast("long")).cast("double")
            / 100.0).as("sum_price"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("sum_price"), col("n"))
        .orderBy("returnflag", "linestatus")
    },

    // L1: limit / top-k by sort.
    Q("q20_limit_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) {
      (s, d) =>
        orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
    },

    // Time bucketing over the event stream (batch form of the streaming
    // windowed aggregate).
    Q("q21_time_bucket",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        | event_type, count(*) AS n,
        | sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) {
      (s, d) =>
        events(s, d)
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00")
              .as("hour"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            (sum(round(col("value") * 100).cast("long")).cast("double")
              / 100.0).as("sum_value"))
          .orderBy("hour", "event_type")
    },

    // JSON scalar extraction over the events props column.
    Q("q22_json_extract",
      """SELECT event_type,
        | max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
        | min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        | count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, d) =>
        events(s, d)
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("int").as("k"))
          .groupBy("event_type")
          .agg(max("k").as("max_k"), min("k").as("min_k"),
            count(lit(1)).as("n"))
          .orderBy("event_type")
    },

    // L1/L2: exact-k random sample. The sampled SET is not
    // oracle-reproducible (seeded rand is engine-specific), but its
    // CONTRACT is: the query runs the sample twice and emits a
    // one-row summary — k returned, k distinct, k present in the
    // input (semi-join), and the symmetric difference of the two
    // runs (0 ⟺ same seed → identical sample) — all constants the
    // driver's DuckDB oracle replays literally at any sf ≥ 50 orders.
    Q("q23_sample_exact_k",
      """SELECT CAST(50 AS BIGINT) AS k_returned,
        | CAST(50 AS BIGINT) AS k_distinct,
        | CAST(50 AS BIGINT) AS k_in_input,
        | CAST(0 AS BIGINT) AS rerun_diff""".stripMargin) { (s, d) =>
      def sample = orders(s, d)
        .orderBy(rand(42), col("o_orderkey"))
        .limit(50)
        .select("o_orderkey", "o_totalprice")
      // materialize each draw ONCE (localCheckpoint): the first is
      // reused by the k/distinct/in-input legs, the second is a
      // genuine independent re-evaluation of the plan (same seed ⟹
      // identical sample) whose result the symmetric difference then
      // reads twice — 2 sample jobs total instead of 5
      val one = Lineage.cut(sample)
      val two = Lineage.cut(sample)
      val diff = one.exceptAll(two).unionAll(two.exceptAll(one))
      val inInput = one.join(orders(s, d).select("o_orderkey"), Seq("o_orderkey"),
        "left_semi")
      one.agg(count(lit(1)).as("k_returned"),
          countDistinct(col("o_orderkey")).as("k_distinct"))
        .crossJoin(inInput.agg(count(lit(1)).as("k_in_input")))
        .crossJoin(diff.agg(count(lit(1)).as("rerun_diff")))
    },

    // Composite analytics shape (TPC-H Q3 family): selective filters on
    // two sides of a 3-table join, aggregate on the join output, top-k.
    // customer is broadcast (small dim); orders⋈lineitem is the one
    // real shuffle; revenue summed in exact cents.
    Q("q28_order_revenue",
      """SELECT l_orderkey,
        | sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0
        |   AS revenue,
        | strftime(min(o_orderdate), '%Y-%m-%d') AS orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderstatus <> 'F'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      val cust = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ords = orders(s, d).filter(col("o_orderstatus") =!= "F")
        .select("o_orderkey", "o_custkey", "o_orderdate")
      lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(ords, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey")
        .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")).cast("double") / 100.0).as("revenue"),
          date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // Range (interval-containment) join: clicks counted inside each
    // error's 2-hour window. Spark has no native range join — a naive
    // inequality join plans BroadcastNestedLoop (quadratic). This is
    // the binned shape: intervals explode to the hour buckets they
    // span (≤3 rows each), points map to exactly ONE bucket, the join
    // is a plain equi-join on the bucket + a residual containment
    // filter — no pair can match twice, no cross product anywhere. At
    // scale the bin is chosen ≈ the median interval span. Oracle:
    // DuckDB's native inequality join.
    Q("q29_range_join",
      """SELECT e.event_id, count(c.event_id) AS n_clicks
        |FROM (SELECT event_id, ts, ts + INTERVAL 2 HOUR AS te
        |      FROM events WHERE event_type = 'error') e
        |JOIN (SELECT event_id, ts FROM events WHERE event_type = 'click') c
        |  ON c.ts >= e.ts AND c.ts < e.te
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val hourUs = 3600L * 1000000L
      val ev = Tables.events(s, d)
      val intervals = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("iid"), unix_micros(col("ts")).as("s_us"))
        .withColumn("e_us", col("s_us") + lit(2 * hourUs))
        .withColumn("bucket",
          explode(sequence(expr(s"s_us div $hourUs"),
            expr(s"(e_us - 1) div $hourUs"))))
      val points = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), unix_micros(col("ts")).as("c_us"))
        .withColumn("bucket", expr(s"c_us div $hourUs"))
      points.join(intervals, "bucket")
        .filter(col("c_us") >= col("s_us") && col("c_us") < col("e_us"))
        .groupBy(col("iid").as("event_id"))
        .agg(count(col("cid")).as("n_clicks"))
        .orderBy("event_id")
    },

    // Deterministic stratified sampling: k docs per language, chosen by
    // md5(doc_id) order — the reproducible hash-sampling strategy used
    // for training-data splits (same rows on every engine and run, no
    // seeded RNG). Unlike q16's window row_number (which sorts whole
    // groups), the selection is the engine's native TopKPerKey
    // whole-operator (the same primitive q41 and the ANN shortlists
    // use): per-partition k-bounded heaps, key-clustered final merge —
    // per-group state is O(k) at any corpus size and nothing ever
    // sorts a whole group. The rank window runs over the ≤ langs·k
    // survivors only.
    Q("q24_stratified_sample",
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin) { (s, d) =>
      val k = 20
      val shortlist = ScaleOps.topKPerKey(
        documents(s, d).select(col("lang"),
          md5(col("doc_id").cast("string")).as("h"), col("doc_id")),
        Seq("lang"), Seq(("h", true), ("doc_id", true)), k)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("h"), col("doc_id"))
      shortlist.withColumn("rk", row_number().over(w).cast("long"))
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "rk")
    },

    // Grouped exact quantiles (A2/A3 distribution stats generalized):
    // Spark's exact `percentile` and DuckDB's `quantile_cont` share the
    // same linear-interpolation definition (index q·(n−1)), so the
    // doubles match bit for bit. Exact percentile keeps a per-group
    // value-count buffer (ObjectHashAggregate, partial+final) — right
    // for oracle parity and keyed groups; for 100 TB global quantiles
    // swap in approx_percentile (t-digest sketch, bounded memory, same
    // call shape).
    Q("q25_group_quantiles",
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS med_qty,
        | quantile_cont(l_extendedprice, 0.25) AS p25_price,
        | quantile_cont(l_extendedprice, 0.9) AS p90_price,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(percentile(col("l_quantity"), lit(0.5)).as("med_qty"),
            percentile(col("l_extendedprice"), lit(0.25)).as("p25_price"),
            percentile(col("l_extendedprice"), lit(0.9)).as("p90_price"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
    },

    // As-of join: each purchase matched to the user's most recent
    // click at-or-before it — the canonical event-attribution /
    // point-in-time-lookup operator Spark lacks as a builtin. Executed
    // as the scalable union-tag shape: tag both streams, ONE shuffle on
    // user_id, and a running `last(_, ignoreNulls)` over (ts, pri)
    // carries the latest click into each purchase row. No range join,
    // no per-key loop, no band cross-product — a naive time-condition
    // join would be O(clicks × purchases) per user; this is one sort.
    // Oracle: DuckDB's native ASOF LEFT JOIN.
    Q("q26_asof_join",
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        | c.event_id AS click_id, epoch_us(c.ts) AS click_ts_us
        |FROM (SELECT * FROM events
        |      WHERE event_type = 'purchase' AND user_id IS NOT NULL) p
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, event_id FROM (
        |    SELECT user_id, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY event_id DESC) AS rk
        |    FROM events WHERE event_type = 'click' AND user_id IS NOT NULL)
        |  WHERE rk = 1) c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      // NULL user_ids are excluded on both sides (ASOF's equality
      // never matches NULL, but a window partition would lump them
      // together); clicks at an identical (user, ts) collapse to the
      // max event_id so the as-of pick is well-defined — DuckDB's
      // ASOF is unspecified among exact ties, ours isn't
      val dedupW = Window.partitionBy("user_id", "ts")
        .orderBy(col("event_id").desc)
      val clicks = ev
        .filter(col("event_type") === "click" && col("user_id").isNotNull)
        .withColumn("rk", row_number().over(dedupW)).filter(col("rk") === 1)
        .select(col("user_id"), col("ts"), lit(1).as("pri"),
          lit(null).cast("long").as("event_id"),
          col("event_id").as("click_id"),
          unix_micros(col("ts")).as("click_ts_us"))
      val purchases = ev
        .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), lit(2).as("pri"),
          col("event_id"),
          lit(null).cast("long").as("click_id"),
          lit(null).cast("long").as("click_ts_us"))
      // clicks sort before purchases at equal ts (pri), so ts-ties obey
      // the ASOF p.ts >= c.ts contract; click_id breaks exact dup ties
      // deterministically
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("pri"), col("click_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("pri"),
          last(col("click_id"), ignoreNulls = true).over(w).as("click_id"),
          last(col("click_ts_us"), ignoreNulls = true).over(w).as("click_ts_us"))
        .filter(col("pri") === 2)
        .select("event_id", "user_id", "ts_us", "click_id", "click_ts_us")
        .orderBy("event_id")
    },

    // Sketch-based distinct counting with an in-query self-audit: the
    // exact count(DISTINCT) is what the oracle replays; the HLL++
    // sketch (approx_count_distinct, rsd 5%) is the 100 TB product
    // path — a one-pass, fixed-size, mergeable aggregate with NO
    // distinct-key shuffle — and the query asserts its own error
    // bound by emitting |approx−exact|/exact ≤ 3·rsd as a column.
    Q("q30_distinct_sketch",
      """SELECT count(DISTINCT l_orderkey) AS n_exact, true AS approx_ok
        |FROM lineitem""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .agg(countDistinct(col("l_orderkey")).as("n_exact"),
          approx_count_distinct(col("l_orderkey"), 0.05).as("n_approx"))
        .select(col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.15).as("approx_ok"))
    },

    // Set operators with SQL set semantics (implicit distinct):
    // customers holding both open and finished orders vs open-only.
    // Spark plans INTERSECT/EXCEPT as hash aggregate + one hash
    // left-semi/left-anti join keyed on the column set — a single
    // key-shuffle each, no sort, no cross product; both sides here
    // prune to the one join column before any exchange.
    Q("q31_set_ops",
      """SELECT 'both' AS op, o_custkey AS custkey FROM
        | (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT 'open_only' AS op, o_custkey AS custkey FROM
        | (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY op, custkey""".stripMargin) { (s, d) =>
      val open = orders(s, d).filter(col("o_orderstatus") === "O")
        .select("o_custkey")
      val fin = orders(s, d).filter(col("o_orderstatus") === "F")
        .select("o_custkey")
      open.intersect(fin)
        .select(lit("both").as("op"), col("o_custkey").as("custkey"))
        .unionAll(open.except(fin)
          .select(lit("open_only").as("op"), col("o_custkey").as("custkey")))
        .orderBy("op", "custkey")
    },

    // Skew-salted aggregation as a first-class query (ScaleOps
    // .saltedSumCount): `lang` is the canonical hot key of an LLM
    // corpus (one language dominating), and the salt spreads it over 8
    // sub-keys so no single reducer owns the hot group — AQE handles
    // skewed *joins*, this is the aggregation-side counterpart.
    // n_chars is integral, so the two-phase sum is exact and the
    // result is bit-identical to the direct groupBy (ScaleOpsSpec).
    Q("q32_salted_agg",
      """SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
        | count(*) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      ScaleOps.saltedSumCount(documents(s, d), "lang", "n_chars", 8)
        .orderBy("lang")
    },

    // Bloom-filter semi-join — Spark's runtime-filter/DPP idea made
    // explicit: the selective dim key set folds to Bloom bits
    // (native bloom_filter_agg → one aggregate, driver gets bits not
    // keys), the bits broadcast, and the fact side pre-filters in a
    // narrow scan with NO shuffle of non-matching rows. At 100 TB the
    // fact table never shuffles on the join key at all; only the
    // Bloom-surviving sliver (matches + fpp·misses) reaches the exact
    // verify join. Self-audit: exact_matches is the oracle-replayable
    // semi-join count; no_false_negatives certifies every exact match
    // passed the filter (the Bloom contract); fp_bounded certifies the
    // measured false-positive rate among true misses ≤ 3×fpp.
    Q("q33_bloom_semi",
      """SELECT count(*) AS exact_matches,
        | CAST(1 AS BIGINT) AS no_false_negatives,
        | CAST(1 AS BIGINT) AS fp_bounded
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 40)""".stripMargin) { (s, d) =>
      val keys = part(s, d).filter(col("p_size") >= 40).select("p_partkey")
      // the build/probe are Spark's NATIVE runtime-filter expressions
      // (bloom_filter_agg / might_contain), not a Scala UDF: the probe
      // codegens into the fact scan's whole-stage span (PlanSpec pins
      // zero ScalaUDF there). Sizing stays from the ACTUAL key count
      // (one tiny dim-side scan — the q33 discipline): a fixed
      // constant under-sizes at sf ≥ 1 and inflates the realized fpp
      // past the fp_bounded audit, while the conf-default 1M/1 MB
      // filter costs a megabyte per task
      val bloomBits = ScaleOps.bloomBuild(keys, col("p_partkey"),
        math.max(1024L, keys.count()))
      val li = lineitem(s, d).select("l_partkey")
      val passed = li.filter(
        ScaleOps.bloomMightContain(bloomBits, col("l_partkey")))
      val exactAll = li.join(broadcast(keys),
        col("l_partkey") === col("p_partkey"), "left_semi")
      val exactPassed = passed.join(broadcast(keys),
        col("l_partkey") === col("p_partkey"), "left_semi")
      exactAll.agg(count(lit(1)).as("exact_matches"))
        .crossJoin(passed.agg(count(lit(1)).as("_bloom_pass")))
        .crossJoin(exactPassed.agg(count(lit(1)).as("_exact_passed")))
        .crossJoin(li.agg(count(lit(1)).as("_n")))
        .select(col("exact_matches"),
          (col("_exact_passed") === col("exact_matches")).cast("bigint")
            .as("no_false_negatives"),
          ((col("_bloom_pass") - col("_exact_passed")).cast("double") /
            greatest(lit(1L), col("_n") - col("exact_matches")) <= 0.03)
            .cast("bigint").as("fp_bounded"))
    },

    // Event-time RANGE window frame (distinct from q17's running
    // row frame): per user, the trailing-1-hour mean event value.
    // Frame bounds are VALUE-based (micros), so peers and gaps behave
    // identically in both engines; the mean is computed as an exact
    // integer cent-sum over the frame divided once, which keeps the
    // hash bit-stable under any in-frame accumulation order. One
    // shuffle on user_id; frames evaluate in a single sorted pass per
    // partition (no self-join formulation of the sliding window).
    Q("q34_range_frame",
      """SELECT event_id, user_id,
        | (sum(CAST(round(value * 100) AS BIGINT))
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
        |  / (100.0 * count(*)
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
        |   AS avg_1h
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val frame = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, Window.currentRow)
      events(s, d)
        .select(col("event_id"), col("user_id"),
          // UNROUNDED on purpose: exact integer cent-sum over exact
          // integer count -> ONE double division, bit-identical across
          // engines. round(x, 4) would re-introduce the cross-engine
          // half-tie divergence (Spark shortest-decimal HALF_UP vs
          // DuckDB binary scaled round) on c/(100n) rationals — the
          // empirically confirmed hazard class.
          (sum(round(col("value") * 100).cast("long")).over(frame) /
            (count(lit(1)).over(frame) * 100.0)).as("avg_1h"))
        .orderBy("event_id")
    },

    // Quantile sketch with an in-query self-audit (the q30 pattern for
    // quantiles): the exact interpolated median is what the oracle
    // replays; approx_percentile (Greenwald-Khanna, the 100 TB path —
    // one pass, bounded memory, mergeable, no global sort) asserts its
    // own error bound in-result. q25 keeps exact per-group quantiles;
    // this is the corpus-wide sketch form.
    Q("q35_quantile_sketch",
      """SELECT quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5)
        |   / 100.0 AS p50_exact,
        | true AS approx_ok
        |FROM lineitem""".stripMargin) { (s, d) =>
      // the median is taken over exact integer CENTS: an even-count
      // median interpolates between two integers, which is an exact
      // multiple of 0.5 under either engine's interpolation formula
      // (a + (b-a)/2 and (a+b)/2 agree exactly on integer doubles), so
      // the /100.0 output is bit-identical WITHOUT rounding. The old
      // round(median, 2) was the empirically confirmed cross-engine
      // half-tie hazard: all three sf medians are half-cent midpoints.
      lineitem(s, d)
        .agg(percentile(round(col("l_extendedprice") * 100).cast("long"),
            lit(0.5)).as("_exact_cents"),
          approx_percentile(col("l_extendedprice"), lit(0.5), lit(10000))
            .as("_approx"))
        .select((col("_exact_cents") / 100.0).as("p50_exact"),
          (abs(col("_approx") - col("_exact_cents") / 100.0) /
            (col("_exact_cents") / 100.0) <= 0.05).as("approx_ok"))
    },

    // GROUPING SETS — the explicit-lattice third of the rollup (q19) /
    // cube (q27) family: only the requested groupings materialize
    // (here the two 1-D marginals + grand total, NOT the 2-D cells).
    // Same execution shape as cube: one Expand to 3 grouping ids, one
    // partial+final aggregate — not one scan per grouping.
    Q("q36_grouping_sets",
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        | coalesce(l_linestatus, 'ALL') AS ls,
        | count(*) AS n,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    },

    // Full-outer join (customers without orders keep null stats, and
    // vice versa). Broadcast hash join cannot serve full-outer, so the
    // naive plan is SortMergeJoin; the shuffle_hash hint keeps it a
    // ShuffledHashJoin — same single key-shuffle, NO per-partition
    // sort — the right call whenever one side's partitions fit in
    // memory (the aggregated side here is one row per customer).
    Q("q37_outer_join",
      """SELECT coalesce(c_custkey, o_custkey) AS custkey,
        | c_mktsegment, n_orders
        |FROM customer FULL OUTER JOIN
        | (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) o
        | ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin) { (s, d) =>
      val ords = orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"))
      customer(s, d).select("c_custkey", "c_mktsegment")
        .join(ords.hint("shuffle_hash"),
          col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_mktsegment"), col("n_orders"))
        .orderBy("custkey")
    },

    // Iterative graph dataflow: 10 synchronized PageRank power
    // iterations (d=0.85) on the undirected bipartite user↔event_type
    // graph. The d07 star-contraction pattern generalized: each
    // iteration is ONE shuffle keyed on the destination node
    // (contribution aggregate), lineage cut per round with
    // localCheckpoint so the plan doesn't grow — the canonical "would
    // this still run at 100 TB" iterative shape (edge table sharded
    // by key, rank state ≪ edges). The oracle unrolls the same 10
    // iterations as chained CTEs; ranks round to 6 decimals and order
    // by node, so FP association-order ulps can't flip the hash.
    Q("q38_pagerank", {
      val iters = (1 to 10).map { k =>
        s"""r$k AS (
           |  SELECT d.src AS node,
           |    0.15 / (SELECT n FROM nn) + 0.85 * coalesce(s.c, 0) AS rank
           |  FROM deg d LEFT JOIN (
           |    SELECT u.dst AS node, sum(r.rank / dg.deg) AS c
           |    FROM und u JOIN r${k - 1} r ON u.src = r.node
           |      JOIN deg dg ON u.src = dg.src
           |    GROUP BY u.dst) s ON d.src = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT 'u:' || user_id AS src, 't:' || event_type AS dst
         |  FROM events WHERE user_id IS NOT NULL),
         |und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
         |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT d.src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg d),
         |$iters
         |SELECT node, round(rank, 6) AS rank
         |FROM r10 ORDER BY node""".stripMargin
    }) { (s, d) =>
      // NULL user_id excluded on BOTH sides: a NULL node would agree in
      // value but sort NULLS FIRST in Spark vs NULLS LAST in DuckDB —
      // an order-sensitive divergence in the presentation sort (the
      // q26/q41+ filter discipline)
      val e = events(s, d)
        .filter(col("user_id").isNotNull)
        .select(concat(lit("u:"), col("user_id")).as("src"),
          concat(lit("t:"), col("event_type")).as("dst"))
        .distinct()
      val und = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .transform(Lineage.cut)
      val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
        .transform(Lineage.cut)
      val n = deg.count()
      // r15 (guide §2.4/§3.1): the deg join is LOOP-INVARIANT — pay it
      // once, not once per power iteration.
      // r16 (VERDICT r15 item 4, guide §3.1): the r15 shape broadcast
      // the FULL rank table every iteration — O(nodes) and fine on the
      // gate corpus, but a 10×-repeated corpus-scale broadcast (and a
      // driver collect) at 100 TB. The broadcast is now GATED on the
      // session's own autoBroadcastJoinThreshold using the node count n
      // (already computed): each rank row is a short node string + a
      // double, conservatively 64 bytes.
      //  - small node set (gate corpus): the r15 plan exactly — edges
      //    pre-joined with deg, repartitioned by dst, checkpointed, so
      //    the iteration is a broadcast hash join + an aggregate that
      //    reuses the dst partitioning: ZERO per-iteration exchange.
      //  - large node set: scale-safe co-partitioned shape — edges
      //    partitioned by SRC and never moved again; each iteration
      //    shuffles only the small, changing rank table into that
      //    partitioning (Exchange on rank, none on edges) and pays the
      //    unavoidable narrow (dst, contrib) aggregate exchange.
      val bcastThrStr = s.conf.get("spark.sql.autoBroadcastJoinThreshold",
        "10MB")
      // plain numbers (incl. "-1" = disabled) don't parse as byte strings
      val bcastThr = scala.util.Try(bcastThrStr.trim.toLong).getOrElse(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(bcastThrStr))
      val useBcast = bcastThr > 0 && n * 64L <= bcastThr
      val undW = Lineage.cut(und.join(deg, Seq("src"))
        .repartition(if (useBcast) col("dst") else col("src")))
      // the old per-iteration `nodes LEFT JOIN contrib` re-attach is a
      // provable no-op on a symmetric edge list: every node in deg is
      // a dst of some und row (und holds both orientations), so
      // contrib's group set IS the node set and the coalesce-to-0
      // dangling-node branch can never fire — dropped outright.
      var rank = deg.select(col("src").as("node"))
        .withColumn("rank", lit(1.0 / n))
      for (i <- 1 to 10) {
        val rankAsSrc = rank.withColumnRenamed("node", "src")
        val next = undW
          .join(if (useBcast) broadcast(rankAsSrc) else rankAsSrc, Seq("src"))
          .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
          .groupBy("node").agg(sum(col("c")).as("in"))
          .select(col("node"),
            (lit(0.15 / n) + lit(0.85) * col("in")).as("rank"))
        // lineage cut every OTHER round: the plan between cuts stays
        // bounded at two joined iterations while halving the eager
        // materialization jobs (the rank state is tiny — the cut is
        // about plan growth, not data volume)
        rank = if (i % 2 == 0) Lineage.cut(next) else next
      }
      rank.select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    },

    // Heavy hitters (Misra-Gries) with exact verification — the
    // one-pass trending-items primitive: a 64-counter mergeable
    // summary guarantees every token with frequency > n/65 survives
    // the sketch; candidates (≤64 of them) are then EXACTLY counted
    // in a second pass that filters to the candidate set BEFORE any
    // shuffle. The naive plan shuffles the full vocab-keyed token
    // stream; this shuffles 64-entry maps (pass 1) + counts for ≤64
    // tokens (pass 2) — the d04 candidates-then-verify shape applied
    // to frequency. Output = exact counts of tokens ≥ 2.5% of the
    // stream, so the oracle is plain SQL.
    Q("q39_heavy_hitters",
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split(text, ' '),
        |                            t -> length(t) > 0)) AS tok
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM w)
        |SELECT tok, count(*) AS n_tok FROM w, tot
        |GROUP BY tok, tot.n HAVING count(*) >= tot.n / 40.0
        |ORDER BY n_tok DESC, tok""".stripMargin) { (s, d) =>
      import s.implicits._
      val toks = documents(s, d)
        .select(explode(filter(split(col("text"), " "),
          t => length(t) > 0)).as("tok"))
      // the buffer carries the exact stream length alongside the MG
      // sketch, so candidates AND the threshold total come out of ONE
      // corpus scan — a separate count() would be a full extra read of
      // the token stream (an entire corpus pass at the 100 TB point)
      val mg = new Aggregator[String, (Map[String, Long], Long),
          (Map[String, Long], Long)] {
        val K = 64
        private def shrink(m: Map[String, Long]): Map[String, Long] =
          if (m.size <= K) m
          else {
            // subtract the (K+1)-th largest count from all, drop <= 0
            val cut = m.values.toSeq.sorted(Ordering[Long].reverse)(K)
            m.flatMap { case (t, c) =>
              if (c - cut > 0) Some(t -> (c - cut)) else None
            }
          }
        def zero: (Map[String, Long], Long) = (Map.empty, 0L)
        def reduce(b: (Map[String, Long], Long), t: String): (Map[String, Long], Long) =
          (shrink(b._1.updated(t, b._1.getOrElse(t, 0L) + 1)), b._2 + 1)
        def merge(a: (Map[String, Long], Long),
            b: (Map[String, Long], Long)): (Map[String, Long], Long) =
          (shrink(b._1.foldLeft(a._1) { case (m, (t, c)) =>
            m.updated(t, m.getOrElse(t, 0L) + c)
          }), a._2 + b._2)
        def finish(m: (Map[String, Long], Long)): (Map[String, Long], Long) = m
        def bufferEncoder =
          implicitly[org.apache.spark.sql.Encoder[(Map[String, Long], Long)]]
        def outputEncoder =
          implicitly[org.apache.spark.sql.Encoder[(Map[String, Long], Long)]]
      }
      val (candMap, n) = toks.as[String].select(mg.toColumn).head()
      // exact verify: filter to the ≤64 candidates BEFORE the shuffle
      val candidates = candMap.keys.toSeq
      toks.filter(col("tok").isin(candidates: _*))
        .groupBy("tok").agg(count(lit(1)).as("n_tok"))
        .filter(col("n_tok") >= n / 40.0)
        .orderBy(col("n_tok").desc, col("tok"))
    },

    // Weighted sampling without replacement (Efraimidis–Spirakis 2006)
    // — the curriculum/quality-weighted selection step of a training
    // pipeline ("take k documents with probability ∝ weight", here
    // weight = n_chars, i.e. token-budget-proportional). Each row gets
    // an EXPONENTIAL-sort key ln(u)/w from a DETERMINISTIC uniform u
    // (md5(doc_id) top 13 hex digits / 2^52 — engine-reproducible, so
    // the oracle replays the identical draw); the sample IS the global
    // top-k by that key. Scale shape: ONE narrow pass computes keys,
    // TakeOrdered keeps k per partition and merges k at the driver —
    // no shuffle of the corpus, no global sort (the ES paper's
    // reservoir form, distributed). Only exact integer columns are
    // emitted: the float key stays internal, so cross-engine libm
    // ulps cannot touch the hash (selection flips would need an
    // order-statistic gap below 1 ulp — vanishing at any n).
    // ENFORCED flake bound (not just argued): the same TakeOrdered
    // pass keeps k+1 rows, and a final bounded mapPartitions REQUIREs
    // the selection-boundary gap |es(k) − es(k+1)| to exceed 1e6 ulps
    // of the key before emitting the top k — so a cross-engine flip
    // (which needs a ≤1-ulp gap; JVM Math.log vs DuckDB libm agree to
    // ≤1 ulp and the u/wt inputs are bit-identical) cannot pass
    // silently: a clustered-key regime fails LOUDLY instead of
    // hash-flaking. Measured at sf0.01: gap 1.76e-5 on keys of
    // magnitude 7.8e-4 — a 2.3e-2 relative gap, ~14 orders above the
    // 2.2e-16 ulp scale and ~8 above the guard; u carries 52 fresh
    // hash bits per row, so keys stay spread for any weight scheme
    // whose weights don't collapse the hash term. If a future scheme
    // trips the guard, switch the boundary comparator to the md5 hex
    // string within each weight bucket — exact in both engines.
    Q("q40_weighted_sample",
      """WITH w AS (
        |  SELECT doc_id, n_chars,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::UBIGINT
        |      / 4503599627370496.0 AS u,
        |    CAST(greatest(n_chars, 1) AS DOUBLE) AS wt
        |  FROM documents),
        |k AS (SELECT doc_id, n_chars, ln(u) / wt AS es FROM w),
        |top AS (SELECT doc_id, n_chars FROM k
        |        ORDER BY es DESC, doc_id LIMIT 100)
        |SELECT doc_id, n_chars FROM top ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 13),
        16, 10).cast("long") / lit(4503599627370496.0) // 2^52: exact div
      documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          (log(u) / greatest(col("n_chars"), lit(1L)).cast("double"))
            .as("es"))
        .orderBy(col("es").desc, col("doc_id"))
        .limit(101) // k+1: the extra row exists only to measure the gap
        .as[(Long, Long, Double)]
        .mapPartitions { it =>
          // single partition of ≤ k+1 rows (global limit output);
          // re-sort defensively rather than trusting operator order
          val rows = it.toArray.sortBy(t => (-t._3, t._1))
          if (rows.length == 101) {
            val gap = rows(99)._3 - rows(100)._3
            val scale = math.ulp(math.max(math.abs(rows(99)._3),
              math.abs(rows(100)._3)))
            require(gap > 1e6 * scale,
              f"q40 selection-boundary gap $gap%.3e is within 1e6 ulps " +
                f"($scale%.3e) — cross-engine ordering no longer safe; " +
                "switch to weight-bucketed md5 boundary comparison")
          }
          rows.iterator.take(100).map(t => (t._1, t._2))
        }
        .toDF("doc_id", "n_chars")
        .orderBy("doc_id")
    },

    // Temperature-based multilingual sampling (the XLM-R / mC4 step:
    // draw languages with p_l ∝ n_l^α so low-resource languages are
    // upsampled; α = 0.5 here). Per-lang budgets k_l = (K·⌊√n_l⌋) div
    // Σ⌊√n⌋ come from a tiny lang-count aggregate; within each
    // language, documents rank by deterministic md5 order and the
    // first k_l survive. The contract is INTEGER-exact by
    // construction — no float arithmetic crosses engines: ⌊√n⌋ equals
    // exact isqrt for n ≤ 2^52 (IEEE sqrt is correctly rounded and
    // the m²−1 gap 1/2m only dips under ulp/2 past 2^52), the
    // normalizer is an order-free integer sum (a float Σ√n would NOT
    // be reproducible — DuckDB's window sum associates as a segment
    // tree for ≥32 groups), budgets are integer floor-division, and
    // md5-hex ordering is plain byte order. Scale shape: the corpus
    // pass is ONE TopKPerKey (per-partition k_max-bounded heaps,
    // survivor-only exchange); the rank window then sees only
    // ≤ langs·k_max survivors, and budgets broadcast.
    Q("q41_temperature_sample",
      """WITH c AS (SELECT lang, count(*) AS n_l FROM documents
        |           WHERE lang IS NOT NULL GROUP BY lang),
        |w AS (SELECT lang,
        |        CAST(floor(sqrt(CAST(n_l AS DOUBLE))) AS BIGINT) AS wl
        |      FROM c),
        |z AS (SELECT CAST(sum(wl) AS BIGINT) AS z FROM w),
        |t AS (SELECT lang, (200 * wl) // z.z AS k_l FROM w, z),
        |r AS (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM documents WHERE lang IS NOT NULL)
        |SELECT r.doc_id, r.lang, r.rn FROM r JOIN t USING (lang)
        |WHERE r.rn <= t.k_l ORDER BY r.doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val K = 200L
      val docs = documents(s, d).filter(col("lang").isNotNull)
      // per-lang budgets fold INTO the plan (no driver round-trip):
      // the histogram aggregate is bounded by the language inventory,
      // its whole-relation window normalizer Σ⌊√n⌋ runs over those few
      // rows, and the budget frame broadcasts back. The TopKPerKey
      // bound needs a plan-time scalar, and k_l = (K·wl) div Σwl ≤ K
      // always (wl ≤ Σwl), so K itself is the bound — no collect.
      // Empty/all-null-lang input degrades cleanly: empty histogram →
      // empty broadcast side → empty inner join, same schema.
      val targets = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
        .select(col("lang"),
          floor(sqrt(col("n_l").cast("double"))).as("wl"))
        .select(col("lang"),
          expr(s"($K * wl) div (sum(wl) OVER ())").as("k_l"))
      val keyed = docs.select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
      val short = ScaleOps.topKPerKey(keyed, Seq("lang"),
        Seq(("h", true), ("doc_id", true)), K.toInt)
      short.withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))))
        .join(broadcast(targets), Seq("lang"))
        .filter(col("rn") <= col("k_l"))
        .select(col("doc_id"), col("lang"), col("rn").cast("long").as("rn"))
        .orderBy("doc_id")
    },

    // Grouped approximate distinct — q30's HLL++ sketch as PER-KEY
    // state: distinct users per event type via one hash-aggregate of
    // fixed-size mergeable sketches (map-side partials merge registers,
    // never user ids — THE grouped-cardinality plan at 100 TB, where
    // exact count(DISTINCT) per group shuffles the full key×user
    // space). The exact counts ride along as the oracle-replayable
    // column; each group self-audits |approx−exact|/exact ≤ 3·rsd.
    Q("q42_group_distinct_sketch",
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS approx_ok
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      events(s, d)
        .filter(col("user_id").isNotNull)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.05).as("n_approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.15).as("approx_ok"))
        .orderBy("event_type")
    },

    // Ordered-funnel analysis (view → click → purchase, strict
    // event-time order) — the product-analytics pattern every event
    // warehouse runs. Scale shape: ONE user_id shuffle, then a per-user
    // O(events) in-memory pass with O(1) funnel state (mapGroups — the
    // sessionization discipline); the 3-way self-join formulation the
    // oracle uses would shuffle each type-filtered sliver separately
    // and re-join them. Strict `>` at each step, so same-timestamp
    // events never satisfy a transition in either engine; counts are
    // exact integers.
    Q("q43_funnel",
      """WITH v AS (SELECT user_id, min(ts) AS t FROM events
        |     WHERE event_type = 'view' AND user_id IS NOT NULL
        |       AND ts IS NOT NULL GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |     JOIN v ON e.user_id = v.user_id AND e.ts > v.t
        |     WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |     JOIN c ON e.user_id = c.user_id AND e.ts > c.t
        |     WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |       (SELECT count(*) FROM c) AS n_view_click,
        |       (SELECT count(*) FROM p) AS n_full_funnel""".stripMargin) {
      (s, d) =>
      import s.implicits._
      val ev = events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id").as[Long],
          col("event_type").as[String],
          unix_micros(col("ts")).as[Long])
      val stages = ev.groupByKey(_._1).mapGroups { (_, it) =>
        // sorted per-user pass; O(1) funnel state. Ties: a transition
        // needs STRICTLY later ts, and sorting puts equal-ts events in
        // (ts, type) order — but state only advances on ts > stageTs,
        // so intra-ts order cannot matter
        val evs = it.toArray.sortBy(e => (e._3, e._2))
        var vT = Long.MaxValue; var cT = Long.MaxValue; var pSeen = false
        evs.foreach { case (_, t, ts) =>
          t match {
            case "view" => if (ts < vT) vT = ts
            case "click" => if (ts > vT && ts < cT) cT = ts
            case "purchase" => if (ts > cT) pSeen = true
            case _ =>
          }
        }
        (if (vT != Long.MaxValue) 1L else 0L,
          if (cT != Long.MaxValue) 1L else 0L,
          if (pSeen) 1L else 0L)
      }
      stages.toDF("v", "c", "p")
        .agg(coalesce(sum("v"), lit(0L)).as("n_view"),
          coalesce(sum("c"), lit(0L)).as("n_view_click"),
          coalesce(sum("p"), lit(0L)).as("n_full_funnel"))
    },

    // Retention cohorts: users grouped by first-seen ISO week, activity
    // counted per (cohort, weeks-since) cell — the other canonical
    // event-warehouse rollup. Scale shape: first-seen is one user_id
    // aggregate; the join back is user-keyed (at TB scale AQE picks
    // SMJ/shuffle-hash — the standard enrich pattern); the cell
    // aggregate is cohort×weeks-bounded. Week truncation is ISO-Monday
    // in BOTH engines (Spark date_trunc('week') / DuckDB
    // date_trunc('week')), arithmetic is integer day-diff // 7.
    Q("q44_retention_cohorts",
      """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events
        |     WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |a AS (SELECT e.user_id,
        |        date_trunc('week', f.first_ts) AS cohort,
        |        date_diff('day', date_trunc('week', f.first_ts),
        |                  date_trunc('week', e.ts)) // 7 AS wk
        |      FROM events e JOIN f USING (user_id)
        |      WHERE e.ts IS NOT NULL)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
        |       CAST(wk AS BIGINT) AS weeks_since,
        |       count(DISTINCT user_id) AS n_users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val ev = events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val first = ev.groupBy("user_id")
        .agg(min("ts").as("first_ts"))
      ev.join(first, Seq("user_id"))
        .select(col("user_id"),
          date_trunc("week", col("first_ts")).as("cohort"),
          (datediff(date_trunc("week", col("ts")).cast("date"),
            date_trunc("week", col("first_ts")).cast("date")) / 7)
            .cast("bigint").as("weeks_since"))
        // EXPLICIT two-phase distinct: dedup the (cohort, week, user)
        // triples first — partial aggregation collapses a user's
        // repeat events map-side, so the exchange carries distinct
        // triples (bounded by users x active-weeks), not raw events;
        // the cell count is then a plain count. PlanSpec pins the
        // pre-distinct aggregate keys.
        .dropDuplicates("cohort", "weeks_since", "user_id")
        .groupBy("cohort", "weeks_since")
        .agg(count(lit(1)).as("n_users"))
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
          col("weeks_since"), col("n_users"))
        .orderBy("cohort_week", "weeks_since")
    },

    // Column profiling (the Deequ/data-validation "profile" pass every
    // ingest pipeline runs before training): per-column row count, null
    // count, distinct count, min/max — TWO aggregates over two scans:
    // one narrow pass for the plain stats, one Expand pass for the
    // exact multi-column distinct counts (fusing them into one agg
    // Expands every row 5x — measured 2.3x slower; a naive per-column
    // loop scans once per column). The bounded profile rows collect
    // driver-side and unpivot there — re-deriving the unpivot from an
    // uncached aggregate would re-scan per branch.
    Q("q45_profile",
      """WITH a AS (SELECT count(*) AS n,
        |  count(*) - count(l_orderkey) AS nn_ok,
        |  count(DISTINCT l_orderkey) AS nd_ok,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
        |  count(*) - count(l_quantity) AS nn_q,
        |  count(DISTINCT l_quantity) AS nd_q,
        |  CAST(min(l_quantity) AS BIGINT) AS min_q,
        |  CAST(max(l_quantity) AS BIGINT) AS max_q,
        |  count(*) - count(l_returnflag) AS nn_rf,
        |  count(DISTINCT l_returnflag) AS nd_rf,
        |  min(l_returnflag) AS min_rf, max(l_returnflag) AS max_rf,
        |  count(*) - count(l_shipdate) AS nn_sd,
        |  count(DISTINCT l_shipdate) AS nd_sd,
        |  epoch_us(min(l_shipdate)) AS min_sd,
        |  epoch_us(max(l_shipdate)) AS max_sd
        |  FROM lineitem)
        |SELECT 'l_orderkey' AS col_name, n, nn_ok AS n_null,
        |  nd_ok AS n_distinct, min_ok AS min_num, max_ok AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM a
        |UNION ALL SELECT 'l_quantity', n, nn_q, nd_q, min_q, max_q,
        |  NULL, NULL FROM a
        |UNION ALL SELECT 'l_returnflag', n, nn_rf, nd_rf, NULL, NULL,
        |  min_rf, max_rf FROM a
        |UNION ALL SELECT 'l_shipdate', n, nn_sd, nd_sd, min_sd, max_sd,
        |  NULL, NULL FROM a
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      import s.implicits._
      val li = lineitem(s, d)
      // TWO aggregates, not one: mixing plain aggregates with multiple
      // DISTINCT aggregates in a single agg makes Catalyst Expand every
      // row 5x and shuffle the widened stream (measured 6.6s vs 2.9s at
      // sf0.1). The plain stats pass is narrow; the distinct pass pays
      // its Expand over the 4 profiled columns only. (The 100 TB
      // profile swaps countDistinct for approx_count_distinct — single
      // narrow pass, measured 2.6x faster still — at the cost of the
      // exact-replay oracle.)
      val r = li.agg(
        count(lit(1)).as("n"),
        sum(col("l_orderkey").isNull.cast("long")).as("nn_ok"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
        sum(col("l_quantity").isNull.cast("long")).as("nn_q"),
        min("l_quantity").cast("bigint").as("min_q"),
        max("l_quantity").cast("bigint").as("max_q"),
        sum(col("l_returnflag").isNull.cast("long")).as("nn_rf"),
        min("l_returnflag").as("min_rf"), max("l_returnflag").as("max_rf"),
        sum(col("l_shipdate").isNull.cast("long")).as("nn_sd"),
        // l_shipdate arrives TIMESTAMP_NTZ; the cast is UTC-exact
        // because every entry point pins the session timezone (the
        // Tables.events invariant)
        unix_micros(min("l_shipdate").cast("timestamp")).as("min_sd"),
        unix_micros(max("l_shipdate").cast("timestamp")).as("max_sd")).head()
      val nd = li.agg(
        countDistinct(col("l_orderkey")).as("nd_ok"),
        countDistinct(col("l_quantity")).as("nd_q"),
        countDistinct(col("l_returnflag")).as("nd_rf"),
        countDistinct(col("l_shipdate")).as("nd_sd")).head()
      val n = r.getAs[Long]("n")
      // NAMED access, not positional: reordering one aggregate above
      // would silently shift every positional index while still
      // type-checking (a min read as a null-count). Loud on an empty
      // table: min/max aggregates are NULL there and the profile rows
      // the two engines would emit diverge on nullability.
      require(n > 0, "q45 profile needs a non-empty lineitem " +
        "(min/max/distinct of an empty table have no cross-engine row shape)")
      def num(name: String, nn: String, mn: String, mx: String,
          ndc: String): (String, Long, Long, Long,
          Option[Long], Option[Long], Option[String], Option[String]) =
        (name, n, r.getAs[Long](nn), nd.getAs[Long](ndc),
          Some(r.getAs[Long](mn)), Some(r.getAs[Long](mx)), None, None)
      Seq(
        num("l_orderkey", "nn_ok", "min_ok", "max_ok", "nd_ok"),
        num("l_quantity", "nn_q", "min_q", "max_q", "nd_q"),
        ("l_returnflag", n, r.getAs[Long]("nn_rf"), nd.getAs[Long]("nd_rf"),
          None: Option[Long], None: Option[Long],
          Some(r.getAs[String]("min_rf")), Some(r.getAs[String]("max_rf"))),
        num("l_shipdate", "nn_sd", "min_sd", "max_sd", "nd_sd"))
        .toDF("col_name", "n", "n_null", "n_distinct", "min_num",
          "max_num", "min_str", "max_str")
        .orderBy("col_name")
    },

    // The 100 TB profile q45's comment promises, made real and gated:
    // the sketched column profile. Per profiled column ONE aggregate
    // computes the plain stats, the EXACT distinct (single-distinct —
    // Spark plans it as a two-phase partial aggregate, NO Expand) and
    // the HLL++ sketch side by side, and the query audits the sketch
    // in-query (|approx−exact|/exact ≤ 3·rsd, the q30/q42 pattern).
    // Scale shape: four single-COLUMN scans — parquet is columnar, so
    // total I/O equals q45's one 4-column scan, but nothing Expands:
    // q45's exact multi-distinct pass widens every corpus row 4× into
    // the exchange; here each column's distinct path shuffles only its
    // own partial-distinct keys, and the product path can drop the
    // exact leg entirely (sketches alone: one narrow pass, fixed-size
    // mergeable state). PlanSpec pins Expand-freedom.
    Q("q45b_profile_sketch",
      """WITH a AS (
        |  SELECT 'l_orderkey' AS col_name, count(*) AS n,
        |    count(*) - count(l_orderkey) AS n_null,
        |    count(DISTINCT l_orderkey) AS n_distinct FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
        |    count(DISTINCT l_quantity) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
        |    count(DISTINCT l_returnflag) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
        |    count(DISTINCT l_shipdate) FROM lineitem)
        |SELECT col_name, n, n_null, n_distinct, true AS approx_ok
        |FROM a ORDER BY col_name""".stripMargin) { (s, d) =>
      val li = lineitem(s, d)
      def profile(c: String): DataFrame =
        li.select(col(c))
          .agg(count(lit(1)).as("n"),
            sum(col(c).isNull.cast("long")).as("n_null"),
            countDistinct(col(c)).as("n_distinct"),
            approx_count_distinct(col(c), 0.05).as("n_approx"))
          .select(lit(c).as("col_name"), col("n"), col("n_null"),
            col("n_distinct"),
            (abs(col("n_approx") - col("n_distinct")).cast("double") /
              col("n_distinct") <= 0.15).as("approx_ok"))
      Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
        .map(profile).reduce(_.unionAll(_))
        .orderBy("col_name")
    },

    // Constraint validation (the Deequ "check suite"): key uniqueness,
    // referential integrity, value-domain membership, completeness —
    // the gate a training-data ingest runs before anything downstream
    // trusts the batch. Same-table checks FUSE into one scan (the q45
    // discipline): ONE orders aggregate carries completeness +
    // uniqueness, and ONE lineitem pass carries both the ref-integrity
    // probe (left join against the distinct key side — NULL probe keys
    // never match, exactly the oracle's NOT EXISTS) and the domain
    // check, so the suite runs 2 actions / 2 fact-table scans total
    // instead of 4 (QualitySuiteSpec pins the action count). The
    // domain bound [1, 45] is deliberately tighter than the data so
    // the suite demonstrably FIRES (violations > 0) while the other
    // checks hold at 0 — both outcomes exercised under the hash gate.
    Q("q46_quality_checks",
      """SELECT check_name, violations,
        |  CAST(violations = 0 AS BIGINT) AS passed
        |FROM (
        |SELECT 'custkey_complete' AS check_name,
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
        |    AS violations
        |UNION ALL
        |SELECT 'lineitem_ref_orders',
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_orderkey = l.l_orderkey))
        |UNION ALL
        |SELECT 'orderkey_unique',
        |  (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
        |UNION ALL
        |SELECT 'quantity_domain_1_45',
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 45))
        |ORDER BY check_name""".stripMargin) { (s, d) =>
      import s.implicits._
      val ord = orders(s, d)
      val li = lineitem(s, d)
      // action 1: every orders-side check in one aggregate
      val oa = ord.agg(
        coalesce(sum(col("o_custkey").isNull.cast("long")), lit(0L))
          .as("n_null_cust"),
        count(lit(1)).as("n"),
        countDistinct(col("o_orderkey")).as("n_keys")).head()
      val custComplete = oa.getAs[Long]("n_null_cust")
      val dupKeys = oa.getAs[Long]("n") - oa.getAs[Long]("n_keys")
      // action 2: every lineitem-side check in one pass. The left join
      // probes DISTINCT order keys (dup keys must not multiply fact
      // rows), a non-match surfaces as a NULL key — count(*) - count(k)
      // is the NOT EXISTS count — and the domain predicate rides the
      // same scan. AQE broadcasts the key side while it fits; at TB
      // scale it degrades to the standard shuffled join, still one
      // fact-table pass.
      val la = li.select(col("l_orderkey"), col("l_quantity"))
        .join(ord.select("o_orderkey").dropDuplicates("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(
          (count(lit(1)) - count(col("o_orderkey"))).as("n_ref"),
          coalesce(sum((col("l_quantity").isNull || col("l_quantity") < 1 ||
            col("l_quantity") > 45).cast("long")), lit(0L)).as("n_dom"))
        .head()
      val refViolations = la.getAs[Long]("n_ref")
      val domainViolations = la.getAs[Long]("n_dom")
      Seq(
        ("custkey_complete", custComplete),
        ("lineitem_ref_orders", refViolations),
        ("orderkey_unique", dupKeys),
        ("quantity_domain_1_45", domainViolations))
        .toDF("check_name", "violations")
        .withColumn("passed", (col("violations") === 0L).cast("bigint"))
        .orderBy("check_name")
    },

    // Incremental MATERIALIZED-VIEW maintenance — the rollup pattern
    // that makes a 100 TB warehouse affordable: the stored aggregate
    // merges with a delta aggregate by associative combine, never
    // re-scanning the base. The corpus splits deterministically
    // (l_orderkey%10) into a "base" whose aggregate is WRITTEN to
    // parquet and read back (the stored MV — a genuine disk round
    // trip, not a cached frame) and a "delta" batch; the refresh is
    // one full-outer merge on the group key over |MV|+|delta| rows.
    // The MV stores MERGEABLE state only — counts, sums, and money in
    // INTEGER ten-thousandths; presentation values (the single /1e4
    // division, avg = sum/n) derive AFTER the merge, because merging
    // presentation doubles ((a/1e4)+(b/1e4) vs (a+b)/1e4) or averaging
    // averages breaks exactness. The oracle is the full recompute over
    // the whole table: refresh-by-merge must equal compute-from-
    // scratch.
    Q("q47_incremental_mv",
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
        | sum(l_quantity) AS sum_qty,
        | ${moneySumSql("l_extendedprice")} AS sum_price,
        | sum(l_quantity) / count(*) AS avg_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val keys = Seq("l_returnflag", "l_linestatus")
      def state(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(keys.map(col): _*).agg(
          count(lit(1)).as("n"),
          sum("l_quantity").as("sum_qty"),
          sum(moneyUnits(col("l_extendedprice"))).as("price_units"))
      val li = lineitem(s, d)
      val mvDir = s"/tmp/graft-sink-fixtures/q47_mv_" +
        s"${new java.io.File(d).getName}_${PipelineQueries.sinkRunId}"
      // build + store the MV over the base partition (paid once)
      state(li.filter(col("l_orderkey") % 10 =!= 0))
        .write.mode("overwrite").parquet(mvDir)
      val mv = s.read.parquet(mvDir)
        .select(col(keys.head), col(keys(1)), col("n").as("n_a"),
          col("sum_qty").as("q_a"), col("price_units").as("p_a"))
      // the refresh: delta aggregate + associative merge, no base scan
      val delta = state(li.filter(col("l_orderkey") % 10 === 0))
        .select(col(keys.head), col(keys(1)), col("n").as("n_b"),
          col("sum_qty").as("q_b"), col("price_units").as("p_b"))
      mv.join(delta, keys, "full_outer")
        .select(col(keys.head), col(keys(1)),
          (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L)))
            .as("n"),
          (coalesce(col("q_a"), lit(0.0)) + coalesce(col("q_b"), lit(0.0)))
            .as("sum_qty"),
          (coalesce(col("p_a"), lit(0L)) + coalesce(col("p_b"), lit(0L)))
            .as("pu"))
        .select(col(keys.head), col(keys(1)), col("n"), col("sum_qty"),
          (col("pu") / 10000.0).as("sum_price"),
          (col("sum_qty") / col("n")).as("avg_qty"))
        .orderBy(keys.head, keys(1))
    },

    // POINT-IN-TIME join against the SCD2 dimension history (p22) —
    // the feature-store op that prevents training-serving skew: every
    // observation joins to the dimension version VALID AT ITS OWN
    // TIMESTAMP (never the current one, which leaks the future into
    // training features). Each purchase event looks up the user's
    // state version whose [valid_from, valid_to) interval contains the
    // event time; versions partition each user's timeline, so exactly
    // one matches and the result is a set. Plan shape: both sides
    // shuffle ONCE on user_id into a sort-merge EQUI-join (the range
    // condition rides as a join filter — never a BroadcastNestedLoop);
    // history rows per user are bounded by that user's change count.
    // The history comes from PipelineQueries.scd2History and the
    // oracle interpolates the SAME Scd2Cte as p22 — one definition,
    // two gates.
    Q("q48_pit_join", {
      s"""WITH ${PipelineQueries.Scd2Cte},
        |obs AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'purchase' AND event_id IS NOT NULL
        |    AND user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT o.event_id, o.user_id, o.t AS obs_ts_us,
        |  v.attr AS state_at_obs, CAST(v.version AS BIGINT) AS version
        |FROM obs o JOIN v
        |  ON o.user_id = v.user_id
        | AND o.t >= v.valid_from_us
        | AND (v.valid_to_us IS NULL OR o.t < v.valid_to_us)
        |ORDER BY o.event_id""".stripMargin
    }) { (s, d) =>
      val hist = PipelineQueries.scd2History(s, d)
        .select(col("user_id"), col("attr"), col("valid_from_us"),
          col("valid_to_us"), col("version"))
      val obs = events(s, d)
        .filter(col("event_type") === "purchase" &&
          col("event_id").isNotNull && col("user_id").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t"))
      obs.join(hist, obs("user_id") === hist("user_id") &&
          col("t") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("t") < col("valid_to_us")))
        .select(obs("event_id"), obs("user_id"), col("t").as("obs_ts_us"),
          col("attr").as("state_at_obs"), col("version"))
        .orderBy("event_id")
    },

    // User-journey MARKOV transition matrix — the path-analytics
    // summary under the funnel tier (q43 asks "did the ordered pattern
    // complete"; this asks "what does the journey graph look like"):
    // consecutive event-type pairs per user become first-order
    // transition counts and row-normalized probabilities. Scale shape:
    // ONE user_id shuffle (the lag window), then the pair aggregate is
    // bounded by the event-type inventory SQUARED — partial map-side
    // combine collapses the corpus before the exchange — and row
    // totals broadcast back onto the tiny matrix. p = n/total is one
    // IEEE division of exact integers — identical in both engines, no
    // rounding needed. Ties on ts are total-ordered by event_id (the
    // p22 discipline) so every journey is the same sequence on both
    // sides.
    Q("q49_markov_transitions",
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id
        |  FROM events
        |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |    AND ts IS NOT NULL AND event_type IS NOT NULL),
        |l AS (SELECT user_id, event_type AS dst,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src
        |  FROM e),
        |c AS (SELECT src, dst, count(*) AS n FROM l
        |  WHERE src IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS tn FROM c GROUP BY 1)
        |SELECT c.src, c.dst, CAST(c.n AS BIGINT) AS n,
        |  c.n / tot.tn::DOUBLE AS p
        |FROM c JOIN tot USING (src) ORDER BY src, dst""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = events(s, d)
        .filter(col("event_id").isNotNull && col("user_id").isNotNull &&
          col("ts").isNotNull && col("event_type").isNotNull)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val c = e.withColumn("src", lag("event_type", 1).over(w))
        .filter(col("src").isNotNull)
        .groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("n"))
      val tot = c.groupBy("src").agg(sum("n").as("tn"))
      c.join(broadcast(tot), Seq("src"))
        .select(col("src"), col("dst"), col("n"),
          (col("n") / col("tn")).as("p"))
        .orderBy("src", "dst")
    },

    // MULTI-TOUCH attribution — the marketing-analytics op above
    // p16's raw attribution join: every purchase's in-window clicks
    // share the conversion credit under three standard models at once
    // (first-touch, last-touch, linear). Channels are synthesized
    // deterministically from the click id (event_id % 5). first/last
    // are INTEGER counts (row_number over a (ts, event_id) total
    // order — no float anywhere); linear credit sums 1/n doubles and
    // rides the t15 flake-bound under round(,4). Scale shape: one
    // user_id equi-join (time bounds as join filters), one
    // purchase-keyed window pass, then a channel-bounded aggregate —
    // the same three-exchange ladder q43/q44 run, each keyed smaller
    // than the last.
    Q("q50_multitouch_attribution",
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, ts AS cts,
        |    event_id % 5 AS channel
        |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND ts IS NOT NULL),
        |p AS (
        |  SELECT user_id, event_id AS pid, ts AS pts
        |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
        |    AND event_id IS NOT NULL AND ts IS NOT NULL),
        |t AS (SELECT p.pid, c.channel, c.click_id, epoch_us(c.cts) AS ct
        |  FROM p JOIN c ON p.user_id = c.user_id
        |   AND c.cts <= p.pts AND c.cts >= p.pts - INTERVAL 1 HOUR),
        |w AS (SELECT pid, channel, click_id,
        |    count(*) OVER (PARTITION BY pid) AS n,
        |    row_number() OVER (PARTITION BY pid ORDER BY ct, click_id) AS rf,
        |    row_number() OVER (PARTITION BY pid ORDER BY ct DESC, click_id DESC) AS rl
        |  FROM t)
        |SELECT channel, count(*) AS n_touches,
        |  CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
        |  CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
        |  round(sum(1.0 / n), 4) AS linear_credit
        |FROM w GROUP BY channel ORDER BY channel""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val base = events(s, d)
        .filter(col("user_id").isNotNull && col("event_id").isNotNull &&
          col("ts").isNotNull)
      val c = base.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("cts"), (col("event_id") % 5).as("channel"))
      val pp = base.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          col("ts").as("pts"))
      val t = pp.join(c, Seq("user_id"))
        .filter(col("cts") <= col("pts") &&
          col("cts") >= col("pts") - expr("INTERVAL 1 HOUR"))
        .select(col("pid"), col("channel"), col("click_id"),
          unix_micros(col("cts")).as("ct"))
      val byP = Window.partitionBy("pid")
      t.withColumn("n", count(lit(1)).over(byP))
        .withColumn("rf", row_number().over(
          byP.orderBy(col("ct"), col("click_id"))))
        .withColumn("rl", row_number().over(
          byP.orderBy(col("ct").desc, col("click_id").desc)))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_touches"),
          sum(when(col("rf") === 1, 1L).otherwise(0L)).as("first_touch"),
          sum(when(col("rl") === 1, 1L).otherwise(0L)).as("last_touch"),
          round(sum(lit(1.0) / col("n")), 4).as("linear_credit"))
        .orderBy("channel")
    },

    // Salted skew JOIN (ScaleOps.saltedJoin) — the join-side
    // counterpart of q32: documents joined to per-language corpus
    // stats on `lang`, a key with a handful of distinct values, so a
    // plain shuffle join would funnel the whole corpus into ≤ |langs|
    // reducer tasks regardless of the partition count (the regime
    // AQE's skew-join cannot fix: it splits oversized partitions by
    // file, but the per-key build/probe funnel remains). The dim side
    // here is derived small, but the technique is for when it is NOT
    // broadcastable (10M+ entities); the spec asserts exact equality
    // with the broadcast plan and the (key × salt) spread. rarity is
    // one IEEE division of exact integers — bit-identical
    // cross-engine. Output stays aggregate-shaped (per-lang recount
    // over the joined fact rows) to keep the gate row count bounded.
    Q("q51_salted_skew_join",
      """WITH lc AS (
        |  SELECT lang, count(*) AS lang_n FROM documents GROUP BY lang),
        |tot AS (SELECT count(*) AS total FROM documents)
        |SELECT d.lang, lc.lang_n,
        |  CAST(tot.total AS DOUBLE) / lc.lang_n AS rarity,
        |  count(*) AS joined_rows,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d
        |JOIN lc ON d.lang = lc.lang CROSS JOIN tot
        |GROUP BY 1, 2, 3 ORDER BY d.lang""".stripMargin) { (s, d) =>
      val docs = documents(s, d).select("doc_id", "lang", "n_chars")
      // one corpus pass builds the per-lang dim; cut its lineage so the
      // corpus total (sum of the tiny dim's counts — NOT a second
      // count() pass over documents) reuses the materialized rows
      val langCounts = Lineage.cut(
        docs.groupBy("lang").agg(count(lit(1)).as("lang_n")))
      val dim = langCounts
        .crossJoin(langCounts.agg(sum("lang_n").as("_total")))
        .withColumn("rarity", col("_total").cast("double") / col("lang_n"))
        .drop("_total")
      ScaleOps.saltedJoin(docs, dim, "lang", 8)
        .groupBy("lang", "lang_n", "rarity")
        .agg(count(lit(1)).as("joined_rows"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }
  )

}
