package graft.rel

import graft.core.Overlap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components over the near-dup pair graph —
  * the step that turns pairwise dedup verdicts (d03/d04) into actual
  * dedup decisions: every document in a component maps to one
  * canonical keeper (the component's min doc_id), so "drop all
  * non-keepers" removes every transitive duplicate exactly once.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014). Each
  * round is one shuffle keyed on node id; convergence is O(log² n)
  * rounds in the worst case and 2–3 rounds on real dedup graphs
  * (near-dup components are dense and shallow). This is the 100 TB
  * shape: no driver-side union-find, state per round is one (u, v)
  * edge table partitioned by node, and each round's lineage is cut
  * with localCheckpoint so the plan doesn't grow with iterations.
  */
object Cluster {

  /** Loud ceiling on per-node degree in the star rounds: a node's
    * neighbor list is materialized in one task (the collect_list), so
    * a hub of tens of millions of edges must fail with advice rather
    * than OOM an executor. Real dedup graphs stay far below this —
    * a component of size k has max degree k−1, and components larger
    * than ~1M docs mean the pair threshold is set too loose (exact
    * duplicates should be removed by d01's digest pass first). */
  val MaxDegree = 1 << 20

  private[rel] def checkDegree(u: Long, n: Int): Unit =
    require(n <= MaxDegree,
      s"node $u has $n near-dup neighbors (> $MaxDegree) — dedup exact " +
        "duplicates first (d01) or tighten the pair threshold before clustering")

  /** [[checkDegree]] as a codegen expression (r15): the same loud
    * ceiling, raised BEFORE the per-node emission is built — evaluated
    * even for nodes whose emission set would be empty, exactly like
    * the old per-row `require`. Returns the deduplicated emission
    * array when within bounds. */
  private def guardedEmit(u: Column, ns: Column, emit: Column): Column =
    when(size(ns) > MaxDegree, raise_error(format_string(
      "node %s has %s near-dup neighbors (> %s) — dedup exact " +
        "duplicates first (d01) or tighten the pair threshold before " +
        "clustering", u, size(ns), lit(MaxDegree))))
      .otherwise(array_distinct(emit))

  /** One large-star round: every node links its strictly-larger
    * neighbors to the minimum of its closed neighborhood. The output
    * is NOT deduplicated across nodes — the caller's fused
    * dedup+fixpoint aggregate handles that (see
    * [[connectedComponents]]). r15: the per-node fold is pure codegen
    * (array_min / filter / array_distinct / explode) instead of a
    * Dataset flatMap — no object (de)serialization boundary in the
    * per-round hot path (guide §4: built-ins over closures). */
  private def largeStar(spark: SparkSession, edges: DataFrame): DataFrame =
    edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
      .groupBy("u").agg(collect_list("v").as("ns"))
      .select(least(col("u"), array_min(col("ns"))).as("m"),
        explode(guardedEmit(col("u"), col("ns"),
          filter(col("ns"), v => v > col("u")))).as("x"))
      .select(col("x").as("u"), col("m").as("v"))

  /** One small-star round: every node links its smaller-or-equal
    * neighbors (and itself) to their collective minimum. Output is
    * deduplicated per node but NOT across nodes — the caller's fused
    * aggregate dedups (see [[connectedComponents]]). */
  private def smallStar(spark: SparkSession, edges: DataFrame): DataFrame =
    edges.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .groupBy("u").agg(collect_list("v").as("ns"))
      .select(col("u"), col("ns"), array_min(col("ns")).as("m"))
      .select(col("m"),
        explode(guardedEmit(col("u"), col("ns"),
          filter(concat(col("ns"), array(col("u"))),
            x => x =!= col("m")))).as("x"))
      .select(col("x").as("u"), col("m").as("v"))

  /** Connected components of an undirected edge list. Input: one row
    * per edge (u, v), u ≠ v, either orientation, duplicates allowed.
    * Output: (node, root) for every node that appears in an edge,
    * where root = min node id of its component (roots map to
    * themselves). Deterministic — no randomness, no iteration-order
    * dependence.
    */
  def connectedComponents(spark: SparkSession, edges0: DataFrame): DataFrame = {
    var edges = edges0.select(col("u").cast("long"), col("v").cast("long"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var converged = false
    var rounds = 0
    // star-rounds strictly shrink a monotone potential; the cap is a
    // loud guard against a logic regression, not a tuning knob
    val maxRounds = 50
    while (!converged && rounds < maxRounds) {
      val raw = smallStar(spark, largeStar(spark, edges))
      // r15 (guide §2.3/§2.4): smallStar's cross-node dedup and the
      // fixpoint test fold into ONE side-tagged aggregate. Group the
      // raw next edges (side 1) with the previous distinct set (side
      // 0) by (u, v): a group seen only on one side (min == max) is in
      // the symmetric difference — any such row means not converged —
      // and the max==1 groups ARE the deduplicated next edge set. This
      // replaces the old separate distinct() exchange AND the old
      // union+count-by-edge convergence job (which re-shuffled both
      // edge sets once more per round) with a single exchange; the
      // fixpoint test is then a NARROW scan of the checkpointed
      // aggregate (no shuffle, reads block-manager blocks).
      // (A Dataset.observe CollectMetrics would fold even that scan
      // into the checkpoint job, but observe() lazily initializes the
      // session's non-serializable ObservationManager, after which ANY
      // later closure capturing the shared SparkSession fails task
      // serialization — q39's typed Aggregator did. Measured and
      // reverted; the narrow scan is the safe shape.)
      val tagged = raw.select(col("u"), col("v"), lit(1).as("s"))
        .unionByName(edges.select(col("u"), col("v"), lit(0).as("s")))
        .groupBy("u", "v").agg(min("s").as("mn"), max("s").as("mx"))
        .localCheckpoint()
      converged = tagged.filter(col("mn") === col("mx")).isEmpty
      edges = tagged.filter(col("mx") === 1).select("u", "v")
      rounds += 1
    }
    require(converged, s"connected components did not converge in $maxRounds rounds")
    // post-convergence the edge set is a star forest (child → root);
    // add the roots themselves as members
    // one distinct suffices: the outer dedup subsumes the roots
    // branch's, and the inner one cost a full extra exchange+aggregate
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
  }

  /** Near-dup clusters on `documents`: Jaccard ≥ 0.8 pairs →
    * connected components → per-doc cluster assignment with the
    * component size. A dedup pipeline keeps `doc_id == cluster_id`
    * rows and drops the rest.
    *
    * Pairs come from the LSH path (d04), not the exact shingle
    * self-group (d03): d04 verifies every candidate with exact
    * Jaccard, so its pair set equals d03's (DedupSpec asserts exact
    * recovery; at 16×4 banding a qualifying pair is missed with
    * probability ~1e-6 per pair at the threshold) at roughly half the
    * cost — band buckets shuffle 8-byte hashes instead of shingle
    * strings. The oracle closes over the exact predicate either way.
    */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    nearDupAssignment(spark, dir).orderBy("doc_id")

  /** [[nearDupClusters]] WITHOUT the presentation sort — what every
    * downstream consumer (survivorship join, weights, split, stores)
    * reads (r15): they all re-key on doc_id or write to a store, so
    * sorting the assignment first was a wasted range exchange + sort
    * in d14/d17/d22/d23/d24 (guide §2.4). d07 itself keeps the sorted
    * form. The pair input likewise arrives unsorted
    * ([[Dedup.minhashNearDupPairs]]) — the CC initial distinct
    * re-shuffles it anyway. */
  private[rel] def nearDupAssignment(spark: SparkSession,
      dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDupPairs(spark, dir, 0.8)
      .select(col("da").as("u"), col("db").as("v"))
    val asg = connectedComponents(spark, pairs)
    val sizes = asg.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    // component count ≪ doc count: broadcast the size table
    asg.join(broadcast(sizes), Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Apply the clustering — the dedup MATERIALIZATION step a pipeline
    * actually ships: every document gets its canonical survivor
    * (cluster min, itself when unclustered), a keep verdict, and its
    * duplicate count. Downstream `WHERE keep` is the deduped corpus.
    *
    * Scale shape: the cluster assignment joins back on doc_id carrying
    * only (id, cluster_id, size) — never text; at sf the 47-row map
    * auto-broadcasts, at 100 TB it degrades to an id-keyed shuffle
    * join of 24-byte rows, which is the floor for corpus-wide
    * survivorship. */
  def dedupMaterialize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val asg = nearDupAssignment(spark, dir)
    // shuffle_hash, not the planner's default sort-merge: one id-keyed
    // exchange per side and NO sort — the p11 full-outer discipline;
    // AQE still upgrades the (usually tiny) assignment side to a
    // broadcast at runtime
    survivorship(docs.join(
        asg.select("doc_id", "cluster_id", "cluster_size")
          .hint("shuffle_hash"),
        Seq("doc_id"), "left"))
      .orderBy("doc_id")
  }

  /** Leakage-free train/val/test split — the assignment step a
    * training pipeline runs AFTER dedup clustering, and the reason the
    * clustering has to come first: splitting on a hash of doc_id
    * scatters the members of a near-dup cluster across splits, so the
    * eval set contains near-copies of training documents and the
    * benchmark is contaminated by construction. Keying the split hash
    * on the cluster's canonical id instead makes leakage impossible:
    * split is a pure function of the cluster, so no cluster can
    * straddle a boundary (ClusterSpec additionally shows the naive
    * doc_id-keyed split DOES leak on the same fixture).
    *
    * Scale shape: zero shuffles beyond d14's survivorship join — the
    * bucket is a narrow per-row expression over canonical_id, and the
    * leakage guarantee is by construction, not by a corpus-wide audit
    * groupBy. The hash is the first 48 bits of md5 of the decimal id
    * string — chosen over xxhash64 because the DuckDB oracle computes
    * the identical value (hex-literal cast), so the gate replays the
    * exact assignment cross-engine, not just the fractions. 90/5/5 by
    * bucket < 90 / < 95.
    */
  def clusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val mat = dedupMaterialize(spark, dir)
    val bucket = conv(substring(md5(col("canonical_id").cast("string")),
      1, 12), 16, 10).cast("long") % 100
    mat.select(col("doc_id"), col("canonical_id"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** d23's component-store root — per-process suffix so reruns can't
    * green-wash against a stale layout (the s15/p18/p19 sink-fixture
    * discipline). */
  private lazy val storeRunId: String =
    java.util.UUID.randomUUID().toString.take(8)
  private[rel] def componentStorePath(d: String): String =
    s"/tmp/graft-sink-fixtures/components_${new java.io.File(d).getName}" +
      s"_$storeRunId"

  /** d23's BUILD step: materialize the d07 component assignment ONCE
    * as a stored table — the production shape [[dedupMaterialize]]'s
    * scaladoc has always described but the self-contained gate queries
    * couldn't show: d07/d14/d17/d22 each recompute the connected
    * components because every gate run is its own cache scope (~10s
    * of the sf0.1 bench total is that recomputation). A pipeline
    * builds components once per corpus version and every consumer —
    * survivorship, weights, splits, serving — reads the ASSIGNMENT
    * (24-byte rows: doc_id, cluster_id, cluster_size), never the pair
    * graph. The store is written id-bucket-partitioned nowhere on
    * purpose: at 100 TB the assignment is ~1% of corpus bytes and
    * consumers join it on doc_id, so the one id-keyed exchange at
    * read time IS the floor (or zero with both sides bucketed via
    * [[ScaleOps.writeBucketed]]). */
  def buildComponentStore(spark: SparkSession, dir: String): String = {
    val path = componentStorePath(dir)
    nearDupAssignment(spark, dir)
      .write.mode("overwrite").parquet(path)
    // run-scoped fixture: JVM-exit cleanup (the p23/p27c sink-fixture
    // discipline) — without it every Verify/Bench/PlanSpec invocation
    // leaked a parquet copy of the assignment under its fresh UUID
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(p)
    path
  }

  /** The survivorship projection every serve variant shares (d14
    * recompute, d23 stored, d24 bucketed): a doc outside any cluster
    * is its own canonical survivor. One definition so the three gates
    * can never silently diverge. */
  private def survivorship(joined: DataFrame): DataFrame =
    joined.select(col("doc_id"),
      coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"),
      (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
        .as("keep"),
      (coalesce(col("cluster_size"), lit(1L)) - 1).as("n_dups"))

  /** d23's SERVE step: [[dedupMaterialize]]'s exact survivorship
    * output computed from the STORED assignment — the consumer plan
    * contains NO component machinery (no star-round aggregates, no
    * object serialization, no pair generation; PlanSpec pins exactly
    * two parquet scans and zero aggregates), just the id-keyed join
    * of the corpus against the stored 24-byte rows. This is what
    * converts the CC build from a per-query cost into a once-per-
    * corpus-version amortized one. */
  def dedupServeStored(spark: SparkSession, dir: String,
      storePath: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val asg = spark.read.parquet(storePath)
    survivorship(docs.join(
        asg.select("doc_id", "cluster_id", "cluster_size")
          .hint("shuffle_hash"),
        Seq("doc_id"), "left"))
      .orderBy("doc_id")
  }

  /** d24: the serve join at its TRUE scale floor — ZERO exchanges.
    * d23 still pays one id-keyed shuffle per consumer (its serve join
    * co-partitions at read time); with BOTH the corpus and the stored
    * assignment written bucketed by doc_id into the same bucket count
    * ([[ScaleOps.writeBucketed]], the p14 discipline), the left
    * SortMergeJoin runs entirely co-located and the serve plan
    * contains no Exchange at all (PlanSpec pins it) — at 100 TB the
    * corpus is bucketed once at ingest and every dedup-serving
    * consumer after that is a zero-shuffle map-side pass. No
    * presentation orderBy here for the same reason as p14: it would
    * add the only Exchange in the plan, and the gate compare sorts
    * rows itself. Gates against d14's oracle — the bucketed answer
    * must be bit-identical to the recompute-everything one. */
  private[graft] def dedupServeBucketed(spark: SparkSession,
      dir: String): DataFrame = {
    val base = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9_]", "_")
    val ct = s"d24_corpus_${base}_$storeRunId"
    val at = s"d24_asg_${base}_$storeRunId"
    // the corpus-side bucketed write is independent of the (expensive)
    // CC assignment build feeding the other — overlapped (guide §2.6):
    // the tiny corpus write rides inside the assignment build's tail
    Overlap.all(Seq(
      () => ScaleOps.writeBucketed(
        Tables.documents(spark, dir).select("doc_id"), ct, "doc_id", 8),
      () => ScaleOps.writeBucketed(nearDupAssignment(spark, dir)
        .select("doc_id", "cluster_id", "cluster_size"), at, "doc_id", 8)))
    survivorship(spark.table(ct).hint("merge")
      .join(spark.table(at).hint("merge"), Seq("doc_id"), "left"))
  }

  /** Shared oracle prefix: the exact pair predicate closed transitively
    * with a recursive CTE, component id = min reachable node; `asg` =
    * (doc_id, cluster_id), `sizes` = per-cluster member count. */
  private val componentCtes: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(w) - 4, 1)),
      |                          i -> array_to_string(w[i:i+4], ' '))) AS sh
      |  FROM toks
      |), cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |jp AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT da, db FROM jp
      |   JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
      |  WHERE common::DOUBLE / (ca.n + cb.n - common) >= 0.8
      |), e AS (
      |  SELECT da AS u, db AS v FROM pairs
      |  UNION ALL SELECT db, da FROM pairs
      |), reach(u, r) AS (
      |  SELECT DISTINCT u, u FROM e
      |  UNION
      |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v
      |), asg AS (
      |  SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u
      |), sizes AS (
      |  SELECT cluster_id, count(*) AS cluster_size FROM asg GROUP BY 1
      |)""".stripMargin

  private val oracle: String = componentCtes +
    """
      |SELECT a.doc_id, a.cluster_id, s.cluster_size
      |FROM asg a JOIN sizes s USING (cluster_id)
      |ORDER BY doc_id""".stripMargin

  private val materializeOracle: String = componentCtes +
    """
      |SELECT d.doc_id,
      |  CAST(coalesce(a.cluster_id, d.doc_id) AS BIGINT) AS canonical_id,
      |  (coalesce(a.cluster_id, d.doc_id) = d.doc_id) AS keep,
      |  CAST(coalesce(s.cluster_size, 1) - 1 AS BIGINT) AS n_dups
      |FROM documents d
      |LEFT JOIN asg a USING (doc_id)
      |LEFT JOIN sizes s ON a.cluster_id = s.cluster_id
      |ORDER BY d.doc_id""".stripMargin

  private val weightsOracle: String = componentCtes +
    """
      |SELECT d.doc_id,
      |  CAST(coalesce(a.cluster_id, d.doc_id) AS BIGINT) AS canonical_id,
      |  CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size,
      |  1.0 / coalesce(s.cluster_size, 1) AS weight
      |FROM documents d
      |LEFT JOIN asg a USING (doc_id)
      |LEFT JOIN sizes s ON a.cluster_id = s.cluster_id
      |ORDER BY d.doc_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("d07_dedup_clusters", oracle) { (s, d) => nearDupClusters(s, d) },

    // The survivorship step over d07's components: per-doc canonical
    // id + keep verdict + duplicate count (see dedupMaterialize).
    Q("d14_dedup_materialize", materializeOracle) { (s, d) =>
      dedupMaterialize(s, d)
    },

    // DUPLICATION-AWARE training weights — the alternative to d14's
    // drop-the-copies survivorship when the pipeline KEEPS duplicates
    // (to preserve distributional signal, or because the dedup is
    // near- rather than exact): every member of a duplicate cluster
    // carries weight 1/cluster_size, so the cluster contributes ONE
    // unit of training mass however many copies it has (the
    // upweighting bias Lee 2021 measures simply disappears from the
    // loss). weight is a single IEEE division of small exact integers
    // — bit-identical cross-engine, no rounding needed. Same join
    // shape and cost as d14: components once (d07's machinery), one
    // id-keyed left join back onto the corpus.
    Q("d17_dup_weights", weightsOracle) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
      val asg = nearDupAssignment(s, d)
      docs.join(asg.select("doc_id", "cluster_id", "cluster_size")
          .hint("shuffle_hash"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
          (lit(1.0) / coalesce(col("cluster_size"), lit(1L))).as("weight"))
        .orderBy("doc_id")
    },

    // Leakage-free split assignment keyed on the dedup cluster (see
    // clusterSplit). The oracle replays the exact md5-bucket
    // assignment, so the gate proves the per-doc split matches
    // cross-engine — not merely that the fractions look right.
    Q("d22_cluster_split", componentCtes +
      """, matd AS (
        |  SELECT d.doc_id,
        |    CAST(coalesce(a.cluster_id, d.doc_id) AS BIGINT) AS canonical_id
        |  FROM documents d LEFT JOIN asg a USING (doc_id)
        |), b AS (
        |  SELECT doc_id, canonical_id,
        |    CAST(('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 12))
        |         AS BIGINT) % 100 AS bucket
        |  FROM matd)
        |SELECT doc_id, canonical_id,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
      clusterSplit(s, d)
    },

    // Stored-components SERVING — build the component assignment once
    // (a stored table), then compute d14's exact survivorship from the
    // STORE: the amortized production shape (see buildComponentStore /
    // dedupServeStored). Gates against d14's oracle — the served
    // answer must be bit-identical to the recompute-everything one —
    // while PlanSpec pins that the serve plan has no component
    // machinery left in it.
    Q("d23_dedup_serve_stored", materializeOracle) { (s, d) =>
      dedupServeStored(s, d, buildComponentStore(s, d))
    },

    // Bucketed SERVING — d23 taken to its zero-shuffle floor: corpus
    // and assignment both bucketed by doc_id, the serve join runs
    // co-located with NO Exchange anywhere in the plan (PlanSpec),
    // and the answer is bit-identical to d14's recompute (same
    // oracle). The 100 TB reading: bucket the corpus once at ingest
    // and dedup-serving consumers stop shuffling entirely.
    Q("d24_dedup_serve_bucketed", materializeOracle) { (s, d) =>
      dedupServeBucketed(s, d)
    }
  )
}
