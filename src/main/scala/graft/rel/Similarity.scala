package graft.rel

import graft.core.Overlap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings.embedding` column
  * (ArrayType(FloatType), dim 64).
  *
  * Scale posture: the brute-force path broadcasts the (small) query set
  * and makes ONE pass over the big side — a broadcast nested-loop with
  * per-query top-k, no all-pairs shuffle of the corpus. The LSH path
  * (random hyperplanes, Charikar 2002) buckets the corpus once, then
  * probes only matching buckets — the 100 TB design where the corpus
  * never self-joins.
  *
  * Numeric contract: dot products / norms accumulate sequentially in
  * double (elements cast from float32), matching the DuckDB oracle's
  * `list_sum(list_transform(...))` bit-for-bit, so ORDER BY score is
  * stable across engines without rounding tricks.
  */
object Similarity {

  /** Sequential double dot product / norm via the engine's native
    * codegen expressions (graft.functions) — a tight primitive loop
    * inside whole-stage codegen, bit-identical accumulation order to
    * the previous zip_with/aggregate lambda form and to the oracle. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.floatDot(a, b)

  def norm(a: Column): Column = graft.functions.VectorFunctions.floatNorm(a)

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine(a, b)

  /** The same cosine, as DuckDB SQL over list columns (kept textually in
    * one place so every oracle uses the identical expression). */
  def cosineSql(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE))
       | / (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE)))
       |    * sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE)))))""".stripMargin

  /** Rank the k best candidates per query from a (qid, nid, c) scored
    * frame: the native bounded top-k operator reduces each query's
    * candidates to k with per-partition heaps (only survivors shuffle
    * — graft.plans.TopKPerKeyPlan), then row_number assigns ranks over
    * the nQueries×k survivor set. The window sort that used to see
    * EVERY scored candidate now sees k rows per query. (c desc, nid)
    * is a total order, so set and ranks are identical to the plain
    * window form. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("nid"))
    ScaleOps.topKPerKey(scored, Seq("qid"), Seq(("c", false), ("nid", true)), k)
      .withColumn("rn", row_number().over(w))
      .select(col("qid"), col("nid"), round(col("c"), 6).as("cos"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** Cosine range search (radius query): every corpus neighbor with
    * cos ≥ threshold for each broadcast query vector — the "all
    * similar enough" primitive (dedup candidate fetch, kNN-graph edge
    * construction, retrieval with a score floor) that top-k cannot
    * express when the neighborhood size is unknown a priori. Scale
    * shape: same as [[knnBrute]]'s scan — broadcast query set, ONE
    * corpus pass, zero shuffles (the threshold filter IS the result;
    * no rank window needed since no per-query ordering is required).
    * The threshold compares the raw double cosine (identical
    * sequential accumulation in both engines — see the object
    * scaladoc); rounding to 6dp happens after, on output only. */
  def rangeSearch(spark: SparkSession, dir: String, nQueries: Int,
      threshold: Double): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qe"), col("embedding")).as("c"))
      .filter(col("c") >= threshold)
      .select(col("qid"), col("nid"), round(col("c"), 6).as("cos"))
      .orderBy("qid", "nid")
  }

  /** Brute-force exact top-k: broadcast query set, one corpus pass,
    * per-query rank. */
  def knnBrute(spark: SparkSession, dir: String, nQueries: Int, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qe"), col("embedding")).as("c"))
    rankTopK(scored, k)
  }

  /** Exact kNN-graph build: for EVERY corpus vector, its k nearest
    * neighbors by cosine (self excluded), ranked (cos DESC, nid ASC)
    * — the all-pairs primitive behind graph-based near-dup clustering
    * (d07 generalized from threshold edges to degree-k edges),
    * SemDeDup-style neighborhood pruning, and kNN-LM / label-
    * propagation pipelines. Distinct from [[knnBrute]]: there a SMALL
    * query set probes the corpus; here both sides are the corpus.
    *
    * Scale shape — the d06 tiled-broadcast discipline applied to
    * top-k instead of a threshold: the corpus iterates disjoint
    * xxhash64-assigned id-blocks of ~`spark.graft.s08.blockRows` rows
    * (uniform under any id distribution, loud 4× overload guard);
    * each block broadcasts once and every probe row keeps a k-bounded
    * best-first list over it, so a block pass emits at most k rows
    * per probe — n·k·numBlocks candidate rows total, never the n²
    * pair space. The native [[graft.plans.TopKPerKeyPlan]] merges the
    * per-block survivors (partial heaps map-side, only survivors
    * shuffle) and the rank window runs over the n·k result
    * ([[rankTopK]]). Driver heap holds ONE block during collection;
    * completed blocks live in the block manager (MEMORY_AND_DISK), so
    * no allocation anywhere scales with the corpus. The n²·d dot
    * products are inherent to the EXACT graph — at 100 TB the scale
    * path swaps the block scan for the LSH/IVF candidate fetch
    * (s02/s04) feeding the same top-k merge.
    *
    * Determinism: (cos, nid) comparisons use the raw double cosine
    * with the object-scaladoc accumulation contract, so the neighbor
    * set and ranks are bit-stable cross-engine (s01 precedent); the
    * block-local insertion predicate is exactly the global order, so
    * the result is identical for ANY block count (spec-pinned). */
  def knnGraph(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import spark.implicits._
    require(k > 0, s"knnGraph requires k > 0, got $k")
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val blockRows =
      spark.conf.getOption("spark.graft.s08.blockRows").getOrElse("65536").toInt
    require(blockRows > 0, s"blockRows must be positive, got $blockRows")
    val n = e.count()
    val numBlocks = math.max(1L, (n + blockRows - 1) / blockRows).toInt
    val perBlock = (0 until numBlocks).map { b =>
      val block = e.filter(pmod(xxhash64(col("vec_id")), lit(numBlocks)) === b)
        .as[(Long, Array[Float])]
        .collect().sortBy(_._1)
      require(numBlocks == 1 || block.length <= 4L * blockRows + 64,
        s"s08 block $b holds ${block.length} rows (bound ${4L * blockRows + 64}): " +
          "hash-uniform assignment should concentrate tightly — check " +
          "vec_id for mass duplication, or raise spark.graft.s08.blockRows")
      val norms = block.map { case (_, v) =>
        var ss = 0.0; var i = 0
        while (i < v.length) { ss += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(ss)
      }
      val bc = spark.sparkContext.broadcast((block, norms))
      e.mapPartitions { rows =>
        val (corp, ns) = bc.value
        rows.flatMap { case (qid, qv) =>
          var na = 0.0; var i = 0
          while (i < qv.length) { na += qv(i).toDouble * qv(i).toDouble; i += 1 }
          val normQ = math.sqrt(na)
          // best-first (cos desc, nid asc) insertion list of size <= k:
          // O(1) reject against the current worst, O(k) shift on accept
          // — k is small by contract, so this beats a heap's constant
          val hc = new Array[Double](k)
          val hn = new Array[Long](k)
          var m = 0
          var j = 0
          while (j < corp.length) {
            val nid = corp(j)._1
            if (nid != qid) {
              val vb = corp(j)._2
              var dot = 0.0; var t = 0
              while (t < qv.length) { dot += qv(t).toDouble * vb(t).toDouble; t += 1 }
              val c = dot / (normQ * ns(j))
              if (m < k || c > hc(m - 1) ||
                  (c == hc(m - 1) && nid < hn(m - 1))) {
                var p = if (m < k) m else k - 1
                while (p > 0 && (c > hc(p - 1) ||
                    (c == hc(p - 1) && nid < hn(p - 1)))) {
                  hc(p) = hc(p - 1); hn(p) = hn(p - 1); p -= 1
                }
                hc(p) = c; hn(p) = nid
                if (m < k) m += 1
              }
            }
            j += 1
          }
          (0 until m).iterator.map(p => (qid, hn(p), hc(p)))
        }
      }
    }
    val scored = perBlock.reduce(_ union _).toDF("qid", "nid", "c")
    rankTopK(scored, k)
  }

  /** Hybrid retrieval via reciprocal-rank fusion (RRF — Cormack,
    * Clarke & Buettcher 2009): the dense cosine ranker and the sparse
    * BM25 ranker ([[TextOps.bm25Frame]], fixed query term set) each
    * reduce to a bounded top-`shortlist` ranklist; every doc in either
    * list scores Σ 1/(rrfK + rank) over the lists containing it, and
    * the fused top-`k` is returned — the standard RAG hybrid-retrieval
    * stage (dense recall + lexical precision) with the standard
    * rrfK = 60.
    *
    * Scale shape: each ranker reduces to its shortlist via the native
    * TopKPerKey (partial heaps map-side, only ≤ partitions·shortlist
    * survivor rows reach the single query's reducer — for a BATCH of
    * queries the qid key parallelizes the same plan); the rank windows
    * then sort ≤ shortlist rows each, the fusion is a unionByName +
    * groupBy over ≤ 2·shortlist rows, and the final top-k is a
    * TakeOrdered. Nothing corpus-sized shuffles; the corpus is
    * streamed once per ranker.
    *
    * Determinism: ranks are integers from (raw double score DESC,
    * doc_id ASC) total orders — cosine per the object scaladoc
    * contract, BM25 per t18's fixed-shape expression argument (zero
    * scores tie exactly; nonzero boundary gaps sit ~14 orders above
    * ulp scale). Each doc's fused score sums ≤ 2 contributions of
    * 1.0/(rrfK+rank) — exact-rational doubles, and IEEE addition is
    * commutative, so the 2-addend SUM has no association ambiguity
    * cross-engine. */
  def hybridRrf(spark: SparkSession, dir: String, queryId: Long,
      shortlist: Int, k: Int, rrfK: Int = 60): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val qe = e.filter(col("vec_id") === queryId)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val denseScored = e.crossJoin(broadcast(qe))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qe"), col("embedding")).as("c"))
    val wD = Window.partitionBy("qid").orderBy(col("c").desc, col("nid"))
    val dense = ScaleOps.topKPerKey(denseScored, Seq("qid"),
        Seq(("c", false), ("nid", true)), shortlist)
      .withColumn("rd", row_number().over(wD).cast("long"))
      .select(col("nid").as("doc_id"), col("rd"))
    val sparseScored = TextOps.bm25Frame(spark, dir)
      .filter(col("doc_id") =!= queryId)
      .withColumn("qid", lit(queryId))
    val wS = Window.partitionBy("qid").orderBy(col("bm25").desc, col("doc_id"))
    val sparse = ScaleOps.topKPerKey(sparseScored, Seq("qid"),
        Seq(("bm25", false), ("doc_id", true)), shortlist)
      .withColumn("rs", row_number().over(wS).cast("long"))
      .select(col("doc_id"), col("rs"))
    val fused = dense.select(col("doc_id"), col("rd"),
        lit(null).cast("long").as("rs"),
        (lit(1.0) / (lit(rrfK) + col("rd"))).as("contrib"))
      .unionByName(sparse.select(col("doc_id"),
        lit(null).cast("long").as("rd"), col("rs"),
        (lit(1.0) / (lit(rrfK) + col("rs"))).as("contrib")))
    fused.groupBy("doc_id")
      .agg(min("rd").as("rank_dense"), min("rs").as("rank_sparse"),
        sum("contrib").as("r"))
      .orderBy(col("r").desc, col("doc_id"))
      .select(col("doc_id"), col("rank_dense"), col("rank_sparse"),
        round(col("r"), 6).as("rrf"))
      .limit(k)
  }

  /** Measured JL-distortion contract for [[graft.functions.JlProject]]
    * — the d13/q30/ANN-recall "sketch health is measured, not assumed"
    * pattern applied to dimensionality reduction: over every pair of a
    * bounded deterministic audit sample (`vec_id < sampleIds`, the
    * recall-audit precedent), the squared-distance ratio
    * ‖Ra−Rb‖²/‖a−b‖² is compared to 1 and pair count + mean/max
    * |ratio−1| fold into a one-row hash-checked contract. JL theory:
    * the ratio concentrates around 1 with σ ≈ √(2/outDim); the
    * asserted bounds sit ≥2× above the measured corpus values (margins
    * pinned in SimilaritySpec). The audit is one broadcast
    * nested-loop over the sample (sample² pairs, corpus-independent);
    * the projection itself is a per-row narrow map — at 100 TB it
    * runs inside the scan that feeds LSH/IVF indexing
    * (`jl_project(embedding, k)` composes with `lsh_index_keys` on an
    * independent random stream by construction). Distances use the
    * native float_dot composition d² = ⟨a,a⟩ + ⟨b,b⟩ − 2⟨a,b⟩ —
    * identical expression driver-side in the spec recompute. */
  def jlDistortionContract(spark: SparkSession, dir: String, outDim: Int,
      sampleIds: Int, meanBound: Double, maxBound: Double): DataFrame = {
    val proj = graft.functions.VectorFunctions.jlProject(col("embedding"), outDim)
    val e = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < sampleIds)
      .select(col("vec_id"), col("embedding"), proj.as("p"))
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"),
      col("p").as("pa"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"),
      col("p").as("pb"))
    def d2(x: Column, y: Column): Column = dot(x, x) + dot(y, y) - lit(2.0) * dot(x, y)
    val nPairs = sampleIds.toLong * (sampleIds - 1) / 2
    a.join(broadcast(b), col("ida") < col("idb"))
      .select(d2(col("ea"), col("eb")).as("d2o"),
        d2(col("pa"), col("pb")).as("d2p"))
      .filter(col("d2o") > 0)
      .select(abs(col("d2p") / col("d2o") - lit(1.0)).as("err"))
      .agg(
        (count(lit(1)) === lit(nPairs)).cast("long").as("pairs_ok"),
        (avg(col("err")) <= meanBound).cast("long").as("mean_err_ok"),
        (max(col("err")) <= maxBound).cast("long").as("max_err_ok"))
  }

  /** Greedy k-center selection (farthest-point traversal, Gonzalez
    * 1985) over the embedding corpus — the diversity-maximizing
    * exemplar/coreset primitive of training-data curation (pick k
    * maximally-spread documents; also k-means++-style seeding and the
    * 2-approximation to the metric k-center problem). Distance is
    * cosine distance (1 − cos) under the object-scaladoc accumulation
    * contract, so every comparison is bit-identical cross-engine.
    *
    * Scale shape: driver state is exactly the k selected centers (k·d
    * floats) plus one (rank, id, radius) triple per pick. Each round
    * broadcasts ONLY the newest center as a literal vector, updates the
    * per-point distance-to-selected-set incrementally
    * (`dmin ← least(dmin, dist(x, c_new))` — O(n·d) per round, O(n·k·d)
    * total, the classic farthest-point recurrence rather than the
    * O(n·k²·d) recompute), and takes the next center with
    * TakeOrderedAndProject (no corpus sort shuffle; only the 1-row
    * argmax reaches the driver). Lineage cuts every other round bound
    * plan growth exactly as q38's iteration does. k driver-blocking
    * rounds are inherent to the greedy chain (each pick conditions the
    * next); k is small by contract.
    *
    * Determinism: seed = smallest vec_id; argmax tiebreak
    * (dmin DESC, vec_id ASC) is a total order on bit-identical doubles.
    * Selected points stay in the frame — their dmin collapses to
    * ~0 (±1 ulp of 1 − cos(x,x)) in BOTH engines, so they are never
    * re-picked while the pair set still has positive spread. (k > n
    * is degenerate — rounds past n re-pick near-zero-dmin points; the
    * oracle replays the identical degeneracy, so the contract holds,
    * but callers wanting k exemplars should have k ≤ n.) */
  def kCenterSelect(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import spark.implicits._
    require(k > 0, s"kCenterSelect requires k > 0, got $k")
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val seed = e.orderBy("vec_id").limit(1)
      .as[(Long, Array[Float])].collect().headOption
    seed match {
      case None =>
        spark.emptyDataset[(Long, Long, Option[Double])]
          .toDF("sel_rank", "vec_id", "radius")
      case Some((seedId, seedVec)) =>
        val picks = Vector.newBuilder[(Long, Long, Option[Double])]
        picks += ((1L, seedId, None))
        var state = e.withColumn("dmin",
          lit(1.0) - cosine(col("embedding"), typedlit(seedVec)))
        for (r <- 2 to k) {
          val (nid, nd, nv) = state
            .orderBy(col("dmin").desc, col("vec_id"))
            .limit(1)
            .select(col("vec_id"), col("dmin"), col("embedding"))
            .as[(Long, Double, Array[Float])].collect().head
          picks += ((r.toLong, nid, Some(nd)))
          if (r < k) {
            val next = state.withColumn("dmin",
              least(col("dmin"),
                lit(1.0) - cosine(col("embedding"), typedlit(nv))))
            state = if (r % 2 == 0) Lineage.cut(next) else next
          }
        }
        picks.result().toDF("sel_rank", "vec_id", "radius")
          .withColumn("radius", round(col("radius"), 6))
          .orderBy("sel_rank")
    }
  }

  /** The k-center greedy, unrolled to k DuckDB CTE steps (the q38
    * unrolled-iteration oracle precedent): p_r takes the argmax of the
    * running min-distance frame d_{r-1}, d_r folds the new center in
    * with the SAME incremental `least` association the Spark side uses,
    * so every double compares bit-identically. */
  private[rel] def kCenterOracleSql(k: Int): String = {
    // kCenterSelect itself handles k = 1, but this unrolled oracle
    // would emit a dangling ',' between d1 and picks with an empty
    // steps block — keep the two sides' supported domains honest about
    // where they diverge rather than producing malformed SQL
    require(k >= 2, s"kCenterOracleSql needs k >= 2 (got $k); " +
      "the k = 1 oracle is just the seed row — inline it if ever needed")
    val steps = greedyStepsSql(k)
    val pickRows = (2 to k)
      .map(r => s"  UNION ALL SELECT $r, vec_id, dmin FROM p$r")
      .mkString("\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |seed AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
       |d1 AS (SELECT a.vec_id, a.embedding,
       |  1.0 - ${cosineSql("a.embedding", "s.embedding")} AS dmin
       |  FROM e a, seed s),
       |$steps,
       |picks AS (
       |  SELECT 1 AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS dmin FROM seed
       |$pickRows)
       |SELECT CAST(sel_rank AS BIGINT) AS sel_rank, vec_id,
       |  round(dmin, 6) AS radius
       |FROM picks ORDER BY sel_rank""".stripMargin
  }

  /** Sampled k-center — the O(1)-corpus-pass scale path for
    * [[kCenterSelect]] (Gonzalez-on-a-coreset: uniform pre-sample,
    * exact greedy on the sample; the standard remedy for exact
    * greedy's k driver-blocking corpus scans). Exactly TWO distributed
    * passes regardless of k:
    *
    *  1. a deterministic uniform-without-replacement draw of m rows —
    *     TakeOrdered on (md5(vec_id), vec_id), the engine-reproducible
    *     hash-order draw q41 established; per-partition top-m heaps,
    *     only survivors reach the driver;
    *  2. one corpus aggregate measuring the COVERAGE RADIUS of the
    *     selected centers: max over the corpus of min cosine-distance
    *     to the k picks (the quantity the k-center objective bounds).
    *
    * Between them, the exact Gonzalez greedy runs DRIVER-SIDE on the
    * m·d-float sample — zero Spark jobs, m·k·d flops, same seed and
    * tiebreak contract as [[kCenterSelect]] (seed = smallest sampled
    * vec_id; argmax by dmin DESC, vec_id ASC; incremental min-fold) so
    * the DuckDB oracle replays it as unrolled CTE steps over the same
    * sample. Coverage is exact cross-engine: each 1−cos is the
    * fixed-order accumulation contract, and min/max are
    * order-insensitive. The sampled radius is within a small factor of
    * the exact greedy's radius (spec-pinned on the sf fixtures);
    * theory: greedy on a uniform coreset covers the mass of the
    * distribution at O(opt) radius w.h.p. once m ≫ k. */
  def kCenterSampled(spark: SparkSession, dir: String, k: Int,
      m: Int): DataFrame = {
    import spark.implicits._
    require(k >= 1, s"kCenterSampled requires k >= 1, got $k")
    require(m >= k, s"sample size m=$m must be >= k=$k")
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // corpus pass 1: the sample (bounded TakeOrdered, driver gets m·d)
    val sample = e
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(m)
      .as[(Long, Array[Float])].collect()
    // the oracle unconditionally unrolls k greedy steps, so a corpus
    // with fewer than k vectors (empty included) would emit k rows
    // there but only |corpus| here — restrict the shared domain loudly
    // instead of silently diverging (kCenterOracleSql's k >= 2
    // discipline)
    require(sample.length >= k,
      s"kCenterSampled needs >= k=$k sampled vectors, got ${sample.length} " +
        "(corpus smaller than k — the unrolled oracle would emit " +
        "duplicate picks)")
    // driver-side exact greedy on the sample — the same sequential
    // double accumulation the FloatDot expression and the oracle use
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i).toDouble
        sa += a(i).toDouble * a(i).toDouble
        sb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dp / (math.sqrt(sa) * math.sqrt(sb))
    }
    val sorted = sample.sortBy(_._1)
    val seed = sorted.head
    val dmin = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
    val vecs = sorted.toMap
    sorted.foreach { case (id, v) => dmin(id) = 1.0 - cosD(v, seed._2) }
    var picks = Vector[(Long, Long)]((1L, seed._1))
    // sample.length >= k is require-guaranteed above
    for (r <- 2 to k) {
      val (pid, _) = dmin.maxBy { case (id, d) => (d, -id) }
      picks :+= ((r.toLong, pid))
      val pv = vecs(pid)
      dmin.keysIterator.toSeq.foreach { id =>
        dmin(id) = math.min(dmin(id), 1.0 - cosD(vecs(id), pv))
      }
    }
    // corpus pass 2: coverage radius of the picked centers (exact:
    // per-row min over k fixed-order cosines, then a max aggregate)
    val centerCols = picks.map { case (_, id) =>
      lit(1.0) - cosine(col("embedding"), typedlit(vecs(id)))
    }
    val dminCol =
      if (centerCols.length == 1) centerCols.head else least(centerCols: _*)
    val radius = e.select(dminCol.as("dm")).agg(max("dm")).head().getDouble(0)
    val rounded = BigDecimal(radius)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    picks.map { case (r, id) => (r, id, rounded) }
      .toDF("sel_rank", "vec_id", "cover_radius")
      .orderBy("sel_rank")
  }

  /** DuckDB replica of [[kCenterSampled]]: the same md5-order sample,
    * the greedy unrolled to k CTE steps (kCenterOracleSql's shape, over
    * the sample), and the corpus-wide coverage radius via a min-per-row
    * / max-overall aggregate — order-insensitive, so bit-exact. */
  /** The unrolled greedy pick/fold CTE chain shared by the s11 and s13
    * oracles — ONE generator so a tiebreak/cosine change can never
    * silently diverge the two. */
  private def greedyStepsSql(k: Int): String =
    (2 to k).map { r =>
      val pick =
        s"""p$r AS (SELECT vec_id, embedding, dmin FROM d${r - 1}
           |  ORDER BY dmin DESC, vec_id LIMIT 1)""".stripMargin
      val fold =
        s"""d$r AS (SELECT a.vec_id, a.embedding,
           |  least(a.dmin, 1.0 - ${cosineSql("a.embedding", "p.embedding")}) AS dmin
           |  FROM d${r - 1} a, p$r p)""".stripMargin
      if (r < k) s"$pick,\n$fold" else pick
    }.mkString(",\n")

  private[rel] def kCenterSampledOracleSql(k: Int, m: Int): String = {
    require(k >= 2, s"kCenterSampledOracleSql needs k >= 2 (got $k)")
    val steps = greedyStepsSql(k)
    val pickRows = (2 to k)
      .map(r => s"  UNION ALL SELECT $r, vec_id FROM p$r")
      .mkString("\n")
    s"""WITH es AS (SELECT vec_id, embedding FROM embeddings),
       |e AS (SELECT vec_id, embedding FROM es
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $m),
       |seed AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
       |d1 AS (SELECT a.vec_id, a.embedding,
       |  1.0 - ${cosineSql("a.embedding", "s.embedding")} AS dmin
       |  FROM e a, seed s),
       |$steps,
       |picks AS (
       |  SELECT 1 AS sel_rank, vec_id FROM seed
       |$pickRows),
       |pe AS (SELECT p.sel_rank, p.vec_id, es.embedding
       |       FROM picks p JOIN es ON es.vec_id = p.vec_id),
       |cov AS (SELECT round(max(dm), 6) AS cover_radius FROM (
       |  SELECT a.vec_id,
       |    min(1.0 - ${cosineSql("a.embedding", "p.embedding")}) AS dm
       |  FROM es a CROSS JOIN pe p GROUP BY a.vec_id))
       |SELECT CAST(p.sel_rank AS BIGINT) AS sel_rank, p.vec_id,
       |  c.cover_radius
       |FROM picks p, cov c ORDER BY sel_rank""".stripMargin
  }

  // ---- LSH (random hyperplanes, multi-table) -----------------------------
  // The hashing kernel itself (hyperplanes, bucket signature, packed
  // keys) lives in graft.functions.LshKernel — the codegen-expression
  // tier must not depend on this query layer; delegations below keep
  // the rel-side API stable.

  val LshBits: Int = graft.functions.LshKernel.Bits
  val LshTables: Int = graft.functions.LshKernel.Tables

  /** Signature of v in one table: LshBits sign bits. */
  private[rel] def lshBucket(table: Int, v: Array[Float]): Int =
    graft.functions.LshKernel.lshBucket(table, v)

  /** All (table, bucket) keys for a corpus vector — the LSH "index". */
  private[rel] def corpusKeys(v: Array[Float]): Seq[(Int, Int)] =
    (0 until LshTables).map(t => (t, lshBucket(t, v)))

  /** Query-side probes: own bucket + all Hamming-1 and Hamming-2
    * neighbors per table (multi-probe LSH: widening the QUERY probes
    * buys recall without touching the corpus index — the corpus-side
    * replication stays ×LshTables, only the small broadcast query set
    * fans out; radius 2 lifts measured recall@10 from 0.84 to ≥0.9 on
    * the sf0.01 corpus). */
  private[rel] def queryKeys(v: Array[Float]): Seq[(Int, Int)] =
    (0 until LshTables).flatMap { t =>
      val b = lshBucket(t, v)
      val r1 = (0 until LshBits).map(i => b ^ (1 << i))
      val r2 = for {
        i <- 0 until LshBits; j <- (i + 1) until LshBits
      } yield b ^ (1 << i) ^ (1 << j)
      (b +: (r1 ++ r2)).map((t, _))
    }

  /** ANN top-k via multi-table sign-LSH: the corpus is indexed once into
    * L=16 tables of 2^8 buckets (explode ×L — the standard LSH space/
    * recall trade); queries probe their bucket plus every Hamming-1 and
    * Hamming-2 neighbor in every table (37 probe keys/table — see
    * queryKeys). The join key is the packed (table << 16 | bucket) int:
    * cost scales
    * with candidate collisions, never n². The CORPUS side (the 100 TB
    * side) hashes through the native codegen expression
    * (graft.functions.LshIndexKeys) — no per-row UDF conversion on the
    * index build; the 5-row query side keeps a plain UDF. Recall vs
    * `knnBrute` asserted in SimilaritySpec. */
  def knnLsh(spark: SparkSession, dir: String, nQueries: Int, k: Int): DataFrame = {
    val queryKeysUdf = udf { (v: Array[Float]) =>
      queryKeys(v).map { case (t, b) => (t << 16) | b }
    }
    val e = Tables.embeddings(spark, dir)
    val corpus = e.select(col("vec_id").as("nid"), col("embedding").as("ne"),
      explode(graft.functions.VectorFunctions.lshKeys(col("embedding"))).as("k"))
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(queryKeysUdf(col("embedding"))).as("k"))
    // a pair may collide in several tables: score every collision (the
    // codegen'd dot is cheap) and dedup on the bare (qid, nid, score) —
    // deduping BEFORE scoring would shuffle the embedding arrays
    // themselves, which dominates at any scale
    val scored = corpus.join(broadcast(queries), Seq("k"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), cosine(col("qe"), col("ne")).as("c"))
      .groupBy("qid", "nid").agg(first("c").as("c"))
    rankTopK(scored, k)
  }

  // ---- IVF (inverted file index via k-means coarse quantizer) -----------

  /** scale to unit L2 norm (zero vectors pass through) — for cosine
    * retrieval the quantizer must run on the sphere, where L2 cell
    * assignment and cosine ranking agree (‖a-b‖² = 2-2cos for unit
    * vectors; FAISS uses spherical k-means for IP/cosine likewise) */
  private[graft] def unit(v: Array[Float]): Array[Float] = {
    var s = 0.0; var j = 0
    while (j < v.length) { s += v(j).toDouble * v(j); j += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v
    else {
      val out = new Array[Float](v.length)
      j = 0
      while (j < v.length) { out(j) = (v(j) / n).toFloat; j += 1 }
      out
    }
  }

  /** deterministic Lloyd k-means on the driver over a corpus sample —
    * the coarse quantizer training step (at 100 TB this trains on a
    * bounded sample exactly the same way; FAISS IVF does likewise).
    * Callers doing cosine retrieval pass unit vectors ([[unit]]). */
  private[rel] def kmeansCentroids(vecs: Array[Array[Float]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val n = vecs.length
    val dim = vecs(0).length
    // deterministic spread init: every (n/k)-th vector
    var centroids = Array.tabulate(k)(i => vecs((i.toLong * n / k).toInt)
      .map(_.toDouble))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      vecs.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dd = 0.0; var j = 0
          while (j < dim) { val d = v(j) - centroids(c)(j); dd += d * d; j += 1 }
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(k)(c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c)))
      it += 1
    }
    centroids
  }

  private[rel] def nearestCells(v: Array[Float], centroids: Array[Array[Double]],
      nProbe: Int): Seq[Int] =
    centroids.indices
      .map { c =>
        var dd = 0.0; var j = 0
        while (j < v.length) { val d = v(j) - centroids(c)(j); dd += d * d; j += 1 }
        (c, dd)
      }
      .sortBy(_._2).take(nProbe).map(_._1)

  /** The unit-normalize UDF shared by every path that pre-unitizes a
    * frame (PQ queries, SQ8 corpus, full-corpus k-means) — one
    * definition so all paths keep identical normalization semantics. */
  private[rel] val unitUdf =
    udf { (v: Array[Float]) => unit(v) }

  /** Allocation-free argmin for the CORPUS-side assignment pass — the
    * one call that scales with corpus size. [[nearestCells]]'s
    * tuple-build + full sort is fine for the per-QUERY nProbe path but
    * pure GC pressure when nProbe == 1 on every corpus row. */
  private[graft] def nearestCell(v: Array[Float],
      centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < centroids.length) {
      var dd = 0.0; var j = 0
      while (j < v.length) { val d = v(j) - centroids(c)(j); dd += d * d; j += 1 }
      if (dd < bestD) { bestD = dd; best = c }
      c += 1
    }
    best
  }

  /** Deterministic hash-ordered quantizer training sample: the top-`n`
    * corpus rows by `(md5(vec_id), vec_id)` — a uniform draw in the
    * FAISS sense, and partition-invariant (spec-pinned). A bare
    * `limit(n)` pulls whichever partitions answer first: harmless at
    * sandbox scale, but at 100× the sample is first-partition-biased
    * (skewed centroids → skewed cells → hot probe buckets). The
    * hash-order top-n plans as TakeOrderedAndProject — ≤ n rows kept
    * per partition, n merged at the driver, no corpus shuffle. */
  private[rel] def trainingSample(e: DataFrame, n: Int): Array[Array[Float]] = {
    val spark = e.sparkSession
    import spark.implicits._
    val out = e
      .select(col("embedding"), md5(col("vec_id").cast("string")).as("h"),
        col("vec_id"))
      .orderBy(col("h"), col("vec_id")).limit(n)
      .select("embedding").as[Array[Float]]
      .collect().map(unit)
    // loud instead of a bare AIOOBE at sample(0)/vecs(0) in the
    // quantizer trainers (the kCenterSampled guard discipline)
    require(out.nonEmpty,
      "trainingSample: embeddings corpus is empty — nothing to train on")
    out
  }

  /** ANN top-k via IVF: corpus partitioned into nList k-means cells
    * (ONE assignment pass, shuffle key = cell); queries probe their
    * nProbe nearest cells. Unlike LSH there is no index replication —
    * each corpus vector lives in exactly one cell; recall comes from
    * multi-probing. Recall vs brute asserted in SimilaritySpec. */
  def knnIvf(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      nList: Int = 16, nProbe: Int = 4,
      corpusPred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // an optional metadata predicate (s17) prunes the CORPUS side only
    // — queries still come from the full table — and the quantizer
    // trains on the pruned corpus so a skewed predicate's survivors
    // aren't misrouted by full-corpus centroids
    val corpus0 = corpusPred.map(e.filter).getOrElse(e)
    // train the coarse quantizer on a bounded deterministic sample
    val sample = trainingSample(corpus0, 4096)
    val centroids = kmeansCentroids(sample, nList, iters = 8)
    val bc = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf { (v: Array[Float]) => nearestCell(unit(v), bc.value) }
    val probeUdf = udf { (v: Array[Float]) => nearestCells(unit(v), bc.value, nProbe) }
    val corpus = corpus0.select(col("vec_id").as("nid"), col("embedding").as("ne"),
      assignUdf(col("embedding")).as("cell"))
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(probeUdf(col("embedding"))).as("cell"))
    val scored = corpus.join(broadcast(queries), Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), cosine(col("qe"), col("ne")).as("c"))
    rankTopK(scored, k)
  }

  /** s15's persisted-index root for a given corpus dir — per-process
    * suffix so reruns can't green-wash against a stale layout (the
    * p18/p19 sink-fixture discipline). */
  private lazy val ivfRunId: String =
    java.util.UUID.randomUUID().toString.take(8)
  private[rel] def ivfIndexPath(d: String): String =
    s"/tmp/graft-sink-fixtures/ivfidx_${new java.io.File(d).getName}" +
      s"_$ivfRunId"

  /** IVF with the index as PERSISTED STATE — the serving shape every
    * production ANN deployment actually runs, which s04 (build + query
    * in one plan) deliberately does not demonstrate: the corpus is
    * assigned to its k-means cell ONCE and written cell-PARTITIONED to
    * storage (centroids alongside), then the query phase is a separate
    * job against the stored layout — it reads the k·d centroid table,
    * derives the probe cells, and scans ONLY those partitions (static
    * partition pruning; PlanSpec pins PartitionFilters on the scan).
    * At 100 TB this is the difference between "re-cluster the corpus
    * per query batch" and "amortize the build across every batch until
    * the next index version": the serve-side corpus work is
    * nProbe/nList of the data, the build cost is paid once per
    * version. Recall folds into the s04 measured contract, plus an
    * index-completeness audit (every corpus vector stored in exactly
    * one cell — persisted rows == corpus rows). */
  def knnIvfPersisted(spark: SparkSession, dir: String, nQueries: Int,
      k: Int, nList: Int = 16, nProbe: Int = 4): (DataFrame, Boolean) = {
    val e = Tables.embeddings(spark, dir)
    val idxPath = ivfIndexPath(dir)
    buildIvfIndex(spark, e, idxPath, nList)
    val cents = readStoredCentroids(spark, idxPath, nList)
    val ann = serveIvfIndex(spark, e, idxPath, cents, nQueries, k, nProbe)
    // completeness audit on the FULL persisted layout (no cell filter):
    // a lossy index write must fail here, not surface as decayed recall
    val idxComplete =
      spark.read.parquet(s"$idxPath/index").count() == e.count()
    (ann, idxComplete)
  }

  /** s15/s18's shared BUILD step: train the coarse quantizer on the
    * bounded sample, assign, persist the cell-partitioned index and
    * the centroid table (the stored-layout contract both the append
    * and serve paths depend on — one definition so it cannot drift). */
  private[graft] def buildIvfIndex(spark: SparkSession, corpus: DataFrame,
      idxPath: String, nList: Int): Unit = {
    import spark.implicits._
    val sample = trainingSample(corpus, 4096)
    val centroids = kmeansCentroids(sample, nList, iters = 8)
    val bcBuild = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf { (v: Array[Float]) => nearestCell(unit(v), bcBuild.value) }
    // two independent writes (index tree, centroid table), overlapped;
    // shared by s15/s18/s22/s23
    Overlap.all(Seq(
      () => corpus.select(col("vec_id").as("nid"), col("embedding").as("ne"),
          assignUdf(col("embedding")).as("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$idxPath/index"),
      () => centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$idxPath/centroids")))
  }

  /** Read the STORED centroid table back (the serve/append paths must
    * never touch the training-time in-memory centroids). */
  private[graft] def readStoredCentroids(spark: SparkSession, idxPath: String,
      nList: Int): Array[Array[Double]] = {
    import spark.implicits._
    val served = spark.read.parquet(s"$idxPath/centroids")
      .orderBy("cell").as[(Int, Seq[Double])].collect()
    require(served.length == nList, s"centroid table holds ${served.length} " +
      s"of $nList cells — persisted index incomplete")
    served.map(_._2.toArray)
  }

  /** s15/s18's shared SERVE step: derive probe cells from the stored
    * centroids, read ONLY those partitions (static partition predicate
    * — pruned at file listing, PlanSpec-pinned), score, rank.
    *
    * `tombstones` (s22) points at a CELL-PARTITIONED delete-vector
    * table (the Lucene live-docs / Milvus delete-bitmap shape applied
    * at scan time): the same static partition predicate prunes it to
    * the probed cells, and a broadcast anti-join drops deleted rows
    * BEFORE scoring — serve-side delete cost is O(tombstones in the
    * probed cells), never a corpus-wide mask. */
  /** The (queries-with-probe-cells cut, collected probe-cell set) a
    * serve needs — split out so a caller that serves the SAME query
    * set against two index versions with the SAME centroids (s23's
    * pre/post-compaction equivalence) derives it once: the probe set
    * is a pure function of (queries, cents, nProbe), so recomputing
    * it per serve was two redundant jobs per invocation (r16,
    * guide §5 reuse-over-recompute — same rows, same cut, so both
    * serves also see identical candidate order). */
  private[graft] def serveProbe(spark: SparkSession, e: DataFrame,
      cents: Array[Array[Double]], nQueries: Int, nProbe: Int)
      : (DataFrame, Seq[Int]) = {
    import spark.implicits._
    val bcServe = spark.sparkContext.broadcast(cents)
    val probeUdf = udf { (v: Array[Float]) =>
      nearestCells(unit(v), bcServe.value, nProbe) }
    val queries = Lineage.cut(e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(probeUdf(col("embedding"))).as("cell")))
    // the probe-cell set is ≤ nQueries·nProbe ints — collected so the
    // index read carries a STATIC partition predicate
    (queries, queries.select("cell").distinct().as[Int].collect()
      .sorted.toSeq)
  }

  private[graft] def serveIvfIndex(spark: SparkSession, e: DataFrame,
      idxPath: String, cents: Array[Array[Double]], nQueries: Int, k: Int,
      nProbe: Int, tombstones: Option[String] = None,
      sharedProbe: Option[(DataFrame, Seq[Int])] = None): DataFrame = {
    val (queries, probedCells) = sharedProbe.getOrElse(
      serveProbe(spark, e, cents, nQueries, nProbe))
    val idx0 = spark.read.parquet(s"$idxPath/index")
      .filter(col("cell").isInCollection(probedCells.toSeq))
    val idx = tombstones.fold(idx0) { tp =>
      idx0.join(broadcast(spark.read.parquet(tp)
          .filter(col("cell").isInCollection(probedCells.toSeq))),
        Seq("cell", "nid"), "left_anti")
    }
    val scored = idx.join(broadcast(queries), Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), cosine(col("qe"), col("ne")).as("c"))
    rankTopK(scored, k)
  }

  // ---- PQ (product quantization: ADC scan + exact re-rank) ---------------

  /** ANN via product quantization (Jégou et al. 2011): the unit sphere
    * splits into `m` orthogonal subspaces, each k-means'd to `ks`
    * centroids on a bounded training sample (same 4096-cap as IVF), and
    * every corpus vector is stored as `m` one-byte centroid codes —
    * dim 64 float32 (256 B) compresses to 16 B, a 16× memory cut, which
    * is what makes a 100 TB embedding corpus scannable from RAM.
    * Retrieval is asymmetric distance (ADC): a query precomputes an
    * m×ks table of per-subspace partial dot products; scoring a corpus
    * vector is then m table lookups + adds over the CODES — the full
    * float vectors never enter the scan. The ADC top-`shortlist` is
    * exact-re-ranked with true cosines (the FAISS refine shape: fetch
    * only shortlist×nQueries full vectors), so recall survives the
    * quantization distortion of isotropic random test vectors.
    *
    * `shortlist = 0` (the default) resolves to `max(64, 2⌈√n⌉)`: the
    * count of corpus vectors whose ADC noise overlaps the true top-k
    * boundary grows with n, so a FIXED shortlist silently decays —
    * measured at the 10× probe: 20k isotropic vectors need ≥128 for
    * recall@10 ≥ 0.9 where 64 sufficed at 2k (the adaptive default
    * gives 283 there, 64 at ≤1024 — small-corpus behavior unchanged).
    * √n keeps the refine join sublinear (1e9 vectors → 63k-row
    * shortlist per query, still broadcast-sized). */
  def knnPq(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      m: Int = 16, ks: Int = 32, shortlist: Int = 0): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val shortlistN =
      if (shortlist > 0) shortlist
      else math.max(64, 2 * math.ceil(math.sqrt(e.count().toDouble)).toInt)
    // same bounded deterministic sample as IVF (see trainingSample)
    val sample = trainingSample(e, 4096)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { mi =>
      kmeansCentroids(sample.map(v => java.util.Arrays.copyOfRange(
        v, mi * sub, (mi + 1) * sub)), ks, iters = 8)
    }
    val bc = spark.sparkContext.broadcast(codebooks)
    val encodeUdf = udf { (v: Array[Float]) =>
      val u = unit(v); val cbs = bc.value
      Array.tabulate(m) { mi =>
        val cb = cbs(mi)
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < cb.length) {
          var dd = 0.0; var j = 0
          while (j < sub) {
            val d = u(mi * sub + j) - cb(c)(j); dd += d * d; j += 1
          }
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        best.toByte
      }
    }
    // ADC over codes only — (qid, nid, adc) is all that reaches the
    // top-k; vectors are re-fetched for the shortlist alone. The query
    // arrives PRE-unitized (qu below, normalized once per query, not
    // once per scored (query, code) row — the knnSq8 shape).
    val adcUdf = udf { (u: Array[Float], code: Array[Byte]) =>
      val cbs = bc.value
      var s = 0.0; var mi = 0
      while (mi < m) {
        val cb = cbs(mi)(code(mi) & 0xff)
        var j = 0
        while (j < sub) { s += u(mi * sub + j) * cb(j); j += 1 }
        mi += 1
      }
      s
    }
    // qe stays RAW for the exact-cosine refine (bit-identical results);
    // qu is the unit view the ADC scan consumes
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        unitUdf(col("embedding")).as("qu"))
    val codes = e.select(col("vec_id").as("nid"),
      encodeUdf(col("embedding")).as("code"))
    // shortlist via the native bounded top-k operator (partial heaps +
    // survivor-only exchange — graft.plans.TopKPerKeyPlan) instead of
    // a window row_number, which would shuffle and sort every scored
    // candidate; (adc desc, nid) is a total order, so the shortlist
    // set is deterministic
    val scored = codes.crossJoin(broadcast(queries))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), adcUdf(col("qu"), col("code")).as("adc"))
    val short = ScaleOps.topKPerKey(scored, Seq("qid"),
        Seq(("adc", false), ("nid", true)), shortlistN)
      .select("qid", "nid")
    // refine: broadcast the (nQueries×shortlist)-row shortlist back
    // against the corpus to fetch true vectors, then exact cosine
    val withVecs = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .join(broadcast(short), Seq("nid"))
      .join(broadcast(queries), Seq("qid"))
    rankTopK(withVecs.select(col("qid"), col("nid"),
      cosine(col("qe"), col("ne")).as("c")), k)
  }

  // ---- SQ8 (scalar quantization: per-dim affine codes + refine) ----------

  /** ANN via IVF+PQ — the canonical production index shape (Jégou et
    * al. 2011's IVFADC, FAISS's default at billion scale): a coarse
    * quantizer routes every corpus vector to one of `nList` cells, and
    * the RESIDUAL (unit vector minus its cell centroid) is
    * product-quantized to `m` one-byte codes. Retrieval probes the
    * query's `nProbe` nearest cells and scores each candidate as
    * q·centroid(cell) + ADC(q, residual codes) — the exact expansion
    * of q·(centroid + decoded residual). The two stages MULTIPLY
    * their savings: the probe restricts the scan to ~nProbe/nList of
    * the corpus (s04's cut) and each scanned row costs m table
    * lookups over 16 B of codes instead of a 256 B float dot (s05's
    * cut) — which is why this, not either half alone, is what serves
    * a 100 TB embedding corpus from RAM. Residual PQ also carries far
    * less distortion than s05's raw-vector PQ at the same code size
    * (cell-local residual spread is a fraction of the unit sphere),
    * so the same shortlist+exact-refine recovers recall. Codebooks
    * train on the bounded 4096 sample; everything broadcast is
    * nList·d + m·ks·(d/m) doubles. */
  def knnIvfPq(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      nList: Int = 16, nProbe: Int = 8, m: Int = 16, ks: Int = 32,
      shortlist: Int = 0): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // adaptive default 4·√n (vs s05's 2·√n): the compound index stacks
    // TWO approximation stages, so both need slack — measured at sf0.1
    // (2k isotropic vectors, nProbe=12): cell misses alone cap recall
    // at 0.92, and the 2·√n shortlist lands at 0.84; nProbe=14 with
    // 4·√n reaches 0.98. The refine join stays sublinear (the s05
    // argument, ×2).
    val shortlistN =
      if (shortlist > 0) shortlist
      else math.max(128, 4 * math.ceil(math.sqrt(e.count().toDouble)).toInt)
    val sample = trainingSample(e, 4096)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val coarse = kmeansCentroids(sample, nList, iters = 8)
    // PQ trains on the sample's RESIDUALS under the coarse quantizer
    // trainingSample already returns UNIT vectors — no re-normalize
    // (a second unit() would train codebooks on last-bit-different
    // inputs than the executor encode path's single unit(raw))
    val resSample = sample.map { v =>
      val cen = coarse(nearestCell(v, coarse))
      Array.tabulate(dim)(i => (v(i) - cen(i)).toFloat)
    }
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { mi =>
      kmeansCentroids(resSample.map(v => java.util.Arrays.copyOfRange(
        v, mi * sub, (mi + 1) * sub)), ks, iters = 8)
    }
    val bc = spark.sparkContext.broadcast((coarse, codebooks))
    val encodeUdf = udf { (v: Array[Float]) =>
      val (crs, cbs) = bc.value
      val u = unit(v)
      val cell = nearestCell(u, crs)
      val cen = crs(cell)
      val code = Array.tabulate(m) { mi =>
        val cb = cbs(mi)
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < cb.length) {
          var dd = 0.0; var j = 0
          while (j < sub) {
            val d = (u(mi * sub + j) - cen(mi * sub + j)) - cb(c)(j)
            dd += d * d; j += 1
          }
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        best.toByte
      }
      (cell, code)
    }
    val adcUdf = udf { (u: Array[Float], cell: Int, code: Array[Byte]) =>
      val (crs, cbs) = bc.value
      val cen = crs(cell)
      var s = 0.0; var i = 0
      while (i < cen.length) { s += u(i) * cen(i); i += 1 }
      var mi = 0
      while (mi < m) {
        val cb = cbs(mi)(code(mi) & 0xff)
        var j = 0
        while (j < sub) { s += u(mi * sub + j) * cb(j); j += 1 }
        mi += 1
      }
      s
    }
    val probeUdf = udf { (v: Array[Float]) =>
      nearestCells(unit(v), bc.value._1, nProbe)
    }
    val codes = e.select(col("vec_id").as("nid"),
        encodeUdf(col("embedding")).as("cc"))
      .select(col("nid"), col("cc._1").as("cell"), col("cc._2").as("code"))
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        unitUdf(col("embedding")).as("qu"))
    val probes = queries
      .select(col("qid"), col("qu"),
        explode(probeUdf(col("qe"))).as("cell"))
    // cell-restricted ADC scan: the join keeps only probed cells'
    // codes; (qid, nid, adc) is all that reaches the shortlist top-k
    val scored = codes.join(broadcast(probes), Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        adcUdf(col("qu"), col("cell"), col("code")).as("adc"))
    val short = ScaleOps.topKPerKey(scored, Seq("qid"),
        Seq(("adc", false), ("nid", true)), shortlistN)
      .select("qid", "nid")
    val withVecs = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .join(broadcast(short), Seq("nid"))
      .join(broadcast(queries.select(col("qid"), col("qe"))), Seq("qid"))
    rankTopK(withVecs.select(col("qid"), col("nid"),
      cosine(col("qe"), col("ne")).as("c")), k)
  }

  /** INCREMENTAL index maintenance (s18) — the operation that keeps a
    * persisted ANN index (s15) alive between rebuilds: a new corpus
    * batch is assigned with the STORED centroids (no retraining, no
    * v1 re-scan) and APPENDED cell-partitioned to the stored layout;
    * serving reads the union. At 100 TB this is the difference between
    * "re-index the corpus nightly" (O(corpus) per day) and "append the
    * day's batch" (O(batch)); the quantizer drifts only as the data
    * distribution does, and the rebuild (s15) is the periodic
    * re-version, not the steady state. nProbe rides one step above
    * s15's 12 (measured at sf0.1: v1-trained centroids routing the
    * full corpus sit just under the 0.9 recall bar at 12 — the
    * quantizer-drift cost made visible). Audits: completeness (index
    * rows == corpus rows after append), APPEND-ONLY (every v1 index
    * file still present untouched after the append — a rewrite would
    * invalidate concurrent readers), and the s04 measured-recall
    * contract over the appended layout. */
  def knnIvfAppended(spark: SparkSession, dir: String, nQueries: Int,
      k: Int, nList: Int = 16, nProbe: Int = 12)
      : (DataFrame, Boolean, Boolean) = {
    val e = Tables.embeddings(spark, dir)
    val idxPath = ivfIndexPath(dir) + "_append"
    val v1 = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    // BUILD v1 + APPEND the batch via the STORED centroids (no retrain,
    // no v1 re-scan), then SERVE over the union — build and serve are
    // the s15 helpers, so the stored-layout contract cannot drift
    buildIvfIndex(spark, v1, idxPath, nList)
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def indexFiles(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$idxPath/index"), true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          b += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
      }
      b.result()
    }
    val before = indexFiles()
    val cents = readStoredCentroids(spark, idxPath, nList)
    val bcServe = spark.sparkContext.broadcast(cents)
    val assignStored = udf { (v: Array[Float]) => nearestCell(unit(v), bcServe.value) }
    batch.select(col("vec_id").as("nid"), col("embedding").as("ne"),
        assignStored(col("embedding")).as("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$idxPath/index")
    // append-only audit: every v1 file survives byte-identical
    val appendOnly = before.subsetOf(indexFiles())
    val ann = serveIvfIndex(spark, e, idxPath, cents, nQueries, k, nProbe)
    val complete = spark.read.parquet(s"$idxPath/index").count() == e.count()
    (ann, complete, appendOnly)
  }

  /** s22's delete predicate (id ≡ 0 mod 7, ~14% of the corpus),
    * expressed over a caller-supplied id column so the tombstone
    * write, the result audit, and the rebuild leg share ONE
    * definition (the s17 filterPredOn discipline). */
  private[graft] def deletePredOn(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = id % 7 === 0

  /** Index DELETE via tombstones (s22) — the mutation every serving
    * vector store needs between rebuilds (GDPR erasure, content
    * takedowns, stale-document eviction). The index is NOT rewritten:
    * the delete batch is assigned to its cell with the STORED
    * centroids — O(deletes), the append-path dual — and written as a
    * cell-partitioned delete-vector table next to the index; the
    * serve path prunes both tables with the same static partition
    * predicate and anti-joins within the probed cells (see
    * [[serveIvfIndex]]). Contract: (a) the s04 measured-recall gate
    * against brute force over the SURVIVOR corpus, (b) zero deleted
    * ids in any result. The STRUCTURAL theorem that makes tombstones
    * safe to trust at 100 TB — serving through tombstones returns
    * row-for-row exactly what a physical rebuild from the survivors
    * (same stored centroids) serves — is pinned in SimilaritySpec via
    * [[deleteRebuildEquivalence]]: it is a property of the serve
    * machinery, not of any particular corpus, so the gated query
    * measures only the op a user actually runs (the tombstone serve),
    * not a rebuild it exists to avoid. */
  def knnIvfDeleted(spark: SparkSession, dir: String, nQueries: Int,
      k: Int, nList: Int = 16, nProbe: Int = 12): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val idxPath = ivfIndexPath(dir) + "_delete"
    val cents = buildDeleteLayout(spark, e, idxPath, nList)
    serveIvfIndex(spark, e, idxPath, cents, nQueries, k, nProbe,
      tombstones = Some(s"$idxPath/tombstones"))
  }

  /** Shared build step for the delete paths (s22 and the spec-level
    * equivalence audit): full-corpus index + cell-partitioned
    * tombstone table for [[deletePredOn]], both under `idxPath`. The
    * delete batch routes through the STORED quantizer exactly as an
    * append would — the tombstone lands in the same cell its index
    * row lives in, which is what makes the serve-side anti-join a
    * per-cell (never corpus-wide) operation. */
  private[graft] def buildDeleteLayout(spark: SparkSession, e: DataFrame,
      idxPath: String, nList: Int): Array[Array[Double]] = {
    buildIvfIndex(spark, e, idxPath, nList)
    val cents = readStoredCentroids(spark, idxPath, nList)
    val bcDel = spark.sparkContext.broadcast(cents)
    val assignStored = udf { (v: Array[Float]) =>
      nearestCell(unit(v), bcDel.value) }
    e.filter(deletePredOn(col("vec_id")))
      .select(col("vec_id").as("nid"),
        assignStored(col("embedding")).as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$idxPath/tombstones")
    cents
  }

  /** The rebuild-equivalence THEOREM behind s22, spec-pinned (moved
    * out of the gated query so the bench path measures the tombstone
    * serve alone): serving through tombstones returns row-for-row
    * exactly what a physical rebuild from the survivors (same stored
    * centroids) serves — same vectors, same float op order ⇒
    * bit-identical cosines; exceptAll both ways pins it. */
  private[rel] def deleteRebuildEquivalence(spark: SparkSession,
      dir: String, nQueries: Int, k: Int, nList: Int = 16,
      nProbe: Int = 12): Boolean = {
    val e = Tables.embeddings(spark, dir)
    val idxPath = ivfIndexPath(dir) + "_deleteq"
    val cents = buildDeleteLayout(spark, e, idxPath, nList)
    val ann = serveIvfIndex(spark, e, idxPath, cents, nQueries, k, nProbe,
      tombstones = Some(s"$idxPath/tombstones"))
    val bcDel = spark.sparkContext.broadcast(cents)
    val assignStored = udf { (v: Array[Float]) =>
      nearestCell(unit(v), bcDel.value) }
    e.filter(!deletePredOn(col("vec_id")))
      .select(col("vec_id").as("nid"), col("embedding").as("ne"),
        assignStored(col("embedding")).as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$idxPath/rebuilt/index")
    val rebuilt = serveIvfIndex(spark, e, s"$idxPath/rebuilt", cents,
      nQueries, k, nProbe)
    ann.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(ann).isEmpty
  }

  /** Index COMPACTION (s23) — the maintenance op that closes the
    * lifecycle s15 (build) / s18 (append) / s22 (delete) opened: fold
    * the tombstone table and the appended segments into a rewritten
    * index version (the Lucene segment-merge / vector-store compaction
    * step), after which serving needs no anti-join and the tombstone
    * table is GONE. Cost shape at 100 TB: compaction reads ONLY the
    * stored layout — one pass over the cell-partitioned index rows
    * anti-joined (per cell, tombstones broadcast) against the
    * cell-partitioned tombstones, written back cell-partitioned; the
    * corpus is never re-scanned and the quantizer is never retrained
    * (the stored centroids carry over verbatim, so probe routing is
    * unchanged). A production deployment would compact cell-by-cell
    * as tombstone density crosses a threshold; the full rewrite here
    * is the one-shot form of the same fold. Contract: the s04
    * measured-recall gate over the survivor corpus, zero deleted ids
    * served, v2 completeness (rows == survivors), post-compaction
    * serve ≡ tombstone serve row-for-row (same cents, same probe set,
    * same float op order — s22's equivalence audit, HERE it gates the
    * per-corpus fold), and the tombstone table physically absent
    * after. */
  def knnIvfCompacted(spark: SparkSession, dir: String, nQueries: Int,
      k: Int, nList: Int = 16, nProbe: Int = 14)
      : (DataFrame, Boolean, Boolean, Boolean) = {
    val e = Tables.embeddings(spark, dir)
    val idxPath = ivfIndexPath(dir) + "_compact"
    // the full pre-compaction lifecycle: v1 build on 4/5 of the
    // corpus, the s18 append of the remaining batch via the STORED
    // centroids, the s22 tombstone write — so the fold covers both
    // appended segments and deletes
    val v1 = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    buildIvfIndex(spark, v1, idxPath, nList)
    val cents = readStoredCentroids(spark, idxPath, nList)
    val bcC = spark.sparkContext.broadcast(cents)
    val assignStored = udf { (v: Array[Float]) =>
      nearestCell(unit(v), bcC.value) }
    // the s18 append and the s22 tombstone write are INDEPENDENT jobs
    // (different target dirs, both reading the corpus + stored
    // centroids) — submit them concurrently so the second backfills
    // the first's task tail (guide §2.6); the lifecycle order the cell
    // demonstrates (build → append → delete → fold) is a DATA
    // dependency chain, and both of these precede the fold either way
    Overlap.all(Seq(
      () => batch.select(col("vec_id").as("nid"),
          col("embedding").as("ne"),
          assignStored(col("embedding")).as("cell"))
        .write.mode("append").partitionBy("cell")
        .parquet(s"$idxPath/index"),
      () => e.filter(deletePredOn(col("vec_id")))
        .select(col("vec_id").as("nid"),
          assignStored(col("embedding")).as("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$idxPath/tombstones")))
    // the reference result BEFORE compacting: tombstone serve over the
    // appended layout (s22's shape). r15: materialized — nQueries·k
    // rows — because the equivalence audit below consumes it TWICE
    // (exceptAll each way); uncut, the whole tombstone-serve subplan
    // (probe collect + pruned scan + anti-join + top-k) re-executed
    // per audit leg (guide §5: persist is right exactly when reuse
    // beats recompute — 50 rows vs 2 extra serve executions).
    // r16: the query-probe set is derived ONCE and shared with the v2
    // serve below — both serves run the same queries against the same
    // stored centroids, so (queries cut, probed cells) is identical by
    // construction and recomputing it per serve was two redundant jobs.
    val probe = serveProbe(spark, e, cents, nQueries, nProbe)
    // the reference serve reads (index, tombstones) and the COMPACT
    // fold reads the same two stored trees to WRITE v2 — no data
    // dependency between them, so they overlap (guide §2.6); the fold:
    // stored-layout-only rewrite into version 2 — no corpus read, no
    // retrain; the anti-join is per-cell (both sides cell-partitioned
    // on disk) with the tombstone side broadcast
    var viaTombstones: DataFrame = null
    Overlap.all(Seq(
      () => viaTombstones = serveIvfIndex(spark, e, idxPath, cents,
        nQueries, k, nProbe, tombstones = Some(s"$idxPath/tombstones"),
        sharedProbe = Some(probe))
        .localCheckpoint(),
      () => spark.read.parquet(s"$idxPath/index")
        .join(broadcast(spark.read.parquet(s"$idxPath/tombstones")),
          Seq("cell", "nid"), "left_anti")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$idxPath/v2/index")))
    // the stored centroids carry over VERBATIM (no retrain — probe
    // routing unchanged), so v2's centroid table is a byte-for-byte
    // filesystem copy of v1's, not a Spark write job: compaction
    // forwards the file, the same way a segment merge forwards its
    // unchanged metadata. (Nothing in this query reads it back —
    // serveIvfIndex gets `cents` in-memory — but the stored-layout
    // contract says every index version ships its centroid table.)
    val cfs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v2Cent = new org.apache.hadoop.fs.Path(s"$idxPath/v2/centroids")
    cfs.delete(v2Cent, true)
    // require: nothing in-query reads v2/centroids back, so a silently
    // failed copy would ship a v2 index with no centroid table and the
    // stored-layout breach would go unnoticed (r15 advice)
    require(org.apache.hadoop.fs.FileUtil.copy(
      cfs, new org.apache.hadoop.fs.Path(s"$idxPath/centroids"),
      cfs, v2Cent, false, spark.sparkContext.hadoopConfiguration),
      s"s23: v2 centroid copy to $v2Cent failed")
    // r15: materialized for the same reason — consumed by BOTH
    // equivalence legs below AND returned into the annContract
    // recall/dedup audit (three full re-executions of the v2 serve
    // subplan without the cut; nQueries·k rows with it).
    // the v2 serve and the completeness audit both read only v2 (+ the
    // corpus count) — independent, overlapped (guide §2.6)
    var annV2: DataFrame = null
    var complete = false
    Overlap.all(Seq(
      () => annV2 = serveIvfIndex(spark, e, s"$idxPath/v2", cents,
        nQueries, k, nProbe, sharedProbe = Some(probe)).localCheckpoint(),
      () => complete = spark.read.parquet(s"$idxPath/v2/index").count() ==
        e.filter(!deletePredOn(col("vec_id"))).count()))
    // post-compaction serve ≡ tombstone serve, row for row (same
    // cents ⇒ same probe cells; same survivor candidate set; same
    // float op order ⇒ bit-identical cosines). Evaluated BEFORE the
    // tombstone drop below — the reference plan reads that table.
    val compactEquiv = annV2.exceptAll(viaTombstones).isEmpty &&
      viaTombstones.exceptAll(annV2).isEmpty
    // fold complete → the tombstone table is DROPPED (its information
    // now lives in the v2 row set); serving v2 needs no anti-join
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idxPath/tombstones"), true)
    val tombstonesCleared =
      !fs.exists(new org.apache.hadoop.fs.Path(s"$idxPath/tombstones"))
    (annV2, compactEquiv, complete, tombstonesCleared)
  }

  /** FILTERED vector search — metadata predicate + ANN, the retrieval
    * feature every production vector store ships (filtered top-k:
    * "nearest English documents", "nearest in this tenant"). Strategy
    * is PRE-filter: the predicate prunes the corpus BEFORE quantizer
    * training, cell assignment and the probe scan — at 100 TB it
    * pushes into the parquet scan / partition pruning, k survivors are
    * guaranteed, and recall is INDEPENDENT of selectivity. The
    * alternative (post-filtering an unfiltered top-k) silently decays
    * to ~k·selectivity results and needs speculative over-fetch; at
    * 1/3 selectivity a post-filtered top-10 averages 3 rows. The cells
    * also retrain on the filtered corpus: centroids of the full corpus
    * would misroute a skewed predicate's survivors. Gate = the s04
    * measured-recall contract against brute force over the SAME
    * filtered corpus, plus a filter audit (every returned neighbor
    * satisfies the predicate). */
  def knnFilteredIvf(spark: SparkSession, dir: String, nQueries: Int,
      k: Int, nList: Int = 16, nProbe: Int = 12): DataFrame =
    // the predicate restricts what may be RETURNED, not who may ask —
    // knnIvf prunes the corpus side only and trains on the survivors
    knnIvf(spark, dir, nQueries, k, nList, nProbe, Some(filterPred))

  /** Index CALIBRATION sweep (s19) — the tuning harness every ANN
    * deployment runs before picking nProbe: measure candidate recall
    * of the probe stage alone (no refine) against exact brute force
    * across a probe ladder. The gate holds the two THEOREMS of the
    * sweep — [[nearestCells]] returns a distance-sorted list, so the
    * probe sets NEST along the ladder (recall is non-decreasing), and
    * probing all nList cells covers the corpus (recall exactly 1) —
    * while the measured recall numbers land in the spec. Cost shape:
    * the quantizer trains once on the bounded sample; the brute
    * ground truth is |qids|·k rows and the audit needs only THOSE
    * rows' cell assignments plus the |qids| query vectors — two
    * bounded collects, then the whole ladder is driver arithmetic.
    * Nothing corpus-sized moves for any ladder step. */
  def ivfCalibration(spark: SparkSession, dir: String, nQueries: Int,
      k: Int, nList: Int = 16,
      probes: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    import spark.implicits._
    require(probes.nonEmpty && probes.last == nList,
      s"calibration ladder must end at nList=$nList (the exactness theorem)")
    val e = Tables.embeddings(spark, dir)
    val qids = auditQids(nQueries, MaxAuditQueries)
    val sample = trainingSample(e, 4096)
    val centroids = kmeansCentroids(sample, nList, iters = 8)
    // bounded collects: the |qids|·k brute pairs, the cell of each
    // PAIRED neighbor, and the |qids| query vectors
    val brute = bruteTopKSet(spark, dir, qids, k)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nids = brute.map(_._2).distinct.toSeq
    val nidCell: Map[Long, Int] = e
      .filter(col("vec_id").isInCollection(nids))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> nearestCell(unit(v), centroids) }.toMap
    val qVec: Map[Long, Array[Float]] = e
      .filter(col("vec_id").isInCollection(qids))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val total = brute.length
    // the full distance-sorted cell list ONCE per query; each rung is
    // a prefix — the nesting the monotonicity theorem relies on is
    // structural, not re-derived per rung
    val ranked: Map[Long, Seq[Int]] =
      qVec.map { case (q, v) => q -> nearestCells(unit(v), centroids, nList) }
    val hitsAt = probes.map { p =>
      val probed = ranked.map { case (q, cells) => q -> cells.take(p).toSet }
      p -> brute.count { case (q, n) => probed(q).contains(nidCell(n)) }
    }
    val rows = hitsAt.zipWithIndex.map { case ((p, h), i) =>
      val mono = i == 0 || h >= hitsAt(i - 1)._2
      val fullExact = p != nList || h == total
      (p.toLong, mono, fullExact, h.toLong, total.toLong)
    }
    // measured hit counts are data-dependent — they ride the raw frame
    // for the spec; the registry projection gates the theorem booleans
    rows.toDF("n_probe", "mono", "full_exact", "hits", "total")
  }

  /** The registry projection of [[ivfCalibration]]: theorem booleans
    * only (hit counts are data-dependent and spec-asserted). */
  private def ivfCalibrationGate(spark: SparkSession, dir: String,
      nQueries: Int, k: Int): DataFrame =
    ivfCalibration(spark, dir, nQueries, k)
      .select(col("n_probe"),
        col("mono").cast("long").as("recall_nondecreasing"),
        col("full_exact").cast("long").as("full_probe_exact"))
      .orderBy("n_probe")

  /** s17's metadata predicate (id ≡ 0 mod 3 — a deterministic
    * ~1/3-selectivity stand-in for any attribute filter), expressed
    * over a caller-supplied id column so the index-side filter (on
    * vec_id) and the contract audit (on the result's nid) share ONE
    * definition — changing the predicate changes both legs together. */
  private[rel] def filterPredOn(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = id % 3 === 0

  private[rel] def filterPred: org.apache.spark.sql.Column =
    filterPredOn(col("vec_id"))

  /** [[annContract]] with the brute-force leg restricted to the same
    * filtered corpus, plus the filter audit column (the NEGATION of
    * [[filterPredOn]] over the returned neighbor ids — zero violations
    * required). */
  private[rel] def filteredAnnContract(spark: SparkSession, dir: String,
      nQueries: Int, k: Int)(ann: DataFrame): DataFrame =
    annContract(spark, dir, nQueries, k,
      corpusPred = Some(filterPred),
      extraAudits = Seq("filter_ok" ->
        ((sum((!filterPredOn(col("nid"))).cast("long")) === 0L)
          .cast("long"))))(ann)

  /** ANN via 8-bit scalar quantization (the FAISS SQ8 family): each
    * dimension gets an affine [min,max] range trained over the UNIT
    * corpus, and every vector stores one byte per dimension — 4× less
    * memory than float32 (d=64: 256 B → 64 B), the variant that trades
    * less compression than PQ (s05's 16 B) for far lower distortion.
    * Scoring is asymmetric: the query stays float, each corpus code
    * decodes on the fly (`min_i + code_i·Δ_i/255`), shortlist top-√n
    * via the native TopKPerKey, then exact cosine refine (the s05
    * shape).
    *
    * Training is ONE declarative aggregate — posexplode to
    * (dim, value) → groupBy(dim).agg(min, max) → d-row collect
    * (bounded driver state, the K=16 centroid precedent). min/max are
    * associative and order-insensitive, so unlike the k-means paths
    * the trained quantizer is EXACTLY partition-invariant — no sample,
    * no seed, no iteration order (spec-pinned). */
  def knnSq8(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      shortlist: Int = 0): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val unitized = e.select(col("vec_id"), unitUdf(col("embedding")).as("u"))
    // the corpus size rides the bounds aggregate for free (count of
    // dim-0 entries) — a separate e.count() would be one more pass
    val boundRows = unitized
      .select(posexplode(col("u")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("lo"), max("x").as("hi"),
        count(lit(1)).as("n"))
      .collect()
    val dims = boundRows.length
    val corpusN = if (dims == 0) 0L else boundRows.head.getLong(3)
    val shortlistN =
      if (shortlist > 0) shortlist
      else math.max(64, 2 * math.ceil(math.sqrt(corpusN.toDouble)).toInt)
    val lo = new Array[Double](dims)
    val delta = new Array[Double](dims)
    boundRows.foreach { r =>
      val d = r.getInt(0)
      lo(d) = r.getFloat(1).toDouble
      // degenerate (constant) dimension: delta 0 would divide by zero
      // encoding; code 0 + delta 0 decodes exactly to the constant
      delta(d) = math.max(r.getFloat(2).toDouble - lo(d), 0.0)
    }
    val bc = spark.sparkContext.broadcast((lo, delta))
    val encodeUdf = udf { (v: Array[Float]) =>
      val u = unit(v); val (l, dl) = bc.value
      Array.tabulate(u.length) { i =>
        if (dl(i) == 0.0) 0.toByte
        else {
          val c = math.rint((u(i) - l(i)) / dl(i) * 255.0)
          math.max(0.0, math.min(255.0, c)).toInt.toByte
        }
      }
    }
    // consumes an ALREADY-UNIT query vector: normalization happens once
    // per query in the (tiny, broadcast) queries frame below, not once
    // per (query, code) scored row of the n×q cross join — the encode
    // side normalizes once per vector, and the two sides now match
    val adcUdf = udf { (u: Array[Float], code: Array[Byte]) =>
      val (l, dl) = bc.value
      var s = 0.0; var i = 0
      while (i < u.length) {
        s += u(i) * (l(i) + (code(i) & 0xff) * dl(i) / 255.0)
        i += 1
      }
      s
    }
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        unitUdf(col("embedding")).as("qu"))
    val codes = e.select(col("vec_id").as("nid"),
      encodeUdf(col("embedding")).as("code"))
    val scored = codes.crossJoin(broadcast(queries))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), adcUdf(col("qu"), col("code")).as("adc"))
    val short = ScaleOps.topKPerKey(scored, Seq("qid"),
        Seq(("adc", false), ("nid", true)), shortlistN)
      .select("qid", "nid")
    val withVecs = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .join(broadcast(short), Seq("nid"))
      .join(broadcast(queries), Seq("qid"))
    rankTopK(withVecs.select(col("qid"), col("nid"),
      cosine(col("qe"), col("ne")).as("c")), k)
  }

  // ---- MMR (maximal marginal relevance diversity re-rank) ----------------

  /** internal: double dot product of two (unit) float vectors */
  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { s += a(j).toDouble * b(j); j += 1 }
    s
  }

  /** MMR re-rank (Carbonell & Goldstein 1998) — the retrieval-stage
    * diversifier RAG pipelines run after ANN: greedily pick
    * argmax λ·sim(q,d) − (1−λ)·max_picked sim(d,p), trading relevance
    * against redundancy so near-duplicate hits don't crowd the k slots.
    *
    * Scale shape: the corpus-wide work is exactly an ANN shortlist
    * (bounded top-`shortlist` per query via the native TopKPerKey
    * operator); vectors are fetched for the shortlist alone by
    * broadcast join, and the O(shortlist²) greedy loop runs per query
    * in one compiled flatMapGroups — never corpus-wide. Each output
    * row carries the intra-list mean cosine of the plain top-k vs the
    * MMR pick (`div_plain` / `div_mmr`) as the in-result audit. */
  private[rel] def mmrRerankOn(spark: SparkSession, emb: DataFrame,
      nQueries: Int, k: Int, shortlist: Int = 50,
      lambda: Double = 0.7): DataFrame = {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qe"), col("embedding")).as("c"))
    val short = ScaleOps.topKPerKey(scored, Seq("qid"),
      Seq(("c", false), ("nid", true)), shortlist)
    emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .join(broadcast(short), Seq("nid"))
      .select(col("qid"), col("nid"), col("c"), col("ne"))
      .as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.toArray.sortBy(t => (-t._3, t._2))
        val units = cands.map(t => unit(t._4))
        val n = cands.length
        val kk = math.min(k, n)
        def pairAvg(idx: Seq[Int]): Double =
          if (idx.length < 2) 0.0
          else {
            var s = 0.0; var cnt = 0
            var i = 0
            while (i < idx.length) {
              var j = i + 1
              while (j < idx.length) {
                s += dotD(units(idx(i)), units(idx(j))); cnt += 1; j += 1
              }
              i += 1
            }
            s / cnt
          }
        val picked = new scala.collection.mutable.ArrayBuffer[Int](kk)
        val avail = scala.collection.mutable.BitSet(0 until n: _*)
        while (picked.length < kk && avail.nonEmpty) {
          var best = -1; var bestScore = Double.NegativeInfinity
          avail.foreach { i =>
            val maxSim =
              if (picked.isEmpty) 0.0
              else picked.iterator.map(p => dotD(units(i), units(p))).max
            val sc = lambda * cands(i)._3 - (1 - lambda) * maxSim
            // ties break on the smaller nid — deterministic pick order
            if (sc > bestScore ||
                (sc == bestScore && best >= 0 && cands(i)._2 < cands(best)._2)) {
              best = i; bestScore = sc
            }
          }
          // every remaining score NaN (a zero-norm query makes all
          // cosines 0/0): no score is comparable, so no candidate was
          // selected — degrade deterministically to shortlist order
          // instead of corrupting picked/avail with index -1
          if (best < 0) best = avail.min
          picked += best; avail -= best
        }
        // HALF_UP like every other rounded output in this file
        // (rankTopK's round(col, 6), the DuckDB oracles' round()) —
        // rint is half-to-even and would print the same cosine
        // differently across paths at an exact .5 ulp boundary.
        // Signum-symmetric because Spark/DuckDB round away from zero.
        def r6(x: Double): Double =
          math.signum(x) * math.floor(math.abs(x) * 1e6 + 0.5) / 1e6
        val divPlain = r6(pairAvg(0 until kk))
        val divMmr = r6(pairAvg(picked.toSeq))
        // shortlist-side max relevance (cands is sorted by cos desc):
        // the contract's "first pick = relevance argmax" check needs a
        // reference OUTSIDE the picked set, or a greedy bug that drops
        // the argmax entirely would go unseen
        val topCos = r6(cands(0)._3)
        picked.iterator.zipWithIndex.map { case (i, r) =>
          (qid, cands(i)._2, r6(cands(i)._3), r + 1, divPlain, divMmr, topCos)
        }
      }
      .toDF("qid", "nid", "cos", "rank", "div_plain", "div_mmr", "top_cos")
      .orderBy("qid", "rank")
  }

  def mmrRerank(spark: SparkSession, dir: String, nQueries: Int,
      k: Int): DataFrame =
    mmrRerankOn(spark, Tables.embeddings(spark, dir), nQueries, k)

  /** Max queries the exact-recall audit replays through brute force.
    * The audit's cost is one corpus pass scoring `min(nQueries,
    * MaxAuditQueries)` broadcast queries — bounded regardless of how
    * many queries the production ANN path serves, so the approximate
    * index stays the job and the audit stays a constant-size probe. */
  val MaxAuditQueries = 32

  /** Deterministic evenly-strided audit sample of the query ids
    * (production query set = vec_id < nQueries, so qids are 0-based). */
  private[rel] def auditQids(nQueries: Int,
      maxAudit: Int = MaxAuditQueries): Seq[Long] =
    if (nQueries <= maxAudit) (0L until nQueries.toLong).toSeq
    else (0 until maxAudit).map(i => (i.toLong * nQueries) / maxAudit)

  /** Exact brute-force top-k SET for a bounded qid sample — the audit's
    * ground truth. No rank window: the native bounded top-k operator
    * alone (survivor-only exchange), since the audit only needs set
    * membership. The query side is the SAMPLED ids only (spec-pinned),
    * never the full production query set. */
  private[graft] def bruteTopKSet(spark: SparkSession, dir: String,
      qids: Seq[Long], k: Int,
      corpusPred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id").isInCollection(qids))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val corpus = corpusPred.map(e.filter).getOrElse(e)
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qe"), col("embedding")).as("c"))
    ScaleOps.topKPerKey(scored, Seq("qid"), Seq(("c", false), ("nid", true)), k)
      .select("qid", "nid")
  }

  /** Fold an ANN result into its one-row driver-checkable contract:
    * `(k_rows, recall_ok, dedup_ok, queries_audited)` — all BIGINT, all
    * constant when the index is healthy, so the oracle is a literal
    * SELECT and the driver hash-checks the audit itself. `recall_ok` is
    * recall@k ≥ 0.9 measured against exact brute force over the
    * deterministic ≤[[MaxAuditQueries]]-query sample (never the full
    * query set — the production plan stays sublinear in corpus work).
    * `dedup_ok` pins no (qid, nid) appears twice; `k_rows` pins the
    * exact output cardinality. */
  private[rel] def annContract(spark: SparkSession, dir: String,
      nQueries: Int, k: Int, maxAudit: Int = MaxAuditQueries,
      corpusPred: Option[org.apache.spark.sql.Column] = None,
      extraAudits: Seq[(String, org.apache.spark.sql.Column)] = Nil)(
      ann: DataFrame): DataFrame = {
    val qids = auditQids(nQueries, maxAudit)
    // brute set is |qids|·k rows — broadcast, tag hits with a
    // left-outer join, and fold EVERYTHING into one aggregate over a
    // single evaluation of the ANN plan (no cache, no crossJoin of
    // separate audit legs). `corpusPred` restricts the brute leg to
    // the same filtered ground truth a filtered index answers (s17);
    // `extraAudits` appends contract columns before queries_audited.
    val brute = bruteTopKSet(spark, dir, qids, k, corpusPred)
      .withColumn("_hit", lit(1))
    val needed = math.ceil(0.9 * qids.size * k).toLong
    // brute holds only sampled qids, so a _hit row is in the sample by
    // construction — no extra qid predicate needed
    val aggs = Seq(
      count(lit(1)).as("k_rows"),
      (sum(when(col("_hit") === 1, 1L).otherwise(0L)) >= needed)
        .cast("long").as("recall_ok"),
      (countDistinct(col("qid"), col("nid")) === count(lit(1)))
        .cast("long").as("dedup_ok")) ++
      extraAudits.map { case (n, c) => c.as(n) }
    ann.join(broadcast(brute), Seq("qid", "nid"), "left_outer")
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("k_rows"), col("recall_ok"), col("dedup_ok")) ++
        extraAudits.map(a => col(a._1)) :+
        lit(qids.size.toLong).as("queries_audited"): _*)
  }

  /** The literal-SELECT oracle for [[annContract]] at the registry's
    * nQueries=5, k=10 shape. */
  private def annContractOracle(nQueries: Int, k: Int): String =
    s"""SELECT CAST(${nQueries * k} AS BIGINT) AS k_rows,
       | CAST(1 AS BIGINT) AS recall_ok,
       | CAST(1 AS BIGINT) AS dedup_ok,
       | CAST(${math.min(nQueries, MaxAuditQueries)} AS BIGINT) AS queries_audited""".stripMargin

  /** One-row contract for the MMR re-rank: ranks are exactly 1..k per
    * query, and the rank-1 pick is the pure-relevance argmax (MMR's
    * first pick has no diversity penalty). Both are THEOREMS of the
    * greedy, so they belong in the always-on oracle. `div_mmr ≤
    * div_plain` deliberately is NOT here: the greedy optimizes
    * relevance minus MAX-pairwise similarity, not the mean-pairwise
    * statistic div_* reports, so MMR gives no guarantee on it — on an
    * adversarial corpus the mean could flip despite correct behavior.
    * That property is pinned on the current fixtures (where it holds)
    * in SimilaritySpec instead. */
  private[rel] def mmrContract(k: Int)(m: DataFrame): DataFrame = {
    val per = m.groupBy("qid").agg(
      count(lit(1)).as("n"),
      countDistinct(col("rank")).as("ndr"),
      max("rank").as("maxr"),
      // shortlist-side max relevance, NOT max over the picked rows —
      // the latter would be self-referential and blind to a greedy
      // bug that drops the argmax from the pick set
      max("top_cos").as("maxc"),
      max(when(col("rank") === 1, col("cos"))).as("c1"))
    per.agg(
      sum("n").cast("long").as("k_rows"),
      min((col("n") === k && col("ndr") === k && col("maxr") === k)
        .cast("long")).as("ranks_ok"),
      min((col("c1") >= col("maxc") - lit(1e-9)).cast("long")).as("top1_ok"))
  }

  /** One-row contract for s14: distributed Lloyd's k-means over the
    * full unitized corpus (spherical k-means, the cosine-space
    * variant). Per iteration: centroids broadcast → one pass over the
    * CACHED corpus assigns each vector (nearest centroid, lower index
    * on ties) → the centroid update folds through a (cluster, dim)
    * hash-aggregate whose map-side partials are ≤ k·d rows per
    * partition, so the shuffle is k·d·partitions rows regardless of
    * corpus size → k·d doubles collect to the driver (the bounded
    * driver-state precedent of s11/SQ8). Empty clusters keep their
    * previous centroid (standard Lloyd's guard). `iters` driver rounds
    * total — the same inherent sync points any Lloyd implementation
    * (Spark MLlib KMeans included) pays.
    *
    * Contract columns, chosen to be bit-stable even though float-sum
    * accumulation order makes the exact centroids partition-dependent:
    * n_assigned (exact), k_nonempty_ok (≥2 of k clusters survive),
    * wcss_monotone_ok (within-cluster sum of squares non-increasing
    * each round to 1e-6 relative — Lloyd's monotonicity theorem, with
    * float-rounding slack), iters_run. Cross-partition robustness of
    * WCSS itself is spec-pinned in SimilaritySpec. */
  def kmeansClusterContract(spark: SparkSession, dir: String, k: Int,
      iters: Int): DataFrame = {
    val (n, nonempty, wcss) = kmeansClusterStats(spark, dir, k, iters)
    import spark.implicits._
    val monotone = wcss.sliding(2).forall {
      case Seq(a, b) => b <= a * (1 + 1e-6)
      case _         => true
    }
    Seq((n, if (nonempty >= 2) 1L else 0L, if (monotone) 1L else 0L,
        iters.toLong))
      .toDF("n_assigned", "k_nonempty_ok", "wcss_monotone_ok", "iters_run")
  }

  /** (rows assigned, nonempty clusters after the last round, per-round
    * WCSS) — the measured internals behind [[kmeansClusterContract]],
    * exposed for the spec's partition-robustness pin. */
  private[rel] def kmeansClusterStats(spark: SparkSession, dir: String,
      k: Int, iters: Int,
      shape: DataFrame => DataFrame = identity): (Long, Int, Seq[Double]) = {
    import spark.implicits._
    val e = shape(Tables.embeddings(spark, dir))
    // r15 (guide §1.2 step 1, §2.3): ONE corpus pass per Lloyd round.
    // The old loop cached a per-round assignment frame and ran TWO
    // aggregate jobs over it — a posexplode'd (cluster, dim) hash-agg
    // (a dim× row explosion) plus a per-cluster count/WCSS agg. All
    // three per-round statistics (per-dim sums, counts, WCSS) now fold
    // through one treeAggregate whose per-task state is k·(d+2)
    // doubles: nothing shuffles at all (the k·d partials combine at
    // the driver — the s11/SQ8 bounded-driver-state class), the
    // per-round cache write/read disappears, and the assignment loop
    // is a plain JVM loop instead of a UDF boundary. Float contract
    // unchanged: same element order per vector, double accumulation —
    // only cross-row summation ORDER differs, the same partition-
    // dependence the old groupBy sum had (SimilaritySpec pins
    // first-round WCSS invariance to 1e-9 relative).
    val vecs = e.select(col("embedding")).as[Array[Float]].rdd
      .map(unit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // deterministic hash-ordered seeds (the trainingSample draw):
      // k spread unit vectors, partition-invariant
      var centroids: Array[Array[Double]] =
        trainingSample(e, k).map(_.map(_.toDouble))
      val dim = centroids(0).length
      val wcssHist = scala.collection.mutable.ArrayBuffer.empty[Double]
      var lastCounts: Array[Long] = Array.fill(k)(0L)
      var nTotal = 0L
      var it = 0
      while (it < iters) {
        val bc = spark.sparkContext.broadcast(centroids)
        val (sums, counts, wcssAcc) = vecs.treeAggregate(
          (Array.fill(k)(new Array[Double](dim)), new Array[Long](k),
            new Array[Double](1)))(
          seqOp = { case ((s, c, w), v) =>
            val cs = bc.value
            var best = 0; var bestD = Double.MaxValue; var ci = 0
            while (ci < cs.length) {
              var dd = 0.0; var j = 0
              while (j < v.length) {
                val d = v(j) - cs(ci)(j); dd += d * d; j += 1
              }
              if (dd < bestD) { bestD = dd; best = ci }
              ci += 1
            }
            val sb = s(best)
            var j = 0
            while (j < v.length) { sb(j) += v(j); j += 1 }
            c(best) += 1
            w(0) += bestD
            (s, c, w)
          },
          combOp = { case ((s1, c1, w1), (s2, c2, w2)) =>
            var ci = 0
            while (ci < k) {
              val a = s1(ci); val b = s2(ci); var j = 0
              while (j < dim) { a(j) += b(j); j += 1 }
              c1(ci) += c2(ci); ci += 1
            }
            w1(0) += w2(0)
            (s1, c1, w1)
          })
        bc.destroy()
        val next = centroids.map(_.clone())
        var ci = 0
        while (ci < k) {
          if (counts(ci) > 0) {
            var j = 0
            while (j < dim) { next(ci)(j) = sums(ci)(j) / counts(ci); j += 1 }
          }
          ci += 1
        }
        wcssHist += wcssAcc(0)
        lastCounts = counts
        nTotal = counts.sum
        centroids = next
        it += 1
      }
      (nTotal, lastCounts.count(_ > 0), wcssHist.toSeq)
    } finally vecs.unpersist()
  }

  val all: Seq[Q] = Seq(
    Q("s01_knn_brute",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |           WHERE vec_id < 5),
         |scored AS (
         |  SELECT qid, vec_id AS nid, ${cosineSql("qe", "embedding")} AS c
         |  FROM q, embeddings WHERE vec_id != qid),
         |ranked AS (
         |  SELECT qid, nid, c,
         |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rn
         |  FROM scored)
         |SELECT qid, nid, round(c, 6) AS cos, rn FROM ranked
         |WHERE rn <= 10 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      knnBrute(s, d, nQueries = 5, k = 10)
    },

    // ANN paths — engine-specific hashing/clustering, so the neighbor
    // SET has no DuckDB oracle; instead each registry entry folds its
    // result into the one-row measured contract (recall@10 ≥ 0.9 vs
    // exact brute force over the bounded audit sample, exact output
    // cardinality, no duplicate pair), which IS hash-checked against a
    // literal-SELECT oracle. Neighbor-level semantics live in
    // SimilaritySpec (recall floors, determinism, planted geometry).
    Q("s02_knn_lsh", annContractOracle(5, 10)) { (s, d) =>
      annContract(s, d, nQueries = 5, k = 10)(
        knnLsh(s, d, nQueries = 5, k = 10))
    },
    // nProbe=12 of nList=16 here: the driver corpus is isotropic random
    // vectors — IVF's worst case, recall ≈ fraction probed. On real
    // clustered embeddings the nProbe/nList ratio drops an order of
    // magnitude; both are per-call knobs.
    Q("s04_knn_ivf", annContractOracle(5, 10)) { (s, d) =>
      annContract(s, d, nQueries = 5, k = 10)(
        knnIvf(s, d, nQueries = 5, k = 10, nList = 16, nProbe = 12))
    },
    // PQ-compressed ADC scan + exact re-rank of the shortlist.
    Q("s05_knn_pq", annContractOracle(5, 10)) { (s, d) =>
      annContract(s, d, nQueries = 5, k = 10)(knnPq(s, d, nQueries = 5, k = 10))
    },
    // IVF with the index as PERSISTED, cell-partitioned state and a
    // pruned serve-phase scan (see knnIvfPersisted) — the s04 contract
    // plus the index-completeness audit.
    Q("s15_ivf_persisted",
      annContractOracle(5, 10).replace("AS queries_audited",
        "AS queries_audited,\n CAST(1 AS BIGINT) AS index_complete")) {
      (s, d) =>
        val (ann, complete) = knnIvfPersisted(s, d, nQueries = 5, k = 10,
          nList = 16, nProbe = 12)
        annContract(s, d, nQueries = 5, k = 10)(ann)
          .withColumn("index_complete", lit(if (complete) 1L else 0L))
    },
    Q("s16_knn_ivfpq", annContractOracle(5, 10)) { (s, d) =>
      annContract(s, d, nQueries = 5, k = 10)(
        knnIvfPq(s, d, nQueries = 5, k = 10, nList = 16, nProbe = 14))
    },
    Q("s18_index_append",
      annContractOracle(5, 10).replace("AS queries_audited",
        """AS queries_audited,
 CAST(1 AS BIGINT) AS index_complete,
 CAST(1 AS BIGINT) AS append_only""")) { (s, d) =>
      val (ann, complete, appendOnly) = knnIvfAppended(s, d,
        nQueries = 5, k = 10, nList = 16, nProbe = 14)
      annContract(s, d, nQueries = 5, k = 10)(ann)
        .withColumn("index_complete", lit(if (complete) 1L else 0L))
        .withColumn("append_only", lit(if (appendOnly) 1L else 0L))
    },
    // Tombstone-serve gate only — the rebuild-equivalence theorem
    // moved to SimilaritySpec (deleteRebuildEquivalence) so this cell
    // measures the op a user runs, not the rebuild it avoids.
    Q("s22_index_delete",
      annContractOracle(5, 10).replace("AS dedup_ok",
        """AS dedup_ok,
 CAST(1 AS BIGINT) AS delete_ok""")) { (s, d) =>
      val ann = knnIvfDeleted(s, d, nQueries = 5, k = 10,
        nList = 16, nProbe = 14)
      annContract(s, d, nQueries = 5, k = 10,
        corpusPred = Some(!deletePredOn(col("vec_id"))),
        extraAudits = Seq("delete_ok" ->
          ((sum(deletePredOn(col("nid")).cast("long")) === 0L)
            .cast("long"))))(ann)
    },
    // Compaction closes the index lifecycle: build → append → delete →
    // FOLD (see knnIvfCompacted). The equivalence leg here is the
    // per-corpus contract of the fold itself, so it gates.
    Q("s23_index_compact",
      annContractOracle(5, 10).replace("AS dedup_ok",
        """AS dedup_ok,
 CAST(1 AS BIGINT) AS delete_ok,
 CAST(1 AS BIGINT) AS compact_equiv,
 CAST(1 AS BIGINT) AS index_complete,
 CAST(1 AS BIGINT) AS tombstones_cleared""")) { (s, d) =>
      val (ann, equiv, complete, cleared) = knnIvfCompacted(s, d,
        nQueries = 5, k = 10, nList = 16, nProbe = 14)
      annContract(s, d, nQueries = 5, k = 10,
        corpusPred = Some(!deletePredOn(col("vec_id"))),
        extraAudits = Seq("delete_ok" ->
          ((sum(deletePredOn(col("nid")).cast("long")) === 0L)
            .cast("long"))))(ann)
        .withColumn("compact_equiv", lit(if (equiv) 1L else 0L))
        .withColumn("index_complete", lit(if (complete) 1L else 0L))
        .withColumn("tombstones_cleared", lit(if (cleared) 1L else 0L))
    },
    Q("s19_ivf_calibration",
      """SELECT CAST(p AS BIGINT) AS n_probe,
        | CAST(1 AS BIGINT) AS recall_nondecreasing,
        | CAST(1 AS BIGINT) AS full_probe_exact
        |FROM (SELECT unnest([1, 2, 4, 8, 16]) AS p)
        |ORDER BY n_probe""".stripMargin) { (s, d) =>
      ivfCalibrationGate(s, d, nQueries = 5, k = 10)
    },
    Q("s17_knn_filtered",
      annContractOracle(5, 10).replace("AS dedup_ok",
        "AS dedup_ok,\n CAST(1 AS BIGINT) AS filter_ok")) { (s, d) =>
      filteredAnnContract(s, d, nQueries = 5, k = 10)(
        knnFilteredIvf(s, d, nQueries = 5, k = 10, nList = 16, nProbe = 12))
    },
    // MMR diversity re-rank of the ANN shortlist, folded to its
    // one-row contract (ranks exact, first pick = relevance argmax);
    // the planted-geometry swap semantics AND the fixture-level
    // div_mmr <= div_plain property are pinned in SimilaritySpec (the
    // latter is not an MMR theorem, so it stays out of the oracle).
    Q("s06_mmr_rerank",
      """SELECT CAST(50 AS BIGINT) AS k_rows, CAST(1 AS BIGINT) AS ranks_ok,
        | CAST(1 AS BIGINT) AS top1_ok""".stripMargin) { (s, d) =>
      mmrContract(k = 10)(mmrRerank(s, d, nQueries = 5, k = 10))
    },

    // Cosine range search: exact radius query, one broadcast pass.
    Q("s07_range_search",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |           WHERE vec_id < 5),
         |scored AS (
         |  SELECT qid, vec_id AS nid, ${cosineSql("qe", "embedding")} AS c
         |  FROM q, embeddings WHERE vec_id != qid)
         |SELECT qid, nid, round(c, 6) AS cos FROM scored
         |WHERE c >= 0.3 ORDER BY qid, nid""".stripMargin) { (s, d) =>
      rangeSearch(s, d, nQueries = 5, threshold = 0.3)
    },

    // Exact kNN-graph: degree-5 nearest-neighbor edges for EVERY
    // corpus vector via tiled broadcast blocks + native top-k merge
    // (see knnGraph). Oracle is the quadratic self-join ground truth,
    // in the d06 precast shape (DOUBLE[] cast + norm once per vector,
    // SIMD list_dot_product per pair — verified bit-identical to the
    // lambda cosineSql form), with the final window EXACTLY pruned by
    // a subset bound so it never sorts the n² scored rows: each qid's
    // 5th-best score against the fixed 1-in-40 neighbor subset is ≤
    // its true 5th-best (a subset's k-th max never exceeds the
    // population's), so `c >= subset_c5` provably keeps every true
    // top-5 row and the window ranks only the survivors (~5 × 40 per
    // qid). Verified identical to the unpruned window at sf0.1;
    // 618s → 29s at sf1 — which retires the sf1 gate's
    // --skip-oracle=s08.
    Q("s08_knn_graph",
      """WITH ed AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[],
        |                          embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS c
        |  FROM ed a JOIN ed b ON a.vec_id != b.vec_id),
        |sub AS (
        |  SELECT a.vec_id AS qid,
        |    list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS c
        |  FROM ed a JOIN ed b ON b.vec_id % 40 = 0 AND a.vec_id != b.vec_id),
        |subranked AS (
        |  SELECT qid, c,
        |    row_number() OVER (PARTITION BY qid ORDER BY c DESC) AS rn
        |  FROM sub),
        |thr AS (
        |  -- the bound needs >= 5 subset rows (a smaller subset's min
        |  -- is NOT a 5th-max); fall back to no pruning (-2 <= any
        |  -- cosine) on tiny corpora
        |  SELECT qid, CASE WHEN count(*) >= 5 THEN min(c) ELSE -2.0 END AS c5
        |  FROM subranked WHERE rn <= 5 GROUP BY qid),
        |cand AS (
        |  -- LEFT join: a qid with zero subset neighbors has no thr
        |  -- row and must keep all its candidates, not lose them
        |  SELECT s.qid, s.nid, s.c FROM scored s LEFT JOIN thr USING (qid)
        |  WHERE s.c >= coalesce(thr.c5, -2.0)),
        |ranked AS (
        |  SELECT qid, nid, c,
        |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rn
        |  FROM cand)
        |SELECT qid, nid, round(c, 6) AS cos, rn FROM ranked
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, d) =>
      knnGraph(s, d, k = 5)
    },

    // Hybrid retrieval: dense top-100 (cosine to doc 0's embedding)
    // fused with sparse top-100 (BM25, t18's term set) by reciprocal
    // ranks, fused top-20 (see hybridRrf).
    Q("s09_hybrid_rrf",
      s"""WITH ${TextOps.bm25OracleCtes},
         |bm25d AS (
         |  SELECT doc_id, ${TextOps.bm25ScoreSql} AS b
         |  FROM d, stats WHERE doc_id != 0),
         |sparse AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY b DESC, doc_id) AS rs
         |  FROM bm25d QUALIFY rs <= 100),
         |dense AS (
         |  SELECT b.vec_id AS doc_id,
         |    row_number() OVER (
         |      ORDER BY ${cosineSql("q.embedding", "b.embedding")} DESC,
         |      b.vec_id) AS rd
         |  FROM embeddings q, embeddings b
         |  WHERE q.vec_id = 0 AND b.vec_id != 0
         |  QUALIFY rd <= 100),
         |fused AS (
         |  SELECT doc_id, rd, CAST(NULL AS BIGINT) AS rs,
         |    1.0 / (60 + rd) AS contrib FROM dense
         |  UNION ALL
         |  SELECT doc_id, CAST(NULL AS BIGINT) AS rd, rs,
         |    1.0 / (60 + rs) AS contrib FROM sparse)
         |SELECT doc_id, min(rd) AS rank_dense, min(rs) AS rank_sparse,
         |  round(sum(contrib), 6) AS rrf
         |FROM fused GROUP BY doc_id
         |ORDER BY sum(contrib) DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      hybridRrf(s, d, queryId = 0L, shortlist = 100, k = 20)
    },

    // JL projection distortion, measured every run (see
    // jlDistortionContract): all 2016 pairs of the 64-vector audit
    // sample, mean |ratio-1| <= 0.4 and max <= 2.0 at outDim=32
    // (sigma = sqrt(2/32) = 0.25; >=2x margins pinned in the spec).
    Q("s10_jl_project",
      """SELECT CAST(1 AS BIGINT) AS pairs_ok,
        | CAST(1 AS BIGINT) AS mean_err_ok,
        | CAST(1 AS BIGINT) AS max_err_ok""".stripMargin) { (s, d) =>
      jlDistortionContract(s, d, outDim = 32, sampleIds = 64,
        meanBound = 0.4, maxBound = 2.0)
    },

    // SQ8 scalar-quantized ANN (4x memory cut, deterministic
    // order-insensitive min/max training), same measured-recall
    // contract as the other approximate paths.
    Q("s12_knn_sq8", annContractOracle(5, 10)) { (s, d) =>
      annContract(s, d, nQueries = 5, k = 10)(
        knnSq8(s, d, nQueries = 5, k = 10))
    },

    // Greedy k-center diversity selection (farthest-point traversal):
    // 8 maximally-spread exemplars with the coverage radius at each
    // pick; the oracle replays the greedy chain as unrolled CTE steps
    // (see kCenterSelect / kCenterOracleSql).
    Q("s11_kcenter_select", kCenterOracleSql(8)) { (s, d) =>
      kCenterSelect(s, d, k = 8)
    },

    // Sampled k-center — s11's 100 TB path: O(1) corpus passes
    // (hash-order pre-sample + one coverage-radius aggregate), exact
    // Gonzalez greedy on the driver-held sample; the oracle replays
    // sample, greedy, and radius (see kCenterSampled).
    Q("s13_kcenter_sampled", kCenterSampledOracleSql(8, 256)) { (s, d) =>
      kCenterSampled(s, d, k = 8, m = 256)
    },

    // Distributed Lloyd's k-means over the FULL corpus (document
    // clustering / topic bucketing) — unlike the s04/s05 trainers,
    // which fit on a bounded driver sample, every iteration here is a
    // corpus-wide assignment + centroid update, the shape that actually
    // clusters 100 TB. Folded to its one-row measured contract (see
    // kmeansClusterContract) because float-sum accumulation order makes
    // exact centroids partition-dependent; the robust invariants
    // (total assigned, nonempty clusters, WCSS monotone descent) are
    // what the oracle can hold bit-stable.
    Q("s14_kmeans_cluster",
      """SELECT (SELECT count(*) FROM embeddings) AS n_assigned,
        | CAST(1 AS BIGINT) AS k_nonempty_ok,
        | CAST(1 AS BIGINT) AS wcss_monotone_ok,
        | CAST(6 AS BIGINT) AS iters_run""".stripMargin) { (s, d) =>
      kmeansClusterContract(s, d, k = 8, iters = 6)
    },

    // Vector norms / normalization as a plain columnar transform.
    Q("s03_vector_norm",
      """SELECT vec_id,
        | round(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 6) AS l2,
        | round(list_sum(list_transform(embedding, x -> abs(x::DOUBLE))), 6) AS l1,
        | len(embedding) AS dim
        |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          round(norm(col("embedding")), 6).as("l2"),
          round(aggregate(transform(col("embedding"),
            x => abs(x.cast("double"))), lit(0.0), (a, v) => a + v), 6).as("l1"),
          size(col("embedding")).as("dim"))
        .orderBy("vec_id")
    },

    // EMBEDDING-space benchmark decontamination — d09's overlap check
    // lifted from exact n-grams to semantic similarity (the LLM-eval
    // hygiene pass that catches paraphrased eval leakage n-grams
    // miss): flag every corpus vector whose cosine to ANY eval vector
    // (vec_id < 20, the d09 eval-slice convention) clears the
    // threshold. Scale shape — the d09 discipline: the eval side is
    // BENCHMARK-SIZED by definition, so it broadcasts and the corpus
    // streams through ONE pass scoring |eval| native-codegen cosines
    // per row; map-side partial aggregation collapses each vector's
    // eval-candidates before the exchange, so the one shuffle carries
    // n narrow (id, max, hits) rows — embeddings never shuffle. No
    // ANN needed: brute-vs-broadcast IS the scale-correct shape when
    // one side is eval-set-sized. Float discipline: max over the
    // eval cosines is order-insensitive; the flag compares the raw
    // double (the d06 accepted class); rounding is display-only.
    Q("s20_eval_decontam",
      s"""WITH ev AS (SELECT vec_id AS eid, embedding AS ee
         |  FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT e.vec_id,
         |    max(${cosineSql("ev.ee", "e.embedding")}) AS mc,
         |    CAST(sum(CASE WHEN ${cosineSql("ev.ee", "e.embedding")} >= 0.35
         |         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM embeddings e CROSS JOIN ev
         |  WHERE e.vec_id >= 20 GROUP BY 1)
         |SELECT vec_id, round(mc, 6) AS max_cos, n_hits,
         |  CAST(mc >= 0.35 AS BIGINT) AS contaminated
         |FROM c ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val ev = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("eid"), col("embedding").as("ee"))
      e.filter(col("vec_id") >= 20)
        .crossJoin(broadcast(ev))
        .select(col("vec_id"), cosine(col("ee"), col("embedding")).as("c"))
        .groupBy("vec_id")
        .agg(max("c").as("mc"),
          sum((col("c") >= 0.35).cast("long")).as("n_hits"))
        .select(col("vec_id"), round(col("mc"), 6).as("max_cos"),
          col("n_hits"), (col("mc") >= 0.35).cast("bigint").as("contaminated"))
        .orderBy("vec_id")
    },

    // Distributed kNN JOIN — the batch-serving shape none of s01-s19
    // covers: the probe side is a TABLE (10% of the corpus, vec_id %
    // 10 = 0), not a broadcastable constant query set, so the
    // candidate fetch is an EQUI-JOIN ON THE IVF CELL — probes
    // explode to their nProbe cells, the corpus carries its one
    // assigned cell, and both sides meet in a cell-keyed join (AQE
    // broadcasts the probe side while it's small and shuffles both
    // sides by cell once it isn't; skew lands on AQE's skew-join).
    // Join parallelism = nList, which ADAPTS as ceil(√n) with the
    // corpus (the standard IVF sizing), so reducers scale with data —
    // a fixed 16-cell layout would cap a 1000-executor cluster at 16
    // streams. Per-probe top-k rides the native TopKPerKey (survivor-
    // only exchange). Contract gate (the s02 pattern, join-shaped):
    // n_probes and queries_audited are oracle-COMPUTED from the probe
    // predicate, full_k_ok pins every probe found its full k inside
    // its probed cells, recall_ok is measured ≥ 0.9 vs exact brute
    // over the ≤5-probe audit sample, dedup_ok pins pair uniqueness.
    Q("s21_knn_join",
      """WITH p AS (SELECT count(*) AS np FROM embeddings
        |           WHERE vec_id % 10 = 0)
        |SELECT CAST(np AS BIGINT) AS n_probes,
        |  CAST(1 AS BIGINT) AS full_k_ok,
        |  CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(1 AS BIGINT) AS dedup_ok,
        |  CAST(least(np, 5) AS BIGINT) AS queries_audited
        |FROM p""".stripMargin) { (s, d) =>
      knnJoinContract(s, d, k = 10)
    }
  )

  /** [[Q s21_knn_join]]'s engine body: IVF-cell equi-join kNN between
    * the probe slice (vec_id % 10 = 0) and the corpus, folded into a
    * one-row measured contract. */
  // -- clustered fixture (shared by SimilaritySpec and the 100x scale
  // record tool) ---------------------------------------------------------

  private def splitmix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def u01(h: Long): Double =
    ((h >>> 11) + 1).toDouble / (1L << 53).toDouble
  private def fixtureGauss(seed: Long): Double = {
    val u1 = u01(splitmix(seed * 2))
    val u2 = u01(splitmix(seed * 2 + 1))
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** The production-shaped embedding fixture (SimilaritySpec's "s21
    * clustered" measurement, generated DISTRIBUTED so the 100x size
    * class doesn't build on the driver): a deterministic
    * `nClusters`-component mixture of Gaussians on the unit sphere —
    * centers near-orthogonal at d=64, sigma well under the
    * inter-center gap, cluster membership striped (`vec_id %
    * nClusters`) so every probe stride samples every cluster. Same
    * seeds as the spec fixture: the first 20k vectors ARE the spec's
    * rows. */
  private[graft] def clusteredEmbeddings(spark: SparkSession, n: Long,
      d: Int = 64, nClusters: Int = 64, sigma: Double = 0.2): DataFrame = {
    import spark.implicits._
    val centers = Array.tabulate(nClusters) { c =>
      val raw = Array.tabulate(d)(j => fixtureGauss(0x5EED0000L + c * 1000L + j))
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      raw.map(x => (x / nrm).toFloat)
    }
    val bc = spark.sparkContext.broadcast(centers)
    spark.range(n).mapPartitions { it =>
      val ctrs = bc.value
      it.map { i =>
        val ctr = ctrs((i % nClusters).toInt)
        (i, Array.tabulate(d)(j =>
          (ctr(j) + sigma * fixtureGauss(0xC1A55EDL + i * 64 + j)).toFloat))
      }
    }.toDF("vec_id", "embedding")
  }

  private[graft] def knnJoin(spark: SparkSession, dir: String, k: Int,
      precomputedN: Option[Long] = None,
      nProbeOverride: Option[Int] = None,
      embeddingsOverride: Option[DataFrame] = None): DataFrame = {
    val e = embeddingsOverride.getOrElse(Tables.embeddings(spark, dir))
    // the contract wrapper already counted the corpus to size fullK —
    // reuse it rather than paying a second full count action
    val n = precomputedN.getOrElse(e.count())
    // corpus-adaptive IVF sizing: cells ~ √n (join parallelism grows
    // with data); the default nProbe = 3/4 of nList is what the 0.9
    // recall bar costs on the driver corpus, which is ISOTROPIC
    // random (the s04 comment's caveat — neighbors spread almost
    // uniformly over cells), floored so tiny gate corpora still cover
    // a full k of candidates. Clustered production embeddings probe a
    // small FRACTION of nList at the same recall — measured, not
    // argued: SimilaritySpec's mixture-of-Gaussians fixture holds
    // recall ≥ 0.9 at nProbe = nList/16 (see "s21 clustered" there
    // and SCALE.md) — which is what nProbeOverride exposes.
    val nList = math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
    val nProbe = nProbeOverride.getOrElse(
      math.max(math.min(nList, 5), (3 * nList + 3) / 4))
    val sample = trainingSample(e, 4096)
    val centroids = kmeansCentroids(sample, nList, iters = 8)
    val bc = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf { (v: Array[Float]) => nearestCell(unit(v), bc.value) }
    val probeUdf = udf { (v: Array[Float]) =>
      nearestCells(unit(v), bc.value, nProbe) }
    val corpus = e.select(col("vec_id").as("nid"),
      col("embedding").as("ne"), assignUdf(col("embedding")).as("cell"))
    // NOT broadcast by hand: the probe side is corpus-proportional,
    // so the planner must stay free to shuffle both sides by cell
    val probes = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(probeUdf(col("embedding"))).as("cell"))
    // scoring rides the FUSED one-pass native cosine (FloatCosine) on
    // the raw parquet arrays — pre-unitizing through a projection is a
    // trap here: Catalyst collapses the projection past the join, so a
    // unitize UDF would re-evaluate (and allocate) once per CANDIDATE,
    // not once per row (measured 1.5x slower at sf1 than this shape)
    val scored = corpus.join(probes, Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), cosine(col("qe"), col("ne")).as("c"))
    ScaleOps.topKPerKey(scored, Seq("qid"),
      Seq(("c", false), ("nid", true)), k)
      .select("qid", "nid")
  }

  private[rel] def knnJoinContract(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val n = e.count()
    // the audit sample is BOUNDED at the plan level (sort + limit 5 =
    // TakeOrdered, 5 rows to the driver) — collecting the whole probe
    // id set to take its head would scale driver memory with the
    // corpus, the exact anti-pattern the bounded-collect discipline
    // exists to prevent
    val audit = e.filter(col("vec_id") % 10 === 0)
      .select("vec_id").orderBy("vec_id").limit(5)
      .collect().map(_.getLong(0)).toSeq
    val fullK = math.min(k.toLong, n - 1)
    val brute = bruteTopKSet(spark, dir, audit, k).withColumn("_hit", lit(1))
    val needed = math.ceil(0.9 * audit.size * fullK).toLong
    knnJoin(spark, dir, k, precomputedN = Some(n))
      .join(broadcast(brute), Seq("qid", "nid"), "left_outer")
      .groupBy("qid")
      .agg(count(lit(1)).as("rows_per_probe"),
        sum(when(col("_hit") === 1, 1L).otherwise(0L)).as("hits"),
        countDistinct(col("nid")).as("distinct_n"))
      .agg(
        count(lit(1)).as("n_probes"),
        (min(col("rows_per_probe")) === fullK &&
          max(col("rows_per_probe")) === fullK)
          .cast("long").as("full_k_ok"),
        (sum("hits") >= needed).cast("long").as("recall_ok"),
        (sum(when(col("distinct_n") === col("rows_per_probe"), 0L)
          .otherwise(1L)) === 0L).cast("long").as("dedup_ok"))
      .select(col("n_probes"), col("full_k_ok"), col("recall_ok"),
        col("dedup_ok"), lit(audit.size.toLong).as("queries_audited"))
  }
}
