package graft.rel

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  private def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.select("qid", "nid", "rn").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
      }

  test("LSH ANN recall@10 vs brute force is >= 0.5") {
    val brute = topk(Similarity.knnBrute(spark, sfDir, nQueries = 5, k = 10))
    val lsh = topk(Similarity.knnLsh(spark, sfDir, nQueries = 5, k = 10))
    val recalls = brute.map { case (q, bs) =>
      val ls = lsh.getOrElse(q, Seq.empty).toSet
      bs.count(ls.contains).toDouble / bs.size
    }
    val mean = recalls.sum / recalls.size
    // 8-bit sign-LSH with 1-bit multiprobe on 64-dim random vectors:
    // modest but must clearly beat chance (500 vecs / 2^8 buckets * 9
    // probes ≈ 18 candidates/query examined of 500).
    assert(mean >= 0.5, s"mean recall@10 = $mean")
  }

  test("IVF ANN recall@10 vs brute force is >= 0.5") {
    val brute = topk(Similarity.knnBrute(spark, sfDir, nQueries = 5, k = 10))
    val ivf = topk(Similarity.knnIvf(spark, sfDir, nQueries = 5, k = 10))
    val recalls = brute.map { case (q, bs) =>
      val is = ivf.getOrElse(q, Seq.empty).toSet
      bs.count(is.contains).toDouble / bs.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean IVF recall@10 = $mean")
  }

  test("PQ ANN recall@10 vs brute force is >= 0.9 (ADC + exact re-rank)") {
    val brute = topk(Similarity.knnBrute(spark, sfDir, nQueries = 5, k = 10))
    val pq = topk(Similarity.knnPq(spark, sfDir, nQueries = 5, k = 10))
    val recalls = brute.map { case (q, bs) =>
      val ps = pq.getOrElse(q, Seq.empty).toSet
      bs.count(ps.contains).toDouble / bs.size
    }
    val mean = recalls.sum / recalls.size
    // the 64-row shortlist re-ranked exactly must recover nearly all of
    // the true top-10 even on isotropic random vectors
    assert(mean >= 0.9, s"mean PQ recall@10 = $mean")
  }

  test("IVFPQ ANN recall@10 vs brute force is >= 0.9 (residual ADC + exact re-rank)") {
    val brute = topk(Similarity.knnBrute(spark, sfDir, nQueries = 5, k = 10))
    val ann = topk(Similarity.knnIvfPq(spark, sfDir, nQueries = 5, k = 10,
      nList = 16, nProbe = 14))
    val recalls = brute.map { case (q, bs) =>
      val ps = ann.getOrElse(q, Seq.empty).toSet
      bs.count(ps.contains).toDouble / bs.size
    }
    val mean = recalls.sum / recalls.size
    // both approximation stages (probe + residual codes) refined by the
    // 4-sqrt(n) exact re-rank must recover the true top-10
    assert(mean >= 0.9, s"mean IVFPQ recall@10 = $mean")
  }

  test("s17: pre-filter keeps k results where post-filtering decays to ~k/3") {
    import org.apache.spark.sql.functions.col
    // the design claim in knnFilteredIvf's doc: filtering AFTER an
    // unfiltered top-k returns only ~selectivity*k rows, while the
    // pre-filtered index returns exactly k valid rows per query
    val pre = Similarity.knnFilteredIvf(spark, sfDir, nQueries = 5, k = 10)
      .collect()
    assert(pre.length == 50, s"pre-filter returned ${pre.length} rows, want 50")
    assert(pre.forall(_.getLong(1) % 3 == 0), "pre-filter leaked a non-matching nid")
    val post = Similarity.knnBrute(spark, sfDir, nQueries = 5, k = 10)
      .filter(col("nid") % 3 === 0).collect()
    assert(post.length < 50,
      s"post-filtering kept ${post.length}/50 — corpus too small to show decay?")
    info(s"s17 pre-filter 50/50 vs post-filter ${post.length}/50")
  }

  test("s19: the calibration ladder actually discriminates (recall rises along probes)") {
    // the registry gate holds the theorems (monotone, exact at full
    // probe); this pins on the RAW hit counts that the sweep MEASURES
    // something — the first rung must miss part of the truth
    // (otherwise the ladder says nothing) and the last recovers it all
    val rows = Similarity.ivfCalibration(spark, sfDir, nQueries = 5, k = 10)
      .orderBy("n_probe").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L, 16L))
    val total = rows.head._3
    assert(total > 0)
    assert(rows.head._2 < total,
      s"p=1 already hits $total/$total — the ladder measures nothing")
    assert(rows.last._2 == total,
      s"full probe hit ${rows.last._2}/$total — exactness theorem broken")
    assert(rows.sliding(2).forall(w => w(0)._2 <= w(1)._2),
      s"hits not monotone: ${rows.toSeq}")
    info(s"s19 ladder hits: ${rows.map(r => s"p=${r._1}:${r._2}/$total").mkString(", ")}")
  }

  test("PQ codes are m bytes and deterministic") {
    val df = Similarity.knnPq(spark, sfDir, nQueries = 2, k = 5)
    val a = df.collect().map(_.toSeq)
    val b = Similarity.knnPq(spark, sfDir, nQueries = 2, k = 5)
      .collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("registry s02/s04/s05/s16 contracts are green at sf0.01 (recall_ok, dedup_ok, k_rows)") {
    val dir = "/root/testdata/sf0.01"
    Seq("s02_knn_lsh", "s04_knn_ivf", "s05_knn_pq", "s16_knn_ivfpq").foreach { n =>
      val rows = Similarity.all.find(_.name == n).get.fn(spark, dir).collect()
      assert(rows.length == 1, s"$n contract must be one row")
      val r = rows.head
      assert(r.getAs[Long]("k_rows") == 50L, s"$n k_rows = $r")
      assert(r.getAs[Long]("recall_ok") == 1L, s"$n recall not >= 0.9: $r")
      assert(r.getAs[Long]("dedup_ok") == 1L, s"$n emitted duplicate pairs: $r")
      assert(r.getAs[Long]("queries_audited") == 5L, r.toString)
    }
  }

  test("s06 MMR contract is green at sf0.01") {
    val dir = "/root/testdata/sf0.01"
    val rows = Similarity.all.find(_.name == "s06_mmr_rerank").get
      .fn(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("k_rows") == 50L, r.toString)
    assert(r.getAs[Long]("ranks_ok") == 1L, r.toString)
    assert(r.getAs[Long]("top1_ok") == 1L, r.toString)
    // div_mmr <= div_plain is NOT an MMR theorem (the greedy optimizes
    // max-pairwise, div_* reports mean-pairwise), so it lives here on
    // the current fixtures rather than in the always-on oracle
    Similarity.mmrRerank(spark, dir, nQueries = 5, k = 10).collect()
      .foreach { p =>
        assert(p.getAs[Double]("div_mmr") <=
          p.getAs[Double]("div_plain") + 1e-9, p.toString)
      }
  }

  test("recall audit is bounded: brute-force leg sees only the <=32-query sample") {
    // the deterministic stride sample caps the audit regardless of how
    // many queries the production path serves
    assert(Similarity.auditQids(5) == (0L until 5L).toSeq)
    assert(Similarity.auditQids(1000).length == Similarity.MaxAuditQueries)
    assert(Similarity.auditQids(1000) == Similarity.auditQids(1000)) // deterministic
    assert(Similarity.auditQids(1000).distinct.length == Similarity.MaxAuditQueries)
    // DataFrame-level: bruteTopKSet's query side is the sampled ids only
    val qids = Similarity.auditQids(4, maxAudit = 2)
    assert(qids == Seq(0L, 2L))
    val brute = Similarity.bruteTopKSet(spark, sfDir, qids, k = 3)
    val gotQids = brute.select("qid").distinct().collect().map(_.getLong(0)).sorted
    assert(gotQids.toSeq == qids, s"brute leg scored extra queries: ${gotQids.toSeq}")
    // and the contract reports exactly how many queries were audited
    val c = Similarity.annContract(spark, sfDir, nQueries = 4, k = 3, maxAudit = 2)(
      Similarity.knnBrute(spark, sfDir, nQueries = 4, k = 3)).collect().head
    assert(c.getAs[Long]("queries_audited") == 2L, c.toString)
    assert(c.getAs[Long]("recall_ok") == 1L, c.toString) // brute vs itself
  }

  test("MMR re-rank swaps a redundant near-duplicate for the diverse candidate") {
    import spark.implicits._
    val s19 = math.sqrt(0.19).toFloat
    val s18 = math.sqrt(1.0 - 0.905 * 0.905).toFloat
    // query e1; v2 most relevant (0.905) and nearly identical to v1
    // (0.9, mutual sim ~0.9999); v3 mirrored across e1 (rel 0.9,
    // sim(v2,v3) = 0.63)
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, s19, 0f, 0f)),
      (2L, Array(0.905f, s18, 0f, 0f)),
      (3L, Array(0.9f, -s19, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val rows = Similarity.mmrRerankOn(spark, emb, nQueries = 1, k = 2)
      .collect()
    val byRank = rows.sortBy(_.getAs[Int]("rank"))
      .map(r => r.getAs[Long]("nid"))
    // plain top-2 would be {2, 1}; MMR keeps the most relevant v2 and
    // swaps the near-duplicate v1 for the mirrored v3
    assert(byRank.toSeq == Seq(2L, 3L), byRank.toSeq)
    val r0 = rows.head
    assert(r0.getAs[Double]("div_mmr") < r0.getAs[Double]("div_plain"), r0)
    // shortlist-side max relevance column: v2's cos 0.905, and the
    // rank-1 pick carries exactly that relevance
    assert(math.abs(r0.getAs[Double]("top_cos") - 0.905) < 1e-6, r0)
  }

  test("MMR on the registry corpus is deterministic and audited") {
    val df = Similarity.mmrRerank(spark, sfDir, nQueries = 3, k = 5)
    val a = df.collect().map(_.toSeq)
    assert(a.nonEmpty && a.length == 15)
    val b = Similarity.mmrRerank(spark, sfDir, nQueries = 3, k = 5)
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // the audit columns are constant per query and within [-1, 1]
    df.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("div_plain")) <= 1.0)
      assert(math.abs(r.getAs[Double]("div_mmr")) <= 1.0)
    }
  }

  test("IVF/PQ training sample is deterministic and partition-invariant") {
    // the quantizer trains on a hash-ordered top-n, not a bare limit(n)
    // (which pulls whichever partitions answer first — at scale a
    // first-partition-biased, skew-prone sample)
    val e = Tables.embeddings(spark, sfDir)
    val a = Similarity.trainingSample(e, 64)
    val b = Similarity.trainingSample(e.repartition(7), 64)
    assert(a.length == 64 && b.length == 64)
    a.zip(b).foreach { case (x, y) =>
      assert(x.sameElements(y), "sample differs under repartition(7)")
    }
  }

  test("s04/s05: trained centroids are invariant to input partitioning at fixed sample") {
    // the uniform reproducibility statement across the ANN training
    // tier (s12's SQ8 pins exact min/max invariance; here the k-means
    // paths): hash-ordered sample + deterministic Lloyd iterations ⟹
    // bit-identical centroids under any input partitioning
    val e = Tables.embeddings(spark, sfDir)
    val c1 = Similarity.kmeansCentroids(Similarity.trainingSample(e, 64), 8, 8)
    val c2 = Similarity.kmeansCentroids(
      Similarity.trainingSample(e.repartition(13), 64), 8, 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq,
      "k-means centroids differ under repartition(13)")
  }

  test("s13 sampled k-center: deterministic, k picks, radius within 2x of exact greedy") {
    val got = Similarity.kCenterSampled(spark, sfDir, k = 8, m = 256).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 8)
    assert(got.map(_._1).toSeq == (1L to 8L))
    assert(got.map(_._3).distinct.length == 1, "cover_radius must be global")
    // determinism
    val again = Similarity.kCenterSampled(spark, sfDir, k = 8, m = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == again.toSeq)
    // coverage quality: the sampled greedy's corpus radius within 2x of
    // the exact greedy's corpus radius (Gonzalez-on-coreset contract)
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i).toDouble
        sa += a(i).toDouble * a(i).toDouble
        sb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dp / (math.sqrt(sa) * math.sqrt(sb))
    }
    val byId = corpus.toMap
    def coverRadius(centerIds: Seq[Long]): Double =
      corpus.map { case (_, v) =>
        centerIds.map(c => 1.0 - cos(v, byId(c))).min
      }.max
    val exactIds = Similarity.kCenterSelect(spark, sfDir, k = 8).collect()
      .map(_.getLong(1)).toSeq
    val exactRadius = coverRadius(exactIds)
    val sampledRadius = got.head._3
    assert(sampledRadius <= 2.0 * exactRadius + 1e-9,
      s"sampled radius $sampledRadius vs exact $exactRadius")
    // and the reported radius is the true corpus radius of the picks
    val replay = coverRadius(got.map(_._2).toSeq)
    assert(math.abs(replay - sampledRadius) < 1e-6,
      s"reported $sampledRadius != replayed $replay")
  }

  test("kmeans quantizer is deterministic and balanced-ish") {
    val vecs = Array.tabulate(256)(i =>
      Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat))
    val c1 = Similarity.kmeansCentroids(vecs, 4, 8)
    val c2 = Similarity.kmeansCentroids(vecs, 4, 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    val cells = vecs.map(v => Similarity.nearestCells(v, c1, 1).head)
    assert(cells.distinct.length > 1)
  }

  test("native lsh_index_keys expression matches the Scala corpus keys") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(64)(j => ((i * 31 + j * 7) % 17 - 8) * 0.25f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        graft.functions.VectorFunctions.lshKeys(col("embedding")).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.foreach { case (id, v) =>
      val expected = Similarity.corpusKeys(v).map { case (t, b) => (t << 16) | b }
      assert(got(id) == expected, s"vec $id")
    }
    // null element -> NULL (parity with the other vector expressions)
    val withNull = Seq((0L, Array[java.lang.Float](1.0f, null, 2.0f)))
      .toDF("vec_id", "embedding")
      .select(graft.functions.VectorFunctions.lshKeys(
        col("embedding").cast("array<float>")).as("ks"))
    assert(withNull.collect().head.isNullAt(0))
    // the s02 corpus side indexes through the native expression, not a UDF
    val plan = Similarity.knnLsh(spark, sfDir, nQueries = 2, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("lsh_index_keys"), plan.take(2000))
    // and it is SQL-registered through the session extension
    val viaSql = spark.sql(
      "SELECT lsh_index_keys(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)))")
      .collect().head.getSeq[Int](0)
    assert(viaSql == Similarity.corpusKeys(Array(1.0f, -2.0f))
      .map { case (t, b) => (t << 16) | b })
  }

  test("s08 kNN-graph: tiled blocks are result-invariant and match a driver brute force") {
    import org.apache.spark.sql.functions.col
    val single = Similarity.knnGraph(spark, sfDir, k = 5).collect().map(_.toSeq)
    // force multiple broadcast blocks and demand the identical result
    spark.conf.set("spark.graft.s08.blockRows", "97")
    val tiled =
      try Similarity.knnGraph(spark, sfDir, k = 5).collect().map(_.toSeq)
      finally spark.conf.unset("spark.graft.s08.blockRows")
    assert(single.toSeq == tiled.toSeq)
    // ground truth: all-pairs cosine driver-side, top-5 per node by
    // (cos desc, nid asc) with the same sequential double accumulation
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def normOf(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val norms = vecs.map { case (id, v) => id -> normOf(v) }.toMap
    val expected = vecs.flatMap { case (q, qv) =>
      vecs.filter(_._1 != q).map { case (nid, nv) =>
        var dot = 0.0; var i = 0
        while (i < qv.length) { dot += qv(i).toDouble * nv(i).toDouble; i += 1 }
        (q, nid, dot / (norms(q) * norms(nid)))
      }.sortBy { case (_, nid, c) => (-c, nid) }.take(5)
        .zipWithIndex.map { case ((qid, nid, c), i) =>
          Seq[Any](qid, nid, BigDecimal(c).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble, i + 1)
        }
    }
    assert(single.length == expected.length)
    single.zip(expected).foreach { case (got, exp) =>
      assert(got == exp, s"mismatch: got $got expected $exp")
    }
  }

  test("s09 hybrid RRF matches a driver-side fusion of the two ranklists") {
    import org.apache.spark.sql.functions.col
    val got = Similarity.hybridRrf(spark, sfDir, queryId = 0L,
      shortlist = 100, k = 20).collect()
    // dense ranklist: cosine to doc 0, driver-side
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val qv = vecs.find(_._1 == 0L).get._2
    val nq = math.sqrt(dot(qv, qv))
    val denseRanks = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id, dot(qv, v) / (nq * math.sqrt(dot(v, v)))) }
      .sortBy { case (id, c) => (-c, id) }.take(100)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // sparse ranklist: the engine's own raw bm25 frame, ranked driver-side
    val sparseRanks = TextOps.bm25Frame(spark, sfDir)
      .select(col("doc_id"), col("bm25")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .filter(_._1 != 0L)
      .sortBy { case (id, b) => (-b, id) }.take(100)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val expected = (denseRanks.keySet ++ sparseRanks.keySet).toSeq.map { id =>
      val c = denseRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        sparseRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (id, denseRanks.get(id), sparseRanks.get(id), c)
    }.sortBy { case (id, _, _, c) => (-c, id) }.take(20)
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (row, (id, rd, rs, c)) =>
      assert(row.getLong(0) == id)
      assert(Option(row.get(1)).map(_.asInstanceOf[Long]) == rd)
      assert(Option(row.get(2)).map(_.asInstanceOf[Long]) == rs)
      val want = BigDecimal(c).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(row.getDouble(3) == want, s"doc $id rrf ${row.getDouble(3)} != $want")
    }
  }

  test("s10 JL projection: expression matches driver recompute; distortion margins") {
    import org.apache.spark.sql.functions.col
    val rows = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.jlProject(col("embedding"), 32).as("p"))
      .collect()
    assert(rows.nonEmpty)
    val m = graft.functions.JlKernel.matrix(32, 64)
    rows.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val p = r.getSeq[Float](2).toArray
      assert(p.length == 32)
      (0 until 32).foreach { i =>
        var s = 0.0; var j = 0
        while (j < v.length) { s += m(i)(j) * v(j); j += 1 }
        assert(p(i) == s.toFloat, s"component $i of vec ${r.getLong(0)}")
      }
    }
    // distortion audit, driver-side with the contract's exact formula
    def dot(x: Array[Float], y: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i).toDouble * y(i).toDouble; i += 1 }
      s
    }
    def d2(x: Array[Float], y: Array[Float]): Double =
      dot(x, x) + dot(y, y) - 2.0 * dot(x, y)
    val sample = rows.filter(_.getLong(0) < 64)
      .map(r => (r.getSeq[Float](1).toArray, r.getSeq[Float](2).toArray))
    val errs = for {
      i <- sample.indices
      j <- (i + 1) until sample.length
      o = d2(sample(i)._1, sample(j)._1) if o > 0
    } yield math.abs(d2(sample(i)._2, sample(j)._2) / o - 1.0)
    assert(errs.size == 64 * 63 / 2)
    val mean = errs.sum / errs.size
    val worst = errs.max
    info(f"s10 measured: ${errs.size} pairs, mean err $mean%.4f, max err $worst%.4f")
    // registry bounds (0.4 / 2.0) must hold with >=2x headroom here
    assert(mean <= 0.2, s"mean err $mean leaves <2x margin on 0.4")
    assert(worst <= 1.0, s"max err $worst leaves <2x margin on 2.0")
    val c = Similarity.jlDistortionContract(spark, sfDir, outDim = 32,
      sampleIds = 64, meanBound = 0.4, maxBound = 2.0).collect().head
    assert((c.getLong(0), c.getLong(1), c.getLong(2)) == ((1L, 1L, 1L)))
  }

  test("LSH bucket function is deterministic and tables differ") {
    val v = Array.tabulate(64)(i => (i * 0.1f) - 3.2f)
    assert(Similarity.lshBucket(0, v) == Similarity.lshBucket(0, v))
    val buckets = (0 until Similarity.LshTables).map(Similarity.lshBucket(_, v))
    assert(buckets.forall(b => b >= 0 && b < (1 << Similarity.LshBits)))
    assert(buckets.distinct.size > 1, "tables must use independent planes")
  }

  test("s12 SQ8: recall@10 >= 0.9 and result is partition-invariant") {
    val brute = topk(Similarity.knnBrute(spark, sfDir, nQueries = 5, k = 10))
    val sq = topk(Similarity.knnSq8(spark, sfDir, nQueries = 5, k = 10))
    val recalls = brute.map { case (q, bs) =>
      val ss = sq.getOrElse(q, Seq.empty).toSet
      bs.count(ss.contains).toDouble / bs.size
    }
    val mean = recalls.sum / recalls.size
    // 8 bits/dim on unit vectors distorts far less than PQ's 16-byte
    // codes — the registry contract floor (0.9) needs clear headroom
    assert(mean >= 0.9, s"mean recall@10 = $mean")
    // min/max bounds are associative + order-insensitive, so the FULL
    // result (not just the trained quantizer) must be identical under
    // any partitioning — stronger than the sampled-trainer paths
    val e7 = Tables.embeddings(spark, sfDir).repartition(7)
    val dir7 = java.nio.file.Files.createTempDirectory("sq8inv").toString
    e7.write.mode("overwrite").parquet(s"$dir7/embeddings.parquet")
    val sq7 = topk(Similarity.knnSq8(spark, dir7, nQueries = 5, k = 10))
    assert(sq7 == sq, "SQ8 result changed under repartition(7)")
  }

  test("s11 k-center greedy matches a driver-side replay exactly") {
    val k = 8
    val got = Similarity.kCenterSelect(spark, sfDir, k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSeq
    // driver replay of the identical greedy chain (same accumulation
    // order: sequential double dot/norm, incremental least-fold)
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        sa += a(i).toDouble * a(i).toDouble
        sb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(sa) * math.sqrt(sb))
    }
    val dmin = scala.collection.mutable.Map.empty[Long, Double]
    val seed = corpus.head
    corpus.foreach { case (id, v) => dmin(id) = 1.0 - cos(v, seed._2) }
    var exp = Vector[(Long, Long, Option[Double])]((1L, seed._1, None))
    var byId = corpus.toMap
    for (r <- 2 to k) {
      val (pid, pd) = dmin.toSeq.maxBy { case (id, d) => (d, -id) }
      exp :+= ((r.toLong, pid,
        Some(BigDecimal(pd).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)))
      val pv = byId(pid)
      corpus.foreach { case (id, v) =>
        dmin(id) = math.min(dmin(id), 1.0 - cos(v, pv))
      }
    }
    assert(got.map(t => (t._1, t._2)) == exp.map(t => (t._1, t._2)),
      s"pick sequence diverged: got $got expected $exp")
    got.zip(exp).foreach { case ((_, _, g), (_, _, e)) =>
      (g, e) match {
        case (Some(gv), Some(ev)) => assert(math.abs(gv - ev) < 1e-9)
        case (None, None)         =>
        case other => fail(s"radius nullability diverged: $other")
      }
    }
    // coverage radii are nonincreasing — a theorem of the greedy:
    // the min-dist function only shrinks as centers are added
    val radii = got.flatMap(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b - 1e-12 },
      s"radii not monotone: $radii")
    // picks are distinct
    assert(got.map(_._2).distinct.size == k)
  }

  test("brute-force knn scores are within [-1, 1] and ranked descending") {
    val rows = Similarity.knnBrute(spark, sfDir, nQueries = 2, k = 5)
      .select("qid", "cos", "rn").collect()
    rows.foreach { r =>
      val c = r.getDouble(1)
      assert(c >= -1.0000001 && c <= 1.0000001, s"cos out of range: $c")
    }
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(2)).map(_.getDouble(1))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("s14 distributed k-means: contract green, WCSS descends, robust to partitioning") {
    val n = Tables.embeddings(spark, sfDir).count()
    val row = Similarity.kmeansClusterContract(spark, sfDir, k = 8, iters = 6)
      .collect().head
    assert(row.getLong(0) == n, "every vector must be assigned")
    assert(row.getLong(1) == 1L, "fewer than 2 nonempty clusters")
    assert(row.getLong(2) == 1L, "WCSS not monotone non-increasing")
    // WCSS robustness: exact centroids are float-sum-order dependent
    // (why s14 is a measured contract, not a hash oracle), but the
    // FIRST round's WCSS is assignment-deterministic (seed centroids
    // come from the partition-invariant hash sample) — only its
    // accumulation order varies, so it must agree to ulps; the final
    // round may drift through boundary-assignment flips, bounded well
    // below 0.1% on this corpus
    val (n1, ne1, w1) = Similarity.kmeansClusterStats(spark, sfDir, 8, 6)
    val (n2, ne2, w2) =
      Similarity.kmeansClusterStats(spark, sfDir, 8, 6, _.repartition(7))
    assert(n1 == n && n2 == n)
    assert(ne1 >= 2 && ne2 >= 2)
    assert(math.abs(w1.head - w2.head) <= 1e-9 * w1.head,
      s"first-round WCSS not partition-invariant: ${w1.head} vs ${w2.head}")
    assert(math.abs(w1.last - w2.last) <= 1e-3 * w1.last,
      s"final WCSS drifted: ${w1.last} vs ${w2.last}")
    // descent is strict somewhere: clustering actually improved
    assert(w1.last < w1.head, s"no WCSS improvement: $w1")
  }

  test("s15: serving from the persisted index equals computing in memory") {
    // same deterministic sample -> same centroids -> the disk round
    // trip (partitioned write, centroid table, pruned read) must be
    // result-invisible vs s04's in-one-plan IVF at identical knobs
    import org.apache.spark.sql.functions.col
    val (persisted, complete) = Similarity.knnIvfPersisted(
      spark, sfDir, nQueries = 5, k = 10, nList = 16, nProbe = 12)
    assert(complete, "persisted index lost rows")
    val inMem = Similarity.knnIvf(
      spark, sfDir, nQueries = 5, k = 10, nList = 16, nProbe = 12)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("nid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sets(persisted) == sets(inMem),
      "disk round trip changed the neighbor sets")
    // and the layout really is cell-partitioned on disk
    val idxDir = new java.io.File(
      Similarity.ivfIndexPath(sfDir) + "/index")
    val cellDirs = Option(idxDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length > 1, s"expected cell= partition dirs in $idxDir")
  }

  test("s21 clustered embeddings: nProbe = nList/16 holds recall >= 0.9 (the production shape, measured)") {
    // The driver fixture's embeddings are ISOTROPIC random, which
    // forces s21's default nProbe to 3/4 of nList — the one place the
    // "index prunes the candidate space" claim couldn't be MEASURED.
    // Production embedding models emit CLUSTERED vectors (semantic
    // neighborhoods); this fixture is that shape: a deterministic
    // 64-component mixture of Gaussians on the unit sphere in d=64
    // (centers near-orthogonal at this dim, sigma well under the
    // inter-center gap, ~312 points/cluster >> k). Same knnJoin plan,
    // same corpus size class as the sf1 record (n=20k, nList=142) —
    // only the probe count drops 12x (107 -> 8), and recall against
    // exact brute force must still clear the 0.9 bar.
    import org.apache.spark.sql.functions.col
    val n = 20000
    val dir = java.nio.file.Files.createTempDirectory("s21clustered").toString
    // the generator's first 20k vectors: the same rows at any larger n
    Similarity.clusteredEmbeddings(spark, n)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val nList = math.ceil(math.sqrt(n.toDouble)).toInt // 142, the sf1 class
    val nProbe = math.max(4, nList / 16)               // 8 — a 5.6% probe fraction
    val k = 10
    val ann = Similarity.knnJoin(spark, dir, k,
        precomputedN = Some(n.toLong), nProbeOverride = Some(nProbe))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact ground truth over a bounded audit sample of the probe set
    // (vec_id % 10 == 0), evenly strided across clusters
    val qids = (0 until 32).map(i => (i.toLong * (n / 10) / 32) * 10)
    val brute = Similarity.bruteTopKSet(spark, dir, qids, k)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val hits = brute.count(ann.contains)
    val recall = hits.toDouble / brute.length
    info(f"clustered s21: nList=$nList nProbe=$nProbe " +
      f"(${100.0 * nProbe / nList}%.1f%% of cells) recall@$k=$recall%.3f")
    assert(nProbe * 8 <= nList, "probe fraction not actually small")
    assert(recall >= 0.9,
      f"clustered recall $recall%.3f < 0.9 at nProbe=$nProbe/$nList")
  }

  test("s22 rebuild-equivalence theorem: tombstone serve == physical rebuild, row for row") {
    // moved OUT of the gated query (round-9): it is a property of the
    // serve machinery (same stored centroids -> same probe cells, same
    // survivor candidate set, same float op order -> bit-identical
    // cosines), not of any particular corpus — so it belongs here, and
    // the s22 bench cell measures only the tombstone serve users run
    assert(Similarity.deleteRebuildEquivalence(
      spark, sfDir, nQueries = 5, k = 10, nList = 16, nProbe = 14),
      "tombstone serve diverged from the physical-rebuild serve")
  }

  test("s23 compaction: fold is lossless, tombstones gone, serve unchanged") {
    import org.apache.spark.sql.functions.col
    val (ann, equiv, complete, cleared) = Similarity.knnIvfCompacted(
      spark, sfDir, nQueries = 5, k = 10, nList = 16, nProbe = 14)
    assert(equiv, "post-compaction serve diverged from tombstone serve")
    assert(complete, "compacted index row count != survivor count")
    assert(cleared, "tombstone table still present after compaction")
    // no deleted id is served, and the v2 layout contains none at all
    val served = ann.select(col("nid")).collect().map(_.getLong(0))
    assert(served.forall(_ % 7 != 0), "a deleted id was served post-compaction")
    val v2 = spark.read.parquet(
      Similarity.ivfIndexPath(sfDir) + "_compact/v2/index")
    assert(v2.filter(col("nid") % 7 === 0).count() == 0L,
      "compacted index retains deleted rows")
  }

  test("s20: the decontamination flag is non-vacuous and agrees with a driver recompute") {
    val rows = Similarity.all.find(_.name == "s20_eval_decontam").get
      .fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // both classes must be live, or the gate proves nothing about the flag
    assert(rows.exists(_._4 == 1L), "no contaminated vectors — vacuous gate")
    assert(rows.exists(_._4 == 0L), "everything contaminated — vacuous gate")
    // flag/hits/max are mutually consistent on every row
    rows.foreach { case (id, mc, hits, flag) =>
      assert((flag == 1L) == (mc >= 0.35), s"vec $id flag vs max_cos $mc")
      assert((hits > 0) == (flag == 1L), s"vec $id hits $hits vs flag $flag")
    }
    // driver recompute of one contaminated row's max cosine
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val evs = e.filter(_._1 < 20).values.toSeq
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val (cid, cmc, _, _) = rows.find(_._4 == 1L).get
    val want = evs.map(ev => cosD(ev, e(cid))).max
    assert(math.abs(cmc - want) < 1e-6, s"vec $cid max_cos $cmc vs $want")
  }
}
