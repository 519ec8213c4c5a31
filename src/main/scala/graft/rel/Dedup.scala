package graft.rel

import graft.core.Overlap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines —
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine
  * near-dup, all over the `documents` / `embeddings` tables.
  *
  * Scale posture (100 TB): every variant avoids the quadratic
  * all-pairs comparison. Exact dedup is one hash-aggregate shuffle on a
  * 128-bit digest (never on the full text). Near-dup variants shuffle
  * on *shingles/bands/buckets* so only colliding candidates are joined;
  * the candidate→verify funnel is the standard MinHash-LSH design
  * (Broder 1997; Leskovec et al., "Mining of Massive Datasets" ch. 3).
  */
object Dedup {

  /** Word 5-gram shingles of one text, distinct, as strings. Matches
    * the DuckDB oracle expression `list_transform(generate_series(...),
    * i -> array_to_string(w[i:i+4], ' '))` exactly (split keeps empty
    * tokens, 1-based, tail-clamped). Computed in a tight per-record
    * loop — no catalyst lambda chain, no explode shuffle. */
  private[rel] def shingleSet(text: String): Array[String] = {
    val w = text.split(" ", -1)
    val n = math.max(w.length - 4, 1)
    val seen = new java.util.LinkedHashSet[String](n * 2)
    var i = 0
    while (i < n) {
      val end = math.min(i + 5, w.length)
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(w(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  private val shingleOracleCte =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(w) - 4, 1)),
      |                          i -> array_to_string(w[i:i+4], ' '))) AS sh
      |  FROM toks
      |)""".stripMargin

  /** exact |A∩B| counting via shingle-bucket grouping: group the
    * (shingle, doc) stream by shingle, DROP singleton shingles (they
    * cannot form a pair — the overwhelming majority in real corpora),
    * and emit in-bucket pairs from each survivor. One aggregate over
    * the shingle stream instead of a materialized self-join; cost
    * scales with actual collisions. Jaccard from integer counts —
    * exact rational arithmetic in double, bit-identical across
    * engines. Per-doc set sizes ride along in a narrow map; they're
    * broadcast here because the pair set is tiny (at cluster scale the
    * same two lookups become shuffle joins on da/db). */
  private def jaccardPairs(spark: SparkSession, docs: DataFrame,
      threshold: Double): DataFrame = {
    import spark.implicits._
    // NULL text carries no shingles and can pair with nothing — drop
    // it BEFORE the typed deserializer (a null String would NPE in
    // shingleSet; the column-based variants d01/d12/d15 handle the
    // same rows via SQL null semantics, so the typed paths must not
    // crash on them either)
    val idText = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val sh = idText.flatMap { case (id, t) =>
      shingleSet(t).iterator.map(s => (s, id))
    }.toDF("sh", "doc_id")
    val common = sh.groupBy("sh")
      .agg(boundedIdCollect("shingle",
        "df-cap hot shingles (or raise MaxBucketDocs) before pair generation")
        (col("doc_id")).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(pairsOfIds(col("ids"))).as("p"))
      .groupBy(col("p._1").as("da"), col("p._2").as("db"))
      .agg(count(lit(1)).as("common"))
    // per-doc set sizes come from a SECOND narrow scan on purpose:
    // both plan branches would re-run the shingling either way (shared
    // lineage is not materialized), and re-scanning (doc_id, text) is
    // far cheaper at scale than caching the exploded shingle stream
    val counts = idText.map { case (id, t) => (id, shingleSet(t).length) }
      .toDF("doc_id", "n")
    common
      .join(broadcast(counts.as("ca")), col("da") === col("ca.doc_id"))
      .join(broadcast(counts.as("cb")), col("db") === col("cb.doc_id"))
      .select(col("da"), col("db"),
        (col("common").cast("double") /
          (col("ca.n") + col("cb.n") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Loud ceiling on in-bucket pair generation: a bucket of k docs
    * yields k(k−1)/2 pairs in one task, so a hot key (boilerplate
    * 5-gram shared by millions of docs) must fail with advice rather
    * than OOM-hang the executor. Production corpora handle this
    * upstream by document-frequency-capping shingles — the standard
    * near-dup practice — which does not change results for any pair
    * whose jaccard actually clears the threshold on the surviving
    * shingles. */
  val MaxBucketDocs = 4096

  /** collect_list(doc_id) with a FAIL-FAST ceiling: the require fires
    * DURING aggregation the moment any group crosses [[MaxBucketDocs]]
    * — a require inside a downstream UDF could only fire after the hot
    * bucket fully materialized (multi-GB for a boilerplate shingle
    * shared by 10⁸ docs), which is exactly the OOM the guard promises
    * to prevent. A TypedImperativeAggregate keeps the buffer as a live
    * JVM object between updates (no per-row serialization); kryo runs
    * only at the partial→final shuffle boundary, on buffers the
    * ceiling has already bounded. No extra pass — a pre-count guard
    * measured +50–80% on the whole dedup family. */
  private class BoundedIdCollect(what: String, advice: String)
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, scala.collection.mutable.ArrayBuffer[Long], Seq[Long]] {
    import scala.collection.mutable.ArrayBuffer
    private def check(b: ArrayBuffer[Long]): ArrayBuffer[Long] = {
      require(b.length <= MaxBucketDocs,
        s"$what bucket exceeds $MaxBucketDocs docs — $advice")
      b
    }
    def zero: ArrayBuffer[Long] = ArrayBuffer.empty[Long]
    def reduce(b: ArrayBuffer[Long], a: Long): ArrayBuffer[Long] =
      check(b += a)
    def merge(b1: ArrayBuffer[Long], b2: ArrayBuffer[Long]): ArrayBuffer[Long] =
      check(b1 ++= b2)
    def finish(r: ArrayBuffer[Long]): Seq[Long] = r.toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[ArrayBuffer[Long]] =
      org.apache.spark.sql.Encoders.kryo[ArrayBuffer[Long]]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  private def boundedIdCollect(what: String, advice: String) =
    udaf(new BoundedIdCollect(what, advice))

  /** all ordered (lo, hi) pairs from a doc-id bucket */
  private val pairsOfIds = udf { (ids: Seq[Long]) =>
    require(ids.length <= MaxBucketDocs,
      s"shingle/LSH bucket of ${ids.length} docs exceeds $MaxBucketDocs — " +
        "df-cap hot shingles (or raise MaxBucketDocs) before pair generation")
    val s = ids.sorted
    val out = Array.newBuilder[(Long, Long)]
    var i = 0
    while (i < s.length) {
      var j = i + 1
      while (j < s.length) {
        if (s(i) != s(j)) out += ((s(i), s(j)))
        j += 1
      }
      i += 1
    }
    out.result()
  }

  // ---- MinHash ----------------------------------------------------------

  /** 64 universal-hash permutations h_i(x) = (a_i·x + b_i) mod p over a
    * 64-bit shingle fingerprint; deterministic coefficients from a
    * splitmix-style generator so signatures are reproducible. */
  val MinhashK = 64
  val MinhashBands = 16 // 16 bands × 4 rows: catches jaccard ≳ 0.5
  private val MersennePrime = (1L << 61) - 1

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private[rel] val hashCoeffs: Array[(Long, Long)] =
    Array.tabulate(MinhashK) { i =>
      val a = (mix64(2L * i) & Long.MaxValue) % (MersennePrime - 1) + 1
      val b = (mix64(2L * i + 1) & Long.MaxValue) % MersennePrime
      (a, b)
    }

  /** FNV-1a 64-bit over UTF-8 bytes — stable shingle fingerprint. */
  private[rel] def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }

  private[rel] def minhashSignature(shingleHashes: Iterator[Long]): Array[Long] = {
    val sig = Array.fill(MinhashK)(Long.MaxValue)
    shingleHashes.foreach { x0 =>
      val x = x0 & Long.MaxValue
      var i = 0
      while (i < MinhashK) {
        val (a, b) = hashCoeffs(i)
        // (a*x + b) mod p via Math.multiplyHigh-free modmul on 61-bit prime
        val hv = modMul(a, x % MersennePrime) + b
        val h = if (hv >= MersennePrime) hv - MersennePrime else hv
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** (a*b) mod 2^61-1 without overflow, using 128-bit via Math.multiplyHigh. */
  private def modMul(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // fold 128-bit product mod 2^61-1: (hi*2^64 + lo) = hi*8*(2^61) + lo
    val part = ((hi << 3) | (lo >>> 61)) + (lo & MersennePrime)
    val r = (part & MersennePrime) + (part >>> 61)
    if (r >= MersennePrime) r - MersennePrime else r
  }

  /** doc_id → minhash signature, one narrow pass over (doc_id, text):
    * shingling, hashing, and the K-lane min all happen in a tight
    * per-record loop — no explode, no shuffle, no string aggregation.
    * This is the 100 TB shape: signature cost is a single scan. */
  def minhashSignatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // NULL-text rows have no shingles: excluded, not NPE'd (see
    // jaccardPairs)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        (id, minhashSignature(shingleSet(t).iterator.map(fnv1a64)))
      })
      .toDF("doc_id", "sig")
  }

  /** deterministic 64-bit bucket id for one band of a signature */
  private[rel] def bandBucket(sig: Array[Long], band: Int, rowsPerBand: Int): Long = {
    var h = mix64(band.toLong + 0x51ed2701)
    var i = band * rowsPerBand
    val end = i + rowsPerBand
    while (i < end) { h = mix64(h ^ sig(i)); i += 1 }
    h
  }

  /** LSH banding: candidate pairs share at least one (band, band-hash)
    * bucket. Buckets are grouped (one aggregate keyed on the bucket id,
    * so cost scales with collisions, not n²) and in-bucket pairs
    * emitted from each multi-doc bucket. Candidates — tiny by
    * construction — are then broadcast against the documents to fetch
    * both texts and verified with exact Jaccard computed per pair in a
    * compiled loop, which never touches a materialized shingle table. */
  /** LSH candidate pairs with both texts fetched — the shared head of
    * [[minhashNearDup]] and [[minhashEstimateContract]]: banding over
    * one signature scan, bucket-grouped pair generation, then the
    * candidate set (tiny by construction) broadcast against the
    * streamed document table twice. Returns (da, db, text_a, text_b).
    */
  private def lshCandidatesWithTexts(spark: SparkSession,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    val rowsPerBand = MinhashK / MinhashBands
    val nBands = MinhashBands
    val candidates = minhashSignatures(spark, docs)
      .as[(Long, Array[Long])]
      .flatMap { case (id, sig) =>
        (0 until nBands).iterator.map(b => (bandBucket(sig, b, rowsPerBand), id))
      }
      .toDF("bucket", "doc_id")
      .groupBy("bucket")
      .agg(boundedIdCollect("LSH band",
        "df-cap hot shingles (or raise MaxBucketDocs) before pair generation")
        (col("doc_id")).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(pairsOfIds(col("ids"))).as("p"))
      .select(col("p._1").as("da"), col("p._2").as("db"))
      .distinct()
      // tiny by construction, but referenced by TWO broadcast joins
      // below — materialize once so the signature scan + bucket
      // aggregate don't run once per broadcast subtree
      .transform(Lineage.cut)
    val texts = docs.select(col("doc_id"), col("text"))
    // candidates stay the broadcast side of both text fetches: the big
    // document table is only ever streamed, never shuffled
    val withTa = texts.as("ta")
      .join(broadcast(candidates), col("da") === col("ta.doc_id"))
      .select(col("da"), col("db"), col("ta.text").as("text_a"))
    texts.as("tb")
      .join(broadcast(withTa), col("db") === col("tb.doc_id"))
      .select(col("da"), col("db"), col("text_a"),
        col("tb.text").as("text_b"))
  }

  private[rel] def exactJaccard(ta: String, tb: String): Double = {
    val a = shingleSet(ta)
    val bSet = new java.util.HashSet[String]()
    shingleSet(tb).foreach(bSet.add)
    var common = 0
    a.foreach(s => if (bSet.contains(s)) common += 1)
    common.toDouble / (a.length + bSet.size - common)
  }

  def minhashNearDup(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    minhashNearDupPairs(spark, dir, threshold).orderBy("da", "db")

  /** [[minhashNearDup]] WITHOUT the presentation sort — the input the
    * clustering tier consumes (r15): connected components immediately
    * re-shuffles the pairs by node, so sorting them first was a wasted
    * range exchange + sort in every CC-family query (guide §2.4: an
    * orderBy used only to make output deterministic). d04 itself keeps
    * the sorted form. */
  private[rel] def minhashNearDupPairs(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val jaccardOfTexts = udf { (ta: String, tb: String) => exactJaccard(ta, tb) }
    lshCandidatesWithTexts(spark, Tables.documents(spark, dir))
      .select(col("da"), col("db"),
        jaccardOfTexts(col("text_a"), col("text_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Measured MinHash estimator-accuracy contract — the "sketch health
    * is measured, not assumed" pattern (q30's HLL audit, s02/s04/s05's
    * recall contracts) applied to the d04 signatures: over every LSH
    * candidate pair with exact Jaccard ≥ minJ, compare the K-lane
    * signature estimate (matching-lane fraction) with the exact
    * shingle Jaccard and fold pair count + mean/max absolute error
    * into a one-row contract. Estimator theory: each lane agrees with
    * probability J, so est − J has σ = √(J(1−J)/K) ≤ 0.0625 at
    * J ≥ 0.5, K = 64; the asserted bounds sit several σ out and held
    * with ≥2× margin at sf0.001, sf0.01, and the 10× replica. All
    * hashes are engine-deterministic, so the measured flags are
    * stable and the contract is hash-checkable as a literal SELECT.
    * Scale shape: identical to d04 (one signature scan, bucket-grouped
    * pairs, candidates broadcast, corpus only streamed) plus a
    * pair-local signature recompute — no extra corpus pass. */
  def minhashEstimateContract(spark: SparkSession, dir: String,
      minJ: Double, meanBound: Double, maxBound: Double): DataFrame = {
    val errOfTexts = udf { (ta: String, tb: String) =>
      val exact = exactJaccard(ta, tb)
      val sa = minhashSignature(shingleSet(ta).iterator.map(fnv1a64))
      val sb = minhashSignature(shingleSet(tb).iterator.map(fnv1a64))
      var m = 0
      var i = 0
      while (i < MinhashK) { if (sa(i) == sb(i)) m += 1; i += 1 }
      (exact, math.abs(m.toDouble / MinhashK - exact))
    }
    // NOTE the e._1 filter below the projection does get pushed and
    // textually duplicates the UDF in the plan, but codegen
    // subexpression elimination evaluates the deterministic UDF once
    // per row — an asNondeterministic marker was measured and bought
    // nothing, so the plan is left alone.
    lshCandidatesWithTexts(spark, Tables.documents(spark, dir))
      .select(errOfTexts(col("text_a"), col("text_b")).as("e"))
      .filter(col("e._1") >= minJ)
      .agg(
        (count(lit(1)) >= 1L).cast("long").as("pairs_ok"),
        (avg(col("e._2")) <= meanBound).cast("long").as("mean_err_ok"),
        (max(col("e._2")) <= maxBound).cast("long").as("max_err_ok"))
  }

  /** Incremental batch-vs-corpus NEAR-dup — the LSH analogue of
    * d12/d15's exact-digest incrementals, i.e. the pass a continuously
    * ingesting pipeline actually runs on every arriving batch: "which
    * of these new documents near-duplicate something we already hold?"
    *
    * Scale shape (the whole point vs re-running d04 on corpus+batch):
    * the corpus's banded MinHash index is stored state in production
    * (recomputed here from the split); the BATCH is small by
    * definition, so its band table BROADCASTS, the corpus index is
    * pruned to the batch's buckets by a broadcast semi-join BEFORE
    * anything groups, and candidate pairs are batch×corpus only —
    * corpus×corpus pairs never form and nothing corpus-sized ever
    * shuffles. The pruned sliver buckets through the same fail-fast
    * bounded collect as d03/d04 (a boilerplate band hot enough to
    * blow the pair count fails loudly with advice, never OOMs).
    * Candidates verify with EXACT Jaccard (the d04 discipline), so
    * the output equals the exact cross-split ground truth. Every
    * batch doc stays under the gate — (doc_id, n_corpus_neardups,
    * keep) — so a pair-free corpus cannot green-wash a broken index.
    */
  def incrementalNearDup(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val isBatch = col("doc_id") % 10 >= 8
    val rowsPerBand = MinhashK / MinhashBands
    def bands(d: DataFrame): DataFrame =
      minhashSignatures(spark, d).as[(Long, Array[Long])]
        .flatMap { case (id, sig) =>
          (0 until MinhashBands).iterator
            .map(b => (bandBucket(sig, b, rowsPerBand), id))
        }.toDF("bucket", "doc_id")
    // batch-sized by definition; consumed by two broadcasts below
    val batchBands = Lineage.cut(bands(docs.filter(isBatch)))
    val corpusSliver = bands(docs.filter(!isBatch))
      .join(broadcast(batchBands.select("bucket").distinct()),
        Seq("bucket"), "left_semi")
    val pairs = corpusSliver.groupBy("bucket")
      .agg(boundedIdCollect("incremental LSH band",
        "df-cap hot shingles (or raise MaxBucketDocs) before pair generation")
        (col("doc_id")).as("corpus_ids"))
      .join(broadcast(batchBands), Seq("bucket"))
      .select(explode(col("corpus_ids")).as("da"), col("doc_id").as("db"))
      .distinct()
      // tiny by construction; referenced by two broadcast text fetches
      .transform(Lineage.cut)
    val jaccardOfTexts = udf { (ta: String, tb: String) => exactJaccard(ta, tb) }
    val texts = docs.select(col("doc_id"), col("text"))
    val withTa = texts.as("ta")
      .join(broadcast(pairs), col("da") === col("ta.doc_id"))
      .select(col("da"), col("db"), col("ta.text").as("text_a"))
    val matches = texts.as("tb")
      .join(broadcast(withTa), col("db") === col("tb.doc_id"))
      .filter(jaccardOfTexts(col("text_a"), col("tb.text")) >= threshold)
      .groupBy(col("db").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
    docs.filter(isBatch).select("doc_id")
      .join(broadcast(matches), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_corpus_neardups"))
      .withColumn("keep", (col("n_corpus_neardups") === 0L).cast("bigint"))
      .orderBy("doc_id")
  }

  // ---- SimHash ----------------------------------------------------------

  /** First 8 bytes of md5(UTF-8) as a big-endian long — the simhash
    * word hash. md5 (not fnv) so the DuckDB oracle can recompute the
    * identical bits (`('0x' || substr(md5(w),1,16))::UBIGINT`); ~3×
    * the cost of fnv per token, still far below the per-token shuffle
    * anything non-fused would pay. Digest instance is thread-local —
    * one allocation per executor thread, not per token. */
  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))
  private[rel] def md5Hash64(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  private val HexChars = "0123456789abcdef".toCharArray
  /** Lowercase-hex md5 of the UTF-8 bytes — bit-identical to DuckDB's
    * `md5(s)` so chunk digests computed row-side (d18) compare equal
    * to oracle-side digests without ever shipping the chunk text. */
  private[rel] def md5Hex(s: String): String = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Content-defined chunking over the token stream (the
    * rolling-hash boundary idea of Rabin/FastCDC applied at word
    * granularity): a chunk ends AT every token whose hash ≡ 0 mod 8
    * (expected chunk length 8 tokens), so chunk boundaries depend
    * only on LOCAL content — an insertion early in a document shifts
    * byte offsets but re-synchronizes the chunking within one chunk,
    * which is why CDC dedup catches shared passages that fixed-width
    * blocking misses. Returns (chunk_idx, md5-hex digest) per chunk;
    * the boundary hash `(md5Hash64(t) >>> 32) % 8` is the first 4
    * md5 bytes unsigned — the DuckDB-recomputable t23 convention.
    * Runs per row in one compiled pass: the corpus never explodes
    * into (doc, token) rows and only 16-byte digests ever shuffle. */
  private[rel] def cdcChunkDigests(text: String): Seq[(Int, String)] = {
    val out = Seq.newBuilder[(Int, String)]
    val sb = new java.lang.StringBuilder
    var idx = 0
    var i = 0
    val n = text.length
    while (i < n) {
      // manual split-on-' ' with empty-token skip = tokens() contract
      var j = text.indexOf(' ', i)
      if (j < 0) j = n
      if (j > i) {
        val tok = text.substring(i, j)
        if (sb.length > 0) sb.append(' ')
        sb.append(tok)
        if ((md5Hash64(tok) >>> 32) % 8 == 0) {
          out += ((idx, md5Hex(sb.toString)))
          idx += 1
          sb.setLength(0)
        }
      }
      i = j + 1
    }
    if (sb.length > 0) out += ((idx, md5Hex(sb.toString)))
    out.result()
  }

  /** 64-bit SimHash over word hashes (Charikar 2002): sign of the
    * per-bit weighted sum. Near-dups = small Hamming distance. */
  private[rel] def simhash64(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = md5Hash64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def simhashNearDup(spark: SparkSession, dir: String, maxHamming: Int): DataFrame = {
    // 4 x 16-bit blocks guarantee a shared block only for hamming <= 3
    // (pigeonhole); a larger radius would silently lose candidates
    require(maxHamming <= 3, s"4-block simhash supports maxHamming <= 3, got $maxHamming")
    import spark.implicits._
    // block on 4 × 16-bit chunks: hamming ≤ 3 guarantees one equal
    // chunk. Same bucket-group shape as minhash LSH — one aggregate
    // keyed on (block, chunk), in-bucket pairs from multi-doc buckets,
    // hamming verified inline (the signature rides along in the bucket).
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull) // no tokens -> excluded, not NPE'd
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val toks = t.split(' ').toSeq.filter(_.nonEmpty)
        // token-less docs carry no signal: simhash(∅) would be the
        // constant 0 and pair EVERY blank doc with every other — and
        // the oracle (which never materializes rows for them) agrees
        // they produce no pairs
        if (toks.isEmpty) Iterator.empty
        else Iterator.single((id, simhash64(toks)))
      })
      .flatMap { case (id, sim) =>
        (0 until 4).iterator.map { c =>
          ((c.toLong << 16) | ((sim >>> (c * 16)) & 0xffffL), id, sim)
        }
      }
      .toDF("bucket", "doc_id", "sim")
      .groupBy("bucket")
      .agg(collect_list(struct(col("doc_id"), col("sim"))).as("xs"))
      .where(size(col("xs")) > 1)
      .as[(Long, Seq[(Long, Long)])]
      .flatMap { case (_, xs) =>
        require(xs.length <= MaxBucketDocs,
          s"simhash chunk bucket of ${xs.length} docs exceeds $MaxBucketDocs")
        val s = xs.sortBy(_._1)
        for {
          i <- s.indices.iterator
          j <- (i + 1) until s.length
          h = java.lang.Long.bitCount(s(i)._2 ^ s(j)._2)
          if h <= maxHamming && s(i)._1 != s(j)._1
        } yield (s(i)._1, s(j)._1, h)
      }
      .toDF("da", "db", "h")
      .select(col("da"), col("db"), col("h").cast("long").as("hamming"))
      .distinct()
      .orderBy("da", "db")
  }

  /** DuckDB replica of the full simhash pipeline — md5-based word
    * hashes, per-bit majority, 16-bit-chunk blocking, Hamming verify —
    * so d05 is oracle-checked end to end, not rows-only. */
  private val simhashOracle =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS w
      |  FROM documents
      |), th AS (
      |  SELECT doc_id, ('0x' || substr(md5(w), 1, 16))::UBIGINT AS h FROM toks
      |), nn AS (
      |  SELECT doc_id, count(*) AS n FROM th GROUP BY 1
      |), bc AS (
      |  SELECT doc_id, b,
      |         count(*) FILTER (WHERE ((h >> b) & 1::UBIGINT) = 1::UBIGINT) AS cnt
      |  FROM th, (SELECT unnest(generate_series(0, 63)) AS b) bs
      |  GROUP BY 1, 2
      |), bits AS (
      |  SELECT bc.doc_id,
      |         list(CASE WHEN 2 * cnt > n THEN 1 ELSE 0 END ORDER BY b) AS bits
      |  FROM bc JOIN nn ON bc.doc_id = nn.doc_id GROUP BY 1
      |), chunks AS (
      |  SELECT doc_id, c,
      |         list_sum(list_transform(generate_series(1, 16),
      |                                 i -> bits[16 * c + i] * (1 << (i - 1)))) AS v
      |  FROM bits, (SELECT unnest(generate_series(0, 3)) AS c) cs
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
      |), ham AS (
      |  SELECT da, db,
      |         CAST(list_sum(list_transform(list_zip(a.bits, b.bits),
      |              x -> CASE WHEN x[1] != x[2] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
      |  FROM cand JOIN bits a ON da = a.doc_id JOIN bits b ON db = b.doc_id
      |)
      |SELECT da, db, hamming FROM ham WHERE hamming <= 3 ORDER BY da, db""".stripMargin

  // ---- SemDeDup (embedding-cluster dedup) --------------------------------

  /** Deterministic SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    * assign every vector to its nearest seed centroid (here: the
    * vectors with vec_id < K, standing in for k-means centroids — the
    * assignment/dedup machinery is identical), then inside each
    * cluster drop any vector that has a LOWER-id cluster-mate with
    * cosine ≥ τ. One narrow pass for assignment (centroids broadcast),
    * one shuffle keyed on the cluster id with in-bucket pair checks —
    * never an all-pairs join across clusters. At 100 TB, K scales with
    * the corpus so clusters stay bounded (the paper uses ~100k
    * clusters); the MaxBucketDocs guard fails loudly if they don't.
    */
  val SemdedupK = 16
  def semdedup(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    // COLUMN predicate, not a typed lambda: the lambda compiles to a
    // TypedFilter that deserializes every corpus row to keep K of them;
    // the column form pushes vec_id < K into the parquet scan
    val centroids = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < SemdedupK)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().sortBy(_._1)
      .map { case (cid, cv) =>
        var ss = 0.0; var i = 0
        while (i < cv.length) { ss += cv(i).toDouble * cv(i).toDouble; i += 1 }
        (cid, cv, math.sqrt(ss))
      }
    // ids not 0-based (or an empty table) would otherwise assign EVERY
    // vector the sentinel cluster -1 below — fail loudly instead
    require(centroids.nonEmpty,
      s"semdedup: no seed centroids (no vec_id < $SemdedupK in $dir)")
    val bc = spark.sparkContext.broadcast(centroids)
    // all double math is sequential (dot, then /(|a||b|)) — the exact
    // op order of the DuckDB list_sum oracle, so cosines match bitwise
    def assigned = e.mapPartitions { it =>
      val cents = bc.value
      it.map { case (id, v) =>
        var nv = 0.0
        var i = 0
        while (i < v.length) { nv += v(i).toDouble * v(i).toDouble; i += 1 }
        val normV = math.sqrt(nv)
        var bestC = -1L
        var bestCos = Double.NegativeInfinity
        cents.foreach { case (cid, cv, cn) =>
          var dot = 0.0
          var k = 0
          while (k < v.length) { dot += v(k).toDouble * cv(k).toDouble; k += 1 }
          val cos = dot / (normV * cn)
          if (cos > bestCos) { bestCos = cos; bestC = cid } // ties → first (min) cid
        }
        // a zero-norm vector scores NaN against every centroid and
        // would silently land in nonexistent cluster -1 (the oracle's
        // row_number path assigns a real cid — a hash divergence, not
        // an error). Out-of-domain input: fail loudly.
        require(bestC >= 0,
          s"semdedup: vector $id matched no centroid (zero-norm embedding?)")
        (id, bestC, v)
      }
    }
    // ONE aggregation: each cluster bucket holds all its vectors, so
    // the in-cluster pruning AND the final (vec, cluster, kept) rows
    // come out of the same pass — the assignment scan runs once and
    // there is no join at all
    assigned.toDF("vec_id", "cid", "v")
      .groupBy("cid").agg(collect_list(struct(col("vec_id"), col("v"))).as("xs"))
      .as[(Long, Seq[(Long, Array[Float])])]
      .flatMap { case (cid, xs) =>
        require(xs.length <= MaxBucketDocs,
          s"semdedup cluster $cid has ${xs.length} vectors > $MaxBucketDocs — raise K")
        val s = xs.sortBy(_._1).toArray
        val norms = s.map { case (_, v) =>
          var ss = 0.0; var i = 0
          while (i < v.length) { ss += v(i).toDouble * v(i).toDouble; i += 1 }
          math.sqrt(ss)
        }
        val dropped = new java.util.HashSet[Long]()
        var i = 0
        while (i < s.length) {
          var j = i + 1
          while (j < s.length) {
            var dot = 0.0
            var k = 0
            while (k < s(i)._2.length) {
              dot += s(i)._2(k).toDouble * s(j)._2(k).toDouble; k += 1
            }
            if (dot / (norms(i) * norms(j)) >= threshold)
              dropped.add(s(j)._1) // the higher id of the pair is the drop
            j += 1
          }
          i += 1
        }
        s.iterator.map { case (id, _) =>
          (id, cid, if (dropped.contains(id)) 0 else 1)
        }
      }
      .toDF("vec_id", "cluster_id", "kept")
      .orderBy("vec_id")
  }

  // the one canonical DuckDB cosine text — its accumulation order is
  // the bit-parity contract every embedding oracle replays
  private val cosSql: (String, String) => String = Similarity.cosineSql

  private val semdedupOracle =
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < $SemdedupK),
       |scored AS (
       |  SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.cemb")} AS cos
       |  FROM embeddings e CROSS JOIN c
       |), asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
       |    FROM scored) WHERE rk = 1
       |), pairs AS (
       |  SELECT b.vec_id AS vb
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id
       |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.4
       |), dropped AS (SELECT DISTINCT vb FROM pairs)
       |SELECT a.vec_id, a.cid AS cluster_id,
       |  CASE WHEN d.vb IS NULL THEN 1 ELSE 0 END AS kept
       |FROM asg a LEFT JOIN dropped d ON a.vec_id = d.vb
       |ORDER BY a.vec_id""".stripMargin

  // ---- declared queries ---------------------------------------------------

  /** decontamination n-gram length (word-level). Real pipelines use
    * 8–13; 5 keeps the planted near-dups of the synthetic corpus
    * detectable. Declared BEFORE `all`: the oracle SQL interpolates it
    * at object init. */
  val DecontamN = 5

  /** substring-dedup window, in tokens (Lee et al. 2021 use 50 BPE
    * tokens; 8 words keeps the synthetic corpus's planted near-dups
    * detectable at these doc lengths). */
  val SpanW = 8

  /** Exact substring-span dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", word-window form):
    * a position is duplicated when its [[SpanW]]-token window occurs
    * ≥2 times anywhere in the corpus (other docs or the same doc);
    * per doc, duplicated positions merge into maximal removal spans
    * (interval union of [p, p+W-1]) — the spans a substring-dedup
    * pass would cut, reported with their token coverage.
    *
    * Scale shape: positional windows shuffle as md5 digests (16 B,
    * never text) into ONE count aggregate; the duplicated-gram set
    * (true duplication is corpus-small) broadcasts back against the
    * positions; span merging is a compiled per-doc pass over that
    * doc's duplicated positions only — the corpus never self-joins.
    * The suffix-array of the paper is the single-machine tool for the
    * same predicate; fixed-width windows are its shuffle-friendly
    * distributed form. */
  def substringSpansOn(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val w = filter(split(col("text"), " "), t => length(t) > 0)
    val toks = docs.select(col("doc_id"), w.as("w"))
    val base = toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
    // 64-bit digest prefix: at any realistic dedup scale a birthday
    // collision on 16 hex chars is ~n²/2⁶⁵ — negligible — and the
    // shuffled key halves vs the full md5 string
    val grams = toks.filter(size(col("w")) >= SpanW)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - (SpanW - 1)),
        i => struct(i.as("p"),
          substring(md5(array_join(slice(col("w"), i, lit(SpanW)), " ")), 1, 16)
            .as("h"))))
        .as("g"))
      .select(col("doc_id"), col("g.p").as("p"), col("g.h").as("h"))
      .cache()
    val dups = grams.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    // materialize the (corpus-small) duplicated positions eagerly so
    // the big gram cache can be released HERE — without this the
    // full positional explode stays pinned in executor memory for the
    // session's lifetime (Verify / interactive use; Bench clears
    // caches between queries anyway)
    val dupPositions = grams.join(broadcast(dups), Seq("h"))
      .select(col("doc_id"), col("p")).transform(Lineage.cut)
    // release only when the cut above actually materialized: in nocut
    // (plan-audit) mode nothing has run yet, and unpersisting here
    // would recompute the full positional explode for both consumers
    // if the audited plan were ever executed
    if (Lineage.cutsEnabled) grams.unpersist()
    val perDoc = dupPositions.as[(Long, Int)]
      .groupByKey(_._1)
      .mapGroups { (d, it) =>
        // interval union of same-width windows: positions are distinct
        // and sorted, so a window extends the current span iff its
        // start is within W of the previous start (≡ start ≤ end + 1)
        val ps = it.map(_._2).toArray.sorted
        var spans = 0L; var covered = 0L
        var start = -1; var end = -1
        ps.foreach { p =>
          if (start < 0) { start = p; end = p + SpanW - 1; spans = 1 }
          else if (p <= end + 1) end = p + SpanW - 1
          else {
            covered += end - start + 1
            start = p; end = p + SpanW - 1; spans += 1
          }
        }
        if (start >= 0) covered += end - start + 1
        (d, ps.length.toLong, spans, covered)
      }
      .toDF("doc_id", "n_dup_grams", "n_spans", "tokens_covered")
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("tokens_covered"), lit(0L)).as("tokens_covered"),
        round(coalesce(col("tokens_covered"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Exact embedding-cosine near-dup — the quadratic ground-truth
    * variant (d04 LSH / d08 SemDeDup are the scale paths). The corpus
    * never collects to the driver whole: the broadcast side iterates
    * disjoint hash-assigned id-blocks of ~`spark.graft.d06.blockRows`
    * rows (~17 MB of 64-dim float32 at the default 65536), each
    * scanned against the full distributed corpus in a compiled loop
    * that skips ids ≤ the probe's — every pair lands exactly once, in
    * the block holding its larger id, so the pair set and each cosine
    * are bit-identical for ANY block count (spec-pinned). Block
    * membership is `xxhash64(vec_id) mod numBlocks`: uniform for any
    * id distribution (dense, strided, post-filter — an id-modulo
    * scheme degenerates when ids share a stride), so block sizes
    * concentrate tightly around blockRows; a pathological overload
    * fails loudly below instead of silently re-growing the driver
    * collect this exists to remove. Driver heap holds ONE block during
    * collection; completed blocks live in the block manager
    * (TorrentBroadcast, MEMORY_AND_DISK), so the aggregate broadcast
    * footprint across blocks is corpus-sized ON DISK while heap stays
    * block-bounded. Returns the block count alongside the frame for
    * the spec.
    *
    * Build cost: one count + one filtered scan per block (O(numBlocks)
    * driver-blocking jobs) — bounded by the query's own O(n²·d)
    * compute, which scans the corpus numBlocks times anyway. The
    * left-deep union collapses via Catalyst's CombineUnions.
    *
    * Total comparisons stay n²/2 — inherent to the exact predicate;
    * what tiling buys is that no single allocation anywhere scales
    * with the corpus. */
  private[rel] def embeddingNearDupBlocked(s: SparkSession, d: String,
      threshold: Double): (DataFrame, Int) = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val blockRows =
      s.conf.getOption("spark.graft.d06.blockRows").getOrElse("65536").toInt
    require(blockRows > 0, s"blockRows must be positive, got $blockRows")
    val n = e.count()
    val numBlocks = math.max(1L, (n + blockRows - 1) / blockRows).toInt
    val perBlock = (0 until numBlocks).map { b =>
      val block = e.filter(pmod(xxhash64(col("vec_id")), lit(numBlocks)) === b)
        .as[(Long, Array[Float])]
        .collect().sortBy(_._1)
      // multinomial concentration puts hash-uniform block sizes within
      // a few percent of blockRows; 4× means something is wrong
      // (duplicate vec_ids?) — fail before the broadcast, loudly
      require(numBlocks == 1 || block.length <= 4L * blockRows + 64,
        s"d06 block $b holds ${block.length} rows (bound ${4L * blockRows + 64}): " +
          "hash-uniform assignment should concentrate tightly — check " +
          "vec_id for mass duplication, or raise spark.graft.d06.blockRows")
      val norms = block.map { case (_, v) =>
        var ss = 0.0; var i = 0
        while (i < v.length) { ss += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(ss)
      }
      val bc = s.sparkContext.broadcast((block, norms))
      e.mapPartitions { rows =>
        val (corp, ns) = bc.value
        val ids = corp.map(_._1)
        rows.flatMap { case (ida, va) =>
          var na = 0.0
          var i = 0
          while (i < va.length) { na += va(i).toDouble * va(i).toDouble; i += 1 }
          val normA = math.sqrt(na)
          // scan only this block's ids strictly above the probe's
          val start = java.util.Arrays.binarySearch(ids, ida + 1) match {
            case neg if neg < 0 => -neg - 1
            case pos => pos
          }
          (start until corp.length).iterator.flatMap { j =>
            val vb = corp(j)._2
            var dot = 0.0
            var k = 0
            while (k < va.length) { dot += va(k).toDouble * vb(k).toDouble; k += 1 }
            val c = dot / (normA * ns(j))
            if (c >= threshold) Iterator.single((ida, corp(j)._1, c))
            else Iterator.empty
          }
        }
      }
    }
    val pairs = perBlock.reduce(_ union _)
    (pairs.toDF("va", "vb", "c")
      .select(col("va"), col("vb"), round(col("c"), 6).as("cos"))
      .orderBy("va", "vb"), numBlocks)
  }

  /** d20 fixture geometry: every `D20Stride`-th embedding gains a
    * planted near-twin (same vector with dim 0 nudged by +0.05 —
    * cosine ≈ 0.999 against its source on this corpus, where the max
    * UNplanted pairwise cosine measures 0.479). At `D20Threshold` =
    * 0.9 the true near-dup pair set of the augmented corpus is
    * therefore EXACTLY the planted (id, id + D20SiblingOffset) pairs:
    * the oracle knows `planted_pairs` from SQL alone, and recall /
    * purity become measurable one-row contract booleans. The nudge is
    * deliberate — an exact scaled copy would make blocked recall a
    * THEOREM (identical direction ⟹ identical cells) and the contract
    * vacuous; the perturbed twin keeps "do near-identical vectors land
    * in a shared cell" a genuine measurement. */
  private[rel] val D20SiblingOffset = 1000000L
  private[rel] val D20Stride = 5L
  private[rel] val D20Threshold = 0.9

  /** The augmented d20 corpus: embeddings ∪ planted near-twins. */
  private[rel] def d20Corpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    val twins = e.filter(col("vec_id") % D20Stride === 0)
      .map { case (id, v) =>
        val w = v.clone()
        w(0) = (w(0).toDouble + 0.05).toFloat
        (id + D20SiblingOffset, w)
      }
    e.union(twins).toDF("vec_id", "embedding")
  }

  /** IVF-blocked embedding near-dup — the subquadratic scale path
    * beside d06's exact all-pairs ground truth. d06 proves the
    * predicate; this proves the 100 TB plan: train √n k-means cells on
    * a bounded deterministic sample, assign every vector to its
    * `nAssign` nearest cells (multi-assignment buys boundary recall
    * the same way IVF multi-probe does on the query side), generate
    * candidate pairs only WITHIN a cell, then exact-cosine-verify.
    * Comparison count drops from n²/2 to Σ_cells m(m−1)/2 ≈
    * n²·nAssign²/(2·nList) — O(n^1.5) at nList = √n — and it's
    * MEASURED here, not argued: the contract asserts the win against
    * the quadratic count alongside recall over the planted pairs.
    * Verification is exact cosine, so precision is 1 by construction;
    * recall is where blocking can lose, which is exactly what the
    * contract measures. Per-cell state is loudly bounded (the
    * MaxBucketDocs discipline): k-means on this corpus concentrates
    * cell sizes near 2n/nList, and a pathological hot cell must fail
    * with advice, not OOM an executor.
    *
    * Returns the raw one-row measurement frame; the registry gates
    * [[ivfNearDupGate]]'s boolean projection. */
  private[rel] def ivfNearDupRaw(spark: SparkSession, dir: String,
      nAssign: Int = 2): DataFrame = {
    import spark.implicits._
    val aug = d20Corpus(spark, dir)
    // two bounded driver scalars: corpus size (sizes nList, the d06
    // count precedent) and the planted-pair count (analytic from the
    // stride — the oracle recomputes it from SQL)
    val hdr = aug.agg(count(lit(1)),
      sum(when(col("vec_id") >= D20SiblingOffset, 1L).otherwise(0L))).head()
    val n = hdr.getLong(0)
    val planted = if (hdr.isNullAt(1)) 0L else hdr.getLong(1)
    require(n > 0, "d20: embeddings corpus is empty")
    val nList = math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
    val centroids = Similarity.kmeansCentroids(
      Similarity.trainingSample(aug, 4096), nList, iters = 8)
    val bc = spark.sparkContext.broadcast(centroids)
    // assignment: ONE corpus pass, each row exploded to its nAssign
    // cells — the only corpus-sized shuffle in the plan (key = cell)
    val assigned = aug.as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          Similarity.nearestCells(Similarity.unit(v), bc.value, nAssign)
            .iterator.map(c => (c, id, v))
        }
      }
      .toDF("cell", "vec_id", "v")
      // read twice below (pair generation + comparison accounting) —
      // materialize once so assignment doesn't re-run per consumer
      .transform(Lineage.cut)
    // loud per-cell ceiling: generous (16× the balanced size) so only
    // a genuinely degenerate clustering trips it
    val cellCap = math.max(1024L, 16L * nAssign * n / nList)
    val pairs = assigned.as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val xs = it.toArray
        require(xs.length <= cellCap,
          s"d20 cell $cell holds ${xs.length} vectors (cap $cellCap) — " +
            "k-means degenerated; raise nList or inspect the embedding " +
            "distribution for mass duplication")
        val s = xs.sortBy(_._2)
        val norms = s.map { case (_, _, v) =>
          var ss = 0.0; var i = 0
          while (i < v.length) { ss += v(i).toDouble * v(i).toDouble; i += 1 }
          math.sqrt(ss)
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < s.length) {
          val va = s(i)._3
          var j = i + 1
          while (j < s.length) {
            val vb = s(j)._3
            var dot = 0.0
            var k = 0
            while (k < va.length) { dot += va(k).toDouble * vb(k).toDouble; k += 1 }
            val c = dot / (norms(i) * norms(j))
            if (c >= D20Threshold) out += ((s(i)._2, s(j)._2, c))
            j += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("va", "vb", "cos")
      // a pair sharing BOTH assigned cells is emitted twice with the
      // same compiled-loop cosine — bit-identical, so distinct dedups
      .distinct()
    // comparison accounting from cell sizes — integer-exact
    val cmp = assigned.groupBy("cell").agg(count(lit(1)).as("m"))
      .agg(sum(expr("m * (m - 1) div 2"))).as[Long].head()
    val quadratic = n * (n - 1) / 2
    val needed = math.ceil(0.9 * planted).toLong
    pairs.agg(
        count(lit(1)).as("found"),
        sum(when(col("vb") === col("va") + D20SiblingOffset, 1L)
          .otherwise(0L)).as("found_planted"),
        countDistinct(col("va"), col("vb")).as("found_distinct"))
      .select(
        lit(n).as("corpus_rows"),
        lit(planted).as("planted_pairs"),
        coalesce(col("found"), lit(0L)).as("found"),
        coalesce(col("found_planted"), lit(0L)).as("found_planted"),
        lit(cmp).as("comparisons"),
        lit(quadratic).as("quadratic_comparisons"),
        (coalesce(col("found_planted"), lit(0L)) >= needed)
          .cast("long").as("recall_ok"),
        (coalesce(col("found"), lit(0L)) ===
          coalesce(col("found_planted"), lit(0L)))
          .cast("long").as("all_planted_ok"),
        (coalesce(col("found_distinct"), lit(0L)) ===
          coalesce(col("found"), lit(0L))).cast("long").as("dedup_ok"),
        lit(if (cmp <= quadratic / 2) 1L else 0L).as("comparisons_win_ok"))
  }

  /** The registry projection of [[ivfNearDupRaw]]: SQL-derivable counts
    * plus measured booleans (raw found/comparisons counts are
    * blocking-dependent and spec-asserted, not oracled). */
  private def ivfNearDupGate(spark: SparkSession, dir: String): DataFrame =
    ivfNearDupRaw(spark, dir)
      .select("corpus_rows", "planted_pairs", "recall_ok",
        "all_planted_ok", "dedup_ok", "comparisons_win_ok")

  /** Minimum exact Jaccard for a pair to count as d21 ground truth.
    * The fixture's true near-dups all measure J ≥ 0.875; at J = 0.7
    * the 16-band/4-row banding catches a pair with probability
    * 1 − (1 − 0.7⁴)¹⁶ ≈ 0.988, so the measured full-band recall bound
    * of 0.9 holds with wide margin at every SF. */
  private[rel] val D21TruthJ = 0.7

  /** MinHash-LSH calibration ladder — the dedup-tier analog of s19's
    * IVF probe calibration: how much of the TRUE near-dup pair set
    * does the banding pass catch as the band budget grows? Ground
    * truth is the exact-Jaccard pair set at [[D21TruthJ]] from the
    * same shared-shingle bucket counting d03 gates (cost scales with
    * shingle collisions, never n²); the ladder evaluates PREFIXES of
    * the production 16-band scheme, so candidate sets are nested by
    * construction and recall is nondecreasing as a structural theorem
    * — the gate pins that the implementation preserves that nesting,
    * plus the measured full-band recall ≥ 0.9. Per-pair band collision
    * is computed from the two signatures directly (truth pairs are
    * broadcast against the signature frame twice, the
    * lshCandidatesWithTexts fetch shape) — no bucket table forms and
    * the corpus is only ever streamed. Raw hit counts ride the full
    * frame for the spec; the registry gates the boolean projection. */
  private[rel] def lshCalibrationRaw(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // r16 (guide §5 + §2.6): (a) the signature table feeds BOTH join
    // legs below ("sa" and "sb") — uncut, the corpus is tokenized and
    // minhashed TWICE inside the one measurement job; materialize it
    // once (corpus-bounded narrow rows: doc_id + 64-long sig).
    // (b) the exact-Jaccard ground truth and the signatures are
    // INDEPENDENT corpus passes — compute the two cuts concurrently so
    // the second job backfills the first's task tail. Both are
    // deterministic per doc, so results are bit-identical.
    val Seq(truth, sigs) = Overlap.all(Seq(
      () => jaccardPairs(spark, docs, D21TruthJ)
        .select("da", "db")
        // tiny by construction; feeds two broadcast joins
        .transform(Lineage.cut),
      () => Lineage.cut(minhashSignatures(spark, docs))))
    val withA = sigs.as("sa")
      .join(broadcast(truth), col("da") === col("sa.doc_id"))
      .select(col("da"), col("db"), col("sa.sig").as("siga"))
    val both = sigs.as("sb")
      .join(broadcast(withA), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"), col("siga"), col("sb.sig").as("sigb"))
    val rowsPerBand = MinhashK / MinhashBands
    val firstBand = both.as[(Long, Long, Array[Long], Array[Long])]
      .map { case (da, db, sa, sb) =>
        var fb = MinhashBands // sentinel: no band collides
        var b = 0
        while (b < MinhashBands && fb == MinhashBands) {
          if (bandBucket(sa, b, rowsPerBand) == bandBucket(sb, b, rowsPerBand))
            fb = b
          b += 1
        }
        (da, db, fb)
      }
      .toDF("da", "db", "first_band")
    val ladder = Seq(2, 4, 8, 16)
    val aggCols = ladder.map(p =>
      sum(when(col("first_band") < p, 1L).otherwise(0L)).as(s"h$p")) :+
      count(lit(1)).as("total")
    val r = firstBand.agg(aggCols.head, aggCols.tail: _*).head()
    val total = r.getLong(ladder.length)
    // an empty ground truth would make every recall boolean vacuously
    // green — out-of-domain fixture, fail loudly (semdedup precedent)
    require(total > 0,
      s"d21: no ground-truth pairs at J >= $D21TruthJ in $dir — " +
        "the calibration has nothing to measure")
    val hits = ladder.indices.map(r.getLong(_))
    val needed = math.ceil(0.9 * total).toLong
    val rows = ladder.zipWithIndex.map { case (b, i) =>
      val mono = i == 0 || hits(i) >= hits(i - 1)
      val fullOk = b != ladder.last || hits(i) >= needed
      (b.toLong, hits(i), total, mono, fullOk)
    }
    rows.toDF("bands", "hits", "total",
      "recall_nondecreasing", "full_band_recall_ok")
  }

  /** The registry projection of [[lshCalibrationRaw]]: theorem/measured
    * booleans only (hit counts are data-dependent and spec-asserted). */
  private def lshCalibrationGate(spark: SparkSession, dir: String): DataFrame =
    lshCalibrationRaw(spark, dir)
      .select(col("bands"),
        col("recall_nondecreasing").cast("long").as("recall_nondecreasing"),
        col("full_band_recall_ok").cast("long").as("full_band_recall_ok"))
      .orderBy("bands")

  val all: Seq[Q] = Seq(
    // Exact dedup via content digest: one hash-aggregate, keeps the
    // smallest doc_id per distinct text (deterministic survivor).
    Q("d01_dedup_exact",
      """SELECT md5(text) AS digest, min(doc_id) AS keeper, count(*) AS copies
        |FROM documents GROUP BY md5(text) ORDER BY digest""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(md5(col("text")).as("digest"))
          .agg(min("doc_id").as("keeper"), count(lit(1)).as("copies"))
          .orderBy("digest")
    },

    // Subset-key dedup (dropDuplicates semantics made deterministic).
    Q("d02_dedup_subset",
      """SELECT lang, source, min(doc_id) AS keeper, count(*) AS n
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d)
          .groupBy("lang", "source")
          .agg(min("doc_id").as("keeper"), count(lit(1)).as("n"))
          .orderBy("lang", "source")
    },

    // Exact n-gram Jaccard near-dup pairs (the ground truth the LSH
    // variants approximate).
    Q("d03_ngram_jaccard",
      shingleOracleCte +
        """, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |pairs AS (
          |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
          |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |SELECT da, db, common::DOUBLE / (ca.n + cb.n - common) AS jaccard
          |FROM pairs
          | JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
          |WHERE common::DOUBLE / (ca.n + cb.n - common) >= 0.8
          |ORDER BY da, db""".stripMargin) { (s, d) =>
      jaccardPairs(s, Tables.documents(s, d), 0.8).orderBy("da", "db")
    },

    // MinHash + LSH banding. Candidates are verified with EXACT
    // Jaccard, so the final answer must equal d03's — the same SQL
    // serves as the oracle. (Banding at 16×4 catches a j=0.857 pair
    // with miss probability ~4e-6; the spec additionally asserts exact
    // pair-set recovery against d03.)
    Q("d04_minhash_lsh",
      shingleOracleCte +
        """, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |pairs AS (
          |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
          |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |SELECT da, db, common::DOUBLE / (ca.n + cb.n - common) AS jaccard
          |FROM pairs
          | JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
          |WHERE common::DOUBLE / (ca.n + cb.n - common) >= 0.8
          |ORDER BY da, db""".stripMargin) { (s, d) => minhashNearDup(s, d, 0.8) },

    // SimHash near-dup — fully oracle-checked: DuckDB recomputes the
    // md5 word hashes, bit majorities, chunk blocking, and Hamming
    // verify, so candidate sets and distances must agree bit for bit.
    Q("d05_simhash", simhashOracle) { (s, d) => simhashNearDup(s, d, 3) },

    // Embedding-cosine near-dup: exact all-pairs at a threshold — the
    // ground-truth variant (the LSH paths d04/s02 are the scale path).
    // Tiled broadcast blocks (see embeddingNearDupBlocked): the corpus
    // never collects whole; norms precompute once per vector
    // (sequential double accumulation = the oracle's list_sum order,
    // bit-identical) and each partition scans its rows against the
    // block's higher ids in a compiled loop — no per-pair array
    // allocation, no catalyst lambda overhead.
    // Oracle shape: vectors cast to DOUBLE[] and norm'd ONCE per row
    // in a CTE, pairs priced with list_dot_product over the precast
    // lists — bit-identical to the lambda cosineSql form (verified:
    // identical pair set AND round-6 cosines, max unrounded |diff| 0.0
    // at sf0.1) but ~65× faster in DuckDB, because the per-pair cost
    // is a SIMD dot instead of an interpreted list_zip/list_transform
    // lambda. That retires the sf1 gate's --skip-oracle=d06: the
    // all-pairs ground truth itself was never the bottleneck, the
    // per-pair lambda interpretation was.
    Q("d06_embedding_neardup",
      """WITH ed AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_dot_product(embedding::DOUBLE[],
        |                          embedding::DOUBLE[])) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS va, b.vec_id AS vb,
        |  round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cos
        |FROM ed a JOIN ed b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= 0.4
        |ORDER BY va, vb""".stripMargin) { (s, d) =>
      embeddingNearDupBlocked(s, d, 0.4)._1
    },

    // SemDeDup: embedding-cluster dedup — nearest-centroid assignment
    // + in-cluster cosine pruning, fully oracle-checked.
    Q("d08_semdedup", semdedupOracle) { (s, d) => semdedup(s, d, 0.4) },

    // Benchmark decontamination: flag training documents sharing any
    // word n-gram with an evaluation set (the GPT-3/PaLM-style overlap
    // check; eval = doc_id < 20 here). Scale shape: the eval side is
    // benchmark-sized by definition — its distinct grams aggregate
    // small and BROADCAST; the training corpus streams through one
    // exploded pass and a broadcast semi-join, so nothing
    // corpus-sized ever shuffles. Per-doc hit counts shuffle only
    // matched (doc, gram) pairs.
    Q("d09_decontaminate",
      s"""WITH words AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, array_to_string(w[i:i+${DecontamN - 1}], ' ') AS g
         |  FROM words, unnest(range(1, len(w) - ${DecontamN - 2})) AS t(i)
         |  WHERE len(w) >= $DecontamN),
         |eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20)
         |SELECT g.doc_id, count(DISTINCT g.g) AS n_hits
         |FROM grams g JOIN eval_grams e USING (g)
         |WHERE g.doc_id >= 20
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val w = filter(split(col("text"), " "), t => length(t) > 0)
      val grams = Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) >= DecontamN)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("w")) - (DecontamN - 1)),
          i => array_join(slice(col("w"), i, lit(DecontamN)), " "))).as("g"))
      val evalGrams = grams.filter(col("doc_id") < 20).select("g").distinct()
      grams.filter(col("doc_id") >= 20)
        .join(broadcast(evalGrams), Seq("g"))
        .groupBy("doc_id")
        .agg(countDistinct(col("g")).as("n_hits"))
        .orderBy("doc_id")
    },

    // Edit-distance verification of the LSH near-dup pairs — the
    // second-stage filter real dedup pipelines run after candidate
    // generation (Jaccard is token-set; Levenshtein is positional, so
    // it catches reordered-token false "near-dups"). Scale shape: the
    // pair list is corpus-small by definition and BROADCASTS twice
    // against the streamed documents table to fetch both texts; the
    // O(len²) DP runs per pair, never per corpus row. Oracle replays
    // the exact-Jaccard pair predicate and DuckDB's levenshtein
    // (identical unit-cost DP).
    Q("d11_editdist_verify",
      shingleOracleCte +
        """, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |prs AS (
          |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
          |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2),
          |jp AS (
          |  SELECT da, db FROM prs
          |   JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
          |  WHERE common::DOUBLE / (ca.n + cb.n - common) >= 0.8)
          |SELECT jp.da, jp.db,
          |  levenshtein(a.text, b.text) AS edit_dist,
          |  round(1.0 - levenshtein(a.text, b.text)::DOUBLE /
          |    greatest(length(a.text), length(b.text)), 6) AS edit_sim
          |FROM jp JOIN documents a ON jp.da = a.doc_id
          |        JOIN documents b ON jp.db = b.doc_id
          |ORDER BY da, db""".stripMargin) { (s, d) =>
      val pairs = minhashNearDup(s, d, 0.8).select("da", "db")
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val withA = docs.join(broadcast(pairs), col("doc_id") === col("da"))
        .select(col("da"), col("db"), col("text").as("ta"))
      docs.join(broadcast(withA), col("doc_id") === col("db"))
        .select(col("da"), col("db"),
          levenshtein(col("ta"), col("text")).as("edit_dist"),
          round(lit(1.0) - levenshtein(col("ta"), col("text")).cast("double") /
            greatest(length(col("ta")), length(col("text"))), 6).as("edit_sim"))
        .orderBy("da", "db")
    },

    // Exact substring-span dedup (see substringSpansOn). Oracle
    // replays the positional windows and the interval union as
    // gaps-and-islands: a new island starts when the gap between
    // consecutive duplicated positions exceeds the window width.
    Q("d10_substring_spans",
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
         |  FROM documents),
         |base AS (SELECT doc_id, len(w) AS n_tokens FROM toks),
         |grams AS (
         |  SELECT doc_id, i AS p,
         |    substr(md5(array_to_string(w[i:i+${SpanW - 1}], ' ')), 1, 16) AS h
         |  FROM toks, unnest(range(1, len(w) - ${SpanW - 2})) AS t(i)
         |  WHERE len(w) >= $SpanW),
         |dups AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
         |dp AS (SELECT g.doc_id, g.p FROM grams g JOIN dups USING (h)),
         |isl AS (
         |  SELECT doc_id, p,
         |    sum(CASE WHEN p - prev > $SpanW THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY p) AS island
         |  FROM (SELECT doc_id, p,
         |          lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
         |        FROM dp)),
         |spans AS (
         |  SELECT doc_id, island, max(p) - min(p) + $SpanW AS cov,
         |         count(*) AS ng
         |  FROM isl GROUP BY doc_id, island),
         |agg AS (
         |  SELECT doc_id, sum(ng) AS n_dup_grams, count(*) AS n_spans,
         |         sum(cov) AS tokens_covered
         |  FROM spans GROUP BY doc_id)
         |SELECT b.doc_id, b.n_tokens,
         |  CAST(coalesce(a.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
         |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(a.tokens_covered, 0) AS BIGINT) AS tokens_covered,
         |  round(coalesce(a.tokens_covered, 0)::DOUBLE / b.n_tokens, 6) AS dup_frac
         |FROM base b LEFT JOIN agg a USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      substringSpansOn(s, Tables.documents(s, d))
    },

    // Incremental (batch-vs-corpus) dedup — how dedup actually runs in
    // production: yesterday's corpus is already deduped, today's batch
    // must be deduped BOTH within itself AND against the corpus,
    // without ever re-pairing the corpus with itself. Key = md5 of the
    // first-8-token prefix (head-fingerprint dedup — the cheap
    // boilerplate/mirror-head catcher; any digest scheme slots in).
    // The batch is the doc_id%10<2 slice, the corpus the rest. Scale
    // shape: the corpus side reduces to DISTINCT 16-byte digests (one
    // map-side-combined aggregate — text never shuffles) and the
    // surviving batch groups anti-join on the digest: at 100 TB both
    // sides shuffle digests only, and a q33-style Bloom of the batch
    // keys (batch ≪ corpus by definition) would pre-prune the corpus
    // scan — the join itself is the exact verify. Emits the kept batch
    // rows with their within-batch copy counts.
    Q("d12_incremental_dedup",
      """WITH p AS (
        |  SELECT doc_id,
        |    md5(array_to_string(
        |      list_filter(string_split(text, ' '), t -> length(t) > 0)[1:8],
        |      ' ')) AS dg
        |  FROM documents),
        |b AS (SELECT dg, min(doc_id) AS keeper, count(*) AS batch_copies
        |      FROM p WHERE doc_id % 10 < 2 GROUP BY dg)
        |SELECT b.dg AS digest, b.keeper, b.batch_copies FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM p c
        |                  WHERE c.doc_id % 10 >= 2 AND c.dg = b.dg)
        |ORDER BY digest""".stripMargin) { (s, d) =>
      val dg = md5(array_join(
        slice(filter(split(col("text"), " "), t => length(t) > 0), 1, 8),
        " ")).as("dg")
      val p = Tables.documents(s, d).select(col("doc_id"), dg)
      val batch = p.filter(col("doc_id") % 10 < 2)
        .groupBy("dg")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("batch_copies"))
      val corpus = p.filter(col("doc_id") % 10 >= 2).select("dg").distinct()
      batch.join(corpus, Seq("dg"), "left_anti")
        .select(col("dg").as("digest"), col("keeper"), col("batch_copies"))
        .orderBy("digest")
    },

    // MinHash estimator accuracy, measured every run (see
    // minhashEstimateContract): candidate pairs at exact J >= 0.5,
    // mean |est - J| <= 0.05 and max <= 0.3 (sigma <= 0.0625 at K=64).
    Q("d13_minhash_estimate",
      """SELECT CAST(1 AS BIGINT) AS pairs_ok,
        | CAST(1 AS BIGINT) AS mean_err_ok,
        | CAST(1 AS BIGINT) AS max_err_ok""".stripMargin) { (s, d) =>
      minhashEstimateContract(s, d, minJ = 0.5, meanBound = 0.05,
        maxBound = 0.3)
    },

    // Bloom-prefiltered incremental dedup — d12's semantics (keep batch
    // digests absent from the corpus) with the corpus-side scan
    // PRE-PRUNED by a Bloom filter of the batch keys, the scale upgrade
    // d12's own comment promised. The batch (≪ corpus by definition)
    // folds to ~KB of Bloom bits via one aggregate; the corpus then
    // sheds every digest that can't possibly collide in a NARROW scan —
    // at 100 TB only matches + fpp·misses of the corpus ever shuffle
    // into the anti-join, instead of every distinct corpus digest.
    // EXACTNESS is unconditional, not probabilistic: the anti-join only
    // consults corpus digests EQUAL to some batch digest, and Bloom
    // filters have no false negatives, so every consulted digest
    // survives the prune; false positives merely ride into the join and
    // lose there. Same-plan-different-split from d12 (batch = doc_id%10
    // >= 8 here) so the two registry entries gate different row sets.
    Q("d15_bloom_incremental",
      """WITH p AS (
        |  SELECT doc_id,
        |    md5(array_to_string(
        |      list_filter(string_split(text, ' '), t -> length(t) > 0)[1:8],
        |      ' ')) AS dg
        |  FROM documents),
        |b AS (SELECT dg, min(doc_id) AS keeper, count(*) AS batch_copies
        |      FROM p WHERE doc_id % 10 >= 8 GROUP BY dg)
        |SELECT b.dg AS digest, b.keeper, b.batch_copies FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM p c
        |                  WHERE c.doc_id % 10 < 8 AND c.dg = b.dg)
        |ORDER BY digest NULLS FIRST""".stripMargin) { (s, d) =>
      val dg = md5(array_join(
        slice(filter(split(col("text"), " "), t => length(t) > 0), 1, 8),
        " ")).as("dg")
      val p = Tables.documents(s, d).select(col("doc_id"), dg)
      // the batch aggregate is consumed THREE times (count for bloom
      // sizing, the bloom build, the anti-join) and each recompute is
      // a full corpus scan (the batch is a FILTER of documents) — cut
      // once; the materialized side is batch-sized by definition
      val batch = p.filter(col("doc_id") % 10 >= 8)
        .groupBy("dg")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("batch_copies"))
        .transform(Lineage.cut)
      // the Bloom build/probe ride Spark's NATIVE runtime-filter
      // expressions (bloom_filter_agg / might_contain), not a Scala
      // UDF: the probe codegens into the corpus scan's whole-stage
      // span. Sizing stays from the ACTUAL batch key count — the
      // count is a cached-RDD count on the already-cut batch (no
      // recompute), and it keeps the filter KBs instead of the
      // conf-default megabyte-per-task (a measured 2.7× on this
      // cell). NULL digests (a
      // NULL-text row) stay OUT of the bloom and OUT of the sliver on
      // both sides: SQL equality never matches NULL, so a NULL corpus
      // digest can't eliminate anything and a NULL batch digest
      // always survives the anti-join — exactly d12's semantics.
      // presentation order on a NULLABLE key must pin NULL placement
      // explicitly: Spark's orderBy is NULLS FIRST, DuckDB's is NULLS
      // LAST, so the oracle writes ORDER BY digest NULLS FIRST — both
      // engines then agree when a NULL-text batch row survives
      val nonNullBatch = batch.filter(col("dg").isNotNull)
      val bloomBits = ScaleOps.bloomBuild(nonNullBatch, col("dg"),
        math.max(1024L, nonNullBatch.count()))
      val corpusSliver = p.filter(col("doc_id") % 10 < 8)
        .filter(col("dg").isNotNull &&
          ScaleOps.bloomMightContain(bloomBits, col("dg")))
        .select("dg").distinct()
      batch.join(corpusSliver, Seq("dg"), "left_anti")
        .select(col("dg").as("digest"), col("keeper"), col("batch_copies"))
        .orderBy("digest")
    },

    // Incremental batch-vs-corpus NEAR-dup (see incrementalNearDup):
    // the LSH analogue of d12/d15's exact-digest incrementals. The
    // oracle is the exact cross-split shingle-Jaccard ground truth —
    // candidates are exact-verified, so LSH must recover precisely the
    // j >= 0.8 batch×corpus pairs (the d04 equivalence, restricted).
    Q("d16_incremental_neardup",
      shingleOracleCte +
        """, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |prs AS (
          |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
          |  FROM sh a JOIN sh b ON a.sh = b.sh
          |  WHERE a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
          |  GROUP BY 1, 2),
          |m AS (SELECT db, count(*) AS n_matches FROM prs
          |      JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
          |      WHERE common::DOUBLE / (ca.n + cb.n - common) >= 0.8
          |      GROUP BY 1)
          |SELECT d.doc_id,
          |  CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_corpus_neardups,
          |  CAST(coalesce(m.n_matches, 0) = 0 AS BIGINT) AS keep
          |FROM documents d LEFT JOIN m ON d.doc_id = m.db
          |WHERE d.doc_id % 10 >= 8 ORDER BY d.doc_id""".stripMargin) {
      (s, d) => incrementalNearDup(s, d, 0.8)
    },

    // Paragraph/passage-level dedup via content-defined chunking (the
    // CCNet paragraph-dedup stage generalized to corpora without
    // newline structure; see [[cdcChunkDigests]] for the boundary
    // rule). Keeper per distinct chunk = the globally smallest
    // (doc_id, chunk_idx) instance; output is the per-document yield
    // report (chunks kept/removed) a curation pipeline logs. Scale
    // shape: chunking + digesting fold into ONE compiled per-row pass
    // (no token explode, chunk text never leaves the row), the keeper
    // set is ONE digest-keyed aggregate whose map-side partial
    // pre-combines hot chunks (a boilerplate chunk repeated in every
    // document arrives pre-counted — no skewed window partition, the
    // reason this is groupBy(min(struct)) and NOT row_number over
    // digest), and the per-doc report is a second narrow aggregate of
    // the digest-table keepers — the corpus text itself never
    // shuffles anywhere.
    Q("d18_chunk_dedup",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '),
        |                             t -> length(t) > 0) AS w
        |  FROM documents),
        |tw AS (
        |  SELECT doc_id, i, w[i] AS tok,
        |    CASE WHEN ('0x' || substr(md5(w[i]), 1, 8))::BIGINT % 8 = 0
        |         THEN 1 ELSE 0 END AS bnd
        |  FROM toks, unnest(range(1, len(w) + 1)) AS t(i)),
        |cid AS (
        |  SELECT doc_id, i, tok,
        |    CAST(coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS chunk
        |  FROM tw),
        |ch AS (
        |  SELECT doc_id, chunk, md5(string_agg(tok, ' ' ORDER BY i)) AS dg
        |  FROM cid GROUP BY 1, 2),
        |r AS (
        |  SELECT doc_id, chunk,
        |    row_number() OVER (PARTITION BY dg ORDER BY doc_id, chunk) AS rn
        |  FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)
        |    AS kept_frac
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val chunks = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          cdcChunkDigests(t).map { case (i, dg) => (id, i, dg) } }
        .toDF("doc_id", "chunk_idx", "dg")
      // keeper = min (doc_id, chunk_idx) struct per digest; a doc's
      // kept-instance count = # digests whose keeper lies in it (the
      // min is unique, so within-doc repeats count once — exactly the
      // oracle's rn = 1 instances)
      val keepers = chunks.groupBy("dg")
        .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("k"))
      val keptPerDoc = keepers.groupBy(col("k.doc_id").as("doc_id"))
        .agg(count(lit(1)).as("kept"))
      val perDoc = chunks.groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"))
      perDoc.join(keptPerDoc, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("kept"), lit(0L)).as("n_kept"),
          (col("n_chunks") - coalesce(col("kept"), lit(0L)))
            .as("n_removed"),
          (coalesce(col("kept"), lit(0L)).cast("double")
            / col("n_chunks")).as("kept_frac"))
        .orderBy("doc_id")
    },

    // Canonical-URL dedup (the RefinedWeb/C4 first stage: normalize
    // the crawl URL, keep one fetch per canonical form — upstream of
    // every content-based dedup because it is free). URLs are
    // synthesized deterministically from doc_id with the mirror
    // variants real crawls contain — scheme http/https, www
    // subdomain, :80 port, tracking query, fragment, trailing slash —
    // all mapping to ONE canonical form per collision group
    // (doc_id % 97), so normalization is what creates the duplicate
    // classes. Canonicalization = lowercase, strip fragment → query →
    // scheme → port → www → trailing slash (that order: each step's
    // regex assumes the earlier strips). Scale shape: a pure narrow
    // projection (six codegen'd regexp_replace) and ONE aggregate
    // keyed on the normalized URL — for a 100 TB crawl this is the
    // cheapest dedup pass there is, and the keeper rides min() so no
    // self-join forms. No backreference regexes: Java ($1) and RE2
    // (\1) disagree on replacement syntax, so the port strip matches
    // ':digits/' literally (every synthesized URL keeps its path).
    Q("d19_url_dedup",
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
        |    || 'site' || ((doc_id % 97) % 13) || '.'
        |    || (['com', 'org', 'net'])[((doc_id % 97) % 3 + 1)::INT]
        |    || (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END)
        |    || '/p/' || (doc_id % 97)
        |    || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 11 = 0
        |        THEN '?utm_source=feed&utm_campaign=x' ELSE '' END)
        |    || (CASE WHEN doc_id % 13 = 0 THEN '#section-2' ELSE '' END)
        |      AS url
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(lower(url),
        |      '#.*$', ''), '\?.*$', ''), '^[a-z]+://', ''),
        |      ':[0-9]+/', '/'), '^www\.', ''), '/$', '') AS url_norm
        |  FROM u)
        |SELECT url_norm, min(doc_id) AS keeper, count(*) AS copies
        |FROM n GROUP BY url_norm ORDER BY url_norm""".stripMargin) {
      (s, d) =>
        val g = col("doc_id") % 97
        val tld = element_at(array(lit("com"), lit("org"), lit("net")),
          (g % 3 + 1).cast("int"))
        val url = concat(
          when(col("doc_id") % 2 === 0, "https://").otherwise("http://"),
          when(col("doc_id") % 3 === 0, "www.").otherwise(""),
          lit("site"), g % 13, lit("."), tld,
          when(col("doc_id") % 5 === 0, ":80").otherwise(""),
          lit("/p/"), g,
          when(col("doc_id") % 7 === 0, "/").otherwise(""),
          when(col("doc_id") % 11 === 0, "?utm_source=feed&utm_campaign=x")
            .otherwise(""),
          when(col("doc_id") % 13 === 0, "#section-2").otherwise(""))
        val norm = regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(lower(url),
          "#.*$", ""), "\\?.*$", ""), "^[a-z]+://", ""),
          ":[0-9]+/", "/"), "^www\\.", ""), "/$", "")
        Tables.documents(s, d)
          .select(col("doc_id"), norm.as("url_norm"))
          .groupBy("url_norm")
          .agg(min("doc_id").as("keeper"), count(lit(1)).as("copies"))
          .orderBy("url_norm")
    },

    // IVF-blocked embedding near-dup — d06's subquadratic scale path,
    // gated as a one-row measured contract: the corpus (augmented with
    // planted near-twins the oracle can count from SQL alone) is
    // blocked into √n k-means cells with 2-way assignment; pairs form
    // only within cells; exact-cosine verify makes precision 1 by
    // construction, so the contract measures what blocking can
    // actually lose (recall over the planted pairs) and what it buys
    // (comparisons ≤ half the quadratic count, measured not argued).
    Q("d20_ivf_blocked_neardup",
      s"""SELECT
         | CAST(count(*) + count(*) FILTER (vec_id % $D20Stride = 0)
         |   AS BIGINT) AS corpus_rows,
         | CAST(count(*) FILTER (vec_id % $D20Stride = 0)
         |   AS BIGINT) AS planted_pairs,
         | CAST(1 AS BIGINT) AS recall_ok,
         | CAST(1 AS BIGINT) AS all_planted_ok,
         | CAST(1 AS BIGINT) AS dedup_ok,
         | CAST(1 AS BIGINT) AS comparisons_win_ok
         |FROM embeddings""".stripMargin) { (s, d) =>
      ivfNearDupGate(s, d)
    },

    // MinHash-LSH band calibration — the dedup-tier analog of s19:
    // recall of the banding pass vs the exact-Jaccard ground truth as
    // the band budget grows through nested prefixes of the production
    // 16-band scheme. Theorem (prefix nesting ⟹ recall nondecreasing)
    // plus the measured full-band recall ≥ 0.9 under the gate; raw hit
    // counts are spec-asserted.
    Q("d21_lsh_calibration",
      """SELECT CAST(b AS BIGINT) AS bands,
        | CAST(1 AS BIGINT) AS recall_nondecreasing,
        | CAST(1 AS BIGINT) AS full_band_recall_ok
        |FROM (SELECT unnest([2, 4, 8, 16]) AS b)
        |ORDER BY bands""".stripMargin) { (s, d) =>
      lshCalibrationGate(s, d)
    }
  )
}
