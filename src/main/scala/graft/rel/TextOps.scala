package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristics, document fingerprinting. All per-row transforms — they
  * pipeline inside one whole-stage-codegen pass over the scan, no
  * shuffle at any scale. Counts are exact integers and ratios are
  * single double divisions, so oracle hashes match without tolerance.
  */
object TextOps {

  private[rel] def tokens(c: Column): Column =
    filter(split(c, " "), t => length(t) > 0)

  /** (codepoint count, Shannon entropy rounded to 4 decimals) of the
    * character distribution. Iterates CODE POINTS, not UTF-16 units:
    * the t16 oracle's `text[i]` indexes Unicode characters, so
    * surrogate pairs (emoji, CJK extensions) must count as one char on
    * both sides or n_chars_counted and the distribution diverge. */
  private[rel] def charEntropy(t: String): (Long, Double) = {
    val counts = new java.util.HashMap[Int, Long]()
    var i = 0
    var n = 0L
    while (i < t.length) {
      val cp = t.codePointAt(i)
      counts.merge(cp, 1L, (a, b) => a + b)
      n += 1
      i += Character.charCount(cp)
    }
    var h = 0.0
    counts.forEach { (_, c) =>
      val p = c / n.toDouble; h -= p * math.log(p)
    }
    // half-UP like Spark's round() and the DuckDB oracle — rint is
    // half-even, the one rounding in this file that could diverge at
    // an exact .5 boundary (entropy is non-negative, so floor(+0.5)
    // IS half-up here)
    (n, math.floor(h * 1e4 + 0.5) / 1e4)
  }

  /** Rolling polynomial hash (h*31 + codepoint) mod 1e9+7 — the
    * document-fingerprint primitive (also the shingle hash for
    * winnowing-style fingerprints). Kept in a UDF: per-char loops are
    * not expressible as builtin columns without an O(n) lambda chain. */
  private[rel] def rollingHash(s: String): Long = {
    val Mod = 1000000007L
    var h = 0L
    var i = 0
    // iterate CODEPOINTS (surrogate pairs advance by 2) — the oracle
    // folds per character, so UTF-16 unit iteration would double-count
    // non-BMP characters
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  val stopwords = Seq("the", "a", "of", "and", "to")

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the
    * MOSS document-fingerprint scheme): hash every k-gram of
    * characters, slide a w-window over the hash sequence, select each
    * window's minimum (leftmost on ties — the deterministic variant),
    * dedupe the selected (position, hash) pairs. Guarantees any match
    * of length ≥ w+k−1 shares a fingerprint, at density 2/(w+1).
    * One compiled pass per record; the fingerprint table then feeds
    * the same bucket-group near-dup machinery as shingles (d03/d04) —
    * fingerprints are the scale-reduced shingle set. */
  val WinnowK = 8 // k-gram length (characters)
  val WinnowW = 4 // window size (hashes)
  private[rel] def winnow(text: String): Seq[(Long, Long)] = {
    val Mod = 1000000007L
    val cps = text.codePoints().toArray
    val n = cps.length - WinnowK + 1
    if (n < WinnowW) return Nil
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 0L
      var j = 0
      while (j < WinnowK) { h = (h * 31 + cps(i + j)) % Mod; j += 1 }
      hs(i) = h
      i += 1
    }
    val out = new java.util.LinkedHashSet[(Long, Long)]()
    var w = 0
    while (w <= n - WinnowW) {
      var best = hs(w)
      var bi = w
      var j = 1
      while (j < WinnowW) {
        if (hs(w + j) < best) { best = hs(w + j); bi = w + j }
        j += 1
      }
      out.add(((bi + 1).toLong, best)) // 1-based pos, matching the oracle
      w += 1
    }
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  // RE2-compatible PII patterns (shared verbatim by the Spark plan and
  // the DuckDB oracle — no lookaround, no backreferences). Declared
  // BEFORE `all`: the oracle SQL interpolates them at object init.
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  val all: Seq[Q] = Seq(
    // Token counting: whitespace tokens + distinct counts.
    Q("t01_token_stats",
      """SELECT doc_id,
        | len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_tokens,
        | len(list_distinct(list_filter(string_split(text, ' '), t -> length(t) > 0))) AS n_distinct,
        | length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).as("n_tokens"),
          size(array_distinct(tokens(col("text")))).as("n_distinct"),
          length(col("text")).as("n_chars"))
        .orderBy("doc_id")
    },

    // Quality scoring: type-token ratio, mean token length, stopword
    // ratio — the standard cheap quality filters for LLM corpora.
    Q("t02_quality_score",
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
         |  FROM documents)
         |SELECT doc_id,
         | len(list_distinct(w))::DOUBLE / len(w) AS ttr,
         | list_sum(list_transform(w, t -> length(t)))::DOUBLE / len(w)
         |   AS mean_tok_len,
         | len(list_filter(w, t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")})))::DOUBLE
         |   / len(w) AS stopword_ratio
         |FROM toks WHERE len(w) > 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val w = tokens(col("text"))
      val stopArr = array(stopwords.map(lit): _*)
      Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) > 0)
        // UNROUNDED on purpose: each ratio is ONE division of exact
        // integers — bit-identical across engines — while round(x, 6)
        // is the empirically confirmed cross-engine half-tie hazard
        // (Spark shortest-decimal HALF_UP vs DuckDB binary scaled
        // round diverge on small-denominator rationals)
        .select(col("doc_id"),
          (size(array_distinct(col("w"))).cast("double") / size(col("w")))
            .as("ttr"),
          (aggregate(transform(col("w"), t => length(t).cast("long")),
            lit(0L), (a, v) => a + v).cast("double") / size(col("w")))
            .as("mean_tok_len"),
          (size(filter(col("w"), t => array_contains(stopArr, t)))
            .cast("double") / size(col("w"))).as("stopword_ratio"))
        .orderBy("doc_id")
    },

    // Language-ID heuristic: deterministic stopword-evidence rule (the
    // n-gram-profile method reduced to an oracle-expressible scorer).
    Q("t03_lang_id",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |  FROM documents)
        |SELECT doc_id, lang AS lang_declared,
        |  len(list_filter(w, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS en_evidence,
        |  CASE WHEN len(list_filter(w, t -> t IN ('the', 'a', 'of', 'and', 'to'))) > 0
        |       THEN 'en' ELSE 'unk' END AS lang_guess
        |FROM toks ORDER BY doc_id""".stripMargin) { (s, d) =>
      val w = tokens(col("text"))
      val stopArr = array(stopwords.map(lit): _*)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang").as("lang_declared"), w.as("w"))
        .select(col("doc_id"), col("lang_declared"),
          size(filter(col("w"), t => array_contains(stopArr, t)))
            .as("en_evidence"))
        .withColumn("lang_guess",
          when(col("en_evidence") > 0, "en").otherwise("unk"))
        .orderBy("doc_id")
    },

    // Document fingerprint: rolling polynomial hash of the full text —
    // reproduced in the oracle with list_reduce over codepoints.
    Q("t04_fingerprint",
      """SELECT doc_id,
        | list_reduce(
        |   list_prepend(0::BIGINT,
        |     list_transform(generate_series(1, length(text)),
        |                    i -> ascii(substr(text, i, 1))::BIGINT)),
        |   (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val fp = udf { (t: String) => rollingHash(t) }
      Tables.documents(s, d)
        .select(col("doc_id"), fp(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    },

    // BPE-style pre-tokenization: the GPT-2 pre-tokenizer regex family
    // (contraction suffixes | letter runs | digit runs | punctuation
    // runs, with leading-space affinity) — the token-count statistic
    // LLM-data pipelines budget by. Same regex evaluated by both
    // engines (RE2-compatible subset: no lookahead).
    Q("t06_bpe_tokens",
      """SELECT doc_id,
        | len(regexp_extract_all(text, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS n_bpe_tokens,
        | len(list_distinct(regexp_extract_all(text, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))) AS n_distinct_bpe
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val pat = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_bpe_tokens"),
          size(array_distinct(regexp_extract_all(col("text"), lit(pat), lit(0))))
            .as("n_distinct_bpe"))
        .orderBy("doc_id")
    },

    // Per-language corpus profile: group the quality stats (cheap
    // map-side-combinable aggregate over the per-row transforms).
    // DuckDB sum(INT) yields HUGEINT, which the driver's value-hash
    // renders differently from Spark's BIGINT — cast both sums.
    Q("t05_lang_profile",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS w,
        |    length(text) AS nc
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(len(w)) AS BIGINT) AS total_tokens,
        | CAST(sum(nc) AS BIGINT) AS total_chars,
        | avg(len(w)) AS avg_tokens
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), size(tokens(col("text"))).as("nt"),
          length(col("text")).as("nc"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nt").as("total_tokens"),
          sum("nc").as("total_chars"),
          // unrounded: integer sums are exact in any order -> avg is
          // one bit-identical division (the t02 rationale)
          avg("nt").as("avg_tokens"))
        .orderBy("lang")
    },

    // Repetition-based quality signals (the Gopher/MassiveText filter
    // family: Rae et al. 2021 §A1.1): distinct-word ratio, most-frequent-
    // word fraction, duplicate-bigram fraction. One compiled pass per
    // record — token counting, the frequency map, and the bigram set all
    // live in one mapPartitions loop, so the operator is a pure per-row
    // map (no shuffle) feeding the quality-filter predicate.
    Q("t07_repetition",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |wc AS (SELECT doc_id, unnest(ws) AS w FROM t),
        |per AS (SELECT doc_id, w, count(*) AS c FROM wc GROUP BY 1, 2),
        |wa AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS nd,
        |              max(c) AS mx FROM per GROUP BY 1),
        |bg AS (SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(ws) - 1),
        |                               i -> ws[i] || ' ' || ws[i+1])) AS b
        |       FROM t WHERE len(ws) >= 2),
        |ba AS (SELECT doc_id, count(DISTINCT b) AS nbd, count(*) AS nb
        |       FROM bg GROUP BY 1)
        |SELECT wa.doc_id, wa.n AS n_words,
        |  wa.nd::DOUBLE / wa.n AS distinct_word_frac,
        |  wa.mx::DOUBLE / wa.n AS top_word_frac,
        |  coalesce(1.0 - ba.nbd::DOUBLE / ba.nb, 0.0) AS dup_bigram_frac
        |FROM wa LEFT JOIN ba USING (doc_id)
        |ORDER BY wa.doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          val w = t.split(" ", -1)
          val n = w.length
          val counts = new java.util.HashMap[String, Int](n * 2)
          var i = 0
          while (i < n) {
            counts.merge(w(i), 1, (a, b) => a + b); i += 1
          }
          var mx = 0
          val it = counts.values().iterator()
          while (it.hasNext) { val c = it.next(); if (c > mx) mx = c }
          val bigrams = new java.util.HashSet[String](n * 2)
          i = 0
          while (i < n - 1) { bigrams.add(w(i) + " " + w(i + 1)); i += 1 }
          val dupBg = if (n < 2) 0.0 else 1.0 - bigrams.size.toDouble / (n - 1)
          (id, n.toLong, counts.size.toDouble / n, mx.toDouble / n, dupBg)
        })
        .toDF("doc_id", "n_words", "distinct_word_frac", "top_word_frac",
          "dup_bigram_frac")
        .orderBy("doc_id")
    },

    // Vocabulary building: global token frequencies, top-k. The
    // groupBy is a partial+final hash aggregate over the exploded
    // token stream; the top-k is TakeOrdered (per-partition heads,
    // only k rows cross to the driver) — the vocab-construction shape
    // for a tokenizer training pass.
    Q("t09_vocab",
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split(text, ' '),
        |                            t -> length(t) > 0)) AS tok
        |  FROM documents)
        |SELECT tok, count(*) AS n FROM w GROUP BY tok
        |ORDER BY n DESC, tok LIMIT 100""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(100)
    },

    // Deterministic train/val/test split assignment: md5-bucket the
    // doc id into 10 shards, 8/1/1. Reproducible on any engine and
    // any run (the q24 hash-sampling principle applied to dataset
    // splits); a pure per-row map, no shuffle.
    Q("t10_split_assign",
      """SELECT doc_id,
        | CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS b
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val bucket =
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 10
      Tables.documents(s, d)
        .select(col("doc_id"),
          when(bucket < 8, "train").when(bucket === 8, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },

    // Winnowing fingerprints as an exploded (doc, pos, hash) table —
    // the positional dedup primitive (match localization, not just
    // detection). DuckDB replays k-gram hashing, window minima, and
    // leftmost-tie selection with list_reduce/list_position.
    Q("t08_winnowing",
      s"""WITH kh AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, length(text) - ${TextOps.WinnowK - 1}),
        |      i -> list_reduce(
        |             list_prepend(0::BIGINT,
        |               list_transform(generate_series(i, i + ${TextOps.WinnowK - 1}),
        |                 j -> ascii(substr(text, j::INT, 1))::BIGINT)),
        |             (a, b) -> (a * 31 + b) % 1000000007)) AS hs
        |  FROM documents
        |  WHERE length(text) >= ${TextOps.WinnowK + TextOps.WinnowW - 1}
        |), wdoc AS (
        |  SELECT doc_id, hs,
        |    unnest(generate_series(1, len(hs) - ${TextOps.WinnowW - 1})) AS w
        |  FROM kh
        |)
        |SELECT DISTINCT doc_id,
        |  w + list_position(hs[w : w + ${TextOps.WinnowW - 1}],
        |        list_reduce(hs[w : w + ${TextOps.WinnowW - 1}],
        |                    (a, b) -> least(a, b))) - 1 AS pos,
        |  list_reduce(hs[w : w + ${TextOps.WinnowW - 1}],
        |              (a, b) -> least(a, b)) AS fp
        |FROM wdoc
        |ORDER BY doc_id, pos, fp""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) => winnow(t).iterator.map(p => (id, p._1, p._2)) }
        .toDF("doc_id", "pos", "fp")
        .orderBy("doc_id", "pos", "fp")
    },

    // Sequence packing for pretraining (the GPT-style concat-and-chunk
    // layout): each doc gets its global token offset, its context
    // window (pack) id at L=2048, and whether it straddles a window
    // boundary. The global running sum is a DISTRIBUTED TWO-PHASE
    // PREFIX SUM — per-partition totals collect (one long per
    // partition), the driver cumsums them, and a broadcast offset
    // vector seeds a second per-partition pass. A window over a
    // single global ORDER BY (the oracle's formulation) would funnel
    // 100 TB through one partition; this shape never does.
    Q("t13_sequence_packing",
      """WITH t AS (
        |  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM t)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, start_tok,
        |  start_tok // 2048 AS pack_id,
        |  (start_tok // 2048) != ((start_tok + n - 1) // 2048) AS crosses_boundary
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val PackLen = 2048L
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      ScaleOps.prefixSum(toks, "doc_id", "n_tokens")
        .withColumnRenamed("prefix", "start_tok")
        .select(col("doc_id"), col("n_tokens"), col("start_tok"),
          expr(s"start_tok div $PackLen").as("pack_id"),
          (expr(s"start_tok div $PackLen") =!=
            expr(s"(start_tok + n_tokens - 1) div $PackLen")).as("crosses_boundary"))
        .orderBy("doc_id")
    },

    // RAG-style chunking: overlapping character windows (512 chars,
    // 64 overlap → stride 448) exploded one row per chunk. Pure
    // per-row explode — no shuffle beyond the presentation sort.
    Q("t14_chunk_overlap",
      """WITH c AS (
        |  SELECT doc_id,
        |    unnest(range(0, greatest(length(text) - 64, 1), 448)) AS off
        |  FROM documents)
        |SELECT doc_id, off AS chunk_start,
        |  substr(text, (off + 1)::INT, 512) AS chunk
        |FROM c JOIN documents USING (doc_id)
        |ORDER BY doc_id, chunk_start""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L),
            greatest(length(col("text")).cast("long") - 65L, lit(0L)),
            lit(448L))).as("off"))
        .select(col("doc_id"), col("off").as("chunk_start"),
          col("text").substr(col("off").cast("int") + 1, lit(512)).as("chunk"))
        .orderBy("doc_id", "chunk_start")
    },

    // PII scrubbing: regex detect-and-redact for emails, IPv4s, and
    // phone numbers — the standard pre-training redaction pass. The
    // corpus text carries no PII, so each doc gets a deterministic
    // doc_id-derived suffix injected first; the scrub then provably
    // fires on every row and the oracle replays the same injection +
    // RE2-compatible patterns (no lookaround/backrefs, so Java and
    // DuckDB regex semantics agree). Pure per-row codegen — one
    // whole-stage pass, no shuffle at any scale.
    Q("t11_pii_scrub",
      s"""WITH injected AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id::VARCHAR || '@mail.example.com or 555-' ||
         |      lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
         |      lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') ||
         |      ' ip 10.0.' || (doc_id % 256)::VARCHAR || '.' || ((doc_id * 3) % 256)::VARCHAR AS t
         |  FROM documents),
         |s1 AS (SELECT doc_id, t,
         |  regexp_replace(t, '$PiiEmail', '<EMAIL>', 'g') AS t1 FROM injected),
         |s2 AS (SELECT doc_id, t, t1,
         |  regexp_replace(t1, '$PiiIpv4', '<IP>', 'g') AS t2 FROM s1)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '$PiiEmail')) AS n_email,
         |  len(regexp_extract_all(t1, '$PiiIpv4')) AS n_ip,
         |  len(regexp_extract_all(t2, '$PiiPhone')) AS n_phone,
         |  md5(regexp_replace(t2, '$PiiPhone', '<PHONE>', 'g')) AS scrubbed_md5
         |FROM s2 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        lit(" ip 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
        ((col("doc_id") * 3) % 256).cast("string"))
      val afterEmail = regexp_replace(t, PiiEmail, "<EMAIL>")
      val afterIp = regexp_replace(afterEmail, PiiIpv4, "<IP>")
      Tables.documents(s, d)
        .select(col("doc_id"), t.as("t"), afterEmail.as("t1"), afterIp.as("t2"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(PiiEmail)).cast("long").as("n_email"),
          regexp_count(col("t1"), lit(PiiIpv4)).cast("long").as("n_ip"),
          regexp_count(col("t2"), lit(PiiPhone)).cast("long").as("n_phone"),
          md5(regexp_replace(col("t2"), PiiPhone, "<PHONE>")).as("scrubbed_md5"))
        .orderBy("doc_id")
    },

    // Boilerplate scoring (CCNet/line-dedup family, word-gram form):
    // per document, the fraction of its word 3-grams that are
    // corpus-frequent (appear in >= 3 distinct docs). Scale shape: the
    // doc-frequency aggregate shuffles md5(gram) digests, never gram
    // text; the frequent set (boilerplate is small by definition)
    // broadcasts back for a per-position membership count — the corpus
    // itself never self-joins or re-shuffles.
    Q("t12_boilerplate",
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, md5(array_to_string(w[i:i+2], ' ')) AS h
        |  FROM words, unnest(range(1, len(w) - 1)) AS t(i)
        |  WHERE len(w) >= 3),
        |freq AS (
        |  SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 3)
        |SELECT g.doc_id,
        |  count(*) AS n_grams,
        |  count(*) FILTER (WHERE f.h IS NOT NULL) AS n_frequent,
        |  count(*) FILTER (WHERE f.h IS NOT NULL)::DOUBLE / count(*)
        |    AS boilerplate_frac
        |FROM grams g LEFT JOIN freq f ON g.h = f.h
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // Single pass over the exploded grams: collapse to distinct
      // (h, doc_id) pairs with their instance count — the partial
      // (map-side) aggregate pre-reduces within-doc repeats BEFORE
      // anything crosses the wire, exactly the rows repeated
      // boilerplate inflates — then derive each gram's document
      // frequency with a count window over h and roll up per
      // document. No gram cache to pin or release, and no broadcast
      // of the frequent-gram set, whose size is corpus-dependent and
      // unbounded at scale: every exchange carries pre-combined
      // 16-byte pair digests, never the raw instance stream.
      val pairs = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("w")) - 2),
          i => md5(array_join(slice(col("w"), i, lit(3)), " ")))).as("h"))
        .groupBy(col("h"), col("doc_id"))
        .agg(count(lit(1)).as("cnt"))
      val win = org.apache.spark.sql.expressions.Window.partitionBy("h")
      pairs.withColumn("df", count(lit(1)).over(win))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_grams"),
          coalesce(sum(when(col("df") >= 3, col("cnt"))), lit(0L))
            .as("n_frequent"),
          // unrounded integer ratio (the t02 rationale)
          (coalesce(sum(when(col("df") >= 3, col("cnt"))), lit(0L))
            .cast("double") / sum(col("cnt"))).as("boilerplate_frac"))
        .orderBy("doc_id")
    },

    // Statistical-LM quality scoring (the CCNet/Wenzek 2020 signal,
    // here with the LM trained on the corpus itself): per-document
    // mean negative log-likelihood under an add-0.5-smoothed bigram
    // model. High nll = atypical text (noise, mojibake, spam); the
    // classic perplexity-bucket filter for pretraining data. Scale
    // shape: the model is two aggregates keyed on token/bigram —
    // O(vocab) and O(vocab²) rows, both ≪ corpus and both broadcast
    // back — and scoring is one pass over exploded doc bigrams
    // re-aggregated per doc; the corpus never self-joins. At web
    // scale the model tables stay broadcastable because vocab is
    // capped (hash the tail into an UNK bucket); here the vocab is
    // tiny so the broadcast is exact.
    //
    // Accepted flake bound (the q40 pattern): round(avg(nll), 4) sums
    // each doc's -ln terms in engine-specific association order, so a
    // hash flip needs a doc mean within the association error of a
    // 0.5e-4 rounding boundary. Measured at sf0.01: min boundary
    // distance 2.2e-8 vs an association-error scale of ~2e-10
    // (n_bigrams·eps·|Σ|) — two orders of margin, and the ln terms
    // carry full hash-spread mantissas so means don't cluster near
    // boundaries. If a future corpus closes the gap, quantize each
    // term to integer micro-nats and SUM as BIGINT (order-free),
    // dividing once at the end.
    Q("t15_lm_perplexity", lmPerplexityOracle) { (s, d) =>
      lmPerplexity(s, d)
    },

    // Character-entropy quality signal: Shannon entropy of the char
    // distribution per document. Low entropy = repetitive/degenerate
    // text, anomalously high = mojibake/binary noise — the cheap
    // first-pass filter before LM scoring (t15). Pure per-row
    // compiled pass, no shuffle but the presentation sort.
    Q("t16_char_entropy",
      """WITH c AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, length(text)),
        |                          i -> text[i])) AS ch
        |  FROM documents WHERE length(text) > 0),
        |f AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY 1, 2),
        |t AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM f GROUP BY 1)
        |SELECT f.doc_id, t.n AS n_chars_counted,
        |  round(-sum((f.c::DOUBLE / t.n) * ln(f.c::DOUBLE / t.n)), 4)
        |    AS char_entropy
        |FROM f JOIN t USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .filter(_._2.nonEmpty)
        .map { case (id, t) => val (n, h) = charEntropy(t); (id, n, h) }
        .toDF("doc_id", "n_chars_counted", "char_entropy")
        .orderBy("doc_id")
    },

    // Gopher-style quality rule battery (Rae et al. 2021, "Scaling
    // Language Models", Table A1 subset): the standard rule-based
    // document filter every LLM corpus pipeline runs before model-based
    // scoring. Five rules — word count in [50, 100000], mean word
    // length in [3, 10], symbol-to-word ratio (# or ...) <= 0.1,
    // >= 80% of words containing an alphabetic character, >= 2
    // stopword hits — each emitted as its own flag plus the combined
    // keep verdict, so downstream can audit WHICH rule dropped a
    // document (the reason-tagged form real pipelines log). Pure
    // per-row pass over the scan, no shuffle but the presentation
    // sort. Every ratio is one integer-over-integer IEEE division —
    // bit-identical in both engines UNROUNDED (round(x, 6) itself is
    // the cross-engine half-tie hazard on rationals); flags compare
    // the identical raw double on both sides.
    Q("t17_gopher_rules",
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, len(w) AS n_words,
         |    list_sum(list_transform(w, t -> length(t)))::DOUBLE
         |      / len(w) AS mean_word_len,
         |    len(list_filter(w, t -> contains(t, '#')
         |      OR contains(t, '...')))::DOUBLE / len(w) AS symbol_ratio,
         |    len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
         |      / len(w) AS alpha_frac,
         |    len(list_filter(w, t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")})))
         |      AS stop_hits
         |  FROM toks WHERE len(w) > 0)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
         |  stop_hits,
         |  CAST(n_words BETWEEN 50 AND 100000 AS BIGINT) AS r_words,
         |  CAST(mean_word_len BETWEEN 3 AND 10 AS BIGINT) AS r_len,
         |  CAST(symbol_ratio <= 0.1 AS BIGINT) AS r_symbol,
         |  CAST(alpha_frac >= 0.8 AS BIGINT) AS r_alpha,
         |  CAST(stop_hits >= 2 AS BIGINT) AS r_stops,
         |  CAST(n_words BETWEEN 50 AND 100000
         |    AND mean_word_len BETWEEN 3 AND 10 AND symbol_ratio <= 0.1
         |    AND alpha_frac >= 0.8 AND stop_hits >= 2 AS BIGINT) AS keep
         |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val stopArr = array(stopwords.map(lit): _*)
      val m = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("w"))
        .filter(size(col("w")) > 0)
        // UNROUNDED integer ratios (the t02 rationale): the flags below
        // then compare the identical raw double in both engines
        .select(col("doc_id"), size(col("w")).as("n_words"),
          (aggregate(transform(col("w"), t => length(t).cast("long")),
            lit(0L), (a, v) => a + v).cast("double") / size(col("w")))
            .as("mean_word_len"),
          (size(filter(col("w"), t =>
            t.contains("#") || t.contains("..."))).cast("double")
            / size(col("w"))).as("symbol_ratio"),
          (size(filter(col("w"), t => t.rlike("[A-Za-z]")))
            .cast("double") / size(col("w"))).as("alpha_frac"),
          size(filter(col("w"), t => array_contains(stopArr, t)))
            .as("stop_hits"))
      val rWords = col("n_words").between(50, 100000)
      val rLen = col("mean_word_len").between(3, 10)
      val rSymbol = col("symbol_ratio") <= 0.1
      val rAlpha = col("alpha_frac") >= 0.8
      val rStops = col("stop_hits") >= 2
      m.select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("alpha_frac"), col("stop_hits"),
          rWords.cast("bigint").as("r_words"),
          rLen.cast("bigint").as("r_len"),
          rSymbol.cast("bigint").as("r_symbol"),
          rAlpha.cast("bigint").as("r_alpha"),
          rStops.cast("bigint").as("r_stops"),
          (rWords && rLen && rSymbol && rAlpha && rStops)
            .cast("bigint").as("keep"))
        .orderBy("doc_id")
    },

    // BM25 relevance scoring (Robertson-Sparck Jones; the Lucene
    // +1-inside-log idf variant, k1=1.2 b=0.75) against a fixed query
    // term set — the retrieval-scoring stage of RAG and
    // quality-weighted data curation. Scale shape: corpus statistics
    // (N, Σdl, per-term df) fold to ONE single-row aggregate broadcast
    // back; scoring is a pure per-row pass — the corpus never
    // self-joins and nothing vocab-sized shuffles (the query term set
    // is constant-sized by definition). Determinism: tf/df/dl/N are
    // exact integers; each term's contribution is computed as its own
    // fixed-shape expression and the three terms add in FIXED order —
    // no SQL SUM over a float column anywhere, so association order
    // cannot differ. Accepted flake bound (t15/q40 precedent): JVM
    // Math.log vs DuckDB ln agree to ≤1 ulp; a hash flip needs a
    // score within ~1e-16 of a .5e-6 rounding boundary — vanishing.
    Q("t18_bm25_score",
      s"""WITH $bm25OracleCtes
         |SELECT doc_id, CAST(dl AS BIGINT) AS dl,
         |  ${Bm25Terms.map(t => s"CAST(tf_$t AS BIGINT) AS ntf_$t").mkString(", ")},
         |  round($bm25ScoreSql, 6) AS bm25
         |FROM d, stats ORDER BY doc_id""".stripMargin) { (s, d) =>
      val outCols = Seq(col("doc_id"), col("dl").cast("bigint").as("dl")) ++
        Bm25Terms.map(t => col(s"tf_$t").cast("bigint").as(s"ntf_$t")) :+
        round(col("bm25"), 6).as("bm25")
      bm25Frame(s, d).select(outCols: _*).orderBy("doc_id")
    },

    // TF-IDF term weighting (the sklearn smooth-idf variant:
    // ln((N+1)/(df+1)) + 1) — the sparse-retrieval / keyword-extraction
    // companion to t18's BM25. Emits the full (doc, term) matrix rather
    // than a per-doc top-k: selection by tfidf would rest on
    // cross-engine libm ln ordering at the cut boundary (the q40 risk
    // class), while the VALUE-only form carries just t18's accepted
    // ulp-at-rounding-boundary bound. Scale shape: one (doc_id, term)
    // shuffle builds tf; df re-aggregates tf by term to a VOCAB-bounded
    // table that broadcasts back (vocabulary ≪ corpus by Heaps' law);
    // N is a single-row broadcast. The corpus text itself is scanned
    // once per aggregate and never self-joins. Determinism: tf/df/N
    // are exact integers; tfidf is one fixed-shape double expression.
    Q("t19_tfidf",
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    t -> length(t) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df_t,
        |  round(tf.tf * (ln((n.n + 1.0) / (df.df_t + 1.0)) + 1.0), 6) AS tfidf
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |ORDER BY doc_id, term""".stripMargin) { (s, d) =>
      // tf appears on BOTH sides of the join (df derives from it), so
      // the corpus tokenizes twice. Measured at the 100× probe: the
      // recompute BEATS materializing — a lineage cut of the 11.6M-row
      // (doc, term) matrix costs 30.0s vs 24.3s for the second codegen
      // tokenize pass (the matrix is LARGER than the source text, so
      // write+read loses to recompute). Persist tf only when the
      // tokenizer itself is the expensive stage (e.g. a real BPE).
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
      val n = Tables.documents(s, d)
        .agg(count(lit(1)).cast("double").as("n"))
      tf.join(broadcast(dfT), Seq("term"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"), col("df_t"),
          round(col("tf") * (log((col("n") + lit(1.0))
            / (col("df_t") + lit(1.0))) + lit(1.0)), 6).as("tfidf"))
        .orderBy("doc_id", "term")
    },

    // URL normalization + per-domain document caps — the web-crawl
    // curation stage that stops a handful of hot domains from dominating
    // a corpus (the C4/RefinedWeb per-domain cap). URLs are synthesized
    // deterministically from doc_id (scheme, optional www/cdn subdomain,
    // 13 registrable domains × 3 TLDs, path, tracking query) so both
    // engines derive identical inputs; normalization = lowercase, strip
    // scheme + query + www, registrable domain = last two host labels.
    // The cap keeps the 5 SMALLEST doc_ids per domain — an INTEGER
    // selection order, immune to the q40 float-boundary class. Scale
    // shape: selection rides the native TopKPerKey (per-partition
    // bounded heaps, survivor-only exchange — never a corpus-wide
    // window sort); per-domain totals are a domain-bounded aggregate
    // that broadcasts back onto the ≤ 5·domains survivors.
    Q("t20_url_domain_cap",
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || (CASE WHEN doc_id % 2 = 0 THEN 'www.'
        |                        WHEN doc_id % 5 = 0 THEN 'cdn.'
        |                        ELSE '' END)
        |      || 'site' || (doc_id % 13) || '.'
        |      || (['com', 'org', 'net'])[(doc_id % 3 + 1)::INT]
        |      || '/p/' || doc_id || '?utm=x' AS url
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(lower(url),
        |      '^[a-z]+://', ''), '\?.*$', ''), '^www\.', '') AS url_norm
        |  FROM u),
        |h AS (
        |  SELECT doc_id, url_norm,
        |    regexp_extract(regexp_extract(url_norm, '^([^/]+)', 1),
        |      '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM n),
        |r AS (
        |  SELECT doc_id, url_norm, domain,
        |    row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rank,
        |    count(*) OVER (PARTITION BY domain) AS n_domain_docs
        |  FROM h)
        |SELECT doc_id, url_norm, domain, rank, n_domain_docs
        |FROM r WHERE rank <= 5 ORDER BY domain, doc_id""".stripMargin) { (s, d) =>
      val tld = element_at(array(lit("com"), lit("org"), lit("net")),
        (col("doc_id") % 3 + 1).cast("int"))
      val sub = when(col("doc_id") % 2 === 0, "www.")
        .when(col("doc_id") % 5 === 0, "cdn.").otherwise("")
      val url = concat(lit("https://"), sub, lit("site"),
        col("doc_id") % 13, lit("."), tld, lit("/p/"), col("doc_id"),
        lit("?utm=x"))
      val norm = regexp_replace(regexp_replace(regexp_replace(lower(url),
        "^[a-z]+://", ""), "\\?.*$", ""), "^www\\.", "")
      val h = Tables.documents(s, d)
        .select(col("doc_id"), norm.as("url_norm"))
        .withColumn("domain",
          regexp_extract(regexp_extract(col("url_norm"), "^([^/]+)", 1),
            "([^.]+\\.[^.]+)$", 1))
      // native bounded top-k — no corpus-wide window sort; the rank
      // window then runs over the <= 5·domains survivors only
      val kept = ScaleOps.topKPerKey(h, Seq("domain"),
        Seq(("doc_id", true)), 5)
      val totals = h.groupBy("domain")
        .agg(count(lit(1)).as("n_domain_docs"))
      import org.apache.spark.sql.expressions.Window
      kept
        .withColumn("rank", row_number().over(
          Window.partitionBy("domain").orderBy("doc_id")))
        .join(broadcast(totals), Seq("domain"))
        .select(col("doc_id"), col("url_norm"), col("domain"),
          col("rank").cast("bigint").as("rank"), col("n_domain_docs"))
        .orderBy("domain", "doc_id")
    },

    // Distributed BPE tokenizer TRAINING (Sennrich 2016 — the
    // vocabulary-learning stage t06/t09 only consume). The scale
    // design is the one HF tokenizers/SentencePiece use: the corpus
    // shuffles ONCE into the distinct-word frequency table (Heaps'-law
    // bounded), and every merge round then operates on that
    // vocab-bounded frame — pair counts are a ≤|vocab| aggregate, the
    // argmax is a 1-row TakeOrdered, and the winning merge broadcasts
    // back as a per-row symbol rewrite. 8 rounds = 8 vocab-bounded
    // shuffles; the corpus text is never re-read after round 0.
    // Determinism: merge selection orders by (freq DESC, left, right) —
    // an integer/string total order, no float anywhere. The oracle
    // checks what one SQL level can: the exact first merge (computable
    // without applying merges), merge count, and the monotone
    // non-increasing merge-frequency invariant; the FULL 8-merge list
    // is replayed exactly by a driver-side reference BPE in the spec.
    Q("t21_bpe_train",
      """WITH w AS (SELECT unnest(list_filter(string_split(text, ' '),
        |    t -> length(t) > 0)) AS word
        |  FROM documents),
        |wc AS (SELECT word, count(*) AS f FROM w GROUP BY 1),
        |pairs AS (
        |  SELECT substr(word, i::INT, 1) AS l, substr(word, i::INT + 1, 1) AS r,
        |         CAST(sum(f) AS BIGINT) AS freq
        |  FROM wc, unnest(generate_series(1, length(word) - 1)) AS t(i)
        |  GROUP BY 1, 2),
        |top1 AS (SELECT l, r, freq FROM pairs
        |         ORDER BY freq DESC, l, r LIMIT 1)
        |SELECT l AS first_left, r AS first_right, freq AS first_freq,
        |  CAST(8 AS BIGINT) AS merges_done,
        |  CAST(1 AS BIGINT) AS freq_monotone_ok,
        |  CAST(1 AS BIGINT) AS tokens_reduced_ok
        |FROM top1""".stripMargin) { (s, d) =>
      bpeTrainContract(s, d, merges = 8)
    },

    // t21's gate hardened from first-merge to the FULL merge list: the
    // oracle unrolls all 8 training rounds as chained DuckDB CTEs (the
    // d07/s11/q38 unrolled-oracle precedent), so every learned merge —
    // pair, tie-break, frequency — AND the post-merge symbol count sit
    // under the hash gate, not just round 1. The SQL encoding: each
    // vocab word becomes a 0x1F-prefixed symbol string ("ab…");
    // applying a merge is then a literal replace("lr" →
    // "l" + "r") — replace() scans left-to-right non-overlapping,
    // exactly the trainer's greedy per-word merge — and the symbol
    // count is the separator count. Engine side is the same
    // distributed trainer t21 runs (corpus shuffled once into the
    // vocab table, 8 vocab-bounded rounds).
    Q("t21b_bpe_merges", bpeMergesOracleSql(8)) { (s, d) =>
      import s.implicits._
      val ms = bpeTrainMerges(s, d, merges = 8)
      require(ms.length == 8, s"expected 8 BPE merges, got ${ms.length}")
      ms.zipWithIndex.map { case ((l, r, freq, after, _), i) =>
        ((i + 1).toLong, l, r, freq, after)
      }.toDF("merge_no", "l", "r", "freq", "symbols_after")
        .orderBy("merge_no")
    },

    // Model-based quality filtering with a TRAINED classifier — the
    // step every production pipeline runs after the heuristic tier
    // (CCNet's fastText filter, the GPT-3 quality classifier):
    // expensive labels on a slice, a fast linear model distilled from
    // them, the model applied to the full corpus. Here the "teacher"
    // is a deterministic frequency heuristic (hash-heavier than sort),
    // the student a multinomial Naive Bayes with Laplace smoothing
    // trained on the doc_id%2=0 half and evaluated on the other; the
    // gate is the integer confusion matrix. Scale shape: training is
    // ONE vocab-bounded token shuffle (labels computed per-row in
    // codegen — no label-table join), class totals are 5 longs to the
    // driver, the per-token log-odds table BROADCASTS (the t15/t18
    // model-table shape), and scoring is one doc-keyed aggregate over
    // the exploded test half — nothing corpus-sized joins or collects.
    // Float discipline: both engines replay ln() at a libm boundary,
    // so the decision runs inside an ENFORCED margin guard (q40): any
    // test doc within 1e-6 of the boundary fails loudly instead of
    // hash-flipping (corpus margins measured >= 6e-4 at sf0.001/0.01).
    // Exact-zero totals are legitimate (token-less docs under equal
    // priors: ln(n)-ln(n) is exactly 0 in both engines) => pred 0.
    Q("t22_nb_classifier", nbClassifierOracle) { (s, d) =>
      nbClassifier(s, d)
    },

    // DSIR — Data Selection via Importance Resampling (Xie et al.
    // 2023): score every corpus document by how much more likely its
    // HASHED N-GRAM features are under a target distribution (here the
    // lang='en' subset) than under the raw corpus distribution; the
    // resampling stage then keeps documents with the highest weights.
    // Features are unigrams+bigrams hashed into 128 buckets (md5, the
    // cross-engine t10 idiom); both bucket distributions are
    // add-0.5-smoothed, and a document's log importance weight is
    // sum_b n_b * [ln p_target(b) - ln p_raw(b)].
    //
    // Scale shape: ZERO corpus-sized shuffles. The feature fold lives
    // INSIDE the row (a length-128 count array per doc); pass 1 is one
    // fused 128-group λ aggregate (map-side combined — ≤ 128 rows per
    // partition reach the exchange; λ derives on the driver, 128 rows
    // of bounded state), pass 2 scores each row against the broadcast
    // λ with a fixed-order dot product. Text never leaves its row and
    // no (doc, gram) explosion ever forms — the prior docb-shuffle
    // shape measured 75s at the 100× probe vs 41.5s for this one.
    // The gate hashes every doc's weight; the top-k
    // resample itself is an ORDER BY logw LIMIT k over these scores
    // (exercised in TextOpsSpec, kept out of the oracle to avoid
    // ranking at a float boundary — the q40 class).
    //
    // Accepted flake bound (t15's argument): round(sum, 4) over ≤ 256
    // association-ordered products — the λ magnitudes are O(1) and the
    // per-doc term count is bounded by 2·n_tokens, so association
    // error sits orders below the 0.5e-4 boundary granularity.
    Q("t23_dsir_select",
      """WITH toks AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '),
        |    t -> length(t) > 0) AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |uni AS (SELECT doc_id, lang, unnest(ts) AS g FROM toks),
        |bi AS (SELECT doc_id, lang, ts[i] || ' ' || ts[i+1] AS g
        |  FROM toks, unnest(range(1, len(ts))) AS t(i) WHERE len(ts) >= 2),
        |grams AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(g), 1, 8))::BIGINT % 128 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |docb AS (SELECT doc_id, lang, b, count(*) AS n
        |  FROM grams GROUP BY 1, 2, 3),
        |raw AS (SELECT b, CAST(sum(n) AS BIGINT) AS rc FROM docb GROUP BY b),
        |tgt AS (SELECT b, CAST(sum(n) AS BIGINT) AS tc FROM docb
        |  WHERE lang = 'en' GROUP BY b),
        |tot AS (SELECT (SELECT sum(rc) FROM raw)::DOUBLE AS r,
        |               (SELECT coalesce(sum(tc), 0) FROM tgt)::DOUBLE AS t),
        |lam AS (SELECT raw.b,
        |    ln((coalesce(tgt.tc, 0) + 0.5) * (tot.r + 64.0))
        |  - ln((raw.rc + 0.5) * (tot.t + 64.0)) AS lam
        |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot)
        |SELECT d.doc_id, CAST(sum(d.n) AS BIGINT) AS n_grams,
        |  round(sum(d.n * l.lam), 4) AS logw
        |FROM docb d JOIN lam l USING (b)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      dsirScores(s, d).orderBy("doc_id")
    },

    // Quantile-binned corpus partitioning (curriculum / quality-decile
    // binning): every doc assigned its n_chars decile, per-bin stats +
    // a deterministic representative. The bin boundary is INTEGER
    // arithmetic end to end — bin(v) = (10 · |{docs with n_chars <
    // v}|) div N — not an interpolated percentile, so there is no
    // float cut-point for ties to straddle and the assignment is
    // bit-identical cross-engine (equal values always share a bin;
    // q24/t10's hash-determinism principle applied to quantiles).
    // Scale shape: ONE map-side-combined value-histogram aggregate
    // (bounded by the n_chars DOMAIN, not the corpus), a cumulative
    // window over that domain-sized table (hundreds of rows — the
    // 128-row λ-table class, explicitly NOT a corpus window), the
    // rank table broadcast back onto the corpus for a per-row bin
    // assign, then a 10-group aggregate. Nothing corpus-sized
    // shuffles except the final 10-group partial aggregate's
    // combiner outputs. Representative = arg-min of md5(doc_id) —
    // integer/hex selection, no float order anywhere.
    Q("t24_quantile_bins",
      """WITH h AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY 1),
        |r AS (SELECT n_chars, CAST(coalesce(sum(c) OVER (ORDER BY n_chars
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS below FROM h),
        |n AS (SELECT count(*) AS n FROM documents),
        |b AS (SELECT d.doc_id, d.n_chars, (10 * r.below) // n.n AS bin
        |      FROM documents d JOIN r USING (n_chars) CROSS JOIN n)
        |SELECT bin, count(*) AS n_docs,
        |  min(n_chars) AS lo_chars, max(n_chars) AS hi_chars,
        |  arg_min(doc_id, md5(doc_id::VARCHAR)) AS keeper_id
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select("doc_id", "n_chars")
      val h = docs.groupBy("n_chars").agg(count(lit(1)).as("c"))
      // domain-bounded cumulative rank (single-partition window over
      // the histogram, NOT the corpus — h has one row per distinct
      // n_chars value)
      val w = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
      val r = h.select(col("n_chars"),
        coalesce(sum("c").over(w), lit(0L)).as("below"))
      val n = docs.agg(count(lit(1)).as("n"))
      docs.join(broadcast(r), Seq("n_chars"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("n_chars"),
          expr("(10 * below) div n").as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("lo_chars"), max("n_chars").as("hi_chars"),
          min_by(col("doc_id"), md5(col("doc_id").cast("string")))
            .as("keeper_id"))
        .orderBy("bin")
    },

    // CCNet perplexity tiers (Wenzek 2020 §4.3): split each language's
    // corpus into head/middle/tail TERCILES of LM score — the standard
    // quality partition LLM pipelines train on (head = most in-domain).
    // The score is t15's gated per-doc bigram nll ROUNDED TO 4
    // DECIMALS, which is what makes the tier assignment scale-correct:
    // the rounded score has a bounded VALUE DOMAIN (a few hundred
    // thousand distinct values at any corpus size), so tier cutoffs
    // come from the t24 histogram machinery — ONE (lang, score)
    // aggregate, a cumulative window over that domain-sized table
    // (explicitly NOT a corpus window: no per-language corpus-wide
    // sort, which at 5 languages would also be maximally skewed), and
    // the rank table broadcasts back for a per-row integer tier
    // assign `(3·below) div n_lang` — ties share a tier, no float
    // comparison against an interpolated cutoff (the cross-engine
    // quantile_cont hazard). Docs with < 2 tokens have no bigrams and
    // are unscored on both sides.
    Q("t25_ppl_buckets",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS ts
        |  FROM documents),
        |uni AS (
        |  SELECT tok, count(*) AS c1
        |  FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY tok),
        |vv AS (SELECT count(*) AS v FROM uni),
        |bi AS (
        |  SELECT doc_id, lang, ts[i] AS w1, ts[i+1] AS w2
        |  FROM toks, unnest(range(1, len(ts))) AS t(i)
        |  WHERE len(ts) >= 2),
        |big AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
        |scored AS (
        |  SELECT b.doc_id, b.lang,
        |    -ln((g.c2 + 0.5) / (u.c1 + 0.5 * vv.v)) AS nll
        |  FROM bi b JOIN big g USING (w1, w2) JOIN uni u ON u.tok = b.w1
        |  CROSS JOIN vv),
        |doc AS (
        |  SELECT doc_id, lang, round(avg(nll), 4) AS nll
        |  FROM scored GROUP BY 1, 2),
        |hist AS (SELECT lang, nll, count(*) AS c FROM doc GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, nll,
        |    CAST(coalesce(sum(c) OVER (PARTITION BY lang ORDER BY nll
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below,
        |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
        |  FROM hist),
        |b AS (
        |  SELECT d.doc_id, d.lang, d.nll, (3 * r.below) // r.n_lang AS tier
        |  FROM doc d JOIN r USING (lang, nll))
        |SELECT lang,
        |  CASE tier WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |            ELSE 'tail' END AS bucket,
        |  count(*) AS n_docs, min(nll) AS lo_nll, max(nll) AS hi_nll,
        |  min(doc_id) AS sample_id
        |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin) {
      (s, d) => pplBuckets(s, d)
    },

    // The DISTRIBUTED-MODEL variants of t15 and t22 for corpora whose
    // vocabulary grows with the data (where broadcasting/collecting
    // the model would grow the driver): t15's switch now lands here
    // AUTOMATICALLY past the driver budget (see t15b), while t22's
    // guard still names t27's path by hand (NB's tiny model keeps
    // collect the right default — t27/t22 = 2.89 at sf1, SCALE.md).
    // Gated against the SAME oracle
    // text as their executor-memory twins (the q32 salted-aggregation
    // precedent: one semantic definition, two physical plans, both
    // hash-checked). Scale shape: the model tables stay DataFrames
    // end to end and scoring shuffle-joins the token keys — two
    // corpus-sized exchanges the default paths never pay, which is
    // why these are the fallback, not the default.
    Q("t26_lm_distributed", lmPerplexityOracle) { (s, d) =>
      lmPerplexityDistributed(s, d)
    },

    Q("t27_nb_distributed", nbClassifierOracle) { (s, d) =>
      nbClassifierDistributed(s, d)
    },

    // The LM model-path switch, BOTH sides in one gated query: the
    // default driver budget keeps the gate corpus's model on the
    // collect-and-broadcast path, while a forced 4-row budget pushes
    // the SAME call onto the distributed shuffle-join plan — each half
    // hash-gated against the one oracle definition (the q32 "one
    // semantic definition, two physical plans" precedent). The switch
    // is lmPerplexity's own: no caller chooses a path, the measured
    // model size does (PlanSpec pins LocalTableScans under the cap and
    // in-plan model aggregates over it).
    Q("t15b_lm_auto_switch",
      s"""SELECT 'collect' AS path, doc_id, n_bigrams, nll
         |FROM ($lmPerplexityOracle)
         |UNION ALL
         |SELECT 'distributed' AS path, doc_id, n_bigrams, nll
         |FROM ($lmPerplexityOracle)
         |ORDER BY path, doc_id""".stripMargin) { (s, d) =>
      def side(tag: String, df: DataFrame) =
        df.select(lit(tag).as("path"), col("doc_id"),
          col("n_bigrams"), col("nll"))
      // BOTH switch sides train over the same corpus, and neither plan
      // dedupes the scan+tokenize subtree across its own join branches
      // — uncut, the documents table is re-read and re-tokenized ~7×
      // inside this one query (collect side: 2 model probes + scoring;
      // distributed side: vv + the 3-way join's branches). Materialize
      // the (doc_id, ts) frame ONCE and hand it to both sides
      // (guide §5: in-query reuse of a shared subplan — same rows,
      // same partitioning, so every downstream aggregate sees its
      // input in the identical order and results stay bit-identical).
      // Lineage.cut keeps the full lineage visible in plan audits.
      val toks = Lineage.cut(Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("ts")))
      side("collect", lmPerplexity(s, d, toksOverride = Some(toks)))
        .unionAll(side("distributed",
          lmPerplexity(s, d, maxModelRows = 4, toksOverride = Some(toks))))
        .orderBy("path", "doc_id")
    },

    // Token-budget domain mixing — the corpus-assembly step after
    // curation: given a total token budget (¼ of corpus tokens here)
    // and sqrt-share mixing weights (the standard low-resource-language
    // upweighting: budget_l ∝ √tokens_l), take each language's
    // highest-quality documents (ttr DESC, doc_id tiebreak) until its
    // budget is exhausted. The per-language cumulative token count is
    // a groupedPrefixSum — range-partitioned two-phase, NOT a
    // window(PARTITION BY lang): at 100 TB one dominant language
    // would otherwise funnel through a single reducer task
    // (PlanSpec pins the plan Window-free). Budgets are computed in
    // pure 64-bit integer arithmetic with the overflow-safe split
    // u·(B div S) + (u·(B mod S)) div S, bit-identical to the
    // oracle's // and % — no floating-point boundary can flip a
    // document at any scale.
    Q("t28_token_budget_mix",
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_tokens,
        |    len(list_distinct(list_filter(string_split(text, ' '), t -> length(t) > 0)))::DOUBLE
        |      / len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS ttr
        |  FROM documents
        |  WHERE len(list_filter(string_split(text, ' '), t -> length(t) > 0)) > 0),
        |lt AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS t FROM tok GROUP BY lang),
        |u AS (SELECT lang, CAST(floor(sqrt(CAST(t AS DOUBLE))) AS BIGINT) AS u FROM lt),
        |tots AS (SELECT CAST(sum(t) AS BIGINT) // 4 AS b FROM lt),
        |us AS (SELECT CAST(sum(u) AS BIGINT) AS s FROM u),
        |bud AS (SELECT lang, u * (b // s) + (u * (b % s)) // s AS budget
        |  FROM u, tots, us),
        |ord AS (SELECT doc_id, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY ttr DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS cum_before
        |  FROM tok)
        |SELECT o.doc_id, o.lang, o.n_tokens, o.cum_before
        |FROM ord o JOIN bud b ON o.lang = b.lang
        |WHERE o.cum_before < b.budget
        |ORDER BY o.doc_id""".stripMargin) { (s, d) =>
      tokenBudgetMix(s, d)
    }
  )

  /** t25 — see the registry comment for the tercile semantics. Model
    * path is COST-BASED like [[lmPerplexity]]'s (the t15b switch):
    * collect-and-broadcast while the bigram/unigram tables fit the
    * `maxModelRows` driver budget, the distributed shuffle-join
    * scorer once they don't — no human fallback step, no loud guard;
    * the bounded probe IS the fast path's training collect, so below
    * the cap nothing is wasted. Both sides feed the SAME tercile
    * machinery, so the switch only changes the scoring plan, never
    * the buckets (spec-pinned equal in TrainingDataOpsSpec). */
  private[rel] def pplBuckets(s: SparkSession, d: String,
      maxModelRows: Int = LmMaxModelRows): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("ts"))
    val uni = toks.select(explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val bi = toks.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("lang"), explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1))).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.0").as("w1"), col("bg.1").as("w2"))
    val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // t15's scoring pass, with lang riding the doc key; model path
    // chosen by the measured model size (see scaladoc)
    val scored = lmTryCollectModel(s, big, uni, maxModelRows) match {
      case Some((bigL, uniL, v)) =>
        bi.join(broadcast(bigL), Seq("w1", "w2"))
          .join(broadcast(uniL.withColumnRenamed("tok", "w1")), Seq("w1"))
          .select(col("doc_id"), col("lang"),
            (-log((col("c2") + 0.5) / (col("c1") + lit(v) * 0.5)))
              .as("nll"))
      case None =>
        bi.join(big, Seq("w1", "w2"))
          .join(uni.withColumnRenamed("tok", "w1"), Seq("w1"))
          .crossJoin(broadcast(uni.agg(count(lit(1)).as("v"))))
          .select(col("doc_id"), col("lang"),
            (-log((col("c2") + 0.5) / (col("c1") + col("v") * 0.5)))
              .as("nll"))
    }
    // The per-doc score frame feeds BOTH the histogram (broadcast
    // back) and the final tier join, and AQE does NOT reuse the
    // shared exchange across the broadcast boundary here (measured
    // on the executed plan: 0 ReusedExchange, 2 corpus scans) — so
    // without a cut the corpus tokenize/explode/score runs once
    // PER CONSUMER. Cut it: the materialized frame is one narrow
    // row per document (doc_id, lang, nll — the t13 class), cheap
    // at any scale, and the explode drops from 2 passes to 1.
    val doc = Lineage.cut(scored
      .groupBy("doc_id", "lang")
      .agg(round(avg(col("nll")), 4).as("nll")))
    // domain-bounded score histogram + cumulative rank (the t24
    // class — the window runs over the histogram, not the corpus)
    val hist = doc.groupBy("lang", "nll").agg(count(lit(1)).as("c"))
    val wBelow = Window.partitionBy("lang").orderBy("nll")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wLang = Window.partitionBy("lang")
    val r = hist.select(col("lang"), col("nll"),
      coalesce(sum("c").over(wBelow), lit(0L)).as("below"),
      sum("c").over(wLang).as("n_lang"))
    doc.join(broadcast(r), Seq("lang", "nll"))
      .select(col("doc_id"), col("lang"), col("nll"),
        expr("(3 * below) div n_lang").as("tier"))
      .groupBy(col("lang"),
        when(col("tier") === 0, "head")
          .when(col("tier") === 1, "middle")
          .otherwise("tail").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min("nll").as("lo_nll"), max("nll").as("hi_nll"),
        min("doc_id").as("sample_id"))
      .orderBy("lang", "bucket")
  }

  /** t28 — see the registry comment. The oracle's window formulation
    * IS the semantic definition; this is the scale-shaped plan: one
    * corpus scan into (n_tokens, ttr), a lang-keyed aggregate for the
    * sqrt-share budgets (langs-many rows — broadcasts), and the
    * two-phase [[ScaleOps.groupedPrefixSum]] for the per-lang running
    * token count. */
  private[rel] def tokenBudgetMix(s: SparkSession, d: String): DataFrame = {
    val w = tokens(col("text"))
    // cut HERE, at the tokenize boundary: tok is 4 narrow columns
    // (the text never survives the projection), and it has TWO
    // corpus-pass consumers — the budget aggregate and the prefix
    // sum's range partition. Uncut, each re-runs the tokenize (the
    // dominant per-row cost); cut, the corpus splits text exactly
    // once and every consumer reads doc-count-sized narrow rows.
    val tok = Lineage.cut(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), w.as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("lang"),
        size(col("w")).cast("long").as("n_tokens"),
        // one division of exact integers — bit-identical across
        // engines (the t02 note), so the ORDER the cumsum follows
        // cannot diverge from the oracle's
        (size(array_distinct(col("w"))).cast("double") / size(col("w")))
          .as("ttr")))
    // langs-sized (5 rows at any sf) — cut so the budget arithmetic's
    // THREE consumers (u, total, u-sum) reuse one materialization
    // instead of re-running the aggregate each
    val lt = Lineage.cut(tok.groupBy("lang").agg(sum("n_tokens").as("t")))
    val u = Lineage.cut(lt.select(col("lang"),
      floor(sqrt(col("t").cast("double"))).as("u")))
    val budgets = u
      .crossJoin(broadcast(lt.agg(expr("sum(t) div 4").as("b"))))
      .crossJoin(broadcast(u.agg(sum(col("u")).as("s"))))
      .select(col("lang"),
        // overflow-safe ⌊B·u/S⌋: u·(B div S) + ⌊u·(B mod S)/S⌋ —
        // u·(B mod S) ≤ u·S which is ~(√T)² = T, far under 2⁶³ even
        // at 100 TB, where the naive B·u product would overflow
        (col("u") * expr("b div s") + expr("(u * (b % s)) div s"))
          .as("budget"))
    val cum = ScaleOps.groupedPrefixSum(tok, "lang",
      Seq(col("ttr").desc, col("doc_id")), "n_tokens")
    cum.join(broadcast(budgets), Seq("lang"))
      .filter(col("cum_before") < col("budget"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"))
      .orderBy("doc_id")
  }

  private[rel] val DsirBuckets = 128

  /** Per-thread gram→bucket memo: gram frequencies are Zipfian, so
    * the md5 work per OCCURRENCE collapses to md5 work per DISTINCT
    * gram (Heaps'-law bounded — the t15/t22 model-table class). Capped
    * so an adversarial vocabulary can't grow executor memory
    * unboundedly; on overflow we just hash uncached. The cache lives
    * only as long as the TASK that benefits from it: the first call
    * inside a task registers a completion listener that clears the
    * map, so long-lived executor threads don't retain up to ~1M gram
    * strings each for the process lifetime after t23 finishes. */
  private final class DsirMemo {
    var taskId: Long = -1L
    val map = new java.util.HashMap[String, Integer]()
  }
  private val dsirBucketMemo = new ThreadLocal[DsirMemo] {
    override def initialValue() = new DsirMemo
  }
  private val DsirMemoCap = 1 << 20

  /** The whole DSIR feature extraction folded INTO the row: hashed
    * unigram+bigram bucket counts as a length-128 array, so the corpus
    * never explodes into (doc, gram) rows and NO corpus-sized shuffle
    * ever forms. bucket(g) = the first 4 md5 bytes as an unsigned int
    * mod 128 — bit-identical to the oracle's
    * ('0x'||substr(md5(g),1,8))::BIGINT % 128, via [[Dedup.md5Hash64]]
    * (first 8 md5 bytes big-endian; >>> 32 keeps the first 4 unsigned)
    * rather than a second digest stack. */
  private[rel] def dsirCounts(text: String): Array[Long] = {
    val holder = dsirBucketMemo.get()
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null && holder.taskId != tc.taskAttemptId()) {
      holder.taskId = tc.taskAttemptId()
      tc.addTaskCompletionListener[Unit] { _ =>
        holder.map.clear(); holder.taskId = -1L
      }
    }
    val memo = holder.map
    def bucket(g: String): Int = {
      val hit = memo.get(g)
      if (hit != null) hit.intValue()
      else {
        val b = ((Dedup.md5Hash64(g) >>> 32) % DsirBuckets).toInt
        if (memo.size < DsirMemoCap) memo.put(g, b)
        b
      }
    }
    val toks = text.split(' ').filter(_.nonEmpty)
    val c = new Array[Long](DsirBuckets)
    toks.foreach(t => c(bucket(t)) += 1)
    var i = 0
    while (i < toks.length - 1) {
      c(bucket(toks(i) + " " + toks(i + 1))) += 1
      i += 1
    }
    c
  }

  /** t23's scorer (see the registry comment for the scale shape);
    * exposed so TextOpsSpec can drive the top-k resampling stage on
    * the same frame. */
  private[rel] def dsirScores(s: SparkSession, d: String): DataFrame = {
    val countsUdf = udf { (text: String) => dsirCounts(text) }
    val docs = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), countsUdf(col("text")).as("cnt"))
    // PASS 1 — the λ table: ONE fused aggregate over the posexploded
    // per-row counts (raw and target conditioned on lang in the same
    // pass). posexplode is CPU, not shuffle: the groupBy has 128
    // groups, so map-side partial combine collapses everything to
    // ≤ 128 rows per partition before the (only) tiny exchange.
    // The table is 128 rows — bounded driver state (the d15 class) —
    // and λ derives on the driver with the same Math.log the codegen
    // path used.
    val bt = docs
      .select(col("lang"), posexplode(col("cnt")).as(Seq("b", "n")))
      .groupBy("b").agg(sum("n").as("rc"),
        sum(when(col("lang") === "en", col("n")).otherwise(0L)).as("tc"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val rTot = bt.map(_._2).sum.toDouble
    val tTot = bt.map(_._3).sum.toDouble
    val lam = new Array[Double](DsirBuckets)
    bt.foreach { case (b, rc, tc) =>
      lam(b) = math.log((tc + 0.5) * (rTot + 64.0)) -
        math.log((rc + 0.5) * (tTot + 64.0))
    }
    // PASS 2 — per-row score: a fixed-order dot product of the count
    // array with the broadcast λ. No doc-keyed aggregate exists at
    // all; the only shuffle in the whole query is the caller's
    // presentation sort. (Was: a (doc, bucket) groupBy + a doc-keyed
    // re-aggregate — two corpus-sized shuffles; measured 75s → this
    // shape at the 100× probe.)
    val bcLam = s.sparkContext.broadcast(lam)
    val scoreUdf = udf { (cnt: Seq[Long]) =>
      val l = bcLam.value
      var n = 0L
      var w = 0.0
      var b = 0
      while (b < l.length) { n += cnt(b); w += cnt(b) * l(b); b += 1 }
      // HALF_UP — the mode Spark's round() codegen applies, which the
      // previous green record was gated under
      (n, BigDecimal(w).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    }
    docs.select(col("doc_id"), scoreUdf(col("cnt")).as("sc"))
      .select(col("doc_id"), col("sc._1").as("n_grams"),
        col("sc._2").as("logw"))
      .filter(col("n_grams") > 0)
  }

  /** t22's oracle — shared verbatim by t27, the distributed-model
    * variant (same precedent as [[lmPerplexityOracle]]). */
  private lazy val nbClassifierOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
      |    t -> length(t) > 0)) AS tok
      |  FROM documents WHERE text IS NOT NULL),
      |lab0 AS (
      |  SELECT doc_id, CASE WHEN sum(CASE WHEN tok = 'hash' THEN 1 ELSE 0 END)
      |                    > sum(CASE WHEN tok = 'sort' THEN 1 ELSE 0 END)
      |                 THEN 1 ELSE 0 END AS label
      |  FROM toks GROUP BY 1),
      |lab AS (
      |  SELECT d.doc_id, coalesce(l.label, 0) AS label
      |  FROM documents d LEFT JOIN lab0 l ON d.doc_id = l.doc_id),
      |tr AS (SELECT * FROM lab WHERE doc_id % 2 = 0),
      |te AS (SELECT * FROM lab WHERE doc_id % 2 = 1),
      |cls AS (SELECT
      |  CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |  CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      |  FROM tr),
      |tc AS (SELECT t.tok,
      |  CAST(sum(CASE WHEN l.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |  CAST(sum(CASE WHEN l.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM toks t JOIN tr l ON t.doc_id = l.doc_id GROUP BY 1),
      |tot AS (SELECT CAST(sum(c0) AS BIGINT) AS t0,
      |        CAST(sum(c1) AS BIGINT) AS t1,
      |        CAST(count(*) AS BIGINT) AS v FROM tc),
      |model AS (SELECT tok,
      |  (ln(c1 + 1.0) - ln((SELECT t1 + v FROM tot)))
      |  - (ln(c0 + 1.0) - ln((SELECT t0 + v FROM tot))) AS delta FROM tc),
      |sc AS (SELECT te.doc_id, te.label,
      |  (SELECT ln(n1) - ln(n0) FROM cls) + coalesce(sum(m.delta), 0.0)
      |    AS total
      |  FROM te
      |  LEFT JOIN toks tk ON te.doc_id = tk.doc_id
      |  LEFT JOIN model m ON tk.tok = m.tok
      |  GROUP BY 1, 2)
      |SELECT label, CASE WHEN total > 0 THEN 1 ELSE 0 END AS pred,
      |  count(*) AS n_docs
      |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** t15's oracle — shared verbatim by t26, the distributed-model
    * variant: one semantic definition gates both physical plans (the
    * q32 salted-aggregation precedent). */
  private lazy val lmPerplexityOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS ts
      |  FROM documents),
      |uni AS (
      |  SELECT tok, count(*) AS c1
      |  FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY tok),
      |vv AS (SELECT count(*) AS v FROM uni),
      |bi AS (
      |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      |  FROM toks, unnest(range(1, len(ts))) AS t(i)
      |  WHERE len(ts) >= 2),
      |big AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
      |scored AS (
      |  SELECT b.doc_id, -ln((g.c2 + 0.5) / (u.c1 + 0.5 * vv.v)) AS nll
      |  FROM bi b JOIN big g USING (w1, w2) JOIN uni u ON u.tok = b.w1
      |  CROSS JOIN vv)
      |SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 4) AS nll
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Driver budget for the t15/t25 bigram-LM model tables: ~4M
    * distinct bigrams/unigrams (~150 MB of (w1, w2, c2) rows) —
    * Heaps'-bounded real corpora sit orders of magnitude below this,
    * far below driver OOM. Overridable so the guard is spec-testable
    * (the [[NbMaxVocab]] discipline). */
  private[rel] val LmMaxModelRows = 1 << 22

  /** Collect-once bounded materialization of the bigram-LM model
    * tables, reporting an over-cap model as None — the probe half of
    * the cost-based model-path switch BOTH LM consumers now run
    * ([[lmPerplexity]] and [[pplBuckets]]; the old throwing variant
    * that named the fallback in an error message is retired — the
    * switch just takes it). Each table is pulled through
    * `limit(cap+1).collect()`, so the corpus-exploded aggregate
    * underneath it runs EXACTLY ONCE and the driver holds at most
    * cap+1 rows no matter how large the corpus is; below the cap the
    * model is exact (the limit drops nothing) and this collect IS the
    * fast path's training work — nothing is wasted. The collected
    * rows come back as LocalRelations, so the scoring joins broadcast
    * them without re-planning the aggregate lineage, and the
    * vocabulary size falls out of the collected unigram count. An
    * adversarial corpus (e.g. no-space text, one giant token per
    * doc → every adjacent pair unique) makes `big` grow LINEARLY with
    * the corpus: that lands on None here and the caller plans the
    * distributed shuffle-join scorer instead. */
  private[rel] def lmTryCollectModel(s: SparkSession, big: DataFrame,
      uni: DataFrame, maxRows: Int = LmMaxModelRows)
      : Option[(DataFrame, DataFrame, Long)] = {
    import s.implicits._
    def bounded(df: DataFrame) = {
      val rows = df.limit(maxRows + 1).collect()
      if (rows.length <= maxRows) Some(rows) else None
    }
    for {
      bigRows <- bounded(big)
      uniRows <- bounded(uni)
    } yield {
      val bigL = bigRows
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        .toDF("w1", "w2", "c2")
      val uniL = uniRows.map(r => (r.getString(0), r.getLong(1))).toSeq
        .toDF("tok", "c1")
      (bigL, uniL, uniRows.length.toLong)
    }
  }

  /** Shared t15 trainer lineage over the documents table:
    * (uni (tok, c1), bi (doc_id, w1, w2), big (w1, w2, c2)).
    * `toksOverride` lets a caller that plans the trainer MORE THAN
    * ONCE over the same corpus (t15b runs both switch sides) hand in
    * a pre-materialized (doc_id, ts) frame, so the parquet scan +
    * tokenize pass is paid once instead of once per subplan leg. */
  private def lmFrames(s: SparkSession, d: String,
      toksOverride: Option[DataFrame])
      : (DataFrame, DataFrame, DataFrame) = {
    val toks = toksOverride.getOrElse(Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("ts")))
    val uni = toks.select(explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val bi = toks.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1))).as("bg"))
      .select(col("doc_id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
    val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    (uni, bi, big)
  }

  /** The t15 trainer+scorer (see the registry comment for the scale
    * shape and the rounding-margin analysis), with a COST-BASED model
    * path: collect-and-broadcast while the model fits the
    * `maxModelRows` driver budget (the Heaps'-bounded common case —
    * zero corpus-sized exchanges), [[lmPerplexityDistributed]]'s
    * shuffle-join plan once it doesn't. The decision is exact, not
    * heuristic: the bounded probe IS the fast path's training collect
    * (below the cap nothing is wasted), and above the cap the sf1
    * measurement already showed the distributed plan is the CHEAPER
    * one (t26/t15 = 0.75, SCALE.md) — so the one probe-priced
    * aggregate pass the switch costs there buys the plan that wins in
    * exactly that regime. No human fallback step remains. */
  private[rel] def lmPerplexity(s: SparkSession, d: String,
      maxModelRows: Int = LmMaxModelRows,
      toksOverride: Option[DataFrame] = None): DataFrame = {
    val (uni, bi, big) = lmFrames(s, d, toksOverride)
    lmTryCollectModel(s, big, uni, maxModelRows) match {
      case Some((bigL, uniL, v)) =>
        bi.join(broadcast(bigL), Seq("w1", "w2"))
          .join(broadcast(uniL.withColumnRenamed("tok", "w1")), Seq("w1"))
          .select(col("doc_id"),
            (-log((col("c2") + 0.5) / (col("c1") + lit(v) * 0.5))).as("nll"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg(col("nll")), 4).as("nll"))
          .orderBy("doc_id")
      case None =>
        lmPerplexityDistributed(s, d, toksOverride)
    }
  }

  /** The distributed-model variant of [[lmPerplexity]] — the slow
    * side of the cost-based switch. Identical trainer and
    * scoring arithmetic, but the (w1,w2,c2)/(tok,c1) model tables
    * stay DataFrames end to end: scoring is two shuffle joins on the
    * token keys ((w1,w2), then w1) plus a broadcast of the single-row
    * vocabulary count, so nothing on the driver scales with the
    * model — the right shape once the model outgrows the
    * [[LmMaxModelRows]] budget (a corpus whose vocabulary is NOT
    * Heaps'-bounded). Costs two exchanges of the corpus-sized
    * exploded bigram frame where the collect path has none, which is
    * why it is the fallback, not the default. Spec-pinned equal to
    * [[lmPerplexity]] on the gate corpus (TrainingDataOpsSpec). */
  private[rel] def lmPerplexityDistributed(s: SparkSession, d: String,
      toksOverride: Option[DataFrame] = None): DataFrame = {
    val (uni, bi, big) = lmFrames(s, d, toksOverride)
    val vv = uni.agg(count(lit(1)).as("v"))
    bi.join(big, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("tok", "w1"), Seq("w1"))
      .crossJoin(broadcast(vv))
      .select(col("doc_id"),
        (-log((col("c2") + 0.5) / (col("c1") + col("v") * 0.5))).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("nll")), 4).as("nll"))
      .orderBy("doc_id")
  }

  /** The t22 trainer+scorer (see the registry comment for the scale
    * shape). Formula parity with the oracle is EXACT term-for-term:
    * prior ln(n1)-ln(n0), per-token delta
    * [ln(c1+1)-ln(T1+V)] - [ln(c0+1)-ln(T0+V)], unknown test tokens
    * ignored (standard multinomial NB practice) — only summation
    * order differs, which the margin guard makes irrelevant. */
  /** Driver-side model cap for [[nbClassifier]]: ~4M distinct tokens
    * (~100 MB of (tok, c0, c1) rows) — an order of magnitude above the
    * Heaps'-law vocabulary of a web-scale corpus, far below driver
    * OOM. Overridable so the guard itself is spec-testable. */
  private[rel] val NbMaxVocab = 1 << 22

  private[rel] def nbClassifier(s: SparkSession, d: String,
      maxVocab: Int = NbMaxVocab): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // TRAINING = ONE corpus pass: the class priors ride the same
    // vocab-bounded (tok, class-count) shuffle as the model counts,
    // keyed by a SENTINEL pseudo-token emitted once per doc. The
    // sentinel contains a SPACE, which no real token can (tokens are
    // the non-empty pieces of a split on space) — disjoint from the
    // token domain by construction, not by luck. NULL-text docs emit
    // just the sentinel, so they still count toward their class.
    // The aggregate is COLLECTED — the vocabulary is Heaps'-law
    // bounded (t15/t18's model-table class; ~1M tokens × 24 B at web
    // scale, the d15-bloom order of driver state); totals, smoothing
    // terms, and log-odds all derive from this one result. The collect
    // is GUARDED (the boundedIdCollect discipline): it pulls at most
    // NbMaxVocab+1 rows via limit(), so a pathological corpus whose
    // "vocabulary" grows with the corpus (e.g. no spaces → one unique
    // token per doc) fails FAST with the fallback named instead of
    // silently OOMing the driver. Below the cap the model is exact
    // (limit over the full aggregate drops nothing).
    val Sentinel = "per doc"
    val all = docs.filter(col("doc_id") % 2 === 0)
      .select(col("text")).as[String]
      .mapPartitions(_.flatMap { text =>
        val (toks, label) = nbTokensAndLabel(text)
        Iterator.single((Sentinel, label)) ++
          toks.iterator.map(t => (t, label))
      })
      .toDF("tok", "label")
      .groupBy("tok").agg(
        sum(when(col("label") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("label") === 1L, 1L).otherwise(0L)).as("c1"))
      .limit(maxVocab + 2)
      .collect()
    // budget check: collected rows = distinct tokens + 1 sentinel row,
    // so a corpus with exactly maxVocab tokens is still within cap
    // COST-BASED switch (the t15b/t25 discipline, uniformly applied):
    // an over-cap vocabulary means the corpus is not Heaps'-bounded,
    // so the model cannot live on the driver — plan the distributed
    // shuffle-join scorer instead of throwing. The bounded collect
    // above IS the probe (≤ cap+2 driver rows at any corpus size);
    // below the cap nothing is wasted — it is the training work.
    if (all.length > maxVocab + 1) return nbClassifierDistributed(s, d)
    val sent = all.find(_.getString(0) == Sentinel).getOrElse(
      sys.error("t22: empty training half — no class priors"))
    val (n0, n1) = (sent.getLong(1), sent.getLong(2))
    require(n0 > 0 && n1 > 0,
      s"t22 needs both classes in the training half (n0=$n0, n1=$n1) — " +
        "a one-class prior has no decision boundary to gate")
    val counts = all.filter(_.getString(0) != Sentinel)
    require(counts.nonEmpty, "t22: empty training vocabulary")
    val t0 = counts.map(_.getLong(1)).sum
    val t1 = counts.map(_.getLong(2)).sum
    val v = counts.length
    val priorDelta = math.log(n1.toDouble) - math.log(n0.toDouble)
    // per-token log-odds, same formula terms as the oracle
    // (ln(c+1) − ln(T+V) per class — only summation order differs,
    // which the margin guard absorbs)
    val lt0 = math.log((t0 + v).toDouble)
    val lt1 = math.log((t1 + v).toDouble)
    val delta: Map[String, Double] = counts.map { r =>
      r.getString(0) ->
        ((math.log(r.getLong(2) + 1.0) - lt1) -
          (math.log(r.getLong(1) + 1.0) - lt0))
    }.toMap
    val bc = s.sparkContext.broadcast(delta)
    // scoring: the fastText serving shape — model in executor memory,
    // ONE narrow pass over the test half (no token explode, no join,
    // no doc-keyed shuffle; only the 4-cell confusion aggregate
    // shuffles). Unknown tokens are ignored (standard multinomial NB).
    // The decision is fail-fast (q40 discipline): a margin inside
    // libm-replay + summation-order reach refuses loudly instead of
    // hash-flipping; exact zero with zero known tokens is the
    // deterministic balanced-prior case (ln(n)-ln(n) == 0 in both
    // engines) -> pred 0.
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("text")).as[String]
      .mapPartitions { it =>
        val m = bc.value
        it.map { text =>
          val (toks, label) = nbTokensAndLabel(text)
          var total = priorDelta
          var known = 0L
          toks.foreach { t =>
            m.get(t) match {
              case Some(dl) => total += dl; known += 1
              case None =>
            }
          }
          require(known == 0L || math.abs(total) > 1e-6,
            f"t22 decision margin $total%.3e within 1e-6 of the boundary — " +
              "cross-engine argmax no longer safe; widen smoothing or drop the doc")
          (label, if (total > 0) 1L else 0L)
        }
      }
      .toDF("label", "pred")
      .groupBy("label", "pred")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("label", "pred")
  }

  /** The distributed-model variant of [[nbClassifier]] — the escape
    * hatch its vocab guard names. Same trainer aggregate and the same
    * term-for-term formula, but the (tok, c0, c1) model table stays a
    * DataFrame end to end: only the FIXED-SIZE scalars every term
    * needs (class priors from the sentinel row; totals + vocab size
    * from one 1-row aggregate) are collected, so driver state is O(1)
    * no matter how large the vocabulary grows. Scoring explodes the
    * test half to (doc, tok) and shuffle-joins the token keys against
    * the per-token log-odds table, re-aggregating per doc — the shape
    * that survives a non-Heaps' vocabulary at 100 TB, at the cost of
    * a corpus-sized exchange the executor-memory model path never
    * pays. Per-doc sums associate in shuffle order rather than doc
    * order; the same 1e-6 decision-margin guard that already covers
    * libm/summation reach makes the argmax refuse loudly instead of
    * flipping, so the confusion matrix is spec-pinned identical to
    * [[nbClassifier]] on the gate corpus (TrainingDataOpsSpec). */
  private[rel] def nbClassifierDistributed(s: SparkSession, d: String)
      : DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val Sentinel = "per doc"
    val model = docs.filter(col("doc_id") % 2 === 0)
      .select(col("text")).as[String]
      .mapPartitions(_.flatMap { text =>
        val (toks, label) = nbTokensAndLabel(text)
        Iterator.single((Sentinel, label)) ++
          toks.iterator.map(t => (t, label))
      })
      .toDF("tok", "label")
      .groupBy("tok").agg(
        sum(when(col("label") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("label") === 1L, 1L).otherwise(0L)).as("c1"))
    val sentRow = model.filter(col("tok") === Sentinel)
      .select(col("c0"), col("c1")).collect()
    require(sentRow.nonEmpty,
      "t22 distributed: empty training half — no class priors")
    val (n0, n1) = (sentRow(0).getLong(0), sentRow(0).getLong(1))
    require(n0 > 0 && n1 > 0,
      s"t22 needs both classes in the training half (n0=$n0, n1=$n1) — " +
        "a one-class prior has no decision boundary to gate")
    val tots = model.filter(col("tok") =!= Sentinel)
      .agg(sum("c0").as("t0"), sum("c1").as("t1"), count(lit(1)).as("v"))
      .collect()(0)
    require(!tots.isNullAt(0), "t22 distributed: empty training vocabulary")
    val (t0, t1, v) = (tots.getLong(0), tots.getLong(1), tots.getLong(2))
    val priorDelta = math.log(n1.toDouble) - math.log(n0.toDouble)
    val lt0 = math.log((t0 + v).toDouble)
    val lt1 = math.log((t1 + v).toDouble)
    val delta = model.filter(col("tok") =!= Sentinel)
      .select(col("tok"),
        ((log(col("c1") + 1.0) - lt1) - (log(col("c0") + 1.0) - lt0))
          .as("dl"))
    val test = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val (toks, label) = nbTokensAndLabel(text)
        (id, toks, label)
      })
      .toDF("doc_id", "toks", "label")
    // unknown test tokens drop at the inner join (ignored, as in the
    // executor-memory path); docs whose every token is unknown — or
    // that have none — come back through the left join with known=0,
    // the deterministic balanced-prior case both engines agree on
    val scored = test
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(delta, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum("dl").as("sdl"), count(lit(1)).as("known"))
    test.join(scored, Seq("doc_id"), "left")
      .select(col("label"),
        (lit(priorDelta) + coalesce(col("sdl"), lit(0.0))).as("total"),
        coalesce(col("known"), lit(0L)).as("known"))
      .as[(Long, Double, Long)]
      .map { case (label, total, known) =>
        require(known == 0L || math.abs(total) > 1e-6,
          f"t22 decision margin $total%.3e within 1e-6 of the boundary — " +
            "cross-engine argmax no longer safe; widen smoothing or drop the doc")
        (label, if (total > 0) 1L else 0L)
      }
      .toDF("label", "pred")
      .groupBy("label", "pred")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("label", "pred")
  }

  /** t22's teacher heuristic + tokenizer, compiled: one split, one
    * loop per doc. Semantics identical to the oracle's
    * `count(tok='hash') > count(tok='sort')` over the non-empty
    * space-split tokens (NULL text → no tokens → label 0). The
    * declarative version (explode + higher-order-function label) was
    * measured 6x slower: CollapseProject inlines the label expression
    * into the post-Generate projection, re-evaluating the two array
    * filters once per exploded TOKEN instead of once per doc. */
  private def nbTokensAndLabel(text: String): (Array[String], Long) = {
    val toks =
      if (text == null) Array.empty[String]
      else text.split(" ").filter(_.nonEmpty)
    var h = 0; var so = 0
    toks.foreach { t =>
      if (t == "hash") h += 1 else if (t == "sort") so += 1
    }
    (toks, if (h > so) 1L else 0L)
  }

  /** The unrolled-CTE oracle for [[bpeTrainMerges]]: one
    * (pairs → top1 → rewritten-vocab) CTE triple per merge round,
    * chained. Kept as generated SQL — 8 hand-written copies of the
    * same round would be the error-prone version of this loop. */
  private def bpeMergesOracleSql(merges: Int): String = {
    val sep = "chr(31)"
    val head =
      s"""WITH w AS (SELECT unnest(list_filter(string_split(text, ' '),
         |    t -> length(t) > 0)) AS word FROM documents),
         |v0 AS (SELECT regexp_replace(word, '(.)', $sep || '\\1', 'g') AS w,
         |       CAST(count(*) AS BIGINT) AS f FROM w GROUP BY 1)""".stripMargin
    val rounds = (1 to merges).map { i =>
      s""",
         |p$i AS (SELECT s[i] AS l, s[i + 1] AS r, CAST(sum(f) AS BIGINT) AS freq
         |  FROM (SELECT list_filter(string_split(w, $sep), x -> length(x) > 0) AS s, f
         |        FROM v${i - 1}) sub,
         |       unnest(generate_series(1, len(s) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |t$i AS (SELECT l, r, freq FROM p$i ORDER BY freq DESC, l, r LIMIT 1),
         |v$i AS (SELECT replace(v.w, $sep || t.l || $sep || t.r,
         |                $sep || t.l || t.r) AS w, v.f FROM v${i - 1} v, t$i t)""".stripMargin
    }.mkString
    val selects = (1 to merges).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_no, l, r, freq,
         |  (SELECT CAST(sum((length(w) - length(replace(w, $sep, ''))) * f) AS BIGINT)
         |   FROM v$i) AS symbols_after FROM t$i""".stripMargin
    }.mkString("\nUNION ALL ")
    s"$head$rounds\n$selects\nORDER BY merge_no"
  }

  /** One-row training contract for t21 (see the registry comment).
    * Returns (first merge exactly, merges_done, monotone flag,
    * compression flag); the full merge list is exposed via
    * [[bpeTrainMerges]] for the spec's exact driver replay. */
  private[rel] def bpeTrainContract(s: SparkSession, d: String,
      merges: Int): DataFrame = {
    import s.implicits._
    val ms = bpeTrainMerges(s, d, merges)
    require(ms.nonEmpty, "BPE training found no mergeable pair")
    val monotone = ms.map(_._3).sliding(2).forall {
      case Seq(a, b) => b <= a
      case _         => true
    }
    // compression: total symbols after the merges < initial char count
    Seq((ms.head._1, ms.head._2, ms.head._3, ms.length.toLong,
        if (monotone) 1L else 0L, if (ms.last._4 < ms.head._5) 1L else 0L))
      .toDF("first_left", "first_right", "first_freq", "merges_done",
        "freq_monotone_ok", "tokens_reduced_ok")
  }

  /** The distributed BPE trainer: returns the learned merge list as
    * (left, right, pairFreq, symbolsAfter, symbolsBefore) per round.
    * wordCounts is materialized ONCE (the only corpus-scale shuffle);
    * each round's pair aggregate and argmax run on the vocab-bounded
    * symbolized frame. */
  private[rel] def bpeTrainMerges(s: SparkSession, d: String,
      merges: Int): Seq[(String, String, Long, Long, Long)] = {
    val wc = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("f"))
      // direct localCheckpoint (the d07 driver-loop precedent): the
      // trainer is a genuine driver-side fixpoint — materialization is
      // semantics here, not an optimization, so it stays on in the
      // plan-audit context too (vocab-bounded; corpus never re-read)
      .localCheckpoint()
    // symbols: the word as a char-split array, rewritten per round
    // CODEPOINT split (not UTF-16 units) — the oracle's substr is
    // character-based, so surrogate pairs must stay whole on both sides
    val splitChars = udf { (w: String) =>
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    }
    var sym = wc.select(col("f"), splitChars(col("word")).as("syms"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long, Long)]
    // symbol-count bookkeeping: computed once up front, then carried
    // forward — round n's "after" IS round n+1's "before" (recomputing
    // it was one redundant aggregate per round)
    var symbolsBefore = sym
      .agg(sum(size(col("syms")) * col("f"))).head().getLong(0)
    var round = 0
    while (round < merges) {
      // adjacent-pair counts over the vocab-bounded frame
      val pairCounts = sym
        .select(col("f"), col("syms"), posexplode(col("syms")).as(Seq("i", "l")))
        .withColumn("r", get(col("syms"), col("i") + 1))
        .filter(col("r").isNotNull)
        .groupBy("l", "r").agg(sum("f").as("freq"))
      val top = pairCounts
        .orderBy(col("freq").desc, col("l"), col("r")).limit(1).collect()
      if (top.isEmpty) { round = merges }
      else {
        val (l, r, freq) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val mergeUdf = udf { (syms: Seq[String]) =>
          val b = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              b += (l + r); i += 2
            } else { b += syms(i); i += 1 }
          }
          b.toArray
        }
        val next = sym.select(col("f"), mergeUdf(col("syms")).as("syms"))
          .localCheckpoint()
        val symbolsAfter = next
          .agg(sum(size(col("syms")) * col("f"))).head().getLong(0)
        out += ((l, r, freq, symbolsAfter, symbolsBefore))
        symbolsBefore = symbolsAfter
        sym = next
        round += 1
      }
    }
    out.toSeq
  }

  // ---- BM25 internals (shared by t18 and s09's hybrid fusion) ----------

  // a def, not a val: referenced from `all`'s construction above, and
  // object vals initialize in declaration order (a val here would be
  // null at that point)
  private[rel] def Bm25Terms: Seq[String] = Seq("spark", "table", "vector")

  /** DuckDB CTE chain producing `d` (doc_id, dl, tf_*) and `stats`
    * (n, sumdl, df_*) — the textual single source of truth for every
    * BM25 oracle (t18's presentation, s09's sparse ranklist). */
  private[rel] def bm25OracleCtes: String = {
    val tfCols = Bm25Terms.map(t => s"len(list_filter(w, t -> t = '$t')) AS tf_$t")
    s"""toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
       |  FROM documents),
       |stats AS (
       |  SELECT count(*)::DOUBLE AS n, sum(len(w))::DOUBLE AS sumdl,
       |    ${Bm25Terms.map(t => s"count(*) FILTER (list_contains(w, '$t'))::DOUBLE AS df_$t").mkString(",\n    ")}
       |  FROM toks),
       |d AS (SELECT doc_id, len(w)::DOUBLE AS dl,
       |    ${tfCols.mkString(",\n    ")}
       |  FROM toks)""".stripMargin
  }

  /** The fixed-order BM25 contribution sum as DuckDB SQL over d×stats. */
  private[rel] def bm25ScoreSql: String =
    Bm25Terms.map(t =>
      s"""ln((n - df_$t + 0.5) / (df_$t + 0.5) + 1.0)
         |   * (tf_$t * 2.2)
         |   / (tf_$t + 1.2 * (0.25 + 0.75 * (dl / (sumdl / n))))""".stripMargin)
      .mkString("\n  + ")

  /** (doc_id, dl, tf_*, bm25) with bm25 the RAW double score — one
    * corpus pass + one single-row stats broadcast; see the t18
    * registry comment for the full determinism argument. t18 rounds
    * for presentation; s09 ranks on the raw double. */
  private[rel] def bm25Frame(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("w"))
    val statCols = Seq(
      count(lit(1)).cast("double").as("n"),
      sum(size(col("w"))).cast("double").as("sumdl")) ++
      Bm25Terms.map(t => sum(array_contains(col("w"), t).cast("long"))
        .cast("double").as(s"df_$t"))
    val stats = toks.agg(statCols.head, statCols.tail: _*)
    val dCols = Seq(col("doc_id"),
      size(col("w")).cast("double").as("dl")) ++
      Bm25Terms.map(t => size(filter(col("w"), x => x === t)).as(s"tf_$t"))
    val scored = toks.select(dCols: _*).crossJoin(broadcast(stats))
    // fixed-order sum of fixed-shape per-term contributions — the
    // expression tree mirrors bm25ScoreSql exactly
    val contrib = Bm25Terms.map { t =>
      log((col("n") - col(s"df_$t") + lit(0.5))
          / (col(s"df_$t") + lit(0.5)) + lit(1.0)) *
        (col(s"tf_$t") * lit(2.2)) /
        (col(s"tf_$t") + lit(1.2) *
          (lit(0.25) + lit(0.75) * (col("dl") / (col("sumdl") / col("n")))))
    }
    scored.select((Seq(col("doc_id"), col("dl")) ++
      Bm25Terms.map(t => col(s"tf_$t")) :+
      contrib.reduce(_ + _).as("bm25")): _*)
  }
}
