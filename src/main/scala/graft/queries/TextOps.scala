package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (BASELINE.json north star): token
  * counting, quality scoring, language ID, fingerprinting, shingling.
  *
  * Everything here is columnar (`functions._` + higher-order array
  * functions) — no UDFs, so the hot path stays inside whole-stage
  * codegen and the 100 TB plan is a single scan per query.
  *
  * Determinism: all ratios are integer-derived then divided as doubles,
  * which is IEEE-identical across engines; fingerprints use md5 hex,
  * which Spark and DuckDB compute identically.
  */
object TextOps {

  private def toks(c: Column): Column = split(c, " ")

  /** Whitespace token stats per document (north-star "token counting").
    * A BPE-ish subword proxy is included: count of 4-char chunks via
    * ceil(len/4) over non-space chars. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select($"doc_id", $"lang",
        size(toks($"text")).as("n_tokens"),
        size(array_distinct(toks($"text"))).as("n_distinct_tokens"),
        ceil(length(regexp_replace($"text", " ", "")).cast("double") / 4)
          .cast("long").as("n_subword_chunks"))
  }

  private val tokenStatsSql =
    """SELECT doc_id, lang,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
      |  CAST(ceil(CAST(length(replace(text, ' ', '')) AS DOUBLE) / 4) AS BIGINT)
      |    AS n_subword_chunks
      |FROM documents""".stripMargin

  /** Corpus term frequency: explode tokens → count per term. The
    * reference's explode surface (`src/plane_naolib_consumer.py:79`,
    * SURVEY §2.10) over text instead of bus passages. */
  def termFrequency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(explode(toks($"text")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"term")
      .agg(count(lit(1)).as("freq"))
  }

  private val termFrequencySql =
    """SELECT term, COUNT(*) AS freq FROM (
      |  SELECT unnest(string_split(text, ' ')) AS term FROM documents) t
      |WHERE term <> '' GROUP BY term""".stripMargin

  /** q179's checkpoint list and rank cap — one definition, engine +
    * interpolated oracle. */
  private val CovCap = 4096
  private val CovKs: Seq[Int] =
    Iterator.iterate(1)(_ * 2).takeWhile(_ <= CovCap).toSeq

  /** q179 — vocabulary COVERAGE curve: at each power-of-two vocabulary
    * budget k, the corpus token mass the top-k terms (freq desc, term
    * asc) cover, absolute and in truncated ppm — the budgeting table
    * behind every "how big must the vocab be for 99 %?" decision a
    * tokenizer design starts from (q131 fits the Zipf law; this reads
    * off its integral, as data). n_terms = min(k, |vocab|) rows make
    * a vocabulary smaller than the budget explicit instead of padding
    * the curve silently.
    *
    * Scale shape: one partial-aggregatable term count, a
    * TakeOrderedAndProject to the [[CovCap]] cap (the q85
    * global-window-after-limit idiom — parameter scale by
    * construction), a broadcast ≤13-row checkpoint join, and ONE
    * bounded driver read for the corpus total (lit-folded like the
    * ANN centroids — the result plan carries no global exchange).
    * 10⁶·cum stays under 2⁶³ through ~9·10¹² corpus tokens. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE materialized term count serves both the total and the
    // ranked head (review r12: the lazy frame re-ran the corpus scan
    // for each), and the ≤13-row result lands as a driver value — the
    // q101 parameter-table precedent; the corpus-scale work is the
    // one count shuffle + one TakeOrderedAndProject
    val counts = Tables(spark, dir, "documents")
      .select(explode(toks($"text")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"term").agg(count(lit(1)).as("cnt"))
      .persist()
    val total = counts.agg(sum($"cnt")).head.getLong(0)
    val top = counts
      .orderBy($"cnt".desc, $"term".asc).limit(CovCap)
      .select($"cnt").collect().map(_.getLong(0))
    counts.unpersist(blocking = false)
    val cum = top.scanLeft(0L)(_ + _).drop(1) // cum(i) = top(0..i) sum
    CovKs.map { k =>
      val n = math.min(k, top.length)
      val ct = if (n == 0) 0L else cum(n - 1)
      (k.toLong, n.toLong, ct, 1000000L * ct / total)
    }.toDF("k", "n_terms", "cum_tokens", "cum_ppm")
  }

  private lazy val vocabCoverageSql =
    s"""WITH vc AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term
      |    FROM documents) t
      |  WHERE term <> '' GROUP BY term),
      |vr AS (SELECT cnt,
      |    ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rk
      |  FROM vc ORDER BY cnt DESC, term ASC LIMIT $CovCap),
      |vk AS (SELECT CAST(unnest([${CovKs.mkString(", ")}]) AS BIGINT)
      |  AS k)
      |SELECT vk.k, CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  CAST(SUM(vr.cnt) AS BIGINT) AS cum_tokens,
      |  CAST((1000000 * CAST(SUM(vr.cnt) AS BIGINT))
      |    // CAST((SELECT SUM(cnt) FROM vc) AS BIGINT) AS BIGINT)
      |    AS cum_ppm
      |FROM vk JOIN vr ON vr.rk <= vk.k
      |GROUP BY vk.k""".stripMargin

  /** Per-document quality scoring (north star): length, token stats,
    * stopword ratio, mean token length. Integer-derived doubles only. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("t", toks($"text"))
      .withColumn("n_tokens", size($"t"))
      .withColumn("n_stop",
        size(expr("filter(t, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))")))
      .withColumn("sum_len",
        expr("aggregate(t, 0, (acc, x) -> acc + length(x))"))
      .select($"doc_id",
        length($"text").as("n_chars"),
        $"n_tokens",
        ($"n_stop".cast("double") / $"n_tokens").as("stopword_ratio"),
        ($"sum_len".cast("double") / $"n_tokens").as("avg_token_len"),
        ($"n_tokens".cast("double") / length($"text")).as("token_density"))
  }

  private val qualityScoreSql =
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tok
      |           FROM documents)
      |SELECT doc_id, length(text) AS n_chars, len(tok) AS n_tokens,
      |  CAST(len(list_filter(tok,
      |    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
      |    / len(tok) AS stopword_ratio,
      |  CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE)
      |    / len(tok) AS avg_token_len,
      |  CAST(len(tok) AS DOUBLE) / length(text) AS token_density
      |FROM t""".stripMargin

  /** Marker-token language ID (north star "language-ID n-gram
    * heuristic"): count per-language marker hits, argmax with a fixed
    * priority order so ties are deterministic. Confusion-matrix output
    * keeps the result compact at any scale. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val markers = Seq(
      "en" -> Seq("the", "a", "of", "and"),
      "fr" -> Seq("le", "la", "et", "les"),
      "es" -> Seq("el", "los", "y", "las"),
      "de" -> Seq("der", "und", "die", "das"))
    var df = Tables(spark, dir, "documents").withColumn("t", toks($"text"))
    for ((l, ws) <- markers)
      df = df.withColumn(s"c_$l",
        size(expr(s"filter(t, x -> x IN (${ws.map("'" + _ + "'").mkString(",")}))")))
    df.withColumn("pred_lang",
        when($"c_en" >= $"c_fr" && $"c_en" >= $"c_es" && $"c_en" >= $"c_de", "en")
          .when($"c_fr" >= $"c_es" && $"c_fr" >= $"c_de", "fr")
          .when($"c_es" >= $"c_de", "es")
          .otherwise("de"))
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n_docs"))
  }

  private val langIdSql =
    """WITH c AS (
      |  SELECT lang,
      |    len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and'))) AS c_en,
      |    len(list_filter(string_split(text,' '), x -> x IN ('le','la','et','les'))) AS c_fr,
      |    len(list_filter(string_split(text,' '), x -> x IN ('el','los','y','las'))) AS c_es,
      |    len(list_filter(string_split(text,' '), x -> x IN ('der','und','die','das'))) AS c_de
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN c_en >= c_fr AND c_en >= c_es AND c_en >= c_de THEN 'en'
      |       WHEN c_fr >= c_es AND c_fr >= c_de THEN 'fr'
      |       WHEN c_es >= c_de THEN 'es'
      |       ELSE 'de' END AS pred_lang,
      |  COUNT(*) AS n_docs
      |FROM c GROUP BY 1, 2""".stripMargin

  /** Normalize-then-hash document fingerprint (north star
    * "fingerprinting"): lowercase, collapse non-alphanumerics, md5.
    * md5 hex is engine-identical, so the oracle checks it exactly —
    * this is also the exact-dedup key used by DedupOps. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select($"doc_id",
        md5(regexp_replace(lower($"text"), "[^a-z0-9]+", " ")).as("fingerprint"))
  }

  private val fingerprintSql =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS fingerprint
      |FROM documents""".stripMargin

  /** 3-token shingle stats per document — the shingling stage MinHash
    * builds on. Higher-order functions only: sequence + transform +
    * slice, one scan, no explode blow-up. */
  def shingleStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("t", toks($"text"))
      .filter(size($"t") >= 3)
      .withColumn("sh",
        expr("transform(sequence(1, size(t) - 2), i -> concat_ws(' ', slice(t, i, 3)))"))
      .select($"doc_id",
        size($"sh").as("n_shingles"),
        size(array_distinct($"sh")).as("n_distinct_shingles"))
  }

  private val shingleStatsSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3)
      |SELECT doc_id,
      |  len(t) - 2 AS n_shingles,
      |  len(list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> array_to_string(t[i:i+2], ' ')))) AS n_distinct_shingles
      |FROM tok""".stripMargin

  /** Characteristic terms per document: top-3 by (term frequency desc,
    * document frequency asc, term asc). This is the TF-IDF ranking made
    * float-free: for a FIXED document, ordering by df ascending is
    * order-equivalent to idf = ln(N/df) descending (ln is monotone), so
    * rarest-first tie-breaking surfaces the same "characteristic" terms
    * without ever computing a logarithm — which matters because libm ln
    * low bits differ across engines and would poison the hash gate. The
    * plan is two partial-aggregatable counts (tf, then df over tf) and
    * one per-doc window — every shuffle is key-partitioned, nothing
    * global. */
  def topTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tf = Tables(spark, dir, "documents")
      .select($"doc_id", explode(toks($"text")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"doc_id", $"token")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    graft.operators.Operators.topKPerGroup(tf.join(dfreq, "token"),
        Seq($"doc_id"), Seq($"tf".desc, $"df".asc), $"token".asc, 3,
        "term_rank")
      .select($"doc_id", $"term_rank", $"token", $"tf", $"df")
  }

  private val topTermsSql =
    """WITH tf AS (
      |  SELECT doc_id, u.t AS token, COUNT(*) AS tf
      |  FROM documents, unnest(string_split(text, ' ')) u(t)
      |  WHERE u.t <> '' GROUP BY 1, 2),
      |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1)
      |SELECT doc_id, CAST(rn AS BIGINT) AS term_rank, token, tf, df FROM (
      |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.token ASC) AS rn
      |  FROM tf JOIN dfreq ON tf.token = dfreq.token) t
      |WHERE rn <= 3""".stripMargin

  /** Per-source corpus stats: vocabulary size (exact distinct tokens),
    * document count, total token occurrences — the numbers a corpus
    * card reports per slice. Exact COUNT(DISTINCT) is the oracle-
    * checkable spec; at 100 TB the drop-in is approx_count_distinct
    * (HLL sketch, partial-aggregatable), asserted within tolerance in
    * ScalaTest since sketches can't hash-match across engines. */
  def sourceVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select($"doc_id", $"source", explode(toks($"text")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"source")
      .agg(countDistinct($"token").as("vocab"),
        countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_token_occurrences"))
  }

  private val sourceVocabSql =
    """SELECT source, COUNT(DISTINCT u.t) AS vocab,
      |  COUNT(DISTINCT doc_id) AS n_docs,
      |  COUNT(*) AS n_token_occurrences
      |FROM documents, unnest(string_split(text, ' ')) u(t)
      |WHERE u.t <> '' GROUP BY source""".stripMargin

  /** 2^54 — the tail modulus splitting q114's 60-bit md5 hash into a
    * 6-bit register index (64 registers) and a 54-bit tail. */
  private val HllTailMod = 18014398509481984L

  /** q114 — mergeable distinct-count sketch, registers exactly: the
    * 64-register HyperLogLog-family sketch of each source's token
    * vocabulary, emitted as its SUFFICIENT STATISTICS (source,
    * register, min tail) rather than a float estimate. Each token's
    * 60-bit md5 hash splits into register index (top 6 bits) and tail;
    * the sketch keeps MIN(tail) per register — a partial-aggregatable
    * min over a ≤64·|sources| key space, the mergeability contract
    * (sketch(A ∪ B) = elementwise min) that lets a 1000-executor scan
    * combine map-side. bitlen(min tail) recovers the classic HLL
    * max-leading-zero register (bit length is monotone in the tail),
    * so the float estimate is a driver-side fold over 64 values — the
    * spec derives it and asserts ±25% of exact distinct (m=64 → ~13%
    * theoretical error). q49 ships the EXACT per-source vocab (two
    * countDistincts — full shuffle of the token set); this is its
    * at-scale replacement, and unlike approx_count_distinct the whole
    * sketch is deterministic and hash-checked in both engines. */
  def hllRegisters(spark: SparkSession, dir: String): DataFrame =
    hllRegistersOf(Tables(spark, dir, "documents"))

  /** The register pipeline over any (source, text) frame — shared by
    * the batch query and the streaming twin (a complete-mode min
    * aggregate over the ≤64·|sources| key space: the elementwise-min
    * mergeability that combines map-side in batch is exactly what the
    * state store folds in a stream). */
  private[graft] def hllRegistersOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"source", explode(toks($"text")).as("token"))
      .filter($"token" =!= "")
      .select($"source",
        PipelineOps.md5PrefixLong(concat(lit("hll:"), $"token"), 15)
          .as("hv"))
      .select($"source", expr(s"hv div $HllTailMod").as("register"),
        ($"hv" % HllTailMod).as("tail"))
      .groupBy($"source", $"register")
      .agg(min($"tail").as("min_tail"))
  }

  private val hllRegistersSql =
    s"""WITH tk AS (
      |  SELECT source, u.t AS token
      |  FROM documents, unnest(string_split(text, ' ')) u(t)
      |  WHERE u.t <> ''),
      |h AS (
      |  SELECT source,
      |    CAST(concat('0x', substr(md5(concat('hll:', token)), 1, 15))
      |      AS BIGINT) AS hv
      |  FROM tk)
      |SELECT source,
      |  hv // $HllTailMod AS register,
      |  CAST(MIN(hv % $HllTailMod) AS BIGINT) AS min_tail
      |FROM h GROUP BY 1, 2""".stripMargin

  /** The q89/q123 search terms — ONE definition consumed by the engine
    * filters and string-interpolated into the oracles' IN lists, so the
    * two cannot drift (the [[graft.queries.PipelineOps.NumShards]]
    * idiom, ADVICE r5). Defined above its first val use: object vals
    * initialize in source order. */
  private[queries] val bm25QueryTerms = Seq("spark", "window", "merge")

  /** q122's geometry: 4 independent hash rows × 256 buckets. One
    * definition feeds the engine and the interpolated oracle. */
  private val CmRows = 4
  private val CmWidth = 256L

  /** q122 — Count-Min sketch of corpus token frequency, emitted as its
    * sufficient statistics: a 4×256 counter matrix where every token
    * occurrence increments one bucket per hash row. Third member of the
    * mergeable-sketch family (q112 histogram → quantiles, q114 HLL →
    * distinct counts, this → point frequencies): sketch(A ∪ B) is the
    * elementwise SUM, so counters combine map-side and a 1000-executor
    * scan ships ≤1 024 longs per partition instead of a
    * vocabulary-sized frequency table. Estimates read MIN over the four
    * rows (q123) and can only overcount; each row sees every occurrence
    * exactly once, so all four row totals equal the corpus token
    * count — the conservation law the spec asserts. Deterministic
    * md5-derived bucket hashes keep the whole matrix hash-checkable in
    * both engines, unlike a library sketch with private seeds. */
  def cmSketch(spark: SparkSession, dir: String): DataFrame =
    cmSketchTable(spark, dir)

  /** The ≤1 024-row corpus sketch as a shared [[Artifact]]: point
    * estimates join the materialization instead of rescanning the
    * corpus ("the estimate path never rescans the corpus"). */
  private[graft] val cmMatrix = Artifacts[DataFrame]("text.cm_sketch")
  private[graft] def cmSketchTable(spark: SparkSession,
      dir: String): DataFrame =
    cmMatrix.get(spark, dir)(
      // fanned read (guide §2.5): the per-token multi-row hashing pass
      // above the scan would otherwise run in a single file split
      cmSketchOf(Tables.fanned(spark, dir, "documents")).persist())

  /** Forwards kept for the benchmark harness; use [[Artifacts]]. */
  private[graft] def isSharedArtifact(df: DataFrame): Boolean = Artifacts.holds(df)
  def invalidateSharedArtifacts(): Unit = Artifacts.invalidateAll()

  private[graft] def cmSketchOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    cmBuckets(docs)
      .groupBy($"hrow", $"bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** The (hrow, bucket) projection of every token occurrence — shared
    * by the batch sketch and the streaming twin. */
  private[graft] def cmBuckets(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(toks($"text")).as("token"))
      .filter($"token" =!= "")
      .select($"token",
        explode(expr(s"sequence(0, ${CmRows - 1})")).as("hrow"))
      .select($"hrow".cast("long").as("hrow"),
        (PipelineOps.md5PrefixLong(
          concat(lit("cm"), $"hrow", lit(":"), $"token"), 15) % CmWidth)
          .as("bucket"))
  }

  private val cmSketchCtes =
    s"""WITH tk AS (
      |  SELECT u.t AS token
      |  FROM documents, unnest(string_split(text, ' ')) u(t)
      |  WHERE u.t <> ''),
      |h AS (
      |  SELECT r.hrow AS hrow,
      |    CAST(concat('0x', substr(md5(concat('cm', r.hrow, ':', token)),
      |      1, 15)) AS BIGINT) % $CmWidth AS bucket
      |  FROM tk CROSS JOIN
      |    (SELECT unnest(range(0, $CmRows)) AS hrow) r),
      |sk AS (
      |  SELECT hrow, bucket, COUNT(*) AS cnt FROM h GROUP BY 1, 2)""".stripMargin

  private val cmSketchSql = cmSketchCtes + "\n" +
    "SELECT hrow, bucket, cnt FROM sk"

  /** q123 — sketch point query: estimated frequencies of the q89
    * search terms read off the q122 matrix, MIN over the four row
    * counters — the Count-Min estimate, never below truth. The
    * estimate path never rescans the corpus: at 100 TB the sketch is a
    * ≤1 024-row persisted artifact and this is a broadcast-sized
    * lookup, the operational win over q21's full-shuffle exact counts
    * (the spec asserts est ≥ exact on the real corpus). */
  def cmEstimate(spark: SparkSession, dir: String): DataFrame =
    cmEstimateOf(cmSketchTable(spark, dir), bm25QueryTerms)

  private[graft] def cmEstimateOf(sketch: DataFrame,
      terms: Seq[String]): DataFrame = {
    val spark = sketch.sparkSession
    import spark.implicits._
    val q = terms.toDF("token")
      .select($"token",
        explode(expr(s"sequence(0, ${CmRows - 1})")).as("hrow"))
      .select($"token", $"hrow".cast("long").as("hrow"),
        (PipelineOps.md5PrefixLong(
          concat(lit("cm"), $"hrow", lit(":"), $"token"), 15) % CmWidth)
          .as("bucket"))
    broadcast(q).join(sketch, Seq("hrow", "bucket"), "left")
      .groupBy($"token")
      .agg(min(coalesce($"cnt", lit(0L))).as("est_count"))
  }

  private val cmEstimateSql = cmSketchCtes + ",\n" +
    s"""q AS (
      |  SELECT t.token, r.hrow,
      |    CAST(concat('0x', substr(md5(concat('cm', r.hrow, ':', t.token)),
      |      1, 15)) AS BIGINT) % $CmWidth AS bucket
      |  FROM (SELECT unnest([${bm25QueryTerms.map("'" + _ + "'").mkString(",")}]) AS token) t
      |  CROSS JOIN (SELECT unnest(range(0, $CmRows)) AS hrow) r)
      |SELECT q.token,
      |  CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS est_count
      |FROM q LEFT JOIN sk ON sk.hrow = q.hrow AND sk.bucket = q.bucket
      |GROUP BY 1""".stripMargin

  /** q127's geometry: 4 hash rows × 4096 buckets, support 5. Wider
    * than q122's matrix because the trigram key space is ~vocab³ —
    * distinguishing support-5 keys needs width ≳ N/support. One
    * definition, both engines. */
  private val HhRows = 4
  private val HhWidth = 4096L
  private val HhSupport = 5L

  /** Every trigram occurrence — the q127 input stream, enumerated
    * per pass (the two-pass protocol scans the corpus twice by
    * design; the stream itself is a stateless codegen explode).
    * [[graft.operators.Operators.fanOutIfNarrow]] spreads the
    * per-occurrence digest across cores when the scan under-splits
    * (single local test file); identity at deployment scale. */
  private def triGrams(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.Operators.fanOutIfNarrow(docs.select($"text"))
      .select(split($"text", " ").as("tok"))
      .filter(size($"tok") >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(tok) - 2), " +
          "i -> concat_ws(' ', slice(tok, i, 3)))")).as("gram"))
  }

  /** q127's hash family — ONE md5 digest per gram, the four row
    * buckets read as disjoint 7-hex-char (28-bit) slices of it.
    * 2²⁸ is an exact multiple of [[HhWidth]], so each slice maps
    * perfectly uniformly; the slices are independent enough for a CM
    * matrix, and the corpus pays ONE digest per occurrence per pass
    * instead of [[HhRows]] (the dominant q127 CPU cost before this —
    * VERDICT r11 #3 measured the old 4-digest form at 4.3× the r10
    * wall). One definition, interpolated into the oracle. */
  private def hhDigest(gram: Column): Column =
    md5(concat(lit("hh:"), gram))

  private def hhBucketAt(dg: Column, r: Int): Column =
    conv(substring(dg, 1 + 7 * r, 7), 16, 10).cast("long") % HhWidth

  /** q127 — heavy hitters over TRIGRAMS by the two-pass sketch-filter
    * protocol: pass 1 builds a Count-Min matrix over trigram
    * occurrences (4×4096 — sized to the key space, not the corpus);
    * pass 2 re-scans, looks every occurrence's four counters up in
    * the BROADCAST matrix (row-local, no shuffle), and only
    * occurrences whose min-counter estimate reaches support enter the
    * exact groupBy. CM can only overcount, so the prefilter admits
    * every true heavy gram — the exact counts of the survivors are
    * the exact answer, while the long tail (the overwhelming share of
    * distinct keys under Zipf) never reaches the exchange. That is
    * the operational difference from q21/q73's direct counting: the
    * exact-count shuffle carries candidate occurrences only, and the
    * sketch stays 16 k counters whether the vocabulary is this
    * corpus's ~16 k trigrams or a web corpus's billions. Output
    * (gram, est_cnt, n_occurrences ≥ [[HhSupport]]) — est beside
    * exact, so the sketch's overcount is itself hash-audited.
    *
    * (On this 31-token synthetic vocabulary the tail is shallow and
    * bucket loads run ~6 per row, so the prefilter's kill rate is
    * modest; the plan shape — broadcast lookup, then filtered
    * exchange — is what scales, and the est/exact columns measure
    * the inflation directly.) */
  /** q127's pass-1 matrix as an [[Artifact]]: the sketch is write-once
    * by nature — a deployment builds it in the ingest pass and every
    * heavy-hitter read rides the materialization. */
  private[graft] val hhSketch = Artifacts[DataFrame]("text.hh_sketch")
  private[graft] def hhSketchTable(spark: SparkSession,
      dir: String): DataFrame =
    hhSketch.get(spark, dir) {
      triGrams(Tables(spark, dir, "documents"))
        .select(hhDigest(col("gram")).as("dg"))
        .select(explode(array((0 until HhRows).map(r => struct(
          lit(r.toLong).as("hrow"), hhBucketAt(col("dg"), r).as("bucket")))
          : _*)).as("rb"))
        .select(col("rb.hrow").as("hrow"), col("rb.bucket").as("bucket"))
        .groupBy(col("hrow"), col("bucket")).agg(count(lit(1)).as("cnt"))
        .persist()
    }

  def heavyGrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fanned read (guide §2.5): both passes explode 8-grams with md5
    // hashing per gram — per-row-expensive map work over the scan
    val docs = Tables.fanned(spark, dir, "documents")
    // pass 1: the matrix (≤ HhRows·HhWidth narrow rows, memoized).
    // Collected to the driver as HhRows dense arrays — a BOUNDED
    // parameter read (16 384 longs = 128 KB, fixed by the sketch
    // geometry regardless of corpus size — the centroid/codebook
    // precedent). Folding the counters in as array LITERALS keeps
    // pass 2 a single whole-stage-codegen scan: the previous form's
    // four per-row broadcast hash joins cost four exchange builds and
    // their probe overhead per occurrence, and were the measured
    // driver-box residual after the r11 single-digest fix (VERDICT
    // r12 #1: 14.3 s wall on 23.7 CPU-s — serialization, not CPU).
    val matrix = Array.fill(HhRows)(Array.fill(HhWidth.toInt)(0L))
    hhSketchTable(spark, dir).collect().foreach(r =>
      matrix(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getLong(2))
    val rowCounters = matrix.map(m => typedlit(m.toSeq))
    // pass 2: row-local estimate — element_at over the literal
    // counter arrays (1-based), least across rows; occurrences below
    // support never reach the exchange (the candidates-only contract)
    val est = least((0 until HhRows).map(r =>
      element_at(rowCounters(r),
        (hhBucketAt($"dg", r) + 1L).cast("int"))): _*)
    triGrams(docs)
      .select($"gram", hhDigest($"gram").as("dg"))
      .select($"gram", est.as("est_cnt"))
      .filter($"est_cnt" >= HhSupport)
      .groupBy($"gram")
      .agg(min($"est_cnt").as("est_cnt"),
        count(lit(1)).as("n_occurrences"))
      .filter($"n_occurrences" >= HhSupport)
      .select($"gram", $"est_cnt", $"n_occurrences")
  }

  /** Oracle: exact trigram counts at support, with the estimate
    * column re-derived through the same md5 matrix — the engine's
    * prefilter is semantics-free (est ≥ exact always), so the oracle
    * needs no filter ordering, just both columns. */
  private val heavyGramsSql =
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |g AS (
      |  SELECT array_to_string(tok[i : i + 2], ' ') AS gram
      |  FROM (SELECT tok, unnest(range(1, len(tok) - 1)) AS i
      |        FROM tok WHERE len(tok) >= 3) u),
      |hs AS (
      |  SELECT gram, r.hrow AS hrow,
      |    CAST(concat('0x', substr(md5(concat('hh:', gram)),
      |      CAST(1 + 7 * r.hrow AS INTEGER), 7)) AS BIGINT) % $HhWidth
      |      AS bucket
      |  FROM g CROSS JOIN (SELECT unnest(range(0, $HhRows)) AS hrow) r),
      |sk AS (SELECT hrow, bucket, COUNT(*) AS cnt FROM hs GROUP BY 1, 2),
      |ex AS (SELECT gram, COUNT(*) AS n_occurrences FROM g GROUP BY 1),
      |es AS (
      |  SELECT h.gram, MIN(s.cnt) AS est_cnt
      |  FROM (SELECT DISTINCT gram, hrow, bucket FROM hs) h
      |  JOIN sk s ON s.hrow = h.hrow AND s.bucket = h.bucket
      |  GROUP BY 1)
      |SELECT e.gram, es.est_cnt, e.n_occurrences
      |FROM ex e JOIN es ON es.gram = e.gram
      |WHERE e.n_occurrences >= $HhSupport""".stripMargin

  /** q120's minimum document frequency. Interpolated into the oracle
    * from this one constant (the NumShards anti-drift rule). */
  private val CollocMinSupport = 5L

  /** q120 — collocation mining: token pairs that co-occur in
    * documents, scored by an integer confidence surrogate
    * (10⁶·n_ab div min(n_a, n_b) — the overlap coefficient, which
    * unlike PMI needs no global-N count and therefore no
    * single-partition exchange). The phrase-detection primitive
    * word2vec-style pipelines run before tokenizer training.
    *
    * Scale discipline is the Apriori support prune, IN the plan: the
    * per-doc pair explosion is quadratic in distinct tokens per doc,
    * so tokens below min-support are dropped BEFORE pairing (a
    * support-failing token cannot be in a support-passing pair —
    * monotonicity). After the prune, pairing is a doc-keyed self-join
    * bounded by (surviving tokens per doc)², and all counts are
    * partial-aggregatable rollups on token keys. */
  def collocations(spark: SparkSession, dir: String): DataFrame =
    collocationsOf(Tables(spark, dir, "documents"), CollocMinSupport)

  private[graft] def collocationsOf(docs: DataFrame,
      minSupport: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dt = docs
      .select($"doc_id", explode(array_distinct(toks($"text"))).as("t"))
      .filter($"t" =!= "")
    val support = dt.groupBy($"t").agg(count(lit(1)).as("n"))
      .filter($"n" >= minSupport)
    val pruned = dt.join(support, "t")
    pruned.select($"doc_id", $"t".as("tok_a"), $"n".as("n_a"))
      .join(pruned.select($"doc_id", $"t".as("tok_b"), $"n".as("n_b")),
        "doc_id")
      .filter($"tok_a" < $"tok_b")
      .groupBy($"tok_a", $"tok_b", $"n_a", $"n_b")
      .agg(count(lit(1)).as("n_ab"))
      .select($"tok_a", $"tok_b", $"n_ab", $"n_a", $"n_b",
        expr("CAST(1000000 * n_ab div least(n_a, n_b) AS BIGINT)")
          .as("conf_micro"))
  }

  private val collocationsSql =
    s"""WITH dt AS (
      |  SELECT DISTINCT doc_id, u.t
      |  FROM documents, unnest(string_split(text, ' ')) u(t)
      |  WHERE u.t <> ''),
      |f AS (
      |  SELECT t, COUNT(*) AS n FROM dt GROUP BY t),
      |fs AS (SELECT t, n FROM f WHERE n >= $CollocMinSupport),
      |pd AS (
      |  SELECT dt.doc_id, dt.t, fs.n FROM dt JOIN fs ON fs.t = dt.t),
      |p AS (
      |  SELECT a.t AS tok_a, b.t AS tok_b, a.n AS n_a, b.n AS n_b,
      |    COUNT(*) AS n_ab
      |  FROM pd a JOIN pd b ON a.doc_id = b.doc_id AND a.t < b.t
      |  GROUP BY 1, 2, 3, 4)
      |SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab, n_a, n_b,
      |  CAST((1000000 * n_ab) // LEAST(n_a, n_b) AS BIGINT) AS conf_micro
      |FROM p""".stripMargin

  /** q79 — WITHIN-document repetition statistics, the Gopher-style
    * repetition quality filters (Rae et al. 2021 §A.1.1: "fraction of
    * characters in the most common n-gram" / "in duplicated n-grams")
    * that the cross-document span suite (q73–q77) cannot see: a doc
    * that endlessly repeats its own phrase is low-quality even if no
    * other document shares it. Per document, over adjacent 2-grams:
    * the most frequent gram (ties broken lexicographically), the
    * characters its occurrences cover, the characters covered by ALL
    * grams occurring more than once, and the cross-multiplied
    * integer-exact admission flag `dup_chars * 5 <= n_chars`
    * (i.e. duplicated-2-gram char fraction ≤ 0.2) — floats never
    * touch the gate, so every column is hash-checkable.
    *
    * Scale shape: gram explode is partition-local; two partial-
    * aggregatable hash aggregations ((doc, gram) count, then per-doc
    * min(struct)/conditional-sum — the argmax is a min over
    * (-cnt, gram) structs, no window, no second shuffle beyond the
    * doc_id agg); the restore left join keeps the one-row-per-input-
    * document contract for sub-2-token docs (q74/q75 lesson). */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    repetitionStatsOf(Tables(spark, dir, "documents"))

  private[graft] def repetitionStatsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs
      .select($"doc_id", toks($"text").as("tok"))
      .filter(size($"tok") >= 2) // guard BEFORE sequence(): start>stop fills descending
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(tok) - 1), i -> concat_ws(' ', slice(tok, i, 2)))"))
        .as("gram"))
      .groupBy($"doc_id", $"gram")
      .agg(count(lit(1)).as("cnt"))
    val agg = counts.groupBy($"doc_id")
      .agg(
        min(struct((-$"cnt").as("nc"), $"gram".as("g"))).as("win"),
        sum(when($"cnt" > 1, $"cnt" * length($"gram").cast("long")))
          .as("dup_chars_raw"))
    docs.select($"doc_id", length($"text").cast("long").as("n_chars"),
        coalesce(size(toks($"text")), lit(0)).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select($"doc_id", $"n_chars", $"n_tokens",
        coalesce($"win.g", lit("")).as("top_gram"),
        coalesce(-$"win.nc", lit(0L)).as("top_count"),
        coalesce((-$"win.nc") * length($"win.g").cast("long"), lit(0L))
          .as("top_chars"),
        coalesce($"dup_chars_raw", lit(0L)).as("dup_chars"),
        (coalesce($"dup_chars_raw", lit(0L)) * 5 <= $"n_chars").as("rep_ok"))
  }

  private val repetitionStatsSql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(tok)),
      |    i -> array_to_string(tok[i:i+1], ' '))) AS gram
      |  FROM t),
      |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
      |w AS (SELECT doc_id, gram, cnt,
      |        ROW_NUMBER() OVER (PARTITION BY doc_id
      |          ORDER BY cnt DESC, gram ASC) AS rn
      |      FROM c),
      |a AS (SELECT doc_id,
      |        CAST(COALESCE(SUM(CASE WHEN cnt > 1
      |          THEN cnt * length(gram) END), 0) AS BIGINT) AS dup_chars
      |      FROM c GROUP BY 1),
      |top AS (SELECT doc_id, gram AS top_gram, cnt AS top_count,
      |          CAST(cnt * length(gram) AS BIGINT) AS top_chars
      |        FROM w WHERE rn = 1)
      |SELECT d.doc_id,
      |  CAST(length(d.text) AS BIGINT) AS n_chars,
      |  CAST(COALESCE(len(string_split(d.text, ' ')), 0) AS BIGINT) AS n_tokens,
      |  COALESCE(top.top_gram, '') AS top_gram,
      |  CAST(COALESCE(top.top_count, 0) AS BIGINT) AS top_count,
      |  CAST(COALESCE(top.top_chars, 0) AS BIGINT) AS top_chars,
      |  COALESCE(a.dup_chars, 0) AS dup_chars,
      |  COALESCE(a.dup_chars, 0) * 5 <= CAST(length(d.text) AS BIGINT) AS rep_ok
      |FROM documents d
      |LEFT JOIN top ON d.doc_id = top.doc_id
      |LEFT JOIN a ON d.doc_id = a.doc_id""".stripMargin

  /** q82 — unigram-LM document scoring, the classic corpus-likelihood
    * quality signal (CCNet/KenLM-style filtering ranks docs by language-
    * model likelihood; the unigram model is its distributed, float-free
    * core): score each document by the mean corpus frequency of its
    * tokens — the arithmetic-mean unigram probability ×(corpus tokens ×
    * 10⁶). Rare-token/noise documents rank low, template-heavy ones
    * high. Kept integer-exact end to end (`sum_freq × 10⁶ div
    * n_tokens`, truncating division — identical in Spark `div` and
    * DuckDB `//` for non-negatives) so the score itself is in the hash
    * check; the geometric-mean (log-prob) variant is the same plan with
    * a log1p sum but can't cross the oracle (libm low bits).
    *
    * Scale shape: one token explode, a partial-aggregatable frequency
    * count on a vocabulary-bounded key space, a keyed join of tokens
    * against that (vocab-sized, broadcastable) table, and a per-doc
    * rollup — every shuffle keyed, nothing global. At 100 TB the scaled
    * product wants DECIMAL headroom or a per-1M-token frequency scale;
    * at any tested SF it fits a BIGINT with 6 orders to spare. */
  def unigramScore(spark: SparkSession, dir: String): DataFrame =
    unigramScoreOf(Tables(spark, dir, "documents"))

  /** q82 as a lift over any docs frame — shared by the registry query
    * and the calibration family (batch q148 + its ingest twin), one
    * definition so the scorer cannot drift from its calibrator. */
  private[graft] def unigramScoreOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tokens = docs
      .select($"doc_id", explode(toks($"text")).as("term"))
      .filter($"term" =!= "")
    val freq = tokens.groupBy($"term").agg(count(lit(1)).as("freq"))
    val scored = tokens.join(freq, "term")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"freq").as("sum_freq"))
      .withColumn("mean_freq_scaled",
        expr("sum_freq * 1000000 div n_tokens"))
    docs.select($"doc_id").join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        coalesce($"sum_freq", lit(0L)).as("sum_freq"),
        coalesce($"mean_freq_scaled", lit(0L)).as("mean_freq_scaled"))
  }

  /** q82's mining as a WITH-body ending at the per-doc `s` CTE, shared
    * with q138's curriculum phasing (funnelCtes idiom: one definition,
    * the phase policy cannot drift from the score it bins). */
  private val unigramCtes =
    """WITH tok AS (
      |  SELECT doc_id, u.t AS term
      |  FROM documents, unnest(string_split(text, ' ')) u(t)
      |  WHERE u.t <> ''),
      |freq AS (SELECT term, COUNT(*) AS freq FROM tok GROUP BY 1),
      |s AS (
      |  SELECT tok.doc_id, COUNT(*) AS n_tokens,
      |    CAST(SUM(freq.freq) AS BIGINT) AS sum_freq
      |  FROM tok JOIN freq USING (term) GROUP BY 1)""".stripMargin

  private val unigramScoreSql = unigramCtes + "\n" +
    """SELECT d.doc_id,
      |  COALESCE(s.n_tokens, 0) AS n_tokens,
      |  COALESCE(s.sum_freq, 0) AS sum_freq,
      |  COALESCE(s.sum_freq * 1000000 // s.n_tokens, 0) AS mean_freq_scaled
      |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin

  /** q107 — bigram-LM document scoring, the sequence-aware companion
    * to q82's unigram score (CCNet/KenLM-style LM filtering's next
    * order): each adjacent token pair scores the integer conditional-
    * probability surrogate `10⁶·c(w1,w2) div c(w1,·)` — how expected
    * is w2 after w1 in THIS corpus — and a document's score is the
    * truncating mean over its bigrams. Shuffled word salad scores low
    * even when q82's bag-of-words mean is high (every word common,
    * every transition rare) — exactly the gibberish that unigram
    * filters pass. Float-free end to end (the q82/q89 integer-
    * surrogate device), so n/sum/mean are all in the hash check.
    * Pairs with an empty-string side are excluded (the '' token rule
    * q82 applies to unigrams); docs with no qualifying bigram report
    * zeros via the restore join.
    *
    * Scale shape: pair explode is partition-local; bigram and
    * bigram-start counts are partial-aggregatable on vocabulary²- and
    * vocabulary-bounded key spaces; the score join is keyed on (w1,
    * w2)/(w1) — a stop-word bigram lands in a composite key, not a
    * straggler partition. Same chain shape as q82 with one extra
    * keyed join. */
  private[graft] def bigramScoreOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = docs
      .select($"doc_id", toks($"text").as("tok"))
      .filter(size($"tok") >= 2)
      .select($"doc_id", explode(expr(
        "filter(transform(sequence(1, size(tok) - 1), " +
          "i -> struct(tok[i-1] AS w1, tok[i] AS w2)), " +
          "p -> p.w1 != '' AND p.w2 != '')")).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
    val c2 = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val c1 = pairs.groupBy($"w1").agg(count(lit(1)).as("c1"))
    val scored = pairs
      .join(c2, Seq("w1", "w2")).join(c1, "w1")
      .select($"doc_id", expr("c2 * 1000000 div c1").as("cond"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"cond").as("sum_cond"))
      .withColumn("mean_cond_scaled", expr("sum_cond div n_bigrams"))
    docs.select($"doc_id").join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"sum_cond", lit(0L)).as("sum_cond"),
        coalesce($"mean_cond_scaled", lit(0L)).as("mean_cond_scaled"))
  }

  def bigramScore(spark: SparkSession, dir: String): DataFrame =
    bigramScoreOf(Tables.fanned(spark, dir, "documents"))

  private val bigramScoreSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |bg AS (
      |  SELECT doc_id, tok[i] AS w1, tok[i + 1] AS w2
      |  FROM (SELECT doc_id, tok, unnest(range(1, len(tok))) AS i
      |        FROM tok WHERE len(tok) >= 2) u
      |  WHERE tok[i] <> '' AND tok[i + 1] <> ''),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      |s AS (
      |  SELECT bg.doc_id, COUNT(*) AS nb,
      |    CAST(SUM(c2.c2 * 1000000 // c1.c1) AS BIGINT) AS sc
      |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(COALESCE(s.nb, 0) AS BIGINT) AS n_bigrams,
      |  COALESCE(s.sc, 0) AS sum_cond,
      |  COALESCE(s.sc // s.nb, 0) AS mean_cond_scaled
      |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id""".stripMargin

  /** q87 — inverted-index build: the searchable posting-list table
    * (term, doc_id, df, tf, first_pos) behind exact-phrase lookup,
    * BM25-style ranking (df and tf are its sufficient statistics), and
    * the q73–q75 span machinery's "which docs contain this gram"
    * question. One posting row per (term, doc) keeps rows narrow and
    * bounded — no collect_list of whole posting lists into one row,
    * which is exactly what would NOT survive a stop-word term at
    * 100 TB; a consumer reads a term's postings as a keyed scan.
    *
    * Scale shape: token posexplode (partition-local) → one partial-
    * aggregatable shuffle on (term, doc_id) → per-term df from a
    * second partial-aggregatable rollup whose output is vocabulary-
    * sized (tiny → the planner broadcasts it back onto the postings,
    * same shape as q82's frequency join). Term skew lands in the
    * (term, doc_id) composite key, not a per-term partition, so a
    * stop-word does not create a straggler partition. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    invertedIndexOf(Tables(spark, dir, "documents"))

  private[graft] def invertedIndexOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val postings = docs
      .select($"doc_id", posexplode(toks($"text")).as(Seq("pos", "term")))
      .filter($"term" =!= "")
      .groupBy($"term", $"doc_id")
      .agg(count(lit(1)).as("tf"), min($"pos").cast("long").as("first_pos"))
    val dfTab = postings.groupBy($"term").agg(count(lit(1)).as("df"))
    postings.join(dfTab, "term")
      .select($"term", $"doc_id", $"df", $"tf", $"first_pos")
  }

  /** The q87 posting-table derivation as a WITH-body, shared by the
    * q87 dump and the q89 retrieval oracle (same reuse idiom as
    * DedupOps.survivorCtes). */
  private[queries] val invertedIndexCtes =
    """WITH s AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(tok) + 1),
      |      i -> struct_pack(pos := i - 1, term := tok[i]))) AS u
      |  FROM s),
      |p AS (
      |  SELECT u.term AS term, doc_id, COUNT(*) AS tf,
      |    CAST(min(u.pos) AS BIGINT) AS first_pos
      |  FROM t WHERE u.term <> '' GROUP BY 1, 2),
      |d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY 1)""".stripMargin

  private val invertedIndexSql = invertedIndexCtes + "\n" +
    """SELECT p.term, p.doc_id, d.df, p.tf, p.first_pos
      |FROM p JOIN d USING (term)""".stripMargin

  /** q89 — ranked retrieval over the q87 posting table: the search
    * query ("which documents best match these terms") that an inverted
    * index exists to answer. Scoring is tf·idf with the integer-exact
    * idf surrogate `10⁶ div df` — monotone in 1/df like BM25's idf but
    * free of both logs (libm low bits can't cross the oracle) and the
    * corpus-size constant N (a global count would plan the
    * single-partition exchange the registry sweep forbids; dropping a
    * constant factor cannot change ranking). Ties break on doc_id, so
    * the top-20 set is deterministic and fully hash-checked.
    *
    * Scale shape: the term filter pushes below the posting aggregate
    * into the token explode on BOTH the postings and the df branch, so
    * only query-term postings shuffle; per-doc rollup is partial-
    * aggregatable; top-k plans TakeOrderedAndProject (no global sort,
    * no single-partition window) like q30. At 100 TB a deployment
    * searches the materialized posting table — same plan minus the
    * build. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    invertedIndex(spark, dir)
      .filter($"term".isin(bm25QueryTerms: _*))
      .groupBy($"doc_id")
      .agg(sum($"tf" * expr("1000000 div df")).cast("long").as("score"),
        count(lit(1)).as("n_hit_terms"))
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(20)
  }

  // ------------------------- persisted posting index (the BM25 loop)

  /** Posting-index layout: [[PostingBuckets]] term-hash partitions, so
    * a query's bucket set constant-folds into planning-time
    * PartitionFilters — a search reads |query terms| buckets of a
    * 100 TB index, never the index. 64 buckets is the test-scale
    * setting; a deployment sizes buckets ≈ index size / file-target
    * (the q80 lever applied to postings). */
  private[graft] val PostingBuckets = 64L

  private[graft] def postingBucket(term: Column): Column =
    pmod(xxhash64(term), lit(PostingBuckets)).cast("int")

  /** The PHYSICAL posting index q87/q89's 100 TB notes describe,
    * closing the lexical-retrieval storage loop the ANN (doc + chunk)
    * and LSH families already have: the corpus's postings written
    * bucket-partitioned ONCE; searches read buckets, ingest appends
    * novel documents' postings. Stored rows are df-FREE on purpose:
    * document frequency changes with every append, so a denormalized
    * df (q87's reporting shape) would force rewriting a term's every
    * posting per ingest batch — instead df is derived at search time
    * from the (already pruned) query-term postings, which is exact
    * because a term's postings all live in its own bucket. A doc-id
    * manifest sibling makes replayed appends idempotent without
    * scanning the index. */
  def postingWriteIndex(spark: SparkSession, dir: String,
      path: String): Unit =
    postingWriteIndexOf(Tables(spark, dir, "documents"), path)

  private[graft] def postingWriteIndexOf(docs: DataFrame,
      path: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.Operators.writePartitioned(
      invertedIndexOf(docs)
        .select($"term", $"doc_id", $"tf", $"first_pos")
        .withColumn("bucket", postingBucket($"term")),
      s"$path/postings", "bucket")
    docs.select($"doc_id").write.mode("overwrite")
      .parquet(s"$path/docs")
  }

  /** Posting-index COMPACTION — the repair/maintenance job the upsert
    * stream's at-least-once residue and small-files debt both point
    * at: re-read the index, drop exact duplicate posting rows (the
    * only residue a replayed half-landed batch can leave — posting
    * rows are deterministic functions of (term, doc_id), so
    * `distinct()` IS the (term, doc_id) dedup), rewrite each bucket as
    * fresh files, and dedup the doc manifest. Search results are
    * invariant under compaction when no residue exists, and repaired
    * to rebuild-equality when it does — both spec-asserted. */
  def compactPostingIndex(spark: SparkSession, path: String): Unit = {
    swapInPosting(spark, path, "postings",
      tmp => graft.operators.Operators.writePartitioned(
        spark.read.parquet(s"$path/postings").distinct(), tmp, "bucket"))
    swapInPosting(spark, path, "docs",
      tmp => spark.read.parquet(s"$path/docs").distinct()
        .coalesce(1).write.parquet(tmp))
  }

  /** Write-aside + two atomic renames (the ANN compactIndex pattern:
    * the live table is never the write target, and a crash between
    * the renames leaves a restorable .pre-compact copy) — shared by
    * [[compactPostingIndex]] and [[deleteFromPostingIndex]]. */
  private def swapInPosting(spark: SparkSession, path: String,
      sub: String, write: String => Unit): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete()
    }
    val live = Paths.get(s"$path/$sub")
    val retired = Paths.get(s"$path/$sub.pre-compact")
    if (!Files.exists(live) && Files.exists(retired))
      Files.move(retired, live, StandardCopyOption.ATOMIC_MOVE)
    val tmp = s"$path/$sub.compacting"
    // a crash between write(tmp) and the renames leaves a stale tmp
    // dir; without this sweep every later maintenance call would die
    // on path-already-exists (the docs writer uses the default
    // ErrorIfExists mode) — review r12
    rmTree(new java.io.File(tmp))
    write(tmp)
    rmTree(retired.toFile)
    Files.move(live, retired, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), live, StandardCopyOption.ATOMIC_MOVE)
    rmTree(retired.toFile)
  }

  /** DELETE documents from the persisted posting index — the
    * take-down/right-to-be-forgotten path that completes the index
    * lifecycle (build → serve → append → compact → delete). Postings
    * are doc-local rows, so deletion is a filter-and-rewrite of the
    * bucket tables through [[compactPostingIndex]]'s write-aside +
    * atomic-swap machinery (the live index is never the write target;
    * a crash between the swaps leaves a restorable .pre-compact
    * copy). The manifest shrinks with the postings — in THAT order's
    * reverse concern: postings are rewritten first, so a crash
    * between the two can only leave deleted docs still listed in the
    * manifest with no postings — a doc that scores nothing and
    * re-indexes as a no-op — never manifest-absent docs with live
    * postings (which would double-index on the next append). Search
    * over the shrunk index equals a from-scratch rebuild without the
    * deleted docs — spec-asserted, because df re-derives from the
    * pruned postings and nothing stale is stored. At 100 TB the
    * rewrite touches every bucket file containing a deleted doc's
    * postings; batching take-downs amortizes it, and the bucket
    * layout bounds each file's rewrite to its own bucket. */
  def deleteFromPostingIndex(spark: SparkSession, path: String,
      docIds: Seq[Long]): Unit = {
    import spark.implicits._
    swapInPosting(spark, path, "postings", tmp =>
      graft.operators.Operators.writePartitioned(
        spark.read.parquet(s"$path/postings")
          .filter(!$"doc_id".isin(docIds: _*)), tmp, "bucket"))
    swapInPosting(spark, path, "docs", tmp =>
      spark.read.parquet(s"$path/docs")
        .filter(!$"doc_id".isin(docIds: _*))
        .coalesce(1).write.parquet(tmp))
  }

  /** q89 answered FROM the stored index: the query terms' buckets
    * constant-fold into PartitionFilters (plan-asserted in
    * PostingIndexSpec), df re-derives from the pruned postings
    * (exact — bucket-complete by layout), then q89's integer scoring
    * verbatim. Output equality with the live q89 is spec-asserted,
    * and HOLDS AS THE INDEX GROWS: an appended document changes df
    * and scores exactly as a batch rebuild would, because nothing
    * stale is stored. */
  def bm25SearchIndexed(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val idx = spark.read.parquet(s"$path/postings")
    val bucketPred = bm25QueryTerms
      .map(t => $"bucket" === postingBucket(lit(t))).reduce(_ || _)
    val hits = idx.filter(bucketPred && $"term".isin(bm25QueryTerms: _*))
    val dfTab = hits.groupBy($"term").agg(count(lit(1)).as("df"))
    hits.join(broadcast(dfTab), "term")
      .groupBy($"doc_id")
      .agg(sum($"tf" * expr("1000000 div df")).cast("long").as("score"),
        count(lit(1)).as("n_hit_terms"))
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(20)
  }

  private[queries] val bm25TopKSql = invertedIndexCtes + ",\n" +
    s"""idx AS (
      |  SELECT p.term, p.doc_id, d.df, p.tf FROM p JOIN d USING (term))
      |SELECT doc_id,
      |  CAST(SUM(tf * (1000000 // df)) AS BIGINT) AS score,
      |  COUNT(*) AS n_hit_terms
      |FROM idx WHERE term IN (${bm25QueryTerms.map("'" + _ + "'").mkString(", ")})
      |GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC
      |LIMIT 20""".stripMargin

  /** q121 — "more like this": doc-to-doc retrieval over the q87
    * posting table. The query is a DOCUMENT (its own posting rows
    * supply the query terms and weights), the score is
    * Σ q_tf·tf·(10⁶ div df) — q89's integer idf surrogate reused, so
    * the ranking is libm-free and fully hash-checked — and ties break
    * on doc_id (deterministic k-boundary). This is the related-items
    * query by LEXICAL overlap, complementing q98 (Jaccard near-dups)
    * and q70 (vector ANN): three similar-docs systems, three different
    * index structures, one engine.
    *
    * Scale shape: the query doc's posting rows are a broadcast-sized
    * side (one document's vocabulary); the term equi-join prunes the
    * posting scan to matching terms; top-k is TakeOrderedAndProject.
    * At 100 TB the posting table is the persisted q87 artifact, so
    * this reads an index, not the corpus. */
  /** q121's registered query document and k — one definition feeding
    * both the engine call and the interpolated oracle (anti-drift). */
  private val MltQueryDoc = 0L
  private val MltK = 10

  def moreLikeThis(spark: SparkSession, dir: String): DataFrame =
    moreLikeThisOf(Tables(spark, dir, "documents"), MltQueryDoc, MltK)

  private[graft] def moreLikeThisOf(docs: DataFrame, queryDoc: Long,
      k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val idx = invertedIndexOf(docs)
    val qTerms = idx.filter($"doc_id" === queryDoc)
      .select($"term", $"tf".as("q_tf"))
    idx.filter($"doc_id" =!= queryDoc)
      .join(broadcast(qTerms), "term")
      .groupBy($"doc_id")
      .agg(sum($"q_tf" * $"tf" * expr("1000000 div df")).cast("long")
          .as("score"),
        count(lit(1)).as("n_shared_terms"))
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
  }

  private val moreLikeThisSql = invertedIndexCtes + ",\n" +
    s"""idx AS (
      |  SELECT p.term, p.doc_id, d.df, p.tf FROM p JOIN d USING (term)),
      |qt AS (SELECT term, tf AS q_tf FROM idx WHERE doc_id = $MltQueryDoc)
      |SELECT i.doc_id,
      |  CAST(SUM(qt.q_tf * i.tf * (1000000 // i.df)) AS BIGINT) AS score,
      |  COUNT(*) AS n_shared_terms
      |FROM idx i JOIN qt USING (term)
      |WHERE i.doc_id <> $MltQueryDoc
      |GROUP BY i.doc_id
      |ORDER BY score DESC, doc_id ASC
      |LIMIT $MltK""".stripMargin

  /** q138's policy constants, interpolated into the oracle from the
    * same definitions the engine binds: score-bin width (the sketch
    * resolution, q112's contract) and the quintile edges. */
  private[graft] val CurrBinW = 1000000L
  private val CurrCuts = Seq(20L, 40L, 60L, 80L)

  /** q138 — curriculum phase assignment: every training document gets
    * a phase 1–5 from the corpus's own q82 unigram-score distribution
    * (phase 1 = highest-scoring quintile = most-common-vocabulary
    * text, what an easy-to-hard curriculum feeds first) plus a
    * deterministic order key (q80's salted-md5 shuffle device), so the
    * loader's read order is `ORDER BY phase, order_key` — easy-first
    * with reproducible shuffling inside each phase. Quintile edges are
    * DERIVED from the score histogram by the q128 cutoff-bin device:
    * bin-granular (docs sharing a score bin share a phase — the
    * sketch's resolution IS the bin width), integer-exact end to end.
    *
    * Scale shape: q82's keyed chain → a ≤few-hundred-key histogram →
    * sketch-sized cumulative (broadcast ≤-join, no global window) →
    * 1-row cutoff aggregate broadcast back onto the per-doc frame —
    * phase assignment and order key are map-side. No global sort
    * exists HERE by design: the trainer's shard writer composes this
    * with q80's shard device, and a (phase, order_key)-sorted read is
    * the loader's cheap merge. */
  def curriculumPhase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = unigramScore(spark, dir)
      .select($"doc_id", $"mean_freq_scaled".as("score"))
      .withColumn("bin", expr(s"score div $CurrBinW"))
    val hist = scored.groupBy($"bin").agg(count(lit(1)).as("c"))
    val cum = hist
      .join(broadcast(hist.select($"bin".as("b_bin"), $"c".as("b_c"))),
        $"b_bin" <= $"bin")
      .groupBy($"bin").agg(sum($"b_c").as("cum"))
    val tot = hist.withColumn("k", lit(0)).groupBy($"k")
      .agg(sum($"c").as("n"))
    val cutCols = CurrCuts.map(p =>
      min(when($"cum" * 100 >= $"n" * p, $"bin")).as(s"cut$p"))
    val cuts = cum.withColumn("k", lit(0)).join(broadcast(tot), "k")
      .groupBy($"k")
      .agg(cutCols.head, cutCols.tail: _*)
    scored.withColumn("k", lit(0)).join(broadcast(cuts), "k")
      .select($"doc_id", $"score",
        expr(s"CAST(6 - (1 + ${CurrCuts.map(p =>
            s"IF(bin > cut$p, 1, 0)").mkString(" + ")}) AS BIGINT)")
          .as("phase"),
        PipelineOps.md5PrefixLong(
          concat(lit("curr:"), $"doc_id".cast("string")), 15)
          .as("order_key"))
  }

  private val curriculumPhaseSql = unigramCtes + ",\n" +
    s"""sc AS (SELECT d.doc_id,
      |    COALESCE(s.sum_freq * 1000000 // s.n_tokens, 0) AS score,
      |    COALESCE(s.sum_freq * 1000000 // s.n_tokens, 0) // $CurrBinW
      |      AS bin
      |  FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id),
      |h AS (SELECT bin, COUNT(*) AS c FROM sc GROUP BY 1),
      |cw AS (SELECT a.bin, SUM(bb.c) AS cum
      |       FROM h a JOIN h bb ON bb.bin <= a.bin GROUP BY 1),
      |n AS (SELECT SUM(c) AS n FROM h),
      |cuts AS (
      |  SELECT ${CurrCuts.map(p =>
             s"MIN(CASE WHEN cum * 100 >= n.n * $p THEN bin END) AS cut$p")
             .mkString(",\n    ")}
      |  FROM cw, n)
      |SELECT sc.doc_id, sc.score,
      |  CAST(6 - (1 + ${CurrCuts.map(p =>
           s"CASE WHEN sc.bin > cut$p THEN 1 ELSE 0 END").mkString(" + ")})
      |    AS BIGINT) AS phase,
      |  CAST(concat('0x', substr(md5(concat('curr:',
      |    CAST(sc.doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS order_key
      |FROM sc, cuts""".stripMargin

  /** q148's per-source keep threshold: drop each source's bottom
    * [[CalPctCut]] percent (bin-granular), interpolated into the
    * oracle from the same constant. */
  private[graft] val CalPctCut = 30L

  /** q148 — per-source quality-score CALIBRATION: every document's
    * q82 unigram score becomes an integer percentile WITHIN ITS
    * SOURCE (bin-granular, the q112/q138 sketch-resolution contract),
    * plus the calibrated keep flag "above the source's own bottom
    * 30 %". A single global threshold over-prunes whatever source
    * happens to score low on the corpus-wide unigram model (a
    * specialist domain's everyday vocabulary is rare corpus-wide);
    * per-source percentile normalization is how production pipelines
    * apply one quality policy across heterogeneous sources without
    * flattening the mix. Fully integer → the whole table hash-checks.
    *
    * Scale shape: q82's keyed chain → a (source × score-bin) histogram
    * (bounded keys) → per-source cumulative via a broadcast ≤-join on
    * the sketch-sized histogram (the q138 cutoff-bin device, here kept
    * per-source) → percentile and flag are map-side on the per-doc
    * frame. No global window, no per-source sort. */
  /** The calibrated-gate table as a shared [[Artifact]], the
    * PipelineOps lineage/DSIR tables' sibling. */
  private[graft] val calibrated = Artifacts[DataFrame]("text.calibrated")

  def sourceCalibratedScore(spark: SparkSession, dir: String): DataFrame =
    calibrated.get(spark, dir) {
      val df = sourceCalibratedScoreOf(
        Tables(spark, dir, "documents")).persist()
      df.count()
      df
    }

  /** The per-source score histogram over a docs frame: (source, bin,
    * c) — the ONE definition batch calibration cumulates and the
    * ingest twin collects as its parameter table. */
  private[graft] def sourceBinHistOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    unigramScoreOf(docs)
      .select($"doc_id", $"mean_freq_scaled".as("score"))
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .withColumn("bin", expr(s"score div $CurrBinW"))
      .groupBy($"source", $"bin").agg(count(lit(1)).as("c"))
  }

  private[graft] def sourceCalibratedScoreOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val scored = unigramScoreOf(docs)
      .select($"doc_id", $"mean_freq_scaled".as("score"))
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .withColumn("bin", expr(s"score div $CurrBinW"))
    val hist = sourceBinHistOf(docs)
    val cum = hist
      .join(broadcast(hist.select($"source".as("s2"), $"bin".as("b_bin"),
        $"c".as("b_c"))), $"s2" === $"source" && $"b_bin" <= $"bin")
      .groupBy($"source", $"bin").agg(sum($"b_c").as("cum"))
    val tot = hist.groupBy($"source").agg(sum($"c").as("n"))
    scored
      .join(broadcast(cum), Seq("source", "bin"))
      .join(broadcast(tot), "source")
      .select($"doc_id", $"source", $"score",
        expr("CAST((100 * cum) div n AS BIGINT)").as("src_pct"),
        expr(s"CAST(IF((100 * cum) div n > $CalPctCut, 1, 0) AS BIGINT)")
          .as("keep_calibrated"))
  }

  private[queries] val sourceCalibratedScoreSql = unigramCtes + ",\n" +
    s"""sc AS (SELECT d.doc_id, d.source,
      |    COALESCE(s.sum_freq * 1000000 // s.n_tokens, 0) AS score,
      |    COALESCE(s.sum_freq * 1000000 // s.n_tokens, 0) // $CurrBinW
      |      AS bin
      |  FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id),
      |h AS (SELECT source, bin, COUNT(*) AS c FROM sc GROUP BY 1, 2),
      |cw AS (SELECT a.source, a.bin, SUM(bb.c) AS cum
      |       FROM h a JOIN h bb
      |         ON bb.source = a.source AND bb.bin <= a.bin
      |       GROUP BY 1, 2),
      |n AS (SELECT source, SUM(c) AS n FROM h GROUP BY 1)
      |SELECT sc.doc_id, sc.source, sc.score,
      |  CAST((100 * cw.cum) // n.n AS BIGINT) AS src_pct,
      |  CAST(CASE WHEN (100 * cw.cum) // n.n > $CalPctCut
      |    THEN 1 ELSE 0 END AS BIGINT) AS keep_calibrated
      |FROM sc
      |JOIN cw ON cw.source = sc.source AND cw.bin = sc.bin
      |JOIN n ON n.source = sc.source""".stripMargin

  /** q142 — vocabulary-drift report, the lexical twin of q141's
    * embedding drift: for the standing corpus's top-100 terms (by
    * corpus occurrence count — TakeOrderedAndProject, never a global
    * window), each term's share of the total token mass on both sides
    * of the q46 delta split, in integer ppm, plus the absolute drift.
    * A head term whose delta share collapses (or a new-campaign term
    * surging) is the earliest lexical symptom of a source change —
    * caught BEFORE it shifts quality-gate pass rates. Shares are
    * against each side's FULL token mass (not just the head), so the
    * report is honest about how much of the distribution the head
    * covers.
    *
    * Scale shape: one token explode → vocabulary-bounded two-sided
    * count rollup → head via orderBy+limit (parameter frame) +
    * 1-row totals broadcast (the q99 device) → map-side ppm. */
  def vocabDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Tables(spark, dir, "documents")
      .withColumn("is_delta",
        substring(md5($"doc_id".cast("string")), 1, 2) < "1a")
      .select($"is_delta", explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
    val counts = terms.groupBy($"term")
      .agg(sum(when($"is_delta", 0L).otherwise(1L)).as("n_corpus"),
        sum(when($"is_delta", 1L).otherwise(0L)).as("n_delta"))
    val top = counts.orderBy($"n_corpus".desc, $"term".asc).limit(100)
    val tot = counts.withColumn("k", lit(0)).groupBy($"k")
      .agg(sum($"n_corpus").as("tc"), sum($"n_delta").as("td"))
    top.withColumn("k", lit(0)).join(broadcast(tot), "k")
      .select($"term", $"n_corpus", $"n_delta",
        expr("CAST(IF(tc = 0, 0, (1000000 * n_corpus) div tc) AS BIGINT)")
          .as("corpus_ppm"),
        expr("CAST(IF(td = 0, 0, (1000000 * n_delta) div td) AS BIGINT)")
          .as("delta_ppm"))
      .withColumn("drift_ppm", abs($"delta_ppm" - $"corpus_ppm"))
  }

  private val vocabDriftSql =
    """WITH tk AS (
      |  SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
      |      AS is_delta,
      |    u.t AS term
      |  FROM documents, unnest(string_split(text, ' ')) u(t)
      |  WHERE u.t <> ''),
      |c AS (
      |  SELECT term,
      |    CAST(SUM(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_corpus,
      |    CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_delta
      |  FROM tk GROUP BY term),
      |top AS (SELECT * FROM c ORDER BY n_corpus DESC, term ASC LIMIT 100),
      |t AS (
      |  SELECT CAST(SUM(n_corpus) AS BIGINT) AS tc,
      |    CAST(SUM(n_delta) AS BIGINT) AS td
      |  FROM c)
      |SELECT term, n_corpus, n_delta,
      |  CAST(CASE WHEN tc = 0 THEN 0
      |    ELSE (1000000 * n_corpus) // tc END AS BIGINT) AS corpus_ppm,
      |  CAST(CASE WHEN td = 0 THEN 0
      |    ELSE (1000000 * n_delta) // td END AS BIGINT) AS delta_ppm,
      |  abs(CAST(CASE WHEN td = 0 THEN 0
      |      ELSE (1000000 * n_delta) // td END AS BIGINT)
      |    - CAST(CASE WHEN tc = 0 THEN 0
      |      ELSE (1000000 * n_corpus) // tc END AS BIGINT)) AS drift_ppm
      |FROM top, t""".stripMargin

  /** q185 — pairwise cross-source vocabulary-overlap SKETCHES: for
    * every source pair, the merged q114 HLL register table of the
    * union vocabulary. The mergeability law (sketch(A ∪ B) =
    * elementwise MIN of register tails) is the entire query: the 45
    * union sketches are produced from the ≤ 64·|sources| standing
    * register rows alone — the corpus text is scanned ONCE (by the
    * shared q114 lift), after which every pairwise overlap estimate
    * |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B) is derivable from
    * kilobytes of sufficient statistics. The exact alternative
    * (pairwise countDistinct over the token sets — q49 crossed with
    * itself) re-shuffles the vocabulary per pair; at 100 TB and S
    * sources that is S²/2 full-vocab shuffles vs this query's none.
    *
    * Shape: the pair frame is a theta self-join of the SOURCE DIM
    * (|S| rows — dimension-sized, never data-sized), each register
    * row replicates to the ≤ |S|−1 pairs containing its source via
    * two equi joins, and the merge is a partial-aggregatable MIN on
    * (pair, register). The estimate derivation and its accuracy
    * against exact intersections are spec-asserted
    * (OperatorPropertiesSpec), like q114's single-source estimate. */
  def vocabOverlapSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val regs = hllRegistersOf(Tables(spark, dir, "documents"))
    val srcs = Tables(spark, dir, "documents").select($"source").distinct()
    val pairs = srcs.select($"source".as("src_a"))
      .join(srcs.select($"source".as("src_b")), $"src_a" < $"src_b")
    pairs.join(regs.withColumnRenamed("source", "src_a"), "src_a")
      .select($"src_a", $"src_b", $"register", $"min_tail")
      .union(pairs.join(regs.withColumnRenamed("source", "src_b"), "src_b")
        .select($"src_a", $"src_b", $"register", $"min_tail"))
      .groupBy($"src_a", $"src_b", $"register")
      .agg(min($"min_tail").as("min_tail"))
  }

  private val vocabOverlapSketchSql =
    s"""WITH regs AS ($hllRegistersSql),
      |srcs AS (SELECT DISTINCT source FROM documents),
      |pairs AS (SELECT a.source AS src_a, b.source AS src_b
      |  FROM srcs a JOIN srcs b ON a.source < b.source),
      |u AS (
      |  SELECT p.src_a, p.src_b, r.register, r.min_tail
      |  FROM pairs p JOIN regs r ON r.source = p.src_a
      |  UNION ALL
      |  SELECT p.src_a, p.src_b, r.register, r.min_tail
      |  FROM pairs p JOIN regs r ON r.source = p.src_b)
      |SELECT src_a, src_b, register, CAST(MIN(min_tail) AS BIGINT)
      |    AS min_tail
      |FROM u GROUP BY 1, 2, 3""".stripMargin

  /** q186 — inter-scorer agreement audit (Cohen's-kappa sufficient
    * statistics): do the cheap stopword gate and the corpus-relative
    * unigram gate agree on which documents are "quality"? Gate A is
    * the absolute rule stopword_mass ≥ 5 % in cross-multiplied
    * integer form (n_stop·20 ≥ n_tokens — no ratio float, SF-
    * invariant); gate B is mean token frequency above the CORPUS
    * mean (both in the q82 ×10⁶ integer domain — the threshold is
    * one partial-aggregatable scalar, not a global sort). Output is
    * the 2×2 confusion matrix plus observed/expected agreement in
    * ppm and the kappa numerator/denominator as integers — the
    * division that can go negative stays unevaluated, so every
    * column is engine-exact; the spec derives the float kappa.
    * pe is computed as ((na1·10⁶ div n)·nb1 + (na0·10⁶ div n)·nb0)
    * div n — the same formula verbatim in both engines, and the
    * interleaved divisions keep every intermediate below n·10⁶. */
  def scorerAgreement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val ga = docs.select($"doc_id",
      (size(expr(
        "filter(split(text, ' '), x -> x IN ('the','a','of','and','to','in'))"))
        .cast("long") * 20 >= size(split($"text", " ")).cast("long"))
        .as("ga"))
    val ub = unigramScoreOf(docs)
    val tot = ub.agg(sum($"sum_freq").as("tf"), sum($"n_tokens").as("tn"))
    val gb = ub.crossJoin(broadcast(tot))
      .select($"doc_id",
        ($"mean_freq_scaled" >= expr("tf * 1000000 div tn")).as("gb"))
    agreementOf(ga.join(gb, "doc_id"))
  }

  /** q186's tail over a frame of (ga, gb) gate booleans: the 2×2
    * confusion sums, observed/expected agreement in ppm and the kappa
    * numerator/denominator. Shared with
    * [[graft.streaming.StreamingQueries.agreementMonitorStream]], which
    * keeps its own gate expressions. */
  private[graft] def agreementOf(gates: DataFrame): DataFrame =
    gates.groupBy()
      .agg(
        sum(when(col("ga") && col("gb"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("ga") && !col("gb"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("ga") && col("gb"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("ga") && !col("gb"), 1L).otherwise(0L)).as("n00"))
      .select(col("n11"), col("n10"), col("n01"), col("n00"),
        expr("(n11 + n00) * 1000000 div (n11 + n10 + n01 + n00)")
          .as("po_ppm"),
        expr("(((n11 + n10) * 1000000 div (n11 + n10 + n01 + n00)) " +
          "* (n11 + n01) + ((n01 + n00) * 1000000 div " +
          "(n11 + n10 + n01 + n00)) * (n10 + n00)) div " +
          "(n11 + n10 + n01 + n00)").as("pe_ppm"))
      .select(col("n11"), col("n10"), col("n01"), col("n00"),
        col("po_ppm"), col("pe_ppm"),
        (col("po_ppm") - col("pe_ppm")).as("kappa_num_ppm"),
        (lit(1000000L) - col("pe_ppm")).as("kappa_den_ppm"))

  private val scorerAgreementSql = unigramCtes + ",\n" +
    """ga AS (SELECT doc_id,
      |    len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the','a','of','and','to','in'))) * 20
      |      >= len(string_split(text, ' ')) AS ga
      |  FROM documents),
      |ub AS (SELECT d.doc_id,
      |    COALESCE(s.n_tokens, 0) AS n_tokens,
      |    COALESCE(s.sum_freq, 0) AS sum_freq,
      |    COALESCE(s.sum_freq * 1000000 // s.n_tokens, 0)
      |      AS mean_freq_scaled
      |  FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id),
      |tot AS (SELECT SUM(sum_freq) AS tf, SUM(n_tokens) AS tn FROM ub),
      |gb AS (SELECT doc_id, mean_freq_scaled >= tf * 1000000 // tn AS gb
      |  FROM ub, tot),
      |cm AS (SELECT
      |    CAST(SUM(CASE WHEN ga AND gb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n11,
      |    CAST(SUM(CASE WHEN ga AND NOT gb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n10,
      |    CAST(SUM(CASE WHEN NOT ga AND gb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n01,
      |    CAST(SUM(CASE WHEN NOT ga AND NOT gb THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n00
      |  FROM ga JOIN gb USING (doc_id))
      |SELECT n11, n10, n01, n00,
      |  (n11 + n00) * 1000000 // (n11 + n10 + n01 + n00) AS po_ppm,
      |  (((n11 + n10) * 1000000 // (n11 + n10 + n01 + n00))
      |      * (n11 + n01)
      |    + ((n01 + n00) * 1000000 // (n11 + n10 + n01 + n00))
      |      * (n10 + n00)) // (n11 + n10 + n01 + n00) AS pe_ppm,
      |  (n11 + n00) * 1000000 // (n11 + n10 + n01 + n00)
      |    - (((n11 + n10) * 1000000 // (n11 + n10 + n01 + n00))
      |        * (n11 + n01)
      |      + ((n01 + n00) * 1000000 // (n11 + n10 + n01 + n00))
      |        * (n10 + n00)) // (n11 + n10 + n01 + n00)
      |    AS kappa_num_ppm,
      |  1000000 - ((((n11 + n10) * 1000000 // (n11 + n10 + n01 + n00))
      |      * (n11 + n01)
      |    + ((n01 + n00) * 1000000 // (n11 + n10 + n01 + n00))
      |      * (n10 + n00)) // (n11 + n10 + n01 + n00)) AS kappa_den_ppm
      |FROM cm""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("q20_token_stats", tokenStats, Some(tokenStatsSql),
      "whitespace + subword-chunk token counting"),
    Q("q142_vocab_drift", vocabDrift, Some(vocabDriftSql),
      "head-term share drift of the delta batch vs the standing " +
        "corpus in integer ppm — the lexical distribution-shift " +
        "detector, top-100 via TakeOrderedAndProject"),
    Q("q148_source_calibration", sourceCalibratedScore,
      Some(sourceCalibratedScoreSql),
      "per-source quality-score calibration: integer percentile of " +
        "each doc's unigram score within its source (per-source " +
        "cutoff-bin device, no window) + the calibrated bottom-30% " +
        "drop flag",
      pays = Seq(calibrated)),
    Q("q138_curriculum_phase", curriculumPhase, Some(curriculumPhaseSql),
      "easy-to-hard curriculum assignment: quintile phase from the " +
        "corpus's own unigram-score histogram (cutoff-bin device, no " +
        "global window) + deterministic within-phase order key"),
    Q("q21_term_frequency", termFrequency, Some(termFrequencySql),
      "explode -> corpus term frequency"),
    Q("q22_quality_score", qualityScore, Some(qualityScoreSql),
      "doc quality metrics (stopword ratio, token density)"),
    Q("q23_lang_id", langId, Some(langIdSql),
      "marker-token language ID, confusion matrix"),
    Q("q24_fingerprint", fingerprint, Some(fingerprintSql),
      "normalize+md5 document fingerprint"),
    Q("q25_shingle_stats", shingleStats, Some(shingleStatsSql),
      "3-token shingles via higher-order functions"),
    Q("q39_top_terms", topTerms, Some(topTermsSql),
      "float-free TF-IDF-style characteristic terms (tf desc, df asc)"),
    Q("q49_source_vocab", sourceVocab, Some(sourceVocabSql),
      "per-source corpus card: exact vocab / docs / occurrences"),
    Q("q114_hll_registers", hllRegisters, Some(hllRegistersSql),
      "mergeable distinct sketch: 64 min-tail HLL registers per " +
        "source, map-side combinable, sketch itself hash-checked"),
    Q("q122_cm_sketch", cmSketch, Some(cmSketchSql),
      "Count-Min 4x256 counter matrix over token occurrences — " +
        "elementwise-sum mergeable, map-side combinable",
      pays = Seq(cmMatrix)),
    Q("q123_cm_estimate", cmEstimate, Some(cmEstimateSql),
      "sketch point query: min-over-rows frequency estimate for the " +
        "q89 terms, broadcast lookup against the 1k-row artifact",
      rides = Seq(cmMatrix)),
    Q("q127_heavy_grams", heavyGrams, Some(heavyGramsSql),
      "two-pass trigram heavy hitters: Count-Min prefilter as a " +
        "broadcast lookup, exact counts for survivors only — the " +
        "tail never reaches the exchange",
      pays = Seq(hhSketch)),
    Q("q120_collocations", collocations, Some(collocationsSql),
      "support-pruned co-occurrence mining with integer overlap " +
        "confidence — Apriori prune before the quadratic pair step"),
    Q("q121_more_like_this", moreLikeThis, Some(moreLikeThisSql),
      "doc-to-doc lexical retrieval over the posting table: the " +
        "query doc's postings broadcast, integer tf-idf, top-10"),
    Q("q79_repetition_stats", repetitionStats, Some(repetitionStatsSql),
      "Gopher-style within-doc repetition filters (top/duplicated 2-gram chars)"),
    Q("q82_unigram_score", unigramScore, Some(unigramScoreSql),
      "unigram-LM corpus-likelihood quality score, integer-exact"),
    Q("q107_bigram_score", bigramScore, Some(bigramScoreSql),
      "bigram-LM transition score: integer conditional-probability " +
        "surrogate per adjacent pair, truncating per-doc mean — the " +
        "sequence-aware gate bag-of-words filters can't express"),
    Q("q87_inverted_index", invertedIndex, Some(invertedIndexSql),
      "inverted-index posting table (term, doc, df, tf, first_pos) — " +
        "BM25 sufficient statistics, one narrow row per posting"),
    Q("q89_bm25_topk", bm25TopK, Some(bm25TopKSql),
      "ranked retrieval over the posting table: tf x integer-exact idf " +
        "surrogate, deterministic top-20 via TakeOrderedAndProject"),
    Q("q179_vocab_coverage", vocabCoverage, Some(vocabCoverageSql),
      "vocabulary coverage curve: corpus token mass covered by the " +
        "top-k terms at power-of-two budgets k, absolute + ppm — the " +
        "tokenizer vocab-size budgeting table (q131's Zipf integral " +
        "as data)"),
    // q174 — the INDEXED serving twin (VERDICT r11 #6): q89 answered
    // from the bucket-partitioned posting index built once per JVM by
    // ServingIndexes; same oracle, live==indexed also spec-asserted
    // (PostingIndexSpec).
    Q("q174_bm25_served",
      (s, d) => bm25SearchIndexed(s, ServingIndexes.postingIndex(s, d)),
      Some(bm25TopKSql),
      "q89 answered FROM the persisted posting index: query-term " +
        "buckets prune at planning time, df re-derived exactly from " +
        "the pruned postings — the per-query serving cost",
      rides = Seq(ServingIndexes.postingIndex)),
    Q("q185_vocab_overlap_sketch", vocabOverlapSketch,
      Some(vocabOverlapSketchSql),
      "pairwise cross-source vocab-overlap sketches: merged q114 HLL " +
        "registers per source pair (sketch(A∪B) = elementwise MIN) — " +
        "every pairwise overlap estimate from one corpus scan; " +
        "estimate accuracy spec-asserted"),
    Q("q186_scorer_agreement", scorerAgreement, Some(scorerAgreementSql),
      "inter-scorer agreement audit: 2x2 confusion of the stopword " +
        "gate vs the corpus-relative unigram gate + Cohen's-kappa " +
        "sufficient statistics in integer ppm"))
}
