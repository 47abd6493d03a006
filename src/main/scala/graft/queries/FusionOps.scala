package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-8 pipeline closers: candidate VERIFICATION by edit distance
  * (q129), INCREMENTAL delta-vs-corpus dedup (q130), per-language Zipf
  * rank–frequency fits (q131), and multi-signal dedup FUSION (q132).
  *
  * These four sit on top of the q40–q45 dedup family and close loops a
  * production corpus pipeline actually runs: "are the approximate
  * candidates really duplicates?" (q129), "dedup tonight's crawl without
  * re-mining the existing 100 TB" (q130), "does this slice look like
  * natural language?" (q131), and "one cluster id no matter which signal
  * found the duplicate" (q132).
  *
  * Reference grounding: the reference's dedup surface is whole-corpus
  * batch (see SURVEY.md §2 and DedupOps); these are the operational forms
  * large-scale training-data builds add around it.
  */
object DedupFusionOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  // ---------------------------------------------------------------------
  // q129 — edit-distance verification of SimHash candidates
  // ---------------------------------------------------------------------

  /** q129 — character-level verification of the q44 SimHash candidate
    * pairs: exact Levenshtein similarity
    * `1 − lev(a,b) / max(len(a), len(b))` over the raw text, with the
    * `confirmed` verdict at τ = 0.8. SimHash (and MinHash) candidates are
    * token-set approximations — two documents can share a bag of words
    * yet read completely differently — so pipelines that delete data
    * re-verify candidates with an order-sensitive measure before acting.
    * This is that gate, as a report: every candidate with its bit
    * distance, its edit similarity, and the verdict.
    *
    * Exactness: `lev` and `max(len)` are integers; the similarity is one
    * IEEE division and subtraction, bit-identical in any engine — the
    * whole row hash-checks including the double.
    *
    * Scale shape: Levenshtein runs ONLY on candidate pairs (LSH-bounded,
    * equi-join-shaped — never corpus²), and each comparison is
    * partition-local inside whole-stage codegen. The full O(|a|·|b|) DP
    * is kept here because the report publishes the distance and the
    * oracle needs portable semantics; a deployment that only needs the
    * verdict uses Spark's banded `levenshtein(a, b, threshold)` form,
    * which exits in O(threshold·n) once the bound is exceeded — same
    * plan, cheaper kernel. */
  def editVerified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val texts = docs(spark, dir).select($"doc_id", $"text")
    DedupOps.simhashPairs(spark, dir)
      .join(texts.select($"doc_id".as("a_id"), $"text".as("a_text")), "a_id")
      .join(texts.select($"doc_id".as("b_id"), $"text".as("b_text")), "b_id")
      .withColumn("edit_sim",
        lit(1.0) - levenshtein($"a_text", $"b_text").cast("double") /
          greatest(length($"a_text"), length($"b_text")))
      .select($"a_id", $"b_id", $"hamming", $"edit_sim",
        ($"edit_sim" >= 0.8).as("confirmed"))
  }

  private val editVerifiedSql =
    s"""WITH sp AS (
      |${DedupOps.simhashPairsSql}
      |)
      |SELECT sp.a_id, sp.b_id, sp.hamming,
      |  1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
      |      / GREATEST(len(a.text), len(b.text)) AS edit_sim,
      |  (1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
      |      / GREATEST(len(a.text), len(b.text))) >= 0.8 AS confirmed
      |FROM sp
      |JOIN documents a ON a.doc_id = sp.a_id
      |JOIN documents b ON b.doc_id = sp.b_id""".stripMargin

  // ---------------------------------------------------------------------
  // q130 — incremental delta-vs-corpus dedup
  // ---------------------------------------------------------------------

  /** The q46 deterministic-split device: ~10 % of documents (by md5
    * prefix of the id) play "tonight's crawl"; the rest are the standing
    * corpus. Portable across engines, stable across runs. */
  private[graft] def isDeltaCol: Column =
    substring(md5(col("doc_id").cast("string")), 1, 2) < "1a"

  private val isDeltaSql =
    "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'"

  /** q130 — INCREMENTAL near-dup dedup: match a small delta batch
    * against the standing corpus (and against itself) without ever
    * comparing corpus docs to each other. Output: one row per verified
    * match — the new document, the earlier document it duplicates,
    * which side that match came from, and the exact shingle Jaccard.
    *
    * This is the batch sibling of the streaming near-dup flagger: the
    * nightly "dedup the new crawl against the lake" job. The semantics
    * are exactly the global J ≥ 0.5 pair set RESTRICTED to pairs with a
    * delta-side newer element (delta×corpus, plus delta×delta ordered by
    * id) — which is what the exhaustive oracle computes, and what the
    * LSH path returns by the q42 threshold-separation argument (miss
    * probability ≈ 4e-8 at J = 0.65 with 31 bands × 2 rows).
    *
    * Scale shape — the entire point of the operator: the corpus side
    * contributes ONLY its band-key index (the `explodeBandKeys`
    * projection q42's docs call out as the persisted LSH index table —
    * at 100 TB that artifact is written once and mapped straight off
    * storage, the corpus text is never re-shingled). Per-ingest cost is
    * |delta| signature passes + one equi-join of delta band keys
    * against the index + verification on the candidate set. Nothing
    * scales with corpus×corpus; corpus-side work is O(index lookup).
    * Here both sides derive from one lifted scan so the oracle covers
    * the whole flow; the index handoff is the persist boundary. */
  def deltaDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lifted = DedupOps.withShinglesAndMinhash(
        docs(spark, dir).select($"doc_id", $"text"))
      .withColumn("is_delta", isDeltaCol)
    val bands = DedupOps.explodeBandKeys(lifted)
      .select($"doc_id", $"is_delta", $"band_key")
    val candidates = bands.filter($"is_delta").as("x")
      .join(bands.as("y"),
        col("x.band_key") === col("y.band_key") &&
          (!col("y.is_delta") ||
            col("y.doc_id") < col("x.doc_id")))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("match_id"),
        col("y.is_delta").as("m_delta"))
      .distinct()
    val shingles = lifted.select($"doc_id", $"sh")
    DedupOps.verifyJaccard(candidates
      .join(shingles.select($"doc_id".as("new_id"), $"sh".as("a_sh")), "new_id")
      .join(shingles.select($"doc_id".as("match_id"), $"sh".as("b_sh")),
        "match_id"), "a_sh", "b_sh")
      .select($"new_id", $"match_id",
        when($"m_delta", "delta").otherwise("corpus").as("match_side"),
        $"jaccard")
  }

  private val deltaDedupSql =
    s"""WITH sh AS (
      |  SELECT doc_id, $isDeltaSql AS is_delta,
      |    list_distinct(list_transform(
      |      range(1, len(string_split(text, ' ')) - 1),
      |      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS s
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3)
      |SELECT n.doc_id AS new_id, m.doc_id AS match_id,
      |  CASE WHEN m.is_delta THEN 'delta' ELSE 'corpus' END AS match_side,
      |  CAST(len(list_intersect(n.s, m.s)) AS DOUBLE)
      |    / len(list_distinct(list_concat(n.s, m.s))) AS jaccard
      |FROM sh n JOIN sh m
      |  ON n.is_delta AND (NOT m.is_delta OR m.doc_id < n.doc_id)
      |WHERE CAST(len(list_intersect(n.s, m.s)) AS DOUBLE)
      |    / len(list_distinct(list_concat(n.s, m.s))) >= 0.5""".stripMargin

  /** The PHYSICAL LSH index q130's scale story names: the standing
    * corpus's band-key table (candidate generation) and shingle table
    * (verification), written to storage from ONE lifted scan — after
    * this runs, a nightly ingest never re-reads or re-shingles the
    * corpus text. The ANN stack's `ivfPqWriteIndex` precedent applied
    * to the lexical near-dup side. Band keys are high-cardinality, so
    * the tables are plain parquet (the band equi-join shuffles on
    * read); at deployment scale the bands table is the candidate-side
    * scan and the shingles table is a point-lookup join target for the
    * (small) candidate set. */
  def lshWriteIndex(spark: SparkSession, dir: String, path: String): Unit = {
    import spark.implicits._
    val lifted = DedupOps.withShinglesAndMinhash(
        docs(spark, dir).filter(!isDeltaCol).select($"doc_id", $"text"))
      .persist()
    val (bands, shingles) = DedupOps.lshIndexOf(lifted)
    shingles.write.mode("overwrite").parquet(s"$path/shingles")
    bands.write.mode("overwrite").parquet(s"$path/bands")
    lifted.unpersist(blocking = false)
  }

  /** q130's incremental dedup answered FROM the persisted index: the
    * delta batch is lifted live (it is tonight's new data); the
    * standing-corpus side contributes ONLY its stored band-key and
    * shingle tables. Exactly [[deltaDedup]]'s output — equality is
    * spec-asserted — with the corpus-side cost moved from recompute to
    * storage read, which is the entire operational point at 100 TB. */
  def deltaDedupIndexed(spark: SparkSession, dir: String,
      path: String): DataFrame = {
    import spark.implicits._
    val delta = DedupOps.withShinglesAndMinhash(
        docs(spark, dir).filter(isDeltaCol).select($"doc_id", $"text"))
      .persist()
    val dBands = DedupOps.explodeBandKeys(delta)
      .select($"doc_id", $"band_key")
    val cBands = spark.read.parquet(s"$path/bands")
      .select($"doc_id".as("c_id"), $"band_key")
    val candCorpus = dBands.join(cBands, "band_key")
      .select($"doc_id".as("new_id"), $"c_id".as("match_id"),
        lit(false).as("m_delta"))
    val candDelta = dBands.as("x")
      .join(dBands.as("y"),
        col("x.band_key") === col("y.band_key") &&
          col("y.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("match_id"),
        lit(true).as("m_delta"))
    val candidates = candCorpus.union(candDelta).distinct()
    val dShingles = delta.select($"doc_id", $"sh")
    val mShingles = spark.read.parquet(s"$path/shingles").union(dShingles)
    DedupOps.verifyJaccard(candidates
      .join(dShingles.select($"doc_id".as("new_id"), $"sh".as("a_sh")),
        "new_id")
      .join(mShingles.select($"doc_id".as("match_id"), $"sh".as("b_sh")),
        "match_id"), "a_sh", "b_sh")
      .select($"new_id", $"match_id",
        when($"m_delta", "delta").otherwise("corpus").as("match_side"),
        $"jaccard")
  }

  /** The persisted span-gram index the q73 family's 100 TB notes
    * describe: the standing corpus's DISTINCT window hashes (narrow
    * 8-byte rows via [[DedupOps.spanWindowHashes]] — no gram text is
    * ever built), written once beside the [[lshWriteIndex]] band
    * tables. Per-ingest novelty then joins an 8-byte key against
    * storage instead of re-exploding the corpus. */
  def spanWriteIndex(spark: SparkSession, dir: String, path: String): Unit = {
    import spark.implicits._
    DedupOps.spanWindowHashes(
        docs(spark, dir).filter(!isDeltaCol).select($"doc_id", $"text"),
        NoveltyK)
      .select($"gh").distinct()
      .write.mode("overwrite").parquet(s"$path/span_hashes")
  }

  /** q139's novelty answered FROM the stored hash index: delta windows
    * are hashed with the same expression and left-joined against the
    * 8-byte key table — the corpus text is never re-read. Result
    * equality with the live [[noveltyScore]] is spec-asserted (a
    * 64-bit hash collision could in principle mark a novel window
    * seen; the birthday bound and its determinism are documented on
    * [[DedupOps.spanWindowHashes]]). */
  def noveltyScoreIndexed(spark: SparkSession, dir: String,
      path: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    val deltaWins = DedupOps.spanWindowHashes(
      d.filter(isDeltaCol).select($"doc_id", $"text"), NoveltyK)
    val stored = spark.read.parquet(s"$path/span_hashes")
      .withColumn("seen", lit(true))
    val flagged = deltaWins
      .join(stored, Seq("gh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when($"seen", 0L).otherwise(1L)).as("n_novel"))
    d.filter(isDeltaCol).select($"doc_id")
      .join(flagged, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_windows", lit(0L)).as("n_windows"),
        coalesce($"n_novel", lit(0L)).as("n_novel"),
        expr("CAST(IF(COALESCE(n_windows, 0) = 0, 0, " +
          "(100 * COALESCE(n_novel, 0)) div n_windows) AS BIGINT)")
          .as("novelty_pct"))
  }

  // ---------------------------------------------------------------------
  // q139 — window-novelty score of the delta batch
  // ---------------------------------------------------------------------

  /** q139 — NOVELTY scoring of tonight's crawl: for each delta
    * document, the fraction of its 8-token windows whose gram occurs
    * NOWHERE in the standing corpus — the curation metric between
    * near-dup detection (q130: "is this a copy of one document?") and
    * span scrubbing (q74: "remove the copied parts"): a crawl document
    * whose windows are all already in the corpus adds no new text even
    * when no single corpus document matches it (stitched boilerplate —
    * exactly what Lee et al. 2022's substring analysis targets).
    * Integer-exact: window count, novel-window count, and a truncating
    * percent, so the whole report hash-checks. Delta docs with < 8
    * tokens have no window and report zeros (restore join) — a short
    * doc is not "novel", it is unmeasured, and 0/0 surfacing as 0 keeps
    * the admission policy conservative.
    *
    * Scale shape: both sides are the q73 partition-local window
    * explode; the corpus side collapses to DISTINCT grams (two-level
    * hash agg) and the join is equi on gram — no pairwise anything.
    * At 100 TB the corpus gram set is the persisted window-HASH table
    * the span family's docs describe (narrow rows, written once beside
    * the q130 band index); per-ingest cost is the delta explode + one
    * keyed join against it. */
  def noveltyScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    // both sides are doc_id-disjoint slices of the family's shared
    // NARROW window-hash table (q74 pays the one explode, this rides —
    // VERDICT r12 #2); isDeltaCol is a pure doc_id predicate, so
    // filtering the window rows equals windowing the filtered docs.
    // The novelty join moves to the 64-bit gh key — the same key (and
    // the same documented collision bound) [[noveltyScoreIndexed]]
    // already serves from storage, so live and served twins now share
    // the key domain end to end
    val wins = DedupOps.spanWindowTable(spark, dir)
    val deltaWins = wins.filter(isDeltaCol)
    val corpusGhs = wins.filter(!isDeltaCol)
      .select($"gh").distinct()
    val flagged = deltaWins
      .join(corpusGhs.withColumn("seen", lit(true)), Seq("gh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when($"seen", 0L).otherwise(1L)).as("n_novel"))
    d.filter(isDeltaCol).select($"doc_id")
      .join(flagged, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_windows", lit(0L)).as("n_windows"),
        coalesce($"n_novel", lit(0L)).as("n_novel"),
        expr("CAST(IF(COALESCE(n_windows, 0) = 0, 0, " +
          "(100 * COALESCE(n_novel, 0)) div n_windows) AS BIGINT)")
          .as("novelty_pct"))
  }

  // pinned to the shared window table's k ([[DedupOps.spanWindowTable]]):
  // noveltyScore rides that artifact, so the two constants must agree
  private val NoveltyK = 8

  private val noveltyScoreSql =
    s"""WITH dd AS (
      |  SELECT doc_id, text, $isDeltaSql AS is_delta FROM documents),
      |dw AS (
      |  SELECT doc_id, array_to_string(tok[i : i + $NoveltyK - 1], ' ')
      |      AS gram
      |  FROM (
      |    SELECT doc_id, string_split(text, ' ') AS tok,
      |      unnest(range(1,
      |        len(string_split(text, ' ')) - $NoveltyK + 2)) AS i
      |    FROM dd
      |    WHERE is_delta AND len(string_split(text, ' ')) >= $NoveltyK) u),
      |cg AS (
      |  SELECT DISTINCT array_to_string(tok[i : i + $NoveltyK - 1], ' ')
      |      AS gram
      |  FROM (
      |    SELECT string_split(text, ' ') AS tok,
      |      unnest(range(1,
      |        len(string_split(text, ' ')) - $NoveltyK + 2)) AS i
      |    FROM dd
      |    WHERE NOT is_delta
      |      AND len(string_split(text, ' ')) >= $NoveltyK) u),
      |fl AS (
      |  SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS nw,
      |    CAST(SUM(CASE WHEN cg.gram IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nn
      |  FROM dw LEFT JOIN cg ON cg.gram = dw.gram
      |  GROUP BY dw.doc_id)
      |SELECT dd.doc_id,
      |  COALESCE(fl.nw, 0) AS n_windows,
      |  COALESCE(fl.nn, 0) AS n_novel,
      |  CAST(CASE WHEN COALESCE(fl.nw, 0) = 0 THEN 0
      |    ELSE (100 * COALESCE(fl.nn, 0)) // fl.nw END AS BIGINT)
      |    AS novelty_pct
      |FROM dd LEFT JOIN fl ON fl.doc_id = dd.doc_id
      |WHERE dd.is_delta""".stripMargin

  // ---------------------------------------------------------------------
  // q131 — per-language Zipf rank–frequency fit
  // ---------------------------------------------------------------------

  /** q131 — per-language Zipf fit: least-squares slope and intercept of
    * ln(frequency) against ln(rank) over each language's term-frequency
    * table. Natural text sits near slope ≈ −1; a slice whose slope is
    * far off (too flat: templated/generated text; too steep: tiny or
    * repetitive vocabulary) fails the corpus health check — this is the
    * distribution-level companion to the per-document quality gates
    * (q22/q79/q107).
    *
    * No global anything: every stage is keyed by language — the term
    * count (two-level hash agg), the rank computation, and the final
    * regression rollup (sums are partial-aggregatable). Ranks are
    * computed WITHOUT a global sort: the per-(lang, cnt) frequency
    * histogram is tiny (≤ distinct count values, thousands at any
    * corpus size by the power law itself), so rank = (# terms with
    * higher count, via a broadcast histogram self-join) + (row_number
    * within the tie block, a keyed window). Tie order cannot affect the
    * fit: tied terms share cnt, so the (rank, cnt) multiset is
    * identical under any permutation of a tie block.
    *
    * The two float aggregates are rounded to 4 decimals because the
    * summation ORDER differs between engines (ulp-level drift on
    * ~1e-16-relative terms — far inside the rounding guard). */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tf = docs(spark, dir)
      .select($"lang", explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") > 0)
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt"))
    val hist = tf.groupBy($"lang", $"cnt")
      .agg(count(lit(1)).as("n_at"))
    val cumGreater = hist.as("a")
      .join(hist.as("b"),
        col("a.lang") === col("b.lang") && col("b.cnt") > col("a.cnt"),
        "left")
      .groupBy(col("a.lang").as("lang"), col("a.cnt").as("cnt"))
      .agg(coalesce(sum(col("b.n_at")), lit(0L)).as("n_greater"))
    val rn = row_number().over(
      Window.partitionBy($"lang", $"cnt").orderBy($"tok"))
    val ranked = tf
      .join(cumGreater, Seq("lang", "cnt"))
      .withColumn("rank", ($"n_greater" + rn).cast("double"))
      .select($"lang", log($"rank").as("lr"), log($"cnt").as("lc"))
    ranked.groupBy($"lang")
      .agg(count(lit(1)).cast("double").as("n"),
        sum($"lr").as("sx"), sum($"lc").as("sy"),
        sum($"lr" * $"lc").as("sxy"), sum($"lr" * $"lr").as("sxx"))
      .select($"lang", $"n".cast("bigint").as("n_terms"),
        round(($"sxy" - $"sx" * $"sy" / $"n") /
          ($"sxx" - $"sx" * $"sx" / $"n"), 4).as("slope"),
        round($"sy" / $"n" -
          ($"sxy" - $"sx" * $"sy" / $"n") /
            ($"sxx" - $"sx" * $"sx" / $"n") * $"sx" / $"n", 4)
          .as("intercept"))
  }

  private val zipfFitSql =
    """WITH tf AS (
      |  SELECT lang, tok, COUNT(*) AS cnt FROM (
      |    SELECT lang, unnest(string_split(text, ' ')) AS tok
      |    FROM documents) t
      |  WHERE len(tok) > 0
      |  GROUP BY lang, tok),
      |hist AS (
      |  SELECT lang, cnt, COUNT(*) AS n_at FROM tf GROUP BY lang, cnt),
      |cg AS (
      |  SELECT a.lang, a.cnt, COALESCE(SUM(b.n_at), 0) AS n_greater
      |  FROM hist a LEFT JOIN hist b
      |    ON a.lang = b.lang AND b.cnt > a.cnt
      |  GROUP BY a.lang, a.cnt),
      |ranked AS (
      |  SELECT tf.lang,
      |    ln(CAST(cg.n_greater + ROW_NUMBER() OVER (
      |      PARTITION BY tf.lang, tf.cnt ORDER BY tf.tok) AS DOUBLE)) AS lr,
      |    ln(CAST(tf.cnt AS DOUBLE)) AS lc
      |  FROM tf JOIN cg ON cg.lang = tf.lang AND cg.cnt = tf.cnt),
      |s AS (
      |  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
      |    SUM(lr) AS sx, SUM(lc) AS sy,
      |    SUM(lr * lc) AS sxy, SUM(lr * lr) AS sxx
      |  FROM ranked GROUP BY lang)
      |SELECT lang, CAST(n AS BIGINT) AS n_terms,
      |  ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 4) AS slope,
      |  ROUND(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
      |    * sx / n, 4) AS intercept
      |FROM s""".stripMargin

  // ---------------------------------------------------------------------
  // q132 — multi-signal dedup fusion
  // ---------------------------------------------------------------------

  /** q132 — ensemble cluster labels over the UNION of all three dedup
    * signals: exact fingerprint identity (q40's normalize+md5), verified
    * MinHash-LSH near-dups (q42, J ≥ 0.5), and SimHash bit-neighbors
    * (q44, hamming ≤ 3). Real pipelines run several detectors because
    * each misses differently (exact: any edit breaks it; token-set:
    * blind to order; bitwise: blind to long insertions) — but a corpus
    * needs ONE cluster id per document, so the union graph is what gets
    * clustered. Labels are min-id per connected component, same contract
    * as q45/q105 — so fused labels are directly comparable to the
    * single-signal ones (they refine-coarser: every q45 cluster is
    * contained in a fusion cluster).
    *
    * Scale shape: each edge family is equi-join-shaped (fingerprint
    * groups star to their min id — |group| edges, never |group|²; the
    * pair miners are LSH/chunk-blocked); the union feeds the
    * large-star/small-star contraction, O(log n) rounds on any graph
    * shape. The MinHash pairs ride the session-memoized artifact, so
    * Bench/Verify pay that mining once across q42/q45/q54/q132. */
  def fusionClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fanned read (guide §2.5): fingerprint = regexp + lower + md5 per
    // row — per-row-expensive map work over a single-split scan
    val fp = Tables.fanned(spark, dir, "documents")
      .select($"doc_id", DedupOps.fingerprintExpr($"text").as("fp"))
    val exactEdges = fp
      .join(fp.groupBy($"fp").agg(min($"doc_id").as("root")), "fp")
      .filter($"doc_id" =!= $"root")
      .select($"root".as("u"), $"doc_id".as("v"))
    val minhashEdges = DedupOps.verifiedPairs(spark, dir)
      .select($"a_id".as("u"), $"b_id".as("v"))
    val simhashEdges = DedupOps.simhashPairs(spark, dir)
      .select($"a_id".as("u"), $"b_id".as("v"))
    val labels = graft.operators.Operators.connectedComponentsStar(
      exactEdges.union(minhashEdges).union(simhashEdges))
    docs(spark, dir).select($"doc_id")
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"label", $"doc_id").as("cluster_id"))
  }

  /** The three edge-family CTEs (exact `ee`, minhash `mp`, simhash
    * `sp`) — shared by the q132 fusion oracle and q196's attribution
    * oracle, one definition so the families cannot drift. */
  private val fusionEdgeCtes =
    s"""fp AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS f
      |  FROM documents),
      |ee AS (
      |  SELECT m.r AS a_id, fp.doc_id AS b_id
      |  FROM fp JOIN (SELECT f, MIN(doc_id) AS r FROM fp GROUP BY f) m
      |    ON m.f = fp.f
      |  WHERE fp.doc_id <> m.r),
      |shg AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, len(string_split(text, ' ')) - 1),
      |      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS s
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |mp AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM shg a JOIN shg b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
      |sp AS (
      |${DedupOps.simhashPairsSql.linesIterator
           .map("  " + _).mkString("\n")}
      |)""".stripMargin

  private val fusionClustersSql =
    s"""WITH RECURSIVE $fusionEdgeCtes,
      |pe AS (
      |  SELECT a_id, b_id FROM ee
      |  UNION SELECT a_id, b_id FROM mp
      |  UNION SELECT a_id, b_id FROM sp),
      |e AS (SELECT a_id AS u, b_id AS v FROM pe
      |      UNION SELECT b_id, a_id FROM pe),
      |reach AS (
      |  SELECT u, v FROM e
      |  UNION
      |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
      |m2 AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u)
      |SELECT d.doc_id,
      |  CAST(LEAST(d.doc_id, COALESCE(m2.mn, d.doc_id)) AS BIGINT)
      |    AS cluster_id
      |FROM documents d LEFT JOIN m2 ON m2.doc_id = d.doc_id""".stripMargin

  /** q196 — SIGNAL ATTRIBUTION over the fusion edge families: per
    * detector (exact fingerprint / verified MinHash / SimHash), how
    * many edges it contributed to the q132 union graph and how many
    * of those NO other detector found. This is the report that
    * justifies (or retires) each detector in the ensemble — a signal
    * whose n_unique goes to zero is paying its mining cost for
    * redundant evidence; one whose unique share grows is covering a
    * failure mode the others are blind to. Edge semantics are exactly
    * q132's (the exact family contributes its root-star edges, the
    * pair miners their verified pairs — one shared definition, so the
    * attribution can never drift from what the fusion consumed).
    * Bounded output (3 rows); the per-pair signal rollup is one
    * two-level hash aggregate over the already-mined edge sets, and
    * the MinHash arm rides the session-memoized pair table. */
  def signalAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fanned read: same fingerprint arm as q132 (see the note there)
    val fp = Tables.fanned(spark, dir, "documents")
      .select($"doc_id", DedupOps.fingerprintExpr($"text").as("fp"))
    val exact = fp
      .join(fp.groupBy($"fp").agg(min($"doc_id").as("root")), "fp")
      .filter($"doc_id" =!= $"root")
      .select($"root".as("a_id"), $"doc_id".as("b_id"),
        lit("exact").as("sig"))
    val mh = DedupOps.verifiedPairs(spark, dir)
      .select($"a_id", $"b_id", lit("minhash").as("sig"))
    val sh = DedupOps.simhashPairs(spark, dir)
      .select($"a_id", $"b_id", lit("simhash").as("sig"))
    val tagged = exact.union(mh).union(sh)
    val nsig = tagged.groupBy($"a_id", $"b_id")
      .agg(countDistinct($"sig").as("nsig"))
    val perSig = tagged.join(nsig, Seq("a_id", "b_id"))
      .groupBy($"sig")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"nsig" === 1, 1L).otherwise(0L)).as("n_unique"))
    // a detector that found NOTHING must show a zero row, not vanish —
    // "n_unique went to zero" is the retire signal this report exists
    // to surface
    Seq("exact", "minhash", "simhash").toDF("sig")
      .join(perSig, Seq("sig"), "left")
      .select($"sig", coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_unique", lit(0L)).as("n_unique"))
  }

  private val signalAttributionSql =
    s"""WITH $fusionEdgeCtes,
      |tagged AS (
      |  SELECT 'exact' AS sig, a_id, b_id FROM ee
      |  UNION ALL SELECT 'minhash', a_id, b_id FROM mp
      |  UNION ALL SELECT 'simhash', a_id, b_id FROM sp),
      |ns AS (SELECT a_id, b_id, COUNT(DISTINCT sig) AS nsig
      |  FROM tagged GROUP BY 1, 2),
      |per AS (
      |  SELECT t.sig, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(CASE WHEN ns.nsig = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_unique
      |  FROM tagged t JOIN ns USING (a_id, b_id)
      |  GROUP BY t.sig)
      |SELECT d.sig, COALESCE(per.n_pairs, 0) AS n_pairs,
      |  COALESCE(per.n_unique, 0) AS n_unique
      |FROM (SELECT unnest(['exact', 'minhash', 'simhash']) AS sig) d
      |LEFT JOIN per ON per.sig = d.sig""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("q196_signal_attribution", signalAttribution,
      Some(signalAttributionSql),
      "dedup-ensemble attribution: per detector, edges contributed " +
        "to the q132 union graph and edges NO other detector found " +
        "— the keep-or-retire report for each signal, bounded 3-row " +
        "output over the already-mined edge sets",
      rides = Seq(DedupOps.pairs)),
    Q("q129_edit_verified", editVerified, Some(editVerifiedSql),
      "edit-distance verification of SimHash candidates: exact " +
        "Levenshtein similarity over candidate pairs only (never " +
        "corpus²), confirmed verdict at 0.8"),
    Q("q130_delta_dedup", deltaDedup, Some(deltaDedupSql),
      "incremental dedup of a delta batch against the standing corpus " +
        "via the persisted band-key index — corpus never re-mined, " +
        "no corpus×corpus work"),
    Q("q131_zipf_fit", zipfFit, Some(zipfFitSql),
      "per-language Zipf rank-frequency regression (slope/intercept) " +
        "— corpus-health distribution check, fully keyed, no global " +
        "sort or aggregate"),
    Q("q132_fusion_clusters", fusionClusters, Some(fusionClustersSql),
      "multi-signal dedup fusion: one cluster id over the union of " +
        "exact, MinHash and SimHash edges via large-star/small-star",
      rides = Seq(DedupOps.pairs)),
    Q("q139_novelty_score", noveltyScore, Some(noveltyScoreSql),
      "window-novelty of the delta batch: percent of each new doc's " +
        "8-token windows unseen in the standing corpus — the " +
        "stitched-boilerplate curation metric, equi-join-shaped",
      rides = Seq(DedupOps.spanWindows)),
    // q172/q173 — the INDEXED serving twins (VERDICT r11 #6): same
    // answers as q130/q139 (same oracles; live==indexed is also
    // spec-asserted), but the corpus side reads the persisted index
    // built once per JVM by ServingIndexes — the number a deployment
    // actually pays per ingest batch.
    Q("q172_delta_dedup_served",
      (s, d) => deltaDedupIndexed(s, d, ServingIndexes.lshIndex(s, d)),
      Some(deltaDedupSql),
      "q130 answered FROM the persisted LSH band+shingle index: delta " +
        "lifted live, corpus side a storage read — the per-ingest " +
        "deployment cost, same oracle as the live form",
      rides = Seq(ServingIndexes.lshIndex)),
    Q("q173_novelty_served",
      (s, d) => noveltyScoreIndexed(s, d, ServingIndexes.spanIndex(s, d)),
      Some(noveltyScoreSql),
      "q139 answered FROM the persisted span-hash index: delta " +
        "windows hashed live and left-joined against the stored " +
        "8-byte key table, corpus text never re-read",
      rides = Seq(ServingIndexes.spanIndex)))
}
