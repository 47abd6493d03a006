package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorExpressions.simhash64
import graft.operators.Operators
import graft.sources.Tables

/** Deduplication suite over `documents` (north star): exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. The embedding-cosine near-dup variant
  * lives in [[VectorOps.similarPairs]].
  *
  * Scale design: nothing here ever compares all pairs globally —
  * candidates come from blocking keys (source, LSH band buckets, simhash
  * chunks), so the shuffle is equi-join-shaped and per-bucket work stays
  * bounded at 100 TB. Exact Jaccard verification runs only on candidate
  * pairs.
  */
object DedupOps {

  private def distinctTokens(c: Column): Column = array_distinct(split(c, " "))

  /** The exact-dedup content fingerprint: lowercase, collapse every
    * non-alphanumeric run, md5. Shared by the batch q40 and its
    * streaming twin ([[graft.streaming.StreamingQueries.exactDedupStream]]). */
  def fingerprintExpr(c: Column): Column =
    md5(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Exact dedup: normalize → md5 fingerprint → keep the lowest doc_id
    * per fingerprint (deterministic survivor, rank-1 idiom). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Operators.topKPerGroup(
        Tables(spark, dir, "documents")
          .withColumn("fingerprint", fingerprintExpr($"text")),
        Seq($"fingerprint"), Nil, $"doc_id".asc, 1)
      .select($"doc_id", $"fingerprint")
  }

  private val exactDedupSql =
    """SELECT doc_id, fingerprint FROM (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS fingerprint,
      |    ROW_NUMBER() OVER (PARTITION BY
      |      md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
      |      ORDER BY doc_id ASC) AS rn
      |  FROM documents) t WHERE rn = 1""".stripMargin

  /** Exact n-gram (token-set) Jaccard near-dup pairs, blocked by source.
    * Jaccard is a ratio of integer set sizes — both engines divide the
    * same ints, so even the threshold compare is bit-exact.
    *
    * Scale lever: J ≥ 0.8 requires |A|/|B| ≥ 0.8 (since J ≤ min/max of
    * the set sizes), so a cheap size-ratio prefilter prunes most pairs
    * before the expensive intersect/union — semantics unchanged, the
    * oracle needs no such filter.
    *
    * SCALE CONTRACT: this is the exact-verification SPEC form. Its
    * candidate step enumerates all same-source pairs — O(block²) join
    * output at a 100 TB source block. Production paths at scale are
    * [[jaccardPairsPrefix]] (identical output, candidates bounded by
    * token-frequency prefix blocks — proven equal via the same oracle)
    * and [[minhashLsh]] (sub-quadratic candidates at any block size). */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // sort+dedup ONCE per document (amortized over every pair the doc
    // joins into), then the codegen merge-scan counts the intersection;
    // |A ∪ B| = |A| + |B| - |A ∩ B| avoids materializing the union.
    // ONE normalization definition for both join sides (they must
    // never drift); the PROBE side (a) rides the fanned read — the
    // per-pair merge-scan executes in the probe's partitions, and a
    // single-split scan would serialize it (Tables.fanned — identity
    // at production scale). The broadcast build side (b) reads plain:
    // fanning a side that is collected whole buys nothing.
    def tokDocs(docs: org.apache.spark.sql.DataFrame) =
      docs.select($"doc_id", $"source",
        array_sort(distinctTokens($"text")).as("tok"))
    val a = tokDocs(Tables.fanned(spark, dir, "documents"))
      .select($"doc_id".as("a_id"), $"source", $"tok".as("a_tok"))
    val b = tokDocs(Tables(spark, dir, "documents"))
      .select($"doc_id".as("b_id"), $"source".as("b_source"),
        $"tok".as("b_tok"))
    a.join(b, $"source" === $"b_source" && $"a_id" < $"b_id")
      .filter(size($"a_tok") * 5 >= size($"b_tok") * 4 &&
        size($"b_tok") * 5 >= size($"a_tok") * 4)
      .withColumn("inter", graft.functions.VectorExpressions
        .sortedIntersectSize($"a_tok", $"b_tok"))
      .withColumn("jaccard", $"inter".cast("double") /
        (size($"a_tok") + size($"b_tok") - $"inter"))
      .filter($"jaccard" >= 0.8)
      .select($"a_id", $"b_id", $"jaccard")
  }

  private val jaccardPairsSql =
    """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(len(list_intersect(
      |      list_distinct(string_split(a.text, ' ')),
      |      list_distinct(string_split(b.text, ' ')))) AS DOUBLE)
      |    / len(list_distinct(list_concat(
      |      list_distinct(string_split(a.text, ' ')),
      |      list_distinct(string_split(b.text, ' '))))) AS jaccard
      |FROM documents a JOIN documents b
      |  ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(
      |      list_distinct(string_split(a.text, ' ')),
      |      list_distinct(string_split(b.text, ' ')))) AS DOUBLE)
      |    / len(list_distinct(list_concat(
      |      list_distinct(string_split(a.text, ' ')),
      |      list_distinct(string_split(b.text, ' '))))) >= 0.8""".stripMargin

  /** The 100 TB form of [[jaccardPairs]] — same output, candidates via
    * PPJoin-style prefix filtering instead of all-pairs-in-block:
    *
    * Under ANY global token order, J(A,B) ≥ t implies the
    * (|X| - ⌈t·|X|⌉ + 1)-prefixes of A and B share a token (prefix
    * filtering principle, Chaudhuri/Bayardo: |A∩B| ≥ ⌈t·max(|A|,|B|)⌉,
    * and a set disjoint from its partner's prefix fits the whole
    * intersection into its last ⌈t·|X|⌉ - 1 elements — contradiction).
    * Ordering tokens by ascending global document frequency makes those
    * prefixes the RAREST tokens, so candidate blocks are keyed by
    * (source, rare-token): bounded by token selectivity, not by source
    * size, and Zipfian corpora make rare-token blocks tiny. Costs one
    * extra DF aggregation + one doc_id-partitioned window vs q41;
    * replaces the O(block²) pair enumeration with equi-join candidate
    * generation. Hash-checked against the SAME oracle as q41, which
    * proves the equivalence on real data every round. */
  def jaccardPairsPrefix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOT fanned, deliberately (r18 A/B): `docs` feeds three readers
    // (the token explode and both verify fetch sides), and fanning the
    // scan re-ran the round-robin exchange per reader for a net LOSS
    // (5.9 s vs 5.1 s with the keyed window fan below alone)
    val docs = Tables(spark, dir, "documents")
      .select($"doc_id", $"source",
        array_sort(distinctTokens($"text")).as("tok"))
    val toks = docs.select($"doc_id", $"source", size($"tok").as("n"),
      explode($"tok").as("token"))
    val dfreq = toks.groupBy($"token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id").orderBy($"df".asc, $"token".asc)
    // pre-key the window's OWN exchange at fan width (guide §2.4/§2.5
    // combined): the window needs HashPartitioning(doc_id) anyway, but
    // AQE's advisory size would coalesce the few-MB token shuffle to
    // ONE partition and serialize the rank pass; an explicit keyed
    // repartition IS the window's exchange, just wide — no extra
    // exchange in the plan, and at production bytes AQE never
    // coalesces below the fan width to begin with.
    val prefixes = toks.join(dfreq, "token")
      .repartition(graft.sources.Tables.fanWidth(spark), $"doc_id")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= $"n" - ceil($"n" * 0.8) + 1)
      .select($"doc_id", $"source", $"token", $"n")
    // candidate-side LENGTH filter (r18, PPJoin's length pruning):
    // J ≥ 0.8 forces 0.8·|y| ≤ |x| ≤ |y|/0.8 — the same bound the
    // verify step re-checks, applied at generation so out-of-band
    // pairs never reach the distinct or the two array-fetch joins.
    // A candidate-set reduction only; the verify stage is untouched
    // and the oracle unchanged. (The FULL positional filter was also
    // measured and rejected: carrying the prefix rank through the
    // self-join cost more than the extra pruning saved at this
    // corpus's candidate volume — r18 A/B 6.7 s vs 5.8 s baseline.)
    val candidates = prefixes.as("x")
      .join(prefixes.as("y"),
        col("x.token") === col("y.token") &&
          col("x.source") === col("y.source") &&
          col("x.doc_id") < col("y.doc_id") &&
          col("x.n") * 5 >= col("y.n") * 4 &&
          col("y.n") * 5 >= col("x.n") * 4)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
      // the candidate set is KBs but carries the query's whole verify
      // CPU: AQE coalesces the distinct's shuffle to ONE partition and
      // the per-pair merge-scan below then runs serially (measured:
      // the final stage was 1 task × 3.2 CPU-s, the entire query).
      // Spread the pairs to the fan width — the verify joins are
      // broadcast fetches, so only candidate ids move (guide §2.5).
      .repartition(graft.sources.Tables.fanWidth(spark))
    val side = docs.select($"doc_id", $"tok")
    candidates
      .join(side.select($"doc_id".as("a_id"), $"tok".as("a_tok")), "a_id")
      .join(side.select($"doc_id".as("b_id"), $"tok".as("b_tok")), "b_id")
      .filter(size($"a_tok") * 5 >= size($"b_tok") * 4 &&
        size($"b_tok") * 5 >= size($"a_tok") * 4)
      .withColumn("inter", graft.functions.VectorExpressions
        .sortedIntersectSize($"a_tok", $"b_tok"))
      .withColumn("jaccard", $"inter".cast("double") /
        (size($"a_tok") + size($"b_tok") - $"inter"))
      .filter($"jaccard" >= 0.8)
      .select($"a_id", $"b_id", $"jaccard")
  }

  /** Distinct 3-token shingles over the RAW token sequence (same
    * definition as TextOps.shingleStats and the oracle). */
  private def shingleCol: Column = expr(
    "array_distinct(transform(sequence(1, size(tok) - 2), " +
      "i -> concat_ws(' ', slice(tok, i, 3))))")

  /** q195's hot-shingle cap: shingles present in more than this many
    * documents generate no candidates — the skew lever that keeps the
    * shared-shingle join's per-key blocks bounded at any corpus size
    * (a stopword shingle at 100 TB would otherwise connect everything
    * to everything; such shingles also carry no duplication signal). */
  private val ContainmentDfCap = 64L

  /** q195 — asymmetric CONTAINMENT dedup: pairs where one document's
    * shingle set is (near-)contained in the other's —
    * C(A→B) = |A∩B| / |A| — the duplication mode symmetric Jaccard
    * MISSES by construction: a short document quoted whole inside a
    * long one has containment 1.0 but Jaccard ≈ |A|/|B|, diluted
    * below any dedup threshold (the quote-inclusion / boilerplate-
    * embedding case RefinedWeb-style pipelines scrub separately).
    * Emits both directions in ppm, the Jaccard beside them, and the
    * `asym_only` bit — TRUE exactly when containment fires (≥ 0.8)
    * while Jaccard stays under the q42 family's 0.5, i.e. the pairs
    * every symmetric pass in this registry would leave behind. On
    * THIS corpus the near-dups are whole-document copies, so
    * asym_only is all-false — the column is the alarm wired for the
    * data that needs it, and the synthetic-subset spec proves it
    * fires (OperatorPropertiesSpec).
    *
    * Scale shape: candidates from a shared-shingle equi join (df-
    * capped — see [[ContainmentDfCap]]), never all-pairs; exact
    * verification via ONE sorted-merge intersection per candidate
    * ([[graft.functions.VectorExpressions.SortedIntersectSize]],
    * arrays sorted once per document); all arithmetic integer ppm. */

  /** COUNT-JOIN form — no shingle array ever crosses an exchange.
    * Because each document's shingle list is DISTINCT, |A∩B| splits
    * exactly into shared-RARE count (a by-product of the candidate
    * join itself — one count per matched shingle) plus shared-HOT
    * count (hot shingles re-joined per candidate pair on the keyed
    * (doc, shingle) equality — volume bounded by candidates × per-doc
    * hot shingles, never df²-on-hot). The first cut shipped both
    * full sorted arrays through the candidate join for a
    * SortedIntersectSize merge-scan — correct, but 8.7 s at sf0.1
    * with array-laden exchanges; this form moves two longs per
    * candidate row and the same integers fall out. */
  /** The (doc, shingle, df) table q195 derives from, as an artifact so
    * its corpus-scale persist is released with the others instead of
    * living for the JVM. The spec path ([[containmentPairsOf]] on
    * synthetic frames) builds it uncached. */
  private[graft] val containEx = Artifacts[DataFrame]("dedup.containment")
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentFrom(containEx.get(spark, dir)(
      // fanned read (guide §2.5): the shingle explode + df join above
      // the scan is the corpus-pass this artifact exists to amortize —
      // a single-split file would run it serially
      containmentExOf(Tables.fanned(spark, dir, "documents")).persist()),
      ContainmentDfCap)

  private def containmentExOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs
      .select($"doc_id", split($"text", " ").as("tok"))
      .filter(size($"tok") >= 3)
      .select($"doc_id", shingleCol.as("sh"))
    base.select($"doc_id", explode($"sh").as("s"))
      .join(ex0DfOf(base), "s")
  }

  private[graft] def containmentPairsOf(docs: DataFrame,
      dfCap: Long = ContainmentDfCap): DataFrame =
    containmentFrom(containmentExOf(docs), dfCap)

  private def containmentFrom(ex: DataFrame, dfCap: Long): DataFrame = {
    val spark = ex.sparkSession
    import spark.implicits._
    val rare = ex.filter($"df" <= dfCap)
    val rs = rare.select($"s", $"doc_id".as("a_id"))
      .join(rare.select($"s", $"doc_id".as("b_id")), "s")
      .filter($"a_id" < $"b_id")
      .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("rare_shared"))
    // hot arm: per-doc HOT shingles as small sorted arrays + one
    // merge-scan per candidate pair. Exploding hot shingles per pair
    // instead multiplies rows by per-doc hot count — measured 44 s at
    // the 10× exact-copy regime (where df×10 pushes most recurring
    // shingles past the cap) vs 16 s for the array scan; and in the
    // flat regime hotArr is empty, so this arm costs nothing.
    val hotArr = ex.filter($"df" > dfCap)
      .groupBy($"doc_id").agg(array_sort(collect_list($"s")).as("hsh"))
    val hs = rs.select($"a_id", $"b_id")
      .join(hotArr.select($"doc_id".as("a_id"), $"hsh".as("a_hsh")),
        "a_id")
      .join(hotArr.select($"doc_id".as("b_id"), $"hsh".as("b_hsh")),
        "b_id")
      .select($"a_id", $"b_id", graft.functions.VectorExpressions
        .sortedIntersectSize($"a_hsh", $"b_hsh").cast("long")
        .as("hot_shared"))
    // per-doc shingle counts off the SAME ex table (shingles are
    // distinct per doc and the df join drops nothing) — reading the
    // un-cached base here would re-run the corpus tokenize+shingle
    // pass the materialization exists to avoid (review finding)
    val sizes = ex.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    rs.join(hs, Seq("a_id", "b_id"), "left")
      .withColumn("inter",
        $"rare_shared" + coalesce($"hot_shared", lit(0L)))
      .join(sizes.select($"doc_id".as("a_id"), $"n".as("na")), "a_id")
      .join(sizes.select($"doc_id".as("b_id"), $"n".as("nb")), "b_id")
      .withColumn("cont_ab_ppm", expr("inter * 1000000 div na"))
      .withColumn("cont_ba_ppm", expr("inter * 1000000 div nb"))
      .withColumn("jaccard_ppm",
        expr("inter * 1000000 div (na + nb - inter)"))
      .filter(greatest($"cont_ab_ppm", $"cont_ba_ppm") >= 800000)
      .select($"a_id", $"b_id", $"cont_ab_ppm", $"cont_ba_ppm",
        $"jaccard_ppm", ($"jaccard_ppm" < 500000).as("asym_only"))
  }

  /** Per-shingle document frequency over the distinct-per-doc shingle
    * explode. */
  private def ex0DfOf(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    base.select(explode($"sh").as("s"))
      .groupBy($"s").agg(count(lit(1)).as("df"))
  }

  private val containmentPairsSql =
    s"""WITH base AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |      generate_series(1, len(string_split(text, ' ')) - 2),
      |      i -> concat_ws(' ', string_split(text, ' ')[i],
      |        string_split(text, ' ')[i + 1],
      |        string_split(text, ' ')[i + 2]))) AS sh
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM base),
      |rare AS (SELECT ex.doc_id, ex.s FROM ex JOIN (
      |    SELECT s, COUNT(*) AS df FROM ex GROUP BY 1) d ON d.s = ex.s
      |  WHERE d.df <= $ContainmentDfCap),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
      |p AS (SELECT c.a_id, c.b_id,
      |    len(list_intersect(sa.sh, sb.sh)) AS inter,
      |    len(sa.sh) AS na, len(sb.sh) AS nb
      |  FROM cand c JOIN base sa ON sa.doc_id = c.a_id
      |              JOIN base sb ON sb.doc_id = c.b_id)
      |SELECT a_id, b_id,
      |  CAST(inter * 1000000 // na AS BIGINT) AS cont_ab_ppm,
      |  CAST(inter * 1000000 // nb AS BIGINT) AS cont_ba_ppm,
      |  CAST(inter * 1000000 // (na + nb - inter) AS BIGINT)
      |    AS jaccard_ppm,
      |  inter * 1000000 // (na + nb - inter) < 500000 AS asym_only
      |FROM p
      |WHERE greatest(inter * 1000000 // na, inter * 1000000 // nb)
      |  >= 800000""".stripMargin

  /** MinHash + LSH near-dup over 3-token shingle sets, NO blocking
    * assumption: 62 minhashes (one xxhash64 pass per shingle, then 62
    * cheap long re-hashes), 31 bands × 2 rows, band-bucket self-join
    * for candidates, exact shingle-Jaccard verification of candidates.
    *
    * Thresholds are data-aware: this corpus separates cleanly into
    * background (J ≤ 0.25) and near-dups (J ≥ 0.65), so τ=0.5 sits in
    * the gap. With r=2/b=31 the miss probability at J=0.65 is
    * (1-0.65²)³¹ ≈ 4e-8 and the candidate rate on background pairs is
    * ~1% — the verified output therefore equals the exact global
    * J≥0.5 pair set, which is precisely what the oracle computes. An
    * approximate algorithm hash-checked against exact semantics.
    */
  private val numHashes = 62
  private val rowsPerBand = 2
  private val numBands = numHashes / rowsPerBand

  /** Shingle + MinHash lift of any frame bearing (doc_id, text, ...):
    * adds `sh` (distinct 3-token shingles) and `mh` (62 minhash longs),
    * drops docs with fewer than 3 tokens. Pure stateless expressions,
    * so the SAME lift runs on batch frames here and on streaming frames
    * in [[graft.streaming.StreamingQueries.nearDupFlagStream]]. */
  private[graft] def withShinglesAndMinhash(docs: DataFrame): DataFrame =
    docs
      .withColumn("tok", split(col("text"), " "))
      .filter(size(col("tok")) >= 3)
      .withColumn("sh", shingleCol)
      .withColumn("bh", expr("transform(sh, s -> xxhash64(s))"))
      .withColumn("mh",
        graft.functions.VectorExpressions.minhashLongs(col("bh"), numHashes))
      .drop("tok", "bh")

  /** Band-key explosion of a [[withShinglesAndMinhash]]-lifted frame:
    * one row per (doc, band), every other column carried through. The
    * (doc_id, band_key) projection IS the LSH index table an ingest
    * path joins against. */
  private[graft] def explodeBandKeys(lifted: DataFrame): DataFrame =
    lifted.withColumn("band_key", explode(array(
      (0 until numBands).map(j =>
        expr(s"xxhash64(${j}L, mh[${j * 2}], mh[${j * 2 + 1}])")): _*)))

  /** The exact verify every LSH candidate set ends in: adds `jaccard`,
    * the shingle Jaccard of array columns `a` and `b`, and keeps the
    * pairs at J ≥ 0.5. */
  private[graft] def verifyJaccard(candidates: DataFrame, a: String,
      b: String): DataFrame =
    candidates
      .withColumn("jaccard",
        size(array_intersect(col(a), col(b))).cast("double") /
          size(array_union(col(a), col(b))))
      .filter(col("jaccard") >= 0.5)

  /** The corpus side of the LSH index from one
    * [[withShinglesAndMinhash]] lift: the band-key table
    * (doc_id, band_key) candidate generation joins on, and the shingle
    * table (doc_id, sh) verification reads.
    * [[DedupFusionOps.lshWriteIndex]] writes these two tables; the
    * stream twins persist them in-session. */
  private[graft] def lshIndexOf(lifted: DataFrame): (DataFrame, DataFrame) =
    (explodeBandKeys(lifted).select(col("doc_id"), col("band_key")),
      lifted.select(col("doc_id"), col("sh")))

  /** Arriving documents (doc_id, text, ...) probed against an
    * [[lshIndexOf]] index: lift, band-join, drop self matches, verify.
    * One row per (doc, band) collision that verifies — the arriving
    * and lifted columns plus `b_id`, `b_sh` and `jaccard`; callers
    * project and dedup the pairs. */
  private[graft] def nearDupProbe(docs: DataFrame, bands: DataFrame,
      shingles: DataFrame): DataFrame =
    verifyJaccard(
      explodeBandKeys(withShinglesAndMinhash(docs))
        .join(bands.select(col("doc_id").as("b_id"), col("band_key")),
          "band_key")
        .filter(col("doc_id") =!= col("b_id"))
        .join(shingles.select(col("doc_id").as("b_id"), col("sh").as("b_sh")),
          "b_id"),
      "sh", "b_sh")

  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = withShinglesAndMinhash(
      Tables.fanned(spark, dir, "documents").select($"doc_id", $"text"))

    val bandKeys = explodeBandKeys(docs).select($"doc_id", $"band_key")

    // Self-join strategy is left to the planner deliberately: at small
    // corpus size band keys broadcast and the minhash pipeline computes
    // once per side (cheap, measured faster than forcing a shuffle);
    // once band keys outgrow the broadcast threshold the planner
    // switches to sort-merge, whose identical per-side exchanges are
    // deduplicated by ReuseExchange — so the expensive minhash runs
    // once at exactly the scale where that matters.
    val candidates = bandKeys.as("x")
      .join(bandKeys.as("y"), col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()

    // Verification touches only the (small) candidate set, so the
    // per-document sort a merge-scan intersect needs costs more than it
    // saves here (measured); the hash-based built-in wins. q41, whose
    // pair volume amortizes the sort, uses the merge-scan form.
    val shingles = docs.select($"doc_id", $"sh")
    verifyJaccard(candidates
      .join(shingles.select($"doc_id".as("a_id"), $"sh".as("a_sh")), "a_id")
      .join(shingles.select($"doc_id".as("b_id"), $"sh".as("b_sh")), "b_id"),
      "a_sh", "b_sh")
      .select($"a_id", $"b_id", $"jaccard")
  }

  private val minhashLshSql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, len(string_split(text, ' ')) - 1),
      |      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS s
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.5""".stripMargin

  /** The verified near-dup pair table ([[minhashLsh]]): a result in
    * its own right and the input of cluster assignment and
    * contamination reporting — the table a deployment writes once. */
  private[graft] val pairs = Artifacts[DataFrame]("dedup.pairs")
  def verifiedPairs(spark: SparkSession, dir: String): DataFrame =
    pairs.get(spark, dir)(minhashLsh(spark, dir).persist())

  /** Cluster labels over [[verifiedPairs]]: a deployment writes the
    * label table once and joins it from every downstream policy. */
  private[graft] val clusters = Artifacts[DataFrame]("dedup.clusters")
  def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    clusters.get(spark, dir)(dupClusters(spark, dir))

  /** q164's portable hash family: [[CalHashes]] universal hashes
    * h_i(x) = (a_i·x + b_i) mod p over p = 2³¹−1, coefficients drawn
    * once from the md5 device and interpolated as LITERALS into both
    * the Spark plan and the oracle SQL (the NumShards idiom, applied
    * to a whole coefficient table). p < 2³¹ keeps every product under
    * 2⁶² — no overflow in either engine's BIGINT. */
  private[queries] val CalHashes = 16
  private val CalP = 2147483647L
  private val calCoeffs: Seq[(Long, Long)] = {
    def h15(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
    }
    (0 until CalHashes).map(i =>
      ((h15(s"mha:$i") % (CalP - 1)) + 1, h15(s"mhb:$i") % CalP))
  }

  /** q164 — MinHash estimator CALIBRATION: the empirical table behind
    * the band/row design choice every MinHash deployment makes. For
    * each pair within the same-source blocks (q41's audit shape; the
    * md5 block-sampled scale form is q176), count how many of [[CalHashes]]
    * independent minhashes agree (k — the estimator says J ≈ k/16)
    * and whether the exact Jaccard of the hashed shingle sets (the
    * same universe the estimator draws minima from; collision bias
    * quantified in the lift comment) clears the τ=0.5 and τ=0.8
    * thresholds; roll up per k. The result is P(J ≥ τ | k) measured
    * on this corpus — exactly the curve that justifies (or indicts)
    * q42's r=2/b=31 operating point, produced as data instead of the
    * (1−J^r)^b formula's iid assumption. Integer-exact throughout:
    * k is a match count and the threshold tests cross-multiply
    * (2·|∩| ≥ |∪| ⟺ J ≥ 0.5), so no float crosses the rollup.
    *
    * The hash family here is md5-seeded universal hashing, NOT
    * production's codegen xxhash64 [[minhashLongs]] — deliberately:
    * the audit must be oracle-checkable, so every hash must be
    * computable in both engines, and the two families have identical
    * collision statistics (pairwise-independent over p). The audit
    * validates the ESTIMATOR SHAPE (match-count vs true Jaccard);
    * production keeps the faster hash.
    *
    * Scale shape: the pair universe is the q41 verification-spec
    * shape — all pairs within same-source blocks (equi-join, no
    * cartesian). At 100 TB the lever is the md5 block sample (q46's
    * draw keyed on source): the calibration curve is a corpus
    * property, not a per-doc artifact, so a sub-permille block sample
    * saturates it — at test SFs the full block set IS the
    * measurement (a row sample thins dup pairs quadratically and
    * empties the k > 0 buckets, measured). The sampled form is
    * SHIPPED as [[minhashCalibrationSampled]] (q176). Everything
    * else is one equi-join + a 17-key rollup. */
  def minhashCalibration(spark: SparkSession, dir: String): DataFrame =
    // fanned read: the per-pair 16-term minhash compare + hashed-set
    // merge-scan execute in the self-join probe's partitions, which a
    // single-split documents scan would serialize (identity at scale)
    minhashCalibrationOf(
      Tables.fanned(spark, dir, "documents").select(
        col("doc_id"), col("source"), col("text")))

  /** q176's sampling constants — one definition, interpolated into the
    * Spark plan and the oracle (the NumShards anti-drift rule).
    * [[CalSampleCut]]: sources whose md5 first hex char is below it
    * are drawn (< '4' ≈ 25%). [[CalBlockCap]]: within a drawn source,
    * the audit keeps the [[CalBlockCap]] docs with the smallest
    * md5('calcap:'+doc_id) — a deterministic uniform draw that bounds
    * EVERY block regardless of its size. */
  private[queries] val CalSampleCut = "4"
  private[queries] val CalBlockCap = 128

  /** q176 — the q164 audit at its SCALE operating point (VERDICT r11
    * #7): the same calibration measurement over a deterministic
    * md5-sampled pair universe, O(blocks_drawn · [[CalBlockCap]]²) at
    * ANY corpus size. Two levers, both pair-structure-preserving where
    * it matters: (1) whole same-source BLOCKS are drawn by source
    * hash — a dropped source drops its pairs entirely but a kept
    * source keeps its pair set intact, so the k-vs-J curve (a corpus
    * property, not a per-doc one) is estimated without the quadratic
    * pair thinning a row sample causes; (2) within a drawn block, a
    * deterministic md5-rank cap bounds the block at [[CalBlockCap]]
    * docs — the one place row thinning is accepted, in exchange for a
    * hard per-block work bound (at test SFs where blocks are near or
    * under the cap, the cap is inactive or mild). The oracle runs the
    * SAME sampled universe, so membership and every rollup count
    * hash-check. */
  def minhashCalibrationSampled(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    minhashCalibrationOf(
      Operators.topKPerGroup(
          Tables(spark, dir, "documents")
            .select($"doc_id", $"source", $"text")
            .filter(substring(md5(concat(lit("calsample:"), $"source")), 1, 1)
              < CalSampleCut),
          Seq($"source"),
          Seq(md5(concat(lit("calcap:"), $"doc_id".cast("string"))).asc),
          $"doc_id".asc, CalBlockCap)
        .select($"doc_id", $"source", $"text"))
  }

  private[queries] def minhashCalibrationOf(docsIn: DataFrame): DataFrame = {
    val spark = docsIn.sparkSession
    import spark.implicits._
    val lifted = docsIn
      .withColumn("tok", split($"text", " "))
      .filter(size($"tok") >= 3)
      .withColumn("sh", shingleCol)
      .withColumn("hs", expr("transform(sh, t -> " +
        s"cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint) % $CalP)"))
      .withColumn("mh", array(calCoeffs.map { case (a, b) =>
        expr(s"array_min(transform(hs, h -> ($a * h + $b) % $CalP))")
      }: _*))
      // sorted+distinct HASHED shingle sets for the pair side: the
      // truth Jaccard is measured in the hashed domain — the same
      // universe the estimator sees (collision bias ≈ |set|²/2p ≈
      // 4·10⁻⁶ at 128-shingle docs, quantified negligible), long
      // merge-scan compares are branch-cheap, and the rows crossing
      // the join carry 8-byte elements instead of whole shingle
      // strings (the first cut of this query shipped string sets —
      // 5 KB/row through 620k pairs at sf0.1, measured dominant)
      .select($"doc_id", $"source",
        array_sort(array_distinct($"hs")).as("hd"), $"mh")
    val a = lifted.select($"doc_id".as("a_id"), $"source",
      $"hd".as("a_hd"), $"mh".as("a_mh"))
    val b = lifted.select($"doc_id".as("b_id"), $"source".as("b_source"),
      $"hd".as("b_hd"), $"mh".as("b_mh"))
    // unrolled 16-term match count: plain codegen adds, no per-pair
    // array allocation or lambda dispatch
    val kExpr = expr((0 until CalHashes)
      .map(i => s"IF(a_mh[$i] = b_mh[$i], 1L, 0L)").mkString(" + "))
    a.join(b, $"source" === $"b_source" && $"a_id" < $"b_id")
      .withColumn("k", kExpr)
      .withColumn("inter", graft.functions.VectorExpressions
        .sortedIntersectSize($"a_hd", $"b_hd"))
      .withColumn("uni", size($"a_hd") + size($"b_hd") - $"inter")
      .groupBy($"k")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"inter" * 2 >= $"uni", 1L).otherwise(0L)).as("n_j50"),
        sum(when($"inter" * 5 >= $"uni" * 4, 1L).otherwise(0L))
          .as("n_j80"))
  }

  /** The q164 oracle body over any base relation providing
    * (doc_id, source, text) — q164 runs it on `documents`, q176 on the
    * sampled CTE. */
  private def minhashCalibrationSqlOver(prelude: String,
      base: String): String = {
    val mhList = calCoeffs.map { case (a, b) =>
      s"list_min(list_transform(hs, x -> ($a * x + $b) % $CalP))"
    }.mkString("[\n      ", ",\n      ", "]")
    s"""WITH ${prelude}d AS (
      |  SELECT doc_id, source,
      |    list_distinct(list_transform(
      |      range(1, len(string_split(text, ' ')) - 1),
      |      i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')))
      |      AS sh
      |  FROM $base
      |  WHERE len(string_split(text, ' ')) >= 3),
      |h AS (
      |  SELECT doc_id, source,
      |    list_transform(sh, t ->
      |      CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % $CalP)
      |      AS hs
      |  FROM d),
      |m AS (
      |  SELECT doc_id, source, list_distinct(hs) AS hd, $mhList AS mh
      |  FROM h),
      |p AS (
      |  SELECT
      |    CAST(len(list_filter(range(1, ${CalHashes + 1}),
      |      i -> a.mh[i] = b.mh[i])) AS BIGINT) AS k,
      |    len(list_intersect(a.hd, b.hd)) AS inter,
      |    len(a.hd) + len(b.hd) - len(list_intersect(a.hd, b.hd)) AS uni
      |  FROM m a JOIN m b ON a.source = b.source AND a.doc_id < b.doc_id)
      |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CASE WHEN 2 * inter >= uni THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_j50,
      |  CAST(SUM(CASE WHEN 5 * inter >= 4 * uni THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_j80
      |FROM p GROUP BY 1""".stripMargin
  }

  private val minhashCalibrationSql =
    minhashCalibrationSqlOver("", "documents")

  /** q176's oracle: the identical measurement over the identical
    * sampled universe — the block draw and the per-block md5-rank cap
    * expressed as one windowed CTE. MATERIALIZED: `d` explodes
    * shingles over it and the pair join reads it twice. */
  private val minhashCalibrationSampledSql =
    minhashCalibrationSqlOver(
      s"""scal AS MATERIALIZED (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text,
         |      ROW_NUMBER() OVER (PARTITION BY source
         |        ORDER BY md5(concat('calcap:', CAST(doc_id AS VARCHAR))),
         |          doc_id) AS rn
         |    FROM documents
         |    WHERE substr(md5(concat('calsample:', source)), 1, 1)
         |      < '$CalSampleCut') t
         |  WHERE rn <= $CalBlockCap),
         |""".stripMargin, "scal")

  /** Forwards kept for the benchmark harness; use [[Artifacts]]. */
  private[graft] def isSharedArtifact(df: DataFrame): Boolean = Artifacts.holds(df)
  def invalidateSharedArtifacts(): Unit = Artifacts.invalidateAll()

  /** Round count of the most recent [[dupClusters]] convergence —
    * observability for the 10× stress harness and tests (the algorithm
    * contract is O(diameter) rounds; this makes the actual count
    * checkable instead of asserted). */
  @volatile private[graft] var lastClusterRounds: Int = -1

  /** Both directions (u, v) of an (a_id, b_id) pair table from ONE
    * scan of it — a self-union would materialize the whole LSH
    * candidate+verify lineage twice (only identical exchanges get
    * ReuseExchange'd). */
  private def undirected(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.select(explode(array(
        struct($"a_id".as("u"), $"b_id".as("v")),
        struct($"b_id".as("u"), $"a_id".as("v")))).as("e"))
      .select($"e.u".as("u"), $"e.v".as("v"))
  }

  /** Duplicate-cluster assignment: connected components over the
    * verified near-dup pair graph ([[minhashLsh]] output == exact
    * shingle J ≥ 0.5), every document labeled with the minimum doc_id
    * of its component (singletons label themselves). This is the
    * survivor-selection step a dedup pipeline runs after pair mining —
    * keep `doc_id == cluster_id`, drop the rest.
    *
    * Algorithm: iterative min-label propagation — each round is one
    * equi-join (labels onto edge endpoints) plus a partial-aggregatable
    * `min` groupBy, so a round shuffles at most |V|+|E| rows and labels
    * converge to the component minimum in O(diameter) rounds. Near-dup
    * components are tiny quasi-cliques (diameter 1-2 in practice), so
    * the round count stays small at any corpus size; the driver touches
    * only the per-round convergence COUNT, never row data. The
    * large-star/small-star variant (Kiveris et al.) is
    * [[graft.operators.Operators.connectedComponentsStar]] (q105,
    * [[dupClustersStar]]); folding the two into one operator is
    * ROADMAP item 4, blocked on the star form's per-round job count. */
  def dupClusters(spark: SparkSession, dir: String,
      maxRounds: Int = 50): DataFrame = {
    import spark.implicits._
    val edges = undirected(verifiedPairs(spark, dir)).persist()
    // min-label propagation on the shared iterate-to-fixpoint harness
    // (extracted from this loop, VERDICT r5 #1): per round one
    // equi-join of labels onto edge endpoints + one partial-
    // aggregatable min, localCheckpoint'd with superseded rounds
    // released — see Operators.iterateCheckpointed for the lifecycle
    // rationale. The stop() count is the only driver-side read.
    val (labels, rounds, converged) = graft.operators.Operators
      .iterateCheckpointed(
        Tables(spark, dir, "documents")
          .select($"doc_id", $"doc_id".as("cluster_id")), maxRounds,
        stopMaterializes = true) { // the changed-count below acts on next
        (cur, _) =>
          val viaEdges = edges
            .join(cur.select($"doc_id".as("u"), $"cluster_id"), "u")
            .select($"v".as("doc_id"), $"cluster_id")
          cur.union(viaEdges)
            .groupBy($"doc_id").agg(min($"cluster_id").as("cluster_id"))
      } { (cur, next) =>
        next.select($"doc_id", $"cluster_id".as("new_c"))
          .join(cur, "doc_id")
          .filter($"new_c" =!= $"cluster_id").count() == 0
      }
    lastClusterRounds = rounds
    edges.unpersist()
    // never ship silently-wrong labels: a component with diameter >
    // maxRounds means this graph isn't the tiny-quasi-clique shape dup
    // mining produces — fail loudly and point at the right algorithm
    if (!converged) {
      labels.unpersist()
      graft.operators.Operators.releaseCheckpointBlocks(labels)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxRounds rounds — component " +
          "diameter exceeds the cap; use large-star/small-star for " +
          "long-chain graphs or raise maxRounds")
    }
    // the returned frame is checkpoint-backed (downstream actions can
    // never replay the iteration), and ALSO persisted + materialized:
    // a bare LogicalRDD reports the session default size, and that
    // "huge" estimate makes consumers' planners inject runtime
    // bloom-filter joins — whose sketch reduction is an
    // Exchange SinglePartition, tripping the registry plan sweep — and
    // lose broadcast opportunities. The materialized InMemoryRelation
    // restores accurate (|docs| × 2 longs) stats; the count reads the
    // checkpoint blocks, not the lineage. ContextCleaner reclaims both
    // layers once the memo drops the reference.
    val out = labels.persist()
    out.count()
    out
  }

  /** q105 — cluster labels via large-star/small-star contraction
    * (round 6): the SAME output as q45 computed by the long-chain-safe
    * algorithm the q45 docs name as the drop-in upgrade —
    * [[graft.operators.Operators.connectedComponentsStar]] converges
    * in O(log n) rounds on ANY graph shape, where min-label
    * propagation needs O(diameter) and deliberately fails loudly past
    * its cap. Hash-checked against q45's own recursive-CTE oracle
    * every round (the q38/q41 same-oracle equivalence pattern), so
    * the two algorithms are proven interchangeable on real data;
    * OperatorPropertiesSpec additionally proves the star form on a
    * 400-node path graph — the diameter-400 shape q45 would refuse.
    * Rides the memoized pair table (payer-before-rider in Bench). */
  def dupClustersStar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labels = graft.operators.Operators.connectedComponentsStar(
      verifiedPairs(spark, dir).select($"a_id".as("u"), $"b_id".as("v")))
    Tables(spark, dir, "documents").select($"doc_id")
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"label", $"doc_id").as("cluster_id"))
  }

  /** q98 — per-document similar-neighbor list: each document's top-k
    * verified near-duplicates ranked by exact Jaccard — the "related
    * items" artifact a similarity system actually serves, and the
    * per-doc view of the same pair table q42 mines (memoized;
    * payer-before-rider). Ordering ties break on neighbor id, so the
    * top-k SET is deterministic and fully hash-checked (the jaccard
    * doubles are single IEEE divisions of small integers — identical
    * in both engines, q42-proven). Scale shape: symmetrize the pair
    * list (2\|E\| rows), one doc_id-keyed row_number window bounded by
    * per-doc candidate count (LSH-bounded, not corpus-bounded). */
  def similarNeighbors(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val sym = verifiedPairs(spark, dir)
      .select(explode(array(
        struct($"a_id".as("doc_id"), $"b_id".as("neighbor_id"), $"jaccard"),
        struct($"b_id".as("doc_id"), $"a_id".as("neighbor_id"), $"jaccard")))
        .as("e"))
      .select($"e.doc_id".as("doc_id"), $"e.neighbor_id".as("neighbor_id"),
        $"e.jaccard".as("jaccard"))
    Operators.topKPerGroup(sym, Seq($"doc_id"), Seq($"jaccard".desc),
      $"neighbor_id".asc, k, "rk")
  }

  private val similarNeighborsSql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, len(string_split(text, ' ')) - 1),
      |      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS s
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
      |sym AS (
      |  SELECT a_id AS doc_id, b_id AS neighbor_id, jaccard FROM pr
      |  UNION ALL
      |  SELECT b_id, a_id, jaccard FROM pr)
      |SELECT doc_id, neighbor_id, jaccard, rk FROM (
      |  SELECT doc_id, neighbor_id, jaccard,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY jaccard DESC, neighbor_id ASC) AS BIGINT) AS rk
      |  FROM sym) t
      |WHERE rk <= 3""".stripMargin

  /** q97 — integer-exact PageRank (fixed 3 rounds) over the verified
    * near-dup graph: a document's rank measures how centrally it sits
    * in the duplication structure, i.e. which documents are the
    * boilerplate/template HUBS many others echo — the triage signal
    * complementing q45's flat membership (a cluster tells you WHO is
    * related; rank tells you which member is the source shape). All
    * arithmetic is scaled-integer with truncating division
    * (rank₀ = 10⁶; rank' = 0.15·10⁶ + 0.85·Σ rank(u) div deg(u),
    * computed as `(85·Σ) div 100`), identical in Spark `div` and
    * DuckDB `//` for the non-negative domain, so three rounds unroll
    * into an exactly hash-checkable result — no floats, no libm, no
    * convergence epsilon.
    *
    * Scale shape per round: one keyed join of ranks onto the
    * (memoized, persisted) edge list, one partial-aggregatable sum on
    * dst, one left join back to docs — \|V\|+\|E\| rows per round like
    * q45. Unlike q45 there is no driver-side convergence read, so the
    * whole computation stays ONE lazy plan: no checkpoint, no
    * persisted intermediates, and a fixed round count keeps the DAG
    * depth static (PageRank-to-convergence would add q45's
    * localCheckpoint-per-round pattern verbatim). */
  def dupPagerank(spark: SparkSession, dir: String,
      rounds: Int = 3): DataFrame = {
    import spark.implicits._
    val edges = undirected(verifiedPairs(spark, dir))
    val deg = edges.groupBy($"u").agg(count(lit(1)).as("deg"))
    val docs = Tables(spark, dir, "documents").select($"doc_id")
    // fixed-round fold on the shared harness (VERDICT r5 #1): the
    // lazy, action-free iteration shape — contrast q45's checkpointed
    // fixpoint form on iterateCheckpointed
    graft.operators.Operators.iterateRounds(
      docs.select($"doc_id", lit(1000000L).as("rank")), rounds) { (rank, _) =>
      val contribs = edges
        .join(deg, "u")
        .join(rank.select($"doc_id".as("u"), $"rank"), "u")
        .select($"v".as("doc_id"), expr("rank div deg").as("c"))
        .groupBy($"doc_id").agg(sum($"c").as("sc"))
      docs.join(contribs, Seq("doc_id"), "left")
        .select($"doc_id",
          expr("CAST(150000 + (85 * coalesce(sc, 0)) div 100 AS BIGINT)")
            .as("rank"))
    }
  }

  private def pagerankRoundSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT d.doc_id,
       |    CAST(150000 + (85 * COALESCE(s.sc, 0)) // 100 AS BIGINT)
       |      AS rank
       |  FROM documents d LEFT JOIN (
       |    SELECT e.v AS doc_id, SUM(r.rank // dg.deg) AS sc
       |    FROM e JOIN dg ON dg.u = e.u JOIN $prev r ON r.doc_id = e.u
       |    GROUP BY e.v) s ON s.doc_id = d.doc_id)""".stripMargin

  // lazy: clusterCtes is declared later in this object, and a forward
  // reference to a not-yet-initialized val would silently embed "null"
  private lazy val dupPagerankSql = clusterCtes + ",\n" +
    """dg AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY 1),
      |r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS rank
      |       FROM documents),""".stripMargin + "\n" +
    pagerankRoundSql("r0", "r1") + ",\n" +
    pagerankRoundSql("r1", "r2") + ",\n" +
    pagerankRoundSql("r2", "r3") + "\n" +
    "SELECT doc_id, rank FROM r3"

  /** q109's core over any (a_id, b_id) edge list with a_id < b_id —
    * frame-based so the property spec can feed random graphs and
    * compare against a driver-side brute force.
    *
    * Degree-ORIENTED triangle counting: orient every undirected edge
    * from its lower-(degree, id) endpoint to the higher one; a
    * triangle {a ≺ b ≺ c} under that total order has oriented edges
    * a→b, b→c, a→c, so joining path (u→v, v→w) with closing edge u→w
    * counts each triangle EXACTLY once — no /6 correction, no
    * post-dedup shuffle. The orientation is the scale device, not a
    * convenience: out-degree under lowest-(deg,id)-first orientation
    * is O(√m), so the wedge join generates Σ outdeg² ≤ m·√m
    * candidates where the naive Σ deg² blows up quadratically on
    * hubs — and dup graphs are exactly hub-shaped (a boilerplate
    * cluster is a clique). Every join is equi on vertex keys. */
  private[graft] def triangleCountsOf(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val sym = undirected(pairs)
    val deg = sym.groupBy($"u").agg(count(lit(1)).as("deg"))
    // a_id < b_id on input, so deg ties orient a→b
    val o = pairs
      .join(deg.select($"u".as("a_id"), $"deg".as("da")), "a_id")
      .join(deg.select($"u".as("b_id"), $"deg".as("db")), "b_id")
      .select(
        when($"da" <= $"db", $"a_id").otherwise($"b_id").as("x"),
        when($"da" <= $"db", $"b_id").otherwise($"a_id").as("y"))
    val e1 = o.select($"x".as("u"), $"y".as("v"))
    val e2 = o.select($"x".as("v"), $"y".as("w"))
    val e3 = o.select($"x".as("u"), $"y".as("w"))
    val tri = e1.join(e2, "v").join(e3, Seq("u", "w"))
    tri.select(explode(array($"u", $"v", $"w")).as("doc_id"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** q109 — triangle participation per document over the verified
    * near-dup graph (memoized pair table; payer-before-rider): how
    * many 3-cliques each document sits in. Clustering coefficient's
    * numerator and the standard template-detection signal — a doc in
    * many triangles is inside a DENSE duplication pocket (mutual
    * near-dups), not just a chain of pairwise edits; q97's rank finds
    * hubs, this finds cliques. Integer counts, fully hash-checked. */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    triangleCountsOf(verifiedPairs(spark, dir).select(col("a_id"), col("b_id")))

  private lazy val triangleCountsSql = clusterCtes + ",\n" +
    """dg AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY 1),
      |o AS (
      |  SELECT CASE WHEN da.deg <= db.deg THEN p.a_id ELSE p.b_id END AS x,
      |         CASE WHEN da.deg <= db.deg THEN p.b_id ELSE p.a_id END AS y
      |  FROM p
      |  JOIN dg da ON da.u = p.a_id
      |  JOIN dg db ON db.u = p.b_id),
      |tri AS (
      |  SELECT e1.x AS u, e1.y AS v, e2.y AS w
      |  FROM o e1
      |  JOIN o e2 ON e2.x = e1.y
      |  JOIN o e3 ON e3.x = e1.x AND e3.y = e2.y)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
      |  SELECT u AS doc_id FROM tri
      |  UNION ALL SELECT v FROM tri
      |  UNION ALL SELECT w FROM tri) t
      |GROUP BY doc_id""".stripMargin

  /** q117's peeling cap. The oracle unrolls EXACTLY this many rounds
    * as CTEs (the q101 unroll device), and the engine requires
    * convergence within it — peeling is monotone and idempotent at
    * fixpoint, so converged-in-≤N equals the N-round unroll. */
  private val KCoreMaxRounds = 8

  /** q117 — k-core membership (k = 2) of the near-dup graph by bulk
    * peeling (Matula–Beck): repeatedly delete vertices of degree < k
    * until every survivor has ≥ k in-core neighbors. The third graph
    * triage lens beside q97 (global centrality) and q109 (local
    * density): the 2-core is the graph minus its tree-like fringe —
    * pairwise-only edits peel away, genuinely dense boilerplate
    * regions survive. Total accounting output (doc_id, in_core) over
    * all documents, the q93 shape.
    *
    * Scale shape per round: one partial-aggregatable degree count +
    * two vertex-keyed semi-join-shaped equi-joins — |E| rows, no
    * windows; rides the shared iterate harness (localCheckpoint per
    * round, superseded-round release) and the memoized pair table.
    * Rounds are bounded by the peeling cascade length, and a require
    * fails loudly rather than shipping an unconverged core. */
  /** The peeling loop over any (a_id, b_id) pair list — frame-based
    * so the property spec can compare random graphs to a driver-side
    * reference peel. Returns the distinct surviving vertices. */
  private[graft] def kCoreVertices(pairs: DataFrame, k: Int,
      maxRounds: Int = KCoreMaxRounds): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val sym = undirected(pairs).persist()
    val (fin, _, converged) = graft.operators.Operators.iterateCheckpointed(
        sym, maxRounds, stopMaterializes = true) { (st, _) =>
      val keep = st.groupBy($"u").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= k).select($"u")
      st.join(keep, "u")
        .join(keep.select($"u".as("v")), "v")
        .select($"u", $"v")
    } { (prev, next) => next.count() == prev.count() }
    sym.unpersist()
    if (!converged) {
      graft.operators.Operators.releaseCheckpointBlocks(fin)
      throw new IllegalStateException(
        s"k-core peeling did not converge in $maxRounds rounds — " +
          "raise the cap for cascades this deep")
    }
    fin.select($"u".as("doc_id")).distinct()
  }

  def kCore(spark: SparkSession, dir: String, k: Int = 2): DataFrame = {
    import spark.implicits._
    val core = kCoreVertices(
      verifiedPairs(spark, dir).select($"a_id", $"b_id"), k)
    Tables(spark, dir, "documents").select($"doc_id")
      .join(core.withColumn("inc", lit(true)), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"inc", lit(false)).as("in_core"))
  }

  /** MATERIALIZED is load-bearing: each round references the previous
    * edge CTE three times (degree + two join sides), so DuckDB's
    * default inlining would expand the 8-round chain to 3⁸ scans of
    * the base pipeline ("too many open files" long before wrong
    * answers). Materializing makes each round evaluate once — the SQL
    * analog of the engine's per-round localCheckpoint. */
  private def kcoreRoundSql(prev: String, out: String, k: Int,
      deg: String): String =
    s"""$deg AS MATERIALIZED (
       |  SELECT u FROM (SELECT u, COUNT(*) AS c FROM $prev GROUP BY u) t
       |  WHERE c >= $k),
       |$out AS MATERIALIZED (
       |  SELECT e.u, e.v FROM $prev e
       |  JOIN $deg ka ON ka.u = e.u
       |  JOIN $deg kb ON kb.u = e.v)""".stripMargin

  private lazy val kCoreSql = clusterCtes + ",\n" +
    "e0 AS MATERIALIZED (SELECT u, v FROM e),\n" +
    (1 to KCoreMaxRounds)
      .map(i => kcoreRoundSql(s"e${i - 1}", s"e$i", 2, s"d$i"))
      .mkString(",\n") + "\n" +
    s"""SELECT d.doc_id, cv.u IS NOT NULL AS in_core
       |FROM documents d
       |LEFT JOIN (SELECT DISTINCT u FROM e$KCoreMaxRounds) cv
       |  ON cv.u = d.doc_id""".stripMargin

  /** The recursive-CTE cluster computation, shared by the q45 and q59
    * oracles: transitive closure over the same exact J ≥ 0.5 pair set,
    * min reachable id per node. Ends with the `m` CTE; callers append
    * their final select (and further CTEs after a comma). */
  private val clusterCtes =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, len(string_split(text, ' ')) - 1),
      |      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS s
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |p AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
      |e AS (SELECT a_id AS u, b_id AS v FROM p
      |      UNION SELECT b_id, a_id FROM p),
      |reach AS (
      |  SELECT u, v FROM e
      |  UNION
      |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
      |m AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u)""".stripMargin

  private val dupClustersSql = clusterCtes + "\n" +
    """SELECT d.doc_id,
      |  CAST(LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) AS BIGINT)
      |    AS cluster_id
      |FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id""".stripMargin

  /** The dedup pipeline's end artifact: the deduplicated corpus. One
    * survivor per cluster by an explicit POLICY — keep the longest
    * document (n_chars desc), doc_id ascending as the deterministic
    * tie-break — rather than the min-id label, because real pipelines
    * keep the best copy, not the first one. Rides the memoized
    * [[clusterLabels]]; the per-cluster rank is a keyed window (one
    * shuffle on cluster_id, no global ordering anywhere). */
  def dedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labelled = Tables(spark, dir, "documents")
      .select($"doc_id", $"n_chars")
      .join(clusterLabels(spark, dir), "doc_id")
    Operators.dedupKeepFirst(labelled, Seq("cluster_id"),
        Seq($"n_chars".desc), $"doc_id".asc)
      .select($"doc_id", $"cluster_id")
  }

  /** q59's whole computation as a CTE chain ending with
    * `surv(doc_id, cluster_id)` — downstream oracles (q64) filter the
    * deduplicated corpus by extending this chain. */
  private[graft] val survivorCtes = clusterCtes + ",\n" +
    """cl AS (
      |  SELECT d.doc_id, d.n_chars,
      |    CAST(LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) AS BIGINT)
      |      AS cluster_id
      |  FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id),
      |surv AS (
      |  SELECT doc_id, cluster_id FROM (
      |    SELECT doc_id, cluster_id,
      |      ROW_NUMBER() OVER (PARTITION BY cluster_id
      |        ORDER BY n_chars DESC, doc_id ASC) AS rn
      |    FROM cl) t
      |  WHERE rn = 1)""".stripMargin

  private val dedupCorpusSql =
    survivorCtes + "\nSELECT doc_id, cluster_id FROM surv"

  /** q78 — the dedup AUDIT report: duplicate-cluster size
    * distribution (how many clusters of each size, singletons
    * included). This is the number a data team reads before shipping a
    * dedup pass — a sudden mass of large clusters means the threshold
    * or the corpus changed. Rides the memoized q45 labels (payer
    * before rider asserted in Bench); two partial-aggregatable
    * shuffles over tiny keyspaces. */
  def clusterSizes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusterLabels(spark, dir)
      .groupBy($"cluster_id").agg(count(lit(1)).as("size"))
      .groupBy($"size").agg(count(lit(1)).as("n_clusters"))
      .select($"size", $"n_clusters")
  }

  private val clusterSizesSql = survivorCtes + "\n" +
    """SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters
      |FROM (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size
      |      FROM cl GROUP BY cluster_id) s
      |GROUP BY size""".stripMargin

  /** q143 — survivor-policy A/B report: the pre-ship comparison of
    * three survivor selection policies over the SAME memoized cluster
    * labels — keep-longest (q59's shipped policy), keep-shortest, and
    * keep-first (min doc_id) — each as one summary row: survivors
    * (identical by construction: one per cluster), total kept chars
    * (the number that moves: longest maximizes retained text,
    * shortest minimizes near-dup storage), and how many clusters pick
    * a DIFFERENT survivor than the shipped policy. A data team reads
    * this before changing the policy; the disagreement count says how
    * much of the corpus the change actually touches.
    *
    * Scale shape: all three argmax/argmin choices come out of ONE
    * partial-aggregatable groupBy over cluster_id (three struct
    * aggregates in the same HashAggregate — no windows, no second
    * shuffle), then a 3-row summary union. Rides the memoized q45
    * labels (payer-before-rider: q45 → q143). */
  def survivorPolicies(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables(spark, dir, "documents")
      .select($"doc_id", $"n_chars")
      .join(clusterLabels(spark, dir), "doc_id")
      .groupBy($"cluster_id")
      .agg(
        max(struct($"n_chars".as("c"), (-$"doc_id").as("nid"))).as("lg"),
        min(struct($"n_chars".as("c"), $"doc_id".as("id"))).as("sh"),
        min(struct($"doc_id".as("id"), $"n_chars".as("c"))).as("fs"))
      .select(
        (-$"lg.nid").as("lg_id"), $"lg.c".as("lg_c"),
        $"sh.id".as("sh_id"), $"sh.c".as("sh_c"),
        $"fs.id".as("fs_id"), $"fs.c".as("fs_c"))
    def row(policy: String, id: Column, c: Column) =
      per.select(
        lit(policy).as("policy"),
        lit(1L).as("one"), c.as("c"),
        when(id =!= $"lg_id", 1L).otherwise(0L).as("dif"))
        .groupBy($"policy")
        .agg(sum($"one").as("n_survivors"),
          sum($"c").as("kept_chars"),
          sum($"dif").as("n_differ_from_shipped"))
    row("keep_longest", $"lg_id", $"lg_c")
      .union(row("keep_shortest", $"sh_id", $"sh_c"))
      .union(row("keep_first", $"fs_id", $"fs_c"))
  }

  private val survivorPoliciesSql = survivorCtes.replace(
    "surv AS (",
    """rk AS (
      |  SELECT cluster_id, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY cluster_id
      |      ORDER BY n_chars DESC, doc_id ASC) AS r_lg,
      |    ROW_NUMBER() OVER (PARTITION BY cluster_id
      |      ORDER BY n_chars ASC, doc_id ASC) AS r_sh,
      |    ROW_NUMBER() OVER (PARTITION BY cluster_id
      |      ORDER BY doc_id ASC) AS r_fs
      |  FROM cl),
      |pol AS (
      |  SELECT cluster_id,
      |    MAX(CASE WHEN r_lg = 1 THEN doc_id END) AS lg_id,
      |    MAX(CASE WHEN r_lg = 1 THEN n_chars END) AS lg_c,
      |    MAX(CASE WHEN r_sh = 1 THEN doc_id END) AS sh_id,
      |    MAX(CASE WHEN r_sh = 1 THEN n_chars END) AS sh_c,
      |    MAX(CASE WHEN r_fs = 1 THEN doc_id END) AS fs_id,
      |    MAX(CASE WHEN r_fs = 1 THEN n_chars END) AS fs_c
      |  FROM rk GROUP BY cluster_id),
      |surv AS (""".stripMargin) + "\n" +
    """SELECT 'keep_longest' AS policy,
      |  CAST(COUNT(*) AS BIGINT) AS n_survivors,
      |  CAST(SUM(lg_c) AS BIGINT) AS kept_chars,
      |  CAST(0 AS BIGINT) AS n_differ_from_shipped FROM pol
      |UNION ALL
      |SELECT 'keep_shortest', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(sh_c) AS BIGINT),
      |  CAST(SUM(CASE WHEN sh_id <> lg_id THEN 1 ELSE 0 END) AS BIGINT)
      |FROM pol
      |UNION ALL
      |SELECT 'keep_first', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(fs_c) AS BIGINT),
      |  CAST(SUM(CASE WHEN fs_id <> lg_id THEN 1 ELSE 0 END) AS BIGINT)
      |FROM pol""".stripMargin

  /** SimHash signatures via the codegen [[simhash64]] expression.
    * Term hash = first 15 hex chars of md5 (60 bits, fits signed int64
    * positive) — chosen because BOTH engines compute md5 identically, so
    * the whole signature is oracle-checkable bit-for-bit (the round-2
    * xxhash64 variant was rows-only). The hash family is orthogonal to
    * the algorithm: a deployment chasing throughput swaps xxhash64 back
    * in (one cheap mixing pass vs a cryptographic digest per term) —
    * SimHash only needs uniform independent bits. Bits 60–63 of the
    * signature are deterministically 0 (every term contributes −1). */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fanned read (guide §2.5): one md5 per token + the 64-counter
    // signature fold is the per-row-expensive map this scan feeds
    Tables.fanned(spark, dir, "documents")
      .withColumn("th", expr(
        "transform(split(text, ' '), " +
          "t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint))"))
      .select($"doc_id", simhash64($"th").as("simhash"))
  }

  /** Oracle: the identical signature in DuckDB — same 60-bit md5 term
    * hash, same +1/−1 bit counting, same strict `> 0` bit rule as the
    * [[simhash64]] codegen. Token × 60-bit cross join is oracle-side
    * only; the engine computes all 64 counters in one codegen pass. */
  private[graft] val simhashSignaturesSql =
    """WITH tok AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substr(md5(unnest(string_split(text, ' '))), 1, 15))
      |      AS BIGINT) AS h
      |  FROM documents),
      |bits AS (
      |  SELECT doc_id, b,
      |    CASE WHEN SUM(((h >> b) & 1) * 2 - 1) > 0
      |      THEN (1::BIGINT << b) ELSE 0::BIGINT END AS bitval
      |  FROM tok, (SELECT unnest(range(60)) AS b) br
      |  GROUP BY doc_id, b)
      |SELECT doc_id, CAST(SUM(bitval) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id""".stripMargin

  /** SimHash near-dup pairs: block on any shared 16-bit chunk (pigeonhole:
    * hamming ≤ 3 ⇒ at least one of 4 chunks identical), verify with
    * bit_count(xor) ≤ 3. Candidate join is equi on (chunk idx, chunk). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sigs = simhashSignatures(spark, dir)
    val chunked = sigs.select($"doc_id", $"simhash", explode(array(
      (0 until 4).map(j =>
        struct(lit(j).as("j"),
          shiftrightunsigned($"simhash", j * 16).bitwiseAND(lit(0xFFFFL))
            .as("chunk"))): _*)).as("c"))
      .select($"doc_id", $"simhash", $"c.j", $"c.chunk")
    // filter written BEFORE distinct to declare intent: refutable
    // candidates must die before the distinct's exchange. Catalyst
    // reaches the same physical plan from either ordering (the
    // deterministic predicate on a grouping column is pushed below the
    // aggregate — verified by comparing both forms' executedPlans, which
    // are identical: the hamming test lands in the JOIN condition); the
    // plan test pins the invariant so neither ordering nor optimizer
    // behavior can regress it silently
    chunked.as("x")
      .join(chunked.as("y"),
        col("x.j") === col("y.j") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter($"hamming" <= 3)
      .distinct()
  }

  /** Oracle: all pairs over the signature CTE — candidate blocking is an
    * engine-side optimization the oracle doesn't need at sf0.01. */
  private[graft] val simhashPairsSql =
    s"""WITH sig AS (
      |${simhashSignaturesSql}
      |)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** q73 — SUB-document dedup: duplicated k-token spans across the
    * corpus (rolling k-gram windows shared by >1 document), the
    * granularity the whole-document suite (q40–q45) cannot see —
    * boilerplate headers, license blocks, templated sentences
    * replicated across otherwise-distinct documents. This is the
    * distributed, fixed-k form of exact-substring training-data dedup
    * (Lee et al. 2022 use suffix arrays to find ALL length-≥50
    * duplicated byte spans; rolling k-token windows are the standard
    * shuffle-friendly approximation — every duplicated span of ≥k
    * tokens is covered by its duplicated k-windows). Report shape:
    * each cross-document duplicated window with its occurrence and
    * document counts — the input a span-removal pass consumes.
    *
    * Scale shape: the window explode is partition-local (~n_tokens
    * rows per doc); aggregation is two-level hash (partial on
    * (gram, doc) for the distinct, then on gram) — equi-shuffle only,
    * no pairwise comparison anywhere, so cost is linear in corpus
    * tokens regardless of how many documents share a span. At 100 TB
    * group on a 64-bit gram hash instead of the text to shrink
    * shuffle width (same plan; text kept here so the report is
    * directly actionable and the oracle trivially portable). */
  def dupNgramsOf(docs: DataFrame, k: Int): DataFrame =
    dupGramsFrom(spanWindows(docs, k))

  /** Cross-document duplicated grams of a window stream: the q73
    * aggregate, shared by the scrub/dedup coverage joins. */
  private def dupGramsFrom(wins: DataFrame): DataFrame = {
    val spark = wins.sparkSession
    import spark.implicits._
    wins.groupBy($"gram")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct($"doc_id").as("n_docs"))
      .filter($"n_docs" > 1)
  }

  /** The span family's shared window artifact: every 8-token window
    * of the documents table as (doc_id, start, 64-bit hash) — three
    * longs per row, NO gram text — memoized once per (context,
    * dataset), the [[verifiedPairs]] contract applied to the family's
    * common lift (VERDICT r12 #2). NARROW deliberately: an A/B this
    * round re-confirmed the round-8 finding that caching the WIDE
    * gram-text windows costs more than re-enumerating them (columnar
    * cache write/read of ~50-byte strings beats the codegen explode
    * it saves — q73-as-wide-payer measured 4.8 s against 3.8 s live),
    * while the all-primitive table caches and re-reads for near
    * nothing. The two queries whose REPORT is the gram text (q73, q81)
    * keep the live text explode — their output needs the strings, so
    * a cache could only move their cost, not remove it. ~400k rows / ~10 MB at sf0.1, linear in corpus tokens: at 100 TB
    * this is the window-hash table a deployment writes to storage
    * once — which is exactly the serving shape the span index
    * ([[graft.queries.FusionOps]] / q173) already implements. */
  private[graft] val spanWindows = Artifacts[DataFrame]("dedup.span_windows")
  private[graft] def spanWindowTable(spark: SparkSession,
      dir: String): DataFrame =
    spanWindows.get(spark, dir) {
      val w = spanWindowHashes(
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")),
        k = 8).persist()
      // materialize NOW: the first consumer (q74) reads this table on
      // BOTH sides of a self-join — against an unmaterialized persist
      // the two scan branches race the full explode lineage instead of
      // sharing one cache fill (the hhSketchTable lesson)
      w.count()
      w
    }

  def dupNgrams(spark: SparkSession, dir: String): DataFrame =
    dupNgramsOf(Tables(spark, dir, "documents"), k = 8)

  /** q74 — the span-removal pass q73's report feeds: rewrite each
    * document with every token covered by a cross-document duplicated
    * k-window REMOVED. This is decontamination-style scrubbing (mask
    * ALL occurrences — the right call when the duplicated spans are
    * benchmark/boilerplate contamination); the keep-one-copy variant
    * of Lee et al. is the same plan with the canonical occurrence's
    * positions anti-joined out of the removal set. Policy and overlap
    * semantics are exact: a position is removed iff ≥1 duplicated
    * window covers it, so overlapping windows compose by union.
    *
    * Scale shape: windows explode partition-local and carry an 8-byte
    * gram HASH, not the gram text ([[spanWindowHashes]]); the dup-gram
    * set is a two-level hash agg on that key; covered positions are an
    * equi-join of windows against dup hashes plus a position explode
    * (≤k rows per covered window); the rebuild filters each covered
    * document's token array in place ([[rebuildExcluding]] — no
    * corpus-wide token shuffle). Everything that shuffles is covered
    * windows/positions keyed by doc_id or gh — no pairwise work,
    * linear in corpus tokens. */
  def scrubSpansOf(docs: DataFrame, k: Int): DataFrame =
    scrubCore(docs, spanWindowHashes(docs, k), k)

  private def scrubCore(docs: DataFrame, wins: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val covered = wins
      .join(dupGramHashesFrom(wins), "gh")
      .select($"doc_id", explode(sequence($"i", $"i" + (k - 1))).as("pos"))
      .distinct()
    rebuildExcluding(docs, covered)
  }

  /** Every k-window of every document with its 1-based start position —
    * the shared candidate stream of the span-dedup family (q73–q75 and
    * the streaming flagger). Stateless (tokenize + explode), so it
    * lifts streaming frames too; `extra` names columns to carry
    * through (e.g. the event-time column a streaming caller's
    * watermark rides on). */
  private[graft] def spanWindows(docs: DataFrame, k: Int,
      extra: Seq[String] = Nil): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val carried = extra.map(col)
    graft.operators.Operators.fanOutIfNarrow(
        docs.select($"doc_id" +: carried :+ $"text": _*), $"doc_id")
      .select($"doc_id" +: carried :+ split($"text", " ").as("tok"): _*)
      .filter(size($"tok") >= k)
      .select($"doc_id" +: carried :+ explode(expr(
        s"transform(sequence(1, size(tok) - $k + 1), " +
          s"i -> struct(i AS i, concat_ws(' ', slice(tok, i, $k)) AS gram))"))
        .as("w"): _*)
      .select($"doc_id" +: carried :+ $"w.i".as("i") :+ $"w.gram".as("gram"): _*)
  }

  /** The hashed twin of [[spanWindows]] for consumers that never EMIT
    * the gram text (q74/q75/q77 key on grams internally but output
    * only rewritten text / counts): `xxhash64` over the token SLICE —
    * no k-word string is ever built — so the gram-keyed shuffles and
    * joins carry an 8-byte key instead of a ~k-word one. This is the
    * "group on a 64-bit gram hash at 100 TB" note on [[dupNgramsOf]]
    * made real engine-side; q73 keeps the text form because its
    * report IS the gram. A 64-bit collision (two distinct grams, one
    * hash) could mark a unique window duplicated; at ~10^6 windows
    * per shard the birthday bound is ~10^-7 and any hit is
    * deterministic — the oracle gate would name it. Note the q139
    * LIVE-vs-ORACLE asymmetry this implies (ADVICE r13): noveltyScore
    * joins delta vs corpus windows on `gh` while its DuckDB oracle
    * joins on gram TEXT (DuckDB has no xxhash64), so a delta-window /
    * corpus-window collision would flip a novel window to seen in the
    * live result only — the same deterministic birthday bound, and
    * the hash-comparing gate is exactly the detector that would
    * surface it. */
  private[graft] def spanWindowHashes(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.Operators.fanOutIfNarrow(
        docs.select($"doc_id", $"text"), $"doc_id")
      .select($"doc_id", split($"text", " ").as("tok"))
      .filter(size($"tok") >= k)
      .select($"doc_id", explode(expr(
        s"transform(sequence(1, size(tok) - $k + 1), " +
          s"i -> struct(i AS i, xxhash64(slice(tok, i, $k)) AS gh))"))
        .as("w"))
      .select($"doc_id", $"w.i".as("i"), $"w.gh".as("gh"))
  }

  /** Hashes of cross-document duplicated grams — [[dupGramsFrom]] with
    * the 8-byte key and no report columns, the q74/q75/q77 inner
    * driver. */
  private def dupGramHashesFrom(wins: DataFrame): DataFrame = {
    val spark = wins.sparkSession
    import spark.implicits._
    wins.groupBy($"gh")
      .agg(countDistinct($"doc_id").as("n_docs"))
      .filter($"n_docs" > 1)
      .select($"gh")
  }

  /** Rebuild each document's text without the `covered` (doc_id, pos)
    * set, keeping every input document (fully-scrubbed → empty row) —
    * the shared back half of q74/q75.
    *
    * Shape (round 8): the removal set is folded to one array per
    * covered document and the rewrite happens IN PLACE — a
    * position-indexed `filter` over the re-split token array — so the
    * only shuffles are the covered positions themselves (groupBy
    * doc_id) and a join whose right side holds ONLY covered docs. The
    * previous form posexploded every token of every document and
    * shuffled that corpus-wide (doc_id, pos, token) stream through an
    * anti-join plus a collect_list groupBy — at 100 TB that is a
    * full-corpus shuffle to rewrite the typically-small covered
    * subset; measured 2.6×/2.3× on q74/q75 at sf0.1. The in-place
    * filter is O(tokens × |rm|) per doc — bounded by document length
    * squared, fine at document granularity (a pipeline caps doc
    * length long before the 10^4 tokens where this term would show);
    * a corpus of pathological mega-docs would flip back to the
    * anti-join form. */
  private def rebuildExcluding(docs: DataFrame, covered: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the repartition between the callers' distinct() and collect_set
    // is load-bearing: without it the optimizer removes the redundant
    // distinct (collect_set subsumes it) and the partial collect_set —
    // an ObjectHashAggregate that falls back to SORT-based aggregation
    // past 128 in-memory groups — runs directly over the RAW position
    // explode (~7× duplicated at high dup rates, 17M rows at the 10×
    // stress), sorting it per task: measured 110 s for q75 at 10×.
    // With the barrier the explode output drains through the codegen
    // hash-aggregate distinct first and the object aggregate sees only
    // compact per-doc position sets: 110 s → ~7 s at 10×.
    val rm = covered.repartition($"doc_id")
      .groupBy($"doc_id").agg(collect_set($"pos").as("rm"))
    // left join keeps every input document (fully-scrubbed → all
    // positions in rm → empty text; short/NULL-text docs → rm NULL →
    // kept unchanged) — the one-row-per-input-doc contract (the q70
    // review lesson: engine absence and oracle absence must agree)
    docs.select($"doc_id", split($"text", " ").as("tok"))
      .join(rm, Seq("doc_id"), "left")
      .select($"doc_id",
        expr("filter(tok, (t, p) -> rm IS NULL OR NOT array_contains(rm, p + 1))")
          .as("kept"))
      .select($"doc_id",
        coalesce(concat_ws(" ", $"kept"), lit("")).as("clean_text"),
        coalesce(size($"kept").cast("long"), lit(0L)).as("n_tokens_kept"))
  }

  def scrubSpans(spark: SparkSession, dir: String): DataFrame =
    scrubCore(Tables(spark, dir, "documents"),
      spanWindowTable(spark, dir), k = 8)

  /** q75 — keep-ONE-copy span dedup, the Lee et al. 2022 form (q74's
    * scrub removes every occurrence; training-data dedup keeps the
    * corpus's one canonical copy of each span): per duplicated gram the
    * canonical occurrence is the lexicographically least (doc_id, i) —
    * a partial-aggregatable `min(struct)` — and only the OTHER
    * occurrences' positions enter the removal set. Union semantics
    * compose across grams exactly as q74: a canonical occurrence of one
    * gram does not shield a position that another gram's non-canonical
    * occurrence covers. Same shared window/rebuild lifts; one extra
    * min-aggregate per gram, still equi-shuffle only. */
  def dedupSpansOf(docs: DataFrame, k: Int): DataFrame =
    dedupCore(docs, spanWindowHashes(docs, k), k)

  private def dedupCore(docs: DataFrame, wins: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dupWins = wins
      .join(dupGramHashesFrom(wins), "gh")
    val canon = dupWins.groupBy($"gh")
      .agg(min(struct($"doc_id", $"i")).as("c"))
    val covered = dupWins.join(canon, "gh")
      .filter(!($"doc_id" === $"c.doc_id" && $"i" === $"c.i"))
      .select($"doc_id", explode(sequence($"i", $"i" + (k - 1))).as("pos"))
      .distinct()
    rebuildExcluding(docs, covered)
  }

  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    dedupCore(Tables(spark, dir, "documents"),
      spanWindowTable(spark, dir), k = 8)

  /** q77 — per-document duplication stats: how much of each document
    * is duplicated material (its window count and how many of those
    * windows are cross-document duplicates). This is the per-doc
    * QUALITY SIGNAL the span machinery feeds a filtering policy — "drop
    * documents that are >x% boilerplate" gates on exactly these two
    * integers, upstream of the heavier q74/q75 rewrites. Every document
    * appears: docs shorter than k tokens (no windows) and docs with no
    * duplicated windows report zeros via the restore left-join, the
    * same one-row-per-input-doc contract as q74/q75. Integer counts
    * end to end — fully hash-checked. */
  def spanStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val wins = spanWindowTable(spark, dir)
    val perDoc = wins
      .join(dupGramHashesFrom(wins).withColumn("is_dup", lit(1L)),
        Seq("gh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce($"is_dup", lit(0L))).as("n_dup_windows"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_windows", lit(0L)).as("n_windows"),
        coalesce($"n_dup_windows", lit(0L)).as("n_dup_windows"))
  }

  private val spanStatsSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |w AS (
      |  SELECT doc_id, array_to_string(tok[i : i + 7], ' ') AS gram
      |  FROM (SELECT doc_id, tok,
      |          unnest(range(1, len(tok) - 8 + 2)) AS i
      |        FROM tok WHERE len(tok) >= 8) u),
      |dup AS (
      |  SELECT gram FROM w GROUP BY gram
      |  HAVING COUNT(DISTINCT doc_id) > 1),
      |s AS (
      |  SELECT w.doc_id, COUNT(*) AS n_windows,
      |    COUNT(dup.gram) AS n_dup_windows
      |  FROM w LEFT JOIN dup USING (gram)
      |  GROUP BY w.doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(s.n_windows, 0) AS BIGINT) AS n_windows,
      |  CAST(COALESCE(s.n_dup_windows, 0) AS BIGINT) AS n_dup_windows
      |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id""".stripMargin

  /** Oracle: canonical occurrence via ROW_NUMBER ordered by
    * (doc_id, i) — identical to the engine's lexicographic
    * `min(struct)` — with coverage from rn > 1 rows only. */
  private val dedupSpansSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |w AS (
      |  SELECT doc_id, i, array_to_string(tok[i : i + 7], ' ') AS gram
      |  FROM (SELECT doc_id, tok,
      |          unnest(range(1, len(tok) - 8 + 2)) AS i
      |        FROM tok WHERE len(tok) >= 8) u),
      |dup AS (
      |  SELECT gram FROM w GROUP BY gram
      |  HAVING COUNT(DISTINCT doc_id) > 1),
      |wd AS (
      |  SELECT w.doc_id, w.i,
      |    ROW_NUMBER() OVER (PARTITION BY w.gram
      |                       ORDER BY w.doc_id, w.i) AS rn
      |  FROM w JOIN dup USING (gram)),
      |cov AS (
      |  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
      |  FROM wd, unnest(range(wd.i, wd.i + 8)) AS t(p)
      |  WHERE rn > 1),
      |kept AS (
      |  SELECT t.doc_id, t.pos AS pos, t.token AS token FROM (
      |    SELECT doc_id, CAST(p AS BIGINT) AS pos, tok[p] AS token
      |    FROM tok, unnest(range(1, len(tok) + 1)) AS u(p)) t
      |  LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.pos = t.pos
      |  WHERE cov.pos IS NULL)
      |SELECT d.doc_id,
      |  COALESCE(string_agg(k.token, ' ' ORDER BY k.pos), '') AS clean_text,
      |  CAST(COUNT(k.token) AS BIGINT) AS n_tokens_kept
      |FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
      |GROUP BY d.doc_id""".stripMargin

  /** Oracle: identical window/coverage construction; the rebuild is
    * `string_agg(token, ' ' ORDER BY pos)`, matching the engine's
    * sorted-struct collect; the LEFT JOIN from documents + COALESCE('')
    * mirrors the engine's restore join, so a fully-scrubbed (or
    * NULL-text) document survives as an empty row on BOTH sides. */
  private val scrubSpansSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |w AS (
      |  SELECT doc_id, i, array_to_string(tok[i : i + 7], ' ') AS gram
      |  FROM (SELECT doc_id, tok,
      |          unnest(range(1, len(tok) - 8 + 2)) AS i
      |        FROM tok WHERE len(tok) >= 8) u),
      |dup AS (
      |  SELECT gram FROM w GROUP BY gram
      |  HAVING COUNT(DISTINCT doc_id) > 1),
      |cov AS (
      |  SELECT DISTINCT w.doc_id, CAST(p AS BIGINT) AS pos
      |  FROM w JOIN dup USING (gram), unnest(range(w.i, w.i + 8)) AS t(p)),
      |kept AS (
      |  SELECT t.doc_id, t.pos AS pos, t.token AS token FROM (
      |    SELECT doc_id, CAST(p AS BIGINT) AS pos, tok[p] AS token
      |    FROM tok, unnest(range(1, len(tok) + 1)) AS u(p)) t
      |  LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.pos = t.pos
      |  WHERE cov.pos IS NULL)
      |SELECT d.doc_id,
      |  COALESCE(string_agg(k.token, ' ' ORDER BY k.pos), '') AS clean_text,
      |  CAST(COUNT(k.token) AS BIGINT) AS n_tokens_kept
      |FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
      |GROUP BY d.doc_id""".stripMargin

  /** Oracle: same 1-based inclusive window slicing (DuckDB list
    * `[i : i+k-1]` == Spark `slice(tok, i, k)`), same cross-document
    * HAVING. */
  private val dupNgramsSql =
    """WITH u AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok,
      |    unnest(range(1, len(string_split(text, ' ')) - 8 + 2)) AS i
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |g AS (SELECT doc_id, array_to_string(tok[i : i + 7], ' ') AS gram
      |      FROM u)
      |SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM g
      |GROUP BY gram
      |HAVING COUNT(DISTINCT doc_id) > 1""".stripMargin

  /** q153 — the cluster CHAIN audit: per duplicate-cluster size, how
    * many member pairs are DIRECT verified near-dups versus IMPLIED
    * only by transitivity (connected components chain A~B~C into one
    * cluster even when A and C share nothing — the classic over-merge
    * failure of transitive dedup at scale, where one templated page
    * bridges unrelated families). implied = C(m,2) − direct per
    * cluster, rolled up by cluster size with an integer implied-share
    * ppm: a size band whose implied share approaches 10⁶ is chains,
    * not cliques, and its survivor policy is destroying mostly-unique
    * text. The audit that says WHEN to switch from q45's transitive
    * labels to a stricter clique-ish policy.
    *
    * Scale shape: rides both memoized artifacts (labels + verified
    * pairs); one count per cluster each, a size-keyed rollup —
    * bounded keys, no pairwise work. */
  def clusterChainAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labels = clusterLabels(spark, dir)
    val cs = labels.groupBy($"cluster_id").agg(count(lit(1)).as("m"))
    // every verified pair is within one cluster by construction —
    // label one endpoint and count
    val dp = verifiedPairs(spark, dir).select($"a_id")
      .join(labels.select($"doc_id".as("a_id"), $"cluster_id"), "a_id")
      .groupBy($"cluster_id").agg(count(lit(1)).as("direct"))
    cs.join(dp, Seq("cluster_id"), "left")
      .select($"m", coalesce($"direct", lit(0L)).as("direct"))
      .withColumn("implied", expr("m * (m - 1) div 2 - direct"))
      .groupBy($"m")
      .agg(count(lit(1)).as("n_clusters"),
        sum($"direct").as("n_direct_pairs"),
        sum($"implied").as("n_implied_pairs"))
      .select($"m".as("cluster_size"), $"n_clusters",
        $"n_direct_pairs", $"n_implied_pairs",
        expr("CAST(IF(n_direct_pairs + n_implied_pairs = 0, 0, " +
          "(1000000 * n_implied_pairs) div " +
          "(n_direct_pairs + n_implied_pairs)) AS BIGINT)")
          .as("implied_ppm"))
  }

  private val clusterChainAuditSql = survivorCtes + ",\n" +
    """cm AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS m
      |  FROM cl GROUP BY 1),
      |dp AS (SELECT cl.cluster_id, CAST(COUNT(*) AS BIGINT) AS direct
      |  FROM p JOIN cl ON cl.doc_id = p.a_id GROUP BY 1),
      |per AS (
      |  SELECT cm.cluster_id, cm.m,
      |    COALESCE(dp.direct, 0) AS direct,
      |    cm.m * (cm.m - 1) // 2 - COALESCE(dp.direct, 0) AS implied
      |  FROM cm LEFT JOIN dp USING (cluster_id))
      |SELECT m AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |  CAST(SUM(direct) AS BIGINT) AS n_direct_pairs,
      |  CAST(SUM(implied) AS BIGINT) AS n_implied_pairs,
      |  CAST(CASE WHEN SUM(direct) + SUM(implied) = 0 THEN 0
      |    ELSE (1000000 * SUM(implied))
      |      // (SUM(direct) + SUM(implied)) END AS BIGINT) AS implied_ppm
      |FROM per GROUP BY 1""".stripMargin

  /** q150 — the cross-source NEAR-dup contamination MATRIX: the
    * verified J ≥ 0.5 pair table (the memoized q42 artifact) rolled up
    * into source × source cells — pair count and distinct documents
    * touched per cell, source pair ordered lexically so the matrix is
    * upper-triangular with the diagonal as within-source duplication.
    * This is the report a data-acquisition team reads before buying a
    * new crawl: off-diagonal mass = "this source is substantially a
    * re-serving of that one" (mirror/scraper detection), diagonal
    * mass = internal boilerplate. Complements q54, which is the
    * EXACT-fingerprint form; near-dup catches the re-hosted copy with
    * a new footer.
    *
    * Scale shape: two dimension joins from the persisted pair table
    * to the (doc_id, source) projection, then bounded-key rollups
    * (sources² cells); the doc-count leg dedups (cell, doc) before
    * counting — no pairwise work beyond the already-mined table. */
  def crossSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables(spark, dir, "documents").select($"doc_id", $"source")
    val ps = verifiedPairs(spark, dir)
      .join(src.select($"doc_id".as("a_id"), $"source".as("sa")), "a_id")
      .join(src.select($"doc_id".as("b_id"), $"source".as("sb")), "b_id")
      .select(least($"sa", $"sb").as("src_a"),
        greatest($"sa", $"sb").as("src_b"), $"a_id", $"b_id")
    val nPairs = ps.groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = ps
      .select($"src_a", $"src_b", explode(array($"a_id", $"b_id"))
        .as("doc_id")).distinct()
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("src_a", "src_b"))
  }

  /** Oracle: the shared exact-pair CTE `p` (clusterCtes — DuckDB only
    * evaluates referenced CTEs, so the recursive closure the other
    * consumers need stays unevaluated here). */
  private val crossSourceMatrixSql = clusterCtes + ",\n" +
    """ps AS (SELECT least(da.source, db.source) AS src_a,
      |    greatest(da.source, db.source) AS src_b, p.a_id, p.b_id
      |  FROM p JOIN documents da ON da.doc_id = p.a_id
      |         JOIN documents db ON db.doc_id = p.b_id),
      |np AS (SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |  FROM ps GROUP BY 1, 2),
      |pd AS (SELECT DISTINCT src_a, src_b, doc_id FROM (
      |  SELECT src_a, src_b, a_id AS doc_id FROM ps
      |  UNION ALL SELECT src_a, src_b, b_id FROM ps) u),
      |nd AS (SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_docs
      |  FROM pd GROUP BY 1, 2)
      |SELECT np.src_a, np.src_b, np.n_pairs, nd.n_docs
      |FROM np JOIN nd USING (src_a, src_b)""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("q153_cluster_chain_audit", clusterChainAudit,
      Some(clusterChainAuditSql),
      "transitive-chaining audit per cluster size: direct verified " +
        "pairs vs transitivity-implied pairs with integer implied-" +
        "share ppm — when to distrust connected-component dedup",
      rides = Seq(clusters, pairs)),
    Q("q150_cross_source_matrix", crossSourceMatrix,
      Some(crossSourceMatrixSql),
      "source x source near-dup contamination matrix over the " +
        "memoized verified-pair table: pair + distinct-doc counts per " +
        "lexically-ordered source cell — mirror/scraper detection",
      rides = Seq(pairs)),
    Q("q73_dup_ngrams", dupNgrams, Some(dupNgramsSql),
      "sub-document dedup: cross-document duplicated 8-token spans " +
        "(rolling windows, two-level hash agg — no pairwise compare)"),
    Q("q74_span_scrub", scrubSpans, Some(scrubSpansSql),
      "decontamination span scrubbing: rewrite every doc with " +
        "cross-doc duplicated 8-windows removed (union coverage, " +
        "order-preserving rebuild, one row per input doc)",
      pays = Seq(spanWindows)),
    Q("q75_span_dedup", dedupSpans, Some(dedupSpansSql),
      "keep-one-copy span dedup (Lee et al. form): canonical " +
        "min(doc_id, pos) occurrence survives per duplicated span, " +
        "all others removed",
      rides = Seq(spanWindows)),
    Q("q77_span_stats", spanStats, Some(spanStatsSql),
      "per-doc duplication quality signal: window count + cross-doc " +
        "duplicated-window count, zeros preserved for every input doc",
      rides = Seq(spanWindows)),
    Q("q98_similar_neighbors", similarNeighbors(_, _),
      Some(similarNeighborsSql),
      "per-doc top-3 verified near-duplicates by exact Jaccard — the " +
        "related-items view of the memoized pair table",
      rides = Seq(pairs)),
    Q("q97_dup_pagerank", dupPagerank(_, _), Some(dupPagerankSql),
      "integer-exact 3-round PageRank over the near-dup graph: which " +
        "documents are the boilerplate hubs; one lazy plan, no floats",
      rides = Seq(pairs)),
    Q("q109_triangle_counts", triangleCounts, Some(triangleCountsSql),
      "degree-oriented triangle counting over the near-dup graph: " +
        "per-doc 3-clique participation, wedge join bounded O(m^1.5)",
      rides = Seq(pairs)),
    Q("q117_kcore", kCore(_, _), Some(kCoreSql),
      "2-core membership by bulk peeling on the iterate harness: the " +
        "dup graph minus its tree-like fringe, convergence-asserted",
      rides = Seq(pairs)),
    Q("q78_cluster_sizes", clusterSizes, Some(clusterSizesSql),
      "dedup audit report: duplicate-cluster size distribution over " +
        "the memoized q45 labels (singletons included)",
      rides = Seq(clusters, pairs)),
    Q("q143_survivor_policies", survivorPolicies,
      Some(survivorPoliciesSql),
      "survivor-policy A/B: keep-longest vs keep-shortest vs " +
        "keep-first over the same cluster labels — kept chars and " +
        "disagreement counts, three struct argmins in one " +
        "HashAggregate",
      rides = Seq(clusters, pairs)),
    Q("q40_exact_dedup", exactDedup, Some(exactDedupSql),
      "normalize+md5 exact dedup, deterministic survivor"),
    Q("q195_containment_pairs", containmentPairs,
      Some(containmentPairsSql),
      "asymmetric containment dedup: |A∩B|/|A| >= 0.8 pairs over " +
        "df-capped shared-shingle candidates — catches the quoted-" +
        "whole-inside case symmetric Jaccard dilutes away; asym_only " +
        "bit marks pairs every symmetric pass would miss",
      pays = Seq(containEx)),
    Q("q41_jaccard_pairs", jaccardPairs, Some(jaccardPairsSql),
      "exact token-set Jaccard near-dup, source-blocked (verification spec)"),
    Q("q38_jaccard_prefix", jaccardPairsPrefix, Some(jaccardPairsSql),
      "same pairs via PPJoin prefix filtering — the 100 TB candidate path, " +
        "hash-proven equal to q41's oracle"),
    Q("q164_minhash_calibration", minhashCalibration,
      Some(minhashCalibrationSql),
      "MinHash estimator calibration: per match-count k of 16 " +
        "portable universal hashes, the measured P(J>=0.5) and " +
        "P(J>=0.8) over the same-source pair blocks — the " +
        "empirical curve behind q42's band/row operating point"),
    Q("q176_minhash_calibration_sampled", minhashCalibrationSampled,
      Some(minhashCalibrationSampledSql),
      "the q164 audit at scale: deterministic md5 draw of whole " +
        "same-source blocks (pair structure intact) plus an md5-rank " +
        "cap bounding every block — O(drawn blocks x cap^2) at any " +
        "corpus size, same oracle measurement over the same sample"),
    Q("q42_minhash_lsh", verifiedPairs, Some(minhashLshSql),
      "MinHash 62-hash/31-band LSH + exact verification == global shingle J>=0.5",
      pays = Seq(pairs)),
    Q("q45_dup_clusters", clusterLabels, Some(dupClustersSql),
      "connected components over the verified dup-pair graph: min-label " +
        "propagation vs a recursive-CTE oracle",
      pays = Seq(clusters),
      rides = Seq(pairs)),
    Q("q105_dup_clusters_star", dupClustersStar, Some(dupClustersSql),
      "same labels via large-star/small-star contraction — O(log n) " +
        "rounds on any graph shape (the long-chain-safe alternative), " +
        "hash-proven equal on q45's own oracle",
      rides = Seq(pairs)),
    Q("q59_dedup_corpus", dedupCorpus, Some(dedupCorpusSql),
      "the deduplicated corpus: one survivor per cluster by keep-longest " +
        "policy (n_chars desc, doc_id tie-break) over the shared labels",
      rides = Seq(clusters, pairs)),
    Q("q43_simhash_signatures", simhashSignatures, Some(simhashSignaturesSql),
      "codegen simhash64 over portable md5-derived 60-bit term hashes — " +
        "signature bits oracle-checked exactly"),
    Q("q44_simhash_pairs", simhashPairs, Some(simhashPairsSql),
      "simhash near-dup via 16-bit chunk blocking vs all-pairs oracle"))
}
