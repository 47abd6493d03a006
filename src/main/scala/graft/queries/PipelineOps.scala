package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Operators
import graft.sources.Tables

/** Corpus-preparation operators a training-data pipeline runs between
  * dedup and tokenization: reproducible sampling, text cleaning, and
  * fixed-size sequence packing. Like the rest of the north-star suite
  * these are beyond the reference's surface (its pipeline stops at
  * consumer queries) but are exactly the ops its data model would need
  * at corpus scale.
  *
  * Every op here is stateless and partition-local (zero shuffles except
  * where noted), which is the property that makes them safe to run as
  * the first pass over 100 TB.
  */
object PipelineOps {

  /** First `hexChars`×4 bits of md5 as a non-negative BIGINT — the
    * engine-portable membership/bucketing hash (DuckDB twin:
    * `CAST(concat('0x', substr(md5(x), 1, hexChars)) AS BIGINT)`). One
    * Column-form definition for the same reason as VectorOps.md5Long8:
    * a prefix-width tweak applied engine-side but not oracle-side
    * desynchronizes membership. (The simhash term hash in DedupOps uses
    * the same idiom at 15 chars inside a SQL transform-lambda, where a
    * Column helper can't reach — its width is pinned by its own oracle
    * and golden tests.) */
  private[graft] def md5PrefixLong(c: Column, hexChars: Int): Column =
    conv(substring(md5(c), 1, hexChars), 16, 10).cast("long")

  /** Deterministic ~10% sample: keep doc_ids whose md5 hex prefix falls
    * below a threshold ('1a' = 26/256 ≈ 10.2%). The scalable
    * replacement for ORDER BY random() LIMIT n: no shuffle, no RNG
    * state, reproducible across runs/engines, and stratifiable by
    * hashing (key, salt) instead. md5-of-decimal-string is engine-
    * portable, so the exact membership is hash-checked — unlike
    * Spark's `sample()`, whose RNG is private to Spark. */
  def hashSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("sample_key", substring(md5($"doc_id".cast("string")), 1, 2))
      .filter($"sample_key" < "1a")
      .select($"doc_id", $"sample_key")
  }

  private val hashSampleSql =
    """SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS sample_key
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'""".stripMargin

  /** Stratified deterministic sampling: per-language rates (here en at
    * ~25%, everything else at ~10%) via the same md5-prefix device as
    * [[hashSample]] — the training-mix lever: re-weight corpus slices
    * reproducibly, shuffle-free, with membership decided row-locally
    * from (id, stratum) alone. Changing the mix is a threshold-map
    * edit, not a new shuffle. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .withColumn("sample_key", substring(md5($"doc_id".cast("string")), 1, 2))
      .filter($"sample_key" <
        when($"lang" === "en", "40").otherwise("1a"))
      .select($"doc_id", $"lang", $"sample_key")
  }

  private val stratifiedSampleSql =
    """SELECT doc_id, lang,
      |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS sample_key
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
      |  CASE WHEN lang = 'en' THEN '40' ELSE '1a' END""".stripMargin

  /** The GPT-style pre-tokenizer pattern (contractions |
    * space?-letters | space?-digits | space?-other), in the common
    * Java/RE2 subset (alternation + character classes only) so both
    * engines match identically — ONE definition (plus its
    * single-quote-doubled SQL twin) shared by q57's counting and q71's
    * merge mining: a tweak to one copy but not the other would
    * desynchronize merge mining from token counting, or an engine from
    * its oracle. */
  private val preTokenPat =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+"
  private val preTokenPatSql = preTokenPat.replace("'", "''")

  /** The pre-tokenizer pattern for the streaming twin
    * ([[graft.streaming.StreamingQueries.tokenizeStream]]) — same
    * single definition, wider visibility. */
  private[graft] def preTokenPattern: String = preTokenPat

  /** BPE-ish subword token counting via the shared [[preTokenPat]] —
    * the counting stage a tokenizer-budget estimate runs before actual
    * BPE merges (q71). Match counts are engine-identical and
    * hash-checked. */
  def bpeTokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select($"doc_id",
        size(regexp_extract_all($"text", lit(preTokenPat), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        size(split($"text", " ")).cast("long").as("n_ws_tokens"))
  }

  private val bpeTokenCountSql =
    s"""SELECT doc_id,
      |  CAST(len(regexp_extract_all(text,
      |    '$preTokenPatSql'))
      |    AS BIGINT) AS n_bpe_tokens,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
      |FROM documents""".stripMargin

  /** q71 — the first real step of BPE tokenizer TRAINING, past q57's
    * budget counting (VERDICT r4 #5): mine the top-k most frequent
    * adjacent symbol pairs — the first k BPE merges. Semantics match
    * the classic algorithm's opening round exactly: the corpus
    * pre-tokenizes with the GPT-style regex (pairs never cross
    * pre-token boundaries), every pre-token contributes its adjacent
    * character pairs, and counting occurrences directly equals the
    * textbook per-word-count-weighted form (the sum distributes over
    * occurrences). Subsequent rounds would re-segment by the chosen
    * merge and repeat — same plan shape per round.
    *
    * Scale shape: one scan; the pair explode is partition-local; ONE
    * partial-aggregatable count shuffle on a ≤|alphabet|² key space;
    * top-k via orderBy+limit plans as TakeOrderedAndProject (per-
    * partition top-k, no single-partition exchange — q30's contract).
    * Engine-portability: pairing is substring-based — Spark's substring
    * and DuckDB's substr both count CODE POINTS, so the pairs agree on
    * any Unicode text without splitting strings into per-char arrays
    * (Java split("") works on UTF-16 code units and would diverge on
    * astral chars — the q55 byte/char lesson applied to chars/units). */
  def bpeMerges(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    val counted = Tables(spark, dir, "documents")
      .select(explode(
        regexp_extract_all($"text", lit(preTokenPat), lit(0))).as("t"))
      // single-symbol pre-tokens contribute no pairs; the guard also
      // keeps sequence() off the start>stop case (which Spark would
      // fill DESCENDING, not leave empty)
      .filter(length($"t") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"))
        .as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("cnt"))
    Operators.topK(counted, Seq($"cnt".desc), $"pair".asc, k)
      .select($"rank", $"pair", $"cnt")
  }

  /** Oracle: same substr pairing (code-point semantics both engines,
    * bytewise UTF-8 string ordering both engines — ties at the k
    * boundary resolve identically). */
  private val bpeMergesSql =
    s"""WITH pt AS (SELECT unnest(regexp_extract_all(text,
      |    '$preTokenPatSql'))
      |    AS t
      |  FROM documents),
      |pr AS (SELECT substr(t, CAST(i AS INTEGER), 2) AS pair
      |  FROM (SELECT t, unnest(range(1, length(t))) AS i
      |        FROM pt WHERE length(t) >= 2) u),
      |c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM pr GROUP BY pair)
      |SELECT rank, pair, cnt FROM (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair ASC) AS BIGINT)
      |      AS rank,
      |    pair, cnt
      |  FROM c) t
      |WHERE rank <= 20""".stripMargin

  /** The shared BPE mining loop (VERDICT r5 #1 — the real tokenizer-
    * training iteration, generalizing q71's round 1 and the previously
    * hand-unrolled q85 round 2 to run-to-N on
    * [[graft.operators.Operators.iterateCheckpointed]]). Round i:
    *
    *  1. count adjacent symbol pairs over the current segmentation
    *     (partition-local code-point substring explode, one partial-
    *     aggregatable count on a bounded symbol-pair key space);
    *  2. take the (cnt desc, pair asc — unique) top-1 as merge i. This
    *     is a BOUNDED 1-row parameter collect (the centroid-table
    *     idiom, not a data-scale collect) — the merge literal then
    *     drives round i+1, exactly as the oracle's m_i CTE drives its
    *     s_i;
    *  3. re-segment by greedy left-to-right `replace` with sentinel
    *     chr(i) (the q85 device: both engines' replace scans left to
    *     right, every symbol stays ONE character, so the same pairing
    *     expression applies at every round). Sentinel-safety is a
    *     CORPUS assumption, not a pre-tokenizer guarantee — the
    *     catch-all `[^ a-zA-Z0-9]+` class does match control
    *     characters, so a corpus that may carry raw chr(1..N) bytes
    *     needs a control-byte strip (one regexp_replace) upstream of
    *     merge mining; this corpus carries none.
    *
    * Sentinels decode to their expanded symbol text via the driver-side
    * expansion map (merge i's text = decode(left) + decode(right)), so
    * outputs read as real BPE merges. Returns (merges, finalSeg);
    * finalSeg — the corpus re-segmented by ALL mined merges — is fully
    * LAZY (the harness leaves the last round un-checkpointed): pure
    * consumers like q85's recount add no block-manager footprint, and
    * callers that discard it (q101) release its backing blocks.
    *
    * Scale shape: per round, one partial-aggregatable count + one
    * TakeOrdered 1-row read; the corpus re-segmentation is the
    * algorithm's irreducible per-round scan, localCheckpoint'd so
    * round i+1 reads blocks, not a growing lineage. */
  /** One mined merge: the RAW two-code-point pair as it appears in the
    * sentinel-segmented stream (what `replace` replays), its decoded
    * left/right symbol texts, its count at selection time, and the
    * mining round that selected it (1-based; informational for the
    * wide miner's report). */
  private[graft] final case class BpeMerge(pair: String, left: String,
      right: String, cnt: Long, round: Int = 0)

  /** Sentinel for global merge index `idx` (0-based): one code point
    * at `base + idx`. The M=1 path keeps the historical chr(1..N)
    * control-char range (the q101/q106/q135 oracles replay it as
    * DuckDB `chr(i)`); the wide miner uses the Unicode Private Use
    * Area ([[BpeWideSentinelBase]]) because 40+ merges would walk the
    * sentinel range into PRINTABLE ASCII (chr(33)='!' onward) — code
    * points the corpus genuinely contains, which would conflate
    * sentinels with real symbols. Sentinel-absence stays a corpus
    * assumption either way (see [[bpeMineOf]]'s doc); PUA points are
    * absent from any natural-language corpus this side of a custom
    * font foundry. */
  private def bpeSentinel(idx: Int, base: Int): String =
    new String(Character.toChars(base + idx))

  /** Generalized greedy BPE miner: `nRounds` rounds, up to
    * `mergesPerRound` merges selected per round (VERDICT r10 #3 — the
    * scale lever: a real 32k-merge tokenizer at 1 merge/round means
    * 32k sequential Spark jobs; at M per round it's 32k/M).
    *
    * Per round: ONE adjacent-pair count (partition-local substring
    * explode, partial-aggregatable, bounded symbol-pair key space),
    * then a bounded top-(8·M) candidate-window collect, then greedy
    * selection in (cnt desc, pair asc) order of up to M pairwise-
    * DISJOINT pairs — two merges sharing a symbol interact (replacing
    * one can create/destroy occurrences of the other: "abd" holds
    * both "ab" and "bd"), while disjoint pairs can neither overlap in
    * the string nor be affected by each other's sentinel substitution,
    * so each selected pair's count stays EXACT, equal to what a
    * recount after the earlier same-round merges would have produced.
    * The selected merges apply as ONE chained re-segmentation (M
    * `replace`s in a single collapsed projection — still one corpus
    * scan per round, the algorithm's irreducible cost).
    *
    * At M=1 the policy degenerates to the historical top-1 miner
    * bit-for-bit (the window's first row IS the old `limit(1)` row,
    * selection order and sentinels unchanged) — q101/q106/q135's
    * oracles prove that path every round. */
  private[queries] def bpeMineOf(docs: DataFrame, nRounds: Int,
      mergesPerRound: Int = 1, sentinelBase: Int = 1)
      : (Vector[BpeMerge], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pt = docs.select(explode(
      regexp_extract_all(col("text"), lit(preTokenPat), lit(0))).as("seg"))
    val merges = Vector.newBuilder[BpeMerge]
    val expand = scala.collection.mutable.Map.empty[String, String]
    def decode(cp: Int): String = {
      val s = new String(Character.toChars(cp))
      expand.getOrElse(s, s)
    }
    var nextIdx = 0 // global merge index across rounds
    val window = math.max(8 * mergesPerRound, 8)
    val (fin, _, _) = graft.operators.Operators.iterateCheckpointed(
        pt, nRounds, checkpointLast = false) { (seg, i) =>
      val top = seg.filter(length($"seg") >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(seg) - 1), j -> substring(seg, j, 2))"))
          .as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"pair".asc).limit(window)
        .collect()
      require(top.nonEmpty,
        s"BPE merge round $i: no adjacent pairs left to merge")
      // greedy pairwise-disjoint selection over the ranked candidate
      // window; a round that cannot fill M from the window mines
      // fewer (documented policy — the window size is the lever)
      val used = scala.collection.mutable.Set.empty[Int]
      val picked = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var k = 0
      while (k < top.length && picked.length < mergesPerRound) {
        val pair = top(k).getString(0)
        // pair is TWO code points (symbols are 1 code point each; an
        // astral char is one symbol, two UTF-16 units — split by code
        // point, never by char index)
        val cps = pair.codePoints().toArray
        if (!used(cps(0)) && !used(cps(1))) {
          val sent = bpeSentinel(nextIdx, sentinelBase)
          merges += BpeMerge(pair, decode(cps(0)), decode(cps(1)),
            top(k).getLong(1), i)
          expand(sent) = decode(cps(0)) + decode(cps(1))
          used += cps(0); used += cps(1)
          picked += ((pair, sent))
          nextIdx += 1
        }
        k += 1
      }
      picked.foldLeft(seg) { case (s, (pair, sent)) =>
        s.select(replace($"seg", lit(pair), lit(sent)).as("seg"))
      }
    } { (_, _) => false }
    (merges.result(), fin)
  }

  /** The mined merge tables (one merge per round, and [[BpeWideM]]
    * per round) — tiny deterministic DRIVER values with no blocks to
    * release. */
  private[graft] val bpeMerges =
    Artifacts[Vector[BpeMerge]]("pipeline.bpe_merges")
  private[graft] val bpeWideMerges =
    Artifacts[Vector[BpeMerge]]("pipeline.bpe_merges_wide")

  private[graft] def minedMerges(spark: SparkSession,
      dir: String): Vector[BpeMerge] =
    bpeMerges.get(spark, dir)(mineMerges(spark, dir, 1, 1))

  private[graft] def minedMergesWide(spark: SparkSession,
      dir: String): Vector[BpeMerge] =
    bpeWideMerges.get(spark, dir)(
      mineMerges(spark, dir, BpeWideM, BpeWideSentinelBase))

  /** [[BpeMergeRounds]] rounds of [[bpeMineOf]] over the corpus. */
  private def mineMerges(spark: SparkSession, dir: String,
      mergesPerRound: Int, sentinelBase: Int): Vector[BpeMerge] = {
    val (merges, fin) =
      // fanned read (guide §2.5): every round re-scans the previous
      // round's checkpointed segmentation, which inherits the scan's
      // partitioning — a single-split documents file would serialize
      // ALL N mining scans (identity at production scale)
      bpeMineOf(Tables.fanned(spark, dir, "documents"), BpeMergeRounds,
        mergesPerRound, sentinelBase)
    // the final re-segmentation is not consumed here — release the
    // checkpoint blocks backing it
    fin.unpersist()
    graft.operators.Operators.releaseCheckpointBlocks(fin)
    merges
  }

  /** Sentinel decode of a 1-code-point symbol column: chr(i) maps to
    * merge i's expanded text, anything else passes through. */
  private def decodeSymExpr(c: Column, merges: Seq[BpeMerge],
      sentinelBase: Int = 1): Column =
    merges.zipWithIndex.foldRight(c) { case ((m, i), els) =>
      when(c === lit(bpeSentinel(i, sentinelBase)), lit(m.left + m.right))
        .otherwise(els)
    }

  /** Replay `merges` over a segment column — the trained tokenizer's
    * APPLICATION: a stateless chain of N greedy replaces, one codegen
    * projection, no shuffle, no iteration (training is iterative;
    * applying the artifact is map-only — the deployment property that
    * makes a trained tokenizer free to run over 100 TB). */
  private[graft] def applyMergesExpr(seg: Column,
      merges: Seq[BpeMerge], sentinelBase: Int = 1): Column =
    merges.zipWithIndex.foldLeft(seg) { case (c, (m, i)) =>
      replace(c, lit(m.pair), lit(bpeSentinel(i, sentinelBase)))
    }

  /** q85 — BPE tokenizer training, round TWO: apply the #1 merge q71
    * mined (greedy, left-to-right, non-overlapping — the classic BPE
    * apply rule) to re-segment every pre-token, then recount adjacent
    * SYMBOL pairs, top-k. Re-expressed on the shared [[bpeMineOf]]
    * loop (one mined merge, then the lazy recount over the returned
    * segmentation) — output and oracle unchanged from the hand-
    * unrolled round-5 form. Scale shape: identical to q71 plus the
    * one-round miner — partition-local explode, partial-aggregatable
    * count, TakeOrderedAndProject top-k. */
  def bpeMergesRound2(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    import spark.implicits._
    val (merges, seg) =
      bpeMineOf(Tables.fanned(spark, dir, "documents"), 1)
    val counted = seg
      .filter(length($"seg") >= 2) // guard sequence(); 1-symbol tokens pair nothing
      .select(explode(expr(
        "transform(sequence(1, length(seg) - 1), i -> substring(seg, i, 2))"))
        .as("pr"))
      .select(decodeSymExpr(substring($"pr", 1, 1), merges).as("left_sym"),
        decodeSymExpr(substring($"pr", 2, 1), merges).as("right_sym"))
      .groupBy($"left_sym", $"right_sym").agg(count(lit(1)).as("cnt"))
    Operators.topK(counted, Seq($"cnt".desc, $"left_sym".asc),
        $"right_sym".asc, k)
      .select($"rank", $"left_sym", $"right_sym", $"cnt")
  }

  private val bpeMergesRound2Sql =
    s"""WITH pt AS (SELECT unnest(regexp_extract_all(text,
      |    '$preTokenPatSql'))
      |    AS t
      |  FROM documents),
      |pr1 AS (SELECT substr(t, CAST(i AS INTEGER), 2) AS pair
      |  FROM (SELECT t, unnest(range(1, length(t))) AS i
      |        FROM pt WHERE length(t) >= 2) u),
      |c1 AS (SELECT pair, COUNT(*) AS cnt FROM pr1 GROUP BY pair),
      |m AS (SELECT pair AS mp FROM c1 ORDER BY cnt DESC, pair ASC LIMIT 1),
      |seg AS (SELECT replace(t, mp, chr(1)) AS seg, mp FROM pt, m),
      |pr2 AS (SELECT substr(seg, CAST(i AS INTEGER), 2) AS pr, mp
      |  FROM (SELECT seg, mp, unnest(range(1, length(seg))) AS i
      |        FROM seg WHERE length(seg) >= 2) u),
      |sym AS (SELECT
      |    CASE WHEN substr(pr, 1, 1) = chr(1) THEN mp
      |         ELSE substr(pr, 1, 1) END AS left_sym,
      |    CASE WHEN substr(pr, 2, 1) = chr(1) THEN mp
      |         ELSE substr(pr, 2, 1) END AS right_sym
      |  FROM pr2),
      |c2 AS (SELECT left_sym, right_sym, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM sym GROUP BY 1, 2)
      |SELECT rank, left_sym, right_sym, cnt FROM (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, left_sym ASC,
      |      right_sym ASC) AS BIGINT) AS rank,
      |    left_sym, right_sym, cnt
      |  FROM c2) t
      |WHERE rank <= 20""".stripMargin

  /** q101's round count — one constant consumed by the engine and
    * interpolated into the unrolled oracle (the [[NumShards]] idiom). */
  private val BpeMergeRounds = 5

  /** q101 — BPE merge mining to N=[[BpeMergeRounds]] rounds: the merge
    * TABLE a tokenizer trainer actually produces (rank, left symbol,
    * right symbol, pair count at selection time), mined by the full
    * greedy loop on [[bpeMineOf]] — count pairs, take the best merge,
    * re-segment, repeat. Later merges compose earlier ones (a merged
    * symbol pairs with its neighbors and can win round i+1), which is
    * exactly what the hand-unrolled q71/q85 could not show. Integer
    * counts, string symbols: fully hash-checked against a DuckDB
    * oracle that unrolls the same five rounds as CTEs (m_i = round i's
    * top pair, s_i = re-segmentation, e_i = sentinel-decoded symbols),
    * so the engine's driver-loop derivation is proven equal to a pure
    * in-SQL derivation every round.
    *
    * Scale shape: [[bpeMineOf]]'s — per round one partial-aggregatable
    * bounded-key count and a 1-row TakeOrdered read; re-segmentations
    * are checkpointed scans, N scans for N merges (the algorithm's
    * irreducible cost). The output is N rows — a parameter table, like
    * the PQ codebooks. */
  def bpeMergeTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minedMerges(spark, dir).zipWithIndex
      .map { case (m, i) => (i + 1L, m.left, m.right, m.cnt) }
      .toDF("rank", "left_sym", "right_sym", "cnt")
  }

  /** Wide-mining parameters: [[BpeWideM]] merges per round × the same
    * five rounds = 40 merges for a fifth of q101's sequential-job
    * count; sentinels in the Private Use Area (see [[bpeSentinel]] —
    * 40 control-range sentinels would collide with real punctuation
    * symbols from chr(33) on). */
  private val BpeWideM = 8
  private val BpeWideSentinelBase = 0xE000

  /** q147 — the SCALE path of BPE training (VERDICT r10 #3): the same
    * greedy miner as q101 but selecting the top-[[BpeWideM]] pairwise-
    * disjoint merges per round, applied as one chained
    * re-segmentation. Five rounds produce 40 merges for five corpus
    * scans instead of forty — the lever that turns a 32k-merge
    * tokenizer from 32k sequential Spark jobs into 32k/M. Disjointness
    * keeps every selected count EXACT (shared-symbol merges interact;
    * disjoint ones commute — see [[bpeMineOf]]), so the table reads
    * like a per-round batch of true greedy merges. Output: global
    * rank, mining round, decoded symbol pair, selection-time count.
    *
    * No DuckDB oracle: the greedy-disjoint selection is a sequential
    * fold over the ranked candidate window (state = symbols used so
    * far this round) — expressible only as a 5×-unrolled recursive
    * CTE, brittle far past its evidentiary value. Instead the round-
    * structure gate is an INDEPENDENT in-memory reference
    * implementation in PipelineOpsSpec (pure-Scala pair counting +
    * selection + replace over the collected sf0.001 corpus) asserted
    * equal to this output row-for-row, plus the M=1-degeneracy proof
    * that q101's oracle checks every round. */
  def bpeMergeTableWide(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minedMergesWide(spark, dir).zipWithIndex
      .map { case (m, i) => (i + 1L, m.round.toLong, m.left, m.right, m.cnt) }
      .toDF("rank", "round", "left_sym", "right_sym", "cnt")
  }

  /** q147's oracle sentinel for round `i`, slot `j` — FIXED per
    * (round, slot), unlike the engine's global running pick index
    * (data-dependent when a round under-fills its M). The renumbering
    * is harmless by construction: both schemes assign PUA code points
    * that strictly increase in pick order, so the two sentinel
    * alphabets are order-isomorphic — every `pair ASC` tie-break and
    * every equality the mining loop evaluates comes out identical —
    * and the decoded output contains no sentinels at all. */
  private def bpeWideSentSql(i: Int, j: Int): String =
    s"chr(${BpeWideSentinelBase + (i - 1) * BpeWideM + (j - 1)})"

  /** CASE chain decoding a 1-code-point symbol to its expanded text
    * via every possible earlier pick's e-CTE (rounds 1..upto, all
    * [[BpeWideM]] slots). A slot that never picked leaves its e-CTE
    * empty — but then its sentinel never occurs in any segmentation,
    * so the NULL-yielding branch is unreachable. */
  private def bpeWideDecodeSql(ch: String, uptoRound: Int): String =
    if (uptoRound == 0) ch
    else s"CASE $ch " + (for { p <- 1 to uptoRound; q <- 1 to BpeWideM }
      yield s"WHEN ${bpeWideSentSql(p, q)} THEN (SELECT sym FROM e${p}_$q)")
      .mkString(" ") + s" ELSE $ch END"

  /** One unrolled q147 round: pair counts of ws_{i-1} → ranked top-64
    * candidate window ww_i → M greedy-disjoint picks g_i_1..g_i_M,
    * each pick a RANKED ANTI-JOIN (lowest-rank candidate sharing no
    * symbol with any earlier pick — exactly the engine's sequential
    * used-set walk, because the used set after k picks IS the union of
    * those picks' symbols) → decoded rows e_i_j → one chained
    * re-segmentation ws_i in pick order. An absent pick COALESCEs its
    * replace pattern to its own sentinel — a no-op — and empty picks
    * form a suffix of the round (the same min over a shrinking
    * candidate set), mirroring the engine's early loop exit. */
  private def bpeWideRoundCtes(i: Int): String = {
    val win = 8 * BpeWideM
    // MATERIALIZED throughout: the picks/decodes reference each other
    // densely (round 5's decode chain alone reads 32 e-CTEs), and
    // inlined expansion is exponential in round depth — DuckDB
    // actually exhausts file descriptors re-opening the parquet scan.
    // Every materialization is tiny (≤64 rows) except ws_i, which is
    // the corpus segmentation each round must scan once anyway.
    val head =
      s"""wp$i AS (SELECT substr(seg, CAST(j AS INTEGER), 2) AS pair
         |  FROM (SELECT seg, unnest(range(1, length(seg))) AS j
         |        FROM ws${i - 1} WHERE length(seg) >= 2) u),
         |wc$i AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM wp$i GROUP BY pair),
         |ww$i AS MATERIALIZED (SELECT pair, cnt,
         |    ROW_NUMBER() OVER (ORDER BY cnt DESC, pair ASC) AS rk
         |  FROM wc$i ORDER BY cnt DESC, pair ASC LIMIT $win)""".stripMargin
    val picks = (1 to BpeWideM).map { j =>
      if (j == 1)
        s"g${i}_1 AS MATERIALIZED (SELECT pair, cnt FROM ww$i ORDER BY rk LIMIT 1)"
      else {
        val prev = (1 until j).map(q => s"SELECT pair FROM g${i}_$q")
          .mkString(" UNION ALL ")
        s"""g${i}_$j AS MATERIALIZED (SELECT pair, cnt FROM ww$i w
           |  WHERE NOT EXISTS (SELECT 1 FROM ($prev) p
           |    WHERE substr(w.pair, 1, 1) IN
           |        (substr(p.pair, 1, 1), substr(p.pair, 2, 1))
           |      OR substr(w.pair, 2, 1) IN
           |        (substr(p.pair, 1, 1), substr(p.pair, 2, 1)))
           |  ORDER BY rk LIMIT 1)""".stripMargin
      }
    }
    val decoded = (1 to BpeWideM).map { j =>
      s"""e${i}_$j AS MATERIALIZED (SELECT l, r, l || r AS sym, cnt FROM (
         |  SELECT ${bpeWideDecodeSql("substr(pair, 1, 1)", i - 1)} AS l,
         |    ${bpeWideDecodeSql("substr(pair, 2, 1)", i - 1)} AS r, cnt
         |  FROM g${i}_$j) t)""".stripMargin
    }
    val reseg = (1 to BpeWideM).foldLeft("seg") { (acc, j) =>
      val s = bpeWideSentSql(i, j)
      s"replace($acc, COALESCE((SELECT pair FROM g${i}_$j), $s), $s)"
    }
    (Seq(head) ++ picks ++ decoded :+
      s"ws$i AS MATERIALIZED (SELECT $reseg AS seg FROM ws${i - 1})")
      .mkString(",\n")
  }

  /** q147's full oracle (VERDICT r11 #4 — the registry's last
    * rows-only query gets its hash gate): [[BpeMergeRounds]] unrolled
    * greedy-disjoint rounds, then the global merge table with rank =
    * pick order. ROW_NUMBER over (round, slot) equals the engine's
    * running index because within a round the engine picks slots in
    * order and an under-filled round's empty slots are a suffix. */
  private lazy val bpeMergeTableWideSql =
    s"""WITH wt AS MATERIALIZED (SELECT unnest(regexp_extract_all(text,
       |    '$preTokenPatSql')) AS seg
       |  FROM documents),
       |ws0 AS (SELECT seg FROM wt),
       |""".stripMargin +
      (1 to BpeMergeRounds).map(bpeWideRoundCtes).mkString(",\n") + ",\n" +
      s"""allp AS (
         |${(for { i <- 1 to BpeMergeRounds; j <- 1 to BpeWideM } yield
             s"  SELECT $i AS rnd, $j AS slot, l, r, cnt FROM e${i}_$j")
             .mkString("\n  UNION ALL\n")})
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rnd, slot) AS BIGINT)
         |    AS rank,
         |  CAST(rnd AS BIGINT) AS round, l AS left_sym, r AS right_sym, cnt
         |FROM allp""".stripMargin

  /** CASE chain decoding a 1-char symbol to its expanded text via the
    * earlier rounds' e_j CTEs. */
  private def bpeDecodeSql(ch: String, upto: Int): String =
    if (upto == 0) ch
    else s"CASE $ch " + (1 to upto).map(j =>
      s"WHEN chr($j) THEN (SELECT sym FROM e$j)").mkString(" ") +
      s" ELSE $ch END"

  /** One unrolled oracle round: pairs of s_{i-1} → counts → top-1
    * merge m_i → decoded symbols e_i → re-segmentation s_i. */
  private def bpeRoundCtes(i: Int): String =
    s"""p$i AS (SELECT substr(seg, CAST(j AS INTEGER), 2) AS pair
       |  FROM (SELECT seg, unnest(range(1, length(seg))) AS j
       |        FROM s${i - 1} WHERE length(seg) >= 2) u),
       |c$i AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
       |        FROM p$i GROUP BY pair),
       |m$i AS (SELECT pair, cnt FROM c$i ORDER BY cnt DESC, pair ASC LIMIT 1),
       |e$i AS (SELECT l, r, l || r AS sym, cnt FROM (
       |  SELECT ${bpeDecodeSql("substr(pair, 1, 1)", i - 1)} AS l,
       |    ${bpeDecodeSql("substr(pair, 2, 1)", i - 1)} AS r, cnt
       |  FROM m$i) t),
       |s$i AS (SELECT replace(seg, (SELECT pair FROM m$i), chr($i)) AS seg
       |        FROM s${i - 1})""".stripMargin

  /** The shared mining CTE prefix: s0 + five unrolled rounds. */
  private val bpeMiningCtes =
    s"""WITH pt AS (SELECT unnest(regexp_extract_all(text,
       |    '$preTokenPatSql')) AS seg
       |  FROM documents),
       |s0 AS (SELECT seg FROM pt),
       |""".stripMargin +
      (1 to BpeMergeRounds).map(bpeRoundCtes).mkString(",\n")

  private val bpeMergeTableSql = bpeMiningCtes + "\n" +
    (1 to BpeMergeRounds).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, l AS left_sym, " +
        s"r AS right_sym, cnt FROM e$i")
      .mkString("\nUNION ALL\n")

  /** q106 — apply the trained tokenizer: re-segment every document's
    * pre-tokens by q101's five merges and report the per-document
    * compression accounting (pre-token count, code-point chars in,
    * symbols out) — the number tokenizer training exists to improve
    * (symbols/chars IS the compression ratio, kept as two exact
    * integers instead of a float). The deployment shape is the point:
    * TRAINING is the iterative harness loop (q101); APPLICATION is a
    * stateless chain of five greedy replaces in one codegen projection
    * — no shuffle beyond the per-doc rollup, no iteration, free to run
    * over 100 TB (and over an ingest stream: the stateless twin is
    * [[graft.streaming.StreamingQueries.tokenizeStream]],
    * stream==batch tested). Rides the memoized merge table (q101 pays
    * the mining; payer-before-rider in Bench). One row per input doc —
    * docs with no pre-tokens report zeros via the restore join. */
  def tokenizeCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = minedMerges(spark, dir)
    val docs = Tables(spark, dir, "documents")
    val per = docs
      .select($"doc_id", explode(
        regexp_extract_all($"text", lit(preTokenPat), lit(0))).as("t"))
      .select($"doc_id", length($"t").cast("long").as("nc"),
        length(applyMergesExpr($"t", merges)).cast("long").as("ns"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pretokens"), sum($"nc").as("n_chars"),
        sum($"ns").as("n_symbols"))
    docs.select($"doc_id").join(per, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_pretokens", lit(0L)).as("n_pretokens"),
        coalesce($"n_chars", lit(0L)).as("n_chars"),
        coalesce($"n_symbols", lit(0L)).as("n_symbols"))
  }

  /** Oracle: the same five mined merges (shared mining CTEs), replayed
    * per document with doc_id carried through the replace chain. Ends
    * at the per-document `st` CTE so the q135 per-source rollup shares
    * the whole application chain (funnelCtes idiom — one definition,
    * the rollup cannot drift from the per-doc dump). */
  private val tokenizeCtes = bpeMiningCtes + ",\n" +
    s"""ptd AS (SELECT doc_id, t, CAST(length(t) AS BIGINT) AS nc
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
       |    '$preTokenPatSql')) AS t
       |  FROM documents) u),
       |""".stripMargin +
    (1 to BpeMergeRounds).map(i =>
      s"""b$i AS (SELECT doc_id, nc,
         |  replace(t, (SELECT pair FROM m$i), chr($i)) AS t
         |  FROM b${i - 1})""".stripMargin
        .replace("FROM b0", "FROM ptd"))
      .mkString(",\n") + ",\n" +
    s"""st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np,
       |  CAST(SUM(nc) AS BIGINT) AS nc,
       |  CAST(SUM(length(t)) AS BIGINT) AS ns
       |  FROM b$BpeMergeRounds GROUP BY 1)""".stripMargin

  private val tokenizeCorpusSql = tokenizeCtes + "\n" +
    """SELECT d.doc_id,
      |  COALESCE(st.np, 0) AS n_pretokens,
      |  COALESCE(st.nc, 0) AS n_chars,
      |  COALESCE(st.ns, 0) AS n_symbols
      |FROM documents d LEFT JOIN st ON st.doc_id = d.doc_id""".stripMargin

  /** The cleaning expression itself: lowercase, strip emails then
    * URLs, collapse whitespace, trim. Pure per-row regexp chain —
    * whole-stage codegen, no UDF, no shuffle. Patterns stay in the
    * regex subset Java and RE2 interpret identically (no backrefs, no
    * lookaround). Public because the corpus contains no emails/URLs —
    * the oracle hash only proves the identity path, so PipelineOpsSpec
    * exercises the matching branches on synthetic dirty strings. */
  def cleanExpr(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(text),
          "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", " "),
        "https?://\\S+", " "),
      "\\s+", " "))

  def textClean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cleaned = cleanExpr($"text")
    Tables(spark, dir, "documents")
      .select($"doc_id", cleaned.as("clean_text"),
        size(split(cleaned, " ")).cast("long").as("n_tokens"))
  }

  private val textCleanSql =
    """SELECT doc_id, clean_text,
      |  CAST(len(string_split(clean_text, ' ')) AS BIGINT) AS n_tokens
      |FROM (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', ' ', 'g'),
      |      'https?://\S+', ' ', 'g'),
      |      '\s+', ' ', 'g')) AS clean_text
      |  FROM documents) t""".stripMargin

  /** Sequence packing: chunk each document's token stream into
    * fixed-size segments (here 16 tokens — stands in for a 2k/8k
    * context length) and emit (doc_id, seg_idx, seg_tokens). The
    * explode multiplies rows ~n/16× but stays partition-local — the
    * segment table inherits the scan's partitioning, which is what lets
    * a tokenizer stage run map-side afterwards. */
  def tokenPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seg = 16
    Tables(spark, dir, "documents")
      .select($"doc_id", size(split($"text", " ")).as("n"))
      .select($"doc_id", $"n",
        explode(sequence(lit(0), expr(s"(n - 1) div $seg").cast("int")))
          .as("seg_idx"))
      .select($"doc_id", $"seg_idx".cast("long").as("seg_idx"),
        least(lit(seg), $"n" - $"seg_idx" * seg).cast("long").as("seg_tokens"))
  }

  private val tokenPackSql =
    """SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
      |  CAST(LEAST(16, n - i * 16) AS BIGINT) AS seg_tokens
      |FROM (
      |  SELECT doc_id, n, unnest(range(0, (n - 1) // 16 + 1)) AS i
      |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS n
      |        FROM documents) t) u""".stripMargin

  /** q86 PII patterns — like [[cleanExpr]], each stays in the regex
    * subset Java and RE2 interpret identically (no backrefs, no
    * lookaround; the `(?i)` inline flag is common to both), so
    * detection counts and the redacted string are bit-identical
    * engine-side and oracle-side. The email pattern is
    * case-insensitive because — unlike [[cleanExpr]], which lowercases
    * before stripping — redaction must preserve the surrounding text's
    * case, so it cannot normalize first: without `(?i)`,
    * `Bob@Example.COM` would sail through a privacy pass. */
  private[graft] val emailPat =
    "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val phonePat = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  private[graft] val ipPat =
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII redaction lift: replace every email, then IPv4, then phone
    * number with a typed sentinel. Order is load-bearing: email runs
    * first because its local/domain parts contain digit-and-dot runs
    * the IP pattern could bite into; the phone pattern is '+'-anchored
    * and disjoint from both, so it can go last. Pure per-row codegen
    * regexp chain — no UDF, no shuffle, safe as a first map-side pass
    * over 100 TB (same scale shape as [[cleanExpr]]). */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPat, "<EMAIL>"),
        ipPat, "<IP>"),
      phonePat, "<PHONE>")

  /** The q86 detect+redact projection over any frame bearing `doc_id`
    * and a text column — shared verbatim by the batch privacy pass and
    * the streaming ingest twin
    * ([[graft.streaming.StreamingQueries.redactStream]]) so the two
    * paths cannot drift (the [[qualityGate]] idiom). Stateless and
    * map-side. Counts are derived FROM the redacted output (sentinel
    * occurrences), not from independent raw-text detections: the
    * redaction chain is sequential (email → IP → phone), so on
    * overlapping PII (an IPv4-shaped email domain like `bob@1.2.3.4.co`)
    * a raw-text count would tally a match whose bytes the earlier
    * pattern already consumed — counting sentinels makes
    * `n_* == occurrences of <TYPE> in redacted` an invariant on ANY
    * input (the streaming twin sees arbitrary docs), not just corpora
    * with disjoint matches. The deliberate trade: input that already
    * contains a literal sentinel string (`<EMAIL>` in the raw text)
    * counts toward n_* without anything being redacted — acceptable
    * for a privacy report (the doc reads as redacted either way),
    * where the old raw-count mode's failure (counts disagreeing with
    * the shipped redaction) was not. */
  private[graft] def piiProjection(df: DataFrame, text: Column): DataFrame =
    df.select(col("doc_id"), piiRedact(text).as("redacted"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("redacted"), lit("<EMAIL>"), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("redacted"), lit("<PHONE>"), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("redacted"), lit("<IP>"), lit(0)))
          .cast("long").as("n_ips"),
        col("redacted"))

  /** q86 — PII detection + redaction, the privacy pass (C4/CCNet-style
    * scrubbing) every released training corpus runs. The synthetic
    * corpus carries no PII-shaped tokens (q47's email branch is
    * likewise identity there), so this query FIRST derives a
    * deterministic contact-profile corpus from the `customer` table —
    * emails/phones/IPs synthesized row-locally from (c_custkey,
    * c_name) with engine-portable string ops, with presence varied by
    * custkey residues so the 0/1/2-match branches are all exercised —
    * then runs the generic detect+redact lifts over it. Counts are
    * integers and the redacted text is a string, so the whole artifact
    * is hash-checked end to end (unlike q47, whose matching branches
    * only ScalaTest sees). Scale shape: stateless row-local regex
    * chain, one scan, zero shuffles. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val handle = regexp_replace(lower($"c_name"), "#", ".")
    val profile = concat(
      lit("reach "), handle, lit(" at "), handle, lit("@mail.example.com"),
      when($"c_custkey" % 5 === 0,
        concat(lit(" cc backup"), $"c_custkey".cast("string"),
          lit("@corp.example.org"))).otherwise(""),
      when($"c_custkey" % 3 =!= 0,
        concat(lit(" or +33-555-"),
          lpad(($"c_custkey" % 10000).cast("string"), 4, "0")))
        .otherwise(""),
      when($"c_custkey" % 2 === 0,
        concat(lit(" via 10.0."), ($"c_custkey" % 256).cast("string"),
          lit("."), ($"c_custkey" * 7 % 256).cast("string")))
        .otherwise(lit(" via vpn")),
      lit(" segment "), lower($"c_mktsegment"))
    piiProjection(
      Tables(spark, dir, "customer")
        .select($"c_custkey".as("doc_id"), profile.as("profile")),
      $"profile")
  }

  private val piiScrubSql =
    """WITH c AS (
      |  SELECT c_custkey, c_mktsegment,
      |    regexp_replace(lower(c_name), '#', '.', 'g') AS h
      |  FROM customer),
      |p AS (
      |  SELECT c_custkey AS doc_id,
      |    concat('reach ', h, ' at ', h, '@mail.example.com',
      |      CASE WHEN c_custkey % 5 = 0 THEN concat(' cc backup',
      |        CAST(c_custkey AS VARCHAR), '@corp.example.org')
      |        ELSE '' END,
      |      CASE WHEN c_custkey % 3 <> 0 THEN concat(' or +33-555-',
      |        lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0'))
      |        ELSE '' END,
      |      CASE WHEN c_custkey % 2 = 0 THEN concat(' via 10.0.',
      |        CAST(c_custkey % 256 AS VARCHAR), '.',
      |        CAST(c_custkey * 7 % 256 AS VARCHAR))
      |        ELSE ' via vpn' END,
      |      ' segment ', lower(c_mktsegment)) AS profile
      |  FROM c),
      |r AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(profile,
      |      '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
      |      '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
      |  FROM p)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(redacted, '<EMAIL>')) AS BIGINT)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(redacted, '<PHONE>')) AS BIGINT)
      |    AS n_phones,
      |  CAST(len(regexp_extract_all(redacted, '<IP>')) AS BIGINT) AS n_ips,
      |  redacted
      |FROM r""".stripMargin

  /** q80 — deterministic corpus shuffle into training shards: every
    * document gets a reproducible (shard, position) from the md5 of a
    * salted id, the scalable replacement for `ORDER BY random()` when
    * writing a training corpus (shard = output file, position = read
    * order within it; re-running the pipeline or re-ordering the input
    * never changes the permutation, so a training run is exactly
    * resumable). Inter-shard order is by construction uncorrelated with
    * any input attribute — the "global shuffle" LLM training wants.
    *
    * Scale shape: the hash is row-local; the only shuffle is the
    * position window keyed by shard, and nShards is the scale lever —
    * a real deployment uses thousands of shards (= output files), so
    * each window partition is one file's worth of rows. 60-bit keys
    * make ties vanishingly rare; doc_id breaks them deterministically
    * anyway. */
  /** The shard modulus, ONE definition consumed by the engine defaults
    * (q80/q91/q100) and string-interpolated into their oracle SQL —
    * an edit to either side alone is impossible, so the engine default
    * and its oracle cannot drift (ADVICE r5). Callers passing a
    * non-default nShards are off the oracle path by construction (the
    * registry binds the defaults). */
  private[queries] val NumShards = 16

  def shardAssign(spark: SparkSession, dir: String,
      nShards: Int = NumShards): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"shard")
      .orderBy($"shuffle_key".asc, $"doc_id".asc)
    Tables(spark, dir, "documents")
      .select($"doc_id",
        md5PrefixLong(concat(lit("shard:"), $"doc_id".cast("string")), 15)
          .as("shuffle_key"))
      .withColumn("shard", ($"shuffle_key" % nShards).cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  private val shardAssignSql =
    s"""WITH h AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substr(md5(concat('shard:',
      |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS shuffle_key
      |  FROM documents)
      |SELECT doc_id, shuffle_key, shuffle_key % $NumShards AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shuffle_key % $NumShards
      |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
      |FROM h""".stripMargin

  /** q91 — contiguous token-stream packing, the GPT-style alternative
    * to q48's one-doc-per-sequence-tail policy: within each q80
    * training shard, documents are concatenated in shard order and the
    * stream is cut every 16 tokens, so padding exists only at shard
    * ends — the packing an LLM pretraining loader actually uses (q90
    * is the report that says how much padding this saves). Emits each
    * document's placement: its exclusive token offset in the shard
    * stream and the first/last sequence it lands in (a doc spans
    * sequences when it crosses a cut — the loader's attention-mask
    * planning reads exactly this).
    *
    * Scale shape: rides q80's row-local shard hash; the only shuffle
    * is the per-shard running-sum window, and nShards is the scale
    * lever (thousands of shards = one output file's rows per window
    * partition — q80's documented shape). Everything else is
    * stateless integer arithmetic. */
  def packedStream(spark: SparkSession, dir: String,
      nShards: Int = NumShards): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"shard")
      .orderBy($"shuffle_key".asc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    shardAssign(spark, dir, nShards)
      .join(Tables(spark, dir, "documents")
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n")),
        "doc_id")
      .withColumn("start_off", sum($"n").over(w) - $"n")
      .select($"doc_id", $"shard", $"pos",
        $"n".as("n_tokens"), $"start_off",
        expr("start_off div 16").as("start_seq"),
        expr("(start_off + n - 1) div 16").as("end_seq"))
  }

  /** The q91 packing as a WITH-body ending in a `pk` CTE — shared by
    * the q91 dump and the q100 manifest rollup. */
  private val packedCtes =
    s"""WITH h AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substr(md5(concat('shard:',
      |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS shuffle_key,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents),
      |a AS (
      |  SELECT doc_id, shuffle_key, shuffle_key % $NumShards AS shard, n,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY shuffle_key % $NumShards
      |      ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos,
      |    CAST(SUM(n) OVER (PARTITION BY shuffle_key % $NumShards
      |      ORDER BY shuffle_key, doc_id
      |      ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS start_off
      |  FROM h),
      |pk AS (
      |  SELECT doc_id, shard, pos, n AS n_tokens, start_off,
      |    start_off // 16 AS start_seq,
      |    (start_off + n - 1) // 16 AS end_seq
      |  FROM a)""".stripMargin

  private val packedStreamSql = packedCtes + "\n" +
    """SELECT doc_id, shard, pos, n_tokens, start_off, start_seq, end_seq
      |FROM pk""".stripMargin

  /** q161 — block-diagonal ATTENTION-SPAN metadata: the per-sequence
    * segment table a packed-pretraining loader feeds its attention
    * mask from. q91 places each document in the shard token stream and
    * q152 counts the boundary seams; this emits the seams' RESOLUTION:
    * for every training sequence, the documents inside it with their
    * in-sequence offset and length (`segment_idx` ordering the blocks)
    * — cross-document attention is masked exactly along these rows,
    * and a sequence's padding is 16 − Σ len on its last row. Derived
    * arithmetically from the SAME q91 placements (shared `packedCtes`
    * in the oracle), so the mask can never disagree with the packing
    * that shipped. Zero-token documents contribute no span (filtered
    * symmetrically in both engines — a degenerate doc has no tokens to
    * attend to).
    *
    * Scale shape: rides q91's one window per shard; the explode is
    * bounded by n_tokens div 16 + 2 rows per doc (a document names
    * only the sequences it touches) and the segment window partitions
    * by (shard, seq) — at most 16 one-token docs per partition, a
    * constant. No shuffle beyond q91's. */
  def attentionSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"shard", $"seq")
      .orderBy($"start_in_seq".asc)
    packedStream(spark, dir)
      .filter($"n_tokens" > 0)
      .withColumn("seq", explode(expr("sequence(start_seq, end_seq)")))
      .withColumn("start_in_seq",
        expr("greatest(start_off, seq * 16) - seq * 16"))
      .withColumn("len_in_seq", expr(
        "least(start_off + n_tokens, (seq + 1) * 16)" +
          " - greatest(start_off, seq * 16)"))
      .withColumn("segment_idx", row_number().over(w).cast("long"))
      .select($"shard", $"seq", $"segment_idx", $"doc_id",
        $"start_in_seq", $"len_in_seq")
  }

  private val attentionSpansSql = packedCtes + ",\n" +
    """sp AS (
      |  SELECT doc_id, shard,
      |    unnest(range(start_seq, end_seq + 1)) AS seq,
      |    start_off, n_tokens
      |  FROM pk WHERE n_tokens > 0)
      |SELECT shard, seq,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shard, seq
      |    ORDER BY GREATEST(start_off, seq * 16) - seq * 16) AS BIGINT)
      |    AS segment_idx,
      |  doc_id,
      |  CAST(GREATEST(start_off, seq * 16) - seq * 16 AS BIGINT)
      |    AS start_in_seq,
      |  CAST(LEAST(start_off + n_tokens, (seq + 1) * 16)
      |    - GREATEST(start_off, seq * 16) AS BIGINT) AS len_in_seq
      |FROM sp""".stripMargin

  /** q163's pass count — one constant interpolated into the oracle
    * (the [[NumShards]] idiom). */
  private[graft] val ShuffleEpochs = 3L

  /** q163 — the deterministic EPOCH SHUFFLE: for every training epoch,
    * the order in which the loader visits the q91 packed sequences.
    * This is the artifact that closes the loader chain — q91 places
    * documents in sequences, q161 gives each sequence its attention
    * mask, q149 says how often a document repeats; what remained
    * unshipped is the VISIT ORDER, and "order by rand()" is exactly
    * the non-reproducible thing a training run cannot contain. Here
    * each epoch permutes sequences by the md5 device salted with the
    * epoch number ("epoch:e:shard:seq"), so every epoch's order is a
    * different but fully deterministic permutation: a preempted run
    * re-derives byte-identical order, and two data-parallel workers
    * agree without talking to each other.
    *
    * The shuffle is WITHIN-shard, shards interleaved round-robin into
    * the global step coordinate (`global_step = (pos−1)·S + shard`) —
    * deliberately NOT a global permutation: at 100 TB a global
    * shuffle is a full-corpus exchange every epoch, while the
    * within-shard + round-robin scheme is what sharded training
    * loaders (Megatron/T5-style samplers) actually run, needs one
    * bounded window per shard, and still decorrelates batches because
    * shard assignment (q80) already hashed documents apart. Consumed
    * as: loader at rank r reads shard r's rows in pos order; the
    * union over ranks visits global_step order.
    *
    * Scale shape: sequence ids derive from the per-shard token totals
    * (a 16-row aggregate over q91), the per-epoch keying is row-local,
    * and the one shuffle is the (epoch, shard) row_number window —
    * partitions are sequences-per-shard sized, the q80 lever bounds
    * them. Integer-exact end to end → hash-checked. */
  /** The packed-sequence universe — every (shard, seq) the q91
    * packing produces, derived from the 16-row per-shard token
    * totals. Shared by q163 (visit order) and q168 (objective
    * assignment): one definition, the loader tables cannot disagree
    * about which sequences exist. */
  private def packedSeqs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    packedStream(spark, dir)
      .groupBy($"shard").agg(sum($"n_tokens").as("t"))
      .withColumn("n_seqs", expr("(t + 15) div 16"))
      .filter($"n_seqs" > 0)
      .withColumn("seq", explode(expr("sequence(0, n_seqs - 1)")))
      .select($"shard", $"seq")
  }

  /** The st/sq CTE pair deriving that universe, shared by both
    * oracles. */
  private val packedSeqCtes = packedCtes + ",\n" +
    """st AS (
      |  SELECT shard, (CAST(SUM(n_tokens) AS BIGINT) + 15) // 16 AS n_seqs
      |  FROM pk GROUP BY 1),
      |sq AS (
      |  SELECT shard, unnest(range(n_seqs)) AS seq
      |  FROM st WHERE n_seqs > 0)""".stripMargin

  def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"epoch", $"shard")
      .orderBy($"okey".asc, $"seq".asc)
    packedSeqs(spark, dir)
      .withColumn("epoch",
        explode(expr(s"sequence(0L, ${ShuffleEpochs - 1}L)")))
      .withColumn("okey", md5PrefixLong(
        concat(lit("epoch:"), $"epoch".cast("string"), lit(":"),
          $"shard".cast("string"), lit(":"), $"seq".cast("string")), 15))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"epoch", $"shard", $"seq", $"pos",
        expr(s"(pos - 1) * $NumShards + shard").as("global_step"))
  }

  private val epochShuffleSql = packedSeqCtes + ",\n" +
    s"""ep AS (
      |  SELECT shard, seq, unnest(range($ShuffleEpochs)) AS epoch
      |  FROM sq),
      |ky AS (
      |  SELECT epoch, shard, seq,
      |    CAST(concat('0x', substr(md5(concat('epoch:',
      |      CAST(epoch AS VARCHAR), ':', CAST(shard AS VARCHAR), ':',
      |      CAST(seq AS VARCHAR))), 1, 15)) AS BIGINT) AS okey
      |  FROM ep)
      |SELECT epoch, shard, seq,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard
      |    ORDER BY okey, seq) AS BIGINT) AS pos,
      |  CAST((ROW_NUMBER() OVER (PARTITION BY epoch, shard
      |    ORDER BY okey, seq) - 1) * $NumShards + shard AS BIGINT)
      |    AS global_step
      |FROM ky""".stripMargin

  /** q168's objective-mixture parameters: the span-corruption noise
    * rate in ppm and the prefix-length modulus, interpolated into the
    * oracle (the NumShards idiom). Ratios are causal : prefix : span
    * = 2 : 1 : 1 — the per-example mixture UL2-style training draws
    * (UL2/PaLM-2 mixture-of-denoisers; exact published ratios vary,
    * the DEVICE — a deterministic per-sequence draw with per-
    * objective parameters — is what the loader needs). */
  private[queries] val SpanNoisePpm = 150000L
  private val PrefixMod = 14L

  /** q168 — per-sequence training OBJECTIVE assignment: the
    * mixture-of-denoisers coordinate of the loader chain. Each packed
    * sequence draws its objective deterministically from the md5
    * device ("obj:"-salted, so the assignment is independent of q163's
    * visit order): draw % 4 ∈ {0,1} → causal LM, 2 → prefix LM (with
    * a deterministic visible-prefix length 1..14 of the 16-token
    * context, its own salt), 3 → span corruption (noise rate
    * [[SpanNoisePpm]], plus a 60-bit `noise_seed` the loader expands
    * into span placements — the engine ships the seed, not the spans,
    * because placement is loader-local randomness that must differ
    * per epoch replay while REMAINING reproducible: seed + epoch is
    * exactly that). Inapplicable parameters are NULL, not sentinel
    * values. Together q161 (segment masks) + q163 (visit order) +
    * q167 (loss weights) + q168 (objective) are the four tables a
    * packed-pretraining loader joins on (shard, seq).
    *
    * Scale shape: rides the shared [[packedSeqs]] universe (16-row
    * aggregate + bounded explode); everything else is row-local md5
    * arithmetic — no shuffle beyond q91's. Integer/string throughout
    * → hash-checked. */
  def seqObjectives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def salt(s: String) = md5PrefixLong(
      concat(lit(s), $"shard".cast("string"), lit(":"),
        $"seq".cast("string")), if (s == "nseed:") 15 else 2)
    packedSeqs(spark, dir)
      .withColumn("draw", salt("obj:") % 4)
      .select($"shard", $"seq",
        when($"draw" <= 1, "causal")
          .when($"draw" === 2, "prefix")
          .otherwise("span").as("objective"),
        when($"draw" === 2, (salt("plen:") % PrefixMod) + 1L)
          .cast("long").as("visible_prefix"),
        when($"draw" === 3, lit(SpanNoisePpm)).otherwise(lit(0L))
          .as("noise_ppm"),
        when($"draw" === 3, salt("nseed:")).cast("long").as("noise_seed"))
  }

  private val seqObjectivesSql = packedSeqCtes + ",\n" +
    s"""dr AS (
      |  SELECT shard, seq,
      |    CAST(concat('0x', substr(md5(concat('obj:',
      |      CAST(shard AS VARCHAR), ':', CAST(seq AS VARCHAR))), 1, 2))
      |      AS BIGINT) % 4 AS draw
      |  FROM sq)
      |SELECT shard, seq,
      |  CASE WHEN draw <= 1 THEN 'causal'
      |    WHEN draw = 2 THEN 'prefix' ELSE 'span' END AS objective,
      |  CASE WHEN draw = 2 THEN
      |    CAST(concat('0x', substr(md5(concat('plen:',
      |      CAST(shard AS VARCHAR), ':', CAST(seq AS VARCHAR))), 1, 2))
      |      AS BIGINT) % $PrefixMod + 1 END AS visible_prefix,
      |  CAST(CASE WHEN draw = 3 THEN $SpanNoisePpm ELSE 0 END AS BIGINT)
      |    AS noise_ppm,
      |  CASE WHEN draw = 3 THEN
      |    CAST(concat('0x', substr(md5(concat('nseed:',
      |      CAST(shard AS VARCHAR), ':', CAST(seq AS VARCHAR))), 1, 15))
      |      AS BIGINT) END AS noise_seed
      |FROM dr""".stripMargin

  /** q167 — dedup-aware LOSS WEIGHTS per packed sequence: the
    * "count-once" training correction. Training on a corpus where a
    * document survives in k near-identical copies over-weights its
    * content k× in the loss; the standard correction (kept-duplicates
    * regimes, repetition-aware sampling) down-weights each copy to
    * 1/k so every cluster contributes unit mass. This emits the
    * loader-facing form: per (shard, seq) training sequence, the
    * token-weighted mean discount over the documents inside it
    * (`seq_weight_ppm`; 10⁶ = all-unique content, lower = the
    * sequence carries duplicated text), averaged over REAL tokens
    * only (padding carries no loss). Discounts derive from the q45
    * cluster labels (memoized — q45 pays, this rides), placements
    * from the same q91 arithmetic as q161, so the weights can never
    * disagree with either the dedup verdicts or the shipped packing.
    * `1e6 div k` is integer — hash-checked end to end.
    *
    * Scale shape: the per-doc discount is a two-aggregate rollup on
    * cluster_id (bounded by cluster sizes) joined back per doc; the
    * span explode is q161's bounded fan; the final rollup shuffles on
    * (shard, seq) — partitions bounded by 16 one-token docs per
    * sequence, the q161 constant. */
  def lossWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labels = DedupOps.clusterLabels(spark, dir)
    val sizes = labels.groupBy($"cluster_id")
      .agg(count(lit(1)).as("csize"))
    val docw = labels.join(sizes, "cluster_id")
      .select($"doc_id", expr("CAST(1000000 div csize AS BIGINT)")
        .as("w_ppm"))
    packedStream(spark, dir)
      .filter($"n_tokens" > 0)
      .withColumn("seq", explode(expr("sequence(start_seq, end_seq)")))
      .withColumn("len_in_seq", expr(
        "least(start_off + n_tokens, (seq + 1) * 16)" +
          " - greatest(start_off, seq * 16)"))
      .join(docw, "doc_id")
      .groupBy($"shard", $"seq")
      .agg(sum($"len_in_seq").as("n_real"),
        sum($"len_in_seq" * $"w_ppm").as("wsum"))
      .select($"shard", $"seq", $"n_real",
        expr("CAST(wsum div n_real AS BIGINT)").as("seq_weight_ppm"))
  }

  // survivorCtes opens WITH RECURSIVE, so the packing CTEs append
  // after a comma (single WITH list; names are disjoint by
  // construction)
  private lazy val lossWeightsSql =
    DedupOps.survivorCtes + ",\n" +
      packedCtes.stripPrefix("WITH ") + ",\n" +
      """sp AS (
        |  SELECT doc_id, shard,
        |    unnest(range(start_seq, end_seq + 1)) AS seq,
        |    start_off, n_tokens
        |  FROM pk WHERE n_tokens > 0),
        |ln AS (
        |  SELECT doc_id, shard, seq,
        |    LEAST(start_off + n_tokens, (seq + 1) * 16)
        |      - GREATEST(start_off, seq * 16) AS len_in_seq
        |  FROM sp),
        |cw AS (
        |  SELECT cl.doc_id, CAST(1000000 // cnt.csize AS BIGINT) AS w_ppm
        |  FROM cl JOIN (SELECT cluster_id, COUNT(*) AS csize
        |                FROM cl GROUP BY 1) cnt USING (cluster_id))
        |SELECT ln.shard, ln.seq,
        |  CAST(SUM(ln.len_in_seq) AS BIGINT) AS n_real,
        |  CAST(SUM(ln.len_in_seq * cw.w_ppm) // SUM(ln.len_in_seq)
        |    AS BIGINT) AS seq_weight_ppm
        |FROM ln JOIN cw USING (doc_id)
        |GROUP BY 1, 2""".stripMargin

  /** q152's candidate context lengths, interpolated into the oracle. */
  private val SweepSeqLens = Seq(16L, 32L, 64L)

  /** q152 — packing-efficiency SWEEP: for each candidate context
    * length, what the q91 packed stream would cost — sequences
    * produced, pad tokens lost at shard tails, integer fill rate, and
    * how many documents straddle a sequence boundary (each straddle
    * is an attention-mask seam or a truncation decision for the
    * loader). This is the capacity-planning table a training team
    * reads BEFORE fixing the context length: longer sequences pad
    * more per shard tail but seam fewer documents; the sweep makes
    * the trade integer-exact from the same placements q91 ships.
    *
    * Scale shape: rides q91 (one window per shard); the sweep itself
    * is an explode over |lengths| literals, a 3-key partial-
    * aggregatable rollup, and a shard-count-sized ceil sum — no new
    * shuffle beyond q91's. */
  def packingSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pk = packedStream(spark, dir)
    val lens = array(SweepSeqLens.map(lit): _*)
    val cross = pk
      .select($"start_off", $"n_tokens", explode(lens).as("seq_len"))
      .groupBy($"seq_len")
      .agg(sum(when(
        expr("start_off div seq_len") =!=
          expr("(start_off + n_tokens - 1) div seq_len"), 1L)
        .otherwise(0L)).as("n_cross_docs"))
    val shardTotals = pk.groupBy($"shard").agg(sum($"n_tokens").as("t"))
    val seqs = shardTotals
      .select($"t", explode(lens).as("seq_len"))
      .groupBy($"seq_len")
      .agg(sum(expr("(t + seq_len - 1) div seq_len")).as("n_seqs"),
        sum($"t").as("n_tokens"))
    seqs.join(cross, "seq_len")
      .select($"seq_len", $"n_seqs", $"n_tokens",
        ($"n_seqs" * $"seq_len" - $"n_tokens").as("pad_tokens"),
        expr("CAST((1000000 * n_tokens) div (n_seqs * seq_len) " +
          "AS BIGINT)").as("fill_ppm"),
        $"n_cross_docs")
  }

  private val packingSweepSql = packedCtes + ",\n" +
    s"""ls AS (SELECT CAST(unnest([${SweepSeqLens.mkString(", ")}])
      |    AS BIGINT) AS seq_len),
      |cr AS (
      |  SELECT seq_len,
      |    CAST(SUM(CASE WHEN start_off // seq_len
      |        <> (start_off + n_tokens - 1) // seq_len
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_docs
      |  FROM pk, ls GROUP BY 1),
      |stt AS (SELECT shard, SUM(n_tokens) AS t FROM pk GROUP BY 1),
      |sq AS (
      |  SELECT seq_len,
      |    CAST(SUM((t + seq_len - 1) // seq_len) AS BIGINT) AS n_seqs,
      |    CAST(SUM(t) AS BIGINT) AS n_tokens
      |  FROM stt, ls GROUP BY 1)
      |SELECT sq.seq_len, sq.n_seqs, sq.n_tokens,
      |  CAST(sq.n_seqs * sq.seq_len - sq.n_tokens AS BIGINT)
      |    AS pad_tokens,
      |  CAST((1000000 * sq.n_tokens) // (sq.n_seqs * sq.seq_len)
      |    AS BIGINT) AS fill_ppm,
      |  cr.n_cross_docs
      |FROM sq JOIN cr USING (seq_len)""".stripMargin

  /** q100 — the training-shard MANIFEST: per shard, document and token
    * counts, the packed sequence count, the last read position, and an
    * md5 digest of the sorted member id list — exactly what a training
    * loader checks before (and after) consuming a shard: does this
    * file contain what the pipeline said it wrote? The digest makes
    * manifest drift (a re-run that silently re-sharded) detectable as
    * a string compare. Scale shape: rides q91's packing; one rollup
    * keyed by shard; the member digest is a per-shard sorted
    * collect_list bounded by shard size — at real scale shards are
    * file-sized by construction (q80's nShards lever), so the list is
    * one output file's ids, not a corpus. */
  def shardManifest(spark: SparkSession, dir: String,
      nShards: Int = NumShards): DataFrame = {
    import spark.implicits._
    packedStream(spark, dir, nShards)
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        (max($"end_seq") + 1).as("n_sequences"),
        max($"pos").as("last_pos"),
        md5(expr("array_join(transform(sort_array(collect_list(doc_id)), " +
          "x -> CAST(x AS STRING)), ',')")).as("members_md5"))
  }

  private val shardManifestSql = packedCtes + "\n" +
    """SELECT shard,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(MAX(end_seq) + 1 AS BIGINT) AS n_sequences,
      |  CAST(MAX(pos) AS BIGINT) AS last_pos,
      |  md5(array_to_string(list_transform(list_sort(list(doc_id)),
      |    x -> CAST(x AS VARCHAR)), ',')) AS members_md5
      |FROM pk
      |GROUP BY shard""".stripMargin

  /** q102 — bin-packed sequence placement over the deduped corpus
    * (VERDICT r5 #3: the packer q90's padding report says is worth
    * building). Each document's ⌊n/16⌋ full context windows are
    * zero-waste by construction; only its TAIL (n mod 16 tokens) needs
    * packing, so tails become the bin items. True first-fit-decreasing
    * is an inherently SEQUENTIAL scan (every placement depends on all
    * prior bin fills — a driver-side loop at corpus scale); the
    * distributed analogue shipped here is HARMONIC class packing (Lee &
    * Lee 1985): tails bucket by exact size r, and a size-r bin holds
    * k_r = ⌊16/r⌋ tails, so placement is one keyed window —
    * bin = (row_number − 1) div k_r within (lang, r) — no sequential
    * state anywhere, deterministic (doc_id order), integer-exact.
    * Packing domains are languages (training streams are per-language
    * mixes, and it keeps q103's per-language accounting exact).
    *
    * Scale shape: one scan + one window keyed by (lang, tail) — 15
    * classes per language, so partitions are corpus-sized/75 and the
    * window never sees a skewed key; everything else is row-local
    * arithmetic. Emits one row per survivor doc: full-sequence count,
    * tail size, and the tail's (bin, slot) — NULL for tail-less docs —
    * the placement a loader's attention-mask planner consumes. */
  def packPlacements(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val surv = DedupOps.dedupCorpus(spark, dir).select($"doc_id")
    val base = Tables(spark, dir, "documents").join(surv, "doc_id")
      .select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("n_full_seqs", expr("n_tokens div 16"))
      .withColumn("tail", expr("n_tokens % 16"))
    val w = Window.partitionBy($"lang", $"tail").orderBy($"doc_id".asc)
    val tailBins = base.filter($"tail" > 0)
      .withColumn("rn", row_number().over(w).cast("long"))
      .select($"doc_id",
        expr("(rn - 1) div (16 div tail)").as("tail_bin_idx"),
        expr("(rn - 1) % (16 div tail)").as("tail_slot"))
    base.join(tailBins, Seq("doc_id"), "left")
      .select($"doc_id", $"lang", $"n_tokens", $"n_full_seqs", $"tail",
        $"tail_bin_idx", $"tail_slot")
  }

  /** The q102 placement base as CTEs ending in `pl` — shared by the
    * q102 dump and q103's accounting (the packedCtes idiom). */
  private val packPlacementCtes = DedupOps.survivorCtes + ",\n" +
    """pl AS (
      |  SELECT d.doc_id, d.lang,
      |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(len(string_split(d.text, ' ')) // 16 AS BIGINT)
      |      AS n_full_seqs,
      |    CAST(len(string_split(d.text, ' ')) % 16 AS BIGINT) AS tail
      |  FROM documents d JOIN surv s ON s.doc_id = d.doc_id)""".stripMargin

  private val packPlacementsSql = packPlacementCtes + ",\n" +
    """tb AS (
      |  SELECT doc_id,
      |    CAST((ROW_NUMBER() OVER (PARTITION BY lang, tail
      |        ORDER BY doc_id ASC) - 1) // (16 // tail) AS BIGINT)
      |      AS tail_bin_idx,
      |    CAST((ROW_NUMBER() OVER (PARTITION BY lang, tail
      |        ORDER BY doc_id ASC) - 1) % (16 // tail) AS BIGINT)
      |      AS tail_slot
      |  FROM pl WHERE tail > 0)
      |SELECT pl.doc_id, pl.lang, pl.n_tokens, pl.n_full_seqs, pl.tail,
      |  tb.tail_bin_idx, tb.tail_slot
      |FROM pl LEFT JOIN tb ON tb.doc_id = pl.doc_id""".stripMargin

  /** q103 — the packing BUDGET: q90's per-language accounting computed
    * under BOTH policies side by side — greedy one-doc-per-sequence-
    * tail (q48/q90's ceil(n/16)) and the q102 harmonic packing — so the
    * waste reduction the packer buys is a column subtraction, measured
    * on the same corpus by the same query. Bin counts come from the
    * class-count arithmetic (⌈c_r / k_r⌉ bins for c_r size-r tails),
    * provably identical to counting q102's distinct (lang, r, bin)
    * triples, so no distinct aggregate is needed. Integer-exact end to
    * end. Scale shape: rides the memoized survivors; two partial-
    * aggregatable rollups on tiny key domains (lang × 15 classes). */
  def packingBudget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val surv = DedupOps.dedupCorpus(spark, dir).select($"doc_id")
    val base = Tables(spark, dir, "documents").join(surv, "doc_id")
      .select($"lang", size(split($"text", " ")).cast("long").as("n"))
    val perLang = base.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n").as("n_tokens"),
        sum(expr("n div 16")).as("full_seqs"),
        sum(expr("(n + 15) div 16")).as("n_seq_greedy"))
    val tailBins = base
      .withColumn("tail", expr("n % 16"))
      .filter($"tail" > 0)
      .groupBy($"lang", $"tail").agg(count(lit(1)).as("c"))
      .withColumn("bins",
        expr("(c + (16 div tail) - 1) div (16 div tail)"))
      .groupBy($"lang").agg(sum($"bins").as("tail_bins"))
    perLang.join(tailBins, Seq("lang"), "left")
      .select($"lang", $"n_docs", $"n_tokens",
        $"n_seq_greedy",
        ($"n_seq_greedy" * 16 - $"n_tokens").as("n_pad_greedy"),
        ($"full_seqs" + coalesce($"tail_bins", lit(0L))).as("n_seq_packed"),
        (($"full_seqs" + coalesce($"tail_bins", lit(0L))) * 16 - $"n_tokens")
          .as("n_pad_packed"))
  }

  private val packingBudgetSql = packPlacementCtes + ",\n" +
    """cls AS (SELECT lang, tail, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM pl WHERE tail > 0 GROUP BY 1, 2),
      |tb AS (SELECT lang,
      |         CAST(SUM((c + (16 // tail) - 1) // (16 // tail)) AS BIGINT)
      |           AS tail_bins
      |       FROM cls GROUP BY 1),
      |agg AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |          CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |          CAST(SUM(n_full_seqs) AS BIGINT) AS full_seqs,
      |          CAST(SUM((n_tokens + 15) // 16) AS BIGINT) AS n_seq_greedy
      |        FROM pl GROUP BY 1)
      |SELECT a.lang, a.n_docs, a.n_tokens, a.n_seq_greedy,
      |  a.n_seq_greedy * 16 - a.n_tokens AS n_pad_greedy,
      |  a.full_seqs + COALESCE(tb.tail_bins, 0) AS n_seq_packed,
      |  (a.full_seqs + COALESCE(tb.tail_bins, 0)) * 16 - a.n_tokens
      |    AS n_pad_packed
      |FROM agg a LEFT JOIN tb ON tb.lang = a.lang""".stripMargin

  /** q92 — leakage-safe train/validation split: the held-out side is
    * chosen per DUP-CLUSTER (q45's labels), not per document, so two
    * near-duplicate documents can never straddle the split — the
    * classic eval-leakage hole that per-doc random splits leave open
    * (one copy trains, its near-copy validates, the metric lies).
    * Membership is the engine-portable md5 device on the salted
    * cluster id: deterministic, reproducible, ~10% held out, and
    * whole-cluster by construction.
    *
    * Scale shape: rides the memoized cluster labels; the split hash is
    * row-local, no new shuffle at all. */
  def leakSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    DedupOps.clusterLabels(spark, dir)
      .withColumn("u",
        md5PrefixLong(concat(lit("split:"), $"cluster_id".cast("string")), 4)
          % 100)
      .select($"doc_id", $"cluster_id",
        when($"u" < 10, "valid").otherwise("train").as("split"))
  }

  private val leakSafeSplitSql = DedupOps.survivorCtes + "\n" +
    """SELECT doc_id, cluster_id,
      |  CASE WHEN CAST(concat('0x', substr(md5(concat('split:',
      |      CAST(cluster_id AS VARCHAR))), 1, 4)) AS BIGINT) % 100 < 10
      |    THEN 'valid' ELSE 'train' END AS split
      |FROM cl""".stripMargin

  /** q81 — benchmark decontamination report, the GPT-3-appendix-C /
    * Llama-style n-gram overlap check: hold out a deterministic
    * benchmark slice (md5 bucket on a salted id — in production, the
    * actual eval sets) and flag every TRAINING document that shares at
    * least one k-token window with any benchmark document, with the
    * shared-window count and a sample gram as the evidence a triage
    * pass reads. Differs from q54 (which counts whole-doc near-dup
    * pairs between sources) and q74 (which scrubs all cross-doc spans):
    * this is the targeted train-vs-heldout report run before release.
    *
    * Scale shape: rides [[DedupOps.spanWindows]] (partition-local
    * explode); the benchmark gram set is bounded by benchmark size — at
    * real scale it broadcasts (eval sets are tiny next to the corpus),
    * here the planner picks; the per-doc rollup is a keyed two-level
    * aggregate. Linear in corpus tokens, no pairwise work. */
  def benchmarkDecon(spark: SparkSession, dir: String,
      k: Int = 8): DataFrame = {
    import spark.implicits._
    val wins = DedupOps.spanWindows(Tables(spark, dir, "documents"), k)
      .withColumn("bench",
        substring(md5(concat(lit("bench:"), $"doc_id".cast("string"))), 1, 1)
          === "0")
    val benchGrams = wins.filter($"bench").select($"gram").distinct()
    wins.filter(!$"bench")
      .join(benchGrams, "gram")
      .groupBy($"doc_id")
      .agg(countDistinct($"gram").as("n_shared_grams"),
        min($"gram").as("sample_gram"))
  }

  private val benchmarkDeconSql =
    """WITH tok AS (
      |  SELECT doc_id,
      |    substr(md5(concat('bench:', CAST(doc_id AS VARCHAR))), 1, 1) = '0'
      |      AS bench,
      |    string_split(text, ' ') AS tok
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |w AS (
      |  SELECT doc_id, bench, unnest(list_transform(range(1, len(tok) - 6),
      |    i -> array_to_string(tok[i:i+7], ' '))) AS gram
      |  FROM tok),
      |bg AS (SELECT DISTINCT gram FROM w WHERE bench)
      |SELECT w.doc_id, COUNT(DISTINCT w.gram) AS n_shared_grams,
      |  min(w.gram) AS sample_gram
      |FROM w JOIN bg USING (gram)
      |WHERE NOT w.bench
      |GROUP BY w.doc_id""".stripMargin

  /** q88 — the per-source pipeline YIELD report: raw docs → quality
    * gate → dedup survivors → decontamination, with a final clean
    * count. This is the funnel a training-data team reads every day —
    * "how much of each source survives the pipeline, and where does it
    * fall out" — and it composes the shipped stages verbatim (the
    * [[qualityGate]] lift, q59's survivor selection, q81's
    * decontamination flags), so the report can never drift from what
    * the pipeline actually does. n_flagged counts TRAIN docs q81 flags
    * (bench docs themselves are excluded from flagging by q81's
    * construction); n_final = n_train − n_flagged is what ships.
    *
    * Scale shape: every stage is a doc_id-keyed semi-join onto the
    * (doc_id, source) projection plus a partial-aggregatable rollup on
    * the ~20-key source domain; the heavy artifacts (cluster labels,
    * span windows) are the memoized ones the component queries already
    * pay for. Nothing here adds a new pairwise or global stage. */
  def pipelineYield(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val base = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val qual = qualityGate(docs).groupBy($"source")
      .agg(count(lit(1)).as("n_quality"))
    val survivors = DedupOps.dedupCorpus(spark, dir).select($"doc_id")
    val train = qualityGate(docs.join(survivors, "doc_id"))
      .select($"doc_id", $"source")
    val trainAgg = train.groupBy($"source").agg(count(lit(1)).as("n_train"))
    val flaggedAgg = train
      .join(benchmarkDecon(spark, dir).select($"doc_id"), "doc_id")
      .groupBy($"source").agg(count(lit(1)).as("n_flagged"))
    base.join(qual, Seq("source"), "left")
      .join(trainAgg, Seq("source"), "left")
      .join(flaggedAgg, Seq("source"), "left")
      .select($"source", $"n_docs",
        coalesce($"n_quality", lit(0L)).as("n_quality"),
        coalesce($"n_train", lit(0L)).as("n_train"),
        coalesce($"n_flagged", lit(0L)).as("n_flagged"),
        (coalesce($"n_train", lit(0L)) - coalesce($"n_flagged", lit(0L)))
          .as("n_final"))
  }

  private val pipelineYieldSql = DedupOps.survivorCtes + ",\n" +
    """q AS (
      |  SELECT doc_id, source FROM (
      |    SELECT doc_id, source, lang, string_split(text, ' ') AS tok
      |    FROM documents) t
      |  WHERE lang = 'en' AND len(tok) BETWEEN 5 AND 10000
      |    AND len(list_filter(tok,
      |      x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) * 20
      |        >= len(tok)),
      |tr AS (SELECT q.doc_id, q.source FROM q
      |       JOIN surv ON surv.doc_id = q.doc_id),
      |tok8 AS (
      |  SELECT doc_id,
      |    substr(md5(concat('bench:', CAST(doc_id AS VARCHAR))), 1, 1) = '0'
      |      AS bench,
      |    string_split(text, ' ') AS tok
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |w8 AS (
      |  SELECT doc_id, bench, unnest(list_transform(range(1, len(tok) - 6),
      |    i -> array_to_string(tok[i:i+7], ' '))) AS gram
      |  FROM tok8),
      |bg8 AS (SELECT DISTINCT gram FROM w8 WHERE bench),
      |fl AS (SELECT DISTINCT w8.doc_id FROM w8 JOIN bg8 USING (gram)
      |       WHERE NOT w8.bench)
      |SELECT d.source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) FILTER (WHERE q.doc_id IS NOT NULL) AS BIGINT)
      |    AS n_quality,
      |  CAST(COUNT(*) FILTER (WHERE tr.doc_id IS NOT NULL) AS BIGINT)
      |    AS n_train,
      |  CAST(COUNT(*) FILTER (WHERE tr.doc_id IS NOT NULL
      |    AND fl.doc_id IS NOT NULL) AS BIGINT) AS n_flagged,
      |  CAST(COUNT(*) FILTER (WHERE tr.doc_id IS NOT NULL)
      |    - COUNT(*) FILTER (WHERE tr.doc_id IS NOT NULL
      |        AND fl.doc_id IS NOT NULL) AS BIGINT) AS n_final
      |FROM documents d
      |LEFT JOIN q ON q.doc_id = d.doc_id
      |LEFT JOIN tr ON tr.doc_id = d.doc_id
      |LEFT JOIN fl ON fl.doc_id = d.doc_id
      |GROUP BY d.source""".stripMargin

  /** q90 — the token-budget report: per language over the DEDUPED
    * corpus (q59's survivors), how many documents, whitespace tokens,
    * context-window sequences (q48's 16-token segments), and padding
    * tokens the packed corpus carries. "How many training tokens do we
    * actually have, and how much context window does packing waste" is
    * the number a training run is planned around — epochs, mixture
    * weights (q65's budget parameter), and compute all derive from it.
    * Padding is exact: a doc of n tokens packs into ceil(n/16)
    * segments, wasting ceil(n/16)·16 − n slots (the greedy
    * one-doc-per-sequence-tail policy q48 implements; a bin-packing
    * variant would reduce it — this report is what tells you whether
    * that's worth building).
    *
    * Scale shape: rides the memoized cluster labels; one documents
    * scan, stateless per-row arithmetic, one partial-aggregatable
    * rollup on the ~5-key lang domain. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val surv = DedupOps.dedupCorpus(spark, dir).select($"doc_id")
    Tables(spark, dir, "documents").join(surv, "doc_id")
      .select($"lang", size(split($"text", " ")).cast("long").as("n"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n").as("n_tokens"),
        sum(expr("(n + 15) div 16")).as("n_sequences"))
      .select($"lang", $"n_docs", $"n_tokens", $"n_sequences",
        ($"n_sequences" * 16 - $"n_tokens").as("n_padding"))
  }

  private val tokenBudgetSql = DedupOps.survivorCtes + "\n" +
    """SELECT d.lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
      |  CAST(SUM((len(string_split(d.text, ' ')) + 15) // 16) AS BIGINT)
      |    AS n_sequences,
      |  CAST(SUM((len(string_split(d.text, ' ')) + 15) // 16) * 16
      |    - SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_padding
      |FROM documents d JOIN surv s ON s.doc_id = d.doc_id
      |GROUP BY d.lang""".stripMargin

  /** q93 — per-document lineage/disposition record: for EVERY corpus
    * document, the flags that explain its fate through the pipeline —
    * near-dup cluster id and whether the cluster is non-trivial,
    * whether dedup kept this copy (q59's policy), whether it passes
    * the quality gates, whether decontamination flagged it, and the
    * final admitted bit (= q64 ∩ decon-clean; per-source sums equal
    * q88's n_final by construction, asserted in the spec). This is the
    * explainability artifact behind every "why was my document
    * dropped" question and the provenance record an audited training
    * run has to ship.
    *
    * Scale shape: doc_id-keyed left joins onto row-local flags; the
    * heavy inputs (labels, decon grams) are the memoized/broadcast
    * artifacts the component queries already pay for; the cluster-size
    * rollup is one partial-aggregatable shuffle on cluster_id.
    *
    * Shipped as a shared artifact through [[lineage]] below —
    * [[docLineage]] is the memoized read, [[docLineageBuild]] the
    * build. */
  /** The lineage and DSIR gate tables as shared [[Artifact]]s: a
    * deployment writes each per-document gate table once and every
    * policy joins it. Eagerly materialized (the q126
    * concurrent-broadcast lesson). */
  private[graft] val lineage = Artifacts[DataFrame]("pipeline.lineage")
  private[graft] val dsir = Artifacts[DataFrame]("pipeline.dsir_weights")

  /** Forwards kept for the benchmark harness; use [[Artifacts]]. */
  private[graft] def isSharedArtifact(df: DataFrame): Boolean = Artifacts.holds(df)
  def invalidateSharedArtifacts(): Unit = Artifacts.invalidateAll()

  def docLineage(spark: SparkSession, dir: String): DataFrame =
    lineage.get(spark, dir) {
      val df = docLineageBuild(spark, dir).persist()
      df.count()
      df
    }

  private def docLineageBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val labels = DedupOps.clusterLabels(spark, dir)
    val sizes = labels.groupBy($"cluster_id").agg(count(lit(1)).as("csize"))
    val surv = DedupOps.dedupCorpus(spark, dir)
      .select($"doc_id", lit(1L).as("s"))
    val qual = qualityGate(docs).select($"doc_id", lit(1L).as("q"))
    val flagged = benchmarkDecon(spark, dir)
      .select($"doc_id", lit(1L).as("f"))
    docs.select($"doc_id", $"source", $"lang")
      .join(labels, "doc_id")
      .join(sizes, "cluster_id")
      .join(surv, Seq("doc_id"), "left")
      .join(qual, Seq("doc_id"), "left")
      .join(flagged, Seq("doc_id"), "left")
      .select($"doc_id", $"source", $"lang", $"cluster_id",
        ($"csize" > 1).cast("long").as("is_near_dup"),
        coalesce($"s", lit(0L)).as("is_survivor"),
        coalesce($"q", lit(0L)).as("passes_quality"),
        coalesce($"f", lit(0L)).as("decon_flagged"),
        (coalesce($"s", lit(0L)) * coalesce($"q", lit(0L)) *
          (lit(1L) - coalesce($"f", lit(0L)))).as("admitted"))
  }

  private val docLineageSql = DedupOps.survivorCtes + ",\n" +
    """cs AS (SELECT cluster_id, COUNT(*) AS csize FROM cl GROUP BY 1),
      |qq AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, lang, string_split(text, ' ') AS tok
      |    FROM documents) t
      |  WHERE lang = 'en' AND len(tok) BETWEEN 5 AND 10000
      |    AND len(list_filter(tok,
      |      x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) * 20
      |        >= len(tok)),
      |tok8 AS (
      |  SELECT doc_id,
      |    substr(md5(concat('bench:', CAST(doc_id AS VARCHAR))), 1, 1) = '0'
      |      AS bench,
      |    string_split(text, ' ') AS tok
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |w8 AS (
      |  SELECT doc_id, bench, unnest(list_transform(range(1, len(tok) - 6),
      |    i -> array_to_string(tok[i:i+7], ' '))) AS gram
      |  FROM tok8),
      |bg8 AS (SELECT DISTINCT gram FROM w8 WHERE bench),
      |fl AS (SELECT DISTINCT w8.doc_id FROM w8 JOIN bg8 USING (gram)
      |       WHERE NOT w8.bench)
      |SELECT d.doc_id, d.source, d.lang, cl.cluster_id,
      |  CAST(CASE WHEN cs.csize > 1 THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_near_dup,
      |  CAST(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_survivor,
      |  CAST(CASE WHEN qq.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS passes_quality,
      |  CAST(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS decon_flagged,
      |  CAST(CASE WHEN s.doc_id IS NOT NULL AND qq.doc_id IS NOT NULL
      |    AND f.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS admitted
      |FROM documents d
      |JOIN cl ON cl.doc_id = d.doc_id
      |JOIN cs ON cs.cluster_id = cl.cluster_id
      |LEFT JOIN surv s ON s.doc_id = d.doc_id
      |LEFT JOIN qq ON qq.doc_id = d.doc_id
      |LEFT JOIN fl f ON f.doc_id = d.doc_id""".stripMargin

  /** q169 — cluster-consensus QUALITY (near-dup quality contagion):
    * near-identical copies of one document routinely disagree at the
    * quality gate — one copy carries boilerplate the other had
    * stripped, a truncated mirror loses the stopword ratio — and
    * gating each copy independently makes the pipeline's verdict
    * depend on WHICH copy survived dedup. The robust rule is
    * cluster-level: the q45 near-dup cluster votes (each member's
    * q93 quality bit), strict majority decides for every member, and
    * ties DEMOTE — contested content drops, the conservative choice a
    * filtering pipeline wants. Emits per document: its own verdict,
    * the cluster verdict, the consensus strength in ppm, and the
    * `overridden` bit (the rows where contagion changed the outcome —
    * the table a gate-tuning review reads). Measured at sf0.01: 11 of
    * 22 non-trivial clusters carry a mixed vote, so the override set
    * is non-vacuous at every SF.
    *
    * Scale shape: rides the memoized q45 labels; one
    * partial-aggregatable rollup on cluster_id (bounded by cluster
    * sizes) joined back per doc — q93's exact shape, one extra
    * bounded aggregate. Fully integer → hash-checked. */
  def clusterQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val qual = qualityGate(docs).select($"doc_id", lit(1L).as("q"))
    val base = docs.select($"doc_id")
      .join(DedupOps.clusterLabels(spark, dir), "doc_id")
      .join(qual, Seq("doc_id"), "left")
      .select($"doc_id", $"cluster_id",
        coalesce($"q", lit(0L)).as("own_pass"))
    val votes = base.groupBy($"cluster_id")
      .agg(count(lit(1)).as("csize"), sum($"own_pass").as("n_pass"))
    base.join(votes, "cluster_id")
      .select($"doc_id", $"cluster_id", $"csize", $"own_pass",
        expr("CAST(IF(2 * n_pass > csize, 1, 0) AS BIGINT)")
          .as("cluster_pass"),
        expr("CAST(n_pass * 1000000 div csize AS BIGINT)")
          .as("consensus_ppm"),
        expr("CAST(IF(IF(2 * n_pass > csize, 1, 0) <> own_pass, 1, 0)" +
          " AS BIGINT)").as("overridden"))
  }

  private val clusterQualitySql = DedupOps.survivorCtes + ",\n" +
    """qq AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, lang, string_split(text, ' ') AS tok
      |    FROM documents) t
      |  WHERE lang = 'en' AND len(tok) BETWEEN 5 AND 10000
      |    AND len(list_filter(tok,
      |      x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) * 20
      |        >= len(tok)),
      |b AS (
      |  SELECT cl.doc_id, cl.cluster_id,
      |    CASE WHEN qq.doc_id IS NOT NULL THEN 1 ELSE 0 END AS own_pass
      |  FROM cl LEFT JOIN qq USING (doc_id)),
      |a AS (
      |  SELECT cluster_id, COUNT(*) AS csize, SUM(own_pass) AS n_pass
      |  FROM b GROUP BY 1)
      |SELECT b.doc_id, b.cluster_id, CAST(a.csize AS BIGINT) AS csize,
      |  CAST(b.own_pass AS BIGINT) AS own_pass,
      |  CAST(CASE WHEN 2 * a.n_pass > a.csize THEN 1 ELSE 0 END
      |    AS BIGINT) AS cluster_pass,
      |  CAST(a.n_pass * 1000000 // a.csize AS BIGINT) AS consensus_ppm,
      |  CAST(CASE WHEN (CASE WHEN 2 * a.n_pass > a.csize THEN 1 ELSE 0
      |      END) <> b.own_pass THEN 1 ELSE 0 END AS BIGINT) AS overridden
      |FROM b JOIN a USING (cluster_id)""".stripMargin

  /** q104 — WHAT-IF re-admission (VERDICT r5 #5): q93 explains why a
    * document was dropped; the next operational question is "what
    * changes if I re-run with threshold X". This query re-evaluates
    * admission under an ALTERNATIVE gate policy — stopword-ratio
    * requirement relaxed from ≥ 5 % to ≥ 2.5 % (stopMult 20 → 40:
    * the gate is n_stop·mult ≥ n_tokens, so a LARGER mult admits
    * more), decontamination tolerance raised from any shared 8-gram
    * to < 3 shared grams, plus a NEW span-quality gate
    * (≤ 50 % duplicated windows, q77's signal) — side by side with the
    * shipped policy, per source: admitted-now, admitted-under-what-if,
    * and the gained/lost deltas a data lead reads before committing a
    * policy change. All thresholds are literals (the oracle carries
    * the same ones); admitted-now is BY CONSTRUCTION q93's admitted
    * bit (same survivor set, same gates, same flag rule — asserted in
    * the spec).
    *
    * No re-mining anywhere: the survivor set rides the memoized q45
    * labels (payer-before-rider enforced in Bench), and the quality /
    * decon / span signals are the same row-local or keyed derivations
    * their component queries ship — everything else is doc_id-keyed
    * left joins plus one rollup on the ~20-key source domain. */
  def whatifAdmission(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val surv = DedupOps.dedupCorpus(spark, dir)
      .select($"doc_id", lit(1L).as("s"))
    val qNow = qualityGate(docs).select($"doc_id", lit(1L).as("qn"))
    val qAlt = qualityGate(docs, stopMult = 40)
      .select($"doc_id", lit(1L).as("qa"))
    val decon = benchmarkDecon(spark, dir)
      .select($"doc_id", $"n_shared_grams".as("ng"))
    val spans = DedupOps.spanStats(spark, dir)
    docs.select($"doc_id", $"source")
      .join(surv, Seq("doc_id"), "left")
      .join(qNow, Seq("doc_id"), "left")
      .join(qAlt, Seq("doc_id"), "left")
      .join(decon, Seq("doc_id"), "left")
      .join(spans, "doc_id")
      .withColumn("adm_now",
        when($"s".isNotNull && $"qn".isNotNull &&
          coalesce($"ng", lit(0L)) < 1, 1L).otherwise(0L))
      .withColumn("adm_whatif",
        when($"s".isNotNull && $"qa".isNotNull &&
          coalesce($"ng", lit(0L)) < 3 &&
          $"n_dup_windows" * 2 <= $"n_windows", 1L).otherwise(0L))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"adm_now").as("n_admitted_now"),
        sum($"adm_whatif").as("n_admitted_whatif"),
        sum($"adm_whatif" * (lit(1L) - $"adm_now")).as("n_gained"),
        sum($"adm_now" * (lit(1L) - $"adm_whatif")).as("n_lost"))
  }

  private val whatifAdmissionSql = DedupOps.survivorCtes + ",\n" +
    """qq AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, lang, string_split(text, ' ') AS tok
      |    FROM documents) t
      |  WHERE lang = 'en' AND len(tok) BETWEEN 5 AND 10000
      |    AND len(list_filter(tok,
      |      x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) * 20
      |        >= len(tok)),
      |qa AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, lang, string_split(text, ' ') AS tok
      |    FROM documents) t
      |  WHERE lang = 'en' AND len(tok) BETWEEN 5 AND 10000
      |    AND len(list_filter(tok,
      |      x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) * 40
      |        >= len(tok)),
      |tok8 AS (
      |  SELECT doc_id,
      |    substr(md5(concat('bench:', CAST(doc_id AS VARCHAR))), 1, 1) = '0'
      |      AS bench,
      |    string_split(text, ' ') AS tok
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |w8 AS (
      |  SELECT doc_id, bench, unnest(list_transform(range(1, len(tok) - 6),
      |    i -> array_to_string(tok[i:i+7], ' '))) AS gram
      |  FROM tok8),
      |bg8 AS (SELECT DISTINCT gram FROM w8 WHERE bench),
      |fl AS (SELECT w8.doc_id, CAST(COUNT(DISTINCT w8.gram) AS BIGINT) AS ng
      |       FROM w8 JOIN bg8 USING (gram)
      |       WHERE NOT w8.bench GROUP BY 1),
      |tokS AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |wS AS (
      |  SELECT doc_id, array_to_string(tok[i : i + 7], ' ') AS gram
      |  FROM (SELECT doc_id, tok,
      |          unnest(range(1, len(tok) - 8 + 2)) AS i
      |        FROM tokS WHERE len(tok) >= 8) u),
      |dupS AS (
      |  SELECT gram FROM wS GROUP BY gram
      |  HAVING COUNT(DISTINCT doc_id) > 1),
      |ss AS (
      |  SELECT wS.doc_id, COUNT(*) AS nw, COUNT(dupS.gram) AS nd
      |  FROM wS LEFT JOIN dupS USING (gram)
      |  GROUP BY wS.doc_id),
      |base AS (
      |  SELECT d.doc_id, d.source,
      |    CASE WHEN sv.doc_id IS NOT NULL AND qq.doc_id IS NOT NULL
      |      AND COALESCE(fl.ng, 0) < 1 THEN 1 ELSE 0 END AS adm_now,
      |    CASE WHEN sv.doc_id IS NOT NULL AND qa.doc_id IS NOT NULL
      |      AND COALESCE(fl.ng, 0) < 3
      |      AND COALESCE(ss.nd, 0) * 2 <= COALESCE(ss.nw, 0)
      |      THEN 1 ELSE 0 END AS adm_whatif
      |  FROM documents d
      |  LEFT JOIN surv sv ON sv.doc_id = d.doc_id
      |  LEFT JOIN qq ON qq.doc_id = d.doc_id
      |  LEFT JOIN qa ON qa.doc_id = d.doc_id
      |  LEFT JOIN fl ON fl.doc_id = d.doc_id
      |  LEFT JOIN ss ON ss.doc_id = d.doc_id)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(adm_now) AS BIGINT) AS n_admitted_now,
      |  CAST(SUM(adm_whatif) AS BIGINT) AS n_admitted_whatif,
      |  CAST(SUM(adm_whatif * (1 - adm_now)) AS BIGINT) AS n_gained,
      |  CAST(SUM(adm_now * (1 - adm_whatif)) AS BIGINT) AS n_lost
      |FROM base GROUP BY source""".stripMargin

  /** Cross-source contamination report: how many verified near-dup
    * pairs (exact shingle J ≥ 0.5, the [[DedupOps.minhashLsh]] output)
    * connect each unordered source pair — the decontamination check a
    * training pipeline runs between its train shards and held-out
    * benchmark sets. (Exact-fingerprint contamination is the trivial
    * special case, and this corpus has zero exact dups — q40 — so the
    * near-dup graph is the meaningful report.) Candidate volume is
    * bounded by true duplicate mass via LSH, never by source size; the
    * source-pair rollup is partial-aggregatable. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables(spark, dir, "documents").select($"doc_id", $"source")
    DedupOps.verifiedPairs(spark, dir).select($"a_id", $"b_id")
      .join(src.select($"doc_id".as("a_id"), $"source".as("sa")), "a_id")
      .join(src.select($"doc_id".as("b_id"), $"source".as("sb")), "b_id")
      .groupBy(least($"sa", $"sb").as("source_a"),
        greatest($"sa", $"sb").as("source_b"))
      .agg(count(lit(1)).as("n_near_dup_pairs"))
  }

  private val contaminationSql =
    """WITH sh AS (
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
      |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5)
      |SELECT LEAST(da.source, db.source) AS source_a,
      |  GREATEST(da.source, db.source) AS source_b,
      |  COUNT(*) AS n_near_dup_pairs
      |FROM p
      |JOIN documents da ON da.doc_id = p.a_id
      |JOIN documents db ON db.doc_id = p.b_id
      |GROUP BY 1, 2""".stripMargin

  /** The pipeline's end-to-end composition: the training-ready corpus.
    * Deduplicated survivors (q59's shared keep-longest selection) ∩
    * language gate ∩ quality gates — the filter chain a data team
    * actually ships. Every quality gate is INTEGER-exact (cross-
    * multiplied ratio: `n_stop * 20 >= n_tokens` is "stopword ratio ≥
    * 5%" with no float compare anywhere), so the whole end artifact is
    * oracle-checkable bit-for-bit. Scale shape: the survivor set rides
    * the memoized cluster labels; everything else is one scan of
    * documents with stateless expressions. */
  /** The q64 quality gates as a reusable stateless lift over any frame
    * bearing `text` and `lang`: English, minTokens–maxTokens whitespace
    * tokens, stopword ratio ≥ 1/stopMult (n_stop·stopMult ≥ n_tokens,
    * integer-exact). Defaults are the SHIPPED policy (5–10000, 5 %) —
    * shared verbatim by the batch training corpus and the streaming
    * ingest twin ([[graft.streaming.StreamingQueries.trainingIngestStream]])
    * so the two paths cannot drift; non-default thresholds are the
    * what-if lever (q104). */
  private[graft] def qualityGate(df: DataFrame, minTokens: Int = 5,
      maxTokens: Int = 10000, stopMult: Int = 20): DataFrame =
    df.withColumn("tok", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tok")))
      .withColumn("n_stop", size(expr(
        "filter(tok, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))")))
      .filter(col("lang") === "en" &&
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("n_stop") * stopMult >= col("n_tokens"))

  def trainingCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val survivors = DedupOps.dedupCorpus(spark, dir).select($"doc_id")
    qualityGate(Tables(spark, dir, "documents").join(survivors, "doc_id"))
      .select($"doc_id", $"n_tokens".cast("long").as("n_tokens"))
  }

  /** The q64 corpus as a WITH-body ending in a `tc` CTE — shared by
    * the q64 dump and the q149 repetition schedule (one definition,
    * the schedule cannot drift from the corpus it epochs). */
  private val corpusCtes = DedupOps.survivorCtes + ",\n" +
    """tk AS (
      |  SELECT d.doc_id, d.lang, string_split(d.text, ' ') AS tok
      |  FROM documents d JOIN surv s ON s.doc_id = d.doc_id),
      |tc AS (
      |  SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens
      |  FROM tk
      |  WHERE lang = 'en' AND len(tok) BETWEEN 5 AND 10000
      |    AND len(list_filter(tok,
      |      x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) * 20
      |        >= len(tok))""".stripMargin

  private val trainingCorpusSql =
    corpusCtes + "\nSELECT doc_id, n_tokens FROM tc"

  /** q149's per-source token budget: every source's training-corpus
    * token mass is equalized toward this target — one constant,
    * interpolated into the oracle (the [[NumShards]] idiom). */
  private val RepBudgetTokens = 20000L

  /** q149 — the data REPETITION schedule (epoching): per training-
    * corpus document, how many times the loader should see it so that
    * every source contributes ≈[[RepBudgetTokens]] tokens per training
    * pass. One integer formula covers the whole policy spectrum:
    * `n_repeats = budget div avail + (cum ≤ budget mod avail)` — an
    * over-budget source (avail > budget) gets full_epochs = 0 and only
    * a deterministic md5-ordered token-prefix selected once
    * (DOWN-sampling); an under-budget source repeats full_epochs times
    * with a prefix getting one extra pass (UP-sampling/epoching, the
    * low-resource-source flattening of the published LLM data mixes).
    * The remainder prefix is token-cumulative, so the overshoot is at
    * most one document's tokens — and membership is md5-deterministic:
    * re-runs schedule identical repeats.
    *
    * Scale shape: rides the q64 corpus (memoized dedup artifacts); the
    * per-source totals are a broadcast side; the only shuffle is the
    * per-source running-sum window (bounded partitions at real scale
    * by sharding sources — the q80 lever composes). Fully integer →
    * hash-checked. */
  def repetitionSchedule(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = trainingCorpus(spark, dir)
      .join(Tables(spark, dir, "documents").select($"doc_id", $"source"),
        "doc_id")
      .withColumn("ok", md5PrefixLong(
        concat(lit("rep:"), $"doc_id".cast("string")), 15))
    val avail = corpus.groupBy($"source").agg(sum($"n_tokens").as("avail"))
    val w = Window.partitionBy($"source").orderBy($"ok".asc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    corpus
      .join(broadcast(avail), "source")
      .withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc_id", $"source", $"n_tokens",
        expr(s"CAST($RepBudgetTokens div avail + " +
          s"IF(cum <= $RepBudgetTokens % avail, 1, 0) AS BIGINT)")
          .as("n_repeats"))
  }

  private val repetitionScheduleSql = corpusCtes + ",\n" +
    s"""c2 AS (SELECT tc.doc_id, d.source, tc.n_tokens,
      |    CAST(concat('0x', substr(md5(concat('rep:',
      |      CAST(tc.doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS ok
      |  FROM tc JOIN documents d USING (doc_id)),
      |av AS (SELECT source, SUM(n_tokens) AS avail FROM c2 GROUP BY 1),
      |cw AS (SELECT c2.*, SUM(n_tokens) OVER (PARTITION BY source
      |    ORDER BY ok, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM c2)
      |SELECT cw.doc_id, cw.source, cw.n_tokens,
      |  CAST($RepBudgetTokens // av.avail +
      |    CASE WHEN cw.cum <= $RepBudgetTokens % av.avail
      |      THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
      |FROM cw JOIN av USING (source)""".stripMargin

  /** Training-mix sampler with TARGET PROPORTIONS: unlike q56's fixed
    * per-stratum thresholds, the per-language keep-rate here is DERIVED
    * from the data — target mix (basis points) × an ABSOLUTE output
    * budget (how deployments actually specify training mixes: "sample
    * 50B tokens in these proportions", a parameter, not a corpus
    * fraction — which also means no global count and no single-
    * partition aggregate anywhere in the plan) ÷ observed stratum
    * count. Membership stays deterministic and integer-exact end to
    * end: u16 = first 16 md5 bits of doc_id, keep iff
    * u16·10⁴·cnt < 65536·w_bp·budget (the cross-multiplied form of
    * u16/65536 < rate, no float anywhere; strata at/under budget keep
    * everything, since the inequality then holds for every u16). Scale
    * shape: the per-stratum counts are a tiny broadcast side; the
    * corpus gets one scan and a map-side filter. Product terms stay
    * under 2⁶³ up to ~10⁹ docs per stratum; switch the comparison to
    * DECIMAL beyond. */
  def mixtureSample(spark: SparkSession, dir: String,
      budgetDocs: Long = 200L): DataFrame = {
    import spark.implicits._
    val weightsBp = Seq("en" -> 5000L, "zh" -> 1250L, "es" -> 1250L,
      "de" -> 1250L, "fr" -> 1250L)
    val docs = Tables(spark, dir, "documents")
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("cnt"))
    docs
      .withColumn("u16",
        md5PrefixLong($"doc_id".cast("string"), 4))
      .join(broadcast(counts), "lang")
      .join(broadcast(weightsBp.toDF("lang", "w_bp")), "lang")
      .filter($"u16" * lit(10000L) * $"cnt" <
        lit(65536L) * $"w_bp" * lit(budgetDocs))
      .select($"doc_id", $"lang")
  }

  private val mixtureSampleSql =
    """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
      |w(lang, w_bp) AS (VALUES ('en', 5000), ('zh', 1250), ('es', 1250),
      |                         ('de', 1250), ('fr', 1250))
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN c USING (lang) JOIN w USING (lang)
      |WHERE CAST(concat('0x',
      |      substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
      |    * 10000 * c.cnt
      |  < 65536::BIGINT * w.w_bp * 200""".stripMargin

  /** q151's hashed-feature space size — the DSIR bucket count, one
    * definition interpolated into the oracle. */
  private[graft] val DsirDims = 256L

  /** The q151 feature derivation as a lift: every document's hashed-
    * bigram dims plus its target/raw side — shared by the batch
    * scorer and the ingest twin's parameter build (one definition,
    * the stream's weight table cannot drift from batch counting). */
  private[graft] def dsirFeatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id", split($"text", " ").as("tok"))
      .filter(size($"tok") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(tok) - 1), " +
          "i -> concat(tok[i-1], ' ', tok[i]))")).as("gram"))
      .select($"doc_id", (md5PrefixLong($"gram", 8) % DsirDims).as("dim"))
      .withColumn("bench",
        substring(md5(concat(lit("bench:"), $"doc_id".cast("string"))),
          1, 1) === "0")
  }

  /** q151 — DSIR-style importance weights (Xie et al., "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its hashed-bigram features are
    * under the TARGET distribution (the q81 benchmark slice — in
    * production, the eval/domain sample you want training data to
    * resemble) than under the raw corpus. Per feature bucket b:
    * add-one-smoothed probability ratio in integer ppm,
    * `wppm[b] = 10⁶·(n_t[b]+1)·(Σn_r+B) div ((n_r[b]+1)·(Σn_t+B))`;
    * per document: the mean wppm over its bigram occurrences, and the
    * admit flag `dsir_ppm > 10⁶` ("more target-like than neutral").
    * Hashed bigrams (not q69's unigram dims) because DSIR's published
    * form is n-gram hashing — bigrams carry the phrase-level signal
    * unigram buckets wash out. Fully integer → hash-checked.
    *
    * Scale shape: one bigram explode (map-side), one bounded-key
    * (B=[[DsirDims]]) two-sided count, the weight table is a
    * B-row broadcast, per-doc rollup partial-aggregatable, restore
    * left-join keeps zero-feature docs as rows. Products stay under
    * 2⁶³ through ~10¹² raw tokens; DECIMAL past that. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsir.get(spark, dir) {
      // the feature frame feeds BOTH the bucket-count aggregation and
      // the per-doc rollup — un-persisted, the bigram explode + per-
      // gram md5 corpus pass ran twice per build (r18; the q177 "one
      // materialized lift" lesson applied here). Blocks are released
      // once the memoized result is materialized.
      val bg = dsirFeatures(Tables(spark, dir, "documents")).persist()
      val df = dsirWeightsBuild(spark, dir, bg).persist()
      df.count()
      bg.unpersist(blocking = false)
      df
    }

  private def dsirWeightsBuild(spark: SparkSession, dir: String,
      bg: DataFrame): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val ct = bg.groupBy($"dim").agg(
      sum(when($"bench", 1L).otherwise(0L)).as("nt"),
      sum(when($"bench", 0L).otherwise(1L)).as("nr"))
    val tot = ct.withColumn("k", lit(0)).groupBy($"k")
      .agg((sum($"nt") + DsirDims).as("st"), (sum($"nr") + DsirDims).as("sr"))
    val w = ct.withColumn("k", lit(0)).join(broadcast(tot), "k")
      .select($"dim",
        expr("CAST((1000000 * (nt + 1) * sr) div ((nr + 1) * st) " +
          "AS BIGINT)").as("wppm"))
    val ds = bg.join(broadcast(w), "dim")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nf"), sum($"wppm").as("sw"))
    docs.select($"doc_id").join(ds, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"nf", lit(0L)).as("n_feats"),
        expr("CAST(IF(COALESCE(nf, 0) = 0, 0, sw div nf) AS BIGINT)")
          .as("dsir_ppm"))
      .withColumn("keep_dsir",
        expr("CAST(IF(dsir_ppm > 1000000, 1, 0) AS BIGINT)"))
  }

  private val dsirWeightsSql =
    s"""WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substr(md5(concat(tok[i], ' ', tok[i + 1])),
      |      1, 8)) AS BIGINT) % $DsirDims AS dim,
      |    substr(md5(concat('bench:', CAST(doc_id AS VARCHAR))), 1, 1)
      |      = '0' AS bench
      |  FROM (SELECT doc_id, tok, unnest(range(1, len(tok))) AS i
      |        FROM tk WHERE len(tok) >= 2) u),
      |ct AS (
      |  SELECT dim,
      |    CAST(SUM(CASE WHEN bench THEN 1 ELSE 0 END) AS BIGINT) AS nt,
      |    CAST(SUM(CASE WHEN bench THEN 0 ELSE 1 END) AS BIGINT) AS nr
      |  FROM bg GROUP BY 1),
      |tot AS (
      |  SELECT SUM(nt) + $DsirDims AS st, SUM(nr) + $DsirDims AS sr
      |  FROM ct),
      |w AS (
      |  SELECT dim, CAST((1000000 * (nt + 1) * sr)
      |    // ((nr + 1) * st) AS BIGINT) AS wppm
      |  FROM ct, tot),
      |ds AS (
      |  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS nf,
      |    CAST(SUM(w.wppm) AS BIGINT) AS sw
      |  FROM bg JOIN w USING (dim) GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(ds.nf, 0) AS n_feats,
      |  CAST(CASE WHEN COALESCE(ds.nf, 0) = 0 THEN 0
      |    ELSE ds.sw // ds.nf END AS BIGINT) AS dsir_ppm,
      |  CAST(CASE WHEN COALESCE(ds.nf, 0) > 0
      |      AND ds.sw // ds.nf > 1000000
      |    THEN 1 ELSE 0 END AS BIGINT) AS keep_dsir
      |FROM documents d LEFT JOIN ds ON ds.doc_id = d.doc_id""".stripMargin

  /** q165's draw target and weight-bin width, interpolated into the
    * oracle (the NumShards idiom). */
  private[queries] val DsirDrawDocs = 100L
  private[queries] val DsirBinW = 250000L

  /** q165 — DSIR importance resampling EXECUTED: q151 ships the
    * importance weights, but DSIR's published output is the resampled
    * corpus — documents drawn with probability ∝ weight. This is that
    * draw, made deterministic and integer-exact by composing three
    * shipped devices: weights quantize into [[DsirBinW]]-ppm BINS
    * (q112's contract — the estimator's resolution is the bin width),
    * a [[DsirDrawDocs]]-document budget apportions across bins by
    * Hamilton largest-remainder ∝ each bin's total weight mass (so
    * expected draw probability within a bin is ∝ the bin's mean
    * weight — the resampling semantics at bin granularity), and the
    * per-bin quota fills in md5 order ("dsir:"-salted, q113's draw
    * rule) so membership is reproducible across runs AND engines.
    * Zero-weight documents occupy a zero-mass bin and are never
    * drawn — exactly DSIR's behavior. A bin smaller than its quota
    * yields what it has (reported: `bin_quota` vs the drawn ranks);
    * the property spec pins closure when no bin is starved.
    *
    * Scale shape: rides q151's audited plan; the bin rollup is a
    * bounded-key aggregate coalesced by the orderBy+limit device; the
    * draw is one window per bin (bins bound partitions the way q113's
    * languages do — salt wide bins by the q80 lever at 100 TB); the
    * quota table is a broadcast. Fully integer → hash-checked. */
  def dsirDraw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = dsirWeights(spark, dir)
      .select($"doc_id", $"dsir_ppm",
        expr(s"dsir_ppm div $DsirBinW").as("wbin"))
    val mass = ds.groupBy($"wbin")
      .agg(sum($"dsir_ppm").as("m"))
      .filter($"m" > 0)
      .orderBy($"wbin".asc).limit(10000)
    val all = Window.orderBy($"wbin".asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byRem = Window.orderBy($"rem".desc, $"wbin".asc)
    val quota = mass
      .withColumn("mm", sum($"m").over(all))
      .withColumn("base", expr(s"($DsirDrawDocs * m) div mm"))
      .withColumn("rem", expr(s"($DsirDrawDocs * m) % mm"))
      .withColumn("rk", row_number().over(byRem).cast("long"))
      .withColumn("allocated", sum($"base").over(all))
      .select($"wbin",
        expr(s"CAST(base + IF(rk <= $DsirDrawDocs - allocated, 1, 0) " +
          "AS BIGINT)").as("bin_quota"))
    val draw = Window.partitionBy($"wbin").orderBy($"ok".asc, $"doc_id".asc)
    ds.join(broadcast(quota), "wbin")
      .withColumn("ok", md5PrefixLong(
        concat(lit("dsir:"), $"doc_id".cast("string")), 15))
      .withColumn("draw_rank", row_number().over(draw).cast("long"))
      .filter($"draw_rank" <= $"bin_quota")
      .select($"doc_id", $"wbin", $"dsir_ppm", $"bin_quota", $"draw_rank")
  }

  // lazy: nests dsirWeightsSql (defined above) at registry access time
  private lazy val dsirDrawSql =
    s"""WITH ds0 AS (${dsirWeightsSql}),
      |ds AS (
      |  SELECT doc_id, dsir_ppm, dsir_ppm // $DsirBinW AS wbin FROM ds0),
      |ms AS (
      |  SELECT wbin, CAST(SUM(dsir_ppm) AS BIGINT) AS m
      |  FROM ds GROUP BY 1 HAVING SUM(dsir_ppm) > 0),
      |b AS (
      |  SELECT wbin, m, CAST(SUM(m) OVER () AS BIGINT) AS mm FROM ms),
      |r AS (
      |  SELECT wbin, ($DsirDrawDocs * m) // mm AS base,
      |    ROW_NUMBER() OVER (ORDER BY ($DsirDrawDocs * m) % mm DESC,
      |      wbin ASC) AS rk,
      |    CAST(SUM(($DsirDrawDocs * m) // mm) OVER () AS BIGINT)
      |      AS allocated
      |  FROM b),
      |q AS (
      |  SELECT wbin, CAST(base + CASE
      |      WHEN rk <= $DsirDrawDocs - allocated THEN 1 ELSE 0 END
      |    AS BIGINT) AS bin_quota
      |  FROM r),
      |k AS (
      |  SELECT ds.doc_id, ds.wbin, ds.dsir_ppm, q.bin_quota,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY ds.wbin
      |      ORDER BY CAST(concat('0x', substr(md5(concat('dsir:',
      |        CAST(ds.doc_id AS VARCHAR))), 1, 15)) AS BIGINT),
      |        ds.doc_id) AS BIGINT) AS draw_rank
      |  FROM ds JOIN q USING (wbin))
      |SELECT doc_id, wbin, dsir_ppm, bin_quota, draw_rank
      |FROM k WHERE draw_rank <= bin_quota""".stripMargin

  /** q155 — the ADMISSION MATRIX: every gate signal the pipeline has
    * built, joined into the one per-document decision table a
    * deployment actually acts on — dedup survivorship + heuristic
    * quality + decontamination (q93's lineage flags), per-source
    * calibrated quality (q148) and DSIR target-likeness (q151) —
    * plus the integer vote count and the strict all-gates admit.
    * Policies then become one-line filters over THIS table instead of
    * five scattered joins, and a gate's marginal effect is a GROUP BY
    * away (which is how admission thresholds actually get tuned).
    *
    * Scale shape: three keyed equi-joins of per-doc tables that each
    * carry their own audited plan; the lineage side rides the memoized
    * dedup artifacts. Oracle: the three shipped oracle bodies nested
    * verbatim as sub-CTEs (DuckDB allows WITH inside a derived table),
    * so the matrix provably equals its member queries row-for-row. */
  def admissionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lin = docLineage(spark, dir)
      .select($"doc_id", $"is_survivor", $"passes_quality",
        (lit(1L) - $"decon_flagged").as("decon_ok"), $"admitted")
    val cal = TextOps.sourceCalibratedScore(spark, dir)
      .select($"doc_id", $"keep_calibrated")
    val dsir = dsirWeights(spark, dir).select($"doc_id", $"keep_dsir")
    lin.join(cal, "doc_id").join(dsir, "doc_id")
      .select($"doc_id", $"is_survivor", $"passes_quality", $"decon_ok",
        $"keep_calibrated", $"keep_dsir",
        ($"is_survivor" + $"passes_quality" + $"decon_ok" +
          $"keep_calibrated" + $"keep_dsir").as("n_votes"),
        ($"admitted" * $"keep_calibrated" * $"keep_dsir")
          .as("admit_strict"))
  }

  // lazy: composes vals defined later in this file (initialization
  // order), resolved at registry access time
  private lazy val admissionMatrixSql =
    s"""WITH lin AS (${docLineageSql}),
      |cal AS (${TextOps.sourceCalibratedScoreSql}),
      |dsir AS (${dsirWeightsSql})
      |SELECT l.doc_id, l.is_survivor, l.passes_quality,
      |  1 - l.decon_flagged AS decon_ok,
      |  c.keep_calibrated, w.keep_dsir,
      |  CAST(l.is_survivor + l.passes_quality + (1 - l.decon_flagged)
      |    + c.keep_calibrated + w.keep_dsir AS BIGINT) AS n_votes,
      |  CAST(l.admitted * c.keep_calibrated * w.keep_dsir AS BIGINT)
      |    AS admit_strict
      |FROM lin l
      |JOIN cal c ON c.doc_id = l.doc_id
      |JOIN dsir w ON w.doc_id = l.doc_id""".stripMargin

  /** Hashing-trick (feature-hash) vectorization: every document becomes
    * a sparse 64-dim term-count vector — dim = first 32 md5 bits of the
    * token mod 64, weight = token count in that bucket — emitted in
    * (doc_id, dim, w) long form. This is the text→vector bridge of the
    * pipeline (cluster/near-dup/classify documents in a FIXED
    * dimensional space without a learned vocabulary — the classic
    * scalable vectorizer, Weinberger et al.'s feature hashing), and the
    * natural input to the ANN index paths. Integer-exact end to end
    * (md5-derived dims, integer counts), so membership AND weights are
    * hash-checked. Scale shape: one scan, one partial-aggregatable
    * count shuffle on (doc_id, dim); long-form output keeps the row
    * width fixed at any dimensionality. */
  /** The hashed-features table as an [[Artifact]] — the most
    * re-derived frame in the registry (the scorer, the trainer and
    * the whole [[VectorOps.docVectors]] stack read it). The memo is
    * spec-pinned row-identical to the fresh [[featureHashOf]]
    * computation, and the streaming/spec `*Of` forms stay fresh. */
  private[graft] val featureHashes =
    Artifacts[DataFrame]("pipeline.feature_hash")
  def featureHash(spark: SparkSession, dir: String): DataFrame =
    featureHashes.get(spark, dir) {
      // fanned read (guide §2.5): the explode + per-token md5 map work
      // runs in the scan's partitions — serial on a single-split file
      val fh = featureHashOf(Tables.fanned(spark, dir, "documents"))
        .persist()
      fh.count()
      fh
    }

  /** The same lift over any (doc_id, text) frame — the streaming
    * decon twin builds its static eval index through this, so batch
    * and stream vectorize through one definition. */
  private[graft] def featureHashOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .withColumn("dim", md5PrefixLong($"tok", 8) % 64)
      .groupBy($"doc_id", $"dim")
      .agg(count(lit(1)).as("w"))
      .select($"doc_id", $"dim", $"w")
  }

  /** The q69 feature-hash derivation as a named CTE (`fh(doc_id, dim,
    * w)`) — one definition shared by the q69 oracle and the q70
    * doc-ANN oracle ([[VectorOps.docAnn]]), which densifies it into the
    * vectors its index is built over; like [[VectorOps.md5Long8]], a
    * drift between the two sites would silently desynchronize the
    * vectors from the search. */
  private[queries] val featureHashCte =
    """fh AS (
      |  SELECT doc_id, dim, CAST(COUNT(*) AS BIGINT) AS w FROM (
      |    SELECT doc_id,
      |      CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 64 AS dim
      |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |          FROM documents) u) v
      |  GROUP BY doc_id, dim)""".stripMargin

  private val featureHashSql =
    s"""WITH $featureHashCte
      |SELECT doc_id, dim, w FROM fh""".stripMargin

  /** q72 — linear-model INFERENCE over the q69 hashed features: the
    * deployment shape of a trained quality/topic classifier at corpus
    * scale (Weinberger et al.'s feature hashing is exactly what makes
    * a fixed-width linear model applicable to unbounded vocabulary).
    * score(doc) = Σ_dim count[dim]·w[dim]; `admit` is the decision
    * function. Weights are md5-derived integer stand-ins for trained
    * parameters — the SHAPE is the point: a 64-row broadcast weight
    * table, one corpus scan, and a partial-aggregatable sum — swap the
    * md5 weights for a model's and nothing else changes. Integer
    * counts × integer weights keep score AND decision hash-checked
    * (the heuristic twin is q22's quality score; this is the
    * learned-model path beside it). Scale: the (doc, dim) pre-
    * aggregation bounds the final shuffle at ≤64 rows/doc; products
    * stay far under 2^63 (|w|≤1000, 64 dims). */
  /** The q72 weight vector — ONE engine-side definition (driver
    * integer math via the shared [[VectorOps.md5Long8]]) consumed by
    * both the batch weight table ([[hashedScore]]) and the streaming
    * fold ([[scoreExpr]]); the DuckDB twin re-derives it as
    * `CAST(concat('0x', substr(md5(concat('w:', d)), 1, 8)) AS BIGINT)
    * % 2001 - 1000`. */
  private val scoreWeights: IndexedSeq[Long] =
    (0 until 64).map(d => VectorOps.md5Long8(s"w:$d") % 2001 - 1000)

  def hashedScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weights = scoreWeights.zipWithIndex
      .map { case (w, d) => (d.toLong, w) }.toDF("dim", "wt")
    featureHash(spark, dir)
      .join(broadcast(weights), "dim")
      .groupBy($"doc_id")
      .agg(sum($"w" * $"wt").cast("long").as("score"))
      .select($"doc_id", $"score",
        when($"score" > 0, 1L).otherwise(0L).as("admit"))
  }

  /** The q72 score as a STATELESS per-row fold — the streaming form
    * ([[graft.streaming.StreamingQueries.scoreStream]]): score is
    * additive over tokens, so folding per-token weights equals the
    * batch join+aggregate exactly (asserted stream == batch in
    * StreamingSpec). Rides the SAME [[scoreWeights]] values as the
    * batch weight table; the fold is an `aggregate` HOF
    * (CodegenFallback), acceptable off the batch hot path where the
    * partial-aggregatable join form stays. */
  private[graft] def scoreExpr(text: Column): Column =
    aggregate(
      split(text, " "),
      lit(0L),
      (acc, t) => acc +
        element_at(typedLit(scoreWeights),
          (md5PrefixLong(t, 8) % 64 + 1).cast("int")))

  private val hashedScoreSql =
    s"""WITH $featureHashCte,
      |wt AS (SELECT CAST(d AS BIGINT) AS dim,
      |    CAST(concat('0x', substr(md5(concat('w:', d)), 1, 8)) AS BIGINT)
      |      % 2001 - 1000 AS wt
      |  FROM (SELECT unnest(range(64)) AS d) u)
      |SELECT fh.doc_id, CAST(SUM(fh.w * wt.wt) AS BIGINT) AS score,
      |  CAST(CASE WHEN SUM(fh.w * wt.wt) > 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS admit
      |FROM fh JOIN wt USING (dim)
      |GROUP BY fh.doc_id""".stripMargin

  /** q177's geometry: q69's 64 hashed dims plus one bias dim, the
    * round count, and the fixed-point lift — one definition, engine +
    * interpolated oracle. */
  private[graft] val PerceptronRounds = 8
  private val PerceptronBiasDim = 64L
  private val PerceptronScale = 65536L // weights in units of 2^-16

  /** q177 — classifier TRAINING in the engine: an annealed batch
    * perceptron over the q69 hashed unigram features (plus bias),
    * trained against the q72 production scorer's decisions — the
    * controlled "recover a known linear teacher" setting, which makes
    * the TRAINER itself auditable: the teacher is realizable in
    * exactly this feature space, so a correct optimizer must drive
    * training error down, and it measurably does (n_miss per round at
    * sf0.01: 500 → 228 → 268 → 268 → 199 → 90 → 88 → 51 — 90 % train
    * accuracy recovering the deployed boundary). q72 ships the
    * inference plan and says "swap in trained weights"; this is the
    * trainer that produces them, closing the train→serve loop the way
    * q157 (Lloyd) did for the ANN centroids. (The obvious alternative
    * label, `lang = 'en'`, is measured ~63 % linearly separable on
    * this shared-vocabulary synthetic corpus — a trainer evaluated on
    * it would be indistinguishable from a broken one, which is why
    * the audit uses a realizable target.)
    *
    * The update rule is chosen for the three properties a DISTRIBUTED
    * integer-exact trainer needs, and each term earns its place:
    * per round, `w += ((Σ_miss y·x)·2¹⁶ quot n_miss) >> (r−1)`.
    * Batch (not online): the update is one partial-aggregatable sum,
    * order-independent — online perceptron's trajectory depends on
    * row visit order, which no distributed engine should promise.
    * Mean-normalized (quot n_miss): bounds every per-dim step by
    * 2¹⁶·avg-count regardless of corpus size — no overflow cliff at
    * 100 TB, unlike the raw batch sum. Annealed (>> r−1): raw η=1
    * batch steps overshoot and oscillate between the class error sets
    * forever (measured: 500, 228, 268, 228, 268, …); geometric
    * halving converges them. All arithmetic is BIGINT with truncating
    * division (`div`/`//` agree across engines) and arithmetic shift
    * (floor in both) — the trajectory hash-checks bit-for-bit.
    * Output: the full weight trajectory (round, dim, w after the
    * round's update) with the round's pre-update error count beside
    * it — training curves as data.
    *
    * Scale shape: the feature table builds once (one scan + one
    * (doc_id, dim) count shuffle) and persists; each round is one
    * margin aggregation (broadcast 65-long literal weight array, no
    * join) plus one delta rollup on the bounded dim domain; driver
    * state is 65 longs per round — the bpeMineOf/Lloyd bounded-
    * parameter-read contract. */
  def perceptronTrain(spark: SparkSession, dir: String): DataFrame =
    // the registry path rides the shared q69 artifact (same rows as
    // the fresh lift — spec-pinned) instead of re-running the
    // tokenize+hash+group corpus pass
    perceptronTrainOf(Tables(spark, dir, "documents"),
      Some(featureHash(spark, dir)))

  /** The trainer over any (doc_id, text) frame — the ingest twin
    * ([[graft.streaming.StreamingQueries.perceptronScorer]]) trains
    * its model from the standing corpus through this one definition
    * (building its own feature lift; only the registry wrapper passes
    * the shared memo). */
  private[graft] def perceptronTrainOf(docs: DataFrame,
      sharedFh: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val teacherW = scoreWeights.zipWithIndex
      .map { case (tw, d) => (d.toLong, tw) }.toDF("dim", "tw")
    // ONE materialized feature lift feeds both the teacher labels and
    // the training table (review r12: two lazy featureHashOf
    // references ran the tokenize+hash+group corpus pass twice)
    val ownFh = sharedFh.isEmpty
    val fh = sharedFh.getOrElse(featureHashOf(docs).persist())
    // teacher decision over the SAME features; docs with no tokens
    // never match a feature row and restore-join to score 0 → y = −1
    val score = fh
      .join(broadcast(teacherW), "dim")
      .groupBy($"doc_id").agg(sum($"w" * $"tw").as("ts"))
    val labels = docs.select($"doc_id")
      .join(score, Seq("doc_id"), "left")
      .select($"doc_id",
        when(coalesce($"ts", lit(0L)) > 0, 1L).otherwise(-1L).as("y"))
    val feats = fh
      .unionByName(labels.select($"doc_id",
        lit(PerceptronBiasDim).as("dim"), lit(1L).as("w")))
      .join(labels, "doc_id")
      .persist()
    feats.count()
    // never unpersist the SHARED artifact — its whole point is
    // cross-query reuse; only a locally-built lift is released here
    if (ownFh) fh.unpersist(blocking = false)
    val nDims = PerceptronBiasDim.toInt + 1
    val w = Array.fill(nDims)(0L)
    val out = Vector.newBuilder[(Long, Long, Long, Long)]
    for (r <- 1 to PerceptronRounds) {
      val wLit = typedLit(w.toIndexedSeq)
      val miss = feats
        .groupBy($"doc_id", $"y")
        .agg(sum($"w" * element_at(wLit, ($"dim" + 1).cast("int"))).as("s"))
        .filter($"y" * $"s" <= 0)
        .select($"doc_id", $"y".as("my"))
      // ONE job per round instead of two (miss.count() + delta
      // collect): every doc carries exactly one bias row (dim 64,
      // w = 1) in `feats`, so the bias group's row count in the delta
      // rollup IS n_miss — same integers, half the actions, and the
      // per-round persist/unpersist churn goes away
      val rows = feats.join(miss, "doc_id")
        .groupBy($"dim").agg(sum($"my" * $"w").as("delta"),
          count(lit(1)).as("n"))
        .collect()
      val delta = rows.map(x => x.getLong(0).toInt -> x.getLong(1)).toMap
      val nMiss = rows.collectFirst {
        case x if x.getLong(0) == PerceptronBiasDim => x.getLong(2)
      }.getOrElse(0L)
      val den = math.max(nMiss, 1L)
      for (d <- 0 until nDims) {
        val scaled = delta.getOrElse(d, 0L) * PerceptronScale / den // JVM /: trunc
        w(d) += (scaled >> (r - 1))
      }
      for (d <- 0 until nDims)
        out += ((r.toLong, d.toLong, w(d), nMiss))
    }
    feats.unpersist(blocking = false)
    out.result().toDF("round", "dim", "w", "n_miss")
  }

  /** The final-round weight vector (index = dim, last entry = bias) —
    * the trained MODEL artifact the serving side consumes
    * ([[graft.streaming.StreamingQueries.perceptronScorer]]). A
    * bounded 65-row read off the trajectory. */
  private[graft] def trainedPerceptronOf(docs: DataFrame): IndexedSeq[Long] = {
    import docs.sparkSession.implicits._
    perceptronTrainOf(docs)
      .filter($"round" === PerceptronRounds.toLong)
      .orderBy($"dim")
      .collect().map(_.getLong(2)).toIndexedSeq
  }

  /** One unrolled oracle round: margins under w_{r-1} → misclassified
    * set → per-dim mean-normalized annealed delta → w_r. MATERIALIZED
    * throughout — the q147 lesson: the round CTEs reference each
    * other densely and default inlining re-derives the corpus scan
    * exponentially. */
  private def perceptronRoundCtes(r: Int): String =
    s"""ps$r AS (SELECT p.doc_id, p.y, SUM(p.w * pw.w) AS s
       |  FROM pf p JOIN pw${r - 1} pw USING (dim)
       |  GROUP BY p.doc_id, p.y),
       |pm$r AS MATERIALIZED (SELECT doc_id, y FROM ps$r WHERE y * s <= 0),
       |pe$r AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pm$r),
       |pd$r AS (SELECT p.dim, SUM(p.y * p.w) AS delta
       |  FROM pf p JOIN pm$r m USING (doc_id) GROUP BY p.dim),
       |pw$r AS MATERIALIZED (SELECT w.dim,
       |    CAST(w.w + (
       |      (COALESCE(d.delta, 0) * $PerceptronScale
       |        // GREATEST((SELECT n FROM pe$r), 1)) >> ${r - 1})
       |      AS BIGINT) AS w
       |  FROM pw${r - 1} w LEFT JOIN pd$r d USING (dim))""".stripMargin

  private lazy val perceptronTrainSql =
    s"""WITH $featureHashCte,
       |twt AS (SELECT CAST(d AS BIGINT) AS dim,
       |    CAST(concat('0x', substr(md5(concat('w:', d)), 1, 8)) AS BIGINT)
       |      % 2001 - 1000 AS tw
       |  FROM (SELECT unnest(range(64)) AS d) u),
       |lab AS MATERIALIZED (SELECT dd.doc_id,
       |    CAST(CASE WHEN COALESCE(ts.s, 0) > 0 THEN 1 ELSE -1 END
       |      AS BIGINT) AS y
       |  FROM documents dd LEFT JOIN (
       |    SELECT fh.doc_id, SUM(fh.w * twt.tw) AS s
       |    FROM fh JOIN twt USING (dim) GROUP BY fh.doc_id) ts
       |    ON ts.doc_id = dd.doc_id),
       |pf AS MATERIALIZED (
       |  SELECT f.doc_id, l.y, f.dim, f.w
       |  FROM fh f JOIN lab l USING (doc_id)
       |  UNION ALL
       |  SELECT doc_id, y, CAST($PerceptronBiasDim AS BIGINT) AS dim,
       |    CAST(1 AS BIGINT) AS w
       |  FROM lab),
       |pw0 AS (SELECT CAST(u.d AS BIGINT) AS dim, CAST(0 AS BIGINT) AS w
       |  FROM (SELECT unnest(range(0, ${PerceptronBiasDim + 1})) AS d) u),
       |""".stripMargin +
      (1 to PerceptronRounds).map(perceptronRoundCtes).mkString(",\n") +
      "\n" +
      (1 to PerceptronRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, dim, w, " +
          s"(SELECT n FROM pe$r) AS n_miss FROM pw$r")
        .mkString("\nUNION ALL\n")

  /** q110 — exact token-budget apportionment across languages by
    * Hamilton's largest-remainder method: each language's quota of a
    * global training-token budget B, proportional to its corpus token
    * mass, summing EXACTLY to B. q56/q65 set sampling *rates*; a
    * training run also needs the integer *allocation* (how many
    * tokens to draw per language) and naive floor(B·n/N) under-fills
    * by up to |langs|−1 tokens — largest-remainder distributes the
    * shortfall to the languages with the biggest truncation loss
    * (remainder desc, lang asc tie-break), the apportionment device
    * elections use. All arithmetic is long: B·n_l stays < 2⁶³ for any
    * corpus up to ~9·10¹² tokens at B = 10⁶ (document the bound, not
    * a silent overflow).
    *
    * Scale shape: ONE partial-aggregatable rollup on the bounded lang
    * domain; everything after operates on ≤|langs| rows coalesced by
    * the orderBy+limit device (TakeOrderedAndProject — the q85
    * global-window-after-limit idiom, parameter-scale by
    * construction), so no data-scale global exchange exists. */
  /** The apportionment over any already-bounded (lang, n_tokens)
    * frame — frame-based so the property spec can assert the
    * invariants (Σ quota == B exactly; every quota ∈ {base, base+1})
    * on random count vectors. */
  private[graft] def budgetApportionOf(counts: DataFrame,
      budget: Long): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val all = Window.orderBy($"lang".asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val based = counts
      .withColumn("total", sum($"n_tokens").over(all))
      .withColumn("base", expr(s"($budget * n_tokens) div total"))
      .withColumn("rem", expr(s"($budget * n_tokens) % total"))
    val byRem = Window.orderBy($"rem".desc, $"lang".asc)
    based
      .withColumn("rk", row_number().over(byRem).cast("long"))
      .withColumn("allocated", sum($"base").over(all))
      .select($"lang", $"n_tokens",
        expr(s"CAST(base + IF(rk <= $budget - allocated, 1, 0) AS BIGINT)")
          .as("quota_tokens"))
  }

  def budgetApportion(spark: SparkSession, dir: String,
      budget: Long = TrainBudget): DataFrame = {
    import spark.implicits._
    budgetApportionOf(
      Tables(spark, dir, "documents")
        .groupBy($"lang")
        .agg(sum(size(split($"text", " ")).cast("long")).as("n_tokens"))
        // bounded lang domain -> parameter-scale frame from here on
        .orderBy($"lang".asc).limit(1000),
      budget)
  }

  /** Registered budgets, string-interpolated into the oracle CTEs from
    * the SAME constants the engine defaults bind (the NumShards
    * anti-drift rule): q110 apportions the full 1M-token training
    * budget; q113 draws against a 10k budget so the quota CLOSES at
    * the driver SFs — with the 1M budget every language's draw would
    * admit the whole corpus and the stop branch would go unexercised. */
  private[queries] val TrainBudget = 1000000L
  private[queries] val SampleBudget = 10000L

  /** The q110 apportionment as a WITH-body ending in a `quota` CTE —
    * shared by the q110 dump and q113's quota-filling sampler (the
    * funnelCtes reuse idiom: one definition, oracles cannot drift). */
  private def budgetApportionCtes(budget: Long): String =
    s"""WITH c AS (
      |  SELECT lang,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |t AS (
      |  SELECT lang, n_tokens,
      |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
      |  FROM c),
      |b AS (
      |  SELECT lang, n_tokens,
      |    ($budget * n_tokens) // total AS base,
      |    ($budget * n_tokens) % total AS rem
      |  FROM t),
      |r AS (
      |  SELECT lang, n_tokens, base,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rk,
      |    CAST(SUM(base) OVER () AS BIGINT) AS allocated
      |  FROM b),
      |quota AS (
      |  SELECT lang, n_tokens,
      |    CAST(base + CASE WHEN rk <= $budget - allocated THEN 1 ELSE 0 END
      |      AS BIGINT) AS quota_tokens
      |  FROM r)""".stripMargin

  private val budgetApportionSql = budgetApportionCtes(TrainBudget) + "\n" +
    "SELECT lang, n_tokens, quota_tokens FROM quota"

  /** q113 — quota-filling corpus draw: materialize q110's allocation
    * as an actual per-language document sample. Documents are drawn in
    * deterministic md5 order (q80's salted-key shuffle device, salt
    * "sample:") and a language's draw closes when its running token
    * sum reaches the quota — a doc is admitted iff the tokens BEFORE
    * it are under quota, so each language overshoots by at most one
    * document and every run/engine draws the identical set. The
    * composition q56/q65 (rates) → q110 (quotas) → q113 (the draw) is
    * the full mix-execution chain a training-data order ships through.
    *
    * Scale shape: the hash is row-local, the quota table is
    * |langs|-row broadcast, and the one shuffle is the per-language
    * running-sum window — q91's shape with lang as the partition key.
    * `cum_before` doubles as the doc's token offset within its
    * language's draw (the loader-facing coordinate). */
  /** q160 — UniMax-style waterfilling mix: the OTHER canonical budget
    * policy beside q110's proportional apportionment. Proportional
    * mirrors the corpus (a 100× source gets 100× the tokens); UniMax
    * (Chung et al., 2023) maximizes source DIVERSITY instead — split
    * the budget EQUALLY across sources, cap each source at its
    * available mass, and waterfill the freed budget back into the
    * larger sources. Budget is half the corpus's total tokens (scale-
    * relative, so both branches exercise at every SF). Sources below
    * the water level are consumed whole (`capped` = 1); the rest split
    * the remainder equally, ±1 token by the largest-remainder rule so
    * the allocation sums EXACTLY to the budget. All arithmetic is
    * integer (the capped-iff test multiplies instead of dividing:
    * c·(S−i+1) > B−P ⟺ c > (B−P) div (S−i+1), proven both ways), so
    * allocations AND epoch ppms are hash-checked.
    *
    * Scale shape: one partial-aggregatable rollup on the bounded
    * source domain, then windows over the ≤1000-row parameter frame
    * (the q110 orderBy+limit device) — no data-scale exchange. */
  def unimaxMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    unimaxMixOf(
      Tables(spark, dir, "documents")
        .groupBy($"source")
        .agg(sum(size(split($"text", " ")).cast("long")).as("n_tokens"))
        .orderBy($"source".asc).limit(1000))
  }

  /** The waterfill over any bounded (source, n_tokens) frame —
    * frame-based so the property spec can assert the invariants
    * (Σ alloc == budget; capped ⟹ alloc == mass; uncapped allocs
    * within 1 of each other) on random count vectors. */
  private[graft] def unimaxMixOf(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val all = Window.orderBy($"source".asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val asc = Window.orderBy($"n_tokens".asc, $"source".asc)
    counts
      .withColumn("total", sum($"n_tokens").over(all))
      .withColumn("s", count(lit(1)).over(all))
      .withColumn("i", row_number().over(asc).cast("long"))
      .withColumn("pfx", coalesce(sum($"n_tokens").over(
        asc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("viol", expr(
        "CAST(IF(n_tokens * (s - i + 1) > total div 2 - pfx, 1, 0) AS BIGINT)"))
      .withColumn("capped", lit(1L) - max($"viol").over(
        asc.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("k", sum($"capped").over(all))
      .withColumn("pk", sum($"n_tokens" * $"capped").over(all))
      .withColumn("alloc_tokens", expr(
        """CAST(CASE WHEN capped = 1 THEN n_tokens
          |  ELSE (total div 2 - pk) div (s - k)
          |     + IF(i - k <= (total div 2 - pk) % (s - k), 1, 0)
          |  END AS BIGINT)""".stripMargin))
      .select($"source", $"n_tokens", $"alloc_tokens", $"capped",
        expr("CAST(IF(n_tokens = 0, 0, alloc_tokens * 1000000 div n_tokens) AS BIGINT)")
          .as("epoch_ppm"))
  }

  private val unimaxMixSql =
    """WITH c AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |t AS (
      |  SELECT source, n_tokens,
      |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS s,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens ASC, source ASC)
      |      AS BIGINT) AS i,
      |    CAST(COALESCE(SUM(n_tokens) OVER (
      |        ORDER BY n_tokens ASC, source ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS pfx
      |  FROM c),
      |v AS (
      |  SELECT *, CASE WHEN n_tokens * (s - i + 1) > total // 2 - pfx
      |    THEN 1 ELSE 0 END AS viol
      |  FROM t),
      |w AS (
      |  SELECT *, 1 - MAX(viol) OVER (
      |      ORDER BY n_tokens ASC, source ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS capped
      |  FROM v),
      |y AS (
      |  SELECT *, CAST(SUM(capped) OVER () AS BIGINT) AS k,
      |    CAST(SUM(n_tokens * capped) OVER () AS BIGINT) AS pk
      |  FROM w),
      |z AS (
      |  SELECT source, n_tokens,
      |    CAST(CASE WHEN capped = 1 THEN n_tokens
      |      ELSE (total // 2 - pk) // (s - k)
      |         + CASE WHEN i - k <= (total // 2 - pk) % (s - k)
      |           THEN 1 ELSE 0 END
      |      END AS BIGINT) AS alloc_tokens,
      |    CAST(capped AS BIGINT) AS capped
      |  FROM y)
      |SELECT source, n_tokens, alloc_tokens, capped,
      |  CAST(CASE WHEN n_tokens = 0 THEN 0
      |    ELSE alloc_tokens * 1000000 // n_tokens END AS BIGINT)
      |    AS epoch_ppm
      |FROM z""".stripMargin

  /** q162 — temperature-scaled mixture at α = 1/2: the THIRD canonical
    * mixing policy, sitting exactly between its two shipped neighbors
    * on the α axis — q110's proportional apportionment is α = 1
    * (mirror the corpus), q160's UniMax is the α → 0 limit (equal
    * shares), and multilingual pretraining in practice trains at an
    * intermediate temperature (mBERT exponent-smoothed sampling,
    * mT5/PaLM report α ≈ 0.3–0.7) so low-resource languages are
    * upweighted without letting them dominate. Allocation is
    * ∝ n_lang^(1/2) with Hamilton largest-remainder closure, i.e.
    * literally q110's apportionment device run over sqrt-scaled
    * weights — one policy engine, three policies.
    *
    * Integer-exactness is why α is 1/2 and not 0.3: the weight is
    * floor(sqrt(n)) where sqrt is the ONE power function IEEE 754
    * requires correctly rounded (both JVM and DuckDB delegate to it),
    * so the Long weight is bit-identical in both engines — a generic
    * pow(n, 0.3) carries no such guarantee and would put the hash
    * check at the mercy of libm. floor(sqrt) is exact while n < 2⁵²
    * (the double holds n exactly and the half-ulp at √n ≤ 2²⁶ is
    * below the 1/(2√n) gap to the next integer square); at 4·10¹⁵
    * tokens per language, revisit. Σ sqrt_w and the remainder rank
    * are Long arithmetic — no float ever crosses an exchange.
    *
    * Scale shape: identical to q110 — one partial-aggregatable rollup
    * on the bounded lang domain, then the orderBy+limit coalesce
    * device; no data-scale exchange at any corpus size. epoch_ppm
    * (tokens drawn per million available, q160's column) is the
    * cross-policy comparison coordinate: proportional gives every
    * lang the same ppm, temperature tilts ppm ∝ n^(−1/2). */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    temperatureMixOf(
      Tables(spark, dir, "documents")
        .groupBy($"lang")
        .agg(sum(size(split($"text", " ")).cast("long")).as("n_tokens"))
        .orderBy($"lang".asc).limit(1000),
      TrainBudget)
  }

  /** The sqrt-weighted apportionment over any bounded (lang, n_tokens)
    * frame — frame-based so the property spec can assert the closure
    * and the low-resource-upweighting tilt on random count vectors. */
  private[graft] def temperatureMixOf(counts: DataFrame,
      budget: Long): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val all = Window.orderBy($"lang".asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val based = counts
      .withColumn("sqrt_w",
        expr("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
      .withColumn("wtotal", sum($"sqrt_w").over(all))
      .withColumn("base", expr(s"($budget * sqrt_w) div wtotal"))
      .withColumn("rem", expr(s"($budget * sqrt_w) % wtotal"))
    val byRem = Window.orderBy($"rem".desc, $"lang".asc)
    based
      .withColumn("rk", row_number().over(byRem).cast("long"))
      .withColumn("allocated", sum($"base").over(all))
      .withColumn("alloc_tokens",
        expr(s"CAST(base + IF(rk <= $budget - allocated, 1, 0) AS BIGINT)"))
      .select($"lang", $"n_tokens", $"sqrt_w", $"alloc_tokens",
        expr("CAST(IF(n_tokens = 0, 0, alloc_tokens * 1000000 div n_tokens) AS BIGINT)")
          .as("epoch_ppm"))
  }

  private val temperatureMixSql =
    s"""WITH c AS (
      |  SELECT lang,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |s AS (
      |  SELECT lang, n_tokens,
      |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS sqrt_w
      |  FROM c),
      |t AS (
      |  SELECT *, CAST(SUM(sqrt_w) OVER () AS BIGINT) AS wtotal FROM s),
      |b AS (
      |  SELECT *, ($TrainBudget * sqrt_w) // wtotal AS base,
      |    ($TrainBudget * sqrt_w) % wtotal AS rem
      |  FROM t),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rk,
      |    CAST(SUM(base) OVER () AS BIGINT) AS allocated
      |  FROM b),
      |z AS (
      |  SELECT lang, n_tokens, sqrt_w,
      |    CAST(base + CASE WHEN rk <= $TrainBudget - allocated
      |      THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
      |  FROM r)
      |SELECT lang, n_tokens, sqrt_w, alloc_tokens,
      |  CAST(CASE WHEN n_tokens = 0 THEN 0
      |    ELSE alloc_tokens * 1000000 // n_tokens END AS BIGINT)
      |    AS epoch_ppm
      |FROM z""".stripMargin

  /** q166 — the mixing-policy COMPARISON table: all three shipped
    * policies (q110 proportional α=1, q162 temperature α=1/2, q160
    * UniMax α→0) evaluated on ONE domain (lang) at ONE scale-relative
    * budget (half the corpus tokens, q160's convention), side by
    * side — the table a data lead actually reads when choosing the
    * mix, where the α axis becomes visible as a row-wise monotone
    * tilt: for every lang, prop ≤/≥ temp ≤/≥ unimax depending on
    * whether it is above or below its fair share. `spread_ppm`
    * quantifies how much the policy choice matters per lang (0 =
    * policies agree; large = the lang's budget swings on α).
    *
    * One policy engine, re-derived: the two Hamilton arms run as
    * column-form largest-remainder (budget is a COLUMN here — total
    * div 2 — so the apportionment device works unchanged with window
    * arithmetic), and the UniMax arm is literally [[unimaxMixOf]]
    * under a column rename (the policy engines are shared, so q166
    * cannot drift from the policies it compares; the q110/q162
    * literal-budget forms stay as shipped).
    *
    * Scale shape: one bounded-domain rollup + the orderBy+limit
    * coalesce device, then windows on the ≤1000-row parameter frame —
    * q110's shape, three policies wide. Integer-exact throughout. */
  def mixPolicyCompare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables(spark, dir, "documents")
      .groupBy($"lang")
      .agg(sum(size(split($"text", " ")).cast("long")).as("n_tokens"))
      .orderBy($"lang".asc).limit(1000)
    val all = Window.orderBy($"lang".asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withProp = {
      val byRem = Window.orderBy($"prop_rem".desc, $"lang".asc)
      counts
        .withColumn("total", sum($"n_tokens").over(all))
        .withColumn("budget", expr("total div 2"))
        .withColumn("prop_base", expr("(budget * n_tokens) div total"))
        .withColumn("prop_rem", expr("(budget * n_tokens) % total"))
        .withColumn("sum_prop_base", sum($"prop_base").over(all))
        .withColumn("prop_rk", row_number().over(byRem).cast("long"))
        .withColumn("prop_tokens", expr(
          "CAST(prop_base + IF(prop_rk <= budget - sum_prop_base, 1, 0)" +
            " AS BIGINT)"))
    }
    val withTemp = {
      val byRem = Window.orderBy($"temp_rem".desc, $"lang".asc)
      withProp
        .withColumn("temp_w",
          expr("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
        .withColumn("temp_tw", sum($"temp_w").over(all))
        .withColumn("temp_base", expr("(budget * temp_w) div temp_tw"))
        .withColumn("temp_rem", expr("(budget * temp_w) % temp_tw"))
        .withColumn("sum_temp_base", sum($"temp_base").over(all))
        .withColumn("temp_rk", row_number().over(byRem).cast("long"))
        .withColumn("temp_tokens", expr(
          "CAST(temp_base + IF(temp_rk <= budget - sum_temp_base, 1, 0)" +
            " AS BIGINT)"))
    }
    val unimax = unimaxMixOf(counts.withColumnRenamed("lang", "source"))
      .select($"source".as("lang"), $"alloc_tokens".as("unimax_tokens"))
    withTemp
      .select($"lang", $"n_tokens", $"prop_tokens", $"temp_tokens")
      .join(unimax, "lang")
      .withColumn("spread_ppm", expr(
        "CAST(IF(greatest(prop_tokens, temp_tokens, unimax_tokens) = 0," +
          " 0, (greatest(prop_tokens, temp_tokens, unimax_tokens) - " +
          "least(prop_tokens, temp_tokens, unimax_tokens)) * 1000000 " +
          "div greatest(prop_tokens, temp_tokens, unimax_tokens)) " +
          "AS BIGINT)"))
  }

  private val mixPolicyCompareSql =
    """WITH c AS (
      |  SELECT lang,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |t0 AS (
      |  SELECT lang, n_tokens,
      |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total,
      |    CAST(SUM(n_tokens) OVER () AS BIGINT) // 2 AS budget
      |  FROM c),
      |pr AS (
      |  SELECT lang, n_tokens, total, budget,
      |    (budget * n_tokens) // total AS pb,
      |    ROW_NUMBER() OVER (ORDER BY (budget * n_tokens) % total DESC,
      |      lang ASC) AS prk,
      |    CAST(SUM((budget * n_tokens) // total) OVER () AS BIGINT)
      |      AS spb
      |  FROM t0),
      |p1 AS (
      |  SELECT lang, n_tokens, total, budget,
      |    CAST(pb + CASE WHEN prk <= budget - spb THEN 1 ELSE 0 END
      |      AS BIGINT) AS prop_tokens
      |  FROM pr),
      |tw AS (
      |  SELECT lang,
      |    CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w
      |  FROM c),
      |tr AS (
      |  SELECT p1.lang, tw.w,
      |    CAST(SUM(tw.w) OVER () AS BIGINT) AS twt,
      |    p1.budget
      |  FROM p1 JOIN tw USING (lang)),
      |t2 AS (
      |  SELECT lang, (budget * w) // twt AS tb,
      |    ROW_NUMBER() OVER (ORDER BY (budget * w) % twt DESC, lang ASC)
      |      AS trk,
      |    CAST(SUM((budget * w) // twt) OVER () AS BIGINT) AS stb,
      |    budget
      |  FROM tr),
      |t3 AS (
      |  SELECT lang,
      |    CAST(tb + CASE WHEN trk <= budget - stb THEN 1 ELSE 0 END
      |      AS BIGINT) AS temp_tokens
      |  FROM t2),
      |ut AS (
      |  SELECT lang, n_tokens,
      |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS s,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens ASC, lang ASC)
      |      AS BIGINT) AS i,
      |    CAST(COALESCE(SUM(n_tokens) OVER (
      |        ORDER BY n_tokens ASC, lang ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS pfx
      |  FROM c),
      |uv AS (
      |  SELECT *, CASE WHEN n_tokens * (s - i + 1) > total // 2 - pfx
      |    THEN 1 ELSE 0 END AS viol
      |  FROM ut),
      |uw AS (
      |  SELECT *, 1 - MAX(viol) OVER (
      |      ORDER BY n_tokens ASC, lang ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS capped
      |  FROM uv),
      |uy AS (
      |  SELECT *, CAST(SUM(capped) OVER () AS BIGINT) AS k,
      |    CAST(SUM(n_tokens * capped) OVER () AS BIGINT) AS pk
      |  FROM uw),
      |uz AS (
      |  SELECT lang,
      |    CAST(CASE WHEN capped = 1 THEN n_tokens
      |      ELSE (total // 2 - pk) // (s - k)
      |         + CASE WHEN i - k <= (total // 2 - pk) % (s - k)
      |           THEN 1 ELSE 0 END
      |      END AS BIGINT) AS unimax_tokens
      |  FROM uy)
      |SELECT p1.lang, p1.n_tokens, p1.prop_tokens, t3.temp_tokens,
      |  uz.unimax_tokens,
      |  CAST(CASE WHEN GREATEST(p1.prop_tokens, t3.temp_tokens,
      |      uz.unimax_tokens) = 0 THEN 0
      |    ELSE (GREATEST(p1.prop_tokens, t3.temp_tokens,
      |        uz.unimax_tokens)
      |      - LEAST(p1.prop_tokens, t3.temp_tokens, uz.unimax_tokens))
      |      * 1000000 // GREATEST(p1.prop_tokens, t3.temp_tokens,
      |        uz.unimax_tokens) END AS BIGINT) AS spread_ppm
      |FROM p1 JOIN t3 USING (lang) JOIN uz USING (lang)""".stripMargin

  /** q128's policy constants: token-count bin width and the kept
    * percentile band [p5, p95], interpolated into the oracle. */
  private val LenBinW = 8.0
  private val LenLoPct = 5L
  private val LenHiPct = 95L

  /** q128 — sketch-driven length-outlier policy: the C4/Gopher-style
    * "drop abnormally short/long documents" gate with its cutoffs
    * DERIVED from the corpus instead of hand-set — the q112 histogram
    * sketch pointed at document token counts and closed into a
    * per-document verdict. Lengths roll into fixed-width bins
    * (mergeable, map-side combinable); the p5/p95 cutoff bins come
    * off the cumulative histogram by integer cross-multiply; every
    * document is kept iff its own bin lies in the cutoff band —
    * bin-granular by design (the estimator's resolution IS the bin
    * width, q112's contract), integer-exact end to end.
    *
    * Scale shape: the histogram is one bounded-key shuffle; the
    * cumulative runs over SKETCH-sized data as a broadcast ≤-join of
    * the histogram against itself (no global window — a
    * single-partition exchange is the plan sweep's forbidden shape);
    * the cutoff row is a constant-key aggregate (the q99 device)
    * broadcast back onto the corpus scan, so the verdict pass is
    * map-side. At 100 TB: one scan + a 1-row broadcast. */
  def lengthPolicy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
      .select($"doc_id",
        coalesce(size(split($"text", " ")), lit(0)).cast("long")
          .as("n_tokens"))
      .withColumn("bin", floor($"n_tokens" / LenBinW).cast("long"))
    val hist = docs.groupBy($"bin").agg(count(lit(1)).as("c"))
    val cum = hist
      .join(broadcast(hist.select($"bin".as("b_bin"), $"c".as("b_c"))),
        $"b_bin" <= $"bin")
      .groupBy($"bin").agg(sum($"b_c").as("cum"))
    val tot = hist.withColumn("k", lit(0)).groupBy($"k")
      .agg(sum($"c").as("n"))
    val cuts = cum.withColumn("k", lit(0)).join(broadcast(tot), "k")
      .groupBy($"k")
      .agg(min(when($"cum" * 100 >= $"n" * LenLoPct, $"bin")).as("lo_bin"),
        min(when($"cum" * 100 >= $"n" * LenHiPct, $"bin")).as("hi_bin"))
    docs.withColumn("k", lit(0)).join(broadcast(cuts), "k")
      .select($"doc_id", $"n_tokens",
        ($"bin" >= $"lo_bin" && $"bin" <= $"hi_bin").as("kept"))
  }

  private val lengthPolicySql =
    s"""WITH b AS (
      |  SELECT doc_id,
      |    CAST(COALESCE(len(string_split(text, ' ')), 0) AS BIGINT)
      |      AS n_tokens,
      |    CAST(floor(COALESCE(len(string_split(text, ' ')), 0) / $LenBinW)
      |      AS BIGINT) AS bin
      |  FROM documents),
      |h AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY 1),
      |cw AS (SELECT a.bin, SUM(bb.c) AS cum
      |       FROM h a JOIN h bb ON bb.bin <= a.bin GROUP BY 1),
      |n AS (SELECT SUM(c) AS n FROM h),
      |cuts AS (
      |  SELECT MIN(CASE WHEN cum * 100 >= n.n * $LenLoPct THEN bin END)
      |      AS lo_bin,
      |    MIN(CASE WHEN cum * 100 >= n.n * $LenHiPct THEN bin END)
      |      AS hi_bin
      |  FROM cw, n)
      |SELECT b.doc_id, b.n_tokens,
      |  b.bin >= lo_bin AND b.bin <= hi_bin AS kept
      |FROM b, cuts""".stripMargin

  def quotaSample(spark: SparkSession, dir: String,
      budget: Long = SampleBudget): DataFrame = {
    import spark.implicits._
    val quotas = budgetApportion(spark, dir, budget)
      .select($"lang", $"quota_tokens")
    val w = Window.partitionBy($"lang")
      .orderBy($"draw_key".asc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, dir, "documents")
      .select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        md5PrefixLong(concat(lit("sample:"), $"doc_id".cast("string")), 15)
          .as("draw_key"))
      .withColumn("cum_before",
        coalesce(sum($"n_tokens").over(w), lit(0L)))
      .join(broadcast(quotas), "lang")
      .filter($"cum_before" < $"quota_tokens")
      .select($"lang", $"doc_id", $"n_tokens", $"cum_before")
  }

  private val quotaSampleSql = budgetApportionCtes(SampleBudget) + ",\n" +
    """d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(concat('0x', substr(md5(concat('sample:',
      |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS draw_key
      |  FROM documents),
      |cw AS (
      |  SELECT doc_id, lang, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
      |      ORDER BY draw_key, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cum_before
      |  FROM d)
      |SELECT c.lang, c.doc_id, c.n_tokens, c.cum_before
      |FROM cw c JOIN quota q ON q.lang = c.lang
      |WHERE c.cum_before < q.quota_tokens""".stripMargin

  /** q133's policy constants, string-interpolated into the oracle from
    * the same definitions the engine binds (the NumShards anti-drift
    * rule): match the German corpus's length profile to the English
    * one under a 60-document budget, over [[LenBinW]]-token bins. */
  private[queries] val MatchRefLang = "en"
  private[queries] val MatchTgtLang = "de"
  private[queries] val MatchBudget = 60L

  /** q133 — distribution-matched subsampling: draw a fixed-budget
    * sample from the TARGET language whose token-LENGTH histogram
    * matches the REFERENCE language's, the standard device for
    * removing a length confound between two corpus slices before
    * comparing quality metrics on them (or for matching a web slice's
    * profile to a books slice in a training mix). Per-bin quotas are
    * the reference's bin shares apportioned over the budget by q110's
    * largest-remainder method (integer-exact, Σ quota == budget), and
    * each bin's draw is the deterministic md5-ordered prefix (q113's
    * closing-quota device, count-closed instead of token-closed). Bins
    * where the target holds fewer documents than quota under-fill —
    * visible in the output as a short bin, never silently rebalanced.
    *
    * Scale shape: the reference histogram is one bounded-key rollup
    * (≤ a few hundred bins) collapsed to a parameter-scale frame by
    * the orderBy+limit device; the quota table broadcasts back; the
    * only data-scale shuffle is the per-bin rank window on the target
    * slice. At 100 TB: one scan per side + a broadcast + one keyed
    * window. */
  def lengthMatchedSample(spark: SparkSession, dir: String,
      budget: Long = MatchBudget): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
      .select($"doc_id", $"lang",
        coalesce(size(split($"text", " ")), lit(0)).cast("long")
          .as("n_tokens"))
      .withColumn("bin", floor($"n_tokens" / LenBinW).cast("long"))
    // reference profile -> per-bin quotas (largest remainder over bins)
    val all = Window.orderBy($"bin".asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byRem = Window.orderBy($"rem".desc, $"bin".asc)
    val quotas = docs.filter($"lang" === MatchRefLang)
      .groupBy($"bin").agg(count(lit(1)).as("c"))
      // bounded bin domain -> parameter-scale frame from here on
      .orderBy($"bin".asc).limit(100000)
      .withColumn("total", sum($"c").over(all))
      .withColumn("base", expr(s"($budget * c) div total"))
      .withColumn("rem", expr(s"($budget * c) % total"))
      .withColumn("rk", row_number().over(byRem).cast("long"))
      .withColumn("allocated", sum($"base").over(all))
      .select($"bin",
        expr(s"CAST(base + IF(rk <= $budget - allocated, 1, 0) AS BIGINT)")
          .as("quota"))
    val byDraw = Window.partitionBy($"bin")
      .orderBy($"draw_key".asc, $"doc_id".asc)
    docs.filter($"lang" === MatchTgtLang)
      .withColumn("draw_key",
        md5PrefixLong(concat(lit("lenmatch:"), $"doc_id".cast("string")),
          15))
      .withColumn("pos", row_number().over(byDraw).cast("long"))
      .join(broadcast(quotas), "bin")
      .filter($"pos" <= $"quota")
      .select($"bin", $"doc_id", $"n_tokens", $"pos")
  }

  private val lengthMatchedSampleSql =
    s"""WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(COALESCE(len(string_split(text, ' ')), 0) AS BIGINT)
      |      AS n_tokens,
      |    CAST(floor(COALESCE(len(string_split(text, ' ')), 0) / $LenBinW)
      |      AS BIGINT) AS bin
      |  FROM documents),
      |rc AS (SELECT bin, COUNT(*) AS c FROM d
      |  WHERE lang = '$MatchRefLang' GROUP BY 1),
      |rt AS (SELECT bin, c, CAST(SUM(c) OVER () AS BIGINT) AS total
      |  FROM rc),
      |rb AS (SELECT bin, c,
      |    ($MatchBudget * c) // total AS base,
      |    ($MatchBudget * c) % total AS rem
      |  FROM rt),
      |rr AS (SELECT bin, base,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, bin ASC) AS rk,
      |    CAST(SUM(base) OVER () AS BIGINT) AS allocated
      |  FROM rb),
      |quota AS (SELECT bin,
      |    CAST(base + CASE WHEN rk <= $MatchBudget - allocated
      |      THEN 1 ELSE 0 END AS BIGINT) AS quota
      |  FROM rr),
      |tgt AS (
      |  SELECT bin, doc_id, n_tokens,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY bin
      |      ORDER BY CAST(concat('0x', substr(md5(concat('lenmatch:',
      |        CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT), doc_id)
      |      AS BIGINT) AS pos
      |  FROM d WHERE lang = '$MatchTgtLang')
      |SELECT t.bin, t.doc_id, t.n_tokens, t.pos
      |FROM tgt t JOIN quota q ON q.bin = t.bin
      |WHERE t.pos <= q.quota""".stripMargin

  /** q135 — tokenizer fertility report: the per-SOURCE rollup of
    * q106's compression accounting, the corpus-card number a tokenizer
    * choice is judged by (symbols emitted per 1000 input chars, and
    * the percent of chars the merge table saves). A source whose
    * fertility is an outlier is the one whose domain the tokenizer
    * under-serves — the signal that drives merge-table retraining or
    * per-domain vocabulary extension. Kept as exact integers
    * (truncating div, the q106 contract) so the report hash-checks.
    *
    * Scale shape: q106's stateless map-only application chain (rides
    * the memoized q101 merge table — payer-before-rider), then ONE
    * partial-aggregatable rollup on the bounded source domain. At
    * 100 TB: one scan, one tiny-key shuffle. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fertilityOf(tokenizeCorpus(spark, dir)
      .join(Tables(spark, dir, "documents").select($"doc_id", $"source"),
        "doc_id"))
  }

  /** q135's per-source rollup of per-document (source, n_pretokens,
    * n_chars, n_symbols) counts, with its two integer ratio columns.
    * Shared with [[graft.streaming.StreamingQueries.fertilityStream]]. */
  private[graft] def fertilityOf(perDoc: DataFrame): DataFrame =
    perDoc
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_pretokens")).as("n_pretokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_symbols")).as("n_symbols"))
      .withColumn("symbols_per_kchar",
        expr("CAST(IF(n_chars = 0, 0, (1000 * n_symbols) div n_chars) " +
          "AS BIGINT)"))
      .withColumn("saved_pct",
        expr("CAST(IF(n_chars = 0, 0, (100 * (n_chars - n_symbols)) " +
          "div n_chars) AS BIGINT)"))

  private val tokenizerFertilitySql = tokenizeCtes + "\n" +
    """SELECT d.source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(COALESCE(st.np, 0)) AS BIGINT) AS n_pretokens,
      |  CAST(SUM(COALESCE(st.nc, 0)) AS BIGINT) AS n_chars,
      |  CAST(SUM(COALESCE(st.ns, 0)) AS BIGINT) AS n_symbols,
      |  CAST(CASE WHEN SUM(COALESCE(st.nc, 0)) = 0 THEN 0
      |    ELSE (1000 * SUM(COALESCE(st.ns, 0))) // SUM(COALESCE(st.nc, 0))
      |    END AS BIGINT) AS symbols_per_kchar,
      |  CAST(CASE WHEN SUM(COALESCE(st.nc, 0)) = 0 THEN 0
      |    ELSE (100 * (SUM(COALESCE(st.nc, 0)) - SUM(COALESCE(st.ns, 0))))
      |      // SUM(COALESCE(st.nc, 0)) END AS BIGINT) AS saved_pct
      |FROM documents d LEFT JOIN st ON st.doc_id = d.doc_id
      |GROUP BY d.source""".stripMargin

  /** q144's chunking geometry, ONE definition feeding the engine and
    * the interpolated oracle: 32-token chunks on a 24-token stride
    * (8-token overlap — the neighboring-context carry a RAG retriever
    * wants at chunk boundaries). */
  private[queries] val ChunkLen = 32
  private val ChunkStride = 24

  /** q144 — retrieval chunking: every document split into overlapping
    * fixed-geometry chunks with explicit coordinates (chunk index,
    * 1-based token start, actual token count — the tail chunk may be
    * short but the end of the document is ALWAYS covered) and an md5
    * chunk fingerprint. This is the RAG-side counterpart of q48's
    * training packing: packing tiles tokens for a trainer (no overlap,
    * padding accounting), chunking tiles them for a retriever
    * (overlap, per-chunk identity — the fingerprint is what chunk-
    * level dedup and index upserts key on). Chunk count =
    * 1 + ⌈max(n−L, 0)/S⌉, so a document shorter than one chunk emits
    * exactly one.
    *
    * Scale shape: pure map-side — one split + one bounded explode per
    * document, codegen end to end; no shuffle exists in this query at
    * all. At 100 TB it is scan-speed. */
  /** The chunk stream WITH text — q144/q145 derive their fingerprint
    * views from it, q146's chunk retrieval vectorizes it. */
  private[queries] def ragChunkTexts(spark: SparkSession,
      dir: String): DataFrame =
    ragChunkTextsOf(Tables(spark, dir, "documents"))

  /** [[ragChunkTexts]] over ANY (doc_id, text) frame — pure map-side
    * (split + bounded explode, no shuffle), so it applies verbatim to
    * an arriving micro-batch in the chunk-index upsert stream
    * ([[graft.streaming.StreamingQueries.chunkIndexUpsertStream]]).
    * NULL text emits no chunks (explode of a null array), mirroring
    * the q144 oracle's universe. */
  private[graft] def ragChunkTextsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id", split($"text", " ").as("tok"))
      .withColumn("n", size($"tok").cast("long"))
      .select($"doc_id", $"n", explode(expr(
        s"""transform(
           |  sequence(0, CAST(ceil(greatest(n - $ChunkLen, 0)
           |    / CAST($ChunkStride AS DOUBLE)) AS BIGINT)),
           |  j -> struct(
           |    j AS idx,
           |    j * $ChunkStride + 1 AS start,
           |    concat_ws(' ', slice(tok, CAST(j * $ChunkStride + 1 AS INT),
           |      $ChunkLen)) AS chunk))""".stripMargin)).as("c"))
      .select($"doc_id",
        $"c.idx".cast("long").as("chunk_idx"),
        $"c.start".cast("long").as("start_tok"),
        least(lit(ChunkLen.toLong), $"n" - $"c.idx" * ChunkStride)
          .cast("long").as("n_tokens"),
        $"c.chunk".as("chunk"))
  }

  def ragChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ragChunkTexts(spark, dir)
      .select($"doc_id", $"chunk_idx", $"start_tok", $"n_tokens",
        md5($"chunk").as("chunk_hash"))
  }

  /** q144's chunking as a WITH-body ending in a `ch` CTE (carrying the
    * chunk TEXT — q144/q145 fingerprint it, q146 vectorizes it) —
    * shared three ways so the geometries cannot drift. */
  private[queries] val ragChunkCteBody =
    s"""d AS (
      |  SELECT doc_id, string_split(text, ' ') AS tok,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents),
      |j AS (
      |  SELECT doc_id, tok, n, unnest(range(0,
      |    2 + CAST(ceil(greatest(n - $ChunkLen, 0)
      |      / CAST($ChunkStride AS DOUBLE)) AS BIGINT))) AS j
      |  FROM d),
      |k AS (SELECT * FROM j WHERE j <= ceil(greatest(n - $ChunkLen, 0)
      |    / CAST($ChunkStride AS DOUBLE))),
      |ch AS (
      |  SELECT doc_id,
      |    CAST(j AS BIGINT) AS chunk_idx,
      |    CAST(j * $ChunkStride + 1 AS BIGINT) AS start_tok,
      |    CAST(LEAST($ChunkLen, n - j * $ChunkStride) AS BIGINT)
      |      AS n_tokens,
      |    array_to_string(
      |      tok[j * $ChunkStride + 1 : j * $ChunkStride + $ChunkLen], ' ')
      |      AS chunk
      |  FROM k)""".stripMargin

  private val ragChunkCtes = "WITH " + ragChunkCteBody

  private val ragChunksSql = ragChunkCtes + "\n" +
    "SELECT doc_id, chunk_idx, start_tok, n_tokens, md5(chunk) " +
    "AS chunk_hash FROM ch"

  /** q145 — chunk-level dedup: fingerprints shared by more than one
    * document, each with its occurrence/document counts and the
    * CANONICAL occurrence (lowest doc_id, then lowest chunk index —
    * the copy a RAG index keeps; every other occurrence upserts as a
    * pointer). The chunk-granular sibling of q73's span report: spans
    * find duplicated text anywhere, this finds it at exactly the
    * retriever's storage granularity, where "index once, point many"
    * is the dedup action.
    *
    * Scale shape: rides q144's map-side explode, then ONE two-level
    * hash aggregate on chunk_hash (count + distinct-doc + min-struct
    * in the same shuffle) — the q73 shape with an argmin carried
    * along. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ragChunks(spark, dir)
      .groupBy($"chunk_hash")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct($"doc_id").as("n_docs"),
        min(struct($"doc_id".as("d"), $"chunk_idx".as("i"))).as("m"))
      .filter($"n_docs" > 1)
      .select($"chunk_hash", $"n_occurrences", $"n_docs",
        $"m.d".as("canon_doc"), $"m.i".as("canon_idx"))
  }

  private val chunkDedupSql = ragChunkCtes + ",\n" +
    """hh AS (SELECT doc_id, chunk_idx, md5(chunk) AS chunk_hash FROM ch),
      |cd AS (
      |  SELECT chunk_hash,
      |    CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |  FROM hh GROUP BY chunk_hash),
      |cn AS (
      |  SELECT chunk_hash, doc_id AS canon_doc, chunk_idx AS canon_idx
      |  FROM (
      |    SELECT chunk_hash, doc_id, chunk_idx,
      |      ROW_NUMBER() OVER (PARTITION BY chunk_hash
      |        ORDER BY doc_id ASC, chunk_idx ASC) AS rn
      |    FROM hh) t
      |  WHERE rn = 1)
      |SELECT cd.chunk_hash, cd.n_occurrences, cd.n_docs,
      |  cn.canon_doc, cn.canon_idx
      |FROM cd JOIN cn USING (chunk_hash)
      |WHERE cd.n_docs > 1""".stripMargin

  /** q187 — corpus snapshot diff (CDC): the refresh-night question
    * "what changed between yesterday's lake and today's crawl", as one
    * co-partitioned full-outer join of content DIGESTS. Each side
    * reduces to (doc_id, md5(text)) at scan time — the text itself is
    * never shipped twice or compared byte-wise — and the verdict is a
    * four-way CASE over digest presence/equality: added / deleted /
    * changed / unchanged. Downstream this table is exactly what the
    * incremental machinery consumes: `added` + `changed` feed the
    * delta-dedup and index-upsert paths (q130, the posting/chunk
    * appenders), `deleted` feeds the take-down paths, `unchanged`
    * short-circuits re-processing.
    *
    * The two snapshots here derive from one table via md5 membership/
    * edit markers (the q130 isDeltaCol device) so the DuckDB oracle
    * covers the whole flow; production reads two parquet roots. At
    * 100 TB both snapshots bucket by doc_id, so the full-outer join is
    * co-located and shuffle-free; the verdict rollup is
    * partial-aggregatable. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val marked = Tables(spark, dir, "documents")
      .select($"doc_id", $"text",
        (substring(md5(concat(lit("add:"), $"doc_id".cast("string"))),
          1, 2) < "10").as("m_add"),
        (substring(md5(concat(lit("del:"), $"doc_id".cast("string"))),
          1, 2) < "10").as("m_del"),
        (substring(md5(concat(lit("edit:"), $"doc_id".cast("string"))),
          1, 2) < "20").as("m_edit"))
    val old = marked.filter(!$"m_add")
      .select($"doc_id", md5($"text").as("old_hash"))
    val neu = marked.filter(!$"m_del")
      .select($"doc_id",
        md5(when($"m_edit", concat($"text", lit(" [rev2]")))
          .otherwise($"text")).as("new_hash"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        when($"old_hash".isNull, "added")
          .when($"new_hash".isNull, "deleted")
          .when($"old_hash" =!= $"new_hash", "changed")
          .otherwise("unchanged").as("verdict"),
        $"old_hash", $"new_hash")
  }

  private val snapshotDiffSql =
    """WITH m AS (
      |  SELECT doc_id, text,
      |    substr(md5(concat('add:', CAST(doc_id AS VARCHAR))), 1, 2)
      |      < '10' AS m_add,
      |    substr(md5(concat('del:', CAST(doc_id AS VARCHAR))), 1, 2)
      |      < '10' AS m_del,
      |    substr(md5(concat('edit:', CAST(doc_id AS VARCHAR))), 1, 2)
      |      < '20' AS m_edit
      |  FROM documents),
      |o AS (SELECT doc_id, md5(text) AS old_hash FROM m WHERE NOT m_add),
      |n AS (SELECT doc_id,
      |    md5(CASE WHEN m_edit THEN concat(text, ' [rev2]') ELSE text END)
      |      AS new_hash
      |  FROM m WHERE NOT m_del)
      |SELECT doc_id,
      |  CASE WHEN o.old_hash IS NULL THEN 'added'
      |       WHEN n.new_hash IS NULL THEN 'deleted'
      |       WHEN o.old_hash <> n.new_hash THEN 'changed'
      |       ELSE 'unchanged' END AS verdict,
      |  o.old_hash, n.new_hash
      |FROM o FULL OUTER JOIN n USING (doc_id)""".stripMargin

  /** q189's anonymity threshold: a cohort must hold ≥ K documents for
    * its quasi-identifier combination to be releasable. */
  private val KAnon = 5L

  /** q189 — k-anonymity generalization walk: for each document, find
    * the MOST SPECIFIC quasi-identifier combination whose cohort still
    * holds ≥ k documents — the release-gating question a governance
    * pass answers before corpus metadata ships with training data.
    * The generalization lattice here is the 3-step chain
    * (source, lang, 256-char length bucket) → (source, lang) →
    * (source); a document whose every level is under-populated is
    * `anon_level` 0 = suppress. Emitted: the chosen level and its
    * cohort size (suppressed docs carry their level-1 cohort size —
    * the number that failed).
    *
    * Shape: three partial-aggregatable counts over successively
    * coarser keys (each bounded by the previous level's group count),
    * three keyed joins back to the doc frame, one CASE — no windows,
    * no per-doc state. At 100 TB the lattice levels are dimension-
    * sized aggregates and the joins broadcast; the walk never touches
    * text. */
  def kAnonGeneralize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables(spark, dir, "documents")
      .select($"doc_id", $"source", $"lang",
        expr("n_chars div 256").as("len_b"))
    val g3 = d.groupBy($"source", $"lang", $"len_b")
      .agg(count(lit(1)).as("n3"))
    val g2 = d.groupBy($"source", $"lang").agg(count(lit(1)).as("n2"))
    val g1 = d.groupBy($"source").agg(count(lit(1)).as("n1"))
    d.join(g3, Seq("source", "lang", "len_b"))
      .join(g2, Seq("source", "lang"))
      .join(g1, Seq("source"))
      .select($"doc_id",
        when($"n3" >= KAnon, 3L).when($"n2" >= KAnon, 2L)
          .when($"n1" >= KAnon, 1L).otherwise(0L).as("anon_level"),
        when($"n3" >= KAnon, $"n3").when($"n2" >= KAnon, $"n2")
          .otherwise($"n1").as("cohort_n"))
  }

  private val kAnonGeneralizeSql =
    s"""WITH d AS (SELECT doc_id, source, lang, n_chars // 256 AS len_b
      |  FROM documents),
      |g3 AS (SELECT source, lang, len_b, COUNT(*) AS n3
      |  FROM d GROUP BY 1, 2, 3),
      |g2 AS (SELECT source, lang, COUNT(*) AS n2 FROM d GROUP BY 1, 2),
      |g1 AS (SELECT source, COUNT(*) AS n1 FROM d GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(CASE WHEN n3 >= $KAnon THEN 3 WHEN n2 >= $KAnon THEN 2
      |       WHEN n1 >= $KAnon THEN 1 ELSE 0 END AS BIGINT) AS anon_level,
      |  CAST(CASE WHEN n3 >= $KAnon THEN n3
      |            WHEN n2 >= $KAnon THEN n2
      |            ELSE n1 END AS BIGINT) AS cohort_n
      |FROM d JOIN g3 USING (source, lang, len_b)
      |       JOIN g2 USING (source, lang)
      |       JOIN g1 USING (source)""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("q144_rag_chunks", ragChunks, Some(ragChunksSql),
      "retrieval chunking: overlapping 32/24 fixed-geometry chunks " +
        "with coordinates and md5 fingerprints — map-side only, the " +
        "RAG counterpart of q48's training packing"),
    Q("q145_chunk_dedup", chunkDedup, Some(chunkDedupSql),
      "chunk-level dedup over the q144 fingerprints: cross-document " +
        "chunks with counts and the canonical occurrence — index " +
        "once, point many"),
    Q("q69_feature_hash", featureHash, Some(featureHashSql),
      "hashing-trick vectorization: sparse 64-dim term-count vectors, " +
        "integer-exact dims and weights (long form)",
      pays = Seq(featureHashes)),
    Q("q72_hashed_scorer", hashedScore, Some(hashedScoreSql),
      "linear-classifier inference over hashed features: broadcast " +
        "weight table, partial-aggregatable integer score + decision",
      rides = Seq(featureHashes)),
    Q("q177_perceptron_train", perceptronTrain, Some(perceptronTrainSql),
      "classifier TRAINING in the engine: annealed mean-normalized " +
        "batch perceptron over the q69 hashed features, recovering " +
        "the q72 scorer's decision boundary (realizable teacher -> " +
        "the trainer is auditable; 500 -> 51 errors in 8 rounds) — " +
        "integer-exact weight trajectory hash-checked against " +
        "unrolled CTE rounds",
      rides = Seq(featureHashes)),
    Q("q65_mixture_sample", mixtureSample(_, _), Some(mixtureSampleSql),
      "target-proportion training-mix sampler: data-derived per-stratum " +
        "rates, integer-exact deterministic membership"),
    Q("q64_training_corpus", trainingCorpus, Some(trainingCorpusSql),
      "the training-ready corpus: dedup survivors x language x integer-" +
        "exact quality gates — the shipped end artifact",
      rides = Seq(DedupOps.clusters, DedupOps.pairs)),
    Q("q54_contamination", contamination, Some(contaminationSql),
      "cross-source duplicate/contamination report via fingerprint join",
      rides = Seq(DedupOps.pairs)),
    Q("q155_admission_matrix", admissionMatrix, Some(admissionMatrixSql),
      "the per-document decision table: all five gate signals " +
        "(survivor, quality, decon, calibrated, DSIR) + vote count + " +
        "strict admit, oracle-proven equal to its member queries",
      rides = Seq(DedupOps.clusters, DedupOps.pairs, dsir, lineage,
        TextOps.calibrated)),
    Q("q161_attention_spans", attentionSpans, Some(attentionSpansSql),
      "block-diagonal attention-span table: per training sequence, " +
        "the documents inside it with in-sequence offset/length and " +
        "segment order — the loader's mask metadata, derived from " +
        "the shared q91 placements so mask and packing cannot drift"),
    Q("q152_packing_sweep", packingSweep, Some(packingSweepSql),
      "context-length capacity planning: sequences, tail padding, " +
        "integer fill rate and document boundary-straddles per " +
        "candidate length from the same q91 placements"),
    Q("q151_dsir_weights", dsirWeights, Some(dsirWeightsSql),
      "DSIR-style importance weights: add-one-smoothed target/raw " +
        "probability ratio over hashed bigram features, integer ppm, " +
        "mean per doc + admit flag — data selection toward the " +
        "benchmark slice's distribution",
      pays = Seq(dsir)),
    Q("q149_repetition_schedule", repetitionSchedule,
      Some(repetitionScheduleSql),
      "per-document epoch/repeat schedule equalizing each source's " +
        "token mass to a target budget: integer full-epochs + md5-" +
        "deterministic token-prefix remainder — one formula does both " +
        "down-sampling and low-resource epoching",
      rides = Seq(DedupOps.clusters, DedupOps.pairs)),
    Q("q46_hash_sample", hashSample, Some(hashSampleSql),
      "deterministic md5-prefix sampling (reproducible, shuffle-free)"),
    Q("q56_stratified_sample", stratifiedSample, Some(stratifiedSampleSql),
      "per-stratum deterministic sampling rates (training-mix lever)"),
    Q("q57_bpe_token_count", bpeTokenCount, Some(bpeTokenCountSql),
      "GPT-style pre-tokenizer regex token counting (Java/RE2-common subset)"),
    Q("q71_bpe_merges", bpeMerges(_, _), Some(bpeMergesSql),
      "BPE merge mining round 1: adjacent-pair frequencies over the " +
        "pre-tokenized corpus, top-20 merges via TakeOrderedAndProject"),
    Q("q85_bpe_round2", bpeMergesRound2(_, _), Some(bpeMergesRound2Sql),
      "BPE training round 2: greedy apply of merge #1 via " +
        "replace-with-sentinel re-segmentation, then symbol-pair recount"),
    Q("q101_bpe_merge_table", bpeMergeTable, Some(bpeMergeTableSql),
      "BPE merge mining to 5 rounds on the shared iterate harness: " +
        "the tokenizer-training merge table, oracle-checked against " +
        "five unrolled in-SQL rounds",
      pays = Seq(bpeMerges)),
    Q("q147_bpe_wide_merges", bpeMergeTableWide, Some(bpeMergeTableWideSql),
      "BPE training at scale: top-8 pairwise-disjoint merges per " +
        "round, one chained re-segmentation — 40 merges in 5 corpus " +
        "scans; selection policy pinned twice: an independent " +
        "in-memory reference implementation in the spec, and an " +
        "unrolled SQL oracle expressing each greedy-disjoint pick as " +
        "a ranked anti-join against the round's earlier picks",
      pays = Seq(bpeWideMerges)),
    Q("q106_tokenize_corpus", tokenizeCorpus, Some(tokenizeCorpusSql),
      "apply the trained tokenizer: stateless 5-replace projection " +
        "over every doc's pre-tokens, per-doc integer compression " +
        "accounting (chars in, symbols out) riding the memoized merges",
      rides = Seq(bpeMerges)),
    Q("q47_text_clean", textClean, Some(textCleanSql),
      "email/URL/whitespace cleaning via codegen regexp chain"),
    Q("q86_pii_scrub", piiScrub, Some(piiScrubSql),
      "PII privacy pass: detect + redact emails/phones/IPs with typed " +
        "sentinels, counts and redacted text hash-checked"),
    Q("q48_token_pack", tokenPack, Some(tokenPackSql),
      "fixed-size sequence packing: doc tokens -> context-window segments"),
    Q("q80_shard_assign", shardAssign(_, _), Some(shardAssignSql),
      "deterministic corpus shuffle: reproducible (shard, position) " +
        "per doc, the scalable ORDER BY random() replacement"),
    Q("q81_benchmark_decon", benchmarkDecon(_, _), Some(benchmarkDeconSql),
      "train-vs-heldout 8-gram overlap decontamination report " +
        "(GPT-3 appendix-C style)"),
    Q("q88_pipeline_yield", pipelineYield, Some(pipelineYieldSql),
      "per-source pipeline yield funnel: raw -> quality -> dedup " +
        "survivors -> decon-clean, composed from the shipped stages",
      rides = Seq(DedupOps.clusters, DedupOps.pairs)),
    Q("q90_token_budget", tokenBudget, Some(tokenBudgetSql),
      "per-language token/sequence/padding accounting over the deduped " +
        "corpus — the number a training run is planned around",
      rides = Seq(DedupOps.clusters, DedupOps.pairs)),
    Q("q102_pack_placements", packPlacements, Some(packPlacementsSql),
      "harmonic-class bin packing (distributed FFD analogue): per-doc " +
        "full-sequence count + tail (bin, slot) placement, one keyed " +
        "window, deterministic and integer-exact",
      rides = Seq(DedupOps.clusters, DedupOps.pairs)),
    Q("q103_packing_budget", packingBudget, Some(packingBudgetSql),
      "greedy-vs-packed padding accounting per language on the same " +
        "corpus: the measured waste reduction q102's packing buys",
      rides = Seq(DedupOps.clusters, DedupOps.pairs)),
    Q("q104_whatif_admission", whatifAdmission, Some(whatifAdmissionSql),
      "what-if re-admission: shipped vs alternative gate policy " +
        "(relaxed stopword ratio, decon tolerance, new span-quality " +
        "gate) per source with gained/lost deltas — no re-mining, " +
        "thresholds as literals",
      rides = Seq(DedupOps.clusters, DedupOps.pairs, DedupOps.spanWindows)),
    Q("q91_packed_stream", packedStream(_, _), Some(packedStreamSql),
      "GPT-style contiguous token-stream packing within training " +
        "shards: per-doc offset + sequence span, padding only at " +
        "shard ends"),
    Q("q92_leak_safe_split", leakSafeSplit, Some(leakSafeSplitSql),
      "leakage-safe train/valid split: whole dup-clusters assigned to " +
        "one side, deterministic md5 membership",
      rides = Seq(DedupOps.clusters, DedupOps.pairs)),
    Q("q93_doc_lineage", docLineage, Some(docLineageSql),
      "per-document provenance record: near-dup/survivor/quality/" +
        "decon flags + the admitted bit — the pipeline's " +
        "explainability artifact",
      pays = Seq(lineage),
      rides = Seq(DedupOps.clusters, DedupOps.pairs)),
    Q("q100_shard_manifest", shardManifest(_, _), Some(shardManifestSql),
      "per-shard loader manifest: doc/token/sequence counts, last " +
        "position, and a sorted member-id digest — re-shard drift " +
        "detection as a string compare"),
    Q("q110_budget_apportion", budgetApportion(_, _),
      Some(budgetApportionSql),
      "largest-remainder apportionment of a 1M-token budget across " +
        "languages: integer quotas summing exactly to the budget"),
    Q("q128_length_policy", lengthPolicy, Some(lengthPolicySql),
      "corpus-derived length-outlier gate: histogram-sketch p5/p95 " +
        "cutoff bins, 1-row broadcast verdict — no global window, " +
        "no single-partition exchange"),
    Q("q160_unimax_mix", unimaxMix, Some(unimaxMixSql),
      "UniMax waterfilling mix: equal-per-source budget with " +
        "availability caps and exact largest-remainder closure — the " +
        "diversity-maximizing complement to q110's proportional " +
        "apportionment, integer-exact allocations + epoch ppm"),
    Q("q169_cluster_quality", clusterQuality, Some(clusterQualitySql),
      "near-dup quality contagion: strict-majority cluster vote over " +
        "per-copy quality bits (ties demote), with consensus strength " +
        "and the overridden rows a gate-tuning review reads",
      rides = Seq(DedupOps.clusters, DedupOps.pairs)),
    Q("q168_seq_objectives", seqObjectives, Some(seqObjectivesSql),
      "UL2-style per-sequence objective draw: causal/prefix/span in " +
        "2:1:1 by the md5 device, with per-objective parameters " +
        "(visible prefix length, noise rate + 60-bit placement seed)"),
    Q("q167_loss_weights", lossWeights, Some(lossWeightsSql),
      "dedup-aware count-once loss correction per packed sequence: " +
        "token-weighted mean 1e6/cluster_size discount over the " +
        "documents inside each training sequence, real tokens only",
      rides = Seq(DedupOps.clusters, DedupOps.pairs)),
    Q("q166_mix_policy_compare", mixPolicyCompare,
      Some(mixPolicyCompareSql),
      "the three mixing policies (proportional / temperature / " +
        "UniMax) side by side on one lang domain at one budget, with " +
        "per-lang spread_ppm — the alpha-axis decision table"),
    Q("q165_dsir_draw", dsirDraw, Some(dsirDrawSql),
      "DSIR importance resampling executed: weight-bin quantization, " +
        "Hamilton bin quotas proportional to weight mass, md5-ordered " +
        "per-bin draw — the deterministic integer form of " +
        "probability-proportional-to-weight document resampling",
      rides = Seq(dsir)),
    Q("q163_epoch_shuffle", epochShuffle, Some(epochShuffleSql),
      "deterministic per-epoch loader order: md5-salted within-shard " +
        "permutation of the q91 packed sequences with a round-robin " +
        "global step — reproducible epochs, no global exchange"),
    Q("q162_temperature_mix", temperatureMix, Some(temperatureMixSql),
      "temperature-scaled mix at alpha=1/2: q110's largest-remainder " +
        "apportionment over floor(sqrt(n)) weights — the " +
        "low-resource-upweighting midpoint between proportional " +
        "(alpha=1) and UniMax (alpha->0), integer-exact end to end"),
    Q("q113_quota_sample", quotaSample(_, _), Some(quotaSampleSql),
      "quota-filling corpus draw: md5-ordered per-language documents " +
        "until the q110 quota closes — the executed training mix"),
    Q("q133_length_matched", lengthMatchedSample(_, _),
      Some(lengthMatchedSampleSql),
      "distribution-matched subsampling: target-language draw whose " +
        "length histogram matches the reference language's, per-bin " +
        "largest-remainder quotas + deterministic md5-prefix draw"),
    Q("q135_tokenizer_fertility", tokenizerFertility,
      Some(tokenizerFertilitySql),
      "per-source tokenizer fertility card: symbols per 1000 chars " +
        "and percent saved by the mined merges, integer-exact rollup " +
        "of the q106 application chain",
      rides = Seq(bpeMerges)),
    Q("q187_snapshot_diff", snapshotDiff, Some(snapshotDiffSql),
      "corpus snapshot CDC: co-partitioned full-outer digest join -> " +
        "added/deleted/changed/unchanged verdicts — the refresh diff " +
        "that feeds the incremental dedup/index/take-down paths"),
    Q("q189_k_anon_generalize", kAnonGeneralize,
      Some(kAnonGeneralizeSql),
      "k-anonymity generalization walk: per doc, the most specific " +
        "quasi-identifier level whose cohort holds >= 5 docs (3-step " +
        "lattice, suppress at 0) — three bounded-key counts + keyed " +
        "joins, no windows"))
}
