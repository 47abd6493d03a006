package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorExpressions.cosine
import graft.operators.Operators
import graft.sources.Tables

/** Similarity search over the `embeddings` table (north star). All
  * similarity math runs through the codegen [[graft.functions.VectorExpressions]]
  * dot product, not interpreted higher-order functions.
  *
  * Oracle strategy: floating-point similarity VALUES differ in low bits
  * between engines, but RANKINGS don't (random-vector similarity gaps
  * are ~1e-2, float noise ~1e-7) — so every oracle-checked output emits
  * ranks/ids, never raw similarity doubles.
  */
object VectorOps {

  /** Scale-safe exact cosine top-k over (vec_id, sim):
    * [[Operators.topK]] plans as TakeOrderedAndProject — each partition
    * keeps only its local top-k — versus a global `Window.orderBy`,
    * which shuffles the ENTIRE candidate set to one partition to rank
    * it (the 100× scale-killer). */
  private def rankedTopK(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    // Spark orders NaN ABOVE every real number, so one zero-norm
    // embedding (cosine 0/0 = NaN) would rank as everyone's best match.
    // Guard in the SORT KEY (NaN → -∞, ranks last) rather than with an
    // isnan filter: a filter on `sim` gets predicate-pushed through the
    // projection into the join condition, where the dot product would
    // be recomputed per row — doubling the flops of the scan-dominant
    // stage. nanvl over the already-materialized column is free.
    val key = nanvl($"sim", lit(Double.NegativeInfinity))
    Operators.topK(scored, Seq(key.desc), $"vec_id".asc, k)
      .select($"rank", $"vec_id")
  }

  /** Brute-force top-k: the 5 nearest vectors to vec_id 0 by cosine.
    * The single query row is broadcast; the scan side never shuffles.
    * This is the correctness baseline ANN variants are judged against. */
  def knnTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val query = emb.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
    rankedTopK(
      emb.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(query))
        .withColumn("sim", cosine($"embedding", $"q_emb"))
        .select($"vec_id", $"sim"),
      k = 5)
  }

  /** Oracle-side mirror of the engine's nanvl(sim, -∞) ranking guard:
    * both engines order NaN above all reals, so the twins must demote
    * NaN the same way the engine does or a zero-norm row would diverge. */
  private def duckNanvl(simExpr: String): String =
    s"CASE WHEN isnan($simExpr) THEN CAST('-infinity' AS DOUBLE) " +
      s"ELSE $simExpr END"

  private[graft] val knnTopKSql =
    s"""SELECT rank, vec_id FROM (
      |  SELECT CAST(ROW_NUMBER() OVER (
      |      ORDER BY ${duckNanvl("list_cosine_similarity(b.embedding, q.embedding)")} DESC,
      |               b.vec_id ASC) AS BIGINT) AS rank,
      |    b.vec_id
      |  FROM embeddings b,
      |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |  WHERE b.vec_id <> 0) t
      |WHERE rank <= 5""".stripMargin

  /** IVF-style nearest neighbor for EVERY vector: the label column acts
    * as the coarse quantizer, so candidate pairs are restricted to the
    * same partition cell — the join is equi on label (shuffle hash),
    * never an all-pairs cross product. At 1000 executors this scales as
    * sum of per-cell squares, not corpus². */
  def nnPerVector(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val a = emb.select($"vec_id".as("a_id"), $"embedding".as("a_emb"),
      $"label")
    val b = emb.select($"vec_id".as("b_id"), $"embedding".as("b_emb"),
      $"label".as("b_label"))
    a.join(b, $"label" === $"b_label" && $"a_id" =!= $"b_id")
      // NaN guard inside the aggregation key (see rankedTopK: a filter
      // would push into the join condition and recompute the dot); a
      // zero-norm neighbor ranks last instead of winning the argmax
      .withColumn("sim", nanvl(cosine($"a_emb", $"b_emb"),
        lit(Double.NegativeInfinity)))
      // argmax via max(struct): lexicographic (sim desc, b_id asc through
      // negation) — a partial-aggregatable form, so the shuffle moves one
      // row per (a_id, partition) instead of every candidate pair. The
      // row_number/filter idiom would shuffle ALL pairs.
      .groupBy($"a_id")
      .agg(max(struct($"sim", (-$"b_id").as("neg"))).as("m"))
      .select($"a_id".as("vec_id"), (-$"m.neg").cast("long").as("nn_id"))
  }

  private val nnPerVectorSql =
    s"""SELECT vec_id, nn_id FROM (
      |  SELECT a.vec_id, b.vec_id AS nn_id,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY ${duckNanvl("list_cosine_similarity(a.embedding, b.embedding)")} DESC,
      |               b.vec_id ASC) AS rn
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id <> b.vec_id) t
      |WHERE rn = 1""".stripMargin

  /** Similar-pair mining: same-label pairs above a cosine threshold —
    * the embedding-cosine near-dup primitive. 0.35 sits in a gap of the
    * data's similarity distribution (max ~0.51, noise ~1e-7), so the
    * float-boundary risk is nil. */
  def similarPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val a = emb.select($"vec_id".as("a_id"), $"embedding".as("a_emb"), $"label")
    val b = emb.select($"vec_id".as("b_id"), $"embedding".as("b_emb"),
      $"label".as("b_label"))
    a.join(b, $"label" === $"b_label" && $"a_id" < $"b_id")
      // Spark treats NaN as greater than any number, so a bare
      // threshold would ADMIT zero-norm pairs; nanvl(-1) fails them in
      // the same single cosine evaluation
      .filter(nanvl(cosine($"a_emb", $"b_emb"), lit(-1d)) > 0.35)
      .select($"a_id", $"b_id")
  }

  private val similarPairsSql =
    s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |FROM embeddings a JOIN embeddings b
      |  ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE ${duckNanvl("list_cosine_similarity(a.embedding, b.embedding)")}
      |  > 0.35""".stripMargin

  /** IVF (inverted-file) approximate top-k: KMeans centroids act as the
    * coarse quantizer (index build), search probes only the `probes`
    * cells nearest to the query — at corpus scale the scan shrinks by
    * ~nCells/probes while the index build is a one-off batch job. The
    * only driver-side data are the query row and the centroid table
    * (parameters, not data). With probes == nCells this degenerates to
    * exact brute force — the equivalence is asserted in ScalaTest. */
  /** Few iterations: the quantizer only partitions space; cell-boundary
    * quality barely moves recall, and the probe-all == brute-force
    * contract holds for ANY assignment. Index build time halves. */
  private def fitQuantizer(emb: DataFrame, nCells: Int) = {
    import org.apache.spark.ml.clustering.KMeans
    new KMeans().setK(nCells).setSeed(42).setMaxIter(5)
      .setFeaturesCol("v").setPredictionCol("cell").fit(emb)
  }

  /** Probe-cell choice by squared L2 — pure driver math over the
    * centroid PARAMETERS (nCells rows) and the collected query row. */
  private def nearestCells(centers: Seq[(Int, Array[Double])],
      qRow: Array[Float], probes: Int): Seq[Int] =
    centers.map { case (i, c) =>
      val d = c.zip(qRow).map { case (x, y) => val t = x - y; t * t }.sum
      (i, d)
    }.sortBy(_._2).take(probes).map(_._1).toSeq

  /** Score (vec_id, embedding) candidates against a driver-held query
    * vector and rank the top-k. The query side is a one-row
    * LocalRelation from the already-collected parameter — re-deriving
    * it from the corpus/index would cost a second full, UNPRUNED scan
    * just to fetch a row the driver already holds. */
  private def rankAgainstQuery(candidates: DataFrame, qRow: Array[Float],
      k: Int): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val query = Seq(qRow.toSeq).toDF("q_emb")
    rankedTopK(
      candidates.crossJoin(broadcast(query))
        .withColumn("sim", cosine($"embedding", $"q_emb"))
        .select($"vec_id", $"sim"),
      k = k)
  }

  def ivfSearch(spark: SparkSession, dir: String, nCells: Int,
      probes: Int, k: Int = 5): DataFrame = {
    import spark.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("v", array_to_vector($"embedding"))
    val model = fitQuantizer(emb, nCells)
    val assigned = model.transform(emb)
    val qRow = assigned.filter($"vec_id" === 0)
      .select($"embedding").head.getSeq[Float](0).toArray
    val probeCells = nearestCells(
      model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) },
      qRow, probes)
    rankAgainstQuery(
      assigned.filter($"vec_id" =!= 0 && $"cell".isin(probeCells: _*))
        .select($"vec_id", $"embedding"),
      qRow, k)
  }

  def ivfKnn(spark: SparkSession, dir: String): DataFrame =
    ivfSearch(spark, dir, nCells = 16, probes = 4)

  /** Deterministic grid-IVF (q33): identical IVF mechanics to
    * [[ivfSearch]] — coarse-quantize the corpus, probe the cells
    * nearest the query, rank only within probed cells — but the coarse
    * quantizer is INTEGER-exact and engine-portable: centroid
    * components are md5-derived integers in [-512, 512) (the corpus's
    * floor(v×1024) quantization spans ≈[-538, 470], so the grid sits
    * in-distribution) and assignment is argmin of squared-L2 between
    * the quantized vector and each centroid, all long arithmetic
    * (|q|,|ct| < 2^10 at this data; even |q| ≤ 2^20 keeps the 64-term
    * sum under 2^49). Spark and DuckDB therefore agree bit-for-bit on
    * every cell assignment AND on the probe set, which makes the
    * RESTRICTED-probe result itself oracle-checkable — q58's
    * integer-membership trick applied to IVF, retiring the registry's
    * last rows-only query. Floats only rank the final candidates
    * (rank/ids-only output, q30's contract). The KMeans quantizer
    * stays as [[ivfSearch]]: q37 oracle-checks its probe-all degenerate
    * and the physical-index path builds on it. */
  /** First 32 md5 bits of a seed string as a non-negative Long — the
    * engine-portable parameter derivation both integer-exact ANN paths
    * (q33 grid centroids, q58 SRP hyperplanes) share. DuckDB twin:
    * `CAST(concat('0x', substr(md5(seed), 1, 8)) AS BIGINT)`. One
    * definition on purpose: each site must stay bit-identical to its
    * oracle SQL, so the derivation lives in exactly one place. */
  private[graft] def md5Long8(seed: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(seed.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16)

  /** Grid cell count — `private[graft]` so the streaming drift monitor
    * ([[graft.streaming.StreamingQueries.cellDriftStream]]) tracks a
    * grid resize instead of silently dropping cells (ADVICE r10). */
  private[graft] val ivfGridCells = 16
  private[graft] def ivfGridCentroids(
      nCells: Int = ivfGridCells): IndexedSeq[IndexedSeq[Long]] =
    (0 until nCells).map { c =>
      (0 until 64).map(d => md5Long8(s"c$c:$d") % 1024 - 512)
    }

  /** Adds the integer-exact grid `cell` column via one native
    * [[graft.functions.VectorExpressions.NearestIndex]] expression
    * (quantize + squared-L2 argmin over the literal centroid table as
    * a compiled loop; ties break to the lowest cell id, matching the
    * oracle's (dist, c) ordering). Shared by the grid-IVF search (q33)
    * and the IVF-PQ composition (q68). */
  /** The floor(v×QuantScale) integer quantization every integer-exact
    * ANN path builds on (float→double cast and ×2^10 are exact, floor
    * is unambiguous). ONE scale constant shared by the driver-side form
    * here and the codegen expressions (NearestIndex/SrpBucket take it
    * as a parameter) — see [[md5Long8]]: a scale tweak applied to one
    * site but not another would desynchronize corpus assignment from
    * probe choice. DuckDB twin:
    * `CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)`. */
  private[graft] val QuantScale = 1024L
  private def quantizeRow(v: Array[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * QuantScale).toLong)

  private[graft] def withGridCell(df: DataFrame): DataFrame =
    df.withColumn("cell", graft.functions.VectorExpressions
      .nearestIndex(col("embedding"), ivfGridCentroids(), 0, QuantScale))

  /** Probe-cell choice for the grid quantizer: the SAME integer math,
    * over parameters (nCells centroid rows) and the one collected
    * query row — pure driver arithmetic. The `cents` overload serves
    * readers that load the centroid table from a persisted index's
    * sibling parquet instead of re-deriving it. */
  private def gridProbeCells(cents: IndexedSeq[IndexedSeq[Long]],
      qQv: Array[Long], probes: Int): Seq[Int] =
    cents.zipWithIndex.map { case (ct, i) =>
      (i, ct.zip(qQv).map { case (cv, q) => val t = q - cv; t * t }.sum)
    }.sortBy { case (i, d) => (d, i) }.take(probes).map(_._1).toSeq

  private def gridProbeCells(qQv: Array[Long], probes: Int): Seq[Int] =
    gridProbeCells(ivfGridCentroids(), qQv, probes)

  def ivfGridKnn(spark: SparkSession, dir: String,
      probes: Int = 4, k: Int = 5): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val qRow = emb.filter($"vec_id" === 0)
      .select($"embedding").head.getSeq[Float](0).toArray
    val probeCells = gridProbeCells(quantizeRow(qRow), probes)
    rankAgainstQuery(
      withGridCell(emb)
        .filter($"vec_id" =!= 0 && $"cell".isin(probeCells: _*))
        .select($"vec_id", $"embedding"),
      qRow, k)
  }

  /** The grid quantizer's CTE blocks (g*-prefixed names so they compose
    * with the PQ CTEs in q68's/q70's oracles without collisions),
    * split so the quantized-vector source is pluggable: parameters
    * (dims, cells, md5 centroids), then assignment/probe CTEs over ANY
    * `(vec_id, d, q)` CTE — the embeddings table for q33/q68, the
    * densified q69 vectors for q70. One definition of the centroid
    * derivation, like [[md5Long8]]. */
  private val gridParamCtes =
    """gdims AS (SELECT unnest(range(64)) AS d),
      |gcells AS (SELECT unnest(range(16)) AS c),
      |gcent AS (SELECT c, d,
      |    CAST(concat('0x', substr(md5(concat('c', c, ':', d)), 1, 8)) AS BIGINT)
      |      % 1024 - 512 AS ct
      |  FROM gcells, gdims)""".stripMargin

  /** floor(v×1024) quantization of the embeddings table — the
    * `(vec_id, d, q)` source the embedding-based grid oracles use. */
  private val gridQvEmbeddings =
    """gqv AS (SELECT vec_id, d,
      |    CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1024) AS BIGINT) AS q
      |  FROM embeddings, gdims)""".stripMargin

  /** Per-(vector, cell) distances, argmin cell assignment, and the
    * probe set of the query row (vec_id 0), over the quantized CTE
    * named by `qv`. `probes` widens gprobe for the over-probe
    * consumers (q181's filtered search); every other caller keeps the
    * default 4. */
  private def gridSearchCtes(qv: String, probes: Int = 4): String =
    s"""gdist AS (SELECT vec_id, c, SUM((q - ct) * (q - ct)) AS dist
      |  FROM $qv JOIN gcent USING (d) GROUP BY vec_id, c),
      |gassign AS (SELECT vec_id, c AS cell FROM (
      |    SELECT vec_id, c,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      |    FROM gdist) t
      |  WHERE rn = 1),
      |gprobe AS (SELECT c AS cell FROM gdist WHERE vec_id = 0
      |  ORDER BY dist, c LIMIT $probes)""".stripMargin

  private val gridCtes = Seq(gridParamCtes, gridQvEmbeddings,
    gridSearchCtes("gqv")).mkString(",\n")

  /** Oracle: the identical integer quantizer in DuckDB — same
    * md5-derived centroids, same floor(v×1024) quantization, same
    * argmin assignment and probe choice — then q30's rank/ids-only
    * cosine ranking over the probed cells. */
  private val ivfGridKnnSql =
    s"""WITH $gridCtes,
      |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
      |SELECT rank, vec_id FROM (
      |  SELECT CAST(ROW_NUMBER() OVER (
      |      ORDER BY ${duckNanvl("list_cosine_similarity(e.embedding, q.q_emb)")} DESC,
      |               e.vec_id ASC) AS BIGINT) AS rank,
      |    e.vec_id
      |  FROM embeddings e JOIN gassign a ON e.vec_id = a.vec_id, q
      |  WHERE e.vec_id <> 0 AND a.cell IN (SELECT cell FROM gprobe)) t
      |WHERE rank <= 5""".stripMargin

  /** q181's over-probe width: the metadata filter keeps ~1/3 of the
    * corpus, so the probe set doubles (4 → 8 of 16 cells) to hold
    * candidate volume — the standard filtered-search compensation. */
  private val FilteredProbes = 8

  /** q181 — METADATA-FILTERED ANN: top-5 cosine among vectors whose
    * label ≡ 0 (mod 3), served from the q33 grid index. The two
    * decisions that make filtered vector search work at scale are
    * both visible in the plan: (1) the predicate is applied INSIDE
    * the probed-cell scan (filter-during-search), never as a
    * post-filter over an unfiltered top-k — a post-filter returns
    * < k rows whenever the top-k is predicate-poor, the classic
    * filtered-ANN failure; (2) the probe set widens 4 → 8 to restore
    * candidate volume lost to the ~1/3-selective predicate. Both the
    * probe choice and cell assignment stay integer-exact, so the
    * restricted-probe result hash-checks like q33's. On the persisted
    * form of this index the label would be a codes-table column and
    * this filter a parquet pushed predicate beside the cell partition
    * prune. */
  def filteredAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val qRow = emb.filter($"vec_id" === 0)
      .select($"embedding").head.getSeq[Float](0).toArray
    val probeCells = gridProbeCells(quantizeRow(qRow), FilteredProbes)
    rankAgainstQuery(
      withGridCell(emb)
        .filter($"vec_id" =!= 0 && $"label" % 3 === 0 &&
          $"cell".isin(probeCells: _*))
        .select($"vec_id", $"embedding"),
      qRow, k = 5)
  }

  /** Oracle: q33's grid CTEs with the widened probe LIMIT and the
    * label predicate inside the candidate scan. */
  private val filteredAnnSql =
    s"""WITH ${Seq(gridParamCtes, gridQvEmbeddings,
        gridSearchCtes("gqv", FilteredProbes)).mkString(",\n")},
      |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
      |SELECT rank, vec_id FROM (
      |  SELECT CAST(ROW_NUMBER() OVER (
      |      ORDER BY ${duckNanvl("list_cosine_similarity(e.embedding, q.q_emb)")} DESC,
      |               e.vec_id ASC) AS BIGINT) AS rank,
      |    e.vec_id
      |  FROM embeddings e JOIN gassign a ON e.vec_id = a.vec_id, q
      |  WHERE e.vec_id <> 0 AND e.label % 3 = 0
      |    AND a.cell IN (SELECT cell FROM gprobe)) t
      |WHERE rank <= 5""".stripMargin

  /** q182 — recall audit of the filtered search: |q181 ∩ exact
    * filtered top-5| as a one-row report. The exact arm is the
    * brute-force filtered ranking (what q181 approximates); the
    * audit is the number every filtered-ANN deployment publishes,
    * and both arms are deterministic here so the count itself
    * hash-checks. Same shape as q83's unfiltered recall audit, over
    * the predicate-constrained search q181 adds. */
  def filteredRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val qRow = emb.filter($"vec_id" === 0)
      .select($"embedding").head.getSeq[Float](0).toArray
    val exact = rankAgainstQuery(
      emb.filter($"vec_id" =!= 0 && $"label" % 3 === 0)
        .select($"vec_id", $"embedding"),
      qRow, k = 5)
    filteredAnn(spark, dir).select($"vec_id")
      .join(exact.select($"vec_id"), "vec_id")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(5L).as("k"), $"n_hit")
  }

  private val filteredRecallSql =
    s"""WITH ${Seq(gridParamCtes, gridQvEmbeddings,
        gridSearchCtes("gqv", FilteredProbes)).mkString(",\n")},
      |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
      |ann AS (SELECT vec_id FROM (
      |  SELECT ROW_NUMBER() OVER (
      |      ORDER BY ${duckNanvl("list_cosine_similarity(e.embedding, q.q_emb)")} DESC,
      |               e.vec_id ASC) AS rank,
      |    e.vec_id
      |  FROM embeddings e JOIN gassign a ON e.vec_id = a.vec_id, q
      |  WHERE e.vec_id <> 0 AND e.label % 3 = 0
      |    AND a.cell IN (SELECT cell FROM gprobe)) t
      |  WHERE rank <= 5),
      |ex AS (SELECT vec_id FROM (
      |  SELECT ROW_NUMBER() OVER (
      |      ORDER BY ${duckNanvl("list_cosine_similarity(e.embedding, q.q_emb)")} DESC,
      |               e.vec_id ASC) AS rank,
      |    e.vec_id
      |  FROM embeddings e, q
      |  WHERE e.vec_id <> 0 AND e.label % 3 = 0) t
      |  WHERE rank <= 5)
      |SELECT CAST(5 AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_hit
      |FROM ann JOIN ex USING (vec_id)""".stripMargin

  /** q183's serving constants: the rerank window (candidate pool) and
    * result size. λ = 1/2 mixes relevance and diversity; halving is
    * exact in binary, so the greedy scores are the same one-subtraction
    * double expression in both engines. */
  private val MmrPool = 20
  private val MmrK = 5

  /** q183 — MMR (maximal-marginal-relevance) diversified rerank: from
    * the exact cosine top-20 pool, greedily select 5 results maximizing
    * λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s) — the standard
    * redundancy-suppressing rerank a RAG serving stack runs between
    * retrieval and the context window (near-duplicate chunks crowd out
    * coverage otherwise). Round 1 is the plain cosine argmax; each
    * later round penalizes similarity to everything already chosen;
    * ties break to the lower vec_id.
    *
    * Scale shape: the DISTRIBUTED work is the pool selection
    * (TakeOrderedAndProject over the corpus — q30's plan) and the
    * pool×pool similarity matrix (broadcast self-join, W·(W−1) rows);
    * the greedy loop itself is inherently sequential in k, runs over
    * the collected W×W matrix, and is O(k·W) driver arithmetic on
    * SERVING CONSTANTS (W=20, k=5) — the q76-rerank/q179 bounded-
    * parameter precedent, invariant in corpus size. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame =
    mmrRerankOf(Tables(spark, dir, "embeddings"))

  /** q183 over any (vec_id, embedding) frame with the query at
    * vec_id 0 — liftable so the one-candidate edge case is
    * spec-checkable on a synthetic frame. */
  private[graft] def mmrRerankOf(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qRow = emb.filter($"vec_id" === 0)
      .select($"embedding").head.getSeq[Float](0).toArray
    val query = Seq(qRow.toSeq).toDF("q_emb")
    val pool = emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(query))
      .withColumn("simq",
        nanvl(cosine($"embedding", $"q_emb"), lit(Double.NegativeInfinity)))
      .orderBy($"simq".desc, $"vec_id".asc).limit(MmrPool)
      .select($"vec_id", $"embedding", $"simq")
    val a = pool.select($"vec_id".as("a_id"), $"embedding".as("a_emb"),
      $"simq".as("a_simq"))
    val b = pool.select($"vec_id".as("b_id"), $"embedding".as("b_emb"))
    val mat = a.join(broadcast(b), $"a_id" =!= $"b_id")
      .select($"a_id", $"a_simq", $"b_id",
        nanvl(cosine($"a_emb", $"b_emb"), lit(Double.NegativeInfinity))
          .as("s"))
      .collect()
    // simq from the POOL, not the pair matrix: a one-candidate pool
    // has an empty matrix, and deriving simq from it would return an
    // empty result where the oracle's r1 emits that candidate
    // (review finding, this round)
    val simq = pool.select($"vec_id", $"simq").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pairSim = mat.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    var selected = Vector.empty[Long]
    var remaining = simq.keySet
    while (selected.size < MmrK && remaining.nonEmpty) {
      val pick = remaining.toSeq.map { id =>
        val score =
          if (selected.isEmpty) simq(id)
          else 0.5 * simq(id) - 0.5 * selected.map(s => pairSim((id, s))).max
        (score, id)
      }.minBy { case (score, id) => (-score, id) }._2
      selected :+= pick
      remaining -= pick
    }
    selected.zipWithIndex
      .map { case (id, i) => (i + 1L, id) }.toDF("rank", "vec_id")
  }

  /** Oracle: the greedy rounds unrolled as CTEs (the q101/q157
    * iterative-oracle device) — r1 is the cosine argmax, each rN picks
    * the best remaining candidate against the accumulated selection. */
  private val mmrRerankSql = {
    val simQ = duckNanvl("list_cosine_similarity(e.embedding, q.q_emb)")
    val simP = duckNanvl("list_cosine_similarity(a.embedding, b.embedding)")
    def round(r: Int, sel: String) =
      s"""r$r AS (SELECT p.vec_id FROM pool p
        |  WHERE p.vec_id NOT IN (SELECT vec_id FROM $sel)
        |  ORDER BY 0.5 * p.simq - 0.5 * (SELECT MAX(ps.s) FROM ps
        |      WHERE ps.a_id = p.vec_id
        |        AND ps.b_id IN (SELECT vec_id FROM $sel)) DESC,
        |    p.vec_id LIMIT 1)""".stripMargin
    s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
      |sc AS (SELECT e.vec_id, e.embedding, $simQ AS simq
      |  FROM embeddings e, q WHERE e.vec_id <> 0),
      |pool AS (SELECT * FROM sc ORDER BY simq DESC, vec_id LIMIT $MmrPool),
      |ps AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, $simP AS s
      |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
      |r1 AS (SELECT vec_id FROM pool ORDER BY simq DESC, vec_id LIMIT 1),
      |${round(2, "r1")},
      |sel2 AS (SELECT vec_id FROM r1 UNION ALL SELECT vec_id FROM r2),
      |${round(3, "sel2")},
      |sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM r3),
      |${round(4, "sel3")},
      |sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM r4),
      |${round(5, "sel4")}
      |SELECT CAST(1 AS BIGINT) AS rank, vec_id FROM r1
      |UNION ALL SELECT 2, vec_id FROM r2
      |UNION ALL SELECT 3, vec_id FROM r3
      |UNION ALL SELECT 4, vec_id FROM r4
      |UNION ALL SELECT 5, vec_id FROM r5""".stripMargin
  }

  /** q184 — SQ8 scalar-quantized ANN, the third compression point on
    * the accuracy/size curve beside full-precision (q30) and PQ
    * (q67): each dimension is affinely mapped to an integer code in
    * [0, 255] using per-dimension corpus min/max — 4× smaller than
    * float32, no codebook training — and search ranks by integer
    * squared-L2 between code vectors, one codegen loop
    * ([[graft.functions.VectorExpressions.LongVecSqDist]]) per
    * candidate. The quantization arithmetic is the same double
    * expression in both engines and floor is unambiguous, so codes —
    * and therefore the emitted integer distances — hash-check exactly.
    *
    * Scale shape: the stats pass is a 64-key partial-aggregatable
    * min/max (one scan, map-side combined); the collected stats are a
    * 128-double bounded parameter (the centroid/codebook precedent);
    * search is a broadcast-query scan over codes. The deployed form
    * persists codes beside the PQ tables — same cell partitioning,
    * 4 bytes/dim → 1. */
  /** Adds the SQ8 `codes` column: per-dimension corpus min/max
    * (one 64-key partial-aggregatable scan, collected as the
    * 128-double bounded parameter) then the affine map
    * code_d = floor(((x − mn_d) / (mx_d − mn_d)) · 255), constant
    * dims (mx == mn) pinned to 0 — mirrored verbatim in the q184/q193
    * oracles. Shared by the flat scan (q184) and the IVF composition
    * (q193) so the quantizer cannot drift between them. Stats derive
    * from the FULL frame passed in, so both consumers see the same
    * codes for the same corpus. */
  private def withSq8Codes(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val st = emb
      .select(posexplode($"embedding").as(Seq("d", "x")))
      .groupBy($"d")
      .agg(min($"x".cast("double")).as("mn"),
        max($"x".cast("double")).as("mx"))
      .orderBy($"d").collect()
    val mnLit = array(st.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val mxLit = array(st.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
    emb.withColumn("codes", transform($"embedding", (x, i) => {
      val lo = element_at(mnLit, i + lit(1))
      val hi = element_at(mxLit, i + lit(1))
      when(hi === lo, lit(0L)).otherwise(
        floor((x.cast("double") - lo) / (hi - lo) * lit(255)))
    }))
  }

  def sq8Ann(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val coded = withSq8Codes(emb).select($"vec_id", $"codes")
    val q = coded.filter($"vec_id" === 0).select($"codes".as("q_codes"))
    coded.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("idist", graft.functions.VectorExpressions
        .longVecSqDist($"codes", $"q_codes"))
      .transform(Operators.topK(_, Seq($"idist".asc), $"vec_id".asc, 5))
      .select($"rank", $"vec_id", $"idist")
  }

  /** q193 — IVF-SQ8: the probe-pruned composition of the grid coarse
    * quantizer with the SQ8 codes (FAISS's IVF-SQ shape, the third
    * composition after IVF-PQ q68 and IVF-flat q33). The scan reads
    * codes only within the 4 probed cells — probes/nCells of the
    * corpus — and ranks by the integer squared-L2 codegen loop, so
    * BOTH the pruning decision and every emitted distance are
    * integer-exact and the composed result hash-checks end to end.
    * Against q68: SQ8 trades 16× less compression (64 B vs 4 B per
    * vector) for lossless-er distances (per-dimension resolution 255
    * vs 16 codewords per 8-dim subspace) — q191's table is where the
    * trade is read. Same body as [[sq8Ann]] plus the cell filter; the
    * persisted form adds the codes as a column beside the PQ codes in
    * the cell-partitioned index (one more narrow column, the same
    * partition prune). */
  def ivfSq8Ann(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val qRow = emb.filter($"vec_id" === 0)
      .select($"embedding").head.getSeq[Float](0).toArray
    val probeCells = gridProbeCells(quantizeRow(qRow), probes = 4)
    val coded = withSq8Codes(withGridCell(emb))
      .select($"vec_id", $"cell", $"codes")
    val q = coded.filter($"vec_id" === 0).select($"codes".as("q_codes"))
    coded.filter($"vec_id" =!= 0 && $"cell".isin(probeCells: _*))
      .crossJoin(broadcast(q))
      .withColumn("idist", graft.functions.VectorExpressions
        .longVecSqDist($"codes", $"q_codes"))
      .transform(Operators.topK(_, Seq($"idist".asc), $"vec_id".asc, 5))
      .select($"rank", $"vec_id", $"idist")
  }

  /** Oracle: the grid CTEs choose the probe set, the s-prefixed SQ8
    * CTEs score inside it (q68's composition pattern). */
  private val ivfSq8AnnSql =
    s"""WITH $gridCtes,
      |sex AS (SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
      |  FROM embeddings, gdims),
      |sst AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM sex GROUP BY d),
      |scodes AS (SELECT vec_id, d,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE CAST(floor(((x - mn) / (mx - mn)) * 255) AS BIGINT)
      |    END AS c
      |  FROM sex JOIN sst USING (d))
      |SELECT rank, vec_id, idist FROM (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY idist, vec_id) AS BIGINT)
      |      AS rank,
      |    vec_id, idist
      |  FROM (SELECT a.vec_id,
      |      CAST(SUM((a.c - qc.c) * (a.c - qc.c)) AS BIGINT) AS idist
      |    FROM scodes a
      |    JOIN gassign ga ON ga.vec_id = a.vec_id
      |    JOIN scodes qc ON qc.d = a.d AND qc.vec_id = 0
      |    WHERE a.vec_id <> 0
      |      AND ga.cell IN (SELECT cell FROM gprobe)
      |    GROUP BY a.vec_id) t) u
      |WHERE rank <= 5""".stripMargin

  private val sq8AnnSql =
    """WITH dims AS (SELECT unnest(range(64)) AS d),
      |ex AS (SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
      |  FROM embeddings, dims),
      |st AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY d),
      |codes AS (SELECT vec_id, d,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE CAST(floor(((x - mn) / (mx - mn)) * 255) AS BIGINT)
      |    END AS c
      |  FROM ex JOIN st USING (d)),
      |dist AS (SELECT a.vec_id,
      |    CAST(SUM((a.c - qc.c) * (a.c - qc.c)) AS BIGINT) AS idist
      |  FROM codes a JOIN codes qc ON a.d = qc.d AND qc.vec_id = 0
      |  WHERE a.vec_id <> 0 GROUP BY a.vec_id)
      |SELECT rank, vec_id, idist FROM (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY idist, vec_id) AS BIGINT)
      |      AS rank,
      |    vec_id, idist
      |  FROM dist) t
      |WHERE rank <= 5""".stripMargin

  /** q191 — the compression menu's ACCURACY COLUMN: one recall row per
    * serving configuration — grid-IVF probe-4 (prune only), PQ ADC
    * (compress only), SQ8 (this round's affine int8) — each scored as
    * |method top-5 ∩ exact cosine top-5|. q83 audits recall of one
    * path in depth; this is the side-by-side table an engineer reads
    * to PICK the compression/pruning point, and every arm is the
    * already-proven integer-exact construction, so the whole table
    * hash-checks. Costs nothing new at scale: each arm is its own
    * query's plan (TakeOrderedAndProject scans), the intersections are
    * 5-row joins. */
  def compressionRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = knnTopK(spark, dir).select($"vec_id")
    def arm(m: String, df: DataFrame) =
      df.select($"vec_id").join(exact, "vec_id")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(m).as("method"), $"n_hit", lit(5L).as("k"))
    arm("grid_ivf", ivfGridKnn(spark, dir))
      .union(arm("pq_adc", pqAnn(spark, dir)))
      .union(arm("sq8", sq8Ann(spark, dir)))
  }

  /** Oracle: the three arms' existing CTE constructions composed in
    * one WITH (the q68 precedent for pq+grid; the SQ8 blocks carry an
    * s-prefix so their names cannot collide with the PQ `code`/`dist`
    * CTEs), intersected with the exact arm as scalar subqueries.
    * LAZY: this composes [[pqCodebookCtes]], which is defined LATER in
    * source order — an eager val here would interpolate null (the
    * object-val-init trap the md5Long8 docs warn about); laziness
    * defers the read to registry access time, after init completes. */
  private lazy val compressionRecallSql = pqCodebookCtes + ",\n" +
    gridCtes + ",\n" +
    s"""q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
      |ex AS (SELECT vec_id FROM (
      |  SELECT ROW_NUMBER() OVER (
      |      ORDER BY ${duckNanvl("list_cosine_similarity(b.embedding, q.q_emb)")} DESC,
      |               b.vec_id ASC) AS rank, b.vec_id
      |  FROM embeddings b, q WHERE b.vec_id <> 0) t WHERE rank <= 5),
      |gridids AS (SELECT vec_id FROM (
      |  SELECT ROW_NUMBER() OVER (
      |      ORDER BY ${duckNanvl("list_cosine_similarity(e.embedding, q.q_emb)")} DESC,
      |               e.vec_id ASC) AS rank, e.vec_id
      |  FROM embeddings e JOIN gassign a ON e.vec_id = a.vec_id, q
      |  WHERE e.vec_id <> 0 AND a.cell IN (SELECT cell FROM gprobe)) t
      |  WHERE rank <= 5),
      |pqids AS (SELECT vec_id FROM (
      |  SELECT ROW_NUMBER() OVER (ORDER BY t.adc ASC, t.vec_id ASC)
      |      AS rank, t.vec_id
      |  FROM (SELECT c.vec_id, SUM(l.dist) AS adc
      |        FROM code c JOIN dist l
      |          ON l.vec_id = 0 AND l.s = c.s AND l.w = c.cw
      |        WHERE c.vec_id <> 0 GROUP BY c.vec_id) t) u
      |  WHERE rank <= 5),
      |sex AS (SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
      |  FROM embeddings, gdims),
      |sst AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM sex GROUP BY d),
      |scodes AS (SELECT vec_id, d,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE CAST(floor(((x - mn) / (mx - mn)) * 255) AS BIGINT)
      |    END AS c
      |  FROM sex JOIN sst USING (d)),
      |sq8ids AS (SELECT vec_id FROM (
      |  SELECT ROW_NUMBER() OVER (ORDER BY idist, vec_id) AS rank, vec_id
      |  FROM (SELECT a.vec_id, SUM((a.c - qc.c) * (a.c - qc.c)) AS idist
      |        FROM scodes a JOIN scodes qc ON a.d = qc.d AND qc.vec_id = 0
      |        WHERE a.vec_id <> 0 GROUP BY a.vec_id) t) u
      |  WHERE rank <= 5)
      |SELECT 'grid_ivf' AS method,
      |  CAST((SELECT COUNT(*) FROM gridids g JOIN ex e
      |    ON g.vec_id = e.vec_id) AS BIGINT) AS n_hit,
      |  CAST(5 AS BIGINT) AS k
      |UNION ALL SELECT 'pq_adc',
      |  CAST((SELECT COUNT(*) FROM pqids p JOIN ex e
      |    ON p.vec_id = e.vec_id) AS BIGINT), CAST(5 AS BIGINT)
      |UNION ALL SELECT 'sq8',
      |  CAST((SELECT COUNT(*) FROM sq8ids s JOIN ex e
      |    ON s.vec_id = e.vec_id) AS BIGINT), CAST(5 AS BIGINT)"""
      .stripMargin

  /** q111 — SemDeDup-shaped semantic dedup: near-duplicate embeddings
    * are detected WITHIN coarse-quantizer cells only, never globally —
    * the Abbas et al. device that makes embedding-level dedup feasible
    * at corpus scale (pairwise work is Σ cell² instead of n², and each
    * cell's pair block is an equi-join bucket). q32 mines similar
    * pairs inside the PROVIDED label blocks (supervised); this derives
    * its blocks from the data via the q33 integer grid, so cell
    * assignment — and therefore the candidate set — is bit-identical
    * in both engines and the whole verdict column hash-checks.
    *
    * Policy (SemDeDup's): a vector is dropped iff a LOWER-id vector in
    * its cell is cosine-similar above the q32 threshold; the lowest id
    * of each similar group survives as the exemplar. Emits a total
    * accounting row per vector (vec_id, cell, kept) — the q93
    * lineage shape, not survivors-only, so downstream joins can audit
    * both sides. Known recall trade: near-dups straddling a cell
    * boundary are not compared — the price of never going global
    * (SemDeDup accepts it; raising recall = multi-probe assignment). */
  /** Sub-block row cap for the cell-scoped self-join: a cell with more
    * rows than this is salted into ceil(n/cap) sub-blocks per side, so
    * the largest single join block — and therefore the longest task —
    * is bounded no matter how skewed the cell histogram is. 2048 rows
    * per side caps a block at ~4.2 M candidate pairs. */
  private[queries] val CellBlockRows = 2048

  /** The SemDeDup accounting scaffold shared by q111 and q115: over a
    * (vec_id, embedding, cell) frame, drop any vector whose cell holds
    * a lower-id neighbor satisfying `isDup(a_emb, b_emb, a_nrm,
    * b_nrm)`; emit one (idCol, cell, kept) row per vector. One
    * definition so a policy fix (accounting shape, dup-flag null
    * handling) cannot drift between the embedding-table and document
    * forms.
    *
    * Two scale devices (VERDICT r6 #2), both result-invariant:
    *
    *  - `normOf(embedding)` is lifted to a per-VECTOR column before
    *    the self-join, so each pair evaluates one dot product plus two
    *    column reads instead of three dots. The callers keep the exact
    *    double-arithmetic shape (`dot / (a_nrm · b_nrm)`,
    *    `a_nrm² + b_nrm² − 2·dot`), so every similarity value — and
    *    therefore the hash-checked verdict column — is bit-identical
    *    to the recompute-per-pair form.
    *  - Cells larger than [[CellBlockRows]] are sub-split: each vector
    *    gets a deterministic sub-block `own = hash(id) mod fan` where
    *    `fan = ceil(cellRows / cap)` (a tiny per-cell table, broadcast
    *    back), the a-side replicates once per PARTNER block and the
    *    b-side once per OWN block, and the join key becomes
    *    (cell, sa, sb). Every within-cell pair lands in exactly one
    *    (sa, sb) block, so the candidate set — and the result — is
    *    unchanged, while the dominant-cell straggler becomes fan²
    *    bounded tasks (the q29 salted-join device applied to a
    *    self-join). Unskewed cells have fan = 1 and pay nothing. */
  /** The salted within-cell pair miner behind every cell-scoped dedup
    * shape: over any (cell, vec_id, embedding, nrm) frame — one row
    * per (vector, probed cell), so a vector may appear under SEVERAL
    * cells (multi-probe q124) or every vector under ONE synthetic cell
    * (the q125 global verification arm) — emit the (a_id, b_id) pairs
    * (a_id < b_id) satisfying `isDup`. The norm column arrives LIFTED
    * in the input (computed once per vector, ideally inside a
    * persisted artifact like [[probeAssignment]]) rather than per join
    * side. `cap` is the sub-block salt size: every within-cell pair
    * lands in exactly one (sa, sb) block regardless of its value, so
    * it is a pure parallelism lever — the r11 q125 drill showed the
    * single synthetic global cell running as ONE task under the
    * default [[CellBlockRows]] on a corpus smaller than one block. */
  private def saltedDupPairs(probed: DataFrame,
      isDup: (Column, Column, Column, Column) => Column,
      cap: Int = CellBlockRows): DataFrame = {
    val spark = probed.sparkSession
    import spark.implicits._
    val fan = probed.groupBy($"cell").agg(
      ceil(count(lit(1)) / lit(cap.toDouble)).cast("int")
        .as("fan"))
    val sided = probed
      .select($"cell", $"vec_id", $"embedding", $"nrm")
      .join(broadcast(fan), "cell")
      .withColumn("own", pmod(xxhash64($"vec_id"), $"fan").cast("int"))
    val a = sided.select($"cell", $"own".as("sa"),
      explode(expr("sequence(0, fan - 1)")).as("sb"),
      $"vec_id".as("a_id"), $"embedding".as("a_emb"), $"nrm".as("a_nrm"))
    val b = sided.select($"cell",
      explode(expr("sequence(0, fan - 1)")).as("sa"), $"own".as("sb"),
      $"vec_id".as("b_id"), $"embedding".as("b_emb"), $"nrm".as("b_nrm"))
    a.join(b, Seq("cell", "sa", "sb"))
      .filter($"a_id" < $"b_id" &&
        isDup($"a_emb", $"b_emb", $"a_nrm", $"b_nrm"))
      .select($"a_id", $"b_id")
  }

  /** Distinct lower-ranked ids flagged by [[saltedDupPairs]] — the
    * kept/dropped verdict every dedup consumer joins against. */
  private def saltedDupIds(probed: DataFrame,
      isDup: (Column, Column, Column, Column) => Column): DataFrame =
    saltedDupPairs(probed, isDup)
      .select(col("b_id").as("dup_id")).distinct()

  private def cellScopedDedup(cells: DataFrame, normOf: Column => Column,
      isDup: (Column, Column, Column, Column) => Column,
      idCol: String): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    // The cells frame is read four times (fan histogram, both join
    // sides, accounting) and for q115 it IS the docVectors pipeline —
    // feature-hash + densify, the dominant cost when recomputed per
    // reference (measured at 10x: 46.5 s recomputing vs 12 s cached).
    // persist() materializes it once during the fan broadcast; the
    // blocks are the smallest frame in the query ((id, cell, vector) ≈
    // corpus row count) and are released by the context cleaner with
    // the result. A 100 TB deployment writes this frame to storage
    // once — this is that materialization, in-session.
    // The norm lift is computed BEFORE the persist so the cached
    // blocks carry it (both join sides read it instead of each
    // recomputing the dot).
    val mat = cells.withColumn("nrm", normOf($"embedding")).persist()
    val dropped = saltedDupIds(
      mat.select($"cell", $"vec_id", $"embedding", $"nrm"), isDup)
    mat.select($"vec_id".as(idCol), $"cell")
      .join(dropped.withColumn("dup", lit(true)),
        col(idCol) === $"dup_id", "left")
      .select(col(idCol), $"cell",
        (!coalesce($"dup", lit(false))).as("kept"))
  }

  /** The two-probe assignment table — (vec_id, embedding, |v|, nearest
    * cell, second-nearest cell, label) from ONE scan of the embeddings
    * — an [[Artifact]] like [[annIndexTable]]: at deployment this is
    * THE assignment table a SemDeDup/contrastive pipeline writes to
    * storage once and every policy joins, instead of each re-scanning
    * the embeddings and re-deriving cells and norms. Materialized eagerly —
    * the q126 lesson: concurrent broadcast-exchange futures against a
    * lazy persist each race the whole lineage. */
  private[graft] val probeAsg = Artifacts[DataFrame]("vector.probe_assignment")
  private[graft] def probeAssignment(spark: SparkSession,
      dir: String): DataFrame =
    probeAsg.get(spark, dir) {
      import spark.implicits._
      import graft.functions.VectorExpressions.{fvecDot, nearestIndex,
        secondNearestIndex}
      val df = Tables(spark, dir, "embeddings")
        .select($"vec_id", $"embedding",
          sqrt(fvecDot($"embedding", $"embedding")).as("nrm"),
          nearestIndex($"embedding", ivfGridCentroids(), 0, QuantScale)
            .as("cell"),
          secondNearestIndex($"embedding", ivfGridCentroids(), 0,
            QuantScale).as("cell2"),
          $"label")
        .persist()
      df.count()
      df
    }

  /** The SemDeDup near-dup predicate over lifted norms — same
    * double-op order as cosine(): dot / (sqrt(a·a)·sqrt(b·b)); one
    * definition for q111/q124/q125 so the arms cannot drift. */
  private val cosDup35: (Column, Column, Column, Column) => Column = {
    import graft.functions.VectorExpressions.{fvecDot, normDiv}
    (ae, be, an, bn) =>
      nanvl(normDiv(fvecDot(ae, be), an * bn), lit(-1d)) > 0.35
  }

  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asg = probeAssignment(spark, dir)
    val dropped = saltedDupIds(
      asg.select($"cell", $"vec_id", $"embedding", $"nrm"), cosDup35)
    asg.select($"vec_id", $"cell")
      .join(dropped.withColumn("dup", lit(true)),
        $"vec_id" === $"dup_id", "left")
      .select($"vec_id", $"cell",
        (!coalesce($"dup", lit(false))).as("kept"))
  }

  /** q178 — per-cell PROTOTYPE extraction: for every occupied grid
    * cell, the member vector closest to the CELL CENTROID (quantized
    * integer L2, ties to the lowest vec_id) plus the cell's occupancy
    * — the coreset/diversity primitive of D4-style data pruning
    * (Tirumala et al.: dedup, then keep per-region representatives)
    * and the cluster-summary table an ANN deployment reports beside
    * its index. Dedup (q111) answers "which vectors are copies";
    * this answers the complementary selection question — "which ONE
    * vector stands for each region" — with the member count as the
    * region's weight for any downstream quota draw (q113's shape).
    *
    * Rides the memoized [[probeAssignment]] (q111 pays, this rides —
    * Bench-order-asserted); the distance to the OWN cell's centroid
    * re-derives through the same floor(v·1024) quantization as the
    * assignment itself, so membership and distances hash-check. The
    * zip_with/aggregate fold is interpreted (CodegenFallback) — off
    * the hot path at parameter scale; a deployment lifting this to a
    * persisted artifact gets the [[graft.functions.VectorExpressions]]
    * codegen treatment the ANN serving paths use.
    *
    * Scale shape: one scan of the assignment artifact, a map-side
    * per-row fold, ONE partial-aggregatable struct-min per cell —
    * ≤ 16 output rows, no join, no window over data. */
  def cellPrototypes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = typedLit(ivfGridCentroids().map(_.toIndexedSeq))
    val qv = expr("transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT))")
    val dist = aggregate(
      zip_with(qv, element_at(cents, ($"cell" + 1).cast("int")),
        (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    probeAssignment(spark, dir)
      .select($"vec_id", $"cell".cast("long").as("cell"),
        $"embedding")
      .withColumn("dist", dist)
      .groupBy($"cell")
      .agg(min(struct($"dist", $"vec_id")).as("m"),
        count(lit(1)).as("n_members"))
      .select($"cell", $"m.vec_id".as("vec_id"), $"m.dist".as("dist"),
        $"n_members")
  }

  /** Oracle: the shared grid CTEs already carry every ingredient —
    * `gassign` is the cell assignment, `gdist` the per-(vector, cell)
    * quantized distances; the prototype is one window over their
    * join. */
  private val cellPrototypesSql =
    s"""WITH $gridCtes
      |SELECT cell, vec_id, dist, n_members FROM (
      |  SELECT a.cell, a.vec_id, CAST(d.dist AS BIGINT) AS dist,
      |    ROW_NUMBER() OVER (PARTITION BY a.cell
      |      ORDER BY d.dist, a.vec_id) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY a.cell) AS BIGINT)
      |      AS n_members
      |  FROM gassign a JOIN gdist d
      |    ON d.vec_id = a.vec_id AND d.c = a.cell) t
      |WHERE rn = 1""".stripMargin

  private val semanticDedupSql =
    s"""WITH $gridCtes,
      |asg AS (
      |  SELECT e.vec_id, e.embedding, a.cell
      |  FROM embeddings e JOIN gassign a USING (vec_id)),
      |dup AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE ${duckNanvl("list_cosine_similarity(a.embedding, b.embedding)")}
      |    > 0.35)
      |SELECT s.vec_id, s.cell, d.vec_id IS NULL AS kept
      |FROM asg s LEFT JOIN dup d ON d.vec_id = s.vec_id""".stripMargin

  /** q124 — multi-probe SemDeDup: q111's policy with each vector
    * assigned to its TWO nearest grid cells (the documented recall
    * lever at `VectorOps` q111: near-dups straddling a cell boundary
    * are invisible to single-probe assignment — q125 measures
    * single-probe recall at only ~25% on this corpus). A pair is
    * compared iff the probe sets intersect; the verdict frame keeps
    * q111's exact shape (one row per vector, PRIMARY cell, kept).
    * Both assignments come from the same integer-exact argmin
    * expression (`rank = 1` selects the second-nearest under the
    * (dist, index) order), so the enlarged candidate set — and the
    * verdict — is still bit-identical in DuckDB. Candidate volume
    * doubles per probe (each side of the join carries one row per
    * probed cell); the salting bounds task size exactly as in q111. */
  def semanticDedupProbe2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asg = probeAssignment(spark, dir)
    val probed = asg.select($"cell", $"vec_id", $"embedding", $"nrm")
      .union(asg.select($"cell2".as("cell"), $"vec_id", $"embedding",
        $"nrm"))
    val dropped = saltedDupIds(probed, cosDup35)
    asg.select($"vec_id", $"cell")
      .join(dropped.withColumn("dup", lit(true)),
        $"vec_id" === $"dup_id", "left")
      .select($"vec_id", $"cell",
        (!coalesce($"dup", lit(false))).as("kept"))
  }

  /** The two-nearest-cells assignment CTEs shared by the q124 and q125
    * oracles: gdist re-derived from the shared grid parameter CTEs,
    * then `ROW_NUMBER() OVER (ORDER BY dist, c) <= 2` — the exact tie
    * order of the engine's NearestIndex(rank = 0|1). */
  private val gridAsg2Ctes =
    """gdist AS (SELECT vec_id, c, SUM((q - ct) * (q - ct)) AS dist
      |  FROM gqv JOIN gcent USING (d) GROUP BY vec_id, c),
      |gasg2 AS (SELECT vec_id, c AS cell, rn FROM (
      |    SELECT vec_id, c,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      |    FROM gdist) t
      |  WHERE rn <= 2),
      |asg2 AS (SELECT e.vec_id, e.embedding, g.cell, g.rn
      |  FROM embeddings e JOIN gasg2 g ON g.vec_id = e.vec_id)""".stripMargin

  private val semanticDedupProbe2Sql =
    s"""WITH $gridParamCtes,
      |$gridQvEmbeddings,
      |$gridAsg2Ctes,
      |dup2 AS (SELECT DISTINCT b.vec_id
      |  FROM asg2 a JOIN asg2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE ${duckNanvl("list_cosine_similarity(a.embedding, b.embedding)")}
      |    > 0.35)
      |SELECT p.vec_id, p.cell, d.vec_id IS NULL AS kept
      |FROM (SELECT vec_id, cell FROM gasg2 WHERE rn = 1) p
      |LEFT JOIN dup2 d ON d.vec_id = p.vec_id""".stripMargin

  /** q125 — probe-recall audit (the q83 shape applied to dedup): how
    * much of the GLOBAL near-dup mass does each probe depth flag? The
    * truth arm runs the same exact pair predicate over every pair via
    * [[saltedDupIds]] with ONE synthetic cell — the q41-style
    * deliberate O(n²) verification SPEC, expressed as an equi-join on
    * the salt blocks so even the audit's plan carries no
    * CartesianProduct and no unbounded task (fan = ceil(n/2048) makes
    * it ~fan² bounded blocks; at real scale you'd sample the truth
    * arm, the probed arms are the production path). Flagged ⊆ true by
    * construction (cell methods verify exactly within candidates), so
    * the report is pure recall; the global row pins recall_micro =
    * 10⁶ as a structural self-check. All counts integer → the whole
    * report hash-checks. */
  def probeRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asg = probeAssignment(spark, dir)
    // ONE pair-mining pass: the global truth arm's pairs are a
    // superset of both probe arms' (identical predicate, candidates
    // only ever restricted by cell agreement — "flagged ⊆ true by
    // construction"), so probe1/probe2 flagged sets are derived by
    // joining the truth pairs' ENDPOINTS against the assignment table
    // instead of re-running two more self-join arms (the r10 shape:
    // 3 arms × full probe re-derivation = 40 stages, 11.3 s on the
    // driver box). cap = 256: the synthetic single global cell would
    // otherwise fan into ceil(n/2048) ≈ 1 block at test scale — one
    // task on a 32-core box; pair membership is block-size-invariant,
    // so the smaller salt is pure parallelism.
    val pairs = saltedDupPairs(
      asg.select(lit(0).as("cell"), $"vec_id", $"embedding", $"nrm"),
      cosDup35, cap = 256)
      .persist() // read 3×; released by the context cleaner with the
                 // result (the cellScopedDedup mat contract)
    val ends = pairs
      .join(asg.select($"vec_id".as("a_id"), $"cell".as("a_c"),
        $"cell2".as("a_c2")), "a_id")
      .join(asg.select($"vec_id".as("b_id"), $"cell".as("b_c"),
        $"cell2".as("b_c2")), "b_id")
    val tagged = pairs.select(lit("global").as("method"),
        $"b_id".as("dup_id")).distinct()
      .union(ends.filter($"a_c" === $"b_c")
        .select(lit("probe1").as("method"), $"b_id".as("dup_id"))
        .distinct())
      .union(ends.filter($"a_c" === $"b_c" || $"a_c" === $"b_c2" ||
          $"a_c2" === $"b_c" || $"a_c2" === $"b_c2")
        .select(lit("probe2").as("method"), $"b_id".as("dup_id"))
        .distinct())
    val counts = tagged.groupBy($"method")
      .agg(count(lit(1)).as("n_flagged"))
    // the 3-row rollup joins its own global row back on a constant
    // key (equi-join on a 1-row broadcast side — the q99 "no global
    // aggregate" device, so no single-partition exchange)
    val nTrue = counts.filter($"method" === "global")
      .select($"n_flagged".as("n_true"), lit(1).as("k"))
    counts.withColumn("k", lit(1))
      .join(broadcast(nTrue), "k")
      .select($"method", $"n_true", $"n_flagged",
        expr("CAST(1000000 * n_flagged div n_true AS BIGINT)")
          .as("recall_micro"))
  }

  private val probeRecallSql =
    s"""WITH $gridParamCtes,
      |$gridQvEmbeddings,
      |$gridAsg2Ctes,
      |asg AS (SELECT vec_id, embedding, cell FROM asg2 WHERE rn = 1),
      |dupg AS (SELECT DISTINCT b.vec_id
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE ${duckNanvl("list_cosine_similarity(a.embedding, b.embedding)")}
      |    > 0.35),
      |dup1 AS (SELECT DISTINCT b.vec_id
      |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE ${duckNanvl("list_cosine_similarity(a.embedding, b.embedding)")}
      |    > 0.35),
      |dup2 AS (SELECT DISTINCT b.vec_id
      |  FROM asg2 a JOIN asg2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE ${duckNanvl("list_cosine_similarity(a.embedding, b.embedding)")}
      |    > 0.35),
      |counts AS (
      |  SELECT 'global' AS method, COUNT(*) AS n_flagged FROM dupg
      |  UNION ALL SELECT 'probe1' AS method, COUNT(*) AS n_flagged FROM dup1
      |  UNION ALL SELECT 'probe2' AS method, COUNT(*) AS n_flagged FROM dup2)
      |SELECT c.method, t.n_flagged AS n_true, c.n_flagged,
      |  CAST(1000000 * c.n_flagged // t.n_flagged AS BIGINT) AS recall_micro
      |FROM counts c,
      |  (SELECT n_flagged FROM counts WHERE method = 'global') t""".stripMargin

  /** Persist the IVF index as a PHYSICAL layout: cell assignments
    * written partitioned by cell (one directory per cell, via
    * [[graft.operators.Operators.writePartitioned]]) plus the centroid
    * table as a sibling parquet. This is the on-disk form of the q33
    * index — at 100 TB the build is a one-off batch job, and a probe-P
    * search READS only P of nCells directories (planning-time partition
    * pruning), so search I/O is probes/nCells of the corpus no matter
    * how large the table grows. This layout keeps the RAW vectors (it
    * serves exact float reranking inside probed cells); the artifact a
    * deployment actually ships is the 64×-compressed codes-only layout
    * — see [[ivfPqWriteIndex]]/[[ivfPqSearchIndexed]]. */
  def ivfWriteIndex(spark: SparkSession, dir: String, path: String,
      nCells: Int = 16): Unit = {
    import spark.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("v", array_to_vector($"embedding"))
    val model = fitQuantizer(emb, nCells)
    graft.operators.Operators.writePartitioned(
      model.transform(emb).select($"vec_id", $"embedding", $"cell"),
      path, "cell")
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path.centroids")
  }

  /** Search a persisted IVF index: centroids (parameters) choose the
    * probe cells driver-side, then the scan carries `cell IN (...)` as
    * a PARTITION filter — only the probed directories are listed and
    * read. Query = the index row with vec_id 0, as in [[ivfSearch]];
    * probes == nCells degenerates to exact brute force (tested). */
  def ivfSearchIndexed(spark: SparkSession, path: String,
      probes: Int, k: Int = 5): DataFrame = {
    import spark.implicits._
    val index = spark.read.parquet(path)
    // ONE unpruned pass to fetch the query row — a parameter access
    // (like q33's); production callers pass the query vector directly
    // and skip even this. The scoring scan below is the pruned one.
    val qRow = index.filter($"vec_id" === 0)
      .select($"embedding").head.getSeq[Float](0).toArray
    val probeCells = nearestCells(
      spark.read.parquet(s"$path.centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq,
      qRow, probes)
    rankAgainstQuery(
      index.filter($"vec_id" =!= 0 && $"cell".isin(probeCells: _*))
        .select($"vec_id", $"embedding"),
      qRow, k)
  }

  /** Probe-ALL IVF: with probes == nCells every cell is scanned, so the
    * result is provably the exact brute-force top-k — which makes the
    * whole IVF path (quantizer assignment, probe routing, top-k merge)
    * checkable against q30's DuckDB oracle, not just rows-only. */
  def ivfKnnProbeAll(spark: SparkSession, dir: String): DataFrame =
    ivfSearch(spark, dir, nCells = 16, probes = 16)

  /** SRP-LSH (signed-random-projection) approximate top-k — the
    * LSH-bucketed ANN scale path beside IVF (q33). Each vector gets an
    * `nbits`-bit bucket: bit b = sign of the dot product with
    * hyperplane b. Search scans only buckets within hamming 1 of the
    * query's bucket (multi-probe), i.e. (nbits+1)/2^nbits of the
    * corpus; at scale nbits grows as log2(corpus/target-bucket-size)
    * and the bucket column doubles as a clustering/partitioning key so
    * a probe touches only its partitions.
    *
    * Everything upstream of the final ranking is INTEGER-exact, which
    * is the design point: embeddings quantize by floor(v×1024) (float→
    * double cast and ×2^10 are exact, floor is unambiguous), hyperplane
    * components are md5-derived integers — so both engines compute
    * bit-identical buckets and the oracle checks the RESTRICTED-probe
    * result itself, not just a probe-all degenerate — the same trick
    * [[ivfGridKnn]] (q33) plays with its integer grid quantizer; only
    * the KMeans IVF variant (q37) needs the probe-all equivalence to be
    * checkable. The hyperplane
    * matrix is parameters, not data (nbits×dim longs, driver-built like
    * q33's centroids); dim=64 is pinned by the static oracle SQL and
    * asserted against the data in VectorSearchSpec. */
  /** Adds the integer-exact SRP `bucket` column to any frame bearing an
    * `embedding` array<float> column — one native [[graft.functions.VectorExpressions.SrpBucket]]
    * expression (quantize + nbits×dim multiply-add as a compiled loop;
    * |q|<2^20, |w|<2^31 → dots fit long, matching the oracle's BIGINT
    * SUM(wt*q)). The SAME lift runs on the batch corpus here and on
    * streaming query frames in
    * [[graft.streaming.StreamingQueries.annLookupStream]]. */
  private[graft] def withSrpBucket(df: DataFrame, nbits: Int = 4): DataFrame = {
    val dim = 64
    val w: IndexedSeq[IndexedSeq[Long]] = (0 until nbits).map { b =>
      (0 until dim).map(d => md5Long8(s"$b:$d") - 2147483648L)
    }
    df.withColumn("bucket",
      graft.functions.VectorExpressions.srpBucket(col("embedding"), w, QuantScale))
  }

  def srpAnn(spark: SparkSession, dir: String, nbits: Int = 4,
      k: Int = 5, maxHamming: Int = 1): DataFrame = {
    import spark.implicits._
    val sigs = withSrpBucket(Tables(spark, dir, "embeddings"), nbits)
      .select($"vec_id", $"embedding", $"bucket")
    val query = sigs.filter($"vec_id" === 0)
      .select($"embedding".as("q_emb"), $"bucket".as("q_bucket"))
    rankedTopK(
      sigs.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(query))
        .filter(bit_count($"bucket".bitwiseXOR($"q_bucket")) <= maxHamming)
        .withColumn("sim", cosine($"embedding", $"q_emb"))
        .select($"vec_id", $"sim"),
      k = k)
  }

  /** Oracle: the identical integer bucket pipeline in DuckDB — same
    * md5-derived hyperplanes, same floor(v×1024) quantization, same
    * hamming-1 multi-probe — then the same rank/ids-only cosine top-k
    * ranking contract as q30. */
  private val srpAnnSql =
    s"""WITH dims AS (SELECT unnest(range(64)) AS d),
      |bits AS (SELECT unnest(range(4)) AS b),
      |w AS (SELECT b, d,
      |    CAST(concat('0x', substr(md5(concat(b, ':', d)), 1, 8)) AS BIGINT)
      |      - 2147483648 AS wt
      |  FROM bits, dims),
      |qv AS (SELECT vec_id, d,
      |    CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1024) AS BIGINT) AS q
      |  FROM embeddings, dims),
      |sig AS (SELECT vec_id, b,
      |    CASE WHEN SUM(wt * q) > 0 THEN (1::BIGINT << b)
      |      ELSE 0::BIGINT END AS bitval
      |  FROM qv JOIN w USING (d) GROUP BY vec_id, b),
      |buckets AS (SELECT vec_id, CAST(SUM(bitval) AS BIGINT) AS bucket
      |  FROM sig GROUP BY vec_id),
      |q AS (SELECT e.embedding AS q_emb, bk.bucket AS q_bucket
      |  FROM embeddings e JOIN buckets bk ON e.vec_id = bk.vec_id
      |  WHERE e.vec_id = 0)
      |SELECT rank, vec_id FROM (
      |  SELECT CAST(ROW_NUMBER() OVER (
      |      ORDER BY ${duckNanvl("list_cosine_similarity(e.embedding, q.q_emb)")} DESC,
      |               e.vec_id ASC) AS BIGINT) AS rank,
      |    e.vec_id
      |  FROM embeddings e JOIN buckets bk ON e.vec_id = bk.vec_id, q
      |  WHERE e.vec_id <> 0
      |    AND bit_count(xor(bk.bucket, q.q_bucket)) <= 1) t
      |WHERE rank <= 5""".stripMargin

  /** Product quantization (PQ) — the MEMORY-compression path of the ANN
    * stack, complementing the probe-pruning paths (grid/KMeans IVF,
    * SRP-LSH): each 64-dim float vector (256 B) compresses to an 8×4-bit
    * code (one packed BIGINT) by quantizing each of 8 contiguous 8-dim
    * subspaces to its nearest of 16 codewords. At 100 TB this is the
    * difference between an index that fits in cluster memory and one
    * that doesn't (~64× smaller than the raw vectors); search never
    * touches the embedding column — it scans codes and sums 8 lookups
    * per row against a 128-entry query-specific table (classic ADC).
    * Composes with IVF: cell-partition the codes table and probe-prune
    * the scan (q33's layout) while ADC replaces full dot products.
    *
    * Like [[ivfGridKnn]]/[[withSrpBucket]], every step is INTEGER —
    * codewords are [[md5Long8]]-derived ints in [-512, 512) (the
    * floor(v×1024) data scale), assignment is squared-L2 argmin with
    * ties to the lowest codeword, and the ADC distance itself is a long
    * — so Spark and DuckDB agree bit-for-bit on codes AND distances,
    * and both PQ queries are full rows+schema+hash oracle checks (the
    * strongest contract in the ANN suite: even q30/q58 only hash ranks,
    * not scores). */
  private val pqSub = 8
  private val pqSubDim = 8
  private val pqWords = 16
  private[graft] def pqCodebook(): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] =
    (0 until pqSub).map(s => (0 until pqWords).map(w =>
      (0 until pqSubDim).map(d => md5Long8(s"p$s:$w:$d") % 1024 - 512)))

  /** Adds the packed PQ `code` column: one native nearest_index per
    * subspace (the expression slices via its start offset and ties go
    * to the lowest codeword, matching the oracle's ORDER BY dist, w) —
    * a stateless lift, reusable on streaming frames like
    * [[withSrpBucket]]. See NearestIndex's doc for why a native
    * expression: unrolled element_at chains overflowed Janino at this
    * size (silent interpreted fallback, caught by the stress harness),
    * and both zip_with/aggregate folds and a transform-lambda quantize
    * are CodegenFallback shapes that eject the projection from
    * whole-stage codegen. */
  private[graft] def withPqCode(df: DataFrame): DataFrame = {
    val cb = pqCodebook()
    df.withColumn("code",
      (0 until pqSub).map { s =>
        graft.functions.VectorExpressions
          .nearestIndex(col("embedding"), cb(s), s * pqSubDim, QuantScale)
          .cast("long") * lit(1L << (4 * s))
      }.reduce(_ + _))
  }

  /** The ANN index table — (vec_id, grid cell, packed PQ code) from ONE
    * scan of the embeddings — memoized per (context, dataset) like
    * [[DedupOps.verifiedPairs]]: a deployment writes this table once
    * (64× smaller than the vectors) and every search scans IT, never
    * the embeddings. Reading the materialization also skips
    * re-analyzing the large quantizer expression trees per query
    * (driver-side planning cost measured at ~2 s each at sf0.1). */
  private[graft] val annIndex = Artifacts[DataFrame]("vector.ann_index")
  private[graft] def annIndexTable(spark: SparkSession, dir: String): DataFrame =
    annIndex.get(spark, dir)(
      withPqCode(withGridCell(Tables(spark, dir, "embeddings")))
        .select(col("vec_id"), col("cell"), col("code")).persist())

  /** The DOC-vector sibling of [[annIndexTable]] — (vec_id, cell,
    * packed PQ code) over the q69→q70 document vectors: the retrieval
    * stack scans THIS table instead of paying the full
    * text→vector→grid→PQ lift per query. */
  private[graft] val docAnnIndex = Artifacts[DataFrame]("vector.doc_ann_index")
  private[graft] def docAnnIndexTable(spark: SparkSession,
      dir: String): DataFrame =
    docAnnIndex.get(spark, dir)(
      withPqCode(withGridCell(docVectors(spark, dir)))
        .select(col("vec_id"), col("cell"), col("code")).persist())

  /** Forwards kept for the benchmark harness; use [[Artifacts]]. */
  private[graft] def isSharedArtifact(df: DataFrame): Boolean = Artifacts.holds(df)
  def invalidateSharedArtifacts(): Unit = Artifacts.invalidateAll()

  /** The PQ index-build artifact: every vector's packed code. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    annIndexTable(spark, dir).select($"vec_id", $"code".cast("long").as("code"))
  }

  /** The PQ codebook's CTE blocks, split like the grid's: parameters
    * (subspaces, codewords, md5 codebook), then distance/code CTEs over
    * ANY `(vec_id, s, d, q)` CTE — embeddings for q66–q68, the
    * densified q69 vectors for q70. */
  private val pqParamCtes =
    """subs AS (SELECT unnest(range(8)) AS s),
      |words AS (SELECT unnest(range(16)) AS w),
      |sdims AS (SELECT unnest(range(8)) AS d),
      |cb AS (SELECT s, w, d,
      |    CAST(concat('0x', substr(md5(concat('p', s, ':', w, ':', d)), 1, 8)) AS BIGINT)
      |      % 1024 - 512 AS cw
      |  FROM subs, words, sdims)""".stripMargin

  private val pqQvEmbeddings =
    """qv AS (SELECT vec_id, su.s AS s, sd.d AS d,
      |    CAST(floor(CAST(embedding[su.s * 8 + sd.d + 1] AS DOUBLE) * 1024)
      |      AS BIGINT) AS q
      |  FROM embeddings, subs su, sdims sd)""".stripMargin

  /** Per-(vector, subspace, codeword) distances and argmin codeword
    * assignment over the quantized CTE named by `qv`. */
  private def pqCodeCtes(qv: String): String =
    s"""dist AS (SELECT vec_id, s, w, SUM((q - cw) * (q - cw)) AS dist
      |  FROM $qv JOIN cb USING (s, d) GROUP BY vec_id, s, w),
      |code AS (SELECT vec_id, s, w AS cw FROM (
      |    SELECT vec_id, s, w,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, w) AS rn
      |    FROM dist) t
      |  WHERE rn = 1)""".stripMargin

  private val pqCodebookCtes = "WITH " + Seq(pqParamCtes, pqQvEmbeddings,
    pqCodeCtes("qv")).mkString(",\n")

  private val pqCodesSql = pqCodebookCtes + "\n" +
    """SELECT vec_id, CAST(SUM(cw * (1::BIGINT << (4 * s))) AS BIGINT) AS code
      |FROM code GROUP BY vec_id""".stripMargin

  /** q154 — PQ reconstruction-error AUDIT: per grid cell, how much
    * signal the 8×4-bit product quantization destroys — each vector's
    * total squared-L2 quantization error (Σ over subspaces of the
    * distance to its ASSIGNED codeword, via
    * [[graft.functions.VectorExpressions.nearestDistance]] — the same
    * compiled argmin loop that assigns codes, now emitting the argmin's
    * value, so code and error cannot disagree), rolled up to
    * (n_vectors, integer mean, max) per cell. This is the index-HEALTH
    * monitor the ANN storage loop was missing: a cell whose mean error
    * drifts up as upserts land is a cell whose residents the shared
    * codebook no longer represents — the retrain-the-codebook trigger,
    * read next to q83's recall audit (recall tells you search quality
    * dropped; THIS tells you why, and where). Integer end to end (the
    * quantized space is exact in both engines) → fully hash-checked.
    *
    * Scale shape: one embeddings scan, all error math inside one
    * codegen projection (8 compiled loops), a 16-key partial-
    * aggregatable rollup. At deployment the same projection runs over
    * arriving vectors in the index-maintenance stream — error tracking
    * costs nothing extra at ingest. */
  def pqReconError(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorExpressions.nearestDistance
    val cb = pqCodebook()
    val err = (0 until pqSub).map(s =>
      nearestDistance($"embedding", cb(s), s * pqSubDim, QuantScale))
      .reduce(_ + _)
    withGridCell(Tables(spark, dir, "embeddings"))
      .select($"cell", err.as("err"))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_vectors"), sum($"err").as("sum_err"),
        max($"err").as("max_err"))
      .select($"cell", $"n_vectors",
        expr("CAST(sum_err div n_vectors AS BIGINT)").as("mean_err"),
        $"max_err")
  }

  /** Oracle: the assigned codeword's distance IS min(dist) per
    * (vec_id, subspace) — the shared pq dist CTE aggregated by min,
    * summed per vector, cell-joined via the shared grid assignment. */
  private val pqReconErrorSql = pqCodebookCtes + ",\n" + gridCtes + ",\n" +
    """verr AS (
      |  SELECT vec_id, CAST(SUM(md) AS BIGINT) AS err FROM (
      |    SELECT vec_id, s, MIN(dist) AS md FROM dist GROUP BY 1, 2) t
      |  GROUP BY 1)
      |SELECT g.cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
      |  CAST(SUM(v.err) // COUNT(*) AS BIGINT) AS mean_err,
      |  CAST(MAX(v.err) AS BIGINT) AS max_err
      |FROM verr v JOIN gassign g USING (vec_id)
      |GROUP BY 1""".stripMargin

  /** One Lloyd refinement pass: assign every vector to its nearest
    * centroid (the compiled argmin), then move each centroid to the
    * INTEGER mean of its members' quantized coordinates — `sum / n`
    * in Long arithmetic (truncation toward zero, exactly DuckDB's
    * `//`), so the refined table stays in the same integer quantized
    * space as the md5 seeds and every downstream assignment remains
    * hash-checkable. Empty cells keep their old centroid (standard
    * Lloyd degenerate-cell rule). The per-cell (n + 64 sums) rollup is
    * partial-aggregatable and the collect is a ≤nCells-row bounded
    * parameter read (the centroid-table precedent). */
  private def refineCentroids(emb: DataFrame,
      cents: IndexedSeq[IndexedSeq[Long]]): IndexedSeq[IndexedSeq[Long]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    import graft.functions.VectorExpressions.nearestIndex
    val rows = emb
      .withColumn("cell", nearestIndex($"embedding", cents, 0, QuantScale))
      .select($"cell" +: (0 until 64).map(d =>
        floor(element_at($"embedding", d + 1).cast("double") * QuantScale)
          .cast("long").as(s"s$d")): _*)
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"),
        (0 until 64).map(d => sum(col(s"s$d")).as(s"s$d")): _*)
      .collect()
    val byCell = rows.filter(!_.isNullAt(0))
      .map(r => r.getInt(0) -> r).toMap
    cents.indices.map { c =>
      byCell.get(c) match {
        case Some(r) =>
          val n = r.getLong(1)
          (0 until 64).map(d => r.getLong(2 + d) / n)
        case None => cents(c)
      }
    }
  }

  /** Per-cell occupancy + SSE under a given centroid table — argmin
    * assignment and its squared-L2 error from the ONE compiled loop
    * ([[graft.functions.VectorExpressions.nearestDistance]]), so the
    * audit can never disagree with the assignment it audits. */
  private def lloydStats(emb: DataFrame,
      cents: IndexedSeq[IndexedSeq[Long]], round: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import graft.functions.VectorExpressions.{nearestIndex, nearestDistance}
    emb.select(
        nearestIndex($"embedding", cents, 0, QuantScale).as("cell"),
        nearestDistance($"embedding", cents, 0, QuantScale).as("err"))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_vectors"), sum($"err").as("sse"))
      .select(lit(round.toLong).as("round"), $"cell", $"n_vectors",
        $"sse".cast("long").as("sse"))
  }

  /** q157 — k-means (Lloyd) refinement of the coarse quantizer: two
    * refinement rounds over the md5-seeded grid, reported as the
    * round-by-round (cell, occupancy, SSE) table — the convergence
    * audit that justifies TRAINING the IVF coarse quantizer instead of
    * shipping arbitrary seeds (every production IVF index — FAISS
    * et al. — trains its centroids this way; the md5 grid the engine
    * has used since q33 is exactly a k-means INIT). Integer-exact end
    * to end: assignments argmin over integer centroid tables, refined
    * centroids are truncated integer means, SSE is the argmin's own
    * emitted distance — so occupancy AND error are hash-checked, and
    * the oracle's unrolled two rounds must agree bit-for-bit. Round 0
    * is the untrained grid; the SSE drop to rounds 1-2 quantifies what
    * training buys (Lloyd guarantees monotone non-increasing total
    * SSE; the oracle re-derives it independently).
    *
    * Scale shape: each round is one corpus scan (all math in the
    * compiled argmin loop) + a 16-key partial-aggregatable rollup +
    * a ≤16-row driver read — the canonical distributed-k-means round.
    * Rounds are inherently sequential (Lloyd is iterative); the
    * iterate-harness/BPE precedent. At 100 TB a deployment refines on
    * a hash-sample (q46's device) and assigns the full corpus once —
    * same plan, sampled input. */
  /** The two-round trained centroid tables: a driver-side PARAMETER
    * [[Artifact]] (two 16×64 long tables) with no blocks to release. */
  private[graft] val kmeansCentroids = Artifacts[
    (IndexedSeq[IndexedSeq[Long]], IndexedSeq[IndexedSeq[Long]])](
    "vector.kmeans_centroids")

  private def refinedCentroidPair(spark: SparkSession, dir: String) =
    kmeansCentroids.get(spark, dir) {
      val emb = Tables(spark, dir, "embeddings")
      val c1 = refineCentroids(emb, ivfGridCentroids())
      (c1, refineCentroids(emb, c1))
    }

  def kmeansRefine(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val c0 = ivfGridCentroids()
    val (c1, c2) = refinedCentroidPair(spark, dir)
    lloydStats(emb, c0, 0)
      .union(lloydStats(emb, c1, 1))
      .union(lloydStats(emb, c2, 2))
  }

  /** Oracle: both Lloyd rounds unrolled — refined centroids as
    * truncated integer means over the previous assignment (empty cells
    * inherit the seed row via the LEFT JOIN COALESCE), per-round SSE as
    * min-distance re-derived from the full distance table. */
  private def kmeansStatsCte(dist: String, name: String,
      round: Int): String =
    s"""$name AS (
      |  SELECT $round AS round, a.cell,
      |    CAST(COUNT(*) AS BIGINT) AS n_vectors,
      |    CAST(SUM(m.md) AS BIGINT) AS sse
      |  FROM (SELECT vec_id, c AS cell FROM (
      |      SELECT vec_id, c,
      |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      |      FROM $dist) t WHERE rn = 1) a
      |  JOIN (SELECT vec_id, MIN(dist) AS md FROM $dist GROUP BY 1) m
      |    USING (vec_id)
      |  GROUP BY 1, 2)""".stripMargin

  private def kmeansRefineCtes(prevDist: String, prevCent: String,
      n: Int): String =
    s"""a$n AS (SELECT vec_id, c AS cell FROM (
      |    SELECT vec_id, c,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      |    FROM $prevDist) t WHERE rn = 1),
      |sums$n AS (SELECT a.cell AS c, g.d, SUM(g.q) AS sq, COUNT(*) AS n
      |  FROM gqv g JOIN a$n a USING (vec_id) GROUP BY 1, 2),
      |cent$n AS (SELECT pc.c, pc.d,
      |    COALESCE(CAST(s.sq // s.n AS BIGINT), pc.ct) AS ct
      |  FROM $prevCent pc LEFT JOIN sums$n s ON s.c = pc.c AND s.d = pc.d),
      |dist$n AS (SELECT vec_id, c, SUM((q - ct) * (q - ct)) AS dist
      |  FROM gqv JOIN cent$n USING (d) GROUP BY 1, 2)""".stripMargin

  /** The two-round Lloyd chain as a CTE list (seed distances `gdist`,
    * refined centroid tables `cent1`/`cent2`, their distance tables
    * `dist1`/`dist2`) — shared by the q157 convergence oracle and the
    * q159 recall audit. */
  private val kmeansChainCtes = Seq(
    gridParamCtes,
    gridQvEmbeddings,
    """gdist AS (SELECT vec_id, c, SUM((q - ct) * (q - ct)) AS dist
      |  FROM gqv JOIN gcent USING (d) GROUP BY vec_id, c)""".stripMargin,
    kmeansRefineCtes("gdist", "gcent", 1),
    kmeansRefineCtes("dist1", "cent1", 2)).mkString(",\n")

  private val kmeansRefineSql =
    "WITH " + Seq(
      kmeansChainCtes,
      kmeansStatsCte("gdist", "r0", 0),
      kmeansStatsCte("dist1", "r1", 1),
      kmeansStatsCte("dist2", "r2", 2)).mkString(",\n") + "\n" +
      """SELECT round, cell, n_vectors, sse FROM (
        |  SELECT * FROM r0 UNION ALL
        |  SELECT * FROM r1 UNION ALL
        |  SELECT * FROM r2) u""".stripMargin

  /** q159 — WHAT TRAINING BUYS, measured where it matters: per-rank
    * probe recall of the 4-probe coarse search under the SEED (md5)
    * grid versus the q157-TRAINED centroids, against the exact q30
    * top-5. q157 proves SSE drops 5× when the quantizer trains; this
    * query asks the deployment question — do the true nearest
    * neighbors now land in the probed cells? One row per exact top-5
    * neighbor with its membership under each quantizer, so the recall
    * lift (or its absence) is itself hash-checked. Everything integer:
    * both assignments from the compiled argmin over integer centroid
    * tables, both probe sets pure driver arithmetic over parameters.
    *
    * Scale shape: the exact arm is q30's TakeOrderedAndProject; the
    * audit adds one embeddings projection (two compiled argmins per
    * row) and a 5-row broadcast join. Like q83 this runs per
    * query-vector batch at deployment and aggregates recall over it. */
  def refinedRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorExpressions.nearestIndex
    val emb = Tables(spark, dir, "embeddings")
    val c0 = ivfGridCentroids()
    val (_, c2) = refinedCentroidPair(spark, dir)
    val qQv = quantizeRow(emb.filter($"vec_id" === 0)
      .select($"embedding").head.getSeq[Float](0).toArray)
    val seedProbes = gridProbeCells(qQv, 4)
    val trainedProbes = gridProbeCells(c2, qQv, 4)
    val cells = emb.select($"vec_id",
      nearestIndex($"embedding", c0, 0, QuantScale).as("sc"),
      nearestIndex($"embedding", c2, 0, QuantScale).as("tc"))
    knnTopK(spark, dir).join(cells, "vec_id")
      .select($"rank", $"vec_id",
        $"sc".isin(seedProbes: _*).as("in_seed_probe"),
        $"tc".isin(trainedProbes: _*).as("in_trained_probe"))
  }

  /** Oracle: the shared two-round Lloyd chain supplies both quantizers
    * (`gdist`/`a1` = seed distances/assignment, `dist2` = trained);
    * probe sets re-derived as each table's 4 nearest cells to vec 0;
    * exact ranking is q30's shipped SQL verbatim. */
  private val refinedRecallSql =
    "WITH " + kmeansChainCtes + ",\n" +
      """sprobe AS (SELECT c AS cell FROM gdist WHERE vec_id = 0
        |  ORDER BY dist, c LIMIT 4),
        |tprobe AS (SELECT c AS cell FROM dist2 WHERE vec_id = 0
        |  ORDER BY dist, c LIMIT 4),
        |ta AS (SELECT vec_id, c AS cell FROM (
        |    SELECT vec_id, c,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |    FROM dist2) t WHERE rn = 1),
        |exact AS (
        |""".stripMargin + knnTopKSql + ")\n" +
      """SELECT e.rank, e.vec_id,
        |  a1.cell IN (SELECT cell FROM sprobe) AS in_seed_probe,
        |  ta.cell IN (SELECT cell FROM tprobe) AS in_trained_probe
        |FROM exact e
        |JOIN a1 ON a1.vec_id = e.vec_id
        |JOIN ta ON ta.vec_id = e.vec_id""".stripMargin

  /** The query's ADC lookup table — per (subspace, codeword) squared-L2
    * to the quantized query. Driver integer math over parameters. The
    * `cb` overload serves readers that load the codebook from a
    * persisted index's sibling parquet. */
  private def adcLut(cb: IndexedSeq[IndexedSeq[IndexedSeq[Long]]],
      qQv: Array[Long]): IndexedSeq[IndexedSeq[Long]] =
    (0 until pqSub).map(s => (0 until pqWords).map(w =>
      (0 until pqSubDim).map { d =>
        val t = qQv(s * pqSubDim + d) - cb(s)(w)(d); t * t
      }.sum))

  private def adcLut(qQv: Array[Long]): IndexedSeq[IndexedSeq[Long]] =
    adcLut(pqCodebook(), qQv)

  /** ADC distance over a packed `code` column: 8 literal-array lookups
    * summed — the whole per-row query cost of a PQ scan. */
  private def adcCol(lut: IndexedSeq[IndexedSeq[Long]]): Column =
    (0 until pqSub).map { s =>
      element_at(typedLit(lut(s)),
        (shiftright(col("code"), 4 * s).bitwiseAND(lit(15L)) + 1).cast("int"))
    }.reduce(_ + _)

  /** Integer top-k by (adc_dist asc, vec_id asc): no NaN guard needed
    * (integer distances), but callers must exclude NULL codes first —
    * NearestIndex's NULL contract gives a degenerate embedding a NULL
    * code, hence NULL adc_dist, and Spark's default NULLS FIRST on an
    * ascending sort would rank it ahead of every real candidate
    * (ADVICE r4; [[adcSearch]] filters `code.isNotNull`, mirroring
    * [[rankedTopK]]'s nanvl sort-key guard). Same TakeOrderedAndProject
    * + rank-after-limit shape as [[rankedTopK]]. */
  private def rankedAdcTopK(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    Operators.topK(scored, Seq($"adc_dist".asc), $"vec_id".asc, k)
      .select($"rank", $"vec_id", $"adc_dist")
  }

  /** PQ ADC top-k search over the memoized codes table: the query's
    * 8×16 lookup table of subspace distances is driver-computed integer
    * math over parameters (the codebook) and the one collected query
    * row; the scan then sums 8 `element_at` lookups per corpus code —
    * no embedding bytes read at query time. The integer adc_dist is
    * part of the output and of the hash check. `probeCells` (IVF-PQ)
    * additionally prunes the scan to the probed grid cells; plain PQ is
    * the unpruned case — one body, so the two registry queries cannot
    * drift (their probes==cells equality is also spec-asserted). */
  private def adcSearch(spark: SparkSession, dir: String,
      probes: Option[Int], k: Int,
      queryRow: Option[Array[Float]] = None): DataFrame = {
    import spark.implicits._
    // callers that already hold the query row pass it in (q76's rerank
    // needs it for its own stage too) — one parameter fetch, not two
    val qRow = queryRow.getOrElse(
      Tables(spark, dir, "embeddings").filter($"vec_id" === 0)
        .select($"embedding").head.getSeq[Float](0).toArray)
    val qQv = quantizeRow(qRow)
    // code.isNotNull: a degenerate (short/null-element) embedding gets
    // a NULL code under NearestIndex's NULL contract, and a NULL
    // adc_dist would sort NULLS FIRST ahead of every real candidate in
    // the ascending rank below (ADVICE r4). Unreachable divergence:
    // dim=64 is spec-asserted on the data, so neither engine ever sees
    // a short vector — the filter just keeps the engine's behavior
    // well-defined (drop the row) if one ever appears.
    val index = annIndexTable(spark, dir)
      .filter($"vec_id" =!= 0 && $"code".isNotNull)
    val pruned = probes match {
      case Some(p) => index.filter($"cell".isin(gridProbeCells(qQv, p): _*))
      case None => index
    }
    rankedAdcTopK(
      pruned.withColumn("adc_dist", adcCol(adcLut(qQv)))
        .select($"vec_id", $"adc_dist"),
      k)
  }

  def pqAnn(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    adcSearch(spark, dir, probes = None, k = k)

  /** SDC parameter: per subspace, the 16×16 integer squared-L2 matrix
    * BETWEEN CODEWORDS — flattened row-major for element_at. Where ADC
    * compares a live query to codes, SDC compares code to code: the
    * whole pairwise distance is 8 literal-table lookups, no embedding
    * bytes touched on either side. */
  private[graft] def sdcLut(): IndexedSeq[IndexedSeq[Long]] = {
    val cb = pqCodebook()
    (0 until pqSub).map { s =>
      (for (a <- 0 until pqWords; b <- 0 until pqWords) yield
        (0 until pqSubDim).map { d =>
          val t = cb(s)(a)(d) - cb(s)(b)(d); t * t
        }.sum).toIndexedSeq
    }
  }

  private[graft] def sdcCol(lut: IndexedSeq[IndexedSeq[Long]],
      aCode: Column, bCode: Column): Column =
    (0 until pqSub).map { s =>
      val wa = shiftright(aCode, 4 * s).bitwiseAND(lit(15L))
      val wb = shiftright(bCode, 4 * s).bitwiseAND(lit(15L))
      element_at(typedLit(lut(s)), (wa * 16 + wb + 1).cast("int"))
    }.reduce(_ + _)

  /** q192 — COMPRESSED-DOMAIN near-dup shortlist: the 50 closest
    * within-cell vector pairs by PQ symmetric distance (SDC) — dedup
    * candidate generation that reads ONLY the 64×-compressed index
    * table, never the embeddings. SDC estimates d(a,b) as the distance
    * between the two ASSIGNED codewords (error ≤ both vectors'
    * quantization residuals — q154's audit is exactly the health check
    * for it), each pair costing 8 lookups into the literal per-subspace
    * 16×16 codeword-distance tables. This is the nightly-dedup shape
    * at petabyte scale: candidates from the codes table (within grid
    * cells — Σ cell², the q111 argument, with q134's salting lever for
    * hot cells), exact verification (q129-style) only on the
    * shortlist. Deterministic total order (dist, a, b) →
    * TakeOrderedAndProject; integer end-to-end → hash-checked. */
  def sdcDedupShortlist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx = annIndexTable(spark, dir).filter($"code".isNotNull)
    val a = idx.select($"cell", $"vec_id".as("a_id"), $"code".as("a_code"))
    val b = idx.select($"cell", $"vec_id".as("b_id"), $"code".as("b_code"))
    val pairs = a.join(b, "cell").filter($"a_id" < $"b_id")
      .withColumn("sdc_dist", sdcCol(sdcLut(), $"a_code", $"b_code"))
      .select($"a_id", $"b_id", $"sdc_dist")
    Operators.topK(pairs, Seq($"sdc_dist".asc, $"a_id".asc), $"b_id".asc, 50)
      .select($"rank", $"a_id", $"b_id", $"sdc_dist")
  }

  /** Oracle: codeword-pair distances from the cb CTE self-join, summed
    * over each within-cell pair's 8 assigned-codeword pairs. */
  private val sdcDedupShortlistSql = pqCodebookCtes + ",\n" +
    gridCtes + ",\n" +
    """cpd AS (SELECT a.s, a.w AS wa, b.w AS wb,
      |    SUM((a.cw - b.cw) * (a.cw - b.cw)) AS d
      |  FROM cb a JOIN cb b ON a.s = b.s AND a.d = b.d
      |  GROUP BY 1, 2, 3),
      |prs AS (SELECT ga.vec_id AS a_id, gb.vec_id AS b_id,
      |    CAST(SUM(cpd.d) AS BIGINT) AS sdc_dist
      |  FROM gassign ga
      |  JOIN gassign gb ON gb.cell = ga.cell AND ga.vec_id < gb.vec_id
      |  JOIN code ca ON ca.vec_id = ga.vec_id
      |  JOIN code cb2 ON cb2.vec_id = gb.vec_id AND cb2.s = ca.s
      |  JOIN cpd ON cpd.s = ca.s AND cpd.wa = ca.cw AND cpd.wb = cb2.cw
      |  GROUP BY 1, 2)
      |SELECT rank, a_id, b_id, sdc_dist FROM (
      |  SELECT CAST(ROW_NUMBER() OVER (
      |      ORDER BY sdc_dist, a_id, b_id) AS BIGINT) AS rank,
      |    a_id, b_id, sdc_dist
      |  FROM prs) t
      |WHERE rank <= 50""".stripMargin

  /** Oracle: the ADC lookup table is exactly the query row's `dist`
    * CTE rows — join each corpus code to the query's per-(subspace,
    * codeword) distance and sum. */
  private val pqAnnSql = pqCodebookCtes + "\n" +
    """SELECT rank, vec_id, adc_dist FROM (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY t.adc ASC, t.vec_id ASC)
      |      AS BIGINT) AS rank,
      |    t.vec_id, t.adc AS adc_dist
      |  FROM (SELECT c.vec_id, CAST(SUM(l.dist) AS BIGINT) AS adc
      |        FROM code c JOIN dist l
      |          ON l.vec_id = 0 AND l.s = c.s AND l.w = c.cw
      |        WHERE c.vec_id <> 0 GROUP BY c.vec_id) t) u
      |WHERE rank <= 5""".stripMargin

  /** IVF-PQ — the production-shape composition (what FAISS deploys at
    * billion-vector scale): the grid coarse quantizer prunes the scan
    * to the probed cells (probes/nCells of the corpus; with the q33
    * physical layout, partition pruning), and ADC over packed codes
    * replaces full dot products inside them (64× less data read, 8
    * lookups per row). Both stages are the integer-exact constructions
    * proven separately (q33, q67), so the COMPOSED result — probe
    * membership and distances — is one more full hash-checked oracle. */
  def ivfPqAnn(spark: SparkSession, dir: String,
      probes: Int = 4, k: Int = 5): DataFrame =
    adcSearch(spark, dir, probes = Some(probes), k = k)

  /** The probe-pruned ADC ranking as a subquery yielding
    * (rank, vec_id, adc_dist) — shared by the q68 oracle and the q76
    * rerank oracle's shortlist stage, one definition. */
  private val ivfPqRankedAdc =
    """SELECT CAST(ROW_NUMBER() OVER (ORDER BY t.adc ASC, t.vec_id ASC)
      |    AS BIGINT) AS rank,
      |  t.vec_id, t.adc AS adc_dist
      |FROM (SELECT c.vec_id, CAST(SUM(l.dist) AS BIGINT) AS adc
      |      FROM code c JOIN dist l
      |        ON l.vec_id = 0 AND l.s = c.s AND l.w = c.cw
      |      JOIN gassign a ON a.vec_id = c.vec_id
      |      WHERE c.vec_id <> 0
      |        AND a.cell IN (SELECT cell FROM gprobe)
      |      GROUP BY c.vec_id) t""".stripMargin

  /** Oracle: composed verbatim from the shared CTE blocks — q67's PQ
    * codebook/code CTEs score, q33's grid CTEs ([[gridCtes]]) choose
    * the probe set — so a change to either quantizer's derivation
    * cannot leave this oracle stale. */
  private val ivfPqAnnSql = pqCodebookCtes + ",\n" + gridCtes + "\n" +
    s"""SELECT rank, vec_id, adc_dist FROM (
      |$ivfPqRankedAdc) u
      |WHERE rank <= 5""".stripMargin

  /** Persist the COMPRESSED ANN index (VERDICT r4 #2) — the deployment
    * artifact the q66–q68 math argues for: the (vec_id, cell, code)
    * table, 64× smaller than the raw vectors, written cell-partitioned
    * (one directory per grid cell via
    * [[graft.operators.Operators.writePartitioned]] — a probe-P search
    * lists and reads only P/nCells directories at planning time), plus
    * the grid-centroid and PQ-codebook PARAMETER tables as sibling
    * parquets so a reader in another JVM/engine can probe and build
    * ADC LUTs without re-deriving the md5 constants. [[ivfWriteIndex]]
    * (the KMeans/raw-vector layout) remains the float-reranking
    * variant; THIS is what a 100 TB deployment ships — the index fits
    * in cluster memory precisely because no embedding bytes are in it. */
  def ivfPqWriteIndex(spark: SparkSession, dir: String, path: String): Unit = {
    graft.operators.Operators.writePartitioned(
      annIndexTable(spark, dir), path, "cell")
    writeIndexParams(spark, path)
  }

  /** Compact a stream-appended compressed-index segment (VERDICT r5
    * #4 — implements the compaction the round-5 sink docs only
    * described). A long-running
    * [[graft.streaming.StreamingQueries.annIndexStream]] appender
    * accumulates ≈ one file per touched cell per micro-batch; this
    * maintenance job reads the SEALED segment (through the streaming
    * sink's `_spark_metadata` view, so exactly the committed rows),
    * rewrites it one-file-per-cell into a fresh directory (codes are
    * stateless facts — an I/O rewrite, no recompute), and swaps
    * directory names. Parameter siblings (`path.centroids` /
    * `path.codebook`) live BESIDE the codes directory and are
    * untouched.
    *
    * Segment contract: run this after the appender terminates (the
    * AvailableNow shape) or rolls to a new segment path — the swap
    * deliberately retires the old `_spark_metadata` with the old
    * directory, which is REQUIRED for correctness: a sink log carried
    * into the compacted directory would mask the compacted files from
    * readers (a metadata-log directory reads only logged files), and a
    * resumed appender writing a fresh log would mask them the same
    * way. Rolling segments + compact-on-seal is the standard
    * streaming-index lifecycle (IR segment merging). The swap is two
    * same-filesystem renames, so `path` is briefly absent between
    * them — run compaction in the segment's maintenance window (no
    * concurrent readers on THIS segment; queries route to other
    * segments meanwhile). A crash between the renames is recoverable:
    * the next compactIndex call restores the retired original before
    * proceeding, so the segment is never lost. */
  def compactIndex(spark: SparkSession, path: String): Unit =
    swapCodes(spark, path)(identity)

  /** Rewrite a cell-partitioned codes table through `transform` with
    * the write-aside + atomic-swap crash discipline — shared by
    * [[compactIndex]] (identity rewrite) and [[deleteFromChunkIndex]]
    * (doc filter). */
  private def swapCodes(spark: SparkSession, path: String)(
      transform: DataFrame => DataFrame): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete()
    }
    val retired = Paths.get(path + ".pre-compact")
    // crash recovery: a prior run that died between its two renames
    // left the only live copy at .pre-compact — restore it first
    if (!Files.exists(Paths.get(path)) && Files.exists(retired))
      Files.move(retired, Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    val codes = transform(spark.read.parquet(path))
    val tmp = path + ".compacting"
    // writePartitioned overwrites, so a stale .compacting from a
    // crashed run cannot wedge this one
    graft.operators.Operators.writePartitioned(codes, tmp, "cell")
    rmTree(retired.toFile) // stale retiree must not block the rename
    Files.move(Paths.get(path), retired, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    rmTree(retired.toFile)
  }

  /** ONE append body for the chunk PQ index — within-batch
    * canonicalization by fingerprint, then a hash anti-join against
    * storage so only NOVEL fingerprints land (q145's index-once
    * rule). Shared verbatim by the streaming upsert
    * ([[graft.streaming.StreamingQueries.chunkIndexUpsertStream]]),
    * the composed ingest tick ([[graft.IngestMain]]), and
    * [[deleteFromChunkIndex]]'s re-offer pass. Returns the rows
    * appended; counted BEFORE the write — `novel` anti-joins the
    * index it extends, so an unmaterialized cache re-evaluated after
    * the append would see its own output and report zero. */
  private[graft] def chunkAppendBatch(batch: DataFrame,
      indexPath: String): Long = {
    val spark = batch.sparkSession
    import spark.implicits._
    val chunks = PipelineOps
      .ragChunkTextsOf(batch.select($"doc_id", $"text"))
      .select($"doc_id", $"chunk_idx", $"chunk",
        md5($"chunk").as("chunk_hash"))
    val canon = chunks.groupBy($"chunk_hash")
      .agg(min(struct($"doc_id".as("d"), $"chunk_idx".as("i"),
        $"chunk".as("c"))).as("m"))
      .select($"chunk_hash", $"m.d".as("doc_id"),
        $"m.i".as("chunk_idx"), $"m.c".as("chunk"))
    // a take-down that removed EVERY document leaves a schema-less
    // parquet dir (only _SUCCESS — Spark writes no part files for an
    // empty partitioned frame), which read.parquet refuses to infer;
    // that state means "the index holds nothing", so the anti-join's
    // stored side is empty and THIS append restores the schema.
    // ONLY the two conditions that encode "nothing there" are treated
    // as empty — a genuine read failure (permissions, corrupt footer)
    // must surface, not silently re-append every fingerprint the
    // anti-join exists to suppress (ADVICE r13)
    val stored =
      try spark.read.parquet(indexPath).select($"chunk_hash")
      catch { case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(c =>
            c.startsWith("UNABLE_TO_INFER_SCHEMA") ||
              c.startsWith("PATH_NOT_FOUND")) =>
        spark.emptyDataset[String].toDF("chunk_hash") }
    val novel = chunkIndexRowsOf(
      canon.join(stored, Seq("chunk_hash"), "left_anti")).persist()
    val n = novel.count()
    novel.write.mode("append").partitionBy("cell").parquet(indexPath)
    novel.unpersist(blocking = false)
    n
  }

  /** DELETE documents from the persisted chunk index — the take-down
    * path, which on THIS index is two steps by necessity: canonical
    * chunk rows are shared across identical chunks from different
    * documents (q145's index-once rule), so dropping a document's
    * rows can orphan content that still exists in surviving
    * documents. Step 1 filter-rewrites the codes table without the
    * deleted docs (the [[compactIndex]] swap discipline); step 2
    * RE-OFFERS the caller-provided surviving documents through the
    * standard append body — the fingerprint anti-join admits exactly
    * the vanished hashes (zero when the index was batch-built with
    * every occurrence; precisely the orphaned canonicals when it was
    * stream-appended). Returns the re-canonicalized row count.
    * Crash safety composes from the parts: a crash between the steps
    * leaves a smaller-but-consistent index whose re-offer is the
    * retry, and the append is manifest-free but idempotent by the
    * same anti-join. At 100 TB the rewrite is bucket-local per cell
    * and the re-offer is O(surviving docs OFFERED), so the caller
    * scopes it — typically the dedup-cluster neighbors of the
    * deleted docs, not the corpus. */
  def deleteFromChunkIndex(spark: SparkSession, path: String,
      docIds: Seq[Long], reoffer: DataFrame): Long = {
    import spark.implicits._
    swapCodes(spark, path)(_.filter(!$"doc_id".isin(docIds: _*)))
    chunkAppendBatch(
      reoffer.filter(!col("doc_id").isin(docIds: _*)), path)
  }

  /** Write just the parameter siblings (centroid + codebook tables)
    * next to a codes table at `path`. Split out of [[ivfPqWriteIndex]]
    * because a STREAM-maintained index needs them too: the quantizers
    * are data-independent, so the streaming appender
    * ([[graft.streaming.StreamingQueries.annIndexStream]] →
    * `toPartitionedParquet`) only ever writes codes rows, and the
    * parameters are laid down once beside the growing table. */
  def writeIndexParams(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    ivfGridCentroids().zipWithIndex
      .map { case (ct, c) => (c, ct.toArray) }.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path.centroids")
    val cbRows = for {
      (sub, s) <- pqCodebook().zipWithIndex
      (word, w) <- sub.zipWithIndex
    } yield (s, w, word.toArray)
    cbRows.toDF("s", "w", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(s"$path.codebook")
  }

  /** Load the parameter siblings of a persisted compressed index —
    * driver-side reads of tiny tables (nCells and nSub×nWords rows). */
  private def readIndexParams(spark: SparkSession, path: String)
      : (IndexedSeq[IndexedSeq[Long]], IndexedSeq[IndexedSeq[IndexedSeq[Long]]]) = {
    val cents = spark.read.parquet(s"$path.centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toIndexedSeq)
      .sortBy(_._1).map(_._2).toIndexedSeq
    val cb = spark.read.parquet(s"$path.codebook").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toIndexedSeq))
      .groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toIndexedSeq }
    (cents, cb)
  }

  /** Search a persisted compressed index: the centroid/codebook
    * siblings (parameters) choose the probe cells and build the query's
    * ADC LUT driver-side; the scan then reads ONLY the probed cell
    * directories of the codes table (`cell IN (...)` is a planning-time
    * PartitionFilter) and never touches an embedding column — there
    * isn't one on disk. The query arrives as a vector (the production
    * shape — callers don't need the query to live in the index);
    * `excludeVecId` drops a known self-match when it does. */
  def ivfPqSearchIndexed(spark: SparkSession, path: String,
      query: Array[Float], probes: Int, k: Int = 5,
      excludeVecId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val (cents, cb) = readIndexParams(spark, path)
    val qQv = quantizeRow(query)
    val probeCells = gridProbeCells(cents, qQv, probes)
    val scan = spark.read.parquet(path)
      .filter($"cell".isin(probeCells: _*) && $"code".isNotNull)
    val candidates = excludeVecId
      .map(id => scan.filter($"vec_id" =!= id)).getOrElse(scan)
    rankedAdcTopK(
      candidates.withColumn("adc_dist", adcCol(adcLut(cb, qQv)))
        .select($"vec_id", $"adc_dist"),
      k)
  }

  /** q76 — IVF-PQ with exact RERANKING, the full two-stage retrieval
    * deployments actually run (FAISS/ScaNN refinement): the compressed
    * stage prunes and ranks cheaply (probe filter + ADC over codes —
    * the proven q68 path, via [[adcSearch]] with k = `shortlist`), then
    * ONLY the shortlist's raw vectors are fetched (a broadcast
    * point-lookup join against the vector table — at 100 TB this reads
    * `shortlist` rows, not the corpus) and exactly re-ranked by cosine.
    * ADC's 64× compression costs ranking fidelity near the top; the
    * rerank buys it back for `shortlist`/corpus of the exact-scan cost.
    * Shortlist membership is integer-exact (same contract as q68), so
    * the composed result stays fully oracle-checkable under q30's
    * rank/ids-only output contract. */
  def ivfPqRerank(spark: SparkSession, dir: String, probes: Int = 4,
      shortlist: Int = 32, k: Int = 5): DataFrame = {
    import spark.implicits._
    val qRow = Tables(spark, dir, "embeddings").filter($"vec_id" === 0)
      .select($"embedding").head.getSeq[Float](0).toArray
    val short = adcSearch(spark, dir, Some(probes), shortlist,
      queryRow = Some(qRow)).select($"vec_id")
    rankedTopK(
      Tables(spark, dir, "embeddings")
        .join(broadcast(short), "vec_id")
        .crossJoin(broadcast(Seq(qRow.toSeq).toDF("q_emb")))
        .withColumn("sim", cosine($"embedding", $"q_emb"))
        .select($"vec_id", $"sim"),
      k)
  }

  /** Oracle: the shared ADC ranking subquery caps the shortlist, then
    * q30's cosine ranking contract re-ranks it. */
  private val ivfPqRerankSql = pqCodebookCtes + ",\n" + gridCtes + ",\n" +
    s"""short AS (SELECT vec_id FROM (
      |$ivfPqRankedAdc) u
      |  WHERE rank <= 32),
      |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
      |SELECT rank, vec_id FROM (
      |  SELECT CAST(ROW_NUMBER() OVER (
      |      ORDER BY ${duckNanvl("list_cosine_similarity(e.embedding, q.q_emb)")} DESC,
      |               e.vec_id ASC) AS BIGINT) AS rank,
      |    e.vec_id
      |  FROM embeddings e JOIN short s ON e.vec_id = s.vec_id, q) t
      |WHERE rank <= 5""".stripMargin

  /** Densify q69's feature-hash long form into dense 64-dim
    * `array<float>` term-count vectors — the text→vector bridge the
    * ANN index paths consume. Shape: [[PipelineOps.featureHash]]'s
    * (doc_id, dim, w) rows re-aggregate per doc_id as 64 conditional
    * sums inside ONE hash aggregate (partial-aggregatable, fully
    * codegen — no collect_list/map or HOF, which would eject the
    * projection from whole-stage codegen), so the densify costs one
    * small shuffle of ≤64 rows per doc on top of q69's. Counts are
    * small integers, exactly representable in float, so the
    * floor(v×1024) quantization downstream recovers count×1024
    * bit-exactly in both engines. */
  /** The densified document-vector table as an [[Artifact]]: the
    * doc-ANN, SemDeDup, decon, retrieval and bitext paths read it
    * instead of re-running the feature-hash + 64-way pivot corpus
    * pass. The memo is spec-pinned row-identical to the fresh
    * [[docVectorsOf]] lift, and the `*Of` forms stay fresh. */
  private[graft] val docVecs = Artifacts[DataFrame]("vector.doc_vectors")
  private[graft] def docVectors(spark: SparkSession, dir: String): DataFrame =
    docVecs.get(spark, dir) {
      val v = docVectorsOf(PipelineOps.featureHash(spark, dir)).persist()
      v.count()
      v
    }

  private[graft] def docVectorsOf(fh: DataFrame): DataFrame = {
    val spark = fh.sparkSession
    import spark.implicits._
    fh.groupBy($"doc_id")
      .agg(array((0 until 64).map(d =>
        coalesce(sum(when($"dim" === d, $"w")), lit(0L)).cast("float")): _*)
        .as("embedding"))
      .select($"doc_id".as("vec_id"), $"embedding")
  }

  /** The [[docVectors]] lift as ONE row-local column over a `text`
    * column — for a stream where each document arrives as one row,
    * the two per-document groupBys collapse to a columnar count per
    * dimension (md5 evaluated once per token, then 64 bounded
    * membership counts). Exactly the batch vector: counts are exact
    * in float and order-free, so stream and batch embeddings are
    * bit-identical (pinned by StreamingSpec). NULL text yields NULL —
    * callers filter it, mirroring the batch universe rule (a NULL
    * document produces no fh rows and no vector). */
  private[graft] def rowDocVector(text: Column): Column =
    graft.functions.VectorExpressions.dimCounts(
      transform(split(text, " "),
        t => conv(substring(md5(t), 1, 8), 16, 10).cast("long") % 64), 64)

  /** The static eval-side index of the q126 policy over any
    * (doc_id, text) frame: md5 eval draw, vectors, grid cells, lifted
    * squared norms — what a deployment materializes once and every
    * arriving document probes ([[graft.streaming.StreamingQueries
    * .deconFlagStream]]). */
  private[graft] def deconEvalIndexOf(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import graft.functions.VectorExpressions.fvecDot
    docVectorsOf(PipelineOps.featureHashOf(corpus))
      .filter(PipelineOps.md5PrefixLong(
        concat(lit("eval:"), $"vec_id".cast("string")), 4) % 10 === 0)
      .select($"vec_id".as("e_id"),
        graft.functions.VectorExpressions.nearestIndex(
          $"embedding", ivfGridCentroids(), 0, QuantScale).as("cell"),
        $"embedding".as("e_emb"), fvecDot($"embedding", $"embedding")
          .as("e_nrm"))
  }

  /** q126's hit predicate in its exact double-op order, shared with
    * the streaming twin. */
  private[graft] def deconHit(emb: Column, eEmb: Column,
      nrm: Column, eNrm: Column): Column = {
    import graft.functions.VectorExpressions.fvecDot
    (nrm + eNrm - lit(2d) * fvecDot(emb, eEmb)) <= lit(DeconTau.toDouble)
  }

  /** q70 — the text→vector→index→search loop closed end to end
    * (VERDICT r4 #1): documents vectorize via the hashing trick (q69),
    * densify ([[docVectors]]), get a grid cell and a packed PQ code
    * from the SAME native-expression lifts as the embedding index
    * (q66/q68's [[withGridCell]]/[[withPqCode]] — the quantizers are
    * data-independent md5 parameters, so they apply to any 64-dim
    * float vector), and the query document searches the corpus by
    * probe-pruned ADC — near-dup/similar documents found via VECTOR
    * search over text-derived vectors, the pipeline a training-data
    * team actually runs. Every stage is integer-exact (integer counts
    * → exact float → exact quantization → integer distances), so probe
    * membership AND distances are part of the hash check.
    *
    * Scale note: ADC/grid distances over raw COUNT vectors stay in
    * long range while count×1024 < ~2^26 (sum of 64 squares < 2^63);
    * web-scale documents with million-count dims would l2-normalize or
    * log-bucket the counts first — a stateless lift in the same spot,
    * traded here for count-space exactness the oracle can check. */
  def docAnn(spark: SparkSession, dir: String,
      probes: Int = 4, k: Int = 5): DataFrame = {
    import spark.implicits._
    val vecs = docVectors(spark, dir)
    // parameter access: the filter on the grouping column pushes below
    // both aggregates to the documents scan, so this reads one doc
    val qRow = vecs.filter($"vec_id" === 0)
      .select($"embedding").head.getSeq[Float](0).toArray
    val qQv = quantizeRow(qRow)
    // no code.isNotNull here, deliberately: docVectors emits exactly 64
    // non-null floats by construction, so NearestIndex can never return
    // NULL on this path — and because this index is built inline (not
    // persisted like annIndexTable), the guard would predicate-push all
    // 8 PQ nearest_index evals into the filter CONDITION and double the
    // quantizer work per row (the r3 isnan-pushdown lesson)
    val index = withPqCode(withGridCell(vecs))
      .filter($"vec_id" =!= 0 &&
        $"cell".isin(gridProbeCells(qQv, probes): _*))
    rankedAdcTopK(
      index.withColumn("adc_dist", adcCol(adcLut(qQv)))
        .select($"vec_id", $"adc_dist"),
      k)
      .select($"rank", $"vec_id".as("doc_id"), $"adc_dist")
  }

  /** q115 — SemDeDup over DOCUMENTS: q111's cell-scoped policy applied
    * to the text side, closing the loop the way SemDeDup is actually
    * deployed (Abbas et al. run it on document embeddings, not a
    * vector table): documents vectorize via the q69 hashing trick,
    * densify ([[docVectors]]), land in q33's integer grid cells, and
    * near-dup detection compares squared-L2 WITHIN cells only. The
    * similarity is exact integer arithmetic end to end — count vectors
    * are exact in float, the codegen dot accumulates in double, so
    * `|a|² + |b|² − 2a·b` is an exactly-representable integer and the
    * count-space threshold 8 (≈ a few token-count edits) equals
    * 8·1024² in the oracle's quantized domain. A vector drops iff a
    * lower-id same-cell neighbor sits within the threshold; one
    * accounting row per vectorizable document. */
  /** q115's count-space squared-L2 threshold (≈ a few token-count
    * edits). ONE constant: the engine compares raw counts against it,
    * the oracle compares the ×1024-quantized domain against
    * `DocSemTau · 1024²` — both derived here so they cannot drift. */
  private val DocSemTau = 8L

  /** `nCells` is THE scale lever: within-cell pairwise work is
    * Σ cell², so a deployment sizes nCells ∝ corpus / target-cell-size
    * to hold blocks constant (SemDeDup runs ~10⁴–10⁵ clusters at web
    * scale). The registered default (16) matches the oracle's CTE
    * constant; Stress10x runs a 64-cell call on the 10× corpus to
    * demonstrate the block-size control. The md5 centroid derivation
    * generalizes to any cell count unchanged. */
  def docSemanticDedup(spark: SparkSession, dir: String,
      nCells: Int = ivfGridCells): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorExpressions.fvecDot
    cellScopedDedup(
      docVectors(spark, dir).withColumn("cell",
        graft.functions.VectorExpressions.nearestIndex(
          col("embedding"), ivfGridCentroids(nCells), 0, QuantScale)),
      normOf = v => fvecDot(v, v),
      // same double-op order as before the norm lift: (a·a + b·b) − 2ab
      (ae, be, an2, bn2) =>
        (an2 + bn2 - lit(2d) * fvecDot(ae, be)) <= lit(DocSemTau.toDouble),
      idCol = "doc_id")
  }

  private val docSemanticDedupSql =
    "WITH " + Seq(
      gridParamCtes,
      PipelineOps.featureHashCte,
      // dd from fh, not documents — the docAnn universe rule
      """dq AS (SELECT dd.doc_id AS vec_id, g.d AS d,
        |    CAST(floor(CAST(CAST(COALESCE(fh.w, 0) AS FLOAT) AS DOUBLE) * 1024)
        |      AS BIGINT) AS q
        |  FROM (SELECT DISTINCT doc_id FROM fh) dd
        |  CROSS JOIN gdims g
        |  LEFT JOIN fh ON fh.doc_id = dd.doc_id AND fh.dim = g.d)""".stripMargin,
      gridSearchCtes("dq")).mkString(",\n") + ",\n" +
      s"""prs AS (
        |  SELECT ga.vec_id AS a_id, gb.vec_id AS b_id, ga.cell
        |  FROM gassign ga
        |  JOIN gassign gb ON ga.cell = gb.cell AND ga.vec_id < gb.vec_id),
        |dst AS (
        |  SELECT p.a_id, p.b_id,
        |    SUM((xa.q - xb.q) * (xa.q - xb.q)) AS d2
        |  FROM prs p
        |  JOIN dq xa ON xa.vec_id = p.a_id
        |  JOIN dq xb ON xb.vec_id = p.b_id AND xb.d = xa.d
        |  GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT b_id FROM dst
        |        WHERE d2 <= ${DocSemTau * QuantScale * QuantScale})
        |SELECT g.vec_id AS doc_id, g.cell, d.b_id IS NULL AS kept
        |FROM gassign g LEFT JOIN dup d ON d.b_id = g.vec_id""".stripMargin

  /** q126's count-space squared-L2 contamination radius. Wider than
    * q115's dedup threshold ([[DocSemTau]] = 8): decontamination hunts
    * paraphrase-distance leaks, not just byte-level near-copies, so
    * the radius admits a few more token-count edits. One constant,
    * both engines (oracle compares ×1024² as [[DocSemTau]] does). */
  private val DeconTau = 32L

  /** The bipartite twin of [[saltedDupIds]]: over a reference frame
    * (the eval side) and a candidate frame (the train side), both
    * (cell, vec_id, embedding), emit the distinct CANDIDATE ids with
    * any same-cell reference neighbor satisfying `isHit`. Same two
    * scale devices — norms lift per vector, and each side salts into
    * `ceil(rows / CellBlockRows)` sub-blocks with the opposite side
    * replicated per block, so every cross pair lands in exactly one
    * (sa, sb) block and a dominant cell becomes fanA·fanB bounded
    * tasks. Cells with no reference rows drop out at the inner fan
    * join — a candidate there has nothing to hit. */
  private def saltedCrossIds(refs: DataFrame, cands: DataFrame,
      normOf: Column => Column,
      isHit: (Column, Column, Column, Column) => Column): DataFrame = {
    val spark = refs.sparkSession
    import spark.implicits._
    def fanOf(df: DataFrame, name: String) = df.groupBy($"cell").agg(
      ceil(count(lit(1)) / lit(CellBlockRows.toDouble)).cast("int")
        .as(name))
    val fans = fanOf(refs, "fan_a").join(fanOf(cands, "fan_b"), "cell")
    val a = refs
      .select($"cell", $"vec_id".as("a_id"), $"embedding".as("a_emb"),
        normOf($"embedding").as("a_nrm"))
      .join(broadcast(fans), "cell")
      .select($"cell",
        pmod(xxhash64($"a_id"), $"fan_a").cast("int").as("sa"),
        explode(expr("sequence(0, fan_b - 1)")).as("sb"),
        $"a_id", $"a_emb", $"a_nrm")
    val b = cands
      .select($"cell", $"vec_id".as("b_id"), $"embedding".as("b_emb"),
        normOf($"embedding").as("b_nrm"))
      .join(broadcast(fans), "cell")
      .select($"cell",
        explode(expr("sequence(0, fan_a - 1)")).as("sa"),
        pmod(xxhash64($"b_id"), $"fan_b").cast("int").as("sb"),
        $"b_id", $"b_emb", $"b_nrm")
    a.join(b, Seq("cell", "sa", "sb"))
      .filter(isHit($"a_emb", $"b_emb", $"a_nrm", $"b_nrm"))
      .select($"b_id".as("hit_id")).distinct()
  }

  /** q126 — cross-corpus semantic DECONTAMINATION: q81's lexical
    * benchmark-overlap check re-run at embedding distance, the
    * SemDeDup machinery pointed across a corpus boundary instead of
    * within one. A held-out eval slice is drawn per document by the
    * engine-portable md5 device (salt "eval:", ~10 % — deliberately
    * per-DOC where q92's training split is per-cluster: the eval set
    * here plays the role of an external benchmark, and the question
    * is precisely which train docs sit too close to one); every
    * TRAIN document within [[DeconTau]] squared-L2 of ANY eval
    * document in its grid cell is flagged contaminated. Same
    * integer-exact arithmetic as q115, so the verdict column
    * hash-checks.
    *
    * Scale shape: the pair miner is the bipartite salted join
    * ([[saltedCrossIds]]) — within-cell work is Σ cellA·cellB with
    * every task bounded by [[CellBlockRows]]², and the eval side is
    * ~10 % of rows, so candidate volume is ~0.1 · Σ cell² — cheaper
    * than the self-join dedup it rides beside. At 100 TB the eval
    * side is a real benchmark table vectorized by the same
    * [[docVectors]] lift; nCells stays the volume lever. */
  def semanticDecon(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorExpressions.fvecDot
    val vecs = docVectors(spark, dir)
      .withColumn("cell",
        graft.functions.VectorExpressions.nearestIndex(
          col("embedding"), ivfGridCentroids(), 0, QuantScale))
      .withColumn("is_eval",
        PipelineOps.md5PrefixLong(
          concat(lit("eval:"), $"vec_id".cast("string")), 4) % 10 === 0)
      .persist()
    // materialize NOW, not lazily: the miner's two fan histograms are
    // separate broadcast-exchange futures that launch concurrently —
    // against an unmaterialized persist each future races the whole
    // docVectors lineage (measured: q126 cpu 18.8 s for a 4 s query).
    // One eager pass populates the blocks; the four readers (two fans,
    // two join sides, accounting) then read cache. q70's .head sets
    // the build-time-action precedent.
    vecs.count()
    val hits = saltedCrossIds(
      vecs.filter($"is_eval"), vecs.filter(!$"is_eval"),
      normOf = v => fvecDot(v, v),
      // q115's exact double-op order: (a·a + b·b) − 2·a·b — one
      // definition with the streaming twin ([[deconHit]])
      (ae, be, an2, bn2) => deconHit(ae, be, an2, bn2))
    vecs.filter(!$"is_eval")
      .select($"vec_id".as("doc_id"), $"cell")
      .join(hits.withColumn("hit", lit(true)),
        $"doc_id" === $"hit_id", "left")
      .select($"doc_id", $"cell",
        coalesce($"hit", lit(false)).as("contaminated"))
  }

  /** Oracle: q115's dq/gassign scaffold plus the md5 eval draw; the
    * contamination verdict is a LEFT JOIN against the distinct
    * eval→train within-cell hits in the ×1024² quantized domain. */
  /** q170 — BITEXT candidate mining: cross-lingual near-translation
    * pairs by embedding proximity — the CCMatrix/LASER-style miner
    * that turns a multilingual crawl into MT training pairs. Every
    * within-cell document pair whose languages DIFFER and whose
    * embedding distance clears the q126 threshold is a candidate
    * (lang_a < lang_b orients each unordered pair exactly once); the
    * quantized integer distance ships in the output, so ranking and
    * membership both hash-check. Reuses the whole audited SemDeDup
    * machinery — [[docVectors]], the grid cell assignment, the
    * lifted-norm distance in [[deconHit]]'s exact double-op order —
    * pointed at the cross-language slice of the pair space instead of
    * the within-language one dedup mines. The emitted `d2q` is
    * Σ(1024·(aᵢ−bᵢ))² exactly (counts are integers, so the double
    * arithmetic is exact and the ×1024² lift is the oracle's
    * quantized domain, the q115 equivalence).
    *
    * Scale shape: the pair miner is the salted-fan within-cell join
    * (q134's device — every task bounded by [[CellBlockRows]]²);
    * cross-lang filtering drops ~1/5 of pairs here but the BOUND is
    * the same Σ cell² as the dedup family it rides beside. At 100 TB
    * with real multilingual encoders (LASER/LaBSE embeddings in the
    * embedding column), nCells is the volume lever and the margin
    * criterion (ratio to k-th neighbor) is the documented refinement.
    */
  private def bitextMining(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    import graft.functions.VectorExpressions.fvecDot
    val vecs = docVectors(spark, dir)
      .join(Tables(spark, dir, "documents")
        .select($"doc_id".as("vec_id"), $"lang"), "vec_id")
      .withColumn("cell",
        graft.functions.VectorExpressions.nearestIndex(
          $"embedding", ivfGridCentroids(), 0, QuantScale))
      .withColumn("nrm", fvecDot($"embedding", $"embedding"))
      .persist()
    // materialize NOW (q126's measured lesson): the fan histogram and
    // the two join sides are three readers of this lift — against an
    // unmaterialized persist each races the whole docVectors lineage
    vecs.count()
    val fan = vecs.groupBy($"cell").agg(
      ceil(count(lit(1)) / lit(CellBlockRows.toDouble)).cast("int")
        .as("fan"))
    val sided = vecs.join(broadcast(fan), "cell")
      .withColumn("own", pmod(xxhash64($"vec_id"), $"fan").cast("int"))
    val a = sided.select($"cell", $"own".as("sa"),
      explode(expr("sequence(0, fan - 1)")).as("sb"),
      $"vec_id".as("a_id"), $"lang".as("a_lang"),
      $"embedding".as("a_emb"), $"nrm".as("a_nrm"))
    val b = sided.select($"cell",
      explode(expr("sequence(0, fan - 1)")).as("sa"), $"own".as("sb"),
      $"vec_id".as("b_id"), $"lang".as("b_lang"),
      $"embedding".as("b_emb"), $"nrm".as("b_nrm"))
    val res = a.join(b, Seq("cell", "sa", "sb"))
      .filter($"a_lang" < $"b_lang")
      .filter(deconHit($"a_emb", $"b_emb", $"a_nrm", $"b_nrm"))
      .select($"a_id", $"a_lang", $"b_id", $"b_lang",
        (($"a_nrm" + $"b_nrm" - lit(2d) * fvecDot($"a_emb", $"b_emb"))
          * lit((QuantScale * QuantScale).toDouble)).cast("long")
          .as("d2q"))
    (res, vecs)
  }

  /** The q170 computation as a CTE chain ending in
    * `cand(a_id, a_lang, b_id, b_lang, d2q)` — shared by the q170
    * dump and q171's margin refinement (the packedCtes idiom). */
  private val bitextCtes =
    "WITH " + Seq(
      gridParamCtes,
      PipelineOps.featureHashCte,
      """dq AS (SELECT dd.doc_id AS vec_id, g.d AS d,
        |    CAST(floor(CAST(CAST(COALESCE(fh.w, 0) AS FLOAT) AS DOUBLE) * 1024)
        |      AS BIGINT) AS q
        |  FROM (SELECT DISTINCT doc_id FROM fh) dd
        |  CROSS JOIN gdims g
        |  LEFT JOIN fh ON fh.doc_id = dd.doc_id AND fh.dim = g.d)""".stripMargin,
      gridSearchCtes("dq")).mkString(",\n") + ",\n" +
      s"""lg AS (SELECT doc_id AS vec_id, lang FROM documents),
        |prs AS (
        |  SELECT ga.vec_id AS a_id, la.lang AS a_lang,
        |    gb.vec_id AS b_id, lb.lang AS b_lang
        |  FROM gassign ga JOIN lg la ON la.vec_id = ga.vec_id
        |  JOIN gassign gb ON gb.cell = ga.cell
        |  JOIN lg lb ON lb.vec_id = gb.vec_id AND la.lang < lb.lang),
        |dst AS (
        |  SELECT p.a_id, p.a_lang, p.b_id, p.b_lang,
        |    CAST(SUM((xa.q - xb.q) * (xa.q - xb.q)) AS BIGINT) AS d2q
        |  FROM prs p
        |  JOIN dq xa ON xa.vec_id = p.a_id
        |  JOIN dq xb ON xb.vec_id = p.b_id AND xb.d = xa.d
        |  GROUP BY 1, 2, 3, 4),
        |cand AS (
        |  SELECT a_id, a_lang, b_id, b_lang, d2q
        |  FROM dst WHERE d2q <= ${DeconTau * QuantScale * QuantScale})"""
        .stripMargin

  private val bitextMiningSql = bitextCtes + "\n" +
    "SELECT a_id, a_lang, b_id, b_lang, d2q FROM cand"

  /** The mined candidate table, write-once at deployment (the aligner
    * reads it; the margin filter reads it once). The build
    * materializes the RESULT through the cached lift, then releases
    * the intermediate, so the artifact never traps a persisted
    * lineage it cannot free. */
  private[graft] val bitext = Artifacts[DataFrame]("vector.bitext_pairs")
  def bitextPairs(spark: SparkSession, dir: String): DataFrame =
    bitext.get(spark, dir) {
      val (res, vecs) = bitextMining(spark, dir)
      val r = res.persist()
      r.count()
      vecs.unpersist()
      r
    }

  /** q171 — bitext MARGIN filtering: the criterion CCMatrix actually
    * ships pairs under — mutual nearest neighbors with a margin. A
    * raw distance threshold (q170) admits hubs: a document that sits
    * close to MANY foreign documents yields many mediocre pairs, and
    * absolute distance cannot tell a confident alignment from a
    * crowded neighborhood. The published fix is relative: keep (a, b)
    * only when each is the OTHER's best candidate in its language
    * direction (mutual rank-1), and score the pair by how much better
    * the best is than the runner-up — `margin_ppm = d2(next) · 10⁶
    * div (d2(best) + 1)` per direction (+1 guards the exact-duplicate
    * zero distance; margin NULL when no alternative exists, which IS
    * the no-competition signal, not a sentinel). Both directions'
    * margins ship — an aligner thresholds on min(fwd, rev).
    *
    * Scale shape: rides the memoized q170 table; the directional view
    * is a union of two projections; ranking is one window per
    * (doc, target-lang) — partitions bounded by a document's
    * within-cell candidate count, the same Σ cell² bound as the
    * miner; the mutual join is doc-keyed equi. Integer throughout →
    * hash-checked including the NULL margins. */
  def bitextMargin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cand = bitextPairs(spark, dir)
    val dirs = cand.select($"a_id".as("id"), $"a_lang".as("lang"),
        $"b_id".as("o_id"), $"b_lang".as("o_lang"), $"d2q")
      .unionAll(cand.select($"b_id".as("id"), $"b_lang".as("lang"),
        $"a_id".as("o_id"), $"a_lang".as("o_lang"), $"d2q"))
    val w = Window.partitionBy($"id", $"o_lang")
      .orderBy($"d2q".asc, $"o_id".asc)
    val ranked = dirs
      .withColumn("rn", row_number().over(w))
      .withColumn("nd2", lead($"d2q", 1).over(w))
    val best = ranked.filter($"rn" === 1)
    best.as("x")
      .join(best.as("y"),
        col("y.id") === col("x.o_id") && col("y.o_id") === col("x.id"))
      .filter(col("x.lang") < col("x.o_lang"))
      .select(col("x.id").as("a_id"), col("x.lang").as("a_lang"),
        col("x.o_id").as("b_id"), col("x.o_lang").as("b_lang"),
        col("x.d2q"),
        expr("CAST(x.nd2 * 1000000 div (x.d2q + 1) AS BIGINT)")
          .as("margin_fwd_ppm"),
        expr("CAST(y.nd2 * 1000000 div (y.d2q + 1) AS BIGINT)")
          .as("margin_rev_ppm"))
  }

  private val bitextMarginSql = bitextCtes + ",\n" +
    """dirs AS (
      |  SELECT a_id AS id, a_lang AS lang, b_id AS o_id,
      |    b_lang AS o_lang, d2q FROM cand
      |  UNION ALL
      |  SELECT b_id, b_lang, a_id, a_lang, d2q FROM cand),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id, o_lang
      |      ORDER BY d2q, o_id) AS rn,
      |    LEAD(d2q) OVER (PARTITION BY id, o_lang
      |      ORDER BY d2q, o_id) AS nd2
      |  FROM dirs),
      |b1 AS (SELECT * FROM rk WHERE rn = 1)
      |SELECT x.id AS a_id, x.lang AS a_lang, x.o_id AS b_id,
      |  x.o_lang AS b_lang, x.d2q,
      |  CAST(x.nd2 * 1000000 // (x.d2q + 1) AS BIGINT)
      |    AS margin_fwd_ppm,
      |  CAST(y.nd2 * 1000000 // (y.d2q + 1) AS BIGINT)
      |    AS margin_rev_ppm
      |FROM b1 x JOIN b1 y ON y.id = x.o_id AND y.o_id = x.id
      |WHERE x.lang < x.o_lang""".stripMargin

  private val semanticDeconSql =
    "WITH " + Seq(
      gridParamCtes,
      PipelineOps.featureHashCte,
      """dq AS (SELECT dd.doc_id AS vec_id, g.d AS d,
        |    CAST(floor(CAST(CAST(COALESCE(fh.w, 0) AS FLOAT) AS DOUBLE) * 1024)
        |      AS BIGINT) AS q
        |  FROM (SELECT DISTINCT doc_id FROM fh) dd
        |  CROSS JOIN gdims g
        |  LEFT JOIN fh ON fh.doc_id = dd.doc_id AND fh.dim = g.d)""".stripMargin,
      gridSearchCtes("dq")).mkString(",\n") + ",\n" +
      s"""ev AS (
        |  SELECT DISTINCT doc_id AS vec_id,
        |    CAST(concat('0x', substr(md5(concat('eval:',
        |      CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT) % 10 = 0 AS is_eval
        |  FROM fh),
        |prs AS (
        |  SELECT ga.vec_id AS a_id, gb.vec_id AS b_id
        |  FROM gassign ga JOIN ev ea ON ea.vec_id = ga.vec_id AND ea.is_eval
        |  JOIN gassign gb ON gb.cell = ga.cell
        |  JOIN ev eb ON eb.vec_id = gb.vec_id AND NOT eb.is_eval),
        |dst AS (
        |  SELECT p.a_id, p.b_id,
        |    SUM((xa.q - xb.q) * (xa.q - xb.q)) AS d2
        |  FROM prs p
        |  JOIN dq xa ON xa.vec_id = p.a_id
        |  JOIN dq xb ON xb.vec_id = p.b_id AND xb.d = xa.d
        |  GROUP BY 1, 2),
        |hit AS (SELECT DISTINCT b_id FROM dst
        |        WHERE d2 <= ${DeconTau * QuantScale * QuantScale})
        |SELECT g.vec_id AS doc_id, g.cell, h.b_id IS NOT NULL AS contaminated
        |FROM gassign g JOIN ev e ON e.vec_id = g.vec_id AND NOT e.is_eval
        |LEFT JOIN hit h ON h.b_id = g.vec_id""".stripMargin

  /** Oracle: q69's shared `fh` CTE densifies to a quantized
    * `(vec_id, d, q)` CTE (LEFT JOIN supplies the zero counts), which
    * plugs into the SAME grid-assignment and PQ-code CTE builders as
    * the q33/q66–q68 oracles — the whole loop re-derived in DuckDB
    * from one definition of each quantizer. */
  private val docAnnSql =
    "WITH " + Seq(
      gridParamCtes,
      pqParamCtes,
      PipelineOps.featureHashCte,
      // dd derives from fh, NOT from documents: a NULL-text document
      // produces no fh rows and is ABSENT from the engine's docVectors
      // (explode of a null token array emits nothing) — deriving the
      // vector universe from documents would give such a doc an
      // all-zero oracle vector that could rank, a one-sided divergence
      // (the q55/nanvl lesson: every engine-side absence needs its
      // oracle mirror)
      """dq AS (SELECT dd.doc_id AS vec_id, g.d AS d,
        |    CAST(floor(CAST(CAST(COALESCE(fh.w, 0) AS FLOAT) AS DOUBLE) * 1024)
        |      AS BIGINT) AS q
        |  FROM (SELECT DISTINCT doc_id FROM fh) dd
        |  CROSS JOIN gdims g
        |  LEFT JOIN fh ON fh.doc_id = dd.doc_id AND fh.dim = g.d)""".stripMargin,
      """dq8 AS (SELECT vec_id, d // 8 AS s, d % 8 AS d, q FROM dq)""",
      gridSearchCtes("dq"),
      pqCodeCtes("dq8")).mkString(",\n") + "\n" +
      """SELECT rank, doc_id, adc_dist FROM (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY t.adc ASC, t.vec_id ASC)
        |      AS BIGINT) AS rank,
        |    t.vec_id AS doc_id, t.adc AS adc_dist
        |  FROM (SELECT c.vec_id, CAST(SUM(l.dist) AS BIGINT) AS adc
        |        FROM code c JOIN dist l
        |          ON l.vec_id = 0 AND l.s = c.s AND l.w = c.cw
        |        JOIN gassign a ON a.vec_id = c.vec_id
        |        WHERE c.vec_id <> 0
        |          AND a.cell IN (SELECT cell FROM gprobe)
        |        GROUP BY c.vec_id) t) u
        |WHERE rank <= 5""".stripMargin

  /** The q156 query vector: [[graft.queries.TextOps.bm25QueryTerms]]
    * feature-hashed through the q69 trick (each term counts 1 in its
    * md5 dim) — pure driver arithmetic over the same [[md5Long8]] the
    * corpus-side hashing uses, so the one query string is represented
    * in BOTH retrieval systems' native spaces without a learned
    * embedding model. */
  private def termQueryVector(): Array[Float] = {
    val counts = new Array[Float](64)
    TextOps.bm25QueryTerms.foreach(t =>
      counts((md5Long8(t) % 64).toInt) += 1f)
    counts
  }

  /** q156 — HYBRID retrieval: reciprocal-rank fusion (Cormack et al.'s
    * RRF, the stock hybrid-search combiner) of the two retrieval
    * systems the engine already serves — the q89 lexical arm (BM25-
    * style integer tf·idf over the posting table, top-20) and a vector
    * arm that answers the SAME query ([[graft.queries.TextOps
    * .bm25QueryTerms]]) by probe-pruned ADC over the q70 document
    * vectors, the query string entering vector space through the same
    * hashing-trick vectorizer as the corpus. Fused score per doc is
    * Σ_arms 10⁶ div (60 + rank) — the classic k=60 constant, in exact
    * integer micro-units so the fusion is hash-checked — with absent
    * arms contributing 0 (rank reported as 0 = "not in this arm's
    * top-20"). Top-10 by (rrf_score, doc_id).
    *
    * Scale shape: each arm is its own audited plan (term-filtered
    * posting aggregate → TakeOrderedAndProject; probe-pruned ADC →
    * TakeOrderedAndProject); the fusion is a full-outer join of two
    * ≤20-row frames — free at any corpus size. The oracle nests q89's
    * shipped SQL body and the docAnn CTE machinery (corpus ids shifted
    * +1 so the shared vec_id-0 probe CTEs serve the term query),
    * making the fused table hash-proven consistent with both member
    * systems. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lexW = Window.orderBy($"score".desc, $"doc_id".asc)
    val lex = TextOps.bm25TopK(spark, dir)
      .withColumn("lex_rank", row_number().over(lexW).cast("long"))
      .select($"doc_id", $"lex_rank")
    val qQv = quantizeRow(termQueryVector())
    val index = docAnnIndexTable(spark, dir)
      .filter($"cell".isin(gridProbeCells(qQv, 4): _*))
    val vec = rankedAdcTopK(
      index.withColumn("adc_dist", adcCol(adcLut(qQv)))
        .select($"vec_id", $"adc_dist"), 20)
      .select($"vec_id".as("doc_id"), $"rank".as("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        coalesce($"lex_rank", lit(0L)).as("lex_rank"),
        coalesce($"vec_rank", lit(0L)).as("vec_rank"),
        (coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L)))
          .as("rrf_score"))
      .orderBy($"rrf_score".desc, $"doc_id".asc)
      .limit(10)
  }

  private val hybridRrfSql =
    TextOps.invertedIndexCtes + ",\n" + Seq(
      """idx AS (
        |  SELECT p.term, p.doc_id, d.df, p.tf FROM p JOIN d USING (term))""".stripMargin,
      s"""larm AS (
        |  SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
        |      AS lex_rank
        |  FROM (
        |    SELECT doc_id, CAST(SUM(tf * (1000000 // df)) AS BIGINT) AS score
        |    FROM idx
        |    WHERE term IN (${TextOps.bm25QueryTerms.map("'" + _ + "'").mkString(", ")})
        |    GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 20) t)""".stripMargin,
      gridParamCtes,
      pqParamCtes,
      PipelineOps.featureHashCte,
      s"""tq AS (
        |  SELECT CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 64 AS dim,
        |    CAST(COUNT(*) AS BIGINT) AS w
        |  FROM (SELECT unnest([${TextOps.bm25QueryTerms.map("'" + _ + "'").mkString(", ")}]) AS t) u
        |  GROUP BY 1)""".stripMargin,
      // query at vec_id 0 (so the shared vec_id-0 probe CTE serves the
      // term query), corpus doc vectors at doc_id + 1
      """dq AS (
        |  SELECT 0 AS vec_id, g.d AS d,
        |    CAST(floor(CAST(CAST(COALESCE(tq.w, 0) AS FLOAT) AS DOUBLE) * 1024)
        |      AS BIGINT) AS q
        |  FROM gdims g LEFT JOIN tq ON tq.dim = g.d
        |  UNION ALL
        |  SELECT dd.doc_id + 1 AS vec_id, g.d AS d,
        |    CAST(floor(CAST(CAST(COALESCE(fh.w, 0) AS FLOAT) AS DOUBLE) * 1024)
        |      AS BIGINT) AS q
        |  FROM (SELECT DISTINCT doc_id FROM fh) dd
        |  CROSS JOIN gdims g
        |  LEFT JOIN fh ON fh.doc_id = dd.doc_id AND fh.dim = g.d)""".stripMargin,
      """dq8 AS (SELECT vec_id, d // 8 AS s, d % 8 AS d, q FROM dq)""",
      gridSearchCtes("dq"),
      pqCodeCtes("dq8"),
      """varm AS (
        |  SELECT vec_id - 1 AS doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY adc ASC, vec_id ASC) AS BIGINT)
        |      AS vec_rank
        |  FROM (SELECT c.vec_id, CAST(SUM(l.dist) AS BIGINT) AS adc
        |        FROM code c JOIN dist l
        |          ON l.vec_id = 0 AND l.s = c.s AND l.w = c.cw
        |        JOIN gassign a ON a.vec_id = c.vec_id
        |        WHERE c.vec_id <> 0
        |          AND a.cell IN (SELECT cell FROM gprobe)
        |        GROUP BY c.vec_id
        |        ORDER BY adc ASC, c.vec_id ASC LIMIT 20) t)""".stripMargin
    ).mkString(",\n") + "\n" +
      """SELECT doc_id, lex_rank, vec_rank, rrf_score FROM (
        |  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |    CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
        |    CAST(COALESCE(v.vec_rank, 0) AS BIGINT) AS vec_rank,
        |    CAST(COALESCE(1000000 // (60 + l.lex_rank), 0)
        |       + COALESCE(1000000 // (60 + v.vec_rank), 0) AS BIGINT)
        |      AS rrf_score
        |  FROM larm l FULL OUTER JOIN varm v ON l.doc_id = v.doc_id) u
        |ORDER BY rrf_score DESC, doc_id ASC
        |LIMIT 10""".stripMargin

  /** q194 — retrieval EVAL harness: rank-quality metrics for the two
    * serving arms over a pseudo-relevance set, the accept/tune gate a
    * retrieval deployment reads next to q83's ANN recall. Relevance is
    * data-derived and integer-exact: a document is relevant iff it
    * contains ≥ 2 DISTINCT query terms (the standard multi-term
    * pseudo-label when no human judgments exist). Per arm — q89 BM25
    * top-20 and q156 hybrid RRF top-10 — the harness emits hits in
    * list, first relevant rank, and the reciprocal-rank surrogate
    * 10⁶ div first_rank (the q89/q107 no-libm device; MRR over one
    * query IS the reciprocal rank). No-relevant arms fail visible
    * (zeros), not absent.
    *
    * Shape: the relevance set is one term-filtered aggregate (the
    * explode prunes to the 3 query terms at the scan); each arm's
    * metric is a ≤20-row join + keyless rollup over an already
    * single-partition TakeOrdered output — nothing data-sized beyond
    * the arms' own plans. */
  def retrievalEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rel = Tables(spark, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("t"))
      .filter($"t".isin(TextOps.bm25QueryTerms: _*))
      .groupBy($"doc_id").agg(countDistinct($"t").as("nq"))
      .filter($"nq" >= 2).select($"doc_id")
    def metrics(arm: String, ranked: DataFrame) =
      ranked.join(rel, Seq("doc_id"))
        .agg(count(lit(1)).as("n_rel"), min($"rank").as("first_rel"))
        .select(lit(arm).as("arm"),
          $"n_rel",
          coalesce($"first_rel", lit(0L)).as("first_rel_rank"),
          coalesce(expr("1000000 div first_rel"), lit(0L)).as("mrr_ppm"))
    val lexW = Window.orderBy($"score".desc, $"doc_id".asc)
    val bm = TextOps.bm25TopK(spark, dir)
      .withColumn("rank", row_number().over(lexW).cast("long"))
      .select($"doc_id", $"rank")
    val hyW = Window.orderBy($"rrf_score".desc, $"doc_id".asc)
    val hy = hybridRrf(spark, dir)
      .withColumn("rank", row_number().over(hyW).cast("long"))
      .select($"doc_id", $"rank")
    metrics("bm25", bm).union(metrics("hybrid", hy))
  }

  /** Oracle: both arms' full SQL embedded as derived tables (DuckDB
    * allows WITH inside a subquery — the q185 nesting device), ranked
    * with the engine's tie rules, joined to the same relevance CTE. */
  private val retrievalEvalSql = {
    val terms = TextOps.bm25QueryTerms.map("'" + _ + "'").mkString(", ")
    s"""WITH rel AS (
      |  SELECT doc_id FROM (
      |    SELECT d.doc_id, COUNT(DISTINCT u.t) AS nq
      |    FROM documents d, unnest(string_split(d.text, ' ')) u(t)
      |    WHERE u.t IN ($terms)
      |    GROUP BY 1) x
      |  WHERE nq >= 2),
      |bmarm AS (
      |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
      |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
      |  FROM (${TextOps.bm25TopKSql}) b),
      |hyarm AS (
      |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
      |      ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rank
      |  FROM ($hybridRrfSql) h)
      |SELECT 'bm25' AS arm, CAST(COUNT(*) AS BIGINT) AS n_rel,
      |  CAST(COALESCE(MIN(rank), 0) AS BIGINT) AS first_rel_rank,
      |  CAST(COALESCE(1000000 // MIN(rank), 0) AS BIGINT) AS mrr_ppm
      |FROM bmarm JOIN rel USING (doc_id)
      |UNION ALL
      |SELECT 'hybrid', CAST(COUNT(*) AS BIGINT),
      |  CAST(COALESCE(MIN(rank), 0) AS BIGINT),
      |  CAST(COALESCE(1000000 // MIN(rank), 0) AS BIGINT)
      |FROM hyarm JOIN rel USING (doc_id)""".stripMargin
  }

  /** The q158 serving batch: three query strings, fixed here and
    * interpolated into the oracle's VALUES list (the NumShards idiom)
    * so engine and oracle answer the same queries. */
  private[graft] val ServeQueries = Seq(
    (0L, "spark window merge"),
    (1L, "stream batch join"),
    (2L, "vector hash sort"))

  /** q158 — MULTI-QUERY ANN serving: a TABLE of queries answered in
    * ONE pass, with zero driver-side per-query work. Every other
    * search in the registry (q33/q67/q68/q70/q146/q156) derives its
    * probe cells and ADC lookup table on the driver from the ONE
    * collected query row — correct for one query, but a serving
    * deployment answers thousands per batch, and a driver loop would
    * serialize them. Here the whole search is columnar: each query
    * row vectorizes ([[rowDocVector]]), takes its 2-probe cell set
    * from the compiled argmin pair (`nearestIndex`/
    * `secondNearestIndex`, q124's multi-probe), equi-joins the codes
    * index on cell, and scores every candidate with the new
    * [[graft.functions.VectorExpressions.PqAdcDist]] codegen
    * expression (the per-query LUT folded into the compiled loop, the
    * codebook a parameter). Per-query top-k is a window PARTITIONED
    * by query — each partition is probe-cell-bounded (q134's
    * per-anchor precedent), never corpus-bounded.
    *
    * Scale shape: queries × probes join the cell-partitioned index as
    * a plain equi-join (broadcast when the query batch is small,
    * shuffle-on-cell when it isn't); candidate scoring is whole-stage
    * codegen; nothing collects. At 100 TB with a persisted index the
    * same plan prunes to the probed cells' partitions. Integer-exact
    * end to end — ranks AND distances hash-checked. */
  def multiQueryAnn(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorExpressions.{nearestIndex, secondNearestIndex, pqAdcDist}
    val cents = ivfGridCentroids()
    val queries = ServeQueries.toDF("query_id", "qtext")
      .select($"query_id", rowDocVector($"qtext").as("q_emb"))
      .withColumn("c1", nearestIndex($"q_emb", cents, 0, QuantScale))
      .withColumn("c2", secondNearestIndex($"q_emb", cents, 0, QuantScale))
      .select($"query_id", $"q_emb",
        explode(array($"c1", $"c2")).as("cell"))
    val index = docAnnIndexTable(spark, dir)
      .select($"vec_id".as("doc_id"), $"cell", $"code")
    Operators.topKPerGroup(
        queries.join(index, "cell")
          .withColumn("adc_dist",
            pqAdcDist($"q_emb", $"code", pqCodebook(), QuantScale)),
        Seq($"query_id"), Seq($"adc_dist".asc), $"doc_id".asc, k)
      .select($"query_id", $"rank", $"doc_id", $"adc_dist")
  }

  /** Oracle: the query universe re-derived from the same literal
    * strings (feature-hash → quantize → per-query 2-probe cells →
    * per-(query, subspace, codeword) distances), candidates via the
    * shared corpus grid/PQ CTEs, ADC as the codeword-distance sum. */
  private val multiQueryAnnSql = {
    val qvals = ServeQueries
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    "WITH " + Seq(
      gridParamCtes,
      pqParamCtes,
      PipelineOps.featureHashCte,
      s"""qt(query_id, qtext) AS (SELECT * FROM (VALUES $qvals))""",
      """qfh AS (
        |  SELECT query_id,
        |    CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 64 AS dim,
        |    CAST(COUNT(*) AS BIGINT) AS w
        |  FROM (SELECT query_id, unnest(string_split(qtext, ' ')) AS t
        |        FROM qt) u
        |  GROUP BY 1, 2)""".stripMargin,
      """qdq AS (
        |  SELECT qt.query_id, g.d AS d,
        |    CAST(floor(CAST(CAST(COALESCE(qfh.w, 0) AS FLOAT) AS DOUBLE) * 1024)
        |      AS BIGINT) AS q
        |  FROM qt CROSS JOIN gdims g
        |  LEFT JOIN qfh ON qfh.query_id = qt.query_id AND qfh.dim = g.d)""".stripMargin,
      """qdist AS (SELECT query_id, c, SUM((q - ct) * (q - ct)) AS dist
        |  FROM qdq JOIN gcent USING (d) GROUP BY 1, 2),
        |qprobe AS (SELECT query_id, c AS cell FROM (
        |    SELECT query_id, c,
        |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, c) AS rn
        |    FROM qdist) t
        |  WHERE rn <= 2)""".stripMargin,
      """dq AS (SELECT dd.doc_id AS vec_id, g.d AS d,
        |    CAST(floor(CAST(CAST(COALESCE(fh.w, 0) AS FLOAT) AS DOUBLE) * 1024)
        |      AS BIGINT) AS q
        |  FROM (SELECT DISTINCT doc_id FROM fh) dd
        |  CROSS JOIN gdims g
        |  LEFT JOIN fh ON fh.doc_id = dd.doc_id AND fh.dim = g.d)""".stripMargin,
      """dq8 AS (SELECT vec_id, d // 8 AS s, d % 8 AS d, q FROM dq)""",
      gridSearchCtes("dq"),
      pqCodeCtes("dq8"),
      """qdq8 AS (SELECT query_id, d // 8 AS s, d % 8 AS d, q FROM qdq),
        |qwdist AS (SELECT query_id, s, w, SUM((q - cw) * (q - cw)) AS dist2
        |  FROM qdq8 JOIN cb USING (s, d) GROUP BY 1, 2, 3)""".stripMargin,
      """adc AS (
        |  SELECT p.query_id, a.vec_id AS doc_id,
        |    CAST(SUM(l.dist2) AS BIGINT) AS adc_dist
        |  FROM qprobe p
        |  JOIN gassign a ON a.cell = p.cell
        |  JOIN code k ON k.vec_id = a.vec_id
        |  JOIN qwdist l ON l.query_id = p.query_id
        |    AND l.s = k.s AND l.w = k.cw
        |  GROUP BY 1, 2)""".stripMargin
    ).mkString(",\n") + "\n" +
      """SELECT query_id, rank, doc_id, adc_dist FROM (
        |  SELECT query_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY adc_dist, doc_id) AS BIGINT) AS rank,
        |    doc_id, adc_dist
        |  FROM adc) t
        |WHERE rank <= 5""".stripMargin
  }

  /** q83 — ANN index quality audit: per-rank recall of the IVF-PQ
    * search (q68's probe-pruned ADC top-5) against the exact
    * brute-force ranking (q30) — the recall@k report every ANN
    * deployment runs before trusting an index, here as a first-class
    * query: for each exact top-5 neighbor, whether the compressed
    * index retrieved it. Both inputs are the already-proven
    * constructions, so the audit itself is fully hash-checked (the
    * oracle composes q30's ranking and q68's shared ADC subquery
    * verbatim — neither side can drift from its source query).
    *
    * Scale shape: both inputs end in TakeOrderedAndProject (k rows);
    * the comparison is a broadcast join of two k-row frames — audit
    * cost is the two searches, the report is free. At 100 TB the same
    * query runs per query-vector batch and aggregates recall over it. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = knnTopK(spark, dir)
    val adc = ivfPqAnn(spark, dir).select($"vec_id", lit(true).as("in_adc"))
    // q76's stage-1 depth: does the 32-deep ADC shortlist at least
    // CONTAIN the true neighbor, so an exact rerank could recover it?
    val short32 = ivfPqAnn(spark, dir, probes = 4, k = 32)
      .select($"vec_id", lit(true).as("in_shortlist32"))
    exact.join(adc, Seq("vec_id"), "left")
      .join(short32, Seq("vec_id"), "left")
      .select($"rank", $"vec_id",
        coalesce($"in_adc", lit(false)).as("in_adc"),
        coalesce($"in_shortlist32", lit(false)).as("in_shortlist32"))
  }

  private val annRecallSql = pqCodebookCtes + ",\n" + gridCtes + ",\n" +
    s"""exact AS (
      |$knnTopKSql),
      |ranked_adc AS (
      |$ivfPqRankedAdc)
      |SELECT e.rank, e.vec_id,
      |  a5.vec_id IS NOT NULL AS in_adc,
      |  a32.vec_id IS NOT NULL AS in_shortlist32
      |FROM exact e
      |LEFT JOIN (SELECT vec_id FROM ranked_adc WHERE rank <= 5) a5
      |  ON e.vec_id = a5.vec_id
      |LEFT JOIN (SELECT vec_id FROM ranked_adc WHERE rank <= 32) a32
      |  ON e.vec_id = a32.vec_id""".stripMargin

  /** q134 — hard-negative mining for contrastive embedding training:
    * for every anchor vector, the top-[[HardNegK]] most-similar
    * vectors with a DIFFERENT label — the "looks like me, isn't me"
    * examples a triplet/InfoNCE loss is starved for. Candidates come
    * from the anchor's integer grid cell only (hard negatives live
    * NEAR the anchor by definition, so the cell restriction is the
    * semantics, not just the scale trick), which keeps pairwise work
    * at Σ cell² like the whole SemDeDup family and makes the
    * candidate set bit-identical in both engines; floats only rank.
    *
    * Scale shape: carries both r8 devices — |v| lifted to a per-vector
    * column before the self-join (one dot per pair), and cells above
    * [[CellBlockRows]] salted into fan² bounded sub-blocks — then one
    * rank window partitioned by anchor (each anchor's candidate list
    * is cell-bounded, so no window partition can exceed a cell).
    * Anchors whose cell holds no cross-label vector emit nothing —
    * they have no hard negative at this quantization, a fact the
    * trainer wants surfaced, not papered over. */
  private[queries] val HardNegK = 3

  /** The mined triplet-negative table, write-once at deployment (the
    * trainer reads it every epoch; the confusion report once). */
  private[graft] val hardNegs = Artifacts[DataFrame]("vector.hard_negatives")
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegs.get(spark, dir)(mineHardNegatives(spark, dir).persist())

  private def mineHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorExpressions.{fvecDot, normDiv}
    // rides the memoized [[probeAssignment]] artifact (cell, norm and
    // label pre-lifted) — the r10 form persisted its own celled copy
    // here and leaked it for the JVM lifetime (ADVICE r10)
    val emb = probeAssignment(spark, dir)
      .select($"cell", $"vec_id", $"embedding", $"nrm", $"label")
    val fan = emb.groupBy($"cell").agg(
      ceil(count(lit(1)) / lit(CellBlockRows.toDouble)).cast("int")
        .as("fan"))
    val sided = emb
      .join(broadcast(fan), "cell")
      .withColumn("own", pmod(xxhash64($"vec_id"), $"fan").cast("int"))
    val a = sided.select($"cell", $"own".as("sa"),
      explode(expr("sequence(0, fan - 1)")).as("sb"),
      $"vec_id".as("a_id"), $"embedding".as("a_emb"),
      $"nrm".as("a_nrm"), $"label".as("a_label"))
    val b = sided.select($"cell",
      explode(expr("sequence(0, fan - 1)")).as("sa"), $"own".as("sb"),
      $"vec_id".as("b_id"), $"embedding".as("b_emb"),
      $"nrm".as("b_nrm"), $"label".as("b_label"))
    val cands = a.join(b, Seq("cell", "sa", "sb"))
      .filter($"a_label" =!= $"b_label")
      // same double-op order as cosine(): dot / (|a|·|b|) via the
      // ANSI-safe normDiv; NaN (zero norm) demotes below every real
      // so it can never rank
      .withColumn("sim", nanvl(normDiv(fvecDot($"a_emb", $"b_emb"),
        $"a_nrm" * $"b_nrm"), lit(Double.NegativeInfinity)))
    Operators.topKPerGroup(cands, Seq($"a_id"), Seq($"sim".desc),
        $"b_id".asc, HardNegK)
      .select($"a_id".as("vec_id"), $"rank", $"b_id".as("neg_id"),
        $"b_label".cast("long").as("neg_label"))
  }

  /** Oracle: the shared grid-assignment CTEs, then per-anchor
    * cross-label ranking within the anchor's cell — as a WITH-body
    * ending in an `hn` CTE so the q137 confusion rollup shares the
    * whole mining chain (one definition, the rollup cannot drift). */
  private val hardNegCtes =
    s"""$gridCtes,
      |hn AS (SELECT vec_id, rank, neg_id, neg_label FROM (
      |  SELECT a.vec_id, b.vec_id AS neg_id,
      |    CAST(b.label AS BIGINT) AS neg_label,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY ${duckNanvl("list_cosine_similarity(a.embedding, b.embedding)")} DESC,
      |               b.vec_id ASC) AS BIGINT) AS rank
      |  FROM embeddings a
      |    JOIN gassign ga ON ga.vec_id = a.vec_id
      |    JOIN gassign gb ON gb.cell = ga.cell
      |    JOIN embeddings b ON b.vec_id = gb.vec_id
      |  WHERE a.label <> b.label) t
      |WHERE rank <= $HardNegK)""".stripMargin

  private val hardNegativesSql =
    s"""WITH $hardNegCtes
      |SELECT vec_id, rank, neg_id, neg_label FROM hn""".stripMargin

  /** q137 — label-confusion report: which class PAIRS blur in
    * embedding space. For every anchor, q134's rank-1 hard negative
    * names the class the encoder most confuses the anchor's class
    * with; the (label, neg_label) count matrix — with an integer
    * parts-per-million share within each anchor label — is the
    * triage artifact an embedding-quality review reads first (it
    * points retraining at the worst class pair, where per-anchor
    * triplets are too granular to read). Bounded output: ≤ |labels|²
    * rows.
    *
    * Scale shape: rides the q134 mining join, then ONE
    * partial-aggregatable rollup on the bounded (label, neg_label)
    * domain; the ppm window runs on that bounded frame, keyed by
    * label — parameter-scale, never data-scale. */
  def labelConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lab = Tables(spark, dir, "embeddings")
      .select($"vec_id", $"label".cast("long").as("label"))
    hardNegatives(spark, dir).filter($"rank" === 1)
      .join(lab, "vec_id")
      .groupBy($"label", $"neg_label")
      .agg(count(lit(1)).as("n_anchors"))
      .withColumn("ppm", expr(
        "(1000000 * n_anchors) div (SUM(n_anchors) OVER (PARTITION BY label))"))
  }

  private val labelConfusionSql =
    s"""WITH $hardNegCtes
      |SELECT CAST(a.label AS BIGINT) AS label, hn.neg_label,
      |  CAST(COUNT(*) AS BIGINT) AS n_anchors,
      |  CAST((1000000 * COUNT(*)) // CAST(SUM(COUNT(*))
      |    OVER (PARTITION BY a.label) AS BIGINT) AS BIGINT) AS ppm
      |FROM hn JOIN embeddings a ON a.vec_id = hn.vec_id
      |WHERE hn.rank = 1
      |GROUP BY a.label, hn.neg_label""".stripMargin

  /** q136 — triplet mining with the margin audit: for every anchor
    * that has BOTH a same-label and a cross-label neighbor in its grid
    * cell, emit the FaceNet-style hardest triplet — hardest positive
    * (lowest-similarity same-label vector: the pair the encoder most
    * fails to pull together) and hardest negative (q134's rank-1
    * cross-label vector) — plus the `violated` bit (negative at least
    * as close as the positive), the count a metric-learning curriculum
    * is driven by. Anchors missing either side emit nothing — same
    * surfacing contract as q134.
    *
    * The raw margin `pos_sim − neg_sim` is deliberately NOT a column:
    * it is a difference of two float accumulations, and the engines'
    * accumulators legitimately differ at the ~1e-7 level (fvec_dot
    * multiplies in float then widens; DuckDB's list_cosine_similarity
    * stays float32), so no rounding scheme makes the double itself
    * hash-stable — the registry's "floats rank, integers/booleans
    * land in output" rule exists for exactly this case. `violated`
    * compares the two sims directly (an equality-boundary flip needs
    * a cross-engine near-tie between DIFFERENT vector pairs — the
    * same accepted risk class as every ranking query here).
    *
    * Scale shape: ONE within-cell candidate pass (the q134 join shape)
    * feeding two conditional argmax/argmin STRUCT aggregates —
    * partial-aggregatable, so the shuffle moves two rows per (anchor,
    * partition) instead of every candidate pair (q31's device, doubled).
    * NaN similarities (zero-norm vectors) are filtered before the
    * aggregation: an argMIN would otherwise promote the −∞ demotion
    * value that protects argmax paths. */
  def tripletMargins(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorExpressions.{fvecDot, normDiv}
    val emb = probeAssignment(spark, dir)
      .select($"cell", $"vec_id", $"embedding", $"nrm", $"label")
    val a = emb.select($"cell", $"vec_id".as("a_id"),
      $"embedding".as("a_emb"), $"nrm".as("a_nrm"), $"label".as("a_label"))
    val b = emb.select($"cell", $"vec_id".as("b_id"),
      $"embedding".as("b_emb"), $"nrm".as("b_nrm"), $"label".as("b_label"))
    a.join(b, Seq("cell"))
      .filter($"a_id" =!= $"b_id")
      .withColumn("sim",
        normDiv(fvecDot($"a_emb", $"b_emb"), $"a_nrm" * $"b_nrm"))
      .filter(!isnan($"sim"))
      .groupBy($"a_id")
      .agg(
        min(when($"a_label" === $"b_label", struct($"sim", $"b_id")))
          .as("p"),
        max(when($"a_label" =!= $"b_label", struct($"sim", (-$"b_id")
          .as("neg")))).as("n"))
      .filter($"p".isNotNull && $"n".isNotNull)
      .select($"a_id".as("vec_id"),
        $"p.b_id".as("pos_id"), (-$"n.neg").cast("long").as("neg_id"),
        ($"n.sim" >= $"p.sim").as("violated"))
  }

  /** Oracle: same cell restriction via the shared grid CTEs, hardest
    * positive / hardest negative via rank-1 windows. */
  private val tripletMarginsSql =
    s"""WITH $gridCtes,
      |cand AS (
      |  SELECT a.vec_id, b.vec_id AS b_id,
      |    a.label AS al, b.label AS bl,
      |    list_cosine_similarity(a.embedding, b.embedding) AS sim
      |  FROM embeddings a
      |    JOIN gassign ga ON ga.vec_id = a.vec_id
      |    JOIN gassign gb ON gb.cell = ga.cell
      |    JOIN embeddings b ON b.vec_id = gb.vec_id
      |  WHERE a.vec_id <> b.vec_id
      |    AND NOT isnan(list_cosine_similarity(a.embedding, b.embedding))),
      |pos AS (SELECT vec_id, b_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY sim ASC, b_id ASC) AS rn
      |  FROM cand WHERE al = bl),
      |neg AS (SELECT vec_id, b_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY sim DESC, b_id ASC) AS rn
      |  FROM cand WHERE al <> bl)
      |SELECT p.vec_id, p.b_id AS pos_id, n.b_id AS neg_id,
      |  n.sim >= p.sim AS violated
      |FROM pos p JOIN neg n ON n.vec_id = p.vec_id
      |WHERE p.rn = 1 AND n.rn = 1""".stripMargin

  /** q141 — embedding-distribution DRIFT report: the delta batch's
    * grid-cell occupancy against the standing corpus's, per cell, in
    * integer parts-per-million — the shift detector an embedding
    * pipeline runs before trusting yesterday's ANN index (or SemDeDup
    * cell budget) on today's data. A cell whose delta share departs
    * from its corpus share is where new content concentrates; Σ
    * |drift|/2 over cells is the total-variation distance, left to the
    * consumer because the per-cell attribution IS the actionable part.
    * The delta split is the q46 md5 device on vec_id, the cells are
    * the same integer quantizer every ANN/SemDeDup path shares — so
    * the report is engine-exact and bounded at nCells rows.
    *
    * Scale shape: one celled scan → ONE bounded-key (≤ nCells) rollup
    * with conditional sums → a 1-row totals broadcast (the q99
    * no-global-aggregate device). Map-side everything; free at
    * 100 TB. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val celled = probeAssignment(spark, dir).select($"vec_id", $"cell")
      .withColumn("is_delta",
        substring(md5($"vec_id".cast("string")), 1, 2) < "1a")
    val counts = celled.groupBy($"cell")
      .agg(sum(when($"is_delta", 0L).otherwise(1L)).as("n_corpus"),
        sum(when($"is_delta", 1L).otherwise(0L)).as("n_delta"))
    val tot = counts.withColumn("k", lit(0)).groupBy($"k")
      .agg(sum($"n_corpus").as("tc"), sum($"n_delta").as("td"))
    counts.withColumn("k", lit(0)).join(broadcast(tot), "k")
      .select($"cell", $"n_corpus", $"n_delta",
        expr("CAST(IF(tc = 0, 0, (1000000 * n_corpus) div tc) AS BIGINT)")
          .as("corpus_ppm"),
        expr("CAST(IF(td = 0, 0, (1000000 * n_delta) div td) AS BIGINT)")
          .as("delta_ppm"))
      .withColumn("drift_ppm", abs($"delta_ppm" - $"corpus_ppm"))
  }

  private val embeddingDriftSql =
    s"""WITH $gridCtes,
      |sp AS (
      |  SELECT cell,
      |    substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '1a' AS is_delta
      |  FROM gassign),
      |counts AS (
      |  SELECT cell,
      |    CAST(SUM(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_corpus,
      |    CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_delta
      |  FROM sp GROUP BY cell),
      |t AS (
      |  SELECT CAST(SUM(n_corpus) AS BIGINT) AS tc,
      |    CAST(SUM(n_delta) AS BIGINT) AS td
      |  FROM counts)
      |SELECT cell, n_corpus, n_delta,
      |  CAST(CASE WHEN tc = 0 THEN 0
      |    ELSE (1000000 * n_corpus) // tc END AS BIGINT) AS corpus_ppm,
      |  CAST(CASE WHEN td = 0 THEN 0
      |    ELSE (1000000 * n_delta) // td END AS BIGINT) AS delta_ppm,
      |  abs(CAST(CASE WHEN td = 0 THEN 0
      |      ELSE (1000000 * n_delta) // td END AS BIGINT)
      |    - CAST(CASE WHEN tc = 0 THEN 0
      |      ELSE (1000000 * n_corpus) // tc END AS BIGINT)) AS drift_ppm
      |FROM counts, t""".stripMargin

  /** q197's REBUILD POLICY — one row per index family, with its drift
    * tolerances in integer ppm and whether the quantizer recall gate
    * applies. Two thresholds because the families fail differently:
    * probe-routed serving (ivf, ivf_sq8) breaks when ANY cell's
    * occupancy shifts (the probe set stops covering where new content
    * lands — a per-cell bound), while the trained-codebook families
    * (ivf_pq, chunk_pq) degrade with TOTAL distribution movement
    * (codewords sit at stale centroids — a mass bound, tighter because
    * retraining a codebook is cheaper to trigger than re-routing
    * probes is to get wrong). `recall_gated = false` for the knn_graph
    * family: the graph has no trained-vs-seed quantizer pair (routing
    * quality is q200's audit instead), so its rebuild verdict is
    * drift-only — the row [[graft.VectorIngestMain]]'s nightly tick
    * reads, so tick and report can never diverge (VERDICT r14 #3).
    * Constants interpolated into the oracle from this one table (the
    * NumShards anti-drift rule).
    *
    * `recall_floor_ppm` (VERDICT r15 #6): the SERVING-recall floor in
    * integer ppm — the knn_graph row's teeth. Drift gauges what moved
    * under the index; the floor gauges what the index still DELIVERS:
    * [[graft.VectorIngestMain]]'s tick measures mean hit@5 of
    * fleet-routing the held-out queries against its own standing
    * index (q208's audit body) and forces `rebuild` when the measured
    * recall falls below the floor, drift or no drift. 200000 ppm
    * (0.2) is the audited floor for the shipped knobs — the 10×
    * convergent-build evidence line. 0 = no floor: the quantizer
    * families' recall protection is the trained-vs-seed gate
    * (`recall_gated`), not a route-level floor. q197 REPORTS the
    * floor column (one table, visible in the decision output); the
    * tick ENFORCES it, because only the tick has a live index to
    * measure. */
  private[graft] val ReindexPolicy
      : Seq[(String, Long, Long, Boolean, Long)] =
    Seq(
      ("ivf", 100000L, 20000L, true, 0L),
      ("ivf_sq8", 100000L, 20000L, true, 0L),
      ("ivf_pq", 60000L, 50000L, true, 0L),
      ("chunk_pq", 60000L, 50000L, true, 0L),
      ("knn_graph", 100000L, 20000L, false, 200000L))

  /** q197 — the drift→retrain→reindex DECISION: the operational query
    * a 100 TB deployment schedules nightly, closing the loop the
    * monitoring/training/audit queries left open (VERDICT r12 #5).
    * Reads q141's cell-drift report ([[embeddingDrift]], verbatim)
    * against the [[ReindexPolicy]] thresholds and emits a
    * rebuild/keep/hold verdict PER INDEX FAMILY, gated by q159's
    * recall audit ([[refinedRecall]], verbatim — which itself rides
    * q157's trained centroids): `rebuild` only when drift exceeds the
    * family's tolerance AND the trained quantizer recalls at least as
    * well as the seed one; drift-without-recall-gain reports `hold`,
    * the page-a-human verdict (a rebuild that loses recall is a
    * regression, not maintenance). Families whose policy row carries
    * `recall_gated = false` (knn_graph — no trained-vs-seed quantizer
    * pair) skip the gate: drift alone decides, which is exactly
    * [[graft.VectorIngestMain]]'s tick arm. Everything
    * integer/boolean/string, so the whole decision table hash-checks.
    *
    * Scale shape: q141's rollup is ≤nCells keys, q159's audit is a
    * 5-row broadcast join; the verdict itself is a 5-row policy table
    * cross-joined against two one-row broadcast scalars (the
    * documented keyless scalar-rollup exemption) — free at any corpus
    * size once the constituent audits ran. */
  def reindexDecision(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = embeddingDrift(spark, dir)
      .agg(sum($"drift_ppm").as("tv2_ppm"),
        max($"drift_ppm").as("max_cell_ppm"))
    val g = refinedRecall(spark, dir)
      .agg(sum(when($"in_seed_probe", 1L).otherwise(0L)).as("seed_hits"),
        sum(when($"in_trained_probe", 1L).otherwise(0L)).as("trained_hits"))
    val pol = ReindexPolicy
      .toDF("index_family", "tv2_threshold_ppm", "cell_threshold_ppm",
        "recall_gated", "recall_floor_ppm")
    pol.crossJoin(broadcast(d)).crossJoin(broadcast(g))
      .withColumn("drift_exceeded",
        $"tv2_ppm" > $"tv2_threshold_ppm" ||
          $"max_cell_ppm" > $"cell_threshold_ppm")
      .withColumn("recall_gate_ok", $"trained_hits" >= $"seed_hits")
      .withColumn("verdict",
        when(!$"drift_exceeded", "keep")
          .when(!$"recall_gated" || $"recall_gate_ok", "rebuild")
          .otherwise("hold"))
      .select($"index_family", $"tv2_ppm", $"max_cell_ppm",
        $"tv2_threshold_ppm", $"cell_threshold_ppm", $"recall_gated",
        $"drift_exceeded", $"seed_hits", $"trained_hits",
        $"recall_gate_ok", $"verdict", $"recall_floor_ppm")
  }

  /** Oracle: q141's and q159's full oracles embedded verbatim as CTEs
    * (the nested-WITH device), rolled to the two scalars, crossed
    * with the policy VALUES — the decision's inputs are re-derived
    * end to end, not trusted. Lazy: interpolates vals defined later
    * in this object. */
  private lazy val reindexDecisionSql =
    s"""WITH drift AS (
      |$embeddingDriftSql
      |),
      |rr AS (
      |$refinedRecallSql
      |),
      |d AS (SELECT CAST(SUM(drift_ppm) AS BIGINT) AS tv2_ppm,
      |  CAST(MAX(drift_ppm) AS BIGINT) AS max_cell_ppm FROM drift),
      |g AS (SELECT
      |  CAST(SUM(CASE WHEN in_seed_probe THEN 1 ELSE 0 END) AS BIGINT)
      |    AS seed_hits,
      |  CAST(SUM(CASE WHEN in_trained_probe THEN 1 ELSE 0 END) AS BIGINT)
      |    AS trained_hits
      |  FROM rr),
      |pol AS (SELECT * FROM (VALUES
      |  ${ReindexPolicy.map { case (f, t, c, rg, fl) =>
      s"('$f', CAST($t AS BIGINT), CAST($c AS BIGINT), $rg, " +
        s"CAST($fl AS BIGINT))"
    }.mkString(", ")})
      |  p(index_family, tv2_threshold_ppm, cell_threshold_ppm,
      |    recall_gated, recall_floor_ppm))
      |SELECT p.index_family, d.tv2_ppm, d.max_cell_ppm,
      |  p.tv2_threshold_ppm, p.cell_threshold_ppm, p.recall_gated,
      |  (d.tv2_ppm > p.tv2_threshold_ppm
      |    OR d.max_cell_ppm > p.cell_threshold_ppm) AS drift_exceeded,
      |  g.seed_hits, g.trained_hits,
      |  g.trained_hits >= g.seed_hits AS recall_gate_ok,
      |  CASE WHEN NOT (d.tv2_ppm > p.tv2_threshold_ppm
      |      OR d.max_cell_ppm > p.cell_threshold_ppm) THEN 'keep'
      |    WHEN (NOT p.recall_gated)
      |      OR g.trained_hits >= g.seed_hits THEN 'rebuild'
      |    ELSE 'hold' END AS verdict,
      |  p.recall_floor_ppm
      |FROM pol p, d, g""".stripMargin

  /** q146 — CHUNK-level retrieval, the RAG search loop closed end to
    * end: q144's overlapping chunks vectorize with the row-local
    * hashing lift ([[rowDocVector]] — one columnar expression per
    * chunk row, exact integer counts in float), take a grid cell and
    * a packed PQ code from the SAME data-independent quantizers as
    * every other index here, and the query chunk (doc 0's first
    * chunk) searches the corpus by probe-pruned ADC — excluding the
    * query DOCUMENT entirely, the way a retriever must not surface
    * the asking document's own chunks. q70 proved this loop at
    * document granularity; chunks are the granularity RAG serving
    * actually indexes, and the 32-token chunk keeps counts ≤ 32 — far
    * inside the integer-exactness bounds, so probe membership AND
    * distances hash-check. Chunk identity travels as
    * `doc_id·4096 + chunk_idx` (chunk counts at these document
    * lengths stay orders of magnitude under 4096; the split is
    * recovered exactly in the output).
    *
    * Scale shape: map-side chunk explode + vectorize + quantize
    * (codegen), probe-pruned codes-only candidate scan, ONE
    * TakeOrderedAndProject — q70's audited shape with more, smaller
    * rows. */
  def chunkRetrieval(spark: SparkSession, dir: String,
      probes: Int = 4, k: Int = 5): DataFrame = {
    import spark.implicits._
    val vecs = PipelineOps.ragChunkTexts(spark, dir)
      .select(packedChunkId($"doc_id", $"chunk_idx").as("vec_id"),
        $"doc_id", rowDocVector($"chunk").as("embedding"))
    // query vector derived DRIVER-side from doc 0's first chunk text —
    // the deployment shape (a retrieval query arrives externally, it is
    // never a second pass over the index plan), and it spares one full
    // analysis+execution of the heavy quantizer tree. Same arithmetic
    // as rowDocVector: md5 first-8-hex dim, integer counts, exact in
    // float.
    val qRow = chunkQueryVector(
      Tables(spark, dir, "documents")
        .filter($"doc_id" === 0).select($"text").head.getString(0))
    val qQv = quantizeRow(qRow)
    val index = withPqCode(withGridCell(vecs))
      .filter($"doc_id" =!= 0 &&
        $"cell".isin(gridProbeCells(qQv, probes): _*))
    rankedAdcTopK(
      index.withColumn("adc_dist", adcCol(adcLut(qQv)))
        .select($"vec_id", $"adc_dist"), k)
      .select($"rank", expr("vec_id div 4096").as("doc_id"),
        expr("vec_id % 4096").as("chunk_idx"), $"adc_dist")
  }

  /** Oracle: the q70 composition over the shared chunk CTEs — chunk
    * token counts per hashed dim, densified quantized vectors, the
    * shared grid/PQ machinery, probe-pruned ADC ranking. */
  private val chunkRetrievalSql =
    "WITH " + Seq(
      gridParamCtes,
      pqParamCtes,
      PipelineOps.ragChunkCteBody,
      """cfh AS (SELECT cid, dim, CAST(COUNT(*) AS BIGINT) AS w FROM (
        |    SELECT ch.doc_id * 4096 + ch.chunk_idx AS cid,
        |      CAST(concat('0x', substr(md5(u.t), 1, 8)) AS BIGINT) % 64
        |        AS dim
        |    FROM ch, unnest(string_split(ch.chunk, ' ')) u(t)) z
        |  GROUP BY cid, dim)""".stripMargin,
      """cdq AS (SELECT cc.cid AS vec_id, g.d AS d,
        |    CAST(floor(CAST(CAST(COALESCE(cfh.w, 0) AS FLOAT) AS DOUBLE)
        |      * 1024) AS BIGINT) AS q
        |  FROM (SELECT DISTINCT cid FROM cfh) cc
        |  CROSS JOIN gdims g
        |  LEFT JOIN cfh ON cfh.cid = cc.cid AND cfh.dim = g.d)""".stripMargin,
      """cdq8 AS (SELECT vec_id, d // 8 AS s, d % 8 AS d, q FROM cdq)""",
      gridSearchCtes("cdq"),
      pqCodeCtes("cdq8")).mkString(",\n") + "\n" +
      """SELECT rank, doc_id, chunk_idx, adc_dist FROM (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY t.adc ASC, t.vec_id ASC)
        |      AS BIGINT) AS rank,
        |    CAST(t.vec_id // 4096 AS BIGINT) AS doc_id,
        |    CAST(t.vec_id % 4096 AS BIGINT) AS chunk_idx,
        |    t.adc AS adc_dist
        |  FROM (SELECT c.vec_id, CAST(SUM(l.dist) AS BIGINT) AS adc
        |        FROM code c JOIN dist l
        |          ON l.vec_id = 0 AND l.s = c.s AND l.w = c.cw
        |        JOIN gassign a ON a.vec_id = c.vec_id
        |        WHERE c.vec_id // 4096 <> 0
        |          AND a.cell IN (SELECT cell FROM gprobe)
        |        GROUP BY c.vec_id) t) u
        |WHERE rank <= 5""".stripMargin

  /** Packed chunk identity `doc_id·4096 + chunk_idx`, with a LOUD
    * overflow guard (ADVICE r10): a document with ≥ 4096 chunks
    * (~98k tokens at the 32/24 geometry) would silently alias into
    * another document's id space — corrupting retrieval output while
    * still hash-matching an oracle that uses the same packing. The
    * guard costs one comparison per row and turns the silent aliasing
    * into a job-failing error naming the document. */
  private[graft] val ChunkIdxCap = 4096L
  private[graft] def packedChunkId(docId: Column, chunkIdx: Column): Column =
    when(chunkIdx < lit(ChunkIdxCap), docId * lit(ChunkIdxCap) + chunkIdx)
      .otherwise(raise_error(concat(
        lit(s"chunk_idx >= $ChunkIdxCap overflows packed chunk id for doc_id="),
        docId.cast("string"))))

  /** The chunk-index ROW lift shared by the batch index build, and —
    * via [[graft.streaming.StreamingQueries.chunkIndexUpsertStream]] —
    * the streaming upsert: (doc_id, chunk_idx, chunk_hash, chunk) rows
    * become (vec_id, doc_id, chunk_idx, chunk_hash, cell, code) index
    * rows through the SAME row-local vectorize ([[rowDocVector]]) and
    * data-independent grid/PQ quantizers as live q146 — stateless, so
    * stream- and batch-built index rows are bit-identical. The
    * fingerprint travels INTO the stored index: it is the upsert key
    * (q145's "index once, point many" rule) and costs 32 bytes/row
    * that the search path never reads (column pruning — plan-asserted
    * in ChunkIndexSpec). */
  private[graft] def chunkIndexRowsOf(chunks: DataFrame): DataFrame =
    withPqCode(withGridCell(
      chunks.select(
        packedChunkId(col("doc_id"), col("chunk_idx")).as("vec_id"),
        col("doc_id"), col("chunk_idx"), col("chunk_hash"),
        rowDocVector(col("chunk")).as("embedding"))))
      .select(col("vec_id"), col("doc_id"), col("chunk_idx"),
        col("chunk_hash"), col("cell"), col("code"))

  /** Persist the CHUNK-level compressed RAG index (VERDICT r10 #1 —
    * the granularity RAG serving actually deploys): q144's chunks,
    * vectorized and coded by [[chunkIndexRowsOf]], written
    * cell-partitioned via
    * [[graft.operators.Operators.writePartitioned]] with the
    * centroid/codebook parameter siblings — the
    * [[ivfPqWriteIndex]] storage loop applied at chunk granularity.
    * A probe-P search reads P/nCells directories and only the
    * (vec_id, doc_id, code) columns; chunk text never enters the
    * index (the fingerprint stands in for identity). */
  def chunkWriteIndex(spark: SparkSession, dir: String, path: String): Unit =
    chunkWriteIndexOf(Tables(spark, dir, "documents"), path)

  /** [[chunkWriteIndex]] over an explicit (doc_id, text) frame — the
    * ingest tick builds its corpus-side index from the non-delta slice
    * (IngestMain), the registry build from the whole table. */
  private[graft] def chunkWriteIndexOf(docs: DataFrame,
      path: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.Operators.writePartitioned(
      chunkIndexRowsOf(PipelineOps.ragChunkTextsOf(docs)
        .select($"doc_id", $"chunk_idx", md5($"chunk").as("chunk_hash"),
          $"chunk")),
      path, "cell")
    writeIndexParams(spark, path)
  }

  /** Search a persisted chunk index: the q146 retrieval answered FROM
    * storage — centroid/codebook siblings choose probes and build the
    * ADC LUT driver-side, the scan reads ONLY the probed cell
    * directories (planning-time PartitionFilters) and only the
    * (vec_id, doc_id, code) columns (no chunk text, no fingerprint, no
    * embedding — none needed to rank). `excludeDocId` drops the asking
    * document's own chunks, the retriever's self-exclusion rule.
    * Spec-pinned hash-equal to live [[chunkRetrieval]] in
    * ChunkIndexSpec. */
  def chunkSearchIndexed(spark: SparkSession, path: String,
      query: Array[Float], probes: Int = 4, k: Int = 5,
      excludeDocId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val (cents, cb) = readIndexParams(spark, path)
    val qQv = quantizeRow(query)
    val probeCells = gridProbeCells(cents, qQv, probes)
    val scan = spark.read.parquet(path)
      .filter($"cell".isin(probeCells: _*) && $"code".isNotNull)
    val candidates = excludeDocId
      .map(id => scan.filter($"doc_id" =!= id)).getOrElse(scan)
    rankedAdcTopK(
      candidates.withColumn("adc_dist", adcCol(adcLut(cb, qQv)))
        .select($"vec_id", $"adc_dist"), k)
      .select($"rank", expr(s"vec_id div $ChunkIdxCap").as("doc_id"),
        expr(s"vec_id % $ChunkIdxCap").as("chunk_idx"), $"adc_dist")
  }

  /** The q146 query vector, derived driver-side from a document's
    * first chunk text — one definition shared by live [[chunkRetrieval]]
    * and the ChunkIndexSpec equality pin, exactly [[rowDocVector]]'s
    * arithmetic (md5 first-8-hex dim, integer counts, exact in
    * float). */
  private[graft] def chunkQueryVector(text: String): Array[Float] = {
    val counts = new Array[Float](64)
    text.split(" ", -1).take(PipelineOps.ChunkLen)
      .foreach(t => counts((md5Long8(t) % 64).toInt) += 1f)
    counts
  }

  def queries: Seq[Q] = Seq(
    Q("q30_knn_topk", knnTopK, Some(knnTopKSql),
      "brute-force cosine top-5 (broadcast query, codegen dot)"),
    Q("q31_nn_per_vector", nnPerVector, Some(nnPerVectorSql),
      "IVF-style per-vector NN via label partition cells"),
    Q("q32_similar_pairs", similarPairs, Some(similarPairsSql),
      "embedding near-dup pairs above cosine threshold"),
    Q("q134_hard_negatives", hardNegatives, Some(hardNegativesSql),
      "contrastive hard-negative mining: per-anchor top-3 cross-label " +
        "neighbors within the integer grid cell, salted sub-blocks, " +
        "lifted norms — Σ cell² work, never corpus²",
      pays = Seq(hardNegs),
      rides = Seq(probeAsg)),
    Q("q136_triplet_margins", tripletMargins, Some(tripletMarginsSql),
      "FaceNet-style hardest-triplet mining per anchor (hardest " +
        "positive + hardest negative in the grid cell) with the " +
        "margin-violation bit — two partial-aggregatable struct " +
        "argmins, no window over candidates",
      rides = Seq(probeAsg)),
    Q("q137_label_confusion", labelConfusion, Some(labelConfusionSql),
      "class-pair confusion matrix from rank-1 hard negatives with " +
        "integer ppm shares — the embedding-quality triage report, " +
        "bounded (label, neg_label) output",
      rides = Seq(hardNegs, probeAsg)),
    Q("q141_embedding_drift", embeddingDrift, Some(embeddingDriftSql),
      "grid-cell occupancy drift of the delta batch vs the standing " +
        "corpus in integer ppm — the distribution-shift detector run " +
        "before trusting yesterday's ANN index on today's data",
      rides = Seq(probeAsg)),
    Q("q146_chunk_retrieval", chunkRetrieval(_, _), Some(chunkRetrievalSql),
      "RAG retrieval loop at chunk granularity: q144 chunks -> " +
        "row-local hash vectors -> grid+PQ index -> probe-pruned ADC " +
        "top-5, query document excluded — integer-exact end to end"),
    // q175 — the INDEXED serving twin (VERDICT r11 #6): q146 answered
    // from the cell-partitioned chunk PQ index built once per JVM by
    // ServingIndexes; same oracle, live==indexed also spec-asserted
    // (ChunkIndexSpec).
    Q("q175_chunk_retrieval_served",
      (s, d) => {
        import s.implicits._
        val qv = chunkQueryVector(Tables(s, d, "documents")
          .filter($"doc_id" === 0).select($"text").head.getString(0))
        chunkSearchIndexed(s, ServingIndexes.chunkIndex(s, d), qv,
          probes = 4, k = 5, excludeDocId = Some(0L))
      },
      Some(chunkRetrievalSql),
      "q146 answered FROM the persisted chunk index: probed cells " +
        "prune at planning time, codes-only scan, ADC LUT built " +
        "driver-side — the per-query RAG serving cost",
      rides = Seq(ServingIndexes.chunkIndex)),
    Q("q111_semantic_dedup", semanticDedup, Some(semanticDedupSql),
      "SemDeDup: within-grid-cell cosine near-dup detection, " +
        "lowest-id exemplar survives; per-vector kept/dropped verdict",
      pays = Seq(probeAsg)),
    Q("q178_cell_prototypes", cellPrototypes, Some(cellPrototypesSql),
      "per-cell prototype extraction (D4-style diversify): the " +
        "member nearest its cell centroid in quantized integer L2 + " +
        "cell occupancy — the coreset selection primitive, riding " +
        "the memoized assignment table",
      rides = Seq(probeAsg)),
    Q("q115_doc_semdedup", docSemanticDedup(_, _),
      Some(docSemanticDedupSql),
      "SemDeDup over documents: hashed text vectors, grid cells, " +
        "integer-exact within-cell L2 — the deployed text form",
      rides = Seq(PipelineOps.featureHashes, docVecs)),
    Q("q124_semdedup_probe2", semanticDedupProbe2, Some(semanticDedupProbe2Sql),
      "multi-probe SemDeDup: each vector in its 2 nearest cells " +
        "(integer-exact second-argmin), pairs compared when probe " +
        "sets intersect — the boundary-recall lever",
      rides = Seq(probeAsg)),
    Q("q125_probe_recall", probeRecall, Some(probeRecallSql),
      "recall audit of cell-scoped dedup: global exact pair mass vs " +
        "probe-1 vs probe-2 flagged counts, all integer-exact",
      rides = Seq(probeAsg)),
    Q("q170_bitext_mining", bitextPairs, Some(bitextMiningSql),
      "cross-lingual near-translation candidates: within-cell pairs " +
        "with differing languages under the q126 distance threshold, " +
        "quantized integer distance in the output — the " +
        "CCMatrix-style MT-pair miner on the audited SemDeDup shape",
      pays = Seq(bitext),
      rides = Seq(PipelineOps.featureHashes, docVecs)),
    Q("q171_bitext_margin", bitextMargin, Some(bitextMarginSql),
      "mutual-best + margin refinement of the bitext candidates: " +
        "rank-1 in both language directions with runner-up distance " +
        "ratios per direction (NULL = no competitor) — the criterion " +
        "CCMatrix ships pairs under",
      rides = Seq(PipelineOps.featureHashes, bitext, docVecs)),
    Q("q126_semantic_decon", semanticDecon, Some(semanticDeconSql),
      "cross-corpus semantic decontamination: train docs within " +
        "embedding radius of any held-out eval doc, bipartite " +
        "salted cell join, integer-exact verdict",
      rides = Seq(PipelineOps.featureHashes, docVecs)),
    Q("q33_ivf_knn", ivfGridKnn(_, _), Some(ivfGridKnnSql),
      "IVF ANN, probe 4/16 cells: integer-exact md5-grid coarse " +
        "quantizer makes the restricted-probe result itself " +
        "oracle-checked (KMeans variant stays as q37/ivfSearch)"),
    Q("q181_filtered_ann", filteredAnn, Some(filteredAnnSql),
      "metadata-filtered ANN: label predicate applied INSIDE the " +
        "probed-cell scan (never a post-filter) with the probe set " +
        "widened 4 -> 8 to restore candidate volume — the " +
        "filtered-vector-search serving shape, hash-checked"),
    Q("q182_filtered_recall", filteredRecall, Some(filteredRecallSql),
      "recall audit of the filtered search: |q181 ∩ exact filtered " +
        "top-5| as a one-row report — the number a filtered-ANN " +
        "deployment publishes"),
    Q("q183_mmr_rerank", mmrRerank, Some(mmrRerankSql),
      "MMR diversified rerank (λ=1/2): greedy top-5 from the cosine " +
        "top-20 pool penalizing similarity to already-chosen results " +
        "— the RAG redundancy suppressor; greedy rounds " +
        "oracle-unrolled as CTEs"),
    Q("q184_sq8_ann", sq8Ann, Some(sq8AnnSql),
      "SQ8 scalar-quantized ANN: per-dimension affine int8 codes " +
        "(4x compression, no training), integer squared-L2 via one " +
        "codegen loop — distances integer-exact in the output"),
    Q("q194_retrieval_eval", retrievalEval, Some(retrievalEvalSql),
      "retrieval eval harness: hits/first-rank/reciprocal-rank (ppm) " +
        "per serving arm (BM25 top-20, hybrid RRF top-10) against a " +
        "data-derived >=2-distinct-terms relevance set — the " +
        "accept/tune gate beside q83's ANN recall",
      rides = Seq(PipelineOps.featureHashes, docAnnIndex, docVecs)),
    Q("q193_ivf_sq8_ann", ivfSq8Ann, Some(ivfSq8AnnSql),
      "IVF-SQ8 composition: grid probe pruning x integer SQ8 " +
        "distances (FAISS's IVF-SQ shape) — 16x less compression " +
        "than IVF-PQ for 255-level per-dim resolution, both stages " +
        "integer-exact, composed result hash-checked"),
    Q("q192_sdc_dedup", sdcDedupShortlist, Some(sdcDedupShortlistSql),
      "compressed-domain near-dup shortlist: 50 closest within-cell " +
        "pairs by PQ symmetric distance — candidates from the 64x-" +
        "compressed codes table alone (8 codeword-LUT lookups per " +
        "pair), the petabyte nightly-dedup candidate generator",
      rides = Seq(annIndex)),
    Q("q191_compression_recall", compressionRecall,
      Some(compressionRecallSql),
      "the compression menu's accuracy column: per-method top-5 " +
        "overlap with exact cosine (grid-IVF prune / PQ ADC / SQ8) " +
        "— the pick-your-serving-point table, every arm hash-exact",
      rides = Seq(annIndex)),
    Q("q37_ivf_probe_all", ivfKnnProbeAll, Some(knnTopKSql),
      "IVF ANN with probes==cells: exactness contract hash-checked " +
        "against the brute-force oracle"),
    Q("q58_srp_ann", srpAnn(_, _), Some(srpAnnSql),
      "SRP-LSH bucketed ANN, hamming-1 multi-probe — integer-exact " +
        "buckets make the restricted-probe result itself oracle-checked"),
    Q("q157_kmeans_refine", kmeansRefine, Some(kmeansRefineSql),
      "Lloyd refinement of the IVF coarse quantizer: two integer-" +
        "exact k-means rounds over the md5-seeded grid with per-round " +
        "(cell, occupancy, SSE) — the train-the-centroids convergence " +
        "audit, oracle-unrolled round for round",
      pays = Seq(kmeansCentroids)),
    Q("q159_refined_recall", refinedRecall, Some(refinedRecallSql),
      "train-and-deploy audit: per-rank probe recall of the 4-probe " +
        "coarse search under seed vs q157-trained centroids against " +
        "the exact q30 top-5 — the recall lift training buys, " +
        "hash-checked",
      rides = Seq(kmeansCentroids)),
    Q("q197_reindex_decision", reindexDecision, Some(reindexDecisionSql),
      "drift->retrain->reindex verdict: q141 cell-drift ppm vs the " +
        "per-family policy thresholds, gated by q159's trained-vs-seed " +
        "recall audit — rebuild/keep/hold per index family, the " +
        "nightly maintenance decision a deployment schedules, " +
        "hash-checked end to end",
      rides = Seq(kmeansCentroids, probeAsg)),
    Q("q154_pq_recon_error", pqReconError, Some(pqReconErrorSql),
      "PQ index-health audit: per-cell quantization error (integer " +
        "mean + max squared-L2 to the assigned codewords) via the " +
        "argmin loop's distance mode — the retrain-codebook trigger " +
        "beside q83's recall audit"),
    Q("q66_pq_codes", pqCodes, Some(pqCodesSql),
      "PQ index build: 8x4-bit product-quantization codes (64x vector " +
        "compression), integer-exact codebook, hash-checked per vector",
      pays = Seq(annIndex)),
    Q("q67_pq_ann", pqAnn(_, _), Some(pqAnnSql),
      "PQ ADC top-k: 128-entry integer lookup table, codes-only scan — " +
        "even the distances are part of the hash check",
      rides = Seq(annIndex)),
    Q("q68_ivfpq_ann", ivfPqAnn(_, _), Some(ivfPqAnnSql),
      "IVF-PQ composition: grid probe-pruning x ADC code scan (the " +
        "FAISS deployment shape), probe set and distances hash-checked",
      rides = Seq(annIndex)),
    Q("q70_doc_ann", docAnn(_, _), Some(docAnnSql),
      "text->vector->index->search closed loop: q69 hashed vectors " +
        "densified, grid+PQ indexed with the q66/q68 lifts, query doc " +
        "ADC-searched — probe set and distances hash-checked",
      pays = Seq(docVecs),
      rides = Seq(PipelineOps.featureHashes)),
    Q("q158_multi_query_ann", multiQueryAnn(_, _), Some(multiQueryAnnSql),
      "multi-query ANN serving: a query TABLE vectorized, 2-probe " +
        "assigned, and ADC-scored columnar via the pq_adc_dist " +
        "codegen expression — zero driver-side per-query work, " +
        "per-query top-5 window bounded by probe cells",
      rides = Seq(PipelineOps.featureHashes, docAnnIndex, docVecs)),
    Q("q156_hybrid_rrf", hybridRrf, Some(hybridRrfSql),
      "hybrid retrieval: reciprocal-rank fusion (k=60, integer " +
        "micro-units) of the q89 lexical arm and a vector arm " +
        "answering the same terms via hashed-query ADC over the q70 " +
        "doc vectors — fusion hash-proven consistent with both arms",
      pays = Seq(docAnnIndex),
      rides = Seq(PipelineOps.featureHashes, docVecs)),
    Q("q76_ivfpq_rerank", ivfPqRerank(_, _), Some(ivfPqRerankSql),
      "two-stage retrieval: integer-exact ADC shortlist (q68 stage) + " +
        "exact cosine rerank of only the shortlist's raw vectors",
      rides = Seq(annIndex)),
    Q("q83_ann_recall", annRecall, Some(annRecallSql),
      "recall@5 audit of the IVF-PQ index vs the exact ranking — " +
        "both sides hash-checked, the report is a k-row broadcast join",
      rides = Seq(annIndex)))
}
