package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorExpressions.cosine
import graft.operators.Operators
import graft.sources.Tables

/** The GRAPH-based ANN paradigm — the k-NN graph the HNSW/NSG family
  * of indexes is built on, constructed by NN-Descent (Dong, Charikar,
  * Li, WWW'11: "Efficient K-Nearest Neighbor Graph Construction for
  * Generic Similarity Measures"), plus the two consumers a pipeline
  * runs on such a graph: mutual-kNN clustering and the recall audit.
  *
  * NN-Descent is the one graph algorithm in the ANN space that is
  * join-shaped end to end — "a neighbor of a neighbor is likely a
  * neighbor" turns graph refinement into one equi-join per round —
  * which is why it (not HNSW's sequential insert loop) is how k-NN
  * graphs are built at corpus scale. Every round here is: undirected
  * adjacency (reverse-degree CAPPED — the ρ-sampling of the paper, and
  * the skew lever: a hub vector's unbounded in-degree would otherwise
  * square into the candidate join), neighbor-of-neighbor candidate
  * pairs via self-equi-join on the shared endpoint, codegen cosine on
  * candidates only, merge with the standing graph, keep top-k per
  * node. Candidate volume is ≤ n·(2k)² rows per round — linear in n at
  * fixed k, shuffled on keys only, no n² anywhere.
  *
  * Seeding is the deterministic analog of the paper's random init: TWO
  * independent md5-hash bucketings of ~[[KnnGraphOps.SeedBucketSize]]
  * vectors each, all-pairs within a bucket (constant per-bucket work,
  * linear total). Two salts are load-bearing, not decoration: a single
  * bucketing partitions the seed into disjoint cliques, and
  * neighbor-of-neighbor expansion is CLOSED inside a clique — measured
  * here, descent under one bucketing froze at bucket-local top-k with
  * recall flat at 0.034 across every round. The union of two
  * independent clique partitions is an expander (each node bridges its
  * two buckets), and the same measurement turns into a healthy
  * per-round climb (0.14 → 0.51 recall@8 over five rounds at n=500).
  * md5-of-decimal-string is engine-portable (the PipelineOps sampling
  * device) and geometry-blind, so the seed is "random" in the only
  * sense that matters while staying bit-reproducible in both engines
  * (no RNG to port into the oracle), and it makes no contiguity
  * assumption about vec_ids (the 10× stress corpus's offset id blocks
  * would starve a modular-ring seed).
  *
  * On THIS corpus the audit (q200) reports a LOW recall ceiling — the
  * synthetic embeddings are near-isotropic (same-label mean cosine
  * 0.0016 vs 0.0003 cross-label; exact top-8 neighbors only ~11 %
  * same-label), the regime where every locality method degrades toward
  * random and descent needs ~log n rounds to crawl out of a
  * structure-free seed. That is the honest reading the audit exists to
  * produce: the operator's contract is the deterministic construction
  * plus the measurement, not a recall number the data cannot support.
  * Real embedding corpora (low intrinsic dimension) are the documented
  * fast-convergence case of the paper.
  *
  * Oracle strategy: identical round-by-round CTE chain in DuckDB
  * (MATERIALIZED per round — the k-core lesson: three references per
  * round would otherwise expand 3^T scans), ranks/ids-only output (the
  * VectorOps float-noise contract: similarity gaps ~1e-2, engine noise
  * ~1e-7).
  */
object KnnGraphOps {

  /** Graph degree k. 8 matches the ANN suite's audit depth and keeps
    * the per-round candidate bound n·(2k)² = 256·n. */
  private[graft] val GraphK = 8

  /** Fixed descent rounds. Convergence needs ~log n from a
    * structure-free seed; 3 is the budgeted audit point — the knob a
    * deployment turns (with q200 watching recall-per-round) rather
    * than a claim of convergence. */
  private[graft] val DescentRounds = 3

  /** q200's deterministic query sample: every 25th vec_id — 4 % of the
    * corpus, the bounded audit slice (exact arm costs sample×n, never
    * n²). */
  private[graft] val RecallSampleMod = 25

  /** Minimum sampled-fleet size for the tick's recall gauge: at 20
    * queries the gauge's granularity is 1/(5·20) = 10000 ppm — fine
    * against the 200000 ppm floor; below that the sample falls back
    * to the full fleet (see [[graphFleetRecallIndexed]]). */
  private[graft] val GaugeMinQueries = 20L

  /** Mean seed-bucket population: buckets of ~16 across the two salted
    * bucketings give each node ~30 geometry-blind first candidates at
    * all-pairs cost 16²/bucket — constant per bucket, linear in n
    * overall. A node hash-isolated in BOTH its buckets (probability
    * ~e⁻³²) seeds empty; it re-enters through reverse edges once
    * anything ranks it. */
  private[graft] val SeedBucketSize = 16L

  /** One salted seed-bucket assignment as a column — the expression
    * [[seedBuckets]] applies per salt, exposed so the streaming search
    * twin can bucket ARRIVING query vectors with the identical
    * arithmetic (stateless, stream-side). */
  private[graft] def seedBucketCol(id: Column, salt: Column,
      nBuckets: Long): Column =
    PipelineOps.md5PrefixLong(
      concat(lit("knnseed"), salt, lit(":"), id.cast("string")), 15) %
      nBuckets

  /** The two salted seed-bucket assignments of a (vec_id, …) frame —
    * shared by the seed join, q202's delta entry-point lookup (a
    * delta vector enters the corpus graph through the SAME buckets it
    * would have seeded into, so insert needs no new mechanism), and
    * q205's out-of-corpus entry. */
  /** The shipped entry width: two independent salted bucketings (the
    * expander property the descent seed needs; ONE bucketing = closed
    * cliques). The A/B lever `EntryWidthAb` turns — never the oracle
    * arithmetic, which pins exactly these two salts. */
  private[graft] val SeedSalts: Seq[String] = Seq("a", "b")

  private[graft] def seedBuckets(emb: DataFrame, nBuckets: Long,
      salts: Seq[String] = SeedSalts): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select($"vec_id",
        explode(array(salts.map(lit(_)): _*)).as("salt"))
      .select($"vec_id", $"salt",
        seedBucketCol($"vec_id", $"salt", nBuckets).as("bk"))
  }

  /** Score (a_id, b_id) pairs by cosine over the embeddings table —
    * two equi-joins to fetch vectors, one codegen dot product per
    * pair. NaN (zero-norm embedding) demotes to -∞ INSIDE the value so
    * ranking, merging, and the oracle's CASE all see the same total
    * order (the rankedTopK guard, applied at scoring time because
    * these sims are merged across rounds, not just ranked once). */
  private def scoreAgainst(emb: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    pairs
      .join(emb.select($"vec_id".as("a_id"), $"embedding".as("a_emb")),
        "a_id")
      .join(emb.select($"vec_id".as("b_id"), $"embedding".as("b_emb")),
        "b_id")
      .select($"a_id", $"b_id",
        nanvl(cosine($"a_emb", $"b_emb"),
          lit(Double.NegativeInfinity)).as("sim"))
  }

  /** Keep each node's top-k edges: keyed window (one shuffle on a_id,
    * ≤ 2k(2k-1)+k candidate rows per node entering it), deterministic
    * tie-break (sim desc, b_id asc) — the total order both engines
    * agree on. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    Operators.topKPerGroup(scored, Seq(col("a_id")), Seq(col("sim").desc),
        col("b_id").asc, k)
      .select(col("a_id"), col("b_id"), col("sim"))

  /** One NN-Descent round. The reverse cap is load-bearing at scale:
    * out-degree is k by construction but in-degree is unbounded (a
    * near-centroid vector at 100 TB sits in millions of lists), and
    * the candidate join squares per-node adjacency — the cap bounds it
    * to (2k)² regardless of skew, exactly the paper's ρ-sampling with
    * the most-similar reverse edges kept deterministically. */
  private def descentRound(emb: DataFrame, g: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val out = g.select($"a_id".as("u"), $"b_id".as("v"))
    val rev = Operators.topKPerGroup(
        g.select($"b_id".as("u"), $"a_id".as("v"), $"sim"),
        Seq($"u"), Seq($"sim".desc), $"v".asc, k)
      .select($"u", $"v")
    val und = out.union(rev).distinct()
    // both ordered directions come from ONE join pass (x.v =!= y.v):
    // an A/B with unordered pairs + a bit-commutative mirrored-select
    // union measured ~1.7× SLOWER — the union references the scoring
    // subtree twice and Spark executes it per branch, which costs
    // more than the vectorized duplicate dot products it saves
    val cand = und.as("x")
      .join(und.as("y"),
        col("x.u") === col("y.u") && col("x.v") =!= col("y.v"))
      .select(col("x.v").as("a_id"), col("y.v").as("b_id"))
      .distinct()
    // candidates overlapping the standing graph re-score to the
    // identical double (same expression, same inputs), so the MAX
    // merge is a pure pair-dedup — one partial-aggregatable shuffle,
    // cheaper than an anti-join prepass that would shuffle the same
    // keys to save already-vectorized dot products.
    // ONE exchange for the merge AND the top-k window (guide §2.4,
    // r18): hash-partitioning the merged frame on a_id satisfies both
    // the (a_id, b_id) grouping (subset clustering) and the window's
    // a_id distribution, so the former exchange pair — the round's two
    // largest shuffles, both over the full candidate frame — collapses
    // to one exchange plus a sort (plan diff committed). Values are
    // untouched: max-merge and rank order are partition-independent.
    topK(scoreAgainst(emb, cand).union(g).repartition($"a_id")
      .groupBy($"a_id", $"b_id").agg(max($"sim").as("sim")), k)
  }

  /** Dump ONE descent round's formatted plan over the seed graph —
    * [[graft.tools.ExplainInternals]]'s entry: the registry plan hides
    * the round shape behind the memo's checkpoint, and the r18
    * exchange-merge claim needs committed plan evidence. */
  private[graft] def explainDescentRound(spark: SparkSession,
      dir: String): Unit = {
    val (emb, g0) = descentSeed(
      Tables(spark, dir, "embeddings"), GraphK)
    descentRound(emb, g0, GraphK).explain("formatted")
  }

  /** NN-Descent over any (vec_id, embedding) frame: hash-bucket seed,
    * then [[DescentRounds]] refinement rounds through the checkpointed
    * iteration harness (each round references the previous graph three
    * times — lazy folding would expand 3^T plan copies, the same blowup
    * the oracle's MATERIALIZED hints prevent). Returns (a_id, b_id,
    * sim), ≤ k rows per node. */
  private[graft] def nnDescentOf(emb0: DataFrame, k: Int = GraphK,
      rounds: Int = DescentRounds): DataFrame = {
    val (emb, g0) = descentSeed(emb0, k)
    val (g, _, _) = Operators.iterateCheckpointed(g0, rounds) {
      (state, _) => descentRound(emb, state, k)
    } { (_, _) => false } // fixed-round: run the full budget
    g
  }

  /** The hash-bucket seed graph both descent forms start from:
    * (projected embeddings, round-0 top-k). */
  private def descentSeed(emb0: DataFrame, k: Int)
      : (DataFrame, DataFrame) = {
    val spark = emb0.sparkSession
    import spark.implicits._
    val emb = emb0.select($"vec_id", $"embedding")
    val n = emb.count() // one bounded parameter read: the bucket count
    require(n > k,
      s"nnDescent needs more than k=$k vectors, got $n")
    val nBuckets = math.max(1L, n / SeedBucketSize)
    val bkt = seedBuckets(emb, nBuckets)
    val seed = bkt.select($"vec_id".as("a_id"), $"salt", $"bk")
      .join(bkt.select($"vec_id".as("b_id"), $"salt", $"bk"),
        Seq("salt", "bk"))
      .filter($"a_id" =!= $"b_id")
      .select($"a_id", $"b_id")
      .distinct()
    (emb, topK(scoreAgainst(emb, seed), k))
  }

  /** Convergence cap: ~log₂(corpus) rounds reaches any node from a
    * structure-free seed; 12 covers corpora to ~4k× the 10× stress
    * tree before the cap (not ε) is what stops a rebuild. */
  private[graft] val DescentMaxRounds = 12

  /** New-edge-rate floor: a round that improves fewer than 1 % of
    * adjacency rows is refining noise, not structure (the NN-Descent
    * paper's δ-termination; its default is 0.001 — 0.01 stops one to
    * two rounds earlier at a recall cost inside the audit's noise). */
  private[graft] val DescentEps = 0.01

  /** NN-Descent run to CONVERGENCE (VERDICT r15 #2): the fixed
    * [[DescentRounds]] budget is an audit point, not convergence — at
    * the 10× stress scale it measures recall@8 = 0.047, and the
    * per-round curve ([[graft.DescentRoundsAb]]: 0.008 → 0.201 over
    * rounds 1–6) shows the knee well past the budget. This form
    * iterates [[descentRound]] until a round's NEW-EDGE rate — rows of
    * the next graph absent from the previous, over graph size — drops
    * below `eps` (the paper's δ-termination), capped at `maxRounds`.
    * The rate check is one anti-join count over two
    * checkpoint-materialized ≤ k·n-row frames per round — O(k·n), the
    * same order as the round it gates, and the `sim` column stays out
    * of the key (re-scored pairs are bit-identical, so (a_id, b_id)
    * alone decides novelty). Returns (graph, roundsRun, converged).
    *
    * The REBUILD path ([[graft.VectorIngestMain]]) builds with this;
    * q198's registry entry keeps the fixed-round form — its DuckDB
    * oracle unrolls exactly [[DescentRounds]] CTE rounds, and a
    * data-dependent round count cannot be oracle-pinned. */
  private[graft] def nnDescentToConvergence(emb0: DataFrame,
      k: Int = GraphK, maxRounds: Int = DescentMaxRounds,
      eps: Double = DescentEps): (DataFrame, Int, Boolean) = {
    val (emb, g0) = descentSeed(emb0, k)
    val spark = emb.sparkSession
    import spark.implicits._
    Operators.iterateCheckpointed(g0, maxRounds) {
      (state, _) => descentRound(emb, state, k)
    } { (prev, next) =>
      // next is checkpoint-materialized by the harness before stop
      // runs, so both counts read cached blocks
      val total = math.max(1L, next.count())
      val fresh = next.select($"a_id", $"b_id")
        .join(prev.select($"a_id", $"b_id"), Seq("a_id", "b_id"),
          "left_anti")
        .count()
      fresh.toDouble / total < eps
    }
  }

  /** Converged-index write — [[knnGraphWriteIndexOf]]'s rebuild-path
    * twin: writes the ε-terminated graph and reports (roundsRun,
    * converged) so the caller's reconciliation line records what the
    * build actually spent (VERDICT r15 #2's "round count in PLANS.md"
    * doctrine, applied to the artifact's own report). */
  private[graft] def knnGraphWriteConvergedIndexOf(emb: DataFrame,
      path: String): (Int, Boolean) = {
    val (g, rounds, converged) = nnDescentToConvergence(emb)
    g.write.mode("overwrite").parquet(s"$path/edges")
    (rounds, converged)
  }

  /** The finished k-NN graph as an [[Artifact]] — the table a
    * deployment persists beside its other serving indexes. */
  private[graft] val graph = Artifacts[DataFrame]("graph.knn")
  private[graft] def knnGraphTable(spark: SparkSession,
      dir: String): DataFrame =
    graph.get(spark, dir) {
      val g = nnDescentOf(Tables(spark, dir, "embeddings")).persist()
      g.count() // materialize: consumed from both sides of self-joins
      g
    }

  /** Forwards kept for the benchmark harness; use [[Artifacts]]. */
  private[graft] def isSharedArtifact(df: DataFrame): Boolean = Artifacts.holds(df)
  def invalidateSharedArtifacts(): Unit = Artifacts.invalidateAll()

  /** q198 — the k-NN graph itself, rank-numbered per node. */
  def nnDescentGraph(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"a_id").orderBy($"sim".desc, $"b_id".asc)
    knnGraphTable(spark, dir)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select($"a_id".as("vec_id"), $"rank", $"b_id".as("nb_id"))
  }

  /** q199's symmetrization depth: an edge enters the cluster graph
    * only when BOTH endpoints rank each other within this cutoff.
    * Rank-based (no float threshold enters the cluster decision), and
    * deliberately tighter than k: on this near-isotropic corpus the
    * full-k mutual graph PERCOLATES — measured at sf0.01, mutual@8
    * collapses 500 vectors into one 499-node component, while
    * mutual@2 yields 213 components (92 of them non-singleton) with a
    * 14-node maximum, i.e. a clustering that still says something
    * (re-measured on the shipped round-15 tree — an earlier draft's
    * 109/17 figure was from intermediate code). Percolation depth is
    * a data property; this constant is the knob, the q200 audit is
    * the gauge. */
  private[graft] val MutualRank = 2

  /** q199 — mutual-kNN clustering over the graph: keep edges whose
    * endpoints each rank the other within [[MutualRank]] (the standard
    * mutual-NN symmetrization that strips hub-induced one-way edges),
    * then connected components via the star-contraction harness.
    * Every vector gets a row; singletons label themselves. */
  def mutualKnnClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = Operators.topKPerGroup(knnGraphTable(spark, dir), Seq($"a_id"),
      Seq($"sim".desc), $"b_id".asc, MutualRank, "rnk")
    val mutual = g.as("f")
      .join(g.as("r"),
        col("f.a_id") === col("r.b_id") && col("f.b_id") === col("r.a_id")
          && col("f.a_id") < col("f.b_id"))
      .select(col("f.a_id").as("u"), col("f.b_id").as("v"))
    val labels = Operators.connectedComponentsStar(mutual)
    Tables(spark, dir, "embeddings").select($"vec_id")
      .join(labels.withColumnRenamed("node", "vec_id"), Seq("vec_id"),
        "left")
      .select($"vec_id",
        coalesce($"label", $"vec_id").cast("long").as("cluster_id"))
  }

  /** q200 — recall@k audit of the descent graph against the exact
    * brute-force graph on the deterministic [[RecallSampleMod]] sample:
    * per sampled node, how many of its true top-k neighbors the graph
    * holds. The exact arm is sample×corpus (bounded by construction);
    * the report is one small join. At 100 TB this is the
    * recall-per-round curve a deployment watches while turning
    * [[DescentRounds]]. */
  def nnDescentRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fanned read: the exact arm's broadcast-NLJ probe runs in the
    // scan's partitions (guide §2.5)
    val emb = Tables.fanned(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val sample = emb.filter($"vec_id" % RecallSampleMod === 0)
    // sample side broadcast (the knnTopK device): the corpus scan
    // never shuffles and the plan stays BroadcastNestedLoopJoin, not
    // CartesianProduct. The cosine computes INLINE in the cross join
    // (the fleetExactOf shape, r18): both embeddings are already on
    // the joined row, so the former id-only pairs + two scoreAgainst
    // re-joins shipped the sample×corpus frame through two extra
    // broadcast joins for nothing — same pair set, same expression,
    // bit-identical sims, two joins fewer (plan diff committed).
    val pairs = emb.select($"vec_id".as("b_id"), $"embedding".as("b_emb"))
      .crossJoin(broadcast(sample.select($"vec_id".as("a_id"),
        $"embedding".as("a_emb"))))
      .filter($"a_id" =!= $"b_id")
      .select($"a_id", $"b_id",
        nanvl(cosine($"a_emb", $"b_emb"),
          lit(Double.NegativeInfinity)).as("sim"))
    val exact = topK(pairs, GraphK)
      .select($"a_id", $"b_id")
    val g = knnGraphTable(spark, dir).select($"a_id", $"b_id")
    sample.select($"vec_id")
      .join(exact.join(g, Seq("a_id", "b_id"))
          .groupBy($"a_id").agg(count(lit(1)).as("h"))
          .select($"a_id".as("vec_id"), $"h"),
        Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"h", lit(0L)).as("hits"))
  }

  /** The PHYSICAL graph index the family's 100 TB notes promise: the
    * finished NN-Descent edge table written once to storage (three
    * columns, k rows per node) — the `ivfPqWriteIndex`/`lshWriteIndex`
    * precedent applied to the graph paradigm. Built from its own
    * descent run, NOT the in-session memo, so Bench's warm-up write
    * never re-attributes q198's live build cost (the lshWriteIndex
    * rule). At deployment the table is partitioned by a_id range;
    * routing reads are point-lookup joins against it. */
  def knnGraphWriteIndex(spark: SparkSession, dir: String,
      path: String): Unit =
    knnGraphWriteIndexOf(Tables(spark, dir, "embeddings"), path)

  /** Frame-parameterized index write — the ingest/stream path builds
    * the STANDING-CORPUS graph (non-delta rows) with it. */
  private[graft] def knnGraphWriteIndexOf(emb: DataFrame,
      path: String): Unit =
    nnDescentOf(emb).write.mode("overwrite").parquet(s"$path/edges")

  /** q201's hop budget: 3 out-edge expansions from the query node —
    * ≤ k + k² + k³ = 584 candidates at k=8, the bounded frontier a
    * greedy graph search scores exactly. */
  private[graft] val RouteHops = 3

  /** The SERVING read view of a persisted graph index: the standing
    * `edges` table plus any not-yet-compacted `edges_delta` batches
    * (tonight's inserts — forward adjacency AND the reverse
    * bidirectional-link rows, mapped to the same (a_id, b_id, sim)
    * shape) — so a route sees an inserted vector the moment its batch
    * lands, both as a source and as a RESULT (the posting/chunk
    * append-then-find contract). Between compactions a hub corpus
    * node's view degree may exceed k (its stored k plus reverse rows
    * across batches) — extra candidates only widen search, and
    * [[compactGraphIndex]]'s top-k window is where the HNSW degree
    * bound is re-asserted. */
  private[graft] def readGraphEdges(spark: SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    val edges = spark.read.parquet(s"$path/edges")
      .select($"a_id", $"b_id", $"sim")
    val deltaPath = new org.apache.hadoop.fs.Path(s"$path/edges_delta")
    val fs = deltaPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(deltaPath)) edges
    else edges.unionByName(
      readDeltaEdges(spark, path)
        .select($"vec_id".as("a_id"), $"nb_id".as("b_id"), $"sim"))
  }

  /** Schema-normalized read of a graph index's `edges_delta` tree
    * across WRITER GENERATIONS (ADVICE r15): the round-15
    * bidirectional-insert writer added `rev` (forward vs reverse
    * twin) and `sim` (the router's exact score, what lets
    * [[compactGraphIndex]] absorb without re-scoring) to the delta
    * row shape. Each COMMITTED `batch=` directory is read and
    * normalized SEPARATELY — one whole-tree read would infer the
    * schema from a single arbitrary footer, and on a
    * mixed-generation tree that either smuggles null `sim` past the
    * guard below (new footer wins) or erases genuine reverse twins
    * (old footer wins). Per directory:
    *
    *  - `rev` absent → every row is FORWARD adjacency (old writers
    *    emitted no reverse twins) — synthesized as `rev = false`, a
    *    sound fallback (the inserted vectors are route sources but
    *    not yet findable as results, exactly the old behavior, until
    *    the next compaction re-ranks them in);
    *  - `sim` absent → NOT recoverable read-side: serving could route
    *    the unscored edges, but compaction would absorb null-sim rows
    *    into the standing table and the top-k degree bound would rank
    *    garbage. Loud error with the remediation spelled out (force a
    *    rebuild via [[knnGraphWriteIndexOf]] — which retires the delta
    *    tree — or delete `edges_delta` and re-send the inserts) rather
    *    than a silent wrong-answer absorb;
    *  - `_SUCCESS` absent → the directory is a TORN write (a crash
    *    inside the idempotent-overwrite foreachBatch sink, possibly
    *    footerless) awaiting its own replay's overwrite — skipped,
    *    never read: a serving view must not surface half-committed
    *    rows, and a gauge that threw on it would brick the very tick
    *    whose insert path heals it. */
  private[graft] def readDeltaEdges(spark: SparkSession,
      path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(s"$path/edges_delta")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val committed =
      if (!fs.exists(root)) Array.empty[Path]
      else fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("batch="))
        .filter(d => fs.exists(new Path(d, "_SUCCESS")))
        .sortBy(_.getName)
    val frames = committed.toSeq.map { d =>
      val raw = spark.read.parquet(d.toString)
      require(raw.columns.contains("sim"),
        s"$d was written by a pre-sim builder; compaction cannot " +
          "absorb unscored edges — rebuild the index " +
          "(knnGraphWriteIndexOf retires the delta tree) or delete " +
          "edges_delta and re-send the inserts through the current " +
          "writer")
      val withRev = if (raw.columns.contains("rev")) raw
        else raw.withColumn("rev", lit(false))
      withRev.select(col("vec_id"), col("rank"), col("nb_id"),
        col("sim"), col("rev"))
    }
    if (frames.nonEmpty) frames.reduce(_ unionByName _)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("nb_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sim",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("rev",
          org.apache.spark.sql.types.BooleanType))))
  }

  /** q201 — ANN answered BY ROUTING THE PERSISTED GRAPH (the HNSW
    * serving shape, flattened to a fixed hop budget so the result is
    * deterministic and oracle-checkable): q30's query (vec_id 0)
    * starts at its own stored adjacency, expands [[RouteHops]] times
    * through out-edges (three point-lookup equi-joins against
    * storage — the corpus embedding table is touched only to score
    * the ≤ k+k²+k³ visited candidates), exact-scores the frontier,
    * and returns the top-5 in q30's (rank, vec_id) contract. The
    * per-query serving cost a deployment pays: hop joins + a few
    * hundred exact distances, independent of corpus size. Recall vs
    * q30 is a data property (the graph's q200 ceiling composed with
    * hop coverage), not asserted here — q30 and q200 are the gauges. */
  def graphRoutedAnn(spark: SparkSession, dir: String,
      path: String): DataFrame = {
    import spark.implicits._
    // the combined view ([[readGraphEdges]]): identity on q201's
    // delta-free index, and the route sees uncompacted inserts on a
    // stream-maintained one
    val edges = readGraphEdges(spark, path)
      .select($"a_id", $"b_id")
    val emb = Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    def hop(frontier: DataFrame): DataFrame =
      edges.join(frontier.select($"b_id".as("src")), $"a_id" === $"src")
        .select($"b_id").distinct()
    val h1 = edges.filter($"a_id" === 0).select($"b_id")
    val hops = Iterator.iterate(h1)(hop).take(RouteHops).toSeq
    val cand = hops.reduce(_ union _).distinct()
      .filter($"b_id" =!= 0)
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
    val scored = cand
      .join(emb.select($"vec_id".as("b_id"), $"embedding"), "b_id")
      .crossJoin(broadcast(q))
      .select($"b_id".as("vec_id"),
        nanvl(cosine($"embedding", $"q_emb"),
          lit(Double.NegativeInfinity)).as("sim"))
    Operators.topK(scored, Seq($"sim".desc), $"vec_id".asc, 5)
      .select($"rank", $"vec_id")
  }

  /** q204 — serving-recall audit of the ROUTE (the q83 pattern applied
    * to graph serving): for each of q30's exact top-5 neighbors,
    * whether q201's fixed-hop route retrieved it. q200 gauges the
    * GRAPH's recall; this gauges the hop budget's coverage ON TOP of
    * it — the two knobs ([[DescentRounds]], [[RouteHops]]) read
    * separately, which is how a deployment knows whether to spend on
    * a better graph or a deeper search. Both arms are the shipped
    * constructions, so the audit itself is hash-checked end to end
    * (the oracle composes q30's ranking and the q201 route CTEs
    * verbatim — neither side can drift from its source query). */
  def routeRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = VectorOps.knnTopK(spark, dir)
    val routed = graphRoutedAnn(spark, dir,
        ServingIndexes.knnGraphIndex(spark, dir))
      .select($"vec_id", lit(true).as("in_route"))
    exact.join(routed, Seq("vec_id"), "left")
      .select($"rank", $"vec_id",
        coalesce($"in_route", lit(false)).as("in_route"))
  }

  /** The ~10 % delta split on vec_id — the q46 md5 device, the same
    * boundary q141's drift monitor draws. */
  private def isDeltaVec(c: Column): Column =
    substring(md5(c.cast("string")), 1, 2) < "1a"

  /** q202's standing graph: NN-Descent over the NON-delta corpus only
    * (the graph that existed before tonight's batch), PERSISTED like
    * the other serving indexes — the nightly insert routes storage,
    * never a live rebuild, so its bench number is the per-ingest
    * routing cost (the q172–q175 attribution rule; the write happens
    * once in the ServingIndexes warm-up). */
  private[graft] def knnCorpusGraphWriteIndex(spark: SparkSession,
      dir: String, path: String): Unit =
    knnGraphWriteIndexOf(Tables(spark, dir, "embeddings")
      .filter(!isDeltaVec(col("vec_id"))), path)

  // ------------------------------------------------- index lifecycle

  /** Move `src` over `dst` with the two-rename crash discipline shared
    * by every persisted index here (the [[VectorOps.compactIndex]]
    * swap, re-expressed over the Hadoop FileSystem API so the graph
    * lifecycle is not local-FS-bound — ADVICE r14): retire `dst` to
    * `dst.pre-compact`, promote `src`, drop the retiree. Recovery from
    * a crash between the renames is the CALLER's first step (restore
    * the retiree when `dst` is absent). */
  private def swapDirs(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit = {
    val retired = new org.apache.hadoop.fs.Path(
      dst.toString + ".pre-compact")
    if (fs.exists(retired)) fs.delete(retired, true)
    require(fs.rename(dst, retired), s"could not retire $dst")
    require(fs.rename(src, dst), s"could not promote $src over $dst")
    fs.delete(retired, true)
    ()
  }

  /** Restore a crash-torn swap: a prior run that died between its two
    * renames left the only live copy at `.pre-compact`. */
  private def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path): Unit = {
    val retired = new org.apache.hadoop.fs.Path(
      dst.toString + ".pre-compact")
    if (!fs.exists(dst) && fs.exists(retired))
      require(fs.rename(retired, dst), s"could not recover $dst")
    ()
  }

  /** COMPACT a graph index: absorb every sealed `edges_delta/batch=*`
    * directory into the standing `edges` table and retire the delta
    * tree — the maintenance job a year of nightly [[graphDeltaInsert]]
    * appends needs (unbounded batch directories otherwise; VERDICT r14
    * #1), the [[VectorOps.compactIndex]] precedent applied to the
    * graph paradigm. Pure I/O + a canonicalizing merge: delta rows
    * carry their exact `sim` (written by the router), so nothing is
    * re-scored — the merge is pair-keyed MAX (a vector re-sent across
    * batches lands its bit-identical adjacency twice; the MAX is a
    * pure dedup, the descent-round device) followed by the keyed top-k
    * window that re-asserts ≤ k rows per node — on a corpus node that
    * accumulated reverse bidirectional-link rows past k, this IS the
    * HNSW degree bound applied at absorb time (lowest-sim edges
    * yield). The post-compaction serving view is therefore exactly
    * `topK(pre-compaction view)` — integer-exact and spec-pinned —
    * and identical to it wherever a node's view degree was within k.
    *
    * Crash matrix (spec-pinned): died before any rename → stale
    * `.compacting` is overwritten next run; died between the renames →
    * [[recoverSwap]] restores the retiree and the run redoes the
    * absorb; died after the swap but before the delta delete → the
    * re-absorb is idempotent (MAX-merge of rows already present) and
    * the delete completes. At 100 TB: one keyed shuffle over
    * |edges| + |delta| rows, no scoring, no corpus scan. */
  def compactGraphIndex(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val edgesDir = new Path(s"$path/edges")
    val deltaDir = new Path(s"$path/edges_delta")
    val tmpDir = new Path(s"$path/edges.compacting")
    val fs = edgesDir.getFileSystem(spark.sessionState.newHadoopConf())
    recoverSwap(fs, edgesDir)
    if (!fs.exists(deltaDir)) return // nothing to absorb
    val merged = readGraphEdges(spark, path)
      .groupBy($"a_id", $"b_id").agg(max($"sim").as("sim"))
    topK(merged, GraphK)
      .write.mode("overwrite").parquet(tmpDir.toString)
    swapDirs(fs, tmpDir, edgesDir)
    fs.delete(deltaDir, true)
    ()
  }

  /** DELETE vectors from a persisted graph index — the take-down path
    * the posting/chunk indexes already have
    * ([[VectorOps.deleteFromChunkIndex]] precedent): a deleted vector
    * must vanish BOTH as a routed node (its `a_id` rows) and from
    * every other node's adjacency (its `b_id` appearances — serving
    * would otherwise keep returning it), and the nodes that lost edges
    * get their adjacency HEALED by re-routing the surviving graph
    * (q202's mechanism — salted-bucket entry points + hop expansion —
    * via [[deltaRouteOf]], whose self-pair guard exists for exactly
    * this call). `survivors` is the caller-scoped surviving corpus
    * (vec_id, embedding) — the chunk take-down's `reoffer` contract;
    * rows of deleted ids inside it are ignored. Runs on the COMPACTED
    * index (compaction is this function's first step — one rewrite,
    * and the delta tree cannot resurrect deleted ids afterwards).
    *
    * The heal merges each affected node's SURVIVING adjacency with the
    * re-route's candidates (pair-keyed MAX — overlaps are
    * bit-identical) and keeps top-k, so healed nodes hold ≤ k edges,
    * none referencing a deleted id, and nodes untouched by the delete
    * are byte-identical. An affected node that ends with NO rows at
    * all (every kept edge pointed at a victim AND its seed buckets
    * hold no other survivor — the insert path's n_unrouted condition)
    * drops out of the index as a route source; it is COUNTED in the
    * returned value, never papered over (the VectorIngestMain
    * doctrine — it remains findable as a neighbor and re-enters at
    * the next rebuild). Cost: O(affected · k²) route joins + one
    * filter-rewrite of the edge table — never a corpus descent. Same
    * swap/crash discipline as [[compactGraphIndex]]; a crash between
    * the steps leaves the smaller-but-consistent filtered index and
    * the retry re-heals (the chunk two-step contract).
    *
    * @return the number of affected nodes left with no adjacency
    *         (0 on healthy data — spec-pinned) */
  def deleteFromGraphIndex(spark: SparkSession, path: String,
      vecIds: Seq[Long], survivors: DataFrame): Long = {
    import spark.implicits._
    // loud, not a silent full rewrite: an empty take-down list is a
    // caller bug (and an affected node missing from `survivors` keeps
    // its filtered adjacency un-healed — scope the frame to cover the
    // deleted ids' neighborhoods, the chunk re-offer contract)
    require(vecIds.nonEmpty, "deleteFromGraphIndex needs at least one id")
    deleteFromGraphIndex(spark, path,
      vecIds.toDS().toDF("vec_id"), survivors)
  }

  /** Take-down-list-as-a-FRAME form (ADVICE r15): the Seq overload
    * above interpolated its ids into `isin` literal lists — a plan
    * whose size grows with the take-down (a GDPR-scale purge of a few
    * million ids would blow the expression tree before it blew
    * anything else). Victims join as relations instead: semi/anti
    * joins are the scale-correct shape (AQE broadcasts a small victim
    * table on its own), and the victim set never touches the driver. */
  def deleteFromGraphIndex(spark: SparkSession, path: String,
      victims: DataFrame, survivors: DataFrame): Long = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    // validate BEFORE the compaction below rewrites storage: the
    // empty-take-down caller bug must fail loudly with the index
    // untouched (the Seq overload's require-first contract)
    val victimIds = victims.select($"vec_id").distinct().persist()
    require(victimIds.count() > 0L,
      "deleteFromGraphIndex needs at least one id")
    compactGraphIndex(spark, path)
    val edgesDir = new Path(s"$path/edges")
    val tmpDir = new Path(s"$path/edges.compacting")
    val fs = edgesDir.getFileSystem(spark.sessionState.newHadoopConf())
    val corpus = survivors.select($"vec_id", $"embedding")
      .join(victimIds, Seq("vec_id"), "left_anti")
    val g = spark.read.parquet(edgesDir.toString)
    val kept = g
      .join(victimIds.select($"vec_id".as("a_id")), Seq("a_id"),
        "left_anti")
      .join(victimIds.select($"vec_id".as("b_id")), Seq("b_id"),
        "left_anti")
      .select(g.columns.map(col): _*)
    // nodes that lost adjacency to a deleted neighbor (and survive)
    val affected = g
      .join(victimIds.select($"vec_id".as("b_id")), Seq("b_id"),
        "left_semi")
      .join(victimIds.select($"vec_id".as("a_id")), Seq("a_id"),
        "left_anti")
      .select($"a_id".as("vec_id")).distinct()
      .join(corpus, Seq("vec_id"))
    val routed = deltaRouteOf(affected, corpus,
        kept.select($"a_id", $"b_id"),
        math.max(1L, corpus.count() / SeedBucketSize))
      .select($"vec_id".as("a_id"), $"nb_id".as("b_id"), $"sim")
    val healedIds = affected.select($"vec_id".as("a_id"))
    val healed = topK(
      kept.join(healedIds, Seq("a_id")).union(routed)
        .groupBy($"a_id", $"b_id").agg(max($"sim").as("sim")),
      GraphK).persist()
    val unrouted = healedIds
      .join(healed.select($"a_id").distinct(), Seq("a_id"), "left_anti")
      .count()
    kept.join(healedIds, Seq("a_id"), "left_anti").union(healed)
      .write.mode("overwrite").parquet(tmpDir.toString)
    healed.unpersist(blocking = false)
    victimIds.unpersist(blocking = false)
    swapDirs(fs, tmpDir, edgesDir)
    unrouted
  }

  /** q202 — INCREMENTAL graph maintenance: tonight's delta vectors get
    * their adjacency by ROUTING the standing corpus graph, the
    * HNSW-insert shape — no rebuild, no descent round over the corpus:
    *
    *  - entry points: the corpus members of the delta vector's OWN two
    *    seed buckets (the same salted assignment it would have seeded
    *    into — insert reuses the build's mechanism, nothing new);
    *  - two out-edge expansions through the stored corpus adjacency
    *    (point-lookup equi-joins), giving ≤ 2·bucket + 2·bucket·k +
    *    2·bucket·k² visited candidates per delta vector;
    *  - exact-score the visited set, keep top-k: the ranked FORWARD
    *    adjacency this query emits. The persisted append path
    *    ([[graft.streaming.StreamingQueries.graphInsertBatch]]) lands
    *    these rows PLUS their reverse bidirectional-link twins, which
    *    is what makes the inserted vector searchable (round 15).
    *
    * The batch is simultaneous-vs-corpus (delta-delta edges are the
    * NEXT build's work — same contract as q130's delta-vs-corpus
    * split); a delta vector whose buckets hold no corpus member
    * surfaces as absent, not papered over. Per-delta cost is
    * independent of corpus size — the operational point at 100 TB,
    * where the alternative is a full O(n·(2k)²·T) re-descent per
    * night. */
  def graphDeltaInsert(spark: SparkSession, dir: String): DataFrame =
    graphDeltaInsertIndexed(spark, dir,
      ServingIndexes.knnCorpusGraphIndex(spark, dir))

  /** q202 against an explicit index path (the spec's entry point).
    * The registry contract stays (vec_id, rank, nb_id); the `sim` the
    * routing body now also computes travels only on the PERSISTED
    * append artifact (graphInsertBatch), where compaction needs it. */
  private[graft] def graphDeltaInsertIndexed(spark: SparkSession,
      dir: String, path: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val corpus = emb.filter(!isDeltaVec($"vec_id"))
    val delta = emb.filter(isDeltaVec($"vec_id"))
    deltaRouteOf(delta, corpus,
      spark.read.parquet(s"$path/edges").select($"a_id", $"b_id"),
      math.max(1L, corpusCount(spark, dir) / SeedBucketSize))
      .select($"vec_id", $"rank", $"nb_id")
  }

  /** The q202 routing body over explicit frames — shared by the batch
    * query, the ingest-time [[graft.streaming.StreamingQueries]] twin
    * (which routes arriving vectors against the PERSISTED edge table
    * per micro-batch), q205's out-of-corpus search (`hops` =
    * [[RouteHops]]), and [[deleteFromGraphIndex]]'s adjacency heal.
    * Output carries `sim` (round 15): the weighted edge rows a
    * deployment appends are what [[compactGraphIndex]] later absorbs
    * into `edges` without re-scoring — compaction stays pure I/O, the
    * posting/chunk precedent. The `d_id =!= c_id` guard is a no-op for
    * disjoint delta/corpus sets (q202's contract) but load-bearing for
    * the heal path, where routed nodes ARE corpus members and a
    * self-pair would burn a top-k slot at sim 1.0. */
  private[graft] def deltaRouteOf(delta: DataFrame, corpus: DataFrame,
      g: DataFrame, nBuckets: Long, hops: Int = 2,
      salts: Seq[String] = SeedSalts): DataFrame = {
    val spark = delta.sparkSession
    import spark.implicits._
    val cb = seedBuckets(corpus.select($"vec_id", $"embedding"),
      nBuckets, salts)
    val db = seedBuckets(delta.select($"vec_id", $"embedding"),
      nBuckets, salts)
    val entry = db.select($"vec_id".as("d_id"), $"salt", $"bk")
      .join(cb.select($"vec_id".as("c_id"), $"salt", $"bk"),
        Seq("salt", "bk"))
      .select($"d_id", $"c_id").distinct()
    def expand(f: DataFrame): DataFrame =
      f.join(g.select($"a_id".as("c_id"), $"b_id"), "c_id")
        .select($"d_id", $"b_id".as("c_id")).distinct()
    val frontiers = Iterator.iterate(entry)(expand).take(hops + 1).toSeq
    // keyed dedup instead of a plain distinct (guide §2.4, the
    // descent-round device): HashPartitioning(d_id) satisfies the
    // (d_id, c_id) dedup's clustering AND the top-k window's d_id
    // distribution below — the two embedding fetch joins in between
    // broadcast their build sides and preserve the streamed
    // partitioning, so the window's former exchange over the whole
    // scored frame disappears. Row set and values untouched. For a
    // SINGLE-query caller (q205) this serializes the scoring into the
    // one d_id partition — measured ACCEPTABLE (q205 1.83 → 1.60 s in
    // the family A/B: one query's ≤ 2·bucket·(1+k+k²+k³) cosines are
    // cheaper than the exchange the merge removes); width stays the
    // session's shuffle-partition config, the production scale knob.
    val cand = frontiers.reduce(_ union _)
      .repartition($"d_id")
      .dropDuplicates("d_id", "c_id")
      .filter($"d_id" =!= $"c_id")
    val scored = cand
      .join(delta.select($"vec_id".as("d_id"), $"embedding".as("d_emb")),
        "d_id")
      .join(corpus.select($"vec_id".as("c_id"), $"embedding".as("c_emb")),
        "c_id")
      .select($"d_id", $"c_id",
        nanvl(cosine($"d_emb", $"c_emb"),
          lit(Double.NegativeInfinity)).as("sim"))
    Operators.topKPerGroup(scored, Seq($"d_id"), Seq($"sim".desc),
        $"c_id".asc, GraphK)
      .select($"d_id".as("vec_id"), $"rank", $"c_id".as("nb_id"), $"sim")
  }

  /** q205 — graph ANN for an OUT-OF-CORPUS query vector (VERDICT r14
    * #2): q201 could only answer queries that ARE indexed nodes (entry
    * = the query's own stored adjacency); a real deployment's query
    * vector is usually not in the corpus. This is q202's insert
    * mechanism COMPOSED into serving: the query (a held-out delta
    * vector, deterministically the MIN delta vec_id — it is absent
    * from the standing corpus graph by construction) enters through
    * the corpus members of its own two salted seed buckets, expands
    * [[RouteHops]] times through the persisted adjacency, exact-scores
    * the visited frontier, and returns the top-5 in q30/q201's (rank,
    * vec_id) contract. Per-query cost: 2 bucket point-lookups +
    * [[RouteHops]] hop joins + ≤ 2·bucket·(1+k+k²+k³) exact scores —
    * independent of corpus size, the number an online ANN service
    * pays. */
  def graphSearch(spark: SparkSession, dir: String): DataFrame =
    search.get(spark, dir) {
      val r = graphSearchIndexed(spark, dir,
        ServingIndexes.knnCorpusGraphIndex(spark, dir)).persist()
      r.count() // materialize: q205 emits it, q206's audit reads it
      r
    }

  /** q205 against an explicit index path (spec + stress entry). */
  private[graft] def graphSearchIndexed(spark: SparkSession, dir: String,
      path: String): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val corpus = emb.filter(!isDeltaVec($"vec_id"))
    val delta = emb.filter(isDeltaVec($"vec_id"))
    // the held-out query: min delta vec_id, chosen declaratively via
    // orderBy+limit — TakeOrderedAndProject, not a keyless min() whose
    // final aggregate would plan an Exchange SinglePartition (the
    // q30/q201 top-k device applied to a 1-row parameter)
    val q = delta.orderBy($"vec_id".asc).limit(1)
      .select($"vec_id", $"embedding")
    deltaRouteOf(q, corpus,
        readGraphEdges(spark, path).select($"a_id", $"b_id"),
        math.max(1L, corpusCount(spark, dir) / SeedBucketSize),
        hops = RouteHops)
      .filter($"rank" <= 5)
      .select($"rank", $"nb_id".as("vec_id"))
  }

  /** q206 — serving-recall audit of the out-of-corpus search (q204's
    * pattern applied to q205): for each of the query vector's exact
    * top-5 corpus neighbors (brute force, broadcast-NLJ — the 1-row
    * query side is broadcast, the corpus scan never shuffles), whether
    * q205's bucket-entry + hop route retrieved it. Separates the two
    * serving knobs for the out-of-corpus path: entry-point luck (the
    * buckets are geometry-blind) and hop depth — read beside q200's
    * graph recall, it tells a deployment whether to widen entry
    * (more salts) or deepen the walk. */
  def graphSearchRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.fanned(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val corpus = emb.filter(!isDeltaVec($"vec_id"))
    val delta = emb.filter(isDeltaVec($"vec_id"))
    val q = delta.orderBy($"vec_id".asc).limit(1)
      .select($"embedding".as("q_emb"))
    val scored = corpus.crossJoin(broadcast(q))
      .select($"vec_id",
        nanvl(cosine($"embedding", $"q_emb"),
          lit(Double.NegativeInfinity)).as("sim"))
    val exact = Operators.topK(scored, Seq($"sim".desc), $"vec_id".asc, 5)
      .select($"rank", $"vec_id")
    val routed = graphSearch(spark, dir)
      .select($"vec_id", lit(true).as("in_route"))
    exact.join(routed, Seq("vec_id"), "left")
      .select($"rank", $"vec_id",
        coalesce($"in_route", lit(false)).as("in_route"))
  }

  /** q207 — FLEET form of the out-of-corpus search (VERDICT r15 #4):
    * q205 serves ONE held-out query; a deployment's serving tier
    * answers a TABLE of them. Same body — [[deltaRouteOf]] already
    * takes a frame; q205's wrapper narrowed it to one row — over the
    * whole held-out set against the same persisted index: per query,
    * 2 bucket point-lookups + [[RouteHops]] hop joins + ≤
    * 2·bucket·(1+k+k²+k³) exact scores, so fleet cost is queries ×
    * a corpus-size-independent constant — embarrassingly parallel by
    * query_id, the batch-serving shape. Output (query_id, rank,
    * nb_id), top-5 per query in q205's exact ranking. */
  def graphSearchFleet(spark: SparkSession, dir: String): DataFrame =
    fleetRouteShared(spark, dir, seedRoute, SeedSalts)

  /** The serving tier's ROUTE as a shared artifact, one per salt list:
    * the audits read the SAME served rows — a deployment audits what
    * the tier actually returned, it does not re-route. ONLY
    * these registry wrappers over the shared [[ServingIndexes]] path
    * memoize — the `*Indexed` forms (specs, stress, the ingest tick
    * gauging a LIVE index it mutates between calls) always compute
    * fresh, so a mutated index can never serve a stale route. */
  private[graft] val seedRoute = Artifacts[DataFrame]("graph.route.seed")
  private[graft] val wideRoute = Artifacts[DataFrame]("graph.route.wide")
  private[graft] val search = Artifacts[DataFrame]("graph.search")
  private[graft] val exactArm = Artifacts[DataFrame]("graph.exact")

  /** The standing-corpus row count — the bucket-count PARAMETER every
    * route derives (`corpus.count() / SeedBucketSize`): the corpus
    * slice is immutable within a session (the ingest tick mutates its
    * INDEX, never the embeddings table), so one count serves every
    * route build. */
  private[graft] val corpusRows = Artifacts[Long]("graph.corpus_count")
  private[graft] def corpusCount(spark: SparkSession, dir: String): Long =
    corpusRows.get(spark, dir)(
      Tables(spark, dir, "embeddings")
        .filter(!isDeltaVec(col("vec_id"))).count())

  private def fleetRouteShared(spark: SparkSession, dir: String,
      route: Artifact[DataFrame], salts: Seq[String]): DataFrame =
    route.get(spark, dir) {
      val r = graphSearchFleetIndexed(spark, dir,
        ServingIndexes.knnCorpusGraphIndex(spark, dir), salts).persist()
      r.count()
      r
    }

  /** The audits' exact brute-force arm, salt-INDEPENDENT by
    * construction (it never touches the route), so q208 and q210
    * share one artifact per dataset. */
  private def fleetExactShared(spark: SparkSession,
      dir: String): DataFrame =
    exactArm.get(spark, dir) {
      val e = fleetExactOf(spark, dir, 0L).persist()
      e.count()
      e
    }

  /** q207 against an explicit index path (spec + stress entry).
    * `salts` widens the ENTRY only — the standing graph, hop budget,
    * scoring, and cut are byte-identical across widths. */
  private[graft] def graphSearchFleetIndexed(spark: SparkSession,
      dir: String, path: String,
      salts: Seq[String] = SeedSalts): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val corpus = emb.filter(!isDeltaVec($"vec_id"))
    val delta = emb.filter(isDeltaVec($"vec_id"))
    deltaRouteOf(delta, corpus,
        readGraphEdges(spark, path).select($"a_id", $"b_id"),
        math.max(1L, corpusCount(spark, dir) / SeedBucketSize),
        hops = RouteHops, salts = salts)
      .filter($"rank" <= 5)
      .select($"vec_id".as("query_id"), $"rank", $"nb_id")
  }

  /** The wide-entry salt list q209/q210 serve with: the build's two
    * bucketings plus ONE extra independent salt at query time.
    * Query-side only — the standing graph and its seed arithmetic are
    * untouched (a query vector buckets statelessly, so entry width is
    * a pure serving knob, no index rebuild). `EntryWidthAb` measured
    * the curve this ships: at 10×, mean entry 32 → 48 lifts fleet
    * hit@5 0.346 → 0.474 at flat route wall. */
  private[graft] val WideSalts: Seq[String] = Seq("a", "b", "c")

  /** q209 — the FLEET search at WIDE ENTRY (the EntryWidthAb lever,
    * productized): q207's exact body with three salted entry
    * bucketings per query instead of two. Candidate bound per query
    * rises 2·bucket·(1+k+k²+k³) → 3·bucket·(1+k+k²+k³) — still
    * corpus-size-independent; the recall it buys is q210's audit
    * row beside q208's. */
  def graphSearchFleetWide(spark: SparkSession, dir: String): DataFrame =
    fleetRouteShared(spark, dir, wideRoute, WideSalts)

  /** q210 — q208's mean-hit@5 audit over the WIDE-entry route: the
    * pair of rows a deployment reads side by side to decide whether
    * the third salt pays for itself. Monotone by construction (a
    * wider entry only ADDS candidates, and any candidate that
    * displaces an exact-top-5 member from the route cut is itself an
    * exact-top-5 member — OperatorPropertiesSpec pins
    * total_hits(wide) ≥ total_hits(prod)). */
  def graphFleetRecallWide(spark: SparkSession, dir: String): DataFrame =
    fleetRecallRollup(fleetExactShared(spark, dir),
      fleetRouteShared(spark, dir, wideRoute, WideSalts))

  /** q208 — mean hit@5 of the FLEET search (the audit row the verdict
    * asked for beside q206): for every held-out query, its exact
    * brute-force top-5 corpus neighbors vs what q207's route
    * retrieved, rolled up to one row — queries served, total hits,
    * mean hit@5. q206 reads ONE query's luck; this reads the serving
    * tier's expected recall, the number a capacity plan multiplies.
    * The exact arm is the q200 audit shape (held-out side broadcast,
    * corpus scan never shuffles) — audit-bounded, not a serving path.
    * Keyless rollup: one row out, partial-aggregated (the
    * scalarRollup exemption, q197's precedent). */
  def graphFleetRecall(spark: SparkSession, dir: String): DataFrame =
    fleetRecallRollup(fleetExactShared(spark, dir),
      fleetRouteShared(spark, dir, seedRoute, SeedSalts))

  /** q208 against an explicit index path — also the gauge
    * [[graft.VectorIngestMain]]'s tick reads against ITS OWN standing
    * index to enforce the [[VectorOps.ReindexPolicy]]
    * `recall_floor_ppm` (a floor can only be measured on the live
    * index the tick maintains, not the shared registry artifact).
    *
    * `sampleMod` > 1 bounds the exact arm for the TICK's use: the
    * audit's brute-force side costs O(corpus × queries), fine for the
    * registry audit a human schedules but not for a cost the nightly
    * tick pays unconditionally — the [[RecallSampleMod]] device caps
    * it at a deterministic query sample. A sample below
    * [[GaugeMinQueries]] falls back to the full fleet: a handful of
    * queries reads in steps of 1/(5·n) — too coarse to resolve a 0.2
    * floor (a tiny corpus measured EXACTLY 200000 ppm on a degraded
    * index and failed to breach) — and at the corpus sizes where the
    * sample is that small, the full arm is cheap anyway. q208/q210
    * keep the full fleet (0): their oracles pin it. */
  private[graft] def graphFleetRecallIndexed(spark: SparkSession,
      dir: String, path: String, salts: Seq[String] = SeedSalts,
      sampleMod: Long = 0L): DataFrame =
    fleetRecallRollup(fleetExactOf(spark, dir, sampleMod),
      graphSearchFleetIndexed(spark, dir, path, salts))

  /** The audit's exact arm: brute-force top-5 corpus neighbors per
    * held-out query (optionally [[RecallSampleMod]]-sampled — the
    * tick's bound), held-out side broadcast so the corpus scan never
    * shuffles. */
  private def fleetExactOf(spark: SparkSession, dir: String,
      sampleMod: Long): DataFrame = {
    import spark.implicits._
    // fanned read: the broadcast-NLJ probe computes |fleet| cosines
    // per corpus row IN the scan's partitions (guide §2.5)
    val emb = Tables.fanned(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val corpus = emb.filter(!isDeltaVec($"vec_id"))
    val delta0 = emb.filter(isDeltaVec($"vec_id"))
    val delta =
      if (sampleMod <= 1L) delta0
      else {
        val s = delta0.filter($"vec_id" % sampleMod === 0)
        if (s.count() >= GaugeMinQueries) s else delta0
      }
    val pairs = corpus.select($"vec_id".as("nb_id"),
        $"embedding".as("c_emb"))
      .crossJoin(broadcast(delta.select($"vec_id".as("query_id"),
        $"embedding".as("q_emb"))))
      .select($"query_id", $"nb_id",
        nanvl(cosine($"q_emb", $"c_emb"),
          lit(Double.NegativeInfinity)).as("sim"))
    Operators.topKPerGroup(pairs, Seq($"query_id"), Seq($"sim".desc),
        $"nb_id".asc, 5)
      .select($"query_id", $"nb_id")
  }

  /** The one-row audit rollup over (exact arm, served route). */
  private def fleetRecallRollup(exact: DataFrame,
      route: DataFrame): DataFrame = {
    val spark = exact.sparkSession
    import spark.implicits._
    val routed = route
      .select($"query_id", $"nb_id", lit(1L).as("hit"))
    exact.join(routed, Seq("query_id", "nb_id"), "left")
      .agg(
        count_distinct($"query_id").as("n_queries"),
        sum(coalesce($"hit", lit(0L))).as("total_hits"),
        (sum(coalesce($"hit", lit(0L))) /
          count_distinct($"query_id")).cast("decimal(18,4)")
          .cast("double").as("mean_hits"))
  }

  /** q203 — hubness audit of the k-NN graph: the k-occurrence
    * (in-degree) histogram, THE diagnostic for the high-dimensional
    * pathology where a few "hub" vectors appear in everyone's
    * neighbor list (Radovanović et al., JMLR'10: hubness skew grows
    * with intrinsic dimension and silently degrades every kNN-based
    * consumer — dedup verdicts, retrieval, clustering). Out-degree is
    * k by construction, so in-degree is where the graph's health
    * shows: a healthy low-dim corpus concentrates near k; a hubby one
    * grows a long right tail. This is also the measurement behind the
    * descent rounds' reverse-degree cap — the cap bounds what THIS
    * report counts. Nodes referenced by nobody surface as degree 0
    * (the orphan count, anti-join against the edge targets).
    *
    * Scale shape: one count per b_id (partial-aggregatable), one
    * bounded-key histogram rollup over degrees ≤ n, one anti-join for
    * the zero row — all keyed, nothing pairwise. */
  def graphHubness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = knnGraphTable(spark, dir)
    val indeg = g.groupBy($"b_id").agg(count(lit(1)).as("in_degree"))
    val zeros = Tables(spark, dir, "embeddings").select($"vec_id")
      .join(indeg.select($"b_id".as("vec_id")), Seq("vec_id"),
        "left_anti")
      .select(lit(0L).as("in_degree"))
    indeg.select($"in_degree").union(zeros)
      .groupBy($"in_degree").agg(count(lit(1)).as("n_nodes"))
  }

  // ---------------------------------------------------------------- oracle

  private def duckSim(a: String, b: String): String =
    s"CASE WHEN isnan(list_cosine_similarity($a, $b)) " +
      s"THEN CAST('-infinity' AS DOUBLE) " +
      s"ELSE list_cosine_similarity($a, $b) END"

  /** The round-by-round descent chain, ending in CTE g[[DescentRounds]].
    * MATERIALIZED on every per-round CTE: each is referenced up to
    * three times by the next round, so default inlining would expand
    * 3^T scans of the whole prefix (the k-core oracle lesson). */
  private def graphCtes(k: Int = GraphK, rounds: Int = DescentRounds,
      recursive: Boolean = false, where: String = ""): String = {
    val score = duckSim("ea.embedding", "eb.embedding")
    def topKSql(src: String): String =
      s"""SELECT a_id, b_id, sim FROM (
         |    SELECT a_id, b_id, sim, ROW_NUMBER() OVER (
         |        PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn
         |    FROM $src) t
         |  WHERE rn <= $k""".stripMargin
    val withKw = if (recursive) "WITH RECURSIVE" else "WITH"
    val head =
      s"""$withKw vemb AS (SELECT vec_id, embedding FROM embeddings$where),
         |vnb AS (SELECT GREATEST(1, COUNT(*) // $SeedBucketSize) AS nb
         |        FROM vemb),
         |bkt AS MATERIALIZED (
         |  SELECT vec_id, salt,
         |    CAST(concat('0x', substr(md5(concat('knnseed', salt, ':',
         |      CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % vnb.nb
         |      AS bk
         |  FROM vemb, vnb, (SELECT UNNEST(['a', 'b']) AS salt)),
         |seed AS (
         |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
         |  FROM bkt x JOIN bkt y ON x.salt = y.salt AND x.bk = y.bk
         |    AND x.vec_id <> y.vec_id),
         |s0 AS MATERIALIZED (
         |  SELECT p.a_id, p.b_id, $score AS sim
         |  FROM seed p
         |  JOIN vemb ea ON ea.vec_id = p.a_id
         |  JOIN vemb eb ON eb.vec_id = p.b_id),
         |g0 AS MATERIALIZED (
         |  ${topKSql("s0")})""".stripMargin
    val body = (1 to rounds).map { i =>
      val p = i - 1
      s"""u$p AS MATERIALIZED (
         |  SELECT a_id AS u, b_id AS v FROM g$p
         |  UNION
         |  SELECT u, v FROM (
         |    SELECT b_id AS u, a_id AS v, ROW_NUMBER() OVER (
         |        PARTITION BY b_id ORDER BY sim DESC, a_id ASC) AS rn
         |    FROM g$p) r
         |  WHERE rn <= $k),
         |c$i AS MATERIALIZED (
         |  SELECT DISTINCT x.v AS a_id, y.v AS b_id
         |  FROM u$p x JOIN u$p y ON x.u = y.u AND x.v <> y.v),
         |s$i AS MATERIALIZED (
         |  SELECT a_id, b_id, MAX(sim) AS sim FROM (
         |    SELECT p.a_id, p.b_id, $score AS sim
         |    FROM c$i p
         |    JOIN vemb ea ON ea.vec_id = p.a_id
         |    JOIN vemb eb ON eb.vec_id = p.b_id
         |    UNION ALL SELECT a_id, b_id, sim FROM g$p) z
         |  GROUP BY a_id, b_id),
         |g$i AS MATERIALIZED (
         |  ${topKSql(s"s$i")})""".stripMargin
    }.mkString(",\n")
    head + ",\n" + body
  }

  private lazy val nnDescentGraphSql = graphCtes() +
    s"""
       |SELECT a_id AS vec_id,
       |  CAST(ROW_NUMBER() OVER (
       |      PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS BIGINT)
       |    AS rank,
       |  b_id AS nb_id
       |FROM g$DescentRounds""".stripMargin

  private lazy val mutualKnnClustersSql = graphCtes(recursive = true) +
    s""",
       |gr AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (
       |    SELECT a_id, b_id, ROW_NUMBER() OVER (
       |        PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rnk
       |    FROM g$DescentRounds) t
       |  WHERE rnk <= $MutualRank),
       |mut AS MATERIALIZED (
       |  SELECT f.a_id AS u, f.b_id AS v
       |  FROM gr f JOIN gr r
       |    ON f.a_id = r.b_id AND f.b_id = r.a_id AND f.a_id < f.b_id),
       |me AS (SELECT u, v FROM mut UNION SELECT v, u FROM mut),
       |reach AS (
       |  SELECT u, v FROM me
       |  UNION
       |  SELECT r.u, e2.v FROM reach r JOIN me e2 ON r.v = e2.u),
       |mn AS (SELECT u AS vec_id, MIN(v) AS m FROM reach GROUP BY u)
       |SELECT e.vec_id,
       |  CAST(LEAST(e.vec_id, COALESCE(mn.m, e.vec_id)) AS BIGINT)
       |    AS cluster_id
       |FROM embeddings e LEFT JOIN mn ON mn.vec_id = e.vec_id""".stripMargin

  private lazy val nnDescentRecallSql = graphCtes() +
    s""",
       |qs AS (SELECT vec_id FROM embeddings
       |       WHERE vec_id % $RecallSampleMod = 0),
       |ex AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (
       |    SELECT q.vec_id AS a_id, b.vec_id AS b_id, ROW_NUMBER() OVER (
       |        PARTITION BY q.vec_id
       |        ORDER BY ${duckSim("a.embedding", "b.embedding")} DESC,
       |                 b.vec_id ASC) AS rn
       |    FROM qs q
       |    JOIN embeddings a ON a.vec_id = q.vec_id
       |    JOIN embeddings b ON b.vec_id <> q.vec_id) t
       |  WHERE rn <= $GraphK)
       |SELECT q.vec_id,
       |  CAST(COALESCE(h.h, 0) AS BIGINT) AS hits
       |FROM qs q LEFT JOIN (
       |  SELECT e.a_id AS vec_id, COUNT(*) AS h
       |  FROM ex e JOIN g$DescentRounds g
       |    ON g.a_id = e.a_id AND g.b_id = e.b_id
       |  GROUP BY e.a_id) h ON h.vec_id = q.vec_id""".stripMargin

  /** The q201 hop/rank chain as CTEs (shared with q204's audit). */
  private lazy val routeCtes =
    s"""qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |h1 AS MATERIALIZED (
       |  SELECT b_id FROM g$DescentRounds WHERE a_id = 0),
       |h2 AS MATERIALIZED (
       |  SELECT DISTINCT g.b_id FROM g$DescentRounds g
       |  JOIN h1 ON g.a_id = h1.b_id),
       |h3 AS MATERIALIZED (
       |  SELECT DISTINCT g.b_id FROM g$DescentRounds g
       |  JOIN h2 ON g.a_id = h2.b_id),
       |cand AS (
       |  SELECT b_id FROM h1 UNION SELECT b_id FROM h2
       |  UNION SELECT b_id FROM h3),
       |routed AS (
       |  SELECT rank, vec_id FROM (
       |    SELECT CAST(ROW_NUMBER() OVER (
       |        ORDER BY ${duckSim("b.embedding", "q.embedding")} DESC,
       |                 c.b_id ASC) AS BIGINT) AS rank,
       |      c.b_id AS vec_id
       |    FROM cand c
       |    JOIN embeddings b ON b.vec_id = c.b_id, qv q
       |    WHERE c.b_id <> 0) t
       |  WHERE rank <= 5)""".stripMargin

  private lazy val graphRoutedAnnSql = graphCtes() + ",\n" + routeCtes +
    "\nSELECT rank, vec_id FROM routed"

  private lazy val graphDeltaInsertSql = graphCtes(where =
    " WHERE NOT (substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '1a')") +
    s""",
       |delta AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '1a'),
       |dbkt AS MATERIALIZED (
       |  SELECT vec_id, salt,
       |    CAST(concat('0x', substr(md5(concat('knnseed', salt, ':',
       |      CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % vnb.nb
       |      AS bk
       |  FROM delta, vnb, (SELECT UNNEST(['a', 'b']) AS salt)),
       |entry AS MATERIALIZED (
       |  SELECT DISTINCT d.vec_id AS d_id, c.vec_id AS c_id
       |  FROM dbkt d JOIN bkt c ON d.salt = c.salt AND d.bk = c.bk),
       |i2 AS MATERIALIZED (
       |  SELECT DISTINCT e.d_id, g.b_id AS c_id
       |  FROM entry e JOIN g$DescentRounds g ON g.a_id = e.c_id),
       |i3 AS MATERIALIZED (
       |  SELECT DISTINCT e.d_id, g.b_id AS c_id
       |  FROM i2 e JOIN g$DescentRounds g ON g.a_id = e.c_id),
       |icand AS (
       |  SELECT d_id, c_id FROM entry UNION SELECT d_id, c_id FROM i2
       |  UNION SELECT d_id, c_id FROM i3)
       |SELECT d_id AS vec_id, CAST(rn AS BIGINT) AS rank,
       |  c_id AS nb_id FROM (
       |  SELECT p.d_id, p.c_id, ROW_NUMBER() OVER (
       |      PARTITION BY p.d_id
       |      ORDER BY ${duckSim("de.embedding", "ce.embedding")} DESC,
       |               p.c_id ASC) AS rn
       |  FROM icand p
       |  JOIN delta de ON de.vec_id = p.d_id
       |  JOIN vemb ce ON ce.vec_id = p.c_id) t
       |WHERE rn <= $GraphK""".stripMargin

  /** The corpus-side (non-delta) filter, q202/q205/q206's oracle twin
    * of [[isDeltaVec]]'s negation. */
  private val NotDeltaWhere =
    " WHERE NOT (substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '1a')"

  /** q205's route chain over the corpus graph: the held-out query (min
    * delta vec_id), its two salted buckets, bucket-entry, RouteHops
    * expansions, exact-scored ranking — shared with q206's audit. The
    * live side's d_id <> c_id guard has no oracle twin: sqv is
    * delta-side, bkt/vemb corpus-side, disjoint by the md5 split. */
  private lazy val searchCtes = {
    val expansions = (1 to RouteHops).map { i =>
      val p = i - 1
      s"""se$i AS MATERIALIZED (
         |  SELECT DISTINCT e.d_id, g.b_id AS c_id
         |  FROM se$p e JOIN g$DescentRounds g ON g.a_id = e.c_id)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to RouteHops)
      .map(i => s"SELECT d_id, c_id FROM se$i").mkString("\n  UNION ")
    s"""sqv AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '1a'
       |  ORDER BY vec_id ASC LIMIT 1),
       |sqb AS MATERIALIZED (
       |  SELECT vec_id, salt,
       |    CAST(concat('0x', substr(md5(concat('knnseed', salt, ':',
       |      CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % vnb.nb
       |      AS bk
       |  FROM sqv, vnb, (SELECT UNNEST(['a', 'b']) AS salt)),
       |se0 AS MATERIALIZED (
       |  SELECT DISTINCT q.vec_id AS d_id, c.vec_id AS c_id
       |  FROM sqb q JOIN bkt c ON q.salt = c.salt AND q.bk = c.bk),
       |$expansions,
       |scand AS (
       |  $unions),
       |sroute AS (
       |  SELECT CAST(rn AS BIGINT) AS rank, c_id AS vec_id FROM (
       |    SELECT p.c_id, ROW_NUMBER() OVER (
       |        ORDER BY ${duckSim("de.embedding", "ce.embedding")} DESC,
       |                 p.c_id ASC) AS rn
       |    FROM scand p
       |    JOIN sqv de ON de.vec_id = p.d_id
       |    JOIN vemb ce ON ce.vec_id = p.c_id) t
       |  WHERE rn <= 5)""".stripMargin
  }

  private lazy val graphSearchSql =
    graphCtes(where = NotDeltaWhere) + ",\n" + searchCtes +
      "\nSELECT rank, vec_id FROM sroute"

  /** q207/q209's fleet route chain: graphDeltaInsertSql's per-query
    * device (delta buckets, entry, expansions, PARTITION BY ranking)
    * at [[RouteHops]] expansions and the top-5 serving cut, over the
    * given entry-salt list (q207 the build's two, q209 the wide
    * three). */
  private def fleetCtes(salts: Seq[String] = SeedSalts) = {
    val expansions = (1 to RouteHops).map { i =>
      val p = if (i == 1) "fentry" else s"fe${i - 1}"
      s"""fe$i AS MATERIALIZED (
         |  SELECT DISTINCT e.d_id, g.b_id AS c_id
         |  FROM $p e JOIN g$DescentRounds g ON g.a_id = e.c_id)""".stripMargin
    }.mkString(",\n")
    val unions = ("SELECT d_id, c_id FROM fentry" +:
      (1 to RouteHops).map(i => s"SELECT d_id, c_id FROM fe$i"))
      .mkString("\n  UNION ")
    s"""fqv AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '1a'),
       |fqb AS MATERIALIZED (
       |  SELECT vec_id, salt,
       |    CAST(concat('0x', substr(md5(concat('knnseed', salt, ':',
       |      CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % vnb.nb
       |      AS bk
       |  FROM fqv, vnb,
       |    (SELECT UNNEST([${salts.map(s => s"'$s'").mkString(", ")}])
       |      AS salt)),
       |fcb AS MATERIALIZED (
       |  SELECT vec_id, salt,
       |    CAST(concat('0x', substr(md5(concat('knnseed', salt, ':',
       |      CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % vnb.nb
       |      AS bk
       |  FROM vemb, vnb,
       |    (SELECT UNNEST([${salts.map(s => s"'$s'").mkString(", ")}])
       |      AS salt)),
       |fentry AS MATERIALIZED (
       |  SELECT DISTINCT q.vec_id AS d_id, c.vec_id AS c_id
       |  FROM fqb q JOIN fcb c ON q.salt = c.salt AND q.bk = c.bk),
       |$expansions,
       |fcand AS (
       |  $unions),
       |froute AS (
       |  SELECT d_id AS query_id, CAST(rn AS BIGINT) AS rank,
       |    c_id AS nb_id FROM (
       |    SELECT p.d_id, p.c_id, ROW_NUMBER() OVER (
       |        PARTITION BY p.d_id
       |        ORDER BY ${duckSim("de.embedding", "ce.embedding")} DESC,
       |                 p.c_id ASC) AS rn
       |    FROM fcand p
       |    JOIN fqv de ON de.vec_id = p.d_id
       |    JOIN vemb ce ON ce.vec_id = p.c_id) t
       |  WHERE rn <= 5)""".stripMargin
  }

  private lazy val graphSearchFleetSql =
    graphCtes(where = NotDeltaWhere) + ",\n" + fleetCtes() +
      "\nSELECT query_id, rank, nb_id FROM froute"

  private lazy val graphSearchFleetWideSql =
    graphCtes(where = NotDeltaWhere) + ",\n" + fleetCtes(WideSalts) +
      "\nSELECT query_id, rank, nb_id FROM froute"

  /** q208/q210's shared audit tail over whichever froute the salt
    * list produced. */
  private lazy val fleetRecallTail =
    s""",
       |fexact AS (
       |  SELECT query_id, nb_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS nb_id,
       |      ROW_NUMBER() OVER (
       |        PARTITION BY q.vec_id
       |        ORDER BY ${duckSim("e.embedding", "q.embedding")} DESC,
       |                 e.vec_id ASC) AS rn
       |    FROM vemb e, fqv q) t
       |  WHERE rn <= 5)
       |SELECT CAST(COUNT(DISTINCT e.query_id) AS BIGINT) AS n_queries,
       |  CAST(COALESCE(SUM(CASE WHEN r.nb_id IS NOT NULL
       |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS total_hits,
       |  CAST(CAST(SUM(CASE WHEN r.nb_id IS NOT NULL THEN 1 ELSE 0 END)
       |    / COUNT(DISTINCT e.query_id) AS DECIMAL(18,4)) AS DOUBLE)
       |    AS mean_hits
       |FROM fexact e LEFT JOIN froute r
       |  ON e.query_id = r.query_id AND e.nb_id = r.nb_id""".stripMargin

  private lazy val graphFleetRecallSql =
    graphCtes(where = NotDeltaWhere) + ",\n" + fleetCtes() +
      fleetRecallTail

  private lazy val graphFleetRecallWideSql =
    graphCtes(where = NotDeltaWhere) + ",\n" + fleetCtes(WideSalts) +
      fleetRecallTail

  private lazy val graphSearchRecallSql =
    graphCtes(where = NotDeltaWhere) + ",\n" + searchCtes +
      s""",
         |sexact AS (
         |  SELECT rank, vec_id FROM (
         |    SELECT CAST(ROW_NUMBER() OVER (
         |        ORDER BY ${duckSim("e.embedding", "q.embedding")} DESC,
         |                 e.vec_id ASC) AS BIGINT) AS rank,
         |      e.vec_id
         |    FROM vemb e, sqv q) t
         |  WHERE rank <= 5)
         |SELECT e.rank, e.vec_id,
         |  r.vec_id IS NOT NULL AS in_route
         |FROM sexact e LEFT JOIN sroute r ON e.vec_id = r.vec_id""".stripMargin

  private lazy val graphHubnessSql = graphCtes() +
    s""",
       |indeg AS MATERIALIZED (
       |  SELECT b_id, COUNT(*) AS in_degree FROM g$DescentRounds
       |  GROUP BY b_id),
       |degs AS (
       |  SELECT in_degree FROM indeg
       |  UNION ALL
       |  SELECT CAST(0 AS BIGINT) AS in_degree FROM embeddings e
       |  WHERE NOT EXISTS (SELECT 1 FROM indeg i WHERE i.b_id = e.vec_id))
       |SELECT CAST(in_degree AS BIGINT) AS in_degree,
       |  CAST(COUNT(*) AS BIGINT) AS n_nodes
       |FROM degs GROUP BY in_degree""".stripMargin

  private lazy val routeRecallSql = graphCtes() + ",\n" + routeCtes +
    s""",
       |exact AS (
       |${VectorOps.knnTopKSql})
       |SELECT e.rank, e.vec_id,
       |  r.vec_id IS NOT NULL AS in_route
       |FROM exact e LEFT JOIN routed r ON e.vec_id = r.vec_id""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("q198_nn_descent_graph", nnDescentGraph, Some(nnDescentGraphSql),
      "NN-Descent k-NN graph: deterministic two-salt hash-bucket seed, " +
        s"$DescentRounds neighbor-of-neighbor join rounds with " +
        "reverse-degree capping — the join-shaped graph construction " +
        "HNSW-class indexes start from, linear candidate volume per " +
        "round",
      pays = Seq(graph)),
    Q("q199_mutual_knn_clusters", mutualKnnClusters,
      Some(mutualKnnClustersSql),
      "mutual-kNN clustering on the q198 graph: rank-symmetric edges " +
        "(no float threshold), star-contraction components, " +
        "min-id labels, singletons self-labeled",
      rides = Seq(graph)),
    Q("q200_nn_descent_recall", nnDescentRecall, Some(nnDescentRecallSql),
      "recall@k audit of the q198 graph against exact brute force on " +
        "a deterministic 4% node sample — the convergence curve a " +
        "deployment reads before trusting the graph",
      rides = Seq(graph)),
    Q("q201_graph_routed_ann",
      (s, d) => graphRoutedAnn(s, d, ServingIndexes.knnGraphIndex(s, d)),
      Some(graphRoutedAnnSql),
      "ANN served by ROUTING the persisted k-NN graph: 3 point-lookup " +
        "hop joins against the stored edge table, exact scores on the " +
        "<= k+k^2+k^3 visited frontier, q30's rank/ids contract — " +
        "per-query cost independent of corpus size",
      rides = Seq(ServingIndexes.knnGraphIndex)),
    Q("q202_graph_delta_insert", graphDeltaInsert,
      Some(graphDeltaInsertSql),
      "HNSW-style incremental insert: the ~10% delta batch gets its " +
        "adjacency by routing the standing corpus graph (salted-bucket " +
        "entry points + 2 out-edge expansions, exact scores on the " +
        "visited set) — the append rows a nightly ingest writes, no " +
        "rebuild, per-delta cost independent of corpus size",
      pays = Seq(corpusRows),
      rides = Seq(ServingIndexes.knnCorpusGraphIndex)),
    Q("q203_graph_hubness", graphHubness, Some(graphHubnessSql),
      "k-occurrence (in-degree) histogram of the q198 graph incl. the " +
        "degree-0 orphan row — the hubness diagnostic for the " +
        "high-dim pathology the reverse cap bounds",
      rides = Seq(graph)),
    Q("q204_route_recall", routeRecall, Some(routeRecallSql),
      "serving-recall audit: for each exact q30 top-5 neighbor, " +
        "whether q201's fixed-hop route retrieved it — hop-budget " +
        "coverage read separately from q200's graph recall",
      rides = Seq(ServingIndexes.knnGraphIndex)),
    Q("q205_graph_search", graphSearch, Some(graphSearchSql),
      "out-of-corpus graph ANN: a held-out query vector (not an " +
        "indexed node) enters the persisted corpus graph through the " +
        "corpus members of its own two salted seed buckets, expands " +
        s"$RouteHops hops, exact-scores the visited frontier — top-5 " +
        "in q30's contract, per-query cost independent of corpus size",
      pays = Seq(search),
      rides = Seq(corpusRows, ServingIndexes.knnCorpusGraphIndex)),
    Q("q206_graph_search_recall", graphSearchRecall,
      Some(graphSearchRecallSql),
      "serving-recall audit of the out-of-corpus search: for each of " +
        "the held-out query's exact top-5 corpus neighbors, whether " +
        "q205's bucket-entry route retrieved it — entry-point " +
        "coverage read separately from q200's graph recall",
      rides = Seq(corpusRows, search, ServingIndexes.knnCorpusGraphIndex)),
    Q("q207_graph_fleet_search", graphSearchFleet,
      Some(graphSearchFleetSql),
      "FLEET out-of-corpus serving: every held-out query routed " +
        "through the persisted corpus graph in one batch — q205's " +
        "body over the whole query table, per-query cost independent " +
        "of corpus size, embarrassingly parallel by query_id",
      pays = Seq(seedRoute),
      rides = Seq(corpusRows, ServingIndexes.knnCorpusGraphIndex)),
    Q("q208_graph_fleet_recall", graphFleetRecall,
      Some(graphFleetRecallSql),
      "mean hit@5 of the fleet search: exact top-5 per held-out " +
        "query vs the q207 route, one audit row (n_queries, " +
        "total_hits, mean_hits) — the serving tier's expected " +
        "recall, read beside q206's single-query luck",
      pays = Seq(exactArm),
      rides = Seq(corpusRows, seedRoute, ServingIndexes.knnCorpusGraphIndex)),
    Q("q209_graph_fleet_wide", graphSearchFleetWide,
      Some(graphSearchFleetWideSql),
      "fleet search at WIDE entry: a third independent salted " +
        "bucketing per query (query-side only — no index change), " +
        "the EntryWidthAb lever productized; candidate bound " +
        "3·bucket·(1+k+k²+k³), still corpus-size-independent",
      pays = Seq(wideRoute),
      rides = Seq(corpusRows, ServingIndexes.knnCorpusGraphIndex)),
    Q("q210_graph_fleet_wide_recall", graphFleetRecallWide,
      Some(graphFleetRecallWideSql),
      "mean hit@5 of the wide-entry fleet — q208's audit row for " +
        "q209, the side-by-side pair that prices the third salt; " +
        "monotone ≥ q208 by construction (entry only adds candidates)",
      rides = Seq(corpusRows, exactArm, wideRoute,
        ServingIndexes.knnCorpusGraphIndex)))
}
