package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Reusable, generic operator library (SURVEY.md §7.1 `ops/`). The
  * SparkEntry queries are thin bindings of these operators to the
  * testdata; a user of the reference switches to these directly.
  * Every operator is a LogicalPlan composition — Catalyst sees through
  * all of them (pushdown, pruning, AQE apply as usual).
  */
object Operators {

  /** Forward as-of join, one-shuffle form: for each left row, the
    * minimum `rightTime` strictly greater than `leftTime` within the
    * same `key` — the scale path for "next event after" semantics
    * (reference composition: theta join + rank,
    * `src/plane_naolib_consumer.py:93-105`).
    *
    * Implementation: union the two sides, one shuffle+sort on (key,
    * time), running min of right-times over a strictly-following range
    * frame. No join blow-up when a key has many right rows. */
  def asofForward(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      resultCol: String = "asof_time"): DataFrame = {
    require(!Seq("_side", "_t", "_rt").exists(left.columns.contains),
      "asofForward reserves columns _side/_t/_rt")
    val l = left.withColumn("_side", lit(0))
      .withColumn("_t", col(leftTime).cast("long"))
    val r = right.select(col(key), col(rightTime).cast("long").as("_t"))
      .withColumn("_side", lit(1))
      .withColumn("_rt", col("_t"))
    val w = Window.partitionBy(col(key)).orderBy(col("_t"))
      .rangeBetween(1L, Window.unboundedFollowing)
    l.unionByName(r, allowMissingColumns = true)
      // join semantics for NULL keys: no match. Without the mask the
      // window would group every NULL key into one partition and hand
      // left rows an asof time from unrelated NULL-key right rows.
      .withColumn(resultCol,
        when(col(key).isNull, lit(null)).otherwise(min(col("_rt")).over(w)))
      .filter(col("_side") === 0)
      .drop("_side", "_t", "_rt")
  }

  /** Gap-based sessionization: assign `session_idx` per key from
    * inactivity gaps > `gapS` seconds. One shuffle serves the lag, the
    * cumulative sum, and any downstream per-session aggregation. */
  def sessionize(df: DataFrame, key: String, tsSeconds: String,
      tieBreak: String, gapS: Long): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsSeconds).asc, col(tieBreak).asc)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_gap", col(tsSeconds) - lag(col(tsSeconds), 1).over(w))
      .withColumn("_new",
        when(col("_gap").isNull || col("_gap") > gapS, 1).otherwise(0))
      .withColumn("session_idx", sum(col("_new")).over(cum))
      .drop("_gap", "_new")
  }

  /** Deterministic keep-first dedup: rank-1 per key by `order` — unlike
    * dropDuplicates, which survivor wins is well-defined
    * (streaming twin: dropDuplicatesWithinWatermark). */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String],
      order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Skew-mitigating inner equi-join: salt the skewed big side into
    * `saltFactor` sub-keys and replicate the small side across salts.
    * Result is identical to `big.join(small, keys)`; the shuffle of a
    * hot key spreads over `saltFactor` reducers. AQE's skew-join
    * handles moderate skew automatically — this is the explicit lever
    * for the pathological keys AQE can't split (e.g. a single null-ish
    * key holding >1 partition of data). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    val salted = big.withColumn("_salt",
      pmod(hash(monotonically_increasing_id()), lit(saltFactor)))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "_salt"), "inner").drop("_salt")
  }

  /** Band/range join of a fact table against a small interval table
    * (lo <= v < hi). The interval side broadcasts, so the "range join"
    * is a broadcast nested loop over a handful of rows — the right
    * physical plan when bands are few; for large interval tables, bin
    * both sides to an equi-key first. */
  def bandJoin(facts: DataFrame, bands: DataFrame, valueCol: String,
      loCol: String, hiCol: String): DataFrame =
    facts.join(broadcast(bands),
      col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol), "inner")

  /** Persist a table bucketed and sorted by its join key — the
    * repeated-join lever at 100 TB: two tables bucketed into the same
    * `buckets` count on their join keys sort-merge-join with NO
    * exchange, because the on-disk layout already satisfies the join's
    * required distribution. Pay one write-time shuffle, skip a shuffle
    * in every subsequent join.
    *
    * The per-query SORT is a separate, smaller win: since Spark 3 the
    * scan reports bucket sort order only under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true`, and that
    * is only safe when each bucket is a single file. The repartition
    * below aligns write tasks with bucket hashing (both are Murmur3
    * `hashpartitioning` on the key), so each task holds exactly one
    * bucket and writes exactly one file — making the flag safe for
    * tables written here. BucketingSpec asserts the exchange-free plan
    * unconditionally and the sort-free plan under the flag. Spark
    * buckets are metastore-backed (`saveAsTable`) — plain
    * `.parquet(path)` writes cannot carry bucket metadata. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.repartition(buckets, col(key))
      .write.bucketBy(buckets, key).sortBy(key)
      .mode("overwrite").format("parquet").saveAsTable(table)

  /** Persist a table partitioned by a low-cardinality column — the
    * scan-elimination lever at 100 TB: a filter on the partition column
    * prunes whole directories at PLANNING time (PartitionFilters in the
    * scan node), so a query over one source/day/language reads only its
    * slice of a 100 TB table, no matter how wide the table grows. The
    * complement of [[writeBucketed]]: partitioning prunes SCANS on a
    * coarse key, bucketing removes SHUFFLES on a fine join key — a
    * production corpus table typically uses both
    * (`partitionBy(source).bucketBy(n, doc_id)`).
    *
    * The pre-repartition on the partition column keeps writers to one
    * open file per partition value per task batch instead of
    * numTasks×numPartitions small files — the small-files failure mode
    * that kills 100 TB scans. Skewed partition values are the known
    * cost (one value = one task's output); mitigate by salting the
    * repartition when a single partition dominates. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.repartition(col(partitionCol))
      .write.partitionBy(partitionCol)
      .mode("overwrite").parquet(path)

  /** Fan a frame out to the session's core count — but ONLY when its
    * physical plan provides fewer tasks than cores. This exists for
    * CPU-DENSE per-row lifts (per-occurrence digests, window explodes)
    * whose input is a scan: Spark parallelizes a scan by file split,
    * so a small single-file table (the local test corpus) yields ONE
    * task and the digest loop runs on one core while 31 idle — wall ≈
    * CPU instead of CPU/cores. At deployment scale the same table is
    * thousands of splits, the guard sees partitions ≥ cores, and this
    * is the identity: no exchange is ever added to the 100 TB plan.
    * The conditional exchange ships the pre-explode rows once (text
    * bytes, ~corpus size at worst) — orders of magnitude below the
    * digest CPU it unlocks, and only ever paid in the
    * under-parallelized regime. `.rdd.getNumPartitions` costs one
    * physical planning of `df`, no job.
    *
    * Two forms. The KEYED one hash-partitions on a caller-named
    * unique key (doc_id): uniform spread, no extra work per row. The
    * unkeyed one round-robins — Spark's failure-determinism rule
    * local-sorts rows before a round-robin exchange
    * (`sortBeforeRepartition`), acceptable for doc-level row counts —
    * and exists for inputs with NO unique key: hashing a non-unique
    * column (document TEXT, in a corpus that deliberately contains
    * duplicates) lands every copy in one partition and re-serializes
    * the very work being spread (measured: q127 2.9 s round-robin vs
    * 3.5 s text-keyed).
    *
    * AQE caveat (ADVICE r13): the probe reflects the PRE-adaptive
    * physical plan — under AQE the executed partition count can
    * differ, so the heuristic may occasionally add a redundant
    * exchange or skip a useful one. Either way results are correct;
    * only parallelism can misfire, and only in the local small-file
    * regime the helper exists for (a deployment-scale scan splits
    * past `cores` before AQE ever matters). */
  // guard against the TARGET width, not the core count (self-review
  // r18): with the fan capped below defaultParallelism, a frame already
  // at-or-above the cap must not pay a full exchange to end up no wider
  // (or narrower) than it started.
  def fanOutIfNarrow(df: DataFrame, key: Column): DataFrame = {
    if (df.isStreaming) return df // no .rdd on unstarted streams; a
    // stream's parallelism is its source partitioning, not a file split
    val w = graft.sources.Tables.fanWidth(df.sparkSession)
    if (df.rdd.getNumPartitions >= w) df
    else df.repartition(w, key)
  }

  def fanOutIfNarrow(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val w = graft.sources.Tables.fanWidth(df.sparkSession)
    if (df.rdd.getNumPartitions >= w) df
    else df.repartition(w)
  }

  /** Release the block-manager blocks behind a localCheckpoint'd frame.
    * `DataFrame.unpersist` cannot reach them (the persistence lives on
    * the internal RDD inside the LogicalRDD node, not in the cache
    * manager), so a superseded iteration round would otherwise hold its
    * blocks until driver GC + ContextCleaner get around to it (ADVICE
    * r4). Only call on frames that are never used again: the lineage is
    * truncated, so dropped blocks are unrecoverable by design — Spark
    * logs a WARN saying exactly that, which is expected here, not a
    * defect: the superseded round is dead. */
  private[graft] def releaseCheckpointBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") on [[iterateCheckpointed]] — the LONG-CHAIN-SAFE
    * alternative to min-label propagation: propagation needs
    * O(diameter) rounds and the dedup operator deliberately fails
    * loudly past its cap (q45's contract); star contraction halves
    * path lengths every round, so ANY graph converges in O(log n)
    * rounds. Takes an edge frame with two long columns (`u`, `v`; each
    * undirected edge in either or both directions, self-loops
    * tolerated) and returns (node, label) for every NON-isolated node,
    * label = the component's minimum node id. Isolated nodes never
    * appear in an edge list — callers label them themselves (the q45
    * singleton rule).
    *
    * Per round, each phase is one partial-aggregatable min per node
    * plus one equi-join (large-star hangs every larger neighbor onto
    * the neighborhood minimum; small-star re-hangs the smaller
    * neighborhood onto its minimum) — \|E\|-row shuffles, keyed only,
    * no collect of neighbor lists, so a high-degree hub costs map-side
    * combines, not a straggler. Convergence = the symmetric edge set
    * is stable (cardinality match + one anti-join emptiness probe —
    * exact, no hash-collision risk); the fixpoint is a forest of stars
    * whose centers are component minima. */
  def connectedComponentsStar(edges: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // CONTRACT (ADVICE r17): symmetrize is the only producer of round
    // states and MUST return a duplicate-free frame (the .distinct()
    // below) — the convergence probe's count-equality + one-sided
    // anti-join is set equality ONLY over duplicate-free sets. An edit
    // that drops the distinct would let e.g. {e1,e1} vs {e1,e2} pass
    // both checks and converge on unequal sets.
    def symmetrize(df: DataFrame): DataFrame =
      df.filter($"u" =!= $"v")
        .select(explode(array(
          struct($"u", $"v"),
          struct($"v".as("u"), $"u".as("v")))).as("e"))
        .select($"e.u".as("u"), $"e.v".as("v"))
        // plain (u, v)-keyed distinct, DELIBERATELY not the u-keyed
        // dedup the descent round ships (r18 A/B): u-partitioning
        // would let the next round's min aggregations reuse the
        // exchange, but a contraction graph's per-u degree is
        // UNBOUNDED (every round hangs a component's nodes onto its
        // minimum — the hub is the algorithm's fixpoint shape), and
        // the measured skew straggler cost q132 +4.2 s. The keyed
        // trick is only sound where per-key cardinality is bounded
        // by construction (descent: ≤ (2k)²; routes: the frontier
        // bound).
        .distinct()
    def largeStar(nbrs: DataFrame): DataFrame = {
      val m = nbrs.groupBy($"u").agg(min($"v").as("mv"))
        .select($"u", least($"mv", $"u").as("m"))
      symmetrize(nbrs.filter($"v" > $"u").join(m, "u")
        .select($"v".as("u"), $"m".as("v")))
    }
    def smallStar(nbrs: DataFrame): DataFrame = {
      val down = nbrs.filter($"v" < $"u")
      val m = down.groupBy($"u").agg(min($"v").as("m"))
      symmetrize(
        down.join(m, "u").filter($"v" =!= $"m")
          .select($"v".as("u"), $"m".as("v"))
          .union(m.select($"u", $"m".as("v"))))
    }
    // |cur| was computed LAST round as |next| — carry it across rounds
    // instead of re-running a count job on the superseded frame every
    // round (r18: one fewer job — two fewer stages — per contraction
    // round, on every CC consumer: q105/q132/q199).
    var prevCount = -1L
    val (stars, _, converged) = iterateCheckpointed(
      symmetrize(edges.select($"u", $"v")), maxRounds,
      stopMaterializes = true) { (cur, _) =>
      smallStar(largeStar(cur))
    } { (cur, next) =>
      // set equality: both frames are DISTINCT edge sets (symmetrize
      // ends in .distinct() — see the CONTRACT above), so |next| =
      // |cur| ∧ next ∖ cur = ∅ ⟺ next = cur. One count over the
      // checkpoint-materialized frame (the previous round's is carried
      // in prevCount) plus ONE anti-join probe replace the former pair
      // of exceptAll passes (each exceptAll planned a full
      // count-bookkeeping aggregate over the union of both sides —
      // measured the dominant per-round cost of the contraction at
      // sf0.1).
      val nc = next.count()
      val cc = if (prevCount >= 0) prevCount else cur.count()
      prevCount = nc
      nc == cc && next.join(cur, Seq("u", "v"), "left_anti").isEmpty
    }
    require(converged,
      s"star contraction did not converge in $maxRounds rounds — " +
        "O(log n) rounds should need ~40 for any practical graph; " +
        "check the edge list for corruption")
    // fixpoint stars: every non-center node has exactly its center as
    // the smaller neighbor; centers (component minima) label themselves
    val nodes = stars.select($"u").distinct()
    nodes.join(
        stars.filter($"v" < $"u").groupBy($"u").agg(min($"v").as("l")),
        Seq("u"), "left")
      .select($"u".as("node"), coalesce($"l", $"u").as("label"))
  }

  /** Fixed-round lazy fold: compose `step` N times into ONE plan — no
    * checkpoint, no driver action, static DAG depth. The right
    * iteration shape when the round count is small and static (q97's
    * three PageRank rounds): the whole computation stays a single lazy
    * plan Catalyst sees end to end. Prefer [[iterateCheckpointed]]
    * when rounds are data-dependent, when a round needs a driver-side
    * parameter read, or when plan depth must stay constant per round. */
  def iterateRounds(init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init)((state, i) => step(state, i))

  /** Iterative driver loop over a DataFrame state — the shared shape of
    * label propagation (q45), BPE merge mining (q85/q101), and any
    * run-to-convergence operator (extracted from q45's loop, VERDICT
    * r5 #1). Each round:
    *
    *  1. `next = step(state, round)` — `step` may run bounded parameter
    *     actions against `state` (e.g. collect a 1-row top pair, the
    *     centroid-table idiom), which also materializes the previous
    *     round's lazy checkpoint;
    *  2. `next` is localCheckpoint'd, NOT merely persisted: checkpoint
    *     TRUNCATES lineage each round, so a block lost under memory
    *     pressure recomputes from the previous round's blocks instead
    *     of replaying the whole iteration plus its upstream mining
    *     chain — the one mechanism found (VERDICT r3) by which a
    *     contended run could inflate q45 5-8x. Checkpoint blocks are
    *     MEMORY_AND_DISK: under pressure they spill, never recompute.
    *     Eager unless `stopMaterializes` (where the stop() count — or
    *     the next round's parameter action — materializes it anyway,
    *     so the eager pass would be a second job). Exception: the
    *     FINAL round
    *     under `checkpointLast = false` returns `next` un-checkpointed
    *     and fully lazy — for fixed-round callers whose consumers are
    *     pure (q85's recount), leaving zero block-manager footprint;
    *  3. `stop(state, next)` decides convergence — the driver reads
    *     only counts, never row data;
    *  4. the superseded round's storage is released eagerly (unpersist
    *     + [[releaseCheckpointBlocks]]).
    *
    * Scale shape: the driver holds one round's state handle at a time;
    * all row data stays distributed, and per-round cost is whatever
    * `step` shuffles (for q45: one equi-join + one partial-aggregatable
    * min, \|V\|+\|E\| rows). Returns (finalState, roundsRun, stopped);
    * `stopped = false` means maxRounds elapsed without stop() — callers
    * wanting convergence should fail loudly rather than ship a
    * non-fixpoint (q45's contract); fixed-round callers pass a
    * constant-false stop.
    *
    * `stopMaterializes = true` declares that stop() itself runs an
    * action over `next` (q45's changed-count does), letting the
    * harness checkpoint lazily — one action per round instead of two.
    * Leave it false when stop() is a no-op (fixed-round callers): the
    * checkpoint is then EAGER, and its internal single-stage RDD count
    * is what truncates lineage before the superseded round is
    * released.
    *
    * Ownership: the harness persists `init` and drops that cache when
    * round 1 supersedes it, but never releases checkpoint BLOCKS found
    * inside `init` — they may back a shared artifact the caller still
    * needs (memoized tables are checkpoint- or cache-backed frames;
    * truncated lineage makes released blocks unrecoverable). */
  def iterateCheckpointed(init: DataFrame, maxRounds: Int,
      checkpointLast: Boolean = true, stopMaterializes: Boolean = false)(
      step: (DataFrame, Int) => DataFrame)(
      stop: (DataFrame, DataFrame) => Boolean): (DataFrame, Int, Boolean) = {
    require(maxRounds >= 1, "iterateCheckpointed needs at least one round")
    var state = init.persist()
    var rounds = 0
    var stopped = false
    while (!stopped && rounds < maxRounds) {
      val raw = step(state, rounds + 1)
      val lastLazy = rounds + 1 == maxRounds && !checkpointLast
      // materialize BEFORE releasing the superseded round: a lazy
      // checkpoint truncates next's lineage only at its first action —
      // until then next still computes THROUGH state, whose blocks may
      // be the truncated previous round's only source. Exactly one
      // action runs per round: the EAGER checkpoint's internal RDD
      // count (a single stage — cheaper than the former
      // DataFrame.count(), which planned a partial+final aggregate
      // pair per round), or stop()'s own when the caller declared it.
      val next =
        if (lastLazy) raw
        else raw.localCheckpoint(eager = !stopMaterializes)
      if (!lastLazy) {
        stopped = stop(state, next)
        // safe to drop eagerly now: next no longer references the
        // superseded round, and the frame is never touched again —
        // but round 1's state is the caller's init (see Ownership)
        state.unpersist()
        if (rounds > 0) releaseCheckpointBlocks(state)
      } else {
        stopped = stop(state, next)
        // final un-checkpointed round: next references state LAZILY,
        // so only the cache-level handle is dropped (safe — cached
        // plans recompute); checkpoint blocks, if state has them, must
        // outlive next — a caller discarding the returned frame
        // releases them via releaseCheckpointBlocks on it.
        state.unpersist()
      }
      state = next
      rounds += 1
    }
    (state, rounds, stopped)
  }
}
