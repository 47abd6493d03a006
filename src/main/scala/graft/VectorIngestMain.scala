package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The VECTOR-side nightly tick — [[IngestMain]]'s sibling for the
  * embedding modality: absorb tonight's delta vectors into the served
  * k-NN graph, DECISION-DRIVEN. Where IngestMain composes the text
  * gates (calibrated admission → LSH dedup → posting/chunk appends),
  * this composes the vector ones, and nothing here is a new
  * derivation:
  *
  *  1. decision — q141's drift scalars (Σ|drift| and max-cell ppm over
  *     the shared grid cells) against the graph family's thresholds,
  *     exactly q197's drift arm applied to the graph index (the
  *     recall gate does not apply: the graph has no trained-vs-seed
  *     quantizer pair — routing quality is q200's audit instead);
  *  2. admission — q192's compressed-domain near-dup gate
  *     ([[graft.streaming.StreamingQueries.sdcDedupStream]]'s
  *     stateless body on the batch): a delta vector within
  *     [[VectorIngestMain.SdcAdmitDist]] SDC units of a standing
  *     corpus code is already represented — inserting its adjacency
  *     would only add serving weight, so it is gated out (the recall
  *     lever, not a correctness claim — q192's documented contract);
  *  3. maintenance, per the verdict —
  *     `insert`: survivors route the PERSISTED corpus graph (q202's
  *     body) and their adjacency lands in `edges_delta/batch=0` with
  *     OVERWRITE (the idempotent-foreachBatch sink device — replays
  *     and crash-torn writes converge by rewriting the directory),
  *     forward rows plus their reverse twins (the bidirectional-link
  *     rows that make tonight's vectors searchable — see
  *     [[graft.streaming.StreamingQueries.graphInsertBatch]]);
  *     `rebuild`: a fresh descent over corpus ∪ survivors OVERWRITES
  *     `edges`, and `edges_delta` is retired with it (the absorbed
  *     delta would otherwise double-count) — the O(n) path the
  *     decision exists to ration.
  *
  * And it RECONCILES, integer-exact, before declaring success (the
  * IngestMain doctrine):
  *
  *  - every SDC-dup id is a delta id; |survivors| == |delta| − |dups|;
  *  - insert: edges_delta's forward rows hold ≤ k per survivor, every
  *    neighbor corpus-side, every routed id a survivor, and the
  *    reverse rows are the EXACT mirror of the forward set; survivors
  *    whose seed buckets hold no corpus member are COUNTED
  *    (`n_unrouted`), never papered over;
  *  - rebuild: edges read back ≤ k·(corpus+survivors) rows,
  *    edges_delta gone;
  *  - all counts are read BACK from storage, not trusted from the
  *    writer.
  *
  * Re-running the tick against the same out directory converges: the
  * standing `edges` table is reused via its `_SUCCESS` probe (the
  * ADVICE-r13 marker contract, [[IngestMain.committedProbe]]), and
  * both maintenance paths are overwrite-shaped. 100 TB: per-tick cost
  * is O(delta) lifts + bounded hop joins against stored adjacency —
  * the rebuild branch is the only corpus-sized path, which is
  * exactly what the drift decision rations. */
object VectorIngestMain {

  /** Graph-family reindex thresholds — read from q197's
    * [[graft.queries.VectorOps.ReindexPolicy]] `knn_graph` row, the
    * ONE place index-rebuild policy lives (VERDICT r14 #3: fresh
    * constants here silently diverged the tick from the report when
    * either changed). The row's `recall_gated = false` encodes the
    * tick's drift arm: while the serving-recall floor holds, the
    * tick's natural verdict is q197's graph-family verdict verbatim
    * (spec-pinned under exactly that precondition). A BREACHED
    * `recall_floor_ppm` forces rebuild regardless of drift — the one
    * sanctioned divergence from the report, because q197 is a
    * planning query over the corpus tables with no live index to
    * measure, while the tick gauges the index it maintains
    * (VERDICT r15 #6; q197 reports the floor column, the tick
    * enforces it). */
  private[graft] val (graphTv2ThresholdPpm, graphCellThresholdPpm,
      graphRecallFloorPpm) = {
    val (_, tv2, cell, gated, floor) =
      graft.queries.VectorOps.ReindexPolicy
        .find(_._1 == "knn_graph")
        .getOrElse(throw new IllegalStateException(
          "ReindexPolicy has no knn_graph row"))
    require(!gated, "the knn_graph policy row must be drift-only: the " +
      "graph family has no trained-vs-seed quantizer recall gate")
    require(floor > 0L, "the knn_graph policy row must carry a " +
      "serving-recall floor: drift alone cannot see a degraded index")
    (tv2, cell, floor)
  }

  /** q192's SDC admission distance (the StreamingSpec constant): a
    * compressed-domain match this close means "already represented". */
  private[graft] val SdcAdmitDist = 1500000L

  def runVectorIngest(spark: SparkSession, dir: String, outDir: String,
      forceVerdict: Option[String] = None): Seq[(String, Long)] = {
    import spark.implicits._
    import graft.queries.{KnnGraphOps, VectorOps}
    import graft.streaming.StreamingQueries

    val emb = graft.sources.Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding")
    val isDelta = substring(md5($"vec_id".cast("string")), 1, 2) < "1a"
    val corpus = emb.filter(!isDelta).persist()
    val delta = emb.filter(isDelta).persist()
    val nCorpus = corpus.count()
    val nDelta = delta.count()

    val committed = IngestMain.committedProbe(spark, "VectorIngestMain")
    val graphPath = s"$outDir/knn_graph"
    if (!committed(s"$graphPath/edges"))
      KnnGraphOps.knnGraphWriteIndexOf(corpus, graphPath)
    val edgesBefore = spark.read.parquet(s"$graphPath/edges").count()

    // ---- stage 1: the reindex decision (q197's drift arm, graph row)
    val d = VectorOps.embeddingDrift(spark, dir)
      .agg(sum($"drift_ppm").as("tv2"), max($"drift_ppm").as("mx"))
      .head() // bounded parameter read: two longs
    val tv2Ppm = d.getLong(0)
    val maxCellPpm = d.getLong(1)
    val driftExceeded = tv2Ppm > graphTv2ThresholdPpm ||
      maxCellPpm > graphCellThresholdPpm

    // ---- stage 1b: the serving-recall floor (VERDICT r15 #6):
    // q208's audit body measured against THE TICK'S OWN standing
    // index — mean hit@5 of fleet-routing the held-out queries, in
    // integer ppm. Drift watches what moved under the index; this
    // watches what the index still delivers — a degraded or torn
    // edges table (zero drift) only this gauge can see. The exact arm
    // is capped at the RecallSampleMod query sample (q200's device):
    // the full-fleet brute force is the registry audit's cost, not
    // one a nightly tick pays unconditionally. The result read is a
    // 1-row rollup.
    val fr = KnnGraphOps.graphFleetRecallIndexed(spark, dir, graphPath,
        sampleMod = KnnGraphOps.RecallSampleMod)
      .select($"n_queries", $"total_hits").head()
    val (frN, frHits) = (fr.getLong(0), fr.getLong(1))
    val recallPpm =
      if (frN == 0L) 1000000L else 1000000L * frHits / (5L * frN)
    val floorBreached = recallPpm < graphRecallFloorPpm
    val verdict = forceVerdict.getOrElse(
      if (driftExceeded || floorBreached) "rebuild" else "insert")
    require(verdict == "insert" || verdict == "rebuild",
      s"unknown verdict $verdict")

    // ---- stage 2: SDC admission (q192's stateless body on the batch)
    val dupIds = StreamingQueries
      .sdcDedupStream(delta, corpus, SdcAdmitDist)
      .select($"vec_id").distinct().persist()
    val nDup = dupIds.count()
    val strayDups = dupIds.join(delta.select($"vec_id"),
      Seq("vec_id"), "left_anti").count()
    val survivors = delta.join(dupIds, Seq("vec_id"), "left_anti")
      .persist()
    val nSurvivors = survivors.count()

    def check(cond: Boolean, msg: String): Unit =
      require(cond, s"vector-ingest reconciliation failed: $msg")
    check(strayDups == 0L, s"$strayDups SDC-dup ids are not delta ids")
    check(nSurvivors == nDelta - nDup,
      s"survivors $nSurvivors != delta $nDelta - dups $nDup")

    // ---- stage 3: maintenance per the verdict
    // through the Hadoop FileSystem, like the probe: on HDFS/S3 a
    // java.io.File check would never see edges_delta to retire it
    val deltaDir = new Path(s"$graphPath/edges_delta")
    val fs = deltaDir.getFileSystem(spark.sessionState.newHadoopConf())
    var appended = 0L
    var unrouted = 0L
    var rebuildRounds = 0L
    var rebuildConverged = 0L
    if (verdict == "insert") {
      appended = StreamingQueries.graphInsertBatch(
        survivors, corpus, graphPath, batchId = 0L)
      val landed = KnnGraphOps.readDeltaEdges(spark, graphPath)
        .persist()
      // the batch lands FORWARD rows (survivor → corpus, q202's
      // adjacency) plus their REVERSE twins (corpus → survivor, the
      // bidirectional-link rows that make tonight's vectors
      // SEARCHABLE before the next compaction) — reconciled apart
      val routed = landed.filter(!$"rev")
      val reverse = landed.filter($"rev")
      val routedRows = routed.count()
      val routedIds = routed.select($"vec_id").distinct()
      val strayRouted = routedIds.join(survivors.select($"vec_id"),
        Seq("vec_id"), "left_anti").count()
      val badNb = routed.select($"nb_id".as("vec_id"))
        .join(corpus.select($"vec_id"), Seq("vec_id"), "left_anti")
        .count()
      unrouted = survivors.select($"vec_id")
        .join(routedIds, Seq("vec_id"), "left_anti").count()
      val maxPerVec = if (routedRows == 0L) 0L
        else routed.groupBy($"vec_id").count()
          .agg(max($"count")).head().getLong(0)
      check(routedRows == appended,
        s"edges_delta holds $routedRows forward rows, writer reported " +
          s"$appended")
      check(strayRouted == 0L,
        s"$strayRouted routed ids are not survivors")
      check(badNb == 0L, s"$badNb neighbors are not corpus-side")
      check(maxPerVec <= KnnGraphOps.GraphK,
        s"a survivor holds $maxPerVec > k adjacency rows")
      // reverse rows are the EXACT mirror of the forward set — same
      // (pair, rank, sim) facts with endpoints swapped, nothing else
      val fwdKeyed = routed.select($"vec_id", $"nb_id", $"rank", $"sim")
      val revKeyed = reverse.select($"nb_id".as("vec_id"),
        $"vec_id".as("nb_id"), $"rank", $"sim")
      check(revKeyed.exceptAll(fwdKeyed).count() == 0L &&
        fwdKeyed.exceptAll(revKeyed).count() == 0L,
        "reverse rows are not the exact mirror of the forward set")
      landed.unpersist(blocking = false)
    } else {
      // rebuild: descent over corpus ∪ survivors overwrites the
      // standing edges; the absorbed delta's routed rows retire with
      // it (they would double-count beside the rebuilt adjacency).
      // The rebuild runs descent TO CONVERGENCE (VERDICT r15 #2) —
      // a tick that already decided to pay a full rebuild should buy
      // a converged graph, not the fixed audit budget — and the
      // report records what it spent.
      val (r, c) = KnnGraphOps.knnGraphWriteConvergedIndexOf(
        corpus.unionByName(survivors), graphPath)
      rebuildRounds = r
      rebuildConverged = if (c) 1L else 0L
      if (fs.exists(deltaDir)) fs.delete(deltaDir, true)
    }

    // ---- reconciliation against STORAGE
    val edgesAfter = spark.read.parquet(s"$graphPath/edges").count()
    val deltaRowsAfter =
      if (fs.exists(deltaDir))
        KnnGraphOps.readDeltaEdges(spark, graphPath)
          .filter(!col("rev")).count()
      else 0L
    if (verdict == "insert") {
      check(edgesAfter == edgesBefore,
        s"insert path must not touch edges: $edgesBefore -> $edgesAfter")
      check(deltaRowsAfter == appended,
        s"edges_delta forward rows $deltaRowsAfter != appended $appended")
    } else {
      check(deltaRowsAfter == 0L, "rebuild must retire edges_delta")
      check(edgesAfter <= KnnGraphOps.GraphK * (nCorpus + nSurvivors),
        s"rebuilt edges $edgesAfter exceed k*(corpus+survivors)")
      check(edgesAfter >= edgesBefore,
        s"rebuilt graph lost nodes: $edgesBefore -> $edgesAfter")
    }

    Seq(corpus, delta, dupIds, survivors)
      .foreach(_.unpersist(blocking = false))
    Seq("n_corpus" -> nCorpus, "n_delta" -> nDelta,
      "tv2_ppm" -> tv2Ppm, "max_cell_ppm" -> maxCellPpm,
      "verdict_rebuild" -> (if (verdict == "rebuild") 1L else 0L),
      "n_sdc_dupped" -> nDup, "n_survivors" -> nSurvivors,
      "edges_before" -> edgesBefore, "edges_after" -> edgesAfter,
      "delta_rows" -> deltaRowsAfter, "n_unrouted" -> unrouted,
      "rebuild_rounds" -> rebuildRounds,
      "rebuild_converged" -> rebuildConverged,
      "recall_ppm" -> recallPpm,
      "recall_floor_ppm" -> graphRecallFloorPpm,
      "recall_floor_breached" -> (if (floorBreached) 1L else 0L))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_vector_ingest_out")
    val spark = graft.LocalSession("graft-vector-ingest")
    val t0 = System.nanoTime()
    val counters = runVectorIngest(spark, sfDir, outDir)
    val wall = (System.nanoTime() - t0) / 1e9
    val body = counters.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString(",")
    println(s"""{"metric":"vector_ingest","wall_sec":${(math.rint(wall * 1000) / 1000).toString},"sf":"$sfDir","out":"$outDir",$body}""")
    spark.stop()
  }
}
