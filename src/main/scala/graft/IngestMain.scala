package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed SERVING-side ingest tick — [[PipelineMain]]'s sibling
  * for the nightly "absorb tonight's crawl" job. PipelineMain is the
  * full-corpus training-data build; this is the incremental path a
  * deployment actually runs between builds: the standing corpus is
  * FROZEN (its persisted indexes were written once), and the delta
  * batch flows through the shipped gates and index-maintenance bodies
  * VERBATIM — nothing here is a new derivation:
  *
  *  1. admission — the q148 calibrated per-source quality gate at the
  *     deployment shape: the persisted scorer model
  *     ([[graft.streaming.StreamingQueries.writeScorerModel]], frozen
  *     on the standing corpus at the full vocabulary cap) applied by
  *     [[graft.streaming.StreamingQueries.calibratedScorerJoined]]'s
  *     broadcast equi-join;
  *  2. near-dup — q172's `deltaDedupIndexed` against the persisted
  *     LSH band+shingle index (corpus text never re-read);
  *  3. novelty — q173's `noveltyScoreIndexed` against the persisted
  *     span-hash index;
  *  4. survivors (admitted ∧ not near-dup) are APPENDED to the
  *     posting and chunk serving indexes through the SAME batch
  *     bodies the streaming upserts run
  *     ([[graft.streaming.StreamingQueries.postingAppendBatch]] /
  *     `chunkAppendBatch` — manifest anti-join, postings-first crash
  *     order).
  *
  * And then it RECONCILES, integer-exact, before declaring success
  * (the PipelineMain doctrine applied to serving):
  *
  *  - the admission and novelty tables cover every delta doc exactly
  *    once; every near-dup `new_id` is a delta doc;
  *  - |survivors| == |admitted| − |admitted ∧ dupped| (set algebra on
  *    counts, with the overlap measured, not assumed);
  *  - posting rows grown == rows appended; manifest grown == novel
  *    docs appended; chunk rows grown == chunk rows appended (each
  *    read BACK from storage, not trusted from the writer);
  *  - the maintained posting index serves EXACTLY what a from-scratch
  *    rebuild over (corpus ∪ survivors) serves — the
  *    PostingIndexSpec rebuild-equality property, asserted here at
  *    the composed level on the live q89 query terms.
  *
  * Re-running the tick against the same out directory is a NO-OP on
  * the indexes (the manifest anti-join absorbs replays) — asserted in
  * IngestMainSpec, because an ingest job that double-indexes on retry
  * corrupts df and scores silently.
  *
  * 100 TB shape: per-tick cost is O(delta) lifts + keyed joins
  * against stored index tables (each audited under its own query's
  * PLANS.md row). Two pieces are corpus-sized and deliberately
  * outside that story: the one-time index build when the indexes
  * don't exist yet (at deployment, the prior batch job's output),
  * and the maintained-equals-rebuilt serving audit (`auditRebuild`,
  * default on — the periodic verification, not per-tick cost). */
object IngestMain {

  /** Runs the tick into `outDir`; returns the reconciliation counters
    * (insertion-ordered for the JSON dump). Throws if any invariant
    * fails. `auditRebuild` controls the maintained-equals-rebuilt
    * serving check, which is deliberately O(corpus) — a full
    * from-scratch posting build over (corpus ∪ survivors) — and
    * therefore NOT part of the O(delta) per-tick cost story: it is
    * the verification a deployment runs periodically or at test
    * scale (default on here; the gates and index appends themselves
    * stay O(delta)). */
  def runIngest(spark: SparkSession, dir: String,
      outDir: String, auditRebuild: Boolean = true): Seq[(String, Long)] = {
    import spark.implicits._
    import graft.queries.{DedupFusionOps, ServingIndexes, TextOps, VectorOps}
    import graft.streaming.StreamingQueries

    val all = graft.sources.Tables(spark, dir, "documents")
    val delta = all.filter(DedupFusionOps.isDeltaCol)
      .select($"doc_id", $"source", $"text").persist()
    val corpus = all.filter(!DedupFusionOps.isDeltaCol)
      .select($"doc_id", $"source", $"text")
    val nDelta = delta.count()
    val nCorpus = corpus.count()

    // ---- standing-corpus serving indexes. LSH + span are read-only
    // here — the shared once-per-JVM builds (already corpus-side by
    // construction). Posting + chunk get PRIVATE copies under outDir,
    // because this job MUTATES them; a pre-existing copy is reused
    // as-is (the replay/idempotency contract).
    val lshPath = ServingIndexes.lshIndex(spark, dir)
    val spanPath = ServingIndexes.spanIndex(spark, dir)
    val postingPath = s"$outDir/posting_index"
    val chunkPath = s"$outDir/chunk_index"
    // existence probes target the _SUCCESS marker INSIDE each build's
    // LAST-written artifact (the docs manifest; the .codebook sibling):
    // Spark creates the output directory before the job commits, so a
    // bare-directory probe would accept a crash-torn partial write —
    // the marker exists only after the commit, and both builders write
    // mode("overwrite"), so the retried rebuild cleans the debris
    // (ADVICE r13). The probes REQUIRE the committer to write markers
    // (`marksuccessfuljobs`, default true): with it off every tick
    // would silently rebuild from scratch — idempotent but O(corpus)
    // per tick — so fail loudly instead (ADVICE r14).
    require(spark.sessionState.newHadoopConf()
        .getBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true),
      "IngestMain's rebuild probes key on _SUCCESS markers; run the " +
        "ingest session with mapreduce.fileoutputcommitter." +
        "marksuccessfuljobs=true (the default)")
    if (!new java.io.File(s"$postingPath/docs/_SUCCESS").exists())
      TextOps.postingWriteIndexOf(corpus.select($"doc_id", $"text"),
        postingPath)
    if (!new java.io.File(s"$chunkPath.codebook/_SUCCESS").exists())
      VectorOps.chunkWriteIndexOf(corpus.select($"doc_id", $"text"),
        chunkPath)
    val postingsBefore = spark.read.parquet(s"$postingPath/postings").count()
    val manifestBefore = spark.read.parquet(s"$postingPath/docs").count()
    val chunksBefore = spark.read.parquet(chunkPath).count()

    // ---- stage 1: admission (q148's calibrated gate, frozen corpus)
    // at the DEPLOYMENT shape (VERDICT r13 #2): the scorer model is a
    // persisted artifact beside the other serving indexes — written
    // once at the full CalVocabCap, reused on replays via the same
    // _SUCCESS probe — and applied by calibratedScorerJoined's
    // broadcast equi-join, not the literal map (a ~131k-child
    // expression at this cap). Row-for-row equal to the literal form
    // (StreamingSpec asserts it); delta doc_ids are unique here, so
    // the joined form's per-doc rollup is the identity on row counts.
    val scorerModelPath = s"$outDir/scorer_model"
    if (!new java.io.File(s"$scorerModelPath/_SUCCESS").exists())
      StreamingQueries.writeScorerModel(corpus, scorerModelPath)
    val admission =
      StreamingQueries.calibratedScorerJoined(corpus, scorerModelPath)(delta)
      .persist()
    // ---- stage 2: near-dup vs corpus + earlier delta (q172's lift)
    val dupPairs = DedupFusionOps.deltaDedupIndexed(spark, dir, lshPath)
      .persist()
    // ---- stage 3: novelty vs the span-hash index (q173's lift)
    val novelty = DedupFusionOps.noveltyScoreIndexed(spark, dir, spanPath)
      .persist()

    // ---- policy: survivors = admitted ∧ not near-dup
    val dupped = dupPairs.select($"new_id".as("doc_id")).distinct()
      .persist()
    val admitted = admission.filter($"keep_calibrated" === 1L)
      .select($"doc_id")
    val survivors = admitted.join(dupped, Seq("doc_id"), "left_anti")
      .persist()
    val survivorDocs = delta.join(survivors, Seq("doc_id"))
      .select($"doc_id", $"text")

    // ---- stage 4: index maintenance, the streaming upserts' bodies
    val (novelAppended, postingsAppended) =
      StreamingQueries.postingAppendBatch(survivorDocs, postingPath)
    val chunksAppended =
      StreamingQueries.chunkAppendBatch(survivorDocs, chunkPath)

    // ---- artifacts: the tick's reports, one file each
    def writeOne(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    writeOne(admission, "admission")
    writeOne(dupPairs, "dup_pairs")
    writeOne(novelty, "novelty")
    writeOne(survivors, "survivors")

    // ---- reconciliation
    def check(cond: Boolean, msg: String): Unit =
      require(cond, s"ingest reconciliation failed: $msg")
    val nAdmission = admission.count()
    val nNovelty = novelty.count()
    val nAdmitted = admitted.count()
    val nDupped = dupped.count()
    val nAdmittedDupped = admitted.join(dupped, Seq("doc_id")).count()
    val nSurvivors = survivors.count()
    val strayDups = dupped.join(delta.select($"doc_id"),
      Seq("doc_id"), "left_anti").count()
    check(nAdmission == nDelta,
      s"admission covers $nAdmission of $nDelta delta docs")
    check(nNovelty == nDelta,
      s"novelty covers $nNovelty of $nDelta delta docs")
    check(strayDups == 0L, s"$strayDups dup new_ids are not delta docs")
    check(nSurvivors == nAdmitted - nAdmittedDupped,
      s"survivors $nSurvivors != admitted $nAdmitted - " +
        s"admitted-dupped $nAdmittedDupped")

    val postingsAfter = spark.read.parquet(s"$postingPath/postings").count()
    val manifestAfter = spark.read.parquet(s"$postingPath/docs").count()
    val chunksAfter = spark.read.parquet(chunkPath).count()
    check(postingsAfter == postingsBefore + postingsAppended,
      s"postings $postingsBefore + $postingsAppended != $postingsAfter")
    check(manifestAfter == manifestBefore + novelAppended,
      s"manifest $manifestBefore + $novelAppended != $manifestAfter")
    check(chunksAfter == chunksBefore + chunksAppended,
      s"chunk rows $chunksBefore + $chunksAppended != $chunksAfter")

    // ---- rebuild equality: the maintained posting index must serve
    // exactly what a from-scratch rebuild over (corpus ∪ survivors)
    // serves — a maintained index that drifts from its rebuild is
    // serving silently wrong df/scores. O(corpus) by design (see the
    // runIngest doc): the periodic audit, not per-tick cost.
    if (auditRebuild) {
      val rebuildPath = s"$outDir/posting_rebuild"
      TextOps.postingWriteIndexOf(
        corpus.select($"doc_id", $"text").unionByName(survivorDocs),
        rebuildPath)
      val servedMaintained = TextOps.bm25SearchIndexed(spark, postingPath)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
      val servedRebuilt = TextOps.bm25SearchIndexed(spark, rebuildPath)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
      check(servedMaintained == servedRebuilt,
        s"maintained index serves $servedMaintained, rebuild serves " +
          s"$servedRebuilt")
    }

    Seq(delta, admission, dupPairs, novelty, dupped, survivors)
      .foreach(_.unpersist(blocking = false))
    Seq("n_delta" -> nDelta, "n_corpus" -> nCorpus,
      "n_admitted" -> nAdmitted, "n_dupped" -> nDupped,
      "n_admitted_dupped" -> nAdmittedDupped,
      "n_survivors" -> nSurvivors,
      "postings_before" -> postingsBefore,
      "postings_appended" -> postingsAppended,
      "postings_after" -> postingsAfter,
      "manifest_after" -> manifestAfter,
      "chunks_before" -> chunksBefore,
      "chunks_appended" -> chunksAppended,
      "chunks_after" -> chunksAfter)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_ingest_out")
    val spark = graft.LocalSession("graft-ingest")
    val t0 = System.nanoTime()
    val counters = runIngest(spark, sfDir, outDir)
    val wall = (System.nanoTime() - t0) / 1e9
    val body = counters.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString(",")
    println(s"""{"metric":"ingest","wall_sec":${(math.rint(wall * 1000) / 1000).toString},"sf":"$sfDir","out":"$outDir",$body}""")
    spark.stop()
  }
}
