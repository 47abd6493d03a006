package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.reference.TransitFunctions

/** Structured Streaming forms of the reference's streaming queries
  * (SURVEY.md §2.12) plus a stateful sessionizer. Each transform takes
  * an already-lifted DataFrame (see graft.sources.TopicSource) so the
  * same body runs over Kafka, files, or MemoryStream.
  *
  * Output-mode contract mirrors the reference:
  *  - bike shelters: complete mode re-emission with sink-side top-k
  *    (`src/bike_consumer.py:141-146`); the global-sort-in-complete-mode
  *    pairing is preserved, and the 100 TB-safe append variant is the
  *    same agg consumed without the global sort (SURVEY §7.4.3).
  *  - bus positions: append + foreachBatch (`src/naolib_consumer.py:159-162`).
  *  - wind (legacy): append console (`src/previous_tp_code.py:231-236`).
  */
object StreamingQueries {

  /** Q4 streaming core: 10 s watermark, 1-minute tumbling window,
    * triple average + occupancy bar (`src/bike_consumer.py:92-131`). */
  def bikeShelterAgg(parsed: DataFrame): DataFrame = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed
      .withColumn("bikes", $"available_bikes".cast("int"))
      .withColumn("free_stands", $"available_bike_stands".cast("int"))
      .withColumn("last_ts",
        to_timestamp($"last_update", "yyyy-MM-dd'T'HH:mm:ssXXX"))
      .withWatermark("last_ts", "10 seconds")
      .groupBy($"name", $"address", window($"last_ts", "1 minute").as("w"))
      .agg(avg($"bikes").as("ab"), avg($"free_stands").as("af"),
        max($"bike_stands").as("st"),
        min($"position.lat").as("lat"), min($"position.lon").as("lon"))
      .select($"name", $"address", $"w.start".as("window_start"),
        $"w.end".as("window_end"),
        $"ab", $"af", $"st", $"lat", $"lon",
        TransitFunctions.occupancyBar($"ab", $"st", $"af").as("bar"))
  }

  /** Per-micro-batch geo top-k — runs inside foreachBatch where the
    * frame is a bounded DataFrame, exactly where the reference put its
    * driver-side work (`src/naolib_consumer.py:119-157`). */
  def nearestK(batch: DataFrame, qLat: Double, qLon: Double, k: Int): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    graft.operators.Operators.topKPerGroup(
      batch.withColumn("dist", TransitFunctions.haversineMeters(
        $"lat", $"lon", lit(qLat), lit(qLon))),
      Seq($"window_start"), Seq($"dist".asc), $"name".asc, k)
  }

  /** Q3 streaming core: 1-minute watermark + tumbling window, ONE
    * stateful aggregation (collect_list), then the same columnar
    * position inference as the batch query — multi-phase streaming
    * aggregation is illegal, which is why the inference reduces the
    * raw reading array instead of pre-aggregating per stop. */
  def busPositions(parsed: DataFrame, route: Seq[String]): DataFrame = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed
      .filter($"tempsReel" === "true")
      .withColumn("minutes", TransitFunctions.minutesFromTemps($"temps"))
      .withColumn("created_ts", to_timestamp($"created_at"))
      .withWatermark("created_ts", "1 minute")
      .groupBy(window($"created_ts", "1 minute").as("w"), $"sens")
      .agg(collect_list(struct($"stop", $"minutes")).as("rd"))
      .withColumn("r",
        when($"sens" === 1, typedlit(route)).otherwise(typedlit(route.reverse)))
      .withColumn("waits", TransitFunctions.waitsExpr)
      .withColumn("pos", TransitFunctions.positionsExpr)
      .select($"w.start".as("window_start"), $"sens", explode($"pos").as("p"))
      .select($"window_start", $"sens", $"p.location".as("location"),
        $"p.at_stop".as("at_stop"))
  }

  /** Legacy wind pipeline: 5-min watermark, event-time dedup on
    * entry_id, 5-min tumbling average
    * (`src/previous_tp_code.py:191-240`; the dead `data.wind_speed`
    * filter is implemented as intended — SURVEY §2.4). */
  def windRollingAvg(parsed: DataFrame): DataFrame = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed
      .withColumn("created_ts", to_timestamp($"created_at"))
      .withColumn("speed", expr("try_cast(wind_speed AS double)"))
      .filter($"speed".isNotNull)
      .withWatermark("created_ts", "5 minutes")
      .dropDuplicatesWithinWatermark("entry_id")
      .groupBy(window($"created_ts", "5 minutes").as("w"))
      .agg(avg($"speed").as("avg_wind_speed"), count(lit(1)).as("n"))
      .select($"w.start".as("window_start"), $"avg_wind_speed", $"n")
  }

  /** Streaming twin of the q40 exact dedup
    * ([[graft.queries.DedupOps.exactDedup]]): identical normalize→md5
    * fingerprint, survivors chosen by `dropDuplicatesWithinWatermark` —
    * dedup state is BOUNDED by the watermark delay (a fingerprint is
    * held only while a duplicate could still arrive), which is the
    * contract that lets exact dedup run on a continuous 100 TB ingest
    * where batch dedup would need the full corpus per run. Batch keeps
    * the MINIMUM doc_id per fingerprint; the stream keeps the
    * FIRST-ARRIVING doc — the same row whenever arrival order follows
    * doc_id (StreamingSpec feeds it so and asserts stream == batch). */
  def exactDedupStream(docs: DataFrame, eventTime: String = "ingest_ts",
      delay: String = "10 seconds"): DataFrame =
    docs
      .withColumn("fingerprint",
        graft.queries.DedupOps.fingerprintExpr(col("text")))
      .withWatermark(eventTime, delay)
      .dropDuplicatesWithinWatermark("fingerprint")
      .select(col("doc_id"), col("fingerprint"))

  /** Ingest-time near-dup flagging: each arriving document is checked
    * against the STATIC historical corpus through the same MinHash/LSH
    * banding as batch q42 — shingle+minhash the stream (stateless
    * expressions), equi-join band keys against the corpus's band-key
    * index (a stream-static join: no state, the static side is the
    * 100 TB-scale artifact a deployment keeps bucketed on band_key),
    * then verify candidates by exact shingle Jaccard against the static
    * shingle table. Band collisions produce the same (doc, corpus-doc)
    * pair once per matching band; `dropDuplicatesWithinWatermark`
    * bounds the dedup state by the watermark delay. Emits
    * (doc_id, b_id, jaccard) for every stream doc whose J ≥ 0.5 with a
    * corpus doc — StreamingSpec proves stream == batch pair mining on
    * re-ingested corpus docs. */
  def nearDupFlagStream(docs: DataFrame, corpus: DataFrame,
      eventTime: String = "ingest_ts",
      delay: String = "10 seconds"): DataFrame = {
    import graft.queries.DedupOps
    val corpusLift = DedupOps.withShinglesAndMinhash(
      corpus.select(col("doc_id"), col("text")))
    // persist the static index sides: without it EVERY micro-batch
    // re-scans and re-minhashes the whole corpus — twice (band and
    // shingle branches are separate lineages). These cached frames are
    // the in-session stand-in for the band-key/shingle tables a
    // deployment writes to storage once; blocks are reclaimed when the
    // caller's session drops them (or unpersist explicitly for
    // long-lived JVMs).
    val corpusBands = DedupOps.explodeBandKeys(corpusLift)
      .select(col("doc_id").as("b_id"), col("band_key")).persist()
    val corpusShingles = corpusLift
      .select(col("doc_id").as("b_id"), col("sh").as("b_sh")).persist()
    val streamBands = DedupOps.explodeBandKeys(
        DedupOps.withShinglesAndMinhash(docs.withWatermark(eventTime, delay)))
      .select(col("doc_id"), col(eventTime), col("sh"), col("band_key"))
    streamBands
      .join(corpusBands, "band_key")
      .filter(col("doc_id") =!= col("b_id"))
      .join(corpusShingles, "b_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh"), col("b_sh"))).cast("double") /
          size(array_union(col("sh"), col("b_sh"))))
      .filter(col("jaccard") >= 0.5)
      .dropDuplicatesWithinWatermark("doc_id", "b_id")
      .select(col("doc_id"), col("b_id"), col("jaccard"))
  }

  /** Ingest-time duplicated-SPAN flagging — the streaming twin of the
    * q73 sub-document report: each arriving document's 8-token windows
    * are checked against the STATIC corpus's duplicated-window set
    * (the q73 artifact; at deployment scale, the narrow window-hash
    * table on disk) via the same stateless
    * [[graft.queries.DedupOps.spanWindows]] lift as batch, a
    * stream-static equi-join on gram, and a watermark-bounded dedup so
    * each (doc, window) hit emits once. Complements
    * [[nearDupFlagStream]] (whole-document similarity) at the finer
    * granularity: a document that is globally novel but embeds a known
    * boilerplate/benchmark span is flagged here, not there. Emits
    * (doc_id, gram). */
  def spanFlagStream(docs: DataFrame, corpus: DataFrame, k: Int = 8,
      eventTime: String = "ingest_ts",
      delay: String = "10 seconds"): DataFrame = {
    import graft.queries.DedupOps
    // static index persisted for the same reason as the near-dup
    // flagger's band index: micro-batches must not re-mine the corpus
    val dupIndex = DedupOps.dupNgramsOf(corpus, k)
      .select(col("gram")).persist()
    DedupOps.spanWindows(docs.withWatermark(eventTime, delay), k,
        extra = Seq(eventTime))
      .join(dupIndex, "gram")
      .dropDuplicatesWithinWatermark("doc_id", "gram")
      .select(col("doc_id"), col("gram"))
  }

  /** Ingest-time semantic DECONTAMINATION — the streaming twin of
    * q126, in the shape it deploys: the eval side is a STATIC index
    * (vectors + grid cells + lifted norms, materialized once via the
    * shared [[graft.queries.VectorOps.deconEvalIndexOf]] lift and
    * persisted here as its in-session stand-in), and every arriving
    * document vectorizes ROW-LOCALLY ([[graft.queries.VectorOps
    * .rowDocVector]] — the two batch groupBys collapse to a columnar
    * count, so no streaming aggregation state at all), takes its grid
    * cell from the same stateless argmin expression, and probes the
    * index by stream-static equi-join on cell. The only stateful
    * operator is the watermark-bounded once-per-doc dedup of the
    * verdict. Emits flagged doc_ids — a contaminated document is
    * named at INGEST time, before it ever reaches a training shard,
    * rather than by the nightly batch sweep. */
  def deconFlagStream(docs: DataFrame, corpus: DataFrame,
      eventTime: String = "ingest_ts",
      delay: String = "10 seconds"): DataFrame = {
    import graft.queries.VectorOps
    val evalIdx = VectorOps.deconEvalIndexOf(corpus).persist()
    docs.withWatermark(eventTime, delay)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col(eventTime),
        VectorOps.rowDocVector(col("text")).as("embedding"))
      .withColumn("cell",
        graft.functions.VectorExpressions.nearestIndex(
          col("embedding"), VectorOps.ivfGridCentroids(), 0,
          VectorOps.QuantScale))
      .withColumn("nrm",
        graft.functions.VectorExpressions.fvecDot(
          col("embedding"), col("embedding")))
      .join(evalIdx, "cell")
      .filter(col("doc_id") =!= col("e_id") &&
        VectorOps.deconHit(col("embedding"), col("e_emb"),
          col("nrm"), col("e_nrm")))
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"))
  }

  /** Ingest-time training-corpus admission — the streaming twin of the
    * q64 end artifact: arriving documents pass the SAME quality gates
    * (the shared [[graft.queries.PipelineOps.qualityGate]] lift, so
    * batch and stream cannot drift) and then exact-dedup within the
    * watermark on the q40 fingerprint. Gates run FIRST: they are
    * stateless and map-side, so rejected documents never enter dedup
    * state — on a continuous 100 TB ingest the stateful operator only
    * holds fingerprints of admissible documents, and only for the
    * watermark delay. Batch keeps the minimum doc_id per fingerprint;
    * the stream keeps the first-arriving doc (same row when arrival
    * follows doc_id — the equivalence StreamingSpec asserts). Emits
    * (doc_id, n_tokens), q64's schema. */
  def trainingIngestStream(docs: DataFrame,
      eventTime: String = "ingest_ts",
      delay: String = "10 seconds"): DataFrame =
    graft.queries.PipelineOps.qualityGate(docs.withWatermark(eventTime, delay))
      .withColumn("fingerprint",
        graft.queries.DedupOps.fingerprintExpr(col("text")))
      .dropDuplicatesWithinWatermark("fingerprint")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))

  /** Ingest-time posting maintenance — the streaming twin of q87's
    * inverted-index build. Per-(term, doc) statistics (tf, first_pos)
    * depend on ONE document, so the stream computes them map-side with
    * higher-order functions — no shuffle, no state store, no
    * watermark: each arriving document appends its posting rows to the
    * index, exactly how segment-based IR systems ingest. df is
    * deliberately absent: it is a corpus-global statistic, maintained
    * as a batch rollup over the posting table (q87's vocab-sized
    * aggregate) — merging segment-local stats into global df is the
    * standard split. The per-doc HOF recount is O(distinct·n) per
    * document versus the batch explode's O(n); acceptable off the
    * batch path, where the partial-aggregatable explode form stays.
    * Emits (term, doc_id, tf, first_pos), q87's schema minus df
    * (stream==batch asserted in StreamingSpec). */
  def postingStream(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), expr(
        """explode(transform(
          |  array_distinct(filter(split(text, ' '), t -> t != '')),
          |  term -> struct(
          |    term AS term,
          |    CAST(size(filter(split(text, ' '), t -> t = term)) AS BIGINT)
          |      AS tf,
          |    CAST(array_position(split(text, ' '), term) - 1 AS BIGINT)
          |      AS first_pos)))""".stripMargin).as("p"))
      .select(col("p.term").as("term"), col("doc_id"),
        col("p.tf").as("tf"), col("p.first_pos").as("first_pos"))

  /** Ingest-time PII redaction — the streaming twin of q86's privacy
    * pass: the SAME [[graft.queries.PipelineOps.piiProjection]] lift
    * (detection counts + sentinel redaction) applied map-side to
    * arriving documents, the shape a privacy gate runs BEFORE anything
    * persists raw text. Stateless — no watermark, no state store — so
    * on a continuous 100 TB ingest it adds only per-row regex cost.
    * NULL-text docs are dropped (scoreStream's contract: batch q86
    * synthesizes its corpus so never sees NULL; a stream must decide).
    * Emits (doc_id, n_emails, n_phones, n_ips, redacted), q86's
    * schema. */
  def redactStream(docs: DataFrame): DataFrame =
    graft.queries.PipelineOps.piiProjection(
      docs.filter(col("text").isNotNull), col("text"))

  /** Ingest-time quality scoring — the streaming twin of q72's
    * linear-classifier inference: the SAME md5-derived weight vector
    * applied as a stateless per-row token fold
    * ([[graft.queries.PipelineOps.scoreExpr]] — additive scores make
    * the fold equal the batch join+aggregate form exactly; asserted
    * stream == batch). No state, no watermark: at ingest every
    * arriving document gets its score and admit decision map-side,
    * which is the shape a gating classifier runs in front of the
    * stateful admission pipeline. Emits (doc_id, score, admit),
    * q72's schema. */
  def scoreStream(docs: DataFrame): DataFrame =
    // NULL-text docs are DROPPED, mirroring batch q72's absence (its
    // explode of a null token array emits no rows) — without the
    // filter the fold would emit a (doc_id, NULL, 0) row and break the
    // stream==batch contract (the q70 review lesson)
    docs.filter(col("text").isNotNull)
      // two-step select so the non-cheap fold is named before the
      // admit projection references it — CollapseProject keeps single
      // evaluation for non-cheap expressions referenced twice
      .select(col("doc_id"),
        graft.queries.PipelineOps.scoreExpr(col("text")).as("score"))
      .select(col("doc_id"), col("score"),
        when(col("score") > 0, 1L).otherwise(0L).as("admit"))

  /** Ingest-time CALIBRATED quality gate — the streaming twin of
    * q148: every arriving document gets its q82 unigram score, its
    * integer percentile within ITS SOURCE's standing-corpus score
    * distribution, and the calibrated bottom-30% drop decision —
    * stateless, per-row, the shape a per-source-fair admission gate
    * runs at ingest (a single global threshold would over-prune
    * whichever source scores low corpus-wide).
    *
    * Parameters, all read once from the standing corpus via the SAME
    * batch lifts (anti-drift): the trained unigram LM — capped at the
    * [[CalVocabCap]] highest-mass terms (ties by term), the standard
    * LM vocabulary cut, so the driver-side parameter is BOUNDED at any
    * corpus size (VERDICT r11 #5: the uncapped collect was the
    * codebase's one unbounded-driver-state instance — a 100 TB corpus
    * has tens of millions of terms; its top-64Ki by mass is the model,
    * and out-of-vocab terms score exactly like the unseen terms the
    * q82 join semantics already exclude) — and the per-source score
    * histograms ([[graft.queries.TextOps.sourceBinHistOf]] — genuinely
    * bounded: sources × score bins). Scoring mirrors batch q82
    * exactly whenever the corpus vocabulary fits the cap (every test
    * corpus does): tokens absent from the model are excluded from
    * both the count and the sum (the batch inner join's semantics),
    * NULL text scores 0 and stays a row. A source the corpus has
    * never seen cannot be calibrated: src_pct is NULL and the gate
    * fails closed (keep_calibrated = 0).
    *
    * For documents the standing corpus contains, output rows equal
    * batch q148's verbatim — asserted in StreamingSpec. */
  def calibratedScoreStream(docs: DataFrame, corpus: DataFrame): DataFrame =
    calibratedScorer(corpus)(docs)

  /** The calibrated-gate TRANSFORM with its corpus parameters hoisted:
    * derives the frozen parameter tables once and returns the
    * stateless per-row scorer — so a caller that gates every
    * micro-batch ([[admissionStream]]) pays the corpus read once, not
    * per batch. [[calibratedScoreStream]] is this applied directly. */
  /** The deployed LM's vocabulary size: the scorer's driver-side
    * parameter is the top-[[CalVocabCap]] terms by corpus mass, never
    * the raw vocabulary (unbounded at corpus scale). */
  val CalVocabCap = 65536

  /** The vocabulary size at which the hoisted literal map stops being
    * the right serving shape: a `map(...)` literal carries 2·cap
    * child expressions through analysis and `element_at` probes its
    * ArrayBasedMapData LINEARLY per token — fine to ~this many
    * entries, a ~131k-node expression with O(cap)-per-token probes at
    * the full [[CalVocabCap]] (VERDICT r12 #4). Above it, deploy
    * [[writeScorerModel]] + [[calibratedScorerJoined]]: the model
    * becomes a persisted table joined by broadcast hash (O(1) probes,
    * zero plan weight) — the posting-index precedent. */
  val CalVocabLiteralCap = 4096

  /** The calibration parameter literals (per-source histogram + total
    * maps) — GENUINELY bounded (sources × score bins), shared by both
    * scorer forms. */
  private def calibrationParams(corpus: DataFrame): (Column, Column) = {
    val hist = graft.queries.TextOps.sourceBinHistOf(corpus)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val histMap = map(hist.groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (src, rows) =>
        Seq(lit(src), array(rows.sortBy(_._2).map { case (_, b, c) =>
          struct(lit(b).as("b"), lit(c).as("c")) }.toIndexedSeq: _*))
      }: _*)
    val totMap = map(hist.groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (src, rows) =>
        Seq(lit(src), lit(rows.map(_._3).sum)) }: _*)
    (histMap, totMap)
  }

  /** The gate's calibration back half over a (doc_id, source, score)
    * frame — percentile within the frozen per-source histogram and
    * the keep decision, stateless per row. One definition serves the
    * literal-map and model-join scorer forms. */
  private def calibrationTail(histMap: Column, totMap: Column)(
      scored: DataFrame): DataFrame =
    scored
      .withColumn("bin",
        expr(s"score div ${graft.queries.TextOps.CurrBinW}"))
      .withColumn("cum", aggregate(
        element_at(histMap, col("source")), lit(0L),
        (acc, x) => acc + when(x("b") <= col("bin"), x("c"))
          .otherwise(lit(0L))))
      .withColumn("n_src", element_at(totMap, col("source")))
      .select(col("doc_id"), col("source"), col("score"),
        expr("CAST((100 * cum) div n_src AS BIGINT)").as("src_pct"))
      .withColumn("keep_calibrated",
        when(col("src_pct") > graft.queries.TextOps.CalPctCut, 1L)
          .otherwise(0L))

  def calibratedScorer(corpus: DataFrame,
      vocabCap: Int = CalVocabCap): DataFrame => DataFrame = {
    // model: term → corpus frequency, top-vocabCap by mass (ties by
    // term asc — deterministic). TakeOrderedAndProject, so the read
    // is bounded regardless of corpus vocabulary.
    val freq = corpus
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("t").asc).limit(vocabCap)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val freqMap = map(freq.toIndexedSeq.flatMap { case (t, f) =>
      Seq(lit(t), lit(f)) }: _*)
    val (histMap, totMap) = calibrationParams(corpus)
    (docs: DataFrame) => calibrationTail(histMap, totMap)(docs
      .withColumn("tk", filter(
        split(coalesce(col("text"), lit("")), " "),
        t => t =!= "" && element_at(freqMap, t).isNotNull))
      .select(col("doc_id"), col("source"),
        size(col("tk")).cast("long").as("n"),
        aggregate(col("tk"), lit(0L),
          (acc, t) => acc + element_at(freqMap, t)).as("sf"))
      .select(col("doc_id"), col("source"),
        expr("CAST(IF(n = 0, 0, sf * 1000000 div n) AS BIGINT)")
          .as("score")))
  }

  /** Persist the scorer's model as a physical artifact: the
    * top-`vocabCap`-by-mass (term, f) table, the same
    * TakeOrderedAndProject cut [[calibratedScorer]] hoists — written
    * once beside the serving indexes, read by
    * [[calibratedScorerJoined]]. */
  def writeScorerModel(corpus: DataFrame, path: String,
      vocabCap: Int = CalVocabCap): Unit =
    corpus
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("term").asc).limit(vocabCap)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** The calibrated gate at DEPLOYMENT cap (VERDICT r12 #4): the
    * model comes from [[writeScorerModel]]'s persisted table and is
    * applied by a broadcast equi-join + per-doc rollup — above
    * [[CalVocabLiteralCap]] this replaces the literal map, whose
    * linear per-token probe and 2·cap-child expression tree are
    * test-scale conveniences, not a serving shape. Join semantics
    * mirror the literal form exactly: out-of-model tokens leave both
    * the count and the sum (inner join), a document with NO in-model
    * tokens scores 0 via the left restore join, NULL text scores 0
    * and stays a row. The per-doc rollup makes this the
    * foreachBatch / batch-body form (the posting-append precedent) —
    * inside a pure append stream it would be a second stateful
    * aggregate; the literal form remains the per-row streaming twin.
    * Output rows equal [[calibratedScorer]]'s verbatim at equal cap —
    * StreamingSpec asserts both forms against each other and batch
    * q148. One edge the equality excludes (ADVICE r13): DUPLICATE
    * doc_ids within a single batch collapse to one output row here
    * (the per-doc rollup) while the literal form emits one row per
    * input row — an at-least-once replay landing the same doc_id
    * twice in one foreachBatch batch must dedup per batch first or
    * accept the collapse. */
  def calibratedScorerJoined(corpus: DataFrame,
      modelPath: String): DataFrame => DataFrame = {
    val spark = corpus.sparkSession
    val (histMap, totMap) = calibrationParams(corpus)
    (docs: DataFrame) => {
      val model = spark.read.parquet(modelPath)
      val toks = docs
        .select(col("doc_id"),
          explode(split(coalesce(col("text"), lit("")), " ")).as("t"))
        .filter(col("t") =!= "")
      val agg = toks
        .join(broadcast(model), toks("t") === model("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"), sum(col("f")).as("sf"))
      calibrationTail(histMap, totMap)(docs
        .select(col("doc_id"), col("source"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          expr("CAST(IF(COALESCE(n, 0) = 0, 0, sf * 1000000 div n) " +
            "AS BIGINT)").as("score")))
    }
  }

  /** Ingest-time TRAINED-MODEL gate — the serving side of q177: the
    * perceptron trained on the standing corpus
    * ([[graft.queries.PipelineOps.perceptronTrainOf]], the same lift
    * the oracle checks) scores every arriving document statelessly —
    * margin is additive over tokens (Σ w[dim(token)] + bias), so the
    * per-row fold equals the batch featureHash-join-aggregate exactly
    * (stream == batch asserted in StreamingSpec). This closes the
    * train→serve loop AT INGEST: q177 trains, this deploys — the
    * fastText-style gate shape, with a genuinely trained 65-long
    * parameter vector instead of q72's md5 stand-ins. NULL text
    * scores the bare bias and stays a row (the batch restore-join's
    * no-feature semantics). */
  def perceptronScoreStream(docs: DataFrame, corpus: DataFrame): DataFrame =
    perceptronScorer(corpus)(docs)

  /** The trained-gate TRANSFORM with its model hoisted — the
    * [[calibratedScorer]] split, for per-batch reuse. */
  def perceptronScorer(corpus: DataFrame): DataFrame => DataFrame = {
    val w = graft.queries.PipelineOps.trainedPerceptronOf(corpus)
    val wLit = typedLit(w.dropRight(1)) // token dims 0..63
    val bias = w.last
    (docs: DataFrame) => docs
      .select(col("doc_id"),
        aggregate(
          coalesce(split(col("text"), " "), typedLit(Seq.empty[String])),
          lit(bias),
          (acc, t) => acc + element_at(wLit,
            (graft.queries.PipelineOps.md5PrefixLong(t, 8) % 64 + 1)
              .cast("int")))
          .as("margin"))
      .select(col("doc_id"), col("margin"),
        when(col("margin") > 0, 1L).otherwise(0L).as("admit"))
  }

  /** Ingest-time DSIR gate — the streaming twin of q151: every
    * arriving document gets its importance score (how target-like its
    * hashed-bigram features are) and admit decision map-side, the
    * shape data selection runs in front of an ingest pipeline. The
    * weight table is a COMPLETE [[graft.queries.PipelineOps.DsirDims]]-
    * entry parameter derived from the standing corpus via the SAME
    * counting lift as batch q151 (dims the corpus never produced get
    * the pure-smoothing weight, so a genuinely novel phrase pattern
    * scores neutral-by-prior rather than crashing the lookup).
    * Stateless — no watermark, no state store; for corpus documents
    * the emitted rows equal batch q151's verbatim (asserted in
    * StreamingSpec). NULL/short texts are zero-feature rows with score
    * 0, batch's restore-join semantics. */
  def dsirStream(docs: DataFrame, corpus: DataFrame): DataFrame =
    dsirScorer(corpus)(docs)

  /** The DSIR gate TRANSFORM with its corpus weight table hoisted —
    * same split as [[calibratedScorer]], for the same per-batch
    * reuse. */
  def dsirScorer(corpus: DataFrame): DataFrame => DataFrame = {
    import graft.queries.PipelineOps
    val nDims = PipelineOps.DsirDims.toInt
    val ct = PipelineOps.dsirFeatures(corpus)
      .groupBy(col("dim")).agg(
        sum(when(col("bench"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("bench"), 0L).otherwise(1L)).as("nr"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val st = ct.values.map(_._1).sum + nDims
    val sr = ct.values.map(_._2).sum + nDims
    def wppm(d: Long): Long = {
      val (nt, nr) = ct.getOrElse(d, (0L, 0L))
      1000000L * (nt + 1) * sr / ((nr + 1) * st)
    }
    val wMap = map((0L until nDims.toLong).flatMap(d =>
      Seq(lit(d), lit(wppm(d)))): _*)
    (docs: DataFrame) => docs
      .withColumn("tk", split(coalesce(col("text"), lit("")), " "))
      .withColumn("grams", when(size(col("tk")) >= 2, expr(
        "transform(sequence(1, size(tk) - 1), " +
          "i -> concat(tk[i-1], ' ', tk[i]))"))
        .otherwise(array().cast("array<string>")))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_feats"),
        aggregate(col("grams"), lit(0L), (acc, g) => acc +
          element_at(wMap,
            PipelineOps.md5PrefixLong(g, 8) % PipelineOps.DsirDims))
          .as("sw"))
      .select(col("doc_id"), col("n_feats"),
        expr("CAST(IF(n_feats = 0, 0, sw div n_feats) AS BIGINT)")
          .as("dsir_ppm"))
      .withColumn("keep_dsir",
        expr("CAST(IF(dsir_ppm > 1000000, 1, 0) AS BIGINT)"))
  }

  /** Streaming ANN-index maintenance: arriving embedding rows get their
    * grid cell and packed PQ code from the SAME native-expression lifts
    * as the batch index build ([[graft.queries.VectorOps.annIndexTable]])
    * — stateless, no watermark or state store, so a deployment appends
    * (vec_id, cell, code) to the cell-partitioned index table as
    * vectors arrive instead of rebuilding it in batch. Quantizers are
    * parameters (md5-derived), so stream and batch assignments are
    * bit-identical — asserted stream == batch in StreamingSpec. */
  def annIndexStream(vectors: DataFrame): DataFrame = {
    import graft.queries.VectorOps
    VectorOps.withPqCode(VectorOps.withGridCell(vectors))
      .select(col("vec_id"), col("cell"), col("code"))
  }

  /** Ingest-time ADMISSION — the deployment form of the q155 decision
    * matrix: ONE decision row per arriving document, all five gate
    * signals computed per micro-batch against FROZEN standing-corpus
    * artifacts (band/shingle index, benchmark 8-gram set, calibration
    * histograms, DSIR weight table — each derived once via the SAME
    * batch lifts, the anti-drift rule of every twin here). foreachBatch
    * because the decision composes joins and per-doc rollups the
    * single-pass streaming operators can't express — the
    * [[postingUpsertStream]] precedent.
    *
    * Semantics vs batch q155, per arm:
    *  - `passes_quality`, `keep_calibrated`, `keep_dsir`: stateless
    *    per-row gates under frozen parameters — EQUAL to batch rows for
    *    standing-corpus documents (each arm's own twin spec pins this).
    *  - `decon_ok`: the arriving non-bench document shares an 8-gram
    *    with the corpus's benchmark slice — batch q93's relation
    *    against the frozen bench-gram set.
    *  - `is_survivor`: an arriving document that near-dup-collides
    *    (jaccard ≥ 0.5 via the LSH band route) with the standing
    *    corpus is quarantined (0). Batch survivorship is a
    *    batch-GLOBAL choice (longest member of each cluster wins,
    *    `DedupOps.dedupCorpus`) that an ingest gate cannot make — a
    *    new, longer near-dup still quarantines here and displaces the
    *    incumbent only in the next batch sweep. For documents in
    *    singleton clusters the two definitions coincide (spec-pinned).
    *
    * 100×: every join is equi-shaped against a persisted index
    * (band_key / gram / map lookups); batch-side work is one scan of
    * the ARRIVING batch per arm; nothing rescans the corpus. */
  def admissionStream(docs: DataFrame, corpus: DataFrame,
      outPath: String, checkpoint: String): StreamingQuery = {
    import graft.queries.{DedupOps, PipelineOps}
    // frozen standing-corpus artifacts (in-session stand-ins for the
    // persisted tables a deployment writes once)
    val corpusLift = DedupOps.withShinglesAndMinhash(
      corpus.select(col("doc_id"), col("text")))
    val corpusBands = DedupOps.explodeBandKeys(corpusLift)
      .select(col("doc_id").as("b_id"), col("band_key")).persist()
    val corpusShingles = corpusLift
      .select(col("doc_id").as("b_id"), col("sh").as("b_sh")).persist()
    val benchGrams = DedupOps.spanWindows(
        corpus.filter(substring(md5(concat(lit("bench:"),
          col("doc_id").cast("string"))), 1, 1) === "0"), 8)
      .select(col("gram")).distinct().persist()
    val calibrate = calibratedScorer(corpus)
    val dsir = dsirScorer(corpus)
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val b = batch.persist()
        val dupHits = DedupOps.explodeBandKeys(
            DedupOps.withShinglesAndMinhash(b.select($"doc_id", $"text")))
          .join(corpusBands, "band_key")
          .filter($"doc_id" =!= $"b_id")
          .join(corpusShingles, "b_id")
          .filter(size(array_intersect($"sh", $"b_sh")).cast("double") /
            size(array_union($"sh", $"b_sh")) >= 0.5)
          .select($"doc_id").distinct()
          .withColumn("dup", lit(1L))
        val isBench = substring(md5(concat(lit("bench:"),
          $"doc_id".cast("string"))), 1, 1) === "0"
        val deconHits = DedupOps.spanWindows(b.filter(!isBench), 8)
          .join(benchGrams, "gram")
          .select($"doc_id").distinct()
          .withColumn("dec", lit(1L))
        val qual = PipelineOps.qualityGate(b)
          .select($"doc_id").withColumn("q", lit(1L))
        b.select($"doc_id")
          .join(dupHits, Seq("doc_id"), "left")
          .join(deconHits, Seq("doc_id"), "left")
          .join(qual, Seq("doc_id"), "left")
          .join(calibrate(b).select($"doc_id", $"keep_calibrated"), "doc_id")
          .join(dsir(b).select($"doc_id", $"keep_dsir"), "doc_id")
          .select($"doc_id",
            (lit(1L) - coalesce($"dup", lit(0L))).as("is_survivor"),
            coalesce($"q", lit(0L)).as("passes_quality"),
            (lit(1L) - coalesce($"dec", lit(0L))).as("decon_ok"),
            $"keep_calibrated", $"keep_dsir")
          .withColumn("n_votes",
            $"is_survivor" + $"passes_quality" + $"decon_ok" +
              $"keep_calibrated" + $"keep_dsir")
          .withColumn("admit_strict",
            $"is_survivor" * $"passes_quality" * $"decon_ok" *
              $"keep_calibrated" * $"keep_dsir")
          .write.mode("append").parquet(outPath)
        b.unpersist(blocking = false)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
  }

  /** Streaming ANN lookup: a stream of query vectors answered against
    * the STATIC corpus through the q58 SRP bucket index. The stream
    * side computes its integer-exact bucket (stateless expressions),
    * explodes it into the nbits+1 probe buckets of hamming radius 1
    * (the bucket itself plus each single-bit flip) so the stream-static
    * join is EQUI on bucket — the shuffle-shaped form that scales,
    * where a `bit_count(xor) <= 1` join condition would force a
    * nested-loop — then scores candidates with the codegen cosine and
    * takes the per-query argmax with a watermarked windowed aggregate
    * (partial-aggregatable max(struct), bounded state, append mode).
    * Emits (query_id, window_start, nn_id).
    *
    * `excludeMatchingId` (default true) drops the corpus vector whose
    * vec_id EQUALS the query_id — correct when the stream replays
    * corpus vectors (self is trivially nearest). Set it false for
    * external queries whose ids live in a different namespace, where
    * an accidental id collision must not suppress a real neighbor. */
  def annLookupStream(queries: DataFrame, corpus: DataFrame,
      nbits: Int = 4, eventTime: String = "event_ts",
      delay: String = "10 seconds",
      excludeMatchingId: Boolean = true): DataFrame = {
    import graft.queries.VectorOps
    import graft.functions.VectorExpressions.cosine
    // the static bucket index — persisted for the same reason as the
    // near-dup flagger's band index: micro-batches must not re-derive it
    val index = VectorOps.withSrpBucket(corpus, nbits)
      .select(col("vec_id"), col("embedding").as("c_emb"), col("bucket"))
      .persist()
    val probed = VectorOps.withSrpBucket(queries, nbits)
      .withColumn("bucket", explode(array(
        col("bucket") +: (0 until nbits).map(b =>
          col("bucket").bitwiseXOR(lit(1L << b))): _*)))
    val joined = probed.join(index, "bucket")
    val candidates =
      if (excludeMatchingId) joined.filter(col("query_id") =!= col("vec_id"))
      else joined
    candidates
      // nanvl: a zero-norm corpus vector (cosine NaN, which Spark
      // orders above all reals) must lose the argmax, not win it
      .withColumn("sim", nanvl(cosine(col("embedding"), col("c_emb")),
        lit(Double.NegativeInfinity)))
      .withWatermark(eventTime, delay)
      .groupBy(col("query_id"), window(col(eventTime), "1 minute"))
      .agg(max(struct(col("sim"), (-col("vec_id")).as("neg"))).as("m"))
      .select(col("query_id"), col("window.start").as("window_start"),
        (-col("m.neg")).cast("long").as("nn_id"))
  }

  /** Streaming ANN serving — q158's multi-query search with the query
    * TABLE replaced by a query STREAM: each arriving query string
    * vectorizes row-locally ([[graft.queries.VectorOps.rowDocVector]]),
    * takes its 2-probe cell pair from the compiled argmin expressions,
    * equi-joins the STATIC codes index on cell, and scores candidates
    * with the [[graft.functions.VectorExpressions.PqAdcDist]] codegen
    * expression — no driver-side per-query LUT, no state beyond the
    * per-query windowed top-k (bounded by the probed cells' contents).
    * Emits (query_id, window_start, topk) where topk is the sorted
    * (adc_dist, doc_id) top-k — batch q158's ranking exactly, asserted
    * stream == batch in StreamingSpec. The serving shape: index as the
    * write-once artifact, queries as traffic. */
  def annServeStream(queries: DataFrame, corpus: DataFrame, k: Int = 5,
      eventTime: String = "event_ts",
      delay: String = "10 seconds"): DataFrame = {
    import graft.queries.{PipelineOps, VectorOps}
    import graft.functions.VectorExpressions.{nearestIndex, secondNearestIndex, pqAdcDist}
    val index = VectorOps.withPqCode(VectorOps.withGridCell(
        VectorOps.docVectorsOf(PipelineOps.featureHashOf(
          corpus.select(col("doc_id"), col("text"))))))
      .select(col("vec_id").as("doc_id"), col("cell"), col("code"))
      .persist()
    val cents = VectorOps.ivfGridCentroids()
    queries.withWatermark(eventTime, delay)
      .filter(col("qtext").isNotNull)
      .select(col("query_id"), col(eventTime),
        VectorOps.rowDocVector(col("qtext")).as("q_emb"))
      .withColumn("cell", explode(array(
        nearestIndex(col("q_emb"), cents, 0, VectorOps.QuantScale),
        secondNearestIndex(col("q_emb"), cents, 0, VectorOps.QuantScale))))
      .join(index, "cell")
      .withColumn("adc_dist", pqAdcDist(col("q_emb"), col("code"),
        VectorOps.pqCodebook(), VectorOps.QuantScale))
      .groupBy(col("query_id"), window(col(eventTime), "1 minute"))
      .agg(slice(array_sort(collect_list(struct(
        col("adc_dist"), col("doc_id")))), 1, k).as("topk"))
      .select(col("query_id"), col("window.start").as("window_start"),
        col("topk"))
  }

  /** Ingest-time hard-negative lookup — q134's mining as a stream-static
    * join: each ARRIVING vector (a new training example) is assigned its
    * integer grid cell with the same codegen expression as the batch
    * miner and joined against the static celled corpus; its hardest
    * cross-label neighbor (argmax cosine, lowest-id tie-break — q134's
    * rank 1 exactly) emits once per watermark window. The deployment
    * shape: the corpus index is the write-once artifact, arrivals probe
    * it statelessly — no state beyond the windowed argmax, bounded by
    * the watermark.
    *
    * `queries` columns: (query_id, embedding, label, event_ts). */
  def hardNegativeStream(queries: DataFrame, corpus: DataFrame,
      eventTime: String = "event_ts",
      delay: String = "10 seconds"): DataFrame = {
    import graft.queries.VectorOps
    import graft.functions.VectorExpressions.fvecDot
    // static celled corpus — persisted so micro-batches read blocks,
    // not the lift (the near-dup flagger's band-index precedent)
    val index = VectorOps.withGridCell(corpus)
      .select(col("vec_id"), col("embedding").as("c_emb"),
        col("label").as("c_label"), col("cell"))
      .persist()
    VectorOps.withGridCell(queries)
      .join(index, "cell")
      .filter(col("label") =!= col("c_label"))
      // q134's exact arithmetic: dot / (|a|·|b|) via the ANSI-safe
      // normDiv, NaN demoted below every real so a zero-norm corpus
      // vector cannot win the argmax
      .withColumn("sim", nanvl(
        graft.functions.VectorExpressions.normDiv(
          fvecDot(col("embedding"), col("c_emb")),
          sqrt(fvecDot(col("embedding"), col("embedding"))) *
            sqrt(fvecDot(col("c_emb"), col("c_emb")))),
        lit(Double.NegativeInfinity)))
      .withWatermark(eventTime, delay)
      .groupBy(col("query_id"), window(col(eventTime), "1 minute"))
      .agg(max(struct(col("sim"), (-col("vec_id")).as("neg"))).as("m"))
      .select(col("query_id"), col("window.start").as("window_start"),
        (-col("m.neg")).cast("long").as("neg_id"))
  }

  /** Windowed embedding-drift MONITOR — q141's report as an alerting
    * stream: each watermark window's arriving vectors are grid-celled
    * statelessly (the batch quantizer's codegen expression), the
    * window's per-cell occupancy lands in ONE stateful aggregate (16
    * conditional sums + the total — per-cell counts and the window
    * total in the same state row, so no second stateful stage), and
    * the emitted rows carry each cell's window ppm beside the STATIC
    * corpus baseline ppm and the absolute drift. A window whose drift
    * mass spikes is the "today's data is not yesterday's" alert that
    * gates index rebuilds.
    *
    * The corpus baseline is a ≤nCells-row parameter read (the
    * centroid-read precedent) folded into a literal map — no
    * stream-static join is even needed on the tiny side. */
  def cellDriftStream(vectors: DataFrame, corpus: DataFrame,
      eventTime: String = "event_ts",
      delay: String = "10 seconds"): DataFrame = {
    val nCells = graft.queries.VectorOps.ivfGridCells
    val corpusPpm = corpusCellPpm(corpus)
    val agg = windowedCellAgg(vectors, eventTime, delay)
    val perCell = explode(array((0 until nCells).map(i =>
      struct(lit(i).as("cell"), col(s"c$i").as("n_delta"))): _*))
    val baseline = map((0 until nCells).flatMap(i =>
      Seq(lit(i), lit(corpusPpm(i)))): _*)
    agg
      .select(col("window.start").as("window_start"), col("n_total"),
        perCell.as("pc"))
      .select(col("window_start"), col("pc.cell").as("cell"),
        col("pc.n_delta").as("n_delta"),
        expr("CAST(IF(n_total = 0, 0, (1000000 * pc.n_delta) div n_total) " +
          "AS BIGINT)").as("delta_ppm"),
        element_at(baseline, col("pc.cell")).as("corpus_ppm"))
      .withColumn("drift_ppm", abs(col("delta_ppm") - col("corpus_ppm")))
  }

  /** The cell-drift monitors' ONE stateful aggregate: each watermark
    * window's arriving vectors grid-celled statelessly (the batch
    * quantizer's codegen expression — ONE cell-count definition,
    * ADVICE r10: a hardcoded 16 would silently drop cells on a grid
    * resize) and rolled to per-cell conditional sums + the window
    * total in a single state row. [[cellDriftStream]] explodes it to
    * the per-cell report; [[reindexDecisionStream]] folds it to the
    * per-window decision scalars — both STATELESS over this frame, so
    * neither needs a second stateful stage. */
  private def windowedCellAgg(vectors: DataFrame, eventTime: String,
      delay: String): DataFrame = {
    import graft.queries.VectorOps
    val nCells = VectorOps.ivfGridCells
    val cellCounts = (0 until nCells).map(i =>
      sum(when(col("cell") === i, 1L).otherwise(0L)).as(s"c$i"))
    VectorOps.withGridCell(vectors)
      .withWatermark(eventTime, delay)
      .groupBy(window(col(eventTime), "1 minute"))
      .agg(count(lit(1)).as("n_total"), cellCounts: _*)
  }

  /** Corpus baseline: bounded parameter read, exactly q141's
    * arithmetic. cell is null only for a degenerate (empty/zero-dim)
    * vector — NearestIndex's contract — which belongs to no cell:
    * excluded from the baseline instead of NPE-ing the collect. */
  private def corpusCellPpm(corpus: DataFrame): Int => Long = {
    val cc = graft.queries.VectorOps.withGridCell(corpus)
      .filter(col("cell").isNotNull)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val corpusTotal = cc.values.sum
    (cell: Int) =>
      if (corpusTotal == 0) 0L
      else 1000000L * cc.getOrElse(cell, 0L) / corpusTotal
  }

  /** q197's monitoring twin (VERDICT r13 #6) — the reindex DECISION as
    * a per-window verdict stream: pure composition of
    * [[windowedCellAgg]] (the cellDriftStream stateful core) with the
    * STATIC [[graft.queries.VectorOps.ReindexPolicy]] table and the
    * frozen recall gate — the q190 fail-closed-gate precedent, nothing
    * re-derived. Per window, the decision scalars fold STATELESSLY out
    * of the single aggregate row (tv2 = Σ per-cell |window ppm −
    * corpus ppm|, max-cell likewise — the same literal-array device
    * the per-cell explode uses), then fan out over the 5-row policy
    * as a literal-struct explode (no stream-static join needed on a
    * side this small) with batch q197's verdict arithmetic VERBATIM
    * (incl. the recall_gated drift-only arm for the knn_graph row).
    * The recall gate (q159's audit rolled to its two scalars) is a
    * bounded parameter read frozen at stream definition — correct by
    * the same frozen-corpus contract as every baseline here: the gate
    * compares the CURRENT trained quantizer against the seed, and
    * retraining is exactly the action this stream's `rebuild` verdict
    * triggers.
    *
    * Stream == batch: a window containing exactly the q141 delta
    * vectors, against the non-delta corpus and the same audit, emits
    * q197's five rows verbatim (plus window_start) — asserted in
    * StreamingSpec. */
  def reindexDecisionStream(vectors: DataFrame, corpus: DataFrame,
      recallAudit: DataFrame, eventTime: String = "event_ts",
      delay: String = "10 seconds"): DataFrame = {
    import graft.queries.VectorOps
    val nCells = VectorOps.ivfGridCells
    val corpusPpm = corpusCellPpm(corpus)
    // the q159 gate, rolled to its two scalars (bounded: the audit is
    // a ≤5-row report) — frozen at stream definition like the baseline
    val gate = recallAudit
      .agg(sum(when(col("in_seed_probe"), 1L).otherwise(0L)).as("s"),
        sum(when(col("in_trained_probe"), 1L).otherwise(0L)).as("t"))
      .collect().head
    val (seedHits, trainedHits) = (gate.getLong(0), gate.getLong(1))
    val driftArr = array((0 until nCells).map(i =>
      abs(expr(s"CAST(IF(n_total = 0, 0, (1000000 * c$i) div n_total) " +
        "AS BIGINT)") - lit(corpusPpm(i)))): _*)
    val policy = explode(array(VectorOps.ReindexPolicy.map {
      case (f, tv2, cell, gated, floor) =>
        struct(lit(f).as("index_family"),
          lit(tv2).as("tv2_threshold_ppm"),
          lit(cell).as("cell_threshold_ppm"),
          lit(gated).as("recall_gated"),
          lit(floor).as("recall_floor_ppm"))
    }: _*))
    windowedCellAgg(vectors, eventTime, delay)
      .select(col("window.start").as("window_start"),
        aggregate(driftArr, lit(0L), (a, x) => a + x).as("tv2_ppm"),
        array_max(driftArr).as("max_cell_ppm"))
      .select(col("window_start"), col("tv2_ppm"), col("max_cell_ppm"),
        policy.as("p"))
      .select(col("window_start"), col("p.index_family").as("index_family"),
        col("tv2_ppm"), col("max_cell_ppm"),
        col("p.tv2_threshold_ppm").as("tv2_threshold_ppm"),
        col("p.cell_threshold_ppm").as("cell_threshold_ppm"),
        col("p.recall_gated").as("recall_gated"),
        col("p.recall_floor_ppm").as("p_recall_floor_ppm"))
      .withColumn("drift_exceeded",
        col("tv2_ppm") > col("tv2_threshold_ppm") ||
          col("max_cell_ppm") > col("cell_threshold_ppm"))
      .withColumn("seed_hits", lit(seedHits))
      .withColumn("trained_hits", lit(trainedHits))
      .withColumn("recall_gate_ok", lit(trainedHits >= seedHits))
      .withColumn("verdict",
        when(!col("drift_exceeded"), "keep")
          .when(!col("recall_gated") || col("recall_gate_ok"), "rebuild")
          .otherwise("hold"))
      .withColumn("recall_floor_ppm", col("p_recall_floor_ppm"))
      .drop("p_recall_floor_ppm")
  }

  /** Windowed vocabulary-drift MONITOR — q142's lexical report as an
    * alerting stream (VERDICT r10 #4: the earliest-warning signal had
    * no ingest form). The standing corpus's head terms and total token
    * mass are a BOUNDED parameter read (top-`headK` rows + one count —
    * the cellDriftStream baseline precedent); each watermark window's
    * arriving documents tokenize statelessly (q142's split-on-space
    * contract, NULL text ⇒ zero tokens) and land in ONE stateful
    * aggregate — `headK` conditional sums plus the window's full token
    * mass in the same state row, so per-term window shares are honest
    * against the window's WHOLE distribution, exactly like the batch
    * report's td. Emitted rows carry q142's integer-ppm arithmetic
    * verbatim: a head term whose window share collapses (or a surging
    * campaign term diluting every head share) alerts BEFORE the shift
    * reaches quality-gate pass rates.
    *
    * Scale shape: state is one row per window × (headK+1) longs —
    * bounded regardless of stream volume; the head-term comparisons
    * are a literal chain in one codegen projection, no stream-static
    * join, no second stateful stage. */
  def vocabDriftStream(docs: DataFrame, corpus: DataFrame,
      eventTime: String = "event_ts",
      delay: String = "10 seconds", headK: Int = 100): DataFrame = {
    def termsOf(df: DataFrame, carry: Column*): DataFrame =
      df.select(carry :+ explode(split(coalesce(col("text"), lit("")),
        " ")).as("term"): _*).filter(col("term") =!= "")
    // corpus baseline: top-K head terms by standing count + the full
    // corpus token mass — q142's (n_corpus desc, term asc) order
    val corpusTerms = termsOf(corpus)
    val heads = corpusTerms.groupBy(col("term"))
      .agg(count(lit(1)).as("n_corpus"))
      .orderBy(col("n_corpus").desc, col("term").asc).limit(headK)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val tc = corpusTerms.count()
    def ppm(n: Long, tot: Long): Long =
      if (tot == 0) 0L else 1000000L * n / tot
    val headSums = heads.zipWithIndex.map { case ((t, _), i) =>
      sum(when(col("term") === lit(t), 1L).otherwise(0L)).as(s"t$i") }
    val agg = termsOf(docs, col(eventTime))
      .withWatermark(eventTime, delay)
      .groupBy(window(col(eventTime), "1 minute"))
      .agg(count(lit(1)).as("td"), headSums.toIndexedSeq: _*)
    val perTerm = explode(array(heads.zipWithIndex.map { case ((t, nc), i) =>
      struct(lit(t).as("term"), lit(nc).as("n_corpus"),
        col(s"t$i").as("n_delta"), lit(ppm(nc, tc)).as("corpus_ppm"))
    }.toIndexedSeq: _*))
    agg
      .select(col("window.start").as("window_start"), col("td"),
        perTerm.as("pt"))
      .select(col("window_start"), col("pt.term").as("term"),
        col("pt.n_corpus").as("n_corpus"), col("pt.n_delta").as("n_delta"),
        col("pt.corpus_ppm").as("corpus_ppm"),
        expr("CAST(IF(td = 0, 0, (1000000 * pt.n_delta) div td) " +
          "AS BIGINT)").as("delta_ppm"))
      .withColumn("drift_ppm", abs(col("delta_ppm") - col("corpus_ppm")))
  }

  /** q186's AGREEMENT MONITOR as a stream: the cumulative 2×2
    * confusion of the two quality gates over everything that has
    * arrived, in complete mode — the live "are my scorers still
    * agreeing" gauge beside the drift monitors. Gate A (stopword
    * mass ≥ 5 %, cross-multiplied integers) is stateless per row;
    * gate B scores against FROZEN corpus parameters hoisted once at
    * wiring time: the bounded top-`vocabCap` frequency map (the
    * [[calibratedScorer]] vocab-cap device — never the raw
    * vocabulary) and the corpus-mean threshold (one scalar read off
    * the batch lift). Unseen / out-of-cap terms contribute zero
    * frequency mass but still count in the denominator, so a
    * novel-vocabulary document dilutes toward gb = false — the gate
    * fails conservative, and the stream equals batch q186 exactly
    * whenever the corpus vocabulary fits the cap (every test corpus).
    * The cumulative counts live in ONE stateful aggregate (four
    * conditional sums); the ppm/kappa arithmetic is q186's
    * expressions verbatim, stateless over the aggregate row.
    * Stream == batch asserted in StreamingSpec. */
  def agreementMonitorStream(docs: DataFrame, corpus: DataFrame,
      vocabCap: Int = CalVocabCap): DataFrame = {
    val freq = corpus
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("t").asc).limit(vocabCap)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val freqMap = map(freq.toIndexedSeq.flatMap { case (t, f) =>
      Seq(lit(t), lit(f)) }: _*)
    // the corpus-mean threshold, exactly q186's scalar (full-vocab
    // batch lift — the model build may afford what serving cannot)
    val tot = graft.queries.TextOps.unigramScoreOf(corpus)
      .agg(sum(col("sum_freq")).as("tf"), sum(col("n_tokens")).as("tn"))
      .collect().head
    val thr = tot.getLong(0) * 1000000L / math.max(tot.getLong(1), 1L)
    docs
      .withColumn("ga", size(expr(
        "filter(split(coalesce(text, ''), ' '), " +
          "x -> x IN ('the','a','of','and','to','in'))")).cast("long")
        * 20 >= size(split(coalesce(col("text"), lit("")), " "))
          .cast("long"))
      .withColumn("tk", filter(
        split(coalesce(col("text"), lit("")), " "), t => t =!= ""))
      .withColumn("n", size(col("tk")).cast("long"))
      .withColumn("sf", aggregate(col("tk"), lit(0L),
        (acc, t) => acc + coalesce(element_at(freqMap, t), lit(0L))))
      .withColumn("gb",
        expr(s"IF(n = 0, CAST(0 AS BIGINT), sf * 1000000 div n)")
          >= lit(thr))
      .groupBy()
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
  }

  /** q187's per-arrival form — the CHANGE FEED: each arriving document
    * is classified against the standing corpus's digest table by one
    * stream-static left join on doc_id: `added` (id unseen), `changed`
    * (digest differs), `unchanged` (digest equal). The static side is
    * (doc_id, md5) — digests, never text — materialized once (the
    * band-index precedent) so micro-batches probe blocks. `deleted`
    * cannot appear on a document-arrival stream by construction: a
    * deletion is the ABSENCE of an arrival, which only the batch
    * full-outer diff (q187) or an explicit take-down message stream
    * can observe — callers route take-downs to
    * [[graft.queries.VectorOps.deleteFromChunkIndex]] /
    * `TextOps.deleteFromPostingIndex` instead. Stateless per row:
    * verdicts stream in append mode, and `added`/`changed` rows are
    * exactly what the incremental index appenders consume. */
  def changeFeedStream(docs: DataFrame, corpus: DataFrame): DataFrame = {
    val standing = corpus
      .select(col("doc_id"), md5(col("text")).as("old_hash")).persist()
    docs
      .select(col("doc_id"),
        md5(coalesce(col("text"), lit(""))).as("new_hash"))
      .join(standing, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("old_hash").isNull, "added")
          .when(col("old_hash") =!= col("new_hash"), "changed")
          .otherwise("unchanged").as("verdict"),
        col("old_hash"), col("new_hash"))
  }

  /** q190's ingest twin — the outlier TRIPWIRE at arrival: per-type
    * p99 histogram-bin cutoffs are derived ONCE from the standing
    * corpus (sketch-sized work, the q190 derivation verbatim via the
    * batch lift) and folded into a literal map (the cellDriftStream
    * parameter pattern — ≤|types| entries, bounded at any corpus
    * size); each arriving event then flags statelessly by one bin
    * comparison. An event type never seen in the standing corpus has
    * no cutoff: the gate fails CLOSED (flagged as outlier) — a new
    * event type IS an anomaly until the corpus learns it.
    * Stream == batch on the shared fixture asserted in StreamingSpec
    * (batch q190 emits exactly the flagged rows; this emits every
    * arrival with the bit, so monitors can also rate outliers per
    * window sink-side). */
  def outlierGateStream(events: DataFrame, corpus: DataFrame): DataFrame = {
    val cuts = graft.queries.EventOps.outlierCutoffs(corpus)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val cutMap = map(cuts.toIndexedSeq.flatMap { case (t, b) =>
      Seq(lit(t), lit(b)) }: _*)
    events
      .withColumn("p99_bin", element_at(cutMap, col("event_type")))
      // fail-closed applies to UNKNOWN TYPES only (no cutoff row); a
      // NULL value on a known type is not beyond any cutoff — batch
      // q190's comparison drops it, so the twin must flag false, not
      // ride the same coalesce into a spurious outlier (review
      // finding, this round)
      .withColumn("is_outlier",
        when(col("p99_bin").isNull, lit(true))
          .otherwise(coalesce(
            graft.queries.EventOps.histBin(col("value")) > col("p99_bin"),
            lit(false))))
      .select(col("event_id"), col("event_type"), col("value"),
        col("p99_bin"), col("is_outlier"))
  }

  /** q192 at INGEST — compressed-domain near-dup flagging: each
    * arriving vector is grid-celled and PQ-coded by the SAME stateless
    * codegen lifts as the batch index build, probes the standing
    * CODES table on its cell (stream-static equi join — the corpus
    * embeddings are never read), and every within-cell resident
    * within `maxDist` SDC units is emitted as a match. Stateless per
    * row, append mode; the per-pair cost is q192's 8 codeword-LUT
    * lookups. This closes the SDC family's serving loop the way the
    * LSH band index closes near-dup text dedup: the 64×-compressed
    * index IS the dedup surface at ingest, and a flagged arrival
    * routes to exact verification (q129-style) before rejection —
    * SDC error is bounded by the two quantization residuals, so the
    * threshold is a RECALL lever, not a correctness claim.
    * Stream == batch (same lifts, batch self-join) in StreamingSpec. */
  def sdcDedupStream(vectors: DataFrame, corpus: DataFrame,
      maxDist: Long): DataFrame = {
    import graft.queries.VectorOps
    val index = VectorOps.withPqCode(VectorOps.withGridCell(corpus))
      .select(col("vec_id").as("c_id"), col("cell"),
        col("code").as("c_code"))
      .persist()
    val lut = VectorOps.sdcLut()
    VectorOps.withPqCode(VectorOps.withGridCell(vectors))
      .select(col("vec_id"), col("cell"), col("code"))
      .join(index, "cell")
      .withColumn("sdc_dist",
        VectorOps.sdcCol(lut, col("code"), col("c_code")))
      .filter(col("sdc_dist") <= maxDist && col("vec_id") =!= col("c_id"))
      .select(col("vec_id"), col("c_id"), col("sdc_dist"))
  }

  // ------------------------------------------------------- sessionizer
  final case class SEvent(user_id: Long, ts_s: Long, event_id: Long)
  final case class SessionOut(user_id: Long, session_idx: Long,
      n_events: Long, session_start_s: Long, duration_s: Long)
  /** Open-session state (public: the streaming state encoder's generated
    * deserializer must construct it; a private class compiles in batch —
    * which never serializes state — then fails at stream runtime). */
  final case class SessState(idx: Long, startS: Long,
      lastS: Long, nEvents: Long)

  /** Gap-based sessionization via flatMapGroupsWithState — the custom
    * stateful operator the reference lacks (SURVEY §2.12 "none"); the
    * batch twin is EventOps.sessionize and a ScalaTest asserts they
    * produce identical sessions on the same data.
    *
    * State holds ONLY the currently-open session per key (bounded at
    * any input size); sessions emit exactly once, when a later event
    * closes them. With `emitOpen=true` (the bounded/batch-parity mode)
    * the still-open session is also emitted each batch — a snapshot
    * that may be superseded by a later batch, so production streams
    * should use `emitOpen=false` for exact-once session rows. */
  def sessionize(events: Dataset[SEvent], gapS: Long,
      emitOpen: Boolean = true): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SEvent], state: GroupState[SessState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_s, e.event_id))
          val closed = scala.collection.mutable.ListBuffer.empty[SessState]
          var open = state.getOption.orNull
          for (e <- sorted) {
            open match {
              case null =>
                open = SessState(1, e.ts_s, e.ts_s, 1)
              case cur if e.ts_s - cur.lastS <= gapS =>
                open = cur.copy(lastS = math.max(cur.lastS, e.ts_s),
                  nEvents = cur.nEvents + 1)
              case cur =>
                closed += cur
                open = SessState(cur.idx + 1, e.ts_s, e.ts_s, 1)
            }
          }
          if (open != null) state.update(open)
          val out = closed.toList ++ (if (emitOpen && open != null)
            List(open) else Nil)
          out.iterator.map(s =>
            SessionOut(user, s.idx, s.nEvents, s.startS, s.lastS - s.startS))
      }
  }

  /** Ingest-time tokenizer application — the streaming twin of q106:
    * the trained merge table (a static N-row artifact, mined once by
    * the q101 loop) replays over arriving documents as a stateless
    * per-row fold — pre-tokenize, apply the same
    * [[graft.queries.PipelineOps.applyMergesExpr]] replace chain per
    * pre-token, sum lengths. No state, no watermark, no shuffle: the
    * shape a tokenizer runs in the ingest path, exactly like
    * [[scoreStream]]'s classifier (HOF folds are CodegenFallback —
    * acceptable off the batch hot path, where q106's explode+rollup
    * form stays). Emits (doc_id, n_pretokens, n_chars, n_symbols),
    * q106's schema; stream==batch asserted in StreamingSpec. */
  def tokenizeStream(docs: DataFrame,
      merges: Seq[graft.queries.PipelineOps.BpeMerge]): DataFrame = {
    import graft.queries.PipelineOps
    // NULL text ⇒ zero-token row, NOT a dropped row: batch q106's
    // restore left-join counts every document (ADVICE r10 — a filter
    // here silently broke stream==batch on corpora with NULL texts)
    docs.withColumn("pt", regexp_extract_all(
        coalesce(col("text"), lit("")),
        lit(PipelineOps.preTokenPattern), lit(0)))
      .select(col("doc_id"),
        size(col("pt")).cast("long").as("n_pretokens"),
        aggregate(col("pt"), lit(0L),
          (acc, t) => acc + length(t)).as("n_chars"),
        aggregate(col("pt"), lit(0L),
          (acc, t) => acc + length(PipelineOps.applyMergesExpr(t, merges)))
          .as("n_symbols"))
  }

  /** Running tokenizer-fertility rollup — q135's report as an
    * ingest-time stream: the stateless per-document application
    * projection (the SAME shared `preTokenPattern` +
    * `applyMergesExpr` definitions as [[tokenizeStream]] and the
    * batch chain, so the three surfaces cannot drift), rolled into a
    * complete-mode per-source aggregate whose state is bounded by the
    * source domain. The corpus card updates live as the crawl lands;
    * the integer ratio columns are the q135 contract verbatim. */
  def fertilityStream(docs: DataFrame,
      merges: Seq[graft.queries.PipelineOps.BpeMerge]): DataFrame = {
    import graft.queries.PipelineOps
    // NULL text ⇒ zero-cost row counted in n_docs, matching batch
    // q135's restore left-join semantics (ADVICE r10)
    docs.withColumn("pt", regexp_extract_all(
        coalesce(col("text"), lit("")),
        lit(PipelineOps.preTokenPattern), lit(0)))
      .select(col("source"),
        size(col("pt")).cast("long").as("np"),
        aggregate(col("pt"), lit(0L),
          (acc, t) => acc + length(t)).as("nc"),
        aggregate(col("pt"), lit(0L),
          (acc, t) => acc + length(PipelineOps.applyMergesExpr(t, merges)))
          .as("ns"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum("np").as("n_pretokens"),
        sum("nc").as("n_chars"), sum("ns").as("n_symbols"))
      .withColumn("symbols_per_kchar",
        expr("CAST(IF(n_chars = 0, 0, (1000 * n_symbols) div n_chars) " +
          "AS BIGINT)"))
      .withColumn("saved_pct",
        expr("CAST(IF(n_chars = 0, 0, (100 * (n_chars - n_symbols)) " +
          "div n_chars) AS BIGINT)"))
  }

  // ------------------------------------------- funnel / retention twins
  final case class FEvent(user_id: Long, event_type: String, t: Long)
  /** Funnel snapshot row; None = stage not reached (batch q94's NULL). */
  final case class FunnelOut(user_id: Long, t_view: Option[Long],
      t_click: Option[Long], t_purchase: Option[Long], depth: Long)
  /** Earliest-stage timestamps; -1 = unset (flat longs keep the state
    * encoder trivial, the SessState lesson). Public for the streaming
    * state encoder's generated deserializer. */
  final case class FunnelState(tView: Long, tClick: Long, tPurchase: Long)

  /** Streaming twin of the q94 ordered funnel
    * ([[graft.queries.EventOps.funnelOf]]): per-user earliest-stage
    * timestamps via flatMapGroupsWithState — state is THREE longs per
    * user (bounded at any input size; the VERDICT r5 sketch), updated
    * by the same strictly-after stage rule as batch: the first view
    * fixes t_view, the first click after t_view fixes t_click, the
    * first purchase after t_click fixes t_purchase. Events are applied
    * in event-time order within each batch; across batches the
    * equivalence precondition is arrival following event time (the
    * exactDedupStream contract) — a late-arriving EARLIER view cannot
    * retroactively re-qualify clicks already judged, which is also how
    * every production funnel processor behaves.
    *
    * Each batch emits the updated snapshot for users that received
    * events (append mode): snapshots only UPGRADE (set stages never
    * change under in-order arrival), so the latest row per user is the
    * funnel row and equals batch q94 — asserted in StreamingSpec.
    * Production exact-once emission = emit on state timeout instead;
    * the snapshot mode is the batch-parity/dashboard shape. */
  def funnelStream(events: Dataset[FEvent]): Dataset[FunnelOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[FEvent], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          // ties at the same second are order-insensitive under the
          // strictly-after rule, so sorting by t alone is deterministic
          for (e <- it.toSeq.sortBy(_.t)) e.event_type match {
            case "view" if s.tView < 0 => s = s.copy(tView = e.t)
            case "click" if s.tView >= 0 && e.t > s.tView && s.tClick < 0 =>
              s = s.copy(tClick = e.t)
            case "purchase"
                if s.tClick >= 0 && e.t > s.tClick && s.tPurchase < 0 =>
              s = s.copy(tPurchase = e.t)
            case _ =>
          }
          state.update(s)
          // no row until the user has viewed — q94's funnel base
          if (s.tView < 0) Iterator.empty
          else {
            def opt(v: Long) = if (v < 0) None else Some(v)
            Iterator.single(FunnelOut(user, opt(s.tView), opt(s.tClick),
              opt(s.tPurchase),
              1L + (if (s.tClick >= 0) 1L else 0L)
                + (if (s.tPurchase >= 0) 1L else 0L)))
          }
      }
  }

  final case class REvent(user_id: Long, t: Long)
  final case class RetentionDelta(cohort_week: Long, week_offset: Long)
  /** cohortWeek = the user's first-event epoch-week; lastWeek = the
    * largest week seen. TWO longs per user: under in-order arrival a
    * new event's week is active-and-unseen iff it exceeds lastWeek, so
    * the seen-week SET never needs storing. */
  final case class RetentionState(cohortWeek: Long, lastWeek: Long)

  /** Streaming twin of the q95 cohort retention: per-user
    * flatMapGroupsWithState emits one (cohort_week, week_offset) DELTA
    * the first time a user is active in a week — integer epoch-weeks
    * (t div 604800), q95's engine-portability rule. Counting the deltas
    * per (cohort_week, week_offset) IS the retention triangle
    * (StreamingSpec asserts delta counts == batch q95); the rollup
    * stays sink-side (foreachBatch upsert into the dashboard store) —
    * the classic emit-increments/count-downstream split that keeps the
    * query to ONE stateful operator. State is two longs per user;
    * cross-batch equivalence rides the same in-order-arrival
    * precondition as [[funnelStream]]. */
  def retentionDeltaStream(events: Dataset[REvent]): Dataset[RetentionDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[REvent], state: GroupState[RetentionState]) =>
          val out = scala.collection.mutable.ListBuffer.empty[RetentionDelta]
          var s = state.getOption.orNull
          for (e <- it.toSeq.sortBy(_.t)) {
            val w = e.t / 604800L // non-negative epochs: div == floor
            s match {
              case null =>
                s = RetentionState(w, w)
                out += RetentionDelta(w, 0L)
              case cur if w > cur.lastWeek =>
                s = cur.copy(lastWeek = w)
                out += RetentionDelta(cur.cohortWeek, w - cur.cohortWeek)
              case _ =>
            }
          }
          if (s != null) state.update(s)
          out.iterator
      }
  }

  // --------------------------------------- streaming histogram sketch
  /** Streaming twin of the q112 histogram sketch: per tumbling minute,
    * the (event_type, bin) count histogram of arriving values — the
    * sketch is just a windowed COUNT on
    * [[graft.queries.EventOps.histBin]]'s shared bin rule, so the
    * stream emits exactly what batch builds and watermark-closed
    * windows emit once (append mode). Quantile extraction stays
    * sink-side over the tiny bin rows
    * ([[graft.queries.EventOps.quantilesOverBins]] in foreachBatch —
    * the emit-sketch/extract-downstream split every mergeable sketch
    * deploys with; the bins, not the estimates, are also what a
    * multi-stream deployment merges). Stream==batch on both the bins
    * and the extracted quantiles is asserted in StreamingSpec. */
  def histogramBinsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"),
        graft.queries.EventOps.histBin(col("value")).as("bin"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("bin"), col("c"))

  // --------------------------------------- streaming count-min sketch
  /** Streaming twin of the q122 Count-Min sketch: the counter matrix as
    * a running streaming aggregate. No window and no watermark — the
    * sketch's whole point is that its state is the FIXED 4×256 counter
    * matrix (elementwise-sum mergeable), so complete-mode output stays
    * ≤1 024 rows no matter how many documents arrive; the map-side
    * partial sums that make the batch form one cheap shuffle are
    * exactly what the state store folds here. Stream==batch (identical
    * matrices once all fixtures have arrived) is asserted in
    * StreamingSpec. */
  def cmSketchStream(docs: DataFrame): DataFrame =
    graft.queries.TextOps.cmBuckets(docs)
      .groupBy(col("hrow"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  // ------------------------------------------- streaming HLL registers
  /** Streaming twin of the q114 HLL-family register sketch: the
    * (source, register) → min(tail) table as a running complete-mode
    * aggregate over a (source, text) stream. State is the fixed
    * ≤64·|sources| register table — min is the sketch's merge
    * operator, so folding arriving batches into state IS the
    * elementwise-min mergeability the batch form exploits map-side.
    * Stream==batch plus the merge law (whole == elementwise min of
    * per-chunk sketches) are property-asserted in SketchTwinLawsSpec. */
  def hllRegistersStream(docs: DataFrame): DataFrame =
    graft.queries.TextOps.hllRegistersOf(docs)

  // ------------------------------------- stream-stream interval join
  /** Typed ingest rows for the two attribution streams (column names
    * are what [[attributionPairsStream]]'s join condition references). */
  final case class ClickIn(c_id: Long, c_user: Long,
      c_ts: java.sql.Timestamp)
  final case class PurchaseIn(p_id: Long, p_user: Long,
      p_ts: java.sql.Timestamp)

  /** Streaming twin of the q108 attribution pairs — the STREAM-STREAM
    * join surface (every other streaming query here is stream-static
    * or single-input stateful): clicks and purchases arrive as two
    * independent streams, Spark buffers BOTH sides in state, and the
    * event-time range condition plus the two watermarks let it expire
    * that state — a click older than `p_ts - 600s` below the purchase
    * watermark can never match a future purchase, so the engine drops
    * it (watermark-bounded state, no unbounded buffering; the same
    * bucket decomposition q108 makes explicit in batch is what the
    * state store does internally here).
    *
    * Emits the raw (p_id, c_id) candidate pairs; the per-purchase
    * rollup stays sink-side (the retention-twin split — chaining a
    * second stateful aggregate after a stream-stream join constrains
    * output modes, and the zero-click purchases of q108's left rollup
    * need a purchases-only pass anyway). Inner join: Structured
    * Streaming requires watermarks + a two-sided event-time range for
    * exactly this shape. Stream==batch vs attributionPairsOf on the
    * shared fixture is asserted in StreamingSpec. */
  /** `joinType` "leftOuter" adds the deferred-emission semantic: a
    * purchase with NO in-window click emits (p_id, NULL) — but only
    * once the watermark proves no matching click can still arrive
    * (the engine holds the row until the join window is closed on
    * both sides). That timing rule is the outer join's entire
    * difference from batch, and StreamingSpec asserts it: no null row
    * before the watermark passes the window, exactly one after. */
  def attributionPairsStream(clicks: DataFrame, purchases: DataFrame,
      joinType: String = "inner"): DataFrame = {
    // the batch core's window constant — one definition, no drift
    val w = graft.queries.EventOps.attrWindowS
    val c = clicks.withWatermark("c_ts", "30 seconds")
    val p = purchases.withWatermark("p_ts", "30 seconds")
    p.join(c,
      expr(s"""p_user = c_user
             |AND c_ts >= p_ts - interval $w seconds
             |AND c_ts < p_ts""".stripMargin), joinType)
      .select(col("p_id"), col("c_id"))
  }

  // ------------------------------------------------------------- sinks
  /** foreachBatch with per-batch top-k — the reference's plot callback
    * replaced by a structured sink (SURVEY §2.2). */
  def foreachBatchTopK(df: DataFrame, qLat: Double, qLon: Double, k: Int,
      mode: String = "complete")(
      consume: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream.outputMode(mode)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        consume(nearestK(batch, qLat, qLon, k), id)
      }.start()

  /** Parquet streaming sink with checkpoint — the durable variant the
    * reference never configured (SURVEY §2.12 "checkpointing: none").
    * One definition of the sink recipe: [[toPartitionedParquet]] rides
    * the optional `partitionCol`. */
  def toParquet(df: DataFrame, path: String, checkpoint: String,
      partitionCol: Option[String] = None): StreamingQuery = {
    val w = df.writeStream.outputMode("append").format("parquet")
    partitionCol.foreach(c => w.partitionBy(c))
    w.option("path", path).option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
  }

  /** Partition-laid-out streaming parquet sink — the durable half of
    * the streaming ANN-index maintenance story (VERDICT r4 #4): wire
    * [[annIndexStream]]'s (vec_id, cell, code) rows here with
    * `partitionCol = "cell"` and arriving vectors APPEND into the same
    * cell-directory layout [[graft.queries.VectorOps.ivfPqWriteIndex]]
    * writes in batch — `ivfPqSearchIndexed` keeps partition-pruning its
    * probes over the growing table, no rebuild (parameters are
    * data-independent; lay them down once via
    * [[graft.queries.VectorOps.writeIndexParams]]).
    *
    * Small-files note: each micro-batch writes ≤1 file per touched
    * cell, so a long-running appender accumulates files/cell ≈
    * micro-batch count — on segment seal, run
    * [[graft.queries.VectorOps.compactIndex]] (implemented round 6:
    * one-file-per-cell rewrite + atomic directory swap; search answers
    * proven identical before/after in SinkSemanticsSpec). Compaction
    * is an I/O rewrite only: codes are stateless facts, so no
    * recompute and no read downtime (readers stay on the old path
    * until the swap). */
  def toPartitionedParquet(df: DataFrame, path: String, checkpoint: String,
      partitionCol: String): StreamingQuery =
    toParquet(df, path, checkpoint, Some(partitionCol))

  /** Streaming UPSERT into a persisted chunk index (VERDICT r10 #1's
    * missing half): arriving (doc_id, text) documents chunk map-side
    * ([[graft.queries.PipelineOps.ragChunkTextsOf]] — the q144 lift
    * verbatim), fingerprint, and land in the index at `indexPath`
    * under q145's "index once, point many" rule — a chunk whose
    * fingerprint the index already holds is a POINTER, not a new index
    * row, so only novel chunks are vectorized, coded and appended.
    *
    * Per micro-batch (foreachBatch — the upsert needs to SEE its own
    * earlier appends, which a plain streaming sink cannot):
    *  1. within-batch canonicalization: q145's exact min(doc_id,
    *     chunk_idx) struct rule picks one occurrence per fingerprint;
    *  2. anti-join against the STORED fingerprint column (re-read per
    *     batch, so batch N dedups against batches 1..N−1's appends and
    *     the original build — reading the fingerprint column only);
    *  3. [[graft.queries.VectorOps.chunkIndexRowsOf]] codes the
    *     survivors (bit-identical to the batch build — stateless
    *     quantizers) and appends them cell-partitioned.
    *
    * Failure semantics: a replayed batch re-runs the anti-join, so
    * rows that already landed are skipped — the fingerprint key makes
    * replays idempotent at upsert granularity (the at-least-once
    * foreachBatch caveat neutralized by the upsert itself). The
    * small-files debt is [[graft.queries.VectorOps.compactIndex]]'s
    * job, same as the doc-level appender. Requires the index to exist
    * (the deployment shape: [[graft.queries.VectorOps.chunkWriteIndex]]
    * builds it once; the stream maintains it). */
  /** Streaming UPSERT into the persisted POSTING index — the lexical
    * sibling of [[chunkIndexUpsertStream]], completing the BM25
    * serving loop ([[graft.queries.TextOps.postingWriteIndex]] builds,
    * this maintains, [[graft.queries.TextOps.bm25SearchIndexed]]
    * serves). Arriving documents' postings are doc-LOCAL rows (tf and
    * first_pos never depend on other documents — the reason an
    * inverted index appends cleanly), so each micro-batch:
    *
    *  1. anti-joins the doc-id MANIFEST sibling (not the index — no
    *     full posting scan per batch) so replays and duplicate
    *     deliveries never double-index a document;
    *  2. computes the novel docs' postings with the SAME
    *     [[graft.queries.TextOps.invertedIndexOf]] lift as the batch
    *     build (df column dropped — the stored layout is df-free, df
    *     re-derives at search time, which is what keeps appends O(new
    *     postings) instead of O(term's postings));
    *  3. appends postings bucket-partitioned FIRST, then extends the
    *     manifest. A crash between the two replays the batch with its
    *     postings already landed: the doc's tf doubles until a
    *     (term, doc_id) compaction dedups it — detectable and
    *     repairable. The reverse order would instead mark docs indexed
    *     whose postings never landed: silent loss, the unrepairable
    *     failure. At-least-once residue chosen accordingly.
    *
    * Search results over the maintained index equal a from-scratch
    * batch rebuild on the grown corpus — asserted in
    * PostingIndexSpec across a two-batch split. */
  def postingUpsertStream(docs: DataFrame, indexPath: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        postingAppendBatch(batch, indexPath)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()

  /** ONE append body for the posting index, shared verbatim by the
    * streaming upsert above and the composed ingest tick
    * ([[graft.IngestMain]]) — the stream==batch sharing rule applied
    * to index maintenance. Returns (novel docs, posting rows)
    * appended, for the caller's reconciliation; the stream discards
    * them. */
  private[graft] def postingAppendBatch(batch: DataFrame,
      indexPath: String): (Long, Long) = {
    val spark = batch.sparkSession
    import spark.implicits._
    import graft.queries.TextOps
    val indexed = spark.read.parquet(s"$indexPath/docs")
    val novel = batch.select($"doc_id", $"text")
      .join(indexed, Seq("doc_id"), "left_anti")
      .persist()
    val postings = TextOps.invertedIndexOf(novel)
      .select($"term", $"doc_id", $"tf", $"first_pos")
      .withColumn("bucket", TextOps.postingBucket($"term"))
      .persist()
    // materialize BOTH caches BEFORE any write: `novel` reads the
    // manifest it is about to extend, so an unmaterialized cache
    // re-evaluated after the append sees its own output and reports
    // zero novel docs (caught by IngestMain's first reconciliation
    // run — the grown-vs-appended check exists for exactly this class
    // of self-read)
    val counts = (novel.count(), postings.count())
    postings
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$indexPath/postings")
    novel.select($"doc_id").write.mode("append")
      .parquet(s"$indexPath/docs")
    novel.unpersist(blocking = false)
    postings.unpersist(blocking = false)
    counts
  }

  def chunkIndexUpsertStream(docs: DataFrame, indexPath: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        chunkAppendBatch(batch, indexPath)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()

  /** The chunk append body ([[postingAppendBatch]]'s sibling) lives
    * with the index owner — [[graft.queries.VectorOps.chunkAppendBatch]]
    * — because the take-down path
    * ([[graft.queries.VectorOps.deleteFromChunkIndex]]) re-offers
    * through it too; this delegate keeps the streaming call site. */
  private[graft] def chunkAppendBatch(batch: DataFrame,
      indexPath: String): Long =
    graft.queries.VectorOps.chunkAppendBatch(batch, indexPath)

  /** Ingest-time incremental k-NN-graph maintenance — q202's routing
    * body per micro-batch: arriving (vec_id, embedding) rows route the
    * PERSISTED standing-corpus graph (`indexPath/edges`, written once
    * over the non-delta rows) and their ranked adjacency lands under
    * `indexPath/edges_delta/batch=<id>` with OVERWRITE — the
    * idempotent-foreachBatch sink device: a checkpoint replay of batch
    * b rewrites the same directory, so retries converge and a
    * crash-torn write is cleaned by its own retry (no manifest
    * needed). `corpus` is passed explicitly and FROZEN, like the
    * scorer model: the standing side of an incremental tick does not
    * move under the stream. A vector re-sent in a DIFFERent batch
    * duplicates its adjacency across batch directories — bit-identical
    * rows, which [[graft.queries.KnnGraphOps.compactGraphIndex]]'s
    * pair-keyed MAX absorbs as a pure dedup (the calibratedScorerJoined
    * replay note, now with the absorbing maintenance job built). */
  def graphInsertStream(vecs: DataFrame, corpus: DataFrame,
      indexPath: String, checkpoint: String): StreamingQuery = {
    // bucket modulus frozen at stream definition, exactly like
    // graphSearchStream's: the standing corpus does not move under an
    // incremental tick, so paying an O(corpus) count() per micro-batch
    // (the path documented as per-delta cost) bought nothing
    val nBuckets = math.max(1L,
      corpus.count() / graft.queries.KnnGraphOps.SeedBucketSize)
    vecs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graphInsertBatch(batch, corpus, indexPath, batchId, nBuckets); ()
      }
      .trigger(Trigger.AvailableNow()).start()
  }

  /** Writes the batch's FORWARD adjacency (delta → corpus, q202's
    * rows, `rev = false`) plus its REVERSE twins (corpus → delta,
    * `rev = true`) — the HNSW bidirectional-link insert. The reverse
    * rows are what make an inserted vector SEARCHABLE: without them it
    * exists only as a route SOURCE (no in-edge reaches it), invisible
    * to every in-corpus route until a full rebuild — the posting/chunk
    * indexes' append-then-find contract, restored for the graph.
    * A hub corpus node accumulating reverse rows across batches is
    * re-capped to k at the next compaction's top-k window (the
    * HNSW degree bound, applied at absorb time); serving reads between
    * compactions see the uncapped union, which only ADDS candidates.
    * Returns the forward row count (q202's contract).
    *
    * `nBuckets` ≤ 0 (the one-shot-batch default) derives the bucket
    * modulus from `corpus` here; [[graphInsertStream]] hoists that
    * count to stream definition and threads it through, so the
    * per-micro-batch body never rescans the standing corpus. */
  private[graft] def graphInsertBatch(batch: DataFrame, corpus: DataFrame,
      indexPath: String, batchId: Long, nBuckets: Long = -1L): Long = {
    val spark = batch.sparkSession
    import spark.implicits._
    import graft.queries.KnnGraphOps
    val edges = spark.read.parquet(s"$indexPath/edges")
    val nb = if (nBuckets > 0) nBuckets
      else math.max(1L, corpus.count() / KnnGraphOps.SeedBucketSize)
    val routed = KnnGraphOps.deltaRouteOf(batch, corpus, edges, nb)
      .persist()
    val n = routed.count()
    val reverse = routed.select($"nb_id".as("vec_id"), $"rank",
      $"vec_id".as("nb_id"), $"sim", lit(true).as("rev"))
    routed.withColumn("rev", lit(false)).unionByName(reverse)
      .write.mode("overwrite")
      .parquet(s"$indexPath/edges_delta/batch=$batchId")
    routed.unpersist(blocking = false)
    n
  }

  /** Streaming OUT-OF-CORPUS graph search — q205 with the query table
    * replaced by a query STREAM (the annLookupStream/annServeStream
    * serving shape applied to the graph index): each arriving
    * (query_id, embedding) buckets statelessly with the build's exact
    * salted-hash arithmetic
    * ([[graft.queries.KnnGraphOps.seedBucketCol]]), equi-joins the
    * STATIC corpus bucket table for its entry points, expands
    * RouteHops times through the PERSISTED edge table (stream-static
    * point-lookup equi-joins — the index is the write-once artifact,
    * queries are traffic), scores the visited candidates with the
    * codegen cosine, and emits the per-query top-k as a watermarked
    * windowed aggregate. Emits (query_id, window_start, topk) where
    * topk is the ascending (neg_sim, null_rank, vec_id) top-k —
    * q205's ranking exactly (sim desc with NULLS LAST, the -inf
    * zero-norm demotion above a ragged-dot NULL, id asc; a null
    * struct FIELD would sort FIRST ascending, hence the coalesce to
    * +inf plus the explicit null_rank tie-field), asserted stream ==
    * batch in StreamingSpec.
    *
    * Path-duplicate candidates (one node reached via several hops) are
    * scored per path-row — a streaming frame cannot mid-plan
    * distinct — and deduped INSIDE the aggregate by array_distinct on
    * bit-identical structs; the ≤ 2·bucket·(1+k+k²
    * +k³) path-row bound per query is unchanged. Corpus count (bucket
    * modulus), bucket table, and edge table are frozen at stream
    * definition — the standing side of a serving stream does not move
    * under it (the graphInsertStream contract). */
  def graphSearchStream(queries: DataFrame, corpus: DataFrame,
      indexPath: String, k: Int = 5, eventTime: String = "event_ts",
      delay: String = "10 seconds"): DataFrame =
    graphSearchStreamWithCleanup(queries, corpus, indexPath, k,
      eventTime, delay)._1

  /** [[graphSearchStream]] plus an unpersist handle for the three
    * frames it caches for the stream's lifetime (corpus buckets, edge
    * table, corpus embeddings — all stream-static point-lookup sides).
    * A long-lived server that stops the query calls the handle to
    * release the blocks; the convenience overload above leaves them
    * cached for the session, which is correct for a serve-forever
    * stream but leaked memory for anything that cycles streams
    * (ADVICE r15). */
  def graphSearchStreamWithCleanup(queries: DataFrame, corpus: DataFrame,
      indexPath: String, k: Int = 5, eventTime: String = "event_ts",
      delay: String = "10 seconds",
      salts: Seq[String] = graft.queries.KnnGraphOps.SeedSalts)
      : (DataFrame, () => Unit) = {
    import graft.queries.KnnGraphOps
    import graft.functions.VectorExpressions.cosine
    val spark = corpus.sparkSession
    val nBuckets = math.max(1L,
      corpus.count() / KnnGraphOps.SeedBucketSize)
    // entry width is a pure query-side knob here exactly as in batch
    // q209: the corpus bucket table below is computed at stream
    // definition under the SAME salt list, the standing graph is
    // untouched (the wide-entry serving option on the stream surface)
    val cb = KnnGraphOps.seedBuckets(
        corpus.select(col("vec_id"), col("embedding")), nBuckets, salts)
      .select(col("salt"), col("bk"), col("vec_id").as("c_id"))
      .persist()
    val edges = KnnGraphOps.readGraphEdges(spark, indexPath)
      .select(col("a_id").as("hop_src"), col("b_id")).persist()
    val cemb = corpus.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb")).persist()
    val probed = queries.withWatermark(eventTime, delay)
      .select(col("query_id"), col(eventTime), col("embedding"))
      .withColumn("salt", explode(array(salts.map(lit(_)): _*)))
      .withColumn("bk",
        KnnGraphOps.seedBucketCol(col("query_id"), col("salt"), nBuckets))
    val entry = probed.join(cb, Seq("salt", "bk"))
      .select(col("query_id"), col(eventTime), col("embedding"),
        col("c_id"))
    def expand(f: DataFrame): DataFrame =
      f.withColumnRenamed("c_id", "hop_src")
        .join(edges, "hop_src")
        .select(col("query_id"), col(eventTime), col("embedding"),
          col("b_id").as("c_id"))
    val frontiers = Iterator.iterate(entry)(expand)
      .take(KnnGraphOps.RouteHops + 1).toSeq
    val out = frontiers.reduce(_ union _)
      .join(cemb, "c_id")
      // nanvl first: a zero-norm candidate (NaN → -inf) must sort
      // last, not NaN-top; a WRONG-DIM candidate's cosine is NULL
      // (ragged dot) and must sort after even the -inf demotion — but
      // a null struct FIELD sorts FIRST ascending, so nulls are
      // coalesced to +inf with an explicit null_rank tie-field:
      // ascending (neg_sim, null_rank, vec_id) = batch q205's exact
      // order (sim desc NULLS LAST, -inf above null, id asc)
      .withColumn("sim",
        nanvl(cosine(col("embedding"), col("c_emb")),
          lit(Double.NegativeInfinity)))
      .groupBy(col("query_id"), window(col(eventTime), "1 minute"))
      .agg(slice(array_distinct(array_sort(collect_list(struct(
        coalesce(-col("sim"), lit(Double.PositiveInfinity))
          .as("neg_sim"),
        col("sim").isNull.cast("int").as("null_rank"),
        col("c_id").as("vec_id"))))), 1, k)
        .as("topk"))
      .select(col("query_id"), col("window.start").as("window_start"),
        col("topk"))
    (out, () => {
      cb.unpersist(blocking = false)
      edges.unpersist(blocking = false)
      cemb.unpersist(blocking = false)
    })
  }
}
