package graft.streaming

import graft.SparkSuite
import graft.reference.{Fixtures, Schemas}
import graft.sources.{Tables, TopicSource}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming-semantics tests (SURVEY.md §5.3): MemoryStream +
  * processAllAvailable exercise watermark drop, append-mode window
  * close, complete-mode re-emission, streaming dedup, and the stateful
  * sessionizer — all hermetic, no Kafka. */
class StreamingSpec extends SparkSuite {

  private def lift(ms: MemoryStream[String],
      schema: org.apache.spark.sql.types.StructType,
      asArray: Boolean = false) =
    TopicSource.lift(ms.toDF().withColumnRenamed("value", "value"),
      schema, asArray = asArray)

  test("wind: streaming dedup + append-mode window close under watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val q = StreamingQueries.windRollingAvg(lift(ms, Schemas.wind))
      .writeStream.outputMode("append").format("memory")
      .queryName("wind_out").start()
    def rec(t: String, id: Int, v: String) = {
      val vs = if (v == null) "null" else "\"" + v + "\""
      s"""{"created_at": "$t", "entry_id": $id, "wind_speed": $vs}"""
    }
    // window [16:00,16:05): two readings + one duplicate entry_id + a null
    ms.addData(
      rec("2025-01-25T16:03:11", 1, "4.0"),
      rec("2025-01-25T16:04:02", 2, "6.0"),
      rec("2025-01-25T16:04:30", 2, "99.0"), // dup entry_id -> dropped
      rec("2025-01-25T16:04:40", 3, null))   // null speed -> filtered
    q.processAllAvailable()
    // advance watermark far past the window to force append emission
    ms.addData(rec("2025-01-25T16:20:00", 9, "1.0"))
    q.processAllAvailable()
    val out = spark.table("wind_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getDouble(1), r.getLong(2)))
    q.stop()
    assert(out.toSeq == Seq(("2025-01-25 16:00:00.0", 5.0, 2L)))
  }

  test("bus positions: streaming result equals batch golden") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val q = StreamingQueries
      .busPositions(lift(ms, Schemas.busPosition), Fixtures.route)
      .writeStream.outputMode("append").format("memory")
      .queryName("pos_out").start()
    ms.addData(Fixtures.busReadingsJson: _*)
    q.processAllAvailable()
    // close both windows
    ms.addData(
      """{"sens": 1, "terminus": "T", "infotrafic": false, "temps": "9mn",
         "tempsReel": "true", "stop": "HBLI", "numLigne": "C6",
         "created_at": "2025-03-25T14:30:00"}""".replaceAll("\n\\s*", " "))
    q.processAllAvailable()
    val got = spark.table("pos_out").collect()
      .map(r => (r.getTimestamp(0).toString.substring(0, 19), r.getInt(1),
        r.getString(2), r.getBoolean(3))).toSet
    q.stop()
    assert(got == Set(
      ("2025-03-25 14:05:00", 1, "HBLI|BRTE", false),
      ("2025-03-25 14:05:00", 1, "CDCL", true),
      ("2025-03-25 14:05:00", 1, "SMTD|HERM", false),
      ("2025-03-25 14:06:00", 2, "FMIT", true),
      ("2025-03-25 14:06:00", 2, "GMAR|CRQU", false)))
  }

  test("bike shelters: complete-mode re-emission + foreachBatch top-k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val agg = StreamingQueries.bikeShelterAgg(
      lift(ms, Schemas.bikeStation, asArray = true))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q = StreamingQueries.foreachBatchTopK(
      agg, Fixtures.q4Lat, Fixtures.q4Lon, 3) { (topk, _) =>
      buf.synchronized {
        buf ++= topk.collect().map(r =>
          (r.getAs[String]("name"), r.getAs[Long]("rank")))
      }
    }
    ms.addData(Fixtures.bikeJson: _*)
    q.processAllAvailable()
    q.stop()
    val last = buf.toSeq
    assert(last.contains(("Lieu Unique", 1L)))
    assert(last.contains(("Gare Nord", 2L)))
    assert(last.contains(("CRCY", 3L)))
    assert(!last.exists(_._1 == "Zenith"))
  }

  test("sessionize streaming: closed sessions emit once across batches, " +
    "state stays bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StreamingQueries.SEvent]
    val q = StreamingQueries.sessionize(ms.toDS(), gapS = 100L,
      emitOpen = false)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_out").start()
    // batch 1: one session forming for user 7
    ms.addData(StreamingQueries.SEvent(7L, 1000L, 1L),
      StreamingQueries.SEvent(7L, 1050L, 2L))
    q.processAllAvailable()
    assert(spark.table("sess_out").count() == 0) // still open, not emitted
    // batch 2: a far-future event closes session 1, opens session 2
    ms.addData(StreamingQueries.SEvent(7L, 5000L, 3L))
    q.processAllAvailable()
    val rows = spark.table("sess_out").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    q.stop()
    // exactly one emission of the closed session (idx 1, 2 events, 50 s)
    assert(rows.toSeq == Seq((1L, 2L, 1000L, 50L)))
  }

  test("sliding windows stream == batch on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = ms.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "2 minutes", "1 minute"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("ws"), $"event_type", $"n")
      .writeStream.outputMode("append").format("memory")
      .queryName("slide_out").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    ms.addData(
      (t("2025-01-25 16:00:10"), "click", 1.0),
      (t("2025-01-25 16:01:20"), "click", 1.0))
    q.processAllAvailable()
    ms.addData((t("2025-01-25 16:30:00"), "view", 1.0)) // advance watermark
    q.processAllAvailable()
    val got = spark.table("slide_out").collect()
      .map(r => (r.getTimestamp(0).toString.substring(0, 19), r.getString(1),
        r.getLong(2))).toSet
    q.stop()
    // event@16:00 -> windows 15:59+16:00; event@16:01 -> 16:00+16:01
    assert(got == Set(
      ("2025-01-25 15:59:00", "click", 1L),
      ("2025-01-25 16:00:00", "click", 2L),
      ("2025-01-25 16:01:00", "click", 1L)))
  }

  test("streaming exact dedup == batch q40 survivors on the same docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // three unique texts + two normalization-equal duplicates (case /
    // punctuation differences must collapse to the same fingerprint)
    val rows = Seq(
      (1L, "the quick brown fox", t("2025-01-25 16:00:01")),
      (2L, "lazy dogs sleep all day", t("2025-01-25 16:00:02")),
      (3L, "an entirely different text", t("2025-01-25 16:00:03")),
      // dup of 1: case + interior punctuation collapse to one space
      // (trailing punctuation would NOT be a dup — it normalizes to a
      // trailing space; the fingerprint deliberately does not trim)
      (4L, "The QUICK,  brown fox", t("2025-01-25 16:00:04")),
      (5L, "lazy dogs... sleep ALL day", t("2025-01-25 16:00:05")), // dup of 2
      (6L, "one more unique document", t("2025-01-25 16:00:06")))
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingQueries.exactDedupStream(
        ms.toDF().toDF("doc_id", "text", "ingest_ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    // two micro-batches, arrival order = doc_id order (the equivalence
    // precondition documented on exactDedupStream)
    ms.addData(rows.take(3): _*)
    q.processAllAvailable()
    ms.addData(rows.drop(3): _*)
    q.processAllAvailable()
    val streamed = spark.table("dedup_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    q.stop()
    // batch twin: identical fingerprint expression, min doc_id survivor
    val batch = rows.toDF("doc_id", "text", "ingest_ts")
      .withColumn("fingerprint",
        graft.queries.DedupOps.fingerprintExpr($"text"))
      .groupBy($"fingerprint").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id", $"fingerprint").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch)
    assert(streamed.map(_._1) == Set(1L, 2L, 3L, 6L))
  }

  test("streaming training-corpus admission == batch gates + dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // admitted: en, 5 tokens, 1 stopword (20 >= 5)
      (1L, "the quick brown fox jumps", "en", t("2025-01-25 16:00:01")),
      // rejected: wrong language
      (2L, "the quick brown fox jumps", "fr", t("2025-01-25 16:00:02")),
      // rejected: under 5 tokens
      (3L, "the brown fox", "en", t("2025-01-25 16:00:03")),
      // rejected: zero stopwords
      (4L, "quick brown foxes jump high", "en", t("2025-01-25 16:00:04")),
      // admitted
      (5L, "a lazy dog sleeps all day long", "en", t("2025-01-25 16:00:05")),
      // passes the gates (lowercase 'the' keeps the stopword count — a
      // capitalized 'The' would be gate-rejected and never reach dedup
      // state, leaving the dedup path untested) but is rejected by
      // DEDUP: case/punctuation-normalization-equal to doc 1
      (6L, "the QUICK,  brown fox jumps", "en", t("2025-01-25 16:00:06")),
      // admitted, second micro-batch
      (7L, "one more of the good documents", "en", t("2025-01-25 16:00:07")))
    val ms = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val q = StreamingQueries.trainingIngestStream(
        ms.toDF().toDF("doc_id", "text", "lang", "ingest_ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ingest_out").start()
    ms.addData(rows.take(5): _*)
    q.processAllAvailable()
    ms.addData(rows.drop(5): _*)
    q.processAllAvailable()
    val streamed = spark.table("ingest_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    // batch twin: same shared gate lift, min-doc_id fingerprint survivor
    val batch = graft.queries.PipelineOps.qualityGate(
        rows.toDF("doc_id", "text", "lang", "ingest_ts"))
      .withColumn("fingerprint",
        graft.queries.DedupOps.fingerprintExpr($"text"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"fingerprint").orderBy($"doc_id")))
      .filter($"rn" === 1)
      .select($"doc_id", $"n_tokens".cast("long").as("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.map(_._1) == Set(1L, 5L, 7L))
    // the dedup stage must have done real work: doc 6 passes the gates
    // (asserted here) and only the fingerprint dedup removes it
    val gated = graft.queries.PipelineOps.qualityGate(
        rows.toDF("doc_id", "text", "lang", "ingest_ts"))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(gated == Set(1L, 5L, 6L, 7L))
  }

  test("streaming ANN-index maintenance == batch index on the same vectors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf0001 = "/root/testdata/sf0.001"
    // real embeddings through the stream, batch twin over the same rows
    val rows = graft.sources.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding").limit(7).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = StreamingQueries.annIndexStream(
        ms.toDF().toDF("vec_id", "embedding"))
      .writeStream.outputMode("append").format("memory")
      .queryName("annidx_out").start()
    ms.addData(rows.take(4): _*)
    ms.addData(rows.drop(4): _*)
    q.processAllAvailable()
    val streamed = spark.table("annidx_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    q.stop()
    val ids = rows.map(_._1).toSet
    val batch = graft.queries.VectorOps.annIndexTable(spark, sf0001)
      .filter($"vec_id".isin(ids.toSeq: _*)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.size == 7)
  }

  test("streaming scorer fold == batch q72 join+aggregate on the same docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf0001 = "/root/testdata/sf0.001"
    val batch = graft.queries.PipelineOps.hashedScore(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val feed = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = StreamingQueries.scoreStream(ms.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("score_out").start()
    ms.addData(feed: _*)
    q.processAllAvailable()
    val streamed = spark.table("score_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(streamed == batch)
    assert(streamed.size == feed.length)
  }

  test("streaming posting maintenance == batch q87 minus df") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf0001 = "/root/testdata/sf0.001"
    val batch = graft.queries.TextOps.invertedIndex(spark, sf0001)
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("tf"), r.getAs[Long]("first_pos"))).toSet
    val feed = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = StreamingQueries.postingStream(ms.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("posting_out").start()
    ms.addData(feed: _*)
    q.processAllAvailable()
    val streamed = spark.table("posting_out").collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("tf"), r.getAs[Long]("first_pos"))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming PII redaction == batch projection on dirty docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val feed = Seq(
      (1L, "mail alice.b+x@host.example.org or +1-555-0137 now"),
      (2L, "from 192.168.0.1 nothing else"),
      (3L, "clean text, no pii at all"),
      (4L, "bob@x.io at 127.0.0.1 dials +44-201-4455"))
    val batch = graft.queries.PipelineOps.piiProjection(
        feed.toDF("doc_id", "text"), $"text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val ms = MemoryStream[(Long, String)]
    val q = StreamingQueries.redactStream(ms.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("redact_out").start()
    ms.addData(feed: _*)
    q.processAllAvailable()
    val streamed = spark.table("redact_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    q.stop()
    assert(streamed == batch)
    assert(streamed.size == feed.length)
    assert(streamed.forall { case (_, _, _, _, red) => !red.contains("@") })
  }

  test("streaming span flagger == batch window-join on re-ingested docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf0001 = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    // batch truth: each corpus doc's windows hit against the corpus's
    // cross-doc duplicated-gram set
    val batchHits = graft.queries.DedupOps.spanWindows(corpus, 8)
      .join(graft.queries.DedupOps.dupNgramsOf(corpus, 8).select($"gram"),
        "gram")
      .select($"doc_id", $"gram").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(batchHits.nonEmpty, "corpus has no duplicated spans to re-ingest")
    // re-ingest a few docs that carry duplicated spans plus one that
    // carries none (it must stay silent)
    val spanDocIds = batchHits.map(_._1).take(3)
    val loneId = corpus.select($"doc_id").collect().map(_.getLong(0))
      .find(id => !batchHits.exists(_._1 == id)).get
    val streamIds = spanDocIds + loneId
    val feed = corpus.filter($"doc_id".isin(streamIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingQueries.spanFlagStream(
        ms.toDF().toDF("doc_id", "text", "ingest_ts"), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("spanflag_out").start()
    ms.addData(feed.map { case (id, txt) =>
      (id, txt, java.sql.Timestamp.valueOf("2025-01-25 16:00:01")) }: _*)
    q.processAllAvailable()
    val streamed = spark.table("spanflag_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    q.stop()
    assert(streamed == batchHits.filter(h => streamIds.contains(h._1)))
    assert(streamed.map(_._1) == spanDocIds)
  }

  test("streaming near-dup flagger == batch LSH pairs on re-ingested docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf0001 = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    // batch truth: the verified J>=0.5 pair set over the corpus
    val batchPairs = graft.queries.DedupOps.minhashLsh(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(batchPairs.nonEmpty, "corpus has no near-dup pairs to re-ingest")
    // re-ingest: the a-side docs of the first three pairs (each must be
    // flagged against its surviving corpus twin) plus one doc that is
    // nobody's near-dup (must NOT be flagged)
    val dupIds = batchPairs.take(3).map(_._1).distinct.toSeq
    val pairedIds = batchPairs.flatMap(p => Seq(p._1, p._2)).toSet
    val loneId = corpus.select($"doc_id").collect().map(_.getLong(0))
      .find(!pairedIds.contains(_)).get
    val streamIds = (dupIds :+ loneId).toSet
    val feed = corpus.filter($"doc_id".isin(streamIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingQueries.nearDupFlagStream(
        ms.toDF().toDF("doc_id", "text", "ingest_ts"), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    ms.addData(feed.map { case (id, txt) =>
      (id, txt, java.sql.Timestamp.valueOf("2025-01-25 16:00:01")) }: _*)
    q.processAllAvailable()
    val streamed = spark.table("neardup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    // expectation from the batch pair set: for each re-ingested doc s,
    // every corpus doc c != s with J >= 0.5 — pairs are stored (min,max),
    // so read them in both directions
    val expected = batchPairs.flatMap { case (a, b, j) =>
      (if (streamIds.contains(a)) Seq((a, b, j)) else Nil) ++
        (if (streamIds.contains(b)) Seq((b, a, j)) else Nil)
    }.toSet
    assert(streamed == expected)
    assert(!streamed.exists(_._1 == loneId))
    assert(streamed.nonEmpty)
  }

  test("streaming decon flagger == batch q126 verdicts on re-ingested docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf0001 = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    // the row-local vectorizer must be bit-identical to the batch
    // two-groupBy lift — the equivalence everything below rides on
    val batchVecs = graft.queries.VectorOps
      .docVectorsOf(graft.queries.PipelineOps.featureHashOf(corpus))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val rowVecs = corpus.filter($"text".isNotNull)
      .select($"doc_id",
        graft.queries.VectorOps.rowDocVector($"text").as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rowVecs == batchVecs)
    // batch truth: the q126 verdict frame over the same corpus
    val verdicts = graft.queries.VectorOps.semanticDecon(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    val contaminated = verdicts.filter(_._2).keys.toSeq.sorted
    assert(contaminated.nonEmpty, "corpus has no contaminated docs to re-ingest")
    // re-ingest three contaminated train docs plus one clean one
    val cleanId = verdicts.filter(!_._2).keys.head
    val streamIds = (contaminated.take(3) :+ cleanId).toSet
    val feed = corpus.filter($"doc_id".isin(streamIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingQueries.deconFlagStream(
        ms.toDF().toDF("doc_id", "text", "ingest_ts"), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("decon_out").start()
    ms.addData(feed.map { case (id, txt) =>
      (id, txt, java.sql.Timestamp.valueOf("2025-01-25 16:00:01")) }: _*)
    q.processAllAvailable()
    val streamed = spark.table("decon_out").collect()
      .map(_.getLong(0)).toSet
    q.stop()
    assert(streamed == contaminated.take(3).toSet)
    assert(!streamed.contains(cleanId))
  }

  test("streaming ANN lookup == driver-side SRP probe argmax") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf0001 = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding")
    // driver-side expectation: buckets from the SAME integer-exact lift,
    // candidates = probe buckets within hamming 1, argmax by cosine
    val buckets = graft.queries.VectorOps.withSrpBucket(corpus)
      .select($"vec_id", $"bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += (a(i) * b(i)).toDouble
        na += (a(i) * a(i)).toDouble; nb += (b(i) * b(i)).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val qIds = Seq(0L, 7L, 13L)
    val expected = qIds.map { qid =>
      val nn = vecs.keys.toSeq
        .filter(c => c != qid &&
          java.lang.Long.bitCount(buckets(c) ^ buckets(qid)) <= 1)
        .map(c => (c, cos(vecs(qid), vecs(c))))
        .sortBy { case (id, s) => (-s, id) }.head._1
      qid -> nn
    }.toMap
    val ms = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val q = StreamingQueries.annLookupStream(
        ms.toDF().toDF("query_id", "embedding", "event_ts"), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("ann_out").start()
    val t0 = java.sql.Timestamp.valueOf("2025-01-25 16:00:01")
    ms.addData(qIds.map(id => (id, vecs(id).toSeq, t0)): _*)
    q.processAllAvailable()
    // advance the watermark past the window so append mode emits it
    ms.addData((999999L, vecs(0L).toSeq,
      java.sql.Timestamp.valueOf("2025-01-25 16:05:00")))
    q.processAllAvailable()
    val got = spark.table("ann_out").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    q.stop()
    assert(qIds.forall(id => got.get(id) == expected.get(id)),
      s"got=$got expected=$expected")
  }

  test("streaming hard-negative lookup == batch q134 rank 1") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf0001 = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding", $"label")
    // batch expectation: q134's rank-1 row per anchor — the stream
    // replays three corpus vectors as arrivals, so their hardest
    // negative must match the batch miner exactly
    val rank1 = graft.queries.VectorOps.hardNegatives(spark, sf0001)
      .filter($"rank" === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val qIds = rank1.keys.toSeq.sorted.take(3)
    val vecs = corpus.collect().map(r =>
      r.getLong(0) -> (r.getSeq[Float](1).toArray, r.getInt(2))).toMap
    val ms = MemoryStream[(Long, Seq[Float], Int, java.sql.Timestamp)]
    // full corpus on the static side: the cross-label filter already
    // excludes the anchor itself (same label), matching batch a≠b
    val q = StreamingQueries.hardNegativeStream(
        ms.toDF().toDF("query_id", "embedding", "label", "event_ts"),
        corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("hn_out").start()
    val t0 = java.sql.Timestamp.valueOf("2025-01-25 16:00:01")
    ms.addData(qIds.map(id =>
      (id, vecs(id)._1.toSeq, vecs(id)._2, t0)): _*)
    q.processAllAvailable()
    // advance the watermark past the window so append mode emits
    ms.addData((999999L, vecs(qIds.head)._1.toSeq, vecs(qIds.head)._2,
      java.sql.Timestamp.valueOf("2025-01-25 16:05:00")))
    q.processAllAvailable()
    val got = spark.table("hn_out").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    q.stop()
    assert(qIds.forall(id => got.get(id) == rank1.get(id)),
      s"got=$got expected=${qIds.map(id => id -> rank1(id))}")
  }

  test("streaming cell-drift monitor matches a driver-side recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf0001 = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding")
    // window arrivals: the first 20 corpus vectors replayed
    val vecs = corpus.orderBy($"vec_id").limit(20).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // driver-side expectation over the same integer quantizer
    val cells = graft.queries.VectorOps.withGridCell(corpus)
      .select($"vec_id", $"cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val corpusTotal = cells.size.toLong
    val corpusByCell = cells.values.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val arrivalCells = vecs.map(v => cells(v._1))
    val expect = arrivalCells.groupBy(identity)
      .map { case (c, g) =>
        val dPpm = 1000000L * g.length / vecs.length
        val cPpm = 1000000L * corpusByCell(c) / corpusTotal
        c -> (g.length.toLong, dPpm, cPpm, math.abs(dPpm - cPpm))
      }
    val ms = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val q = StreamingQueries.cellDriftStream(
        ms.toDF().toDF("vec_id", "embedding", "event_ts"), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("drift_out").start()
    val t0 = java.sql.Timestamp.valueOf("2025-01-25 16:00:01")
    ms.addData(vecs.map(v => (v._1, v._2, t0)): _*)
    q.processAllAvailable()
    ms.addData((999999L, vecs.head._2,
      java.sql.Timestamp.valueOf("2025-01-25 16:05:00")))
    q.processAllAvailable()
    val got = spark.table("drift_out")
      .filter($"window_start" ===
        java.sql.Timestamp.valueOf("2025-01-25 16:00:00"))
      .collect()
    q.stop()
    val gotByCell = got.map(r => r.getInt(1) ->
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    for ((c, e) <- expect)
      assert(gotByCell.get(c).contains(e), s"cell $c: ${gotByCell.get(c)} vs $e")
    // untouched cells emit zero delta with their corpus baseline
    gotByCell.filterNot(kv => expect.contains(kv._1)).foreach {
      case (c, (n, dp, _, _)) => assert(n == 0L && dp == 0L, s"cell $c")
    }
  }

  test("reindex-decision stream == batch q197 when the window holds " +
      "exactly the delta vectors (VERDICT r13 #6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf0001 = "/root/testdata/sf0.001"
    // q141's delta split (the q46 md5 device) reproduced on the feed:
    // the window receives exactly the delta vectors, the static
    // baseline is the non-delta corpus — the batch report's two sides.
    val all = graft.sources.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding",
        (substring(md5($"vec_id".cast("string")), 1, 2) < "1a")
          .as("is_delta"))
    val deltaVecs = all.filter($"is_delta").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val corpus = all.filter(!$"is_delta").select($"vec_id", $"embedding")
    val batch = graft.queries.VectorOps.reindexDecision(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6),
        r.getLong(7), r.getLong(8), r.getBoolean(9), r.getString(10),
        r.getLong(11)))
      .toMap
    assert(batch.size == 5)
    val audit = graft.queries.VectorOps.refinedRecall(spark, sf0001)
    val ms = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val q = StreamingQueries.reindexDecisionStream(
        ms.toDF().toDF("vec_id", "embedding", "event_ts"), corpus, audit)
      .writeStream.outputMode("append").format("memory")
      .queryName("reindex_out").start()
    val t0 = java.sql.Timestamp.valueOf("2025-01-25 16:00:01")
    ms.addData(deltaVecs.map(v => (v._1, v._2, t0)).toIndexedSeq: _*)
    q.processAllAvailable()
    // advance the watermark past the window so append mode emits
    ms.addData((999999L, deltaVecs.head._2,
      java.sql.Timestamp.valueOf("2025-01-25 16:05:00")))
    q.processAllAvailable()
    val got = spark.table("reindex_out")
      .filter($"window_start" ===
        java.sql.Timestamp.valueOf("2025-01-25 16:00:00"))
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7),
        r.getLong(8), r.getLong(9), r.getBoolean(10), r.getString(11),
        r.getLong(12)))
      .toMap
    q.stop()
    assert(got == batch, s"stream=$got batch=$batch")
  }

  test("calibrated-score stream == batch q148 for corpus docs; " +
      "unknown source fails closed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.queries.TextOps.sourceCalibratedScore(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val corpus = Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text", $"source")
    val feed = corpus.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val ms = MemoryStream[(Long, String, String)]
    val q = StreamingQueries.calibratedScoreStream(
        ms.toDF().toDF("doc_id", "text", "source"), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("cal_out").start()
    ms.addData(feed.toIndexedSeq: _*)
    // an unknown source cannot be calibrated: gate fails closed
    ms.addData((999999L, "the cat", "brand-new-source"))
    q.processAllAvailable()
    val rows = spark.table("cal_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
    q.stop()
    val streamed = rows.filter(_._1 != 999999L)
      .map(t => (t._1, t._2, t._3, t._4, t._5)).toSet
    assert(streamed == batch,
      s"stream=${streamed.size} rows batch=${batch.size} rows")
    val unknown = rows.find(_._1 == 999999L).get
    assert(unknown._4 == -1L && unknown._5 == 0L,
      s"unknown source must fail closed: $unknown")
  }

  test("calibratedScorer vocab cap bounds the model: out-of-cap terms " +
      "score like unseen terms (VERDICT r11 #5)") {
    import spark.implicits._
    // corpus masses: a=4, b=3, c=2 — cap 2 keeps {a, b}, drops c
    val corpus = Seq(
      (1L, "a a a a b", "s1"), (2L, "b b c c", "s1"))
      .toDF("doc_id", "text", "source")
    val gate = StreamingQueries.calibratedScorer(corpus, vocabCap = 2)
    // the transform is stateless, so it applies to a batch frame too
    val got = gate(Seq(
        (10L, "c c c", "s1"), // all out-of-vocab -> n=0 -> score 0
        (11L, "a c", "s1"), // c dropped -> n=1, sf=freq(a)=4
        (12L, "a b", "s1")) // fully in-vocab -> (4+3)*1e6 div 2
        .toDF("doc_id", "text", "source"))
      .select($"doc_id", $"score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) == 0L, s"out-of-vocab doc: ${got(10L)}")
    assert(got(11L) == 4000000L, s"partial-vocab doc: ${got(11L)}")
    assert(got(12L) == 3500000L, s"in-vocab doc: ${got(12L)}")
    // an uncapped run over the same corpus sees c (freq 2)
    val full = StreamingQueries.calibratedScorer(corpus)(
        Seq((10L, "c c c", "s1")).toDF("doc_id", "text", "source"))
      .select($"score").collect().head.getLong(0)
    assert(full == 2000000L, s"uncapped must keep c: $full")
  }

  test("deployment-cap model join == literal-map gate == batch q148 " +
      "(VERDICT r12 #4): both forms, same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toSet
    val corpus = Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text", $"source")
    val modelPath = java.nio.file.Files
      .createTempDirectory("scorer_model").toString + "/freq"
    StreamingQueries.writeScorerModel(corpus, modelPath)
    val joined = StreamingQueries.calibratedScorerJoined(corpus, modelPath)
    val literal = StreamingQueries.calibratedScorer(corpus)
    // batch-frame equality (the foreachBatch body shape): joined ==
    // literal == batch q148 on the corpus's own documents
    val batch = keyed(graft.queries.TextOps
      .sourceCalibratedScore(spark, sf0001).collect())
    assert(keyed(joined(corpus).collect()) == batch)
    assert(keyed(literal(corpus).collect()) == batch)
    // the joined form THROUGH a stream (foreachBatch, the posting-
    // append precedent) equals the literal per-row stream twin —
    // including the no-in-model-token and unknown-source edges
    val edge = Seq((999998L, null.asInstanceOf[String], "s0"),
      (999999L, "the cat", "brand-new-source"))
    val feed = corpus.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))) ++
      edge.map(t => (t._1, t._2, t._3))
    val got = scala.collection.mutable.Set
      .empty[(Long, String, Long, Long, Long)]
    val ms = MemoryStream[(Long, String, String)]
    val q = ms.toDF().toDF("doc_id", "text", "source")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= keyed(joined(b).collect()) }; ()
      }.start()
    ms.addData(feed.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val lit = keyed(literal(edge.toDF("doc_id", "text", "source")
      .unionByName(corpus)).collect())
    assert(got.toSet == lit,
      s"joined-through-stream=${got.size} literal=${lit.size}")
    // unknown source fails closed in BOTH forms
    assert(got.toSet.filter(_._1 == 999999L).forall(t =>
      t._4 == -1L && t._5 == 0L))
  }

  test("agreement monitor: cumulative counts, final complete-mode row " +
      "== batch q186") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.queries.TextOps.scorerAgreement(spark, sf0001)
      .collect().head
    val corpus = Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val feed = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = StreamingQueries.agreementMonitorStream(
        ms.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.outputMode("complete").format("memory")
      .queryName("agree_out").start()
    // two waves: the confusion must accumulate across batches, and
    // the fully-arrived row must equal batch q186 column for column
    ms.addData(feed.take(10).toIndexedSeq: _*)
    q.processAllAvailable()
    val mid = spark.table("agree_out").collect().head
    assert((0 to 3).map(mid.getLong(_)).sum == 10L,
      s"mid-stream confusion must cover exactly the arrivals: $mid")
    ms.addData(feed.drop(10).toIndexedSeq: _*)
    q.processAllAvailable()
    val fin = spark.table("agree_out").collect().head
    q.stop()
    assert(fin.toSeq == batch.toSeq, s"stream=$fin batch=$batch")
  }

  test("change feed: arrivals classify added/changed/unchanged against " +
      "the standing digest table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val base = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    // feed: 5 untouched, 3 edited, 2 brand-new ids
    val feed = base.take(5) ++
      base.slice(5, 8).map { case (id, t) => (id, t + " [rev2]") } ++
      Seq((900001L, "novel one"), (900002L, "novel two"))
    val ms = MemoryStream[(Long, String)]
    val q = StreamingQueries.changeFeedStream(
        ms.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("feed_out").start()
    ms.addData(feed.toIndexedSeq: _*)
    q.processAllAvailable()
    val got = spark.table("feed_out").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    q.stop()
    assert(got.size == feed.length)
    base.take(5).foreach { case (id, _) =>
      assert(got(id) == "unchanged", s"$id: ${got(id)}") }
    base.slice(5, 8).foreach { case (id, _) =>
      assert(got(id) == "changed", s"$id: ${got(id)}") }
    Seq(900001L, 900002L).foreach { id =>
      assert(got(id) == "added", s"$id: ${got(id)}") }
  }

  test("outlier gate stream == batch q190 flags for corpus events; " +
      "unknown event type fails closed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchFlagged = graft.queries.EventOps.outlierGate(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val corpus = spark.read.parquet(s"$sf0001/events.parquet")
    val feed = graft.sources.Tables(spark, sf0001, "events")
      .select($"event_id", $"event_type", $"value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val ms = MemoryStream[(Long, String, Option[Double])]
    val q = StreamingQueries.outlierGateStream(
        ms.toDF().toDF("event_id", "event_type", "value"),
        graft.sources.Tables(spark, sf0001, "events"))
      .writeStream.outputMode("append").format("memory")
      .queryName("outlier_out").start()
    ms.addData(feed.map(e => (e._1, e._2, Option(e._3))).toIndexedSeq: _*)
    ms.addData((999999L, "brand-new-type", Some(1.0)),
      // NULL value on a KNOWN type: not beyond any cutoff — must NOT
      // flag (batch's comparison drops it); only unknown TYPES fail
      // closed
      (999998L, "click", Option.empty[Double]))
    q.processAllAvailable()
    val rows = spark.table("outlier_out").collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    q.stop()
    assert(rows.size == feed.length + 2)
    val streamFlagged = rows.filter(_._2).keySet - 999999L
    assert(streamFlagged == batchFlagged,
      s"stream=${streamFlagged.size} batch=${batchFlagged.size}")
    assert(rows(999999L), "unknown type must fail closed")
    assert(!rows(999998L), "null value on a known type must not flag")
  }

  test("SDC dedup stream == batch within-cell code matches at the " +
      "same threshold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val maxDist = 1500000L
    val corpus = Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding")
    // batch expectation: the same lifts self-joined within cells
    val idx = graft.queries.VectorOps.withPqCode(
        graft.queries.VectorOps.withGridCell(corpus))
      .select($"vec_id", $"cell", $"code")
    val lut = graft.queries.VectorOps.sdcLut()
    val expect = idx.select($"vec_id", $"cell", $"code")
      .join(idx.select($"vec_id".as("c_id"), $"cell",
        $"code".as("c_code")), "cell")
      .withColumn("d", graft.queries.VectorOps
        .sdcCol(lut, $"code", $"c_code"))
      .filter($"d" <= maxDist && $"vec_id" =!= $"c_id")
      .select($"vec_id", $"c_id", $"d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expect.nonEmpty, "corpus must contain in-threshold code pairs")
    val feed = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = StreamingQueries.sdcDedupStream(
        ms.toDF().toDF("vec_id", "embedding"), corpus, maxDist)
      .writeStream.outputMode("append").format("memory")
      .queryName("sdc_out").start()
    ms.addData(feed.toIndexedSeq: _*)
    q.processAllAvailable()
    val got = spark.table("sdc_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(got == expect, s"stream=${got.size} batch=${expect.size}")
  }

  test("trained-perceptron stream == batch margins for corpus docs; " +
      "NULL text scores the bare bias") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    // batch margins: the q177 feature lift joined with the trained
    // weights — the exact aggregation the fold must reproduce
    val w = graft.queries.PipelineOps.trainedPerceptronOf(corpus)
    val wDf = w.dropRight(1).zipWithIndex
      .map { case (v, d) => (d.toLong, v) }.toDF("dim", "wv")
    val batch = graft.queries.PipelineOps.featureHashOf(corpus)
      .join(wDf, "dim")
      .groupBy($"doc_id").agg(sum($"w" * $"wv").as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1) + w.last)).toMap
    val feed = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = StreamingQueries.perceptronScoreStream(
        ms.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("ptron_out").start()
    ms.addData(feed.toIndexedSeq: _*)
    ms.addData((777777L, null: String))
    q.processAllAvailable()
    val rows = spark.table("ptron_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    q.stop()
    for ((id, m, admit) <- rows if id != 777777L) {
      assert(m == batch.getOrElse(id, w.last), s"doc $id margin $m")
      assert(admit == (if (m > 0) 1L else 0L))
    }
    val nullRow = rows.find(_._1 == 777777L).get
    assert(nullRow._2 == w.last, s"NULL text must score bias: $nullRow")
  }

  test("DSIR stream == batch q151 for corpus docs; novel dims score " +
      "by prior") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.queries.PipelineOps.dsirWeights(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val corpus = Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val feed = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = StreamingQueries.dsirStream(
        ms.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("dsir_out").start()
    ms.addData(feed.toIndexedSeq: _*)
    // a one-token doc has no bigram: zero-feature row, score 0
    ms.addData((888888L, "solitary"))
    q.processAllAvailable()
    val rows = spark.table("dsir_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    q.stop()
    assert(rows.filter(_._1 != 888888L).toSet == batch)
    val short = rows.find(_._1 == 888888L).get
    assert(short == ((888888L, 0L, 0L, 0L)), short.toString)
  }

  test("streaming vocab-drift monitor == batch q142 across a batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the stream can only pre-register terms the STANDING corpus has
    // seen — batch q142's top-100 ranges over the union vocabulary, so
    // when the vocabulary is smaller than 100 it also lists delta-only
    // terms (n_corpus = 0) no ingest monitor could know in advance;
    // the comparable surface is the n_corpus > 0 rows
    val batch = graft.queries.TextOps.vocabDrift(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).filter(_._2 > 0).toSet
    // q142's delta split, reproduced: md5 prefix < '1a' is the delta
    val docs = Tables(spark, sf0001, "documents")
      .withColumn("is_delta",
        substring(md5($"doc_id".cast("string")), 1, 2) < "1a")
    val corpus = docs.filter(!$"is_delta").select($"doc_id", $"text")
    val feed = docs.filter($"is_delta").select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingQueries.vocabDriftStream(
        ms.toDF().toDF("doc_id", "text", "event_ts"), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("vdrift_out").start()
    val t0 = java.sql.Timestamp.valueOf("2025-01-25 16:00:01")
    // two micro-batches inside ONE window: the stateful aggregate must
    // accumulate the window's token mass across batches
    val (h, t) = feed.splitAt(feed.length / 2)
    ms.addData(h.map(d => (d._1, d._2, t0)).toIndexedSeq: _*)
    q.processAllAvailable()
    ms.addData(t.map(d => (d._1, d._2, t0)).toIndexedSeq: _*)
    q.processAllAvailable()
    // advance the watermark past the window so append mode emits
    ms.addData((999999L, "x",
      java.sql.Timestamp.valueOf("2025-01-25 16:05:00")))
    q.processAllAvailable()
    val got = spark.table("vdrift_out")
      .filter($"window_start" ===
        java.sql.Timestamp.valueOf("2025-01-25 16:00:00"))
      .collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSet
    q.stop()
    assert(got == batch, s"stream rows=${got.size} batch rows=${batch.size}")
  }

  test("native session_window streams with watermark and matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val q = ms.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 seconds")
      .groupBy($"user_id", session_window($"ts", "100 seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"session_window.start".as("s"), $"n_events")
      .writeStream.outputMode("append").format("memory")
      .queryName("sw_out").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user 7: two events 50 s apart merge; user 8 overlaps independently
    ms.addData((t("2025-01-25 16:00:00"), 7L), (t("2025-01-25 16:00:50"), 7L),
      (t("2025-01-25 16:00:30"), 8L))
    q.processAllAvailable()
    ms.addData((t("2025-01-25 16:30:00"), 9L)) // watermark closes sessions
    q.processAllAvailable()
    val got = spark.table("sw_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString.substring(0, 19),
        r.getLong(2))).toSet
    q.stop()
    assert(got == Set(
      (7L, "2025-01-25 16:00:00", 2L),
      (8L, "2025-01-25 16:00:30", 1L)))
  }

  test("streaming tokenizer application == batch q106 on the same docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.queries.PipelineOps.tokenizeCorpus(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val merges = graft.queries.PipelineOps.minedMerges(spark, sf0001)
    val feed = Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    val q = StreamingQueries.tokenizeStream(
        ms.toDF().toDF("doc_id", "text"), merges)
      .writeStream.outputMode("append").format("memory")
      .queryName("tok_out").start()
    ms.addData(feed: _*)
    q.processAllAvailable()
    val streamed = spark.table("tok_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    q.stop()
    assert(streamed == batch)
    // the merges genuinely compress: symbols strictly under chars
    // corpus-wide (5 merges each won on real frequency)
    assert(streamed.map(_._4).sum < streamed.map(_._3).sum)
  }

  test("streaming fertility rollup == batch q135 on the same corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.queries.PipelineOps.tokenizerFertility(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val merges = graft.queries.PipelineOps.minedMerges(spark, sf0001)
    val feed = Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text", $"source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val ms = MemoryStream[(Long, String, String)]
    val q = StreamingQueries.fertilityStream(
        ms.toDF().toDF("doc_id", "text", "source"), merges)
      .writeStream.outputMode("complete").format("memory")
      .queryName("fert_out").start()
    // two batches: the rollup must accumulate, not reset
    val (h, t) = feed.splitAt(feed.length / 2)
    ms.addData(h: _*)
    q.processAllAvailable()
    ms.addData(t: _*)
    q.processAllAvailable()
    val streamed = spark.table("fert_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("tokenizer streams count NULL-text docs as zero-cost rows") {
    // batch q106/q135 restore every document via left-join (NULL text
    // ⇒ all-zero row still counted in n_docs); the streams must not
    // silently drop such docs (ADVICE r10)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val merges = graft.queries.PipelineOps.minedMerges(spark, sf0001)
    val ms = MemoryStream[(Long, String, String)]
    val tok = StreamingQueries.tokenizeStream(
        ms.toDF().toDF("doc_id", "text", "source"), merges)
      .writeStream.outputMode("append").format("memory")
      .queryName("tok_null_out").start()
    val ms2 = MemoryStream[(Long, String, String)]
    val fert = StreamingQueries.fertilityStream(
        ms2.toDF().toDF("doc_id", "text", "source"), merges)
      .writeStream.outputMode("complete").format("memory")
      .queryName("fert_null_out").start()
    val feed = Seq((1L, "the cat sat", "web"), (2L, null: String, "web"),
      (3L, "dog", "news"))
    ms.addData(feed: _*); ms2.addData(feed: _*)
    tok.processAllAvailable(); fert.processAllAvailable()
    val tokGot = spark.table("tok_null_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val fertGot = spark.table("fert_null_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    tok.stop(); fert.stop()
    assert(tokGot.keySet == Set(1L, 2L, 3L), s"docs dropped: $tokGot")
    assert(tokGot(2L) == ((0L, 0L, 0L)), s"NULL doc not zero-cost: $tokGot")
    // the NULL-text doc still counts toward its source's n_docs
    assert(fertGot("web") == 2L, s"fertility n_docs: $fertGot")
  }

  test("funnel stream: per-user stateful snapshots equal batch q94") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.queries.EventOps.funnel(spark, sf0001).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4))).toSet
    // feed the real events in event-time order (the cross-batch
    // equivalence precondition), split into two micro-batches so state
    // genuinely carries across batch boundaries
    val feed = Tables(spark, sf0001, "events")
      .select($"user_id", $"event_type",
        unix_timestamp($"ts".cast("timestamp")).as("t"))
      .orderBy($"t".asc)
      .as[StreamingQueries.FEvent].collect()
    val ms = MemoryStream[StreamingQueries.FEvent]
    val q = StreamingQueries.funnelStream(ms.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_out").start()
    val (first, second) = feed.splitAt(feed.length / 2)
    ms.addData(first.toIndexedSeq: _*)
    q.processAllAvailable()
    ms.addData(second.toIndexedSeq: _*)
    q.processAllAvailable()
    val snapshots = spark.table("funnel_out").as[StreamingQueries.FunnelOut]
      .collect()
    q.stop()
    // snapshots only upgrade: the max-depth row per user is the funnel
    val latest = snapshots.groupBy(_.user_id).values
      .map(_.maxBy(_.depth))
      .map(o => (o.user_id, o.t_view, o.t_click, o.t_purchase, o.depth))
      .toSet
    assert(latest == batch)
    // cross-batch upgrades happened (otherwise the split proves nothing)
    assert(snapshots.length > latest.size,
      "no user produced snapshots in both batches")
    // composition: the shared q99 rollup over the streamed snapshots
    // equals batch q99 — the foreachBatch shape a latency dashboard
    // runs, completing the event-analytics streaming family
    def opt(v: Option[Long]): java.lang.Long =
      v.map(java.lang.Long.valueOf).orNull
    val latestDf = latest.toSeq
      .map(t => (t._1, opt(t._2), opt(t._3), opt(t._4), t._5))
      .toDF("user_id", "t_view", "t_click", "t_purchase", "depth")
    def profile(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2), r.get(3), r.get(4)))
      .toSet
    assert(profile(graft.queries.EventOps.latencyOverFunnel(latestDf)) ==
      profile(graft.queries.EventOps.funnelLatency(spark, sf0001)))
  }

  test("retention delta stream: counted deltas equal batch q95") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.queries.EventOps.cohortRetention(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val feed = Tables(spark, sf0001, "events")
      .select($"user_id",
        unix_timestamp($"ts".cast("timestamp")).as("t"))
      .orderBy($"t".asc)
      .as[StreamingQueries.REvent].collect()
    val ms = MemoryStream[StreamingQueries.REvent]
    val q = StreamingQueries.retentionDeltaStream(ms.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("retention_out").start()
    val (first, second) = feed.splitAt(feed.length / 2)
    ms.addData(first.toIndexedSeq: _*)
    q.processAllAvailable()
    ms.addData(second.toIndexedSeq: _*)
    q.processAllAvailable()
    val deltas = spark.table("retention_out").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    // each (user, week) first-activity emits exactly once; counting the
    // deltas per cell IS the retention triangle
    val counted = deltas.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong }
    assert(counted == batch)
  }

  test("stream-stream interval join: attribution pairs equal the batch " +
    "q108 core on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // user 1: clicks at 1500 (in [1400,2000) -> pair), 1300 (too early),
    // 2000 (same second as the purchase -> excluded), 2100 (after);
    // user 2: click 1500 must NOT cross-match user 1's purchase; 2500
    // attributes to the 3000 purchase
    val clicks = Seq((101L, 1L, 1500L), (102L, 1L, 1300L), (103L, 1L, 2000L),
      (104L, 1L, 2100L), (105L, 2L, 1500L), (106L, 2L, 2500L))
    val purchases = Seq((201L, 1L, 2000L), (202L, 2L, 3000L))
    val cms = MemoryStream[StreamingQueries.ClickIn]
    val pms = MemoryStream[StreamingQueries.PurchaseIn]
    val q = StreamingQueries.attributionPairsStream(
      cms.toDS().toDF(), pms.toDS().toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_out").start()
    cms.addData(clicks.map { case (id, u, t) =>
      StreamingQueries.ClickIn(id, u, ts(t)) }: _*)
    pms.addData(purchases.map { case (id, u, t) =>
      StreamingQueries.PurchaseIn(id, u, ts(t)) }: _*)
    q.processAllAvailable()
    val got = spark.table("attr_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    // batch parity through the SAME bucketized core q108 runs on
    val ev = (clicks.map { case (id, u, t) => (id, u, "click", t, 1.0) } ++
      purchases.map { case (id, u, t) => (id, u, "purchase", t, 0.0) })
      .toDF("event_id", "user_id", "event_type", "t", "value")
    val batch = graft.queries.EventOps.attributionPairsOf(ev)
      .select("p_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
    assert(got == Set((201L, 101L), (202L, 106L)))
  }

  test("stream-stream LEFT OUTER interval join: unmatched purchases " +
    "emit a null pair only after the watermark closes their window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val cms = MemoryStream[StreamingQueries.ClickIn]
    val pms = MemoryStream[StreamingQueries.PurchaseIn]
    val q = StreamingQueries.attributionPairsStream(
      cms.toDS().toDF(), pms.toDS().toDF(), joinType = "leftOuter")
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_outer").start()
    // user 1's purchase gets a click; user 2's gets none
    cms.addData(StreamingQueries.ClickIn(101L, 1L, ts(1500)))
    pms.addData(StreamingQueries.PurchaseIn(201L, 1L, ts(2000)),
      StreamingQueries.PurchaseIn(202L, 2L, ts(2000)))
    q.processAllAvailable()
    val early = spark.table("attr_outer").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    // the matched pair may emit eagerly; the NULL row must NOT exist
    // yet — a click for user 2 could still arrive within the window
    assert(!early.contains((202L, -1L)), s"premature null emission: " +
      early.mkString(","))
    // advance BOTH watermarks far past the window -> null row emits
    cms.addData(StreamingQueries.ClickIn(109L, 9L, ts(99000)))
    pms.addData(StreamingQueries.PurchaseIn(209L, 9L, ts(99000)))
    q.processAllAvailable()
    // one more batch so state eviction results surface in the sink
    cms.addData(StreamingQueries.ClickIn(110L, 9L, ts(99500)))
    q.processAllAvailable()
    val rows = spark.table("attr_outer").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    q.stop()
    assert(rows.contains((201L, 101L)))
    assert(rows.contains((202L, -1L)), s"null row never emitted: $rows")
  }

  test("streaming histogram sketch: closed-window bins equal batch; " +
    "sink-side quantile extraction matches the batch estimator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = StreamingQueries.histogramBinsStream(
      ms.toDS().toDF("ts", "event_type", "value"))
      .writeStream.outputMode("append").format("memory")
      .queryName("hist_out").start()
    // one minute window [16:00,16:01): values spanning three bins
    val fixture = Seq(
      (ts("2025-01-25 16:00:05"), "click", 1.0),
      (ts("2025-01-25 16:00:10"), "click", 3.0),
      (ts("2025-01-25 16:00:20"), "click", 7.0),
      (ts("2025-01-25 16:00:30"), "click", 12.0),
      (ts("2025-01-25 16:00:40"), "view", 4.0))
    ms.addData(fixture: _*)
    q.processAllAvailable()
    // advance the watermark far past the window to force append close
    ms.addData((ts("2025-01-25 16:20:00"), "view", 1.0))
    q.processAllAvailable()
    val got = spark.table("hist_out").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    // the same fixture through the batch bin rule
    val batchBins = fixture.toDF("ts", "event_type", "value")
      .select($"event_type",
        graft.queries.EventOps.histBin($"value").as("bin"))
      .groupBy($"event_type", $"bin").agg(count(lit(1)).as("c"))
    val want = batchBins.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // sink-side extraction over the streamed bins == batch estimator,
    // compared on the FULL row (n and all three estimates)
    def full(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))
    val streamedQuantiles = graft.queries.EventOps.quantilesOverBins(
      got.toSeq.toDF("event_type", "bin", "c"))
      .collect().map(full).toSet
    val batchQuantiles = graft.queries.EventOps.histogramQuantilesOf(
      fixture.toDF("ts", "event_type", "value")
        .select($"event_type", $"value"))
      .collect().map(full).toSet
    assert(streamedQuantiles == batchQuantiles)
    // and pin one hand-computed row: clicks 1,3,7,12 -> bins 0,0,1,2;
    // p50 closes in bin 0, p90/p99 in bin 2
    assert(batchQuantiles.contains(("click", 4L, 0.0, 10.0, 10.0)))
  }

  test("streaming count-min sketch equals batch and conserves mass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StreamingQueries.cmSketchStream(ms.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("cm_out").start()
    val fixture = Seq(
      (1L, "spark merge window spark"),
      (2L, "window beats the loop"),
      (3L, "spark spark spark"),
      (4L, ""))                       // empty doc: contributes nothing
    // two batches: the complete-mode matrix must fold, not replace
    ms.addData(fixture.take(2): _*)
    q.processAllAvailable()
    ms.addData(fixture.drop(2): _*)
    q.processAllAvailable()
    val got = spark.table("cm_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    val want = graft.queries.TextOps.cmSketchOf(
      fixture.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // conservation: 4+4+3 = 11 occurrences land once in each hash row.
    // `got` is a Set, so sum through a Seq: Set.map would collapse the
    // equal per-bucket counts ({5,2,1,1,1,1} -> {5,2,1}, "mass 8") —
    // the round-6/7 red-test mystery was this collection dedup in the
    // assertion itself, never a row loss in the engine.
    val totals = got.toSeq.groupBy(_._1)
      .view.mapValues(_.map(_._3).sum).toMap
    assert(totals == Map(0L -> 11L, 1L -> 11L, 2L -> 11L, 3L -> 11L))
  }

  test("sessionize: flatMapGroupsWithState equals the batch window form") {
    import spark.implicits._
    val batch = graft.queries.EventOps.sessionize(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val events = Tables(spark, sf0001, "events")
      .select($"user_id",
        unix_timestamp($"ts".cast("timestamp")).as("ts_s"), $"event_id")
      .as[StreamingQueries.SEvent]
    val stateful = StreamingQueries.sessionize(events, 1800L).collect()
      .map(s => (s.user_id, s.session_idx, s.n_events, s.session_start_s,
        s.duration_s)).toSet
    assert(stateful == batch)
  }

  test("streaming ANN serving == batch q158 multi-query search") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf0001 = "/root/testdata/sf0.001"
    // batch expectation: per query, the rank-ordered (adc_dist, doc_id)
    val expect = graft.queries.VectorOps.multiQueryAnn(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(t => (t._4, t._3)).toSeq).toMap
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text")
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingQueries.annServeStream(
        ms.toDF().toDF("query_id", "qtext", "event_ts"), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("serve_out").start()
    val t0 = java.sql.Timestamp.valueOf("2025-01-25 16:00:01")
    ms.addData(graft.queries.VectorOps.ServeQueries
      .map { case (id, t) => (id, t, t0) }: _*)
    q.processAllAvailable()
    // advance the watermark past the window so append mode emits it
    ms.addData((999999L, "late watermark advance",
      java.sql.Timestamp.valueOf("2025-01-25 16:05:00")))
    q.processAllAvailable()
    val got = spark.table("serve_out").collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](2)
        .map(s => (s.getLong(0), s.getLong(1)))).toMap
    q.stop()
    for ((id, want) <- expect)
      assert(got(id) == want, s"query $id: got=${got(id)} want=$want")
  }

  test("graph insert stream == batch q202; batch-id overwrite makes " +
      "a replayed batch converge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf0001 = "/root/testdata/sf0.001"
    val isDelta = substring(
      md5($"vec_id".cast("string")), 1, 2) < "1a"
    val emb = graft.sources.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding")
    val corpus = emb.filter(!isDelta)
    val idx = java.nio.file.Files
      .createTempDirectory("graph-ins-idx").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graph-ins-ckpt").toString
    graft.queries.KnnGraphOps.knnGraphWriteIndexOf(corpus, idx)
    val feed = emb.filter(isDelta).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val ms = MemoryStream[(Long, Seq[Float])]
    ms.addData(feed.take(feed.length / 2): _*)
    ms.addData(feed.drop(feed.length / 2): _*)
    val q = StreamingQueries.graphInsertStream(
      ms.toDF().toDF("vec_id", "embedding"), corpus, idx, ckpt)
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    // no .cache(): CacheManager matches by canonicalized path and the
    // directory is rewritten below — a cached plan would serve stale
    // rows to the replayed read
    val landed = spark.read.parquet(s"$idx/edges_delta")
    val streamed = landed.filter(!$"rev")
      .select($"vec_id", $"rank", $"nb_id")
      .collect().map(key).toSet
    val batch = graft.queries.KnnGraphOps
      .graphDeltaInsert(spark, sf0001)
      .collect().map(key).toSet
    assert(streamed == batch, "streamed adjacency must equal batch q202")
    assert(streamed.nonEmpty)
    // the reverse bidirectional-link rows are the exact mirror of the
    // forward set (endpoints swapped, same rank/sim facts)
    val reversed = landed.filter($"rev")
      .select($"nb_id", $"rank", $"vec_id")
      .collect().map(key).toSet
    assert(reversed == streamed,
      "reverse rows must mirror the forward adjacency exactly")
    // replay convergence: re-running batch 0's body under its original
    // id OVERWRITES its own directory — contents unchanged (read the
    // actual batch-0 membership back rather than assuming how
    // AvailableNow grouped the two addData calls)
    val b0Ids = spark.read.parquet(s"$idx/edges_delta")
      .filter($"batch" === 0 && !$"rev").select($"vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(b0Ids.nonEmpty)
    StreamingQueries.graphInsertBatch(
      feed.filter(t => b0Ids(t._1)).toSeq
        .toDF("vec_id", "embedding"), corpus, idx, batchId = 0L)
    val replayed = spark.read.parquet(s"$idx/edges_delta")
      .filter(!$"rev").select($"vec_id", $"rank", $"nb_id")
      .collect().map(key).toSet
    assert(replayed == batch, "replaying batch 0 must be a no-op")
  }

  test("graph search stream == batch q205 for the held-out query; " +
      "other arrivals match the shared routing body") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.KnnGraphOps
    val sf0001 = "/root/testdata/sf0.001"
    val isDelta = substring(md5($"vec_id".cast("string")), 1, 2) < "1a"
    val emb = graft.sources.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding")
    val corpus = emb.filter(!isDelta)
    val idxPath = graft.queries.ServingIndexes
      .knnCorpusGraphIndex(spark, sf0001)
    // three out-of-corpus arrivals, the min delta vec_id among them —
    // that one's stream answer must equal registry q205 verbatim
    val deltas = emb.filter(isDelta).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).take(3)
    val t0 = java.sql.Timestamp.valueOf("2025-01-25 16:00:01")
    val ms = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val (searchDf, searchCleanup) =
      StreamingQueries.graphSearchStreamWithCleanup(
        ms.toDF().toDF("query_id", "embedding", "event_ts"), corpus,
        idxPath)
    val q = searchDf
      .writeStream.outputMode("append").format("memory")
      .queryName("graph_search_out").start()
    ms.addData(deltas.map(d => (d._1, d._2, t0)).toIndexedSeq: _*)
    q.processAllAvailable()
    // advance the watermark past the window so append mode emits
    ms.addData((999999L, deltas.head._2,
      java.sql.Timestamp.valueOf("2025-01-25 16:05:00")))
    q.processAllAvailable()
    val got = spark.table("graph_search_out")
      .filter($"window_start" ===
        java.sql.Timestamp.valueOf("2025-01-25 16:00:00"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(_.getAs[Long]("vec_id")))
      .toMap
    q.stop()
    val batch205 = KnnGraphOps.graphSearchIndexed(spark, sf0001, idxPath)
      .collect().sortBy(_.getLong(0)).map(_.getLong(1)).toSeq
    assert(batch205.nonEmpty)
    assert(got(deltas.head._1) == batch205,
      s"stream=${got(deltas.head._1)} batch=$batch205")
    // every other arrival matches the shared routing body at the same
    // hop budget and cut
    val others = deltas.drop(1).map(_._1)
    val expect = KnnGraphOps.deltaRouteOf(
        emb.filter($"vec_id".isin(others: _*)), corpus,
        spark.read.parquet(s"$idxPath/edges").select($"a_id", $"b_id"),
        math.max(1L,
          corpus.count() / KnnGraphOps.SeedBucketSize),
        hops = KnnGraphOps.RouteHops)
      .filter($"rank" <= 5)
      .collect().groupBy(_.getLong(0))
      .map { case (k, rs) =>
        k -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    assert(expect.nonEmpty)
    for ((id, want) <- expect)
      assert(got(id) == want, s"query $id: ${got(id)} vs $want")
    // release the stream's three cached static frames (ADVICE r15):
    // after the handle runs, no block from this stream lingers
    searchCleanup()
    // WIDE-entry twin: the same arrivals served at the q209 salt list
    // must answer the held-out query exactly as batch q209's fleet
    // row — entry width is a query-side knob on both surfaces
    val msW = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val (wideDf, wideCleanup) =
      StreamingQueries.graphSearchStreamWithCleanup(
        msW.toDF().toDF("query_id", "embedding", "event_ts"), corpus,
        idxPath, salts = KnnGraphOps.WideSalts)
    val qw = wideDf
      .writeStream.outputMode("append").format("memory")
      .queryName("graph_search_wide_out").start()
    msW.addData((deltas.head._1, deltas.head._2, t0))
    qw.processAllAvailable()
    msW.addData((999999L, deltas.head._2,
      java.sql.Timestamp.valueOf("2025-01-25 16:05:00")))
    qw.processAllAvailable()
    val gotWide = spark.table("graph_search_wide_out")
      .filter($"window_start" ===
        java.sql.Timestamp.valueOf("2025-01-25 16:00:00"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(_.getAs[Long]("vec_id")))
      .toMap
    qw.stop()
    wideCleanup()
    val batch209 = KnnGraphOps.graphSearchFleetIndexed(
        spark, sf0001, idxPath, KnnGraphOps.WideSalts)
      .filter($"query_id" === deltas.head._1)
      .collect().sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(batch209.nonEmpty)
    assert(gotWide(deltas.head._1) == batch209,
      s"wide stream=${gotWide(deltas.head._1)} batch q209=$batch209")
  }
}
