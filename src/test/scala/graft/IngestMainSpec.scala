package graft

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The composed serving tick: runs for real at sf0.001 (its internal
  * reconciliation `require`s are part of the test), the spec then
  * re-derives the policy counters independently, checks the written
  * artifacts, and RE-RUNS the tick against the same out directory —
  * the replay must be a no-op on the indexes (the manifest anti-join
  * contract: a retried ingest job must never double-index). */
class IngestMainSpec extends SparkSuite {

  test("IngestMain runs end-to-end, reconciles, and a replay is a " +
      "no-op on the indexes") {
    import spark.implicits._
    // a `file:` URI, not a bare path: the rebuild probes must go
    // through the Hadoop FileSystem, or a replay would miss the
    // committed indexes, rebuild them and append its survivors again
    val out = java.nio.file.Files
      .createTempDirectory("graft_ingest_spec").toUri.toString
      .stripSuffix("/")
    val counters = IngestMain.runIngest(spark, sf0001, out).toMap

    // independent recomputation of the delta split and the policy
    val all = graft.sources.Tables(spark, sf0001, "documents")
    val nDelta = all
      .filter(substring(md5($"doc_id".cast("string")), 1, 2) < "1a")
      .count()
    assert(counters("n_delta") == nDelta)
    assert(counters("n_corpus") == all.count() - nDelta)
    assert(nDelta > 0, "delta slice empty — the tick tested nothing")
    assert(counters("n_survivors") ==
      counters("n_admitted") - counters("n_admitted_dupped"))
    assert(counters("postings_after") ==
      counters("postings_before") + counters("postings_appended"))
    assert(counters("chunks_after") ==
      counters("chunks_before") + counters("chunks_appended"))
    // the gate admits a nontrivial slice and the index genuinely grew
    assert(counters("n_admitted") > 0)
    assert(counters("n_survivors") > 0)
    assert(counters("postings_appended") > 0)

    // artifacts read back with the counted rows
    def n(name: String): Long = spark.read.parquet(s"$out/$name").count()
    assert(n("admission") == nDelta)
    assert(n("novelty") == nDelta)
    assert(n("survivors") == counters("n_survivors"))

    // the survivor set equals admission minus near-dups, re-derived
    // from the written artifacts (not the counters)
    val admitted = spark.read.parquet(s"$out/admission")
      .filter($"keep_calibrated" === 1L).select($"doc_id")
    val dupped = spark.read.parquet(s"$out/dup_pairs")
      .select($"new_id".as("doc_id")).distinct()
    val expect = admitted.join(dupped, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(s"$out/survivors")
      .collect().map(_.getLong(0)).toSet
    assert(got == expect)

    // replay: same out dir, same data — the maintained indexes must
    // not change (the at-least-once contract absorbed at the manifest)
    val replay = IngestMain.runIngest(spark, sf0001, out).toMap
    assert(replay("postings_appended") == 0L, replay.toString)
    assert(replay("chunks_appended") == 0L, replay.toString)
    assert(replay("postings_after") == counters("postings_after"))
    assert(replay("chunks_after") == counters("chunks_after"))
    assert(replay("manifest_after") == counters("manifest_after"))
  }

  test("crash matrix: replay from every crash point of the tick " +
      "converges to the clean-run state (VERDICT r12 #6)") {
    import spark.implicits._
    import graft.queries.{TextOps, VectorOps}
    import graft.streaming.StreamingQueries
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft_crash_matrix").toString
    def served(out: String): Seq[(Long, Long, Long)] =
      TextOps.bm25SearchIndexed(spark, s"$out/posting_index")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq

    // the reference: one clean tick
    val cleanOut = tmp()
    val clean = IngestMain.runIngest(spark, sf0001, cleanOut).toMap
    val cleanServed = served(cleanOut)

    // the tick's inputs, re-derived for the scenario setups
    val all = graft.sources.Tables(spark, sf0001, "documents")
    val isDelta = substring(md5($"doc_id".cast("string")), 1, 2) < "1a"
    val corpusDocs = all.filter(!isDelta).select($"doc_id", $"text")
    val survivorDocs = all.filter(isDelta).select($"doc_id", $"text")
      .join(spark.read.parquet(s"$cleanOut/survivors").select($"doc_id"),
        "doc_id")

    def junkDir(path: String): Unit = {
      // a crash-torn write: the directory exists (Spark creates it
      // before the job commits) but no _SUCCESS marker ever landed
      val d = new java.io.File(path)
      d.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$path/part-junk.parquet"),
        Array[Byte](1, 2, 3))
    }

    val scenarios: Seq[(String, String => Unit)] = Seq(
      // crash AFTER the gate wrote its artifact: indexes built, no
      // appends landed; the stale artifact must be overwritten
      "after-gate" -> { d =>
        TextOps.postingWriteIndexOf(corpusDocs, s"$d/posting_index")
        VectorOps.chunkWriteIndexOf(corpusDocs, s"$d/chunk_index")
        spark.read.parquet(s"$cleanOut/admission").limit(1)
          .write.parquet(s"$d/admission")
      },
      // crash AFTER dedup: as above plus a stale dup_pairs artifact
      "after-dedup" -> { d =>
        TextOps.postingWriteIndexOf(corpusDocs, s"$d/posting_index")
        VectorOps.chunkWriteIndexOf(corpusDocs, s"$d/chunk_index")
        spark.read.parquet(s"$cleanOut/dup_pairs")
          .write.parquet(s"$d/dup_pairs")
      },
      // crash MID-APPEND: half the survivors landed in the posting
      // index (manifest included), the chunk append never ran — the
      // manifest anti-join must admit exactly the missing half
      "mid-append" -> { d =>
        TextOps.postingWriteIndexOf(corpusDocs, s"$d/posting_index")
        VectorOps.chunkWriteIndexOf(corpusDocs, s"$d/chunk_index")
        StreamingQueries.postingAppendBatch(
          survivorDocs.filter($"doc_id" % 2 === 0), s"$d/posting_index")
      },
      // crash MID-BUILD: both index paths exist as torn directories
      // with no _SUCCESS — the rebuild probes must treat them as
      // absent and rebuild (the bare-directory probe accepted exactly
      // this state before the r13 fix)
      "mid-build" -> { d =>
        junkDir(s"$d/posting_index/docs")
        junkDir(s"$d/posting_index/postings")
        junkDir(s"$d/chunk_index.codebook")
      })

    for ((name, setup) <- scenarios) {
      val d = tmp()
      setup(d)
      val c = IngestMain.runIngest(spark, sf0001, d).toMap
      assert(c("postings_after") == clean("postings_after"),
        s"$name: $c")
      assert(c("manifest_after") == clean("manifest_after"),
        s"$name: $c")
      assert(c("chunks_after") == clean("chunks_after"), s"$name: $c")
      assert(c("n_survivors") == clean("n_survivors"), s"$name: $c")
      assert(served(d) == cleanServed, s"$name: served ranking differs")
    }
  }
}
