package graft.queries

import org.apache.spark.sql.SparkSession

/** Once-per-JVM builds of the persisted physical indexes, so the indexed
  * SERVING queries measure the deployment shape — index written once at
  * ingest, every query a storage read — instead of re-deriving the index
  * inside the timed window (VERDICT r11 #6: the bench timed only the
  * live re-derivations while the persisted forms existed unexercised).
  * A query that reads one declares it in [[Q.rides]], and Bench builds
  * those before its timed loop.
  *
  * The index roots live under a per-JVM temp directory: content is a
  * pure function of the dataset directory and the code, so one build
  * per (kind, dir) per JVM is exactly once — and a fresh JVM never
  * trusts a previous process's on-disk artifacts (a stale index from
  * older code would serve wrong answers that this process's specs
  * never checked). Unlike the session [[Artifact]]s these are never
  * dropped by [[Artifacts.invalidateAll]]. Builds run OUTSIDE the map's
  * bin lock (the [[Artifact]] rule — a build executes whole Spark
  * jobs); a plain object lock serializes concurrent builders, which is
  * correct and cheap at once-per-JVM frequency. */
object ServingIndexes {
  private lazy val base: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft-serving-idx")
  private val built =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]
  private val buildLock = new Object

  /** One persisted index kind: applied to (spark, dir) it returns the
    * index root, writing it first if this JVM has not. */
  final class Index private[ServingIndexes] (val name: String,
      write: (SparkSession, String, String) => Unit)
      extends Dep with ((SparkSession, String) => String) {
    def apply(spark: SparkSession, dir: String): String = {
      val k = (name, dir)
      val hit = built.get(k)
      if (hit != null) return hit
      buildLock.synchronized {
        val again = built.get(k)
        if (again != null) return again
        // path carries the FULL sanitized dir (a bare hashCode suffix
        // could collide across two dataset dirs and silently serve one
        // dataset's queries from the other's index — review r12); the
        // hex suffix only disambiguates dirs that sanitize identically
        val p = base.resolve(
          name + "-" + dir.replaceAll("[^A-Za-z0-9.-]", "_") +
            "-" + Integer.toHexString(dir.hashCode)).toString
        write(spark, dir, p)
        built.put(k, p)
        p
      }
    }
  }

  /** q130's band + shingle tables ([[DedupFusionOps.lshWriteIndex]]). */
  val lshIndex = new Index("lsh",
    (s, d, p) => DedupFusionOps.lshWriteIndex(s, d, p))

  /** q139's distinct window-hash table ([[DedupFusionOps.spanWriteIndex]]). */
  val spanIndex = new Index("span",
    (s, d, p) => DedupFusionOps.spanWriteIndex(s, d, p))

  /** q89's bucket-partitioned posting index ([[TextOps.postingWriteIndex]]). */
  val postingIndex = new Index("posting",
    (s, d, p) => TextOps.postingWriteIndex(s, d, p))

  /** q146's cell-partitioned chunk PQ index ([[VectorOps.chunkWriteIndex]]). */
  val chunkIndex = new Index("chunk",
    (s, d, p) => VectorOps.chunkWriteIndex(s, d, p))

  /** q201's persisted NN-Descent edge table
    * ([[KnnGraphOps.knnGraphWriteIndex]]). */
  val knnGraphIndex = new Index("knngraph",
    (s, d, p) => KnnGraphOps.knnGraphWriteIndex(s, d, p))

  /** q202's STANDING-corpus edge table (non-delta rows only —
    * [[KnnGraphOps.knnCorpusGraphWriteIndex]]): the graph the nightly
    * insert routes against. */
  val knnCorpusGraphIndex = new Index("knngraphcorpus",
    (s, d, p) => KnnGraphOps.knnCorpusGraphWriteIndex(s, d, p))
}
