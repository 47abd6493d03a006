package graft.queries

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** A shared input a registry query declares it reads ([[Q.rides]]): a
  * session [[Artifact]] or a persisted [[ServingIndexes.Index]]. */
trait Dep { def name: String }

/** A value built once per (context, dataset) and reused by every query
  * that reads it — a persisted frame (the verified-pair table, the ANN
  * index) or a small driver-side value (the BPE merges, the k-means
  * centroids, the corpus count).
  *
  * Keyed on the CONTEXT, not the session: cached blocks live in the
  * context's block manager, so `newSession()` clones share the one
  * materialization. Entries for stopped contexts are evicted on access,
  * so the memo cannot pin dead sessions in a long-lived JVM. The build
  * runs OUTSIDE the map's bin lock — it executes whole Spark jobs,
  * seconds a ConcurrentHashMap compute lambda must not hold a bin lock
  * for — and a per-key cell synchronizes concurrent callers instead.
  * Every artifact registers itself with [[Artifacts]] on construction,
  * so [[Artifacts.holds]] and [[Artifacts.invalidateAll]] cover all. */
final class Artifact[V] private[queries] (val name: String) extends Dep {
  private final class Cell(build0: () => V) {
    // the thunk is nulled once the value exists so the cell doesn't
    // pin the first caller's session/closure for the memo's lifetime
    private var b: () => V = build0
    @volatile private var v: Option[V] = None
    def value: V = {
      if (v.isEmpty) synchronized {
        if (v.isEmpty) { v = Some(b()); b = null; nBuilds.incrementAndGet() }
      }
      v.get
    }
    def peek: Option[V] = v
    /** Unpersist-if-built. Synchronizing on the cell serializes with
      * an in-flight build (which holds the same lock), so a racing
      * release waits for the build and then frees its blocks instead
      * of orphaning them; the builder still gets a valid (merely
      * uncached) frame back. */
    def release(): Unit = synchronized {
      peek.foreach {
        case df: Dataset[_] =>
          try df.unpersist() catch { case _: Exception => () }
        case _ => ()
      }
    }
  }
  private val cells = new ConcurrentHashMap[(SparkContext, String), Cell]
  private val nBuilds = new AtomicLong
  private val nReads = new AtomicLong
  Artifacts.register(this)

  def get(spark: SparkSession, dir: String)(build: => V): V = {
    nReads.incrementAndGet()
    cells.keySet.removeIf(_._1.isStopped)
    cells.computeIfAbsent((spark.sparkContext, dir),
      _ => new Cell(() => build)).value
  }

  /** The built value for (spark's context, dir), if any — no build. */
  private[graft] def peek(spark: SparkSession, dir: String): Option[V] =
    Option(cells.get((spark.sparkContext, dir))).flatMap(_.peek)

  /** Builds completed and reads (builds + hits) over the JVM's
    * lifetime (never reset). */
  def builds: Long = nBuilds.get
  def reads: Long = nReads.get

  private[queries] def holds(df: DataFrame): Boolean =
    cells.values.stream.anyMatch(_.peek.exists(_.asInstanceOf[AnyRef] eq df))

  private[queries] def release(): Unit = {
    cells.values.forEach(_.release())
    cells.clear()
  }
}

object Artifacts {
  private val registered = new ConcurrentHashMap[String, Artifact[_]]

  /** Idempotent, keyed on identity: the same instance may register
    * again; a second instance under a taken name is a declaration bug
    * (queries would declare one and read the other). */
  private[queries] def register(a: Artifact[_]): Unit = {
    val prev = registered.putIfAbsent(a.name, a)
    require(prev == null || (prev eq a), s"artifact ${a.name} declared twice")
  }

  def apply[V](name: String): Artifact[V] = new Artifact[V](name)

  /** Every artifact constructed so far (artifacts live in the query
    * objects, so after [[Registry.all]] this is all of them). */
  def all: Seq[Artifact[_]] = registered.values.asScala.toSeq.sortBy(_.name)

  /** Whether `df` IS a live memoized artifact (reference identity):
    * callers release a query's persisted result only when it is not
    * one, so what later queries deliberately reuse stays cached. */
  def holds(df: DataFrame): Boolean =
    registered.values.stream.anyMatch(_.holds(df))

  /** Drop every memoized artifact and unpersist the frames among them;
    * for tests and long-lived JVMs. The [[ServingIndexes]] are on-disk,
    * per-JVM state and are never dropped here. */
  def invalidateAll(): Unit = registered.values.forEach(_.release())
}
