package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

/** Engine counters at one instant; differences of two snapshots give the
  * work done between them. Times are nanoseconds, sizes bytes. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
    runNs: Long, gcNs: Long, spill: Long, shuffleWrite: Long,
    shuffleRead: Long, inputBytes: Long, inputRows: Long, outputBytes: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, runNs - o.runNs, gcNs - o.gcNs,
    spill - o.spill, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, inputBytes - o.inputBytes,
    inputRows - o.inputRows, outputBytes - o.outputBytes)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, cpuNs + o.cpuNs, runNs + o.runNs, gcNs + o.gcNs,
    spill + o.spill, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, inputBytes + o.inputBytes,
    inputRows + o.inputRows, outputBytes + o.outputBytes)
}

object Counts {
  val zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Spark's own counters, summed from listener events. Job intervals are
  * kept so that time with no job running can be charged to the driver. */
final class EngineListener extends SparkListener {
  private val c = Array.fill(12)(new AtomicLong)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  val jobIntervals =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  /** Listener event times are wall-clock milliseconds; spans use
    * nanoTime. This offset maps one onto the other. */
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def toNano(wallMs: Long): Long = wallMs * 1000000L + wallToNano

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c(0).incrementAndGet()
    jobStart.put(e.jobId, toNano(e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != 0L) jobIntervals.add((s, toNano(e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c(1).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.executorCpuTime)
      c(4).addAndGet(m.executorRunTime * 1000000L)
      c(5).addAndGet(m.jvmGCTime * 1000000L)
      c(6).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c(7).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(8).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(9).addAndGet(m.inputMetrics.bytesRead)
      c(10).addAndGet(m.inputMetrics.recordsRead)
      c(11).addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(): Counts = {
    val v = c.map(_.get)
    Counts(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9),
      v(10), v(11))
  }
}

/** One micro-batch progress record, reduced to what the record reports. */
final case class BatchProgress(query: String, batchId: Long, startNs: Long,
    receivedNs: Long, durationsMs: Map[String, Long], inputRows: Long,
    stateRows: Long, stateBytes: Long, lateDropped: Long, endOffset: Long)

final class StreamListener(engine: EngineListener)
    extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = engine.toNano(
      java.time.Instant.parse(p.timestamp).toEpochMilli)
    val state = p.stateOperators.toSeq
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
    batches.add(BatchProgress(p.id.toString, p.batchId, start,
      System.nanoTime(), d, p.numInputRows,
      state.map(_.numRowsTotal).sum, state.map(_.memoryUsedBytes).sum,
      state.map(_.numRowsDroppedByWatermark).sum, end))
  }
}

object Probe {
  /** Waits until every listener has seen every posted event. */
  def drain(spark: SparkSession): Unit =
    try org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    catch { case e: java.util.concurrent.TimeoutException =>
      System.err.println(s"[perfbench] listener drain timed out: ${e.getMessage}") }

  /** Fixed-work CPU canary: the same compute-bound job every time. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 50000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(cast(bit_count(xxhash64(id)) as bigint)) as s")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set of this JVM, from /proc; -1 where unavailable. */
  def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(
        _.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
      finally src.close()
    }.getOrElse(-1.0)

  /** Megabytes held by persisted blocks right now. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize)
      .sum / 1048576.0

  /** Doubles become floats before hashing: summation order inside an
    * aggregate can move the last bits of a double, never a float's.
    * Maps become key-sorted entry arrays, which hash functions accept. */
  private def normType(t: DataType): DataType = t match {
    case DoubleType => FloatType
    case ArrayType(e, n) => ArrayType(normType(e), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = normType(f.dataType))))
    case MapType(k, v, n) => MapType(normType(k), normType(v), n)
    case other => other
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def normCol(f: StructField): Column = {
    val c = col(s"`${f.name}`").cast(normType(f.dataType))
    f.dataType match {
      case _: MapType => array_sort(map_entries(c))
      case t if hasMap(t) => to_json(c)
      case _ => c
    }
  }

  /** Row count and an order-independent content hash: each row hashes
    * to 64 bits and the hashes are summed in two 32-bit halves, so
    * neither row order nor partitioning moves the result. */
  def digest(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields.toSeq
    val h = if (fields.isEmpty) lit(0L) else xxhash64(fields.map(normCol): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 32)),
        sum(col("h").bitwiseAND(0xffffffffL)))
      .head()
    val n = r.getLong(0)
    val hi = if (r.isNullAt(1)) 0L else r.getLong(1)
    val lo = if (r.isNullAt(2)) 0L else r.getLong(2)
    (n, f"$hi%016x$lo%016x")
  }
}
