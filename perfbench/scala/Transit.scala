package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.reference.{Fixtures, Schemas}
import graft.sources.TopicSource
import graft.streaming.StreamingQueries

/** Seeded `bike_stations` and `bus_position` JSON events. Event `i` is a
  * pure function of (seed, i); event time advances 10 ms per event. A
  * fiftieth of the bus readings arrive five minutes late, past Q3's
  * one-minute watermark. */
final class TransitEvents(seed: Long) {
  private val base = java.time.Instant.parse("2025-03-25T14:00:00Z")
  val stations: Int = 40

  private def rnd(i: Long) = new java.util.Random(seed * 0x9E3779B97F4A7C15L + i)
  private def at(i: Long): java.time.Instant = base.plusMillis(i * 10)

  def isBike(i: Long): Boolean = i % 2 == 0

  def bike(i: Long): String = {
    val r = rnd(i)
    val s = r.nextInt(stations)
    val stands = 10 + s % 15
    val bikes = r.nextInt(stands + 1)
    val ts = at(i).truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
    val lat = 47.20 + s * 0.0007
    val lon = -1.56 + (s * 37 % 40) * 0.0008
    s"""{"name": "Station $s", "number": "$s", "address": "$s Rue du Test", """ +
      s""""position": {"lon": $lon, "lat": $lat}, "available_bikes": "$bikes", """ +
      s""""available_bike_stands": "${stands - bikes}", "bike_stands": $stands, """ +
      s""""last_update": "${ts}"}"""
  }

  def bus(i: Long): String = {
    val r = rnd(i)
    val stop = Fixtures.route(r.nextInt(Fixtures.route.size))
    val temps = if (r.nextInt(6) == 0) "proche" else s"${1 + r.nextInt(20)}mn"
    val late = r.nextInt(50) == 0
    val t = if (late) at(i).minusSeconds(300) else at(i)
    val created = java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)
    s"""{"sens": ${1 + r.nextInt(2)}, "terminus": "T", "infotrafic": false, """ +
      s""""temps": "$temps", "tempsReel": "${r.nextInt(10) != 0}", """ +
      s""""stop": "$stop", "numLigne": "C6", "created_at": "$created"}"""
  }
}

/** One `addData` call: stream 0 (bike) or 1 (bus), the offset it
  * produced, the schedule index of each event and when it went out. */
final case class Add(stream: Int, offset: Long, events: Seq[Long],
    sentNs: Long)

/** The paper's Q4 (bike shelters, complete mode, nearest-k per
  * micro-batch) and Q3 (bus positions, append mode), fed through
  * TopicSource.lift from two MemoryStreams by a single open-loop
  * generator on the calling thread. */
final class TransitPipeline(spark: SparkSession, events: TransitEvents) {
  import TransitPipeline._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private implicit val enc: org.apache.spark.sql.Encoder[String] =
    org.apache.spark.sql.Encoders.STRING
  val bikeMs: MemoryStream[String] = MemoryStream[String](Partitions)
  val busMs: MemoryStream[String] = MemoryStream[String](Partitions)
  /** (stream, batchId) -> when the sink was handed that batch's result. */
  val handed = new java.util.concurrent.ConcurrentHashMap[(Int, Long), Long]
  @volatile var lastQ4: Seq[String] = Nil
  val q3Rows = new java.util.concurrent.atomic.AtomicLong
  val bikeSent = mutable.ArrayBuffer.empty[String]
  val adds = mutable.ArrayBuffer.empty[Add]
  var next = 0L

  val q4: StreamingQuery = StreamingQueries.foreachBatchTopK(
    StreamingQueries.bikeShelterAgg(
      TopicSource.lift(bikeMs.toDF(), Schemas.bikeStation)),
    QLat, QLon, K) { (df, id) =>
    lastQ4 = rowsOf(df)
    handed.put((0, id), System.nanoTime())
  }
  val q3: StreamingQuery = StreamingQueries.busPositions(
      TopicSource.lift(busMs.toDF(), Schemas.busPosition), Fixtures.route)
    .writeStream.outputMode("append")
    .foreachBatch { (df: DataFrame, id: Long) =>
      q3Rows.addAndGet(df.count())
      handed.put((1, id), System.nanoTime())
      ()
    }.start()
  val ids: Map[String, Int] = Map(q4.id.toString -> 0, q3.id.toString -> 1)

  /** Sends events next until next+n as one add per stream. */
  def send(n: Long): Unit = {
    val idx = next until next + n
    next += n
    val now = System.nanoTime()
    val (b, s) = idx.partition(events.isBike)
    if (b.nonEmpty) {
      val js = b.map(events.bike)
      bikeSent ++= js
      adds += Add(0, offsetOf(bikeMs.addData(js)), b, now)
    }
    if (s.nonEmpty)
      adds += Add(1, offsetOf(busMs.addData(s.map(events.bus))), s, now)
  }

  def settle(): Unit = { q4.processAllAvailable(); q3.processAllAvailable() }

  def stop(): Unit = { q4.stop(); q3.stop() }

  /** Runs an open loop at `rate` events/s for `seconds`. The adds it
    * makes carry schedule indices (0 = first event of this loop). */
  def openLoop(rate: Double, seconds: Double): OpenLoop = {
    val total = math.max(1L, (rate * seconds).toLong)
    val loop = new OpenLoop(rate, System.nanoTime() + 5000000L)
    val first = next
    var lastSend = 0L
    while (next - first < total) {
      val now = System.nanoTime()
      val due = math.min(total, loop.dueBy(now))
      if (due > next - first && now - lastSend >= TickNs) {
        lastSend = now
        val before = adds.size
        send(due - (next - first))
        for (j <- before until adds.size) adds(j) = adds(j).copy(
          events = adds(j).events.map(_ - first))
      } else java.util.concurrent.locks.LockSupport.parkNanos(math.max(
        100000L, math.max(loop.dueNs(next - first), lastSend + TickNs) -
          System.nanoTime()))
    }
    loop
  }
}

object TransitPipeline {
  /** Partitions of each topic, as a Kafka topic would have. */
  val Partitions = 4
  /** The generator wakes this often and sends every event due by then. */
  val TickNs = 20000000L
  val QLat = 47.2154
  val QLon = -1.5457
  val K = 5

  def offsetOf(o: Any): Long = o.toString.trim.toLong

  def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** When each add's events were handed to the sink: the first batch of
    * its stream whose end offset reaches the add's offset. */
  def completions(adds: Seq[Add], batches: Seq[BatchProgress],
      ids: Map[String, Int], handed: java.util.Map[(Int, Long), Long])
      : Seq[Option[Long]] = {
    val byStream = batches.filter(b => ids.contains(b.query))
      .groupBy(b => ids(b.query)).map { case (s, bs) =>
        s -> bs.sortBy(_.batchId).toIndexedSeq }
    adds.map { a =>
      byStream.getOrElse(a.stream, IndexedSeq.empty)
        .find(_.endOffset >= a.offset)
        .map(b => Option(handed.get((a.stream, b.batchId))).getOrElse(b.receivedNs))
    }
  }
}

/** Open-loop stream workload. Set-up starts both queries and pushes a
  * warm-up batch through them. The timed phase is:
  *  1. a fixed-rate open loop — event latency from due time to sink;
  *  2. fixed bursts drained to empty — `run_s` is their median;
  *  3. in a traced run, a rate ladder — the highest rate that keeps the
  *     latency tail under [[LatencyLimitS]] without a growing backlog —
  *     on this session and on a one-core one.
  * The final Q4 table must equal bikeShelterAgg over the same events
  * as a static frame. */
final class TransitWorkload extends Workload {
  val FixedRate = 400.0
  val WarmSeconds = 3.0
  val FixedSeconds = 12.0
  val Burst = 2000L
  val Bursts = 10
  val Ladder: Seq[Double] = Seq(4000.0, 16000.0, 64000.0, 256000.0)
  val RungSeconds = 1.5
  val LatencyLimitS = 2.5
  private var pipe: TransitPipeline = _

  /** Starts both queries and runs them at the fixed rate until the JIT
    * and the state stores have settled. */
  def setup(ctx: Ctx): Unit = {
    pipe = new TransitPipeline(ctx.spark, new TransitEvents(ctx.seed))
    pipe.send(200)
    pipe.settle()
    pipe.openLoop(FixedRate, WarmSeconds)
    pipe.settle()
  }

  /** When each add's events reached the sink, after draining listeners. */
  private def done(ctx: Ctx, adds: Seq[Add]): Seq[Option[Long]] = {
    Probe.drain(ctx.spark)
    TransitPipeline.completions(adds,
      ctx.streams.batches.toArray(Array.empty[BatchProgress]).toSeq,
      pipe.ids, pipe.handed)
  }

  /** Runs the open loop and returns its adds, the loop and their
    * completions. */
  private def openLoop(ctx: Ctx, rate: Double, seconds: Double)
      : (Seq[Add], OpenLoop, Seq[Option[Long]]) = {
    val before = pipe.adds.size
    val loop = pipe.openLoop(rate, seconds)
    pipe.settle()
    val adds = pipe.adds.drop(before).toSeq
    (adds, loop, done(ctx, adds))
  }

  private def latencies(loop: OpenLoop, adds: Seq[Add],
      done: Seq[Option[Long]]): Seq[Double] =
    adds.zip(done).flatMap { case (a, d) =>
      d.toSeq.flatMap(ns => a.events.map(i => loop.latencyS(i, ns))) }

  /** Events still unfinished at `t` among those sent by then. */
  private def backlog(adds: Seq[Add], done: Seq[Option[Long]], t: Long): Int =
    adds.zip(done).collect {
      case (a, d) if a.sentNs <= t && d.forall(_ > t) => a.events.size
    }.sum

  /** Highest ladder rate whose latency tail stays under the limit and
    * whose backlog at the end of the rung is under the limit's worth of
    * events. */
  private def ladder(ctx: Ctx): Double = Ladder.takeWhile { rate =>
    val (adds, loop, d) = openLoop(ctx, rate, RungSeconds)
    val lat = latencies(loop, adds, d)
    d.forall(_.isDefined) && Stats.tail(lat)._1 <= LatencyLimitS &&
      backlog(adds, d, adds.last.sentNs) <= rate * LatencyLimitS
  }.lastOption.getOrElse(0.0)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // 1. fixed-rate open loop
    val (adds, loop, d) = openLoop(ctx, FixedRate, FixedSeconds)
    ctx.ledger.attempted += adds.map(_.events.size).sum
    adds.zip(d).collect { case (a, None) => a }.foreach(a =>
      ctx.ledger.failures += s"${a.events.size} events of offset ${a.offset} without result")
    ctx.latency(latencies(loop, adds, d))
    ctx.layer("generator.lag_max_s") = adds.groupBy(_.sentNs).map {
      case (ns, as) => loop.lagS(as.flatMap(_.events).min, ns) }.max
    ctx.layer("streaming.backlog_max_rows") =
      adds.map(_.sentNs).distinct.map(backlog(adds, d, _)).max.toDouble
    // 2. bursts. A burst's drain time runs from its send until the last
    // batch holding its events was handed to the sink; a trailing
    // no-data batch that only advances the watermark does not count.
    def burst(traced: Boolean): Double = {
      val tr = if (traced) ctx.tracer else new Tracer(false)
      val before = pipe.adds.size
      val s0 = System.nanoTime()
      tr.span("burst", "operation", ctx.newOp()) {
        pipe.send(Burst)
        pipe.settle()
      }
      ctx.ledger.attempted += Burst.toInt
      val bd = done(ctx, pipe.adds.drop(before).toSeq)
      if (bd.exists(_.isEmpty)) ctx.ledger.failures += "burst without result"
      (bd.flatten.max - s0) / 1e9
    }
    // CPU over the bursts only: their work is fixed, while the fixed-rate
    // phase's batch count (and so its per-batch CPU) follows timing
    val c0 = ctx.counts()
    val t0 = System.nanoTime()
    val drains = (0 until Bursts).map(_ => burst(false))
    val c = ctx.counts() - c0
    ctx.e2e("run_s") = Stats.median(drains)
    ctx.e2e("cpu_s") = c.cpuNs / 1e9
    ctx.engineRows(c, (System.nanoTime() - t0) / 1e9).foreach {
      case (k, v) => ctx.layer(k) = v }
    ctx.record("burst_drain_s") = drains
    if (ctx.traced) {
      val traced = (0 until Bursts).map(_ => burst(true))
      ctx.layer("trace.overhead_s") = Stats.median(traced) - ctx.e2e("run_s")
      // 3. rate ladder: a discrete reading, so it rides the traced run
      ctx.layer("streaming.events_per_s") = ladder(ctx)
    }
    // checks: the final Q4 table against the static recompute, and Q3
    // emitted rows without failing
    pipe.settle()
    ctx.ledger.attempt("q4_final_table") {
      import spark.implicits._
      val static = StreamingQueries.nearestK(StreamingQueries.bikeShelterAgg(
        TopicSource.lift(pipe.bikeSent.toSeq.toDF("value"), Schemas.bikeStation)),
        TransitPipeline.QLat, TransitPipeline.QLon, TransitPipeline.K)
      TransitPipeline.rowsOf(static)
    } { want =>
      if (want == pipe.lastQ4) None
      else Some(s"streamed ${pipe.lastQ4.size} rows, static ${want.size} rows differ")
    }
    ctx.ledger.attempt("q3_positions")(pipe.q3.exception)(e =>
      e.map(_.getMessage).orElse(
        if (pipe.q3Rows.get > 0) None else Some("Q3 emitted no rows")))
    Probe.drain(spark)
    val bs = ctx.streams.batches.toArray(Array.empty[BatchProgress]).toSeq
      .filter(b => pipe.ids.contains(b.query))
    streamingRows(ctx, bs)
    pipe.stop()
    if (ctx.traced) {
      bs.foreach { b =>
        val op = ctx.newOp()
        val trig = b.durationsMs.getOrElse("triggerExecution", 0L) * 1000000L
        ctx.tracer.record(s"batch ${b.batchId}", "streaming.batch", b.startNs,
          b.startNs + trig, -1, op)
        val parent = ctx.tracer.spans.last.id
        var at = b.startNs
        for (k <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
            "walCommit", "commitOffsets"); d <- b.durationsMs.get(k)) {
          ctx.tracer.record(k, "streaming.phase", at, at + d * 1000000L, parent, op)
          at += d * 1000000L
        }
      }
      ctx.layer("streaming.events_per_s_local1") = local1Baseline(ctx)
    }
  }

  private def streamingRows(ctx: Ctx, bs: Seq[BatchProgress]): Unit = {
    def sumMs(keys: String*) =
      bs.map(b => keys.flatMap(b.durationsMs.get).sum).sum / 1e3
    def maxOf(f: BatchProgress => Double) =
      if (bs.isEmpty) 0.0 else bs.map(f).max
    ctx.layer("sources.lift_rows") = bs.map(_.inputRows).sum.toDouble
    ctx.layer("streaming.batches") = bs.size.toDouble
    ctx.layer("streaming.add_batch_s") = sumMs("addBatch")
    ctx.layer("streaming.plan_s") = sumMs("queryPlanning")
    ctx.layer("streaming.commit_s") = sumMs("walCommit", "commitOffsets")
    ctx.layer("streaming.batch_p50_s") =
      if (bs.isEmpty) 0.0 else Stats.median(bs.map(
        _.durationsMs.getOrElse("triggerExecution", 0L) / 1e3))
    ctx.layer("streaming.state_rows") = maxOf(_.stateRows.toDouble)
    ctx.layer("streaming.state_mb") = maxOf(_.stateBytes / 1048576.0)
    ctx.layer("streaming.late_rows_dropped") = bs.map(_.lateDropped).sum.toDouble
  }

  /** The same ladder on a one-core session: the single-thread baseline. */
  private def local1Baseline(ctx: Ctx): Double = {
    ctx.spark.streams.removeListener(ctx.streams)
    ctx.spark.stop()
    ctx.spark = Main.session(ctx.work, 1, 1)
    ctx.spark.sparkContext.addSparkListener(ctx.engine)
    ctx.streams = new StreamListener(ctx.engine)
    ctx.spark.streams.addListener(ctx.streams)
    pipe = new TransitPipeline(ctx.spark, new TransitEvents(ctx.seed))
    pipe.send(200)
    pipe.settle()
    val r = ladder(ctx)
    pipe.stop()
    r
  }
}
