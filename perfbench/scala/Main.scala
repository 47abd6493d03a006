package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Expected outputs: per registry query its row count and content hash,
  * per composed job its reconciliation counters. In record mode every
  * value seen is stored instead, and a second, different value for the
  * same key is still a failure (the output is not deterministic). */
final class Goldens(path: String, recording: Boolean) {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val queries = mutable.TreeMap.empty[String, (Long, String)]
  private val jobs = mutable.TreeMap.empty[String, Map[String, Long]]

  locally {
    val f = new java.io.File(path)
    if (f.exists()) {
      import scala.jdk.CollectionConverters._
      val root = mapper.readTree(f)
      Option(root.get("queries")).foreach(_.fields().asScala.foreach { e =>
        queries(e.getKey) = (e.getValue.get("rows").asLong,
          e.getValue.get("hash").asText) })
      Option(root.get("jobs")).foreach(_.fields().asScala.foreach { e =>
        jobs(e.getKey) = e.getValue.fields().asScala
          .map(c => c.getKey -> c.getValue.asLong).toMap })
    } else if (!recording)
      throw new IllegalStateException(s"no goldens at $path")
  }

  def checkQuery(name: String, got: (Long, String)): Option[String] =
    queries.get(name) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"rows/hash $got, golden $want")
      case None if recording => queries(name) = got; None
      case None => Some("no golden")
    }

  def checkJob(name: String, got: Seq[(String, Long)]): Option[String] =
    jobs.get(name) match {
      case Some(want) if want == got.toMap => None
      case Some(want) =>
        val diff = (want.keySet ++ got.map(_._1)).toSeq.sorted
          .filter(k => want.get(k) != got.toMap.get(k))
          .map(k => s"$k=${got.toMap.get(k)} (golden ${want.get(k)})")
        Some(diff.mkString(", "))
      case None if recording => jobs(name) = got.toMap; None
      case None => Some("no golden")
    }

  def save(): Unit = {
    val body = Json(Map(
      "queries" -> queries.map { case (k, (r, h)) =>
        k -> mutable.LinkedHashMap("rows" -> r, "hash" -> h) },
      "jobs" -> jobs.map { case (k, m) => k -> mutable.TreeMap(m.toSeq: _*) }))
    val pretty = mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(mapper.readTree(body))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (pretty + "\n").getBytes("UTF-8"))
  }
}

/** One benchmark run in this JVM:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR --goldens FILE [--record] [--scope full]
  *
  * Prints a `RECORD` line with every field and a `RESULT` line with
  * the end-to-end and per-layer metrics. */
object Main {
  val Threads = 4
  /** Tasks run at once. Fewer than the cores of a 4-core box: the
    * workloads are driver-bound (the batch operations keep less than one
    * task busy on average) and the streams add a generator and two
    * micro-batch threads, so two slots leave the other cores to the
    * driver, JIT and GC threads instead of queueing all of them. */
  val Slots = 2

  /** A session with `threads` partitions (shuffle and default
    * parallelism) and `slots` concurrent tasks, at most `threads`. */
  def session(work: String, threads: Int, slots: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${math.min(slots, threads)}]")
      .appName("perfbench")
      .config("spark.default.parallelism", threads.toString)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.eventLog.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val recording = argv.contains("--record")
    val name = args("workload")
    val trace = args.getOrElse("trace", "0") == "1"
    val work = args("work")
    val workload = Workload(name)
    val goldens = new Goldens(args("goldens"), recording)

    val spark = session(work, Threads, Slots)
    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    val streams = new StreamListener(engine)
    spark.streams.addListener(streams)
    val tracer = new Tracer(trace)
    val ctx = new Ctx(spark, engine, streams, tracer, args("data"), work, goldens,
      args("seed").toLong, args("seconds").toDouble,
      args.get("scope").contains("full"))
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    tracer.span("setup", "setup")(workload.setup(ctx))
    ctx.e2e("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    ctx.record("setup_session_s") = sessionS

    Probe.canary(spark)
    ctx.record("canary_start_s") = Probe.canary(spark)
    tracer.span("operations", "workload")(workload.run(ctx))
    ctx.record("canary_end_s") = Probe.canary(ctx.spark)
    ctx.layer("engine.cached_peak_mb") = ctx.cachedPeakMb
    ctx.layer("jvm.peak_rss_mb") = Probe.peakRssMb()
    if (trace) {
      SelfTime.perLayer(tracer.spans).foreach { case (l, s) =>
        ctx.layer(s"self_s.$l") = s }
      val spanFile = s"$work/spans.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(spanFile),
        Json(tracer.spans.map(s => mutable.LinkedHashMap[String, Any](
          "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent,
          "op" -> s.op))).getBytes("UTF-8"))
      ctx.record("spans_file") = spanFile
      ctx.record("top_self") = topSelf(tracer.spans)
    }
    if (recording) goldens.save()
    ctx.spark.stop()

    val ledger = ctx.ledger
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> ctx.seed, "trace" -> trace,
      "threads" -> Threads, "slots" -> Slots, "ops" -> ledger.attempted,
      "ops_failed" -> ledger.failed, "failures" -> ledger.failures.take(20),
      "end_to_end" -> ctx.e2e, "per_layer" -> ctx.layer)
    record ++= ctx.record
    record("engine.wait_ratio") = ctx.layer.getOrElse("engine.wait_ratio", 0.0)
    println("RECORD " + Json(record))
    println("RESULT " + Json(mutable.LinkedHashMap(
      "correct" -> (ledger.failed == 0), "attempted" -> ledger.attempted,
      "failed" -> ledger.failed, "end_to_end" -> ctx.e2e,
      "per_layer" -> ctx.layer)))
  }

  /** The ten operations with the most self time in each layer. */
  def topSelf(spans: Seq[Span]): Map[String, Seq[(String, Double)]] = {
    val self = SelfTime.ofSpans(spans)
    val opName = spans.filter(_.layer == "operation").map(s => s.op -> s.name).toMap
    spans.filter(_.op > 0).groupBy(_.layer).map { case (l, ss) =>
      l -> ss.groupBy(s => opName.getOrElse(s.op, s.name)).toSeq
        .map { case (n, xs) => n -> xs.map(x => self(x.id)).sum / 1e9 }
        .sortBy(-_._2).take(10)
    }
  }
}
