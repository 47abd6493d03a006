package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.queries.Q

/** What every workload shares: the session, the listeners, the tracer,
  * the failure ledger, the goldens, the input tables and where to
  * write. */
final class Ctx(var spark: SparkSession, val engine: EngineListener,
    var streams: StreamListener, val tracer: Tracer, val dir: String,
    val work: String, val goldens: Goldens, val seed: Long,
    val seconds: Double, val full: Boolean) {
  val ledger = new Ledger
  /** Metrics and record fields the workload reports. */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val record = mutable.LinkedHashMap.empty[String, Any]
  var cachedPeakMb = 0.0
  /** Time a traced run spends in its own hooks (listener drains and
    * counter snapshots at span boundaries). */
  var hookNs = 0L
  private var nextOp = 0

  def traced: Boolean = tracer.enabled
  def newOp(): Int = { nextOp += 1; nextOp }

  def counts(): Counts = { Probe.drain(spark); engine.snapshot() }
  def sampleCache(): Unit =
    cachedPeakMb = math.max(cachedPeakMb, Probe.cachedMb(spark))

  /** Box-adjudication rows over one window of engine counters. */
  def engineRows(c: Counts, wallS: Double): Seq[(String, Double)] = Seq(
    "engine.cpu_s" -> c.cpuNs / 1e9,
    "engine.task_run_s" -> c.runNs / 1e9,
    "engine.wait_ratio" -> (if (c.cpuNs > 0) c.runNs.toDouble / c.cpuNs else 0.0),
    "engine.gc_s" -> c.gcNs / 1e9,
    "engine.spill_bytes" -> c.spill.toDouble,
    "engine.jobs" -> c.jobs.toDouble,
    "engine.stages" -> c.stages.toDouble,
    "engine.tasks" -> c.tasks.toDouble,
    "engine.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
    "engine.shuffle_read_bytes" -> c.shuffleRead.toDouble,
    "engine.output_bytes" -> c.outputBytes.toDouble,
    "sources.input_bytes" -> c.inputBytes.toDouble,
    "sources.input_rows" -> c.inputRows.toDouble,
    "engine.busy_share" -> (if (wallS > 0) c.runNs / 1e9 / wallS else 0.0))

  /** Sets the latency metrics from per-operation samples. */
  def latency(samples: Seq[Double]): Unit = {
    val (t, p, n) = Stats.tail(samples)
    e2e("op_p50_s") = Stats.median(samples)
    e2e("op_tail_s") = t
    record("op_tail_percentile") = p
    record("op_samples") = n
  }

  def deleteTree(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(x =>
      deleteTree(x.getPath)))
    f.delete()
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val it = java.nio.file.Files.walk(src)
    try it.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally it.close()
  }
}

/** A workload: how to build its standing state, and its timed phase. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def run(ctx: Ctx): Unit
}

object Workload {
  private val dedupGraph = Seq(graft.queries.DedupOps.queries,
    graft.queries.DedupFusionOps.queries, graft.queries.KnnGraphOps.queries)
  private val oneShot = Seq(graft.queries.TpchLike.queries,
    graft.queries.EventOps.queries, graft.queries.TextOps.queries,
    graft.queries.VectorOps.queries, graft.queries.MultimodalOps.queries,
    graft.queries.PipelineOps.queries, graft.reference.RefQueries.queries)
  private val composed = Seq("PipelineMain", "IngestMain", "VectorIngestMain")

  /** The ServingIndexes builds each query family reads; IngestMain
    * reads lsh and span as well. */
  private val dedupGraphIndexes = Seq("lsh", "span", "knngraph", "knngraphcorpus")
  private val oneShotIndexes = Seq("posting", "chunk")
  /** What batch reads: IngestMain lsh and span. Its one KnnGraphOps
    * query, NN-Descent, builds its graph itself. */
  private val batchIndexes = Seq("lsh", "span")

  def apply(name: String): Workload = name match {
    case "dedup_graph" =>
      new PassWorkload(dedupGraph.map(_ -> 4), Nil, dedupGraphIndexes)
    case "analytics" => new PassWorkload(oneShot.map(_ -> 8), Nil, oneShotIndexes)
    case "nightly" => new PassWorkload(Nil, composed, Seq("lsh", "span"))
    case "batch" =>
      new PassWorkload(dedupGraph.init.map(_ -> 8) :+ (dedupGraph.last -> 16),
        Seq("IngestMain"), batchIndexes)
    case "transit_stream" => new TransitWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Drops every session-held shared artifact, so each pass of a
    * workload starts from the same memo state. */
  def resetArtifacts(): Unit = {
    graft.queries.DedupOps.invalidateSharedArtifacts()
    graft.queries.TextOps.invalidateSharedArtifacts()
    graft.queries.VectorOps.invalidateSharedArtifacts()
    graft.queries.PipelineOps.invalidateSharedArtifacts()
    graft.queries.KnnGraphOps.invalidateSharedArtifacts()
  }
}

/** Times the steps of one operation. Each step is a span; in a traced
  * pass it also records the engine counters the step moved. */
final class Phases(ctx: Ctx, tr: Tracer, op: Int) {
  val counts = mutable.LinkedHashMap.empty[String, Counts]
  def apply[T](name: String, layer: String)(body: => T): T = {
    if (!tr.enabled) return body
    val h0 = System.nanoTime()
    val c0 = ctx.counts()
    val h1 = System.nanoTime()
    val r = tr.span(name, layer, op)(body)
    val h2 = System.nanoTime()
    counts(layer) = counts.getOrElse(layer, Counts.zero) + (ctx.counts() - c0)
    ctx.hookNs += (h1 - h0) + (System.nanoTime() - h2)
    r
  }
}

/** One operation of a pass. `run` does the timed work through `phase`
  * and returns the output check, which runs untimed afterwards (None =
  * correct). */
trait Op {
  def name: String
  def run(ctx: Ctx, phase: Phases, root: String): () => Option[String]
}

/** A registry call: build (the registry function, with its eager jobs),
  * plan (Catalyst) and exec (a noop write). The check compares the row
  * count and content hash with the golden. */
final class QueryOp(q: Q) extends Op {
  def name: String = q.name
  def run(ctx: Ctx, phase: Phases, root: String): () => Option[String] = {
    val df = phase("build", "queries.build")(q.run(ctx.spark, ctx.dir))
    phase("plan", "queries.plan")(df.queryExecution.executedPlan)
    phase("exec", "queries.exec")(df.write.format("noop").mode("overwrite").save())
    () => {
      ctx.sampleCache()
      val verdict = ctx.goldens.checkQuery(q.name, Probe.digest(df))
      // a query's own persisted result is released once consumed; the
      // shared artifacts stay for the queries that ride them
      if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE &&
          !graft.queries.DedupOps.isSharedArtifact(df) &&
          !graft.queries.VectorOps.isSharedArtifact(df) &&
          !graft.queries.TextOps.isSharedArtifact(df) &&
          !graft.queries.PipelineOps.isSharedArtifact(df) &&
          !graft.queries.KnnGraphOps.isSharedArtifact(df))
        df.unpersist(blocking = false)
      verdict
    }
  }
}

/** A composed job writing under `root/name`. The check compares the
  * reconciliation counters it returns with the goldens. */
final class JobOp(val name: String) extends Op {
  def run(ctx: Ctx, phase: Phases, root: String): () => Option[String] = {
    val out = s"$root/$name"
    val spark = ctx.spark
    val got = phase(name, "composed")(name match {
      case "PipelineMain" => graft.PipelineMain.runPipeline(spark, ctx.dir, out)
      case "IngestMain" => graft.IngestMain.runIngest(spark, ctx.dir, out)
      case "VectorIngestMain" =>
        graft.VectorIngestMain.runVectorIngest(spark, ctx.dir, out)
    })
    () => {
      ctx.sampleCache()
      ctx.record(s"$name.counters") = got.toMap
      got.toMap.get("rebuild_rounds").foreach(r =>
        ctx.layer("VectorIngestMain.rebuild_rounds") = r.toDouble)
      ctx.goldens.checkJob(name, got)
    }
  }
}

/** A closed loop of operations, one after another: registry queries
  * taken from each object's `queries` list (every `stride`-th one, or
  * all of them with --scope full), then composed jobs. Seed 0 keeps
  * registry order; any other seed runs the queries in a seeded
  * permutation.
  *
  * Set-up builds the ServingIndexes that the workload's operations read
  * (`indexes`), and the standing state the composed jobs start from: the
  * ingest tick's posting and chunk indexes and scorer model, and the
  * vector tick's corpus graph. It ends with one untimed warm-up pass of
  * the same operations in the same order, so that the timed passes run
  * compiled code (JIT and whole-stage codegen) and do not charge first
  * use to whichever operation comes first. Every operation starts with
  * the shared artifacts dropped, and every pass copies the standing
  * state under a fresh root, because a tick mutates its directory and a
  * replay onto it would time a different job. */
final class PassWorkload(lists: Seq[(Seq[Q], Int)], jobs: Seq[String],
    indexes: Seq[String]) extends Workload {
  private def standing(ctx: Ctx) = s"${ctx.work}/standing"
  private var order: Seq[Op] = Nil
  private var n = 0

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.ServingIndexes._
    val index: Map[String, (SparkSession, String) => String] = Map(
      "lsh" -> lshIndex, "span" -> spanIndex, "posting" -> postingIndex,
      "chunk" -> chunkIndex, "knngraph" -> knnGraphIndex,
      "knngraphcorpus" -> knnCorpusGraphIndex)
    val root = standing(ctx)
    val builds: Seq[(String, () => Unit)] = indexes.map { k =>
      k -> (() => { index(k)(spark, ctx.dir); () }) } ++ (if (jobs.contains("IngestMain")) {
      lazy val corpus = graft.sources.Tables(spark, ctx.dir, "documents")
        .filter(!graft.queries.DedupFusionOps.isDeltaCol)
        .select($"doc_id", $"source", $"text")
      Seq("ingest.posting" -> (() => graft.queries.TextOps.postingWriteIndexOf(
          corpus.select($"doc_id", $"text"), s"$root/IngestMain/posting_index")),
        "ingest.chunk" -> (() => graft.queries.VectorOps.chunkWriteIndexOf(
          corpus.select($"doc_id", $"text"), s"$root/IngestMain/chunk_index")),
        "ingest.scorer" -> (() => graft.streaming.StreamingQueries.writeScorerModel(
          corpus, s"$root/IngestMain/scorer_model")))
    } else Nil) ++ (if (jobs.contains("VectorIngestMain")) Seq(
      // the corpus side of VectorIngestMain's delta split
      "vector.graph" -> (() => graft.queries.KnnGraphOps.knnGraphWriteIndexOf(
        graft.sources.Tables(spark, ctx.dir, "embeddings")
          .select($"vec_id", $"embedding")
          .filter(!(substring(md5($"vec_id".cast("string")), 1, 2) < "1a")),
        s"$root/VectorIngestMain/knn_graph")))
    else Nil)
    val qs = lists.flatMap { case (qs, stride) => qs.zipWithIndex.collect {
      case (q, i) if ctx.full || i % stride == 0 => q } }
    order = (if (ctx.seed == 0) qs
      else new scala.util.Random(ctx.seed).shuffle(qs)).map(new QueryOp(_)) ++
      jobs.map(new JobOp(_))
    ctx.record("ops_order") = order.map(_.name)
    // a throwing operation fails again in the timed pass, which counts
    // it; the warm-up pass neither counts nor checks, so it also drops
    // what its queries left persisted
    val warm = "warm-up pass" -> (() => {
      pass(ctx, traced = false, new Ledger, check = false)
      Workload.resetArtifacts()
      spark.catalog.clearCache() })
    new java.io.File(root).mkdirs()
    ctx.record("setup_parts_s") = (builds :+ warm).map { case (k, b) =>
      val t0 = System.nanoTime()
      ctx.tracer.span(k, "setup.build")(b())
      k -> (System.nanoTime() - t0) / 1e9
    }.toMap
  }

  private case class Pass(wall: Double, lat: Seq[Double], c: Counts,
      phases: Seq[(String, mutable.LinkedHashMap[String, Counts])])

  private def pass(ctx: Ctx, traced: Boolean, ledger: Ledger,
      check: Boolean): Pass = {
    n += 1
    val root = s"${ctx.work}/pass_$n"
    ctx.copyTree(standing(ctx), root)
    val tr = if (traced) ctx.tracer else new Tracer(false)
    val lat = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.ArrayBuffer.empty[(String, mutable.LinkedHashMap[String, Counts])]
    var untimedNs = 0L
    var checkCounts = Counts.zero
    val c0 = ctx.counts()
    val t0 = System.nanoTime()
    tr.span("pass", "workload") {
      order.foreach { o =>
        // every operation starts from the same memo state, so what it
        // costs does not depend on which operations ran before it
        val r0 = System.nanoTime()
        Workload.resetArtifacts()
        untimedNs += System.nanoTime() - r0
        val id = ctx.newOp()
        val ph = new Phases(ctx, tr, id)
        val s0 = System.nanoTime()
        var s1 = 0L
        ledger.attempt(o.name) {
          val verdict = tr.span(o.name, "operation", id)(o.run(ctx, ph, root))
          s1 = System.nanoTime()
          verdict
        } { verdict =>
          if (!check) None
          else {
            val k0 = System.nanoTime()
            val kc = ctx.counts()
            try verdict() finally {
              checkCounts = checkCounts + (ctx.counts() - kc)
              untimedNs += System.nanoTime() - k0
            }
          }
        }
        lat += ((if (s1 > 0) s1 else System.nanoTime()) - s0) / 1e9
        phases += o.name -> ph.counts
      }
    }
    // output checks and the resets are outside the timed and counted work
    val wall = (System.nanoTime() - t0 - untimedNs) / 1e9
    val c = ctx.counts() - c0 - checkCounts
    ctx.deleteTree(root)
    Pass(wall, lat.toSeq, c, phases.toSeq)
  }

  def run(ctx: Ctx): Unit = {
    val ps =
      if (ctx.traced) {
        // one traced pass; its overhead is the time spent in the hooks
        val t = pass(ctx, traced = true, ctx.ledger, check = true)
        ctx.layer("trace.overhead_s") = ctx.hookNs / 1e9
        Seq(t)
      } else {
        val out = mutable.ArrayBuffer.empty[Pass]
        val t0 = System.nanoTime()
        while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
          out += pass(ctx, traced = false, ctx.ledger, check = true)
        out.toSeq
      }
    ctx.e2e("run_s") = Stats.median(ps.map(_.wall))
    ctx.e2e("cpu_s") = Stats.median(ps.map(_.c.cpuNs / 1e9))
    ctx.latency(ps.flatMap(_.lat))
    ctx.record("passes") = ps.size
    ctx.record("pass_wall_s") = ps.map(_.wall)
    ctx.record("pass_cpu_s") = ps.map(_.c.cpuNs / 1e9)
    val p = ps.head
    ctx.record("op_latency_s") = order.map(_.name).zip(p.lat).toMap
    for ((o, i) <- order.zipWithIndex) o match {
      case j: JobOp => ctx.record(Map("PipelineMain" -> "pipeline_s",
        "IngestMain" -> "ingest_tick_s", "VectorIngestMain" -> "vector_tick_s")(j.name)) =
        Stats.median(ps.map(_.lat(i)))
      case _ =>
    }
    ctx.engineRows(p.c, p.wall).foreach { case (k, v) => ctx.layer(k) = v }
    if (ctx.traced) traceRows(ctx, p)
  }

  private def traceRows(ctx: Ctx, p: Pass): Unit = {
    val spans = ctx.tracer.spans
    def layerS(l: String) = spans.filter(_.layer == l).map(_.durS).sum
    def jobsIn(l: String, ops: Seq[(String, mutable.LinkedHashMap[String, Counts])]) =
      ops.flatMap(_._2.get(l)).map(_.jobs).sum.toDouble
    for (l <- Seq("build", "plan", "exec"))
      ctx.layer(s"queries.${l}_s") = layerS(s"queries.$l")
    ctx.layer("queries.build_jobs") = jobsIn("queries.build", p.phases)
    ctx.layer("queries.exec_jobs") = jobsIn("queries.exec", p.phases)
    for (j <- Seq("PipelineMain", "IngestMain", "VectorIngestMain"))
      ctx.layer(s"$j.jobs") = jobsIn("composed", p.phases.filter(_._1 == j))
    val jobs = ctx.engine.jobIntervals.toArray(Array.empty[(Long, Long)]).toSeq
    ctx.layer("engine.idle_s") = spans.filter(_.layer == "operation").map { s =>
      (s.endNs - s.startNs - SelfTime.covered(jobs, s.startNs, s.endNs)) / 1e9
    }.sum
    ctx.record("per_op") = p.phases.map { case (name, ph) =>
      val t = ph.values.foldLeft(Counts.zero)(_ + _)
      mutable.LinkedHashMap[String, Any]("name" -> name,
        "build_jobs" -> ph.get("queries.build").map(_.jobs).getOrElse(0L),
        "exec_jobs" -> ph.get("queries.exec").map(_.jobs).getOrElse(0L),
        "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
        "cpu_s" -> t.cpuNs / 1e9, "shuffle_write_bytes" -> t.shuffleWrite,
        "shuffle_read_bytes" -> t.shuffleRead, "input_bytes" -> t.inputBytes)
    }
  }
}
