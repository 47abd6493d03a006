package graft.perfbench

/** Spark-free pieces of the harness, kept apart so LogicTest can check
  * them without a session: the percentile rule, span bookkeeping with
  * self time, the attempt/failure ledger and the open-loop clock. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank value at percentile `p` of ascending `sorted`. */
  def atPercentile(sorted: IndexedSeq[Double], p: Double): Double = {
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.min(sorted.size, math.max(1, rank)) - 1)
  }

  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail a record reports: the highest percentile of [[TailLadder]]
    * that leaves at least `beyond` samples strictly above its rank.
    * With too few samples for any of them, the maximum (percentile 100)
    * is reported, and the record says so through the percentile field.
    * Returns (value, percentile, sample count). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    TailLadder.find { p =>
      n - math.ceil(p / 100.0 * n).toInt >= beyond
    } match {
      case Some(p) => (atPercentile(s, p), p, n)
      case None => (s.last, 100.0, n)
    }
  }
}

/** One timed interval at a layer boundary. `op` is shared by every span
  * of one operation (0 outside operations); `parent` is -1 at the root. */
final case class Span(id: Int, name: String, layer: String, startNs: Long,
    endNs: Long, parent: Int, op: Int) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest through a stack on the calling
  * thread; [[record]] adds a finished span with an explicit parent (used
  * for micro-batch progress durations, which arrive after the fact).
  * A disabled tracer still runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def spans: Seq[Span] = buf.toSeq
  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String, layer: String, op: Int = 0)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = current
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      buf += Span(id, name, layer, t0, System.nanoTime(), parent, op)
    }
  }

  def record(name: String, layer: String, startNs: Long, endNs: Long,
      parent: Int, op: Int): Unit = if (enabled) {
    buf += Span(nextId, name, layer, startNs, endNs, parent, op)
    nextId += 1
  }
}

object SelfTime {
  /** Length of the union of intervals, clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo),
      math.min(b, hi)) }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover. Overlapping children count once. */
  def ofSpans(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> ((s.endNs - s.startNs) - covered(c, s.startNs, s.endNs))
    }.toMap
  }

  /** Self seconds summed per layer. */
  def perLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = ofSpans(spans)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}

/** Counts every operation attempted. A body that throws or fails its
  * output check is a failed operation; it stays in `attempted`, its
  * latency stays in the samples, and the failure is listed by name. */
final class Ledger {
  var attempted = 0
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  def failed: Int = failures.size

  /** Runs `body`; returns its value, or None when it threw. A reason
    * returned by `check` marks the operation failed as well. */
  def attempt[T](name: String)(body: => T)(check: T => Option[String])
      : Option[T] = {
    attempted += 1
    try {
      val v = body
      check(v).foreach(why => failures += s"$name: $why")
      Some(v)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) ||
          e.isInstanceOf[StackOverflowError] =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }
}

/** Open-loop schedule: event `i` is due at `startNs + i * 1e9 / rate`.
  * Latency is measured from the due time, so a stalled generator or a
  * stalled sink charges the wait to every event behind it. */
final class OpenLoop(val rate: Double, val startNs: Long) {
  def dueNs(i: Long): Long = startNs + (i * 1e9 / rate).toLong

  /** Index of the first event not yet due at `nowNs`. */
  def dueBy(nowNs: Long): Long =
    if (nowNs < startNs) 0L
    else math.floor((nowNs - startNs) * rate / 1e9).toLong + 1L

  def latencyS(i: Long, doneNs: Long): Double = (doneNs - dueNs(i)) / 1e9

  /** How late the generator handed event `i` over. */
  def lagS(i: Long, sentNs: Long): Double =
    math.max(0L, sentNs - dueNs(i)) / 1e9
}

/** Minimal JSON writer for the run record (numbers, strings, booleans,
  * nested maps, sequences and pairs). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case (a, b) => apply(Seq(a, b))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
