package graft.perfbench

/** Checks of the harness's own logic; no Spark session needed. Exits
  * non-zero on the first failed check.
  *
  *   java -cp <classpath> graft.perfbench.LogicTest
  */
object LogicTest {
  private var checks = 0

  private def check(what: String)(cond: Boolean): Unit = {
    checks += 1
    if (!cond) {
      System.err.println(s"FAIL: $what")
      sys.exit(1)
    }
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def tailRule(): Unit = {
    val xs = (1 to 20).map(_.toDouble)
    // 20 samples: p50 leaves 10 beyond, p75 only 5
    check("20 samples -> p50")(Stats.tail(xs) == ((10.0, 50.0, 20)))
    val ys = (1 to 110).map(_.toDouble)
    // 110 samples: p90 leaves 11 beyond, p95 only 5
    check("110 samples -> p90")(Stats.tail(ys) == ((99.0, 90.0, 110)))
    val zs = (1 to 1000).map(_.toDouble)
    check("1000 samples -> p99")(Stats.tail(zs) == ((990.0, 99.0, 1000)))
    // too few samples for any percentile: the maximum, labelled 100
    check("11 samples -> max")(Stats.tail((1 to 11).map(_.toDouble)) ==
      ((11.0, 100.0, 11)))
    check("order does not matter")(
      Stats.tail(scala.util.Random.shuffle(ys)) == Stats.tail(ys))
    check("median even")(close(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5))
  }

  def selfTimeWithOverlap(): Unit = {
    val spans = Seq(
      Span(0, "op", "operation", 0, 100, -1, 1),
      Span(1, "a", "queries.build", 10, 40, 0, 1),
      Span(2, "b", "queries.build", 30, 60, 0, 1), // overlaps a
      Span(3, "c", "queries.exec", 90, 120, 0, 1), // runs past the parent
      Span(4, "d", "queries.exec", 35, 45, 1, 1)) // child of a
    val self = SelfTime.ofSpans(spans)
    // children cover [10,60) and [90,100): 60 of the parent's 100
    check("parent self = 100 - 60")(self(0) == 40L)
    // a's grandchild d runs [35,45): only [35,40) lies inside a
    check("child self minus clipped grandchild")(self(1) == 25L)
    check("leaf self = duration")(self(2) == 30L && self(3) == 30L)
    val perLayer = SelfTime.perLayer(spans)
    check("per layer sums")(close(perLayer("queries.build"), 55 / 1e9) &&
      close(perLayer("operation"), 40 / 1e9))
    check("covered clips")(SelfTime.covered(Seq((0L, 10L), (5L, 20L)), 8, 12) == 4L)
  }

  def throwingOpIsFailed(): Unit = {
    val l = new Ledger
    val r = l.attempt("boom")(throw new IllegalStateException("no"))(
      (_: Nothing) => None)
    check("throw -> None")(r.isEmpty)
    check("throw counted as attempted and failed")(l.attempted == 1 && l.failed == 1)
    l.attempt("bad output")(42)(v => if (v == 42) Some("wrong") else None)
    check("check failure counted")(l.attempted == 2 && l.failed == 2)
    l.attempt("ok")(1)(_ => None)
    check("success not counted as failed")(l.attempted == 3 && l.failed == 2)
    check("failures name the operation")(
      l.failures.head.startsWith("boom: IllegalStateException"))
  }

  def openLoopTiming(): Unit = {
    val loop = new OpenLoop(rate = 100.0, startNs = 1000000000L)
    check("due times")(loop.dueNs(0) == 1000000000L && loop.dueNs(5) == 1050000000L)
    check("due by")(loop.dueBy(999999999L) == 0 && loop.dueBy(1000000000L) == 1 &&
      loop.dueBy(1049999999L) == 5 && loop.dueBy(1050000000L) == 6)
    // event 5 handed out 20 ms late and finished 80 ms after it was due:
    // latency counts from the due time, not from the late send
    check("latency from due time")(close(loop.latencyS(5, 1130000000L), 0.08))
    check("lateness")(close(loop.lagS(5, 1070000000L), 0.02) &&
      loop.lagS(5, 1040000000L) == 0.0)
    // offsets 0..2 of stream 0; batches end at offsets 0 and 2
    val adds = Seq(Add(0, 0, Seq(0), 0), Add(0, 1, Seq(1), 0),
      Add(0, 2, Seq(2), 0), Add(0, 3, Seq(3), 0))
    val batches = Seq(
      BatchProgress("q", 0, 0, 500, Map.empty, 1, 0, 0, 0, 0),
      BatchProgress("q", 1, 0, 900, Map.empty, 2, 0, 0, 0, 2))
    val handed = new java.util.HashMap[(Int, Long), Long]()
    handed.put((0, 1L), 800L)
    val done = TransitPipeline.completions(adds, batches, Map("q" -> 0), handed)
    check("completion = first batch reaching the offset")(
      done == Seq(Some(500L), Some(800L), Some(800L), None))
  }

  def main(args: Array[String]): Unit = {
    tailRule()
    selfTimeWithOverlap()
    throwingOpIsFailed()
    openLoopTiming()
    println(s"LogicTest: $checks checks passed")
  }
}
