package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.{Dataset, Row}

class ArtifactsSpec extends SparkSuite {
  private def ordered = Registry.all.sortBy(q => Registry.order(q.name))
  private def users(a: Artifact[_]) =
    ordered.filter(q => q.pays.contains(a) || q.rides.contains(a))

  test("every declared artifact has exactly one payer, which runs " +
      "before all its riders in bench order") {
    // metadata only: no Spark job runs here
    val declared = Registry.all.flatMap(q => q.pays ++ q.rides)
      .collect { case a: Artifact[_] => a }.distinct
    assert(declared.nonEmpty)
    for (a <- declared) {
      val payers = Registry.all.filter(_.pays.contains(a)).map(_.name)
      assert(payers.size == 1, s"${a.name}: payers $payers")
    }
    val misordered = Registry.payerOrderViolations(ordered)
    assert(misordered.isEmpty, misordered.mkString("\n"))
  }

  /** Row content with binary cells compared by value. */
  private def norm(x: Any): Any = x match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case other => other
  }

  test("every artifact rebuilds to the same rows or value, whichever " +
      "query builds it first") {
    // a fresh build through the payer and a fresh build through the
    // last rider must agree: a query's result cannot depend on which
    // query happened to materialize the artifact it reads
    def builtThrough(a: Artifact[_], q: Q): Any = {
      Artifacts.invalidateAll()
      q.run(spark, sf0001)
      a.peek(spark, sf0001) match {
        case Some(df: Dataset[_]) =>
          df.toDF().collect().map(r => norm(r).toString).sorted.toSeq
        case Some(v) => v
        case None => fail(s"${q.name} did not build ${a.name}")
      }
    }
    val declared = Registry.all.flatMap(q => q.pays ++ q.rides)
      .collect { case a: Artifact[_] => a }.distinct
    try for (a <- declared) {
      val us = users(a)
      assert(builtThrough(a, us.head) == builtThrough(a, us.last),
        s"${a.name}: built through ${us.head.name} vs ${us.last.name}")
    } finally Artifacts.invalidateAll()
  }
}
