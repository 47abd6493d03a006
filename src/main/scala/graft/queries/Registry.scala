package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark body plus (when SQL-expressible) an
  * equivalent ANSI-SQL oracle the driver runs in DuckDB over the same
  * parquet tables (CORRECTNESS gate — see the builder contract).
  *
  * Column names in `run` output and `oracle` MUST match: the driver sorts
  * columns by name before hashing values.
  *
  * `pays`: the shared [[Artifact]]s this query is the first to read in
  * [[Registry.order]]. `rides`: the artifacts it reads, directly or
  * through another artifact's build, that an earlier query built, and
  * the [[ServingIndexes]] it reads. Bench derives its payer order
  * checks, index builds and result release from these two fields.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "",
    pays: Seq[Artifact[_]] = Nil,
    rides: Seq[Dep] = Nil) {
  // a declaration read during a cyclic object initialization is null
  require(!(pays ++ rides).contains(null), s"$name: uninitialized dependency")
}

object Registry {
  /** Complete inventory; SparkEntry derives its maps from this. */
  def all: Seq[Q] =
    TpchLike.queries ++ EventOps.queries ++ TextOps.queries ++
      VectorOps.queries ++ DedupOps.queries ++ DedupFusionOps.queries ++
      PipelineOps.queries ++ MultimodalOps.queries ++
      KnnGraphOps.queries ++ graft.reference.RefQueries.queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Run order: by query NUMBER (q9 < q45 < q102 — a plain string sort
    * would run q102 before its q42/q45 payers), then by name. */
  def order(name: String): (Int, String) = {
    val digits = name.drop(1).takeWhile(_.isDigit)
    (if (digits.isEmpty) Int.MaxValue else digits.toInt, name)
  }

  /** Every (payer, artifact, rider) among `qs` whose payer does not run
    * before its rider in [[order]] — what a rename that reorders the
    * registry would break. Empty when the declarations hold. */
  def payerOrderViolations(qs: Seq[Q]): Seq[String] =
    for {
      p <- qs; a <- p.pays; r <- qs
      if r.rides.contains(a) &&
        Ordering[(Int, String)].gteq(order(p.name), order(r.name))
    } yield s"payer ${p.name} of ${a.name} must run before rider ${r.name}"
}
