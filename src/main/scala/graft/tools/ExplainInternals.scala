package graft.tools


/** Plan-inspection main for operator INTERNALS whose registry plans are
  * checkpoint-opaque: q198's per-round descent plan materializes behind
  * `localCheckpoint` inside the shared-graph memo, so `Explain` on the
  * registry entry only shows a window over an ExistingRDD scan. This
  * dumps the formatted plan of ONE descent round applied to the seed
  * graph — the shape the r18 exchange-merge optimization changed — so
  * the committed plan evidence covers it (plans/r18/descent_round_*). */
object ExplainInternals {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.LocalSession("graft-explain-internals", cpus = 4,
      logLevel = "ERROR")
    println("\n========== descent_round ==========")
    graft.queries.KnnGraphOps.explainDescentRound(spark, sfDir)
    spark.stop()
  }
}
