package graft.tools


/** Plan-inspection main: prints the formatted plan of each named query
  * (or all) over a given SF dir. Used for the per-round "is this the
  * plan you'd want at 100 TB" review. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.LocalSession("graft-explain", cpus = 4,
      logLevel = "ERROR")
    val wanted = if (args.isEmpty) graft.SparkEntry.queries.keys.toSeq.sorted
                 else args.toSeq
    for (name <- wanted; fn <- graft.SparkEntry.queries.get(name)) {
      println(s"\n========== $name ==========")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
