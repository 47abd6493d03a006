package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main and tool runs on: `local[cpus]`,
  * shuffle partitions = cpus, UTC, Spark UI off. `cpus` defaults to
  * SPARK_GRAFT_CPUS (32 when unset). */
object LocalSession {
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def apply(appName: String, cpus: Int = envCpus,
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
