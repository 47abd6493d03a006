package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Façade over the bounded sources the engine reads (SURVEY.md §1.4, §2.1).
  *
  * The reference couples to Kafka only through the initial `value` parse
  * (`src/bike_consumer.py:62-71`); everything downstream is schema'd
  * DataFrames. We keep the same separation: queries take a `DataFrame` in,
  * and this registry produces them from the driver's parquet testdata
  * (TESTDATA.md). Kafka batch/stream readers share the façade shape so a
  * query body never cares which transport fed it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Bounded parquet read. Column pruning + predicate pushdown reach the
    * scan because we hand Catalyst the raw relation, never a cached or
    * collected copy.
    *
    * `events.ts` has shipped in two physical encodings across driver
    * testdata generations: TIMESTAMP(NANOS), which Spark 4 rejects
    * outright ([PARQUET_TYPE_ILLEGAL]) unless read as a bare long, and
    * plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Normalize both to
    * the same session-UTC TIMESTAMP column so downstream epoch math is
    * encoding-independent: nanos rebuild via exact integer division
    * (`div`, not `/` — a double quotient of an ~1.7e18 nano value loses
    * low bits and can shift the micro); NTZ casts to LTZ under the UTC
    * session zone, which preserves the stored wall-clock as the instant. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(path)
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions
            .expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          raw.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        case _ => raw
      }
    } else spark.read.parquet(path)
  }

  /** Width an under-parallelized frame is fanned to: the session's
    * parallelism, capped at [[DefaultFanMax]] on a local session. The
    * fan exists for CPU-dense lifts whose parallel efficiency collapses
    * well before 32 concurrent tasks on one socket: the r17 driver run
    * showed `repartition(32)` INVERTING the fan's win under box
    * contention (q101 2.3 s at 8 cores → 10.0 s at 32), and the r18
    * A/B at an idle 32-core box measured the capped fan within noise of
    * the full-width one (per-task fixed overhead dominates past ~16
    * tasks) while shrinking every fanned stage's task count. That is a
    * one-socket effect: on a cluster the slots span executors, so the
    * width is the full parallelism and the cap never becomes a
    * production ceiling. At low core counts the cap is inactive. */
  private[graft] def fanWidth(spark: SparkSession): Int =
    fanWidthOf(spark.sparkContext.defaultParallelism,
      spark.sparkContext.isLocal)

  private[graft] def fanWidthOf(parallelism: Int, isLocal: Boolean): Int =
    if (isLocal) math.min(parallelism, DefaultFanMax) else parallelism

  /** r18 A/B at 32 cores over the 39 fanned queries + riders (cold
    * JVM each): cap 16 totals 71.4 s / 465 CPU-s / 6,306 tasks vs
    * full-width 73.9 s / 620 CPU-s / 7,595 tasks vs cap 8 74.2 s —
    * the capped fan is at-or-better on wall while doing 25 % less
    * CPU and scheduling 17 % fewer tasks, exactly the robustness a
    * contended 32-core box (the r17 driver run) banks. */
  private[graft] val DefaultFanMax = 16

  /** Scale-adaptive fan-out of a table read (optimization guide §2.5,
    * "input skew: one huge unsplittable file... repartition immediately
    * after the read", applied to the small-file end): a parquet file
    * under `spark.sql.files.maxPartitionBytes` reads as ONE scan task,
    * and any per-row-expensive projection or broadcast-join PROBE above
    * it then runs serially no matter how many cores the session has —
    * measured at sf0.1: q41's whole 1.2M-pair merge-scan executed in
    * the single 594 KB `documents` scan task (wall ≈ executorRun ≈
    * one core). When the file would yield fewer splits than the
    * session's parallelism, round-robin repartition to [[fanWidth]] —
    * a one-file-sized exchange that unlocks every core. At production
    * scale (file bytes ≫ cores × maxPartitionBytes) the condition is
    * false and this is the IDENTITY: no extra
    * exchange in any plan, so the fan-out never costs a 100 TB run
    * anything. Round-robin is retry-safe (sortBeforeRepartition stays
    * on) and every consumer is order-insensitive (joins/aggregates/
    * totally-ordered windows). */
  def fanned(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = apply(spark, dir, name)
    val p = spark.sparkContext.defaultParallelism
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    // a filesystem metadata error degrades to the IDENTITY, never a
    // forced full-table exchange (ADVICE r17: the old Long.MaxValue
    // sentinel overflowed `bytes + openCost` to negative and yielded
    // estSplits = 1, turning any transient getContentSummary failure
    // into a production-scale repartition)
    val bytes =
      try path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(path).getLength
      catch { case _: Exception => return df }
    // estimate the scan's split count the way Spark sizes splits
    // (FilePartition.maxSplitBytes): splits shrink toward
    // bytes/parallelism down to the open-cost floor, so a mid-size
    // table already scans ~p-way and must NOT pay a redundant
    // exchange here (review finding, r17: a naive bytes/maxPartition
    // estimate would re-shuffle everything in the p·openCost..p·128MB
    // band for zero added parallelism)
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val bytesPerCore = (bytes + openCost) / math.max(1L, p.toLong)
    val split = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, bytesPerCore))
    val estSplits = math.max(1L, (bytes + split - 1) / math.max(1L, split))
    // fan only on a substantial deficit vs the TARGET width (≤ w/2,
    // self-review r18 — the pre-cap code compared against p, which
    // would have paid a full exchange to land at-or-below the width a
    // mid-size scan already had): the estimate is a model, and
    // re-shuffling a scan that is already near-target buys nothing
    // for the price of a full exchange
    val w = fanWidth(spark)
    if (estSplits * 2 <= w) df.repartition(w) else df
  }
}
