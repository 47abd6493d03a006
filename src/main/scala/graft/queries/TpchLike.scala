package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.Operators
import graft.sources.Tables

/** Relational operator inventory (SURVEY.md §2.3-§2.8) expressed over the
  * driver's TPC-H-ish testdata so the DuckDB oracle can check each one.
  *
  * Determinism notes (these queries are hash-compared against DuckDB):
  *  - Double sums are computed through an exact decimal(18,2) cast and then
  *    cast back to double, so Spark's and DuckDB's summation order cannot
  *    produce differing low-order bits.
  *  - Per-row double arithmetic (e.g. price*(1-discount)) is IEEE-identical
  *    across engines, so raw doubles are safe there.
  *  - No raw event timestamps are emitted (parquet stores nanoseconds;
  *    Spark truncates to micros on read while DuckDB keeps nanos).
  */
object TpchLike {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** TPC-H Q1-shaped pricing summary: partial+final HashAggregate, fully
    * codegen'd; maps the reference's groupBy/agg surface (SURVEY §2.6). */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
  }

  private val pricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Filter + narrow projection; predicates and ReadSchema must reach the
    * parquet scan (SURVEY §2.3-2.4). Revenue is a per-row IEEE product so
    * the raw double is engine-identical. */
  def filterProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .filter($"l_quantity" < 25 && $"l_discount".between(0.02, 0.06))
      .select($"l_orderkey", $"l_linenumber",
        ($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"))
  }

  private val filterProjectSql =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1 - l_discount) AS revenue
      |FROM lineitem
      |WHERE l_quantity < 25 AND l_discount BETWEEN 0.02 AND 0.06""".stripMargin

  /** Equi-join chain with a broadcast dimension: revenue per nation.
    * nation/region are tiny at every SF → explicit broadcast hint; the
    * customer⨝orders side shuffles on the key once. */
  def revenuePerNation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val customer = Tables(spark, dir, "customer")
    val orders = Tables(spark, dir, "orders")
    val nation = Tables(spark, dir, "nation")
    orders
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        sum(dec($"o_totalprice")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  private val revenuePerNationSql =
    """SELECT n_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** Top-1-per-group via a row_number rank — the reference's as-of rank idiom
    * (`src/plane_naolib_consumer.py:102-104`, SURVEY §2.7). Tiebreak on
    * o_orderkey makes the pick deterministic. */
  def topOrderPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Operators.dedupKeepFirst(Tables(spark, dir, "orders"), Seq("o_custkey"),
        Seq($"o_totalprice".desc), $"o_orderkey".asc)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
  }

  private val topOrderPerCustomerSql =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) t WHERE rn = 1""".stripMargin

  /** CASE WHEN bucketing — the reference's when/otherwise conditional
    * (`src/naolib_consumer.py:71-76`, SURVEY §2.4). */
  def quantityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .withColumn("bucket",
        when($"l_quantity" < 10, "small")
          .when($"l_quantity" < 30, "medium")
          .otherwise("large"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        sum(dec($"l_quantity")).cast("double").as("total_qty"))
  }

  private val quantityBucketsSql =
    """SELECT CASE WHEN l_quantity < 10 THEN 'small'
      |            WHEN l_quantity < 30 THEN 'medium'
      |            ELSE 'large' END AS bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Left-anti join: customers with no large order (SURVEY §2.5 notes equi/
    * semi/anti come free from Spark; demonstrated here for the inventory).
    * The filter lands below the join so only big orders shuffle. */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val customer = Tables(spark, dir, "customer")
    val bigOrders = Tables(spark, dir, "orders")
      .filter($"o_totalprice" > 300000).select($"o_custkey")
    customer
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
  }

  private val customersWithoutOrdersSql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin

  /** Semi join: parts that appear in some lineitem. */
  def partsWithSales(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "part")
      .join(Tables(spark, dir, "lineitem").select($"l_partkey"),
        $"p_partkey" === $"l_partkey", "left_semi")
      .select($"p_partkey", $"p_brand", $"p_size")
  }

  private val partsWithSalesSql =
    """SELECT p_partkey, p_brand, p_size FROM part
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin

  /** Union + distinct (SURVEY §2.9: the reference tags-and-merges at the
    * producer; relational form is union). */
  def unionDistinctSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables(spark, dir, "customer")
    val hi = c.filter($"c_acctbal" > 7500).select($"c_custkey", $"c_mktsegment")
    val building = c.filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey", $"c_mktsegment")
    hi.union(building).distinct()
  }

  private val unionDistinctSegmentsSql =
    """SELECT DISTINCT c_custkey, c_mktsegment FROM (
      |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 7500
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING') t""".stripMargin

  /** String function surface: regexp_replace / lpad / concat / upper
    * (SURVEY §2.10 — the reference strips "mn"/"h" suffixes and lpads
    * minutes exactly like this). */
  def stringShaping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "part")
      .select(
        $"p_partkey",
        concat(upper($"p_brand"), lit("-"),
          lpad($"p_partkey".cast("string"), 8, "0")).as("brand_tag"),
        regexp_replace($"p_type", "[aeiou]", "").as("type_novowel"),
        length($"p_name").as("name_len"))
  }

  private val stringShapingSql =
    """SELECT p_partkey,
      |  CONCAT(UPPER(p_brand), '-', LPAD(CAST(p_partkey AS VARCHAR), 8, '0')) AS brand_tag,
      |  REGEXP_REPLACE(p_type, '[aeiou]', '', 'g') AS type_novowel,
      |  LENGTH(p_name) AS name_len
      |FROM part""".stripMargin

  /** ROLLUP hierarchy totals (flagged "absent" in the reference,
    * SURVEY §2.6 — included for engine completeness). Spark and DuckDB
    * share the NULL-marker convention for super-aggregate rows. */
  def rollupSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOT fanned, re-measured r18 (the r17 driver's 14.6 s 32-core
    // q26 cell made this the first suspect): even with ROLLUP's 3×
    // expand the fanned read measured 1.51 s vs 1.36 s plain at 32
    // cores (CPU 8.2 vs 3.8 s for the 4-query family) — the exchange
    // of the full lineitem rows costs more than parallelizing the
    // expand+partial-aggregate saves, same verdict as the r17
    // global-fan A/B on the rest of the TPC-H family.
    Tables(spark, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(dec($"l_quantity")).cast("double").as("total_qty"))
  }

  private val rollupSummarySql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** CUBE over two dimensions — all grouping-set combinations in one
    * pass (with ROLLUP in q26, completes the grouping-sets family the
    * reference lacks). */
  def cubeSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(dec($"o_totalprice")).cast("double").as("total"))
  }

  private val cubeSummarySql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  /** q118 — explicit GROUPING SETS with grouping_id, completing the
    * multi-granularity family (q26 ROLLUP is the prefix chain, q35
    * CUBE the power set; this is the ARBITRARY selection — the set
    * list here skips (l_returnflag), a shape neither can express).
    * grouping_id is the disambiguator a consumer needs to tell "NULL
    * because collapsed" from "NULL in the data" — both engines follow
    * the SQL-standard bitmask (leftmost grouping column = MSB), so
    * the id itself is hash-checked. One pass, one shuffle: Catalyst
    * expands the sets map-side exactly like rollup/cube. */
  def groupingSetsSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_linestatus"),
          Seq.empty),
        $"l_returnflag", $"l_linestatus")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum(dec($"l_quantity")).cast("double").as("total_qty"))
  }

  private val groupingSetsSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_linestatus), ())""".stripMargin

  /** Exact distinct counts (the approx_count_distinct twin is asserted
    * within tolerance in ScalaTest — an approximate value can't be
    * hash-compared across engines). */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_events"))
  }

  private val distinctCountsSql =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY event_type""".stripMargin

  /** Range/band join: orders against a small in-memory price-band
    * interval table — broadcast nested loop over 4 bands
    * (graft.operators.Operators.bandJoin). */
  def priceBands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("budget", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
      ("high", 150000.0, 300000.0), ("lux", 300000.0, 1e9))
      .toDF("band", "lo", "hi")
    graft.operators.Operators.bandJoin(
      Tables(spark, dir, "orders"), bands, "o_totalprice", "lo", "hi")
      .groupBy($"band")
      .agg(count(lit(1)).as("n"),
        sum(dec($"o_totalprice")).cast("double").as("total"))
  }

  private val priceBandsSql =
    """SELECT band, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |JOIN (VALUES ('budget', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
      |             ('high', 150000.0, 300000.0), ('lux', 300000.0, 1e9))
      |  b(band, lo, hi)
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band""".stripMargin

  /** Skew-mitigating salted join (graft.operators.Operators.saltedJoin):
    * result provably identical to the unsalted q03 semantics — the
    * oracle is the plain join SQL. */
  def revenuePerNationSalted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val joined = graft.operators.Operators.saltedJoin(
      Tables(spark, dir, "orders").withColumn("key", $"o_custkey"),
      Tables(spark, dir, "customer").withColumn("key", $"c_custkey"),
      "key", saltFactor = 8)
    joined
      .join(broadcast(Tables(spark, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        sum(dec($"o_totalprice")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  def queries: Seq[Q] = Seq(
    Q("q01_pricing_summary", pricingSummary, Some(pricingSummarySql),
      "groupBy/agg sum+count (ref: batch_bus_affluence groupBy count)"),
    Q("q02_filter_project", filterProject, Some(filterProjectSql),
      "pushdown filter + narrow projection"),
    Q("q03_revenue_per_nation", revenuePerNation, Some(revenuePerNationSql),
      "equi-join chain + broadcast dim + agg"),
    Q("q04_top_order_per_customer", topOrderPerCustomer, Some(topOrderPerCustomerSql),
      "row_number rank==1 as-of idiom (ref: plane_naolib_consumer.py:102-104)"),
    Q("q05_quantity_buckets", quantityBuckets, Some(quantityBucketsSql),
      "when/otherwise conditional (ref: naolib_consumer.py:71-76)"),
    Q("q06_customers_without_orders", customersWithoutOrders,
      Some(customersWithoutOrdersSql), "left anti join"),
    Q("q07_parts_with_sales", partsWithSales, Some(partsWithSalesSql),
      "left semi join"),
    Q("q08_union_distinct", unionDistinctSegments, Some(unionDistinctSegmentsSql),
      "union + distinct"),
    Q("q09_string_shaping", stringShaping, Some(stringShapingSql),
      "regexp_replace/lpad/concat/upper (ref: SURVEY §2.10)"),
    Q("q26_rollup_summary", rollupSummary, Some(rollupSummarySql),
      "ROLLUP hierarchy totals"),
    Q("q35_cube_summary", cubeSummary, Some(cubeSummarySql),
      "CUBE grouping sets"),
    Q("q118_grouping_sets", groupingSetsSummary,
      Some(groupingSetsSummarySql),
      "explicit GROUPING SETS + grouping_id: arbitrary granularity " +
        "selection neither ROLLUP nor CUBE expresses, one pass"),
    Q("q27_distinct_counts", distinctCounts, Some(distinctCountsSql),
      "exact COUNT DISTINCT per group"),
    Q("q28_price_bands", priceBands, Some(priceBandsSql),
      "range/band join via broadcast interval table"),
    Q("q29_salted_revenue", revenuePerNationSalted, Some(revenuePerNationSql),
      "salted skew join == plain join (same oracle as q03)"))
}
