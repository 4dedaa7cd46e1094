package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational analytics the reference lacks entirely (SURVEY.md §2.6):
  * aggregation, multi-way joins, window functions, top-k, set ops, and a
  * scalar-function surface — expressed as plain Catalyst plans so
  * pushdown, pruning, join strategy selection, and whole-stage codegen
  * all apply.
  *
  * Monetary aggregates accumulate in DECIMAL(18,6) (exact, order-
  * independent) and only the final result casts to double — float sums
  * over shuffled partitions would be run-to-run nondeterministic.
  */
object Relational {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,6)")

  /** Decimal-sum -> double with a scale-4 quantization in between.
    * Why: a decimal(38,12) PRODUCT sum converts to double differently
    * across engines once unscaled_value exceeds 2^53 (DuckDB divides two
    * doubles, Spark rounds the BigDecimal directly — they can differ in
    * the last ulp; observed at sf0.1). The inputs here carry <= 2
    * decimals, so their products carry <= 4 — the scale-4 cast is
    * LOSSLESS, and unscaled*1e4 stays under 2^53 for any realistic SF,
    * making the final double conversion exact in every engine. */
  private def sumToDouble(c: org.apache.spark.sql.Column) =
    c.cast("decimal(38,4)").cast("double")

  /** TPC-H Q1-shaped pricing summary: one scan, one shuffle on the tiny
    * (flag, status) grouping key with map-side partial aggregation. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sumToDouble(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - dec(col("l_discount")))))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-shaped top-10 revenue orders. No broadcast hints: orders and
    * customer both scale linearly with SF, so a forced broadcast OOMs the
    * executors at 100× — the join strategy is left to Catalyst statistics
    * + AQE, which converts either side to broadcast at runtime only when
    * it actually measures small. Filters sit directly on the scans so
    * they push down to parquet. Deterministic top-k via (revenue, key). */
  def revenueTopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li
      .join(ord.join(cust, ord("o_custkey") === cust("c_custkey")),
        li("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(sumToDouble(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - dec(col("l_discount")))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-shaped revenue by nation within one region. Broadcast hints
    * only on the genuinely fixed-size dimensions (region = 5 rows, nation
    * = 25 rows — SF-independent); supplier/orders/customer all scale with
    * SF, so their join strategy is left to Catalyst + AQE. The ASIA
    * semi-filter is applied to supplier FIRST (via the broadcast nation
    * join), so the lineitem join output is already region-pruned before
    * any large-table shuffle. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = Tables(spark, dir, "nation")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val supplierAsia = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
    val orders = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val customer = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li
      .join(supplierAsia, li("l_suppkey") === col("s_suppkey"))
      .join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sumToDouble(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - dec(col("l_discount")))))
        .as("revenue"))
  }

  /** Window functions: each customer's top-3 orders by price (dense
    * per-partition top-k — one shuffle on the partition key). */
  def topOrdersPerCustomer(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= k)
  }

  /** RANGE-frame window: per customer, total order value within the
    * trailing 30 days of each order — a moving aggregate keyed by VALUE
    * distance (rangeBetween), not row count. One shuffle on the
    * partition key; DECIMAL accumulation keeps the running sums
    * order-independent. */
  def trailingRevenuePerCustomer(spark: SparkSession, dir: String,
      windowSeconds: Long = 30L * 86400): DataFrame = {
    val sec = unix_timestamp(col("o_orderdate"))
    val w = Window.partitionBy("o_custkey").orderBy(col("o_sec"))
      .rangeBetween(-windowSeconds, 0)
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), sec.as("o_sec"),
        col("o_totalprice"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_sec"),
        sum(col("o_totalprice").cast("decimal(18,6)")).over(w)
          .cast("double").as("trailing_30d_total"),
        count(lit(1)).over(w).as("trailing_30d_orders"))
  }

  /** Set operation: high-balance customers who also placed a big order
    * (INTERSECT distinct semantics). */
  def richActiveCustomers(spark: SparkSession, dir: String): DataFrame = {
    val rich = Tables(spark, dir, "customer").filter(col("c_acctbal") > 7500)
      .select(col("c_custkey").as("cust_id"))
    val big = Tables(spark, dir, "orders").filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("cust_id"))
    rich.intersect(big)
  }

  /** Hierarchical totals: ROLLUP over (order year, status) — subtotal and
    * grand-total rows come free from one pass + one shuffle. */
  def orderRollup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .rollup(year(col("o_orderdate")).as("order_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))

  /** Set operation: customers with NO order over 400k (EXCEPT distinct).
    * Threshold picked so the fixture result is comfortably non-empty
    * (~200 rows at sf0.01) — a near-empty set operation barely
    * exercises the dedup-and-subtract machinery the oracle checks. */
  def quietCustomers(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables(spark, dir, "customer").select(col("c_custkey").as("cust_id"))
    val big = Tables(spark, dir, "orders").filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("cust_id"))
    all.except(big)
  }

  /** Exact quantiles per group (sort-based `percentile`, linear
    * interpolation — matches DuckDB quantile_cont). */
  def priceQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.9)").as("p90"),
        count(lit(1)).as("n"))

  /** CUBE over (status, priority): all 4 grouping combinations in one
    * pass. */
  def orderCube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))

  /** Explicit GROUPING SETS — the arbitrary-combination form that rollup
    * and cube are shorthands for: per-status and per-priority marginals
    * in ONE pass over orders (one Expand + one aggregation exchange),
    * where two separate group-bys would scan and shuffle twice. */
  def orderGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))

  /** UNPIVOT (melt): wide part attributes to long (key, metric, value)
    * triples — the relational reshaping step feature pipelines use before
    * per-metric aggregation. Spark's native unpivot is a zero-shuffle
    * Expand projection (each input row emits one output row per value
    * column in the same task), so it scales embarrassingly: no exchange,
    * no driver involvement, and column pruning still reaches the scan.
    * Value columns are cast to a common type up front (unpivot requires
    * it, exactly like ANSI UNPIVOT). */
  def partUnpivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"),
        col("p_size").cast("double").as("size"),
        col("p_retailprice").cast("double").as("retail_price"))
      .unpivot(
        ids = Array(col("p_partkey"), col("p_brand")),
        values = Array(col("size"), col("retail_price")),
        variableColumnName = "metric",
        valueColumnName = "value")

  /** Approx distinct via HLL++ at rsd = 0.01 (deterministic for fixed
    * input values — register-max merges are order-independent),
    * published as the BAND contract (the etl_incr_distinct pattern):
    * the row carries the
    * exact distinct plus a within-±5%-of-exact flag — >3σ at this
    * precision, and the sketch is a deterministic function of the
    * data, so the oracle (exact counts + TRUE) hash-matches stably
    * while any estimator regression (wrong column, broken merge,
    * precision loss) trips the flag. The exact countDistinct here is
    * the ORACLE-CHECK face, not the production shape — a deployment
    * keeps only the approx_count_distinct column (the whole point of
    * the sketch is skipping the exact-distinct shuffle); the band
    * check pays it once per driver run at test SFs. */
  def approxPartCounts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("est"),
        countDistinct(col("l_partkey")).as("n_parts_exact"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("n_parts_exact"), col("n"),
        (abs(col("est") - col("n_parts_exact")) <=
          col("n_parts_exact") * lit(0.05)).as("within_band"))

  /** Anti join: churned customers — no order on/after the cutoff
    * (left_anti — the NOT EXISTS shape; builds a hash set of the
    * filtered order keys, no row multiplication). The date filter keeps
    * the result NON-EMPTY on the fixture (every customer has some
    * order, so an unfiltered anti join returns 0 rows — a result that
    * hash-matches any oracle and proves nothing). */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer").select(col("c_custkey").as("cust_id"))
      .join(Tables(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey").as("cust_id")),
        Seq("cust_id"), "left_anti")

  /** Semi join: parts that appear in at least one line item (EXISTS). */
  def orderedParts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "part").select(col("p_partkey").as("part_id"), col("p_brand"))
      .join(Tables(spark, dir, "lineitem").select(col("l_partkey").as("part_id")),
        Seq("part_id"), "left_semi")

  /** The SQL entry path: temp views + spark.sql — the engine serves ANSI
    * SQL directly, same Catalyst plan as the DataFrame form. View names
    * are UNIQUE PER INVOCATION and dropped once the statement is
    * analyzed (spark.sql binds the view eagerly at analysis, so the
    * returned frame survives the drop): fixed names in the
    * session-global temp catalog would let two concurrent callers
    * clobber each other's registration between register and analyze —
    * the same shared-session hazard class as mutating session conf. */
  def sqlInterface(spark: SparkSession, dir: String): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val ov = s"v_orders_$tag"; val cv = s"v_customer_$tag"
    Tables(spark, dir, "orders").createOrReplaceTempView(ov)
    Tables(spark, dir, "customer").createOrReplaceTempView(cv)
    try spark.sql(
      s"""SELECT c_mktsegment,
         | COUNT(*) AS n_orders,
         | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
         |FROM $ov JOIN $cv ON o_custkey = c_custkey
         |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY c_mktsegment""".stripMargin)
    finally {
      spark.catalog.dropTempView(ov)
      spark.catalog.dropTempView(cv)
    }
  }

  /** Pivot (crosstab): orders count by year x status, explicit pivot
    * values so the plan is single-pass (no distinct-values job). */
  def orderPivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("O" -> "n_open", "F" -> "n_filled", "P" -> "n_partial"))

  /** Sorted set aggregation: deterministic collect via sort_array. */
  def statusSetPerFlag(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(concat_ws(",", sort_array(collect_set(col("l_linestatus")))).as("statuses"),
        count(lit(1)).as("n"))

  /** Scalar-function surface (string/date/math — all absent from the
    * reference, SURVEY.md §2.6): one narrow projection. */
  def scalarShowcase(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders").select(
      col("o_orderkey").as("order_id"),
      upper(substring(col("o_orderpriority"), 1, 4)).as("prio4"),
      year(col("o_orderdate")).as("order_year"),
      month(col("o_orderdate")).as("order_month"),
      datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("age_days"),
      // thousands-price rounded to 3dp via integer arithmetic: rounding
      // the DOUBLE o_totalprice/1000 straddles .0005 boundaries whose
      // half-up/half-even resolution differs across engines (observed at
      // sf0.1). cents is an exact integer (2dp input), and
      // floor((cents+50)/100)/1000 is the half-up 3dp result computed
      // identically everywhere.
      (floor((round(col("o_totalprice") * 100, 0).cast("long") + 50) / 100.0)
        .cast("double") / 1000).as("kprice"),
      concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
      length(col("o_orderpriority")).as("prio_len"),
      pmod(col("o_orderkey"), lit(32)).as("bucket"))

  /** Per-group EQUI-DEPTH histogram: `buckets` rank-partitioned buckets
    * per group with exact counts and value bounds — the order-statistics
    * summary a fixed-width histogram cannot give on skewed data.
    *
    * Scale shape: ntile needs a total order, but only WITHIN each group —
    * the window is partitioned by the group key, so the sort distributes
    * across groups exactly like every other partitioned window here (one
    * hash shuffle on the group key, per-group sort; no global
    * single-partition order). Determinism: ties broken by `tiebreakCol`.
    */
  def equiDepthHistogram(df: DataFrame, groupCol: String, valueCol: String,
      tiebreakCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol).asc, col(tiebreakCol).asc)
    df.select(col(groupCol), col(valueCol), col(tiebreakCol))
      .withColumn("bucket", functions.ntile(buckets).over(w))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"))
  }

  /** Robust per-group outlier detection via MAD (median absolute
    * deviation): a row is an outlier when
    * |v - median| > nSigma * 1.4826 * MAD (1.4826 scales MAD to σ under
    * normality — the standard robust z-score). Medians are EXACT
    * interpolated percentiles, so the result is deterministic and
    * engine-portable (quantile_cont in the oracle); unlike mean/stddev,
    * a contaminated group cannot drag its own threshold.
    *
    * Plan: two grouped exact-percentile aggregations (group cardinality
    * rows each) broadcast-joined back to the data — the full table
    * shuffles only on groupCol for the percentile sorts, and the join
    * back is a broadcast hash join against aggregate-sized frames. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      nSigma: Double = 3.0): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    val withMed = df.select(col(groupCol), col(valueCol))
      .join(broadcast(med), Seq(groupCol))
      .withColumn("adev", abs(col(valueCol) - col("med")))
    val mad = withMed.groupBy(col(groupCol))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    withMed.join(broadcast(mad), Seq(groupCol))
      .filter(col("adev") > lit(nSigma) * lit(1.4826) * col("mad"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_outliers"),
        min(col(valueCol)).as("min_outlier"), max(col(valueCol)).as("max_outlier"))
  }

  /** Statistical moments per group — mean, sample stddev, population
    * skewness/excess kurtosis, Pearson correlation, sample covariance —
    * derived from EXACT integer power sums rather than streaming
    * co-moments.
    *
    * Engine-portability contract: the grouped aggregation sums x, x²,
    * x³, x⁴, y, xy as 64-bit integers (the inputs are small integral
    * values, so every sum is exact; at 10^10 rows the largest sum is
    * ~4·10^16, well inside Long). The statistics are then computed in
    * ONE double-precision expression tree that the DuckDB oracle
    * mirrors op-for-op — identical IEEE inputs + identical operation
    * order = bit-identical doubles, with no rounding tolerance anywhere.
    * (Streaming skewness/kurtosis aggregates differ ACROSS ENGINES in
    * both bias convention and accumulation order; power sums sidestep
    * both.) pow(m2, 1.5) is deliberately m2 * sqrt(m2): sqrt is
    * IEEE-correctly-rounded everywhere, libm pow is not. */
  def momentStats(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("long")
    val y = col("l_linenumber").cast("long")
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(x * x).as("sxx"),
        sum(x * x * x).as("sxxx"), sum(x * x * x * x).as("sxxxx"),
        sum(y).as("sy"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .selectExpr(
        "l_returnflag", "n",
        "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q",
        """SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
          | / (CAST(n AS DOUBLE) - 1.0)) AS stddev_q""".stripMargin,
        """(CAST(sxxx AS DOUBLE) / CAST(n AS DOUBLE)
          | - 3.0 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE))
          | + 2.0 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
          | / ((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
          |    * SQRT(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
          | AS skew_q""".stripMargin,
        """(CAST(sxxxx AS DOUBLE) / CAST(n AS DOUBLE)
          | - 4.0 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sxxx AS DOUBLE) / CAST(n AS DOUBLE))
          | + 6.0 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE))
          | - 3.0 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
          | / ((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
          |    * (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
          | - 3.0 AS kurt_q""".stripMargin,
        """(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
          | / SQRT((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
          |        * (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))
          | AS corr_q_ln""".stripMargin,
        """(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
          | / (CAST(n AS DOUBLE) - 1.0) AS covar_q_ln""".stripMargin)
  }

  /** Ranking window family — ntile / percent_rank / cume_dist / lag /
    * lead over each customer's orders, all from ONE window definition so
    * the plan carries a single sort within a single exchange on the
    * partition key.
    *
    * Determinism contract: the ordering is made TOTAL by the unique
    * o_orderkey tiebreak. percent_rank and cume_dist then reduce to
    * (rn-1)/(n-1) and rn/n — divisions of identical small integers, so
    * the doubles are bit-identical across engines (no float-accumulation
    * hazard). At 100 TB the partition key (customer) is high-cardinality
    * and unskewed, so per-partition state stays tiny. */
  def rankingWindows(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        functions.ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
  }

  /** Winsorization: clamp each value into its group's [pLo, pHi] exact
    * interpolated percentile band — the robust-scaling step a feature
    * pipeline runs instead of dropping outliers (clipping preserves row
    * count; see madOutliers for the detection-only variant). Same
    * topology as madOutliers: one grouped percentile pass (group-count
    * rows — broadcast back), then a map-side clamp; no second shuffle,
    * no global sort at any scale. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"need 0 <= pLo < pHi <= 1, got [$pLo, $pHi]")
    val bounds = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, $pLo)").as("lo"),
        expr(s"percentile($valueCol, $pHi)").as("hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn("winsorized", greatest(least(col(valueCol), col("hi")), col("lo")))
      .drop("lo", "hi")
  }

  /** Per-group simple linear regression + correlation from EXACT power
    * sums: one scan accumulates (n, Σx, Σy, Σxy, Σx², Σy²) in DECIMAL —
    * summation-order-independent, so the slope/intercept/r doubles
    * derived from them are bit-identical on any engine evaluating the
    * same expression tree (sqrt is correctly rounded in IEEE 754).
    * This is the scalable shape for grouped OLS at 100 TB: a single
    * map-side-combined aggregation, never a per-group data pass; the
    * closed-form stage runs on group-count rows. Keeps `keepCols` from
    * the sums row for downstream faces. */
  def groupedOls(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dec = "decimal(18,6)"
    val sums = df
      .select(col(groupCol), col(xCol).cast(dec).as("x"), col(yCol).cast(dec).as("y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
    val sxyD = col("sxy").cast("double"); val sxxD = col("sxx").cast("double")
    val syyD = col("syy").cast("double")
    val cov = nD * sxyD - sxD * syD
    val varX = nD * sxxD - sxD * sxD
    val varY = nD * syyD - syD * syD
    val slope = cov / varX
    sums.select(col(groupCol), col("n"),
      slope.as("slope"),
      ((syD - slope * sxD) / nD).as("intercept"),
      (cov / sqrt(varX * varY)).as("r"))
  }

  /** TPC-H Q10 shape — returned-item revenue per customer, top 20.
    * Star join: lineitem (fact) filtered to returns, orders pruned by
    * date BEFORE the join, customer and nation broadcastable dims;
    * Catalyst reorders freely because everything is declarative.
    * Exact decimal revenue, the q1/q3 arithmetic face. */
  def returnedItemReport(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(18,6)"
    val li = Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1996-04-01"))
    val c = Tables(s, dir, "customer")
    val n = Tables(s, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("n_name"))
      .agg(sum(col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec)))
        .cast("decimal(38,4)").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** Deterministic MODE per group: the most frequent value, ties broken
    * toward the smallest value — `min_by(struct(negated count, value))`
    * over the (group, value) histogram, so the answer is a pure
    * function of the data (SQL's MODE leaves ties implementation-
    * defined; a partitioning-dependent answer can't be oracle-checked
    * or trusted in a pipeline). The negation rides the COUNT (always
    * numeric), never the value, so the value-side tie-break is plain
    * struct field ordering — valid for strings/dates/any ordered type.
    * (A `-1 * value` tie-break would implicitly cast a string value to
    * double, yielding NULL: tied structs then compare equal and the
    * winner silently depends on partitioning — for mode's most common
    * use, categorical columns.) Two map-side-combined aggregations,
    * shuffles carry (group, value) pairs then groups. */
  def modePerGroup(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "modePerGroup needs grouping columns")
    df.groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        min_by(col(valueCol), struct((lit(-1L) * col("__n")).as("__negn"), col(valueCol)))
          .as("mode_value"),
        max(col("__n")).as("mode_count"))
  }

  /** Global dense row numbering by a TOTAL order, without the
    * single-reducer window: `ROW_NUMBER() OVER (ORDER BY ...)` forces
    * every row through ONE partition — the classic scale cliff. Runs
    * [[rowNumberByKey]] ungrouped: range partitions on the sort key,
    * partition-local row numbers plus literal per-partition offsets, so
    * the plan scales exactly like a distributed sort.
    *
    * `sortCols` must be a total order (add a tiebreaker id) or ranks
    * within ties are partition-placement-dependent. Output: input
    * columns + `row_num` (1-based). */
  def globalRowNumber(df: DataFrame, sortCols: Seq[String]): DataFrame =
    rowNumberByKey(df, None, sortCols)._1

  /** The range-partitioned rank path behind [[globalRowNumber]], the
    * NTILE scorers and the stratified folds: `row_num` (1-based) by
    * `sortCols` within `groupCol` (over the whole frame when None), as
    * `ROW_NUMBER() OVER (PARTITION BY group ORDER BY sortCols)` would
    * number it, but with no single-reducer window even when one group
    * holds every row. The frame is range-partitioned on (group,
    * sortCols) ([[rangeStage]]); each range partition numbers its rows
    * locally in parallel — per group by a `row_number()` window over
    * (partition, group), ungrouped by the row's position in its sorted
    * partition, which needs no second exchange — and the driver collects
    * the rows per (partition, group), the action that materializes the
    * fence, and turns them into carries. Since range partitions are
    * ordered on (group, sortCols), only a partition's FIRST group can
    * have rows in earlier partitions, so one (group value, carry) pair
    * per partition suffices; both travel as literal arrays indexed by
    * `__pid`, the value compared with `<=>` so a null group carries
    * too. Ungrouped, the carry is the partition's offset and applies to
    * every row.
    * Returns the frame with the row count, which the driver holds
    * anyway — the NTILE split needs it as a literal. */
  private[graft] def rowNumberByKey(df: DataFrame, groupCol: Option[String],
      sortCols: Seq[String]): (DataFrame, Long) = {
    require(sortCols.nonEmpty, "a row number needs a sort order")
    val keys = groupCol.toSeq.map(col)
    val staged = rangeStage(df, keys ++ sortCols.map(col))
    // control plane: rows per (range partition, group), partition order
    val counts = staged.groupBy(col("__pid") +: keys: _*).count()
      .collect().map(r => (r.getInt(0),
        if (keys.isEmpty) None else Option(r.get(1)), r.getLong(r.length - 1)))
      .sortBy(_._1).toSeq
    // pid -> (group, its rows in earlier partitions), for the one group
    // per partition that has any
    val seen = scala.collection.mutable.Map.empty[Option[Any], Long].withDefaultValue(0L)
    val carried = counts.flatMap { case (pid, g, n) =>
      val before = seen(g)
      seen(g) = before + n
      if (before > 0) Some(pid -> (g, before)) else None
    }.toMap
    val pids = counts.map(_._1).distinct
    val carry = typedLit(byPid(pids.map(p => p -> carried.get(p).fold(0L)(_._2)), 0L))
      .getItem(col("__pid"))
    val numbered = groupCol match {
      // a row's position in its sorted range partition is the low 33
      // bits of monotonically_increasing_id (nondeterministic, so
      // Catalyst keeps the projection above the sort): narrow, with no
      // exchange on __pid
      case None => staged.sortWithinPartitions(sortCols.map(col): _*)
        .withColumn("row_num",
          monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) + 1L + carry)
      case Some(g) =>
        val t = df.schema(g).dataType
        val first = array(byPid(pids.map(p => p -> carried.get(p).flatMap(_._1).orNull),
          null).map(lit(_).cast(t)): _*)
        staged.withColumn("row_num", row_number().over(Window.partitionBy(col("__pid"), col(g))
            .orderBy(sortCols.map(col): _*)).cast("long") +
          when(col(g) <=> first.getItem(col("__pid")), carry).otherwise(0L))
    }
    (numbered.drop("__pid"), counts.map(_._3).sum)
  }

  /** SQL-standard NTILE(`tiles`) of a 1-based row number over `total`
    * rows: with q = total div tiles and r = total mod tiles, the first r
    * tiles take q+1 rows and the rest q. Both are literals, so the
    * split costs no count join. q = 0 (fewer rows than tiles) folds
    * into the first branch: every rowNum <= r and tile = rowNum, exactly
    * the window form; the dead branch's divisor is clamped to keep ANSI
    * div total. */
  private[graft] def ntile(rowNum: Column, total: Long, tiles: Int): Column = {
    val q = total / tiles
    val r = total % tiles
    when(rowNum <= lit((q + 1) * r),
        call_function("div", rowNum - 1L, lit(q + 1)) + 1L)
      .otherwise(lit(r) +
        call_function("div", rowNum - 1L - lit((q + 1) * r), lit(math.max(q, 1L))) + 1L)
  }

  /** Range-partitions `frame` on `order` into `spark.sql.shuffle.partitions`
    * partitions, tags each row with its range partition as `__pid`, and
    * fences the result LAZILY: the caller's per-partition control-plane
    * collect is the action that materializes it, so the fence costs no
    * job of its own. */
  private def rangeStage(frame: DataFrame, order: Seq[Column]): DataFrame = {
    val parts = frame.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    graft.ext.Materialize.lazyFence(frame.repartitionByRange(parts, order: _*)
      .withColumn("__pid", spark_partition_id()))
  }

  /** Per-range-partition values as a literal array indexed by `__pid`,
    * from the (pid, value) pairs of the NON-EMPTY partitions; empty
    * partitions, which no row reads, take `none`. A broadcast frame
    * joined on `__pid` would cost a Spark job of its own. */
  private def byPid[T](vals: Seq[(Int, T)], none: T): IndexedSeq[T] = {
    val slot = vals.toMap
    (0 until vals.map(_._1 + 1).maxOption.getOrElse(0)).map(slot.getOrElse(_, none))
  }

  /** Range-partitioned strictly-before cumulative over a (key,
    * counts...) histogram frame — the shared topology behind the
    * rank, drift, ROC-AUC, conformal and quantile families:
    * range-repartition the cells on `keyCol`, collect ONLY the
    * per-range-partition subtotals and maximum key (control plane),
    * and stitch partition-LOCAL cumulative windows to the resulting
    * offsets. No empty-partitionSpec WindowExec anywhere, so a
    * histogram whose distinct keys grow toward row count never
    * funnels through one reducer.
    *
    * For each c in `cntCols` the output adds `__cumb_<c>` (the exact
    * sum of c over STRICTLY smaller keys) and `__tot_<c>` (the grand
    * total, as a literal); it also adds `__prev_<keyCol>`, the key of
    * the preceding row (NULL on the smallest key) — a partition-local
    * `lag` whose first row per range partition takes the previous
    * non-empty partition's maximum key. Returns the frame with the
    * grand totals in `cntCols` order: the driver holds them anyway, so
    * callers' build-time checks and exact denominators cost no second
    * action. Runs one control-plane action at build time (the
    * conformal/bloom precedent); the input is materialized, so callers
    * reuse the staged cells without recompute.
    *
    * Duplicate keys are SAFE for the cumulative: it is a RANGE frame
    * (all rows with key <= current) minus the peer-frame sum (all rows
    * with key == current), both over the same ordered spec — so every
    * duplicate row of a key gets the identical strictly-before sum
    * regardless of intra-partition row order among equal keys.
    * `__prev_<keyCol>` is row-based, so under duplicate keys it can be
    * the row's own key; its callers pre-aggregate to distinct keys. */
  private[graft] def cumBeforeByKey(frame: DataFrame, keyCol: String,
      cntCols: Seq[String]): (DataFrame, IndexedSeq[Long]) = {
    val (cum, parts) = cumBeforeByRange(frame, keyCol, cntCols)
    (cum.drop("__pid"), cntCols.indices.map(i => parts.iterator.map(_._2(i)).sum))
  }

  /** [[cumBeforeByKey]] before it drops `__pid`, the row's range
    * partition, returned with the subtotals of `cntCols` per non-empty
    * range partition in key order. A filter on `__pid` is pushed below
    * the partition-local windows, so a caller that needs the rows of
    * one range partition (the one whose cumulative span straddles a
    * rank) reads only that partition. */
  private[graft] def cumBeforeByRange(frame: DataFrame, keyCol: String,
      cntCols: Seq[String]): (DataFrame, IndexedSeq[(Int, Vector[Long])]) = {
    require(cntCols.nonEmpty, "cumBeforeByKey needs count columns")
    // fence the histogram BEFORE the range exchange: the range
    // partitioner's bounds-sampling job executes its whole child, so an
    // unfenced frame re-runs the caller's scan + aggregation once for
    // the sample and once for the shuffle (measured as twin full-scan
    // jobs on exp_qte). The cells frame is histogram-sized — cheap to
    // checkpoint at any scale. LAZY: the sampling job is the first
    // consumer and materializes it (the shuffle then reads cached
    // blocks) — no eager fence job of its own. Same for `staged`: the
    // per-partition-subtotals collect right below is the action that
    // materializes it (guide §5 — probe rides the fence).
    val cells = graft.ext.Materialize.lazyFence(frame)
    val staged = rangeStage(cells, Seq(col(keyCol)))
    val aggs = cntCols.map(c => sum(col(c)).as(c)) :+ max(col(keyCol))
    // one row per NON-EMPTY range partition: (pid, subtotals, max key)
    val ptot = staged.groupBy("__pid").agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => (r.getInt(0), cntCols.indices.map(i =>
        if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)).toVector,
        r.get(cntCols.size + 1)))
      .sortBy(_._1).toIndexedSeq
    val totals = cntCols.indices.map(i => ptot.iterator.map(_._2(i)).sum)
    val offs = ptot.map(_._2).scanLeft(Vector.fill(cntCols.size)(0L)) {
      (acc, cs) => acc.lazyZip(cs).map(_ + _)
    }.init
    val prevMax = null +: ptot.map(_._3).dropRight(1)
    // offsets and predecessor keys travel as literal arrays indexed by __pid
    val pids = ptot.map(_._1)
    val keyType = frame.schema(keyCol).dataType
    val pmax = array(byPid(pids.zip(prevMax), null).map(lit(_).cast(keyType)): _*)
    // Two frames over ONE ordered spec (single WindowExec, no extra
    // exchange): RANGE up-to-current sums keys <= current INCLUDING
    // every duplicate row; RANGE current-row..current-row sums exactly
    // the peer group (rows with the same key). Their difference is the
    // strictly-before cumulative, deterministic under duplicate keys —
    // a ROWS frame minus own count would depend on row order there.
    val spec = Window.partitionBy("__pid").orderBy(col(keyCol))
    val wUpTo = spec.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wPeers = spec.rangeBetween(Window.currentRow, Window.currentRow)
    val withPrev = staged.withColumn(s"__prev_$keyCol",
      coalesce(lag(col(keyCol), 1).over(spec), pmax.getItem(col("__pid"))))
    val withCums = cntCols.zipWithIndex.foldLeft(withPrev) {
      case (df, (c, i)) => df
        .withColumn(s"__cumb_$c",
          sum(col(c)).over(wUpTo) - sum(col(c)).over(wPeers) +
            typedLit(byPid(pids.zip(offs.map(_(i))), 0L)).getItem(col("__pid")))
        .withColumn(s"__tot_$c", lit(totals(i)))
    }
    (withCums, ptot.map(p => (p._1, p._2)))
  }

  /** Top-k rows per key WITHOUT a window sort: the k-bounded
    * [[graft.functions.TopK]] aggregate partial-aggregates map-side, so
    * each partition ships at most k (score, id) pairs per key to the
    * exchange — against `ROW_NUMBER() OVER (...) <= k`, which shuffles
    * and sorts every row of every key. Ranked by (score DESC, id DESC),
    * a total order, then exploded back to (key, rank, id, score) rows. */
  def topKPerKey(df: DataFrame, keyCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopK(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    df.groupBy(col(keyCol))
      .agg(topk(col(scoreCol).cast("double"), col(idCol).cast("long")).as("__top"))
      .select(col(keyCol), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col(keyCol), (col("__pos") + 1).cast("long").as("rank"),
        col("__t._2").as(idCol), col("__t._1").as(scoreCol))
  }

  /** 2D skyline (Pareto-maxima frontier): the points no other point
    * dominates, where p dominates q iff p.x ≥ q.x ∧ p.y ≥ q.y with at
    * least one strict — the "biggest AND most expensive" frontier
    * query. Naive skyline is an O(n²) NOT-EXISTS self-join; the sorted
    * identity makes it linear: reduce to (x, max y) per distinct x,
    * then a point survives iff its y STRICTLY exceeds every y at
    * strictly greater x — a running max over x descending.
    *
    * Scale shape: the running max shares [[rangeStage]] with
    * [[rowNumberByKey]] — per-x maxima range-partition on x descending,
    * per-partition prefix maxima run in parallel, and only each
    * partition's maximum travels to the driver to become the next
    * partitions' floor, a literal indexed by range partition. Never a
    * single-reducer window, and never a pair join. A final equi-join
    * back to the input counts the rows sitting exactly on each
    * frontier point.
    *
    * Output: frontier points — (x, y, n), x ascending ⇒ y strictly
    * descending. */
  def skylineMax2D(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).as("x"), col(yCol).cast("double").as("y"))
    val perX = pts.groupBy("x").agg(max("y").as("ymax"))
    val staged = rangeStage(perX, Seq(col("x").desc))
    // control plane: per-partition max -> prefix floor for later pids
    // (pid 0 holds the largest x under the descending range order)
    val pmax = staged.groupBy("__pid").agg(max("ymax").as("m"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq
    val floors = pmax.scanLeft(Double.NegativeInfinity) {
      case (acc, (_, m)) => math.max(acc, m)
    }.init
    val floor = typedLit(byPid(pmax.map(_._1).zip(floors), Double.NegativeInfinity))
      .getItem(col("__pid"))
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("x").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val frontier = staged
      .withColumn("__prev",
        greatest(coalesce(max(col("ymax")).over(wPrev),
          lit(Double.NegativeInfinity)), floor))
      .filter(col("ymax") > col("__prev"))
      .select(col("x").as("__fx"), col("ymax").as("__fy"))
    pts.join(broadcast(frontier),
        col("x") === col("__fx") && col("y") === col("__fy"))
      .groupBy(col("__fx"), col("__fy"))
      .agg(count(lit(1)).as("n"))
      .select(col("__fx").as("x"), col("__fy").as("y"), col("n"))
  }

  /** Per-group Gini concentration coefficient in EXACT integer
    * arithmetic — the standard inequality/concentration measure
    * (how concentrated is revenue across customers within a nation?).
    * Values are quantized to integer units (`scale` per 1.0) and the
    * sorted-rank identity used:
    *
    *   G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx),  x sorted ascending
    *
    * `gini_micro` = ⌊G·10^6⌋ by integer division in decimal(38,0) —
    * no float touches the statistic. Rank ties are harmless: equal
    * values commute in Σ i·xᵢ, so the output is a pure function of
    * the data even though ROW_NUMBER breaks ties arbitrarily.
    * Negative quantized values are excluded (Gini is defined over
    * non-negative amounts), as are groups with zero total.
    *
    * Output: one row per group — (group cols…, n, sum_q, gini_micro).
    * Plan: one shuffle on the group key, per-group window ranking in
    * parallel across groups, one grouped aggregation. Ranking cost is
    * a per-group sort — fine while groups are plentiful relative to
    * executors; for a handful of giant groups, range-partition the
    * cumulative like [[globalRowNumber]] instead. */
  def giniPerGroup(df: DataFrame, groupCols: Seq[String], valueCol: String,
      scale: Long = 100L): DataFrame = {
    require(groupCols.nonEmpty, "giniPerGroup needs grouping columns")
    require(scale > 0, s"scale must be positive, got $scale")
    val x = round(col(valueCol).cast("double") * lit(scale)).cast("long")
    val quantized = df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ x.as("__x"): _*)
      .filter(col("__x") >= 0L)
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__x"))
    val dec = "decimal(38,0)"
    quantized
      .withColumn("__i", row_number().over(w).cast("long"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast(dec)).as("__s"),
        sum(col("__i").cast(dec) * col("__x")).as("__si"))
      .filter(col("__s") > 0)
      .select(groupCols.map(col) ++ Seq(col("n"),
        col("__s").try_cast("long").as("sum_q"),
        call_function("div",
          (lit(2L) * col("__si") - (col("n") + 1L) * col("__s")) * lit(1000000L),
          col("n").cast(dec) * col("__s")).as("gini_micro")): _*)
  }

  /** Per-group Spearman rank correlation — Pearson over AVERAGE ranks
    * (the tie-correct definition, not the 6Σd²/n(n²−1) shortcut, which
    * is only valid tie-free). Doubled average ranks 2r = 2·rank +
    * tiecount − 1 keep every rank integral; all five power sums are
    * exact through DECIMAL(38,0) (a lineitem-scale group peaks near
    * 4n⁴ ≈ 1e24 in n·Σxy — far past int64, the kappa/KS overflow
    * lesson, comfortably inside 38 digits). Only the final
    * normalization touches doubles, surfaced micro-quantized.
    * Plan: two rank windows + one tie-count window pair over the SAME
    * group partitioning (one shuffle), then one map-side-combined
    * aggregation. NULL x or y rows are dropped (pairwise-complete). */
  def spearmanPerGroup(df: DataFrame, groupCols: Seq[String],
      xCol: String, yCol: String): DataFrame = {
    require(groupCols.nonEmpty, "spearmanPerGroup needs grouping columns")
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(groupCols.map(col) :+ col(xCol).as("__xv") :+ col(yCol).as("__yv"): _*)
    def ranks2(c: String): Column =
      lit(2L) * rank().over(
        Window.partitionBy(groupCols.map(col): _*).orderBy(col(c))).cast("long") +
        count(lit(1)).over(
          Window.partitionBy(groupCols.map(col) :+ col(c): _*)).cast("long") - 1L
    val dec = "decimal(38,0)"
    val ranked = base
      .withColumn("__rx", ranks2("__xv"))
      .withColumn("__ry", ranks2("__yv"))
    ranked.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__rx").cast(dec)).as("__sx"),
        sum(col("__ry").cast(dec)).as("__sy"),
        sum(col("__rx").cast(dec) * col("__ry").cast(dec)).as("__sxy"),
        sum(col("__rx").cast(dec) * col("__rx").cast(dec)).as("__sxx"),
        sum(col("__ry").cast(dec) * col("__ry").cast(dec)).as("__syy"))
      .select(groupCols.map(col) ++ Seq(col("n"),
        round(
          ((col("n").cast(dec) * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
            sqrt((col("n").cast(dec) * col("__sxx") - col("__sx") * col("__sx")).cast("double") *
              (col("n").cast(dec) * col("__syy") - col("__sy") * col("__sy")).cast("double")))
            * lit(1e6)).cast("long").as("rho_micro")): _*)
  }

  /** RFM customer segmentation (Hughes 1994 — recency / frequency /
    * monetary quintile scoring, the classic CRM triage): per entity,
    * recency = days from its last order to the corpus max date,
    * frequency = order count, monetary = cent-quantized spend; each
    * dimension is `tiles`-quantile-scored over the TOTAL order
    * (metric, entity id), so ties are deterministic in any engine, and
    * recency is reversed (most recent scores highest). The quantile
    * index is [[ntile]] over [[rowNumberByKey]]'s row number and its
    * row count, a literal — instead of a single-partition window, the
    * entity frame range-partitions and ranks in parallel, so the op
    * survives a billion-entity table.
    * Output: (id, recency_days, n_orders, cents, r, f, m, rfm). */
  def rfmSegments(orders: DataFrame, idCol: String, dateCol: String,
      amountCol: String, tiles: Int = 5): DataFrame = {
    require(tiles >= 2, s"tiles must be >= 2, got $tiles")
    val maxDate = orders.agg(max(col(dateCol)).as("__mx"))
    val per = orders.groupBy(col(idCol))
      .agg(max(col(dateCol)).as("__last"),
        count(lit(1)).as("n_orders"),
        sum(round(col(amountCol) * 100).cast("long")).as("cents"))
      .crossJoin(broadcast(maxDate)) // one-row max-date frame
      .withColumn("recency_days", datediff(col("__mx"), col("__last")).cast("long"))
      .drop("__mx", "__last")
      .withColumn("__neg_rec", -col("recency_days"))
    def addTile(df: DataFrame, sortCols: Seq[String], out: String): DataFrame = {
      val (ranked, n) = rowNumberByKey(df, None, sortCols)
      ranked.withColumn(out, ntile(col("row_num"), n, tiles)).drop("row_num")
    }
    val scored = addTile(addTile(addTile(per,
      Seq("__neg_rec", idCol), "r"),
      Seq("n_orders", idCol), "f"),
      Seq("cents", idCol), "m")
    scored.select(col(idCol), col("recency_days"), col("n_orders"),
      col("cents"), col("r"), col("f"), col("m"),
      (col("r") * 100L + col("f") * 10L + col("m")).as("rfm"))
  }

  /** Item-item co-occurrence similarity — the "customers also bought"
    * retrieval primitive. Items co-occur when one basket contains both;
    * a neighbor's score is cosine² over binary basket vectors kept
    * EXACT as an integer: score_micro = n_ab²·10⁶ div (n_item·n_nbr) in
    * DECIMAL(38,0) — monotone in cosine for non-negative counts, so
    * top-k by score_micro IS top-k by cosine with no float anywhere.
    * Scale shape: candidate pairs come from the per-basket self-join of
    * DISTINCT items (co-purchase volume, never item×item); `minCo`
    * prunes the singleton-pair tail before the per-item ranking; top-k
    * per item rides the k-bounded [[graft.functions.TopK]] aggregate
    * (map-side partial, no global window sort). Output: (item, rank,
    * nbr, n_item, n_nbr, n_ab, score_micro), rank by (score DESC,
    * nbr DESC). */
  def itemCooccurrenceTopK(baskets: DataFrame, basketCol: String,
      itemCol: String, k: Int, minCo: Long = 1L): DataFrame = {
    val (pairs, items) = cooccurCounts(baskets, basketCol, itemCol)
    cooccurTopKFromCounts(pairs, items, k, minCo)
  }

  /** The mergeable state behind [[itemCooccurrenceTopK]] — (u, v, n_ab)
    * pair counts (u < v) and (item, n) basket counts. Both are monoids
    * over DISJOINT BASKET SETS (a basket's pairs form within one batch;
    * exactly how ingestion arrives — a day's orders are complete), so
    * persisted day-N state + a delta-only pass equals the full
    * recompute bit-for-bit. */
  def cooccurCounts(baskets: DataFrame, basketCol: String,
      itemCol: String): (DataFrame, DataFrame) = {
    val bi = baskets.select(col(basketCol).as("__b"), col(itemCol).as("__i")).distinct()
    val ni = bi.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
      .select(col("__i").as("item"), col("__n").as("n"))
    val pairs = bi.as("x").join(bi.as("y"),
        col("x.__b") === col("y.__b") && col("x.__i") < col("y.__i"))
      .groupBy(col("x.__i").as("u"), col("y.__i").as("v"))
      .agg(count(lit(1)).as("n_ab"))
    (pairs, ni)
  }

  /** Directed pairwise association rules (the Apriori/market-basket
    * classic at its most-used size): for antecedent→consequent item
    * pairs, exact-integer support, confidence, and lift —
    * support_micro = n_ab·10⁶ div N, confidence_micro = n_ab·10⁶ div
    * n_a, lift_micro = n_ab·N·10⁶ div (n_a·n_b), all in DECIMAL(38,0).
    * Reuses [[cooccurCounts]]'s candidate shape (per-basket self-join,
    * never item×item) plus one one-row basket-count frame; rules rank
    * per antecedent through the k-bounded TopK aggregate by
    * (confidence, consequent id). Output: (item, rank, nbr, n_item,
    * n_nbr, n_ab, support_micro, confidence_micro, lift_micro). */
  def associationRules(baskets: DataFrame, basketCol: String,
      itemCol: String, k: Int, minCo: Long = 1L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dec = "decimal(38,0)"
    val (pairs0, items) = cooccurCounts(baskets, basketCol, itemCol)
    val nBaskets = broadcast(
      baskets.select(col(basketCol).as("__b")).distinct()
        .agg(count(lit(1)).cast("long").as("__nb")))
    val ni = items.select(col("item").as("__i"), col("n").as("__n"))
    val pairs = pairs0.filter(col("n_ab") >= minCo)
    val sym = pairs.select(col("u").as("item"), col("v").as("nbr"), col("n_ab"))
      .unionByName(pairs.select(col("v").as("item"), col("u").as("nbr"), col("n_ab")))
    val scored = sym
      .join(ni.select(col("__i").as("item"), col("__n").as("n_item")), "item")
      .join(ni.select(col("__i").as("nbr"), col("__n").as("n_nbr")), "nbr")
      .crossJoin(nBaskets) // one-row basket-count frame
      .withColumn("support_micro",
        call_function("div", col("n_ab").cast(dec) * lit(1000000L),
          col("__nb").cast(dec)).cast("long"))
      .withColumn("confidence_micro",
        call_function("div", col("n_ab").cast(dec) * lit(1000000L),
          col("n_item").cast(dec)).cast("long"))
      .withColumn("lift_micro",
        call_function("div",
          col("n_ab").cast(dec) * col("__nb") * lit(1000000L),
          col("n_item").cast(dec) * col("n_nbr")).cast("long"))
    topKPerKey(scored, "item", "confidence_micro", "nbr", k)
      .drop("confidence_micro")
      .join(scored.select(col("item"), col("nbr"), col("n_item"), col("n_nbr"),
        col("n_ab"), col("support_micro"), col("confidence_micro"),
        col("lift_micro")), Seq("item", "nbr"))
      .select(col("item"), col("rank"), col("nbr"), col("n_item"), col("n_nbr"),
        col("n_ab"), col("support_micro"), col("confidence_micro"),
        col("lift_micro"))
  }

  /** Fold mergeable co-occurrence pair states (additive counts). */
  def mergeCooccurPairs(states: DataFrame*): DataFrame =
    states.reduce(_.unionByName(_)).groupBy(col("u"), col("v"))
      .agg(sum(col("n_ab")).as("n_ab"))

  /** Fold mergeable per-item basket-count states. */
  def mergeItemCounts(states: DataFrame*): DataFrame =
    states.reduce(_.unionByName(_)).groupBy(col("item"))
      .agg(sum(col("n")).as("n"))

  /** The ranking half of [[itemCooccurrenceTopK]], over (possibly
    * merged) count states. */
  def cooccurTopKFromCounts(pairs0: DataFrame, items: DataFrame, k: Int,
      minCo: Long = 1L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dec = "decimal(38,0)"
    val ni = items.select(col("item").as("__i"), col("n").as("__n"))
    val pairs = pairs0.filter(col("n_ab") >= minCo)
    val sym = pairs.select(col("u").as("item"), col("v").as("nbr"), col("n_ab"))
      .unionByName(pairs.select(col("v").as("item"), col("u").as("nbr"), col("n_ab")))
    val scored = sym
      .join(ni.select(col("__i").as("item"), col("__n").as("n_item")), "item")
      .join(ni.select(col("__i").as("nbr"), col("__n").as("n_nbr")), "nbr")
      .withColumn("score_micro",
        call_function("div",
          col("n_ab").cast(dec) * col("n_ab") * lit(1000000L),
          col("n_item").cast(dec) * col("n_nbr")).cast("long"))
    topKPerKey(scored, "item", "score_micro", "nbr", k)
      .withColumn("score_micro", col("score_micro").cast("long"))
      .join(scored.select(col("item"), col("nbr"), col("n_item"),
        col("n_nbr"), col("n_ab")), Seq("item", "nbr"))
      .select(col("item"), col("rank"), col("nbr"), col("n_item"),
        col("n_nbr"), col("n_ab"), col("score_micro"))
  }

  /** Per-group EXACT weighted quantile — "the price below which half
    * the shipped QUANTITY sits", not half the rows: the weighted
    * lower quantile at probability p is the smallest value v whose
    * cumulative weight W(v) = Σ{w : value ≤ v} reaches p·W_total.
    * The unweighted percentile treats a 1-unit and a 10 000-unit line
    * item identically; inventory/revenue questions need the weighted
    * one.
    *
    * Exactness: weights are micro-quantized to longs once and summed
    * as integers; the threshold test `W(v)·10^6 ≥ round(p·10^6)·W_tot`
    * is pure integer arithmetic (p enters as one rounded constant), so
    * ties against the threshold resolve identically in any engine.
    * Cumulation is defined over DISTINCT values (all rows of equal
    * value enter W(v) together), making the result independent of any
    * intra-tie ordering.
    *
    * Plan shape at 100 TB: one shuffle groups (group, value) with
    * map-side combine — the window cumsum then runs over the DISTINCT
    * value set per group, not the rows, and the final min is
    * aggregate-sized. No global sort; the only per-group sort is the
    * distinct-value window, bounded by value cardinality.
    *
    * Output: (group, wq_value, w_total_micro). */
  def weightedQuantilePerGroup(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String,
      pMicro: Long = 500000L): DataFrame =
    weightedQuantileFromState(
      weightedValueHistogram(df, groupCol, valueCol, weightCol),
      groupCol, pMicro)

  /** Mergeable weighted-value histogram: (g, v, w) with w the summed
    * micro-int weight per distinct (group, value) — a count monoid, so
    * persisted per-day histograms union into
    * [[weightedQuantileFromState]] without re-scanning rows. Sized by
    * value cardinality per group, never rows. */
  def weightedValueHistogram(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String): DataFrame = df
    .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
    .select(col(groupCol).as("g"), col(valueCol).as("v"),
      round(col(weightCol).cast("double") * lit(1000000L)).cast("long")
        .as("w_micro"))
    .groupBy("g", "v").agg(sum("w_micro").as("w"))

  /** Weighted quantile off histogram state alone — re-aggregates (so
    * unioned multi-day states pool), then the cumulative threshold
    * test; [[weightedQuantilePerGroup]] routes through here, so direct
    * and from-state quantiles are one code path. */
  def weightedQuantileFromState(state: DataFrame, groupCol: String,
      pMicro: Long = 500000L): DataFrame = {
    require(pMicro > 0L && pMicro <= 1000000L,
      s"pMicro must be in (0, 1e6], got $pMicro")
    val perValue = state.groupBy("g", "v").agg(sum("w").as("w"))
    val win = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("g")
    val dec = "decimal(38,0)"
    perValue
      .withColumn("cum", sum("w").over(win))
      .withColumn("w_total_micro", sum("w").over(tot))
      .filter(col("cum").cast(dec) * lit(1000000L) >=
        col("w_total_micro").cast(dec) * lit(pMicro))
      .groupBy(col("g").as(groupCol))
      .agg(min("v").as("wq_value"), max("w_total_micro").as("w_total_micro"))
  }
}
