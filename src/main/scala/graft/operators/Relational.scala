package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Lake

/** Relational query core (SURVEY.md §2 items 1–8).
  *
  * Scale/correctness conventions used throughout:
  *  - Money arithmetic runs in decimal(18,2): exact and associative, so
  *    Spark's unordered partial aggregation and DuckDB's sequential sum
  *    produce bit-identical results; the final value is cast to double and
  *    rounded so output schemas stay plain doubles.
  *  - True dimension tables (region/nation/supplier/part) are broadcast
  *    explicitly; fact⨝fact joins (lineitem⨝orders) shuffle on the join key
  *    and are left to AQE for skew/coalesce handling at scale.
  *  - Top-K is orderBy().limit(k): Spark plans TakeOrderedAndProject
  *    (per-partition heaps, driver merges k rows) — never a global sort.
  *  - Every query ends in an explicit orderBy with a unique tie-break key so
  *    results are deterministic for the driver's hash compare.
  */
object Relational {

  private val dec2 = DecimalType(18, 2)
  /** Exact money column: decimal(18,2) cast. */
  private def m(c: Column): Column = c.cast(dec2)
  /** revenue term l_extendedprice * (1 - l_discount), exact decimal. */
  private def revenueTerm: Column =
    m(col("l_extendedprice")) * (m(lit(1)) - m(col("l_discount")))

  /** TPC-H Q1 shape: pricing summary over lineitem with a ship-date filter.
    * One shuffle (group-by), partial aggregation map-side. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Lake.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // quantities are integer-valued doubles: exact under reordering
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(m(col("l_extendedprice"))).cast("double"), 2).as("sum_base_price"),
        round(sum(revenueTerm).cast("double"), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Scan + filter + project: exercises parquet predicate pushdown and
    * column pruning (asserted in PlanShapeSpec). */
  def scanFilter(spark: SparkSession, dir: String): DataFrame =
    Lake.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-07-01").cast("timestamp") &&
              col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
              col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Top-K without a global sort: TakeOrderedAndProject. */
  def topNOrders(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Lake.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)

  /** TPC-H Q3 shape (flagship candidate): customer⨝orders⨝lineitem,
    * revenue per undelivered order, top 10. Customer is left to
    * Catalyst/AQE (it is NOT broadcast-safe at 100 TB); orders⨝lineitem
    * shuffles on orderkey. */
  def starJoin(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val cust = Lake.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Lake.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Lake.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    cust.join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(revenueTerm).cast("double"), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: revenue per nation for one region and date range,
    * customer and supplier in the same nation. region/nation/supplier are
    * broadcast (bounded size at any SF). */
  def regionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val reg = Lake.region(spark, dir).filter(col("r_name") === "ASIA")
    val nat = Lake.nation(spark, dir)
    val sup = Lake.supplier(spark, dir)
    val cust = Lake.customer(spark, dir)
    val ord = Lake.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val li = Lake.lineitem(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(revenueTerm).cast("double"), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** lineitem with broadcast part + supplier dims: qty/revenue per brand. */
  def partSuppJoin(spark: SparkSession, dir: String): DataFrame =
    Lake.lineitem(spark, dir)
      .join(broadcast(Lake.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Lake.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(revenueTerm).cast("double"), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))

  /** Left-semi join: customers with at least one high-value order. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = Lake.orders(spark, dir).filter(col("o_totalprice") > 300000)
    Lake.customer(spark, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join: customers who never placed an urgent order. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Lake.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    Lake.customer(spark, dir)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Group-by + HAVING: nations with enough customers. nation broadcast.
    * avg_acctbal by signed exact-integer half-up ([[ExactRound]]) —
    * acctbal can be negative, so the group sum can be too. */
  def aggHaving(spark: SparkSession, dir: String): DataFrame =
    Lake.customer(spark, dir)
      .join(broadcast(Lake.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(m(col("c_acctbal"))).as("bal_sum"))
      .filter(col("n_customers") >= 3)
      .withColumn("b2", (col("bal_sum") * 100).cast("long"))
      .select(col("n_name"), col("n_customers"),
        (ExactRound.halfUp("100 * b2", "n_customers").cast("double") / 1e4)
          .as("avg_acctbal"))
      .orderBy(col("n_name"))

  /** Window rank: top 3 orders per customer by totalprice. */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Lake.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
              rank().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= 3)
      .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
  }

  /** Running (cumulative) sum per customer over order date. */
  def runningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Lake.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
              round(sum(m(col("o_totalprice"))).over(w).cast("double"), 2)
                .as("cum_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Distinct values of a low-cardinality column. */
  def distinctSegments(spark: SparkSession, dir: String): DataFrame =
    Lake.customer(spark, dir)
      .select(col("c_mktsegment"))
      .distinct()
      .orderBy(col("c_mktsegment"))

  /** ROLLUP aggregation: order counts + revenue at (status, priority),
    * (status) and grand-total levels — one shuffle, Expand-based. */
  def rollupOrders(spark: SparkSession, dir: String): DataFrame =
    Lake.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(m(col("o_totalprice"))).cast("double"), 2).as("total_revenue"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  /** CUBE aggregation: all grouping-set combinations of (status, priority). */
  def cubeOrders(spark: SparkSession, dir: String): DataFrame =
    Lake.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  /** Bucketized RANGE JOIN: points joined to the intervals containing
    * them WITHOUT the BroadcastNestedLoopJoin stock Spark plans for
    * big×big non-equi joins. Intervals explode to the fixed-width
    * buckets they overlap (bounded fan-out: interval span / bucket + 2),
    * points land in one bucket, and the join is EQUI on bucket with the
    * exact BETWEEN as a post-filter — a hash-partitioned shuffle at any
    * scale. `points` needs a date column `p`, `intervals` date columns
    * (`lo`, `hi`); output is every (point, interval) containment pair. */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
                bucketDays: Int = 8): DataFrame = {
    require(bucketDays > 0, "bucketDays must be positive")
    val pb = points.withColumn("__b",
      expr(s"datediff(p, DATE '1970-01-01') div $bucketDays"))
    val ib = intervals.withColumn("__b",
      explode(sequence(
        expr(s"datediff(lo, DATE '1970-01-01') div $bucketDays"),
        expr(s"datediff(hi, DATE '1970-01-01') div $bucketDays"))))
    pb.join(ib, Seq("__b"))
      .filter(col("p").between(col("lo"), col("hi")))
      .drop("__b")
  }

  /** Driver form: for every distinct ship day, how many 7-day order
    * windows are open — "active intervals per point", the classic range
    * join that would otherwise be a nested-loop over orders×days. */
  def intervalOverlap(spark: SparkSession, dir: String,
                      windowDays: Int = 7): DataFrame = {
    val days = Lake.lineitem(spark, dir)
      .select(to_date(col("l_shipdate")).as("p")).distinct()
    val windows = Lake.orders(spark, dir).select(
      to_date(col("o_orderdate")).as("lo"),
      date_add(to_date(col("o_orderdate")), windowDays).as("hi"))
    rangeJoin(days, windows)
      .groupBy(col("p").as("day"))
      .agg(count(lit(1)).as("n_open_orders"))
      .select(col("day"), col("n_open_orders"))
      .orderBy(col("day"))
  }

  /** TPC-H Q17 shape: revenue locked in small-quantity orders — lineitems
    * under 20% of their part's average quantity. The correlated scalar
    * subquery ("this part's average") is planned Spark-first as a window
    * average per part: ONE shuffle keyed on l_partkey, where the naive
    * self-join formulation scans and shuffles lineitem twice. The filter
    * threshold is deterministic across engines: quantities are small
    * integers, so their window sums are exact in double at any
    * aggregation order. */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_partkey"))
    Lake.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .withColumn("avg_qty", avg(col("l_quantity")).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(m(col("l_extendedprice"))).as("price_sum"))
      // avg_yearly = sum/7 at 2 dp by exact integer half-up: the
      // decimal-2 sum over the constant 7 is a terminating quotient
      .withColumn("p2", (col("price_sum") * 100).cast("long"))
      .select(col("n_items"),
        (ExactRound.halfUpPos("p2", "7").cast("double") / 100.0)
          .as("avg_yearly"))
  }

  /** TPC-H Q21 shape: suppliers SOLELY at fault in multi-supplier finished
    * orders — their item came back returned while EXISTS another supplier
    * in the order and NOT EXISTS another supplier with a returned item.
    * The two correlated subqueries plan Spark-first as a left-SEMI and a
    * left-ANTI join, both equi-keyed on l_orderkey with the supplier
    * inequality as a residual post-filter — no decorrelation machinery,
    * no re-scan per outer row; lineitem shuffles once per side on the
    * join key. Supplier is a broadcast dim. */
  def soleFaultSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Lake.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val l1 = li.filter(col("l_returnflag") === "R").as("l1")
    val others = li.select(col("l_orderkey"), col("l_suppkey")).as("l2")
    val failedOthers = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey")).as("l3")
    val finished = Lake.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    l1.join(finished, col("l1.l_orderkey") === col("o_orderkey"))
      .join(others,
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_suppkey") =!= col("l2.l_suppkey"), "left_semi")
      .join(failedOthers,
        col("l1.l_orderkey") === col("l3.l_orderkey") &&
          col("l1.l_suppkey") =!= col("l3.l_suppkey"), "left_anti")
      .join(broadcast(Lake.supplier(spark, dir)),
        col("l1.l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q22 shape — a global-aggregate threshold feeding an anti join:
    * above-average-balance customers DORMANT since a cutoff (the "idle
    * rich" churn-risk list). The one-row (sum, count) aggregate
    * broadcasts; the threshold compares in exact integer space
    * (bal·n > sum, both exact decimals) rather than against a divided
    * average, so no engine's division rounding can flip a boundary row —
    * the cross-engine trap of `x > avg(x)`. Anti join against the
    * DISTINCT recent-orderer key set (the date predicate pushes to the
    * orders scan). */
  def idleRichCustomers(spark: SparkSession, dir: String,
                        dormantSince: String = "1998-01-01"): DataFrame = {
    val cust = Lake.customer(spark, dir)
    val stats = cust.agg(
      sum(col("c_acctbal").cast(DecimalType(18, 2))).as("total_bal"),
      count(lit(1)).as("n_cust"))
    val recent = Lake.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(dormantSince).cast("timestamp"))
      .select(col("o_custkey")).distinct()
    cust.crossJoin(broadcast(stats))
      .filter(col("c_acctbal").cast(DecimalType(18, 2)) * col("n_cust") >
        col("total_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast(DecimalType(18, 2)).as("acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** Arbitrary GROUPING SETS — the general form ROLLUP/CUBE specialize:
    * per-(status,priority), per-status, and per-priority aggregates in
    * ONE Expand-based pass (one shuffle), where three separate group-bys
    * would scan and shuffle three times. */
  def groupingSetsOrders(spark: SparkSession, dir: String): DataFrame =
    Lake.orders(spark, dir)
      .groupingSets(
        Seq(
          Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")),
          Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(m(col("o_totalprice"))).cast("double"), 2).as("total_revenue"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  /** Distribution windows: quartile bucket (ntile) and percent_rank of
    * each order within its status group. */
  def windowDistribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Lake.orders(spark, dir)
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"))
      .orderBy(col("o_orderkey"))
  }

  /** Explicit cross join (the only legitimate cartesian: two bounded dims). */
  def crossJoinRegions(spark: SparkSession, dir: String): DataFrame =
    Lake.region(spark, dir).select(col("r_name"))
      .crossJoin(Lake.nation(spark, dir).select(col("n_name")))
      .orderBy(col("r_name"), col("n_name"))

  /** String expression battery over customer (all codegen'd builtins). */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Lake.customer(spark, dir)
      .select(
        col("c_custkey"),
        // slice the VARYING digit region (names share a constant prefix,
        // so substr(1,8) would test nothing)
        upper(substring(col("c_name"), -6, 6)).as("name_tail"),
        instr(col("c_name"), "1").cast("long").as("first_one_pos"),
        regexp_extract(col("c_name"), "[0-9]+", 0).as("name_digits"),
        concat_ws("/", col("c_mktsegment"), lower(col("c_name")).substr(1, 10))
          .as("seg_note"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("key_padded"))
      .orderBy(col("c_custkey"))

  /** Date/time expression battery over orders. */
  def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    Lake.orders(spark, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_cutoff"))
      .orderBy(col("o_orderkey"))

  /** Unpivot (melt): lineitem's numeric measures to long form
    * (key, metric, value) — the schema-normalization operator feeding
    * generic metric pipelines. Pure map stage (Expand), no shuffle. */
  def unpivotLineitem(spark: SparkSession, dir: String): DataFrame =
    Lake.lineitem(spark, dir)
      .filter(col("l_orderkey") < 100)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))

  /** Fixed-width histogram of order values: one group-by on the bin id
    * (map-side combinable; bin count bounded regardless of data size). */
  def histogramOrders(spark: SparkSession, dir: String,
                      binWidth: Double = 50000.0): DataFrame =
    Lake.orders(spark, dir)
      .select(floor(col("o_totalprice") / binWidth).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("bin_lo", (col("bin") * binWidth).cast("double"))
      .select(col("bin"), col("bin_lo"), col("n_orders"))
      .orderBy(col("bin"))

  /** Association rules over the co-purchase baskets: support, BOTH
    * directed confidences, and lift for every part pair ordered together
    * at least `minOrders` times. ONE basket-building shuffle feeds
    * everything: the pair counts, the per-part order counts, and the
    * basket total all re-aggregate the persisted basket frame (released
    * on materialize). Lift's products are exact int64 (≪ 2^53 as
    * doubles); each ratio is one double division of identical integers
    * in any engine. Top-k by lift — the "surprisingly together" ranking
    * support alone can't give (frequent ≠ correlated). */
  def assocRules(spark: SparkSession, dir: String,
                 minOrders: Long = 2, topK: Int = 20): DataFrame = {
    // reads the shared basket artifact three times (pairs, item counts,
    // total) — re-scanning the bounded materialized frame, never the
    // fact table
    val baskets = sharedBaskets(spark, dir)
    val pairCounts = basketPairCounts(baskets, minOrders)
    val itemCounts = baskets.select(explode(col("items")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_orders"))
    val total = baskets.agg(count(lit(1)).as("n_total"))
    val out = pairCounts
      .join(broadcast(itemCounts.select(col("part").as("part_a"),
        col("n_orders").as("n_a"))), Seq("part_a"))
      .join(broadcast(itemCounts.select(col("part").as("part_b"),
        col("n_orders").as("n_b"))), Seq("part_b"))
      .crossJoin(broadcast(total))
      // support/confidence/lift are count ratios (terminating): exact
      // integer half-up, 6 dp ([[ExactRound]]); lift's numerator
      // n_ab·n_total·10⁶·2 stays inside int64 at the tested SFs
      .select(col("part_a"), col("part_b"), col("n_ab"),
        (ExactRound.halfUpPos("1000000 * n_ab", "n_total")
          .cast("double") / 1e6).as("support"),
        (ExactRound.halfUpPos("1000000 * n_ab", "n_a")
          .cast("double") / 1e6).as("conf_a_to_b"),
        (ExactRound.halfUpPos("1000000 * n_ab", "n_b")
          .cast("double") / 1e6).as("conf_b_to_a"),
        (ExactRound.halfUpPos("1000000 * n_ab * n_total", "n_a * n_b")
          .cast("double") / 1e6).as("lift"))
      .orderBy(col("lift").desc, col("part_a"), col("part_b"))
      .limit(topK)
    out
  }

  /** Auto-binned histogram: the Freedman–Diaconis rule picks the bin
    * width from the data (2·IQR/n^(1/3)) instead of a magic constant —
    * the "just show me the distribution" profiling call. One bounded
    * quantile/count aggregate chooses the width (broadcast as a one-row
    * frame), then the usual single-scan bin group-by; the width is
    * rounded to 4 digits BEFORE binning so engine and oracle floor
    * identical doubles. Degenerate spread (IQR 0) falls back to one
    * bin. */
  def autoHistogram(spark: SparkSession, dir: String, table: String,
                    valueCol: String): DataFrame = {
    val src = Lake.table(spark, dir, table).select(col(valueCol).as("v"))
    val params = src.agg(
        expr("percentile(v, 0.25)").as("q1"),
        expr("percentile(v, 0.75)").as("q3"),
        count(lit(1)).as("n"))
      .select(round((lit(2.0) * (col("q3") - col("q1"))) /
        cbrt(col("n").cast("double")), 4).as("w"))
    src.crossJoin(broadcast(params))
      .select(when(col("w") > 0, floor(col("v") / col("w")).cast("long"))
        .otherwise(lit(0L)).as("bin"), col("w"))
      .groupBy(col("bin"), col("w"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("bin"), col("w").as("bin_width"),
        (col("bin") * col("w")).cast("double").as("bin_lo"), col("n_rows"))
      .orderBy(col("bin"))
  }

  /** Set ops: (urgent ∪ high priority customers) minus open-status ones. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val ord = Lake.orders(spark, dir)
    val urgent = ord.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val high   = ord.filter(col("o_orderpriority") === "2-HIGH").select(col("o_custkey"))
    val open   = ord.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
    urgent.union(high).distinct().except(open)
      .withColumnRenamed("o_custkey", "custkey")
      .orderBy(col("custkey"))
  }

  /** TPC-H Q11 shape: suppliers whose revenue exceeds a FRACTION of the
    * global total (share > 1/shareDenom). The global threshold is a
    * one-row aggregate broadcast back over the per-supplier aggregate
    * (the same bounded-BNLJ pattern as [[idleRichCustomers]]); the share
    * test runs in exact decimal space (`rev · shareDenom > total`), never
    * against a divided fraction. One lineitem shuffle, supplier dim
    * broadcast — holds at any SF. */
  def supplierShare(spark: SparkSession, dir: String,
                    shareDenom: Int = 200): DataFrame = {
    // persisted: the supplier-count-sized aggregate feeds both the global
    // total and the share filter — without the cache the lineitem
    // scan+agg runs twice (ContextCleaner releases it with the frame)
    val rev = Lake.lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(sum(revenueTerm).as("rev"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = rev.agg(sum(col("rev")).as("total_rev"))
    rev.crossJoin(broadcast(total))
      .filter(col("rev") * shareDenom > col("total_rev"))
      .join(broadcast(Lake.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("rev").cast("double"), 2).as("revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q15 shape: the top supplier(s) by revenue over one ship-date
    * window, TIES KEPT — argmax as a one-row max broadcast joined back on
    * exact decimal equality (a window rank would carry every group through
    * a sort; the max re-join touches each row once). */
  def topSupplier(spark: SparkSession, dir: String,
                  from: String = "1996-01-01",
                  until: String = "1996-04-01"): DataFrame = {
    val rev = Lake.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
              col("l_shipdate") <  lit(until).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revenueTerm).as("rev"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = rev.agg(max(col("rev")).as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("rev") === col("max_rev"))
      .join(broadcast(Lake.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("rev").cast("double"), 2).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q2's argmin-per-group shape on the lake's fact table: for each
    * part, the supplier(s) charging its MINIMAL extended price, ties kept
    * — a min-window then an exact equality re-filter (comparison only, no
    * arithmetic, so double equality is deterministic in any engine). One
    * shuffle keyed by part; no self-join re-scan (the Q17 window
    * discipline applied to argmin). */
  def cheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    val l = Lake.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    val w = Window.partitionBy(col("l_partkey"))
    l.withColumn("min_price", min(col("l_extendedprice")).over(w))
      .filter(col("l_extendedprice") === col("min_price"))
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("min_price"), 2).as("min_price"))
      .distinct()
      .orderBy(col("l_partkey"), col("l_suppkey"))
  }

  /** TPC-H Q13 shape: the distribution of per-customer order counts,
    * INCLUDING never-ordered customers — the left outer join no inner
    * form can express, then a count-of-counts re-aggregate. Both
    * aggregations are map-side combinable; output is bounded by the
    * maximum order count per customer. */
  def custOrderDistribution(spark: SparkSession, dir: String): DataFrame =
    Lake.customer(spark, dir).select(col("c_custkey"))
      .join(Lake.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q8 shape: one nation's market share inside one region's
    * customer base, per order year — the conditional-aggregate ratio
    * sum(CASE)/sum over a five-table star. Everything dimension-sized
    * broadcasts (part filter, both nation legs, region); lineitem and
    * orders shuffle once each on their join keys. Numerator and
    * denominator are exact decimal sums; only the final ratio divides in
    * double, rounded to 6 — deterministic on any engine. */
  def marketShare(spark: SparkSession, dir: String,
                  nation: String = "NATION_3",
                  region: String = "ASIA",
                  ptype: String = "STANDARD"): DataFrame = {
    val custNation = Lake.nation(spark, dir)
      .join(broadcast(Lake.region(spark, dir)
        .filter(col("r_name") === region)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val suppNation = Lake.nation(spark, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val vol = Lake.lineitem(spark, dir)
      .join(broadcast(Lake.part(spark, dir).filter(col("p_type") === ptype)
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(Lake.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Lake.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNation), col("c_nationkey") === col("cn_key"), "left_semi")
      .join(broadcast(Lake.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
      .select(col("o_year"), col("supp_nation"), revenueTerm.as("vol"))
    // numerator and denominator are exact decimal sums cast to double
    // BEFORE the one division — decimal-division scale rules differ
    // across engines, double division of exact values does not
    vol.groupBy(col("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === nation, col("vol"))
          .otherwise(m(lit(0)))).cast("double") /
          sum(col("vol")).cast("double"), 6)
        .as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9 shape: profit by supplier nation and order year over the
    * part/supplier/orders star. The lake has no partsupp, so supply cost
    * is proxied at 60% of the part's retail price — the SHAPE (five-way
    * join, name-pattern part filter, expression aggregate) is Q9's.
    *
    * Arithmetic runs ENTIRELY in integer 10⁻⁴-dollar space: money
    * columns are 2-dp doubles, so ·100 rounds to exact BIGINT cents, and
    * revenue·(100−disc%) and 60·cost-cents·qty both land on the same
    * 10⁻⁴ scale — bitwise-identical sums on any engine, no decimal
    * precision-cap rules in play. One double division at the end. */
  def nationProfit(spark: SparkSession, dir: String,
                   namePattern: String = "%red%"): DataFrame = {
    val extC = round(col("l_extendedprice") * 100).cast("long")
    val discP = round(col("l_discount") * 100).cast("long")
    val retailC = round(col("p_retailprice") * 100).cast("long")
    val qty = col("l_quantity").cast("long")
    Lake.lineitem(spark, dir)
      .join(broadcast(Lake.part(spark, dir)
        .filter(col("p_name").like(namePattern))
        .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(Lake.orders(spark, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Lake.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Lake.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("nation"), col("o_year"),
        (extC * (lit(100L) - discP) - retailC * qty * lit(60L)).as("amount4"))
      .groupBy(col("nation"), col("o_year"))
      // scale-4 long → 2 dp by signed exact-integer half-up (profit can
      // be negative): round(a4/10^4, 2) = halfUp(a4, 100) / 100
      .agg(sum(col("amount4")).as("a4"))
      .select(col("nation"), col("o_year"),
        (ExactRound.halfUp("a4", "100").cast("double") / 100.0)
          .as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q18 shape: customers with at least one LARGE order (total
    * quantity over the threshold) — the having-subquery filter planned as
    * an aggregate-then-join, never a correlated re-scan. The per-order
    * quantity aggregate is map-side combinable; only qualifying order
    * keys (a vanishing fraction) reach the customer join. Top-k via
    * TakeOrderedAndProject. */
  def largeOrders(spark: SparkSession, dir: String,
                  minQty: Double = 180.0, k: Int = 100): DataFrame = {
    val big = Lake.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      // quantities are integer-valued doubles: exact under any order
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    Lake.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Lake.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), m(col("o_totalprice")).cast("double").as("o_totalprice"),
        col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)
  }

  /** TPC-H Q19 shape: revenue under a DISJUNCTION of brand/size/quantity
    * conjunctions — the OR-of-ANDs predicate Catalyst pushes through the
    * join as a partial filter on each side (brand+size prune the part
    * scan, quantity bounds prune lineitem) before the exact residual
    * applies post-join. One broadcast join, one scalar aggregate. */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Lake.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
    val p = Lake.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 50) &&
          col("l_quantity").between(20, 30)))
      .agg(round(sum(revenueTerm).cast("double"), 2).as("revenue"))
  }

  /** TPC-H Q20 shape: suppliers who shipped an EXCESS quantity of any
    * pattern-matched part — the nested subquery chain (parts → per
    * (part, supplier) shipped totals → qualifying suppliers) planned as
    * aggregate-then-semi-join. The lake has no partsupp/availqty, so
    * "excess" is an absolute shipped-quantity threshold; the nesting
    * depth and join shape are Q20's. Only qualifying (part, supplier)
    * groups — a vanishing fraction — reach the semi join. */
  def excessSuppliers(spark: SparkSession, dir: String,
                      namePattern: String = "%blue%",
                      minShipped: Double = 60.0): DataFrame = {
    val qualifying = Lake.lineitem(spark, dir)
      .join(broadcast(Lake.part(spark, dir)
        .filter(col("p_name").like(namePattern)).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("shipped"))
      .filter(col("shipped") > minShipped)
      .select(col("l_suppkey")).distinct()
    Lake.supplier(spark, dir)
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q4 shape: order-priority checking — count orders per priority
    * in one quarter having AT LEAST ONE late line (EXISTS with a
    * correlated inequality). The lake has no commit/receipt dates, so
    * "late" is shipped >60 days after the order date; the shape — a
    * correlated EXISTS planned as a left-semi join with an equi key plus
    * inequality residual, never a per-row re-scan — is Q4's. The date
    * filter prunes the orders scan; the semi join shuffles both facts
    * once on orderkey; output is bounded (5 priorities). */
  def orderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Lake.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Lake.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q6 shape: forecasting-revenue-change — one scan, a conjunctive
    * range predicate (date window × discount band × quantity cap) pushed
    * to the parquet reader, and a single scalar aggregate; no join, no
    * shuffle beyond the final single-row reduce. Revenue accumulates in
    * exact integer 10⁻⁴-dollar space (cents × discount-%), so partial
    * aggregation order cannot perturb the sum. */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Lake.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .select((round(col("l_extendedprice") * 100).cast("long") *
               round(col("l_discount") * 100).cast("long")).as("rev4"))
      // scale-4 long → 2 dp by exact integer half-up (terminating)
      .agg(sum(col("rev4")).as("r4"))
      .select((ExactRound.halfUpPos("r4", "100").cast("double") / 100.0)
        .as("revenue"))

  /** TPC-H Q7 shape: volume shipping between two nations — revenue per
    * (supplier nation, customer nation, ship year) for the ordered pairs
    * in EITHER direction. Both nation legs filter to the two nations
    * BEFORE their joins (the supplier leg broadcasts; the customer leg
    * semi-prunes the customer fact), so only qualifying rows reach the
    * lineitem⨝orders shuffle; the disjunctive pair filter is then a
    * residual on dimension columns. */
  def volumeShipping(spark: SparkSession, dir: String,
                     n1: String = "NATION_1", n2: String = "NATION_2"): DataFrame = {
    val nat = Lake.nation(spark, dir)
      .filter(col("n_name").isin(n1, n2))
    val sup = Lake.supplier(spark, dir)
      .join(broadcast(nat.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = Lake.customer(spark, dir)
      .join(broadcast(nat.select(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"), col("cust_nation"))
    Lake.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(Lake.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === n1 && col("cust_nation") === n2) ||
              (col("supp_nation") === n2 && col("cust_nation") === n1))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(revenueTerm).cast("double"), 2).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q10 shape: returned-item reporting — top customers by revenue
    * lost to returns (l_returnflag = 'R') for orders placed in one
    * quarter. The order-date filter prunes orders before the fact⨝fact
    * shuffle; the return-flag filter prunes lineitem at the scan; nation
    * broadcasts; top-k via TakeOrderedAndProject, never a global sort. */
  def returnedItems(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val ord = Lake.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-10-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Lake.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Lake.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Lake.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"),
        m(col("c_acctbal")).cast("double").as("c_acctbal"), col("n_name"))
      .agg(round(sum(revenueTerm).cast("double"), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)
  }

  /** TPC-H Q12 shape: shipping-priority classification — per line status
    * (the lake's stand-in for ship mode), count late-shipped lines on
    * high- vs low-priority orders in one ship year. The CASE-count pivot
    * over a joined priority column is Q12's; "late" is shipped >30 days
    * after the order date. One fact⨝fact shuffle; two-row output. */
  def shipPriority(spark: SparkSession, dir: String): DataFrame = {
    val li = Lake.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
    val ord = Lake.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** TPC-H Q14 shape: promotion-effect — promo types' share of one
    * month's revenue as 100·sum(CASE)/sum, numerator and denominator
    * exact decimal sums cast to double before the single division (the
    * marketShare discipline). Part broadcasts; one scalar row out. */
  def promoShare(spark: SparkSession, dir: String): DataFrame =
    Lake.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-10-01").cast("timestamp"))
      .join(broadcast(Lake.part(spark, dir).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(round(
        (sum(when(col("p_type") === "PROMO", revenueTerm).otherwise(m(lit(0))))
          .cast("double") * 100.0) / sum(revenueTerm).cast("double"), 6)
        .as("promo_revenue"))

  /** TPC-H Q16 shape: parts/supplier relationship counts — distinct
    * suppliers per (brand, type, size) bucket for a filtered part set,
    * EXCLUDING complained-about suppliers via NOT IN (planned as a
    * broadcast anti join, never a per-row subquery). The lake has no
    * partsupp, so the relationship is the distinct (part, supplier)
    * pairs observed in lineitem — one distinct shuffle bounded by the
    * true relationship cardinality; negative account balance stands in
    * for the complaints predicate. */
  def partSupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    val complaints = Lake.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val rel = Lake.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"), "left_anti")
    rel.join(broadcast(Lake.part(spark, dir)
        .filter(col("p_brand") =!= "Brand#1" &&
                col("p_size").isin(1, 14, 23, 45, 19, 3, 36, 9))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** Deterministic hash-sampled revenue estimate: a `pct`% Bernoulli
    * sample selected by the portable double-Lehmer integer hash of the
    * unique line id (the split-hash discipline — no RNG, reproducible in
    * any engine), aggregated per return flag and scaled by 100/pct.
    * The scan reads only sampled rows' columns and the aggregate touches
    * pct% of the data — the cheap-estimate path a 100 TB profiler runs
    * BEFORE committing to an exact pass; the exact twin is
    * [[pricingSummary]]. Revenue accumulates in exact integer
    * 10⁻⁴-dollar space; the scale-up multiply stays integral. */
  def sampledRevenue(spark: SparkSession, dir: String, pct: Int = 10): DataFrame = {
    require(pct > 0 && 100 % pct == 0, "pct must divide 100")
    val lineId = col("l_orderkey") * 8 + col("l_linenumber")
    val bucket = ((lineId * 48271L) % 2147483647L) * 48271L % 2147483647L % 100
    Lake.lineitem(spark, dir)
      .filter(bucket < pct)
      .select(col("l_returnflag"),
        (round(col("l_extendedprice") * 100).cast("long") *
         (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev4"))
      .groupBy(col("l_returnflag"))
      // scaled-up scale-4 long → 2 dp by exact integer half-up
      .agg(count(lit(1)).as("n_sampled"),
        (sum(col("rev4")) * lit((100 / pct).toLong)).as("r4"))
      .select(col("l_returnflag"), col("n_sampled"),
        (ExactRound.halfUpPos("r4", "100").cast("double") / 100.0)
          .as("est_revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** Market-basket co-occurrence (frequent-pair mining): part pairs that
    * appear together in at least `minOrders` orders. Pairs fan out per
    * order from its SORTED distinct item set, so the quadratic term is
    * bounded by items-per-order (single digits here and in any real order
    * table), never corpus-wide: ONE shuffle keyed by order id builds the
    * baskets, then a pair-keyed partial-aggregated count and a bounded
    * TakeOrderedAndProject head. The self-join formulation the oracle
    * uses would shuffle the fact table twice. */
  /** Shared per-order item sets (`l_orderkey`, sorted distinct `items`)
    * read by every basket consumer: the fact-table shuffle keyed by order
    * is the family's expensive piece, and rebuilding it per query tripled
    * the family's sweep cost. */
  def sharedBaskets(spark: SparkSession, dir: String): DataFrame =
    ArtifactStore.shared(spark, dir, "baskets", Seq("lineitem")) {
      Lake.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("items"))
    }

  /** Per-basket ordered-pair fan-out shared by the market-basket family:
    * k·(k−1)/2 struct rows per basket, grouped to pair counts. */
  private def basketPairCounts(baskets: DataFrame, minOrders: Long): DataFrame =
    // fan the basket rows out to core parallelism before the k²/2 pair
    // explode: the materialized artifact reads as a handful of tasks at
    // bench scale, which serialized the heaviest pass of every basket
    // consumer (r14 profile: 0.8 s on 4 tasks). Identity at scale.
    Par.fanOut(baskets).select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items)),
          |            y -> struct(x AS pa, y AS pb))))""".stripMargin)).as("p"))
      .groupBy(col("p.pa").as("part_a"), col("p.pb").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minOrders)

  def copurchase(spark: SparkSession, dir: String,
                 minOrders: Long = 2, topK: Int = 20): DataFrame =
    basketPairCounts(sharedBaskets(spark, dir), minOrders)
      .select(col("part_a"), col("part_b"), col("n_ab").as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(topK)

  /** Item–item cosine similarity from market-basket co-occurrence:
    * cos(a,b) = n_ab / sqrt(n_a · n_b), where n_x counts the orders
    * containing part x and n_ab their co-occurrences. The normalized
    * complement of [[copurchase]]'s raw counts — popular parts no longer
    * dominate the ranking, which is what an item-to-item recommender
    * actually consumes (Amazon's classic formulation).
    *
    * Scale shape: pair counts come from the same bounded per-basket
    * fan-out as [[copurchase]] (k·(k−1)/2 per order, k = basket size);
    * per-item counts are one group-by, joined twice — at dimension size,
    * broadcastable. All counts are exact integers; the one sqrt+division
    * runs on exact inputs, so both engines evaluate the identical scalar
    * tree. */
  def itemCosine(spark: SparkSession, dir: String,
                 minOrders: Long = 2, topK: Int = 20): DataFrame = {
    // one fact scan ever: both the pair counts and the per-item counts
    // read the shared basket artifact (the materialized shuffle output
    // every basket consumer needs)
    val baskets = sharedBaskets(spark, dir)
    val itemN = baskets.select(explode(col("items")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    basketPairCounts(baskets, minOrders)
      .join(broadcast(itemN.select(col("pk").as("part_a"), col("n_item").as("n_a"))),
        "part_a")
      .join(broadcast(itemN.select(col("pk").as("part_b"), col("n_item").as("n_b"))),
        "part_b")
      .select(col("part_a"), col("part_b"), col("n_ab"),
        round(col("n_ab") / sqrt(col("n_a") * col("n_b")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /** Item-kNN collaborative-filtering recommendations — the neighborhood
    * complement of the ALS factorizer (graft.operators.Recommend), and
    * unlike it fully ORACLE-CHECKABLE: score(u, c) = Σ cosine(i, c) over
    * the items i the customer already buys, candidates the customer owns
    * are anti-joined away, top-N per customer by (score DESC, item ASC).
    * This is the classic item-to-item formulation (precompute the item
    * neighborhood offline, score per user online) precisely because it
    * scales: the similarity matrix is DIMENSION-sized (bounded by
    * co-occurring pairs, broadcastable) while users stream through one
    * item-keyed join — no per-user model state.
    *
    * Determinism: each cosine is rounded at 6 dp then cast to
    * decimal(18,6), so the per-candidate sum is exact and order-free;
    * the ranking sorts exact decimals. */
  def itemKnnRecommend(spark: SparkSession, dir: String,
                       minOrders: Long = 2, topN: Int = 3): DataFrame = {
    val d6 = DecimalType(18, 6)
    val baskets = sharedBaskets(spark, dir)
    val itemN = baskets.select(explode(col("items")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    val sims = basketPairCounts(baskets, minOrders)
      .join(broadcast(itemN.select(col("pk").as("part_a"), col("n_item").as("n_a"))),
        "part_a")
      .join(broadcast(itemN.select(col("pk").as("part_b"), col("n_item").as("n_b"))),
        "part_b")
      .select(col("part_a"), col("part_b"),
        round(col("n_ab") / sqrt(col("n_a") * col("n_b")), 6)
          .cast(d6).as("cos"))
    val simBoth = sims
      .select(col("part_a").as("src"), col("part_b").as("cand"), col("cos"))
      .unionAll(sims
        .select(col("part_b").as("src"), col("part_a").as("cand"), col("cos")))
    val owned = Lake.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Lake.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_partkey").as("item"))
      .distinct()
    val w = Window.partitionBy(col("custkey"))
      .orderBy(col("score_d").desc, col("cand").asc)
    // aggregate FIRST, exclude owned candidates AFTER (the cf_eval r13
    // plan fix, applied to the serving path): the per-(custkey, cand)
    // sum is unaffected by which groups are later dropped, so the
    // anti-join moves from the raw scored fan-out to the partially
    // aggregated group frame — one shuffle of groups, not of every
    // scored row
    owned.select(col("custkey"), col("item").as("src"))
      .join(simBoth, "src")
      .groupBy(col("custkey"), col("cand"))
      .agg(sum(col("cos")).as("score_d"), count(lit(1)).as("n_src"))
      .join(owned.select(col("custkey"), col("item").as("cand")),
        Seq("custkey", "cand"), "left_anti")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topN)
      .select(col("custkey"), col("cand").as("partkey"),
        col("score_d").cast("double").as("score"), col("n_src"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("custkey"), col("rnk"))
  }

  /** Leave-last-out evaluation of the [[itemKnnRecommend]] recommender —
    * the harness that closes the CF loop the serving table opened (the
    * [[graft.operators.AnnOps]] recall@k discipline, applied to
    * baskets): for every customer with ≥ 2 orders, their LAST order
    * (o_orderdate DESC, o_orderkey DESC — deterministic) is held out
    * and its smallest partkey becomes the relevance target; the
    * similarity model is retrained on the REMAINING orders only (a
    * model trained on all orders has seen the answer — the
    * held-out-split no-leakage discipline), each eval customer is
    * scored exactly as the recommender scores, and the readout is
    * hit-rate@k plus MRR over ALL eval customers (a customer whose
    * training items yield no candidate list counts as a miss, never
    * silently dropped).
    *
    * Scale shape: identical to the serving path — dimension-sized
    * similarity frame, bounded per-basket pair fan-out, one item-keyed
    * scoring join, per-customer (key-partitioned) top-k window. The
    * train-slice basket rebuild deliberately bypasses the shared
    * basket artifact: leave-one-out similarity is eval-only state.
    * Each reciprocal rank is rounded once to 6 dp into decimal so the
    * MRR sum is order-free.
    *
    * `minPairSupport` gates pair co-occurrence support in the retrained
    * similarity model (it is NOT the eval-population order count — that
    * ≥2-orders threshold is structural: leave-LAST-out needs at least
    * one training order to remain).
    *
    * COST FLOOR (measured, reproducible with `graft.CfEvalProfile` at
    * `GRAFT_BENCH_THREADS=32`, sf0.1, warm rep): total ≈ 6.8 s =
    * train_slice 0.8 + retrain_sims 2.1 + held_out_eval_pop 0.8 +
    * owned_distinct 0.5 + score_rank_readout 1.7 (cold first rep ~3×
    * on code-gen + page cache). The serving path (`q_recommend`,
    * BenchOne local[32] median 2.8 s) pays ONLY the scoring pass; the
    * ~4 s delta is the leave-last-out RETRAIN (baskets → pair counts →
    * cosine on the train slice, which must bypass the shared basket
    * artifact) plus the held-out bookkeeping — the no-leakage semantics
    * itself. Every pass is already shaped: aggregate-before-anti-join,
    * adaptive broadcasts, persists on each multiply-consumed frame;
    * no structural work remains at this SF. */
  def cfHitRate(spark: SparkSession, dir: String,
                minPairSupport: Long = 2, k: Int = 5): DataFrame =
    cfHitRate(spark, dir, minPairSupport, k, None)

  /** [[cfHitRate]] with an optional pass-by-pass timing sink
    * (`graft.CfEvalProfile` drives it): when `timings` is given, each
    * internal stage is force-materialized in order and its wall time
    * appended — zero overhead in the None path (the stages materialize
    * exactly as before, lazily through their consumers). */
  private[graft] def cfHitRate(spark: SparkSession, dir: String,
                minPairSupport: Long, k: Int,
                timings: Option[scala.collection.mutable.Buffer[(String, Double)]])
      : DataFrame = {
    def timed[A](name: String)(body: => A): A = timings match {
      case None => body
      case Some(buf) =>
        val t0 = System.nanoTime()
        val r = body
        buf += name -> (System.nanoTime() - t0) / 1e9
        r
    }
    val d6 = DecimalType(18, 6)
    val wC = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val ranked = Lake.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .withColumn("rn", row_number().over(wC))
      .withColumn("n_ord",
        count(lit(1)).over(Window.partitionBy(col("o_custkey"))))
    val held = ranked.filter(col("rn") === 1 && col("n_ord") >= 2)
      .select(col("o_custkey").as("custkey"),
        col("o_orderkey").as("held_ok"))
    val li = Lake.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    val heldItem = li.join(held, col("l_orderkey") === col("held_ok"))
      .groupBy(col("custkey")).agg(min(col("l_partkey")).as("held_item"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trainOrds = ranked.filter(!(col("rn") === 1 && col("n_ord") >= 2))
      .select(col("o_orderkey"), col("o_custkey"))
    val tli = li.join(trainOrds, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_orderkey"),
        col("l_partkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val baskets = tli.groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("items"))
    // itemN feeds TWO broadcasts and sims feeds BOTH halves of the
    // symmetric union: unpersisted, the basket/pair pipeline re-executed
    // once per consumer (r11's 6.8 s → 64 s local[32] regression — the
    // recomputation multiplied the shuffle-spill pressure). Both frames
    // are dimension-sized, so the persists are cheap.
    val itemN = baskets.select(explode(col("items")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sims = basketPairCounts(baskets, minPairSupport)
      .join(broadcast(itemN.select(col("pk").as("part_a"),
        col("n_item").as("n_a"))), "part_a")
      .join(broadcast(itemN.select(col("pk").as("part_b"),
        col("n_item").as("n_b"))), "part_b")
      .select(col("part_a"), col("part_b"),
        round(col("n_ab") / sqrt(col("n_a") * col("n_b")), 6)
          .cast(d6).as("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val simBoth = sims
      .select(col("part_a").as("src"), col("part_b").as("cand"), col("cos"))
      .unionAll(sims
        .select(col("part_b").as("src"), col("part_a").as("cand"),
          col("cos")))
    // the pageRank adaptive rule, applied to the scoring join: the
    // similarity frame is DIMENSION-sized (support-gated co-occurring
    // part pairs) — when it fits the broadcast budget, ship it to the
    // owned-items side so the fan-out join never shuffles the fact
    // stream; beyond the cap, fall back to the shuffle join. The counts
    // double as eager materialization of the persisted frames.
    val maxBroadcastRows = 1L << 20
    // profile mode only: materialize the train slice on its own first,
    // so the sims timing below measures the pair+cosine retrain alone
    timings.foreach { _ => timed("train_slice") { tli.count() } }
    val nPairs = timed("retrain_sims") { sims.count() }
    val simBothJ =
      if (2 * nPairs <= maxBroadcastRows) broadcast(simBoth) else simBoth
    val nEval = timed("held_out_eval_pop") { heldItem.count() }
    val heldB =
      if (nEval <= maxBroadcastRows) broadcast(heldItem) else heldItem
    // owned is consumed twice (scoring src side + held-item-exempt
    // candidate exclusion) — persist the distinct once
    val owned = tli.select(col("custkey"), col("l_partkey").as("item"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    timings.foreach { _ => timed("owned_distinct") { owned.count() } }
    // candidate exclusion EXEMPTS the held item: a customer who already
    // bought the held-out part in a training order must still be able to
    // hit it, else the denominator counts structurally-impossible evals
    // (non-eval customers have no heldItem row → left join keeps all)
    val ownedExcl = owned.join(heldB, Seq("custkey"), "left")
      .filter(col("held_item").isNull || col("item") =!= col("held_item"))
      .select(col("custkey"), col("item"))
    val wK = Window.partitionBy(col("custkey"))
      .orderBy(col("score_d").desc, col("cand").asc)
    // aggregate FIRST, exclude owned candidates AFTER: the sum over
    // (custkey, cand) is unaffected by which groups are later dropped,
    // so the anti-join moves from the raw fan-out (where it shuffled
    // every scored row uncombined — the r12 9 s profile's spill site at
    // 32 threads) to the partially-aggregated group frame
    val top = owned.select(col("custkey"), col("item").as("src"))
      .join(simBothJ, "src")
      .groupBy(col("custkey"), col("cand"))
      .agg(sum(col("cos")).as("score_d"))
      .join(ownedExcl.select(col("custkey"), col("item").as("cand")),
        Seq("custkey", "cand"), "left_anti")
      .withColumn("rnk", row_number().over(wK))
      .filter(col("rnk") <= k)
    val hits = top.join(heldB,
      Seq("custkey")).filter(col("cand") === col("held_item"))
    val ne = spark.range(1).select(lit(nEval).as("n_eval"))
    val hs = hits.agg(count(lit(1)).as("n_hits"),
      coalesce(sum(round(lit(1.0) / col("rnk"), 6).cast(d6)),
        lit(java.math.BigDecimal.ZERO).cast(d6)).as("srr"))
    val readout = ne.crossJoin(broadcast(hs))
      // terminating quotients → exact integer half-up ([[ExactRound]]):
      // hit_rate is count/count; mrr is a 6-dp decimal sum over a count
      // read out at 4 dp, so the denominator carries the 10² rescale
      .withColumn("s6", (col("srr") * 1000000).cast("long"))
      .select(lit(k).as("k"), col("n_eval"), col("n_hits"),
        (ExactRound.halfUpPos("10000 * n_hits", "n_eval")
          .cast("double") / 1e4).as("hit_rate"),
        (ExactRound.halfUpPos("s6", "100 * n_eval")
          .cast("double") / 1e4).as("mrr"))
    val out = timed("score_rank_readout") { readout.localCheckpoint(true) }
    heldItem.unpersist(false)
    tli.unpersist(false)
    itemN.unpersist(false)
    sims.unpersist(false)
    owned.unpersist(false)
    out
  }

  /** Shared [[itemKnnRecommend]] serving table, read by the coverage and
    * novelty readouts: each rebuilt it inline, 250 s and 238 s at sf10,
    * within noise of the build itself. */
  def sharedRecs(spark: SparkSession, dir: String): DataFrame =
    ArtifactStore.shared(spark, dir, "recserve", Seq("lineitem", "orders")) {
      itemKnnRecommend(spark, dir)
    }

  /** Catalog coverage + popularity bias of the [[itemKnnRecommend]]
    * serving table — the two aggregate health checks every recommender
    * dashboard pairs with the per-user ranking eval ([[cfHitRate]]):
    * what share of the catalog ever gets recommended (a collapsed
    * head-only recommender is useless for discovery), and how much more
    * popular the recommended items are than the catalog average
    * (popularity bias — a ratio near the catalog mean means the
    * similarity normalization is doing its job). Popularity is the
    * per-item distinct-order count — deliberately NO global rank/ntile
    * over the part dimension (the abc/lorenz scale lesson); the
    * mean-popularity ratio carries the same signal as a mean
    * percentile without any dimension-wide sort.
    *
    * Shape: the serving table's own plan plus one dimension-sized
    * aggregate and one semi-join — nothing beyond the recommender's
    * existing cost. */
  def recCoverage(spark: SparkSession, dir: String): DataFrame = {
    // serving table via the shared artifact (one build per corpus
    // fingerprint) — rebuilding it inline cost 250 s of this readout's
    // 250 s at sf10
    val recItems = sharedRecs(spark, dir)
      .select(col("partkey")).distinct()
    val itemN = Lake.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_orderkey")).as("n_item"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cat = itemN.agg(count(lit(1)).as("catalog_size"),
      sum(col("n_item")).as("pop_cat"))
    val rec = itemN.join(recItems,
        col("l_partkey") === col("partkey"))
      .agg(count(lit(1)).as("n_rec_items"), sum(col("n_item")).as("pop_rec"))
    val out = cat.crossJoin(broadcast(rec))
      // count-ratio readouts → exact integer half-up ([[ExactRound]]);
      // popularity_bias = (pop_rec·catalog)/(n_rec·pop_cat) is a ratio
      // of integer products — same form, composite operands
      .select(col("catalog_size"), col("n_rec_items"),
        (ExactRound.halfUpPos("1000000 * n_rec_items", "catalog_size")
          .cast("double") / 1e6).as("coverage"),
        (ExactRound.halfUpPos("10000 * pop_rec", "n_rec_items")
          .cast("double") / 1e4).as("mean_pop_recommended"),
        (ExactRound.halfUpPos("10000 * pop_cat", "catalog_size")
          .cast("double") / 1e4).as("mean_pop_catalog"),
        (ExactRound.halfUpPos("10000 * pop_rec * catalog_size",
          "n_rec_items * pop_cat").cast("double") / 1e4)
          .as("popularity_bias"))
      .localCheckpoint(true)
    itemN.unpersist(false)
    out
  }

  /** Novelty/serendipity readout of the [[itemKnnRecommend]] serving
    * table — the third recommender health check beside hit-rate
    * ([[cfHitRate]]) and coverage ([[recCoverage]]): a recommender can
    * score well on both by pushing bestsellers; novelty = mean
    * self-information −log₂(pop_share) of the recommended items (higher
    * = less obvious) against the same readout for the catalog baseline.
    * Per-item popularity shares are exact integer ratios pinned at 8 dp
    * into decimal before the ln (the surprisal discipline); the two
    * −log₂ means are one ln-bearing double tree. Dimension-sized frames
    * throughout. */
  def recNovelty(spark: SparkSession, dir: String): DataFrame = {
    val d8 = DecimalType(18, 8)
    val itemN = Lake.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_orderkey")).as("n_item"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = itemN.agg(sum(col("n_item")).as("pop_tot"))
    val withP = itemN.crossJoin(broadcast(tot))
      .select(col("l_partkey"),
        (ExactRound.halfUpPos("100000000 * n_item", "pop_tot")
          .cast("double") / 1e8).cast(d8).as("p"))
    // shared serving-table artifact, as in [[recCoverage]] — the inline
    // rebuild was 238 s of this readout's 238 s at sf10
    val recs = sharedRecs(spark, dir)
      .select(col("partkey"))
      .join(withP, col("partkey") === col("l_partkey"))
    val recAgg = recs.agg(count(lit(1)).as("n_recs"),
      sum(round(-log(2.0, col("p").cast("double")), 8).cast(d8))
        .as("si_sum"))
    val catAgg = withP.agg(count(lit(1)).as("n_items"),
      sum(round(-log(2.0, col("p").cast("double")), 8).cast(d8))
        .as("cat_sum"))
    val out = recAgg.crossJoin(broadcast(catAgg))
      .withColumn("r8", (col("si_sum") * 100000000L).cast("long"))
      .withColumn("c8", (col("cat_sum") * 100000000L).cast("long"))
      .select(col("n_recs"), col("n_items").as("catalog_size"),
        (ExactRound.halfUpPos("r8", "10000 * n_recs")
          .cast("double") / 1e4).as("mean_novelty_rec"),
        (ExactRound.halfUpPos("c8", "10000 * n_items")
          .cast("double") / 1e4).as("mean_novelty_catalog"))
      .localCheckpoint(true)
    itemN.unpersist(false)
    out
  }

  /** Frequent 3-itemsets over the shared basket artifact: every ordered
    * triple (a < b < c) co-ordered at least `minOrders` times — the next
    * rung above pair mining for bundle/recommendation work. The fan-out
    * is C(k,3) per basket, cubic in basket size k — acceptable exactly
    * because baskets are small by nature (line items per order); for
    * heavy-tailed basket sizes, cap or sample big baskets first (the
    * hot-bucket discipline). Reads [[sharedBaskets]]: no fact
    * scan. */
  def frequentTriples(spark: SparkSession, dir: String,
                      minOrders: Long = 2, topK: Int = 20): DataFrame =
    sharedBaskets(spark, dir)
      .select(explode(expr(
        """flatten(flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items)), (y, j) ->
          |    transform(slice(items, i + j + 3, size(items)),
          |              z -> struct(x AS pa, y AS pb, z AS pc))))))""".stripMargin))
        .as("t"))
      .groupBy(col("t.pa").as("part_a"), col("t.pb").as("part_b"),
        col("t.pc").as("part_c"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= minOrders)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"), col("part_c"))
      .limit(topK)

  /** 2-D skyline (Pareto frontier) of parts: maximize `p_size`, minimize
    * `p_retailprice` — no other part is at least as large AND at least as
    * cheap with one strict. The naive formulation is a non-equi self-join
    * (quadratic); the scale shape reduces first: per-size minimum price
    * (bounded by the size NDV — ~50 values), frontier membership via a
    * running strict minimum over the DESC-size-ordered BOUNDED frame
    * (window over ≤NDV rows, not over parts), then one broadcast
    * semi-join labels the surviving parts. A part is on the skyline iff
    * its price equals its size's minimum AND no larger size reaches that
    * price — equal-(size, price) twins both survive (neither strictly
    * dominates). */
  def skylineParts(spark: SparkSession, dir: String): DataFrame = {
    val parts = Lake.part(spark, dir)
    val perSize = parts.groupBy(col("p_size"))
      .agg(min(m(col("p_retailprice"))).as("min_price"))
    // strict running min over larger sizes; NULL for the largest size
    val wLarger = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perSize
      .withColumn("best_larger", min(col("min_price")).over(wLarger))
      .filter(col("best_larger").isNull ||
        col("min_price") < col("best_larger"))
      .select(col("p_size"), col("min_price"))
    parts.join(broadcast(frontier),
        parts("p_size") === frontier("p_size") &&
          m(parts("p_retailprice")) === frontier("min_price"),
        "left_semi")
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        round(m(col("p_retailprice")).cast("double"), 2).as("price"))
      .orderBy(col("p_size").desc, col("p_partkey"))
  }

  /** ABC (Pareto 80/95) classification of parts by revenue: parts sorted
    * by revenue DESC, class A while the cumulative revenue share is
    * ≤ 80%, B to 95%, C for the tail; output is the 3-row class summary.
    * Revenue sums run in exact decimal, so the cumulative shares are
    * order-exact; the share division is the only double op.
    *
    * Scale note: the ranking window is over the part-AGGREGATED frame —
    * dimension-sized, orders of magnitude below the fact table. A
    * partition-less cumulative window on a dimension frame is the honest
    * shape (the alternative, range-partitioned prefix sums, buys nothing
    * until the dimension itself stops fitting a single task's sort). */
  def abcParts(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Lake.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(revenueTerm).as("rev"))
    // the grand total comes from an unpartitioned window over the SAME
    // aggregated frame — a separate .agg() subplan would re-execute the
    // fact scan + group-by a second time (the double-scan trap)
    val wCum = Window.orderBy(col("rev").desc, col("l_partkey"))
    val wAll = Window.partitionBy()
    perPart
      .withColumn("cum_share",
        sum(col("rev")).over(wCum).cast("double") /
          sum(col("rev")).over(wAll).cast("double"))
      .withColumn("abc_class",
        when(col("cum_share") <= 0.80, "A")
          .when(col("cum_share") <= 0.95, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("rev")).cast("double"), 2).as("class_revenue"))
      .orderBy(col("abc_class"))
  }

  /** Per-market-segment Gini coefficient of customer revenue — the
    * inequality / concentration diagnostic (how top-heavy is each
    * segment's spend). Closed form over ranked values:
    * G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i), x ascending, i = 1..n.
    * Revenue per customer is an exact decimal sum; the rank products stay
    * decimal (exact), so both engines feed the final division identical
    * integers. Ranking windows partition by segment — bounded fan-in per
    * partition at any scale (customers per segment, not fact rows). */
  def giniSegments(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Lake.orders(spark, dir)
      .join(Lake.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(m(col("o_totalprice"))).as("rev"))
    val wRank = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("rev"), col("c_custkey"))
    perCust
      .withColumn("i", row_number().over(wRank).cast("long"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev")).as("total_rev"),
        sum(col("rev") * col("i")).as("rank_weighted"))
      .select(col("c_mktsegment"), col("n_customers"),
        round(col("total_rev").cast("double"), 2).as("total_revenue"),
        round((lit(2) * col("rank_weighted").cast("double") -
            (col("n_customers") + lit(1)).cast("double") *
              col("total_rev").cast("double")) /
          (col("n_customers").cast("double") *
            col("total_rev").cast("double")), 6).as("gini"))
      .orderBy(col("c_mktsegment"))
  }

  /** Theil T inequality index of customer revenue with its EXACT
    * within/between decomposition by market segment — the inequality
    * diagnostic [[giniSegments]] can't give: T = Σ_g s_g·T_g + Σ_g
    * s_g·ln(μ_g/μ) splits total inequality into inside-segment spread
    * and between-segment mean gaps (Gini has no such additive split),
    * with s_g the segment's REVENUE share and T_g = (1/n_g)Σ(x/μ_g)ln(x/μ_g).
    *
    * Shape: per-customer revenue (decimal-exact) → 5-row segment
    * aggregate broadcast back for the per-customer ln terms → per-segment
    * 6-rounded decimal sums; NO global window ever touches the
    * customer-sized frame (the [[abcParts]] lesson) — table-wide sums run
    * over the bounded segment frame. The terminating quotient T_g = S_g/n_g
    * rounds by exact integer half-up ((2S+n) div 2n — a .5 tie is
    * reachable when a 6-decimal sum divides a count); the ln-bearing
    * terms round as doubles where ties have measure zero. */
  def theilIndex(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Lake.orders(spark, dir)
      .join(broadcast(Lake.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(m(col("o_totalprice"))).as("rev"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seg = perCust.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_g"), sum(col("rev")).as("r_g"))
    val wAll = Window.partitionBy()
    // global mean from the BOUNDED segment frame (exact decimal / long)
    val segTot = seg
      .withColumn("n", sum(col("n_g")).over(wAll))
      .withColumn("r", sum(col("r_g")).over(wAll))
      .withColumn("mu_g", col("r_g").cast("double") / col("n_g"))
      .withColumn("mu", col("r").cast("double") / col("n"))
    val withinSums = perCust
      .join(broadcast(segTot.select(col("c_mktsegment"), col("mu_g"))),
        Seq("c_mktsegment"))
      .withColumn("xr", col("rev").cast("double") / col("mu_g"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(round(col("xr") * log(col("xr")), 6)
        .cast("decimal(18,6)")).as("s_g"))
    val out = segTot.join(withinSums, Seq("c_mktsegment"))
      // s_g is ≥ 0 only in exact arithmetic (Σ (x/μ)ln(x/μ) over a
      // group); per-term 6-dp rounding can tip a near-uniform segment
      // slightly negative, where Spark div (truncate toward zero) and
      // DuckDB // (floor) diverge — clamp the numerator at 0
      .withColumn("s6",
        greatest((col("s_g") * lit(1000000)).cast("long"), lit(0L)))
      .withColumn("theil_g",
        expr("(2 * s6 + n_g) div (2 * n_g)").cast("double") / 1000000.0)
      .withColumn("share", col("r_g").cast("double") / col("r").cast("double"))
      .withColumn("between_g", col("share") * log(col("mu_g") / col("mu")))
      .withColumn("t_within",
        sum(round(col("share") * col("theil_g"), 6).cast("decimal(18,6)"))
          .over(wAll))
      .withColumn("t_between",
        sum(round(col("between_g"), 6).cast("decimal(18,6)")).over(wAll))
      .select(col("c_mktsegment"), col("n_g").as("n_customers"),
        round(col("share"), 6).as("rev_share"),
        col("theil_g").as("theil_within_g"),
        round(col("between_g"), 6).as("between_term"),
        col("t_within").cast("double").as("t_within"),
        col("t_between").cast("double").as("t_between"),
        (col("t_within") + col("t_between")).cast("double").as("t_total"))
      .orderBy(col("c_mktsegment"))
      .localCheckpoint(true)
    perCust.unpersist(false)
    out
  }

  /** Quantile-based robust moments of order value per market segment —
    * Bowley skewness (Q₃−2Q₂+Q₁)/(Q₃−Q₁) and Moors kurtosis
    * ((E₇−E₅)+(E₃−E₁))/(E₆−E₂) from the octiles: outlier-immune shape
    * diagnostics where classical √b₁/b₂ moments explode on heavy-tailed
    * money columns (one mega-order saturates a 4th power). One grouped
    * percentile aggregate (array of 7 octile probabilities — ONE buffer
    * per segment); octile probabilities are exact dyadic doubles, so the
    * interpolation weights are exact in both engines (the proven
    * [[CatalogOps.quantiles]] parity); the two ratios round as doubles
    * where ties have measure zero. Bounded segment frame. */
  def robustMoments(spark: SparkSession, dir: String): DataFrame =
    Lake.orders(spark, dir)
      .join(broadcast(Lake.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice").cast("double").as("v"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(v, array(0.125D, 0.25D, 0.375D, 0.5D, " +
          "0.625D, 0.75D, 0.875D))").as("e"))
      .select(col("c_mktsegment"), col("n"),
        round(element_at(col("e"), 2), 4).as("q1"),
        round(element_at(col("e"), 4), 4).as("median"),
        round(element_at(col("e"), 6), 4).as("q3"),
        round((element_at(col("e"), 6) - lit(2.0) * element_at(col("e"), 4) +
          element_at(col("e"), 2)) /
          (element_at(col("e"), 6) - element_at(col("e"), 2)), 6)
          .as("bowley_skew"),
        round(((element_at(col("e"), 7) - element_at(col("e"), 5)) +
          (element_at(col("e"), 3) - element_at(col("e"), 1))) /
          (element_at(col("e"), 6) - element_at(col("e"), 2)), 6)
          .as("moors_kurtosis"))
      .orderBy(col("c_mktsegment"))

  /** Hill tail-index estimator over customer revenue — the heavy-tail
    * diagnostic behind every "top customers" readout ([[giniSegments]]
    * says HOW unequal; α̂ says what LAW the tail follows, and whether
    * means/variances of the tail even exist — α ≤ 2 means undefined
    * variance): α̂ = k / Σᵢ ln(xᵢ/x₍ₖ₊₁₎) over the k largest values with
    * the (k+1)-th as threshold. The top-(k+1) head is a
    * TakeOrderedAndProject on a TOTAL order (exact decimal revenue,
    * custkey) so the selection is engine-identical; values tied with the
    * threshold drop by an exact decimal compare (k_used reports the
    * survivors); ln terms 6-round into decimal and the terminating
    * quotient k/S rounds by exact integer half-up. Everything after the
    * head is a ≤(k+1)-row bounded frame. */
  def hillTailIndex(spark: SparkSession, dir: String,
                    k: Int = 100): DataFrame = {
    val d6 = DecimalType(18, 6)
    val top = Lake.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(m(col("o_totalprice"))).as("rev"))
      .orderBy(col("rev").desc, col("o_custkey"))
      .limit(k + 1)
    val wAll = Window.partitionBy()
    top
      .withColumn("x_ref", min(col("rev")).over(wAll))
      .filter(col("rev") > col("x_ref"))
      .select(col("x_ref"),
        round(log(col("rev").cast("double") / col("x_ref").cast("double")),
          6).cast(d6).as("t"))
      .groupBy(col("x_ref"))
      .agg(count(lit(1)).as("k_used"), sum(col("t")).as("s"))
      .withColumn("__s6", (col("s") * lit(1000000)).cast("long"))
      .select(col("k_used"), col("x_ref").cast("double").as("x_k1"),
        (expr("(2 * k_used * 1000000000000 + __s6) div (2 * __s6)")
          .cast("double") / 1000000.0).as("hill_alpha"))
  }

  /** Laspeyres / Paasche / Fisher price-index panel between two ship
    * years — the classic inflation readout over the order book (how much
    * more does the SAME basket cost?): unit prices are the year's
    * quantity-weighted means p_y = Σprice/Σqty per part, the indices
    * weight price relatives by base-year (Laspeyres) and current-year
    * (Paasche) quantities over parts traded in BOTH years, and Fisher is
    * their geometric mean. Σprice/Σqty stay exact decimals per (part,
    * year); the four p·q cross terms are doubles 6-rounded into decimal
    * so the index numerators/denominators are order-free sums; each
    * index is one final double divide. One fact scan → part-bounded
    * frames. */
  def priceIndex(spark: SparkSession, dir: String,
                 baseYr: Int = 1996, curYr: Int = 1997): DataFrame = {
    val d6 = DecimalType(18, 6)
    val li = Lake.lineitem(spark, dir)
      .filter(year(col("l_shipdate")).isin(baseYr, curYr))
      .select(year(col("l_shipdate")).as("yr"), col("l_partkey"),
        m(col("l_extendedprice")).as("sp"), m(col("l_quantity")).as("sq"))
      .groupBy(col("yr"), col("l_partkey"))
      .agg(sum(col("sp")).as("sp"), sum(col("sq")).as("sq"))
    val base = li.filter(col("yr") === baseYr)
      .select(col("l_partkey"), col("sp").as("sp0"), col("sq").as("sq0"))
    val cur = li.filter(col("yr") === curYr)
      .select(col("l_partkey"), col("sp").as("sp1"), col("sq").as("sq1"))
    val p0 = col("sp0").cast("double") / col("sq0").cast("double")
    val p1 = col("sp1").cast("double") / col("sq1").cast("double")
    base.join(cur, Seq("l_partkey"))
      .select(
        round(p1 * col("sq0").cast("double"), 6).cast(d6).as("l_num"),
        round(p0 * col("sq0").cast("double"), 6).cast(d6).as("l_den"),
        round(p1 * col("sq1").cast("double"), 6).cast(d6).as("p_num"),
        round(p0 * col("sq1").cast("double"), 6).cast(d6).as("p_den"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("l_num")).as("ln"), sum(col("l_den")).as("ld"),
        sum(col("p_num")).as("pn"), sum(col("p_den")).as("pd"))
      .withColumn("laspeyres",
        col("ln").cast("double") / col("ld").cast("double"))
      .withColumn("paasche",
        col("pn").cast("double") / col("pd").cast("double"))
      .select(col("n_parts"),
        round(col("laspeyres"), 6).as("laspeyres"),
        round(col("paasche"), 6).as("paasche"),
        round(sqrt(col("laspeyres") * col("paasche")), 6).as("fisher"))
  }

  /** Truncated rank-biased overlap (RBO@d) between two top-d part
    * rankings — the LIST-similarity readout (how much did the
    * best-sellers list actually change year over year?) that top-K
    * diffing can't give: RBO weights agreement at depth k by p^(k−1)
    * geometrically, so churn at rank 3 matters more than churn at rank
    * 47. Per Webber et al.'s truncated form: RBO@d = (1−p)·Σ_{k≤d}
    * p^(k−1)·|A_k∩B_k|/k. Emits the full depth profile (overlap X_k,
    * agreement X_k/k, cumulative rbo_k) — row d is the headline number.
    *
    * Determinism: both rankings order by (exact decimal revenue DESC,
    * partkey) — a total order, so the top-d SELECTION is identical in
    * both engines (a LIMIT over a double key is where engines split);
    * the agreement ratios X_k/k terminate within 6 dp for every k ≤ 50
    * (denominators 2^a·5^b ≤ 50 need ≤ 6 digits; the rest repeat and
    * never tie), and the p^(k−1) terms round to 8 dp into decimal before
    * the cumulative sum. Shape: two TakeOrderedAndProject heads (never a
    * global rank window over the part frame), then all joins on ≤ d-row
    * broadcast frames. */
  def rboParts(spark: SparkSession, dir: String,
               depth: Int = 50, p: Double = 0.9): DataFrame = {
    val li = Lake.lineitem(spark, dir)
    def top(yr: Int, rankCol: String): DataFrame = {
      val byPart = li.filter(year(col("l_shipdate")) === yr)
        .groupBy(col("l_partkey"))
        .agg(sum(revenueTerm).as("rev"))
        .orderBy(col("rev").desc, col("l_partkey"))
        .limit(depth)
      // rank within the ≤ depth-row head — a bounded-frame window
      byPart.withColumn(rankCol,
        row_number().over(Window.orderBy(col("rev").desc, col("l_partkey")))
          .cast("long"))
        .select(col("l_partkey"), col(rankCol))
    }
    val matched = top(1996, "ra").join(top(1997, "rb"), Seq("l_partkey"))
      .select(greatest(col("ra"), col("rb")).as("depth_in"))
    val ks = spark.range(1, depth + 1).select(col("id").as("k"))
    val xk = ks.join(broadcast(matched), col("depth_in") <= col("k"), "left")
      .groupBy(col("k")).agg(count(col("depth_in")).as("x_k"))
    val wCum = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    xk
      .withColumn("term",
        round(pow(lit(p), col("k") - 1) * col("x_k") / col("k"), 8)
          .cast(DecimalType(18, 8)))
      .withColumn("cum", sum(col("term")).over(wCum))
      .select(col("k"), col("x_k"),
        (expr("(2 * x_k * 1000000 + k) div (2 * k)").cast("double") /
          1000000.0).as("agreement"),
        round((lit(1.0) - lit(p)) * col("cum").cast("double"), 6)
          .as("rbo_k"))
      .orderBy(col("k"))
  }

  /** Trimmed and winsorized means of order value per market segment —
    * the robust-location pair beside the raw mean: TRIMMED drops values
    * outside the exact [p05, p95] fences, WINSORIZED clamps them to the
    * fences. One grouped percentile aggregate (bounded segments) whose
    * fences round to 4 dp (the percentile-agreement scale) and broadcast
    * back; sums stay decimal-exact; means round at 6 (one double
    * division each). */
  def trimmedMeans(spark: SparkSession, dir: String): DataFrame = {
    val base = Lake.orders(spark, dir)
      .join(broadcast(Lake.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), m(col("o_totalprice")).as("y"))
    val fences = base.groupBy(col("c_mktsegment"))
      .agg(round(expr("percentile(y, 0.05D)"), 4).as("lo"),
        round(expr("percentile(y, 0.95D)"), 4).as("hi"))
    // winsorized sum = trim_sum + lo·n_below + hi·n_above: exact decimal
    // interior + two double products — never a double→decimal cast of a
    // fence value (whose half-cent boundary rounds differently across
    // engines)
    base
      .join(broadcast(fences), Seq("c_mktsegment"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("y") >= col("lo") && col("y") <= col("hi"), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col("y") >= col("lo") && col("y") <= col("hi"), col("y")))
          .as("trim_sum"),
        sum(when(col("y") < col("lo"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("y") > col("hi"), 1L).otherwise(0L)).as("n_above"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"))
      // both means are terminating quotients → exact integer half-up
      // ([[ExactRound]]): the fences are 4-dp values, so the winsorized
      // numerator is an exact scale-4 integer t2·100 + l4·n_below +
      // h4·n_above (never a double product)
      .withColumn("t2", (col("trim_sum") * 100).cast("long"))
      .withColumn("l4", round(col("lo") * 10000).cast("long"))
      .withColumn("h4", round(col("hi") * 10000).cast("long"))
      .select(col("c_mktsegment"), col("n_orders"), col("n_kept"),
        (ExactRound.halfUpPos("10000 * t2", "n_kept")
          .cast("double") / 1e6).as("trimmed_mean"),
        (ExactRound.halfUpPos(
          "100 * (100 * t2 + l4 * n_below + h4 * n_above)", "n_orders")
          .cast("double") / 1e6).as("winsorized_mean"))
      .orderBy(col("c_mktsegment"))
  }

  /** Lorenz curve of customer revenue (decile points) — the curve the
    * Gini coefficient integrates: cumulative revenue share of the
    * bottom k deciles of customers. Deciles come from an exact ntile
    * over the bounded customer frame (the quantileBins trade-off: a
    * serial sort of entity-universe size, exact and engine-reproducible
    * — the fence-based parallel form swaps in at extreme scale); the
    * cumulative window then runs over ten rows. Exact decimal revenue
    * throughout, one double division per point. */
  def lorenzCurve(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Lake.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(m(col("o_totalprice"))).as("rev"))
    val wTile = Window.orderBy(col("rev"), col("o_custkey"))
    val wCum = Window.orderBy(col("decile"))
    perCust
      .withColumn("decile", ntile(10).over(wTile))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("dec_rev"))
      .withColumn("cum_rev", sum(col("dec_rev")).over(wCum))
      .withColumn("total_rev", sum(col("dec_rev")).over(Window.partitionBy()))
      .select(col("decile"), col("n_customers"),
        round(col("dec_rev").cast("double"), 2).as("decile_revenue"),
        round(col("cum_rev").cast("double") /
          col("total_rev").cast("double"), 6).as("cum_share"))
      .orderBy(col("decile"))
  }

  /** ABC classification, the PARALLEL twin of [[abcParts]]: identical
    * output with no single-partition stage. The global (rev DESC,
    * partkey) cumulative is decomposed by VALUE-RANGE buckets — revenue
    * cut points from one percentile aggregate split parts into disjoint
    * revenue ranges. Bucketing by value is order-preserving (a tie can
    * never straddle a bucket), so per-bucket exact prefix sums — a
    * bounded nBuckets-row collect, broadcast back as a literal CASE
    * chain — plus a window PARTITIONED by bucket (fan-in ≈ n/nBuckets
    * per task) reconstruct the exact global cumulative. All decimal
    * arithmetic is the same as the serial form's, so the result (and
    * the oracle) is bit-identical; [[abcParts]] stays registered as the
    * oracle-parity twin, this form is the 100 TB path. */
  def abcPartsPar(spark: SparkSession, dir: String,
                  nBuckets: Int = 32): DataFrame = {
    val perPart = Lake.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(revenueTerm).as("rev"))
      .localCheckpoint(true) // one fact scan feeds all three jobs below
    val probs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val probsSql = probs.map(_ + "D").mkString(",")
    // cut exactness is irrelevant to correctness (any monotone split
    // works — cuts only balance the buckets), so no rounding discipline
    val cuts: Seq[Double] = perPart
      .agg(expr(s"percentile(rev, array($probsSql))").as("cuts"))
      .head().getSeq[Double](0).distinct
    val bucket = cuts.foldLeft(lit(1)) { (acc, c) =>
      acc + when(col("rev").cast("double") > lit(c), 1).otherwise(0)
    }
    val bucketed = perPart.withColumn("b", bucket)
    // bounded: nBuckets rows of exact decimal sums → driver prefix sums
    val bucketSums = bucketed.groupBy(col("b"))
      .agg(sum(col("rev")).as("s")).collect()
      .map(r => (r.getInt(0), r.getDecimal(1))).sortBy(-_._1)
    val zero = java.math.BigDecimal.ZERO
    // bucket -> Σ rev over strictly-higher buckets (exact decimal)
    var runAbove = zero
    val prefixAbove = bucketSums.map { case (b, s) =>
      val p = b -> runAbove; runAbove = runAbove.add(s); p
    }.toMap
    val total = runAbove
    val prefixExpr = prefixAbove.foldLeft(lit(zero)) {
      case (acc, (b, pfx)) => when(col("b") === b, lit(pfx)).otherwise(acc)
    }
    val wIn = Window.partitionBy(col("b"))
      .orderBy(col("rev").desc, col("l_partkey"))
    bucketed
      .withColumn("cum_share",
        (prefixExpr + sum(col("rev")).over(wIn)).cast("double") /
          lit(total).cast("double"))
      .withColumn("abc_class",
        when(col("cum_share") <= 0.80, "A")
          .when(col("cum_share") <= 0.95, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("rev")).cast("double"), 2).as("class_revenue"))
      .orderBy(col("abc_class"))
  }

  /** Lorenz decile points, the PARALLEL twin of [[lorenzCurve]]:
    * identical output with no single-partition ntile. Global rank in
    * (rev, custkey) order is reconstructed as bucket-prefix COUNT (the
    * bounded collect, as [[abcPartsPar]]) + a bucket-partitioned
    * row_number; the driver replays ntile's arithmetic (first n%10
    * tiles get one extra row) as literal rank fences. The 10-row decile
    * frame then cumulates through a broadcast triangular self-join —
    * no window at all downstream of the partitioned ranking, and the
    * grand total rides along from the same bounded collect. */
  def lorenzCurvePar(spark: SparkSession, dir: String,
                     nBuckets: Int = 32): DataFrame = {
    val perCust = Lake.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(m(col("o_totalprice"))).as("rev"))
      .localCheckpoint(true)
    val probs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val probsSql = probs.map(_ + "D").mkString(",")
    val cuts: Seq[Double] = perCust
      .agg(expr(s"percentile(rev, array($probsSql))").as("cuts"))
      .head().getSeq[Double](0).distinct
    val bucket = cuts.foldLeft(lit(1)) { (acc, c) =>
      acc + when(col("rev").cast("double") > lit(c), 1).otherwise(0)
    }
    val bucketed = perCust.withColumn("b", bucket)
    // one bounded collect: per-bucket counts (→ rank prefixes) AND sums
    // (→ the grand total), nBuckets rows
    val stats = bucketed.groupBy(col("b"))
      .agg(count(lit(1)).as("n"), sum(col("rev")).as("s")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDecimal(2))).sortBy(_._1)
    val n = stats.map(_._2).sum
    val total = stats.map(_._3)
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
    // bucket -> count of customers in strictly-lower buckets
    var runBelow = 0L
    val prefixBelow = stats.map { case (b, cnt, _) =>
      val p = b -> runBelow; runBelow += cnt; p
    }.toMap
    val prefixExpr = prefixBelow.foldLeft(lit(0L)) {
      case (acc, (b, pfx)) => when(col("b") === b, lit(pfx)).otherwise(acc)
    }
    // ntile(10) fences: end rank of tile t (first n%10 tiles one larger)
    val base = n / 10; val rem = n % 10
    val tileEnd = (1 to 9).map { t =>
      if (t <= rem) t * (base + 1) else rem * (base + 1) + (t - rem) * base
    }
    val wIn = Window.partitionBy(col("b"))
      .orderBy(col("rev"), col("o_custkey"))
    val decile = tileEnd.foldLeft(lit(1)) { (acc, end) =>
      acc + when(col("rank") > lit(end), 1).otherwise(0)
    }
    val g = bucketed
      .withColumn("rank", prefixExpr + row_number().over(wIn).cast("long"))
      .withColumn("decile", decile)
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("dec_rev"))
      .localCheckpoint(true) // 10 rows; feeds both sides of the triangle
    val r = g.select(col("decile").as("d2"), col("dec_rev").as("r2"))
    g.join(broadcast(r), col("d2") <= col("decile"))
      .groupBy(col("decile"), col("n_customers"), col("dec_rev"))
      .agg(sum(col("r2")).as("cum_rev"))
      .select(col("decile"), col("n_customers"),
        round(col("dec_rev").cast("double"), 2).as("decile_revenue"),
        round(col("cum_rev").cast("double") /
          lit(total).cast("double"), 6).as("cum_share"))
      .orderBy(col("decile"))
  }

  /** m-estimate target encoding of a categorical against order value —
    * the leakage-averse categorical-feature transform: each segment's
    * encoding is its target mean shrunk toward the global mean,
    * (Σy + m·ȳ)/(n + m), so rare categories don't memorize their few
    * rows. ONE fact pass to the bounded segment frame; the global mean
    * comes from a window total over that frame — never a second scan.
    * Sums stay decimal-exact; the two divisions and the blend are one
    * deterministic scalar tree per segment row. */
  def targetEncoding(spark: SparkSession, dir: String,
                     smoothing: Double = 10.0): DataFrame = {
    val w = Window.partitionBy()
    Lake.orders(spark, dir)
      .join(broadcast(Lake.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(m(col("o_totalprice"))).as("seg_sum"))
      .withColumn("g_sum", sum(col("seg_sum")).over(w))
      .withColumn("g_n", sum(col("n_orders")).over(w))
      // both readouts are terminating quotients → exact integer half-up
      // ([[ExactRound]]). encoded clears its g_mean = g_sum/g_n divide
      // by multiplying through by g_n: (S2·g_n·100 + M2·G2) /
      // (g_n·(100·n + M2)) with the smoothing at scale 2 — the
      // numerator exceeds int64, so the staged operands are
      // decimal(38,0) (Spark div accepts decimals; DuckDB mirrors with
      // HUGEINT).
      .withColumn("s2", (col("seg_sum") * 100).cast("long"))
      .withColumn("g2", (col("g_sum") * 100).cast("long"))
      .withColumn("m2", lit(math.round(smoothing * 100)))
      .withColumn("enc_num",
        ((col("s2").cast(DecimalType(38, 0)) * col("g_n") * 100 +
          col("m2") * col("g2")) * 10000).cast(DecimalType(38, 0)))
      .withColumn("enc_den",
        (col("g_n").cast(DecimalType(38, 0)) *
          (col("n_orders") * 100 + col("m2"))).cast(DecimalType(38, 0)))
      .select(col("c_mktsegment"), col("n_orders"),
        (ExactRound.halfUpPos("10000 * s2", "n_orders")
          .cast("double") / 1e6).as("raw_mean"),
        (ExactRound.halfUpPos("enc_num", "enc_den")
          .cast("double") / 1e6).as("encoded"))
      .orderBy(col("c_mktsegment"))
  }

  /** Order-to-ship lag distribution per order priority — the
    * fulfillment-SLA dashboard over the TPC-H shape: per priority, the
    * p50/p90/p99 of days from order to line shipment plus the late
    * (> 60 d) share. One fact⋈fact join on the order key, bounded
    * priority groups; exact `percentile` with the standing
    * `approx_percentile` swap at 100 TB. */
  def shipLag(spark: SparkSession, dir: String): DataFrame =
    Lake.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Lake.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag_days"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        expr("percentile(lag_days, array(0.5D, 0.9D, 0.99D))").as("q"),
        sum(when(col("lag_days") > 60, 1L).otherwise(0L)).as("n_late"))
      .select(col("o_orderpriority"), col("n_lines"),
        round(col("q").getItem(0), 4).as("p50"),
        round(col("q").getItem(1), 4).as("p90"),
        round(col("q").getItem(2), 4).as("p99"),
        // count/count → exact integer half-up ([[ExactRound]])
        (ExactRound.halfUpPos("10000 * n_late", "n_lines")
          .cast("double") / 1e4).as("late_share"))
      .orderBy(col("o_orderpriority"))

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic CRM cut: each customer scored 1–5 per dimension against the
    * corpus-wide quintile fences, reported as segment-code cells
    * (e.g. "5-4-5") with size and exact average spend.
    *
    * Scale shape: ONE orders scan → per-customer aggregate (persisted —
    * it feeds the corpus-end probe, the fence aggregate, and the scoring
    * pass). Quintile fences come from a single exact-`percentile`
    * aggregate over the bounded customer frame (the quantileBinsApprox
    * discipline: fences rounded to 4 dp — the scale at which Spark
    * `percentile` and DuckDB `quantile_cont` agree — then broadcast as
    * one row; NO global ntile sort, so scoring is map-side and fully
    * parallel; swap `percentile` for `approx_percentile` at 100 TB, same
    * plan). Score = 1 + fences strictly below the value; ties land low
    * on both engines. Recency is inverted (recent = 5). */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val cust = Lake.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(m(col("o_totalprice"))).as("monetary"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val end = cust.agg(max(col("last_order")).as("corpus_end"))
    val rfm = cust.crossJoin(broadcast(end))
      .select(col("o_custkey"),
        datediff(col("corpus_end"), col("last_order")).cast("long")
          .as("recency"),
        col("freq"), col("monetary"),
        col("monetary").cast("double").as("money"))
    val fences = rfm.agg(
      expr("percentile(recency, array(0.2D, 0.4D, 0.6D, 0.8D))").as("rq"),
      expr("percentile(freq, array(0.2D, 0.4D, 0.6D, 0.8D))").as("fq"),
      expr("percentile(money, array(0.2D, 0.4D, 0.6D, 0.8D))").as("mq"))
    def score(v: Column, fencesCol: String): Column =
      (lit(1) + (0 until 4).map(i =>
        when(v > round(col(fencesCol).getItem(i), 4), 1).otherwise(0))
        .reduce(_ + _)).cast("int")
    val out = rfm.crossJoin(broadcast(fences))
      .select(col("o_custkey"), col("monetary"),
        (lit(6) - score(col("recency").cast("double"), "rq")).as("r_score"),
        score(col("freq").cast("double"), "fq").as("f_score"),
        score(col("money"), "mq").as("m_score"))
      .groupBy(concat_ws("-", col("r_score"), col("f_score"), col("m_score"))
        .as("segment"))
      // total (exact decimal), never an average: avg = sum/n lands on
      // half-cent boundaries where Spark (decimal-repr HALF_UP) and
      // DuckDB (binary) round differently — measured, not hypothetical
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("monetary")).cast("double"), 2).as("total_monetary"))
      .orderBy(col("segment"))
      .localCheckpoint(true)
    cust.unpersist(false)
    out
  }

  /** Cox proportional-hazards churn readout — the semi-parametric twin
    * of the Kaplan-Meier curve ([[graft.operators.EventOps.survivalCurve]])
    * and log-rank test: score U(0), information I(0), and the one-step
    * Newton estimate β̂ = U/I for the effect of account balance on the
    * churn hazard. Subject = customer; duration = days between first
    * and last order; event = the last order predates the corpus
    * horizon by more than `horizonDays` (otherwise censored — still
    * active at the edge of observation). Breslow risk sets: every
    * customer with duration ≥ t.
    *
    * Exactness: x = acctbal in decimal(18,2) (x² exact in
    * decimal(18,4)), so per-duration Gram sums and their cumulative
    * risk-set sums are exact decimals; each event-time's score and
    * information term is computed once in double and rounded to 8 dp
    * into decimal, so the final sums are order-free and the DuckDB
    * oracle replays bit-identically.
    *
    * Scale: one orders scan → customer-keyed reduce; the risk-set
    * cumulative runs on the per-DURATION frame, whose size is bounded
    * by the calendar span in days (≤ a few thousand rows at ANY data
    * scale), so the unpartitioned window is a bounded-frame operation,
    * not a data-sized sort. */
  def coxChurn(spark: SparkSession, dir: String,
               horizonDays: Int = 90): DataFrame = {
    val d4 = DecimalType(18, 4)
    // (28,8), not (18,8): the per-duration information term d·Var(x)
    // crossed 10 integer digits at sf10 (1.1e10 — the decade sweep's
    // catch, same class as the sf1 crossings); 20 integer digits buys
    // the next three decades. Oracle stages DECIMAL(28,8) identically.
    val d8 = DecimalType(28, 8)
    val perCust = Lake.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(min(to_date(col("o_orderdate"))).as("first_d"),
        max(to_date(col("o_orderdate"))).as("last_d"))
    val maxD = Lake.orders(spark, dir)
      .agg(max(to_date(col("o_orderdate"))).as("max_d"))
    val base = perCust
      .join(Lake.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .crossJoin(broadcast(maxD))
      .select(
        datediff(col("last_d"), col("first_d")).cast("long").as("dur"),
        when(col("last_d") < date_sub(col("max_d"), horizonDays), 1L)
          .otherwise(0L).as("ev"),
        m(col("c_acctbal")).as("x"))
    val perDur = base.groupBy(col("dur")).agg(
      count(lit(1)).as("n_d"),
      sum(col("x")).as("s1_d"),
      sum((col("x") * col("x")).cast(d4)).as("s2_d"),
      sum(col("ev")).as("d_d"),
      sum(when(col("ev") === 1L, col("x"))
        .otherwise(lit(java.math.BigDecimal.ZERO).cast(dec2))).as("s1e_d"))
    // bounded frame: one row per distinct duration (≤ calendar days)
    val wDesc = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = perDur
      .withColumn("nr", sum(col("n_d")).over(wDesc))
      .withColumn("rs1", sum(col("s1_d")).over(wDesc))
      .withColumn("rs2", sum(col("s2_d")).over(wDesc))
    val ratio1 = col("rs1").cast("double") / col("nr")
    val terms = risk.filter(col("d_d") > 0)
      .select(col("d_d"),
        round(col("s1e_d").cast("double")
          - col("d_d") * col("rs1").cast("double") / col("nr"), 8)
          .cast(d8).as("u_t"),
        round(col("d_d") * (col("rs2").cast("double") / col("nr")
          - ratio1 * ratio1), 8).cast(d8).as("i_t"))
    val tot = base.agg(count(lit(1)).as("n_customers"))
    val agg = terms.agg(sum(col("d_d")).as("n_events"),
      sum(col("u_t")).as("u"), sum(col("i_t")).as("i"))
    // beta_1step = u/i is a ratio of scale-8 decimal sums (terminating)
    // → signed exact integer half-up; u·10⁶ exceeds int64 headroom, so
    // the numerator stages through decimal(38,0). se0/score_z are
    // √-bearing (non-terminating) and stay in double.
    tot.crossJoin(broadcast(agg))
      // i·10⁸ exceeds int64 at sf0.1 (the information sum scales with
      // corpus × balance variance) — decimal(38,0) staging, like un
      .withColumn("i8",
        (col("i") * 100000000L).cast(DecimalType(38, 0)))
      .withColumn("un",
        ((col("u") * 100000000L).cast(DecimalType(38, 0)) * 1000000L)
          .cast(DecimalType(38, 0)))
      .select(
        col("n_customers"), col("n_events"),
        (ExactRound.halfUp("un", "i8").cast("double") / 1e6)
          .as("beta_1step"),
        round(lit(1.0) / sqrt(col("i").cast("double")), 6).as("se0"),
        round(col("u").cast("double") / sqrt(col("i").cast("double")), 4)
          .as("score_z"))
  }

  /** Bradley-Terry supplier strength from per-part price duels — the
    * paired-comparison ranking model (the foundation of every modern
    * preference-/reward-model fit) trained IN-ENGINE with two exact MM
    * fixed-point iterations. Arena: within each part, every pair of
    * suppliers that both shipped it duels once; the lower exact unit
    * price (decimal revenue ÷ decimal quantity, one double divide)
    * wins; exact ties are discarded (no half-wins, so every count is
    * an integer). Pair outcomes aggregate over parts to (wins, duels)
    * per supplier pair, and the MM update
    * pᵢ ← Wᵢ / Σⱼ nᵢⱼ/(pᵢ+pⱼ) runs twice from p=1, each per-opponent
    * term rounded once to 8 dp into decimal (order-free sums) and each
    * strength re-entering decimal at 6 dp — so the oracle replays the
    * iterations as CTEs bit-identically.
    *
    * Scale: per-(part, supplier) reduce on the fact scan; the duel
    * fan-out is suppliers-per-part choose 2 (bounded by catalog
    * design, ~6 rows/part); iterations are supplier-keyed joins over
    * the pair frame — every stage is key-partitioned. */
  def btSuppliers(spark: SparkSession, dir: String,
                  topN: Int = 20): DataFrame = {
    val d6 = DecimalType(18, 6)
    val d8 = DecimalType(18, 8)
    // fan the projected fact columns out to core parallelism before the
    // decimal reduce: the one-file bench scan is a single task, which
    // serialized this whole pass (1.4 s at local[32], r14 profile); the
    // exchange doubles as the groupBy's required hash distribution so
    // the aggregation itself never re-shuffles. Identity at scale.
    // key the fan-out by l_partkey ALONE: hash(partkey) satisfies the
    // clustered distribution of BOTH aggregations below (per-(part,supp)
    // reduce, then the per-part pair expansion), so the whole
    // scan→reduce→duel pipeline runs on ONE exchange instead of three
    val ps = Par.fanOutBy(
        Lake.lineitem(spark, dir)
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_quantity")),
        col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(m(col("l_extendedprice"))).as("rev"),
        sum(m(col("l_quantity"))).as("qty"))
      .select(col("l_partkey"),
        struct(col("l_suppkey").as("sk"),
          (col("rev").cast("double") / col("qty").cast("double"))
            .as("unit")).as("sv"))
    // pair expansion INSIDE the part row (suppliers-per-part is bounded
    // by catalog design): one part-keyed reduce instead of a second
    // shuffle for a per-part self-join — same duel set exactly
    val duels = ps.groupBy(col("l_partkey"))
      .agg(collect_list(col("sv")).as("svs"))
      .select(explode(col("svs")).as("a"), col("svs"))
      .select(col("a"), explode(col("svs")).as("b"))
      .filter(col("a.sk") < col("b.sk") && col("a.unit") =!= col("b.unit"))
      .select(col("a.sk").as("sa"), col("b.sk").as("sb"),
        when(col("a.unit") < col("b.unit"), 1L).otherwise(0L)
          .as("win_a"))
    val pairs = duels.groupBy(col("sa"), col("sb"))
      .agg(sum(col("win_a")).as("w_ab"), count(lit(1)).as("n_ab"))
      .localCheckpoint(true) // feeds both iterations + the readout
    val sym = pairs
      .select(col("sa").as("i"), col("sb").as("j"), col("n_ab"),
        col("w_ab").as("w_i"))
      .unionByName(pairs.select(col("sb").as("i"), col("sa").as("j"),
        col("n_ab"), (col("n_ab") - col("w_ab")).as("w_i")))
    // the MM iteration runs entirely in scale-6/scale-8 LONG space with
    // exact integer half-up ([[ExactRound]]): the per-duel denominator
    // term round(n_ab/(p_i+p_j), 8) and the strength update
    // round(w/den, 6) are both terminating quotients (the r11 tie law);
    // the w·10^14 product exceeds int64 headroom at larger SFs, so that
    // one numerator stages through decimal(38,0)
    // strength frames are SUPPLIER-sized: the pageRank adaptive rule —
    // probe the population once (bounded one-row aggregate) and, under
    // the broadcast budget, ship strengths to the pair frame so sym is
    // never shuffled or sorted per step (profiled: the two SMJ exchanges
    // per MM step were ~2 s of the 5.8 s local[32] wall); beyond the
    // cap, fall back to the shuffle join — the web-scale shape.
    val maxBroadcastRows = 1L << 20
    def mmStep(p: DataFrame, nSupp: Long): DataFrame = {
      def side(d: DataFrame): DataFrame =
        if (nSupp <= maxBroadcastRows) broadcast(d) else d
      sym
      .join(side(p.select(col("i"), col("p6").as("pi6"))), Seq("i"))
      .join(side(p.select(col("i").as("j"), col("p6").as("pj6"))), Seq("j"))
      .withColumn("t8",
        ExactRound.halfUpPos("100000000000000 * n_ab", "pi6 + pj6"))
      .groupBy(col("i"))
      .agg(sum(col("w_i")).as("w"), sum(col("t8")).as("d8s"))
      .withColumn("wn",
        (col("w").cast(DecimalType(38, 0)) * lit(100000000000000L))
          .cast(DecimalType(38, 0)))
      .select(col("i"), ExactRound.halfUpPos("wn", "d8s").as("p6"))
    }
    val p0 = sym.select(col("i")).distinct()
      .withColumn("p6", lit(1000000L))
      .localCheckpoint(true)
    val nSupp = p0.count() // bounded driver probe, feeds the join rule
    val p2 = mmStep(mmStep(p0, nSupp).localCheckpoint(true), nSupp)
    val readout = sym.groupBy(col("i"))
      .agg(sum(col("n_ab")).as("n_duels"), sum(col("w_i")).as("n_wins"))
    p2.join(readout, Seq("i"))
      .select(col("i").as("suppkey"), col("n_duels"), col("n_wins"),
        (col("p6").cast("double") / 1e6).as("strength"))
      .orderBy(col("strength").desc, col("suppkey")).limit(topN)
  }

  /** Propensity-style 1-NN caliper matching ATT — the matching
    * estimator beside the stratified/IPW pair
    * ([[graft.operators.EventOps.ipwAte]]): each treated customer
    * (mktsegment BUILDING) is matched WITH REPLACEMENT to its
    * nearest-balance control in the SAME nation (exact decimal
    * distance, caliper `caliper`), and ATT = mean matched outcome
    * difference in lifetime spend. Nearest = the closer of the last
    * control at-or-before and the first control after in
    * (acctbal, custkey) order; distance ties prefer the predecessor —
    * fully deterministic, and the decimal compares make the oracle's
    * choice identical. With-replacement matching keeps every treated
    * row's match independent (greedy without-replacement matching is
    * order-sequential and cannot parallelize).
    *
    * Scale: per-customer outcome reduce, then window passes
    * partitioned by nation — parallelism equals |nations|; for a
    * dimension-poor key the value-range fence (per-(nation, balance
    * bucket) windows + a bounded per-bucket last/first-control
    * broadcast, the [[abcPartsPar]] construction) recovers full
    * parallelism without changing a single match.
    *
    * Both neighbor probes are RUNNING frames (unboundedPreceding → -1):
    * "first control after" in (x, ck) ASC order is exactly "last
    * control before" in (x DESC, ck DESC) order — the rows strictly
    * after the current one ascending are precisely the rows strictly
    * before it descending, and first-non-null among them ascending is
    * the one nearest the current row, i.e. last-non-null descending.
    * Spark executes a growing unboundedPreceding frame incrementally
    * (one update per row, O(n) per partition) but re-scans a shrinking
    * `1 → unboundedFollowing` frame from scratch for every row (O(n²)
    * per partition — measured 1191 s at sf10 with ~600k rows per
    * nation; the descending rewrite makes it two O(n) passes that
    * share one hash exchange on nk). */
  def psmAtt(spark: SparkSession, dir: String,
             caliper: Double = 100.0): DataFrame = {
    val spend = Lake.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(sum(m(col("o_totalprice"))).as("y"))
    val cust = Lake.customer(spark, dir)
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey").as("ck"), col("c_nationkey").as("nk"),
        m(col("c_acctbal")).as("x"),
        (col("c_mktsegment") === "BUILDING").as("treated"),
        coalesce(col("y"), lit(java.math.BigDecimal.ZERO).cast(dec2))
          .as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ord = Window.partitionBy(col("nk"))
      .orderBy(col("x"), col("ck"))
    val prevW = ord.rowsBetween(Window.unboundedPreceding, -1)
    val nextW = Window.partitionBy(col("nk"))
      .orderBy(col("x").desc, col("ck").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ctlX = when(!col("treated"), col("x"))
    val ctlK = when(!col("treated"), col("ck"))
    val matched = cust
      .withColumn("px", last(ctlX, ignoreNulls = true).over(prevW))
      .withColumn("pk", last(ctlK, ignoreNulls = true).over(prevW))
      .withColumn("nx", last(ctlX, ignoreNulls = true).over(nextW))
      .withColumn("nnk", last(ctlK, ignoreNulls = true).over(nextW))
      .filter(col("treated"))
      .withColumn("use_prev", col("px").isNotNull &&
        (col("nx").isNull || (col("x") - col("px")) <= (col("nx") - col("x"))))
      .withColumn("mk", when(col("use_prev"), col("pk"))
        .otherwise(col("nnk")))
      .withColumn("dist", when(col("use_prev"), col("x") - col("px"))
        .otherwise(col("nx") - col("x")))
      .filter(col("mk").isNotNull && col("dist") <= m(lit(caliper)))
      .select(col("ck"), col("y").as("y_t"), col("mk"))
    val out = matched
      .join(cust.select(col("ck").as("mk"), col("y").as("y_c")), Seq("mk"))
      .agg(count(lit(1)).as("n_matched"),
        sum(col("y_t") - col("y_c")).as("sdiff"),
        sum(col("y_t")).as("st"), sum(col("y_c")).as("sc"))
      .crossJoin(broadcast(
        cust.filter(col("treated")).agg(count(lit(1)).as("n_treated"))))
      // exact integer half-up for every terminating quotient (the
      // theilIndex (2S+n) div (2n) law): a decimal-2 money sum over a
      // count can land on an exact .00005/.005 boundary where rounding
      // through a double splits the engines by 1 ulp. att's numerator
      // is SIGNED (treated − control), so the div form runs on the
      // absolute value and re-applies the sign — Spark div truncates
      // toward zero while DuckDB // floors, and they only agree for
      // non-negative operands.
      .withColumn("a2", (col("sdiff") * 100).cast("long"))
      .withColumn("t2", (col("st") * 100).cast("long"))
      .withColumn("c2", (col("sc") * 100).cast("long"))
      .select(col("n_treated"), col("n_matched"),
        (expr("(2 * n_matched * 10000 + n_treated) div (2 * n_treated)")
          .cast("double") / 1e4).as("match_rate"),
        (expr("""CASE WHEN a2 < 0
                 THEN -((200 * (-a2) + n_matched) div (2 * n_matched))
                 ELSE (200 * a2 + n_matched) div (2 * n_matched) END""")
          .cast("double") / 1e4).as("att"),
        (expr("(2 * t2 + n_matched) div (2 * n_matched)")
          .cast("double") / 100.0).as("avg_y_treated"),
        (expr("(2 * c2 + n_matched) div (2 * n_matched)")
          .cast("double") / 100.0).as("avg_y_control"))
      .localCheckpoint(true)
    cust.unpersist(false)
    out
  }

  /** Poisson regression of per-customer order counts on account
    * balance — the count-GLM member of the in-engine regression family
    * (OLS [[graft.operators.TextOps.olsMulti]], ridge, Huber,
    * logistic): ln μ = b0 + b1·(acctbal/1000), fit by two IRLS steps
    * from the null model b0 = ln ȳ, b1 = 0. Each step: μ = exp(η)
    * rounded once to 6 dp into decimal (the only transcendental —
    * pinned before any sum), working response folded into the weighted
    * normal equations, every per-row term rounded to 8 dp into decimal
    * so the five Gram sums are order-free, and the 2×2 solve is closed
    * form in double with coefficients re-entering decimal at 6 dp.
    * Readout adds the model deviance 2Σ[y·ln(y/μ) − (y−μ)] (0·ln0 = 0)
    * against the final fit — the GLM goodness-of-fit the
    * null-vs-fitted comparison needs.
    *
    * Scale: one orders reduce + a customer dimension join; each IRLS
    * step is ONE corpus pass ending in a 1-row broadcast. */
  /** Shared (y, x) frame behind the Poisson family: per-customer order
    * count vs balance in thousands, zeros included. Caller persists. */
  private def poissonBase(spark: SparkSession, dir: String): DataFrame = {
    val counts = Lake.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("yo"))
    Lake.customer(spark, dir)
      .join(counts, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("yo"), lit(0L)).as("y"),
        (col("c_acctbal") / lit(1000.0)).as("x"))
  }

  /** Two IRLS steps from the null model over a persisted (y, x) frame;
    * returns the 1-row (b0, b1) decimal fit (see [[poissonOrders]] for
    * the rounding discipline). */
  private def poissonFit(base: DataFrame): DataFrame = {
    val d6 = DecimalType(18, 6)
    val d8 = DecimalType(18, 8)
    val start = base.agg(
      round(log(sum(col("y")).cast("double") / count(lit(1))), 6)
        .cast(d6).as("b0"),
      lit(java.math.BigDecimal.ZERO).cast(d6).as("b1"))
    def irlsStep(fit: DataFrame): DataFrame = {
      val g = base.crossJoin(broadcast(fit))
        .withColumn("eta",
          col("b0").cast("double") + col("b1").cast("double") * col("x"))
        .withColumn("mu", round(exp(col("eta")), 6).cast(d6))
        .withColumn("md", col("mu").cast("double"))
        // wz = μ·η + (y−μ): the weighted working response, exact algebra
        .withColumn("wzv", col("md") * col("eta") + (col("y") - col("md")))
        .agg(
          sum(round(col("md"), 8).cast(d8)).as("sw"),
          sum(round(col("md") * col("x"), 8).cast(d8)).as("swx"),
          sum(round(col("md") * col("x") * col("x"), 8).cast(d8))
            .as("swxx"),
          sum(round(col("wzv"), 8).cast(d8)).as("swz"),
          sum(round(col("x") * col("wzv"), 8).cast(d8)).as("swxz"))
      g.select(
        round((col("sw").cast("double") * col("swxz").cast("double")
          - col("swx").cast("double") * col("swz").cast("double")) /
          (col("sw").cast("double") * col("swxx").cast("double")
            - col("swx").cast("double") * col("swx").cast("double")), 6)
          .cast(d6).as("b1"),
        col("sw"), col("swx"), col("swz"))
        .select(
          round((col("swz").cast("double")
            - col("b1").cast("double") * col("swx").cast("double")) /
            col("sw").cast("double"), 6).cast(d6).as("b0"),
          col("b1"))
    }
    irlsStep(irlsStep(start.localCheckpoint(true))
      .localCheckpoint(true))
  }

  def poissonOrders(spark: SparkSession, dir: String): DataFrame = {
    val d6 = DecimalType(18, 6)
    val d8 = DecimalType(18, 8)
    val base = poissonBase(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fit = poissonFit(base)
    val dev = base.crossJoin(broadcast(fit))
      .withColumn("mu", round(exp(col("b0").cast("double")
        + col("b1").cast("double") * col("x")), 6).cast(d6))
      .withColumn("md", col("mu").cast("double"))
      .withColumn("t", when(col("y") > 0L,
        col("y") * log(col("y").cast("double") / col("md"))
          - (col("y") - col("md")))
        .otherwise(col("md")))
      .agg(count(lit(1)).as("n"),
        sum(round(lit(2.0) * col("t"), 8).cast(d8)).as("dv"))
    val out = dev.crossJoin(broadcast(fit))
      .select(col("n"), col("b0").cast("double").as("b0"),
        col("b1").cast("double").as("b1"),
        round(col("dv"), 4).cast("double").as("deviance"))
      .localCheckpoint(true)
    base.unpersist(false)
    out
  }

  /** Baron–Kenny mediation with the Sobel test — does account balance
    * drive lifetime spend THROUGH order frequency? Three closed-form
    * OLS fits from ONE exact Gram aggregation: the a-path m ~ x, the
    * b/direct paths from y ~ m + x (the 3×3 cofactor solve of the
    * [[graft.operators.TextOps.olsMulti]] family), indirect = a·b, the
    * Sobel first-order se √(b²se_a² + a²se_b²), and the mediated
    * proportion ab/(ab + direct). Every Gram cell is an exact decimal
    * (x, y in decimal(18,2); cross-products cast once per row at fixed
    * scale), so both engines derive the coefficients from identical
    * sums with identical double expression trees — one aggregation
    * pass, then 1-row algebra. */
  def mediationSpend(spark: SparkSession, dir: String): DataFrame = {
    val d4 = DecimalType(18, 4)
    val perCust = Lake.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("m"), sum(m(col("o_totalprice"))).as("y"))
    val base = Lake.customer(spark, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(m(col("c_acctbal")).as("x"),
        coalesce(col("m"), lit(0L)).as("mm"),
        coalesce(col("y"), lit(java.math.BigDecimal.ZERO).cast(dec2))
          .as("y"))
    val g = base.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("mm")).as("sm"),
      sum(col("y")).as("sy"),
      sum((col("x") * col("x")).cast(d4)).as("sxx"),
      sum((col("x") * col("mm")).cast(dec2)).as("sxm"),
      sum(col("mm") * col("mm")).as("smm"),
      sum((col("x") * col("y")).cast(d4)).as("sxy"),
      sum((col("mm") * col("y")).cast(dec2)).as("smy"),
      sum((col("y") * col("y")).cast(d4)).as("syy"))
    // all algebra below is double over the exact sums; the oracle
    // writes the SAME expression tree so each step is bit-identical
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double"); val smD = col("sm").cast("double")
    val syD = col("sy").cast("double")
    val sxxD = col("sxx").cast("double")
    val sxmD = col("sxm").cast("double")
    val smmD = col("smm").cast("double")
    val sxyD = col("sxy").cast("double")
    val smyD = col("smy").cast("double")
    val syyD = col("syy").cast("double")
    g.withColumn("sxx_c", sxxD - sxD * sxD / nD)
      .withColumn("sxm_c", sxmD - sxD * smD / nD)
      .withColumn("smm_c", smmD - smD * smD / nD)
      .withColumn("a", col("sxm_c") / col("sxx_c"))
      .withColumn("sse_a", col("smm_c") - col("a") * col("sxm_c"))
      .withColumn("sea2",
        col("sse_a") / (nD - 2) / col("sxx_c"))
      // 3x3 solve of y ~ 1 + m + x via cofactors (vars: 1, m, x)
      .withColumn("m00", smmD * sxxD - sxmD * sxmD)
      .withColumn("m10", smD * sxxD - sxD * sxmD)
      .withColumn("m20", smD * sxmD - sxD * smmD)
      .withColumn("det", nD * col("m00") - smD * col("m10")
        + sxD * col("m20"))
      .withColumn("c0", (syD * col("m00") - smyD * col("m10")
        + sxyD * col("m20")) / col("det"))
      .withColumn("b",
        (-syD * (smD * sxxD - sxmD * sxD)
          + smyD * (nD * sxxD - sxD * sxD)
          - sxyD * (nD * sxmD - sxD * smD)) / col("det"))
      .withColumn("dir",
        (syD * (smD * sxmD - smmD * sxD)
          - smyD * (nD * sxmD - smD * sxD)
          + sxyD * (nD * smmD - smD * smD)) / col("det"))
      .withColumn("sse_b", syyD - (col("c0") * syD + col("b") * smyD
        + col("dir") * sxyD))
      .withColumn("seb2", col("sse_b") / (nD - 3)
        * (nD * sxxD - sxD * sxD) / col("det"))
      .withColumn("ab", col("a") * col("b"))
      .withColumn("sobel_se", sqrt(col("b") * col("b") * col("sea2")
        + col("a") * col("a") * col("seb2")))
      .select(col("n"),
        round(col("a"), 6).as("a_path"),
        round(col("b"), 6).as("b_path"),
        round(col("dir"), 6).as("direct"),
        round(col("ab"), 6).as("indirect"),
        round(col("ab") / col("sobel_se"), 4).as("sobel_z"),
        round(col("ab") / (col("ab") + col("dir")), 6)
          .as("prop_mediated"))
  }

  /** Pearson overdispersion diagnostic of the [[poissonOrders]] fit —
    * the check every Poisson GLM must publish (equidispersion Var = μ
    * is the model's load-bearing assumption; real count data usually
    * violates it and the fix — quasi-Poisson/negative-binomial — is a
    * modeling decision this number triggers): φ = Σ(y−μ)²/μ / (n−2)
    * against the SAME replayed 2-step IRLS fit, plus the χ²
    * normal-approximation z = (φ−1)·√((n−2)/2). Per-row Pearson terms
    * are computed once in double against the 6-dp-pinned μ and rounded
    * to 8 dp into decimal — order-free sums, one more corpus pass. */
  def poissonDispersion(spark: SparkSession, dir: String): DataFrame = {
    val d6 = DecimalType(18, 6)
    val d8 = DecimalType(18, 8)
    val base = poissonBase(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fit = poissonFit(base)
    val agg = base.crossJoin(broadcast(fit))
      .withColumn("md", round(exp(col("b0").cast("double")
        + col("b1").cast("double") * col("x")), 6).cast(d6)
        .cast("double"))
      .withColumn("pt", (col("y") - col("md")) * (col("y") - col("md"))
        / col("md"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("pt"), 8).cast(d8)).as("sp"),
        sum(round(col("md"), 8).cast(d8)).as("smu"))
    // phi and mean_mu are scale-8 decimal sums over counts → exact
    // integer half-up at 4 dp (denominator carries the 10⁴ rescale);
    // z_overdisp is √-bearing (non-terminating) and stays in double
    val out = agg
      .withColumn("sp8", (col("sp") * 100000000L).cast("long"))
      .withColumn("smu8", (col("smu") * 100000000L).cast("long"))
      .select(col("n"),
        (ExactRound.halfUpPos("sp8", "10000 * (n - 2)")
          .cast("double") / 1e4).as("phi"),
        (ExactRound.halfUpPos("smu8", "10000 * n")
          .cast("double") / 1e4).as("mean_mu"),
        round((col("sp").cast("double") / (col("n") - 2) - 1.0)
          * sqrt((col("n") - 2).cast("double") / 2.0), 4)
          .as("z_overdisp"))
      .localCheckpoint(true)
    base.unpersist(false)
    out
  }

  /** Top-1% customer revenue share per nation — the whale-dependence
    * readout the Gini/Lorenz panels summarize away (a CFO asks "how
    * much walks out if our top 1% of accounts churn?", not for a
    * decile curve): per nation, customers ranked by lifetime spend
    * DESC (custkey tie-break), k = ⌈n/100⌉, share = top-k revenue over
    * the nation total as ONE exact integer-cents ratio. One customer
    * reduce, one nation-PARTITIONED rank window (parallelism =
    * |nations|; the [[abcPartsPar]] value-range fence applies verbatim
    * if the partition key ever gets dimension-poor). */
  def topPctShare(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val spend = Lake.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(sum(m(col("o_totalprice"))).as("y"))
    val cust = Lake.customer(spark, dir)
      .join(broadcast(Lake.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(spend, col("c_custkey") === col("o_custkey"))
      .select(col("n_name").as("nation"), col("c_custkey"),
        (col("y") * 100).cast("long").as("y2"))
    val wRank = Window.partitionBy(col("nation"))
      .orderBy(col("y2").desc, col("c_custkey"))
    val wN = Window.partitionBy(col("nation"))
    cust
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("n_c", count(lit(1)).over(wN))
      .withColumn("k", expr("(n_c + 99) div 100")) // ⌈n/100⌉
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("y2")).as("tot2"),
        sum(when(col("rnk") <= col("k"), col("y2")).otherwise(0L))
          .as("top2"),
        max(col("k")).as("k"))
      .select(col("nation"), col("n_customers"), col("k"),
        (ExactRound.halfUpPos("1000000 * top2", "tot2")
          .cast("double") / 1e6).as("top_pct_share"))
      .orderBy(col("nation"))
  }

  /** Herfindahl–Hirschman concentration of supplier revenue per nation
    * — the market-concentration index beside the Q8-style share query:
    * per-(nation, supplier) exact decimal revenue, shares against the
    * nation total, HHI = Σ share² from 8-dp-rounded per-supplier terms
    * (order-free sums), and CR4 = top-4 suppliers' combined share via
    * a rank window PARTITIONED by nation. One fact-scan reduce keyed
    * (nation, supplier); everything after is dimension-sized. */
  def hhiSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val d8 = DecimalType(18, 8)
    val rev = Lake.lineitem(spark, dir)
      .join(broadcast(Lake.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Lake.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(sum(revenueTerm).as("rev"))
    val wN = Window.partitionBy(col("n_name"))
    val wRank = wN.orderBy(col("rev").desc, col("s_suppkey"))
    rev
      .withColumn("tot", sum(col("rev")).over(wN))
      .withColumn("share", col("rev").cast("double") /
        col("tot").cast("double"))
      .withColumn("rnk", row_number().over(wRank))
      .groupBy(col("n_name"), col("tot"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(round(col("share") * col("share"), 8).cast(d8)).as("hhi_s"),
        sum(when(col("rnk") <= 4,
          round(col("share"), 8).cast(d8))
          .otherwise(lit(java.math.BigDecimal.ZERO).cast(d8)))
          .as("cr4_s"))
      .select(col("n_name").as("nation"), col("n_suppliers"),
        // round in DECIMAL space then cast (the scale-reduction tie
        // law): tot is an exact scale-4 decimal, and a total ending in
        // exact .xx50 splits the engines when rounded through a double
        round(col("tot"), 2).cast("double").as("nation_revenue"),
        round(col("hhi_s"), 6).cast("double").as("hhi"),
        round(col("cr4_s"), 6).cast("double").as("cr4"))
      .orderBy(col("nation"))
  }

  /** Log-log price elasticity of demand over order lines — the classic
    * econometric readout (elasticity = d ln q / d ln p, the slope of
    * ln quantity on ln unit price): unit price = exact decimal
    * extendedprice/quantity in one double divide, per-row (ln p, ln q)
    * terms and their products rounded once to 8 dp into decimal so the
    * five OLS sums are order-free, closed-form slope/intercept/R².
    * ONE fact-scan aggregation, 1-row algebra after. */
  def priceElasticity(spark: SparkSession, dir: String): DataFrame = {
    val d8 = DecimalType(18, 8)
    val terms = Lake.lineitem(spark, dir)
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
      .select(
        log(m(col("l_extendedprice")).cast("double") /
          m(col("l_quantity")).cast("double")).as("lp"),
        log(m(col("l_quantity")).cast("double")).as("lq"))
    val g = terms.agg(
      count(lit(1)).as("n"),
      sum(round(col("lp"), 8).cast(d8)).as("sp"),
      sum(round(col("lq"), 8).cast(d8)).as("sq"),
      sum(round(col("lp") * col("lp"), 8).cast(d8)).as("spp"),
      sum(round(col("lp") * col("lq"), 8).cast(d8)).as("spq"),
      sum(round(col("lq") * col("lq"), 8).cast(d8)).as("sqq"))
    val nD = col("n").cast("double")
    val spD = col("sp").cast("double"); val sqD = col("sq").cast("double")
    val sppD = col("spp").cast("double")
    val spqD = col("spq").cast("double")
    val sqqD = col("sqq").cast("double")
    g.withColumn("sxx_c", sppD - spD * spD / nD)
      .withColumn("sxy_c", spqD - spD * sqD / nD)
      .withColumn("syy_c", sqqD - sqD * sqD / nD)
      .withColumn("slope", col("sxy_c") / col("sxx_c"))
      .select(col("n"),
        round(col("slope"), 6).as("elasticity"),
        round((sqD - col("slope") * spD) / nD, 6).as("intercept"),
        round(col("sxy_c") * col("sxy_c") /
          (col("sxx_c") * col("syy_c")), 6).as("r2"))
  }
}
