package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** A catalog entry: the Spark query plus (when SQL-expressible) the exact
  * DuckDB oracle the driver hash-compares against.
  *
  * Determinism rules applied throughout (so Spark-vs-DuckDB hash-compare is
  * stable):
  *   - floating aggregates are `round(…, n)` on BOTH sides (double sums are
  *     order-dependent; both engines agree after rounding);
  *   - DuckDB sums of integers return HUGEINT → oracle casts to BIGINT to
  *     match Spark's LongType;
  *   - every LIMIT/top-k has a total-order tie-break on integer keys;
  *   - column aliases are identical lowercase names on both sides.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** The declared relational surface of SURVEY §2.4: the query capability the
  * reference delegates to ClickHouse (`migrations/sample_test.sql:1-19`),
  * re-expressed Spark-first. All stock Catalyst — scans are column-pruned +
  * filter-pushed parquet reads; joins broadcast small dims explicitly and
  * leave big-side strategy to AQE (scale path: at 100 TB only region/
  * nation/supplier stay broadcast-able; customer/part/orders shuffle-join
  * on their keys).
  */
object Relational {

  // scale-adaptive parallelism floor (r19): single-split local files
  // spread over the session's cores; exchange-free at scale — see
  // Tables.loadParallel
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.loadParallel(s, dir, name)

  /** Register temp views for the spark.sql-surface queries. */
  private def views(s: SparkSession, dir: String): Unit =
    Tables.registerAll(s, dir)

  /** The q82 oracle, GENERATED from the same column list Stats.corrMatrix
    * receives — moment names and correlation trees share one source of
    * truth with the Column builder.
    */
  private def corrMatrixOracle: String = {
    val defs = Seq(
      "CAST(floor(l_quantity) AS BIGINT) AS x0",
      "CAST(floor(l_extendedprice / 100) AS BIGINT) AS x1",
      "CAST(floor(l_discount * 100) AS BIGINT) AS x2",
      "CAST(floor(l_tax * 100) AS BIGINT) AS x3")
    val k = defs.size
    val sums = (0 until k).map(i => s"CAST(sum(x$i) AS BIGINT) AS s$i")
    val prods = for { i <- 0 until k; j <- i until k }
      yield s"CAST(sum(x$i * x$j) AS BIGINT) AS q${i}_$j"
    val corrs = for { i <- 0 until k; j <- (i + 1) until k } yield
      s"CAST(n * q${i}_$j - s$i * s$j AS DOUBLE) / " +
        s"(sqrt(CAST(n * q${i}_$i - s$i * s$i AS DOUBLE)) * " +
        s"sqrt(CAST(n * q${j}_$j - s$j * s$j AS DOUBLE))) AS corr_${i}_$j"
    s"""WITH base AS (SELECT ${defs.mkString(", ")} FROM lineitem),
       |m AS (SELECT count(*) AS n,
       |  ${(sums ++ prods).mkString(",\n  ")}
       |  FROM base)
       |SELECT n,
       |  ${corrs.mkString(",\n  ")}
       |FROM m""".stripMargin
  }

  /** The q78 oracle, GENERATED from the same (nLon, nLat, precision)
    * parameters the GeoFunctions kernel loops over — the two interleave
    * loops share one source of truth. String/integer steps need only
    * equal VALUES; the float quantize + center decode are mirrored
    * token-for-token.
    */
  private def geohashOracle: String = {
    val p = 6
    val total = 5 * p
    val nLon = (total + 1) / 2
    val nLat = total / 2
    val ab = graft.functions.GeoFunctions.Alphabet
    val interleave = (0 until total).map { k =>
      val (src, bit) =
        if (k % 2 == 0) ("lonq", nLon - 1 - k / 2)
        else ("latq", nLat - 1 - (k - 1) / 2)
      s"((($src >> $bit) & 1) << ${total - 1 - k})"
    }.mkString(" | ")
    val render = (0 until p).map { i =>
      s"substring('$ab', CAST((gbits >> ${5 * (p - 1 - i)}) & 31 AS INT) + 1, 1)"
    }.mkString(" || ")
    val parse = (0 until p).map { i =>
      s"((strpos('$ab', substring(gh, ${i + 1}, 1)) - 1) << ${5 * (p - 1 - i)})"
    }.mkString(" | ")
    s"""WITH pts AS (
       |  SELECT event_id, user_id,
       |    CAST((user_id * 2654435761) % 180000000 AS DOUBLE)
       |      / 1000000.0 - 90.0 AS lat,
       |    CAST((event_id * 2654435761 + 40503) % 360000000 AS DOUBLE)
       |      / 1000000.0 - 180.0 AS lon
       |  FROM events),
       |q AS (
       |  SELECT event_id, user_id,
       |    GREATEST(0, LEAST(${(1L << nLon) - 1}, CAST(floor(
       |      (lon + 180.0) / 360.0 * ${(1L << nLon).toDouble}) AS BIGINT)))
       |      AS lonq,
       |    GREATEST(0, LEAST(${(1L << nLat) - 1}, CAST(floor(
       |      (lat + 90.0) / 180.0 * ${(1L << nLat).toDouble}) AS BIGINT)))
       |      AS latq
       |  FROM pts),
       |g AS (SELECT *, ($interleave) AS gbits FROM q),
       |r AS (
       |  SELECT *, ($render) AS gh,
       |    (CAST(latq AS DOUBLE) + 0.5) / ${(1L << nLat).toDouble}
       |      * 180.0 - 90.0 AS clat,
       |    (CAST(lonq AS DOUBLE) + 0.5) / ${(1L << nLon).toDouble}
       |      * 360.0 - 180.0 AS clon
       |  FROM g),
       |pr AS (SELECT *, ($parse) AS back FROM r)
       |SELECT substring(gh, 1, 3) AS cell, count(*) AS n,
       |  count(DISTINCT user_id) AS n_users,
       |  CAST(sum(CASE WHEN back = gbits THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_roundtrip,
       |  min(clat) AS min_clat, max(clat) AS max_clat,
       |  min(clon) AS min_clon, max(clon) AS max_clon
       |FROM pr GROUP BY 1""".stripMargin
  }

  /** The q54/q91 funnel oracle — EXISTS-chain re-derivation of the
    * view→click→purchase level within 1 h of the chain start, shared by
    * the Column-API and SQL-frontend entries (identical semantics is the
    * claim, so identical oracle is the check).
    */
  private val FunnelOracleSql: String =
    """WITH e AS (SELECT user_id, event_id,
      |               epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type
      |        FROM events),
      |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
      |l2 AS (SELECT DISTINCT a.user_id
      |       FROM e a JOIN e b ON b.user_id = a.user_id
      |       WHERE a.event_type = 'view' AND b.event_type = 'click'
      |         AND (b.t > a.t OR (b.t = a.t AND b.event_id > a.event_id))
      |         AND b.t - a.t <= 3600000000),
      |l3 AS (SELECT DISTINCT a.user_id
      |       FROM e a JOIN e b ON b.user_id = a.user_id
      |                JOIN e c ON c.user_id = a.user_id
      |       WHERE a.event_type = 'view' AND b.event_type = 'click'
      |         AND c.event_type = 'purchase'
      |         AND (b.t > a.t OR (b.t = a.t AND b.event_id > a.event_id))
      |         AND (c.t > b.t OR (c.t = b.t AND c.event_id > b.event_id))
      |         AND b.t - a.t <= 3600000000 AND c.t - a.t <= 3600000000)
      |SELECT u.user_id,
      |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
      |            WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
      |            WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
      |            ELSE 0 END AS INT) AS level
      |FROM (SELECT DISTINCT user_id FROM events) u""".stripMargin

  val all: Map[String, Q] = Map(

    // ---- aggregation ----------------------------------------------------
    "q01_pricing_summary" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        // exact decimal money math: double sums of 4/6-decimal products are
        // order-dependent and can straddle a rounding half-boundary between
        // engines; decimals hash-match bit-exactly.
        val decPrice = col("l_extendedprice").cast("decimal(18,2)")
        val decDisc = col("l_discount").cast("decimal(4,2)")
        val decTax = col("l_tax").cast("decimal(4,2)")
        li.filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base_price"),
            // final cast to double: decimal sums are exact/deterministic, but
            // a decimal whose last digit is 0 ('…8410') renders differently
            // across readers and breaks the driver's hash compare; the
            // double of an exact decimal is identical everywhere (unscaled
            // values here are far below 2^53)
            sum(decPrice * (lit(1) - decDisc)).cast("decimal(20,4)").cast("double").as("sum_disc_price"),
            sum(decPrice * (lit(1) - decDisc) * (lit(1) + decTax)).cast("decimal(22,6)").cast("double").as("sum_charge"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(avg("l_extendedprice"), 4).as("avg_price"),
            round(avg("l_discount"), 6).as("avg_disc"),
            count(lit(1)).as("count_order"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             | round(sum(l_quantity),2) AS sum_qty,
             | round(sum(l_extendedprice),2) AS sum_base_price,
             | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(20,4)) AS DOUBLE) AS sum_disc_price,
             | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DECIMAL(22,6)) AS DOUBLE) AS sum_charge,
             | round(avg(l_quantity),4) AS avg_qty,
             | round(avg(l_extendedprice),4) AS avg_price,
             | round(avg(l_discount),6) AS avg_disc,
             | count(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin),
      "TPC-H Q1 shape: partial+final HashAggregate, map-side combine"),

    "q06_revenue_forecast" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(4,2)")).cast("decimal(20,4)")
            .cast("double").as("revenue"))
      },
      Some("""SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(20,4)) AS DOUBLE) AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
             |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin),
      "TPC-H Q6 shape: scan + pushed filters + scalar agg, no shuffle of data rows"),

    // ---- joins ----------------------------------------------------------
    "q03_segment_revenue" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1) - col("l_discount").cast("decimal(4,2)"))).cast("decimal(20,4)")
              .cast("double").as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      Some("""SELECT c_mktsegment,
             | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(20,4)) AS DOUBLE) AS revenue,
             | count(*) AS n_lines
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment""".stripMargin),
      "3-way equi-join; big⋈big shuffles on orderkey, AQE handles build-side"),

    // q58: bucketed (SMB) co-located join — both sides land bucketed+
    // sorted on the join key (the write-once shuffle), then the join
    // itself plans ZERO exchanges (BucketedSpec pins the physical-plan
    // budget; this entry pins the RESULT against the plain-join oracle —
    // co-location must change the plan, never the answer). Tables are
    // session-managed (spark-warehouse) with q58-prefixed names,
    // overwritten per run.
    "q58_bucketed_join" -> Q(
      (s, dir) => {
        val bo = graft.operators.Bucketed.writeBucketed(
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          "graft_q58_orders", buckets = 8, keys = Seq("o_custkey"))
        val bc = graft.operators.Bucketed.writeBucketed(
          t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
          "graft_q58_customer", buckets = 8, keys = Seq("c_custkey"))
        graft.operators.Bucketed.colocatedJoin(bo, bc,
          Seq("o_custkey"), Seq("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(20,4)")
              .cast("double").as("revenue"))
      },
      Some("""SELECT c_mktsegment,
             | count(*) AS n_orders,
             | CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(20,4)) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment""".stripMargin),
      "bucketed SMB co-located join: both sides pre-bucketed on the join " +
        "key, join plans zero exchanges (write-once shuffle amortized " +
        "across every downstream join)"),

    "q04_brand_stats" -> Q(
      (s, dir) => {
        val p = t(s, dir, "part")
        val li = t(s, dir, "lineitem")
        li.join(p, col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
            round(avg("l_extendedprice"), 4).as("avg_price"),
            round(sum("l_quantity"), 2).as("sum_qty"))
      },
      Some("""SELECT p_brand, count(*) AS n,
             | round(avg(l_extendedprice),4) AS avg_price,
             | round(sum(l_quantity),2) AS sum_qty
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand""".stripMargin),
      "fact⋈dim; AQE broadcasts part while it fits, shuffle-join beyond"),

    "q05_region_revenue" -> Q(
      (s, dir) => {
        val r = broadcast(t(s, dir, "region"))
        val n = broadcast(t(s, dir, "nation"))
        val sup = broadcast(t(s, dir, "supplier"))
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        li.join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA" &&
            col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .groupBy(col("n_name"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(4,2)"))).cast("decimal(20,4)")
            .cast("double").as("revenue"))
      },
      Some("""SELECT n_name,
             | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(20,4)) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY n_name""".stripMargin),
      "TPC-H Q5 shape: explicit broadcast of the always-small dims"),

    "q07_semi_join" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_customers
             |FROM customer WHERE EXISTS (
             |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
             |GROUP BY c_mktsegment""".stripMargin),
      "left-semi = EXISTS; never duplicates the probe side"),

    "q08_anti_join" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_customers"))
      },
      Some("""SELECT c_nationkey, count(*) AS n_customers
             |FROM customer WHERE NOT EXISTS (
             |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             |GROUP BY c_nationkey""".stripMargin),
      "left-anti = NOT EXISTS"),

    // ---- sorts / top-k --------------------------------------------------
    "q02_topk" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(100)
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
             |FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01'
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin),
      "TakeOrderedAndProject: per-partition top-k then driver merge, no full sort"),

    // ---- window functions ----------------------------------------------
    "q09_window_rank" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      },
      Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
             |  FROM orders) WHERE rn <= 3""".stripMargin),
      "top-N per group via row_number; one shuffle on the partition key"),

    "q10_window_running" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("running_spend",
            round(sum(col("o_totalprice")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
          .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
          .withColumn("next_date", lead(col("o_orderdate"), 1).over(w))
          .select("o_custkey", "o_orderkey", "running_spend", "prev_price", "next_date")
      },
      Some("""SELECT o_custkey, o_orderkey,
             | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_spend,
             | lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
             | lead(o_orderdate, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_date
             |FROM orders""".stripMargin),
      "running frame + lag/lead over one shared window spec"),

    // ---- rollup / cube / grouping sets ---------------------------------
    "q11_rollup" -> Q(
      (s, dir) => {
        val r = broadcast(t(s, dir, "region"))
        val n = broadcast(t(s, dir, "nation"))
        val c = t(s, dir, "customer")
        c.join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"),
            round(sum("c_acctbal"), 2).as("sum_acctbal"))
      },
      Some("""SELECT r_name, n_name, count(*) AS n_customers,
             | round(sum(c_acctbal),2) AS sum_acctbal
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP (r_name, n_name)""".stripMargin)),

    "q12_cube" -> Q(
      (s, dir) => {
        t(s, dir, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 2).as("sum_price"))
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             | round(sum(o_totalprice),2) AS sum_price
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    "q13_grouping_sets" -> Q(
      (s, dir) => {
        views(s, dir)
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
                | round(sum(l_quantity),2) AS sum_qty
                |FROM lineitem
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             | round(sum(l_quantity),2) AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),
      "SQL frontend surface (spark.sql) + grouping sets"),

    // ---- set operations -------------------------------------------------
    "q14_setops" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        def buyers(yr: Int) = o
          .filter(year(col("o_orderdate")) === yr)
          .select(col("o_custkey")).distinct()
        buyers(1995).union(buyers(1996)).distinct()
          .except(buyers(1995).intersect(buyers(1996)))
      },
      Some("""(SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
             | UNION
             | SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
             |EXCEPT
             |(SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
             | INTERSECT
             | SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)""".stripMargin),
      "union/intersect/except (set semantics): symmetric difference of buyer sets"),

    // ---- window RANGE frame --------------------------------------------
    // value-based frame (trailing 90 days by event time), vs the ROWS
    // frames of q10/q41: peers enter by ORDER-BY VALUE distance, so tied
    // dates aggregate together regardless of row order — both engines
    // window over epoch seconds to share the frame arithmetic exactly
    "q50_range_frame" -> Q(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("epoch_s"))
          .rangeBetween(-90L * 86400, 0)
        t(s, dir, "orders")
          .withColumn("epoch_s", unix_timestamp(col("o_orderdate").cast("timestamp")))
          // rounded per the file's floating-aggregate rule: a RANGE frame
          // admits tied order dates, so the double sum's addend order is
          // engine/partitioning-dependent in the last ulp
          .withColumn("spend_90d",
            round(sum(col("o_totalprice")).over(w), 2))
          .withColumn("n_orders_90d", count(lit(1)).over(w))
          .select(col("o_orderkey"), col("o_custkey"), col("spend_90d"),
            col("n_orders_90d"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  round(CAST(sum(o_totalprice) OVER w AS DOUBLE), 2) AS spend_90d,
             |  count(*) OVER w AS n_orders_90d
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey
             |             ORDER BY epoch(CAST(o_orderdate AS TIMESTAMP))
             |             RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW)""".stripMargin),
      "value-based RANGE window frame: trailing-90-day spend per customer"),

    // ---- outer joins ---------------------------------------------------
    // asymmetric bucket domains (acctbal/1000 spans ~-1..10; totalprice/10000
    // spans ~0..50), so the FULL OUTER genuinely produces one-sided rows
    "q49_outer_join" -> Q(
      (s, dir) => {
        val cb = t(s, dir, "customer")
          .groupBy(floor(col("c_acctbal") / 1000).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n_cust"))
        val ob = t(s, dir, "orders")
          .groupBy(floor(col("o_totalprice") / 10000).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n_ord"))
        cb.join(ob, Seq("bucket"), "full_outer")
          .select(col("bucket"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_ord"), lit(0L)).as("n_ord"))
      },
      Some("""WITH cb AS (
             |  SELECT CAST(floor(c_acctbal / 1000) AS BIGINT) AS bucket,
             |         count(*) AS n_cust
             |  FROM customer GROUP BY 1),
             |ob AS (
             |  SELECT CAST(floor(o_totalprice / 10000) AS BIGINT) AS bucket,
             |         count(*) AS n_ord
             |  FROM orders GROUP BY 1)
             |SELECT bucket, coalesce(n_cust, 0) AS n_cust,
             |       coalesce(n_ord, 0) AS n_ord
             |FROM cb FULL OUTER JOIN ob USING (bucket)""".stripMargin),
      "full outer join over asymmetric aggregate domains, null-filled sides"),

    // ---- distinct aggregation ------------------------------------------
    "q15_distinct_agg" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("nd_parts"),
            countDistinct(col("l_suppkey")).as("nd_supps"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_parts,
             | count(DISTINCT l_suppkey) AS nd_supps, count(*) AS n
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      "two distinct aggs → Expand + two-phase agg"),

    // ---- scalar functions ----------------------------------------------
    "q16_string_fns" -> Q(
      (s, dir) => {
        t(s, dir, "part").select(
          col("p_partkey"),
          substring(col("p_name"), 1, 8).as("name_pfx"),
          upper(col("p_brand")).as("brand_uc"),
          lower(col("p_type")).as("type_lc"),
          length(col("p_type")).as("type_len"),
          concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
          regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_word"),
          regexp_replace(col("p_brand"), "#", "No.").as("brand_no"),
          trim(concat(lit("  "), col("p_brand"), lit("  "))).as("brand_trim"))
      },
      Some("""SELECT p_partkey,
             | substring(p_name, 1, 8) AS name_pfx,
             | upper(p_brand) AS brand_uc,
             | lower(p_type) AS type_lc,
             | CAST(length(p_type) AS INT) AS type_len,
             | concat(p_brand, '/', p_type) AS brand_type,
             | regexp_extract(p_type, '^([A-Z]+)', 1) AS type_word,
             | regexp_replace(p_brand, '#', 'No.') AS brand_no,
             | trim(concat('  ', p_brand, '  ')) AS brand_trim
             |FROM part""".stripMargin)),

    "q17_date_fns" -> Q(
      (s, dir) => {
        t(s, dir, "orders").select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          quarter(col("o_orderdate")).as("qtr"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          to_date(col("o_orderdate")).as("order_date"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"))
      },
      Some("""SELECT o_orderkey,
             | CAST(year(o_orderdate) AS INT) AS yr,
             | CAST(month(o_orderdate) AS INT) AS mo,
             | CAST(quarter(o_orderdate) AS INT) AS qtr,
             | CAST(day(o_orderdate) AS INT) AS dom,
             | date_trunc('month', o_orderdate) AS month_start,
             | CAST(o_orderdate AS DATE) AS order_date,
             | CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
             |FROM orders""".stripMargin)),

    "q18_math_fns" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(sum(sqrt(col("l_quantity"))), 2).as("sum_sqrt_qty"),
            round(sum(abs(col("l_discount") - 0.05)), 4).as("sum_abs_disc"),
            round(sum(ceil(col("l_extendedprice")).cast("double")), 1).as("sum_ceil_price"),
            round(sum(floor(col("l_extendedprice")).cast("double")), 1).as("sum_floor_price"),
            round(sum(pow(col("l_tax"), 2)), 6).as("sum_tax_sq"),
            round(sum(log(col("l_quantity") + 1)), 4).as("sum_log_qty"),
            sum(col("l_linenumber") % 3).as("sum_mod"))
      },
      Some("""SELECT l_returnflag,
             | round(sum(sqrt(l_quantity)),2) AS sum_sqrt_qty,
             | round(sum(abs(l_discount - 0.05)),4) AS sum_abs_disc,
             | round(sum(ceil(l_extendedprice)),1) AS sum_ceil_price,
             | round(sum(floor(l_extendedprice)),1) AS sum_floor_price,
             | round(sum(pow(l_tax, 2)),6) AS sum_tax_sq,
             | round(sum(ln(l_quantity + 1)),4) AS sum_log_qty,
             | CAST(sum(l_linenumber % 3) AS BIGINT) AS sum_mod
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- conditional / having / subquery -------------------------------
    "q19_conditional_agg" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate"))
          .groupBy(year(col("o_orderdate")).cast("int").as("yr"))
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).as("high_line_count"),
            sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).as("low_line_count"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr,
             | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             | CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate > o_orderdate
             |GROUP BY CAST(year(o_orderdate) AS INT)""".stripMargin),
      "TPC-H Q12 shape: CASE inside agg"),

    "q20_having" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val big = li.groupBy(col("l_orderkey"))
          .agg(round(sum("l_quantity"), 2).as("total_qty"))
          .filter(col("total_qty") > 150)
        big.join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("total_qty"))
      },
      Some("""SELECT o_orderkey, o_custkey, total_qty
             |FROM (SELECT l_orderkey, round(sum(l_quantity),2) AS total_qty
             |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) big
             |JOIN orders ON l_orderkey = o_orderkey""".stripMargin),
      "TPC-H Q18 shape: HAVING over grouped fact, then join back"),

    "q21_subquery_avg" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val thresholds = li.groupBy(col("l_partkey").as("pk"))
          .agg((avg("l_quantity") * 0.5).as("half_avg_qty"))
        li.join(thresholds, col("l_partkey") === col("pk"))
          .filter(col("l_quantity") < col("half_avg_qty"))
          .agg(round(sum("l_extendedprice") / 7.0, 2).as("avg_yearly"))
      },
      Some("""SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
             |FROM lineitem JOIN (
             |  SELECT l_partkey AS pk, 0.5 * avg(l_quantity) AS half_avg_qty
             |  FROM lineitem GROUP BY l_partkey) t ON l_partkey = pk
             |WHERE l_quantity < half_avg_qty""".stripMargin),
      "TPC-H Q17 shape: decorrelated agg subquery"),

    "q22_exists_sql" -> Q(
      (s, dir) => {
        views(s, dir)
        s.sql("""SELECT s_suppkey, s_name
                |FROM supplier
                |WHERE EXISTS (SELECT 1 FROM lineitem
                |              WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
                |  AND s_acctbal > (SELECT avg(s_acctbal) FROM supplier)""".stripMargin)
      },
      Some("""SELECT s_suppkey, s_name
             |FROM supplier
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
             |  AND s_acctbal > (SELECT avg(s_acctbal) FROM supplier)""".stripMargin),
      "correlated EXISTS + scalar subquery through the SQL frontend"),

    // ---- pivot ----------------------------------------------------------
    "q23_pivot" -> Q(
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).cast("int").as("yr"))
          .pivot("o_orderstatus", Seq("O", "F", "P"))
          .count()
          .na.fill(0L)
          .withColumnRenamed("O", "n_open")
          .withColumnRenamed("F", "n_filled")
          .withColumnRenamed("P", "n_partial")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr,
             | CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_open,
             | CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_filled,
             | CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_partial
             |FROM orders GROUP BY 1""".stripMargin)),

    // ---- json -----------------------------------------------------------
    "q24_json" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        ev.withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      },
      Some("""SELECT event_type,
             | CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
             | count(*) AS n,
             | CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
             | CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
             |FROM events GROUP BY event_type""".stripMargin),
      "JSON path extraction (README.md:32 TODO in the reference — delivered here)"),

    // ---- event-time windows (batch surface of the streaming ops) -------
    "q25_tumbling_window" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
          .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      },
      Some("""SELECT date_trunc('hour', ts) AS ws, event_type,
             | count(*) AS n, round(sum(value),2) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin),
      "tumbling event-time window; same op runs under readStream unchanged"),

    "q26_sliding_window" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start").as("ws"), col("n"))
      },
      Some("""SELECT ws, count(*) AS n FROM (
             |  SELECT epoch_ms(CAST(floor(epoch(ts)/1800)*1800*1000 AS BIGINT)) AS ws FROM events
             |  UNION ALL
             |  SELECT epoch_ms(CAST((floor(epoch(ts)/1800)-1)*1800*1000 AS BIGINT)) AS ws FROM events
             |) GROUP BY ws""".stripMargin),
      "sliding window: each event lands in size/slide = 2 windows"),

    "q27_session_window" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start").as("ws"), col("w.end").as("we"),
            col("user_id"), col("n"))
      },
      // gaps-and-islands replication: a session breaks when the gap from
      // the previous event reaches 30 min (Spark sessions are end-exclusive:
      // an event exactly at prev_ts + gap starts a new session)
      Some("""WITH o AS (
             |  SELECT user_id, ts,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
             |  FROM events),
             |b AS (
             |  SELECT user_id, ts,
             |    CASE WHEN pts IS NULL OR ts >= pts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
             |  FROM o),
             |sess AS (
             |  SELECT user_id, ts,
             |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM b)
             |SELECT CAST(min(ts) AS TIMESTAMP) AS ws,
             |       CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS we,
             |       user_id, count(*) AS n
             |FROM sess GROUP BY user_id, sid""".stripMargin),
      "session window (30-min gap); same session_window op runs under readStream"),

    // q54/q55: the ClickHouse behavioral-analytics pair (windowFunnel /
    // retention) the reference's pipeline feeds its store for. The funnel
    // oracle re-derives the level from first principles as EXISTS-chains
    // (strict (ts,id) precedence, window anchored at the chain's first
    // event) — the operator's greedy max-start fold must agree exactly.
    "q54_window_funnel" -> Q(
      (s, dir) => graft.operators.Funnels.windowFunnel(
        t(s, dir, "events"),
        steps = Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        windowMicros = 3600L * 1000000L),
      Some(FunnelOracleSql),
      "windowFunnel: view→click→purchase level within 1 h of the chain " +
        "start; one per-user fold aggregate (levels longs of state), " +
        "oracle re-derives via EXISTS-chains"),

    // q91: the SAME funnel through the SQL frontend — graft_window_funnel
    // inside the correctness gate, not just the spec: a ClickHouse
    // migrant's `SELECT windowFunnel(...)` port is oracle-checked
    // end-to-end against q54's EXISTS-chain re-derivation. The typed
    // Aggregator buffers the per-user event list (ClickHouse's own
    // windowFunnel state shape) and replays the batch DP at finish.
    "q91_funnel_sql" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(expr("graft_window_funnel(3600000000, ts, event_id, " +
            "event_type = 'view', event_type = 'click', " +
            "event_type = 'purchase')").as("level"))
      },
      Some(FunnelOracleSql),
      "windowFunnel through the SQL frontend (graft_window_funnel " +
        "aggregate): buffered-event Aggregator state, (ts, id) " +
        "deterministic tie order, hash-matched against the q54 oracle"),

    "q55_retention" -> Q(
      (s, dir) => graft.operators.Funnels.retention(
        t(s, dir, "events"),
        conds = Seq(col("event_type") === "signup",
          col("event_type") === "click",
          col("event_type") === "purchase")),
      Some("""SELECT user_id,
             |  bool_or(event_type = 'signup') AS r1,
             |  bool_or(event_type = 'signup') AND bool_or(event_type = 'click') AS r2,
             |  bool_or(event_type = 'signup') AND bool_or(event_type = 'purchase') AS r3
             |FROM events GROUP BY user_id""".stripMargin),
      "retention cohort flags (signed up / came back to click / came back " +
        "to purchase); one max-combine aggregate"),

    // q57: sequenceCount — how many DISJOINT complete funnels per user.
    // The oracle (r9; self-checked before) replays the exact greedy
    // earliest-completion fold as a DuckDB RECURSIVE CTE over the
    // (ts, event_id)-ordered per-user event list: state = 3 per-level
    // chain starts + the completed count, one recursion step per event.
    // Sentinel −4·10¹⁸ stands in for "unreached" (t − sentinel ≈ 4·10¹⁸
    // stays inside BIGINT, so the window test needs no null-guarding,
    // and it auto-fails ≤ window exactly like the operator's MinValue
    // check). 24 h window: 126 chains over 86 of 150 users at sf0.01 —
    // the 1 h window q54 pins has ZERO complete chains there, which
    // would make the hash-match trivial.
    "q57_sequence_count" -> Q(
      (s, dir) => graft.operators.Funnels.sequenceCount(
        t(s, dir, "events"),
        steps = Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        windowMicros = 24L * 3600L * 1000000L),
      Some("""WITH RECURSIVE e AS (
             |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type,
             |         row_number() OVER (PARTITION BY user_id
             |             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
             |  FROM events),
             |mx AS (SELECT user_id, max(rn) AS m FROM e GROUP BY user_id),
             |f AS (
             |  SELECT user_id, 0 AS rn,
             |         CAST(-4000000000000000000 AS BIGINT) AS s1,
             |         CAST(-4000000000000000000 AS BIGINT) AS s2,
             |         CAST(-4000000000000000000 AS BIGINT) AS s3,
             |         CAST(0 AS BIGINT) AS cnt
             |  FROM mx
             |  UNION ALL
             |  SELECT user_id, rn,
             |    CASE WHEN n3 <> -4000000000000000000 THEN -4000000000000000000 ELSE n1 END AS s1,
             |    CASE WHEN n3 <> -4000000000000000000 THEN -4000000000000000000 ELSE n2 END AS s2,
             |    CASE WHEN n3 <> -4000000000000000000 THEN -4000000000000000000 ELSE n3 END AS s3,
             |    cnt + CASE WHEN n3 <> -4000000000000000000 THEN 1 ELSE 0 END AS cnt
             |  FROM (
             |    SELECT f.user_id, e.rn,
             |      greatest(f.s1, CASE WHEN e.event_type = 'view'
             |                     THEN e.t ELSE -4000000000000000000 END) AS n1,
             |      greatest(f.s2, CASE WHEN e.event_type = 'click'
             |                      AND e.t - f.s1 <= 86400000000
             |                     THEN f.s1 ELSE -4000000000000000000 END) AS n2,
             |      greatest(f.s3, CASE WHEN e.event_type = 'purchase'
             |                      AND e.t - f.s2 <= 86400000000
             |                     THEN f.s2 ELSE -4000000000000000000 END) AS n3,
             |      f.cnt AS cnt
             |    FROM f JOIN e ON e.user_id = f.user_id AND e.rn = f.rn + 1))
             |SELECT f.user_id, CAST(f.cnt AS INT) AS n_chains
             |FROM f JOIN mx USING (user_id) WHERE f.rn = mx.m""".stripMargin),
      "sequenceCount: disjoint complete funnels per user (greedy " +
        "earliest-completion fold, levels+1 longs of state); oracle " +
        "replays the fold as a recursive CTE"),

    // q59-q61: windowFunnel STRICT modes (the ClickHouse
    // strict_deduplication / strict_order / strict_increase variants).
    // q59/q60 are sequential early-termination scans, so their oracles
    // REPLAY the fold as recursive CTEs over the (ts, event_id)-ordered
    // per-user event list (the q57 pattern; sentinel −4·10¹⁸ stands in
    // for "unreached" — t − sentinel stays inside BIGINT and auto-fails
    // the window test, so no null-guarding). q61's strictly-increasing
    // semantics is declarative, so its oracle is the q54 EXISTS-chain
    // construction with strict t inequalities. 24 h window (q57's
    // choice): the 1 h q54 window leaves no mode-distinguishing
    // activity at sf0.01.
    "q59_funnel_strict_dedup" -> Q(
      (s, dir) => graft.operators.Funnels.windowFunnelStrict(
        t(s, dir, "events"),
        steps = Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        windowMicros = 24L * 3600L * 1000000L, strictDedup = true),
      Some(funnelStrictDedupOracle),
      "windowFunnel strict_deduplication: a repeat of an already-reached " +
        "step interrupts the scan at that level; oracle replays the fold " +
        "as a recursive CTE"),

    "q60_funnel_strict_order" -> Q(
      (s, dir) => graft.operators.Funnels.windowFunnelStrict(
        t(s, dir, "events"),
        steps = Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        windowMicros = 24L * 3600L * 1000000L, strictOrder = true),
      // fe = "chain started" (first view seen); a non-step event with
      // fe=1 freezes at the level so far; a purchase with level 2
      // unreached (s2 sentinel) freezes at level 1 (the first gap —
      // s1 is always set once fe=1)
      Some("""WITH RECURSIVE e AS (
             |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type,
             |         row_number() OVER (PARTITION BY user_id
             |             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
             |  FROM events),
             |mx AS (SELECT user_id, max(rn) AS m FROM e GROUP BY user_id),
             |f AS (
             |  SELECT user_id, 0 AS rn,
             |         CAST(-4000000000000000000 AS BIGINT) AS s1,
             |         CAST(-4000000000000000000 AS BIGINT) AS s2,
             |         CAST(-4000000000000000000 AS BIGINT) AS s3,
             |         CAST(0 AS BIGINT) AS fe,
             |         CAST(-1 AS BIGINT) AS res
             |  FROM mx
             |  UNION ALL
             |  SELECT f.user_id, e.rn,
             |    CASE WHEN f.res <> -1 THEN f.s1
             |         WHEN e.event_type = 'view' THEN e.t ELSE f.s1 END AS s1,
             |    CASE WHEN f.res <> -1 THEN f.s2
             |         WHEN e.event_type = 'click'
             |              AND e.t - f.s1 <= 86400000000 THEN f.s1 ELSE f.s2 END AS s2,
             |    CASE WHEN f.res <> -1 THEN f.s3
             |         WHEN e.event_type = 'purchase'
             |              AND e.t - f.s2 <= 86400000000 THEN f.s2 ELSE f.s3 END AS s3,
             |    CASE WHEN f.res <> -1 THEN f.fe
             |         WHEN e.event_type = 'view' THEN 1 ELSE f.fe END AS fe,
             |    CASE WHEN f.res <> -1 THEN f.res
             |         WHEN e.event_type NOT IN ('view','click','purchase')
             |              AND f.fe = 1
             |           THEN CASE WHEN f.s3 <> -4000000000000000000 THEN 3
             |                     WHEN f.s2 <> -4000000000000000000 THEN 2
             |                     ELSE 1 END
             |         WHEN e.event_type = 'purchase' AND f.fe = 1
             |              AND f.s2 = -4000000000000000000 THEN 1
             |         WHEN e.event_type = 'purchase'
             |              AND e.t - f.s2 <= 86400000000 THEN 3
             |         ELSE -1 END AS res
             |  FROM f JOIN e ON e.user_id = f.user_id AND e.rn = f.rn + 1)
             |SELECT f.user_id,
             |  CAST(CASE WHEN f.res <> -1 THEN f.res
             |            WHEN f.s3 <> -4000000000000000000 THEN 3
             |            WHEN f.s2 <> -4000000000000000000 THEN 2
             |            WHEN f.s1 <> -4000000000000000000 THEN 1
             |            ELSE 0 END AS INT) AS level
             |FROM f JOIN mx USING (user_id) WHERE f.rn = mx.m""".stripMargin),
      "windowFunnel strict_order: once the chain starts, an event " +
        "matching no step (or skipping a level) terminates the scan; " +
        "oracle replays the fold as a recursive CTE"),

    "q61_funnel_strict_increase" -> Q(
      (s, dir) => graft.operators.Funnels.windowFunnelStrict(
        t(s, dir, "events"),
        steps = Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"),
        windowMicros = 24L * 3600L * 1000000L, strictIncrease = true),
      Some("""WITH e AS (SELECT user_id, event_id,
             |               epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type
             |        FROM events),
             |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
             |l2 AS (SELECT DISTINCT a.user_id
             |       FROM e a JOIN e b ON b.user_id = a.user_id
             |       WHERE a.event_type = 'view' AND b.event_type = 'click'
             |         AND b.t > a.t AND b.t - a.t <= 86400000000),
             |l3 AS (SELECT DISTINCT a.user_id
             |       FROM e a JOIN e b ON b.user_id = a.user_id
             |                JOIN e c ON c.user_id = a.user_id
             |       WHERE a.event_type = 'view' AND b.event_type = 'click'
             |         AND c.event_type = 'purchase'
             |         AND b.t > a.t AND c.t > b.t
             |         AND b.t - a.t <= 86400000000 AND c.t - a.t <= 86400000000)
             |SELECT u.user_id,
             |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
             |            WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
             |            WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
             |            ELSE 0 END AS INT) AS level
             |FROM (SELECT DISTINCT user_id FROM events) u""".stripMargin),
      "windowFunnel strict_increase: chains need strictly increasing " +
        "timestamps (same-ts events never chain); exact reachability DP " +
        "over timestamp groups, oracle = EXISTS-chains with strict " +
        "inequalities"),

    // q62: sequenceMatch — the ClickHouse event-chain pattern matcher
    // ('(?N)' / '.' / '.*' / '(?t op sec)'). Pattern here: a view
    // IMMEDIATELY followed (among stored events — only view/click/
    // purchase are stored) by a click within 1 h, then a purchase
    // anywhere later. Adjacency is expressible without recursion: rank
    // stored events per user and require b.rn = a.rn + 1. Users with no
    // stored event produce no row (nothing is buffered for them —
    // ClickHouse's own pre-filter).
    "q62_sequence_match" -> Q(
      (s, dir) => graft.operators.Funnels.sequenceMatch(
        t(s, dir, "events"), "(?1)(?t<=3600)(?2).*(?3)",
        steps = Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase")),
      Some("""WITH m AS (
             |  SELECT user_id, event_id,
             |         epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type,
             |         row_number() OVER (PARTITION BY user_id
             |             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
             |  FROM events
             |  WHERE event_type IN ('view', 'click', 'purchase')),
             |hit AS (
             |  SELECT DISTINCT a.user_id
             |  FROM m a
             |  JOIN m b ON b.user_id = a.user_id AND b.rn = a.rn + 1
             |  JOIN m c ON c.user_id = a.user_id AND c.rn > b.rn
             |  WHERE a.event_type = 'view' AND b.event_type = 'click'
             |    AND b.t - a.t <= 3600000000 AND c.event_type = 'purchase')
             |SELECT u.user_id,
             |       u.user_id IN (SELECT user_id FROM hit) AS matched
             |FROM (SELECT DISTINCT user_id FROM m) u""".stripMargin),
      "sequenceMatch('(?1)(?t<=3600)(?2).*(?3)'): adjacency-among-stored " +
        "+ time constraint + gap; one per-user fold, oracle re-derives " +
        "via ranked EXISTS-joins"),

    // q63: sequenceCount(pattern) — non-overlapping chain count,
    // leftmost-lazy. Pattern: a view ADJACENT (among stored view/click
    // events) to a click within 1 h. With mutually exclusive conditions
    // a matched pair's click can never start the next chain, so the
    // lazy non-overlapping count equals the plain adjacent-pair count —
    // which the oracle states directly with lead() over ranked stored
    // events (no recursion; the disjointness argument is in the entry
    // comment).
    "q63_sequence_count_pattern" -> Q(
      (s, dir) => graft.operators.Funnels.sequenceCountPattern(
        t(s, dir, "events"), "(?1)(?t<=3600)(?2)",
        steps = Seq(col("event_type") === "view",
          col("event_type") === "click")),
      Some("""WITH m AS (
             |  SELECT user_id, event_type,
             |         epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             |         lead(event_type) OVER w AS nxt_type,
             |         lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS nxt_t
             |  FROM events WHERE event_type IN ('view', 'click')
             |  WINDOW w AS (PARTITION BY user_id
             |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id))
             |SELECT user_id,
             |       CAST(count(*) FILTER (WHERE event_type = 'view'
             |         AND nxt_type = 'click'
             |         AND nxt_t - t <= 3600000000) AS BIGINT) AS n_matches
             |FROM m GROUP BY user_id""".stripMargin),
      "sequenceCount('(?1)(?t<=3600)(?2)'): non-overlapping leftmost-lazy " +
        "chain count; mutually exclusive conditions reduce it to the " +
        "adjacent-pair count the lead() oracle states directly"),

    "q28_asof_join" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select("event_id", "user_id", "ts")
        // dedupe right side to one row per (key, ts): as-of ties on the
        // right timestamp are otherwise resolved arbitrarily in any engine
        val ord = t(s, dir, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max("o_orderkey").as("last_orderkey"),
            max_by(col("o_totalprice"), col("o_orderkey")).as("last_order_price"))
        graft.operators.AsOfJoin.backward(ev, ord,
          leftKey = "user_id", leftTs = "ts",
          rightKey = "o_custkey", rightTs = "o_orderdate")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, ts FROM events),
             |ord AS (
             |  SELECT o_custkey, o_orderdate,
             |         max(o_orderkey) AS last_orderkey,
             |         arg_max(o_totalprice, o_orderkey) AS last_order_price
             |  FROM orders GROUP BY o_custkey, o_orderdate)
             |SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             |       last_orderkey, last_order_price
             |FROM ev ASOF JOIN ord
             |  ON ev.user_id = ord.o_custkey AND ev.ts >= ord.o_orderdate""".stripMargin),
      "as-of join (custom operator AsOfJoin: union + running window, one shuffle)"),

    "q29_range_lookup" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(pmod(col("event_id"), lit(100000L)).as("addr"))
        val ranges = t(s, dir, "nation").select(
          (col("n_nationkey").cast("long") * 4000).as("lo"),
          (col("n_nationkey").cast("long") * 4000 + 3999).as("hi"),
          col("n_name"))
        graft.operators.RangeLookup
          .bucketedLookup(ev, "addr", ranges, "lo", "hi", bucketBits = 10)
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n"), sum(col("addr")).as("sum_addr"))
      },
      Some("""SELECT n_name, count(*) AS n, CAST(sum(addr) AS BIGINT) AS sum_addr
             |FROM (SELECT event_id % 100000 AS addr FROM events) e
             |JOIN (SELECT n_nationkey * 4000 AS lo, n_nationkey * 4000 + 3999 AS hi, n_name
             |      FROM nation) r
             |  ON e.addr BETWEEN r.lo AND r.hi
             |GROUP BY n_name""".stripMargin),
      "GeoIP-shape range lookup (reference README.md:34 TODO, delivered): " +
        "bucketed broadcast range join, hash-join probes instead of NLJ"),

    "q30_typed_topk" -> Q(
      (s, dir) => graft.operators.TypedOps.top3PricesPerCustomer(t(s, dir, "orders")),
      Some("""SELECT o_custkey, l[1] AS p1, l[2] AS p2, l[3] AS p3 FROM (
             |  SELECT o_custkey,
             |    (list(o_totalprice ORDER BY o_totalprice DESC, o_orderkey))[1:3] AS l
             |  FROM orders GROUP BY o_custkey)""".stripMargin),
      "typed Dataset + custom Aggregator[IN,BUF,OUT]: bounded top-k buffer " +
        "with map-side combine (vs window/row_number which shuffles all rows)"),

    "q31_salted_agg" -> Q(
      (s, dir) => graft.operators.Skew.saltedAggregate(
        t(s, dir, "lineitem"), key = "l_returnflag", saltFactor = 16,
        aggs = Seq(
          ("n", count(lit(1)), sum(col("n"))),
          ("sum_qty", sum(col("l_quantity")), round(sum(col("sum_qty")), 2)),
          ("max_price", max(col("l_extendedprice")), max(col("max_price"))))),
      Some("""SELECT l_returnflag, count(*) AS n, round(sum(l_quantity),2) AS sum_qty,
             | max(l_extendedprice) AS max_price
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      "skew mitigation: two-phase salted aggregation (hot key scattered " +
        "over 16 reducers, partials combined) — identical to direct groupBy"),

    "q32_percentiles" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
          expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.95)").as("p95"),
          expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.9)").as("q90"))
      },
      // exact (sort-based) percentiles: Spark `percentile` and DuckDB
      // `quantile_cont` share the standard linear-interpolation formula and
      // agree bit-for-bit (checked incl. a non-representable …914999… case).
      // Scalar columns only: array-valued outputs break the driver's
      // pandas-based row sort (unhashable ndarray).
      Some("""SELECT l_returnflag,
             | quantile_cont(l_extendedprice, 0.5) AS p50,
             | quantile_cont(l_extendedprice, 0.95) AS p95,
             | quantile_cont(l_quantity, 0.25) AS q25,
             | quantile_cont(l_quantity, 0.9) AS q90
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      "exact percentiles (sort-based), the oracle-checked face of the quantile surface"),

    "q33_approx_sketches" -> Q(
      (s, dir) => {
        // SELF-CHECKING (still no SQL oracle — sketch internals are
        // engine-specific): the same scan computes the exact answers and
        // embeds the error-bound invariants as boolean columns. Bounds:
        // 3× the configured rsd for HLL++ (0.05 default → 0.15; 0.01 →
        // 0.03), and the approx median must land inside the exact
        // [p45, p55] envelope (accuracy 1000 ⇒ rank error ≪ 5%).
        t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
          approx_count_distinct(col("l_partkey")).as("acd_parts"),
          approx_count_distinct(col("l_suppkey"), 0.01).as("acd_supps"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap50"),
          count(lit(1)).as("n"),
          count_distinct(col("l_partkey")).as("x_parts"),
          count_distinct(col("l_suppkey")).as("x_supps"),
          expr("percentile(l_extendedprice, 0.45)").as("x_p45"),
          expr("percentile(l_extendedprice, 0.55)").as("x_p55"))
          .select(col("l_returnflag"), col("acd_parts"), col("acd_supps"),
            col("ap50"), col("n"),
            (abs(col("acd_parts") - col("x_parts")) <= col("x_parts") * 0.15)
              .as("parts_in_bound"),
            (abs(col("acd_supps") - col("x_supps")) <= col("x_supps") * 0.03)
              .as("supps_in_bound"),
            (col("ap50") >= col("x_p45") && col("ap50") <= col("x_p55"))
              .as("ap50_in_bound"))
      },
      None,
      "sketch aggregates: HLL++ distinct counts + approx percentile, " +
        "self-checked against same-scan exact answers"),

    // The mergeable-sketch rollup: per-group DataSketches HLL sketches,
    // then a global distinct UNIONED FROM THE GROUP SKETCHES — no second
    // scan of the fact table. At 100 TB this is the incremental pattern:
    // persist per-partition (per-day/per-shard) sketch blobs once, answer
    // any cross-partition distinct by merging kilobyte sketches.
    // Rows-only like q33 (sketch estimates are engine-specific; the exact
    // counterpart is q15); SketchSpec pins estimate-vs-exact accuracy.
    "q48_hll_merge" -> Q(
      (s, dir) => {
        // SELF-CHECKING: per-group and union estimates carry an
        // `in_bound` column comparing against exact distincts computed in
        // the same query (lgK=14 ⇒ rsd ≈ 0.8%; 5% bound is ~6σ)
        val orders = t(s, dir, "orders")
        val part = orders
          .groupBy(col("o_orderpriority").as("p"))
          .agg(expr("hll_sketch_agg(o_custkey, 14)").as("sk"),
            count(lit(1)).as("n"),
            count_distinct(col("o_custkey")).as("x"))
        val per = part.select(col("p"),
          expr("hll_sketch_estimate(sk)").as("est_custs"), col("n"), col("x"))
        val all = part
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est_custs"),
            sum(col("n")).as("n"))
          .crossJoin(orders.agg(count_distinct(col("o_custkey")).as("x")))
          .select(lit("ALL").as("p"), col("est_custs"), col("n"), col("x"))
        per.unionByName(all)
          .select(col("p"), col("est_custs"), col("n"),
            (abs(col("est_custs") - col("x")) <= col("x") * 0.05).as("in_bound"))
      },
      None,
      "mergeable HLL sketches: per-group partials, union-merged global " +
        "distinct, self-checked vs exact"),

    "q34_zorder" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem")
          .filter(col("l_orderkey") < 1000)
          .select(col("l_orderkey"), col("l_partkey"),
            graft.operators.Layout.zvalue(col("l_partkey"), col("l_suppkey")).as("zval"))
      },
      Some("""SELECT l_orderkey, l_partkey,
             |  CAST(list_sum([ ((l_partkey >> i) & 1) * (1::BIGINT << (2*i))
             |                + ((l_suppkey >> i) & 1) * (2::BIGINT << (2*i))
             |                  FOR i IN generate_series(0, 30)]) AS BIGINT) AS zval
             |FROM lineitem WHERE l_orderkey < 1000""".stripMargin),
      "Z-order (Morton) clustering key for multi-dimensional row-group " +
        "pruning — Layout.zorderBy clusters writes by it"),

    // q39 exercises the custom top-k-per-key operator: the query is the
    // plain row_number idiom; TopKPerKeyRewrite + TopKPerKeyStrategy
    // (part of the session's SQL surface) displace the sort-based window
    // plan with the two-phase heap operator, and the hash-match against
    // DuckDB's window result proves the custom physical operator exact.
    "q39_topk_per_key" -> Q(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_suppkey"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        t(s, dir, "lineitem")
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice").cast("double").as("price"), col("rn"))
      },
      Some("""WITH r AS (
             |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             |    row_number() OVER (PARTITION BY l_suppkey
             |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
             |  FROM lineitem)
             |SELECT l_suppkey, l_orderkey, l_linenumber,
             |  CAST(l_extendedprice AS DOUBLE) AS price, CAST(rn AS INT) AS rn
             |FROM r WHERE rn <= 3""".stripMargin),
      "top-k per key via custom Catalyst operator: heap-based two-phase " +
        "plan replaces sort-based window (rule + strategy + exec)"),

    "q40_unpivot" -> Q(
      (s, dir) => t(s, dir, "part")
        .select(col("p_partkey"),
          col("p_size").cast("double").as("p_size"),
          col("p_retailprice").cast("double").as("p_retailprice"))
        .unpivot(Array(col("p_partkey")), "attr", "val"),
      Some("""SELECT p_partkey, attr, val FROM (
             |  UNPIVOT (SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size,
             |                  CAST(p_retailprice AS DOUBLE) AS p_retailprice
             |           FROM part)
             |  ON p_size, p_retailprice INTO NAME attr VALUE val)""".stripMargin),
      "unpivot/melt: wide attribute columns to long (attr, val) rows"),

    "q41_window_breadth" -> Q(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"),
            first_value(col("o_orderkey")).over(w).as("top_order"))
      },
      Some("""SELECT o_orderpriority, o_orderkey,
             |  CAST(ntile(4) OVER w AS INT) AS quartile,
             |  percent_rank() OVER w AS pct_rank,
             |  cume_dist() OVER w AS cume,
             |  first_value(o_orderkey) OVER w AS top_order
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority
             |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin),
      "window breadth: ntile, percent_rank, cume_dist, first_value"),

    "q42_resample" -> Q(
      (s, dir) => graft.operators.TimeSeries.resampleFill(
        t(s, dir, "events").select("user_id", "ts", "value", "event_id"),
        keyCol = "user_id", tsCol = "ts", valueCol = "value",
        tieBreakCol = "event_id", unit = "hour")
        .select(col("user_id"), col("h").as("hour"), col("value")),
      Some("""WITH obs AS (
             |  SELECT user_id, date_trunc('hour', ts) AS h, value,
             |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events),
             |o1 AS (SELECT user_id, h, value FROM obs WHERE rn = 1),
             |span AS (
             |  SELECT user_id, unnest(generate_series(
             |    date_trunc('hour', min(ts)), date_trunc('hour', max(ts)),
             |    INTERVAL 1 HOUR)) AS h
             |  FROM events GROUP BY user_id)
             |SELECT s.user_id, s.h AS hour,
             |  last_value(o.value IGNORE NULLS) OVER (
             |    PARTITION BY s.user_id ORDER BY s.h) AS value
             |FROM span s LEFT JOIN o1 o ON s.user_id = o.user_id AND s.h = o.h""".stripMargin),
      "time-series resample: dense hourly grid per key with forward fill"),

    // ---- ClickHouse time-series aggregates -------------------------------
    // deltaSum / boundingRatio (q64) and intervalLengthSum /
    // maxIntersections(+Position) (q65) — the ClickHouse time-series
    // aggregate family, declared over (ts, event_id) order (the only
    // well-defined fold order on a distributed engine). Values pre-scaled
    // to integers (floor(value*100)) so every aggregate is integer-exact;
    // the oracle replays the identical window constructions in DuckDB.
    "q64_delta_sum" -> Q(
      (s, dir) => graft.operators.TimeSeries.deltaStats(
        t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            floor(col("value") * 100).cast("long").as("v")),
        keyCol = "user_id", tsCol = "ts", tieBreakCol = "event_id",
        valueCol = "v"),
      Some("""WITH e AS (
             |  SELECT user_id, ts, event_id,
             |    CAST(floor(value * 100) AS BIGINT) AS v
             |  FROM events),
             |d AS (
             |  SELECT user_id, ts, event_id, v,
             |    v - lag(v) OVER w AS dv,
             |    row_number() OVER w AS rn_a,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn_d
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |agg AS (
             |  SELECT user_id,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(coalesce(sum(CASE WHEN dv > 0 THEN dv END), 0) AS BIGINT)
             |      AS delta_sum,
             |    CAST(max(CASE WHEN rn_a = 1 THEN v END) AS BIGINT) AS first_v,
             |    CAST(max(CASE WHEN rn_d = 1 THEN v END) AS BIGINT) AS last_v,
             |    CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT) AS dt_us
             |  FROM d GROUP BY user_id)
             |SELECT user_id, n, delta_sum, first_v, last_v, dt_us,
             |  CASE WHEN dt_us > 0
             |    THEN CAST(last_v - first_v AS DOUBLE) / CAST(dt_us AS DOUBLE)
             |  END AS bounding_ratio
             |FROM agg""".stripMargin),
      "ClickHouse deltaSum + boundingRatio per user in declared (ts, id) " +
        "order: positive consecutive deltas, first/last slope — one key " +
        "exchange, integer-exact"),

    "q65_interval_stats" -> Q(
      (s, dir) => graft.operators.TimeSeries.intervalStats(
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("s_us"),
            (unix_micros(col("ts")) +
              (regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
                .cast("long") % 30 + 1) * 1000000L).as("e_us")),
        keyCol = "user_id", startCol = "s_us", endCol = "e_us",
        tieBreakCol = "event_id"),
      Some(intervalOracle),
      "ClickHouse intervalLengthSum + maxIntersections(Position) per user " +
        "over half-open [ts, ts+dur) intervals: gaps-and-islands union " +
        "measure + a ±1 sweep for peak concurrency — integer-exact"),

    // ---- ClickHouse Map combinators (sumMap / minMap / maxMap) -----------
    // Per-row small maps (event-type value + a props bucket) merged
    // key-wise per cohort; the catalog entry drives the FULL map-typed
    // result shape (map_from_entries reassembly) and explodes it back to
    // scalar rows for the oracle (no MAP/ARRAY output columns).
    "q66_map_combinators" -> Q(
      (s, dir) => {
        val kk = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
          .cast("long")
        val ev = t(s, dir, "events").select(
          (col("user_id") % 16).as("cohort"),
          map(
            concat(lit("t_"), col("event_type")),
            floor(col("value") * 100).cast("long"),
            concat(lit("k_"), (kk % 4).cast("string")), kk).as("m"))
        graft.operators.MapCombinators.aggMaps(ev, Seq("cohort"), "m")
          .select(col("cohort"),
            explode(map_entries(col("sum_map"))).as("e"),
            col("min_map"), col("max_map"), col("count_map"))
          .select(col("cohort"), col("e.key").as("k"),
            col("e.value").as("sum_v"),
            element_at(col("min_map"), col("e.key")).as("min_v"),
            element_at(col("max_map"), col("e.key")).as("max_v"),
            element_at(col("count_map"), col("e.key")).as("cnt"))
      },
      Some(mapCombinatorsOracle),
      "ClickHouse sumMap/minMap/maxMap combinators: per-row maps merged " +
        "key-wise per cohort — exploded (group, key) aggregate + " +
        "map_from_entries reassembly, exchange carries the key DOMAIN " +
        "not the row count"),

    // ---- ClickHouse quantileExactWeighted --------------------------------
    // Exact weighted percentiles (money floored to whole units, quantity
    // as the weight) — integer-exact rank arithmetic, so unlike the KLL /
    // approx sketch entries this one is oracle-pinnable row-for-row.
    "q67_weighted_quantile" -> Q(
      // plain load, no parallelism floor (r20, the r19 verdict's q67
      // regression): this entry's only pre-exchange work is floor() on
      // two doubles, and its first aggregation keys on (flag, v) whose
      // v ≈ one distinct value per row — the partial aggregate barely
      // combines, so the floor's round-robin exchange moves the full
      // row set to buy parallelism for work that costs less than the
      // exchange (driver-measured 1.41 s → 2.00 s in r19). At scale
      // both forms plan identically (the floor is inert there), so this
      // opt-out is a local-plan choice, not a semantic one — the oracle
      // pins identical results either way.
      (s, dir) => graft.operators.WeightedQuantile.exactWeighted(
        Tables.load(s, dir, "lineitem").select(col("l_returnflag"),
          floor(col("l_extendedprice")).cast("long").as("v"),
          floor(col("l_quantity")).cast("long").as("w")),
        groupCols = Seq("l_returnflag"), valueCol = "v", weightCol = "w",
        percentiles = Seq(0, 25, 50, 75, 90, 99, 100)),
      Some("""WITH pv AS (
             |  SELECT l_returnflag, CAST(floor(l_extendedprice) AS BIGINT) AS v,
             |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS w
             |  FROM lineitem GROUP BY 1, 2),
             |c AS (
             |  SELECT l_returnflag, v, w,
             |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
             |  FROM pv)
             |SELECT l_returnflag, CAST(max(tot) AS BIGINT) AS total_w,
             |  CAST(min(CASE WHEN cum*100 >= tot*0   THEN v END) AS BIGINT) AS p0,
             |  CAST(min(CASE WHEN cum*100 >= tot*25  THEN v END) AS BIGINT) AS p25,
             |  CAST(min(CASE WHEN cum*100 >= tot*50  THEN v END) AS BIGINT) AS p50,
             |  CAST(min(CASE WHEN cum*100 >= tot*75  THEN v END) AS BIGINT) AS p75,
             |  CAST(min(CASE WHEN cum*100 >= tot*90  THEN v END) AS BIGINT) AS p90,
             |  CAST(min(CASE WHEN cum*100 >= tot*99  THEN v END) AS BIGINT) AS p99,
             |  CAST(min(CASE WHEN cum*100 >= tot*100 THEN v END) AS BIGINT) AS p100
             |FROM c GROUP BY l_returnflag""".stripMargin),
      "ClickHouse quantileExactWeighted: exact weighted percentiles via " +
        "distinct-value collapse + cumulative-weight window — " +
        "integer-exact, two shrinking exchanges"),

    // ---- ClickHouse largestTriangleThreeBuckets (LTTB) -------------------
    // Per-user series (per-second max of scaled value) downsampled to 12
    // visually-representative points. All-integer triangle metric (cross
    // product scaled by next-bucket size) makes the sequential fold
    // oracle-pinnable; the DuckDB oracle replays it as a recursive CTE,
    // one bucket per step, argmax via correlated ORDER BY/LIMIT subquery.
    "q68_lttb_downsample" -> Q(
      (s, dir) => graft.operators.Lttb.downsample(
        t(s, dir, "events")
          .groupBy(col("user_id"), expr("unix_micros(ts) div 1000000").as("x"))
          .agg(max(floor(col("value") * 100).cast("long")).as("y")),
        keyCol = "user_id", xCol = "x", yCol = "y", threshold = 12),
      Some(lttbOracle),
      "ClickHouse largestTriangleThreeBuckets: per-user LTTB downsampling " +
        "to 12 points — all-integer triangle metric, sequential per-key " +
        "fold, recursive-CTE oracle"),

    // ---- Bloom-prefiltered join ------------------------------------------
    // The explicit runtime-filter operator: a Bloom filter over the
    // urgent-order keys gates lineitem BEFORE its exchange. No false
    // negatives → the output is EXACTLY the plain join, so the oracle is
    // the plain join SQL; the Bloom path's value (shuffle-volume cut) is
    // the scale story, proven in BloomJoinSpec + the bench probe.
    "q69_bloom_join" -> Q(
      (s, dir) => {
        val dim = t(s, dir, "orders")
          .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .select("o_orderkey", "o_orderpriority")
        graft.operators.BloomJoin.prefilterJoin(
          t(s, dir, "lineitem").select(col("l_orderkey"),
            floor(col("l_quantity")).cast("long").as("qty")),
          dim, factKey = "l_orderkey", dimKey = "o_orderkey",
          expectedItems = 32768, fpp = 0.01)
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n"))
      },
      Some("""SELECT o_orderpriority,
             |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
             |  count(*) AS n
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
             |GROUP BY o_orderpriority""".stripMargin),
      "Bloom-prefiltered join (Bloom 1970 + Kirsch-Mitzenmacher double " +
        "hashing, xxhash64 codegen membership test): fact rows that " +
        "cannot match never enter the exchange; output ≡ plain join"),

    // ---- ClickHouse bitmap family ----------------------------------------
    // groupBitmap per event_type over user ids (Roaring-style two-level
    // containers), then every pairwise AND/OR/XOR/ANDNOT cardinality from
    // the aggregated bitmaps alone — the segment-audience pattern; the
    // bitmaps are EXACT, so the whole output hash-matches COUNT(DISTINCT)
    // set algebra in DuckDB. The driver pull is the compressed bitmaps
    // (id-density-bounded, documented-pull class), never the events.
    "q70_bitmap_setops" -> Q(
      (s, dir) => {
        import graft.operators.Bitmap
        val bms = Bitmap.collectPerKey(
          t(s, dir, "events").select(col("event_type"), col("user_id")),
          "event_type", "user_id").toMap
        val types = bms.keys.toSeq.sorted
        import s.implicits._
        val rows = for { a <- types; b <- types if a < b } yield {
          val (andC, orC, xorC, anC) = Bitmap.opCardinalities(bms(a), bms(b))
          (a, b, Bitmap.cardinality(bms(a)), Bitmap.cardinality(bms(b)),
            andC, orC, xorC, anC)
        }
        rows.toDF("type_a", "type_b", "card_a", "card_b",
          "and_card", "or_card", "xor_card", "andnot_card")
      },
      Some("""WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
             |c AS (SELECT event_type, count(*) AS card FROM s GROUP BY 1),
             |ac AS (
             |  SELECT x.event_type AS ta, y.event_type AS tb,
             |    count(*) AS and_card
             |  FROM s x JOIN s y
             |    ON x.user_id = y.user_id AND x.event_type < y.event_type
             |  GROUP BY 1, 2)
             |SELECT ca.event_type AS type_a, cb.event_type AS type_b,
             |  CAST(ca.card AS BIGINT) AS card_a,
             |  CAST(cb.card AS BIGINT) AS card_b,
             |  CAST(coalesce(ac.and_card, 0) AS BIGINT) AS and_card,
             |  CAST(ca.card + cb.card - coalesce(ac.and_card, 0) AS BIGINT)
             |    AS or_card,
             |  CAST(ca.card + cb.card - 2 * coalesce(ac.and_card, 0) AS BIGINT)
             |    AS xor_card,
             |  CAST(ca.card - coalesce(ac.and_card, 0) AS BIGINT)
             |    AS andnot_card
             |FROM c ca JOIN c cb ON ca.event_type < cb.event_type
             |LEFT JOIN ac
             |  ON ac.ta = ca.event_type AND ac.tb = cb.event_type""".stripMargin),
      "ClickHouse groupBitmap + bitmapAnd/Or/Xor/AndnotCardinality: exact " +
        "Roaring-style per-segment id bitmaps, pairwise set algebra from " +
        "the aggregated artifacts alone — hash-matches COUNT(DISTINCT) " +
        "set identities"),

    // ---- A/B experiment aggregates (ClickHouse t-tests, Mann-Whitney) ----
    // The distributed part aggregates exact integers only; the float
    // statistics are one fixed expression tree over those integers,
    // mirrored token-for-token in the oracle → bit-equal doubles.
    "q71_ab_ttest" -> Q(
      (s, dir) => graft.operators.AbTests.tTests(
        t(s, dir, "events").select(
          (col("user_id") % 2).cast("string").as("variant"),
          floor(col("value") * 100).cast("long").as("v")),
        variantCol = "variant", valueCol = "v"),
      Some(tTestOracle),
      "ClickHouse studentTTest + welchTTest: exact integer moments per " +
        "variant (one 2-row aggregate), float statistics as one mirrored " +
        "expression tree — bit-equal doubles vs the oracle"),

    "q72_mann_whitney" -> Q(
      (s, dir) => graft.operators.AbTests.mannWhitney(
        t(s, dir, "events").select((col("user_id") % 2).as("variant"),
          floor(col("value") * 100).cast("long").as("v")),
        variantCol = "variant", valueCol = "v"),
      Some(mannWhitneyOracle),
      "ClickHouse mannWhitneyUTest: tie-aware doubled rank sums — " +
        "integer-exact U statistics via distinct-value collapse + one " +
        "cumulative window"),

    // ---- scalar fns: URL parsing (access-log analytics) ------------------
    // The reference's domain is web access logs; URL decomposition is the
    // canonical downstream transform. Spark's parse_url is codegen'd;
    // DuckDB reproduces each component with anchored regexes.
    "q44_url_fns" -> Q(
      (s, dir) => {
        val url = concat(lit("https://logs.example.com/p/"),
          col("event_id").cast("string"), lit("?u="),
          col("user_id").cast("string"), lit("&t="), col("event_type"))
        t(s, dir, "events")
          .select(col("event_id"), url.as("url"))
          .select(
            parse_url(col("url"), lit("HOST")).as("host"),
            parse_url(col("url"), lit("QUERY"), lit("t")).as("evt"),
            parse_url(col("url"), lit("QUERY"), lit("u")).cast("bigint").as("uid"),
            regexp_extract(parse_url(col("url"), lit("PATH")), "/p/([0-9]+)", 1)
              .cast("bigint").as("page"))
          .groupBy(col("host"), col("evt"))
          .agg(count(lit(1)).as("n"),
            count_distinct(col("uid")).as("n_users"),
            max(col("page")).as("max_page"))
      },
      Some("""WITH u AS (
             |  SELECT 'https://logs.example.com/p/' || event_id
             |         || '?u=' || user_id || '&t=' || event_type AS url
             |  FROM events),
             |p AS (
             |  SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host,
             |         regexp_extract(url, '[?&]t=([^&]*)', 1) AS evt,
             |         CAST(regexp_extract(url, '[?&]u=([^&]*)', 1) AS BIGINT) AS uid,
             |         CAST(regexp_extract(url, '/p/([0-9]+)', 1) AS BIGINT) AS page
             |  FROM u)
             |SELECT host, evt, count(*) AS n,
             |  count(DISTINCT uid) AS n_users, max(page) AS max_page
             |FROM p GROUP BY host, evt""".stripMargin),
      "URL decomposition (parse_url HOST/PATH/QUERY) over synthesized access URLs"),

    // ---- array aggregation + higher-order functions ----------------------
    "q45_array_agg" -> Q(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_quantity").cast("int"))).as("qs"))
        .select(col("l_orderkey"),
          size(col("qs")).as("n_items"),
          element_at(col("qs"), 1).as("min_q"),
          element_at(col("qs"), -1).as("max_q"),
          aggregate(col("qs"), lit(0L), (a, x) => a + x).as("sum_q"),
          concat_ws(",", transform(col("qs"), x => x.cast("string"))).as("qs_csv")),
      Some("""WITH g AS (
             |  SELECT l_orderkey, list_sort(list(CAST(l_quantity AS INT))) AS qs
             |  FROM lineitem GROUP BY l_orderkey)
             |SELECT l_orderkey, CAST(len(qs) AS INT) AS n_items,
             |  qs[1] AS min_q, qs[-1] AS max_q,
             |  CAST(list_aggregate(qs, 'sum') AS BIGINT) AS sum_q,
             |  array_to_string(qs, ',') AS qs_csv
             |FROM g""".stripMargin),
      "array agg breadth: collect_list + sort_array + element_at + HOF aggregate/transform " +
        "(collect_list order fixed by sort_array so the result is deterministic)"),

    // ---- interval (band) join --------------------------------------------
    // Clicks within 30 minutes AFTER an error by the same user. Bucketed
    // band join (operators.IntervalJoin): right rows take one W-wide
    // bucket, left rows explode into two, equi-join on (user, bucket) —
    // never a nested-loop theta join.
    "q46_interval_join" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val errors = ev.where(col("event_type") === "error")
          .select(col("user_id"), col("ts").as("err_ts"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"))
        graft.operators.IntervalJoin.intervalJoin(
          errors, clicks, Seq("user_id"),
          leftTs = "err_ts", rightTs = "click_ts",
          lowerMs = 0L, upperMs = 1800000L)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_pairs"),
            count_distinct(col("click_ts")).as("n_clicks"))
      },
      Some("""SELECT e.user_id, count(*) AS n_pairs,
             |  count(DISTINCT c.ts) AS n_clicks
             |FROM events e JOIN events c
             |  ON e.user_id = c.user_id
             | AND e.event_type = 'error' AND c.event_type = 'click'
             | AND epoch_ms(CAST(c.ts AS TIMESTAMP)) > epoch_ms(CAST(e.ts AS TIMESTAMP))
             | AND epoch_ms(CAST(c.ts AS TIMESTAMP)) <= epoch_ms(CAST(e.ts AS TIMESTAMP)) + 1800000
             |GROUP BY e.user_id""".stripMargin),
      "bounded interval join: clicks within (0, 30min] after an error, " +
        "bucketed equi-join shape (linear, not quadratic)"),

    // ---- ClickHouse IPv4 function family ---------------------------------
    // IPv4NumToString / IPv4StringToNum / isIPAddressInRange / subnet math
    // (graft.functions.IpFunctions) — access-log enrichment next to the URL
    // functions (q44). Addresses are synthesized deterministically from
    // event_id by a Knuth multiplicative hash (pure BIGINT arithmetic, so
    // the oracle reproduces the corpus exactly); the round-trip column
    // (string→num over num→string) proves the parse is the exact inverse
    // on every row. All pure codegen Column arithmetic — the CIDR tests
    // fold to one AND+EQ per row at plan time.
    "q73_ip_functions" -> Q(
      (s, dir) => {
        import graft.functions.IpFunctions._
        val ip = (col("event_id") * 2654435761L) % 4294967296L
        val base = t(s, dir, "events").select(ip.as("ip"))
        base.select(col("ip"), ipv4NumToString(col("ip")).as("ip_str"))
          .select(col("ip"),
            ipv4StringToNum(col("ip_str")).as("back"),
            ipv4Class(col("ip")).as("cls"),
            isPrivateIpv4(col("ip")).as("is_private"),
            ipv4Subnet(col("ip"), 16).as("net16"))
          .groupBy(col("cls"), col("is_private"))
          .agg(count(lit(1)).as("n"),
            count_distinct(col("net16")).as("n_nets"),
            min(col("ip")).as("min_ip"), max(col("ip")).as("max_ip"),
            sum(when(col("back") === col("ip"), 1L).otherwise(0L))
              .as("n_roundtrip"))
      },
      Some(ipFunctionsOracle),
      "ClickHouse IPv4 family: IPv4NumToString/StringToNum round-trip " +
        "proved per row, RFC1918 CIDR classification, /16 subnet " +
        "cardinality — all codegen Column arithmetic, no UDFs"),

    // ---- statistical aggregates (ClickHouse cramersV / regression /
    // rankCorr) — the q71/q72 exact-integer-evidence discipline ----------
    "q74_cramers_v" -> Q(
      (s, dir) => graft.operators.Stats.contingencyStats(
        t(s, dir, "orders"), "o_orderstatus", "o_orderpriority"),
      Some(cramersVOracle),
      "ClickHouse cramersV / cramersVBiasCorrected / contingency: " +
        "exact contingency cells (the only exchange — category domain, " +
        "never data), chi-square from order-independent integer-1e-15th " +
        "terms, float statistics as one mirrored sqrt-only tree"),

    "q75_linreg" -> Q(
      (s, dir) => graft.operators.Stats.simpleLinReg(
        t(s, dir, "lineitem").select(col("l_returnflag").as("grp"),
          floor(col("l_quantity")).cast("long").as("x"),
          floor(col("l_extendedprice") / lit(100)).cast("long").as("y")),
        groupCol = "grp", xCol = "x", yCol = "y"),
      Some(linRegOracle),
      "ClickHouse simpleLinearRegression + Pearson r per group: ONE hash " +
        "aggregate of six exact integer moments (map-side combine), " +
        "slope/intercept/r as one mirrored expression tree"),

    "q76_rank_corr" -> Q(
      (s, dir) => graft.operators.Stats.spearman(
        t(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("x"),
            sum(floor(col("o_totalprice") * 100).cast("long")).as("y")),
        xCol = "x", yCol = "y"),
      Some(rankCorrOracle),
      "ClickHouse rankCorr (Spearman): aggregate-then-rank — daily order " +
        "volume vs revenue collapses 100 TB to the bounded day domain " +
        "FIRST, tie-aware doubled ranks stay integral, rho is Pearson " +
        "over exact integer rank moments"),

    // q77: sequenceNextNode — "what do users do after view→click": the
    // chain matches CONSECUTIVE events among ALL the user's events
    // (the next node may be any value, so nothing pre-filters), anchored
    // at the earliest step-1 event (forward/first_match), NULL when no
    // chain or the chain ends the stream.
    "q77_sequence_next_node" -> Q(
      (s, dir) => graft.operators.Funnels.sequenceNextNode(
        t(s, dir, "events"), direction = "forward", base = "first_match",
        steps = Seq(col("event_type") === "view",
          col("event_type") === "click")),
      Some(nextNodeOracle),
      "ClickHouse sequenceNextNode(forward, first_match): the event right " +
        "after the earliest consecutive view->click chain per user — " +
        "three windows over ONE user-keyed exchange, no self-joins"),

    // q78: geohashEncode/geohashDecode (ClickHouse geo family) through
    // the Column builders — one compiled kernel call per row each
    // (GeoFunctions), points synthesized deterministically from ids. The
    // round trip re-encodes the decoded cell centre, which reproduces the
    // hash on any input (the centre re-quantizes to its own cell), so its
    // count equals the oracle's parse-roundtrip count: both are "every
    // row". The oracle SQL is GENERATED from the same (nLon, nLat,
    // precision) parameters the kernel loops over; integer steps are
    // exact, and the only float ops (quantize multiply, centre decode)
    // are mirrored token-for-token.
    "q78_geohash" -> Q(
      (s, dir) => {
        import graft.functions.GeoFunctions._
        val pts = t(s, dir, "events").select(col("event_id"), col("user_id"),
          (((col("user_id") * 2654435761L) % 180000000L).cast("double") /
            lit(1000000.0) - lit(90.0)).as("lat"),
          (((col("event_id") * 2654435761L + 40503L) % 360000000L)
            .cast("double") / lit(1000000.0) - lit(180.0)).as("lon"))
        pts
          .withColumn("gh", geohashEncode(col("lat"), col("lon"), 6))
          .withColumn("d", geohashDecode(col("gh"), 6))
          .withColumn("rt", geohashEncode(col("d.latitude"), col("d.longitude"), 6)
            === col("gh"))
          .groupBy(substring(col("gh"), 1, 3).as("cell"))
          .agg(count(lit(1)).as("n"),
            count_distinct(col("user_id")).as("n_users"),
            sum(when(col("rt"), 1L).otherwise(0L)).as("n_roundtrip"),
            min(col("d.latitude")).as("min_clat"),
            max(col("d.latitude")).as("max_clat"),
            min(col("d.longitude")).as("min_clon"),
            max(col("d.longitude")).as("max_clon"))
      },
      Some(geohashOracle),
      "ClickHouse geohashEncode/Decode: one compiled kernel call per row " +
        "(quantize, bit interleave, base-32 render; parse, cell-centre " +
        "decode), per-row encode(decode(h)) = h round-trip proved, " +
        "3-char-cell spatial rollup; oracle interleave generated from the " +
        "same parameters"),

    // q79: ClickHouse array combinators — arrayDifference / arrayCumSum /
    // arrayEnumerateUniq over per-user ordered event arrays, re-expressed
    // as Spark higher-order functions (transform-with-index, running
    // `aggregate` with an array accumulator — linear, and filter-count for
    // the O(k²) occurrence index, bounded by the k=20 slice). The arrays
    // explode back to scalar rows for the oracle (never output ARRAY
    // columns — driver compare constraint), which re-derives every value
    // with per-user windows: lag (difference), running sum (cumsum),
    // row_number within (user, type) (enumerateUniq). All integers and
    // strings — engine-exact.
    "q79_array_combinators" -> Q(
      (s, dir) => {
        val base = t(s, dir, "events").select(col("user_id"),
          unix_micros(col("ts")).as("t"), col("event_id"),
          floor(col("value") * 100).cast("long").as("v"), col("event_type"))
        val sorted = base.groupBy(col("user_id"))
          .agg(slice(array_sort(collect_list(struct(col("t"), col("event_id"),
            col("v"), col("event_type")))), 1, 20).as("evs"))
          .select(col("user_id"),
            transform(col("evs"), e => e.getField("v")).as("nums"),
            transform(col("evs"), e => e.getField("event_type")).as("typs"))
        val arr = sorted
          // element_at is 1-based so index i (0-based) IS the previous
          // element; the i=0 branch never reads it, but the index still
          // clamps to 1 so the unused branch can't trip the index-0 error
          .withColumn("diffs", transform(col("nums"), (x, i) =>
            when(i === 0, lit(0L))
              .otherwise(x - element_at(col("nums"), greatest(i, lit(1))))))
          .withColumn("cums", aggregate(col("nums"), typedLit(Seq.empty[Long]),
            (acc, x) => array_append(acc,
              coalesce(element_at(acc, lit(-1)), lit(0L)) + x)))
          .withColumn("occs", transform(col("typs"), (x, i) =>
            size(filter(slice(col("typs"), lit(1), i), y => y === x)) + lit(1)))
        arr.select(col("user_id"),
            posexplode(arrays_zip(col("nums"), col("typs"), col("diffs"),
              col("cums"), col("occs"))))
          .select(col("user_id"), col("pos"),
            col("col.nums").as("v"), col("col.typs").as("typ"),
            col("col.diffs").as("diff"), col("col.cums").as("cum"),
            col("col.occs").cast("long").as("occ"))
      },
      Some("""WITH e AS (
             |  SELECT user_id,
             |    CAST(floor(value * 100) AS BIGINT) AS v, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |        ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
             |  FROM events),
             |k AS (SELECT * FROM e WHERE rn <= 20)
             |SELECT user_id, CAST(rn - 1 AS INT) AS pos, v, event_type AS typ,
             |  CAST(CASE WHEN rn = 1 THEN 0
             |       ELSE v - lag(v) OVER w END AS BIGINT) AS diff,
             |  CAST(sum(v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND CURRENT ROW) AS BIGINT) AS cum,
             |  CAST(row_number() OVER (PARTITION BY user_id, event_type
             |    ORDER BY rn) AS BIGINT) AS occ
             |FROM k
             |WINDOW w AS (PARTITION BY user_id ORDER BY rn)""".stripMargin),
      "ClickHouse arrayDifference + arrayCumSum + arrayEnumerateUniq as " +
        "higher-order functions over per-user ordered arrays (k=20 " +
        "slice bounds the quadratic occurrence index); oracle re-derives " +
        "each via per-user windows"),

    // q80: exponential smoothing (ClickHouse exponentialMovingAverage
    // family, the ordered-series form — the Δt-weighted variants need
    // libm exp, deliberately outside the oracle-exact surface). α = 0.25
    // and β = 0.75 are exact binary doubles; the per-step fused ops are
    // mirrored in a recursive CTE, so the final doubles hash-match.
    "q80_ema" -> Q(
      (s, dir) => graft.operators.TimeSeries.ema(
        t(s, dir, "events"), keyCol = "user_id", tsCol = "ts",
        tieBreakCol = "event_id", valueCol = "value",
        alpha = 0.25, beta = 0.75),
      Some("""WITH RECURSIVE m AS (
             |  SELECT user_id, value AS v,
             |         row_number() OVER (PARTITION BY user_id
             |             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
             |               event_id) AS rn
             |  FROM events),
             |mx AS (SELECT user_id, max(rn) AS mr FROM m GROUP BY user_id),
             |f AS (
             |  SELECT user_id, rn, v AS s FROM m WHERE rn = 1
             |  UNION ALL
             |  SELECT m.user_id, m.rn, 0.25 * m.v + 0.75 * f.s AS s
             |  FROM f JOIN m ON m.user_id = f.user_id AND m.rn = f.rn + 1)
             |SELECT f.user_id, CAST(mx.mr AS BIGINT) AS n, f.s AS ema
             |FROM f JOIN mx USING (user_id) WHERE f.rn = mx.mr""".stripMargin),
      "exponential smoothing per user over the declared (ts, id) order: " +
        "one linear aggregate-fold per key, bit-equal vs the recursive-" +
        "CTE oracle replaying the identical fused steps"),

    // q81: two-sample Kolmogorov-Smirnov D — completes the ClickHouse A/B
    // family (q71 t-tests, q72 Mann-Whitney). The D statistic is pure
    // rational arithmetic (the p-value needs exp — outside the
    // oracle-exact surface): max |cum1*n2 - cum2*n1| stays integral, one
    // division at the end.
    "q81_ks_test" -> Q(
      (s, dir) => graft.operators.Stats.ksTest(
        t(s, dir, "events").select((col("user_id") % 2).as("g"),
          floor(col("value") * 100).cast("long").as("v")),
        variantCol = "g", valueCol = "v"),
      Some(ksOracle),
      "ClickHouse kolmogorovSmirnovTest (D statistic): distinct-value " +
        "collapse + one cumulative window over the value domain, exact " +
        "integer max, one division — the Mann-Whitney exchange shape"),

    // q82: pairwise Pearson correlation matrix (ClickHouse corrMatrix)
    // from ONE hash aggregate of the full exact moment set; the oracle's
    // moment/correlation SQL is GENERATED from the same column list.
    "q82_corr_matrix" -> Q(
      (s, dir) => graft.operators.Stats.corrMatrix(
        t(s, dir, "lineitem").select(
          floor(col("l_quantity")).cast("long").as("x0"),
          floor(col("l_extendedprice") / lit(100)).cast("long").as("x1"),
          floor(col("l_discount") * 100).cast("long").as("x2"),
          floor(col("l_tax") * 100).cast("long").as("x3")),
        xs = Seq("x0", "x1", "x2", "x3")),
      Some(corrMatrixOracle),
      "ClickHouse corrMatrix over 4 measures: n + 14 exact integer " +
        "moments in one map-side-combined aggregate, 6 correlations as " +
        "mirrored sqrt-only trees"),

    // q83: the ClickHouse moment-statistics family (stddevPop/Samp,
    // skewPop, kurtPop, covarPop/Samp, corr) per group — 8 exact integer
    // power sums in one aggregate, statistics as one mirrored tree.
    "q83_moment_stats" -> Q(
      (s, dir) => graft.operators.Stats.momentStats(
        t(s, dir, "lineitem").select(col("l_returnflag").as("grp"),
          floor(col("l_extendedprice") / lit(100)).cast("long").as("x"),
          floor(col("l_quantity")).cast("long").as("y")),
        groupCol = "grp", xCol = "x", yCol = "y"),
      Some("""WITH base AS (
             |  SELECT l_returnflag AS grp,
             |    CAST(floor(l_extendedprice / 100) AS BIGINT) AS x,
             |    CAST(floor(l_quantity) AS BIGINT) AS y
             |  FROM lineitem),
             |m AS (
             |  SELECT grp, count(*) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx,
             |    CAST(sum(x*x) AS BIGINT) AS sx2,
             |    CAST(sum(x*x*x) AS BIGINT) AS sx3,
             |    CAST(sum(x*x*x*x) AS BIGINT) AS sx4,
             |    CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(y*y) AS BIGINT) AS sy2,
             |    CAST(sum(x*y) AS BIGINT) AS sxy
             |  FROM base GROUP BY grp),
             |v AS (
             |  SELECT *,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS meanx,
             |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS meany
             |  FROM m),
             |w AS (
             |  SELECT *,
             |    CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE) - meanx * meanx AS m2,
             |    CAST(sx3 AS DOUBLE) / CAST(n AS DOUBLE)
             |      - 3.0 * meanx * (CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE))
             |      + 2.0 * meanx * meanx * meanx AS m3,
             |    CAST(sx4 AS DOUBLE) / CAST(n AS DOUBLE)
             |      - 4.0 * meanx * (CAST(sx3 AS DOUBLE) / CAST(n AS DOUBLE))
             |      + 6.0 * meanx * meanx * (CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE))
             |      - 3.0 * meanx * meanx * meanx * meanx AS m4,
             |    (CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
             |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS var_samp
             |  FROM v)
             |SELECT grp, n, sx, sx2, sx3, sx4, sy, sy2, sxy,
             |  sqrt(m2) AS stddev_pop, sqrt(var_samp) AS stddev_samp,
             |  m3 / (m2 * sqrt(m2)) AS skew_pop,
             |  m4 / (m2 * m2) AS kurt_pop,
             |  CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - meanx * meany
             |    AS covar_pop,
             |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
             |    / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS covar_samp,
             |  CAST(n * sxy - sx * sy AS DOUBLE) /
             |    (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) *
             |     sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))) AS corr
             |FROM w""".stripMargin),
      "ClickHouse moment family: stddevPop/Samp + skewPop + kurtPop + " +
        "covarPop/Samp + corr per group — 8 exact integer power sums in " +
        "one map-side-combined aggregate, all statistics one mirrored tree"),

    // q84: the ClickHouse -State / -Merge combinator workflow
    // (AggregatingMergeTree): per-day bitmap ARTIFACTS re-merged to WEEK
    // totals (≤7 artifacts per group) without re-touching the fact table.
    // The bitmap is exact, so
    // unlike sketch state-merge the result hash-matches plain
    // COUNT(DISTINCT) — the whole point of demonstrating the pattern on
    // the exact family. Cardinality reads off the merged struct as a pure
    // expression (popcount fold), no UDF.
    "q84_state_merge" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(
          concat(date_trunc("week", col("ts")).cast("date").cast("string"),
            lit("|"), to_date(col("ts")).cast("string")).as("k"),
          col("user_id"))
        val dayStates = graft.operators.Bitmap.perKey(ev, "k", "user_id")
        val mergeBm = udaf(new graft.operators.Bitmap.BitmapMerge())
        dayStates
          .select(substring(col("key"), 1, 10).as("week"),
            substring(col("key"), 12, 10).as("day"), col("bm"))
          .groupBy(col("week"))
          .agg(count_distinct(col("day")).as("n_days"),
            graft.operators.Bitmap.cardinalityCol(mergeBm(col("bm.blocks"),
              col("bm.dense"), col("bm.words"))).as("users"))
      },
      Some("""SELECT CAST(CAST(date_trunc('week', CAST(ts AS TIMESTAMP))
             |    AS DATE) AS VARCHAR) AS week,
             |  CAST(count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE))
             |    AS BIGINT) AS n_days,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS users
             |FROM events GROUP BY 1""".stripMargin),
      "ClickHouse -State/-Merge (AggregatingMergeTree): per-day exact " +
        "bitmap artifacts re-merged per week, cardinality via expression " +
        "popcount — hash-matches COUNT(DISTINCT) because the artifact is " +
        "exact"),

    // q85: event flow (the Sankey / user-path transition matrix — what
    // ClickHouse analysts build from neighbor()/lead): consecutive-pair
    // counts per (from, to) in the declared (ts, id) order, with the
    // per-source transition probability. The pair scan is one user-keyed
    // window; everything after runs on the TRANSITION domain (|types|²),
    // never the events. The probability is one division over two exact
    // integers — mirrored, so the doubles hash-match.
    "q85_event_flow" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(unix_micros(col("ts")), col("event_id"))
        t(s, dir, "events")
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .where(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("out_total",
            sum(col("n")).over(Window.partitionBy(col("from_type"))))
          .withColumn("p",
            col("n").cast("double") / col("out_total").cast("double"))
      },
      Some("""WITH pairs AS (
             |  SELECT event_type AS from_type,
             |         lead(event_type) OVER (PARTITION BY user_id
             |             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
             |               event_id) AS to_type
             |  FROM events),
             |m AS (
             |  SELECT from_type, to_type, count(*) AS n
             |  FROM pairs WHERE to_type IS NOT NULL
             |  GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             |  CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
             |    AS out_total,
             |  CAST(n AS DOUBLE) /
             |    CAST(CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
             |      AS DOUBLE) AS p
             |FROM m""".stripMargin),
      "event-flow transition matrix (Sankey): one user-keyed window for " +
        "the pair scan, then the transition domain only; probabilities " +
        "as one mirrored division over exact counts"),

    // q86: time-to-convert — the timing dimension of the funnel family
    // (q54 measures WHETHER users convert; this measures HOW FAST).
    // Deterministic definition: from each user's FIRST view, the earliest
    // subsequent click within 24 h; duration in micros. One user-keyed
    // aggregate (min_by shapes), integer-exact throughout.
    "q86_time_to_convert" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("t"))
        val firstView = ev.where(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("t")).as("tv"))
        val converted = ev.where(col("event_type") === "click")
          .join(firstView, Seq("user_id"))
          .where(col("t") > col("tv") &&
            col("t") - col("tv") <= 86400000000L)
          .groupBy(col("user_id"))
          .agg(min(col("t") - col("tv")).as("dur_us"))
        firstView.join(converted, Seq("user_id"), "left")
          .select(col("user_id"), col("tv"), col("dur_us"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type,
             |         epoch_us(CAST(ts AS TIMESTAMP)) AS t
             |  FROM events),
             |fv AS (
             |  SELECT user_id, min(t) AS tv FROM e
             |  WHERE event_type = 'view' GROUP BY user_id),
             |conv AS (
             |  SELECT e.user_id, min(e.t - fv.tv) AS dur_us
             |  FROM e JOIN fv ON fv.user_id = e.user_id
             |  WHERE e.event_type = 'click' AND e.t > fv.tv
             |    AND e.t - fv.tv <= 86400000000
             |  GROUP BY e.user_id)
             |SELECT fv.user_id, fv.tv, conv.dur_us
             |FROM fv LEFT JOIN conv USING (user_id)""".stripMargin),
      "time-to-convert: earliest click within 24h of each user's first " +
        "view — the funnel family's timing dimension; two user-keyed " +
        "min aggregates, integer-exact, NULL for non-converters"),

    // q87: moving-frame aggregates (ClickHouse groupArrayMovingSum /
    // groupArrayMovingAvg over a 5-row window) — ROWS frames per user in
    // declared (ts, id) order. Sum/min/max stay integral; the moving avg
    // is one mirrored division of two exact integers per row.
    "q87_moving_aggregates" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("t"), col("event_id"))
          .rowsBetween(-4, Window.currentRow)
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("t"),
            floor(col("value") * 100).cast("long").as("v"))
          .select(col("user_id"), col("event_id"), col("v"),
            sum(col("v")).over(w).as("mov_sum"),
            min(col("v")).over(w).as("mov_min"),
            max(col("v")).over(w).as("mov_max"),
            (sum(col("v")).over(w).cast("double") /
              count(lit(1)).over(w).cast("double")).as("mov_avg"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |         epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             |         CAST(floor(value * 100) AS BIGINT) AS v
             |  FROM events)
             |SELECT user_id, event_id, v,
             |  CAST(sum(v) OVER w AS BIGINT) AS mov_sum,
             |  min(v) OVER w AS mov_min,
             |  max(v) OVER w AS mov_max,
             |  CAST(CAST(sum(v) OVER w AS BIGINT) AS DOUBLE) /
             |    CAST(count(*) OVER w AS DOUBLE) AS mov_avg
             |FROM e
             |WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
             |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin),
      "ClickHouse groupArrayMovingSum/Avg: 5-row ROWS frames per user in " +
        "declared order — integral sum/min/max, avg as one mirrored " +
        "division per row"),

    // q88: WITH FILL INTERPOLATE — linear interpolation on the dense
    // per-user hourly grid (q42's forward-fill sibling). Bracketing
    // observations are exact integers; each interpolated value is one
    // mirrored expression over four of them.
    "q88_interpolate" -> Q(
      (s, dir) => graft.operators.TimeSeries.resampleInterpolate(
        t(s, dir, "events").withColumn("vq",
          floor(col("value") * 100).cast("long")),
        keyCol = "user_id", tsCol = "ts", valueCol = "vq",
        tieBreakCol = "event_id"),
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |         epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             |         CAST(floor(value * 100) AS BIGINT) AS v
             |  FROM events),
             |obs0 AS (
             |  SELECT user_id, t // 3600000000 AS h, v,
             |         row_number() OVER (PARTITION BY user_id,
             |             t // 3600000000
             |             ORDER BY t DESC, event_id DESC) AS rn
             |  FROM e),
             |obs AS (SELECT user_id, h, v FROM obs0 WHERE rn = 1),
             |span AS (
             |  SELECT user_id, unnest(generate_series(
             |    min(t // 3600000000), max(t // 3600000000))) AS h
             |  FROM e GROUP BY user_id),
             |g AS (
             |  SELECT s.user_id, s.h, o.v,
             |    last_value(o.v IGNORE NULLS) OVER wp AS pv,
             |    last_value(CASE WHEN o.v IS NOT NULL THEN s.h END
             |      IGNORE NULLS) OVER wp AS ph,
             |    first_value(o.v IGNORE NULLS) OVER wn AS nv,
             |    first_value(CASE WHEN o.v IS NOT NULL THEN s.h END
             |      IGNORE NULLS) OVER wn AS nh
             |  FROM span s LEFT JOIN obs o USING (user_id, h)
             |  WINDOW wp AS (PARTITION BY s.user_id ORDER BY s.h
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  wn AS (PARTITION BY s.user_id ORDER BY s.h
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT user_id, h,
             |  CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
             |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
             |         CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
             |           (CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
             |       ELSE CAST(coalesce(pv, nv) AS DOUBLE) END AS v
             |FROM g""".stripMargin),
      "ClickHouse WITH FILL INTERPOLATE: dense per-user hourly grid with " +
        "linear interpolation between exact integer observations, " +
        "constant extension past the edges — same one-key-exchange " +
        "shape as q42"),

    // q89: sparkbar — ClickHouse's sparkline aggregate (daily order
    // volume rendered as ▁▂▃▄▅▆▇█ per month). Levels are integer
    // arithmetic (n·7 / max, truncating), glyphs come from character
    // substring on the literal ramp, the bar concatenates in day order —
    // every step exact, so the unicode strings hash-match.
    // BOUND (the simpleLinReg-envelope convention): floor((n·7)/max) is
    // engine-exact only while n·7 ≤ 2^53 — the double of the Long product
    // is then exact and the single division correctly rounded, so the
    // floor cannot straddle an integer boundary differently across
    // engines (and n ≤ max makes the quotient's 0..7 range exact). Daily
    // counts of ~1.3e15 would breach it; no per-day event count does.
    "q89_sparkbar" -> Q(
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
            dayofmonth(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n"))
        daily.groupBy(col("month"))
          .agg(max(col("n")).as("mx"),
            array_sort(collect_list(struct(col("day"), col("n"))))
              .as("days"))
          .select(col("month"), col("mx"),
            array_join(transform(col("days"), e =>
              substr(lit("▁▂▃▄▅▆▇█"),
                (floor((e.getField("n") * 7L).cast("double") /
                  col("mx").cast("double")) + 1L).cast("int"), lit(1))),
              "").as("bar"))
      },
      Some(sparkbarOracle),
      "ClickHouse sparkbar: daily volume as a unicode ramp per month — " +
        "integer level arithmetic + character substring, exact strings"),

    // q90: tie-aware ROC-AUC (ClickHouse arrayAUC) — classifier
    // evaluation as a first-class aggregate: AUC = U₊/(n₊·n₋) from the
    // q72 integer-exact doubled-U machinery; the one float op is the
    // final division, mirrored.
    "q90_auc" -> Q(
      (s, dir) => graft.operators.AbTests.auc(
        t(s, dir, "events").select((col("user_id") % 2).as("label"),
          floor(col("value") * 100).cast("long").as("score")),
        labelCol = "label", scoreCol = "score"),
      Some("""WITH base AS (
             |  SELECT CASE WHEN user_id % 2 = 1 THEN 0 ELSE 1 END AS g,
             |    CAST(floor(value * 100) AS BIGINT) AS v
             |  FROM events),
             |perv AS (
             |  SELECT v, count(*) AS c,
             |    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS m1
             |  FROM base GROUP BY v),
             |r AS (
             |  SELECT v, c, m1,
             |    coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND 1 PRECEDING), 0) AS below
             |  FROM perv),
             |agg AS (
             |  SELECT CAST(sum(m1) AS BIGINT) AS n1,
             |    CAST(sum(c) - sum(m1) AS BIGINT) AS n2,
             |    CAST(sum(m1 * (2 * below + c + 1)) AS BIGINT) AS r1x2
             |  FROM r)
             |SELECT n1 AS n_pos, n2 AS n_neg,
             |  CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1x2,
             |  CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) /
             |    (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS auc
             |FROM agg""".stripMargin),
      "tie-aware ROC-AUC (ClickHouse arrayAUC): exact doubled-U over the " +
        "score value domain, one mirrored division — the evaluation " +
        "metric for the t17-style classifier gates"),

    // q92: Tukey-fence series outliers (ClickHouse
    // seriesOutliersDetectTukey, adapted to the per-key aggregate shape)
    // — with the quartiles in QUARTER units the whole test is integer:
    // type-7 quartile q at fraction rem/4 gives 4q = 4·a[lo] +
    // rem·(a[lo+1]−a[lo]) (exact BIGINT), and the fences ×8 become
    // 8x < 2·Q1₄ − 3·IQR₄ / 8x > 2·Q3₄ + 3·IQR₄ — ZERO float ops, so
    // the oracle mirrors arithmetic, not rounding. Per-user sorted
    // collect is the funnel-family envelope.
    "q92_tukey_outliers" -> Q(
      (s, dir) => {
        val base = t(s, dir, "events").select(col("user_id"),
          floor(col("value") * 100).cast("long").as("v"))
        val g = base.groupBy(col("user_id"))
          .agg(array_sort(collect_list(col("v"))).as("arr"),
            count(lit(1)).as("n"))
        // numer = 4·(n−1)·p for p ∈ {¼, ¾}; lo = numer div 4 exact via
        // subtract-remainder (the divided value is a multiple of 4, so
        // the double division is exact)
        def quart4(numer: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
          val rem = pmod(numer, lit(4L))
          val lo = ((numer - rem) / lit(4L)).cast("long")
          val aLo = element_at(col("arr"), (lo + 1L).cast("int"))
          val aHi = element_at(col("arr"), least(lo + 2L, col("n")).cast("int"))
          lit(4L) * aLo + rem * (aHi - aLo)
        }
        val q = g
          .withColumn("q1_4", quart4(col("n") - 1L))
          .withColumn("q3_4", quart4(lit(3L) * (col("n") - 1L)))
          .withColumn("__iqr4", col("q3_4") - col("q1_4"))
        q.select(col("user_id"), col("n"), col("q1_4"), col("q3_4"),
          size(filter(col("arr"), x =>
            lit(8L) * x < lit(2L) * col("q1_4") - lit(3L) * col("__iqr4") ||
              lit(8L) * x > lit(2L) * col("q3_4") + lit(3L) * col("__iqr4")))
            .cast("long").as("n_outliers"))
      },
      Some("""WITH b AS (
             |  SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS v
             |  FROM events),
             |g AS (SELECT user_id, list_sort(list(v)) AS arr,
             |        count(*) AS n
             |      FROM b GROUP BY user_id),
             |q AS (SELECT user_id, n, arr,
             |        (n - 1) % 4 AS rem1, (n - 1) // 4 AS lo1,
             |        (3 * (n - 1)) % 4 AS rem3, (3 * (n - 1)) // 4 AS lo3
             |      FROM g),
             |qq AS (SELECT user_id, n, arr,
             |         4 * arr[lo1 + 1]
             |           + rem1 * (arr[least(lo1 + 2, n)] - arr[lo1 + 1])
             |           AS q1_4,
             |         4 * arr[lo3 + 1]
             |           + rem3 * (arr[least(lo3 + 2, n)] - arr[lo3 + 1])
             |           AS q3_4
             |       FROM q)
             |SELECT user_id, CAST(n AS BIGINT) AS n, q1_4, q3_4,
             |  CAST(len([x FOR x IN arr
             |            IF 8 * x < 2 * q1_4 - 3 * (q3_4 - q1_4)
             |            OR 8 * x > 2 * q3_4 + 3 * (q3_4 - q1_4)])
             |    AS BIGINT) AS n_outliers
             |FROM qq""".stripMargin),
      "Tukey-fence outlier detection (ClickHouse seriesOutliersDetectTukey " +
        "as a per-key aggregate): type-7 quartiles in quarter units keep " +
        "the whole 1.5-IQR test integral — zero float ops"),

    // q93: longest-prefix-match CIDR lookup (the ClickHouse ip_trie
    // dictionary / dictGet shape — GeoIP enrichment). The 100 TB trick is
    // the join KEY: every net here has prefix ≥ 8, so a network lies
    // inside one /8 and (ip >> 24) = (start >> 24) is an EQUI-join
    // bucket — a broadcast hash join + range filter instead of a
    // nested-loop range join; LPM = max (prefix, −k) per ip, ties
    // impossible to matter (deterministic pick mirrored in the oracle's
    // row_number). Nets derive from user_id (≤64 rows — the dictionary
    // side is always broadcast-size), ips from event_id.
    "q93_ip_trie_lookup" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val nets = ev.select((col("user_id") % 64).as("k")).distinct()
          .withColumn("p", lit(8L) + lit(4L) * (col("k") % 5))
          .withColumn("raw", (col("k") * 2654435761L) % 4294967296L)
          .withColumn("sz", expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - p AS INT))"))
          .withColumn("start", col("raw") - pmod(col("raw"), col("sz")))
          .withColumn("e", col("start") + col("sz") - 1L)
          .withColumn("bucket", floor(col("start") / lit(16777216L)).cast("long"))
        val ips = ev
          .select(((col("event_id") * 2654435761L) % 4294967296L).as("ip"))
          .groupBy(col("ip")).agg(count(lit(1)).as("cnt"))
          .withColumn("bucket", floor(col("ip") / lit(16777216L)).cast("long"))
        val lpm = ips.join(broadcast(nets), Seq("bucket"))
          .where(col("ip") >= col("start") && col("ip") <= col("e"))
          .groupBy(col("ip"))
          .agg(first(col("cnt")).as("cnt"),
            max_by(struct(col("k"), col("p")),
              struct(col("p"), (lit(-1L) * col("k")).as("nk"))).as("net"))
        lpm.groupBy(concat(lit("net"), col("net.k").cast("string")).as("label"),
            col("net.p").as("prefix_len"))
          .agg(count(lit(1)).as("n_ips"), sum(col("cnt")).as("n_events"),
            min(col("ip")).as("min_ip"), max(col("ip")).as("max_ip"))
      },
      Some("""WITH ks AS (SELECT DISTINCT user_id % 64 AS k FROM events),
             |nets AS (
             |  SELECT k, 8 + 4 * (k % 5) AS p,
             |    (k * 2654435761) % 4294967296 AS raw
             |  FROM ks),
             |n2 AS (
             |  SELECT k, p,
             |    raw - raw % (CAST(1 AS BIGINT) << CAST(32 - p AS INT)) AS s,
             |    raw - raw % (CAST(1 AS BIGINT) << CAST(32 - p AS INT))
             |      + (CAST(1 AS BIGINT) << CAST(32 - p AS INT)) - 1 AS e
             |  FROM nets),
             |ips AS (
             |  SELECT (event_id * 2654435761) % 4294967296 AS ip,
             |    count(*) AS cnt
             |  FROM events GROUP BY 1),
             |cand AS (
             |  SELECT i.ip, i.cnt, n.k, n.p
             |  FROM ips i JOIN n2 n ON i.ip >= n.s AND i.ip <= n.e),
             |lpm AS (
             |  SELECT ip, cnt, k, p,
             |    row_number() OVER (PARTITION BY ip ORDER BY p DESC, k) AS rn
             |  FROM cand)
             |SELECT concat('net', CAST(k AS VARCHAR)) AS label,
             |  p AS prefix_len,
             |  count(*) AS n_ips, CAST(sum(cnt) AS BIGINT) AS n_events,
             |  min(ip) AS min_ip, max(ip) AS max_ip
             |FROM lpm WHERE rn = 1 GROUP BY 1, 2""".stripMargin),
      "longest-prefix-match CIDR lookup (ClickHouse ip_trie dictGet): " +
        "/8-bucket EQUI-join key turns the range join into a broadcast " +
        "hash join + filter; LPM as one max_by per ip"),

    // q94: one-way ANOVA (ClickHouse analysisOfVariance) — does mean
    // order value differ across priorities? Integer evidence + the
    // 1e-6th-quantized between-terms (order-independent sum), F as one
    // mirrored tree — the experiment-statistics family's k-group member.
    "q94_anova" -> Q(
      (s, dir) => graft.operators.Stats.anovaF(
        t(s, dir, "orders").select(col("o_orderpriority").as("grp"),
          floor(col("o_totalprice") / lit(100)).cast("long").as("v")),
        groupCol = "grp", valueCol = "v"),
      Some(anovaOracle),
      "one-way ANOVA (ClickHouse analysisOfVariance): exact per-group " +
        "integer moments, 1e-6th-quantized between-terms for an " +
        "order-independent sum, F as one mirrored tree — one group-domain " +
        "exchange"),

    // q95: ClickHouse groupArrayIntersect — the per-key set that appears
    // in EVERY sub-group (here: event types a user fires on every one of
    // their active days — the habitual-action profile). Re-expressed
    // relationally: a type is in the intersection iff its distinct-day
    // count equals the user's active-day count; the string rollup
    // (sorted, comma-joined) stands in for the array result (driver
    // compare forbids ARRAY columns).
    "q95_group_array_intersect" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"),
          to_date(col("ts")).as("day"), col("event_type"))
        val days = ev.groupBy(col("user_id"))
          .agg(count_distinct(col("day")).as("n_days"))
        val perType = ev.groupBy(col("user_id"), col("event_type"))
          .agg(count_distinct(col("day")).as("n_type_days"))
        perType.join(days, Seq("user_id"))
          .groupBy(col("user_id"), col("n_days"))
          .agg(count(lit(1)).as("n_types"),
            sum(when(col("n_type_days") === col("n_days"), 1L).otherwise(0L))
              .as("n_common"),
            array_join(array_sort(collect_list(
              when(col("n_type_days") === col("n_days"), col("event_type")))),
              ",").as("common_types"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |         event_type
             |  FROM events),
             |d AS (SELECT user_id, count(DISTINCT day) AS n_days
             |      FROM e GROUP BY user_id),
             |pt AS (SELECT user_id, event_type,
             |         count(DISTINCT day) AS n_type_days
             |       FROM e GROUP BY user_id, event_type)
             |SELECT pt.user_id, d.n_days, count(*) AS n_types,
             |  CAST(sum(CASE WHEN n_type_days = n_days THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_common,
             |  coalesce(array_to_string(list_sort(list(
             |    CASE WHEN n_type_days = n_days THEN event_type END)
             |    FILTER (WHERE n_type_days = n_days)), ','), '')
             |    AS common_types
             |FROM pt JOIN d ON d.user_id = pt.user_id
             |GROUP BY pt.user_id, d.n_days""".stripMargin),
      "ClickHouse groupArrayIntersect: the per-user type set present on " +
        "EVERY active day — distinct-day counts vs the day total, no " +
        "set materialization, two group-domain exchanges"),

    // q96: ClickHouse ngramDistance / ngramSearch — fuzzy string match by
    // character 4-gram profiles (FuzzyMatch scaladoc has the exact
    // multiset contract). Map-only: the needle's gram counts fold at plan
    // time into a fixed min-of-filter-count sum over each doc's gram
    // array (fenced — built once per row); the two float statistics are
    // single mirrored divisions over exact integers.
    "q96_ngram_fuzzy" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), lower(col("text")).as("tl"))
        graft.functions.FuzzyMatch.ngramMatch(docs, "tl", NgramNeedle, n = 4)
          .select("doc_id", "na", "inter", "dist", "search")
      },
      Some(ngramFuzzyOracle),
      "ClickHouse ngramDistance/ngramSearch: 4-gram multiset profiles, " +
        "needle folded to plan-time literals — map-only fuzzy match, " +
        "integer evidence + two mirrored divisions"),

    // q97: the ClickHouse URL function family (domain / topLevelDomain /
    // firstSignificantSubdomain / path / queryString / fragment /
    // extractURLParameter / netloc / cutQueryStringAndFragment) over a
    // synthesized URL corpus hitting every branch: three host families
    // (IPv4, co.uk multi-part suffix, plain .com), userinfo, ports,
    // bare-authority paths, fragments, positional query params. Map-only
    // regex extracts + one domain-rollup exchange; every regex is the
    // portable RE2 subset and every replace is anchored (first-match ≡
    // global, the t28 discipline).
    "q97_url_functions" -> Q(
      (s, dir) => {
        import graft.functions.UrlFunctions._
        val ev = t(s, dir, "events")
          .select(col("event_id").as("id"), col("user_id").as("uid"))
        val host = when(col("id") % 13 === 0,
            concat(lit("10.0.0."), (col("uid") % 250).cast("string")))
          .when(col("id") % 7 === 0,
            concat(lit("shop"), (col("uid") % 5).cast("string"),
              lit(".example.co.uk")))
          .otherwise(concat(lit("news"), (col("uid") % 9).cast("string"),
            lit(".example.com")))
        val url = concat(
          when(col("id") % 19 === 0, lit(""))  // scheme-less, CH-style
            .when(col("id") % 3 === 0, lit("https://"))
            .otherwise(lit("http://")),
          when(col("id") % 11 === 0, lit("user:pw@")).otherwise(lit("")),
          host,
          when(col("id") % 6 === 0, lit(":8080")).otherwise(lit("")),
          when(col("id") % 17 === 0, lit(""))
            .otherwise(concat(lit("/item/"), (col("id") % 50).cast("string"))),
          when(col("id") % 2 === 0,
            concat(lit("?q="), (col("id") % 10).cast("string"), lit("&ref=x")))
            .otherwise(lit("")),
          when(col("id") % 5 === 0, lit("#sec2")).otherwise(lit("")))
        val ex = ev.select(col("id"), url.as("url"))
          .select(col("id"), col("url"),
            domain(col("url")).as("dom"),
            topLevelDomain(col("url")).as("tld"),
            firstSignificantSubdomain(col("url")).as("fsd"),
            path(col("url")).as("p"),
            queryString(col("url")).as("qs"),
            fragment(col("url")).as("frag"),
            extractURLParameter(col("url"), "q").as("qv"),
            netloc(col("url")).as("nl"),
            cutQueryStringAndFragment(col("url")).as("cut"))
        ex.groupBy(col("dom"), col("tld"), col("fsd"))
          .agg(count(lit(1)).as("n"),
            count_distinct(col("p")).as("n_paths"),
            sum(when(col("p") === "/", 1L).otherwise(0L)).as("n_bare"),
            sum(when(col("qv") =!= "", 1L).otherwise(0L)).as("n_q"),
            max(col("qv")).as("max_qv"),
            sum(when(col("frag") =!= "", 1L).otherwise(0L)).as("n_frag"),
            count_distinct(col("nl")).as("n_netlocs"),
            sum(when(col("cut") === col("url"), 1L).otherwise(0L))
              .as("n_cut_noop"),
            min(col("qs")).as("min_qs"))
      },
      Some(urlFunctionsOracle),
      "ClickHouse URL function family: domain/tld/firstSignificant" +
        "Subdomain/path/queryString/fragment/param extracts as map-only " +
        "portable regexes; domain-level rollup, every branch exercised"),

    // q98: the ClickHouse URL HIERARCHY family (URLHierarchy /
    // URLPathHierarchy / cutToFirstSignificantSubdomain) — the drill-down
    // dimension web analytics groups by at every level. Corpus: q97's
    // synthesis with MULTI-SEGMENT paths (2 levels + optional trailing
    // slash) so hierarchy depth varies 0–3; the level arrays explode back
    // to scalar rows (driver-compare constraint — never output ARRAY
    // columns). Map-only HOF/regex algebra + the explode; the oracle
    // re-derives every level with DuckDB list comprehensions, mirroring
    // the documented contract (segments collapse, non-final levels end
    // '/', query level last, fragment excluded).
    "q98_url_hierarchy" -> Q(
      (s, dir) => {
        import graft.functions.UrlFunctions._
        val ev = t(s, dir, "events")
          .select(col("event_id").as("id"), col("user_id").as("uid"))
        val host = when(col("id") % 13 === 0,
            concat(lit("10.0.0."), (col("uid") % 250).cast("string")))
          .when(col("id") % 7 === 0,
            concat(lit("shop"), (col("uid") % 5).cast("string"),
              lit(".example.co.uk")))
          .otherwise(concat(lit("news"), (col("uid") % 9).cast("string"),
            lit(".example.com")))
        val url = concat(
          when(col("id") % 19 === 0, lit(""))  // scheme-less, CH-style
            .when(col("id") % 3 === 0, lit("https://"))
            .otherwise(lit("http://")),
          host,
          when(col("id") % 6 === 0, lit(":8080")).otherwise(lit("")),
          when(col("id") % 17 === 0, lit(""))
            .otherwise(concat(lit("/cat/"), (col("id") % 5).cast("string"),
              lit("/item/"), (col("id") % 50).cast("string"),
              when(col("id") % 4 === 0, lit("/")).otherwise(lit("")))),
          when(col("id") % 2 === 0,
            concat(lit("?q="), (col("id") % 10).cast("string"), lit("&ref=x")))
            .otherwise(lit("")),
          when(col("id") % 5 === 0, lit("#sec2")).otherwise(lit("")))
        // staged hierarchy form: the self-contained Column accessors
        // embed the regex/split trees in every per-level lambda — the
        // unstaged entry benched 21 s at sf0.1 (top of the whole bench);
        // withUrlHierarchies computes the shared pieces once per row
        val base = withUrlHierarchies(
          ev.select(col("id"), url.as("url")), "url")
          .withColumn("cut_fsd",
            cutToFirstSignificantSubdomain(col("url")))
        base.select(col("id"), col("cut_fsd"),
            size(col("ph")).cast("long").as("n_path_levels"),
            coalesce(element_at(col("ph"), -1), lit("")).as("deepest_path"),
            posexplode(col("uh")))
          .select(col("id"), col("cut_fsd"), col("n_path_levels"),
            col("deepest_path"), (col("pos") + 1).cast("long").as("lvl"),
            col("col").as("level_url"))
      },
      Some(urlHierarchyOracle),
      "ClickHouse URL hierarchy family: URLHierarchy/URLPathHierarchy " +
        "levels + cutToFirstSignificantSubdomain as map-only HOF/regex " +
        "algebra, exploded to one row per drill-down level"),

    // q99: ClickHouse meanZTest — the q71 construction with KNOWN
    // population variances passed as parameters (the CH signature):
    // one 2-row integer-moment aggregate, z as one mirrored sqrt tree.
    // Distinct per-variant variances exercise both parameters.
    "q99_mean_z_test" -> Q(
      (s, dir) => graft.operators.AbTests.meanZTest(
        t(s, dir, "events").select(
          (col("user_id") % 2).cast("string").as("variant"),
          floor(col("value") * 100).cast("long").as("v")),
        "variant", "v", popVar1 = 850000.0, popVar2 = 820000.0),
      Some("""WITH base AS (
             |  SELECT CAST(user_id % 2 AS VARCHAR) AS variant,
             |    CAST(floor(value * 100) AS BIGINT) AS v
             |  FROM events),
             |m AS (SELECT variant, count(*) AS n,
             |        CAST(sum(v) AS BIGINT) AS s
             |      FROM base GROUP BY variant),
             |a AS (SELECT variant AS variant_a, n AS n1, s AS s1
             |      FROM m ORDER BY variant LIMIT 1),
             |b AS (SELECT variant AS variant_b, n AS n2, s AS s2
             |      FROM m ORDER BY variant DESC LIMIT 1),
             |j AS (SELECT * FROM a CROSS JOIN b)
             |SELECT variant_a, n1, s1, variant_b, n2, s2,
             |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1,
             |  CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean2,
             |  (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             |   - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             |  / sqrt(850000.0 / CAST(n1 AS DOUBLE)
             |         + 820000.0 / CAST(n2 AS DOUBLE)) AS z
             |FROM j""".stripMargin),
      "ClickHouse meanZTest: two-sample mean z-test with known " +
        "population variances — one 2-row integer-moment aggregate, " +
        "z as a single mirrored sqrt tree"),

    // q100: key-skew diagnosis report (Skew.skewReport scaladoc) — the
    // pre-shuffle check before joining/aggregating 100 TB on a key. The
    // corpus synthesizes a hot key: 40% of events collapse onto key −1
    // (id-keyed, both engines re-derive it), the rest keep user_id — so
    // the report must read a heavily skewed histogram. All-integer
    // output (basis points / x1000 via floored div).
    "q100_skew_report" -> Q(
      (s, dir) => graft.operators.Skew.skewReport(
        t(s, dir, "events").select(
          when(col("event_id") % 10 < 4, lit(-1L))
            .otherwise(col("user_id")).as("k")),
        "k", topK = 10),
      Some("""WITH base AS (
             |  SELECT CASE WHEN event_id % 10 < 4 THEN -1
             |              ELSE user_id END AS k
             |  FROM events),
             |c AS (SELECT k, count(*) AS cnt FROM base GROUP BY k),
             |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             |          count(*) AS n_keys,
             |          CAST(max(cnt) AS BIGINT) AS max_cnt FROM c),
             |t1 AS (SELECT k AS top1_key FROM c
             |       ORDER BY cnt DESC, k LIMIT 1),
             |tk AS (SELECT CAST(sum(cnt) AS BIGINT) AS topk_cnt,
             |         count(*) AS topk_keys
             |       FROM (SELECT cnt, k FROM c
             |             ORDER BY cnt DESC, k LIMIT 10))
             |SELECT n_rows, n_keys, max_cnt, top1_key, topk_cnt,
             |  topk_keys,
             |  (max_cnt * 10000) // n_rows AS top1_share_bp,
             |  (topk_cnt * 10000) // n_rows AS topk_share_bp,
             |  (max_cnt * 1000000) // ((n_rows * 1000) // n_keys)
             |    AS skew_x1000
             |FROM tot CROSS JOIN t1 CROSS JOIN tk""".stripMargin),
      "key-skew diagnosis: exact key histogram totals, hottest-key " +
        "share, top-k share, and uniformity factor — the pre-shuffle " +
        "report behind salting decisions; exchange carries the key " +
        "domain only"),

    // q101: the STRICT funnel through the SQL frontend — q59's exact
    // query (strict_deduplication, 24 h window) via the
    // graft_window_funnel_strict aggregate, hash-matched against q59's
    // own recursive-CTE oracle (shared verbatim): the SQL surface must
    // reproduce the Column operator's fold bit-for-bit, the q91
    // pattern one mode family up.
    "q101_funnel_strict_sql" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(expr("graft_window_funnel_strict(86400000000, " +
            "'strict_deduplication', ts, event_id, " +
            "event_type = 'view', event_type = 'click', " +
            "event_type = 'purchase')").as("level"))
      },
      Some(funnelStrictDedupOracle),
      "strict windowFunnel through the SQL frontend " +
        "(graft_window_funnel_strict aggregate): the scalar strict scan " +
        "behind a GROUP BY, hash-matched against the q59 oracle"),

    // q102: sequenceNextNode through the SQL frontend — q77's exact
    // query (forward/first_match, view→click, all-true base) via the
    // graft_sequence_next_node aggregate, hash-matched against q77's
    // own window oracle (shared verbatim): the buffered-event scalar
    // scan must reproduce the Column operator's three-window
    // formulation row-for-row. The q91/q101 pattern for path analysis.
    "q102_next_node_sql" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(expr("graft_sequence_next_node('forward', 'first_match', " +
            "ts, event_id, event_type, true, " +
            "event_type = 'view', event_type = 'click')").as("next_node"))
      },
      Some(nextNodeOracle),
      "sequenceNextNode through the SQL frontend " +
        "(graft_sequence_next_node aggregate): buffered-event scalar " +
        "scan behind a GROUP BY, hash-matched against the q77 oracle"),

    // ---- r15: the ClickHouse STATS aggregate family through the SQL
    // frontend — q71/q72/q74/q75/q76/q68's exact queries via the
    // reference-named aggregates (studentTTest, mannWhitneyUTest,
    // cramersV, simpleLinearRegression, rankCorr,
    // largestTriangleThreeBuckets), each hash-matched against the
    // shared oracle verbatim: the Aggregator finish must replay the
    // Column operator's arithmetic bit-for-bit (the q101/q102 pattern
    // across the whole stats family).
    "q103_ttest_sql" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select((col("user_id") % 2).cast("string").as("variant"),
            floor(col("value") * 100).cast("long").as("v"))
          .agg(expr("studentTTest(v, variant)").as("r"))
          .select(col("r.*"))
      },
      Some(tTestOracle),
      "studentTTest/welchTTest through the SQL frontend: per-variant " +
        "exact integer moments as aggregate state (3 longs per label, " +
        "map-side combine), the full evidence struct at finish — " +
        "hash-matched against the q71 oracle"),

    "q104_mann_whitney_sql" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select((col("user_id") % 2).as("variant"),
            floor(col("value") * 100).cast("long").as("v"))
          .agg(expr("mannWhitneyUTest(v, variant)").as("r"))
          .select(col("r.*"))
      },
      Some(mannWhitneyOracle),
      "mannWhitneyUTest through the SQL frontend: distinct-value-domain " +
        "aggregate state, tie-aware doubled-U fold at finish — " +
        "hash-matched against the q72 oracle"),

    "q105_linreg_sql" -> Q(
      (s, dir) => {
        t(s, dir, "lineitem")
          .select(col("l_returnflag").as("grp"),
            floor(col("l_quantity")).cast("long").as("x"),
            floor(col("l_extendedprice") / lit(100)).cast("long").as("y"))
          .groupBy(col("grp"))
          .agg(expr("simpleLinearRegression(x, y)").as("r"))
          .select(col("grp"), col("r.*"))
      },
      Some(linRegOracle),
      "simpleLinearRegression through the SQL frontend: six exact " +
        "integer moments as constant-size tuple state (the ideal " +
        "aggregate shape) — hash-matched against the q75 oracle"),

    "q106_cramers_v_sql" -> Q(
      (s, dir) => {
        t(s, dir, "orders")
          .agg(expr("cramersV(o_orderstatus, o_orderpriority)").as("r"))
          .select(col("r.*"))
      },
      Some(cramersVOracle),
      "cramersV through the SQL frontend: contingency-cell aggregate " +
        "state (bounded by the category domain), quantized chi-square " +
        "at finish — hash-matched against the q74 oracle"),

    "q107_rank_corr_sql" -> Q(
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("x"),
            sum(floor(col("o_totalprice") * 100).cast("long")).as("y"))
          .agg(expr("rankCorr(x, y)").as("r"))
          .select(col("r.*"))
      },
      Some(rankCorrOracle),
      "rankCorr through the SQL frontend: distinct-pair aggregate state " +
        "over the PRE-AGGREGATED day domain (the aggregate-then-rank " +
        "contract), doubled-rank fold at finish — hash-matched against " +
        "the q76 oracle"),

    // q108: sumMap/minMap/maxMap through the SQL frontend — q66's exact
    // query via the reference-named map aggregates (countMap as CH's own
    // sumMap-of-ones idiom), exploded back to scalar rows and
    // hash-matched against the q66 oracle verbatim.
    "q108_map_combinators_sql" -> Q(
      (s, dir) => {
        val kk = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
          .cast("long")
        t(s, dir, "events").select(
            (col("user_id") % 16).as("cohort"),
            map(
              concat(lit("t_"), col("event_type")),
              floor(col("value") * 100).cast("long"),
              concat(lit("k_"), (kk % 4).cast("string")), kk).as("m"))
          .groupBy(col("cohort"))
          .agg(expr("sumMap(m)").as("sum_map"),
            expr("minMap(m)").as("min_map"),
            expr("maxMap(m)").as("max_map"),
            expr("sumMap(transform_values(m, (k, v) -> CAST(1 AS BIGINT)))")
              .as("count_map"))
          .select(col("cohort"),
            explode(map_entries(col("sum_map"))).as("e"),
            col("min_map"), col("max_map"), col("count_map"))
          .select(col("cohort"), col("e.key").as("k"),
            col("e.value").as("sum_v"),
            element_at(col("min_map"), col("e.key")).as("min_v"),
            element_at(col("max_map"), col("e.key")).as("max_v"),
            element_at(col("count_map"), col("e.key")).as("cnt"))
      },
      Some(mapCombinatorsOracle),
      "sumMap/minMap/maxMap through the SQL frontend: key-domain " +
        "aggregate state behind GROUP BY, keys ascending at finish — " +
        "hash-matched against the q66 oracle"),

    // q109: arrayAUC — the CH array form over per-event-type
    // groupArray'd (score, label) pairs: the in-row sorted doubled-U
    // fold must agree with the q90 row machinery replayed per group in
    // DuckDB (AUC is a rank statistic — collect_list order is
    // irrelevant by construction).
    "q109_array_auc" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select(col("event_type").as("grp"),
            floor(col("value") * 100).cast("long").as("score"),
            (col("user_id") % 2).as("label"))
          .groupBy(col("grp"))
          .agg(collect_list(struct(col("score"), col("label"))).as("sl"),
            sum(when(col("label") === 1, 1L).otherwise(0L)).as("n_pos"),
            sum(when(col("label") === 1, 0L).otherwise(1L)).as("n_neg"))
          .select(col("grp"), col("n_pos"), col("n_neg"),
            expr("arrayAUC(transform(sl, e -> e.score), " +
              "transform(sl, e -> e.label))").as("auc"))
      },
      Some("""WITH base AS (
             |  SELECT event_type AS grp,
             |    CAST(floor(value * 100) AS BIGINT) AS v,
             |    CASE WHEN user_id % 2 = 1 THEN 0 ELSE 1 END AS g
             |  FROM events),
             |perv AS (
             |  SELECT grp, v, count(*) AS c,
             |    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS m1
             |  FROM base GROUP BY grp, v),
             |r AS (
             |  SELECT grp, v, c, m1,
             |    coalesce(sum(c) OVER (PARTITION BY grp ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS below
             |  FROM perv),
             |agg AS (
             |  SELECT grp, CAST(sum(m1) AS BIGINT) AS n1,
             |    CAST(sum(c) - sum(m1) AS BIGINT) AS n2,
             |    CAST(sum(m1 * (2 * below + c + 1)) AS BIGINT) AS r1x2
             |  FROM r GROUP BY grp)
             |SELECT grp, n1 AS n_pos, n2 AS n_neg,
             |  CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) /
             |    (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS auc
             |FROM agg""".stripMargin),
      "ClickHouse arrayAUC: per-group array form of the q90 tie-aware " +
        "AUC — map-only in-row sorted doubled-U fold (pure HOF algebra), " +
        "one mirrored division; per-group arrays are the funnel-family " +
        "envelope"),

    "q110_lttb_sql" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .groupBy(col("user_id"),
            expr("unix_micros(ts) div 1000000").as("x"))
          .agg(max(floor(col("value") * 100).cast("long")).as("y"))
          .groupBy(col("user_id"))
          .agg(expr("largestTriangleThreeBuckets(12, x, y)").as("pts"))
          .select(col("user_id"), explode(col("pts")).as("p"))
          .select(col("user_id"), col("p.x").as("x"), col("p.y").as("y"))
      },
      Some(lttbOracle),
      "largestTriangleThreeBuckets through the SQL frontend: buffered " +
        "(x, y) aggregate state, the all-integer LTTB fold at finish, " +
        "points exploded back to rows — hash-matched against the q68 " +
        "oracle"),

    // q111: dataset snapshot diff (Layout.diffSnapshots — the shared
    // join construction behind diffVersions, which LayoutSpec drives
    // through the publish machinery). Two derived document snapshots
    // simulate a release: doc_id%5==0 rows dropped (removed),
    // doc_id%7==0 rows absent from the old side (added), doc_id%3==0
    // survivors get a content bump (changed). ONE full-outer key join
    // of canonical content structs — each snapshot shuffles once — is
    // the floor for an exact diff.
    "q111_snapshot_diff" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val from = docs.where(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val to = docs.where(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") + when(col("doc_id") % 3 === 0, 1L)
              .otherwise(0L)).as("n_chars"))
        graft.operators.Layout.diffSnapshots(from, to, Seq("doc_id"))
      },
      Some("""WITH f AS (
             |  SELECT doc_id, lang, n_chars FROM documents
             |  WHERE doc_id % 7 <> 0),
             |t2 AS (
             |  SELECT doc_id, lang,
             |    n_chars + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
             |      AS n_chars
             |  FROM documents WHERE doc_id % 5 <> 0),
             |j AS (
             |  SELECT coalesce(f.doc_id, t2.doc_id) AS doc_id,
             |    CASE WHEN f.doc_id IS NULL THEN 'added'
             |         WHEN t2.doc_id IS NULL THEN 'removed'
             |         WHEN f.lang <> t2.lang OR f.n_chars <> t2.n_chars
             |           THEN 'changed' END AS change
             |  FROM f FULL OUTER JOIN t2 ON f.doc_id = t2.doc_id)
             |SELECT doc_id, change FROM j WHERE change IS NOT NULL"""
        .stripMargin),
      "dataset snapshot diff (Layout.diffSnapshots, the diffVersions " +
        "construction): added/removed/changed keys from ONE full-outer " +
        "key join of canonical content structs — the exact-diff floor; " +
        "columns prune at the scan"),

    "q112_ks_sql" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select((col("user_id") % 2).as("g"),
            floor(col("value") * 100).cast("long").as("v"))
          .agg(expr("kolmogorovSmirnovTest(v, g)").as("r"))
          .select(col("r.*"))
      },
      Some(ksOracle),
      "kolmogorovSmirnovTest through the SQL frontend: value-domain " +
        "aggregate state, the integral cumulative-max walk at finish — " +
        "hash-matched against the q81 oracle"),

    "q113_anova_sql" -> Q(
      (s, dir) => {
        t(s, dir, "orders")
          .select(col("o_orderpriority").as("grp"),
            floor(col("o_totalprice") / lit(100)).cast("long").as("v"))
          .agg(expr("analysisOfVariance(v, grp)").as("r"))
          .select(col("r.*"))
      },
      Some(anovaOracle),
      "analysisOfVariance through the SQL frontend: label-domain moment " +
        "state, the order-independent quantized between-terms and the F " +
        "tree at finish — hash-matched against the q94 oracle"),

    // q114: corrMatrix through the SQL frontend — q82's exact query via
    // the reference-named aggregate; the k x k matrix result indexes
    // back out to the flat corr_i_j columns (driver-compare constraint)
    // and hash-matches the shared generated oracle bit-for-bit.
    "q114_corr_matrix_sql" -> Q(
      (s, dir) => {
        val m = t(s, dir, "lineitem")
          .select(floor(col("l_quantity")).cast("long").as("x0"),
            floor(col("l_extendedprice") / lit(100)).cast("long").as("x1"),
            floor(col("l_discount") * 100).cast("long").as("x2"),
            floor(col("l_tax") * 100).cast("long").as("x3"))
          .agg(expr("corrMatrix(x0, x1, x2, x3)").as("r"))
        val corrs = for { i <- 0 until 4; j <- (i + 1) until 4 } yield
          col("r.corr")(i)(j).as(s"corr_${i}_$j")
        m.select(col("r.n").as("n") +: corrs: _*)
      },
      Some(corrMatrixOracle),
      "corrMatrix through the SQL frontend: one constant-size integer " +
        "moment state (1 + k + k(k+1)/2 longs, the ideal aggregate " +
        "shape), the full k x k matrix at finish — hash-matched against " +
        "the q82 oracle"),

    "q115_interval_sql" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select(col("user_id"),
            unix_micros(col("ts")).as("s_us"),
            (unix_micros(col("ts")) +
              (regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
                .cast("long") % 30 + 1) * 1000000L).as("e_us"))
          .groupBy(col("user_id"))
          .agg(expr("intervalLengthSum(s_us, e_us)").as("r"))
          .select(col("user_id"), col("r.*"))
      },
      Some(intervalOracle),
      "intervalLengthSum/maxIntersections(Position) through the SQL " +
        "frontend: distinct-interval aggregate state, the islands walk + " +
        "retire-before-open sweep at finish — hash-matched against the " +
        "q65 oracle"),

    "q116_sparkbar_sql" -> Q(
      (s, dir) => {
        t(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
            dayofmonth(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("month"))
          .agg(expr("sparkbar(day, n)").as("r"))
          .select(col("month"), col("r.*"))
      },
      Some(sparkbarOracle),
      "sparkbar through the SQL frontend: x-domain sum state, the exact " +
        "integer ramp render at finish — unicode bars hash-matched " +
        "against the q89 oracle"),

    // q117: the geo scalars through the SQL frontend — q78's spatial
    // rollup with every geohash step running through geohashEncode /
    // geohashDecode under their ClickHouse names (longitude first), the
    // same two kernel expressions the Column builders return.
    "q117_geohash_sql" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            (((col("user_id") * 2654435761L) % 180000000L).cast("double") /
              lit(1000000.0) - lit(90.0)).as("lat"),
            (((col("event_id") * 2654435761L + 40503L) % 360000000L)
              .cast("double") / lit(1000000.0) - lit(180.0)).as("lon"))
          .withColumn("gh", expr("geohashEncode(lon, lat, 6)"))
          .withColumn("d", expr("geohashDecode(gh, 6)"))
          .withColumn("rt", expr("geohashEncode(d.longitude, d.latitude, 6)")
            === col("gh"))
          .groupBy(substring(col("gh"), 1, 3).as("cell"))
          .agg(count(lit(1)).as("n"),
            count_distinct(col("user_id")).as("n_users"),
            sum(when(col("rt"), 1L).otherwise(0L)).as("n_roundtrip"),
            min(col("d.latitude")).as("min_clat"),
            max(col("d.latitude")).as("max_clat"),
            min(col("d.longitude")).as("min_clon"),
            max(col("d.longitude")).as("max_clon"))
      },
      Some(geohashOracle),
      "geohashEncode/geohashDecode through the SQL frontend (ClickHouse " +
        "argument order, one compiled kernel call per row): the q78 " +
        "spatial rollup hash-matched against the shared generated oracle"),

    // q118: the fuzzy scalars through the SQL frontend — q96's corpus
    // scored by ngramDistance/ngramSearch under their ClickHouse names;
    // the oracle WRAPS the shared q96 oracle (same needle profile, same
    // integer evidence, projected to the scalar statistics).
    "q118_ngram_sql" -> Q(
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("doc_id"), lower(col("text")).as("tl"))
          .select(col("doc_id"),
            expr(s"ngramDistance(tl, '$NgramNeedle')").as("dist"),
            expr(s"ngramSearch(tl, '$NgramNeedle')").as("search"))
      },
      Some(s"SELECT doc_id, dist, search FROM (\n$ngramFuzzyOracle\n)"),
      "ngramDistance/ngramSearch through the SQL frontend: the needle " +
        "profile folds into the plan, one fenced gram materialization — " +
        "statistics hash-matched against the wrapped q96 oracle"),

    // q119: uniqTheta through the SQL frontend — the stock DataSketches
    // rewrite in its EXACT regime (<= 1500 distinct per group, far below
    // the 4096 sketch capacity), so the estimate IS the exact distinct
    // count and takes a full DuckDB oracle; the approximate regime's
    // error bounds are t22's self-checked territory.
    "q119_uniq_theta_sql" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select(col("event_type"), (col("user_id") % 1500).as("u"))
          .groupBy(col("event_type"))
          .agg(expr("uniqTheta(u)").as("n_users_est"))
      },
      Some("""SELECT event_type,
             |  count(DISTINCT user_id % 1500) AS n_users_est
             |FROM events GROUP BY event_type""".stripMargin),
      "uniqTheta through the SQL frontend (stock theta-sketch rewrite): " +
        "exact-regime estimates hash-match the DuckDB exact distinct " +
        "count; sketch state bounded at 4096 entries per group at any " +
        "scale"),

    // q120: seriesOutliersDetectTukey — q92's all-integer fence algebra
    // as the ClickHouse IN-ROW series function: per-element outlier
    // scores (integer 8ths) over each user's (ts, id)-ordered value
    // series, exploded back to scalar rows. One user exchange; the
    // let-binding transform keeps the per-row cost at one sort.
    "q120_tukey_scores_sql" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("tt"),
            col("event_id"), floor(col("value") * 100).cast("long").as("v"))
          .groupBy(col("user_id"))
          .agg(transform(
            array_sort(collect_list(struct(col("tt"), col("event_id"),
              col("v")))), e => e.getField("v")).as("vals"))
          .withColumn("scores", expr("seriesOutliersDetectTukey(vals)"))
          .select(col("user_id"),
            posexplode(arrays_zip(col("vals"), col("scores"))))
          .select(col("user_id"), col("pos"),
            col("col.vals").as("v"), col("col.scores").as("score8"))
      },
      Some("""WITH b AS (
             |  SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS v,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
             |  FROM events),
             |d AS (
             |  SELECT user_id, v, rn,
             |    row_number() OVER (PARTITION BY user_id ORDER BY v, rn)
             |      AS sr,
             |    count(*) OVER (PARTITION BY user_id) AS n
             |  FROM b),
             |qv AS (
             |  SELECT user_id, max(n) AS n,
             |    max(CASE WHEN sr = (n - 1) // 4 + 1 THEN v END) AS a1lo,
             |    max(CASE WHEN sr = least((n - 1) // 4 + 2, n) THEN v END)
             |      AS a1hi,
             |    max(CASE WHEN sr = (3 * (n - 1)) // 4 + 1 THEN v END)
             |      AS a3lo,
             |    max(CASE WHEN sr = least((3 * (n - 1)) // 4 + 2, n) THEN v
             |      END) AS a3hi
             |  FROM d GROUP BY user_id),
             |qq AS (
             |  SELECT user_id,
             |    4 * a1lo + ((n - 1) % 4) * (a1hi - a1lo) AS q1_4,
             |    4 * a3lo + ((3 * (n - 1)) % 4) * (a3hi - a3lo) AS q3_4
             |  FROM qv),
             |f AS (SELECT user_id, 2 * q1_4 - 3 * (q3_4 - q1_4) AS lo8,
             |             2 * q3_4 + 3 * (q3_4 - q1_4) AS hi8 FROM qq)
             |SELECT b.user_id, CAST(b.rn - 1 AS INT) AS pos, b.v,
             |  CAST(CASE WHEN 8 * b.v < f.lo8 THEN 8 * b.v - f.lo8
             |            WHEN 8 * b.v > f.hi8 THEN 8 * b.v - f.hi8
             |            ELSE 0 END AS BIGINT) AS score8
             |FROM b JOIN f ON b.user_id = f.user_id""".stripMargin),
      "seriesOutliersDetectTukey as the ClickHouse in-row series kernel: " +
        "q92's integer quartile fences per user, per-element 8th-scores " +
        "position-aligned — the oracle re-derives every score with " +
        "window-ranked quartiles"),

    // q121: the IPv4 family through the SQL frontend — q73's exact query
    // with every registered name exercised (render, parse, CIDR
    // membership over the RFC1918 union, /16 block bounds via the range
    // struct's min), hash-matched against the shared q73 oracle. The
    // classful letter stays a Column composition (not a CH function).
    "q121_ip_sql" -> Q(
      (s, dir) => {
        val ip = (col("event_id") * 2654435761L) % 4294967296L
        t(s, dir, "events").select(ip.as("ip"))
          .withColumn("ip_str", expr("IPv4NumToString(ip)"))
          .select(col("ip"),
            expr("IPv4StringToNum(ip_str)").as("back"),
            graft.functions.IpFunctions.ipv4Class(col("ip")).as("cls"),
            expr("isIPAddressInRange(ip, '10.0.0.0/8') OR " +
              "isIPAddressInRange(ip, '172.16.0.0/12') OR " +
              "isIPAddressInRange(ip, '192.168.0.0/16')").as("is_private"),
            expr("IPv4CIDRToRange(ip, 16).min").as("net16"))
          .groupBy(col("cls"), col("is_private"))
          .agg(count(lit(1)).as("n"),
            count_distinct(col("net16")).as("n_nets"),
            min(col("ip")).as("min_ip"), max(col("ip")).as("max_ip"),
            sum(when(col("back") === col("ip"), 1L).otherwise(0L))
              .as("n_roundtrip"))
      },
      Some(ipFunctionsOracle),
      "the ClickHouse IPv4 family through the SQL frontend " +
        "(IPv4NumToString/StringToNum, isIPAddressInRange with plan-time " +
        "CIDR folding, IPv4CIDRToRange struct bounds) — hash-matched " +
        "against the shared q73 oracle"),

    // q122: the ClickHouse aggregate-alias battery — uniqExact / the -If
    // combinator family / argMin / argMax / groupUniqArray /
    // quantileExact as pure plan-time rewrites onto Spark built-ins
    // (count DISTINCT, FILTER clause, min_by/max_by, collect_set, the
    // sorted-collect actual-element pick - CH's nth_element rule, not
    // interpolation), all in one grouped query against a DuckDB oracle
    // using ITS spellings of the same semantics. avgIf stays
    // order-independent because every partial double sum of the cent
    // values is below 2^53 (integer-exact at any accumulation order —
    // the simpleLinReg envelope); arg ties are broken by the UNIQUE
    // o_orderkey, so min_by/arg_min agree deterministically.
    "q122_ch_alias_battery" -> Q(
      (s, dir) => {
        t(s, dir, "orders")
          .select(col("o_orderstatus"), col("o_custkey"), col("o_orderkey"),
            col("o_orderpriority"),
            floor(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy(col("o_orderstatus"))
          .agg(expr("uniqExact(o_custkey)").as("n_cust"),
            expr("countIf(cents > 10000000)").as("n_hi"),
            expr("sumIf(cents, cents > 10000000)").as("sum_hi"),
            expr("avgIf(cents, cents > 10000000)").as("avg_hi"),
            expr("minIf(cents, cents > 10000000)").as("min_hi"),
            expr("maxIf(cents, cents > 10000000)").as("max_hi"),
            expr("argMin(o_orderpriority, o_orderkey)").as("first_prio"),
            expr("argMax(o_orderpriority, o_orderkey)").as("last_prio"),
            expr("array_join(array_sort(groupUniqArray(o_orderpriority)), ',')")
              .as("prios"),
            expr("quantileExact(cents, 0.5)").as("p50"))
      },
      Some("""WITH b AS (
             |  SELECT o_orderstatus, o_custkey, o_orderkey,
             |    o_orderpriority,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders)
             |SELECT o_orderstatus,
             |  count(DISTINCT o_custkey) AS n_cust,
             |  count(*) FILTER (WHERE cents > 10000000) AS n_hi,
             |  CAST(sum(cents) FILTER (WHERE cents > 10000000) AS BIGINT)
             |    AS sum_hi,
             |  avg(cents) FILTER (WHERE cents > 10000000) AS avg_hi,
             |  CAST(min(cents) FILTER (WHERE cents > 10000000) AS BIGINT)
             |    AS min_hi,
             |  CAST(max(cents) FILTER (WHERE cents > 10000000) AS BIGINT)
             |    AS max_hi,
             |  arg_min(o_orderpriority, o_orderkey) AS first_prio,
             |  arg_max(o_orderpriority, o_orderkey) AS last_prio,
             |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
             |    AS prios,
             |  list_sort(list(cents))[CAST(least(floor(0.5 * count(cents))
             |    + 1, count(cents)) AS BIGINT)] AS p50
             |FROM b GROUP BY o_orderstatus""".stripMargin),
      "the ClickHouse aggregate-alias battery (uniqExact, countIf/sumIf/" +
        "avgIf/minIf/maxIf, argMin/argMax, groupUniqArray, quantileExact)" +
        " as pure rewrites onto Spark built-ins — one grouped query " +
        "hash-matched against DuckDB's spellings of the same semantics"),

    // q123: the ClickHouse date-function names — the hourly-rollup query
    // every migrant brings (`GROUP BY toStartOfHour(ts)`) plus the
    // Monday-based toDayOfWeek, the toYYYYMM partition arithmetic, and a
    // formatDateTime render, hash-matched against DuckDB's own
    // spellings (isodow IS Monday-based; strftime's %M is unambiguous
    // minute there).
    "q123_date_fns_sql" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select(col("ts"), col("value"))
          .groupBy(expr("toStartOfHour(ts)").as("hr"),
            expr("toDayOfWeek(ts)").as("dow"),
            expr("toYYYYMM(ts)").as("ym"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 100).cast("long")).as("v_cents"),
            min(expr("formatDateTime(ts, '%F %H:%i')")).as("first_minute"),
            max(expr("toUnixTimestamp(ts)")).as("max_ux"))
      },
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             |  CAST(isodow(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
             |  CAST(year(CAST(ts AS TIMESTAMP)) * 100 +
             |       month(CAST(ts AS TIMESTAMP)) AS INT) AS ym,
             |  count(*) AS n,
             |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             |    AS v_cents,
             |  min(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M'))
             |    AS first_minute,
             |  CAST(max(floor(epoch(CAST(ts AS TIMESTAMP)))) AS BIGINT)
             |    AS max_ux
             |FROM events GROUP BY 1, 2, 3""".stripMargin),
      "the ClickHouse date-function names (toStartOfHour grouping, " +
        "Monday-based toDayOfWeek, toYYYYMM arithmetic, formatDateTime " +
        "via the plan-time %-spec translator, toUnixTimestamp) — " +
        "hash-matched against DuckDB's own date spellings"),

    // q124: the JSONExtract family — the real props column plus a
    // synthesized nested document (object path, array index, absent
    // keys), rolled up per event type and hash-matched against DuckDB's
    // json_extract spellings with the same coalesced CH defaults.
    // Map-only extraction + one bounded type-key exchange.
    "q124_json_sql" -> Q(
      (s, dir) => {
        val js = concat(lit("{\"a\":{\"k\":"),
          (col("event_id") % 100).cast("string"),
          lit("},\"tags\":[\""), col("event_type"), lit("\",\"x\"]}"))
        t(s, dir, "events")
          .select(col("event_type"), col("props"), js.as("js"))
          .select(col("event_type"),
            expr("JSONExtractInt(js, 'a', 'k')").as("ak"),
            expr("JSONExtractString(js, 'tags', 1)").as("tag1"),
            expr("JSONExtractString(js, 'tags', 2)").as("tag2"),
            expr("JSONHas(js, 'a', 'k')").as("has_ak"),
            expr("JSONHas(js, 'zzz')").as("has_z"),
            expr("JSONExtractInt(props, 'k')").as("pk"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("ak")).as("sum_ak"),
            min(col("tag1")).as("t1"), max(col("tag2")).as("t2"),
            sum(when(col("has_ak"), 1L).otherwise(0L)).as("n_has"),
            sum(when(col("has_z"), 1L).otherwise(0L)).as("n_z"),
            sum(col("pk")).as("sum_pk"))
      },
      Some("""WITH b AS (
             |  SELECT event_type, props,
             |    '{"a":{"k":' || CAST(event_id % 100 AS VARCHAR) ||
             |    '},"tags":["' || event_type || '","x"]}' AS js
             |  FROM events),
             |e AS (SELECT event_type,
             |  coalesce(CAST(json_extract(js, '$.a.k') AS BIGINT), 0) AS ak,
             |  coalesce(json_extract_string(js, '$.tags[0]'), '') AS tag1,
             |  coalesce(json_extract_string(js, '$.tags[1]'), '') AS tag2,
             |  json_extract(js, '$.a.k') IS NOT NULL AS has_ak,
             |  json_extract(js, '$.zzz') IS NOT NULL AS has_z,
             |  coalesce(CAST(json_extract(props, '$.k') AS BIGINT), 0) AS pk
             | FROM b)
             |SELECT event_type, count(*) AS n,
             |  CAST(sum(ak) AS BIGINT) AS sum_ak,
             |  min(tag1) AS t1, max(tag2) AS t2,
             |  CAST(sum(CASE WHEN has_ak THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_has,
             |  CAST(sum(CASE WHEN has_z THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_z,
             |  CAST(sum(pk) AS BIGINT) AS sum_pk
             |FROM e GROUP BY event_type""".stripMargin),
      "the ClickHouse JSONExtract family (JSONExtractInt/String, " +
        "JSONHas; literal key + 1-based-index paths compiled to " +
        "JSONPath at plan time, CH missing-value defaults) over the " +
        "real props column and a synthesized nested document — " +
        "hash-matched against DuckDB's json_extract spellings"),

    // q125: the STRUCTURAL JSON family over the variant surface
    // (r15 verdict item 5) — JSONHas distinguishing an explicit JSON
    // null from an absent key (the r15 ADVICE deviation, now fixed, and
    // the oracle PINS the fix: DuckDB's json_type is non-NULL for an
    // explicit null), JSONLength on objects and arrays, JSONType's CH
    // type names, JSONExtractArrayRaw / JSONExtractKeys /
    // JSONExtractKeysAndValuesRaw flattened to joined strings (the
    // driver-compare no-ARRAY-columns rule), and JSONExtractInt's
    // non-integral truncation (2.5 reads 2 - the other r15 ADVICE fix).
    // Map-only: one try_parse_json per row bound by the let-binding
    // transform, then variant-binary navigation; one type-key exchange.
    "q125_json_structural" -> Q(
      (s, dir) => {
        val js = concat(lit("{\"a\":{\"k\":"),
          (col("event_id") % 100).cast("string"),
          lit("},\"n\":null,\"tags\":[\""), col("event_type"),
          lit("\",\"x\",3],\"s\":\"v\",\"d\":2.5}"))
        t(s, dir, "events")
          .select(col("event_type"), js.as("js"))
          .select(col("event_type"),
            expr("JSONLength(js)").as("len_root"),
            expr("JSONLength(js, 'tags')").as("len_tags"),
            expr("JSONLength(js, 's')").as("len_s"),
            expr("JSONType(js, 'a', 'k')").as("t_ak"),
            expr("JSONType(js, 'n')").as("t_n"),
            expr("JSONType(js, 'zz')").as("t_zz"),
            expr("JSONType(js, 'd')").as("t_d"),
            expr("JSONType(js, 'tags')").as("t_tags"),
            expr("JSONHas(js, 'n')").as("has_n"),
            expr("array_join(JSONExtractArrayRaw(js, 'tags'), '|')")
              .as("arr_raw"),
            expr("array_join(JSONExtractKeys(js), ',')").as("keys_root"),
            expr("array_join(transform(JSONExtractKeysAndValuesRaw(js, 'a')," +
              " e -> concat(e.key, '=', e.value)), '|')").as("kv_a"),
            expr("JSONExtractInt(js, 'd')").as("int_d"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("len_root")).as("sum_len_root"),
            sum(col("len_tags")).as("sum_len_tags"),
            sum(col("len_s")).as("sum_len_s"),
            min(col("t_ak")).as("t_ak"), min(col("t_n")).as("t_n"),
            min(col("t_zz")).as("t_zz"), min(col("t_d")).as("t_d"),
            min(col("t_tags")).as("t_tags"),
            sum(when(col("has_n"), 1L).otherwise(0L)).as("n_has_null_key"),
            min(col("arr_raw")).as("arr_raw"),
            min(col("keys_root")).as("keys_root"),
            max(col("kv_a")).as("max_kv"),
            sum(col("int_d")).as("sum_int_d"))
      },
      Some(jsonStructuralOracle),
      "the structural JSON family (JSONHas on explicit nulls, " +
        "JSONLength, JSONType under CH type names, JSONExtractArrayRaw/" +
        "Keys/KeysAndValuesRaw, JSONExtractInt truncation) over the " +
        "variant surface - hash-matched against DuckDB json_type/" +
        "json_keys/json_extract spellings"),

    // q126: the tier-2 date family (r15 verdict item 6) — Sunday-based
    // toStartOfWeek (CH's mode-0 default, explicit date_sub arithmetic)
    // as the GROUP key, toMonday, the 15/5-minute grid floors, the
    // add/subtract interval family (day-time and year-month legs, the
    // end-of-month clamp exercised by real data), and graft_date_diff's
    // boundary-crossing rule summed per row against the week start —
    // all mirrored in DuckDB's own spellings (its date_diff IS
    // boundary-crossing, its week IS Monday-based).
    "q126_date_tier2" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select(col("ts"))
          .select(col("ts"),
            expr("toStartOfWeek(ts)").as("wk"),
            expr("toMonday(ts)").as("mon"),
            expr("toStartOfFifteenMinutes(ts)").as("m15"),
            expr("toStartOfFiveMinutes(ts)").as("m5"),
            expr("addDays(ts, 3)").as("d3"),
            expr("subtractMonths(ts, 1)").as("msub"))
          .groupBy(col("wk"))
          .agg(count(lit(1)).as("n"),
            count_distinct(col("mon")).as("n_mondays"),
            min(col("m15")).as("min_m15"), max(col("m5")).as("max_m5"),
            min(col("d3")).as("min_d3"), max(col("msub")).as("max_msub"),
            sum(expr("graft_date_diff('hour', wk, ts)")).as("sum_dd_hr"),
            sum(expr("graft_date_diff('day', mon, ts)")).as("sum_dd_day"))
      },
      Some(dateTier2Oracle),
      "the tier-2 ClickHouse date family: Sunday-based toStartOfWeek " +
        "grouping, toMonday, N-minute grid floors, add/subtract " +
        "interval arithmetic with calendar clamps, boundary-crossing " +
        "graft_date_diff - hash-matched against DuckDB's own date " +
        "spellings"),

    // q127: the migrant smoke capstone (r15 verdict item 1) — ONE
    // multi-family ClickHouse statement run as literal SQL TEXT through
    // spark.sql (toYYYYMM + toDayOfWeek grouping, uniqExact, the -If
    // combinators with toInt64 cast names, argMax, quantileExact,
    // formatDateTime, JSONHas/JSONExtractInt over the real props
    // column, a toDate filter) and hash-matched against DuckDB. Every
    // name is the ClickHouse spelling; the ONE departure from
    // character-verbatim CH text is quantileExact's flattened argument
    // list (CH's parametric f(params)(args) syntax is grammar-level,
    // the documented G1 gap in MigrantSqlSpec). This is the end-to-end
    // proof of the r13-r16 name surface AS A WHOLE; the enumerated
    // pass/gap/trap table lives in MigrantSqlSpec.
    "q127_migrant_sql" -> Q(
      (s, dir) => {
        // only the events view: the statement touches one table, and
        // registering just it keeps the entry probeable against the
        // amplified four-table corpus (and skips nine parquet loads)
        t(s, dir, "events").createOrReplaceTempView("events")
        s.sql(
          """SELECT toYYYYMM(ts) AS ym, toDayOfWeek(ts) AS dow,
            |  count(*) AS hits,
            |  uniqExact(user_id) AS users,
            |  countIf(value > 0.5) AS n_hi,
            |  sumIf(toInt64(floor(value * 100)),
            |        event_type = 'click') AS click_cents,
            |  argMax(event_type, event_id) AS last_type,
            |  quantileExact(toInt64(floor(value * 100)), 0.5) AS p50_cents,
            |  min(formatDateTime(ts, '%F %H:%i')) AS first_slot,
            |  countIf(JSONHas(props, 'k')) AS n_with_k,
            |  max(JSONExtractInt(props, 'k')) AS max_k
            |FROM events
            |WHERE toDate(ts) >= toDate('2020-01-01')
            |GROUP BY ym, dow""".stripMargin)
      },
      Some(migrantSqlOracle),
      "the migrant smoke capstone: one multi-family ClickHouse " +
        "statement (date names, uniqExact, -If combinators, cast " +
        "names, argMax, actual-element quantileExact in the flattened " +
        "form, formatDateTime, JSON accessors) run as literal SQL " +
        "text through spark.sql and hash-matched against DuckDB"),

    // q128: the r16 scalar-vocabulary battery under a DuckDB oracle —
    // upgrades the new alias names from spec-pinned to hash-matched:
    // multiIf banding, intDiv/modulo, splitByChar + arrayStringConcat,
    // CH end-exclusive range + arrayEnumerate (both with their empty
    // guards exercised by the % 5 domain's zero), arraySum folds, the
    // bit-operator names, replaceRegexpAll (DuckDB needs its 'g' flag
    // for the same all-occurrences read), countSubstrings' exact
    // length arithmetic, leftPad/trimBoth, substringUTF8, toString.
    // Map-only kernels + one bounded band-key exchange.
    "q128_scalar_battery" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select(col("event_type"), col("value"), col("event_id"))
          .select(
            expr("multiIf(value < 0.25, 'low', value < 0.75, 'mid', " +
              "'high')").as("band"),
            expr("intDiv(event_id, 7)").as("idv"),
            expr("modulo(event_id, 7)").as("md"),
            expr("arrayStringConcat(splitByChar('_', event_type), '|')")
              .as("tok"),
            expr("arraySum(range(toInt64(event_id % 5)))").as("rng"),
            expr("arraySum(arrayEnumerate(splitByChar('e', event_type)))")
              .as("en"),
            expr("bitAnd(event_id, 255)").as("ba"),
            expr("bitXor(event_id, 129)").as("bx"),
            expr("replaceRegexpAll(event_type, '[aeiou]', '#')").as("rr"),
            expr("countSubstrings(event_type, 'e')").as("cs"),
            expr("leftPad(toString(event_id % 100), 5, '0')").as("lp"),
            expr("trimBoth(concat('  ', event_type, ' '))").as("tb"),
            expr("substringUTF8(event_type, 2, 3)").as("su"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n"),
            sum(col("idv")).as("sum_idv"), sum(col("md")).as("sum_md"),
            min(col("tok")).as("min_tok"),
            sum(col("rng")).as("sum_rng"), sum(col("en")).as("sum_en"),
            sum(col("ba")).as("sum_ba"), sum(col("bx")).as("sum_bx"),
            min(col("rr")).as("min_rr"), sum(col("cs")).as("sum_cs"),
            max(col("lp")).as("max_lp"), min(col("tb")).as("min_tb"),
            min(col("su")).as("min_su"))
      },
      Some(scalarBatteryOracle),
      "the r16 scalar-vocabulary battery (multiIf, intDiv/modulo, " +
        "splitByChar/arrayStringConcat, end-exclusive range + " +
        "arrayEnumerate with empty guards, arraySum folds, bit " +
        "operators, replaceRegexpAll, countSubstrings, leftPad, " +
        "trimBoth, substringUTF8, toString) hash-matched against " +
        "DuckDB's own spellings"),

    // q129: the ChSqlRewriter capstone (r16 verdict item 1) — a
    // formerly-GAP ClickHouse dashboard statement run END TO END
    // through the migrant front door and hash-matched against DuckDB.
    // The text hits FOUR of the measured r16 gaps at once: zero-arg
    // count(), the parametric quantileExact(φ)(v) syntax, LIMIT n BY
    // (the per-key top-n clause the reference's status dashboards use,
    // migrations/sample_test.sql's status×date shape), and a SETTINGS
    // suffix. Raw spark.sql REJECTS this text (MigrantSqlSpec pins the
    // parse errors); ChSqlRewriter lowers it to one aggregate + a
    // row_number window that the TopKPerKey optimizer rule plans onto
    // the HEAP operator — the physical plan carries TopKPerKey
    // partial+final pairs and NO Window node (PLANS_r17 fingerprint:
    // 3 Exchanges, 2 ObjectHashAggregate, 2 TopKPerKey, 0 Window,
    // 0 CartesianProduct). Scale: every exchange is key-hash
    // partitioned, no driver-side work.
    "q129_ch_rewriter" -> Q(
      (s, dir) => {
        t(s, dir, "events").createOrReplaceTempView("events")
        graft.plans.ChSqlRewriter.sql(s,
          """SELECT event_type, user_id, count() AS n,
            |  quantileExact(0.5)(toInt64(floor(value * 1000))) AS med
            |FROM events
            |GROUP BY event_type, user_id
            |ORDER BY n DESC, user_id
            |LIMIT 2 BY event_type
            |SETTINGS max_threads = 4""".stripMargin)
      },
      Some(chRewriterOracle),
      "the dialect pre-rewriter capstone: a formerly-GAP ClickHouse " +
        "statement (count(), parametric quantileExact, LIMIT n BY, " +
        "SETTINGS) run verbatim through ChSqlRewriter.sql and " +
        "hash-matched against DuckDB's row_number spelling"),

    // q130: WITH TOTALS through the front door — the rewriter lowers
    // it to GROUPING SETS ((keys), ()), DuckDB runs the same GROUPING
    // SETS natively, and the hash-match pins BOTH the per-key rows and
    // the NULL-key grand-total row (the documented deviation from CH's
    // type-default totals row is thereby load-bearing: the oracle
    // asserts the NULL read). One exchange, grouping-set expansion is
    // map-side — the stock rollup plan shape.
    "q130_ch_with_totals" -> Q(
      (s, dir) => {
        t(s, dir, "events").createOrReplaceTempView("events")
        graft.plans.ChSqlRewriter.sql(s,
          """SELECT event_type, count() AS n,
            |  sumIf(toInt64(floor(value * 100)),
            |        event_type = 'view') AS view_cents
            |FROM events GROUP BY event_type WITH TOTALS;""".stripMargin)
      },
      Some(
        """SELECT event_type, count(*) AS n,
          |  CAST(sum(CAST(floor(value * 100) AS BIGINT))
          |    FILTER (WHERE event_type = 'view') AS BIGINT) AS view_cents
          |FROM events
          |GROUP BY GROUPING SETS ((event_type), ())""".stripMargin),
      "GROUP BY ... WITH TOTALS verbatim through ChSqlRewriter " +
        "(lowered to GROUPING SETS ((keys), ())), hash-matched against " +
        "DuckDB's native GROUPING SETS incl. the NULL-key totals row"),

    // q131: ORDER BY ... WITH FILL STEP through the front door — the
    // rewriter lowers it to a sequence() axis LEFT-JOINED back to the
    // aggregate (TimeSeries.resampleFill's shape in pure SQL); DuckDB
    // mirrors with generate_series. The axis is two scalar-subquery
    // broadcasts + one keyed join — nothing driver-side, linear in the
    // axis length.
    "q131_ch_with_fill" -> Q(
      (s, dir) => {
        t(s, dir, "events").createOrReplaceTempView("events")
        graft.plans.ChSqlRewriter.sql(s,
          """SELECT toStartOfDay(ts) AS d, count() AS n,
            |  uniqExact(user_id) AS users
            |FROM events GROUP BY d
            |ORDER BY d WITH FILL STEP INTERVAL 1 DAY""".stripMargin)
      },
      Some(
        """WITH src AS (
          |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
          |      AS TIMESTAMP) AS d,
          |    count(*) AS n, count(DISTINCT user_id) AS users
          |  FROM events GROUP BY 1),
          |axis AS (
          |  SELECT unnest(generate_series(
          |    (SELECT min(d) FROM src), (SELECT max(d) FROM src),
          |    INTERVAL 1 DAY)) AS d)
          |SELECT axis.d AS d, n, users
          |FROM axis LEFT JOIN src USING (d)""".stripMargin),
      "ORDER BY ... WITH FILL STEP INTERVAL 1 DAY verbatim through " +
        "ChSqlRewriter (sequence-axis LEFT JOIN), hash-matched against " +
        "DuckDB's generate_series spelling"),

    // q132: the r17 scalar batch under a DuckDB oracle (the q128
    // pattern: upgrade new alias names from spec-pinned to
    // hash-matched). Covers the array push/pop/resize/concat/product/
    // uniq/intersect family, hasAll/hasAny, positionCaseInsensitive,
    // bitCount, exp2, isFinite, monthName/toLastDayOfMonth/
    // toStartOfSecond/timeSlot, and formatReadableSize (input kept in
    // the exact-integer byte range - printf tie-rounding differs
    // Java-vs-C at .xx5 boundaries, the q128 float discipline). bar and
    // now64 stay spec-pinned (DuckDB's bar renderer differs; now64 is
    // nondeterministic). Map-only kernels + one band-key exchange.
    "q132_scalar_batch2" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select(col("event_type"), col("event_id"), col("value"),
            col("ts"))
          .select(col("event_type"),
            expr("arrayStringConcat(arrayReverseSort(arrayConcat(" +
              "splitByChar('e', event_type), " +
              "array(toString(event_id % 3)))), ',')").as("arr_render"),
            expr("arrayUniq(arrayPushBack(" +
              "splitByChar('_', event_type), 'x'))").as("uniq_n"),
            expr("arrayStringConcat(arrayPopFront(arrayPushFront(" +
              "splitByChar('_', event_type), 'h')), '-')").as("poppush"),
            expr("arrayStringConcat(arrayResize(" +
              "splitByChar('_', event_type), 3, 'z'), '+')").as("resized"),
            expr("hasAll(splitByChar('_', event_type), array('view'))")
              .as("has_view"),
            expr("hasAny(splitByChar('_', event_type), " +
              "array('cart', 'view'))").as("has_any"),
            expr("arrayStringConcat(arraySort(arrayIntersect(" +
              "splitByChar('_', event_type), " +
              "array('view', 'cart', 'add'))), '/')").as("inter"),
            expr("positionCaseInsensitive(event_type, 'E')").as("pci"),
            expr("bitCount(event_id)").as("bits"),
            expr("exp2(toInt64(event_id % 4))").as("p2"),
            expr("isFinite(value)").as("fin"),
            expr("monthName(ts)").as("mname"),
            expr("toLastDayOfMonth(ts)").as("ldm"),
            expr("toStartOfSecond(ts)").as("tss"),
            expr("timeSlot(ts)").as("slot"),
            expr("arrayProduct(array(CAST(toInt64(event_id % 5) + 1L " +
              "AS DOUBLE), 2.0d))").as("prod"),
            expr("formatReadableSize(event_id % 1000)").as("frs"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            min(col("arr_render")).as("min_arr"),
            sum(col("uniq_n")).as("sum_uniq"),
            min(col("poppush")).as("min_pp"),
            min(col("resized")).as("min_rz"),
            sum(when(col("has_view"), 1L).otherwise(0L)).as("n_has_view"),
            sum(when(col("has_any"), 1L).otherwise(0L)).as("n_has_any"),
            min(col("inter")).as("min_inter"),
            sum(col("pci")).as("sum_pci"),
            sum(col("bits")).as("sum_bits"),
            sum(col("p2")).as("sum_p2"),
            sum(when(col("fin"), 1L).otherwise(0L)).as("n_fin"),
            min(col("mname")).as("min_mn"),
            max(col("ldm")).as("max_ldm"),
            min(col("tss")).as("min_tss"),
            min(col("slot")).as("min_slot"),
            sum(col("prod")).as("sum_prod"),
            max(col("frs")).as("max_frs"))
      },
      Some(scalarBatch2Oracle),
      "the r17 scalar batch (array push/pop/resize/concat/product/" +
        "uniq/intersect, hasAll/hasAny, positionCaseInsensitive, " +
        "bitCount, exp2, isFinite, monthName, toLastDayOfMonth, " +
        "toStartOfSecond, timeSlot, formatReadableSize) hash-matched " +
        "against DuckDB's list/bit/date spellings"),

    // q133: the r17 batch-2 names under a DuckDB oracle — the remaining
    // URL accessors (protocol/pathFull/cutQueryString/cutFragment/
    // extractURLParameters, mirrored token-for-token as regex algebra,
    // the q97 convention), the -Array aggregate combinators
    // (sumArray/minArray/maxArray/avgArray/groupArrayArray),
    // roundDuration/roundAge's fixed CH bucket sets (CASE mirrors), and
    // fromUnixTimestamp (string render on both sides — DuckDB's
    // to_timestamp returns TIMESTAMPTZ). Map-only + one source-key
    // exchange.
    "q133_scalar_batch3" -> Q(
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("source"), col("doc_id"))
          .select(col("source"),
            expr("concat('https://u:p@www.', source, " +
              "'.example.co.uk:8443/p/', toString(doc_id % 20), '?x=', " +
              "toString(doc_id % 3), '&y=2#f')").as("url"),
            expr("array(toInt64(doc_id % 7), toInt64(doc_id % 3))")
              .as("a"),
            col("doc_id"))
          .select(col("source"), col("a"),
            expr("protocol(url)").as("proto"),
            expr("pathFull(url)").as("pf"),
            expr("cutQueryString(url)").as("cqs"),
            expr("cutFragment(url)").as("cf"),
            expr("arrayStringConcat(extractURLParameters(url), '&')")
              .as("ups"),
            expr("decodeURLComponent(concat('a%20', " +
              "toString(doc_id % 5)))").as("dec"),
            expr("encodeURLComponent(concat(source, ' x'))").as("enc"),
            expr("roundDuration(doc_id % 40000)").as("rd"),
            expr("roundAge(doc_id % 90)").as("ra"),
            expr("CAST(fromUnixTimestamp(doc_id % 100000) AS STRING)")
              .as("fut"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            min(col("proto")).as("min_proto"),
            min(col("pf")).as("min_pf"),
            min(col("cqs")).as("min_cqs"),
            min(col("cf")).as("min_cf"),
            min(col("ups")).as("min_ups"),
            max(col("dec")).as("max_dec"),
            min(col("enc")).as("min_enc"),
            expr("sumArray(a)").as("sum_a"),
            expr("minArray(a)").as("min_a"),
            expr("maxArray(a)").as("max_a"),
            expr("avgArray(a)").as("avg_a"),
            expr("CAST(size(groupArrayArray(a)) AS LONG)").as("gaa_n"),
            sum(col("rd")).as("sum_rd"),
            sum(col("ra")).as("sum_ra"),
            min(col("fut")).as("min_fut"))
      },
      Some(scalarBatch3Oracle),
      "the r17 batch-2 names (protocol/pathFull/cutQueryString/" +
        "cutFragment/extractURLParameters, URL encode/decode, the " +
        "-Array aggregate combinators, roundDuration/roundAge bucket " +
        "sets, fromUnixTimestamp) hash-matched against DuckDB's " +
        "regex/list/CASE spellings"),

    // q134: ASOF JOIN through the front door (r17 verdict item 1 —
    // the last operator-shaped migrant gap). The formerly-GAP
    // ClickHouse spelling runs verbatim through ChSqlRewriter, which
    // lowers it onto the q28 union + running-window construction in
    // pure SQL (AsOfJoin.backward's shape: ONE shuffle on the equi
    // key, a running last-ignoreNulls window, never the O(|L|·|R|)
    // theta-join intermediate) — hash-matched against DuckDB's NATIVE
    // `ASOF JOIN`. The right side is pre-deduplicated to one row per
    // (key, ts) inside the statement itself — q28's determinism rule
    // (as-of ties on the right timestamp are arbitrary in any engine).
    // argMax/the subquery flow through the same rewrite untouched.
    "q134_ch_asof_join" -> Q(
      (s, dir) => {
        views(s, dir)
        graft.plans.ChSqlRewriter.sql(s,
          """SELECT e.event_id AS event_id, e.user_id AS user_id,
            |  e.ts AS ts, o.last_orderkey AS last_orderkey,
            |  o.last_order_price AS last_order_price
            |FROM events e ASOF JOIN (
            |  SELECT o_custkey, o_orderdate,
            |    max(o_orderkey) AS last_orderkey,
            |    argMax(o_totalprice, o_orderkey) AS last_order_price
            |  FROM orders GROUP BY o_custkey, o_orderdate) o
            |ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate"""
            .stripMargin)
      },
      Some("""WITH ord AS (
             |  SELECT o_custkey, o_orderdate,
             |         max(o_orderkey) AS last_orderkey,
             |         arg_max(o_totalprice, o_orderkey) AS last_order_price
             |  FROM orders GROUP BY o_custkey, o_orderdate)
             |SELECT e.event_id AS event_id, e.user_id AS user_id,
             |       CAST(e.ts AS TIMESTAMP) AS ts,
             |       ord.last_orderkey, ord.last_order_price
             |FROM events e ASOF JOIN ord
             |  ON e.user_id = ord.o_custkey
             |  AND e.ts >= ord.o_orderdate""".stripMargin),
      "ClickHouse ASOF JOIN verbatim through ChSqlRewriter (lowered " +
        "onto the q28 union+window construction, one key shuffle), " +
        "hash-matched against DuckDB's native ASOF JOIN"),

    // q135: ANY LEFT JOIN through the front door (r17 verdict item 2).
    // CH's ANY strictness keeps the FIRST matching right row per key —
    // the rewriter pre-aggregates the right side to one row per join
    // key with min(struct(*)) (deterministic field-order-lexicographic
    // pick; CH leaves "any" UNDEFINED, so a deterministic pick refines
    // the contract) and joins plain LEFT. orders' first struct field
    // is o_orderkey (unique), so the pick IS the min-orderkey row —
    // which the DuckDB oracle replays as a row_number()=1 filter. Row
    // multiplicity is pinned by MigrantSqlSpec (count == left count).
    // Scale: one keyed exchange of the right side with map-side
    // partial min + the join itself — strictly cheaper than the
    // join-then-dedup a migrant would hand-write.
    "q135_ch_any_join" -> Q(
      (s, dir) => {
        views(s, dir)
        graft.plans.ChSqlRewriter.sql(s,
          """SELECT e.event_type, o.o_orderstatus AS st, count() AS n,
            |  sum(toInt64(floor(o.o_totalprice))) AS whole,
            |  max(o.o_orderkey) AS max_ok
            |FROM events e ANY LEFT JOIN orders o
            |  ON e.user_id = o.o_custkey
            |GROUP BY e.event_type, st""".stripMargin)
      },
      Some("""WITH o1 AS (
             |  SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY o_custkey
             |        ORDER BY o_orderkey) AS rn
             |    FROM orders) WHERE rn = 1)
             |SELECT e.event_type, o1.o_orderstatus AS st, count(*) AS n,
             |  CAST(sum(CAST(floor(o1.o_totalprice) AS BIGINT))
             |    AS BIGINT) AS whole,
             |  max(o1.o_orderkey) AS max_ok
             |FROM events e LEFT JOIN o1 ON e.user_id = o1.o_custkey
             |GROUP BY e.event_type, st""".stripMargin),
      "ClickHouse ANY LEFT JOIN verbatim through ChSqlRewriter " +
        "(right side pre-aggregated to one deterministic row per key), " +
        "hash-matched against DuckDB's row_number()=1 replay of the " +
        "same first-match pick"),

    // q136: WITH FILL ... INTERPOLATE (n AS linear) through the front
    // door (r17 verdict item 3 — the last WITH FILL residue). The
    // rewriter lowers the graft linear extension onto the q88 bracket
    // construction in pure SQL: carry-last windows up and down the
    // fill axis capture (prev, next) observation value+position, one
    // mirrored expression over four exact doubles interpolates — CH's
    // own INTERPOLATE cannot express this (it iterates an expression
    // over the PREVIOUS row only). The user_id % 59 = 3 slice leaves
    // real gaps at every SF (9/24 days at sf0.001, 23/30 at sf0.01).
    // Exactness: n is an integral count and the day axis is whole
    // epoch seconds, so every window input is an exact double and the
    // final (sub, sub, div, mul, add) chain is mirrored token-for-token
    // in the oracle (the q88 discipline). uniqExact stays NULL on fill
    // rows — INTERPOLATE touches only its named column.
    "q136_ch_interpolate" -> Q(
      (s, dir) => {
        t(s, dir, "events").createOrReplaceTempView("events")
        graft.plans.ChSqlRewriter.sql(s,
          """SELECT toStartOfDay(ts) AS d, count() AS n,
            |  uniqExact(user_id) AS users
            |FROM events
            |WHERE event_type = 'purchase' AND user_id % 59 = 3
            |GROUP BY d
            |ORDER BY d WITH FILL STEP INTERVAL 1 DAY
            |INTERPOLATE (n AS linear)""".stripMargin)
      },
      Some("""WITH src AS (
             |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
             |      AS TIMESTAMP) AS d,
             |    count(*) AS n, count(DISTINCT user_id) AS users,
             |    1 AS obs
             |  FROM events
             |  WHERE event_type = 'purchase' AND user_id % 59 = 3
             |  GROUP BY 1),
             |axis AS (
             |  SELECT unnest(generate_series(
             |    (SELECT min(d) FROM src), (SELECT max(d) FROM src),
             |    INTERVAL 1 DAY)) AS d),
             |g AS (
             |  SELECT axis.d AS d, src.n, src.users, src.obs,
             |    last_value(CASE WHEN src.obs IS NOT NULL
             |        AND src.n IS NOT NULL
             |      THEN {'v': CAST(src.n AS DOUBLE),
             |            'h': CAST(epoch(axis.d) AS DOUBLE)}
             |      END IGNORE NULLS) OVER wp AS p,
             |    first_value(CASE WHEN src.obs IS NOT NULL
             |        AND src.n IS NOT NULL
             |      THEN {'v': CAST(src.n AS DOUBLE),
             |            'h': CAST(epoch(axis.d) AS DOUBLE)}
             |      END IGNORE NULLS) OVER wn AS nn
             |  FROM axis LEFT JOIN src USING (d)
             |  WINDOW wp AS (ORDER BY axis.d
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  wn AS (ORDER BY axis.d
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT d,
             |  CASE WHEN obs IS NOT NULL THEN CAST(n AS DOUBLE)
             |       WHEN p IS NOT NULL AND nn IS NOT NULL THEN
             |         p.v + (nn.v - p.v) *
             |           ((CAST(epoch(d) AS DOUBLE) - p.h) / (nn.h - p.h))
             |       ELSE coalesce(p.v, nn.v) END AS n,
             |  users
             |FROM g""".stripMargin),
      "WITH FILL INTERPOLATE (n AS linear) verbatim through " +
        "ChSqlRewriter (the q88 bracket construction in pure SQL), " +
        "hash-matched against DuckDB's generate_series + " +
        "last_value/first_value spelling incl. the exact interpolation " +
        "doubles"),

    // q138: the FORWARD ASOF direction through the front door — the
    // `<=` inequality (smallest right ts at-or-after the left ts: the
    // "next scheduled event" read) that q134's backward entry does not
    // exercise, hash-matched against DuckDB's native forward ASOF. The
    // lowering flips the window to time-DESCENDING with right rows
    // first at ties (inclusive) — this entry proves that leg on data,
    // not just in the text pins. Same one-shuffle shape as q134.
    "q138_ch_asof_forward" -> Q(
      (s, dir) => {
        views(s, dir)
        graft.plans.ChSqlRewriter.sql(s,
          """SELECT e.event_id AS event_id, e.user_id AS user_id,
            |  e.ts AS ts, o.next_orderkey AS next_orderkey
            |FROM events e ASOF JOIN (
            |  SELECT o_custkey, o_orderdate,
            |    min(o_orderkey) AS next_orderkey
            |  FROM orders GROUP BY o_custkey, o_orderdate) o
            |ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate"""
            .stripMargin)
      },
      Some("""WITH ord AS (
             |  SELECT o_custkey, o_orderdate,
             |         min(o_orderkey) AS next_orderkey
             |  FROM orders GROUP BY o_custkey, o_orderdate)
             |SELECT e.event_id AS event_id, e.user_id AS user_id,
             |       CAST(e.ts AS TIMESTAMP) AS ts, ord.next_orderkey
             |FROM events e ASOF JOIN ord
             |  ON e.user_id = ord.o_custkey
             |  AND e.ts <= ord.o_orderdate""".stripMargin),
      "forward ASOF JOIN (<=) verbatim through ChSqlRewriter, " +
        "hash-matched against DuckDB's native forward ASOF"),

    // q139: the STRICT + LEFT ASOF legs on TIE-HEAVY data — the left
    // timestamps are day-truncated in a subquery so left-day ==
    // right-orderdate ties are COMMON, making `>` vs `>=` genuinely
    // discriminating (q134's raw event times never tie with date
    // midnights), and LEFT keeps unmatched rows with NULLs. DuckDB's
    // native `ASOF LEFT JOIN ... >` replays both. Tie handling in the
    // lowering: strict sorts left rows BEFORE right at equal ts, so
    // the same-day order is invisible — exactly CH's strict read.
    "q139_ch_asof_strict_left" -> Q(
      (s, dir) => {
        views(s, dir)
        graft.plans.ChSqlRewriter.sql(s,
          """SELECT e.event_id AS event_id, e.d AS d,
            |  o.last_orderkey AS last_orderkey
            |FROM (SELECT event_id, user_id, toStartOfDay(ts) AS d
            |      FROM events) e
            |ASOF LEFT JOIN (
            |  SELECT o_custkey, o_orderdate,
            |    max(o_orderkey) AS last_orderkey
            |  FROM orders GROUP BY o_custkey, o_orderdate) o
            |ON e.user_id = o.o_custkey AND e.d > o.o_orderdate"""
            .stripMargin)
      },
      Some("""WITH ev AS (
             |  SELECT event_id, user_id,
             |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
             |      AS TIMESTAMP) AS d
             |  FROM events),
             |ord AS (
             |  SELECT o_custkey, o_orderdate,
             |         max(o_orderkey) AS last_orderkey
             |  FROM orders GROUP BY o_custkey, o_orderdate)
             |SELECT ev.event_id AS event_id, ev.d AS d,
             |       ord.last_orderkey
             |FROM ev ASOF LEFT JOIN ord
             |  ON ev.user_id = ord.o_custkey
             |  AND ev.d > ord.o_orderdate""".stripMargin),
      "strict (>) LEFT ASOF JOIN on tie-heavy day-truncated data " +
        "verbatim through ChSqlRewriter, hash-matched against DuckDB's " +
        "native strict forward-excluding ASOF LEFT - pins both the " +
        "equal-ts exclusion and the NULL-keeping outer leg"),

    // q137: the r18 scalar batch under a DuckDB oracle (the q128/q132
    // pattern). Covers arrayCumSum/arrayDifference/arrayEnumerateDense
    // (fixed-width arrays mirrored scalar-wise in the oracle),
    // arrayRotateLeft over variable-length token lists (DuckDB list
    // slicing replays the pmod rotation), startsWith/endsWith,
    // alphaTokens, concatWithSeparator, substringIndex, the
    // relative-time bucket numbers, timeSlots (slot COUNT - the grid
    // arithmetic - since arrays can't cross the driver compare),
    // toModifiedJulianDay, add/subtract timestamp arithmetic rendered
    // as whole-second strings, the vector-distance family over
    // integer-valued doubles (sums of exact integers are
    // associativity-safe; sqrt is correctly rounded - both engines
    // bit-match; cosine compared via min/max, order-independent), and
    // the bitTest probes. formatReadableQuantity stays spec-pinned
    // (printf tie-rounding, the q128 discipline). All map-only kernels
    // + one type-key exchange.
    "q137_scalar_batch4" -> Q(
      (s, dir) => {
        t(s, dir, "events")
          .select(col("event_type"), col("event_id"), col("user_id"),
            col("ts"))
          .select(col("event_type"),
            expr("arrayStringConcat(arrayMap(v -> toString(v), " +
              "arrayCumSum(array(toInt64(event_id % 5), " +
              "toInt64(user_id % 7), 3L))), ',')").as("cs"),
            expr("arrayStringConcat(arrayMap(v -> toString(v), " +
              "arrayDifference(array(toInt64(event_id % 9), " +
              "toInt64(user_id % 5), 0L))), ',')").as("ad"),
            expr("arrayStringConcat(arrayMap(v -> toString(v), " +
              "arrayEnumerateDense(array(event_id % 3, event_id % 3, " +
              "user_id % 3))), ',')").as("aed"),
            expr("arrayStringConcat(arrayRotateLeft(" +
              "splitByChar('_', event_type), " +
              "toInt32(event_id % 3)), '/')").as("rot"),
            expr("startsWith(event_type, 'p')").as("sw"),
            expr("endsWith(event_type, 'w')").as("ew"),
            expr("arrayStringConcat(alphaTokens(concat(event_type, " +
              "'1x')), '-')").as("at"),
            expr("concatWithSeparator('|', event_type, " +
              "toString(event_id % 4))").as("cws"),
            expr("substringIndex(concat(event_type, '.ex.com'), '.', 2)")
              .as("si"),
            expr("toRelativeDayNum(ts)").as("rdn"),
            expr("toRelativeHourNum(ts)").as("rhn"),
            expr("CAST(size(timeSlots(ts, 1800 + (event_id % 3) * 1800))" +
              " AS LONG)").as("nslots"),
            expr("toModifiedJulianDay(toDate(ts))").as("mjd"),
            expr("CAST(addDays(toStartOfSecond(ts), 1) AS STRING)")
              .as("addd"),
            expr("CAST(subtractHours(toStartOfSecond(ts), 2) AS STRING)")
              .as("subh"),
            expr("dotProduct(array(toInt64(event_id % 7), 2L), " +
              "array(3L, toInt64(user_id % 5)))").as("dp"),
            expr("L1Distance(array(toInt64(event_id % 7), 0L), " +
              "array(0L, toInt64(user_id % 5)))").as("l1"),
            expr("L2Distance(array(toInt64(event_id % 7), 0L), " +
              "array(0L, toInt64(user_id % 5)))").as("l2"),
            expr("LinfDistance(array(toInt64(event_id % 7), 0L), " +
              "array(0L, toInt64(user_id % 5)))").as("linf"),
            expr("cosineDistance(array(toInt64(event_id % 7), 2L), " +
              "array(3L, toInt64(user_id % 5)))").as("cosd"),
            expr("bitTest(event_id, 3)").as("bt"),
            expr("bitTestAny(event_id, 0, 1)").as("bta"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            min(col("cs")).as("min_cs"),
            min(col("ad")).as("min_ad"),
            min(col("aed")).as("min_aed"),
            min(col("rot")).as("min_rot"),
            sum(when(col("sw"), 1L).otherwise(0L)).as("n_sw"),
            sum(when(col("ew"), 1L).otherwise(0L)).as("n_ew"),
            min(col("at")).as("min_at"),
            min(col("cws")).as("min_cws"),
            min(col("si")).as("min_si"),
            sum(col("rdn")).as("sum_rdn"),
            sum(col("rhn")).as("sum_rhn"),
            sum(col("nslots")).as("sum_nslots"),
            sum(col("mjd")).as("sum_mjd"),
            min(col("addd")).as("min_addd"),
            max(col("subh")).as("max_subh"),
            sum(col("dp")).as("sum_dp"),
            sum(col("l1")).as("sum_l1"),
            max(col("l2")).as("max_l2"),
            sum(col("linf")).as("sum_linf"),
            min(col("cosd")).as("min_cosd"),
            max(col("cosd")).as("max_cosd"),
            sum(col("bt")).as("sum_bt"),
            sum(when(col("bta"), 1L).otherwise(0L)).as("n_bta"))
      },
      Some(scalarBatch4Oracle),
      "the r18 scalar batch (array scans, string predicates, " +
        "relative-time numbers, timeSlots grid arithmetic, MJD, " +
        "add/subtract arithmetic, vector distances incl. an exact " +
        "cosine, bit probes) hash-matched against DuckDB's " +
        "scalar-wise/list spellings"))

  /** The q125 oracle: the structural JSON family re-derived with
    * DuckDB's json_type/json_keys/json_extract. Key pin: DuckDB's
    * `json_type` is non-NULL ('NULL') for an explicit JSON null and SQL
    * NULL for an absent path — exactly the distinction the fixed
    * JSONHas draws on the variant surface. The type-name CASE maps
    * DuckDB's names onto CH's (UBIGINT/BIGINT → Int64, VARCHAR →
    * String, ...), mirroring the engine's schema_of_variant mapping.
    */
  private def jsonStructuralOracle: String = {
    def chType(path: String): String =
      s"""CASE coalesce(json_type(js, '$path'), 'MISSING')
         |    WHEN 'VARCHAR' THEN 'String' WHEN 'BIGINT' THEN 'Int64'
         |    WHEN 'UBIGINT' THEN 'Int64' WHEN 'DOUBLE' THEN 'Double'
         |    WHEN 'BOOLEAN' THEN 'Bool' WHEN 'ARRAY' THEN 'Array'
         |    WHEN 'OBJECT' THEN 'Object' ELSE 'Null' END""".stripMargin
    def chLen(path: String): String = {
      val p = if (path.isEmpty) "js" else s"js, '$path'"
      s"""CASE WHEN json_type($p) = 'ARRAY'
         |    THEN CAST(json_array_length($p) AS BIGINT)
         |    WHEN json_type($p) = 'OBJECT'
         |    THEN CAST(len(json_keys($p)) AS BIGINT)
         |    ELSE 0 END""".stripMargin
    }
    s"""WITH b AS (
       |  SELECT event_type,
       |    '{"a":{"k":' || CAST(event_id % 100 AS VARCHAR) ||
       |    '},"n":null,"tags":["' || event_type ||
       |    '","x",3],"s":"v","d":2.5}' AS js
       |  FROM events),
       |e AS (SELECT event_type,
       |  ${chLen("")} AS len_root,
       |  ${chLen("$.tags")} AS len_tags,
       |  ${chLen("$.s")} AS len_s,
       |  ${chType("$.a.k")} AS t_ak,
       |  ${chType("$.n")} AS t_n,
       |  ${chType("$.zz")} AS t_zz,
       |  ${chType("$.d")} AS t_d,
       |  ${chType("$.tags")} AS t_tags,
       |  json_type(js, '$$.n') IS NOT NULL AS has_n,
       |  array_to_string(list_transform(
       |    range(CAST(json_array_length(js, '$$.tags') AS BIGINT)),
       |    i -> CAST(json_extract(js, '$$.tags[' || i || ']') AS VARCHAR)),
       |    '|') AS arr_raw,
       |  array_to_string(list_sort(json_keys(js)), ',') AS keys_root,
       |  array_to_string(list_transform(list_sort(json_keys(js, '$$.a')),
       |    k -> k || '=' || CAST(json_extract(js, '$$.a.' || k) AS VARCHAR)),
       |    '|') AS kv_a,
       |  CAST(trunc(CAST(json_extract(js, '$$.d') AS DOUBLE)) AS BIGINT)
       |    AS int_d
       | FROM b)
       |SELECT event_type, count(*) AS n,
       |  CAST(sum(len_root) AS BIGINT) AS sum_len_root,
       |  CAST(sum(len_tags) AS BIGINT) AS sum_len_tags,
       |  CAST(sum(len_s) AS BIGINT) AS sum_len_s,
       |  min(t_ak) AS t_ak, min(t_n) AS t_n, min(t_zz) AS t_zz,
       |  min(t_d) AS t_d, min(t_tags) AS t_tags,
       |  CAST(sum(CASE WHEN has_n THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_has_null_key,
       |  min(arr_raw) AS arr_raw, min(keys_root) AS keys_root,
       |  max(kv_a) AS max_kv,
       |  CAST(sum(int_d) AS BIGINT) AS sum_int_d
       |FROM e GROUP BY event_type""".stripMargin
  }

  /** The q126 oracle: DuckDB's week IS Monday-based (`date_trunc('week')`)
    * and its `date_diff` IS boundary-crossing — the Sunday-mode
    * toStartOfWeek is the same +1day/-1day trick, the N-minute grids are
    * epoch-remainder arithmetic, the interval adds its native `+ INTERVAL`
    * (identical end-of-month clamping).
    */
  private def dateTier2Oracle: String =
    """WITH b AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
      |c AS (SELECT ts,
      |  date_trunc('week', ts + INTERVAL 1 DAY) - INTERVAL 1 DAY AS wk,
      |  date_trunc('week', ts) AS mon,
      |  make_timestamp((CAST(floor(epoch(ts)) AS BIGINT)
      |    - CAST(floor(epoch(ts)) AS BIGINT) % 900) * 1000000) AS m15,
      |  make_timestamp((CAST(floor(epoch(ts)) AS BIGINT)
      |    - CAST(floor(epoch(ts)) AS BIGINT) % 300) * 1000000) AS m5,
      |  ts + 3 * INTERVAL 1 DAY AS d3,
      |  ts - INTERVAL 1 MONTH AS msub
      | FROM b)
      |SELECT wk, count(*) AS n, count(DISTINCT mon) AS n_mondays,
      |  min(m15) AS min_m15, max(m5) AS max_m5,
      |  min(d3) AS min_d3, max(msub) AS max_msub,
      |  CAST(sum(date_diff('hour', wk, ts)) AS BIGINT) AS sum_dd_hr,
      |  CAST(sum(date_diff('day', mon, ts)) AS BIGINT) AS sum_dd_day
      |FROM c GROUP BY wk""".stripMargin

  /** The q127 oracle: DuckDB spellings of the verbatim migrant
    * statement — isodow IS Monday-based, FILTER mirrors the -If
    * combinators (both engines read NULL for an all-filtered group),
    * the quantileExact pick is the same explicit sorted-list index as
    * the q122 oracle, and `json_type IS NOT NULL` is the JSONHas
    * absent-vs-null distinction.
    */
  private def migrantSqlOracle: String =
    """WITH b AS (
      |  SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |    event_id, value, props,
      |    CAST(floor(value * 100) AS BIGINT) AS cv
      |  FROM events
      |  WHERE CAST(ts AS DATE) >= DATE '2020-01-01')
      |SELECT CAST(year(ts) * 100 + month(ts) AS INT) AS ym,
      |  CAST(isodow(ts) AS INT) AS dow,
      |  count(*) AS hits,
      |  count(DISTINCT user_id) AS users,
      |  CAST(count(*) FILTER (WHERE value > 0.5) AS BIGINT) AS n_hi,
      |  CAST(sum(cv) FILTER (WHERE event_type = 'click') AS BIGINT)
      |    AS click_cents,
      |  arg_max(event_type, event_id) AS last_type,
      |  list_sort(list(cv))[CAST(least(floor(0.5 * count(cv)) + 1,
      |    count(cv)) AS BIGINT)] AS p50_cents,
      |  min(strftime(ts, '%Y-%m-%d %H:%M')) AS first_slot,
      |  CAST(count(*) FILTER (WHERE json_type(props, '$.k') IS NOT NULL)
      |    AS BIGINT) AS n_with_k,
      |  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS max_k
      |FROM b GROUP BY 1, 2""".stripMargin

  /** The q129 oracle: the LIMIT-BY statement in DuckDB's row_number
    * spelling; the quantileExact pick is the q127 oracle's explicit
    * sorted-list index (CH's zero-based floor(φ·n), 1-based here), and
    * the window's ORDER BY (n DESC, user_id) is a total order within
    * each partition — the same deterministic pick the rewriter's
    * window makes.
    */
  private def chRewriterOracle: String =
    """WITH g AS (
      |  SELECT event_type, user_id, count(*) AS n,
      |    list_sort(list(CAST(floor(value * 1000) AS BIGINT)))[
      |      CAST(least(floor(0.5 * count(*)) + 1, count(*)) AS BIGINT)]
      |      AS med
      |  FROM events GROUP BY event_type, user_id),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY event_type ORDER BY n DESC, user_id) AS rn
      |  FROM g)
      |SELECT event_type, user_id, n, med FROM r WHERE rn <= 2""".stripMargin

  /** The q133 oracle: batch-2 in DuckDB — URL regex mirrors
    * token-for-token (the q97 convention), list aggregates, the
    * roundDuration/roundAge CASE chains over CH's published bucket
    * sets. DuckDB has no url_encode, so the encode leg is spelled
    * literally: the input is an ALPHANUMERIC source + one space, and
    * the engine's form-urlencoded rule renders exactly `source || '+x'`
    * (any non-alnum source would hash-mismatch loudly here).
    */
  /** The q137 oracle: batch-4 in DuckDB. Fixed-width array scans are
    * mirrored SCALAR-WISE (cumSum of [x, y, 3] IS 'x, x+y, x+y+3' — no
    * list machinery to disagree about); the rotation replays the pmod
    * slice arithmetic with DuckDB 1-based inclusive list slicing; unix
    * seconds come from `epoch_us // 1000000` (exact BIGINT — `epoch()`
    * return types vary across DuckDB versions); the vector distances
    * repeat the kernel's exact expression DAG over integer-valued
    * doubles (single adds of exact products, correctly-rounded sqrt)
    * so even the cosine hash-matches bit-for-bit via min/max.
    */
  private def scalarBatch4Oracle: String =
    """WITH b AS (
      |  SELECT event_type, event_id, user_id,
      |    CAST(ts AS TIMESTAMP) AS ts,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS u0,
      |    CAST(event_id % 5 AS BIGINT) AS c1,
      |    CAST(user_id % 7 AS BIGINT) AS c2,
      |    CAST(event_id % 9 AS BIGINT) AS d1,
      |    CAST(user_id % 5 AS BIGINT) AS d2,
      |    CAST(event_id % 3 AS BIGINT) AS p,
      |    CAST(user_id % 3 AS BIGINT) AS q,
      |    CAST(event_id % 7 AS DOUBLE) AS x7,
      |    CAST(user_id % 5 AS DOUBLE) AS u5,
      |    string_split(event_type, '_') AS toks
      |  FROM events),
      |e AS (SELECT event_type,
      |  CAST(c1 AS VARCHAR) || ',' || CAST(c1 + c2 AS VARCHAR) || ',' ||
      |    CAST(c1 + c2 + 3 AS VARCHAR) AS cs,
      |  '0,' || CAST(d2 - d1 AS VARCHAR) || ',' ||
      |    CAST(0 - d2 AS VARCHAR) AS ad,
      |  '1,1,' || (CASE WHEN q = p THEN '1' ELSE '2' END) AS aed,
      |  array_to_string(list_concat(
      |    toks[(CAST(event_id % 3 AS INT) % len(toks) + 1):],
      |    toks[:(CAST(event_id % 3 AS INT) % len(toks))]), '/') AS rot,
      |  starts_with(event_type, 'p') AS sw,
      |  ends_with(event_type, 'w') AS ew,
      |  array_to_string(list_filter(
      |    regexp_split_to_array(event_type || '1x', '[^A-Za-z]+'),
      |    t -> t <> ''), '-') AS at,
      |  concat_ws('|', event_type, CAST(event_id % 4 AS VARCHAR)) AS cws,
      |  array_to_string((string_split(event_type || '.ex.com', '.'))[1:2],
      |    '.') AS si,
      |  CAST(floor(CAST(u0 AS DOUBLE) / 86400) AS BIGINT) AS rdn,
      |  CAST(floor(CAST(u0 AS DOUBLE) / 3600) AS BIGINT) AS rhn,
      |  ((u0 + 1800 + (event_id % 3) * 1800) -
      |    ((u0 + 1800 + (event_id % 3) * 1800) % 1800)
      |    - (u0 - u0 % 1800)) // 1800 + 1 AS nslots,
      |  CAST(datediff('day', DATE '1858-11-17', CAST(ts AS DATE))
      |    AS INTEGER) AS mjd,
      |  CAST(date_trunc('second', ts) + INTERVAL 1 DAY AS VARCHAR)
      |    AS addd,
      |  CAST(date_trunc('second', ts) - INTERVAL 2 HOUR AS VARCHAR)
      |    AS subh,
      |  (x7 * 3 + 2 * u5) AS dp,
      |  (ABS(x7 - 0) + ABS(0 - u5)) AS l1,
      |  sqrt((x7 - 0) * (x7 - 0) + (0 - u5) * (0 - u5)) AS l2,
      |  GREATEST(ABS(x7 - 0), ABS(0 - u5)) AS linf,
      |  1 - (x7 * 3 + 2 * u5) /
      |    (sqrt(x7 * x7 + 4) * sqrt(9 + u5 * u5)) AS cosd,
      |  CAST((event_id >> 3) & 1 AS BIGINT) AS bt,
      |  CASE WHEN ((event_id >> 0) & 1) = 1 OR ((event_id >> 1) & 1) = 1
      |    THEN 1 ELSE 0 END AS bta
      | FROM b)
      |SELECT event_type, count(*) AS n,
      |  min(cs) AS min_cs, min(ad) AS min_ad, min(aed) AS min_aed,
      |  min(rot) AS min_rot,
      |  CAST(count(*) FILTER (WHERE sw) AS BIGINT) AS n_sw,
      |  CAST(count(*) FILTER (WHERE ew) AS BIGINT) AS n_ew,
      |  min(at) AS min_at, min(cws) AS min_cws, min(si) AS min_si,
      |  CAST(sum(rdn) AS BIGINT) AS sum_rdn,
      |  CAST(sum(rhn) AS BIGINT) AS sum_rhn,
      |  CAST(sum(nslots) AS BIGINT) AS sum_nslots,
      |  CAST(sum(mjd) AS BIGINT) AS sum_mjd,
      |  min(addd) AS min_addd, max(subh) AS max_subh,
      |  sum(dp) AS sum_dp, sum(l1) AS sum_l1, max(l2) AS max_l2,
      |  sum(linf) AS sum_linf,
      |  min(cosd) AS min_cosd, max(cosd) AS max_cosd,
      |  CAST(sum(bt) AS BIGINT) AS sum_bt,
      |  CAST(sum(bta) AS BIGINT) AS n_bta
      |FROM e GROUP BY event_type""".stripMargin

  private def scalarBatch3Oracle: String =
    """WITH b AS (
      |  SELECT source, doc_id,
      |    'https://u:p@www.' || source || '.example.co.uk:8443/p/' ||
      |      CAST(doc_id % 20 AS VARCHAR) || '?x=' ||
      |      CAST(doc_id % 3 AS VARCHAR) || '&y=2#f' AS url,
      |    [CAST(doc_id % 7 AS BIGINT), CAST(doc_id % 3 AS BIGINT)] AS a
      |  FROM documents),
      |e AS (SELECT source, a,
      |  regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1) AS proto,
      |  regexp_extract(url,
      |    '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*([^#]*)', 1) AS pf,
      |  regexp_replace(url, '\?[^#]*', '') AS cqs,
      |  regexp_replace(url, '#.*$', '') AS cf,
      |  regexp_extract(url, '\?([^#]*)', 1) AS ups,
      |  'a ' || CAST(doc_id % 5 AS VARCHAR) AS dec,
      |  source || '+x' AS enc,
      |  CASE WHEN doc_id % 40000 < 1 THEN 0
      |       WHEN doc_id % 40000 < 10 THEN 1
      |       WHEN doc_id % 40000 < 30 THEN 10
      |       WHEN doc_id % 40000 < 60 THEN 30
      |       WHEN doc_id % 40000 < 120 THEN 60
      |       WHEN doc_id % 40000 < 180 THEN 120
      |       WHEN doc_id % 40000 < 240 THEN 180
      |       WHEN doc_id % 40000 < 300 THEN 240
      |       WHEN doc_id % 40000 < 600 THEN 300
      |       WHEN doc_id % 40000 < 1200 THEN 600
      |       WHEN doc_id % 40000 < 1800 THEN 1200
      |       WHEN doc_id % 40000 < 3600 THEN 1800
      |       WHEN doc_id % 40000 < 7200 THEN 3600
      |       WHEN doc_id % 40000 < 18000 THEN 7200
      |       WHEN doc_id % 40000 < 36000 THEN 18000
      |       ELSE 36000 END AS rd,
      |  CASE WHEN doc_id % 90 < 1 THEN 0
      |       WHEN doc_id % 90 < 18 THEN 17
      |       WHEN doc_id % 90 < 25 THEN 18
      |       WHEN doc_id % 90 < 35 THEN 25
      |       WHEN doc_id % 90 < 45 THEN 35
      |       WHEN doc_id % 90 < 55 THEN 45
      |       ELSE 55 END AS ra,
      |  strftime(to_timestamp(doc_id % 100000),
      |    '%Y-%m-%d %H:%M:%S') AS fut
      | FROM b)
      |SELECT source, count(*) AS n,
      |  min(proto) AS min_proto,
      |  min(pf) AS min_pf,
      |  min(cqs) AS min_cqs,
      |  min(cf) AS min_cf,
      |  min(ups) AS min_ups,
      |  max(dec) AS max_dec,
      |  min(enc) AS min_enc,
      |  CAST(sum(a[1] + a[2]) AS BIGINT) AS sum_a,
      |  CAST(min(least(a[1], a[2])) AS BIGINT) AS min_a,
      |  CAST(max(greatest(a[1], a[2])) AS BIGINT) AS max_a,
      |  CAST(sum(a[1] + a[2]) AS DOUBLE) / (2 * count(*)) AS avg_a,
      |  CAST(2 * count(*) AS BIGINT) AS gaa_n,
      |  CAST(sum(rd) AS BIGINT) AS sum_rd,
      |  CAST(sum(ra) AS BIGINT) AS sum_ra,
      |  min(fut) AS min_fut
      |FROM e GROUP BY source""".stripMargin

  /** The q132 oracle: DuckDB spellings of the r17 scalar batch —
    * list_concat/list_distinct/list_sort('DESC')/list_intersect,
    * array_has_all/array_has_any, instr-over-lower, bit_count, power,
    * isfinite, monthname/last_day/date_trunc, the half-hour grid via
    * hour-trunc + a minute CASE (to_timestamp returns TIMESTAMPTZ in
    * DuckDB — dtype mismatch), slicing + list_transform(range(...)) for
    * arrayResize, printf for formatReadableSize (exact-integer byte
    * inputs only — the tie-rounding note at the entry).
    */
  private def scalarBatch2Oracle: String =
    """WITH b AS (
      |  SELECT event_type, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
      |    string_split(event_type, 'e') AS se,
      |    string_split(event_type, '_') AS su
      |  FROM events),
      |e AS (SELECT event_type,
      |  array_to_string(list_sort(list_concat(se,
      |    [CAST(event_id % 3 AS VARCHAR)]), 'DESC'), ',') AS arr_render,
      |  CAST(len(list_distinct(list_concat(su, ['x']))) AS BIGINT)
      |    AS uniq_n,
      |  array_to_string(su, '-') AS poppush,
      |  array_to_string(list_concat(su[1:least(3, len(su))],
      |    list_transform(range(CAST(greatest(3 - len(su), 0) AS BIGINT)),
      |      x -> 'z')), '+') AS resized,
      |  array_has_all(su, ['view']) AS has_view,
      |  array_has_any(su, ['cart', 'view']) AS has_any,
      |  coalesce(array_to_string(list_sort(list_intersect(su,
      |    ['view', 'cart', 'add'])), '/'), '') AS inter,
      |  CAST(instr(lower(event_type), 'e') AS BIGINT) AS pci,
      |  CAST(bit_count(event_id) AS BIGINT) AS bits,
      |  power(2, event_id % 4) AS p2,
      |  isfinite(value) AS fin,
      |  monthname(ts) AS mname,
      |  last_day(CAST(ts AS DATE)) AS ldm,
      |  date_trunc('second', ts) AS tss,
      |  date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
      |    THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS slot,
      |  (CAST(event_id % 5 AS DOUBLE) + 1) * 2 AS prod,
      |  printf('%.2f B', CAST(event_id % 1000 AS DOUBLE)) AS frs
      | FROM b)
      |SELECT event_type, count(*) AS n,
      |  min(arr_render) AS min_arr,
      |  CAST(sum(uniq_n) AS BIGINT) AS sum_uniq,
      |  min(poppush) AS min_pp,
      |  min(resized) AS min_rz,
      |  CAST(count(*) FILTER (WHERE has_view) AS BIGINT) AS n_has_view,
      |  CAST(count(*) FILTER (WHERE has_any) AS BIGINT) AS n_has_any,
      |  min(inter) AS min_inter,
      |  CAST(sum(pci) AS BIGINT) AS sum_pci,
      |  CAST(sum(bits) AS BIGINT) AS sum_bits,
      |  sum(p2) AS sum_p2,
      |  CAST(count(*) FILTER (WHERE fin) AS BIGINT) AS n_fin,
      |  min(mname) AS min_mn,
      |  max(ldm) AS max_ldm,
      |  min(tss) AS min_tss,
      |  min(slot) AS min_slot,
      |  sum(prod) AS sum_prod,
      |  max(frs) AS max_frs
      |FROM e GROUP BY event_type""".stripMargin

  /** The q128 oracle: DuckDB spellings of the scalar battery — its
    * `range` IS end-exclusive (CH-shaped) but `list_sum([])` reads NULL
    * where the engine's fold reads 0 (coalesced); `//` is floor
    * division (≡ intDiv's truncation on this non-negative domain);
    * regexp_replace needs the 'g' flag for the all-occurrences read.
    */
  private def scalarBatteryOracle: String =
    """WITH b AS (
      |  SELECT event_type, value, event_id,
      |    CASE WHEN value < 0.25 THEN 'low'
      |         WHEN value < 0.75 THEN 'mid' ELSE 'high' END AS band
      |  FROM events),
      |e AS (SELECT band,
      |  CAST(event_id // 7 AS BIGINT) AS idv,
      |  CAST(event_id % 7 AS BIGINT) AS md,
      |  array_to_string(string_split(event_type, '_'), '|') AS tok,
      |  CAST(coalesce(list_sum(range(CAST(event_id % 5 AS BIGINT))), 0)
      |    AS BIGINT) AS rng,
      |  CAST(coalesce(list_sum(range(1,
      |    len(string_split(event_type, 'e')) + 1)), 0) AS BIGINT) AS en,
      |  CAST(event_id & 255 AS BIGINT) AS ba,
      |  CAST(xor(event_id, 129) AS BIGINT) AS bx,
      |  regexp_replace(event_type, '[aeiou]', '#', 'g') AS rr,
      |  CAST((length(event_type) -
      |    length(replace(event_type, 'e', ''))) AS BIGINT) AS cs,
      |  lpad(CAST(event_id % 100 AS VARCHAR), 5, '0') AS lp,
      |  trim('  ' || event_type || ' ') AS tb,
      |  substring(event_type, 2, 3) AS su
      | FROM b)
      |SELECT band, count(*) AS n,
      |  CAST(sum(idv) AS BIGINT) AS sum_idv,
      |  CAST(sum(md) AS BIGINT) AS sum_md,
      |  min(tok) AS min_tok,
      |  CAST(sum(rng) AS BIGINT) AS sum_rng,
      |  CAST(sum(en) AS BIGINT) AS sum_en,
      |  CAST(sum(ba) AS BIGINT) AS sum_ba,
      |  CAST(sum(bx) AS BIGINT) AS sum_bx,
      |  min(rr) AS min_rr,
      |  CAST(sum(cs) AS BIGINT) AS sum_cs,
      |  max(lp) AS max_lp, min(tb) AS min_tb, min(su) AS min_su
      |FROM e GROUP BY band""".stripMargin

  /** The q77 oracle (forward/first_match next-node via windows) —
    * shared verbatim with q102, which runs the SAME query through the
    * graft_sequence_next_node SQL aggregate.
    */
  private def nextNodeOracle: String =
    """WITH e AS (
             |  SELECT user_id, event_type,
             |         row_number() OVER w AS rn,
             |         lead(event_type, 1) OVER w AS nxt1,
             |         lead(event_type, 2) OVER w AS nxt2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id
             |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)),
             |cand AS (
             |  SELECT user_id, rn, nxt2 AS next_node
             |  FROM e WHERE event_type = 'view' AND nxt1 = 'click'),
             |pick AS (
             |  SELECT user_id, next_node FROM (
             |    SELECT user_id, next_node,
             |           row_number() OVER (PARTITION BY user_id
             |               ORDER BY rn) AS p
             |    FROM cand)
             |  WHERE p = 1)
             |SELECT u.user_id, p.next_node
             |FROM (SELECT DISTINCT user_id FROM events) u
             |LEFT JOIN pick p USING (user_id)""".stripMargin

  /** The q71 oracle (two-sample t statistics from exact integer moments)
    * — shared verbatim with q103, which runs the SAME query through the
    * studentTTest SQL aggregate.
    */
  private def tTestOracle: String =
    """WITH base AS (
             |  SELECT CAST(user_id % 2 AS VARCHAR) AS variant,
             |    CAST(floor(value * 100) AS BIGINT) AS v
             |  FROM events),
             |m AS (
             |  SELECT variant, count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
             |    CAST(sum(v * v) AS BIGINT) AS q
             |  FROM base GROUP BY variant),
             |a AS (SELECT variant AS variant_a, n AS n1, s AS s1, q AS q1
             |      FROM m ORDER BY variant LIMIT 1),
             |b AS (SELECT variant AS variant_b, n AS n2, s AS s2, q AS q2
             |      FROM m ORDER BY variant DESC LIMIT 1),
             |j AS (SELECT * FROM a CROSS JOIN b),
             |v AS (
             |  SELECT *,
             |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1,
             |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean2,
             |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
             |       / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS var1,
             |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
             |       / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) AS var2
             |  FROM j)
             |SELECT variant_a, n1, s1, q1, variant_b, n2, s2, q2,
             |  mean1, mean2, var1, var2,
             |  (mean1 - mean2) / sqrt(
             |    ((CAST(n1 AS DOUBLE) - 1.0) * var1 +
             |     (CAST(n2 AS DOUBLE) - 1.0) * var2) /
             |    (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0) *
             |    (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
             |    AS student_t,
             |  (mean1 - mean2) / sqrt(var1 / CAST(n1 AS DOUBLE) +
             |    var2 / CAST(n2 AS DOUBLE)) AS welch_t,
             |  (var1 / CAST(n1 AS DOUBLE) + var2 / CAST(n2 AS DOUBLE)) *
             |  (var1 / CAST(n1 AS DOUBLE) + var2 / CAST(n2 AS DOUBLE)) /
             |  (var1 / CAST(n1 AS DOUBLE) * (var1 / CAST(n1 AS DOUBLE)) /
             |     (CAST(n1 AS DOUBLE) - 1.0) +
             |   var2 / CAST(n2 AS DOUBLE) * (var2 / CAST(n2 AS DOUBLE)) /
             |     (CAST(n2 AS DOUBLE) - 1.0)) AS welch_df
             |FROM v""".stripMargin

  /** The q72 oracle (tie-aware doubled-U) — shared verbatim with q104,
    * which runs the SAME query through the mannWhitneyUTest SQL
    * aggregate.
    */
  private def mannWhitneyOracle: String =
    """WITH base AS (
             |  SELECT user_id % 2 AS g,
             |    CAST(floor(value * 100) AS BIGINT) AS v
             |  FROM events),
             |perv AS (
             |  SELECT v, count(*) AS c,
             |    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS m1
             |  FROM base GROUP BY v),
             |r AS (
             |  SELECT v, c, m1,
             |    coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND 1 PRECEDING), 0) AS below
             |  FROM perv),
             |agg AS (
             |  SELECT CAST(sum(m1) AS BIGINT) AS n1,
             |    CAST(sum(c) - sum(m1) AS BIGINT) AS n2,
             |    CAST(sum(m1 * (2 * below + c + 1)) AS BIGINT) AS r1x2
             |  FROM r)
             |SELECT n1, n2,
             |  CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1x2,
             |  CAST(2 * n1 * n2 - (r1x2 - n1 * (n1 + 1)) AS BIGINT) AS u2x2
             |FROM agg""".stripMargin

  /** The q74 oracle (quantized chi-square contingency statistics) —
    * shared verbatim with q106, which runs the SAME query through the
    * cramersV SQL aggregate.
    */
  private def cramersVOracle: String =
    """WITH cells AS (
             |  SELECT o_orderstatus AS a, o_orderpriority AS b, count(*) AS o
             |  FROM orders GROUP BY 1, 2),
             |w AS (
             |  SELECT a, b, o,
             |    sum(o) OVER (PARTITION BY a) AS ra,
             |    sum(o) OVER (PARTITION BY b) AS cb
             |  FROM cells),
             |cc AS (
             |  SELECT a, b, o,
             |    CAST(floor((1e15 * (CAST(o AS DOUBLE) * CAST(o AS DOUBLE))) /
             |      (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))) AS BIGINT)
             |      AS contrib
             |  FROM w),
             |agg AS (
             |  SELECT CAST(sum(o) AS BIGINT) AS n,
             |    CAST(sum(contrib) AS BIGINT) AS sum_contrib,
             |    count(DISTINCT a) AS r, count(DISTINCT b) AS c
             |  FROM cc),
             |j AS (
             |  SELECT n, sum_contrib, r, c,
             |    GREATEST(0.0, CAST(n AS DOUBLE) *
             |      (CAST(sum_contrib AS DOUBLE) / 1e15 - 1.0)) AS chi2
             |  FROM agg)
             |SELECT n, sum_contrib, r, c, chi2,
             |  sqrt(chi2 / (CAST(n AS DOUBLE) *
             |    CAST(LEAST(r - 1, c - 1) AS DOUBLE))) AS cramers_v,
             |  sqrt(
             |    GREATEST(0.0, chi2 / CAST(n AS DOUBLE) -
             |      CAST((r - 1) * (c - 1) AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0))
             |    / LEAST(
             |        (CAST(r AS DOUBLE) - CAST((r - 1) * (r - 1) AS DOUBLE) /
             |          (CAST(n AS DOUBLE) - 1.0)) - 1.0,
             |        (CAST(c AS DOUBLE) - CAST((c - 1) * (c - 1) AS DOUBLE) /
             |          (CAST(n AS DOUBLE) - 1.0)) - 1.0)) AS cramers_v_bc,
             |  sqrt(chi2 / (chi2 + CAST(n AS DOUBLE))) AS contingency_coef
             |FROM j""".stripMargin

  /** The q75 oracle (per-group OLS over exact integer moments) — shared
    * verbatim with q105, which runs the SAME query through the
    * simpleLinearRegression SQL aggregate.
    */
  private def linRegOracle: String =
    """WITH base AS (
             |  SELECT l_returnflag AS grp,
             |    CAST(floor(l_quantity) AS BIGINT) AS x,
             |    CAST(floor(l_extendedprice / 100) AS BIGINT) AS y
             |  FROM lineitem),
             |m AS (
             |  SELECT grp, count(*) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(y * y) AS BIGINT) AS syy
             |  FROM base GROUP BY grp),
             |d AS (
             |  SELECT grp, n, n * sxy - sx * sy AS num,
             |    n * sxx - sx * sx AS den_x, n * syy - sy * sy AS den_y,
             |    sx, sy
             |  FROM m)
             |SELECT grp, n, num, den_x, den_y,
             |  CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE) AS slope,
             |  (CAST(sy AS DOUBLE) -
             |    CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE) *
             |      CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
             |  CAST(num AS DOUBLE) / (sqrt(CAST(den_x AS DOUBLE)) *
             |    sqrt(CAST(den_y AS DOUBLE))) AS pearson_r
             |FROM d""".stripMargin

  /** The q76 oracle (Spearman over tie-aware doubled ranks) — shared
    * verbatim with q107, which runs the SAME query through the rankCorr
    * SQL aggregate.
    */
  private def rankCorrOracle: String =
    """WITH days AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x,
             |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS y
             |  FROM orders GROUP BY 1),
             |r AS (
             |  SELECT
             |    2 * RANK() OVER (ORDER BY x) +
             |      COUNT(*) OVER (PARTITION BY x) - 1 AS rx2,
             |    2 * RANK() OVER (ORDER BY y) +
             |      COUNT(*) OVER (PARTITION BY y) - 1 AS ry2
             |  FROM days),
             |m AS (
             |  SELECT count(*) AS n,
             |    CAST(sum(rx2) AS BIGINT) AS sx, CAST(sum(ry2) AS BIGINT) AS sy,
             |    CAST(sum(rx2 * ry2) AS BIGINT) AS sxy,
             |    CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
             |    CAST(sum(ry2 * ry2) AS BIGINT) AS syy
             |  FROM r),
             |d AS (
             |  SELECT n, n * sxy - sx * sy AS num,
             |    n * sxx - sx * sx AS den_x, n * syy - sy * sy AS den_y
             |  FROM m)
             |SELECT n, num, den_x, den_y,
             |  CAST(num AS DOUBLE) / (sqrt(CAST(den_x AS DOUBLE)) *
             |    sqrt(CAST(den_y AS DOUBLE))) AS rho
             |FROM d""".stripMargin

  /** The q68 oracle (the LTTB fold as a recursive CTE) — shared verbatim
    * with q110, which runs the SAME query through the
    * largestTriangleThreeBuckets SQL aggregate.
    */
  private def lttbOracle: String =
    """WITH RECURSIVE pre AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS x,
             |         max(CAST(floor(value * 100) AS BIGINT)) AS y
             |  FROM events GROUP BY 1, 2),
             |pts AS (
             |  SELECT user_id, x, y,
             |    row_number() OVER (PARTITION BY user_id ORDER BY x) - 1 AS idx,
             |    count(*) OVER (PARTITION BY user_id) AS n
             |  FROM pre),
             |small AS (SELECT user_id, x, y FROM pts WHERE n <= 12),
             |big AS (SELECT * FROM pts WHERE n > 12),
             |mid AS (
             |  SELECT user_id, idx, x, y, ((idx - 1) * 10) // (n - 2) AS b
             |  FROM big WHERE idx >= 1 AND idx <= n - 2),
             |bs AS (SELECT user_id, b, count(*) AS m, sum(x) AS sx, sum(y) AS sy
             |       FROM mid GROUP BY 1, 2),
             |lastp AS (SELECT user_id, x, y FROM big WHERE idx = n - 1),
             |nxt AS (
             |  SELECT user_id, b - 1 AS b, m, sx, sy FROM bs WHERE b >= 1
             |  UNION ALL
             |  SELECT user_id, 9 AS b, CAST(1 AS BIGINT) AS m,
             |    CAST(x AS HUGEINT) AS sx, CAST(y AS HUGEINT) AS sy FROM lastp),
             |firstp AS (SELECT user_id, x, y FROM big WHERE idx = 0),
             |rec AS (
             |  SELECT user_id, -1 AS b, x, y FROM firstp
             |  UNION ALL
             |  SELECT r.user_id, r.b + 1 AS b,
             |    (SELECT p.x FROM mid p JOIN nxt nx
             |       ON nx.user_id = p.user_id AND nx.b = p.b
             |      WHERE p.user_id = r.user_id AND p.b = r.b + 1
             |      ORDER BY abs((r.x - p.x) * (nx.sy - nx.m * r.y)
             |                 - (nx.m * r.x - nx.sx) * (p.y - r.y)) DESC,
             |        p.x LIMIT 1) AS x,
             |    (SELECT p.y FROM mid p JOIN nxt nx
             |       ON nx.user_id = p.user_id AND nx.b = p.b
             |      WHERE p.user_id = r.user_id AND p.b = r.b + 1
             |      ORDER BY abs((r.x - p.x) * (nx.sy - nx.m * r.y)
             |                 - (nx.m * r.x - nx.sx) * (p.y - r.y)) DESC,
             |        p.x LIMIT 1) AS y
             |  FROM rec r WHERE r.b + 1 <= 9)
             |SELECT user_id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
             |FROM rec
             |UNION ALL
             |SELECT user_id, CAST(x AS BIGINT), CAST(y AS BIGINT) FROM lastp
             |UNION ALL
             |SELECT user_id, CAST(x AS BIGINT), CAST(y AS BIGINT) FROM small""".stripMargin

  /** The q66 oracle (key-wise map combinators as an exploded UNION
    * ALL aggregate) — shared verbatim with q108, which runs the SAME
    * query through the sumMap/minMap/maxMap SQL aggregates.
    */
  private def mapCombinatorsOracle: String =
    """WITH base AS (
             |  SELECT user_id % 16 AS cohort, event_type,
             |    CAST(floor(value * 100) AS BIGINT) AS v,
             |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS kk
             |  FROM events),
             |kv AS (
             |  SELECT cohort, 't_' || event_type AS k, v FROM base
             |  UNION ALL
             |  SELECT cohort, 'k_' || CAST(kk % 4 AS VARCHAR) AS k, kk FROM base)
             |SELECT cohort, k, CAST(sum(v) AS BIGINT) AS sum_v,
             |  CAST(min(v) AS BIGINT) AS min_v, CAST(max(v) AS BIGINT) AS max_v,
             |  count(*) AS cnt
             |FROM kv GROUP BY cohort, k""".stripMargin

  /** The q59 oracle (strict_deduplication fold replayed as a DuckDB
    * recursive CTE) — shared verbatim with q101, which runs the SAME
    * query through the graft_window_funnel_strict SQL aggregate.
    */
  private def funnelStrictDedupOracle: String =
    """WITH RECURSIVE e AS (
             |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type,
             |         row_number() OVER (PARTITION BY user_id
             |             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
             |  FROM events),
             |mx AS (SELECT user_id, max(rn) AS m FROM e GROUP BY user_id),
             |f AS (
             |  SELECT user_id, 0 AS rn,
             |         CAST(-4000000000000000000 AS BIGINT) AS s1,
             |         CAST(-4000000000000000000 AS BIGINT) AS s2,
             |         CAST(-4000000000000000000 AS BIGINT) AS s3,
             |         CAST(-1 AS BIGINT) AS res
             |  FROM mx
             |  UNION ALL
             |  SELECT f.user_id, e.rn,
             |    CASE WHEN f.res <> -1 THEN f.s1
             |         WHEN e.event_type = 'view' THEN e.t ELSE f.s1 END AS s1,
             |    CASE WHEN f.res <> -1 THEN f.s2
             |         WHEN e.event_type = 'click' AND f.s2 = -4000000000000000000
             |              AND e.t - f.s1 <= 86400000000 THEN f.s1 ELSE f.s2 END AS s2,
             |    CASE WHEN f.res <> -1 THEN f.s3
             |         WHEN e.event_type = 'purchase' AND f.s3 = -4000000000000000000
             |              AND e.t - f.s2 <= 86400000000 THEN f.s2 ELSE f.s3 END AS s3,
             |    CASE WHEN f.res <> -1 THEN f.res
             |         WHEN e.event_type = 'click'
             |              AND f.s2 <> -4000000000000000000 THEN 2
             |         WHEN e.event_type = 'purchase'
             |              AND f.s3 <> -4000000000000000000 THEN 3
             |         WHEN e.event_type = 'purchase'
             |              AND e.t - f.s2 <= 86400000000 THEN 3
             |         ELSE -1 END AS res
             |  FROM f JOIN e ON e.user_id = f.user_id AND e.rn = f.rn + 1)
             |SELECT f.user_id,
             |  CAST(CASE WHEN f.res <> -1 THEN f.res
             |            WHEN f.s3 <> -4000000000000000000 THEN 3
             |            WHEN f.s2 <> -4000000000000000000 THEN 2
             |            WHEN f.s1 <> -4000000000000000000 THEN 1
             |            ELSE 0 END AS INT) AS level
             |FROM f JOIN mx USING (user_id) WHERE f.rn = mx.m""".stripMargin

  /** q96's needle — lowercase words from the synthetic vocabulary so the
    * match is non-trivial at every SF. (`def`, not `val`: the catalog map
    * above initializes first and evaluates the oracle eagerly.)
    */
  /** The q65 oracle (gaps-and-islands union + the ±1 sweep) — shared
    * verbatim with q115, which runs the SAME query through the
    * intervalLengthSum SQL aggregate.
    */
  private def intervalOracle: String =
    """WITH iv AS (
             |  SELECT user_id, event_id,
             |    epoch_us(ts) AS s_us,
             |    epoch_us(ts) + (CAST(regexp_extract(props, '"k":\s*(\d+)', 1)
             |      AS BIGINT) % 30 + 1) * 1000000 AS e_us
             |  FROM events),
             |isl AS (
             |  SELECT user_id, event_id, s_us, e_us,
             |    CASE WHEN s_us > coalesce(max(e_us) OVER (
             |        PARTITION BY user_id ORDER BY s_us, e_us, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |        -9223372036854775808) THEN 1 ELSE 0 END AS new_island
             |  FROM iv),
             |isl2 AS (
             |  SELECT user_id, s_us, e_us,
             |    sum(new_island) OVER (PARTITION BY user_id
             |      ORDER BY s_us, e_us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM isl),
             |un AS (
             |  SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_intervals,
             |    CAST(sum(len) AS BIGINT) AS union_len
             |  FROM (SELECT user_id, island, max(e_us) - min(s_us) AS len,
             |          count(*) AS cnt
             |        FROM isl2 GROUP BY user_id, island)
             |  GROUP BY user_id),
             |pts AS (
             |  SELECT user_id, s_us AS pos, 1 AS delta FROM iv
             |  UNION ALL
             |  SELECT user_id, e_us AS pos, -1 AS delta FROM iv),
             |dep AS (
             |  SELECT user_id, pos,
             |    sum(delta) OVER (PARTITION BY user_id ORDER BY pos, delta
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
             |  FROM pts),
             |dep2 AS (
             |  SELECT user_id, pos, depth,
             |    max(depth) OVER (PARTITION BY user_id) AS maxd
             |  FROM dep),
             |sw AS (
             |  SELECT user_id, CAST(max(depth) AS BIGINT) AS max_overlap,
             |    min(CASE WHEN depth = maxd THEN pos END) AS max_overlap_pos
             |  FROM dep2 GROUP BY user_id)
             |SELECT un.user_id, n_intervals, union_len, max_overlap,
             |  max_overlap_pos
             |FROM un JOIN sw ON un.user_id = sw.user_id""".stripMargin

  /** The q89 oracle (daily ramp render) — shared verbatim with q116,
    * which runs the SAME query through the sparkbar SQL aggregate.
    */
  private def sparkbarOracle: String =
    """WITH daily AS (
             |  SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m')
             |           AS month,
             |         CAST(day(CAST(o_orderdate AS TIMESTAMP)) AS INT)
             |           AS day,
             |         count(*) AS n
             |  FROM orders GROUP BY 1, 2),
             |m AS (SELECT month, CAST(max(n) AS BIGINT) AS mx
             |      FROM daily GROUP BY month)
             |SELECT d.month, m.mx,
             |  string_agg(substring('▁▂▃▄▅▆▇█',
             |    CAST(floor(CAST(n * 7 AS DOUBLE) / CAST(mx AS DOUBLE))
             |      AS INT) + 1, 1), '' ORDER BY d.day)
             |    AS bar
             |FROM daily d JOIN m ON m.month = d.month
             |GROUP BY d.month, m.mx""".stripMargin

  /** The q81 oracle (two-sample KS D from the value-domain cumulative
    * walk) — shared verbatim with q112, which runs the SAME query
    * through the kolmogorovSmirnovTest SQL aggregate.
    */
  private def ksOracle: String =
    """WITH base AS (
      |  SELECT user_id % 2 AS g,
      |    CAST(floor(value * 100) AS BIGINT) AS v
      |  FROM events),
      |perv AS (
      |  SELECT v,
      |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN g = 0 THEN 0 ELSE 1 END) AS BIGINT) AS c2
      |  FROM base GROUP BY v),
      |cum AS (
      |  SELECT v,
      |    CAST(sum(c1) OVER w AS BIGINT) AS cum1,
      |    CAST(sum(c2) OVER w AS BIGINT) AS cum2
      |  FROM perv
      |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW)),
      |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
      |               CAST(sum(c2) AS BIGINT) AS n2 FROM perv),
      |agg AS (
      |  SELECT n1, n2,
      |    CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS m
      |  FROM cum CROSS JOIN tot GROUP BY n1, n2)
      |SELECT n1, n2, m,
      |  CAST(m AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
      |    AS d
      |FROM agg""".stripMargin

  /** The q94 oracle (per-label exact moments + the 1e-6th-quantized
    * between-terms) — shared verbatim with q113, which runs the SAME
    * query through the analysisOfVariance SQL aggregate.
    */
  private def anovaOracle: String =
    """WITH b AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(floor(o_totalprice / 100) AS BIGINT) AS v
      |  FROM orders),
      |g AS (SELECT grp, count(*) AS ng,
      |        CAST(sum(v) AS BIGINT) AS sg,
      |        CAST(sum(v * v) AS BIGINT) AS qg
      |      FROM b GROUP BY grp),
      |t AS (SELECT ng, sg, qg,
      |        CAST(floor((1e6 * (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)))
      |          / CAST(ng AS DOUBLE)) AS BIGINT) AS term
      |      FROM g),
      |m AS (SELECT CAST(sum(ng) AS BIGINT) AS n, count(*) AS k,
      |        CAST(sum(sg) AS BIGINT) AS s_all,
      |        CAST(sum(qg) AS BIGINT) AS q_all,
      |        CAST(sum(term) AS BIGINT) AS sum_term
      |      FROM t)
      |SELECT n, k, s_all, q_all, sum_term,
      |  ((CAST(sum_term AS DOUBLE) / 1e6 -
      |     (CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE))
      |       / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
      |  / ((CAST(q_all AS DOUBLE) - CAST(sum_term AS DOUBLE) / 1e6)
      |     / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f_stat
      |FROM m""".stripMargin

  /** The q73 oracle (octet render/parse + CIDR classification) — shared
    * verbatim with q121, which runs the SAME query through the
    * IPv4NumToString / IPv4StringToNum / isIPAddressInRange /
    * IPv4CIDRToRange SQL frontends.
    */
  private def ipFunctionsOracle: String =
    """WITH base AS (
             |  SELECT (event_id * 2654435761) % 4294967296 AS ip FROM events),
             |e AS (
             |  SELECT ip, ip // 16777216 AS o1, (ip // 65536) % 256 AS o2,
             |    (ip // 256) % 256 AS o3, ip % 256 AS o4
             |  FROM base),
             |st AS (
             |  SELECT ip, o1,
             |    CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR) || '.' ||
             |      CAST(o3 AS VARCHAR) || '.' || CAST(o4 AS VARCHAR) AS ip_str
             |  FROM e),
             |p AS (
             |  SELECT ip, o1,
             |    CAST(split_part(ip_str, '.', 1) AS BIGINT) * 16777216 +
             |    CAST(split_part(ip_str, '.', 2) AS BIGINT) * 65536 +
             |    CAST(split_part(ip_str, '.', 3) AS BIGINT) * 256 +
             |    CAST(split_part(ip_str, '.', 4) AS BIGINT) AS back,
             |    CASE WHEN o1 < 128 THEN 'A' WHEN o1 < 192 THEN 'B'
             |         WHEN o1 < 224 THEN 'C' WHEN o1 < 240 THEN 'D'
             |         ELSE 'E' END AS cls,
             |    (ip // 16777216 = 10 OR ip // 1048576 = 2753
             |     OR ip // 65536 = 49320) AS is_private,
             |    (ip // 65536) * 65536 AS net16
             |  FROM st)
             |SELECT cls, is_private, count(*) AS n,
             |  count(DISTINCT net16) AS n_nets,
             |  CAST(min(ip) AS BIGINT) AS min_ip,
             |  CAST(max(ip) AS BIGINT) AS max_ip,
             |  CAST(sum(CASE WHEN back = ip THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_roundtrip
             |FROM p GROUP BY cls, is_private""".stripMargin

  private def NgramNeedle = "fast table value"

  /** The q96 oracle, GENERATED from the same needle profile
    * `FuzzyMatch.ngramMatch` folds at plan time
    * ([[graft.functions.FuzzyMatch.needleGramCounts]] is the one source
    * of truth for gram strings and multiplicities — the q78/d23
    * generated-oracle pattern).
    */
  private def ngramFuzzyOracle: String = {
    val n = 4
    val counts = graft.functions.FuzzyMatch.needleGramCounts(NgramNeedle, n)
    val nb = counts.map(_._2).sum
    val inter = counts.map { case (g, c) =>
      s"least(len(list_filter(grams, x -> x = '${g.replace("'", "''")}')), $c)"
    }.mkString(" + ")
    s"""WITH g AS (SELECT doc_id, lower(text) AS tl FROM documents),
       |ga AS (
       |  SELECT doc_id,
       |    [substring(tl, i, $n) FOR i IN
       |      generate_series(1, greatest(length(tl) - ${n - 1}, 0))] AS grams,
       |    CAST(greatest(length(tl) - ${n - 1}, 0) AS BIGINT) AS na
       |  FROM g),
       |iv AS (SELECT doc_id, na, CAST($inter AS BIGINT) AS inter FROM ga)
       |SELECT doc_id, na, inter,
       |  CAST(na + $nb - 2 * inter AS DOUBLE) / CAST(na + $nb AS DOUBLE)
       |    AS dist,
       |  CAST(inter AS DOUBLE) / CAST($nb AS DOUBLE) AS search
       |FROM iv""".stripMargin
  }

  /** The q97 oracle — URL synthesis and every extraction regex mirrored
    * token-for-token from [[graft.functions.UrlFunctions]] (portable RE2
    * subset; anchored replaces so first-match ≡ global).
    */
  private def urlFunctionsOracle: String =
    """WITH e AS (SELECT event_id AS id, user_id AS uid FROM events),
      |u AS (SELECT id,
      |  (CASE WHEN id % 19 = 0 THEN ''
      |        WHEN id % 3 = 0 THEN 'https://' ELSE 'http://' END) ||
      |  (CASE WHEN id % 11 = 0 THEN 'user:pw@' ELSE '' END) ||
      |  (CASE WHEN id % 13 = 0
      |     THEN '10.0.0.' || CAST(uid % 250 AS VARCHAR)
      |   WHEN id % 7 = 0
      |     THEN 'shop' || CAST(uid % 5 AS VARCHAR) || '.example.co.uk'
      |   ELSE 'news' || CAST(uid % 9 AS VARCHAR) || '.example.com' END) ||
      |  (CASE WHEN id % 6 = 0 THEN ':8080' ELSE '' END) ||
      |  (CASE WHEN id % 17 = 0 THEN ''
      |   ELSE '/item/' || CAST(id % 50 AS VARCHAR) END) ||
      |  (CASE WHEN id % 2 = 0
      |     THEN '?q=' || CAST(id % 10 AS VARCHAR) || '&ref=x'
      |   ELSE '' END) ||
      |  (CASE WHEN id % 5 = 0 THEN '#sec2' ELSE '' END) AS url
      | FROM e),
      |x AS (SELECT id, url,
      |  regexp_extract(url, '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]*)', 1)
      |    AS nl,
      |  regexp_replace(regexp_replace(
      |    regexp_extract(url, '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]*)', 1),
      |    '^[^@]*@', ''), ':[0-9]+$', '') AS dom,
      |  regexp_extract(url, '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*([^?#]*)', 1)
      |    AS p0,
      |  regexp_extract(url, '\?([^#]*)', 1) AS qs,
      |  regexp_extract(url, '#(.*)$', 1) AS frag,
      |  regexp_replace(url, '[?#].*$', '') AS cut
      | FROM u),
      |y AS (SELECT *,
      |  CASE WHEN p0 = '' THEN '/' ELSE p0 END AS p,
      |  CASE WHEN regexp_matches(dom, '^[0-9.]+$') THEN ''
      |       ELSE regexp_extract(dom, '\.([a-zA-Z0-9-]+)$', 1) END AS tld,
      |  CASE WHEN regexp_matches(dom, '^[0-9.]+$') THEN ''
      |       WHEN regexp_extract(dom,
      |         '([a-zA-Z0-9-]+)\.(?:co|com|org|net|gov|edu|ac)\.[a-zA-Z]{2}$',
      |         1) <> ''
      |       THEN regexp_extract(dom,
      |         '([a-zA-Z0-9-]+)\.(?:co|com|org|net|gov|edu|ac)\.[a-zA-Z]{2}$',
      |         1)
      |       WHEN regexp_extract(dom, '([a-zA-Z0-9-]+)\.[a-zA-Z0-9-]+$', 1)
      |         <> ''
      |       THEN regexp_extract(dom, '([a-zA-Z0-9-]+)\.[a-zA-Z0-9-]+$', 1)
      |       ELSE dom END AS fsd,
      |  regexp_extract(qs, '(?:^|&)q=([^&]*)', 1) AS qv
      | FROM x)
      |SELECT dom, tld, fsd, count(*) AS n,
      |  count(DISTINCT p) AS n_paths,
      |  CAST(sum(CASE WHEN p = '/' THEN 1 ELSE 0 END) AS BIGINT) AS n_bare,
      |  CAST(sum(CASE WHEN qv <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_q,
      |  max(qv) AS max_qv,
      |  CAST(sum(CASE WHEN frag <> '' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_frag,
      |  count(DISTINCT nl) AS n_netlocs,
      |  CAST(sum(CASE WHEN cut = url THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_cut_noop,
      |  min(qs) AS min_qs
      |FROM y GROUP BY dom, tld, fsd""".stripMargin

  /** The q98 oracle: every hierarchy level re-derived with DuckDB list
    * comprehensions, mirroring the documented `urlPathHierarchy` /
    * `urlHierarchy` contracts (segments collapse, non-final levels end
    * with '/', root level first, query level last, fragment excluded).
    */
  private def urlHierarchyOracle: String =
    """WITH e AS (SELECT event_id AS id, user_id AS uid FROM events),
      |u AS (SELECT id,
      |  (CASE WHEN id % 19 = 0 THEN ''
      |        WHEN id % 3 = 0 THEN 'https://' ELSE 'http://' END) ||
      |  (CASE WHEN id % 13 = 0
      |     THEN '10.0.0.' || CAST(uid % 250 AS VARCHAR)
      |   WHEN id % 7 = 0
      |     THEN 'shop' || CAST(uid % 5 AS VARCHAR) || '.example.co.uk'
      |   ELSE 'news' || CAST(uid % 9 AS VARCHAR) || '.example.com' END) ||
      |  (CASE WHEN id % 6 = 0 THEN ':8080' ELSE '' END) ||
      |  (CASE WHEN id % 17 = 0 THEN ''
      |   ELSE '/cat/' || CAST(id % 5 AS VARCHAR) ||
      |        '/item/' || CAST(id % 50 AS VARCHAR) ||
      |        (CASE WHEN id % 4 = 0 THEN '/' ELSE '' END) END) ||
      |  (CASE WHEN id % 2 = 0
      |     THEN '?q=' || CAST(id % 10 AS VARCHAR) || '&ref=x'
      |   ELSE '' END) ||
      |  (CASE WHEN id % 5 = 0 THEN '#sec2' ELSE '' END) AS url
      | FROM e),
      |x AS (SELECT id, url,
      |  regexp_extract(url, '^((?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*)', 1)
      |    AS pre,
      |  regexp_replace(regexp_replace(
      |    regexp_extract(url, '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]*)', 1),
      |    '^[^@]*@', ''), ':[0-9]+$', '') AS dom,
      |  regexp_extract(url, '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/?#]*([^?#]*)', 1)
      |    AS p0,
      |  regexp_extract(url, '\?([^#]*)', 1) AS qs,
      |  regexp_replace(url, '[?#].*$', '') AS cut
      | FROM u),
      |y AS (SELECT *, CASE WHEN p0 = '' THEN '/' ELSE p0 END AS p,
      |  CASE WHEN regexp_matches(dom, '^[0-9.]+$') THEN ''
      |       WHEN regexp_extract(dom,
      |         '([a-zA-Z0-9-]+\.(?:co|com|org|net|gov|edu|ac)\.[a-zA-Z]{2})$',
      |         1) <> ''
      |       THEN regexp_extract(dom,
      |         '([a-zA-Z0-9-]+\.(?:co|com|org|net|gov|edu|ac)\.[a-zA-Z]{2})$',
      |         1)
      |       ELSE regexp_extract(dom, '([a-zA-Z0-9-]+\.[a-zA-Z0-9-]+)$', 1)
      |       END AS cut_fsd
      | FROM x),
      |z AS (SELECT *,
      |  list_filter(string_split(p, '/'), s -> s <> '') AS segs,
      |  (p LIKE '%/') AS ends_slash FROM y),
      |h AS (SELECT *,
      |  ['/' || array_to_string(segs[1:i], '/') ||
      |     (CASE WHEN i = len(segs) AND NOT ends_slash
      |       THEN '' ELSE '/' END)
      |   FOR i IN generate_series(1, len(segs))] AS ph FROM z),
      |g AS (SELECT *,
      |  [pre || '/'] || [pre || lv FOR lv IN ph] ||
      |  (CASE WHEN qs <> '' THEN [cut || '?' || qs]
      |   ELSE CAST([] AS VARCHAR[]) END) AS uh
      | FROM h)
      |SELECT id, cut_fsd, CAST(len(ph) AS BIGINT) AS n_path_levels,
      |  CASE WHEN len(ph) = 0 THEN '' ELSE ph[len(ph)] END AS deepest_path,
      |  CAST(r.lvl AS BIGINT) AS lvl, r.u AS level_url
      |FROM (SELECT id, cut_fsd, ph,
      |        unnest([{'lvl': i, 'u': uh[i]}
      |                FOR i IN generate_series(1, len(uh))]) AS r
      |      FROM g)""".stripMargin
}
