package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import SparkEntry._

/** SURVEY §2.4 aggregations: the TPC-H query set and the grouping, rollup,
  * cube, quartile and pivot aggregates. Each query is declared once, with
  * its plan and its check; [[SparkEntry]] derives the battery views from
  * these lists. */
private[graft] object AggregationQueries {
  lazy val all: Seq[Query] = Seq(
    // ===== §2.4 aggregations =====
    Query("q1_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(cents(col("l_quantity"))).as("sum_qty_cents"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          sum(cents(col("l_discount"))).as("sum_disc_cents"),
          count(lit(1)).as("n")),
      Oracle("""SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(round(l_quantity*100, 0) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        | CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        | CAST(SUM(CAST(round(l_discount*100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // multi-join analytics: fact ⋈ broadcast dims — the plan shape every
    // 100 TB star-schema query wants (dims broadcast, fact never shuffles
    // before the partial agg).
    Query("q3_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
      val c = broadcast(t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"),
          count(lit(1)).as("n_lines"))
    },
      Oracle("""SELECT l_orderkey,
        | CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0)
        |   AS BIGINT)) AS BIGINT) AS revenue_cents,
        | COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |  AND c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey""".stripMargin)),

    Query("q5_nation_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"))
    },
      Oracle("""SELECT r_name, n_name,
        | CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0)
        |   AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin)),

    // market-share shape (TPC-H Q8): 7-table star — fact joins SIX
    // broadcast dims (two roles of nation), aggregates to (year,
    // supp_nation), then a window over the tiny year frame derives the
    // denominator. Share is emitted as (nation_cents, year_cents) integer
    // pair, never a float division.
    Query("q8_market_share", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      val sup = broadcast(t(s, dir, "supplier"))
      val p = broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO"))
      val cn = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey")))
      val sn = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
      val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("yr"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(cn, col("c_nationkey") === col("cn_key"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("sn_key"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(year(col("o_orderdate")).as("yr"), col("supp_nation"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("nation_cents"))
        .withColumn("year_cents", sum(col("nation_cents")).over(w))
    },
      Oracle("""WITH sel AS (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, sn.n_name AS supp_nation,
        |    CAST(round(l_extendedprice*(1 - l_discount)*100, 0) AS BIGINT) AS rc
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'),
        |g AS (SELECT yr, supp_nation, CAST(SUM(rc) AS BIGINT) AS nation_cents
        |  FROM sel GROUP BY 1, 2)
        |SELECT yr, supp_nation, nation_cents,
        |  CAST(SUM(nation_cents) OVER (PARTITION BY yr) AS BIGINT) AS year_cents
        |FROM g""".stripMargin)),

    // product-profit shape (TPC-H Q9): per (supplier nation, year) profit
    // where cost is proxied by part list price (no partsupp table in the
    // fixture set). Revenue and cost are rounded to cents SEPARATELY and
    // the longs subtracted: rounding the raw difference would put values
    // on .5-cent boundaries through two different round paths (Spark's
    // BigDecimal.valueOf HALF_UP vs DuckDB's binary-double rounding) —
    // each single product term is already oracle-safe on its own.
    Query("q9_profit", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val sup = broadcast(t(s, dir, "supplier"))
      val n = broadcast(t(s, dir, "nation"))
      val p = broadcast(t(s, dir, "part").filter(col("p_name").contains("e")))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("yr"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
          - cents(lit(0.5) * col("p_retailprice") * col("l_quantity")))
          .as("profit_cents"))
    },
      Oracle("""SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS yr,
        | CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0) AS BIGINT)
        |   - CAST(round(0.5*p_retailprice*l_quantity*100, 0) AS BIGINT)) AS BIGINT)
        |   AS profit_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_name LIKE '%e%'
        |GROUP BY 1, 2""".stripMargin)),

    // large-volume orders (TPC-H Q18): HAVING on the grouped fact — the
    // quantity sum aggregates FIRST (one pass over lineitem), and the few
    // surviving orderkeys are BROADCAST to the orders probe (post-HAVING
    // `big` is selectivity-bounded; without the hint this is a full
    // shuffle of orders unless AQE happens to convert it).
    Query("q18_large_orders", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_quantity"))).as("qty_cents"))
        .filter(col("qty_cents") > 20000L)
      broadcast(big)
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("qty_cents"),
          cents(col("o_totalprice")).as("total_cents"))
    },
      Oracle("""WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(round(l_quantity*100, 0) AS BIGINT)) AS BIGINT)
        |      AS qty_cents
        |  FROM lineitem GROUP BY 1 HAVING qty_cents > 20000)
        |SELECT o_orderkey, c_name, qty_cents,
        |  CAST(round(o_totalprice*100, 0) AS BIGINT) AS total_cents
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // order-priority check (TPC-H Q4): EXISTS decorrelates to a LEFT SEMI
    // hash join — the extra lateness predicate (l_shipdate more than 75
    // days after o_orderdate; the fixture has no commit/receipt dates)
    // rides the equi-key join as a residual condition, never a
    // nested-loop. Counts collapse per priority after the semi join.
    Query("q4_priority", (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("lk"), col("l_shipdate"))
      o.join(li, col("lk") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 75 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    },
      Oracle("""SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 75 DAY)
        |GROUP BY 1""".stripMargin)),

    // forecasting-revenue change (TPC-H Q6): the single-table banded
    // filter — date range + discount band + quantity cap all push to the
    // parquet scan, then one partial-combined aggregate. The canonical
    // "does predicate pushdown reach the scan" probe.
    Query("q6_banded_rev", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(cents(col("l_extendedprice") * col("l_discount")))
          .as("revenue_cents"), count(lit(1)).as("n_lines")),
      Oracle("""SELECT CAST(SUM(CAST(round(l_extendedprice*l_discount*100, 0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin)),

    // shipping-priority mix (TPC-H Q12): one fact join + conditional
    // CASE-sums per category (l_linestatus stands in for the fixture's
    // missing shipmode) — both counts come out of ONE aggregate pass, not
    // two filtered scans.
    Query("q12_priority_mode", (s, dir) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_lines"),
          sum(when(hi, 0L).otherwise(1L)).as("low_lines"))
    },
      Oracle("""SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin)),

    // promotion revenue share (TPC-H Q14): revenue split by a dimension
    // attribute in one month, share emitted as integer permille via FLOOR
    // division of exact cent sums (a rounded double division would ride
    // the Spark-vs-DuckDB .5-boundary difference; x*1000 DIV y cannot).
    Query("q14_promo_share", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01") &&
          col("l_shipdate") < lit("1997-10-01"))
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO",
            cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .otherwise(0L)).as("promo_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("total_cents"))
        .withColumn("promo_permille",
          expr("promo_cents * 1000 DIV total_cents")),
      Oracle("""WITH a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(round(l_extendedprice*(1 - l_discount)*100, 0)
        |        AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents,
        |    CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0)
        |      AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate < TIMESTAMP '1997-10-01')
        |SELECT promo_cents, total_cents,
        |  promo_cents * 1000 // total_cents AS promo_permille FROM a""".stripMargin)),

    // top supplier (TPC-H Q15): revenue per supplier in a quarter, keep
    // the max — the 1-row max aggregate is BROADCAST back against the
    // per-supplier aggregate (never a global sort, never a window over
    // one partition), then the tiny winner set probes supplier.
    Query("q15_top_supplier", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("rev_cents"))
      rev.join(broadcast(rev.agg(max(col("rev_cents")).as("mx"))),
          col("rev_cents") === col("mx"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("rev_cents"))
    },
      Oracle("""WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0)
        |      AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, rev_cents
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_cents = (SELECT MAX(rev_cents) FROM rev)""".stripMargin)),

    // small-quantity-order revenue (TPC-H Q17): the correlated-average
    // subquery decorrelates to a per-part aggregate joined back to the
    // fact; the `l_quantity < 0.2 * avg(l_quantity)` test is done in
    // EXACT integers — 5 * qty_cents * n < sum_qty_cents — so no float
    // average ever materializes on either side.
    Query("q17_small_qty", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val pa = li.groupBy(col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("n_li"),
          sum(cents(col("l_quantity"))).as("sum_qty_cents"))
      li.join(broadcast(t(s, dir, "part")
            .filter(col("p_brand") === "Brand#11")),
          col("l_partkey") === col("p_partkey"))
        .join(pa, col("pk") === col("l_partkey"))
        .filter(cents(col("l_quantity")) * col("n_li") * 5 <
          col("sum_qty_cents"))
        .agg(sum(cents(col("l_extendedprice"))).as("small_rev_cents"),
          count(lit(1)).as("n_small"))
    },
      Oracle("""WITH pa AS (
        |  SELECT l_partkey AS pk, COUNT(*) AS n_li,
        |    CAST(SUM(CAST(round(l_quantity*100, 0) AS BIGINT)) AS BIGINT)
        |      AS sum_qty_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT
        |  CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT)
        |    AS small_rev_cents,
        |  COUNT(*) AS n_small
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN pa ON pk = l_partkey
        |WHERE p_brand = 'Brand#11'
        |  AND CAST(round(l_quantity*100, 0) AS BIGINT) * n_li * 5
        |      < sum_qty_cents""".stripMargin)),

    // discounted-revenue disjunction (TPC-H Q19): an OR of three
    // conjunctive (brand, size, quantity) bands — Catalyst keeps the
    // common `l_partkey = p_partkey` conjunct as the hash-join key and
    // evaluates the disjunction as a post-join filter; part is broadcast.
    Query("q19_disjunct", (s, dir) => {
      val band = (brand: String, szLo: Int, szHi: Int, qLo: Int, qHi: Int) =>
        col("p_brand") === brand &&
          col("p_size").between(szLo, szHi) &&
          col("l_quantity").between(qLo, qHi)
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .filter(band("Brand#12", 1, 15, 1, 11) ||
          band("Brand#23", 1, 25, 10, 20) ||
          band("Brand#34", 1, 35, 20, 30))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"), count(lit(1)).as("n_lines"))
    },
      Oracle("""SELECT
        |  CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // suppliers who kept orders waiting (TPC-H Q21): the EXISTS /
    // NOT-EXISTS pair over the SAME fact — one lineitem×orders lateness
    // base is built once and reused three ways: late rows (l1), a LEFT
    // SEMI probe for "some other supplier on the order" (l2), a LEFT
    // ANTI probe for "no other supplier was late" (l3). All three hang
    // off the orderkey hash — no nested-loop anywhere. Lateness =
    // shipped >90 days after order date (no receipt/commit dates in the
    // fixture); finished orders only.
    Query("q21_waiting", (s, dir) => {
      val base = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .as("late"))
      val l1 = base.filter(col("late"))
      l1.join(base.select(col("l_orderkey").as("ok2"),
            col("l_suppkey").as("sk2")),
          col("ok2") === col("l_orderkey") && col("sk2") =!= col("l_suppkey"),
          "left_semi")
        .join(l1.select(col("l_orderkey").as("ok3"),
            col("l_suppkey").as("sk3")),
          col("ok3") === col("l_orderkey") && col("sk3") =!= col("l_suppkey"),
          "left_anti")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    },
      Oracle("""WITH base AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |l1 AS (SELECT * FROM base WHERE late)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM base b2
        |    WHERE b2.l_orderkey = l1.l_orderkey
        |      AND b2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l1 l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1""".stripMargin)),

    // dormant high-balance customers (TPC-H Q22): the anti-join +
    // scalar-aggregate pair — segment customers above their segments'
    // positive-balance average (exact integers: cents(c)*n > sum_cents,
    // no float avg) with NO order since 2000-01-01. The 1-row stats
    // aggregate is broadcast; the recent-orders anti probe is a hash
    // join on custkey.
    Query("q22_idle_cust", (s, dir) => {
      val segs = Seq("BUILDING", "MACHINERY", "AUTOMOBILE")
      val c = t(s, dir, "customer").filter(col("c_mktsegment").isin(segs: _*))
      val stats = c.filter(col("c_acctbal") > 0)
        .agg(count(lit(1)).as("n_pos"),
          sum(cents(col("c_acctbal"))).as("sum_pos_cents"))
      c.crossJoin(broadcast(stats))
        .filter(cents(col("c_acctbal")) * col("n_pos") >
          col("sum_pos_cents"))
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01"))
            .select(col("o_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          sum(cents(col("c_acctbal"))).as("bal_cents"))
    },
      Oracle("""WITH c AS (SELECT * FROM customer
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')),
        |stats AS (SELECT COUNT(*) AS n_pos,
        |    CAST(SUM(CAST(round(c_acctbal*100, 0) AS BIGINT)) AS BIGINT)
        |      AS sum_pos_cents
        |  FROM c WHERE c_acctbal > 0)
        |SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(round(c_acctbal*100, 0) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM c, stats
        |WHERE CAST(round(c_acctbal*100, 0) AS BIGINT) * n_pos > sum_pos_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1""".stripMargin)),

    // join-consistent sampling: both fact tables sampled by the SAME
    // md5 rule on the JOIN KEY, so a ~1/16 sample of orders keeps ALL of
    // each sampled order's lineitems — the correlated-sampling property
    // that makes downstream join/agg estimates unbiased (independent
    // per-table sampling would keep ~1/256 of join rows and break every
    // per-order aggregate). Output: sampled counts + the join-complete
    // proof term (orders with a missing lineitem = 0 by construction,
    // asserted in the oracle twin too).
    Query("consistent_sample", (s, dir) => {
      val keep = (c: Column) => substring(md5(c.cast("string")), 1, 1) === "a"
      val o = t(s, dir, "orders").filter(keep(col("o_orderkey")))
      val li = t(s, dir, "lineitem").filter(keep(col("l_orderkey")))
      val j = o.join(li, col("o_orderkey") === col("l_orderkey"))
      o.agg(count(lit(1)).as("n_orders")).crossJoin(
          li.agg(count(lit(1)).as("n_lineitems")))
        .crossJoin(j.agg(count(lit(1)).as("n_join_rows")))
        .crossJoin(li.join(o, col("l_orderkey") === col("o_orderkey"),
            "left_anti")
          .agg(count(lit(1)).as("n_orphan_lineitems")))
    },
      Oracle("""WITH o AS (SELECT o_orderkey FROM orders
        |  WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = 'a'),
        |li AS (SELECT l_orderkey FROM lineitem
        |  WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) = 'a')
        |SELECT (SELECT COUNT(*) FROM o) AS n_orders,
        |  (SELECT COUNT(*) FROM li) AS n_lineitems,
        |  (SELECT COUNT(*) FROM o JOIN li ON o_orderkey = l_orderkey)
        |    AS n_join_rows,
        |  (SELECT COUNT(*) FROM li WHERE NOT EXISTS (
        |     SELECT 1 FROM o WHERE o_orderkey = l_orderkey))
        |    AS n_orphan_lineitems""".stripMargin)),

    // bilateral trade volume (TPC-H Q7): revenue between the NATION_0 ↔
    // NATION_3 pair by supplier/customer direction and year — the
    // two-dimension-role join (nation joins TWICE under different roles,
    // both broadcast), pair filter keeps both directions.
    Query("q7_volume", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val sup = broadcast(t(s, dir, "supplier"))
      val n1 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation")))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("snk"))
        .join(n2, col("c_nationkey") === col("cnk"))
        .filter((col("supp_nation") === "NATION_0" &&
            col("cust_nation") === "NATION_3") ||
          (col("supp_nation") === "NATION_3" &&
            col("cust_nation") === "NATION_0"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"))
    },
      Oracle("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_0' AND n2.n_name = 'NATION_3')
        |   OR (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_0')
        |GROUP BY 1, 2, 3""".stripMargin)),

    // returned-item losses (TPC-H Q10): top 20 customers by revenue on
    // 'R'-flagged lineitems in one quarter — date+flag filters reach the
    // scans, dims broadcast, top-k via TakeOrderedAndProject.
    Query("q10_returns", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1996-04-01")
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      o.join(li, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey").asc)
        .limit(20)
    },
      Oracle("""SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_cents DESC, c_custkey ASC
        |LIMIT 20""".stripMargin)),

    // customer order-count distribution (TPC-H Q13): LEFT join so
    // zero-order customers survive, count the non-null side, then the
    // second aggregation runs on the already-tiny (custkey, n) relation.
    Query("custdist", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_cust")),
      Oracle("""WITH pc AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT n_orders, COUNT(*) AS n_cust FROM pc GROUP BY 1""".stripMargin)),

    Query("count_rows", (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n")),
      Oracle("SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag")),

    // distinct aggregation (Expand + two-phase agg plan shape):
    Query("distinct_agg", (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          count(lit(1)).as("n")),
      Oracle("""SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
        | COUNT(*) AS n FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // rollup: subtotal + grand-total rows with NULL group markers, the
    // multi-level agg Catalyst gives for free (absent from the reference).
    Query("rollup_agg", (s, dir) =>
      t(s, dir, "orders").rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents")),
      Oracle("""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |   AS total_cents
        | FROM orders
        | GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin)),

    // full CUBE: all four grouping sets in ONE pass — Spark expands the
    // sets below a single hash aggregate (Expand + partial agg), so the
    // fact table is scanned and shuffled once, not once per set.
    Query("cube_agg", (s, dir) =>
      t(s, dir, "lineitem").cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_quantity"))).as("qty_cents")),
      Oracle("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(CAST(round(l_quantity*100, 0) AS BIGINT)) AS BIGINT)
        |   AS qty_cents
        | FROM lineitem
        | GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)),

    // per-group exact quartiles (distribution stats for curation/QA).
    // Quartile fractions and the integer-valued measure keep every
    // interpolation step exact in binary, so the DuckDB quantile_cont
    // twin hash-matches with no float drift. Exact percentile buffers
    // the group's values (ObjectHashAggregate) — fine for bounded-group
    // stats; an unbounded-cardinality 100 TB profile would switch to
    // approx_percentile's fixed-size sketch.
    Query("group_quartiles", (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag").as("flag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)") * 100).cast("long")
            .as("q1_cents"),
          round(expr("percentile(l_quantity, 0.5)") * 100).cast("long")
            .as("q2_cents"),
          round(expr("percentile(l_quantity, 0.75)") * 100).cast("long")
            .as("q3_cents"),
          count(lit(1)).as("n")),
      Oracle("""SELECT l_returnflag AS flag,
        | CAST(round(quantile_cont(l_quantity, 0.25) * 100) AS BIGINT) AS q1_cents,
        | CAST(round(quantile_cont(l_quantity, 0.5) * 100) AS BIGINT) AS q2_cents,
        | CAST(round(quantile_cont(l_quantity, 0.75) * 100) AS BIGINT) AS q3_cents,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // pivot (long→wide reshape); missing combinations coalesced to 0 so
    // the oracle's FILTER-count twin matches exactly.
    Query("pivot_agg", (s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P")).agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("f_n"),
          coalesce(col("O"), lit(0L)).as("o_n"),
          coalesce(col("P"), lit(0L)).as("p_n")),
      Oracle("""SELECT o_orderpriority,
        | COUNT(*) FILTER (o_orderstatus = 'F') AS f_n,
        | COUNT(*) FILTER (o_orderstatus = 'O') AS o_n,
        | COUNT(*) FILTER (o_orderstatus = 'P') AS p_n
        | FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // group-collect to a SORTED list (deterministic, so oracle-exact):
    // collect_set bounded by the group's distinct-value count, then an
    // in-row sort — the list-agg family the reference's state map implies.
    Query("collect_sorted", (s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
          .as("statuses"), count(lit(1)).as("n")),
      Oracle("""SELECT o_orderpriority,
        | string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
        |   AS statuses,
        | COUNT(*) AS n
        | FROM orders GROUP BY o_orderpriority""".stripMargin)),

    Query("group_state", (s, dir) =>
      t(s, dir, "events").groupBy(col("event_type").as("fn_key"),
        col("user_id")).agg(count(lit(1)).as("n")),
      Oracle("""SELECT event_type AS fn_key, user_id, COUNT(*) AS n
        | FROM events GROUP BY event_type, user_id""".stripMargin)),

    Query("sum_metric", (s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(sum(cents(col("value"))).as("dur_cents")),
      Oracle("""SELECT event_type,
        | CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS dur_cents
        | FROM events GROUP BY event_type""".stripMargin))
  )
}
