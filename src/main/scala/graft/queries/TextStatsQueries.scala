package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{EventAnalytics, GraphAlgos, Reconcile, TextAnalysis, Transforms}

import SparkEntry._

/** Text-analysis family, second part: grouping and rank windows, event
  * analytics, corpus sampling and mixtures, sketches, and as-of and range
  * joins. Each query is declared once, with its plan and its check;
  * [[SparkEntry]] derives the battery views from these lists. */
private[graft] object TextStatsQueries {
  lazy val all: Seq[Query] = Seq(
    // explicit GROUPING SETS (the non-hierarchical cousin of rollup/cube):
    // both one-column sets plus the grand total in ONE pass — Expand +
    // a single partial-combined hash aggregate, one scan and one shuffle
    // regardless of how many sets are requested.
    Query("grouping_sets", (s, dir) =>
      t(s, dir, "orders").groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")),
          Seq.empty),
        col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents")),
      Oracle("""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |   AS total_cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin)),

    // rank-family windows: percent_rank + cume_dist per group, emitted in
    // integer permille under a deterministic (price, key) total order.
    // Both engines compute the identical (rank-1)/(n-1) double before the
    // shared round — one window exchange, per-group sort only.
    Query("rank_permille", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(cents(col("o_totalprice")), col("o_orderkey"))
      t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("prio"),
        round(percent_rank().over(w) * 1000).cast("long").as("pr_permille"),
        round(cume_dist().over(w) * 1000).cast("long").as("cd_permille"))
    },
      Oracle("""SELECT o_orderkey, o_orderpriority AS prio,
        | CAST(round(percent_rank() OVER w * 1000, 0) AS BIGINT)
        |   AS pr_permille,
        | CAST(round(cume_dist() OVER w * 1000, 0) AS BIGINT)
        |   AS cd_permille
        |FROM orders WINDOW w AS (PARTITION BY o_orderpriority
        | ORDER BY CAST(round(o_totalprice*100, 0) AS BIGINT), o_orderkey)""".stripMargin)),

    // null-safe equi-join (<=>): null keys MATCH null keys instead of
    // dropping — the semantics a dimension join needs when "unknown" is
    // itself a dimension member. Still a hash join (null-safe equality is
    // a valid equi-key), never a nested loop.
    Query("nullsafe_join", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderstatus") === "P", lit(null))
          .otherwise(col("o_orderstatus")).as("st"))
      val dim = o.groupBy(col("st")).agg(count(lit(1)).as("st_n"))
        .withColumnRenamed("st", "dim_st")
      o.join(dim, o("st") <=> dim("dim_st"))
        .select(col("o_orderkey"), col("dim_st").as("st"), col("st_n"))
    },
      Oracle("""WITH o AS (SELECT o_orderkey,
        |    CASE WHEN o_orderstatus = 'P' THEN NULL
        |         ELSE o_orderstatus END AS st
        |  FROM orders),
        |d AS (SELECT st, COUNT(*) AS st_n FROM o GROUP BY 1)
        |SELECT o.o_orderkey, d.st, CAST(d.st_n AS BIGINT) AS st_n
        |FROM o JOIN d ON o.st IS NOT DISTINCT FROM d.st""".stripMargin)),

    // higher-order array functions fused in one projection: filter /
    // transform+aggregate (fold) / array_distinct over the token array —
    // all codegen'd array ops, zero shuffle, no explode round-trip.
    Query("array_hof", (s, dir) => {
      val toks = TextAnalysis.wsTokens(lower(trim(col("text"))))
      t(s, dir, "documents").select(col("doc_id"),
        size(filter(toks, w => length(w) > lit(4))).cast("long")
          .as("n_long"),
        aggregate(transform(toks, w => length(w).cast("long")), lit(0L),
          (acc, x) => acc + x).as("sum_len"),
        size(array_distinct(toks)).cast("long").as("n_uniq"))
    },
      Oracle("""WITH tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(list_filter(w, x -> length(x) > 4)) AS BIGINT) AS n_long,
        | CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
        |   AS sum_len,
        | CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq
        |FROM tk""".stripMargin)),

    // JSON path extraction (get_json_object $.nested.field) — the
    // schema-on-read escape hatch for ragged payloads; round-trips a
    // nested struct through JSON text so the oracle twin is the identity.
    Query("json_path", (s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        get_json_object(
          to_json(struct(col("user_id"),
            struct(col("event_type").as("t")).as("meta"))),
          "$.meta.t").as("etype")),
      Oracle("SELECT event_id, event_type AS etype FROM events")),

    // approximate heavy-hitters tier (DataSketches frequent-items via
    // approx_top_k): constant-size mergeable sketch state — the 100 TB
    // path when the key space (web tokens, URLs) is too large for
    // vocab_topk's exact full-vocabulary aggregate state. Rows-only (see
    // noOracleReason); error bounded vs exact counts in OperatorsSpec.
    Query("freq_approx", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.wsTokens(lower(trim(col("text")))))
          .as("w"))
        .agg(expr("approx_top_k(w, 20, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("w"), col("e.count").cast("long").as("n")),
      NoOracle("DataSketches frequent-items heavy hitters " +
      "(approx_top_k) — DuckDB has no equivalent sketch, so the estimate " +
      "column is not SQL-reproducible by design. OperatorsSpec asserts " +
      "every reported count matches the exact count within 1% and that " +
      "the reported set contains the exact top-10; the exact tier is " +
      "oracle-green as vocab_topk.")),

    // ordered funnel view → click → purchase per user
    // ([[EventAnalytics.funnelStages]]): per-stage earliest-after-previous
    // timestamps + stage count; every exchange in the chain hashes on the
    // same entity key.
    Query("funnel_stages", (s, dir) =>
      EventAnalytics.funnelStages(
        events(s, dir).select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("t_us")),
        "user_id", "event_type", "t_us",
        Seq("view", "click", "purchase")),
      Oracle("""WITH e AS (SELECT user_id, event_type AS et, epoch_us(ts) AS t_us
        |  FROM events),
        |s1 AS (SELECT user_id, MIN(t_us) AS t_1 FROM e
        |       WHERE et = 'view' GROUP BY 1),
        |s2 AS (SELECT user_id, MIN(t_us) AS t_2
        |       FROM e JOIN s1 USING (user_id)
        |       WHERE et = 'click' AND t_us > t_1 GROUP BY 1),
        |s3 AS (SELECT user_id, MIN(t_us) AS t_3
        |       FROM e JOIN s2 USING (user_id)
        |       WHERE et = 'purchase' AND t_us > t_2 GROUP BY 1)
        |SELECT s1.user_id, t_1, t_2, t_3,
        |  CAST(1 + CASE WHEN t_2 IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN t_3 IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |    AS stage
        |FROM s1 LEFT JOIN s2 USING (user_id)
        |        LEFT JOIN s3 USING (user_id)""".stripMargin)),

    // bit-packed presence: per (user, 60-day bucket), activity days as
    // one BIGINT bitmap + popcount ([[EventAnalytics.activityBitmap]] —
    // a single bit_or aggregate; segmentation reads the mask, not events).
    Query("activity_bitmap", (s, dir) =>
      EventAnalytics.activityBitmap(
        events(s, dir).select(col("user_id"), col("ts")),
        "user_id", expr("ts DIV 86400000000000"), bucketDays = 60),
      Oracle("""WITH e AS (SELECT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |b AS (SELECT user_id, day // 60 AS bucket,
        |    (1::BIGINT << CAST(day % 60 AS INTEGER)) AS bit FROM e)
        |SELECT user_id, bucket, bit_or(bit) AS mask,
        |  CAST(bit_count(bit_or(bit)) AS BIGINT) AS n_active
        |FROM b GROUP BY 1, 2""".stripMargin)),

    // cohort retention grid ([[EventAnalytics.retentionCohorts]]): first
    // active day = cohort, exact distinct users per (cohort, age) cell.
    Query("retention_cohorts", (s, dir) =>
      EventAnalytics.retentionCohorts(
        events(s, dir).select(col("user_id"),
          expr("ts DIV 86400000000000").as("day")),
        "user_id", "day"),
      Oracle("""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY 1)
        |SELECT cohort, day - cohort AS age_days,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin)),

    // 5-minute same-(user,type) debounce ([[EventAnalytics.debounce]]):
    // duplicate-click suppression under a deterministic (ts, id) total
    // order; one window exchange.
    Query("event_debounce", (s, dir) =>
      EventAnalytics.debounce(
        events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), expr("ts DIV 1000").as("t_us")),
        Seq(col("user_id"), col("event_type")),
        Seq(col("t_us"), col("event_id")),
        "t_us", minGap = 300000000L),
      Oracle("""SELECT event_id, user_id, event_type, t_us FROM (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events)
        |WHERE prev IS NULL OR t_us - prev >= 300000000""".stripMargin)),

    // synchronous label propagation (3 deterministic rounds) over the same
    // bounded interaction graph as triangle_count
    // ([[graft.operators.GraphAlgos.labelPropagation]]); the oracle
    // unrolls the rounds — aggregates can't appear in a recursive CTE.
    Query("label_prop", (s, dir) => {
      val e = modDirectedE(s, dir)
      graft.operators.GraphAlgos.labelPropagation(e, "src", "dst",
        rounds = 3)
    },
      Oracle(
        // three unrolled synchronous rounds (same reason as pagerank: no
        // aggregates inside a recursive CTE term)
        """WITH e0 AS (SELECT DISTINCT l_partkey % 300 AS a,
          |    l_suppkey % 300 AS b
          |  FROM lineitem
          |  WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0
          |    AND l_partkey % 300 <> l_suppkey % 300),
          |und AS (SELECT DISTINCT src, dst FROM (
          |  SELECT a AS src, b AS dst FROM e0
          |  UNION ALL SELECT b, a FROM e0)),
          |l0 AS (SELECT DISTINCT src AS id, src AS lab FROM und),
          |r1 AS (SELECT und.dst AS id, l0.lab, COUNT(*) AS cnt
          |       FROM und JOIN l0 ON und.src = l0.id GROUP BY 1, 2),
          |l1 AS (SELECT id, lab FROM (SELECT id, lab, ROW_NUMBER() OVER (
          |         PARTITION BY id ORDER BY cnt DESC, lab ASC) AS rn
          |       FROM r1) WHERE rn = 1),
          |r2 AS (SELECT und.dst AS id, l1.lab, COUNT(*) AS cnt
          |       FROM und JOIN l1 ON und.src = l1.id GROUP BY 1, 2),
          |l2 AS (SELECT id, lab FROM (SELECT id, lab, ROW_NUMBER() OVER (
          |         PARTITION BY id ORDER BY cnt DESC, lab ASC) AS rn
          |       FROM r2) WHERE rn = 1),
          |r3 AS (SELECT und.dst AS id, l2.lab, COUNT(*) AS cnt
          |       FROM und JOIN l2 ON und.src = l2.id GROUP BY 1, 2),
          |l3 AS (SELECT id, lab FROM (SELECT id, lab, ROW_NUMBER() OVER (
          |         PARTITION BY id ORDER BY cnt DESC, lab ASC) AS rn
          |       FROM r3) WHERE rn = 1)
          |SELECT CAST(id AS BIGINT) AS id, CAST(lab AS BIGINT) AS lab
          |FROM l3""".stripMargin)),

    // score the communities you just detected: Newman modularity
    // sufficient statistics of the 3-round label-prop partition over the
    // same interaction graph — per community, member count, internal
    // edges, degree mass, and the EXACT-integer contribution numerator
    // 4m·e_in − d_sum² over the shared denominator q_den = 4m², so
    // Q = Σ contrib_num / q_den derives exactly downstream and no
    // truncate-vs-floor division semantics enter the comparison
    // ([[GraphAlgos.modularityStats]]).
    Query("modularity_score", (s, dir) => {
      val e = modDirectedE(s, dir)
      val labels = graft.operators.GraphAlgos
        .labelPropagation(e, "src", "dst", rounds = 3)
      graft.operators.GraphAlgos.modularityStats(e, "src", "dst", labels)
    },
      Oracle(
        // label_prop's three unrolled rounds, then the modularity sufficient
        // statistics: canonical (src < dst) edges, degree mass and internal
        // edges per community, all-integer contribution numerators.
        """WITH e0 AS (SELECT DISTINCT l_partkey % 300 AS a,
          |    l_suppkey % 300 AS b
          |  FROM lineitem
          |  WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0
          |    AND l_partkey % 300 <> l_suppkey % 300),
          |und AS (SELECT DISTINCT src, dst FROM (
          |  SELECT a AS src, b AS dst FROM e0
          |  UNION ALL SELECT b, a FROM e0)),
          |l0 AS (SELECT DISTINCT src AS id, src AS lab FROM und),
          |r1 AS (SELECT und.dst AS id, l0.lab, COUNT(*) AS cnt
          |       FROM und JOIN l0 ON und.src = l0.id GROUP BY 1, 2),
          |l1 AS (SELECT id, lab FROM (SELECT id, lab, ROW_NUMBER() OVER (
          |         PARTITION BY id ORDER BY cnt DESC, lab ASC) AS rn
          |       FROM r1) WHERE rn = 1),
          |r2 AS (SELECT und.dst AS id, l1.lab, COUNT(*) AS cnt
          |       FROM und JOIN l1 ON und.src = l1.id GROUP BY 1, 2),
          |l2 AS (SELECT id, lab FROM (SELECT id, lab, ROW_NUMBER() OVER (
          |         PARTITION BY id ORDER BY cnt DESC, lab ASC) AS rn
          |       FROM r2) WHERE rn = 1),
          |r3 AS (SELECT und.dst AS id, l2.lab, COUNT(*) AS cnt
          |       FROM und JOIN l2 ON und.src = l2.id GROUP BY 1, 2),
          |l3 AS (SELECT id, lab FROM (SELECT id, lab, ROW_NUMBER() OVER (
          |         PARTITION BY id ORDER BY cnt DESC, lab ASC) AS rn
          |       FROM r3) WHERE rn = 1),
          |ec AS (SELECT src, dst FROM und WHERE src < dst),
          |deg AS (SELECT src AS id, COUNT(*) AS deg FROM und GROUP BY 1),
          |ds AS (SELECT l3.lab, COUNT(*) AS n_nodes, SUM(deg.deg) AS d_sum
          |       FROM l3 JOIN deg ON l3.id = deg.id GROUP BY 1),
          |ei AS (SELECT la.lab, COUNT(*) AS e_in
          |       FROM ec JOIN l3 la ON ec.src = la.id
          |         JOIN l3 lb ON ec.dst = lb.id
          |       WHERE la.lab = lb.lab GROUP BY 1),
          |mm AS (SELECT COUNT(*) AS m FROM ec)
          |SELECT CAST(ds.lab AS BIGINT) AS lab,
          |  CAST(ds.n_nodes AS BIGINT) AS n_nodes,
          |  CAST(COALESCE(ei.e_in, 0) AS BIGINT) AS e_in,
          |  CAST(ds.d_sum AS BIGINT) AS d_sum,
          |  CAST(mm.m AS BIGINT) AS m,
          |  CAST(4 * mm.m * COALESCE(ei.e_in, 0)
          |    - ds.d_sum * ds.d_sum AS BIGINT) AS contrib_num,
          |  CAST(4 * mm.m * mm.m AS BIGINT) AS q_den
          |FROM ds LEFT JOIN ei ON ds.lab = ei.lab CROSS JOIN mm""".stripMargin)),

    // 3σ outlier census per event type in exact DECIMAL(38,0) integer math
    // ([[Transforms.sigmaOutlierCensus]] — no float σ anywhere, so the
    // census is bit-identical across engines and scales).
    Query("outlier_sigma", (s, dir) =>
      Transforms.sigmaOutlierCensus(
        t(s, dir, "events").select(col("event_type").as("et"),
          cents(col("value")).as("v")),
        "et", "v", k = 3),
      Oracle("""WITH f AS (SELECT event_type AS et,
        |    CAST(round(value*100, 0) AS BIGINT) AS v FROM events),
        |s AS (SELECT et, COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS sv,
        |        SUM(CAST(v AS HUGEINT) * v) AS svv
        |      FROM f GROUP BY 1)
        |SELECT et,
        |  CAST(COUNT(*) FILTER (WHERE
        |    (CAST(v AS HUGEINT)*n - sv)*(CAST(v AS HUGEINT)*n - sv)
        |      > 9*(n*svv - sv*sv)) AS BIGINT) AS n_outliers,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM f JOIN s USING (et) GROUP BY 1""".stripMargin)),

    // robust sibling of outlier_sigma: median/MAD census in doubled-scale
    // integers ([[Transforms.madOutlierCensus]]) — the spike that inflates
    // σ can't hide from the median.
    Query("mad_outliers", (s, dir) =>
      Transforms.madOutlierCensus(
        t(s, dir, "events").select(col("event_type").as("et"),
          cents(col("value")).as("v")),
        "et", "v", k = 3),
      Oracle(
        // doubled-scale integer median/MAD (quantile_cont == Spark's exact
        // percentile: linear interpolation, exact in doubles at cent scale)
        """WITH f AS (SELECT event_type AS et,
          |    CAST(round(value*100, 0) AS BIGINT) AS v FROM events),
          |m AS (SELECT et, CAST(round(quantile_cont(v, 0.5) * 2) AS BIGINT)
          |        AS med2 FROM f GROUP BY 1),
          |a AS (SELECT et, abs(v*2 - med2) AS a FROM f JOIN m USING (et)),
          |md AS (SELECT et, CAST(round(quantile_cont(a, 0.5) * 2) AS BIGINT)
          |        AS mad4 FROM a GROUP BY 1)
          |SELECT et,
          |  CAST(COUNT(*) FILTER (WHERE a*2 > 3*mad4) AS BIGINT)
          |    AS n_outliers,
          |  CAST(COUNT(*) AS BIGINT) AS n
          |FROM a JOIN md USING (et) GROUP BY 1""".stripMargin)),

    // first-order Markov transition matrix over each user's event-type
    // sequence ([[EventAnalytics.transitionMatrix]]); integer-permille
    // shares, (t_us, event_id) total order.
    Query("event_transitions", (s, dir) =>
      EventAnalytics.transitionMatrix(
        events(s, dir).select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("t_us"), col("event_id")),
        "user_id", "event_type", Seq(col("t_us"), col("event_id"))),
      Oracle("""WITH e AS (SELECT user_id, event_type AS et, epoch_us(ts) AS t_us,
        |    event_id FROM events),
        |p AS (SELECT user_id, et, lag(et) OVER (PARTITION BY user_id
        |        ORDER BY t_us, event_id) AS prev FROM e),
        |c AS (SELECT prev AS prev_et, et, COUNT(*) AS n FROM p
        |      WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_et, et, CAST(n AS BIGINT) AS n,
        |  CAST(n * 1000 // SUM(n) OVER (PARTITION BY prev_et) AS BIGINT)
        |    AS permille
        |FROM c""".stripMargin)),

    // time-weighted average value per user (TWAP): spans to the next
    // event weight each observation; exact BIGINT cents×micros math
    // ([[EventAnalytics.timeWeightedAvg]]).
    Query("twap_user", (s, dir) =>
      EventAnalytics.timeWeightedAvg(
        events(s, dir).select(col("user_id"),
          expr("ts DIV 1000").as("t_us"), col("event_id"),
          cents(col("value")).as("v_cents")),
        "user_id", "t_us", "v_cents", Seq(col("event_id")))
        .withColumnRenamed("twap", "twap_cents"),
      Oracle("""WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, event_id,
        |    CAST(round(value*100, 0) AS BIGINT) AS v FROM events),
        |d AS (SELECT user_id, v,
        |    lead(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id)
        |      - t_us AS dt
        |  FROM e)
        |SELECT user_id,
        |  CAST(SUM(CAST(v AS HUGEINT) * dt) // SUM(dt) AS BIGINT)
        |    AS twap_cents,
        |  CAST(COUNT(*) AS BIGINT) AS n_spans
        |FROM d WHERE dt IS NOT NULL GROUP BY 1""".stripMargin)),

    // tick→bar OHLC resampling: per (event_type, hour) the first / max /
    // min / last value in cents ([[EventAnalytics.ohlcBars]]); first and
    // last are min_by/max_by under the (t_us, event_id) total order so
    // intra-hour ties are engine-independent.
    Query("ohlc_bars", (s, dir) =>
      EventAnalytics.ohlcBars(
        events(s, dir).select(col("event_type").as("et"),
          expr("ts DIV 1000").as("t_us"), col("event_id"),
          cents(col("value")).as("v")),
        "et", expr("t_us DIV 3600000000").as("hour"), "v",
        Seq(col("t_us"), col("event_id"))),
      Oracle("""WITH e AS (SELECT event_type AS et,
        |    epoch_us(ts) // 3600000000 AS hour,
        |    epoch_us(ts) AS t_us, event_id,
        |    CAST(round(value*100, 0) AS BIGINT) AS v FROM events)
        |SELECT et, hour,
        |  FIRST(v ORDER BY t_us, event_id) AS open,
        |  MAX(v) AS high, MIN(v) AS low,
        |  LAST(v ORDER BY t_us, event_id) AS close,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM e GROUP BY 1, 2""".stripMargin)),

    // best-tradeoff census: customers on the (total spend, order count)
    // Pareto frontier ([[Transforms.paretoFront2D]] — per-x max + a
    // bucketed prefix-max over the descending-spend order, never the
    // O(n²) dominance join the oracle uses).
    Query("pareto_front", (s, dir) => {
      val cust = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("spend_cents"),
          count(lit(1)).as("n_orders"))
      Transforms.paretoFront2D(cust, "spend_cents", "n_orders",
        expr("-(spend_cents DIV 10000000)"))
    },
      Oracle("""WITH c AS (SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |      AS spend_cents,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT spend_cents, o_custkey, n_orders FROM c p
        |WHERE NOT EXISTS (SELECT 1 FROM c q
        |  WHERE q.spend_cents >= p.spend_cents
        |    AND q.n_orders >= p.n_orders
        |    AND (q.spend_cents > p.spend_cents
        |      OR q.n_orders > p.n_orders))""".stripMargin)),

    // materialized-view maintenance with retractions: the per-customer
    // (count, sum) view is advanced by an insert+retract delta stream and
    // must equal the oracle's full recompute bit-for-bit
    // ([[Reconcile.maintainAggState]] — one partial-combined aggregate
    // over state ∪ delta-partials). Inserts = orders from 1997 on;
    // retractions = pre-1997 'F' orders leaving the view.
    Query("ivm_agg", (s, dir) => {
      val o = t(s, dir, "orders")
      val pre = o.filter(col("o_orderdate") < lit("1997-01-01"))
      val state = pre.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
      val inserts = o.filter(col("o_orderdate") >= lit("1997-01-01"))
        .select(col("o_custkey"), lit(1L).as("op"),
          cents(col("o_totalprice")).as("v"))
      val retracts = pre.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"), lit(-1L).as("op"),
          cents(col("o_totalprice")).as("v"))
      Reconcile.maintainAggState(state, "o_custkey", "n_orders",
        "total_cents", inserts.union(retracts), "op", "v")
    },
      Oracle("""SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders
        |WHERE NOT (o_orderdate < TIMESTAMP '1997-01-01'
        |  AND o_orderstatus = 'F')
        |GROUP BY 1""".stripMargin)),

    // exact trailing-3-hour distinct users per event type, anchored at
    // active hours — the bounded explode turns the range predicate into
    // an equi-join ([[EventAnalytics.slidingDistinct]]); the oracle says
    // the same thing as a BETWEEN join.
    Query("sliding_distinct", (s, dir) =>
      EventAnalytics.slidingDistinct(
        events(s, dir).select(col("event_type").as("et"),
          expr("(ts DIV 1000) DIV 3600000000").as("h"), col("user_id")),
        "et", "h", "user_id", lookback = 2),
      Oracle("""WITH e AS (SELECT DISTINCT event_type AS et, user_id,
        |    epoch_us(ts) // 3600000000 AS h FROM events),
        |a AS (SELECT DISTINCT et, h FROM e)
        |SELECT a.et, a.h AS win_end,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_distinct
        |FROM a JOIN e ON e.et = a.et AND e.h BETWEEN a.h - 2 AND a.h
        |GROUP BY 1, 2""".stripMargin)),

    // approximate tier of sliding_distinct: per-day HLL sketches merged
    // over the trailing-3-hour window frame by hll_union_agg — the
    // mergeable-sketch-over-window pattern that replaces exact sliding
    // distinct at 100 TB (state per (key, bucket) is one constant-size
    // sketch, reused by every window it falls in). Rows-only; error vs
    // the exact tier pinned in OperatorsSpec.
    Query("sliding_distinct_approx", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sk = events(s, dir)
        .select(col("event_type").as("et"),
          expr("(ts DIV 1000) DIV 3600000000").as("h"), col("user_id"))
        .groupBy(col("et"), col("h"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      sk.withColumn("wsk", expr("hll_union_agg(sk)").over(Window
          .partitionBy("et").orderBy("h").rangeBetween(-2, 0)))
        .select(col("et"), col("h"),
          expr("hll_sketch_estimate(wsk)").as("approx_users"))
    },
      NoOracle("trailing-window distinct users from " +
      "hll_union_agg over per-bucket sketches — sketch-valued, no DuckDB " +
      "twin (the hll_rollup argument applied to window frames). " +
      "OperatorsSpec pins every (type, hour) estimate within 5% of the " +
      "exact sliding_distinct tier on the same fixture.")),

    // per-user ML feature vector (the feature-store materialization): one
    // wide partial-combined aggregate + the struct-max modal event type —
    // every feature an exact integer, no window over raw events.
    Query("user_features", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        expr("ts DIV 86400000000000").as("day"), cents(col("value")).as("v"))
      val base = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("day")).as("days_active"),
          min(col("day")).as("first_day"), max(col("day")).as("last_day"),
          sum(col("v")).as("total_cents"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"))
      val mode = ev.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("user_id"))
        // min over (−count, type): highest count, ties to the
        // lexicographically smallest type — deterministic without a window
        .agg(min(struct((-col("__c")).as("negc"), col("event_type")))
          .getField("event_type").as("mode_et"))
      base.join(mode, "user_id")
    },
      Oracle("""WITH e AS (SELECT user_id, event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
        |b AS (SELECT user_id, COUNT(*) AS n_events,
        |    CAST(COUNT(DISTINCT day) AS BIGINT) AS days_active,
        |    MIN(day) AS first_day, MAX(day) AS last_day,
        |    CAST(SUM(v) AS BIGINT) AS total_cents,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purchases
        |  FROM e GROUP BY 1),
        |m AS (SELECT user_id, event_type AS mode_et FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id ORDER BY COUNT(*) DESC,
        |      event_type ASC) AS rn
        |    FROM e GROUP BY user_id, event_type) WHERE rn = 1)
        |SELECT b.user_id, b.n_events, b.days_active, b.first_day,
        |  b.last_day, b.total_cents, b.n_purchases, m.mode_et
        |FROM b JOIN m USING (user_id)""".stripMargin)),

    // duplicate-aware training weights (soft dedup): every doc keeps its
    // row but weighted 1e6/cluster_size ppm — cluster members share unit
    // mass, singletons keep full weight. The loss-weighting alternative
    // to dropping near-dups outright.
    Query("dup_weights", (s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = docDupGraph(s, dir)._2
      val sizes = clusters.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("__sz"))
      docs.select(col("doc_id"))
        .join(clusters.join(sizes, "cluster_id")
          .select(col("id").as("doc_id"), col("__sz")), Seq("doc_id"),
          "left")
        .select(col("doc_id"),
          coalesce(col("__sz"), lit(1L)).as("cluster_size"),
          expr("1000000 DIV coalesce(__sz, 1)").as("weight_ppm"))
    },
      Oracle("""WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(
        |    [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |     for i in range(1, greatest(len(w)-3, 1))]) AS shs
        |  FROM (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |    FROM documents)),
        |inv AS (SELECT doc_id, len(shs) AS nsh, unnest(shs) AS s FROM sh),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.nsh AS na, y.nsh AS nb,
        |        COUNT(*) AS common
        |      FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
        |      GROUP BY 1, 2, 3, 4),
        |pr AS (SELECT a, b FROM p
        |       WHERE CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT) >= 100),
        |ed AS (SELECT a AS src, b AS dst FROM pr
        |       UNION SELECT b, a FROM pr),
        |reach(id, lab) AS (
        |  SELECT src, src FROM ed
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN ed e ON e.src = r.id),
        |cl AS (SELECT CAST(id AS BIGINT) AS id,
        |    CAST(MIN(lab) AS BIGINT) AS cluster_id FROM reach GROUP BY id),
        |sz AS (SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY 1),
        |j AS (SELECT cl.id AS doc_id, sz.sz FROM cl
        |  JOIN sz USING (cluster_id))
        |SELECT d.doc_id, CAST(COALESCE(j.sz, 1) AS BIGINT)
        |    AS cluster_size,
        |  CAST(1000000 // COALESCE(j.sz, 1) AS BIGINT) AS weight_ppm
        |FROM documents d LEFT JOIN j ON d.doc_id = j.doc_id""".stripMargin)),

    // referential-integrity audit across the schema's FK relations in one
    // report ([[Transforms.fkAudit]]); events.user_id→customer is the
    // deliberately unconstrained relation (real orphans).
    Query("fk_audit", (s, dir) =>
      Transforms.fkAudit(Seq(
        ("lineitem.orderkey", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"),
        ("lineitem.partkey", t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey"),
        ("orders.custkey", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"),
        ("events.user", t(s, dir, "events"), "user_id",
          t(s, dir, "customer"), "c_custkey"))),
      Oracle("""SELECT 'lineitem.orderkey' AS fk, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_orphans
        |FROM lineitem c LEFT JOIN
        |  (SELECT DISTINCT o_orderkey AS k FROM orders) p
        |  ON c.l_orderkey = p.k
        |UNION ALL
        |SELECT 'lineitem.partkey', COUNT(*),
        |  CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem c LEFT JOIN
        |  (SELECT DISTINCT p_partkey AS k FROM part) p
        |  ON c.l_partkey = p.k
        |UNION ALL
        |SELECT 'orders.custkey', COUNT(*),
        |  CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders c LEFT JOIN
        |  (SELECT DISTINCT c_custkey AS k FROM customer) p
        |  ON c.o_custkey = p.k
        |UNION ALL
        |SELECT 'events.user', COUNT(*),
        |  CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM events c LEFT JOIN
        |  (SELECT DISTINCT c_custkey AS k FROM customer) p
        |  ON c.user_id = p.k""".stripMargin)),

    // graph health check: out-degree histogram of the mod-300 interaction
    // graph ([[GraphAlgos.degreeHistogram]] — two-level aggregate).
    Query("degree_hist", (s, dir) =>
      graft.operators.GraphAlgos.degreeHistogram(
        modDirectedE(s, dir), "src", "dst"),
      Oracle("""WITH e AS (SELECT DISTINCT l_partkey % 300 AS src,
        |    l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0),
        |d AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY 1)
        |SELECT degree, COUNT(*) AS n_nodes FROM d GROUP BY 1""".stripMargin)),

    // REAL-data JSON extraction: events.props is a JSON payload column;
    // per event type, stats over the extracted $.k (codegen'd
    // get_json_object — the oracle cross-checks with an independent
    // regexp extraction).
    Query("props_stats", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type").as("et"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("et"))
        .agg(count(lit(1)).as("n"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          count_distinct(col("k")).as("n_distinct_k"),
          max(col("k")).as("max_k")),
      Oracle("""WITH e AS (SELECT event_type AS et,
        |    CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '')
        |      AS BIGINT) AS k
        |  FROM events)
        |SELECT et, COUNT(*) AS n, COUNT(k) AS n_with_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k,
        |  CAST(MAX(k) AS BIGINT) AS max_k
        |FROM e GROUP BY 1""".stripMargin)),

    // provenance of near-duplication: Jaccard pairs bucketed by their
    // (source, source) pair — the "mirror site" census a curation
    // pipeline uses to pick crawl roots to drop.
    Query("cross_source_dups", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docDupGraph(s, dir)._1
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
        .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
        .groupBy(least(col("sa"), col("sb")).as("s1"),
          greatest(col("sa"), col("sb")).as("s2"))
        .agg(count(lit(1)).as("n_pairs"))
    },
      Oracle("""WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |     for i in range(1, greatest(len(w)-3, 1))]) AS shs
        |  FROM (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |    FROM documents)),
        |inv AS (SELECT doc_id, len(shs) AS nsh, unnest(shs) AS s FROM sh),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.nsh AS na, y.nsh AS nb,
        |        COUNT(*) AS common
        |      FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
        |      GROUP BY 1, 2, 3, 4),
        |pr AS (SELECT a, b FROM p
        |       WHERE CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT) >= 100)
        |SELECT least(da.source, db.source) AS s1,
        |  greatest(da.source, db.source) AS s2,
        |  COUNT(*) AS n_pairs
        |FROM pr JOIN documents da ON pr.a = da.doc_id
        |        JOIN documents db ON pr.b = db.doc_id
        |GROUP BY 1, 2""".stripMargin)),

    // metric drift: OLS slope of value (cents) over time (seconds,
    // recentered) per event type — exact integer sufficient stats, one
    // double division at the end ([[EventAnalytics.trendSlope]]).
    Query("trend_slope", (s, dir) =>
      EventAnalytics.trendSlope(
        events(s, dir).select(col("event_type").as("et"),
          expr("ts DIV 1000000000").as("t_s"),
          cents(col("value")).as("v")),
        "et", "t_s", "v"),
      Oracle("""WITH e AS (SELECT event_type AS et, epoch(ts)::BIGINT AS t_s,
        |    CAST(round(value*100, 0) AS BIGINT) AS v FROM events),
        |m AS (SELECT et, MIN(t_s) AS x0 FROM e GROUP BY 1),
        |st AS (SELECT e.et, COUNT(*) AS n,
        |    SUM(e.t_s - m.x0) AS sx, SUM(e.v) AS sy,
        |    SUM((e.t_s - m.x0) * e.v) AS sxy,
        |    SUM((e.t_s - m.x0) * (e.t_s - m.x0)) AS sxx
        |  FROM e JOIN m USING (et) GROUP BY 1)
        |SELECT et, n,
        |  CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
        |      = 0 THEN NULL ELSE
        |    CAST(round(
        |      CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
        |        AS DOUBLE) * 1000000 /
        |      CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
        |        AS DOUBLE), 0) AS BIGINT) END AS slope_micro
        |FROM st""".stripMargin)),

    // robust sibling of trend_slope: Theil–Sen per-user value trend —
    // lower median of pairwise slopes in integer micro-units; the self-join
    // fan-out is bounded by events-per-user
    // ([[EventAnalytics.theilSenSlope]]).
    Query("theilsen_slope", (s, dir) =>
      EventAnalytics.theilSenSlope(
        events(s, dir).select(col("user_id"),
          expr("ts DIV 1000000000").as("t_s"),
          cents(col("value")).as("v")),
        "user_id", "t_s", "v"),
      Oracle("""WITH e AS (SELECT user_id AS k, epoch(ts)::BIGINT AS x,
        |    CAST(round(value * 100, 0) AS BIGINT) AS y FROM events),
        |s AS (SELECT a.k AS k,
        |    CAST(round((b.y - a.y) * 1000000.0 / (b.x - a.x), 0)
        |      AS BIGINT) AS s
        |  FROM e a JOIN e b ON a.k = b.k AND a.x < b.x),
        |r AS (SELECT k, s,
        |    row_number() OVER (PARTITION BY k ORDER BY s) AS rn,
        |    COUNT(*) OVER (PARTITION BY k) AS n_pairs FROM s)
        |SELECT k AS user_id, n_pairs, s AS slope_micro FROM r
        |WHERE rn = (n_pairs + 1) // 2""".stripMargin)),

    // watermark-tuning report: per event type, events whose event time
    // regresses behind the running max in event_id arrival order, lateness
    // beyond 5 minutes, and the worst regression
    // ([[EventAnalytics.disorderCensus]]).
    Query("disorder_census", (s, dir) =>
      EventAnalytics.disorderCensus(
        events(s, dir).select(col("event_type").as("et"),
          expr("ts DIV 1000").as("t_us"), col("event_id")),
        "et", "t_us", Seq(col("event_id")), lateThreshold = 300000000L),
      Oracle("""WITH e AS (SELECT event_type AS et, epoch_us(ts) AS t_us,
        |    event_id FROM events),
        |l AS (SELECT et, t_us,
        |    MAX(t_us) OVER (PARTITION BY et ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM e),
        |d AS (SELECT et, CASE WHEN hwm IS NOT NULL AND t_us < hwm
        |    THEN hwm - t_us ELSE 0 END AS late FROM l)
        |SELECT et, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_out_of_order,
        |  CAST(SUM(CASE WHEN late > 300000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_beyond_threshold,
        |  CAST(MAX(late) AS BIGINT) AS max_lateness
        |FROM d GROUP BY 1""".stripMargin)),

    // CDC net-effect compaction: events re-read as a keyed changelog
    // (op from a deterministic event_id residue), squashed to at most one
    // downstream operation per user ([[Reconcile.compactChangelog]] —
    // endpoints-only semantics, one partial-combined aggregate).
    Query("cdc_compact", (s, dir) =>
      Reconcile.compactChangelog(
        t(s, dir, "events").select(col("user_id"),
          expr("CASE pmod(event_id, 7) WHEN 0 THEN 'D' WHEN 1 THEN 'I' " +
            "ELSE 'U' END").as("op"),
          cents(col("value")).as("v"),
          col("ts"), col("event_id")),
        "user_id", "op", "v", Seq(col("ts"), col("event_id"))),
      Oracle("""WITH lg AS (SELECT user_id,
        |    CASE event_id % 7 WHEN 0 THEN 'D' WHEN 1 THEN 'I'
        |      ELSE 'U' END AS op,
        |    CAST(round(value*100, 0) AS BIGINT) AS v, ts, event_id
        |  FROM events),
        |w AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rrn
        |  FROM lg),
        |a AS (SELECT user_id,
        |    MAX(CASE WHEN rn = 1 THEN op END) AS fop,
        |    MAX(CASE WHEN rrn = 1 THEN op END) AS lop,
        |    MAX(CASE WHEN rrn = 1 THEN v END) AS lv,
        |    COUNT(*) AS n_ops
        |  FROM w GROUP BY 1)
        |SELECT user_id,
        |  CASE WHEN fop = 'I' THEN 'I' WHEN lop = 'D' THEN 'D'
        |    ELSE 'U' END AS net_op,
        |  CASE WHEN fop <> 'I' AND lop = 'D' THEN NULL ELSE lv END AS net_val,
        |  n_ops
        |FROM a WHERE NOT (fop = 'I' AND lop = 'D')""".stripMargin)),

    // coverage census: each event opens a presence interval of
    // 1..1800 s (deterministic in event_id); overlapping-or-touching
    // intervals merge per user ([[EventAnalytics.mergeIntervals]] —
    // prefix-max island detection, union measure in micros).
    Query("interval_merge", (s, dir) => {
      val tus = expr("ts DIV 1000")
      EventAnalytics.mergeIntervals(
        events(s, dir).select(col("user_id"), tus.as("t0"),
          (tus + (pmod(col("event_id"), lit(1800L)) + lit(1L)) *
            lit(1000000L)).as("t1"),
          col("event_id")),
        "user_id", "t0", "t1", Seq(col("event_id")))
    },
      Oracle("""WITH iv AS (SELECT user_id, epoch_us(ts) AS t0,
        |    epoch_us(ts) + ((event_id % 1800) + 1) * 1000000 AS t1,
        |    event_id
        |  FROM events),
        |x AS (SELECT *, MAX(t1) OVER (PARTITION BY user_id
        |      ORDER BY t0, t1, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM iv),
        |y AS (SELECT *,
        |    CASE WHEN hwm IS NULL OR t0 > hwm THEN 1 ELSE 0 END AS nw
        |  FROM x),
        |z AS (SELECT *, SUM(nw) OVER (PARTITION BY user_id
        |      ORDER BY t0, t1, event_id ROWS UNBOUNDED PRECEDING) AS island
        |  FROM y),
        |isl AS (SELECT user_id, island, MIN(t0) AS s, MAX(t1) AS e
        |  FROM z GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_islands,
        |  CAST(SUM(e - s) AS BIGINT) AS covered, MAX(e - s) AS longest
        |FROM isl GROUP BY 1""".stripMargin)),

    // momentum scorer: lag-1 serial correlation of value (cents) per
    // event type under the (ts, event_id) total order
    // ([[EventAnalytics.lagAutocorr]] — exact DECIMAL(38,0) sufficient
    // stats, one double quantization to micros at the end).
    Query("autocorr_lag", (s, dir) =>
      EventAnalytics.lagAutocorr(
        t(s, dir, "events").select(col("event_type").as("et"),
          cents(col("value")).as("v"), col("ts"), col("event_id")),
        "et", "v", Seq(col("ts"), col("event_id"))),
      Oracle("""WITH e AS (SELECT event_type AS et,
        |    CAST(round(value*100, 0) AS BIGINT) AS v, ts, event_id
        |  FROM events),
        |p AS (SELECT et, lag(v) OVER (PARTITION BY et
        |      ORDER BY ts, event_id) AS x, v AS y FROM e),
        |q AS (SELECT * FROM p WHERE x IS NOT NULL),
        |st AS (SELECT et, COUNT(*) AS n_pairs,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM q GROUP BY 1)
        |SELECT et, n_pairs,
        |  CASE WHEN n_pairs * sxx - sx * sx = 0
        |      OR n_pairs * syy - sy * sy = 0 THEN NULL ELSE
        |    CAST(round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) * 1000000 /
        |      (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 0)
        |      AS BIGINT) END AS corr_micro
        |FROM st""".stripMargin)),

    // growth accounting: per active day, distinct actives, first-time
    // users, and the running ever-seen total
    // ([[EventAnalytics.cumulativeUsers]] — prefix sum of per-day
    // new-user counts, no distinct-over-window).
    Query("cumulative_users", (s, dir) =>
      EventAnalytics.cumulativeUsers(
        events(s, dir).select(col("user_id"), col("ts")),
        "user_id", expr("ts DIV 86400000000000")),
      Oracle("""WITH d AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS fday FROM d GROUP BY 1),
        |nu AS (SELECT fday AS day, COUNT(*) AS n_new FROM f GROUP BY 1),
        |na AS (SELECT day, COUNT(*) AS n_active FROM d GROUP BY 1)
        |SELECT na.day, na.n_active, COALESCE(nu.n_new, 0) AS n_new,
        |  CAST(SUM(COALESCE(nu.n_new, 0)) OVER (ORDER BY na.day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM na LEFT JOIN nu ON na.day = nu.day""".stripMargin)),

    // sequence mining: top-20 event-type trigrams across user timelines
    // ([[EventAnalytics.pathTrigrams]] — array-side trigram build under
    // a total order, no positional self-join).
    Query("path_trigrams", (s, dir) =>
      EventAnalytics.pathTrigrams(
        t(s, dir, "events").select(col("user_id"), col("event_type"),
          col("ts"), col("event_id")),
        "user_id", "event_type", Seq(col("ts"), col("event_id")), 20),
      Oracle("""WITH w AS (SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e3
        |  FROM events)
        |SELECT e1 || ' ' || e2 || ' ' || e3 AS trigram, COUNT(*) AS n
        |FROM w WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, trigram ASC LIMIT 20""".stripMargin)),

    // engagement streaks: distinct active days + longest consecutive-day
    // run per user ([[EventAnalytics.streakCensus]] — rank-difference
    // islands over the distinct (user, day) grid).
    Query("streak_census", (s, dir) =>
      EventAnalytics.streakCensus(
        events(s, dir).select(col("user_id"), col("ts")),
        "user_id", expr("ts DIV 86400000000000")),
      Oracle("""WITH d AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |i AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS isl FROM d),
        |l AS (SELECT user_id, isl, COUNT(*) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_days,
        |  MAX(len) AS longest_streak
        |FROM l GROUP BY 1""".stripMargin)),

    // distribution-drift alarm: exact two-sample KS statistic of each
    // event type's value distribution vs the pooled rest, D in integer
    // micros via cross-multiplication ([[EventAnalytics.ksDrift]] — raw
    // rows collapse to (group, value) counts before any window).
    Query("ks_drift", (s, dir) =>
      EventAnalytics.ksDrift(
        t(s, dir, "events").select(col("event_type").as("et"),
          cents(col("value")).as("v")),
        "et", "v"),
      Oracle("""WITH e AS (SELECT event_type AS et,
        |    CAST(round(value*100, 0) AS BIGINT) AS v FROM events),
        |c AS (SELECT et, v, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
        |g AS (SELECT et, SUM(cnt) AS ng FROM c GROUP BY 1),
        |t AS (SELECT SUM(cnt) AS n FROM c),
        |vals AS (SELECT DISTINCT v FROM c),
        |pv AS (SELECT v, SUM(cnt) AS cv FROM c GROUP BY 1),
        |grid AS (SELECT g.et, g.ng, t.n, vals.v,
        |    COALESCE(c.cnt, 0) AS cg, pv.cv
        |  FROM g CROSS JOIN t CROSS JOIN vals
        |  LEFT JOIN c ON c.et = g.et AND c.v = vals.v
        |  JOIN pv ON pv.v = vals.v),
        |cum AS (SELECT et, ng, n, v,
        |    SUM(cg) OVER (PARTITION BY et ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cumg,
        |    SUM(cv - cg) OVER (PARTITION BY et ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cumr
        |  FROM grid),
        |x AS (SELECT et, MAX(ng) AS ng, MAX(n - ng) AS nr,
        |    MAX(ABS(cumg * (n - ng) - cumr * ng)) AS dmax
        |  FROM cum GROUP BY 1)
        |SELECT et, CAST(ng AS BIGINT) AS n_g, CAST(nr AS BIGINT) AS n_rest,
        |  CAST(dmax * 1000000 // (ng * nr) AS BIGINT) AS d_micro
        |FROM x""".stripMargin)),

    // fraud-lens digit census: first significant digit of order totals
    // (cents) vs the Benford expectation — shares in integer permille,
    // the 9-row expectation table inlined identically on both sides.
    Query("benford_digits", (s, dir) =>
      t(s, dir, "orders")
        .select(expr("CAST(substring(CAST(" +
          "CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) " +
          "AS INT)").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("share_permille", expr(
          "n * 1000 DIV sum(n) OVER ()"))
        .withColumn("benford_permille", expr(
          "element_at(map(1, 301L, 2, 176L, 3, 125L, 4, 97L, 5, 79L, " +
          "6, 67L, 7, 58L, 8, 51L, 9, 46L), digit)")),
      Oracle("""WITH v AS (SELECT CAST(round(o_totalprice*100, 0) AS BIGINT) AS c
        |  FROM orders),
        |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
        |    AS digit FROM v),
        |n AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1)
        |SELECT digit, n,
        |  CAST(n * 1000 // (SELECT SUM(n) FROM n) AS BIGINT)
        |    AS share_permille,
        |  CAST(CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125
        |    WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67 WHEN 7 THEN 58
        |    WHEN 8 THEN 51 ELSE 46 END AS BIGINT) AS benford_permille
        |FROM n""".stripMargin)),

    // behavioral-diversity scorer: Shannon entropy of each user's
    // event-type mix, integer permille-nats
    // ([[EventAnalytics.distributionEntropy]]; same quantized-ln
    // discipline as unigram_logprob, so the sum is order-exact).
    Query("type_entropy", (s, dir) =>
      EventAnalytics.distributionEntropy(
        t(s, dir, "events").select(col("user_id"), col("event_type")),
        "user_id", "event_type"),
      Oracle("""WITH c AS (SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT user_id, SUM(c) AS n FROM c GROUP BY 1),
        |t AS (SELECT c.user_id, c.c, n.n,
        |    CAST(round(ln(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))
        |      * 1000000, 0) AS BIGINT) AS lp
        |  FROM c JOIN n USING (user_id))
        |SELECT user_id,
        |  CAST(round(-SUM(lp * c) / (MAX(n) * 1000.0), 0) AS BIGINT)
        |    AS entropy_permille,
        |  CAST(COUNT(*) AS BIGINT) AS n_cats
        |FROM t GROUP BY 1""".stripMargin)),

    // hourly-seasonality monitor: per (event type, hour-of-day), flag
    // days whose count exceeds 2x that hour's cross-day mean — the
    // integer cross-multiplied test, no float baseline
    // ([[EventAnalytics.seasonalAnomaly]]).
    Query("seasonal_anomaly", (s, dir) => {
      val tus = expr("ts DIV 1000")
      EventAnalytics.seasonalAnomaly(
        events(s, dir).select(col("event_type").as("et"),
          tus.as("t_us")),
        "et", expr("t_us DIV 86400000000").as("day"),
        expr("(t_us DIV 3600000000) % 24").as("hod"), factor = 2)
    },
      Oracle("""WITH b AS (SELECT event_type AS et,
        |    epoch_us(ts) // 86400000000 AS period,
        |    (epoch_us(ts) // 3600000000) % 24 AS phase, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |s AS (SELECT et, phase, COUNT(*) AS np, SUM(c) AS tot
        |  FROM b GROUP BY 1, 2)
        |SELECT b.et, b.phase,
        |  CAST(MAX(s.np) AS BIGINT) AS n_periods,
        |  CAST(MAX(s.tot) AS BIGINT) AS total_events,
        |  CAST(SUM(CASE WHEN b.c * s.np > 2 * s.tot THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anomalous
        |FROM b JOIN s ON b.et = s.et AND b.phase = s.phase
        |GROUP BY 1, 2""".stripMargin)),

    // sweep-line peak concurrency per event type: each event holds a
    // 10-minute presence window ([[EventAnalytics.maxConcurrency]];
    // closes-before-opens tie order = half-open interval semantics).
    Query("max_concurrency", (s, dir) => {
      val tus = expr("ts DIV 1000")
      EventAnalytics.maxConcurrency(
        events(s, dir).select(col("event_type"), tus.as("t0"),
          (tus + lit(600000000L)).as("t1")),
        "event_type", "t0", "t1")
        .withColumnRenamed("k", "et")
    },
      Oracle(
        // closes sort before opens at the same instant (d = -1 < 1): the
        // half-open interval tie rule, mirrored in the engine's (t, d) order
        """WITH e AS (SELECT event_type AS et, epoch_us(ts) AS t FROM events),
          |p AS (SELECT et, t, 1 AS d FROM e
          |      UNION ALL SELECT et, t + 600000000, -1 FROM e),
          |c AS (SELECT et, SUM(d) OVER (PARTITION BY et ORDER BY t, d
          |        ROWS UNBOUNDED PRECEDING) AS c FROM p)
          |SELECT et, CAST(MAX(c) AS BIGINT) AS max_concurrent
          |FROM c GROUP BY 1""".stripMargin)),

    // compaction planning over per-order "file" sizes: distributed
    // ordered prefix sum (no single-partition window —
    // [[Transforms.orderedPrefixSum]]) then greedy first-fit binning to
    // ~2 GB targets ([[Transforms.compactionBins]]).
    Query("compaction_bins", (s, dir) => {
      val files = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("bytes"))
      Transforms.compactionBins(files, "l_orderkey", "bytes",
        expr("l_orderkey DIV 256"), target = 2000000000L)
    },
      Oracle("""WITH f AS (SELECT l_orderkey AS k,
        |    SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS bytes
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT k, bytes, SUM(bytes) OVER (ORDER BY k
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM f)
        |SELECT CAST((cum - bytes) // 2000000000 AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(bytes) AS BIGINT) AS bin_bytes
        |FROM c GROUP BY 1""".stripMargin)),

    // zone-map pruning census: per-month shipdate zones vs a 6-month
    // predicate window — the parquet row-group skipping arithmetic a
    // layout optimizer prices ([[Transforms.zoneMapPrune]]).
    // [10227, 10407] = days-since-epoch for 1998-01-01 .. 1998-06-30.
    Query("zone_prune", (s, dir) =>
      Transforms.zoneMapPrune(
        t(s, dir, "lineitem").select(
          expr("CAST(datediff(l_shipdate, DATE'1970-01-01') AS BIGINT)")
            .as("d"))
          .withColumn("zone", expr("d DIV 30")),
        col("zone"), "d", lo = 10227L, hi = 10407L),
      Oracle("""WITH z AS (SELECT
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS d FROM lineitem),
        |s AS (SELECT d // 30 AS zone, MIN(d) AS mn, MAX(d) AS mx,
        |        COUNT(*) AS n FROM z GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_zones,
        |  CAST(COUNT(*) FILTER (WHERE mx < 10227 OR mn > 10407) AS BIGINT)
        |    AS zones_skipped,
        |  CAST(COALESCE(SUM(n) FILTER (WHERE mx < 10227 OR mn > 10407), 0)
        |    AS BIGINT) AS rows_skipped,
        |  CAST(SUM(n) AS BIGINT) AS rows_total
        |FROM s""".stripMargin)),

    // TF-IDF top terms per doc — ranked on the integer (tf, df) columns
    // so the oracle compare never touches the float score (see tfIdf doc).
    Query("tfidf_topterms", (s, dir) =>
      Transforms.topKPerGroup(
          TextAnalysis.tfIdfFromPostings(t(s, dir, "documents"),
            corpusPostings(s, dir)),
          Seq(col("id")),
          Seq(col("tf").desc, col("term_df").asc, col("term").asc), 5)
        .select(col("id").as("doc_id"), col("term"), col("tf"),
          col("term_df")),
      Oracle("""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(
        |    trim(lower(text)), '\s+')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT w, COUNT(*) AS term_df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.w AS term, tf.tf, dfq.term_df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfq.term_df ASC, tf.w ASC) AS rk
        |  FROM tf JOIN dfq USING (w))
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
        |  CAST(term_df AS BIGINT) AS term_df
        |FROM r WHERE rk <= 5""".stripMargin)),

    // CCNet-style corpus-LM quality signal: mean unigram log-prob per doc
    // (integer-micro rounding per token keeps the distributed sum exact).
    Query("unigram_logprob", (s, dir) =>
      TextAnalysis.unigramLogProbFromCounts(t(s, dir, "documents"),
        "text", "doc_id", corpusUnigramCounts(s, dir)),
      Oracle("""WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |c AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT SUM(c) AS t FROM c)
        |SELECT doc_id,
        |  CAST(round(SUM(CAST(round(ln(CAST(c.c AS DOUBLE) /
        |      CAST(tot.t AS DOUBLE)) * 1000000, 0) AS BIGINT))
        |    / (COUNT(*) * 1000.0), 0) AS BIGINT) AS lp_permille
        |FROM tok JOIN c USING (w) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin)),

    // Gopher rule battery (Rae et al. 2021 A1.1): the heuristic quality
    // filter applied before LM training — word-count bounds, mean word
    // length, symbol ratio, alphabetic fraction, stopword probe — as ONE
    // fused scan-side projection in integer permille
    // ([[TextAnalysis.gopherRules]]).
    Query("gopher_rules", (s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), "text", "doc_id",
        minWords = 50, maxWords = 100000)
        .withColumnRenamed("id", "doc_id"),
      Oracle(
        // Gopher rule battery: integer permille throughout; `//` on
        // nonnegative counts matches Spark DIV; '...' occurrence count via
        // greedy non-overlapping replace is identical in both engines; the
        // stopword probe AND the word-count gate literals are GENERATED from
        // the same Scala definitions the engine scores with (one-definition
        // discipline)
        s"""WITH w AS (SELECT doc_id, text,
          |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
          |  FROM documents),
          |m AS (SELECT doc_id,
          |    CAST(len(ws) AS BIGINT) AS n_words,
          |    CAST(length(array_to_string(ws, '')) AS BIGINT) AS chars,
          |    CAST((length(text) - length(replace(text, '#', '')))
          |      + ((length(text) - length(replace(text, '...', ''))) // 3)
          |      AS BIGINT) AS sym,
          |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
          |      AS BIGINT) AS alpha,
          |    CAST(len(list_intersect(list_distinct(ws),
          |      [$gopherStopSqlList]))
          |      AS BIGINT) AS n_stop
          |  FROM w),
          |p AS (SELECT doc_id, n_words,
          |    CASE WHEN n_words = 0 THEN 0
          |         ELSE (chars * 1000) // n_words END AS mean_wlen_permille,
          |    CASE WHEN n_words = 0 THEN 0
          |         ELSE (sym * 1000) // n_words END AS symbol_permille,
          |    CASE WHEN n_words = 0 THEN 0
          |         ELSE (alpha * 1000) // n_words END AS alpha_permille,
          |    n_stop
          |  FROM m)
          |SELECT doc_id, n_words,
          |  CAST(mean_wlen_permille AS BIGINT) AS mean_wlen_permille,
          |  CAST(symbol_permille AS BIGINT) AS symbol_permille,
          |  CAST(alpha_permille AS BIGINT) AS alpha_permille, n_stop,
          |  CAST(CASE WHEN n_words >= ${TextAnalysis.GopherMinWords}
          |    AND n_words <= ${TextAnalysis.GopherMaxWords}
          |    AND mean_wlen_permille >= 3000 AND mean_wlen_permille <= 10000
          |    AND symbol_permille <= 100 AND alpha_permille >= 800
          |    AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS pass
          |FROM p""".stripMargin)),

    // Gopher repetition battery (Rae et al. 2021 A1.2), the companion
    // gate to gopher_rules: top-n-gram character concentration (n=2..4)
    // and duplicated-n-gram character coverage (n=5..10) in integer
    // permille, one explode + two doc-keyed aggregates for all nine n
    // ([[TextAnalysis.gopherRepetition]]).
    Query("gopher_repetition", (s, dir) =>
      TextAnalysis.gopherRepetition(t(s, dir, "documents"), "text",
        "doc_id").withColumnRenamed("id", "doc_id"),
      Oracle {
        // Gopher repetition battery: one list-comprehension window explode
        // for all nine n values, two aggregates, conditional-aggregate
        // widening; cov = count × char length on both sides; permilles via
        // pure-integer //; the per-n cap literals are GENERATED from the
        // same Scala Seqs the engine gates with (one-definition discipline)
        val allN = TextAnalysis.GopherTopNGramCaps ++
          TextAnalysis.GopherDupNGramCaps
        val rawCols = allN.map { case (n, _) =>
          if (n <= 4)
            s"MAX(CASE WHEN n = $n THEN top END) AS top${n}_raw"
          else
            s"MAX(CASE WHEN n = $n THEN dup END) AS dup${n}_raw"
        }.mkString(",\n|    ")
        val pmCols = allN.map { case (n, _) =>
          val kind = if (n <= 4) "top" else "dup"
          s"CASE WHEN n_chars = 0 THEN 0 ELSE " +
            s"(COALESCE($kind${n}_raw, 0) * 1000) // n_chars END " +
            s"AS $kind${n}_permille"
        }.mkString(",\n|    ")
        val outCols = allN.map { case (n, _) =>
          val kind = if (n <= 4) "top" else "dup"
          s"CAST($kind${n}_permille AS BIGINT) AS $kind${n}_permille"
        }.mkString(",\n|  ")
        val gate = allN.map { case (n, cap) =>
          val kind = if (n <= 4) "top" else "dup"
          s"$kind${n}_permille <= $cap"
        }.mkString("\n|    AND ")
        s"""WITH w AS (SELECT doc_id,
          |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
          |  FROM documents),
          |base AS (SELECT doc_id,
          |    CAST(length(array_to_string(ws, ' ')) AS BIGINT) AS n_chars
          |  FROM w),
          |g AS (SELECT doc_id, n,
          |    unnest([array_to_string(ws[i:i+n-1], ' ')
          |            for i in range(1, len(ws) - n + 2)]) AS gram
          |  FROM w, (SELECT unnest(range(2, 11)) AS n) ns
          |  WHERE len(ws) >= n),
          |per AS (SELECT doc_id, n, gram, COUNT(*) AS cnt,
          |    COUNT(*) * length(gram) AS cov
          |  FROM g GROUP BY 1, 2, 3),
          |sig AS (SELECT doc_id, n, MAX(cov) AS top,
          |    SUM(CASE WHEN cnt >= 2 THEN cov ELSE 0 END) AS dup
          |  FROM per GROUP BY 1, 2),
          |wide AS (SELECT doc_id,
          |    $rawCols
          |  FROM sig GROUP BY 1),
          |p AS (SELECT base.doc_id, n_chars,
          |    $pmCols
          |  FROM base LEFT JOIN wide USING (doc_id))
          |SELECT doc_id, n_chars,
          |  $outCols,
          |  CAST(CASE WHEN $gate
          |    THEN 1 ELSE 0 END AS BIGINT) AS pass
          |FROM p""".stripMargin
      }),

    // per-source corpus stats: the curation dashboard query (docs, token
    // volume, mean quality per source) — one partial-combined aggregate.
    Query("domain_stats", (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
          round(sum(col("q")) / count(lit(1))).cast("long")
            .as("mean_quality_permille")),
      Oracle(s"""SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM($wsCountExpr) AS BIGINT) AS total_tokens,
        |  CAST(round(SUM($qualityExpr) * 1.0 / COUNT(*), 0) AS BIGINT)
        |    AS mean_quality_permille
        |FROM documents GROUP BY source""".stripMargin)),

    // stratified downsampling: cap over-represented languages by
    // deterministic content-hash rate (en 25%, de 50%, rest whole) — one
    // fused filter pass, no shuffle, no RNG state.
    Query("sample_stratified", (s, dir) =>
      TextAnalysis.sampleStratified(t(s, dir, "documents"),
          col("lang"), col("text"), Map("en" -> 250, "de" -> 500))
        .select(col("doc_id"), col("lang")),
      Oracle(
        // thresholds generated from the SAME hashSampleThreshold the engine
        // uses — lowercase-hex compare is numeric compare on both sides.
        s"""SELECT doc_id, lang FROM documents
          |WHERE CASE
          |  WHEN lang = 'en' THEN substr(md5(text), 1, 4) <
          |    '${TextAnalysis.hashSampleThreshold(250)}'
          |  WHEN lang = 'de' THEN substr(md5(text), 1, 4) <
          |    '${TextAnalysis.hashSampleThreshold(500)}'
          |  ELSE TRUE END""".stripMargin)),

    // derive-the-rates half of stratified sampling: resample to a TARGET
    // language mixture (en 40%, others 15% each); the scarcest-vs-target
    // stratum is kept whole and the rest downsample to match. Integer
    // rate math + Knuth-multiplicative keep decision (mixtureResample
    // doc), so the oracle reproduces the exact kept row set.
    Query("mixture_sample", (s, dir) =>
      TextAnalysis.mixtureResample(t(s, dir, "documents"), col("lang"),
          col("doc_id"), Map("en" -> 400, "zh" -> 150, "es" -> 150,
            "de" -> 150, "fr" -> 150))
        .select(col("doc_id"), col("lang")),
      Oracle(
        // integer floor division on both sides (// in DuckDB, DIV in Spark);
        // the Knuth keep step is the salt-folded keepHashPpm on both sides
        // (XxhOracleSql.knuthKeepPpm — identity fold at fixture ids, and
        // the form that survives ANSI mode at 100x-rung surrogate keys)
        """WITH w(lang, w) AS (VALUES ('en', CAST(400 AS BIGINT)),
          |    ('zh', 150), ('es', 150), ('de', 150), ('fr', 150)),
          |c AS (SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY 1),
          |j AS (SELECT c.lang, c.n_s, w.w FROM c JOIN w USING (lang)),
          |s AS (SELECT MIN((n_s * 1000000) // w) AS scale FROM j),
          |r AS (SELECT lang, (w * scale) // n_s AS rate_ppm FROM j, s)
          |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
          |WHERE KEEPHASH < r.rate_ppm""".stripMargin
          .replace("KEEPHASH", XxhOracleSql.knuthKeepPpm("d.doc_id")))),

    // temperature-based (α = 0.3) mixture resampling — the multilingual
    // balancing standard: keep rates derived from the observed language
    // distribution flattened by p^α, Knuth-hash keep decision
    // ([[TextAnalysis.alphaMixture]]).
    Query("alpha_mixture", (s, dir) =>
      TextAnalysis.alphaMixture(t(s, dir, "documents")
          .select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"), alpha = TextAnalysis.MixtureAlpha)
        .select(col("doc_id"), col("lang"), col("rate_ppm")),
      Oracle(
        // temperature resampling replay: pow(p, ALPHA) quantized ONCE to
        // micros per stratum (the dsir_log ln discipline — a flip needs
        // DuckDB's and Java's pow to straddle a .5 micros boundary); pure
        // integer target share + rate + Knuth keep after that. The ALPHA
        // literal is generated from the engine's MixtureAlpha constant
        // (one-definition discipline).
        """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
          |t AS (SELECT SUM(n) AS nn FROM c),
          |w AS (SELECT lang, n, nn, CAST(round(
          |      pow(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE), ALPHA) * 1000000,
          |      0) AS BIGINT) AS w
          |  FROM c, t),
          |d2 AS (SELECT SUM(w) AS wd FROM w),
          |r AS (SELECT lang, CAST(least(1000000,
          |      (((1000000 * w) // wd) * nn) // n) AS BIGINT) AS rate_ppm
          |  FROM w, d2)
          |SELECT d.doc_id, d.lang, r.rate_ppm
          |FROM documents d JOIN r USING (lang)
          |WHERE KEEPHASH < r.rate_ppm""".stripMargin
          .replace("ALPHA", TextAnalysis.MixtureAlpha.toString)
          .replace("KEEPHASH", XxhOracleSql.knuthKeepPpm("d.doc_id")))),

    // deterministic per-stratum cap: keep ≤20 docs per language, ranked by
    // (content-hash, id) — the "no source may exceed K examples" curation
    // rule, reproducible under reshuffling/reruns because the rank key is
    // content, not arrival order. Same TakeOrdered-per-group machinery as
    // topk_per_group.
    Query("sample_per_group", (s, dir) =>
      Transforms.topKPerGroup(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), md5(col("text")).as("h")),
        Seq(col("lang")), Seq(col("h").asc, col("doc_id").asc), 20)
        .select(col("doc_id"), col("lang")),
      Oracle(
        // word 8-grams via the same list-comprehension idiom; split by the
        """SELECT doc_id, lang FROM (
          |  SELECT doc_id, lang, row_number() OVER (
          |    PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
          |  FROM documents)
          | WHERE rn <= 20""".stripMargin)),

    // corpus drift report: per-language composition of the train vs test
    // content-hash splits, shares in integer permille (n*1000 DIV total) —
    // the dataset-shift QA check run before a retrain. Two partial
    // aggregates + one tiny join; the window sums run over the ≤|langs|
    // aggregate output, never over rows.
    Query("corpus_drift", (s, dir) => {
      val d = t(s, dir, "documents")
      val split = TextAnalysis.hashSplit(col("text"))
      val a = d.filter(split === "train")
        .groupBy(col("lang")).agg(count(lit(1)).as("a_n"))
      val b = d.filter(split === "test")
        .groupBy(col("lang")).agg(count(lit(1)).as("b_n"))
      a.join(b, Seq("lang"), "full_outer")
        .select(col("lang"), coalesce(col("a_n"), lit(0L)).as("a_n"),
          coalesce(col("b_n"), lit(0L)).as("b_n"))
        .select(col("lang"), col("a_n"), col("b_n"),
          expr("a_n * 1000 DIV sum(a_n) OVER ()").as("a_share_pm"),
          expr("b_n * 1000 DIV sum(b_n) OVER ()").as("b_share_pm"))
        .withColumn("drift_pm", col("a_share_pm") - col("b_share_pm"))
    },
      Oracle(
        // same hash_split CASE as decontaminate; integer-permille shares
        """WITH sp AS (SELECT lang,
          |    CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train'
          |         WHEN substr(md5(text), 1, 1) < 'e' THEN 'val'
          |         ELSE 'test' END AS split
          |  FROM documents),
          |a AS (SELECT lang, COUNT(*) AS a_n FROM sp
          |      WHERE split = 'train' GROUP BY lang),
          |b AS (SELECT lang, COUNT(*) AS b_n FROM sp
          |      WHERE split = 'test' GROUP BY lang),
          |j AS (SELECT COALESCE(a.lang, b.lang) AS lang,
          |        COALESCE(a_n, 0) AS a_n, COALESCE(b_n, 0) AS b_n
          |      FROM a FULL JOIN b ON a.lang = b.lang)
          |SELECT lang, a_n, b_n,
          |  CAST(a_n * 1000 // SUM(a_n) OVER () AS BIGINT) AS a_share_pm,
          |  CAST(b_n * 1000 // SUM(b_n) OVER () AS BIGINT) AS b_share_pm,
          |  CAST(a_n * 1000 // SUM(a_n) OVER ()
          |     - b_n * 1000 // SUM(b_n) OVER () AS BIGINT) AS drift_pm
          |FROM j""".stripMargin)),

    // approximate-aggregate tier: HLL++ distinct users per event type
    // (exact distinct shuffles every (type, user) pair; the sketch carries
    // a constant-size buffer per group — the 100 TB cardinality path).
    // No SQL twin (DuckDB's approx_count_distinct is a different sketch);
    // OperatorsSpec bounds relative error vs exact on the same data.
    Query("distinct_approx", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users")),
      NoOracle("HLL++ sketch counts — DuckDB's " +
      "approx_count_distinct is a different sketch with different " +
      "estimates, so values are not SQL-reproducible by design. " +
      "OperatorsSpec bounds relative error vs exact COUNT(DISTINCT) on " +
      "the same data (rsd=0.02 → assert within 5%); the exact tier is " +
      "oracle-green as distinct_agg.")),

    // MERGEABLE sketch rollup — the 100 TB distinct-count pattern: build
    // a DataSketches HLL per event type ONCE, estimate each, and derive
    // the all-types row by UNIONING THE SKETCHES (hll_union_agg) instead
    // of re-scanning events. Rows-only (no SQL twin — see
    // noOracleReason); OperatorsSpec pins merged-vs-direct equality and
    // error vs exact.
    Query("hll_rollup", (s, dir) => {
      val sk = t(s, dir, "events")
        .groupBy(col("event_type").as("et"))
        .agg(hll_sketch_agg(col("user_id")).as("__sk"))
        .localCheckpoint() // one sketch build feeds both levels
      val per = sk.select(col("et"),
        hll_sketch_estimate(col("__sk")).as("n_users_approx"))
      val all = sk.agg(hll_union_agg(col("__sk")).as("__u"))
        .select(lit("ALL").as("et"),
          hll_sketch_estimate(col("__u")).as("n_users_approx"))
      per.unionAll(all)
    },
      NoOracle("DataSketches HLL sketches (hll_sketch_agg / " +
      "hll_union_agg) — DuckDB has no compatible sketch, so estimates " +
      "are not SQL-reproducible by design. OperatorsSpec pins the " +
      "property the query demonstrates: the union-merged rollup estimate " +
      "EQUALS the direct single-sketch estimate over the same rows " +
      "(mergeability), and both land within 5% of exact " +
      "COUNT(DISTINCT). Exact tier = distinct_agg.")),

    // sequence packing (concat-then-cut training layout): per-shard
    // running token count → (pack_id, pack_offset); shard = content-hash
    // split so each shard's order-window is bounded.
    Query("pack_sequences", (s, dir) =>
      TextAnalysis.packSequences(t(s, dir, "documents"), "text", "doc_id",
        TextAnalysis.hashSplit(col("text")), maxTokens = 1024),
      Oracle("""WITH d AS (SELECT doc_id,
        |  CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train'
        |       WHEN substr(md5(text), 1, 1) < 'e' THEN 'val'
        |       ELSE 'test' END AS shard,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |    AS n_tokens
        |  FROM documents)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(cum // 1024 AS BIGINT) AS pack_id,
        |  CAST(cum % 1024 AS BIGINT) AS pack_offset
        |FROM (SELECT *, COALESCE(SUM(n_tokens) OVER (
        |    PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM d)""".stripMargin)),

    // context-window chunking: 8-token windows every 4 tokens (50%
    // overlap); chunk text emitted as md5 to keep the compare compact.
    Query("chunk_docs", (s, dir) =>
      TextAnalysis.chunkDocs(t(s, dir, "documents"), "text", "doc_id",
          width = 8, stride = 4)
        .select(col("doc_id"), col("chunk_start").cast("long").as("chunk_start"),
          md5(col("chunk")).as("chunk_md5")),
      Oracle("""SELECT doc_id, u.st AS chunk_start, md5(u.ch) AS chunk_md5
        |FROM (SELECT doc_id,
        |  unnest([{'st': i,
        |           'ch': array_to_string(w[i:i+7], ' ')}
        |          for i in range(1, greatest(len(w), 1) + 1, 4)]) AS u
        |  FROM (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS w
        |    FROM documents))""".stripMargin)),

    // PII scrub: the corpus has no addresses, so deterministic emails are
    // SYNTHESIZED into every 5th doc first — the redaction regex is then
    // actually exercised, and the oracle re-creates the identical input.
    Query("pii_redact", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0,
              concat(lit(" contact: user"), col("doc_id"),
                lit("@example.com now"))).otherwise(lit("")))
            .as("t2"))
        .select(col("doc_id"),
          TextAnalysis.piiEmailCount(col("t2")).cast("long").as("n_emails"),
          md5(TextAnalysis.piiRedact(col("t2"))).as("redacted_md5")),
      Oracle("""SELECT doc_id,
        |  len(regexp_extract_all(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  md5(regexp_replace(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]',
        |    'g')) AS redacted_md5
        |FROM (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN ' contact: user' || doc_id || '@example.com now'
        |         ELSE '' END AS t2
        |  FROM documents)""".stripMargin)),

    // as-of join (engine extension, §2.3 note): latest 'error' event
    // at-or-before each 'click', per user — one union + window pass,
    // linear in |L|+|R|, never the quadratic join-filter-window shape.
    Query("asof_join", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("ts").as("err_ts"),
          col("event_id"))
      graft.operators.AsofJoin.asof(clicks, errors, "user_id", "ts",
          Seq("err_ts"), rightTieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_err_ts")).as("err_ts_us"))
    },
      Oracle(// compares in the MICROSECOND domain on both sides: the engine
      // truncates the ns source to us (timestamp_micros(ts DIV 1000)), so
      // the oracle must order by the same truncated value — ns-precision
      // `c.ts >= e.ts` would disagree for events inside one microsecond.
      """SELECT c.event_id, c.user_id, c.tu AS ts_us, e.tu AS err_ts_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.tu >= e.tu""".stripMargin)),

    // merge_asof parity: backward with a 1-hour tolerance — matches
    // further away resolve to null, exactly pandas `tolerance=`.
    Query("asof_tolerance", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("ts").as("err_ts"),
          col("event_id"))
      graft.operators.AsofJoin.asof(clicks, errors, "user_id", "ts",
          Seq("err_ts"), rightTieBreak = Seq("event_id"),
          tolerance = Some(expr("INTERVAL '1' HOUR")))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_err_ts")).as("err_ts_us"))
    },
      Oracle("""SELECT c.event_id, c.user_id, c.tu AS ts_us,
        |  CASE WHEN c.tu - e.tu <= 3600000000 THEN e.tu END AS err_ts_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.tu >= e.tu""".stripMargin)),

    // forward direction: earliest error at-or-after each click
    Query("asof_forward", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("ts").as("err_ts"),
          col("event_id"))
      graft.operators.AsofJoin.asof(clicks, errors, "user_id", "ts",
          Seq("err_ts"), rightTieBreak = Seq("event_id"),
          direction = "forward")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_err_ts")).as("err_ts_us"))
    },
      Oracle("""SELECT c.event_id, c.user_id, c.tu AS ts_us, e.tu AS err_ts_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.tu <= e.tu""".stripMargin)),

    // range join (engine extension): clicks inside the 30-minute window
    // after an error of the same user — binned equi-join on
    // (user_id, bin), never a nested-loop range scan. All arithmetic in
    // the long micros domain so binning and the residual BETWEEN are
    // exact on both engines.
    Query("range_join", (s, dir) => {
      val ev = events(s, dir).withColumn("tu", expr("ts DIV 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("tu"))
      val win = 30L * 60L * 1000000L // 30 min in micros
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("tu").as("w_start"), (col("tu") + lit(win)).as("w_end"))
      graft.operators.RangeJoin.pointInInterval(
          clicks, errors, "tu", "w_start", "w_end",
          binWidth = win, keys = Seq("user_id"))
        .select(col("click_id"), col("user_id"), col("err_id"),
          col("tu").as("click_us"), col("w_start").as("err_us"))
    },
      Oracle(// same micros domain as the engine (ns DIV 1000); window inclusive
      // on both ends to match pointInInterval's BETWEEN semantics
      """SELECT c.event_id AS click_id, c.user_id, e.event_id AS err_id,
        |  c.tu AS click_us, e.tu AS err_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'click') c
        |JOIN (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id
        | AND c.tu >= e.tu AND c.tu <= e.tu + 1800000000""".stripMargin))
  )
}
