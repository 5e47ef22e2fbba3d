package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, EventAnalytics, GraphAlgos, Similarity, TextAnalysis, Transforms}

import SparkEntry._

/** Streaming-shape family: windowed aggregates written as batch queries so
  * the oracle can check them (the streaming specs replay `stream_window`
  * and `rate_limit` as streams), followed by the basket, attribution,
  * sampling and statistics queries declared under the same section. Each
  * query is declared once, with its plan and its check; [[SparkEntry]]
  * derives the battery views from these lists. */
private[graft] object StreamingShapeQueries {
  lazy val all: Seq[Query] = Seq(
    // ===== streaming-shape (batch-checkable windowed agg) =====
    Query("stream_window", (s, dir) => {
      val ss = new graft.streaming.StreamingSync(s, null, null)
      // ts arrives as long nanos (events() canonicalizes) — DIV to micros.
      val ev = events(s, dir)
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      ss.windowedAgg(ev, "ts", "event_type", "1 hour", "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"), col("event_type"), col("n"), col("value_cents"))
    },
      Oracle("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |   AS window_start,
        | event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS value_cents
        | FROM events GROUP BY 1, 2""".stripMargin)),

    // link prediction over the mod-300 interaction graph: top-50 not-yet-
    // connected pairs by resource-allocation score
    // ([[GraphAlgos.linkPrediction]] — wedge join, integer-micro RA, no
    // all-pairs stage; same bounded graph as triangle_count/kcore).
    Query("link_predict", (s, dir) => {
      val g = modCanonicalE(s, dir)
      GraphAlgos.linkPrediction(g, "a", "b")
        .orderBy(col("ra_micro").desc, col("u").asc, col("w").asc)
        .limit(50)
    },
      Oracle(
        // integer floor division on both sides (// in DuckDB, DIV in Spark);
        // RA summand 1000000//deg is exact, so no float enters the score
        """WITH g AS (
          |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
          |                  greatest(l_partkey % 300, l_suppkey % 300) AS b
          |  FROM lineitem
          |  WHERE least(l_partkey % 300, l_suppkey % 300)
          |          < greatest(l_partkey % 300, l_suppkey % 300)
          |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
          |         + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
          |adj AS (SELECT a AS id, b AS nb FROM g
          |        UNION ALL SELECT b, a FROM g),
          |deg AS (SELECT id, COUNT(*) AS deg FROM adj GROUP BY 1),
          |cand AS (
          |  SELECT l.nb AS u, r.nb AS w, COUNT(*) AS common,
          |    CAST(SUM(1000000 // d.deg) AS BIGINT) AS ra_micro
          |  FROM adj l JOIN adj r ON l.id = r.id AND l.nb < r.nb
          |  JOIN deg d ON d.id = l.id
          |  GROUP BY 1, 2),
          |sc AS (
          |  SELECT c.u, c.w, c.common, c.ra_micro,
          |    (1000 * c.common) // (du.deg + dw.deg - c.common)
          |      AS jaccard_permille
          |  FROM cand c
          |  JOIN deg du ON du.id = c.u
          |  JOIN deg dw ON dw.id = c.w
          |  WHERE NOT EXISTS (SELECT 1 FROM g WHERE g.a = c.u AND g.b = c.w))
          |SELECT * FROM sc
          |ORDER BY ra_micro DESC, u ASC, w ASC LIMIT 50""".stripMargin)),

    // Apriori level 3: part-category triples co-ordered in ≥2 orders
    // ([[Transforms.basketTriples]] — per-basket 3-way self-join bounded
    // by basket SIZE (≤7 lines, scale-invariant), frequent-pair semi-join
    // prunes candidates first per the Apriori property).
    Query("basket_triples", (s, dir) =>
      Transforms.basketTriples(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), (col("l_partkey") % 100).as("cat")),
        "l_orderkey", "cat", minCount = 2),
      Oracle("""WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 100 AS i
        |  FROM lineitem)
        |SELECT x.i AS item_a, y.i AS item_b, z.i AS item_c,
        |  COUNT(*) AS n_abc
        |FROM bi x
        |JOIN bi y ON x.b = y.b AND x.i < y.i
        |JOIN bi z ON x.b = z.b AND z.i > y.i
        |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2""".stripMargin)),

    // Poisson bootstrap: 32 deterministic replicate (n_eff, Σcents) pairs
    // for order totals — the scalable bootstrap (per-row Poisson(1)
    // multiplicity instead of resampling), draws from md5 so the twin
    // reproduces them bit-for-bit; SE/CI derive downstream from the 32
    // exact-integer rows ([[Transforms.poissonBootstrap]]).
    Query("bootstrap_reps", (s, dir) =>
      Transforms.poissonBootstrap(t(s, dir, "orders"),
        col("o_orderkey"), cents(col("o_totalprice")), reps = 32)
        .withColumnRenamed("sum_v", "sum_cents"),
      Oracle {
        val th = Transforms.poissonHexThresholds
        s"""WITH r AS (SELECT CAST(o_orderkey AS VARCHAR) AS k,
          |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS v, t.b AS b
          |  FROM orders, range(0, 32) t(b)),
          |w AS (SELECT b,
          |    CASE WHEN substr(md5(k||':'||b), 1, 5) < '${th(0)}' THEN 0
          |         WHEN substr(md5(k||':'||b), 1, 5) < '${th(1)}' THEN 1
          |         WHEN substr(md5(k||':'||b), 1, 5) < '${th(2)}' THEN 2
          |         WHEN substr(md5(k||':'||b), 1, 5) < '${th(3)}' THEN 3
          |         ELSE 4 END AS w, v
          |  FROM r)
          |SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
          |  CAST(SUM(w * v) AS BIGINT) AS sum_cents
          |FROM w GROUP BY 1""".stripMargin
      }),

    // calibration-curve fit: isotonic (nondecreasing) regression of mean
    // event value over hour-of-day per event type, by exact-integer PAV
    // ([[Transforms.isotonicFit]] — the one legitimately-sequential-in-x
    // fit, run per group via the typed API over ≤24 pre-aggregated
    // points; rows-only, OperatorsSpec pins hand-computed pools).
    Query("isotonic_fit", (s, dir) => {
      val pts = events(s, dir)
        .select(col("event_type").as("et"),
          expr("((ts DIV 1000) DIV 3600000000) % 24").as("hod"),
          cents(col("value")).as("vc"))
        .groupBy(col("et"), col("hod"))
        .agg(sum(col("vc")).as("s"), count(lit(1)).as("n"))
      Transforms.isotonicFit(pts, "et", "hod", "s", "n")
    },
      Oracle(
        // PAV isotonic pools == vertices of the GREATEST CONVEX MINORANT of
        // the per-group cumulative-sum diagram (Barlow et al. 1972): prefix
        // point P_i = (Σn, Σs) is a pool boundary iff NO chord P_j–P_k
        // (j<i<k) passes below it — an exact integer cross-multiplied test,
        // replayable in SQL because groups hold ≤24 hour-of-day points.
        """WITH pts AS (
          |  SELECT CAST(event_type AS VARCHAR) AS g,
          |         (epoch_us(ts) // 3600000000) % 24 AS x,
          |         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
          |           AS BIGINT) AS s,
          |         COUNT(*) AS n
          |  FROM events GROUP BY 1, 2),
          |ord0 AS (SELECT g, x, s, n,
          |         ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn
          |         FROM pts),
          |pre AS (
          |  SELECT g, rn,
          |    CAST(SUM(s) OVER (PARTITION BY g ORDER BY rn) AS BIGINT) AS cs,
          |    CAST(SUM(n) OVER (PARTITION BY g ORDER BY rn) AS BIGINT) AS cn
          |  FROM ord0
          |  UNION ALL
          |  SELECT DISTINCT g, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
          |  FROM ord0),
          |bnd AS (
          |  SELECT p.g, p.rn, p.cs, p.cn FROM pre p
          |  WHERE NOT EXISTS (
          |    SELECT 1 FROM pre j, pre k
          |    WHERE j.g = p.g AND k.g = p.g AND j.rn < p.rn AND k.rn > p.rn
          |      AND (p.cs - j.cs) * (k.cn - j.cn)
          |        > (k.cs - j.cs) * (p.cn - j.cn))),
          |seg AS (
          |  SELECT g, rn AS hi, cs AS cshi, cn AS cnhi,
          |    LAG(rn) OVER (PARTITION BY g ORDER BY rn) AS lo,
          |    LAG(cs) OVER (PARTITION BY g ORDER BY rn) AS cslo,
          |    LAG(cn) OVER (PARTITION BY g ORDER BY rn) AS cnlo
          |  FROM bnd),
          |pools AS (
          |  SELECT s.g, s.lo, s.hi, s.cshi - s.cslo AS pool_sum,
          |         s.cnhi - s.cnlo AS pool_n, o.x AS pool_x
          |  FROM seg s JOIN ord0 o ON o.g = s.g AND o.rn = s.lo + 1
          |  WHERE s.lo IS NOT NULL)
          |SELECT o.g AS et, o.x AS hod, p.pool_x,
          |  CAST(p.pool_sum AS BIGINT) AS pool_sum,
          |  CAST(p.pool_n AS BIGINT) AS pool_n
          |FROM ord0 o
          |JOIN pools p ON p.g = o.g AND o.rn > p.lo AND o.rn <= p.hi""".stripMargin)),

    // association rules: part pairs co-ordered in ≥2 orders, with integer
    // support/confidence ([[Transforms.basketPairs]] — distinct-collapse
    // first, self-join bounded by TPC-H's ≤7-line orders).
    Query("basket_pairs", (s, dir) =>
      Transforms.basketPairs(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minCount = 2)
        .orderBy(col("n_ab").desc, col("item_a").asc, col("item_b").asc)
        .limit(100),
      Oracle("""WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |tot AS (SELECT COUNT(DISTINCT b) AS n_baskets FROM bi),
        |ic AS (SELECT i, COUNT(*) AS c FROM bi GROUP BY 1),
        |p AS (
        |  SELECT x.i AS item_a, y.i AS item_b, COUNT(*) AS n_ab
        |  FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT p.item_a, p.item_b, p.n_ab, ca.c AS c_a, cb.c AS c_b,
        |  (1000000 * p.n_ab) // t.n_baskets AS support_ppm,
        |  (1000 * p.n_ab) // ca.c AS conf_ab_permille,
        |  (1000 * p.n_ab) // cb.c AS conf_ba_permille
        |FROM p
        |JOIN ic ca ON ca.i = p.item_a
        |JOIN ic cb ON cb.i = p.item_b
        |CROSS JOIN tot t
        |ORDER BY n_ab DESC, item_a ASC, item_b ASC LIMIT 100""".stripMargin)),

    // corpus-distribution quality: Zipf rank-frequency slope over the
    // top-1k vocabulary ([[TextAnalysis.zipfSlope]] — per-term ln
    // quantized to micros, regression on exact integer sufficient stats).
    Query("zipf_slope", (s, dir) =>
      TextAnalysis.zipfSlopeFromCounts(corpusUnigramCounts(s, dir),
        k = 1000),
      Oracle(
        // per-term ln quantizes to integer micros BEFORE any sum (the
        // unigram_logprob discipline) — the regression runs on exact HUGEINT
        // sufficient stats, one final double division
        """WITH tok AS (
          |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
          |    AS w
          |  FROM documents),
          |cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
          |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r
          |       FROM cnt ORDER BY c DESC, w ASC LIMIT 1000),
          |q AS (SELECT
          |    CAST(round(ln(CAST(r AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x,
          |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y
          |  FROM rk),
          |st AS (SELECT COUNT(*) AS n_terms,
          |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
          |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
          |    SUM(CAST(x AS HUGEINT) * x) AS sxx
          |  FROM q)
          |SELECT n_terms,
          |  CAST(round(CAST(n_terms * sxy - sx * sy AS DOUBLE) * 1000000 /
          |    CAST(n_terms * sxx - sx * sx AS DOUBLE), 0) AS BIGINT)
          |    AS slope_micro
          |FROM st""".stripMargin)),

    // dyadic-decay smoothing of per-type daily spend
    // ([[EventAnalytics.ewmaDaily]] — grid collapse first, banded self-
    // join with power-of-two weights, integer end to end).
    Query("ewma_daily", (s, dir) =>
      EventAnalytics.ewmaDaily(
        events(s, dir).select(col("event_type").as("et"), col("ts"),
          col("value")),
        "et", expr("ts DIV 86400000000000"),
        expr("CAST(round(value * 100, 0) AS BIGINT)"), horizon = 30),
      Oracle(
        // weights are exact powers of two (1<<(30-age)); the weighted sum and
        // weight sum stay integers, one floor division normalizes
        """WITH daily AS (
          |  SELECT event_type AS et, epoch_us(ts) // 86400000000 AS day,
          |    CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT)
          |      AS cents
          |  FROM events GROUP BY 1, 2),
          |j AS (
          |  SELECT d1.et, d1.day, d2.day AS d2, d2.cents AS c2,
          |    (CAST(1 AS BIGINT) << CAST(30 - (d1.day - d2.day) AS INT))
          |      AS w,
          |    d1.cents AS cur
          |  FROM daily d1 JOIN daily d2 ON d1.et = d2.et
          |    AND d2.day BETWEEN d1.day - 30 AND d1.day)
          |SELECT et, day,
          |  MAX(CASE WHEN d2 = day THEN cur END) AS cents,
          |  COUNT(*) AS n_window,
          |  CAST(SUM(w * c2) // SUM(w) AS BIGINT) AS ewma_cents
          |FROM j GROUP BY 1, 2""".stripMargin)),

    // level-shift detection: per-type CUSUM peak excursions vs the type's
    // own mean daily spend ([[EventAnalytics.cusumShift]] — the
    // cumsum − running-min prefix identity, exact integers).
    Query("cusum_shift", (s, dir) =>
      EventAnalytics.cusumShift(
        events(s, dir).select(col("event_type").as("et"), col("ts"),
          col("value")),
        "et", expr("ts DIV 86400000000000"),
        expr("CAST(round(value * 100, 0) AS BIGINT)")),
      Oracle(
        // S⁺ = cumsum − running min, S⁻ = running max − cumsum (the prefix
        // identity for max(0, S+dev)); argmax day via row_number, both exact
        """WITH daily AS (
          |  SELECT event_type AS et, epoch_us(ts) // 86400000000 AS day,
          |    CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT)
          |      AS cents
          |  FROM events GROUP BY 1, 2),
          |m AS (SELECT *,
          |    CAST(SUM(cents) OVER (PARTITION BY et) AS BIGINT)
          |      // COUNT(*) OVER (PARTITION BY et) AS mean
          |  FROM daily),
          |c AS (SELECT *,
          |    SUM(cents - mean) OVER (PARTITION BY et ORDER BY day
          |      ROWS UNBOUNDED PRECEDING) AS cum
          |  FROM m),
          |s AS (SELECT *,
          |    cum - MIN(cum) OVER (PARTITION BY et ORDER BY day
          |      ROWS UNBOUNDED PRECEDING) AS s_pos,
          |    MAX(cum) OVER (PARTITION BY et ORDER BY day
          |      ROWS UNBOUNDED PRECEDING) - cum AS s_neg
          |  FROM c),
          |r AS (SELECT *,
          |    row_number() OVER (PARTITION BY et
          |      ORDER BY s_pos DESC, day ASC) AS rp,
          |    row_number() OVER (PARTITION BY et
          |      ORDER BY s_neg DESC, day ASC) AS rn
          |  FROM s)
          |SELECT et,
          |  CAST(MAX(CASE WHEN rp = 1 THEN s_pos END) AS BIGINT) AS peak_up,
          |  MAX(CASE WHEN rp = 1 THEN day END) AS day_up,
          |  CAST(MAX(CASE WHEN rn = 1 THEN s_neg END) AS BIGINT)
          |    AS peak_down,
          |  MAX(CASE WHEN rn = 1 THEN day END) AS day_down
          |FROM r WHERE rp = 1 OR rn = 1 GROUP BY 1""".stripMargin)),

    // acquisition-channel attribution: conversions credited to each
    // user's FIRST event type ([[EventAnalytics.firstTouchAttribution]] —
    // entity-sized frames only, permille rate in integer floor division).
    Query("attribution_first", (s, dir) =>
      EventAnalytics.firstTouchAttribution(
        events(s, dir).select(col("user_id"), col("event_type"),
          col("ts"), col("event_id")),
        "user_id", "event_type", Seq(col("ts"), col("event_id")),
        convType = "purchase"),
      Oracle("""WITH o AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |ft AS (SELECT user_id, event_type AS first_touch
        |       FROM o WHERE rn = 1),
        |cv AS (SELECT user_id, COUNT(*) AS nc FROM events
        |       WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT f.first_touch, COUNT(*) AS n_entities,
        |  CAST(SUM(CASE WHEN cv.nc IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_converted,
        |  CAST(SUM(COALESCE(cv.nc, 0)) AS BIGINT) AS n_conversions,
        |  (1000 * CAST(SUM(CASE WHEN cv.nc IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT)) // COUNT(*) AS conv_permille
        |FROM ft f LEFT JOIN cv ON cv.user_id = f.user_id
        |GROUP BY 1""".stripMargin)),

    // dominant variance axis of the embedding space
    // ([[Similarity.pcaPower]] — distributed d² moment pass, bounded
    // driver-side power iteration in integer fixed point; oracle-exact
    // via the stage-chained replay [[PcaOracleSql]]).
    Query("pca_power", (s, dir) =>
      Similarity.pcaPower(t(s, dir, "embeddings"), "embedding"),
      Oracle(PcaOracleSql.pcaPowerSql())),

    // inverted-index head: top-20 df terms with their first-10 posting
    // lists ([[TextAnalysis.postingsHead]] — distinct collapse, k-sized
    // TakeOrdered, rank-limit postings cap → WindowGroupLimit).
    Query("postings", (s, dir) =>
      TextAnalysis.postingsHeadFromPostings(corpusPostings(s, dir),
        k = 20, cap = 10),
      Oracle("""WITH td AS (
        |  SELECT DISTINCT doc_id, w FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |    FROM documents)),
        |top AS (SELECT w, COUNT(*) AS df FROM td GROUP BY 1
        |        ORDER BY df DESC, w ASC LIMIT 20),
        |r AS (
        |  SELECT t.w, t.df, td.doc_id,
        |    row_number() OVER (PARTITION BY t.w ORDER BY td.doc_id) AS rn
        |  FROM top t JOIN td ON td.w = t.w)
        |SELECT w AS term, df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |    AS postings
        |FROM r WHERE rn <= 10 GROUP BY 1, 2""".stripMargin)),

    // collection-level vocabulary overlap: Jaccard permille for every
    // source pair ([[TextAnalysis.sourceJaccard]] — term self-join
    // bounded by |sources|²·|vocab|, sizes attach post-collapse).
    Query("source_jaccard", (s, dir) =>
      TextAnalysis.sourceJaccard(t(s, dir, "documents"), "text", "source"),
      Oracle("""WITH st AS (
        |  SELECT DISTINCT g, w FROM (
        |    SELECT source AS g,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |    FROM documents)),
        |sz AS (SELECT g, COUNT(*) AS n FROM st GROUP BY 1),
        |i AS (
        |  SELECT a.g AS src_a, b.g AS src_b, COUNT(*) AS n_inter
        |  FROM st a JOIN st b ON a.w = b.w AND a.g < b.g
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, i.n_inter, sa.n AS n_a, sb.n AS n_b,
        |  (1000 * i.n_inter) // (sa.n + sb.n - i.n_inter)
        |    AS jaccard_permille
        |FROM i
        |JOIN sz sa ON sa.g = i.src_a
        |JOIN sz sb ON sb.g = i.src_b""".stripMargin)),

    // closing-channel attribution: each purchase credits the latest
    // non-purchase event within 7 days; windowless purchases counted on
    // a NULL row so conversions conserve
    // ([[EventAnalytics.lastTouchAttribution]] — banded self-join +
    // rank-1, never a cross product).
    Query("attribution_last", (s, dir) =>
      EventAnalytics.lastTouchAttribution(
        events(s, dir).select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("ts_us"), col("event_id")),
        "user_id", "event_type", "ts_us", "event_id",
        convType = "purchase", lookbackUs = 604800000000L),
      Oracle(
        // inner band join + NOT EXISTS for the orphan row — mirrors the
        // engine's anti-join exactly (a left join would drop conversions
        // whose entity has out-of-window priors)
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
          |    event_id FROM events),
          |c AS (SELECT user_id, ts_us AS ct, event_id AS cid FROM e
          |      WHERE event_type = 'purchase'),
          |p AS (SELECT user_id, event_type AS pt, ts_us AS pts,
          |        event_id AS pid FROM e
          |      WHERE event_type <> 'purchase'),
          |j AS (
          |  SELECT c.user_id, c.cid, p.pt,
          |    row_number() OVER (PARTITION BY c.user_id, c.cid
          |      ORDER BY p.pts DESC, p.pid DESC) AS rn
          |  FROM c JOIN p ON p.user_id = c.user_id
          |    AND p.pts < c.ct AND p.pts >= c.ct - 604800000000),
          |cr AS (SELECT pt AS last_touch, COUNT(*) AS n_conversions
          |       FROM j WHERE rn = 1 GROUP BY 1),
          |orph AS (
          |  SELECT CAST(NULL AS VARCHAR) AS last_touch,
          |    COUNT(*) AS n_conversions
          |  FROM c WHERE NOT EXISTS (
          |    SELECT 1 FROM j WHERE j.rn = 1 AND j.user_id = c.user_id
          |      AND j.cid = c.cid)),
          |u AS (SELECT * FROM cr
          |      UNION ALL SELECT * FROM orph WHERE n_conversions > 0)
          |SELECT last_touch, n_conversions,
          |  CAST((1000 * n_conversions) // SUM(n_conversions) OVER ()
          |    AS BIGINT) AS share_permille
          |FROM u""".stripMargin)),

    // product-quality lens: return-flag share per brand in permille —
    // which brands come back (lineitem ⋈ broadcast part, counts collapse
    // to |brands| before the share division).
    Query("returns_by_brand", (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returned"))
        .withColumn("return_permille",
          expr("(1000 * n_returned) DIV n_lines")),
      Oracle("""SELECT p_brand, COUNT(*) AS n_lines,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returned,
        |  (1000 * CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1
        |    ELSE 0 END) AS BIGINT)) // COUNT(*) AS return_permille
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin)),

    // order-priority mix drift by year: each priority's share of the
    // year's orders in permille — the composition-trend report.
    Query("priority_mix", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_permille",
          expr("(1000 * n) DIV sum(n) OVER (PARTITION BY yr)")),
      Oracle("""WITH c AS (SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |    o_orderpriority AS priority, COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT yr, priority, n,
        |  (1000 * n) // CAST(SUM(n) OVER (PARTITION BY yr) AS BIGINT)
        |    AS share_permille
        |FROM c""".stripMargin)),

    // language-ID confusion matrix: the heuristic's predictions vs the
    // fixture's ground-truth label — the honest-evaluation table that
    // prices the classifier feeding curate_docs (diagonal = hits).
    Query("lang_confusion", (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang").as("true_lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(count(lit(1)).as("n")),
      Oracle(s"""SELECT lang AS true_lang, $langIdCaseExpr AS pred_lang,
        |  COUNT(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin)),

    // split audit: per hash_split partition — sizes, token mass, mean
    // quality permille — the balance check a training run signs off on
    // before consuming the splits.
    Query("split_balance", (s, dir) =>
      t(s, dir, "documents")
        .select(TextAnalysis.hashSplit(col("text")).as("split"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("nt"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"),
          expr("CAST(round(CAST(SUM(q) AS DOUBLE) / COUNT(*), 0) " +
            "AS BIGINT)").as("mean_quality_permille")),
      Oracle(s"""WITH d AS (SELECT
        |    CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train'
        |         WHEN substr(md5(text), 1, 1) < 'e' THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST($wsCountExpr AS BIGINT) AS nt,
        |    $qualityExpr AS q
        |  FROM documents)
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |  CAST(round(CAST(SUM(q) AS DOUBLE) / COUNT(*), 0) AS BIGINT)
        |    AS mean_quality_permille
        |FROM d GROUP BY 1""".stripMargin)),

    // part movement ranking: top-50 SKUs by order count with quantity
    // mass and recency — the inventory-velocity table (TakeOrdered cut
    // under a deterministic (n, key) order).
    Query("part_velocity", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
          sum(expr("CAST(l_quantity AS BIGINT)")).as("total_qty"),
          max(col("l_shipdate")).as("last_ship"))
        .orderBy(col("n_orders").desc, col("l_partkey").asc)
        .limit(50),
      Oracle("""SELECT l_partkey,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
        |  MAX(l_shipdate) AS last_ship
        |FROM lineitem GROUP BY 1
        |ORDER BY n_orders DESC, l_partkey ASC LIMIT 50""".stripMargin)),

    // seasonality index: each (year, month) revenue as permille of that
    // year's monthly mean — cleared denominators (12·month vs year
    // total), exact integers end to end.
    Query("seasonal_index", (s, dir) => {
      val m = t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
      import org.apache.spark.sql.expressions.Window
      m.withColumn("__ytot", sum(col("rev")).over(
          Window.partitionBy("yr")))
        .withColumn("index_permille",
          expr("(1000 * rev * 12) DIV __ytot"))
        .select("yr", "mo", "rev", "index_permille")
    },
      Oracle("""WITH m AS (SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |    CAST(month(o_orderdate) AS INT) AS mo,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2)
        |SELECT yr, mo, rev,
        |  (1000 * rev * 12) // CAST(SUM(rev) OVER (PARTITION BY yr)
        |    AS BIGINT) AS index_permille
        |FROM m""".stripMargin)),

    // basket-size distribution: lines-per-order histogram — the fact-
    // table fan-out profile that sizes every order-grain join.
    Query("basket_size_dist", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("__n"))
        .groupBy(col("__n").as("n_lines"))
        .agg(count(lit(1)).as("n_orders")),
      Oracle("""WITH b AS (SELECT l_orderkey, COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY 1)
        |SELECT n_lines, COUNT(*) AS n_orders FROM b GROUP BY 1""".stripMargin)),

    // discount elasticity: mean quantity (milli) by discount band — the
    // "does discounting move volume" curve, integer bands + one
    // mirrored mean rounding.
    Query("discount_elasticity", (s, dir) =>
      t(s, dir, "lineitem")
        .select(expr("CAST(round(l_discount * 100, 0) AS BIGINT)")
            .as("disc_pct"),
          expr("CAST(l_quantity AS BIGINT)").as("q"))
        .groupBy(col("disc_pct"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(round(CAST(SUM(q) AS DOUBLE) * 1000 / COUNT(*), 0)" +
            " AS BIGINT)").as("mean_qty_milli")),
      Oracle("""SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_pct,
        |  COUNT(*) AS n,
        |  CAST(round(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |    * 1000 / COUNT(*), 0) AS BIGINT) AS mean_qty_milli
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // metadata-integrity audit: the fixture's materialized n_chars column
    // vs the recomputed length — stale-derived-column detection, the
    // check every cached-feature table needs.
    Query("nchars_audit", (s, dir) =>
      t(s, dir, "documents")
        .select(col("n_chars").cast("long").as("claimed"),
          length(col("text")).cast("long").as("actual"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("claimed") === col("actual"), 1L).otherwise(0L))
            .as("n_consistent"),
          max(abs(col("claimed") - col("actual"))).as("max_drift")),
      Oracle("""SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_consistent,
        |  CAST(MAX(abs(n_chars - length(text))) AS BIGINT) AS max_drift
        |FROM documents""".stripMargin)),

    // corpus composition matrix: docs per (source, lang) with the
    // within-source share in permille — the mixture dashboard behind
    // mixture_sample's targets.
    Query("source_lang_matrix", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_permille",
          expr("(1000 * n) DIV sum(n) OVER (PARTITION BY source)")),
      Oracle("""WITH c AS (SELECT source, lang, COUNT(*) AS n FROM documents
        |  GROUP BY 1, 2)
        |SELECT source, lang, n,
        |  (1000 * n) // CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT)
        |    AS share_permille
        |FROM c""".stripMargin)),

    // fulfillment latency: order date → LAST line shipment, day-lag
    // stats per priority — the cross-table temporal ops metric (one
    // per-order collapse, then a priority-sized aggregate; the mean is
    // the one mirrored rounding).
    Query("fulfillment_lag", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).as("__last"))
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          datediff(col("__last"), col("o_orderdate")).cast("long")
            .as("__lag"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n_orders"),
          max(col("__lag")).as("max_lag_days"),
          expr("CAST(round(CAST(SUM(__lag) AS DOUBLE) / COUNT(*), 0) " +
            "AS BIGINT)").as("mean_lag_days")),
      Oracle("""WITH lo AS (SELECT l_orderkey, MAX(l_shipdate) AS lastship
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
        |  CAST(MAX(date_diff('day', o_orderdate, lastship)) AS BIGINT)
        |    AS max_lag_days,
        |  CAST(round(CAST(SUM(date_diff('day', o_orderdate, lastship))
        |    AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS mean_lag_days
        |FROM lo JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)),

    // normalization effectiveness A/B: exact-dup groups before vs after
    // canonical text normalization — how many extra merges the
    // normalizer buys (the number that justifies it in the dedup chain).
    Query("normalize_gain", (s, dir) => {
      val docs = t(s, dir, "documents")
      val raw = docs.agg(
        countDistinct(col("text")).as("n_raw_distinct"))
      val norm = docs.select(
          TextAnalysis.normalizeText(col("text")).as("nt"))
        .agg(countDistinct(col("nt")).as("n_norm_distinct"))
      raw.crossJoin(norm)
        .withColumn("extra_merges",
          col("n_raw_distinct") - col("n_norm_distinct"))
    },
      Oracle("""SELECT CAST(COUNT(DISTINCT text) AS BIGINT) AS n_raw_distinct,
        |  CAST(COUNT(DISTINCT trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g'))) AS BIGINT) AS n_norm_distinct,
        |  CAST(COUNT(DISTINCT text) - COUNT(DISTINCT
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |    AS BIGINT) AS extra_merges
        |FROM documents""".stripMargin)),

    // 2-D histogram: (quantity decile-band × price $500-band) counts per
    // returnflag — the joint-distribution binning a BI tool renders as a
    // heatmap; pure integer bucket arithmetic, one aggregate.
    Query("histogram2d", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(l_quantity AS BIGINT) DIV 10").as("qty_band"),
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT) " +
            "DIV 5000000").as("price_band"))
        .groupBy("flag", "qty_band", "price_band")
        .agg(count(lit(1)).as("n")),
      Oracle("""SELECT l_returnflag AS flag,
        |  CAST(l_quantity AS BIGINT) // 10 AS qty_band,
        |  CAST(round(l_extendedprice * 100, 0) AS BIGINT) // 5000000
        |    AS price_band,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2, 3""".stripMargin)),

    // SaaS-style revenue bridge: period-over-period per-customer revenue
    // classified new / churned / expanded / contracted / flat, with the
    // exact delta each class contributes — the decomposition behind
    // every "why did revenue move" review.
    Query("revenue_bridge", (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_custkey"), cents(col("o_totalprice")).as("v"),
          col("o_orderdate"))
        .groupBy(col("o_custkey"))
        .agg(sum(when(col("o_orderdate") < "1998-01-01", col("v"))
            .otherwise(0L)).as("v1"),
          sum(when(col("o_orderdate") >= "1998-01-01", col("v"))
            .otherwise(0L)).as("v2"))
        .withColumn("cls", expr(
          """CASE WHEN v1 = 0 AND v2 > 0 THEN 'new'
            |     WHEN v1 > 0 AND v2 = 0 THEN 'churned'
            |     WHEN v2 > v1 THEN 'expanded'
            |     WHEN v2 < v1 THEN 'contracted'
            |     ELSE 'flat' END""".stripMargin))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("v2") - col("v1")).as("delta_cents"),
          sum(col("v2")).as("p2_cents")),
      Oracle("""WITH p AS (SELECT o_custkey,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
        |      THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS v2
        |  FROM orders GROUP BY 1)
        |SELECT CASE WHEN v1 = 0 AND v2 > 0 THEN 'new'
        |    WHEN v1 > 0 AND v2 = 0 THEN 'churned'
        |    WHEN v2 > v1 THEN 'expanded'
        |    WHEN v2 < v1 THEN 'contracted'
        |    ELSE 'flat' END AS cls,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(v2 - v1) AS BIGINT) AS delta_cents,
        |  CAST(SUM(v2) AS BIGINT) AS p2_cents
        |FROM p GROUP BY 1""".stripMargin)),

    // path-to-purchase depth: how many events a user fires before their
    // first purchase, bucketed by 5 — the activation-funnel depth
    // histogram (users who never purchase are excluded by definition).
    Query("prepurchase_depth", (s, dir) => {
      val ev = events(s, dir)
      val fp = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("__fp"))
      ev.join(fp, "user_id")
        .filter(col("ts") < col("__fp"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("__d"))
        .groupBy(expr("least(__d DIV 5, 10)").as("depth_bucket"))
        .agg(count(lit(1)).as("n_users"))
    },
      Oracle("""WITH fp AS (SELECT user_id, MIN(ts) AS f FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |dd AS (SELECT e.user_id, COUNT(*) AS depth FROM events e
        |  JOIN fp ON e.user_id = fp.user_id
        |  WHERE e.ts < fp.f GROUP BY 1)
        |SELECT least(depth // 5, 10) AS depth_bucket,
        |  COUNT(*) AS n_users
        |FROM dd GROUP BY 1""".stripMargin)),

    // bigram autocomplete table: top-3 next words per left word (count
    // desc, word asc ties) — the suggestion dictionary an input-method /
    // query-completion pipeline materializes; WindowGroupLimit caps each
    // left word's candidates map-side.
    Query("ngram_suggest", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // (w1, w2) ↔ the space-joined bigram key is bijective (tokens carry
      // no whitespace), so the shared count table IS the pair table (r16)
      val counts = corpusBigramCounts(s, dir)
        .select(substring_index(col("s"), " ", 1).as("w1"),
          substring_index(col("s"), " ", -1).as("w2"),
          col("c12").as("n"))
        .filter(col("n") >= 5)
      counts.withColumn("rnk", row_number().over(Window.partitionBy("w1")
          .orderBy(col("n").desc, col("w2").asc)).cast("long"))
        .filter(col("rnk") <= 3)
        .select("w1", "w2", "n", "rnk")
    },
      Oracle("""WITH d AS (SELECT regexp_split_to_array(lower(trim(text)),
        |    '\s+') AS w FROM documents),
        |t AS (SELECT unnest(
        |    [w[i]||' '||w[i+1] for i in range(1, greatest(len(w), 1))])
        |    AS s FROM d),
        |c AS (SELECT split_part(s, ' ', 1) AS w1,
        |    split_part(s, ' ', 2) AS w2, COUNT(*) AS n
        |  FROM t GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT w1, w2, n, rnk FROM (
        |  SELECT w1, w2, n, CAST(row_number() OVER (PARTITION BY w1
        |    ORDER BY n DESC, w2 ASC) AS BIGINT) AS rnk FROM c)
        |WHERE rnk <= 3""".stripMargin)),

    // sequence-completeness census: per order, linenumbers should run
    // 1..max — report orders with holes (the CDC-loss / partial-write
    // detector for sequenced data).
    Query("order_gaps", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_linenumber")).cast("long").as("__maxl"),
          countDistinct(col("l_linenumber")).as("__nl"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("__maxl") > col("__nl"), 1L).otherwise(0L))
            .as("n_orders_with_gaps"),
          sum(col("__maxl") - col("__nl")).as("total_missing")),
      Oracle("""WITH g AS (SELECT l_orderkey,
        |    CAST(MAX(l_linenumber) AS BIGINT) AS maxl,
        |    CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS nl
        |  FROM lineitem GROUP BY 1)
        |SELECT COUNT(*) AS n_orders,
        |  CAST(SUM(CASE WHEN maxl > nl THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_orders_with_gaps,
        |  CAST(SUM(maxl - nl) AS BIGINT) AS total_missing
        |FROM g""".stripMargin)),

    // revenue concentration: the top-1% spenders' share of total spend
    // in exact permille (⌈N/100⌉ whales by (spend desc, id asc) — the
    // deterministic cut) — the whale diagnostic beside gini_revenue.
    // Per-customer spend is DATA-sized, so the global rank rides
    // [[Transforms.rangedRank]] and N comes back as a 1-row broadcast
    // (the r13 boundedness split caught the old single-task rank +
    // global-count windows).
    Query("whale_report", (s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("v"))
      val ranked = Transforms.rangedRank(spend,
        Seq(col("v").desc, col("o_custkey").asc), "rnk")
      ranked
        .crossJoin(broadcast(ranked.agg(count(lit(1)).as("N"))))
        .agg(max(col("N")).as("n_customers"),
          sum(when(col("rnk") * 100L <= col("N") + 99L, col("v"))
            .otherwise(0L)).as("whale_cents"),
          sum(col("v")).as("total_cents"))
        .withColumn("n_whales", expr("(n_customers + 99) DIV 100"))
        .withColumn("whale_share_permille",
          expr("(1000 * whale_cents) DIV total_cents"))
        .select("n_customers", "n_whales", "whale_cents", "total_cents",
          "whale_share_permille")
    },
      Oracle("""WITH s AS (SELECT o_custkey, CAST(SUM(CAST(round(
        |      o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |r AS (SELECT v, CAST(row_number() OVER (ORDER BY v DESC,
        |    o_custkey ASC) AS BIGINT) AS rnk, COUNT(*) OVER () AS nn
        |  FROM s)
        |SELECT MAX(nn) AS n_customers,
        |  (MAX(nn) + 99) // 100 AS n_whales,
        |  CAST(SUM(CASE WHEN rnk * 100 <= nn + 99 THEN v ELSE 0 END)
        |    AS BIGINT) AS whale_cents,
        |  CAST(SUM(v) AS BIGINT) AS total_cents,
        |  (1000 * CAST(SUM(CASE WHEN rnk * 100 <= nn + 99 THEN v
        |    ELSE 0 END) AS BIGINT)) // CAST(SUM(v) AS BIGINT)
        |    AS whale_share_permille
        |FROM r""".stripMargin)),

    // freshness dashboard: per event type, last event age in hours
    // against the corpus high-water mark — the staleness alarm feeding
    // ingestion SLOs.
    Query("freshness_report", (s, dir) => {
      val m = events(s, dir).groupBy(col("event_type"))
        .agg(max(col("ts")).as("__last"), count(lit(1)).as("n"))
      val hwm = broadcast(m.agg(max(col("__last")).as("__hwm")))
      m.crossJoin(hwm)
        .select(col("event_type"), col("n"),
          expr("(__hwm - __last) DIV 3600000000000").as("age_hours"))
    },
      Oracle("""WITH m AS (SELECT event_type, epoch_us(MAX(ts)) AS lastu,
        |    COUNT(*) AS n FROM events GROUP BY 1),
        |h AS (SELECT MAX(lastu) AS hwm FROM m)
        |SELECT event_type, n, (hwm - lastu) // 3600000000 AS age_hours
        |FROM m CROSS JOIN h""".stripMargin)),

    // SLO percentile bands: daily p50/p90/p99 of event value — the
    // latency-dashboard time series, exact percentiles under the
    // percentile↔quantile_cont parity discipline.
    Query("percentile_bands", (s, dir) =>
      events(s, dir)
        .select(expr("ts DIV 86400000000000").as("day"),
          cents(col("value")).as("v"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(v, 0.5)")).cast("long").as("p50_cents"),
          round(expr("percentile(v, 0.9)")).cast("long").as("p90_cents"),
          round(expr("percentile(v, 0.99)")).cast("long").as("p99_cents")),
      Oracle("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v FROM events)
        |SELECT day, COUNT(*) AS n,
        |  CAST(round(quantile_cont(v, 0.5)) AS BIGINT) AS p50_cents,
        |  CAST(round(quantile_cont(v, 0.9)) AS BIGINT) AS p90_cents,
        |  CAST(round(quantile_cont(v, 0.99)) AS BIGINT) AS p99_cents
        |FROM e GROUP BY 1""".stripMargin)),

    // dedup survivorship report: what exact dedup keeps vs drops, by
    // source — docs/tokens/bytes on both sides of the cut in ONE pass
    // (survivor flag joined back by id, then a single aggregate).
    Query("dedup_report", (s, dir) => {
      val docs = t(s, dir, "documents")
      val keep = Dedup.exactSurvivors(docs, "text", "doc_id")
        .withColumn("__keep", lit(1L))
      docs.join(keep, Seq("doc_id"), "left")
        .select(col("source"),
          coalesce(col("__keep"), lit(0L)).as("k"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("nt"),
          length(encode(col("text"), "UTF-8")).cast("long").as("nb"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("k")).as("n_kept"),
          sum(col("k") * col("nt")).as("tokens_kept"),
          sum((lit(1L) - col("k")) * col("nt")).as("tokens_dropped"),
          sum((lit(1L) - col("k")) * col("nb")).as("bytes_dropped"))
    },
      Oracle("""WITH s AS (SELECT doc_id, source,
        |    CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY text)
        |      THEN 1 ELSE 0 END AS k,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS nt,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(k) AS BIGINT) AS n_kept,
        |  CAST(SUM(k * nt) AS BIGINT) AS tokens_kept,
        |  CAST(SUM((1 - k) * nt) AS BIGINT) AS tokens_dropped,
        |  CAST(SUM((1 - k) * nb) AS BIGINT) AS bytes_dropped
        |FROM s GROUP BY 1""".stripMargin)),

    // embedding norm audit: per-label min/mean/max L2 norm in micros —
    // the sanity gate before any cosine-based stage (a zero-norm or
    // wildly-scaled vector poisons every similarity downstream). Sums
    // are exact integer micro²; the only floats are the per-row sqrt and
    // one mean division, both mirrored.
    Query("embed_norms", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          graft.operators.Similarity.dot(
            col("embedding").cast("array<double>"),
            col("embedding").cast("array<double>")).as("__n2"))
        .withColumn("__norm_micro",
          round(sqrt(col("__n2")) * lit(1000000)).cast("long"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          min(col("__norm_micro")).as("min_norm_micro"),
          max(col("__norm_micro")).as("max_norm_micro"),
          expr("CAST(round(CAST(SUM(__norm_micro) AS DOUBLE) / " +
            "COUNT(*), 0) AS BIGINT)").as("mean_norm_micro")),
      Oracle("""WITH b AS (SELECT CAST(label AS BIGINT) AS label,
        |    list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[])) AS n2 FROM embeddings),
        |nm AS (SELECT label,
        |    CAST(round(sqrt(n2) * 1000000, 0) AS BIGINT) AS v FROM b)
        |SELECT label, COUNT(*) AS n, MIN(v) AS min_norm_micro,
        |  MAX(v) AS max_norm_micro,
        |  CAST(round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 0) AS BIGINT)
        |    AS mean_norm_micro
        |FROM nm GROUP BY 1""".stripMargin)),

    // activity heatmap: events per (day-of-week, hour-of-day) per type —
    // the universal "when do users show up" matrix, derived entirely in
    // integer epoch arithmetic (day 0 = Thursday, so dow =
    // (days + 4) % 7 puts Sunday at 0 — documented, engine-exact).
    Query("hourly_heatmap", (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          expr("((ts DIV 86400000000000) + 4) % 7").as("dow"),
          expr("(ts DIV 3600000000000) % 24").as("hod"))
        .groupBy("event_type", "dow", "hod")
        .agg(count(lit(1)).as("n")),
      Oracle("""SELECT event_type,
        |  (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  (epoch_us(ts) // 3600000000) % 24 AS hod,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2, 3""".stripMargin)),

    // context-length truncation report: what a max_len=256 cut costs per
    // source — docs over budget, tokens lost, loss permille. The decision
    // metric a packing/chunking stage (pack_sequences, chunk_docs) is
    // tuned against.
    Query("truncation_loss", (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("total_tokens"),
          sum(when(col("n") > 256, 1L).otherwise(0L)).as("docs_truncated"),
          sum(greatest(col("n") - 256, lit(0L))).as("tokens_lost"))
        .withColumn("lost_permille",
          expr("(1000 * tokens_lost) DIV total_tokens")),
      Oracle("""WITH d AS (SELECT source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CASE WHEN n > 256 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_truncated,
        |  CAST(SUM(greatest(n - 256, 0)) AS BIGINT) AS tokens_lost,
        |  (1000 * CAST(SUM(greatest(n - 256, 0)) AS BIGINT))
        |    // CAST(SUM(n) AS BIGINT) AS lost_permille
        |FROM d GROUP BY 1""".stripMargin)),

    // keyword-in-context (KWIC) concordance for a fixed pivot term: each
    // occurrence with its one-word left/right context, straight off the
    // positional token array (element_at — no self-join, no window).
    Query("kwic", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          split(lower(trim(col("text"))), "\\s+").as("__w"))
        .select(col("doc_id"), col("__w"),
          posexplode(col("__w")).as(Seq("pos", "w")))
        .filter(col("w") === "the")
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          expr("CASE WHEN pos = 0 THEN NULL " +
            "ELSE try_element_at(__w, CAST(pos AS INT)) END")
            .as("left_ctx"),
          expr("try_element_at(__w, CAST(pos + 2 AS INT))")
            .as("right_ctx")),
      Oracle("""WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |t AS (SELECT doc_id, w, unnest(w) AS tok,
        |    generate_subscripts(w, 1) AS i FROM d)
        |SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |  CASE WHEN i = 1 THEN NULL ELSE w[i-1] END AS left_ctx,
        |  w[i+1] AS right_ctx
        |FROM t WHERE tok = 'the'""".stripMargin)),

    // ingestion rate limiting: keep the first 3 events per (user, hour)
    // under the (ts, id) total order — the WindowGroupLimit shape pushes
    // the cap map-side, so the shuffle moves at most 3 rows per frame.
    Query("rate_limit", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      events(s, dir)
        .select(col("user_id"), expr("ts DIV 3600000000000").as("hr"),
          col("event_id"), col("ts"))
        .withColumn("rn", row_number().over(Window
          .partitionBy("user_id", "hr")
          .orderBy(col("ts"), col("event_id"))).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("hr"), col("event_id"), col("rn"))
    },
      Oracle("""SELECT user_id, hr, event_id, rn FROM (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hr, event_id,
        |    CAST(row_number() OVER (PARTITION BY user_id,
        |        epoch_us(ts) // 3600000000
        |      ORDER BY ts, event_id) AS BIGINT) AS rn
        |  FROM events)
        |WHERE rn <= 3""".stripMargin)),

    // correlated-subquery shape: orders strictly above their customer's
    // average order value — cleared-denominator compare
    // (cents·n > Σcents, all BIGINT) so no float average exists; the
    // oracle twin runs the same predicate as correlated subqueries.
    Query("over_avg_orders", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          cents(col("o_totalprice")).as("cents"))
        .withColumn("__n", count(lit(1)).over(w))
        .withColumn("__s", sum(col("cents")).over(w))
        .filter(col("cents") * col("__n") > col("__s"))
        .select(col("o_orderkey"), col("cents"))
    },
      Oracle("""WITH o AS (SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT a.o_orderkey, a.cents FROM o a
        |WHERE a.cents * (SELECT COUNT(*) FROM o b
        |    WHERE b.o_custkey = a.o_custkey)
        |  > (SELECT SUM(cents) FROM o b
        |    WHERE b.o_custkey = a.o_custkey)""".stripMargin)),

    // cohort lifetime-value curve: cumulative revenue per (first-day
    // cohort, age) — the retention grid's revenue sibling; cells collapse
    // before the prefix-sum window runs over the grid.
    Query("cohort_ltv", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).select(col("user_id"),
        expr("ts DIV 86400000000000").as("day"), cents(col("value")).as("v"))
      val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      ev.join(first, "user_id")
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("age"))
        .agg(sum(col("v")).as("rev_cents"))
        .withColumn("cum_rev_cents", sum(col("rev_cents")).over(Window
          .partitionBy("cohort").orderBy("age")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    },
      Oracle("""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY 1),
        |cell AS (SELECT f.cohort, e.day - f.cohort AS age,
        |    CAST(SUM(e.v) AS BIGINT) AS rev_cents
        |  FROM e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2)
        |SELECT cohort, age, rev_cents,
        |  CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_rev_cents
        |FROM cell""".stripMargin)),

    // U-shaped multi-touch attribution: 400/200/400 permille credit split
    // across each conversion's in-window touches, exact-integer with
    // largest-remainder middles; credit conserved incl. orphan
    // conversions ([[EventAnalytics.positionAttribution]]).
    Query("attribution_position", (s, dir) =>
      EventAnalytics.positionAttribution(
        events(s, dir).select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("ts_us"), col("event_id")),
        "user_id", "event_type", "ts_us", "event_id",
        convType = "purchase", lookbackUs = 604800000000L),
      Oracle("""WITH c AS (SELECT user_id AS k, epoch_us(ts) AS ct,
        |    event_id AS cid FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT user_id AS k, event_type AS pt, epoch_us(ts) AS pts,
        |    event_id AS pid FROM events WHERE event_type <> 'purchase'),
        |j AS (SELECT c.k, c.cid, p.pt, p.pts, p.pid FROM c JOIN p
        |    ON c.k = p.k
        |  WHERE p.pts < c.ct AND p.pts >= c.ct - 604800000000),
        |r AS (SELECT k, cid, pt,
        |    CAST(row_number() OVER (PARTITION BY k, cid
        |      ORDER BY pts ASC, pid ASC) AS BIGINT) AS rn,
        |    COUNT(*) OVER (PARTITION BY k, cid) AS n FROM j),
        |cr AS (SELECT pt AS touch,
        |    CASE WHEN n = 1 THEN 1000 WHEN n = 2 THEN 500
        |         WHEN rn = 1 OR rn = n THEN 400
        |         ELSE 200 // (n - 2) +
        |           CASE WHEN rn - 1 <= 200 % (n - 2) THEN 1 ELSE 0 END
        |    END AS credit
        |  FROM r)
        |SELECT touch, CAST(SUM(credit) AS BIGINT) AS credit_permille
        |FROM cr GROUP BY 1
        |UNION ALL
        |SELECT CAST(NULL AS VARCHAR) AS touch,
        |  CAST(COUNT(*) * 1000 AS BIGINT) AS credit_permille
        |FROM c WHERE NOT EXISTS (SELECT 1 FROM j
        |  WHERE j.k = c.k AND j.cid = c.cid)
        |HAVING COUNT(*) > 0""".stripMargin)),

    // stage-to-stage conversion latency: first view → first subsequent
    // purchase per user; exact n plus interpolated p50/p90 seconds (the
    // group_quartiles percentile↔quantile_cont parity discipline).
    Query("funnel_latency", (s, dir) => {
      val ev = events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(v, "user_id").filter(col("ts") > col("t1"))
        .groupBy(col("user_id"), col("t1")).agg(min(col("ts")).as("t2"))
      p.select(expr("(t2 - t1) DIV 1000000000").as("delta_s"))
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(delta_s, 0.5)")).cast("long").as("p50_s"),
          round(expr("percentile(delta_s, 0.9)")).cast("long").as("p90_s"))
    },
      Oracle("""WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, v.t1, MIN(epoch_us(e.ts)) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.t1
        |  GROUP BY 1, 2),
        |d AS (SELECT (t2 - t1) // 1000000 AS delta_s FROM p)
        |SELECT COUNT(*) AS n_converted,
        |  CAST(round(quantile_cont(delta_s, 0.5)) AS BIGINT) AS p50_s,
        |  CAST(round(quantile_cont(delta_s, 0.9)) AS BIGINT) AS p90_s
        |FROM d""".stripMargin)),

    // segment-level significance: Welch's t for each event type's spend
    // vs the pooled rest ([[EventAnalytics.welchT]] — one aggregate pass,
    // exact integer sufficient stats, one closing double expression).
    Query("welch_t", (s, dir) =>
      EventAnalytics.welchT(
        events(s, dir).select(col("event_type").as("et"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc")),
        "et", "vc"),
      Oracle(
        // formula mirrored token-for-token from the engine expression —
        // identical op order keeps the one double evaluation bit-aligned
        """WITH e AS (SELECT event_type AS et,
          |    CAST(round(value*100, 0) AS BIGINT) AS x FROM events),
          |g AS (SELECT et, COUNT(*) AS n_g,
          |    SUM(CAST(x AS HUGEINT)) AS s,
          |    SUM(CAST(x AS HUGEINT) * x) AS ss
          |  FROM e GROUP BY 1),
          |t AS (SELECT *, SUM(n_g) OVER () AS nt, SUM(s) OVER () AS st,
          |    SUM(ss) OVER () AS sst FROM g)
          |SELECT et, n_g, CAST(nt - n_g AS BIGINT) AS n_rest,
          |  CASE WHEN n_g < 2 OR nt - n_g < 2 THEN NULL ELSE
          |    CAST(round((CAST(s AS DOUBLE)/n_g
          |        - CAST(st - s AS DOUBLE)/(nt - n_g)) * 1000000 /
          |      sqrt(
          |        ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
          |            * CAST(s AS DOUBLE)/n_g) / (n_g - 1)) / n_g +
          |        ((CAST(sst - ss AS DOUBLE) - CAST(st - s AS DOUBLE)
          |            * CAST(st - s AS DOUBLE)/(nt - n_g)) / (nt - n_g - 1))
          |          / (nt - n_g)), 0) AS BIGINT) END AS t_micro
          |FROM t""".stripMargin)),

    // derandomized A-ES weighted sampling: 5 docs per source,
    // length-weighted ([[TextAnalysis.weightedSampleAES]] — hash-drawn u,
    // pico-quantized ln(u)/w keys, WindowGroupLimit top-k).
    Query("weighted_sample", (s, dir) =>
      TextAnalysis.weightedSampleAES(t(s, dir, "documents"),
        "source", "doc_id", "n_chars", k = 5),
      Oracle("""WITH s AS (SELECT source, doc_id, n_chars,
        |    CAST(round(
        |      ln((((doc_id % 2147483647) * 2654435761) % 4294967296
        |        + 0.5) / 4294967296)
        |        / n_chars * 1000000000000, 0) AS BIGINT) AS score_pico
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY score_pico DESC, doc_id ASC) AS rank FROM s)
        |SELECT source, doc_id, n_chars, score_pico, rank
        |FROM r WHERE rank <= 5""".stripMargin)),

    // significance companion to mutual_info on the same contingency:
    // chi-square over the COMPLETE et × hour grid (zero cells cost their
    // expectation — [[EventAnalytics.chiSquare]]).
    Query("chi2_independence", (s, dir) =>
      EventAnalytics.chiSquare(
        events(s, dir).select(col("event_type").as("et"),
          expr("((ts DIV 1000) DIV 3600000000) % 24").as("hod")),
        "et", "hod"),
      Oracle(
        // complete-grid chi-square: marginal cross join LEFT-joined to the
        // observed cells so o=0 cells still contribute their expectation
        """WITH d AS (SELECT event_type AS x,
          |    (epoch_us(ts) // 3600000000) % 24 AS y FROM events),
          |cells AS (SELECT x, y, COUNT(*) AS c FROM d GROUP BY 1, 2),
          |mx AS (SELECT x, SUM(c) AS cx FROM cells GROUP BY 1),
          |my AS (SELECT y, SUM(c) AS cy FROM cells GROUP BY 1),
          |nn AS (SELECT SUM(c) AS n FROM cells),
          |grid AS (
          |  SELECT mx.x, my.y, mx.cx, my.cy, COALESCE(cells.c, 0) AS o
          |  FROM mx CROSS JOIN my
          |  LEFT JOIN cells ON cells.x = mx.x AND cells.y = my.y),
          |q AS (
          |  SELECT x, y,
          |    CAST(round(CAST(
          |      (CAST(o AS HUGEINT) * nn.n - CAST(cx AS HUGEINT) * cy)
          |      * (CAST(o AS HUGEINT) * nn.n - CAST(cx AS HUGEINT) * cy)
          |      AS DOUBLE) * 1000000 /
          |      (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)
          |        * CAST(nn.n AS DOUBLE)), 0) AS BIGINT) AS q
          |  FROM grid, nn)
          |SELECT CAST(SUM(q) // 1000 AS BIGINT) AS chi2_milli,
          |  (COUNT(DISTINCT x) - 1) * (COUNT(DISTINCT y) - 1) AS dof,
          |  COUNT(*) AS n_cells
          |FROM q""".stripMargin)),

    // BM25 retrieval for the df-ranks-10..12 query over documents
    // ([[TextAnalysis.bm25TopK]] — cleared-denominator integer
    // saturation, one tf relation feeding df/dl/scoring).
    Query("bm25_topk", (s, dir) =>
      TextAnalysis.bm25TopKFromPostings(corpusPostings(s, dir), "doc_id",
        qRankLo = 10, qRankHi = 12, k = 10),
      Oracle(
        // saturation in cleared-denominator integer form — the one double
        // division takes exact BIGINT operands on both engines
        """WITH tf AS (
          |  SELECT doc_id, w, COUNT(*) AS tf FROM (
          |    SELECT doc_id,
          |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
          |    FROM documents)
          |  GROUP BY 1, 2),
          |dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
          |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf
          |       GROUP BY 1),
          |st AS (SELECT CAST(SUM(dl) AS BIGINT) AS S, COUNT(*) AS N
          |       FROM dl),
          |q AS (SELECT w, df FROM (
          |    SELECT w, df, row_number() OVER (ORDER BY df DESC, w ASC)
          |      AS r FROM dfreq)
          |  WHERE r BETWEEN 10 AND 12),
          |sc AS (
          |  SELECT tf.doc_id,
          |    CAST(round(
          |      CAST(round(ln((CAST(st.N AS DOUBLE) - q.df + 0.5)
          |          / (q.df + 0.5)) * 1000000, 0) AS BIGINT)
          |      * (CAST(44 * tf.tf * st.S AS DOUBLE) /
          |         CAST(20 * tf.tf * st.S + 6 * st.S + 18 * dl.dl * st.N
          |           AS DOUBLE)), 0) AS BIGINT) AS contrib
          |  FROM tf JOIN q ON q.w = tf.w
          |  JOIN dl ON dl.doc_id = tf.doc_id
          |  CROSS JOIN st)
          |SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_micro,
          |  COUNT(*) AS n_terms_hit
          |FROM sc GROUP BY 1
          |ORDER BY score_micro DESC, doc_id ASC LIMIT 10""".stripMargin)),

    // minimum spanning forest of the mod-300 interaction graph under a
    // deterministic synthetic weight ([[GraphAlgos.boruvkaMst]] —
    // lightest-outgoing-edge rounds, lexicographic tie perturbation;
    // rows-only, Kruskal-pinned in OperatorsSpec).
    Query("mst_forest", (s, dir) => {
      val g = modCanonicalE(s, dir)
        .withColumn("w", expr("(a * 37 + b * 101) % 997"))
      GraphAlgos.boruvkaMst(g, "a", "b", "w")
    },
      Oracle(mstForestOracleSql))
  )

  /** Borůvka replayed round-by-round in DuckDB SQL for the `mst_forest`
    * oracle: each unrolled round picks every component's lexicographically
    * least (w, a, b) cross edge with a window rank, then contracts via a
    * recursive min-label reachability CTE over the (component, component)
    * pick graph — the same contraction [[graft.operators.Dedup.connectedComponents]]
    * performs. 9 rounds ≥ ⌈log₂ 300⌉ guarantees convergence on the
    * residue graph (an exhausted round has no cross edges and is a
    * no-op). The (w, a, b) tie perturbation makes the forest UNIQUE, so
    * the oracle compare is exact set equality. CTEs are MATERIALIZED —
    * without the hint DuckDB inlines each round's references and the
    * expansion is exponential in rounds. */
  private def mstForestOracleSql: String = {
    val sb = new StringBuilder
    sb ++= """WITH RECURSIVE e AS MATERIALIZED (
      |  SELECT a, b, (a * 37 + b * 101) % 997 AS w FROM (
      |    SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
      |           greatest(l_partkey % 300, l_suppkey % 300) AS b
      |    FROM lineitem) g
      |  WHERE a < b AND (a * 31 + b) % 7 = 0),
      |lab0 AS MATERIALIZED (SELECT id, id AS c FROM
      |  (SELECT a AS id FROM e UNION SELECT b FROM e) n)""".stripMargin
    val rounds = 9
    for (r <- 1 to rounds) {
      val q = r - 1
      sb ++= s""",
        |ce$r AS MATERIALIZED (SELECT e.a, e.b, e.w, la.c AS ca, lb.c AS cb
        |  FROM e JOIN lab$q la ON e.a = la.id JOIN lab$q lb ON e.b = lb.id
        |  WHERE la.c <> lb.c),
        |pk$r AS MATERIALIZED (SELECT DISTINCT a, b, w, ca, cb FROM (
        |  SELECT comp, a, b, w, ca, cb,
        |    ROW_NUMBER() OVER (PARTITION BY comp ORDER BY w, a, b) AS rn
        |  FROM (SELECT ca AS comp, a, b, w, ca, cb FROM ce$r
        |        UNION ALL SELECT cb AS comp, a, b, w, ca, cb FROM ce$r) t) u
        |  WHERE rn = 1),
        |pg$r AS MATERIALIZED (SELECT ca AS u, cb AS v FROM pk$r
        |  UNION SELECT cb, ca FROM pk$r),
        |rc$r(u, v) AS (SELECT u, v FROM pg$r
        |  UNION SELECT r.u, p.v FROM rc$r r JOIN pg$r p ON r.v = p.u),
        |mg$r AS MATERIALIZED (SELECT u AS old, LEAST(u, MIN(v)) AS newc
        |  FROM rc$r GROUP BY u),
        |lab$r AS MATERIALIZED (SELECT l.id, COALESCE(m.newc, l.c) AS c
        |  FROM lab$q l LEFT JOIN mg$r m ON l.c = m.old)""".stripMargin
    }
    val un = (1 to rounds)
      .map(r => s"SELECT a, b, w FROM pk$r").mkString(" UNION ALL ")
    sb ++= s"\nSELECT DISTINCT a, b, CAST(w AS BIGINT) AS w FROM ($un) allp"
    sb.result()
  }
}
