package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis, Transforms}

import SparkEntry._

/** Text-analysis family, first part: language ID, quality signals,
  * fingerprints, n-gram and distribution statistics, SCD2, layout keys and
  * exact-substring dedup. Each query is declared once, with its plan and
  * its check; [[SparkEntry]] derives the battery views from these lists. */
private[graft] object TextQueries {
  lazy val all: Seq[Query] = Seq(
    // ===== extensions: text analysis =====
    Query("lang_id", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("pred_lang")),
      Oracle(langIdSql)),

    Query("quality_score", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("score")),
      Oracle(qualityScoreSql)),

    Query("token_count", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"),
        TextAnalysis.bpeishCount(col("text")).cast("long").as("n_bpeish")),
      Oracle("""SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_ws,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |   AS n_bpeish
        | FROM documents""".stripMargin)),

    Query("curate_docs", (s, dir) => {
      // composite training-data curation: language filter + quality gate +
      // minimum length + exact dedup — each stage a single-pass column
      // expression or one hash shuffle, the shape a 100 TB curation job
      // needs (no stage materializes more than (key, id)).
      // input-split rebalance ahead of the scoring expressions: a single
      // row-group input would run all three scorers in one task.
      val d = Transforms.keyedInputRebalance(t(s, dir, "documents"),
        col("doc_id"))
      // single fused gate expression == tokenCount >= 20 && qualityScore
      // >= 400 && langId == "en" (FilterExec has no subexpression
      // elimination, so the composed conjunction re-scans the text per
      // predicate; the gate is one byte pass — parity property-tested in
      // OperatorsSpec and oracle-checked here at three scale factors)
      val filtered = d.filter(graft.functions.CurationGate(col("text"),
        TextAnalysis.stopwords, minTokens = 20, minQuality = 400,
        wantLang = "en"))
      Dedup.exactSurvivors(filtered, "text", "doc_id")
    },
      Oracle(curateDocsSql)),

    // per-document rolling-hash fingerprint (the content-identity key
    // the dedup and change-detection tiers join on).
    Query("doc_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")),
      Oracle(XxhOracleSql.docFingerprintSql)),

    // winnowing fingerprints (Schleimer et al. 2003, MOSS): per-doc
    // sparse (pos, hash) selection — rightmost window minima over char
    // 8-gram hashes, density ~2/(w+1), any shared substring ≥ k+w−1
    // chars guaranteed a shared fingerprint
    // ([[TextAnalysis.winnowFingerprints]], scan-fused, no shuffle).
    Query("winnow_fingerprints", (s, dir) =>
      winnowFp(s, dir).withColumnRenamed("id", "doc_id"),
      Oracle(XxhOracleSql.winnowFingerprintsSql)),

    // the MOSS use-case on top of the fingerprints: candidate near-dup
    // pairs = docs sharing ≥ 40 distinct winnow fingerprints AFTER
    // dropping boilerplate fingerprints seen in > 100 documents (the
    // paper's "ignore extremely common fingerprints" scalability rule —
    // it is what keeps the inverted-index self-join's buckets bounded;
    // without it the fixture's shared word soup put 40% of all pairs
    // over any low threshold). Distinct fps per doc first, so positional
    // repeats don't inflate overlaps; nothing pairwise outside
    // shared-fingerprint buckets.
    Query("winnow_pairs", (s, dir) => {
      // the memoized fingerprint table feeds the df-cap aggregate, the
      // semi-join, AND both self-join sides — four consumers sharing one
      // checkpointed fingerprint pass with winnow_fingerprints
      val fp = winnowFp(s, dir).select(col("id"), col("fp")).distinct()
      val rare = fp.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= TextAnalysis.WinnowMaxDf).select(col("fp"))
      val kept = fp.join(rare, Seq("fp"), "left_semi")
      kept.as("a").join(kept.as("b"),
          col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= TextAnalysis.WinnowMinShared)
    },
      Oracle(XxhOracleSql.winnowPairsSql)),

    // compression-ratio quality signal (Gopher-style): deflate size over
    // raw UTF-8 size in permille — low = boilerplate/repetition, ~1000 =
    // high-entropy junk. Native codegen'd expression, pure projection
    // ([[graft.functions.DeflateSize]]); rows-only (zlib-build-dependent
    // byte counts — see noOracleReason + DeflateSizeSpec).
    Query("compress_ratio", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(encode(col("text"), "UTF-8")).cast("long").as("raw_bytes"),
          graft.functions.DeflateSize(col("text")).as("deflate_bytes"))
        .withColumn("ratio_permille",
          expr("CASE WHEN raw_bytes = 0 THEN 1000 " +
            "ELSE (deflate_bytes * 1000) DIV raw_bytes END")),
      NoOracle("deflate output size depends on the JVM's zlib " +
      "build, so the byte counts are not SQL-reproducible in DuckDB " +
      "(which has no deflate function anyway). DeflateSizeSpec pins the " +
      "signal semantics: RFC 1951 round-trip (Inflater restores the " +
      "exact input), repetitive ≪ prose ≪ random ratio ordering, and " +
      "the raw_bytes column is oracle-covered via token_count's length " +
      "discipline.")),

    Query("rep_score", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.dupTokenPermille(col("text")).as("dup_permille")),
      Oracle("""SELECT doc_id,
        | CAST(round((len(w) - len(list_distinct(w))) * 1000.0
        |   / greatest(len(w), 1), 0) AS BIGINT) AS dup_permille
        | FROM (SELECT doc_id,
        |   regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |   FROM documents)""".stripMargin)),

    Query("rep_topgram", (s, dir) =>
      TextAnalysis.topBigramConcentration(t(s, dir, "documents"),
        "text", "doc_id"),
      Oracle("""WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest([w[i]||' '||w[i+1] for i in range(1, len(w))]) AS g
        |  FROM w),
        |c AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(round(MAX(c) * 1000.0 / SUM(c), 0) AS BIGINT)
        |    AS top_bigram_permille
        |FROM c GROUP BY doc_id""".stripMargin)),

    Query("hash_split", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.hashSplit(col("text")).as("split")),
      Oracle("""SELECT doc_id,
        | CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train'
        |      WHEN substr(md5(text), 1, 1) < 'e' THEN 'val'
        |      ELSE 'test' END AS split
        | FROM documents""".stripMargin)),

    Query("vocab_topk", (s, dir) =>
      TextAnalysis.vocabTopKFromCounts(corpusUnigramCounts(s, dir), 50),
      Oracle("""SELECT w, COUNT(*) AS n
        | FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)),
        |   '\s+')) AS w FROM documents)
        | GROUP BY w ORDER BY n DESC, w ASC LIMIT 50""".stripMargin)),

    // tokenizer-coverage check: per source, the share of token
    // occurrences outside the corpus-wide top-50 vocabulary
    // ([[TextAnalysis.oovRate]] — one tokenize pass into checkpointed
    // counts, vocab broadcast back).
    Query("oov_rate", (s, dir) =>
      TextAnalysis.oovRate(t(s, dir, "documents"), "text", "source", 50),
      Oracle("""WITH tok AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |v AS (SELECT w FROM (
        |    SELECT w, COUNT(*) AS n FROM tok GROUP BY 1
        |    ORDER BY n DESC, w ASC LIMIT 50)),
        |c AS (SELECT source, w, COUNT(*) AS n FROM tok GROUP BY 1, 2)
        |SELECT source, CAST(SUM(c.n) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.w IS NULL THEN c.n ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(SUM(CASE WHEN v.w IS NULL THEN c.n ELSE 0 END) * 1000 //
        |    SUM(c.n) AS BIGINT) AS oov_permille
        |FROM c LEFT JOIN v ON c.w = v.w GROUP BY 1""".stripMargin)),

    // grade-level readability: Automated Readability Index per source in
    // integer centi-points from exact (chars, words, sentences) sums
    // ([[TextAnalysis.readability]] — one partial-combined aggregate).
    Query("readability", (s, dir) =>
      TextAnalysis.readability(t(s, dir, "documents"), "text", "source"),
      Oracle("""WITH d AS (SELECT source,
        |    length(regexp_replace(text, '\s', '', 'g')) AS c,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS w,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(c) AS BIGINT) AS n_chars,
        |  CAST(SUM(w) AS BIGINT) AS n_words,
        |  CAST(SUM(s) AS BIGINT) AS n_sentences,
        |  CAST(round((4.71 * SUM(c) / SUM(w) +
        |    0.5 * SUM(w) / SUM(s) - 21.43) * 100, 0) AS BIGINT) AS ari_centi
        |FROM d WHERE w > 0 GROUP BY 1""".stripMargin)),

    // contrastive pair mining: hardest positive / hardest negative cosine
    // per anchor over the labeled embedding corpus, margin < 0 flags
    // label noise ([[Similarity.tripletMargins]] — anchors broadcast,
    // corpus streams once, collapses in the same pass).
    Query("triplet_margins", (s, dir) => {
      val emb = embeddings(s, dir, "label")
      Similarity.tripletMargins(emb.filter(col("id") % 5 === 0), emb)
    },
      Oracle("""WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
        |    label FROM embeddings),
        |n AS (SELECT id, v, label, list_dot_product(v, v) AS n2 FROM base),
        |a AS (SELECT id AS aid, v AS av, label AS alabel, n2 AS an2
        |  FROM n WHERE id % 5 = 0),
        |c AS (SELECT id AS cid, v AS cv, label AS clabel, n2 AS cn2 FROM n),
        |p AS (SELECT aid, alabel, (alabel = clabel) AS same,
        |    CAST(round(list_dot_product(av, cv) / (sqrt(an2) * sqrt(cn2))
        |      * 1000.0, 0) AS BIGINT) AS cos
        |  FROM a JOIN c ON aid <> cid)
        |SELECT aid, alabel AS label,
        |  MIN(CASE WHEN same THEN cos END) AS hard_pos_permille,
        |  MAX(CASE WHEN NOT same THEN cos END) AS hard_neg_permille,
        |  MIN(CASE WHEN same THEN cos END)
        |    - MAX(CASE WHEN NOT same THEN cos END) AS margin_permille
        |FROM p GROUP BY 1, 2""".stripMargin)),

    Query("bigram_topk", (s, dir) =>
      TextAnalysis.bigramTopKFromCounts(corpusBigramCounts(s, dir), 50),
      Oracle(
        // bigrams via positional self-join in SQL (the engine builds them
        // array-side; same pairs either way)
        """WITH tok AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
          |    '\s+')) AS w,
          |   generate_subscripts(regexp_split_to_array(trim(lower(text)),
          |    '\s+'), 1) AS pos
          |  FROM documents)
          |SELECT x.w || ' ' || y.w AS bg, COUNT(*) AS n
          |FROM tok x JOIN tok y
          |  ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
          |GROUP BY 1 ORDER BY n DESC, bg ASC LIMIT 50""".stripMargin)),

    // collocation extraction: top bigrams by pointwise mutual information
    // (quantized-ln permille, pair-table marginals, count floor 5) —
    // the association scorer bigram_topk's raw counts can't express
    // ([[TextAnalysis.pmiCollocations]]).
    Query("pmi_collocations", (s, dir) =>
      TextAnalysis.pmiCollocationsFromCounts(corpusBigramCounts(s, dir),
        k = 30, minCount = 5),
      Oracle("""WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
        |    '\s+')) AS w,
        |   generate_subscripts(regexp_split_to_array(trim(lower(text)),
        |    '\s+'), 1) AS pos
        |  FROM documents),
        |p AS (SELECT x.w AS x, y.w AS y, COUNT(*) AS c
        |  FROM tok x JOIN tok y
        |    ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
        |  GROUP BY 1, 2),
        |l AS (SELECT x, SUM(c) AS cx FROM p GROUP BY 1),
        |r AS (SELECT y, SUM(c) AS cy FROM p GROUP BY 1),
        |n AS (SELECT SUM(c) AS n FROM p)
        |SELECT x || ' ' || y AS bigram, c,
        |  CAST(round(ln((CAST(c AS DOUBLE) * CAST(n.n AS DOUBLE)) /
        |    (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))) * 1000, 0)
        |    AS BIGINT) AS pmi_permille
        |FROM p JOIN l USING (x) JOIN r USING (y) CROSS JOIN n
        |WHERE c >= 5
        |ORDER BY pmi_permille DESC, bigram ASC LIMIT 30""".stripMargin)),

    // exact distribution moments per event type: (n, Σv, Σv²) in integer
    // cents — mean/variance derive exactly downstream, and integer sums
    // are order-independent so the comparison never sees float drift.
    // One partial-combined aggregate; sumsq of cents fits BIGINT up to
    // ~10^18 (value ≤ 10^3 dollars ⇒ v² ≤ 10^10 ⇒ 10^8 rows of margin).
    Query("moment_stats", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), cents(col("value")).as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_cents"),
          sum(col("v") * col("v")).as("sumsq_cents2")),
      Oracle("""SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(v) AS BIGINT) AS sum_cents,
        | CAST(SUM(v*v) AS BIGINT) AS sumsq_cents2
        | FROM (SELECT event_type,
        |   CAST(round(value*100, 0) AS BIGINT) AS v FROM events)
        | GROUP BY event_type""".stripMargin)),

    // fixed-width histogram binning in integer-cent space: bucket ids come
    // from BIGINT floor division (never float division, whose boundary
    // rounding differs per engine) — one partial-combined aggregate, the
    // value-distribution profiling primitive. Bucket width $200k.
    Query("hist_prices", (s, dir) =>
      t(s, dir, "orders")
        .select(cents(col("o_totalprice")).as("pc"))
        .select(expr("pc DIV 2000000").as("bucket"), col("pc"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("pc")).as("sum_cents")),
      Oracle("""SELECT pc // 2000000 AS bucket, COUNT(*) AS n,
        | CAST(SUM(pc) AS BIGINT) AS sum_cents
        | FROM (SELECT CAST(round(o_totalprice*100, 0) AS BIGINT) AS pc
        |   FROM orders)
        | GROUP BY 1""".stripMargin)),

    // per-group quantile bucketing (ntile): equal-count quartile labels
    // within each order priority, total-ordered by (price, key) so the
    // assignment is deterministic. One shuffle on the group key; the sort
    // is per-group, never global.
    Query("ntile_split", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("prio"),
        ntile(4).over(Window.partitionBy(col("o_orderpriority"))
          .orderBy(cents(col("o_totalprice")), col("o_orderkey")))
          .cast("long").as("tile"))
    },
      Oracle("""SELECT o_orderkey, o_orderpriority AS prio,
        | ntile(4) OVER (PARTITION BY o_orderpriority
        |   ORDER BY CAST(round(o_totalprice*100, 0) AS BIGINT), o_orderkey)
        |   AS tile
        | FROM orders""".stripMargin)),

    // per-column profiling (the data-quality pass a pipeline runs before
    // training): non-null and exact distinct counts per column, via one
    // stack (unpivot) generate over a single scan — adding a column adds a
    // stack row, not a scan.
    Query("profile_cols", (s, dir) =>
      t(s, dir, "orders")
        .select(expr("stack(3, 'o_orderstatus', o_orderstatus, " +
          "'o_orderpriority', o_orderpriority, " +
          "'o_custkey', CAST(o_custkey AS STRING)) AS (col_name, val)"))
        .groupBy(col("col_name"))
        .agg(count(col("val")).as("n_nonnull"),
          countDistinct(col("val")).as("n_distinct")),
      Oracle("""SELECT col_name, COUNT(val) AS n_nonnull,
        | COUNT(DISTINCT val) AS n_distinct
        | FROM (
        |   SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM orders
        |   UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
        |   UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders)
        | GROUP BY col_name""".stripMargin)),

    // bivariate sufficient statistics (n, Σx, Σy, Σxy) in integer units —
    // covariance/correlation derive exactly downstream; order-independent
    // integer sums, one partial-combined aggregate (the feature-correlation
    // sibling of moment_stats). x = quantity units, y = price cents;
    // Σxy ≤ 50·1.1e7·|rows| — BIGINT-safe past sf100.
    Query("corr_stats", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_quantity")).cast("long").as("q"),
          cents(col("l_extendedprice")).as("pc"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"),
          sum(col("pc")).as("sum_pc"),
          sum(col("q") * col("pc")).as("sum_qpc")),
      Oracle("""SELECT l_returnflag, COUNT(*) AS n,
        | CAST(SUM(q) AS BIGINT) AS sum_q,
        | CAST(SUM(pc) AS BIGINT) AS sum_pc,
        | CAST(SUM(q*pc) AS BIGINT) AS sum_qpc
        | FROM (SELECT l_returnflag,
        |   CAST(round(l_quantity, 0) AS BIGINT) AS q,
        |   CAST(round(l_extendedprice*100, 0) AS BIGINT) AS pc
        |   FROM lineitem)
        | GROUP BY l_returnflag""".stripMargin)),

    // SCD Type-2 dimension build: the orders change log versioned into
    // half-open validity intervals per customer ([[Transforms.scdType2]] —
    // one window pass, one shuffle on the entity key). The open head gets
    // the classic 9999-12-31 sentinel so the interval columns stay
    // non-null strings.
    Query("scd2_build", (s, dir) =>
      Transforms.scdType2(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
          cents(col("o_totalprice")).as("price_cents")),
        Seq(col("o_custkey")), Seq(col("od"), col("o_orderkey")), col("od"))
        .select(col("o_custkey"), col("o_orderkey"), col("price_cents"),
          col("eff_from"),
          coalesce(col("eff_to"), lit("9999-12-31")).as("eff_to"),
          col("is_current")),
      Oracle("""WITH v AS (SELECT o_custkey, o_orderkey,
        |    strftime(o_orderdate, '%Y-%m-%d') AS od,
        |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS price_cents
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, price_cents, od AS eff_from,
        |  COALESCE(LEAD(od) OVER w, '9999-12-31') AS eff_to,
        |  CAST(CASE WHEN LEAD(od) OVER w IS NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_current
        |FROM v WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY od, o_orderkey)""".stripMargin)),

    // SCD2 LOOKUP — the consumer side of scd2_build: each shipped line
    // item joins the customer-state VERSION current at ship time, with
    // unmatched facts (shipped before any version) kept visible under
    // version_state = -1. Because SCD2 versions TILE the timeline
    // contiguously per key, the validity-BETWEEN probe is exactly an
    // as-of backward join on eff_from (last-wins eff_to tie-break skips
    // the empty [d, d) intervals same-day updates leave behind), so the
    // lookup rides [[AsofJoin.asof]]'s union-window pass — one shuffle +
    // sort of |facts| + |versions| rows, LINEAR in version-chain depth,
    // where the BETWEEN-residual hash join probed every fact against
    // every same-key version (round-13 A/B: warm 2.45–2.74 s vs
    // 2.80–3.24 s at sf0.1, receipts in PLANS.md).
    Query("scd2_lookup", (s, dir) => {
      val dim = Transforms.scdType2(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
          cents(col("o_totalprice")).as("price_cents")),
        Seq(col("o_custkey")), Seq(col("od"), col("o_orderkey")), col("od"))
        .select(col("o_custkey").as("fk_ck"),
          col("eff_from").as("ship_od"),
          coalesce(col("eff_to"), lit("9999-12-31")).as("eff_to"),
          col("is_current"))
      val facts = t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
            .select(col("o_orderkey").as("fk_ok"),
              col("o_custkey").as("fk_ck")),
          col("l_orderkey") === col("fk_ok"))
        .select(col("fk_ck"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_od"),
          cents(col("l_extendedprice")).as("ext_cents"))
      graft.operators.AsofJoin.asof(facts, dim, "fk_ck", "ship_od",
          payloadCols = Seq("is_current"),
          rightTieBreak = Seq("eff_to"))
        .groupBy(coalesce(col("asof_is_current"), lit(-1L))
          .as("version_state"))
        .agg(count(lit(1)).as("n_facts"),
          sum(col("ext_cents")).as("ext_cents_sum"))
    },
      Oracle("""WITH v AS (SELECT o_custkey, o_orderkey,
        |    strftime(o_orderdate, '%Y-%m-%d') AS od,
        |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS price_cents
        |  FROM orders),
        |d AS (SELECT o_custkey, od AS eff_from,
        |    COALESCE(LEAD(od) OVER w, '9999-12-31') AS eff_to,
        |    CAST(CASE WHEN LEAD(od) OVER w IS NULL THEN 1 ELSE 0 END
        |      AS BIGINT) AS is_current
        |  FROM v WINDOW w AS (PARTITION BY o_custkey
        |    ORDER BY od, o_orderkey)),
        |f AS (SELECT o_custkey AS fk_ck,
        |    strftime(l_shipdate, '%Y-%m-%d') AS ship_od,
        |    CAST(round(l_extendedprice*100, 0) AS BIGINT) AS ext_cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT COALESCE(d.is_current, -1) AS version_state,
        |  COUNT(*) AS n_facts,
        |  CAST(SUM(ext_cents) AS BIGINT) AS ext_cents_sum
        |FROM f LEFT JOIN d ON fk_ck = d.o_custkey
        |  AND ship_od >= eff_from AND ship_od < eff_to
        |GROUP BY 1""".stripMargin)),

    // winsorized robust sum: per-group exact [p05, p95] clamp then an
    // integer-exact sum ([[Transforms.winsorizedSum]] — the |groups|-row
    // stats side broadcasts back; rows shuffle only for the final
    // partial-combined aggregate).
    Query("winsorize", (s, dir) =>
      Transforms.winsorizedSum(
        t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
          cents(col("l_extendedprice")).as("pc")),
        "flag", "pc", 0.05, 0.95),
      Oracle("""WITH f AS (SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice*100, 0) AS BIGINT) AS pc
        |  FROM lineitem),
        |s AS (SELECT flag,
        |    CAST(round(quantile_cont(pc, 0.05), 0) AS BIGINT) AS lo,
        |    CAST(round(quantile_cont(pc, 0.95), 0) AS BIGINT) AS hi
        |  FROM f GROUP BY 1)
        |SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(LEAST(GREATEST(pc, lo), hi)) AS BIGINT) AS sum_clamped
        |FROM f JOIN s USING (flag) GROUP BY 1""".stripMargin)),

    // mass-weighted robust center: exact lower weighted median of price
    // cents, weighted by integer quantity, per return flag
    // ([[Transforms.weightedMedian]] — one window pass, half-total test
    // in exact integers).
    Query("weighted_median", (s, dir) =>
      Transforms.weightedMedian(
        t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
          cents(col("l_extendedprice")).as("v"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber")),
        "flag", "v", "w", Seq(col("l_orderkey"), col("l_linenumber"))),
      Oracle("""WITH e AS (SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice*100, 0) AS BIGINT) AS v,
        |    CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
        |  FROM lineitem),
        |c AS (SELECT *,
        |    SUM(w) OVER (PARTITION BY flag
        |      ORDER BY v, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS cumw,
        |    SUM(w) OVER (PARTITION BY flag) AS totw
        |  FROM e)
        |SELECT flag, MIN(v) AS wmedian,
        |  CAST(MAX(totw) AS BIGINT) AS total_weight
        |FROM c WHERE cumw * 2 >= totw GROUP BY 1""".stripMargin)),

    // sampling-plan quotas: a 10k-doc budget split across (source, lang)
    // strata by largest-remainder apportionment — quotas sum EXACTLY to
    // the budget ([[Transforms.largestRemainderApportion]]; windows run
    // over the |strata|-row aggregate, never the corpus).
    Query("apportion", (s, dir) =>
      Transforms.largestRemainderApportion(
        t(s, dir, "documents")
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("cnt")),
        Seq("source", "lang"), "cnt", budget = 10000L),
      Oracle("""WITH s AS (SELECT source, lang, COUNT(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |x AS (SELECT *, (SELECT SUM(cnt) FROM s) AS tot FROM s),
        |y AS (SELECT source, lang, cnt,
        |    (10000 * cnt) // tot AS base, (10000 * cnt) % tot AS rem
        |  FROM x),
        |z AS (SELECT *, 10000 - (SELECT SUM(base) FROM y) AS lft,
        |    row_number() OVER (ORDER BY rem DESC, source, lang) AS rk
        |  FROM y)
        |SELECT source, lang, cnt,
        |  CAST(base + CASE WHEN rk <= lft THEN 1 ELSE 0 END AS BIGINT)
        |    AS quota
        |FROM z""".stripMargin)),

    // inequality lens: Gini coefficient of order revenue per priority
    // class, integer permille ([[Transforms.giniPermille]] — rank window
    // + DECIMAL(38,0) sufficient stats, one floor division).
    Query("gini_revenue", (s, dir) =>
      Transforms.giniPermille(
        t(s, dir, "orders").select(col("o_orderpriority").as("prio"),
          cents(col("o_totalprice")).as("v"), col("o_orderkey")),
        "prio", "v", Seq(col("o_orderkey"))),
      Oracle("""WITH e AS (SELECT o_orderpriority AS prio,
        |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS v, o_orderkey
        |  FROM orders),
        |r AS (SELECT prio, v, row_number() OVER (PARTITION BY prio
        |    ORDER BY v, o_orderkey) AS i FROM e),
        |st AS (SELECT prio, COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS sv,
        |    SUM(CAST(i AS HUGEINT) * v) AS siv
        |  FROM r GROUP BY 1)
        |SELECT prio, n,
        |  CASE WHEN sv = 0 THEN NULL ELSE
        |    CAST((2 * siv - (CAST(n AS HUGEINT) + 1) * sv) * 1000 //
        |      (CAST(n AS HUGEINT) * sv) AS BIGINT) END AS gini_permille
        |FROM st""".stripMargin)),

    // approximate-quantile tier (percentile_approx, accuracy 10000):
    // mergeable constant-size sketch state per group — the 100 TB path
    // where the exact tier's full-materialize-per-group doesn't fly.
    // Exact tier = group_quartiles; relative error bounded vs exact in
    // OperatorsSpec (rows-only, see noOracleReason).
    Query("quantiles_approx", (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag").as("flag"))
        .agg(
          round(expr("percentile_approx(l_extendedprice, 0.25, 10000)") * 100)
            .cast("long").as("q1_cents"),
          round(expr("percentile_approx(l_extendedprice, 0.5, 10000)") * 100)
            .cast("long").as("q2_cents"),
          round(expr("percentile_approx(l_extendedprice, 0.75, 10000)") * 100)
            .cast("long").as("q3_cents"),
          count(lit(1)).as("n")),
      NoOracle("GK-sketch approximate percentiles " +
      "(percentile_approx, accuracy 10000) — DuckDB's approx_quantile is " +
      "a t-digest with different estimates, so values are not " +
      "SQL-reproducible by design. OperatorsSpec bounds each approximate " +
      "quartile within 1% relative error of the exact percentile on the " +
      "same data; the exact tier is oracle-green as group_quartiles.")),

    // skew diagnostic: the per-key frequency report that decides whether a
    // join needs salting ([[Transforms.saltedJoin]]) — top heavy-hitter
    // keys with integer-permille share, total-ordered by (count desc, key)
    // so the cut is deterministic. Counts collapse to |keys| rows, the
    // global top-20 ships via TakeOrderedAndProject (never a global sort),
    // and the one-row total broadcasts.
    Query("skew_report", (s, dir) => {
      val counts = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("__total"))
      counts.orderBy(col("n").desc, col("o_custkey").asc).limit(20)
        .crossJoin(broadcast(total))
        .select(col("o_custkey"), col("n"),
          expr("n * 1000 DIV __total").as("share_permille"))
    },
      Oracle("""WITH c AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1),
        |t AS (SELECT SUM(n) AS tot FROM c),
        |top AS (SELECT o_custkey, n FROM c
        |        ORDER BY n DESC, o_custkey LIMIT 20)
        |SELECT o_custkey, CAST(n AS BIGINT) AS n,
        |  CAST(n * 1000 // tot AS BIGINT) AS share_permille
        |FROM top, t""".stripMargin)),

    // Z-order layout key: Morton-interleave of (customer-bucket ×
    // day-bucket) ([[Transforms.zValue8]]) so a writer range-partitioning
    // by zval clusters rows near in BOTH dimensions into the same files —
    // parquet footer min/max then prunes 2-D predicates. Pure projection:
    // zero exchanges (plan-asserted). zbucket = 64-wide curve segment ≈
    // target file id.
    Query("zorder_layout", (s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        Transforms.zValue8(col("o_custkey"),
          datediff(to_date(col("o_orderdate")),
            to_date(lit("1992-01-01"))).cast("long")).as("zval"))
        .select(col("o_orderkey"), col("zval"),
          expr("zval DIV 64").as("zbucket")),
      Oracle("""WITH b AS (SELECT o_orderkey, o_custkey & 255 AS x,
        |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |      & 255 AS y
        |  FROM orders),
        |s1 AS (SELECT o_orderkey, (x | (x<<4)) & 3855 AS x,
        |       (y | (y<<4)) & 3855 AS y FROM b),
        |s2 AS (SELECT o_orderkey, (x | (x<<2)) & 13107 AS x,
        |       (y | (y<<2)) & 13107 AS y FROM s1),
        |s3 AS (SELECT o_orderkey, (x | (x<<1)) & 21845 AS x,
        |       (y | (y<<1)) & 21845 AS y FROM s2)
        |SELECT o_orderkey, CAST(x | (y<<1) AS BIGINT) AS zval,
        |  CAST((x | (y<<1)) // 64 AS BIGINT) AS zbucket FROM s3""".stripMargin)),

    // Hilbert-curve layout key (the Z-order v2 sibling of zorder_layout):
    // same two bucketed dimensions, but CONSECUTIVE curve values are
    // always grid neighbors — no Z-shape jumps, measurably better
    // min/max-footer pruning — in the same pure-projection zero-shuffle
    // shape ([[Transforms.hilbertD8]]: 8 reflect-and-swap rounds as
    // chained projections, replayed stage-by-stage by the twin).
    Query("hilbert_layout", (s, dir) =>
      Transforms.hilbertD8(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          datediff(to_date(col("o_orderdate")),
            to_date(lit("1992-01-01"))).cast("long").as("__days")),
        col("o_custkey"), col("__days"), "hval")
        .select(col("o_orderkey"), col("hval"),
          expr("hval DIV 64").as("hbucket")),
      Oracle(hilbertLayoutSql)),

    // canonical text normalization (dedup pre-pass): case / punctuation /
    // whitespace variants collapse to one canonical form
    // ([[TextAnalysis.normalizeText]] — fused single-regex column
    // expression, zero shuffle).
    Query("text_normalize", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("canon"))
        .select(col("doc_id"), col("canon"),
          length(col("canon")).cast("long").as("n_chars")),
      Oracle("""WITH c AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
        |      AS canon
        |  FROM documents)
        |SELECT doc_id, canon, CAST(length(canon) AS BIGINT) AS n_chars
        |FROM c""".stripMargin)),

    // CCNet-style cross-document line dedup (the boilerplate pass BEFORE
    // document-level dedup): 8-word lines, drop every line seen in more
    // than one document, reassemble survivors in original order
    // ([[TextAnalysis.lineDedup]] — one explode, one doc-frequency
    // aggregate, one self-keyed equi-join; never pairwise).
    Query("line_dedup", (s, dir) =>
      TextAnalysis.lineDedup(t(s, dir, "documents"), "text", "doc_id",
        width = 8, maxDocFreq = 1)
        .withColumnRenamed("id", "doc_id"),
      Oracle(
        // same 8-word segmentation via list comprehension; parallel unnest
        // zips (line, pos); per-doc rebuild = ordered FILTERed list agg.
        // COALESCE mirrors Spark's concat_ws-over-empty = ''.
        """WITH w AS (SELECT doc_id,
          |    regexp_split_to_array(trim(text), '\s+') AS ws
          |  FROM documents),
          |la AS (SELECT doc_id,
          |    [array_to_string(ws[(8*i+1):(8*i+8)], ' ')
          |     for i in range(0, ((len(ws)-1)//8)+1)] AS ls FROM w),
          |l AS (SELECT doc_id, unnest(ls) AS line,
          |    unnest(range(1, len(ls)+1)) AS pos FROM la),
          |dfq AS (SELECT line, COUNT(DISTINCT doc_id) AS dfc
          |  FROM l GROUP BY 1)
          |SELECT l.doc_id,
          |  CAST(COUNT(*) AS BIGINT) AS n_lines,
          |  CAST(SUM(CASE WHEN dfc <= 1 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_kept,
          |  COALESCE(array_to_string(
          |    list(l.line ORDER BY l.pos) FILTER (WHERE dfc <= 1), ' '),
          |    '') AS kept_text
          |FROM l JOIN dfq USING (line)
          |GROUP BY l.doc_id""".stripMargin)),

    // exact-substring duplicate spans (Lee et al. 2022's suffix-array
    // substring dedup, re-expressed as a fixed-k window count + interval
    // merge — [[TextAnalysis.dupSpans]]): the maximal cross-corpus
    // duplicated 8-token spans per document, the cut list a substring
    // dedup pass would excise. One explode, one gram-count aggregate,
    // one join against the duplicated sliver, one per-doc window.
    Query("dup_spans", (s, dir) =>
      dupSpansTable(s, dir).withColumnRenamed("id", "doc_id"),
      Oracle(
        // 8-token windows via zipped parallel unnest (list comprehension +
        // range align positionally); duplicated sliver = HAVING count >= 2;
        // interval merge = gaps-and-islands window pair, identical frames to
        // the Spark side.
        """WITH w AS MATERIALIZED (SELECT doc_id,
          |    regexp_split_to_array(trim(text), '\s+') AS ws
          |  FROM documents),
          |g AS MATERIALIZED (SELECT doc_id,
          |    unnest([array_to_string(ws[i:i+7], ' ')
          |            for i in range(1, len(ws) - 6)]) AS gram,
          |    unnest(range(1, len(ws) - 6)) AS p
          |  FROM w),
          |c AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
          |d AS (SELECT g.doc_id, g.p FROM g JOIN c USING (gram)),
          |s AS (SELECT doc_id, p,
          |    CASE WHEN p > COALESCE(MAX(p + 7) OVER (PARTITION BY doc_id
          |      ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |      -1) + 1 THEN 1 ELSE 0 END AS brk
          |  FROM d),
          |i AS (SELECT doc_id, p,
          |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS seg
          |  FROM s)
          |SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
          |  CAST(MAX(p) + 7 AS BIGINT) AS span_end,
          |  CAST(MAX(p) + 7 - MIN(p) + 1 AS BIGINT) AS span_len
          |FROM i GROUP BY doc_id, seg""".stripMargin)),

    // duplicated-position coverage per document — the triage statistic
    // upstream of substring excision ([[TextAnalysis.spanCoverage]]);
    // one row per document, zeros when nothing is duplicated.
    Query("span_coverage", (s, dir) =>
      TextAnalysis.spanCoverageFromSpans(t(s, dir, "documents"), "text",
        "doc_id", dupSpansTable(s, dir)).withColumnRenamed("id", "doc_id"),
      Oracle(
        // same span chain + per-doc rollup, LEFT JOIN keeps zero-dup docs
        """WITH w AS MATERIALIZED (SELECT doc_id,
          |    regexp_split_to_array(trim(text), '\s+') AS ws
          |  FROM documents),
          |g AS MATERIALIZED (SELECT doc_id,
          |    unnest([array_to_string(ws[i:i+7], ' ')
          |            for i in range(1, len(ws) - 6)]) AS gram,
          |    unnest(range(1, len(ws) - 6)) AS p
          |  FROM w),
          |c AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
          |d AS (SELECT g.doc_id, g.p FROM g JOIN c USING (gram)),
          |s AS (SELECT doc_id, p,
          |    CASE WHEN p > COALESCE(MAX(p + 7) OVER (PARTITION BY doc_id
          |      ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |      -1) + 1 THEN 1 ELSE 0 END AS brk
          |  FROM d),
          |i AS (SELECT doc_id, p,
          |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS seg
          |  FROM s),
          |sp AS (SELECT doc_id, seg, MIN(p) AS st, MAX(p) + 7 AS en
          |  FROM i GROUP BY 1, 2),
          |cv AS (SELECT doc_id, COUNT(*) AS n_spans,
          |    SUM(en - st + 1) AS n_covered
          |  FROM sp GROUP BY 1),
          |b AS (SELECT doc_id,
          |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
          |  FROM documents)
          |SELECT b.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
          |  CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
          |  CAST(COALESCE(n_covered, 0) AS BIGINT) AS n_covered,
          |  CAST((COALESCE(n_covered, 0) * 1000) // n_tokens AS BIGINT)
          |    AS cov_permille
          |FROM b LEFT JOIN cv USING (doc_id)""".stripMargin)),

    // substring excision — the action step of exact-substring dedup:
    // every document rebuilt with duplicated-span positions removed,
    // survivors in original order ([[TextAnalysis.substringExcise]];
    // kept_text = "" when fully covered, mirroring line_dedup).
    Query("substring_excise", (s, dir) =>
      TextAnalysis.substringExciseFromSpans(t(s, dir, "documents"),
        "text", "doc_id", dupSpansTable(s, dir))
        .withColumnRenamed("id", "doc_id"),
      Oracle(
        // spans re-exploded to covered positions; rebuild = ordered FILTERed
        // list agg, COALESCE mirrors concat_ws-over-empty = ''
        """WITH w AS MATERIALIZED (SELECT doc_id,
          |    regexp_split_to_array(trim(text), '\s+') AS ws
          |  FROM documents),
          |g AS MATERIALIZED (SELECT doc_id,
          |    unnest([array_to_string(ws[i:i+7], ' ')
          |            for i in range(1, len(ws) - 6)]) AS gram,
          |    unnest(range(1, len(ws) - 6)) AS p
          |  FROM w),
          |c AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
          |d AS (SELECT g.doc_id, g.p FROM g JOIN c USING (gram)),
          |s AS (SELECT doc_id, p,
          |    CASE WHEN p > COALESCE(MAX(p + 7) OVER (PARTITION BY doc_id
          |      ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |      -1) + 1 THEN 1 ELSE 0 END AS brk
          |  FROM d),
          |i AS (SELECT doc_id, p,
          |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS seg
          |  FROM s),
          |sp AS (SELECT doc_id, seg, MIN(p) AS st, MAX(p) + 7 AS en
          |  FROM i GROUP BY 1, 2),
          |pos AS (SELECT doc_id, unnest(range(st, en + 1)) AS p FROM sp),
          |tk AS (SELECT doc_id, unnest(ws) AS tok,
          |    unnest(range(1, len(ws) + 1)) AS p
          |  FROM w)
          |SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          |  CAST(SUM(CASE WHEN pos.p IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_kept,
          |  COALESCE(array_to_string(
          |    list(tk.tok ORDER BY tk.p) FILTER (WHERE pos.p IS NULL), ' '),
          |    '') AS kept_text
          |FROM tk LEFT JOIN pos
          |  ON tk.doc_id = pos.doc_id AND tk.p = pos.p
          |GROUP BY tk.doc_id""".stripMargin)),

    // DSIR-style importance weights (Xie et al. 2023) in exact fixed
    // point: hashed-bigram occurrence rates for the en-language target
    // domain vs the full corpus; each document scored by the sum of its
    // occurrences' smoothed target/corpus permille ratios
    // ([[TextAnalysis.dsirWeights]] — the bucket table collapses to 4096
    // rows map-side and broadcasts back; the only doc-keyed shuffle is
    // the final per-doc sum).
    Query("dsir_weights", (s, dir) =>
      TextAnalysis.dsirWeights(t(s, dir, "documents"), "text", "doc_id",
        targetPred = col("lang") === "en",
        buckets = TextAnalysis.DsirBuckets, occ = Some(dsirOcc(s, dir)))
        .withColumnRenamed("id", "doc_id"),
      Oracle(
        // 31-ary polynomial char hash mod 2^20 mod 4096 replayed as a
        // list_reduce fold (every bit op parenthesized); smoothed permille
        // ratio is pure-integer //; totals ride a 1-row cross join
        """WITH w AS (SELECT doc_id, lang,
          |    regexp_split_to_array(trim(text), '\s+') AS ws
          |  FROM documents),
          |bgl AS (SELECT doc_id, (lang = 'en') AS t,
          |    unnest([ws[i] || ' ' || ws[i + 1]
          |            for i in range(1, len(ws))]) AS bg
          |  FROM w),
          |hb AS MATERIALIZED (SELECT doc_id, t,
          |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(split(bg, ''),
          |        c -> CAST(unicode(c) AS BIGINT))),
          |      (a, x) -> (a * 31 + x) % 1048576)) % DSIRBKT AS b
          |  FROM bgl),
          |bc AS (SELECT b, SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
          |    COUNT(*) AS cs
          |  FROM hb GROUP BY 1),
          |tt AS (SELECT SUM(ct) AS nt, SUM(cs) AS ns FROM bc),
          |sc AS (SELECT b, (1000 * (ct + 1) * (ns + DSIRBKT))
          |    // ((cs + 1) * (nt + DSIRBKT)) AS s
          |  FROM bc, tt)
          |SELECT hb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          |  CAST(SUM(s) AS BIGINT) AS weight,
          |  CAST(SUM(s) // COUNT(*) AS BIGINT) AS w_avg
          |FROM hb JOIN sc USING (b) GROUP BY 1""".stripMargin
          .replace("DSIRBKT", TextAnalysis.DsirBuckets.toString))),

    // the production-scale (100 TB) DSIR path: the smoothed log-likelihood
    // ratio of Xie et al. 2023, immune to the integer path's 2^62
    // totals-product overflow ([[TextAnalysis.dsirWeightsLogMicros]] —
    // same single-scan occAgg front end as dsir_weights, per-bucket score
    // quantized to micros before the per-doc sum so the read-out is
    // order-independent)
    Query("dsir_log", (s, dir) =>
      TextAnalysis.dsirWeightsLogMicros(t(s, dir, "documents"), "text",
        "doc_id", targetPred = col("lang") === "en",
        buckets = TextAnalysis.DsirBuckets, occ = Some(dsirOcc(s, dir)))
        .withColumnRenamed("id", "doc_id"),
      Oracle(
        // same front end as dsir_weights; the score stage is the smoothed
        // log-likelihood ratio rounded to integer micros BEFORE the per-doc
        // sum (ln of exact integer args on both sides; a micros flip would
        // need DuckDB's and Java's ln to straddle a .5 boundary 1e-10 ulps
        // wide — quantize-before-sum makes the aggregate itself exact)
        """WITH w AS (SELECT doc_id, lang,
          |    regexp_split_to_array(trim(text), '\s+') AS ws
          |  FROM documents),
          |bgl AS (SELECT doc_id, (lang = 'en') AS t,
          |    unnest([ws[i] || ' ' || ws[i + 1]
          |            for i in range(1, len(ws))]) AS bg
          |  FROM w),
          |hb AS MATERIALIZED (SELECT doc_id, t,
          |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(split(bg, ''),
          |        c -> CAST(unicode(c) AS BIGINT))),
          |      (a, x) -> (a * 31 + x) % 1048576)) % DSIRBKT AS b
          |  FROM bgl),
          |bc AS (SELECT b, SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
          |    COUNT(*) AS cs
          |  FROM hb GROUP BY 1),
          |tt AS (SELECT SUM(ct) AS nt, SUM(cs) AS ns FROM bc),
          |sc AS (SELECT b, CAST(round(((ln(ct + 1.0) + ln(ns + DSIRBKT.0))
          |    - (ln(cs + 1.0) + ln(nt + DSIRBKT.0))) * 1e6, 0) AS BIGINT) AS s
          |  FROM bc, tt)
          |SELECT hb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          |  CAST(SUM(s) AS BIGINT) AS llr_micros
          |FROM hb JOIN sc USING (b) GROUP BY 1""".stripMargin
          .replace("DSIRBKT", TextAnalysis.DsirBuckets.toString))),

    // representative selection per near-dup cluster — the "which member
    // survives" step downstream of dedup_clusters
    // ([[Dedup.clusterRepresentatives]]: longest text wins, ties to
    // smallest id; one join of the dup-sliver cluster map + one shared
    // window exchange). The clustering input is the even-id half of the
    // corpus (dedup_embed_cosine precedent): the operator under test here
    // is the rep pick, and the full-corpus clustering already holds its
    // own bench slot as dedup_clusters.
    Query("cluster_reps", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.clusterRepresentatives(
        Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(docs.filter(col("doc_id") % 2 === 0),
            "text", "doc_id", n = 5, thresholdPermille = 100)),
        docs, "doc_id", col("n_chars"))
    },
      Oracle(
        // same clustering CTE as dedup_clusters (on the even-id half), plus
        // the representative pick
        """WITH RECURSIVE sh AS (
          |  SELECT doc_id, list_distinct(
          |    [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
          |     for i in range(1, greatest(len(w)-3, 1))]) AS shs
          |  FROM (SELECT doc_id,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
          |    FROM documents WHERE doc_id % 2 = 0)),
          |inv AS (SELECT doc_id, len(shs) AS nsh, unnest(shs) AS s FROM sh),
          |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.nsh AS na, y.nsh AS nb,
          |        COUNT(*) AS common
          |      FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
          |      GROUP BY 1, 2, 3, 4),
          |pr AS (SELECT a, b FROM p
          |       WHERE CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT) >= 100),
          |edges AS (SELECT a AS src, b AS dst FROM pr
          |          UNION SELECT b, a FROM pr),
          |reach(id, lab) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
          |cl AS (SELECT CAST(id AS BIGINT) AS id,
          |         CAST(MIN(lab) AS BIGINT) AS cluster_id
          |       FROM reach GROUP BY id)
          |SELECT cluster_id, rep_id, n_members FROM (
          |  SELECT cl.cluster_id, d.doc_id AS rep_id,
          |    COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_members,
          |    ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
          |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
          |  FROM cl JOIN documents d ON d.doc_id = cl.id)
          |WHERE rn = 1""".stripMargin))
  )

  private def langIdSql: String =
    s"SELECT doc_id, $langIdCaseExpr AS pred_lang FROM documents"

  private def qualityScoreSql: String =
    s"SELECT doc_id, $qualityExpr AS score FROM documents"

  /** Oracle twin of `hilbert_layout` ([[graft.operators.Transforms.hilbertD8]]):
    * the same 8 reflect-and-swap stages, generated as chained
    * MATERIALIZED CTEs from the identical bit schedule — quadrant digit
    * (3·rx)⊕ry scaled by s², then the ry=0 reflect/swap rotation with
    * the full-grid 255 reflector. */
  private def hilbertLayoutSql: String = {
    val stages = (7 to 0 by -1).map { bit =>
      val s = 1L << bit
      val rx = s"((hx // $s) % 2)"
      val ry = s"((hy // $s) % 2)"
      s"""h$bit AS MATERIALIZED (SELECT o_orderkey,
         |  (d + ${s * s} * xor(3 * $rx, $ry)) AS d,
         |  (CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1
         |     THEN 255 - hy ELSE hy END) ELSE hx END) AS hx,
         |  (CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1
         |     THEN 255 - hx ELSE hx END) ELSE hy END) AS hy
         |  FROM h${bit + 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH h8 AS MATERIALIZED (SELECT o_orderkey,
       |  (o_custkey & 255) AS hx,
       |  (date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
       |     & 255) AS hy,
       |  0 AS d FROM orders),
       |$stages
       |SELECT o_orderkey, CAST(d AS BIGINT) AS hval,
       |  CAST(d // 64 AS BIGINT) AS hbucket FROM h0""".stripMargin
  }

  /** Oracle twin of the `curate_docs` composite: filters mirrored from the
    * standalone lang/quality/token oracles, then exact-dedup survivors. */
  private def curateDocsSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE $wsCountExpr >= 20
       |    AND $qualityExpr >= 400
       |    AND $langIdCaseExpr = 'en')
       |SELECT MIN(doc_id) AS doc_id FROM f GROUP BY text""".stripMargin
}
