package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis, Transforms}

import SparkEntry._

/** Dedup family, first part: exact, incremental and near-duplicate
  * detection, clustering and record fusion, with the curation, evaluation
  * and privacy reports declared under the same section. Each query is
  * declared once, with its plan and its check; [[SparkEntry]] derives the
  * battery views from these lists. */
private[graft] object DedupQueries {
  lazy val all: Seq[Query] = Seq(
    // ===== extensions: dedup family =====
    Query("dedup_exact", (s, dir) =>
      Dedup.exactSurvivors(t(s, dir, "documents"), "text", "doc_id"),
      Oracle("SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text")),

    // incremental crawl dedup: batch vs persistent seen-hash state —
    // one within-batch hash agg + one (hash, id) anti-join; bodies never
    // join. State fixture = the docs already "seen" in a previous sync.
    Query("dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val seen = Dedup.seenHashes(docs.filter(col("doc_id") % 3 === 0), "text")
      Dedup.incrementalExactSurvivors(docs, seen, "text", "doc_id")
    },
      Oracle("""WITH seen AS (SELECT DISTINCT md5(text) AS seen_hash
        |  FROM documents WHERE doc_id % 3 = 0),
        |b AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id
        |  FROM documents GROUP BY 1)
        |SELECT doc_id FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.seen_hash = b.h)""".stripMargin)),

    // Bloom-pruned form of dedup_incremental — byte-identical output, but
    // only the maybe-seen sliver of the batch pays the anti-join exchange;
    // the definitely-new majority never shuffles (operator doc). Oracle =
    // dedup_incremental's SQL verbatim: the filter changes the plan, not
    // the result.
    Query("dedup_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      val seen = Dedup.seenHashes(docs.filter(col("doc_id") % 3 === 0), "text")
      Dedup.bloomPrunedIncrementalSurvivors(docs, seen, "text", "doc_id")
    },
      Oracle(
        // the Bloom prune is plan-level only: exact semantics are identical
        """WITH seen AS (SELECT DISTINCT md5(text) AS seen_hash
          |  FROM documents WHERE doc_id % 3 = 0),
          |b AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id
          |  FROM documents GROUP BY 1)
          |SELECT doc_id FROM b
          |WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.seen_hash = b.h)""".stripMargin)),

    Query("dedup_ngram_jaccard", (s, dir) => docDupGraph(s, dir)._1,
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
        |      GROUP BY 1, 2, 3, 4)
        |SELECT a, b,
        |  CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT) AS jacc_permille
        |FROM p
        |WHERE CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT) >= 100""".stripMargin)),

    // prefix-filtered word-set Jaccard join (PPJoin family): exact same
    // contract as the inverted-index tier but candidates come only from
    // RARE-token collisions — high-df tokens never enter the index, so the
    // quadratic stopword fan-out that caps ngramJaccardPairs at scale is
    // designed out ([[Dedup.prefixFilterJaccardPairs]]). Oracle = the
    // plain exact-Jaccard SQL: the prefix filter is lossless.
    Query("ppjoin_pairs", (s, dir) =>
      Dedup.prefixFilterJaccardPairs(t(s, dir, "documents"), "text",
        "doc_id", thresholdPermille = 950),
      Oracle(
        // the prefix filter is lossless candidate pruning, so the oracle is
        // the UNPRUNED exact word-set-Jaccard join — any dropped qualifying
        // pair would surface as a missing row here.
        """WITH w AS (SELECT DISTINCT id, w FROM (
          |    SELECT doc_id AS id, unnest(
          |      regexp_split_to_array(lower(trim(text)), '\s+')) AS w
          |    FROM documents)),
          |sz AS (SELECT id, COUNT(*) AS n FROM w GROUP BY 1),
          |p AS (SELECT x.id AS a, y.id AS b, COUNT(*) AS common
          |      FROM w x JOIN w y ON x.w = y.w AND x.id < y.id
          |      GROUP BY 1, 2)
          |SELECT a, b, CAST(round(common*1000.0/(sa.n+sb.n-common), 0)
          |    AS BIGINT) AS jacc_permille
          |FROM p JOIN sz sa ON sa.id = p.a JOIN sz sb ON sb.id = p.b
          |WHERE CAST(round(common*1000.0/(sa.n+sb.n-common), 0) AS BIGINT)
          |  >= 950""".stripMargin)),

    // inter-document phrase novelty: share of each doc's distinct word
    // 8-grams that also occur in ≥1 other doc — the corpus-boilerplate /
    // memorization signal ([[Dedup.gramNovelty]]; intra-doc repetition is
    // rep_score, cross-split leakage is decontaminate).
    Query("gram_novelty", (s, dir) =>
      Dedup.gramNovelty(t(s, dir, "documents"), "text", "doc_id", n = 8),
      Oracle("""WITH sh AS (SELECT doc_id, list_distinct(
        |    [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |      ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]
        |     for i in range(1, greatest(len(w)-6, 1))]) AS shs
        |  FROM (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |    FROM documents)),
        |inv AS (SELECT doc_id, CAST(len(shs) AS BIGINT) AS nsh,
        |    unnest(shs) AS s FROM sh WHERE len(shs) > 0),
        |gdf AS (SELECT s, COUNT(*) AS docs FROM inv GROUP BY 1)
        |SELECT inv.doc_id AS doc_id, MAX(inv.nsh) AS n_grams,
        |  (1000 * CAST(SUM(CASE WHEN gdf.docs >= 2 THEN 1 ELSE 0 END)
        |    AS BIGINT)) // MAX(inv.nsh) AS shared_permille
        |FROM inv JOIN gdf USING (s) GROUP BY 1""".stripMargin)),

    // tokenizer APPLY half of the BPE story: train 10 merges on the corpus
    // (bpe_merges' driver loop — vocabulary-sized rounds), then price every
    // document under the trained tokenizer with the native replay
    // expression ([[graft.functions.BpeEncode]]) in one projection pass.
    // Rows-only: the iterated merge replay has no SQL twin (see
    // noOracleReason + BpeEncodeSpec).
    Query("bpe_apply", (s, dir) => {
      // the merge table rides the bpe_merges memo (one trainer loop per
      // (session, dir), shared with bpe_fertility)
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.BpeEncode(col("text"), bpeMergeTable(s, dir))
          .as("n_bpe"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"))
    },
      Oracle(bpeApplyOracleSql)),

    // tokenizer fertility per language: BPE tokens per whitespace word
    // (the "how many subwords does this language cost" diagnostic that
    // sizes per-language token budgets). Same memoized merge table as
    // bpe_apply; one fused projection + one tiny aggregate.
    Query("bpe_fertility", (s, dir) =>
      t(s, dir, "documents").select(col("lang"),
          graft.functions.BpeEncode(col("text"), bpeMergeTable(s, dir))
            .as("__nb"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__nw"))
        .groupBy(col("lang"))
        .agg(sum(col("__nb")).as("n_bpe"), sum(col("__nw")).as("n_ws"))
        .withColumn("fertility_permille", expr("(1000 * n_bpe) DIV n_ws")),
      Oracle(bpeFertilityOracleSql)),

    // corpus conditional bigram entropy H(w2|w1) in integer micro-nats —
    // the language-complexity statistic (low = templated, high =
    // diverse); quantize-once per bigram TYPE
    // ([[TextAnalysis.bigramCondEntropy]]).
    Query("bigram_entropy", (s, dir) =>
      TextAnalysis.bigramCondEntropyFromCounts(
        corpusBigramCounts(s, dir)),
      Oracle(
        // conditional entropy replay: per-bigram-TYPE ln quantized to micros
        // before the integer sum (quantize-once discipline)
        """WITH d AS (SELECT doc_id,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |t AS (SELECT doc_id, unnest(
          |    [w[i]||' '||w[i+1] for i in range(1, greatest(len(w), 1))])
          |    AS s FROM d),
          |b AS (SELECT s, COUNT(*) AS c12 FROM t GROUP BY 1),
          |f AS (SELECT split_part(s, ' ', 1) AS w1, SUM(c12) AS c1
          |  FROM b GROUP BY 1)
          |SELECT CAST(SUM(c12) AS BIGINT) AS n_bigrams,
          |  CAST(SUM(c12 * CAST(round(
          |      ln(CAST(f.c1 AS DOUBLE) / CAST(b.c12 AS DOUBLE)) * 1000000,
          |      0) AS BIGINT)) // SUM(c12) AS BIGINT) AS cond_entropy_micros
          |FROM b JOIN f ON split_part(b.s, ' ', 1) = f.w1""".stripMargin)),

    // per-stage curation audit: the DECLARED gopher→dedup→mixture chain
    // run through [[graft.pipeline.SpecLoader.funnelFromJson]] — one
    // counted checkpoint per stage boundary yields (stage, op, rows_in,
    // rows_out); the stage literals are generated into both the spec
    // JSON and the oracle from one definition. The declared JSON spec
    // IS the product surface: the full CCNet front door (normalize →
    // lang_gate → margin_gate → lm_apply → line_dedup →
    // mixture_resample) is pinned three ways in StreamingFunnelSpec —
    // declared ≡ hand-composed operators ≡ streaming twins, stage by
    // stage.
    Query("curation_funnel", (s, dir) => {
      import s.implicits._
      funnelRows(s, dir).toDF("stage", "op", "rows_in", "rows_out")
    },
      Oracle {
        // funnel replay: each declared stage's survivor set as a CTE (the
        // gopher gate with the funnel's generated word floor, min-id-per-text
        // dedup, the mixture_sample rate derivation over stage-2 survivors),
        // then three count rows — stage literals shared with funnelSpecJson
        val mixVals = FunnelMix
          .map { case (k, v) => s"('$k', CAST($v AS BIGINT))" }
          .mkString(", ")
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
          |         ELSE (chars * 1000) // n_words END AS mwl,
          |    CASE WHEN n_words = 0 THEN 0
          |         ELSE (sym * 1000) // n_words END AS symp,
          |    CASE WHEN n_words = 0 THEN 0
          |         ELSE (alpha * 1000) // n_words END AS alp,
          |    n_stop
          |  FROM m),
          |g AS (SELECT doc_id FROM p
          |  WHERE n_words >= $FunnelMinWords
          |    AND n_words <= ${TextAnalysis.GopherMaxWords}
          |    AND mwl >= 3000 AND mwl <= 10000
          |    AND symp <= 100 AND alp >= 800 AND n_stop >= 2),
          |e AS (SELECT MIN(d.doc_id) AS doc_id
          |  FROM documents d JOIN g USING (doc_id) GROUP BY d.text),
          |c AS (SELECT lang, COUNT(*) AS n_s
          |  FROM documents JOIN e USING (doc_id) GROUP BY 1),
          |mw(lang, wt) AS (VALUES $mixVals),
          |j AS (SELECT c.lang, c.n_s, mw.wt FROM c JOIN mw USING (lang)),
          |sc AS (SELECT MIN((n_s * 1000000) // wt) AS scale FROM j),
          |r AS (SELECT lang, (wt * scale) // n_s AS rate_ppm FROM j, sc),
          |mm AS (SELECT d.doc_id FROM documents d JOIN e USING (doc_id)
          |  JOIN r USING (lang)
          |  WHERE ${XxhOracleSql.knuthKeepPpm("d.doc_id")} < r.rate_ppm),
          |n0 AS (SELECT COUNT(*) AS n FROM documents),
          |n1 AS (SELECT COUNT(*) AS n FROM g),
          |n2 AS (SELECT COUNT(*) AS n FROM e),
          |n3 AS (SELECT COUNT(*) AS n FROM mm)
          |SELECT CAST(1 AS BIGINT) AS stage, 'gopher_rules' AS op,
          |  n0.n AS rows_in, n1.n AS rows_out FROM n0, n1
          |UNION ALL SELECT CAST(2 AS BIGINT), 'exact_dedup', n1.n, n2.n
          |  FROM n1, n2
          |UNION ALL SELECT CAST(3 AS BIGINT), 'mixture_resample', n2.n,
          |  n3.n FROM n2, n3""".stripMargin
      }),

    // calibration table (reliability diagram) for the quality scorer:
    // score-decile bins vs the realized unique-content rate — does a
    // higher quality score actually predict non-duplicate content. Bodies
    // never shuffle: the outcome window partitions on the exactSurvivors
    // hash-key triple, not the text.
    Query("calibration_bins", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("__score"),
        xxhash64(col("text")).as("__h1"),
        crc32(encode(col("text"), "UTF-8")).as("__h2"),
        length(encode(col("text"), "UTF-8")).as("__len"))
      val w = Window.partitionBy("__h1", "__h2", "__len")
      scored
        .withColumn("bin", expr("__score DIV 100"))
        .withColumn("__pos",
          (col("doc_id") === min(col("doc_id")).over(w)).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("__pos")).as("n_pos"))
        .withColumn("rate_permille", expr("(1000 * n_pos) DIV n"))
    },
      Oracle(s"""WITH s AS (SELECT doc_id, ($qualityExpr) // 100 AS bin,
        |    CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY text)
        |      THEN 1 ELSE 0 END AS pos
        |  FROM documents)
        |SELECT bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos,
        |  (1000 * CAST(SUM(pos) AS BIGINT)) // COUNT(*) AS rate_permille
        |FROM s GROUP BY 1""".stripMargin)),

    // smoothed target encoding (the ML-prep categorical encoder): per
    // segment, (Σv + k·prior)/(n + k) with prior = global mean — cleared
    // to the single rational (Σv·N + k·T)/(N·(n+k)), exact integers up
    // to ONE closing float division mirrored in the twin.
    Query("target_encode", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"),
          cents(col("c_acctbal")).as("v"))
      val g = broadcast(c.agg(count(lit(1)).as("__gn"),
        sum(col("v")).as("__gt")))
      c.groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("__s"))
        .crossJoin(g)
        .select(col("seg"), col("n"), expr(
          "CAST(round(CAST(__s * __gn + 10 * __gt AS DOUBLE) / " +
            "CAST(__gn * (n + 10) AS DOUBLE) * 1000, 0) AS BIGINT)")
          .as("encoded_millicents"))
    },
      Oracle("""WITH c AS (SELECT c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v FROM customer),
        |g AS (SELECT COUNT(*) AS gn, CAST(SUM(v) AS BIGINT) AS gt
        |  FROM c),
        |s AS (SELECT seg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv
        |  FROM c GROUP BY 1)
        |SELECT seg, n,
        |  CAST(round(CAST(sv * gn + 10 * gt AS DOUBLE) /
        |    CAST(gn * (n + 10) AS DOUBLE) * 1000, 0) AS BIGINT)
        |    AS encoded_millicents
        |FROM s CROSS JOIN g""".stripMargin)),

    // seasonal-naive forecast backtest: predict each (type, day)'s event
    // count with the count 7 days earlier, score MAE (milli) and bias on
    // the days where both sides exist — the baseline every forecasting
    // pipeline must beat, evaluated entirely in integers.
    Query("forecast_backtest", (s, dir) => {
      val d = events(s, dir)
        .groupBy(col("event_type"),
          expr("ts DIV 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
      d.as("a").join(d.as("f").hint("shuffle_hash"),
          col("a.event_type") === col("f.event_type") &&
            col("a.day") === col("f.day") + 7)
        .groupBy(col("a.event_type").as("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("a.n") - col("f.n"))).as("__sa"),
          sum(col("a.n") - col("f.n")).as("bias"))
        .withColumn("mae_milli", expr("(1000 * __sa) DIV n_days"))
        .select("event_type", "n_days", "mae_milli", "bias")
    },
      Oracle("""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    COUNT(*) AS n FROM events GROUP BY 1, 2)
        |SELECT a.event_type, COUNT(*) AS n_days,
        |  (1000 * CAST(SUM(abs(a.n - f.n)) AS BIGINT)) // COUNT(*)
        |    AS mae_milli,
        |  CAST(SUM(a.n - f.n) AS BIGINT) AS bias
        |FROM d a JOIN d f ON a.event_type = f.event_type
        |  AND a.day = f.day + 7
        |GROUP BY 1""".stripMargin)),

    // hashing-trick feature crosses: (segment × nation) crossed, hashed
    // into 64 buckets via md5-hex arithmetic both engines can evaluate
    // identically; output = bucket load + collision census (distinct
    // crosses per bucket) — the dimensionality/collision trade every
    // hashed featurizer prices.
    Query("feature_hash", (s, dir) => {
      val hx = "0123456789abcdef"
      val h = md5(concat(col("c_mktsegment"), lit("#"),
        col("c_nationkey").cast("string")))
      val bucket = ((instr(lit(hx), substring(h, 1, 1)) - 1) * 16 +
        (instr(lit(hx), substring(h, 2, 1)) - 1)) % 64
      t(s, dir, "customer")
        .select(bucket.cast("long").as("bucket"),
          concat(col("c_mktsegment"), lit("#"),
            col("c_nationkey").cast("string")).as("__cross"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("__cross")).as("n_crosses"))
    },
      Oracle("""WITH x AS (SELECT
        |    (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
        |    (instr('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
        |    cross_key
        |  FROM (SELECT md5(c_mktsegment || '#' || CAST(c_nationkey
        |      AS VARCHAR)) AS h,
        |    c_mktsegment || '#' || CAST(c_nationkey AS VARCHAR)
        |      AS cross_key FROM customer))
        |SELECT CAST(bucket % 64 AS BIGINT) AS bucket,
        |  COUNT(*) AS n_rows,
        |  CAST(COUNT(DISTINCT cross_key) AS BIGINT) AS n_crosses
        |FROM x GROUP BY 1""".stripMargin)),

    // k-anonymity risk census over quasi-identifiers (nation, segment,
    // $1000 balance band): groups below k=5 and the rows they expose —
    // the governance pre-check before publishing a slice.
    Query("kanon_risk", (s, dir) =>
      t(s, dir, "customer")
        .withColumn("bal_band",
          expr("CAST(round(c_acctbal * 100, 0) AS BIGINT) DIV 100000"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
        .agg(count(lit(1)).as("__cnt"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("__cnt") < 5, 1L).otherwise(0L)).as("n_small_groups"),
          sum(when(col("__cnt") < 5, col("__cnt")).otherwise(0L))
            .as("rows_at_risk"),
          min(col("__cnt")).as("min_group")),
      Oracle("""WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) // 100000
        |      AS bal_band, COUNT(*) AS cnt
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT COUNT(*) AS n_groups,
        |  CAST(SUM(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_groups,
        |  CAST(SUM(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  MIN(cnt) AS min_group
        |FROM g""".stripMargin)),

    // robust two-way decomposition: Tukey median polish (2 rounds) of the
    // nation × segment revenue grid — alternating LOWER-median sweeps
    // isolate outlier cells in the residual term instead of smearing them
    // across row/column means ([[Transforms.medianPolish]] — exact
    // integer rank-pick medians, grid-sized windows, oracle = the sweeps
    // unrolled).
    Query("median_polish", (s, dir) => {
      val grid = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      Transforms.medianPolish(grid, "c_nationkey", "c_mktsegment",
        "rev_cents", rounds = 2)
    },
      Oracle("""WITH g0 AS (SELECT c_nationkey AS r, c_mktsegment AS c,
        |    CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |rm1 AS (SELECT r, v AS m FROM (
        |    SELECT r, v, ROW_NUMBER() OVER (PARTITION BY r ORDER BY v, c)
        |      AS rn, COUNT(*) OVER (PARTITION BY r) AS n FROM g0)
        |  WHERE rn = (n + 1) // 2),
        |g1 AS (SELECT g0.r, g0.c, g0.v - rm1.m AS v, rm1.m AS re,
        |    CAST(0 AS BIGINT) AS ce FROM g0 JOIN rm1 USING (r)),
        |cm1 AS (SELECT c, v AS m FROM (
        |    SELECT c, v, ROW_NUMBER() OVER (PARTITION BY c ORDER BY v, r)
        |      AS rn, COUNT(*) OVER (PARTITION BY c) AS n FROM g1)
        |  WHERE rn = (n + 1) // 2),
        |g2 AS (SELECT g1.r, g1.c, g1.v - cm1.m AS v, g1.re,
        |    g1.ce + cm1.m AS ce FROM g1 JOIN cm1 USING (c)),
        |rm2 AS (SELECT r, v AS m FROM (
        |    SELECT r, v, ROW_NUMBER() OVER (PARTITION BY r ORDER BY v, c)
        |      AS rn, COUNT(*) OVER (PARTITION BY r) AS n FROM g2)
        |  WHERE rn = (n + 1) // 2),
        |g3 AS (SELECT g2.r, g2.c, g2.v - rm2.m AS v, g2.re + rm2.m AS re,
        |    g2.ce FROM g2 JOIN rm2 USING (r)),
        |cm2 AS (SELECT c, v AS m FROM (
        |    SELECT c, v, ROW_NUMBER() OVER (PARTITION BY c ORDER BY v, r)
        |      AS rn, COUNT(*) OVER (PARTITION BY c) AS n FROM g3)
        |  WHERE rn = (n + 1) // 2),
        |g4 AS (SELECT g3.r, g3.c, g3.v - cm2.m AS v, g3.re,
        |    g3.ce + cm2.m AS ce FROM g3 JOIN cm2 USING (c))
        |SELECT r AS c_nationkey, c AS c_mktsegment,
        |  CAST(v AS BIGINT) AS resid, CAST(re AS BIGINT) AS row_eff,
        |  CAST(ce AS BIGINT) AS col_eff
        |FROM g4""".stripMargin)),

    // threshold-free scorer evaluation: exact ROC-AUC of the quality
    // score as an English-document ranker, by integer rank sums with
    // midrank ties ([[Transforms.rankAuc]] — histogram collapse first,
    // rank math over |distinct scores| rows).
    Query("auc_quality", (s, dir) =>
      Transforms.rankAuc(t(s, dir, "documents"),
        TextAnalysis.qualityScore(col("text")), col("lang") === "en"),
      Oracle(s"""WITH sc AS (SELECT $qualityExpr AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p FROM documents),
        |h AS (SELECT s, CAST(SUM(p) AS BIGINT) AS np,
        |    CAST(SUM(1 - p) AS BIGINT) AS nn FROM sc GROUP BY 1),
        |c AS (SELECT np, nn, COALESCE(SUM(nn) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS cumneg FROM h)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CAST(SUM(np * (2 * cumneg + nn)) * 1000000
        |    // (2 * SUM(np) * SUM(nn)) AS BIGINT) AS auc_ppm
        |FROM c""".stripMargin)),

    // threshold sweep companion to auc_quality: precision/recall at
    // EVERY distinct score cut ("predict English when score ≥ t") — the
    // PR curve as integer permille from one histogram pass + one
    // descending cumulative window over |distinct scores| rows.
    Query("pr_curve", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hist = t(s, dir, "documents")
        .select(TextAnalysis.qualityScore(col("text")).as("s"),
          when(col("lang") === "en", 1L).otherwise(0L).as("p"))
        .groupBy(col("s"))
        .agg(sum(col("p")).as("np"), sum(lit(1L) - col("p")).as("nn"))
      val w = Window.orderBy(col("s").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("tp", sum(col("np")).over(w))
        .withColumn("fp", sum(col("nn")).over(w))
        .crossJoin(broadcast(hist.agg(sum(col("np")).as("np_tot"))))
        .select(col("s").as("threshold"), col("tp"), col("fp"),
          expr("1000 * tp DIV (tp + fp)").as("precision_permille"),
          expr("1000 * tp DIV np_tot").as("recall_permille"))
    },
      Oracle(s"""WITH sc AS (SELECT $qualityExpr AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p FROM documents),
        |h AS (SELECT s, CAST(SUM(p) AS BIGINT) AS np,
        |    CAST(SUM(1 - p) AS BIGINT) AS nn FROM sc GROUP BY 1),
        |c AS (SELECT s, np, nn,
        |    CAST(SUM(np) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS tp,
        |    CAST(SUM(nn) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS fp
        |  FROM h),
        |tot AS (SELECT CAST(SUM(np) AS BIGINT) AS np_tot FROM h)
        |SELECT s AS threshold, tp, fp,
        |  CAST(1000 * tp // (tp + fp) AS BIGINT) AS precision_permille,
        |  CAST(1000 * tp // np_tot AS BIGINT) AS recall_permille
        |FROM c, tot""".stripMargin)),

    // contamination span forensics: for train×test 8-gram-sharing pairs
    // (decontaminate's split), the LONGEST shared consecutive token run
    // via the diagonal-islands construction
    // ([[Dedup.contaminationSpans]] — one n-gram equi-join, islands from
    // pos − row_number, no pairwise alignment).
    Query("overlap_spans", (s, dir) => {
      val d = t(s, dir, "documents")
      val h = substring(md5(col("text")), 1, 1)
      Dedup.contaminationSpans(
        d.filter(h < "c").select(col("doc_id"), col("text")),
        d.filter(h >= "e").select(col("doc_id"), col("text")),
        "text", "doc_id", n = 8)
    },
      Oracle("""WITH sp AS (SELECT doc_id, substr(md5(text), 1, 1) AS h,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, h, unnest(
        |    [{'p': i, 's': w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]
        |      ||' '||w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]}
        |     for i in range(1, greatest(len(w) - 6, 1))]) AS u
        |  FROM sp),
        |tr AS (SELECT doc_id AS train_id, u.p AS ti, u.s AS s
        |  FROM g WHERE h < 'c'),
        |be AS (SELECT doc_id AS bench_id, u.p AS bi, u.s AS s
        |  FROM g WHERE h >= 'e'),
        |m AS (SELECT train_id, bench_id, ti, ti - bi AS diag
        |  FROM tr JOIN be USING (s)),
        |runs AS (SELECT train_id, bench_id, diag, grp, COUNT(*) AS run
        |  FROM (SELECT train_id, bench_id, diag, ti,
        |      ti - ROW_NUMBER() OVER (PARTITION BY train_id, bench_id,
        |        diag ORDER BY ti) AS grp FROM m)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT train_id, bench_id,
        |  CAST(MAX(run) + 7 AS BIGINT) AS max_overlap_tokens,
        |  CAST(SUM(run) AS BIGINT) AS n_matched_shingles,
        |  COUNT(*) AS n_runs
        |FROM runs GROUP BY 1, 2""".stripMargin)),

    // trainable language ID, entirely in-engine: per-language top-40
    // char-trigram profiles learned from the TRAIN split, test docs
    // classified by profile-hit count (argmax, ties to the smallest
    // lang) — the train/eval ML loop as three aggregates and one
    // broadcast join (profiles are |langs|·40 rows). Fixture finding:
    // ~15% test accuracy ≈ 5-class chance — corroborating kappa_langid
    // that the synthetic corpus's lang labels are independent of its
    // text; the machinery (not the fixture's signal) is what the oracle
    // certifies.
    Query("chargram_langid", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // input-split rebalance BEFORE the explode (single-row-group
      // corpus file would serialize both gram explodes into one task —
      // the shingleStream lesson, measured round 13: the ~5 s standing
      // bench slot drops to ~1.0 s warm together with the codegen'd
      // position-explode form below, which replaces the interpreted
      // transform-lambda per-gram work)
      val d = Transforms.rebalanceIfNarrow(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), lower(col("text")).as("tx"),
            TextAnalysis.hashSplit(col("text")).as("sp")),
        col("doc_id"))
      // NOT checkpointed (measured round 8): the split filter pushes
      // below the explode, so each side already explodes only its own
      // docs — materializing the full 2.5M-row gram stream costs more
      // than the duplicate plan it would save (4.5 → 5.5 s).
      val grams = d.select(col("doc_id"), col("lang"), col("sp"),
          col("tx"),
          explode(expr("CASE WHEN length(tx) < 3 THEN array() " +
            "ELSE sequence(1, length(tx) - 2) END")).as("__p"))
        .select(col("doc_id"), col("lang"), col("sp"),
          expr("substring(tx, __p, 3)").as("g"))
      val profiles = grams.filter(col("sp") === "train")
        .groupBy(col("lang").as("plang"), col("g"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(Window.partitionBy("plang")
          .orderBy(col("c").desc, col("g").asc)))
        .filter(col("rk") <= 40).select(col("plang"), col("g"))
      val pred = grams.filter(col("sp") === "test")
        .join(broadcast(profiles), Seq("g"))
        .groupBy(col("doc_id"), col("lang"), col("plang"))
        .agg(count(lit(1)).as("score"))
        .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("plang").asc)))
        .filter(col("rk") === 1)
      pred.agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === col("plang"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("acc_permille", expr("1000 * n_correct DIV n_docs"))
    },
      Oracle("""WITH d AS (SELECT doc_id, lang, lower(text) AS tx,
        |    CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train'
        |         WHEN substr(md5(text), 1, 1) < 'e' THEN 'val'
        |         ELSE 'test' END AS sp
        |  FROM documents),
        |g AS (SELECT doc_id, lang, sp,
        |    unnest([substr(tx, i, 3)
        |      for i in range(1, greatest(len(tx) - 1, 1))]) AS g
        |  FROM d),
        |prof AS (SELECT plang, g FROM (
        |    SELECT lang AS plang, g, ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY COUNT(*) DESC, g ASC) AS rk
        |    FROM g WHERE sp = 'train' GROUP BY lang, g)
        |  WHERE rk <= 40),
        |sc AS (SELECT doc_id, lang, plang, COUNT(*) AS score
        |  FROM g JOIN prof USING (g) WHERE sp = 'test' GROUP BY 1, 2, 3),
        |pred AS (SELECT doc_id, lang, plang FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, plang ASC) AS rk FROM sc)
        |  WHERE rk = 1)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN lang = plang THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  CAST(1000 * SUM(CASE WHEN lang = plang THEN 1 ELSE 0 END)
        |    // COUNT(*) AS BIGINT) AS acc_permille
        |FROM pred""".stripMargin)),

    // chance-corrected classifier agreement: Cohen's kappa of the
    // language-ID heuristic against ground truth — exact integers with
    // cleared denominators (kappa = (N·po − Σ m·n) / (N² − Σ m·n), ppm
    // floor), marginal products from the tiny confusion cells.
    Query("kappa_langid", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang").as("t"),
          TextAnalysis.langId(col("text")).as("p"))
      val cells = d.groupBy(col("t"), col("p"))
        .agg(count(lit(1)).as("c"))
      val mt = cells.groupBy(col("t").as("l")).agg(sum(col("c")).as("nt"))
      val mp = cells.groupBy(col("p").as("l")).agg(sum(col("c")).as("np"))
      val pe = mt.join(mp, "l")
        .agg(coalesce(sum(col("nt") * col("np")), lit(0L)).as("pe_n2"))
      cells.agg(sum(col("c")).as("n"),
          sum(when(col("t") === col("p"), col("c")).otherwise(0L))
            .as("po_n"))
        .crossJoin(broadcast(pe))
        .select(col("n"), col("po_n"), col("pe_n2"),
          expr("1000000 * (n * po_n - pe_n2) DIV (n * n - pe_n2)")
            .as("kappa_ppm"))
    },
      Oracle(s"""WITH d AS (SELECT lang AS t, $langIdCaseExpr AS p FROM documents),
        |cells AS (SELECT t, p, COUNT(*) AS c FROM d GROUP BY 1, 2),
        |mt AS (SELECT t AS l, CAST(SUM(c) AS BIGINT) AS nt
        |  FROM cells GROUP BY 1),
        |mp AS (SELECT p AS l, CAST(SUM(c) AS BIGINT) AS np
        |  FROM cells GROUP BY 1),
        |pe AS (SELECT CAST(COALESCE(SUM(nt * np), 0) AS BIGINT) AS pe_n2
        |  FROM mt JOIN mp USING (l)),
        |a AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN t = p THEN c ELSE 0 END) AS BIGINT) AS po_n
        |  FROM cells)
        |SELECT n, po_n, pe_n2,
        |  CAST(1000000 * (n * po_n - pe_n2) // (n * n - pe_n2) AS BIGINT)
        |    AS kappa_ppm
        |FROM a, pe""".stripMargin)),

    // heap-aggregate top-k: top-3 orders per priority via the native
    // bounded-buffer aggregate ([[graft.functions.TopKAgg]]) — the
    // scale-side twin of `topk_per_group`: state is k pairs per group,
    // so the exchange moves buffers, not rows (plan-pinned: no Window,
    // no sort before the shuffle).
    Query("topk_heap", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.TopKAgg.topK(
          cents(col("o_totalprice")), col("o_orderkey"), 3).as("top"))
        .select(col("o_orderpriority"),
          posexplode(col("top")).as(Seq("rk0", "e")))
        .select(col("o_orderpriority"),
          (col("rk0") + 1).cast("long").as("rk"),
          col("e.v").as("total_cents"), col("e.id").as("o_orderkey")),
      Oracle("""SELECT o_orderpriority, CAST(rk AS BIGINT) AS rk,
        |  v AS total_cents, o_orderkey
        |FROM (SELECT o_orderpriority, o_orderkey,
        |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(round(o_totalprice*100, 0) AS BIGINT) DESC,
        |        o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 3""".stripMargin)),

    // null-preserving explode (OUTER semantics): per document, its
    // long tokens (≥ 8 chars) via explode_outer — documents with NO
    // qualifying token keep a row with a NULL token instead of
    // vanishing, the left-join-like generate variant plain explode
    // silently drops.
    Query("outer_explode", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode_outer(expr(
            "filter(split(trim(lower(text)), '\\\\s+'), " +
              "w -> length(w) >= 8)")).as("long_tok"))
        .groupBy(col("doc_id"))
        .agg(count(col("long_tok")).as("n_long"),
          max(col("long_tok")).as("max_tok")),
      Oracle("""SELECT doc_id, COUNT(tok) AS n_long, MAX(tok) AS max_tok
        |FROM (SELECT doc_id, unnest(CASE WHEN len(lt) = 0
        |    THEN [NULL] ELSE lt END) AS tok
        |  FROM (SELECT doc_id, list_filter(
        |      regexp_split_to_array(trim(lower(text)), '\s+'),
        |      w -> len(w) >= 8) AS lt
        |    FROM documents))
        |GROUP BY 1""".stripMargin)),

    // set-operator surface: INTERSECT / EXCEPT (distinct semantics) over
    // per-segment (nation, $2000-balance-band) profiles — Spark plans
    // both as aggregated semi/anti joins; the twin uses the SQL operators
    // directly.
    Query("set_ops", (s, dir) => {
      val c = t(s, dir, "customer")
      val prof = (m: String) => c.filter(col("c_mktsegment") === m)
        .select(col("c_nationkey"),
          expr("CAST(round(c_acctbal * 100, 0) AS BIGINT) DIV 200000")
            .as("bal_band"))
      prof("BUILDING").intersect(prof("MACHINERY"))
        .withColumn("op", lit("intersect"))
        .union(prof("BUILDING").except(prof("MACHINERY"))
          .withColumn("op", lit("except")))
    },
      Oracle("""WITH b AS (SELECT c_nationkey,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) // 200000 AS bal_band
        |  FROM customer WHERE c_mktsegment = 'BUILDING'),
        |m AS (SELECT c_nationkey,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) // 200000 AS bal_band
        |  FROM customer WHERE c_mktsegment = 'MACHINERY')
        |SELECT c_nationkey, bal_band, 'intersect' AS op
        |  FROM (SELECT * FROM b INTERSECT SELECT * FROM m)
        |UNION ALL
        |SELECT c_nationkey, bal_band, 'except' AS op
        |  FROM (SELECT * FROM b EXCEPT SELECT * FROM m)""".stripMargin)),

    // l-diversity census — kanon_risk's sibling on the SENSITIVE axis:
    // within each (nation, segment) quasi-identifier group, how many
    // distinct $1000 balance bands appear; groups with l < 3 would let an
    // attacker who locates a person's group infer their balance band.
    Query("l_diversity", (s, dir) =>
      t(s, dir, "customer")
        .withColumn("bal_band",
          expr("CAST(round(c_acctbal * 100, 0) AS BIGINT) DIV 100000"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(countDistinct(col("bal_band")).as("__l"),
          count(lit(1)).as("__n"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("__l") < 3, 1L).otherwise(0L)).as("n_low_l"),
          sum(when(col("__l") < 3, col("__n")).otherwise(0L))
            .as("rows_at_risk"),
          min(col("__l")).as("min_l")),
      Oracle("""WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    COUNT(DISTINCT CAST(round(c_acctbal * 100, 0) AS BIGINT)
        |      // 100000) AS l,
        |    COUNT(*) AS cnt
        |  FROM customer GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_groups,
        |  CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_l,
        |  CAST(SUM(CASE WHEN l < 3 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  MIN(l) AS min_l
        |FROM g""".stripMargin)),

    // greedy maximum-coverage document selection (Nemhauser-Wolsey-Fisher
    // greedy): the 4 documents that together cover the most distinct word
    // BIGRAMS (the fixture's word vocabulary is 31 tokens — one doc
    // saturates it; bigram sets still discriminate), with each pick's
    // marginal gain ([[TextAnalysis.greedyCoverage]] — tokenize once, K
    // bounded rounds of broadcast anti-join + count, only the argmax row
    // reaches the driver; oracle = the rounds unrolled as CTEs).
    Query("coverage_select", (s, dir) =>
      TextAnalysis.greedyCoverage(t(s, dir, "documents"),
        "doc_id", "text", k = 4, gram = 2),
      Oracle("""WITH sp AS (SELECT doc_id AS id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS a
        |  FROM documents),
        |tok AS (SELECT id, unnest(list_distinct(
        |    [a[i]||' '||a[i+1] for i in range(1, greatest(len(a), 1))]))
        |    AS w
        |  FROM sp),
        |w1 AS (SELECT id, COUNT(*) AS n FROM tok GROUP BY 1
        |  ORDER BY n DESC, id ASC LIMIT 1),
        |c1 AS (SELECT DISTINCT w FROM tok WHERE id IN (SELECT id FROM w1)),
        |w2 AS (SELECT id, COUNT(*) AS n FROM tok
        |  WHERE w NOT IN (SELECT w FROM c1) GROUP BY 1
        |  ORDER BY n DESC, id ASC LIMIT 1),
        |c2 AS (SELECT w FROM c1 UNION
        |  SELECT w FROM tok WHERE id IN (SELECT id FROM w2)),
        |w3 AS (SELECT id, COUNT(*) AS n FROM tok
        |  WHERE w NOT IN (SELECT w FROM c2) GROUP BY 1
        |  ORDER BY n DESC, id ASC LIMIT 1),
        |c3 AS (SELECT w FROM c2 UNION
        |  SELECT w FROM tok WHERE id IN (SELECT id FROM w3)),
        |w4 AS (SELECT id, COUNT(*) AS n FROM tok
        |  WHERE w NOT IN (SELECT w FROM c3) GROUP BY 1
        |  ORDER BY n DESC, id ASC LIMIT 1)
        |SELECT 1 AS round, id AS doc_id, n AS gain FROM w1
        |UNION ALL SELECT 2, id, n FROM w2
        |UNION ALL SELECT 3, id, n FROM w3
        |UNION ALL SELECT 4, id, n FROM w4""".stripMargin)),

    // most-frequent-value imputation dictionary: per nation the modal
    // market segment (counts collapse first; ties to the smallest
    // segment so the dictionary is rerun-stable).
    Query("group_mode", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("__rn", row_number().over(Window
          .partitionBy("c_nationkey")
          .orderBy(col("n").desc, col("c_mktsegment").asc)))
        .filter(col("__rn") === 1)
        .select(col("c_nationkey"), col("c_mktsegment").as("mode_segment"),
          col("n"))
    },
      Oracle("""SELECT c_nationkey, c_mktsegment AS mode_segment, n FROM (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY COUNT(*) DESC, c_mktsegment ASC) AS rn
        |  FROM customer GROUP BY 1, 2)
        |WHERE rn = 1""".stripMargin)),

    // pairs → groups: the clustering step that turns "a dups b" pair
    // output into keep/drop decisions (cluster_id = canonical survivor).
    Query("dedup_clusters", (s, dir) => docDupGraph(s, dir)._2,
      Oracle(
        // same pair pipeline as dedup_ngram_jaccard, then connected components
        // via a recursive CTE: reach(id, lab) = lab can reach id over the
        // symmetrized edge set; min reachable label = component minimum.
        """WITH RECURSIVE sh AS (
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
          |edges AS (SELECT a AS src, b AS dst FROM pr
          |          UNION SELECT b, a FROM pr),
          |reach(id, lab) AS (
          |  SELECT src, src FROM edges
          |  UNION
          |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id)
          |SELECT CAST(id AS BIGINT) AS id,
          |  CAST(MIN(lab) AS BIGINT) AS cluster_id
          |FROM reach GROUP BY id""".stripMargin)),

    // cross-modal dedup agreement: the TEXT near-dup tier (ngram-Jaccard)
    // vs the EMBEDDING near-dup tier (bucketed cosine) over the SAME id
    // space — pair-set overlap counts + Jaccard permille. The census a
    // pipeline runs before trusting either signal alone: both-tier pairs
    // are high-precision merges, single-tier pairs are the review queue.
    Query("dedup_agreement", (s, dir) => {
      val textPairs = docDupGraph(s, dir)._1
        .select(col("a"), col("b"), lit(1L).as("tp"))
      val embPairs = Dedup.embeddingCosineLsh(
          embeddings(s, dir),
          "vec", "id", thresholdPermille = 400)
        .select(col("a"), col("b"), lit(1L).as("ep"))
      textPairs.join(embPairs, Seq("a", "b"), "full_outer")
        .agg(sum(coalesce(col("tp"), lit(0L))).as("n_text_pairs"),
          sum(coalesce(col("ep"), lit(0L))).as("n_embed_pairs"),
          sum(when(col("tp").isNotNull && col("ep").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          count(lit(1)).as("n_union"))
        .withColumn("agree_permille",
          expr("1000 * n_both DIV nullif(n_union, 0)"))
    },
      Oracle(dedupAgreementSql)),

    // dedup×split interaction — the LEAKAGE check that motivates
    // dedup-before-split: near-dup clusters whose members land in
    // DIFFERENT content-hash splits leak evaluation signal into
    // training. Reports clusters spanning >1 split and the documents at
    // risk (cluster map ⋈ split labels, two tiny aggregates).
    Query("cluster_leakage", (s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = docDupGraph(s, dir)._2
      // inner join: only clustered (near-dup) docs can leak
      val labeled = docs
        .select(col("doc_id"), TextAnalysis.hashSplit(col("text")).as("sp"))
        .join(clusters, col("doc_id") === col("id"))
        .select(col("cluster_id"), col("sp"))
      labeled.groupBy(col("cluster_id"))
        .agg(countDistinct(col("sp")).as("n_splits"),
          count(lit(1)).as("n_docs"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("n_splits") > 1, 1L).otherwise(0L))
            .as("n_leaky_clusters"),
          sum(when(col("n_splits") > 1, col("n_docs")).otherwise(0L))
            .as("docs_at_risk"))
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
        |       WHERE CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT)
        |         >= 100),
        |edges AS (SELECT a AS src, b AS dst FROM pr
        |          UNION SELECT b, a FROM pr),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        |cl AS (SELECT CAST(id AS BIGINT) AS id,
        |    CAST(MIN(lab) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY id),
        |lab AS (SELECT cl.cluster_id,
        |    CASE WHEN substr(md5(d.text), 1, 1) < 'c' THEN 'train'
        |         WHEN substr(md5(d.text), 1, 1) < 'e' THEN 'val'
        |         ELSE 'test' END AS sp
        |  FROM documents d JOIN cl ON d.doc_id = cl.id),
        |g AS (SELECT cluster_id, COUNT(DISTINCT sp) AS n_splits,
        |    COUNT(*) AS n_docs
        |  FROM lab GROUP BY 1)
        |SELECT COUNT(*) AS n_clusters,
        |  CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaky_clusters,
        |  CAST(SUM(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END)
        |    AS BIGINT) AS docs_at_risk
        |FROM g""".stripMargin)),

    // dedup-pipeline quality: pairwise precision/recall of the
    // ngram-Jaccard cluster pipeline against EXACT-duplicate truth, by
    // contingency pair-counting (Σ C(n,2) per cluster / truth-group /
    // cell) — no pair set is ever materialized, so the metric costs one
    // label join + three tiny aggregates on top of the pipeline.
    // Precision < 1000 is the expected reading: near-dup clusters
    // legitimately contain non-identical members.
    Query("cluster_prf", (s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = docDupGraph(s, dir)._2
      val lab = docs.select(col("doc_id"), md5(col("text")).as("tkey"))
        .join(clusters, col("doc_id") === col("id"), "left")
        .select(col("tkey"),
          coalesce(col("cluster_id"), col("doc_id")).as("ckey"))
      val cells = lab.groupBy(col("ckey"), col("tkey"))
        .agg(count(lit(1)).as("nij"))
      val pred = cells.groupBy(col("ckey")).agg(sum(col("nij")).as("a"))
        .agg(sum(expr("a * (a - 1) DIV 2")).as("pred_pairs"))
      val truth = lab.groupBy(col("tkey")).agg(count(lit(1)).as("b"))
        .agg(sum(expr("b * (b - 1) DIV 2")).as("truth_pairs"))
      cells.agg(sum(expr("nij * (nij - 1) DIV 2")).as("both_pairs"))
        .crossJoin(broadcast(pred)).crossJoin(broadcast(truth))
        .select(col("both_pairs"), col("pred_pairs"), col("truth_pairs"),
          expr("1000 * both_pairs DIV nullif(pred_pairs, 0)")
            .as("precision_permille"),
          expr("1000 * both_pairs DIV nullif(truth_pairs, 0)")
            .as("recall_permille"))
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
        |edges AS (SELECT a AS src, b AS dst FROM pr
        |          UNION SELECT b, a FROM pr),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        |cl AS (SELECT CAST(id AS BIGINT) AS id,
        |    CAST(MIN(lab) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY id),
        |lab2 AS (SELECT md5(d.text) AS tkey,
        |    COALESCE(cl.cluster_id, d.doc_id) AS ckey
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.id),
        |cells AS (SELECT ckey, tkey, COUNT(*) AS nij
        |  FROM lab2 GROUP BY 1, 2),
        |pp AS (SELECT CAST(SUM(a * (a - 1) // 2) AS BIGINT) AS pred_pairs
        |  FROM (SELECT SUM(nij) AS a FROM cells GROUP BY ckey)),
        |tp AS (SELECT CAST(SUM(b * (b - 1) // 2) AS BIGINT) AS truth_pairs
        |  FROM (SELECT COUNT(*) AS b FROM lab2 GROUP BY tkey)),
        |bp AS (SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT)
        |    AS both_pairs FROM cells)
        |SELECT both_pairs, pred_pairs, truth_pairs,
        |  CAST(1000 * both_pairs // NULLIF(pred_pairs, 0) AS BIGINT)
        |    AS precision_permille,
        |  CAST(1000 * both_pairs // NULLIF(truth_pairs, 0) AS BIGINT)
        |    AS recall_permille
        |FROM bp, pp, tp""".stripMargin)),

    // golden-record fusion: the field-merge step AFTER clustering — per
    // duplicate cluster, the canonical id, the best-quality member's
    // source (deterministic ties via the (q, −id) struct order), and the
    // cluster's pooled stats. The MDM composition of the dedup and
    // curation families.
    Query("golden_record", (s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = docDupGraph(s, dir)._2
      docs.join(clusters, docs("doc_id") === clusters("id"))
        .select(col("cluster_id"), col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("nt"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          min(col("doc_id")).as("canonical_id"),
          max(col("q")).as("best_quality"),
          max(struct(col("q"), (-col("doc_id")).as("negid"),
            col("source"))).getField("source").as("best_source"),
          sum(col("nt")).as("total_tokens"))
    },
      Oracle(s"""WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(
        |    [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |     for i in range(1, greatest(len(w)-3, 1))]) AS shs
        |  FROM (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\\s+') AS w
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
        |m AS (SELECT cl.cluster_id, d.doc_id, d.source, $qualityExpr AS q,
        |    CAST(len(regexp_split_to_array(trim(d.text), '\\s+'))
        |      AS BIGINT) AS nt
        |  FROM cl JOIN documents d ON d.doc_id = cl.id),
        |best AS (SELECT cluster_id, source AS best_source FROM (
        |    SELECT cluster_id, source, row_number() OVER (
        |      PARTITION BY cluster_id ORDER BY q DESC, doc_id ASC) AS rn
        |    FROM m) WHERE rn = 1)
        |SELECT m.cluster_id, COUNT(*) AS n_members,
        |  MIN(m.doc_id) AS canonical_id, MAX(m.q) AS best_quality,
        |  b.best_source, CAST(SUM(m.nt) AS BIGINT) AS total_tokens
        |FROM m JOIN best b USING (cluster_id)
        |GROUP BY m.cluster_id, b.best_source""".stripMargin)),

    // HLL set-algebra tier: approximate per-pair audience overlap between
    // event types via inclusion–exclusion over mergeable sketches
    // (|A∩B| ≈ |A| + |B| − |A∪B|) — the sketch-only path to overlap
    // matrices at 100 TB. Rows-only (sketch estimates; exact-tier parity
    // and error bounds in OperatorsSpec).
    Query("hll_intersect", (s, dir) => {
      val sk = events(s, dir).groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      sk.as("x").join(sk.as("y"),
          col("x.event_type") < col("y.event_type"))
        .select(col("x.event_type").as("et_a"),
          col("y.event_type").as("et_b"),
          (expr("hll_sketch_estimate(x.sk)")
            + expr("hll_sketch_estimate(y.sk)")
            - expr("hll_sketch_estimate(hll_union(x.sk, y.sk))"))
            .as("est_common_users"))
    },
      NoOracle("pairwise audience overlap by inclusion–exclusion " +
      "over DataSketches HLL sketches — the estimates are sketch-valued " +
      "with no DuckDB twin (same argument as hll_rollup/distinct_approx). " +
      "OperatorsSpec pins every pair's estimate within 5% of the exact " +
      "distinct-intersection tier computed by join on the same fixture.")),

    // asymmetric containment pairs: quote/subset detection with a low bar
    // (≥300 permille either direction exercises both the filter's OR and
    // real data) — [[Dedup.containmentPairs]], same reused-exchange
    // inverted index as the Jaccard tier.
    Query("dedup_containment", (s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
        n = 5, thresholdPermille = 300),
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
        |      GROUP BY 1, 2, 3, 4)
        |SELECT a, b,
        |  CAST(round(common*1000.0/na, 0) AS BIGINT) AS cont_a_permille,
        |  CAST(round(common*1000.0/nb, 0) AS BIGINT) AS cont_b_permille
        |FROM p
        |WHERE CAST(round(common*1000.0/na, 0) AS BIGINT) >= 300
        |   OR CAST(round(common*1000.0/nb, 0) AS BIGINT) >= 300""".stripMargin)),

    // benchmark decontamination: training docs sharing ≥1 distinct word
    // 8-gram with the held-out 'test' split of the same corpus
    // ([[TextAnalysis.hashSplit]] is the split authority on both sides).
    // Output = the contamination report a curation pipeline acts on.
    Query("decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val split = TextAnalysis.hashSplit(col("text"))
      Dedup.benchmarkContamination(
        docs.filter(split === "train"), docs.filter(split === "test"),
        "text", "doc_id", n = 8)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_bench_docs"))
    },
      Oracle(
        // hash_split CASE so engine and oracle agree on train/test membership
        """WITH sp AS (SELECT doc_id,
          |    CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train'
          |         WHEN substr(md5(text), 1, 1) < 'e' THEN 'val'
          |         ELSE 'test' END AS split,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |g AS (SELECT doc_id, split, unnest(list_distinct(
          |    [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
          |      ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]
          |     for i in range(1, greatest(len(w)-6, 1))])) AS s
          |  FROM sp)
          |SELECT t.doc_id AS doc_id, COUNT(DISTINCT t.s) AS n_grams,
          |  COUNT(DISTINCT b.doc_id) AS n_bench_docs
          |FROM g t JOIN g b ON t.s = b.s
          |  AND t.split = 'train' AND b.split = 'test'
          |GROUP BY 1""".stripMargin)),

    Query("dedup_minhash", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = Dedup.minhashSignature(docs, "text", "doc_id")
      Dedup.minhashLshCandidates(sigs)
    },
      Oracle(XxhOracleSql.dedupMinhashSql)),

    Query("dedup_simhash", (s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "text", "doc_id"),
      Oracle(XxhOracleSql.dedupSimhashSql)),

    // banded-Hamming SimHash pair tier: the text-side sibling of
    // mm_phash_pairs — 8-band pigeonhole join over the 64-bit simhash
    // (lossless for d ≤ 7), exact XOR-popcount verify inside the join.
    // Rows-only (xxhash-based hashes, same reason as dedup_simhash);
    // DedupSimilaritySpec pins parity with the direct all-pairs form.
    Query("simhash_pairs", (s, dir) => {
      val hashes = Dedup.simhash(t(s, dir, "documents"), "text", "doc_id")
        .select(col("id").as("doc_id"),
          lpad(hex(col("simhash")), 16, "0").as("hx"))
      Multimodal.ahashHammingPairs(hashes, "doc_id", "hx", maxDist = 4)
    },
      Oracle(XxhOracleSql.simhashPairsSql(maxDist = 4))),

    Query("dedup_embed_cosine", (s, dir) =>
      Dedup.embeddingCosinePairs(
        embeddings(s, dir, "label").filter(col("id") % 10 === 0),
        "vec", "id", thresholdPermille = 300)
        .select(col("a"), col("b"), col("cos_permille")),
      Oracle("""WITH v AS (SELECT vec_id AS id, label,
        |   CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |   WHERE vec_id % 10 = 0)
        |SELECT x.id AS a, y.id AS b,
        |  CAST(round(list_dot_product(x.e, y.e) /
        |    (sqrt(list_dot_product(x.e, x.e)) *
        |     sqrt(list_dot_product(y.e, y.e))) * 1000.0, 0) AS BIGINT)
        |    AS cos_permille
        |FROM v x JOIN v y ON x.id < y.id
        |WHERE CAST(round(list_dot_product(x.e, y.e) /
        |    (sqrt(list_dot_product(x.e, x.e)) *
        |     sqrt(list_dot_product(y.e, y.e))) * 1000.0, 0) AS BIGINT) >= 300""".stripMargin)),

    // the SCALE path for cosine dedup: SRP-LSH bucket → in-bucket exact
    // cosine (equi-join on bucket, never all-pairs). Same input slice and
    // threshold as dedup_embed_cosine, whose output is its superset.
    Query("dedup_embed_lsh", (s, dir) =>
      Dedup.embeddingCosineLsh(
        embeddings(s, dir).filter(col("id") % 10 === 0),
        "vec", "id", thresholdPermille = 300),
      Oracle(dedupEmbedLshSql)),

    // SemDeDup (Abbas et al. 2023): semantic dedup by cell assignment +
    // within-cell cosine pruning — the embedding-space sibling of the
    // text near-dup tiers, and the composition the paper runs at
    // web scale: pairwise cosine only ever inside a cell
    // ([[Similarity.semDedup]]; first in-cell member of a neighborhood
    // survives, deterministic centroids/tie-breaks throughout).
    Query("semdedup", (s, dir) =>
      Similarity.semDedup(
        embeddings(s, dir),
        nCells = 16, thresholdPermille = 350),
      Oracle(
        // same deterministic-centroid/argmax CTEs as ann_ivf; pruned =
        // EXISTS an earlier in-cell member at/above the rounded-permille
        // cosine threshold (the engine's left-semi, as a correlated EXISTS).
        """WITH base AS (SELECT vec_id AS id,
          |   CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |cent AS (SELECT id AS cid, v AS cv, list_dot_product(v, v) AS cn2
          |   FROM base ORDER BY id LIMIT 16),
          |corp AS (SELECT id AS nid, v AS nv, list_dot_product(v, v) AS nn2
          |   FROM base),
          |cells AS (SELECT nid, nv, nn2, cid FROM (
          |  SELECT nid, nv, nn2, cid, row_number() OVER (PARTITION BY nid
          |    ORDER BY CAST(round(list_dot_product(nv, cv) /
          |      (sqrt(nn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC,
          |      cid ASC) AS rn
          |  FROM corp CROSS JOIN cent) WHERE rn = 1)
          |SELECT x.nid AS id, x.cid,
          |  CAST(EXISTS (SELECT 1 FROM cells y WHERE y.cid = x.cid
          |    AND y.nid < x.nid
          |    AND CAST(round(list_dot_product(x.nv, y.nv) /
          |      (sqrt(x.nn2) * sqrt(y.nn2)) * 1000.0, 0) AS BIGINT) >= 350)
          |    AS BIGINT) AS pruned
          |FROM cells x""".stripMargin)),

    // LSH banding design report: for each OBSERVED near-dup pair, the
    // probability a (r rows × b bands) MinHash scheme surfaces it as a
    // candidate — 1 − (1 − s^r)^b — evaluated in renormalizing
    // fixed-point permille (every step is x → (x·x) DIV 1000, so engine
    // and twin share every rounding), bucketed by similarity decile.
    // The design-time S-curve a pipeline reads off to pick its banding
    // (k = 128 signature budget: r×b ∈ {2×64, 4×32, 8×16, 16×8}) before
    // committing a 100 TB signature pass; rides the memoized pair graph.
    Query("lsh_tuning", (s, dir) => {
      def scurve(df: DataFrame, sr: String, bLog: Int, out: String)
          : DataFrame = {
        var d = df.withColumn(out, expr(s"1000 - $sr"))
        for (_ <- 1 to bLog)
          d = d.withColumn(out, expr(s"($out * $out) DIV 1000"))
        d.withColumn(out, expr(s"1000 - $out"))
      }
      val base = docDupGraph(s, dir)._1
        .select(expr("jacc_permille DIV 100").as("decile"),
          col("jacc_permille").as("s1"))
        .withColumn("s2", expr("(s1 * s1) DIV 1000"))
        .withColumn("s4", expr("(s2 * s2) DIV 1000"))
        .withColumn("s8", expr("(s4 * s4) DIV 1000"))
        .withColumn("s16", expr("(s8 * s8) DIV 1000"))
      val curved = scurve(scurve(scurve(scurve(base,
        "s2", 6, "p_r2_b64"), "s4", 5, "p_r4_b32"),
        "s8", 4, "p_r8_b16"), "s16", 3, "p_r16_b8")
      curved.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(p_r2_b64) DIV count(1)").as("cand_r2_b64_pm"),
          expr("sum(p_r4_b32) DIV count(1)").as("cand_r4_b32_pm"),
          expr("sum(p_r8_b16) DIV count(1)").as("cand_r8_b16_pm"),
          expr("sum(p_r16_b8) DIV count(1)").as("cand_r16_b8_pm"))
    },
      Oracle(
        // same jaccard-pair CTEs, then the renormalizing fixed-point S-curve
        // as MATERIALIZED single-expression stage chains (every squaring is
        // (x·x)//1000, mirroring the engine's DIV schedule; configs freeze
        // at their band count: r16×b8 after 3 squarings, r8×b16 after 4,
        // r4×b32 after 5, r2×b64 after 6).
        """WITH sh AS (
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
          |j AS (SELECT CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT)
          |        AS s1 FROM p
          |      WHERE CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT)
          |        >= 100),
          |t0 AS MATERIALIZED (SELECT (s1 // 100) AS decile,
          |  ((s1 * s1) // 1000) AS s2 FROM j),
          |t1 AS MATERIALIZED (SELECT decile, s2,
          |  ((s2 * s2) // 1000) AS s4 FROM t0),
          |t2 AS MATERIALIZED (SELECT decile, s2, s4,
          |  ((s4 * s4) // 1000) AS s8 FROM t1),
          |t3 AS MATERIALIZED (SELECT decile, s2, s4, s8,
          |  ((s8 * s8) // 1000) AS s16 FROM t2),
          |u0 AS MATERIALIZED (SELECT decile, (1000 - s2) AS qa,
          |  (1000 - s4) AS qb, (1000 - s8) AS qc, (1000 - s16) AS qd FROM t3),
          |u1 AS MATERIALIZED (SELECT decile, ((qa*qa) // 1000) AS qa,
          |  ((qb*qb) // 1000) AS qb, ((qc*qc) // 1000) AS qc,
          |  ((qd*qd) // 1000) AS qd FROM u0),
          |u2 AS MATERIALIZED (SELECT decile, ((qa*qa) // 1000) AS qa,
          |  ((qb*qb) // 1000) AS qb, ((qc*qc) // 1000) AS qc,
          |  ((qd*qd) // 1000) AS qd FROM u1),
          |u3 AS MATERIALIZED (SELECT decile, ((qa*qa) // 1000) AS qa,
          |  ((qb*qb) // 1000) AS qb, ((qc*qc) // 1000) AS qc,
          |  ((qd*qd) // 1000) AS qd FROM u2),
          |u4 AS MATERIALIZED (SELECT decile, ((qa*qa) // 1000) AS qa,
          |  ((qb*qb) // 1000) AS qb, ((qc*qc) // 1000) AS qc, qd FROM u3),
          |u5 AS MATERIALIZED (SELECT decile, ((qa*qa) // 1000) AS qa,
          |  ((qb*qb) // 1000) AS qb, qc, qd FROM u4),
          |u6 AS MATERIALIZED (SELECT decile, ((qa*qa) // 1000) AS qa,
          |  qb, qc, qd FROM u5)
          |SELECT decile, COUNT(*) AS n_pairs,
          |  CAST(SUM(1000 - qa) // COUNT(*) AS BIGINT) AS cand_r2_b64_pm,
          |  CAST(SUM(1000 - qb) // COUNT(*) AS BIGINT) AS cand_r4_b32_pm,
          |  CAST(SUM(1000 - qc) // COUNT(*) AS BIGINT) AS cand_r8_b16_pm,
          |  CAST(SUM(1000 - qd) // COUNT(*) AS BIGINT) AS cand_r16_b8_pm
          |FROM u6 GROUP BY decile""".stripMargin)),

    // entity-resolution fuzzy matching: block on p_brand (bounded blocks),
    // verify candidates with exact Levenshtein — the record-linkage
    // block-then-verify shape; a 10% deterministic key sample keeps the
    // per-block pair volume proportional at every scale factor, and
    // maxDist=4 is genuinely selective (keeps ~13% of candidates).
    Query("fuzzy_pairs", (s, dir) =>
      Dedup.blockedEditDistance(
        t(s, dir, "part").filter(col("p_partkey") % 10 === 0)
          .select(col("p_brand"), col("p_name"), col("p_partkey")),
        "p_brand", "p_name", "p_partkey", maxDist = 4),
      Oracle("""SELECT x.p_partkey AS a, y.p_partkey AS b,
        | CAST(levenshtein(x.p_name, y.p_name) AS BIGINT) AS edit_dist
        | FROM part x JOIN part y
        |   ON x.p_brand = y.p_brand AND x.p_partkey < y.p_partkey
        | WHERE x.p_partkey % 10 = 0 AND y.p_partkey % 10 = 0
        |   AND levenshtein(x.p_name, y.p_name) <= 4""".stripMargin)),

    // blocking-strategy evaluation: recall of the brand-blocked fuzzy
    // matcher against a SAMPLED ground truth — the 128 smallest-keep-
    // hash anchor rows crossed against the slice (deterministic, linear
    // once the anchor cap saturates; the exhaustive all-pairs truth
    // cross was the one query the 100× rung had to exclude). The
    // estimate carries an exact-integer 1/√m confidence half-width;
    // on a slice no larger than the anchor cap it IS the exhaustive
    // recall (pinned in DedupSimilaritySpec). Output: sampled truth
    // size, blocked-found size among them, recall permille, half-width
    // permille — the numbers that justify (or indict) the blocking key
    // ([[Dedup.blockedRecallSampled]]).
    Query("blocking_recall", (s, dir) =>
      Dedup.blockedRecallSampled(
        t(s, dir, "part").filter(col("p_partkey") % 10 === 0)
          .select(col("p_brand"), col("p_name"), col("p_partkey")),
        "p_brand", "p_name", "p_partkey", maxDist = 4, nAnchors = 128),
      Oracle(
        // per-token integer-micro rounding makes the doc sum order-free, so
        // the only cross-engine float ops are ln() on identical integer
        // ratios and two end divisions — ulp drift cannot cross a boundary.
        // sampled truth tier: anchors = the 128 smallest Knuth keep-hashes
        // (id salt-folded below 2^31 first so the product stays under 2^63
        // in BOTH engines — ANSI Spark throws on Long overflow — then
        // ·2654435761 mod 10^6; tie-broken by id), each crossed against the
        // whole slice; the integer-only 1/sqrt(m) half-width is
        // deterministic across engines (IEEE sqrt of an exact integer is
        // correctly rounded, floor then matches bit-for-bit)
        s"""WITH sl AS (SELECT p_brand, p_name, p_partkey FROM part
          |  WHERE p_partkey % 10 = 0),
          |h AS (SELECT p_name AS s, p_partkey AS id,
          |  ${XxhOracleSql.knuthKeepPpm("p_partkey")} AS kh FROM sl),
          |anch AS (SELECT s, id FROM h ORDER BY kh, id LIMIT 128),
          |pairs AS (SELECT DISTINCT
          |    least(x.id, y.id) AS a, greatest(x.id, y.id) AS b,
          |    CASE WHEN x.id < y.id THEN x.s ELSE y.s END AS sa,
          |    CASE WHEN x.id < y.id THEN y.s ELSE x.s END AS sb
          |  FROM anch x JOIN h y ON x.id <> y.id),
          |truth AS (SELECT a, b FROM pairs
          |  WHERE levenshtein(sa, sb) <= 4),
          |found AS (SELECT x.p_partkey AS a, y.p_partkey AS b
          |  FROM sl x JOIN sl y ON x.p_brand = y.p_brand
          |    AND x.p_partkey < y.p_partkey
          |  WHERE levenshtein(x.p_name, y.p_name) <= 4),
          |n1 AS (SELECT COUNT(*) AS n_truth FROM truth),
          |n2 AS (SELECT COUNT(*) AS n_found FROM truth t
          |  WHERE EXISTS (SELECT 1 FROM found f
          |    WHERE f.a = t.a AND f.b = t.b))
          |SELECT n_truth, n_found,
          |  CASE WHEN n_truth = 0 THEN 1000
          |       ELSE (1000 * n_found) // n_truth END AS recall_permille,
          |  CASE WHEN n_truth = 0 THEN 1000
          |       ELSE least(1000, 1000 // CAST(floor(sqrt(n_truth))
          |         AS BIGINT)) END AS ci_halfwidth_permille
          |FROM n1 CROSS JOIN n2""".stripMargin))
  )

  /** Oracle twin of `bpe_apply`: the 10-iteration trainer replay (the
    * `bpe_merges` construction extended past 3 rounds) feeding a
    * regex-fold application. Each word's symbols are DOUBLE-space joined;
    * one global `regexp_replace('( |^)X  Y( |$)', '\\1XY\\2')` per merge
    * rank IS the encoder's left fold: the match consumes one boundary
    * space and re-emits it, so the following adjacent pair still sees its
    * leading boundary (single-space joining would block every second
    * merge in a chain). Trainer pairs never have X = Y (self-pairs are
    * excluded), so marked merges can't overlap. Charset safety: fixture
    * tokens are [a-z0-9] (pinned in XxhOracleInvariantsSpec), so merge
    * symbols need no regex escaping. */
  private def bpeApplyOracleSql: String = bpeOracleWith +
    "\nSELECT nb.doc_id, nb.n_bpe, nw.n_ws FROM nb JOIN nw USING (doc_id)"

  /** Oracle twin of `bpe_fertility`: the same trainer+encoder replay
    * aggregated per language — fertility = BPE tokens per whitespace
    * word, integer permille. */
  private def bpeFertilityOracleSql: String = bpeOracleWith +
    """
    |SELECT d.lang, CAST(SUM(nb.n_bpe) AS BIGINT) AS n_bpe,
    |  CAST(SUM(nw.n_ws) AS BIGINT) AS n_ws,
    |  CAST((1000 * SUM(nb.n_bpe)) // SUM(nw.n_ws) AS BIGINT)
    |    AS fertility_permille
    |FROM nb JOIN nw USING (doc_id) JOIN documents d USING (doc_id)
    |GROUP BY 1""".stripMargin

  private def bpeOracleWith: String = {
    val iters = 10
    val ctes = Seq.newBuilder[String]
    ctes += """wrd AS MATERIALIZED (SELECT w, COUNT(*) AS freq FROM (
      |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
      |      AS w FROM documents) t WHERE w <> '' GROUP BY 1)""".stripMargin
    ctes += """t1 AS MATERIALIZED (SELECT w AS word, freq,
      |    unnest(string_split(w, '')) AS sym,
      |    generate_subscripts(string_split(w, ''), 1) AS pos FROM wrd)""".stripMargin
    for (i <- 1 to iters) {
      ctes += s"""p$i AS MATERIALIZED (SELECT x.sym AS px, y.sym AS py,
        |    SUM(x.freq) AS cnt
        |  FROM t$i x JOIN t$i y ON x.word = y.word AND y.pos = x.pos + 1
        |  WHERE x.sym <> y.sym GROUP BY 1, 2)""".stripMargin
      ctes += s"""b$i AS MATERIALIZED (SELECT px, py, cnt FROM p$i
        |  ORDER BY cnt DESC, px, py LIMIT 1)""".stripMargin
      if (i < iters) {
        ctes += s"""m$i AS MATERIALIZED (SELECT word, freq, pos, sym, COALESCE(
          |    sym = (SELECT px FROM b$i) AND
          |    lead(sym) OVER (PARTITION BY word ORDER BY pos)
          |      = (SELECT py FROM b$i), false) AS st FROM t$i)""".stripMargin
        ctes += s"""m${i}b AS MATERIALIZED (SELECT word, freq, pos, sym, st,
          |    COALESCE(lag(st) OVER (PARTITION BY word ORDER BY pos),
          |      false) AS pst
          |  FROM m$i)""".stripMargin
        ctes += s"""s${i + 1} AS MATERIALIZED (SELECT word, freq,
          |    string_agg(CASE WHEN st
          |      THEN (SELECT px FROM b$i) || (SELECT py FROM b$i)
          |      ELSE sym END, ' ' ORDER BY pos) AS seq
          |  FROM m${i}b WHERE NOT pst GROUP BY 1, 2)""".stripMargin
        ctes += s"""t${i + 1} AS MATERIALIZED (SELECT word, freq,
          |    unnest(string_split(seq, ' ')) AS sym,
          |    generate_subscripts(string_split(seq, ' '), 1) AS pos
          |  FROM s${i + 1})""".stripMargin
      }
    }
    ctes += """dwc AS MATERIALIZED (SELECT doc_id, w, COUNT(*) AS cnt FROM (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |  FROM documents) t WHERE w <> '' GROUP BY 1, 2)""".stripMargin
    ctes += """a0 AS MATERIALIZED (SELECT w,
      |  array_to_string(string_split(w, ''), '  ') AS s
      |  FROM (SELECT DISTINCT w FROM dwc) d)""".stripMargin
    for (i <- 1 to iters)
      ctes += s"""a$i AS MATERIALIZED (SELECT w,
        |  regexp_replace(s,
        |    '( |^)' || (SELECT px FROM b$i) || '  '
        |      || (SELECT py FROM b$i) || '( |$$)',
        |    '\\1' || (SELECT px FROM b$i) || (SELECT py FROM b$i) || '\\2',
        |    'g') AS s FROM a${i - 1})""".stripMargin
    ctes += s"""wsy AS MATERIALIZED (SELECT w,
      |  (length(s) - length(replace(s, ' ', ''))) // 2 + 1 AS syms
      |  FROM a$iters)""".stripMargin
    ctes += """nb AS (SELECT d.doc_id,
      |  CAST(SUM(d.cnt * y.syms) AS BIGINT) AS n_bpe
      |  FROM dwc d JOIN wsy y USING (w) GROUP BY 1)""".stripMargin
    ctes += """nw AS (SELECT doc_id,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws
      |  FROM documents)""".stripMargin
    "WITH " + ctes.result().mkString(",\n")
  }

  /** DuckDB oracle for `dedup_embed_lsh` ([[Dedup.embeddingCosineLsh]]):
    * same-bucket pairs only, exact cosine ≥ threshold. */
  private def dedupEmbedLshSql: String =
    s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
      |   ${bucketExpr("CAST(embedding AS DOUBLE[])")} AS bucket
      |   FROM embeddings WHERE vec_id % 10 = 0)
      |SELECT x.id AS a, y.id AS b,
      |  CAST(round(list_dot_product(x.e, y.e) /
      |    (sqrt(list_dot_product(x.e, x.e)) *
      |     sqrt(list_dot_product(y.e, y.e))) * 1000.0, 0) AS BIGINT)
      |    AS cos_permille
      |FROM v x JOIN v y ON x.bucket = y.bucket AND x.id < y.id
      |WHERE CAST(round(list_dot_product(x.e, y.e) /
      |    (sqrt(list_dot_product(x.e, x.e)) *
      |     sqrt(list_dot_product(y.e, y.e))) * 1000.0, 0) AS BIGINT) >= 300""".stripMargin

  /** Oracle twin of `dedup_agreement`: the text tier's inverted-index
    * Jaccard pairs and the embedding tier's same-bucket cosine pairs,
    * full-outer joined for the overlap census. */
  private def dedupAgreementSql: String =
    s"""WITH sh AS (
      |  SELECT doc_id, list_distinct(
      |    [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
      |     for i in range(1, greatest(len(w)-3, 1))]) AS shs
      |  FROM (SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '\\s+') AS w
      |    FROM documents)),
      |inv AS (SELECT doc_id, len(shs) AS nsh, unnest(shs) AS s FROM sh),
      |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.nsh AS na, y.nsh AS nb,
      |        COUNT(*) AS common
      |      FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
      |      GROUP BY 1, 2, 3, 4),
      |pr AS (SELECT a, b FROM p
      |       WHERE CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT)
      |         >= 100),
      |v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
      |   ${bucketExpr("CAST(embedding AS DOUBLE[])")} AS bucket
      |   FROM embeddings),
      |epr AS (SELECT x.id AS a, y.id AS b
      |  FROM v x JOIN v y ON x.bucket = y.bucket AND x.id < y.id
      |  WHERE CAST(round(list_dot_product(x.e, y.e) /
      |      (sqrt(list_dot_product(x.e, x.e)) *
      |       sqrt(list_dot_product(y.e, y.e))) * 1000.0, 0) AS BIGINT)
      |    >= 400),
      |u AS (SELECT
      |    CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END AS tp,
      |    CASE WHEN e.a IS NOT NULL THEN 1 ELSE 0 END AS ep
      |  FROM pr t FULL OUTER JOIN epr e ON t.a = e.a AND t.b = e.b)
      |SELECT CAST(SUM(tp) AS BIGINT) AS n_text_pairs,
      |  CAST(SUM(ep) AS BIGINT) AS n_embed_pairs,
      |  CAST(SUM(tp * ep) AS BIGINT) AS n_both,
      |  COUNT(*) AS n_union,
      |  CAST(1000 * SUM(tp * ep) // NULLIF(COUNT(*), 0) AS BIGINT)
      |    AS agree_permille
      |FROM u""".stripMargin
}
