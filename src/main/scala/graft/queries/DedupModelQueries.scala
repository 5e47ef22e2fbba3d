package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, EventAnalytics, TextAnalysis, Transforms}

import SparkEntry._

/** Dedup family, second part: n-gram language-model and Naive-Bayes scoring
  * with their frozen and refreshed tiers, dependence scorers, and record
  * linkage. Each query is declared once, with its plan and its check;
  * [[SparkEntry]] derives the battery views from these lists. */
private[graft] object DedupModelQueries {
  lazy val all: Seq[Query] = Seq(
    // smoothed bigram LM score per doc (the LM-quality signal one level
    // above unigram_logprob): add-1-smoothed P(w₂|w₁) from corpus bigram
    // and unigram counts, per-token log quantized to micros (engine-exact
    // sums), mean log-prob permille per doc.
    Query("bigram_logprob", (s, dir) => {
      val tok = Dedup.shingleStream(t(s, dir, "documents"), "text",
        "doc_id", n = 2).select(col("id"), col("s"))
      // counts ride the shared memoized table (r16): big verbatim; the
      // unigram table is its per-w1 rollup (Σ c12 grouped by the first
      // word ≡ counting the bigram stream by its first word) and the
      // vocab its row count — bit-identical inputs, one corpus pass
      val big = corpusBigramCounts(s, dir)
      val uni = big.select(substring_index(col("s"), " ", 1).as("w1"),
          col("c12"))
        .groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val vocab = broadcast(uni.agg(count(lit(1)).as("__v")))
      tok.withColumn("w1", substring_index(col("s"), " ", 1))
        .join(big, "s").join(uni, "w1").crossJoin(vocab)
        .select(col("id"),
          round(log((col("c12") + lit(1)).cast("double") /
            (col("c1") + col("__v")).cast("double")) * lit(1000000))
            .cast("long").as("lp"))
        .groupBy(col("id"))
        .agg(round(sum(col("lp")) / (count(lit(1)) * lit(1000.0)))
          .cast("long").as("lp_permille"))
        .select(col("id").as("doc_id"), col("lp_permille"))
    },
      Oracle("""WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(
        |    [w[i]||' '||w[i+1] for i in range(1, greatest(len(w), 1))])
        |    AS s FROM d),
        |b AS (SELECT s, COUNT(*) AS c12 FROM t GROUP BY 1),
        |u AS (SELECT split_part(s, ' ', 1) AS w1, COUNT(*) AS c1
        |  FROM t GROUP BY 1),
        |v AS (SELECT COUNT(*) AS vv FROM u),
        |l AS (SELECT doc_id, CAST(round(ln(
        |      CAST(b.c12 + 1 AS DOUBLE) / CAST(u.c1 + v.vv AS DOUBLE))
        |      * 1000000, 0) AS BIGINT) AS lp
        |  FROM t JOIN b USING (s)
        |  JOIN u ON split_part(t.s, ' ', 1) = u.w1 CROSS JOIN v)
        |SELECT doc_id, CAST(round(SUM(lp) / (COUNT(*) * 1000.0), 0)
        |    AS BIGINT) AS lp_permille
        |FROM l GROUP BY 1""".stripMargin)),

    // interpolated Kneser-Ney bigram LM score per doc (Chen & Goodman
    // 1999 — the KenLM smoothing CCNet's perplexity filter actually
    // uses, one level above bigram_logprob's add-1): with discount
    // d = 3/4 every probability is a ratio of exact integers,
    //   P(w2|w1) = [max(4·c12−3, 0)·B + 3·f(w1)·r(w2)] / (4·c1·B)
    // where f = distinct followers of w1 (the backoff weight λ's
    // numerator), r = distinct predecessors of w2 (the continuation
    // count), B = distinct bigram types — so only the final ln is
    // quantized (micros), and the per-doc sum is order-independent.
    // Shape: one bigram stream; f, r and B are aggregates OF the
    // bigram-count table (vocab-sized, never corpus-sized); B rides a
    // 1-row broadcast.
    // the kn family (kn_logprob / perplexity_gate / perplexity_buckets)
    // shares ONE memoized corpus scoring pass per (session, dir)
    Query("kn_logprob", (s, dir) => knScores(s, dir),
      Oracle(
        // Kneser-Ney replay: d = 3/4 keeps the smoothed probability a ratio
        // of exact integers (numerator/denominator < 2^53, cast to DOUBLE
        // exactly on both sides); only ln is quantized, to micros
        knOracleWith +
        "\nSELECT doc_id, lp_permille FROM lp")),

    // per-doc character Shannon entropy in integer micro-nats — the
    // oracle-exact sibling of the rows-only compress_ratio junk signal
    // ([[TextAnalysis.charEntropy]]; quantize-once ln discipline).
    Query("char_entropy", (s, dir) =>
      TextAnalysis.charEntropy(t(s, dir, "documents"), "text", "doc_id"),
      Oracle(
        // character entropy replay: per-char ln quantized to micros BEFORE
        // the per-doc sum (order-independent integers); split('') explodes
        // characters on both engines, empty docs emit nothing on either
        // (DuckDB: empty list; Spark: the lone ''/trailing '' rows are
        // length-filtered)
        """WITH ch AS (SELECT doc_id, u AS ch FROM
          |    (SELECT doc_id, unnest(split(text, '')) AS u FROM documents)
          |  WHERE length(u) = 1),
          |c AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
          |n AS (SELECT doc_id, SUM(c) AS n FROM c GROUP BY 1)
          |SELECT doc_id, CAST(n AS BIGINT) AS n_counted,
          |  CAST(SUM(c * CAST(round(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
          |    * 1000000, 0) AS BIGINT)) // n AS BIGINT) AS entropy_micros
          |FROM c JOIN n USING (doc_id) GROUP BY doc_id, n""".stripMargin)),

    // Heaps'-law vocabulary growth: distinct types in each decile prefix
    // of the (doc_id, pos)-ordered token stream — the statistic that
    // sizes tokenizer vocabularies ([[TextAnalysis.vocabGrowth]];
    // range-partitioned global token index, vocab-sized aggregates).
    Query("vocab_growth", (s, dir) =>
      TextAnalysis.vocabGrowth(t(s, dir, "documents"), "text", "doc_id"),
      Oracle(
        // Heaps replay: parallel unnest zips token+position, one global
        // row_number under the same (doc_id, pos) order twins the engine's
        // range-partitioned index, first-occurrence min + decile conditional
        // counts are pure integers
        """WITH d AS (SELECT doc_id,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws
          |  FROM documents),
          |tok AS (SELECT doc_id, unnest(ws) AS w,
          |    unnest(range(1, len(ws) + 1)) AS pos FROM d),
          |ix AS (SELECT w, row_number() OVER (ORDER BY doc_id, pos) AS gix
          |  FROM tok),
          |f AS (SELECT w, MIN(gix) AS first_ix FROM ix GROUP BY 1),
          |n AS (SELECT COUNT(*) AS n FROM ix),
          |s AS (SELECT unnest(range(1, 11)) AS step)
          |SELECT CAST(step AS BIGINT) AS step,
          |  CAST((n.n * step) // 10 AS BIGINT) AS cum_tokens,
          |  CAST(SUM(CASE WHEN first_ix <= (n.n * step) // 10
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_types
          |FROM f, n, s GROUP BY step, n.n""".stripMargin)),

    // CCNet head/middle/tail terciles over the Kneser-Ney score —
    // the bucketed-corpus artifact the CCNet recipe actually ships
    // ([[TextAnalysis.perplexityBuckets]]; range-partitioned rank, pure
    // integer tercile test, doc-id tiebreak).
    Query("perplexity_buckets", (s, dir) =>
      TextAnalysis.perplexityBucketsFromScores(knScores(s, dir),
        "doc_id"),
      Oracle(
        // kn_logprob replay + global (lp DESC, doc_id) row_number + the
        // integer tercile test — DuckDB's one global window twins the
        // engine's range-partitioned rank exactly (same total order)
        knOracleWith + """,
          |rk AS (SELECT doc_id, lp_permille,
          |    CAST(row_number() OVER (ORDER BY lp_permille DESC, doc_id)
          |      AS BIGINT) AS rk, COUNT(*) OVER () AS n FROM lp)
          |SELECT doc_id, lp_permille,
          |  CASE WHEN rk * 3 <= n THEN 'head'
          |       WHEN rk * 3 <= n * 2 THEN 'middle'
          |       ELSE 'tail' END AS bucket
          |FROM rk""".stripMargin)),

    // count-floor-pruned Kneser-Ney (the KenLM/SRILM `prune` switch):
    // singleton bigrams surrender their mass to the continuation
    // distribution EXACTLY (per-context total probability still 1 —
    // see [[TextAnalysis.knLogProbPruned]]'s normalization argument), so
    // the model tables joined back against the corpus stay near-constant
    // under the singleton-type growth that makes the unpruned tier's
    // sf1 rung scale 4x.
    Query("kn_logprob_pruned", (s, dir) =>
      TextAnalysis.knLogProbPrunedFromCounts(t(s, dir, "documents"),
        "text", "doc_id", corpusBigramCounts(s, dir)),
      Oracle(
        // pruned-KN replay: identical integer-ratio discipline with the
        // count floor — singletons fold into the (3·fw + 4·n1)·r' backoff
        // numerator, kept types B' replace B, LEFT joins give pruned and
        // unseen-continuation bigrams their exact backoff/epsilon scores
        """WITH d AS (SELECT doc_id,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |t AS (SELECT doc_id, unnest(
          |    [w[i]||' '||w[i+1] for i in range(1, greatest(len(w), 1))])
          |    AS s FROM d),
          |b AS (SELECT s, split_part(s, ' ', 1) AS w1,
          |    split_part(s, ' ', 2) AS w2, COUNT(*) AS c12
          |  FROM t GROUP BY 1, 2, 3),
          |f AS (SELECT w1, SUM(c12) AS c1,
          |    SUM(CASE WHEN c12 >= 2 THEN 1 ELSE 0 END) AS fw,
          |    SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS n1
          |  FROM b GROUP BY 1),
          |kb AS (SELECT s, w2, c12 FROM b WHERE c12 >= 2),
          |r AS (SELECT w2, COUNT(*) AS rw FROM kb GROUP BY 1),
          |ty AS (SELECT greatest(COUNT(*), 1) AS bb FROM kb),
          |l AS (SELECT doc_id, CAST(round(ln(
          |      CAST(greatest(
          |        greatest(4 * COALESCE(kb.c12, 0) - 3, 0) * ty.bb
          |          + (3 * f.fw + 4 * f.n1) * COALESCE(r.rw, 0), 1)
          |        AS DOUBLE)
          |      / CAST(4 * f.c1 * ty.bb AS DOUBLE)) * 1000000, 0)
          |      AS BIGINT) AS lp
          |  FROM t LEFT JOIN kb USING (s)
          |  JOIN f ON split_part(t.s, ' ', 1) = f.w1
          |  LEFT JOIN r ON split_part(t.s, ' ', 2) = r.w2
          |  CROSS JOIN ty)
          |SELECT doc_id, CAST(round(SUM(lp) / (COUNT(*) * 1000.0), 0)
          |    AS BIGINT) AS lp_permille
          |FROM l GROUP BY 1""".stripMargin)),

    // per-source unigram KL divergence vs the rest of the corpus in
    // integer micro-nats (Moore & Lewis 2010's cross-entropy-difference
    // family — the divergence keyness ranks the words of;
    // [[TextAnalysis.sourceUnigramKl]]: add-1 smoothing over the joint
    // vocab, quantize-once ln per grid cell).
    Query("source_kl", (s, dir) =>
      TextAnalysis.sourceUnigramKl(t(s, dir, "documents"), "text",
        "source"),
      Oracle(
        // add-1-smoothed unigram-KL replay: per (vocab × source) grid cell
        // the ln of an exact integer rational quantized ONCE to micros,
        // then pure-integer weighted sums (the kn/unigram discipline);
        // DuckDB SUM->HUGEINT cast on the way out
        """WITH sw AS (SELECT source AS src, unnest(
          |    regexp_split_to_array(lower(trim(text)), '\s+')) AS w
          |  FROM documents),
          |c AS (SELECT src, w, COUNT(*) AS c FROM sw GROUP BY 1, 2),
          |bw AS (SELECT w, SUM(c) AS ct FROM c GROUP BY 1),
          |bs AS (SELECT src, SUM(c) AS ns FROM c GROUP BY 1),
          |g AS (SELECT COUNT(*) AS v, SUM(ct) AS nn FROM bw),
          |grid AS (SELECT bs.src, bs.ns, bw.ct,
          |    COALESCE(c.c, 0) AS cs, g.v, g.nn
          |  FROM bw CROSS JOIN bs
          |  LEFT JOIN c ON c.src = bs.src AND c.w = bw.w, g),
          |q AS (SELECT src, ns, v, cs + 1 AS cs1,
          |    CAST(round(ln(
          |      (CAST(cs + 1 AS DOUBLE) * CAST(nn - ns + v AS DOUBLE)) /
          |      (CAST(ct - cs + 1 AS DOUBLE) * CAST(ns + v AS DOUBLE)))
          |      * 1000000, 0) AS BIGINT) AS q
          |  FROM grid)
          |SELECT src AS source, CAST(MAX(ns) AS BIGINT) AS n_tokens,
          |  CAST(SUM(CAST(cs1 AS HUGEINT) * q)
          |    // (MAX(ns) + MAX(v)) AS BIGINT) AS kl_micro
          |FROM q GROUP BY 1""".stripMargin)),

    // token-coverage curve: cumulative corpus-token permille covered by
    // each decile of the frequency-ranked vocabulary — the tokenizer
    // budget planner ([[TextAnalysis.coverageCurve]]; rangedRank global
    // vocab order, pure integers).
    Query("coverage_curve", (s, dir) =>
      TextAnalysis.coverageCurveFromCounts(corpusUnigramCounts(s, dir)),
      Oracle(
        // coverage-curve replay: one global (count desc, term) row_number
        // twins the engine's range-partitioned vocab rank (same total
        // order); each rank's minimum covering decile ceil(10r/V) buckets
        // the vocab in ONE pass (exact: r ≤ floor(V·d/10) ⟺ 10r ≤ V·d for
        // integers), the curve is a ≤10-row cumulative window
        """WITH c AS (SELECT w, COUNT(*) AS c FROM (SELECT unnest(
          |    regexp_split_to_array(lower(trim(text)), '\s+')) AS w
          |  FROM documents) GROUP BY 1),
          |r AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w)
          |    AS BIGINT) AS r FROM c),
          |g AS (SELECT COUNT(*) AS v, SUM(c) AS nn FROM c),
          |b AS (SELECT (10 * r.r + g.v - 1) // g.v AS decile,
          |    COUNT(*) AS t, SUM(r.c) AS cc, MAX(g.nn) AS nn
          |  FROM r, g GROUP BY 1)
          |SELECT CAST(decile AS BIGINT) AS decile,
          |  CAST(SUM(t) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
          |    PRECEDING AND CURRENT ROW) AS BIGINT) AS n_types,
          |  CAST((SUM(cc) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
          |    PRECEDING AND CURRENT ROW) * 1000) // nn AS BIGINT)
          |    AS covered_permille
          |FROM b""".stripMargin)),

    // UniMax budget allocation (Chung et al. 2023): the fair-sampling
    // answer to alpha_mixture's temperature smoothing — allocate a
    // 1.6N-doc budget as uniformly as the 2-epoch caps allow; exact
    // integer waterfill with remainder distribution under a total order
    // ([[TextAnalysis.unimaxAllocation]] — one corpus aggregate, then
    // |strata|-row windows and 1-row broadcasts).
    Query("unimax_alloc", (s, dir) =>
      TextAnalysis.unimaxAllocation(t(s, dir, "documents"), "lang",
        TextAnalysis.UnimaxEpochCap, TextAnalysis.UnimaxBudgetPermille),
      Oracle(
        // UniMax waterfill replay: identical pivot construction — prefix
        // sums and row_number over the (cap, lang) total order, the first
        // cap above its own running fair share is the pivot, full caps
        // below it, the pivot row's integer level (+1 for the first r
        // remainder strata) at/after it; EPOCHS/BPM literals generated from
        // the engine's shared constants
        """WITH c AS (SELECT lang, COUNT(*) AS n_avail,
          |    COUNT(*) * EPOCHS AS cap
          |  FROM documents GROUP BY 1),
          |s AS (SELECT SUM(n_avail) AS nn, COUNT(*) AS k FROM c),
          |r AS (SELECT c.lang, c.n_avail, c.cap,
          |    (s.nn * BPM) // 1000 AS b, s.k,
          |    CAST(row_number() OVER (ORDER BY c.cap, c.lang) AS BIGINT)
          |      AS i,
          |    COALESCE(SUM(c.cap) OVER (ORDER BY c.cap, c.lang
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS pfx
          |  FROM c, s),
          |t AS (SELECT r.*, (b - pfx) // (k - i + 1) AS theta FROM r),
          |p AS (SELECT COALESCE(MIN(CASE WHEN cap > theta THEN i END),
          |    9223372036854775807) AS istar FROM t),
          |pv AS (SELECT theta AS lvl,
          |    b - pfx - theta * (k - i + 1) AS rem
          |  FROM t, p WHERE t.i = p.istar)
          |SELECT t.lang, t.n_avail, t.cap,
          |  CAST(CASE WHEN t.i < p.istar THEN t.cap
          |       ELSE pv.lvl + CASE WHEN t.i - p.istar < pv.rem
          |         THEN 1 ELSE 0 END END AS BIGINT) AS alloc
          |FROM t, p LEFT JOIN pv ON TRUE""".stripMargin
          .replace("EPOCHS", TextAnalysis.UnimaxEpochCap.toString)
          .replace("BPM", TextAnalysis.UnimaxBudgetPermille.toString))),

    // count-floor-pruned TRIGRAM Kneser-Ney — the order-3 back-off
    // recursion (top level prunes singleton trigrams with exact mass
    // redistribution; middle level is bigram-KN over the kept
    // continuation table; one exact integer rational per token — see
    // [[TextAnalysis.kn3LogProbPruned]]'s normalization argument).
    Query("kn3_logprob", (s, dir) =>
      TextAnalysis.kn3LogProbPruned(t(s, dir, "documents"), "text",
        "doc_id"),
      Oracle(
        // pruned-trigram-KN replay, unrolled back-off: the top level prunes
        // singleton trigram types (kept table kt, per-context fw/n1 fold
        // their mass into the back-off weight), the middle level is the
        // bigram-KN formula over the kept continuation table ct, and the
        // whole three-level interpolation collapses to ONE exact integer
        // rational per token — only the final ln is quantized (micros), the
        // kn/unigram oracle-parity discipline. LEFT joins give pruned and
        // out-of-model trigrams their exact back-off/epsilon scores;
        // greatest(m2,1) keeps middles with no kept continuation defined.
        """WITH d AS (SELECT doc_id,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |t AS (SELECT doc_id, unnest(
          |    [w[i]||' '||w[i+1]||' '||w[i+2]
          |     for i in range(1, greatest(len(w) - 1, 1))])
          |    AS s FROM d),
          |tri AS (SELECT s, COUNT(*) AS c123 FROM t GROUP BY 1),
          |cx AS (SELECT split_part(s,' ',1)||' '||split_part(s,' ',2)
          |      AS b12,
          |    SUM(c123) AS c12,
          |    SUM(CASE WHEN c123 >= 2 THEN 1 ELSE 0 END) AS fw,
          |    SUM(CASE WHEN c123 = 1 THEN 1 ELSE 0 END) AS n1
          |  FROM tri GROUP BY 1),
          |kt AS (SELECT s, c123 FROM tri WHERE c123 >= 2),
          |ct AS (SELECT split_part(s,' ',2) AS w2,
          |    split_part(s,' ',3) AS w3, COUNT(*) AS r23
          |  FROM kt GROUP BY 1, 2),
          |mid AS (SELECT w2, SUM(r23) AS m2, COUNT(*) AS g2
          |  FROM ct GROUP BY 1),
          |un AS (SELECT w3, COUNT(*) AS rw3 FROM ct GROUP BY 1),
          |ty AS (SELECT greatest(COUNT(*), 1) AS b2 FROM ct),
          |l AS (SELECT t.doc_id, CAST(round(ln(
          |      CAST(greatest(
          |        greatest(4 * COALESCE(kt.c123, 0) - 3, 0)
          |          * (4 * greatest(COALESCE(mid.m2, 0), 1) * ty.b2)
          |        + (3 * cx.fw + 4 * cx.n1) *
          |          (greatest(4 * COALESCE(ct.r23, 0) - 3, 0) * ty.b2
          |           + 3 * COALESCE(mid.g2, 0) * COALESCE(un.rw3, 0)),
          |        1) AS DOUBLE)
          |      / CAST(16 * cx.c12 * greatest(COALESCE(mid.m2, 0), 1)
          |          * ty.b2 AS DOUBLE)) * 1000000, 0)
          |      AS BIGINT) AS lp
          |  FROM t LEFT JOIN kt USING (s)
          |  JOIN cx ON split_part(t.s,' ',1)||' '||split_part(t.s,' ',2)
          |    = cx.b12
          |  LEFT JOIN ct ON split_part(t.s,' ',2) = ct.w2
          |    AND split_part(t.s,' ',3) = ct.w3
          |  LEFT JOIN mid ON split_part(t.s,' ',2) = mid.w2
          |  LEFT JOIN un ON split_part(t.s,' ',3) = un.w3
          |  CROSS JOIN ty)
          |SELECT doc_id, CAST(round(SUM(lp) / (COUNT(*) * 1000.0), 0)
          |    AS BIGINT) AS lp_permille
          |FROM l GROUP BY 1""".stripMargin)),

    // frozen-model LM tier: train the pruned trigram-KN on the even-id
    // half, publish the six model tables as one ModelRegistry version
    // (one manifest swap), pin it, and score the held-out odd-id
    // batch against the RELOADED artifact — the production train/apply
    // split of the whole scoring family (out-of-model contexts take the
    // shared KnOovLpMicro floor; see [[TextAnalysis.kn3Score]]).
    Query("kn_apply", (s, dir) => knApplyScores(s, dir),
      Oracle(
        // frozen-model replay: the kn3 model CTEs rebuilt from the TRAIN
        // half only (the oracle's re-derivation IS bit-equal to the stored
        // tables — counts are exact integers, and parquet round-trips longs
        // losslessly), scoring tokens from the APPLY half; the ONE semantic
        // addition vs kn3_logprob is the LEFT join on the context table
        // with the CASE giving out-of-model-context tokens the generated
        // KnOovLpMicro floor. SPLIT/OOV literals generated from the shared
        // Scala constants (one-definition discipline).
        """WITH trd AS (SELECT doc_id,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
          |  FROM documents WHERE doc_id % SPLIT = 0),
          |tt AS (SELECT doc_id, unnest(
          |    [w[i]||' '||w[i+1]||' '||w[i+2]
          |     for i in range(1, greatest(len(w) - 1, 1))])
          |    AS s FROM trd),
          |tri AS (SELECT s, COUNT(*) AS c123 FROM tt GROUP BY 1),
          |cx AS (SELECT split_part(s,' ',1)||' '||split_part(s,' ',2)
          |      AS b12,
          |    SUM(c123) AS c12,
          |    SUM(CASE WHEN c123 >= 2 THEN 1 ELSE 0 END) AS fw,
          |    SUM(CASE WHEN c123 = 1 THEN 1 ELSE 0 END) AS n1
          |  FROM tri GROUP BY 1),
          |kt AS (SELECT s, c123 FROM tri WHERE c123 >= 2),
          |ct AS (SELECT split_part(s,' ',2) AS w2,
          |    split_part(s,' ',3) AS w3, COUNT(*) AS r23
          |  FROM kt GROUP BY 1, 2),
          |mid AS (SELECT w2, SUM(r23) AS m2, COUNT(*) AS g2
          |  FROM ct GROUP BY 1),
          |un AS (SELECT w3, COUNT(*) AS rw3 FROM ct GROUP BY 1),
          |ty AS (SELECT greatest(COUNT(*), 1) AS b2 FROM ct),
          |ad AS (SELECT doc_id,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
          |  FROM documents WHERE doc_id % SPLIT = 1),
          |t AS (SELECT doc_id, unnest(
          |    [w[i]||' '||w[i+1]||' '||w[i+2]
          |     for i in range(1, greatest(len(w) - 1, 1))])
          |    AS s FROM ad),
          |l AS (SELECT t.doc_id, CASE WHEN cx.c12 IS NULL THEN OOV
          |    ELSE CAST(round(ln(
          |      CAST(greatest(
          |        greatest(4 * COALESCE(kt.c123, 0) - 3, 0)
          |          * (4 * greatest(COALESCE(mid.m2, 0), 1) * ty.b2)
          |        + (3 * cx.fw + 4 * cx.n1) *
          |          (greatest(4 * COALESCE(ct.r23, 0) - 3, 0) * ty.b2
          |           + 3 * COALESCE(mid.g2, 0) * COALESCE(un.rw3, 0)),
          |        1) AS DOUBLE)
          |      / CAST(16 * cx.c12 * greatest(COALESCE(mid.m2, 0), 1)
          |          * ty.b2 AS DOUBLE)) * 1000000, 0)
          |      AS BIGINT) END AS lp
          |  FROM t LEFT JOIN kt USING (s)
          |  LEFT JOIN cx
          |    ON split_part(t.s,' ',1)||' '||split_part(t.s,' ',2)
          |    = cx.b12
          |  LEFT JOIN ct ON split_part(t.s,' ',2) = ct.w2
          |    AND split_part(t.s,' ',3) = ct.w3
          |  LEFT JOIN mid ON split_part(t.s,' ',2) = mid.w2
          |  LEFT JOIN un ON split_part(t.s,' ',3) = un.w3
          |  CROSS JOIN ty)
          |SELECT doc_id, CAST(round(SUM(lp) / (COUNT(*) * 1000.0), 0)
          |    AS BIGINT) AS lp_permille,
          |  CAST(1 AS BIGINT) AS model_version
          |FROM l GROUP BY 1""".stripMargin
          .replace("SPLIT", KnApplySplit.toString)
          .replace("OOV", TextAnalysis.KnOovLpMicro.toString))),

    // frozen-classifier tier: train a multinomial Naive-Bayes char-
    // trigram language classifier on the even-id half, publish its three
    // model tables as one ModelRegistry version, pin it, and classify the
    // held-out odd-id batch against the RELOADED artifact — the trained
    // counterpart of chargram_langid's heuristic profile overlap, and
    // the CCNet lang-id-gate production shape ([[NaiveBayes.nbcScore]]:
    // inverted-index scoring join, |langs|-row broadcast, per-doc argmax
    // window — never a corpus×classes fan-out).
    Query("nbc_apply", (s, dir) => nbcApplyScores(s, dir),
      Oracle(
        // frozen-classifier replay: the NB model CTEs rebuilt from the TRAIN
        // half (re-derivation is bit-equal to the stored tables — counts are
        // exact integers, parquet round-trips longs losslessly), then the
        // same matched-vs-floor decomposition — each (lang, gram) TYPE's ln
        // quantized ONCE to micros, per-doc sums and the argmax pure
        // integers; gram-less docs classify on the prior alone (t = 0, no
        // matched rows). SPLIT literal generated from the shared constant.
        """WITH tr AS (SELECT doc_id, lang, lower(text) AS tx
          |  FROM documents WHERE doc_id % SPLIT = 0),
          |ap AS (SELECT doc_id, lang, lower(text) AS tx
          |  FROM documents WHERE doc_id % SPLIT = 1),
          |tg AS (SELECT lang, unnest([substr(tx, i, 3)
          |    for i in range(1, greatest(len(tx) - 1, 1))]) AS g FROM tr),
          |gc AS (SELECT lang, g, COUNT(*) AS c FROM tg GROUP BY 1, 2),
          |nd AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
          |  FROM tr GROUP BY 1),
          |nt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tok
          |  FROM gc GROUP BY 1),
          |vv AS (SELECT COUNT(DISTINCT g) AS v FROM gc),
          |dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM tr),
          |cl AS (SELECT nd.lang, COALESCE(nt.n_tok, 0) AS n_tok, vv.v,
          |    CAST(round(ln(CAST(nd.n_docs AS DOUBLE)
          |      / CAST(dd.d AS DOUBLE)) * 1000000, 0) AS BIGINT)
          |      AS prior_micro,
          |    CAST(round(ln(1.0 / CAST(COALESCE(nt.n_tok, 0) + vv.v
          |      AS DOUBLE)) * 1000000, 0) AS BIGINT) AS floor_micro
          |  FROM nd LEFT JOIN nt USING (lang), vv, dd),
          |lp AS (SELECT gc.lang, gc.g,
          |    CAST(round(ln(CAST(gc.c + 1 AS DOUBLE)
          |      / CAST(cl.n_tok + cl.v AS DOUBLE)) * 1000000, 0)
          |      AS BIGINT) - cl.floor_micro AS dlp_micro
          |  FROM gc JOIN cl USING (lang)),
          |atg AS (SELECT doc_id, unnest([substr(tx, i, 3)
          |    for i in range(1, greatest(len(tx) - 1, 1))]) AS g FROM ap),
          |atc AS (SELECT doc_id, g, COUNT(*) AS tc FROM atg GROUP BY 1, 2),
          |att AS (SELECT ap.doc_id, CAST(COALESCE(s.t, 0) AS BIGINT) AS t
          |  FROM ap LEFT JOIN (SELECT doc_id, SUM(tc) AS t FROM atc
          |    GROUP BY 1) s USING (doc_id)),
          |m AS (SELECT atc.doc_id, lp.lang,
          |    CAST(SUM(atc.tc * lp.dlp_micro) AS BIGINT) AS msum
          |  FROM atc JOIN lp USING (g) GROUP BY 1, 2),
          |grid AS (SELECT ap.doc_id, ap.lang AS true_lang, cl.lang AS cand,
          |    cl.prior_micro + att.t * cl.floor_micro
          |      + COALESCE(m.msum, 0) AS score
          |  FROM ap JOIN att USING (doc_id) CROSS JOIN cl
          |  LEFT JOIN m ON m.doc_id = ap.doc_id AND m.lang = cl.lang),
          |pred AS (SELECT doc_id, true_lang, cand, score,
          |    row_number() OVER (PARTITION BY doc_id
          |      ORDER BY score DESC, cand ASC) AS rk FROM grid)
          |SELECT doc_id, true_lang AS lang, cand AS pred_lang,
          |  CAST(score AS BIGINT) AS score_micros,
          |  CAST(1 AS BIGINT) AS model_version
          |FROM pred WHERE rk = 1""".stripMargin
          .replace("SPLIT", KnApplySplit.toString))),

    // classifier evaluation: the confusion matrix of the frozen-model
    // predictions over the held-out batch (one |langs|²-bounded
    // aggregate over the memoized nbc_apply scores).
    Query("nbc_eval", (s, dir) =>
      nbcApplyScores(s, dir)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs")),
      Oracle(
        // confusion-matrix replay: the nbc_apply CTE chain closed with the
        // (true, predicted) cell counts
        """WITH tr AS (SELECT doc_id, lang, lower(text) AS tx
          |  FROM documents WHERE doc_id % SPLIT = 0),
          |ap AS (SELECT doc_id, lang, lower(text) AS tx
          |  FROM documents WHERE doc_id % SPLIT = 1),
          |tg AS (SELECT lang, unnest([substr(tx, i, 3)
          |    for i in range(1, greatest(len(tx) - 1, 1))]) AS g FROM tr),
          |gc AS (SELECT lang, g, COUNT(*) AS c FROM tg GROUP BY 1, 2),
          |nd AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
          |  FROM tr GROUP BY 1),
          |nt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tok
          |  FROM gc GROUP BY 1),
          |vv AS (SELECT COUNT(DISTINCT g) AS v FROM gc),
          |dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM tr),
          |cl AS (SELECT nd.lang, COALESCE(nt.n_tok, 0) AS n_tok, vv.v,
          |    CAST(round(ln(CAST(nd.n_docs AS DOUBLE)
          |      / CAST(dd.d AS DOUBLE)) * 1000000, 0) AS BIGINT)
          |      AS prior_micro,
          |    CAST(round(ln(1.0 / CAST(COALESCE(nt.n_tok, 0) + vv.v
          |      AS DOUBLE)) * 1000000, 0) AS BIGINT) AS floor_micro
          |  FROM nd LEFT JOIN nt USING (lang), vv, dd),
          |lp AS (SELECT gc.lang, gc.g,
          |    CAST(round(ln(CAST(gc.c + 1 AS DOUBLE)
          |      / CAST(cl.n_tok + cl.v AS DOUBLE)) * 1000000, 0)
          |      AS BIGINT) - cl.floor_micro AS dlp_micro
          |  FROM gc JOIN cl USING (lang)),
          |atg AS (SELECT doc_id, unnest([substr(tx, i, 3)
          |    for i in range(1, greatest(len(tx) - 1, 1))]) AS g FROM ap),
          |atc AS (SELECT doc_id, g, COUNT(*) AS tc FROM atg GROUP BY 1, 2),
          |att AS (SELECT ap.doc_id, CAST(COALESCE(s.t, 0) AS BIGINT) AS t
          |  FROM ap LEFT JOIN (SELECT doc_id, SUM(tc) AS t FROM atc
          |    GROUP BY 1) s USING (doc_id)),
          |m AS (SELECT atc.doc_id, lp.lang,
          |    CAST(SUM(atc.tc * lp.dlp_micro) AS BIGINT) AS msum
          |  FROM atc JOIN lp USING (g) GROUP BY 1, 2),
          |grid AS (SELECT ap.doc_id, ap.lang AS true_lang, cl.lang AS cand,
          |    cl.prior_micro + att.t * cl.floor_micro
          |      + COALESCE(m.msum, 0) AS score
          |  FROM ap JOIN att USING (doc_id) CROSS JOIN cl
          |  LEFT JOIN m ON m.doc_id = ap.doc_id AND m.lang = cl.lang),
          |pred AS (SELECT doc_id, true_lang, cand,
          |    row_number() OVER (PARTITION BY doc_id
          |      ORDER BY score DESC, cand ASC) AS rk FROM grid)
          |SELECT true_lang AS lang, cand AS pred_lang,
          |  CAST(COUNT(*) AS BIGINT) AS n_docs
          |FROM pred WHERE rk = 1 GROUP BY 1, 2""".stripMargin
          .replace("SPLIT", KnApplySplit.toString))),

    // incremental classifier-count maintenance: the per-class gram-count
    // table of a labeled base corpus (doc_id % 3 < 2) is maintained
    // under a document delta — adds (doc_id % 3 = 2) AND retractions
    // (base docs with doc_id % 5 = 0) — in one partial-combined hash
    // aggregate ([[NaiveBayes.maintainGramCounts]]; the kn_counts_ivm
    // contract applied to the classifier family: the oracle recounts the
    // post-delta corpus from scratch, equality IS the maintenance proof).
    Query("nbc_counts_ivm", (s, dir) => nbcMaintainedCounts(s, dir),
      Oracle(
        // classifier-count IVM replay: the oracle never sees the delta
        // algebra — it recounts the per-class grams FROM SCRATCH over the
        // post-delta corpus (base minus retracted plus added docs); equality
        // IS the bit-exact maintenance contract
        """WITH fin AS (SELECT doc_id, lang, lower(text) AS tx
          |  FROM documents
          |  WHERE doc_id % 3 = 2
          |     OR (doc_id % 3 < 2 AND doc_id % 5 <> 0)),
          |tg AS (SELECT lang, unnest([substr(tx, i, 3)
          |    for i in range(1, greatest(len(tx) - 1, 1))]) AS g FROM fin)
          |SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c
          |FROM tg GROUP BY 1, 2""".stripMargin)),

    // the classifier's daily refresh loop, composed: maintain BOTH count
    // tables (grams + class doc counts) under the same delta, re-derive
    // the model from the MAINTAINED counts
    // ([[NaiveBayes.nbcModelFromCounts]] — aggregates of the vocab-sized
    // table, never a corpus re-scan), and classify the newly ADDED batch
    // against the refreshed model. The oracle rebuilds the model from
    // scratch over the post-delta corpus, so equality proves
    // maintained-counts → model → classify end to end (the kn_refresh
    // contract for the classifier family).
    Query("nbc_refresh", (s, dir) => {
      val split = new IvmSplit(t(s, dir, "documents"), "doc_id")
      // prepped variant: the maintained counts are the checkpointed memo
      // — re-checkpointing them inside the model build would copy the
      // vocab table for a barrier that already exists (r17)
      val model = graft.operators.NaiveBayes.nbcModelFromPreppedCounts(
        nbcMaintainedCounts(s, dir),
        graft.operators.NaiveBayes.maintainClassDocCounts(
          split.base.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")),
          split.delta, "lang", "__op"))
      graft.operators.NaiveBayes.nbcScore(split.added, "text", "doc_id",
        "lang", model)
    },
      Oracle(
        // classifier-refresh replay: the nbc_apply scoring SQL with the
        // model CTEs rebuilt from the POST-DELTA corpus and the scoring
        // batch = the added docs — the oracle never sees the delta algebra
        // or the maintained tables, so a hash match proves
        // maintained-counts → model → classify end to end
        """WITH tr AS (SELECT doc_id, lang, lower(text) AS tx
          |  FROM documents
          |  WHERE doc_id % 3 = 2
          |     OR (doc_id % 3 < 2 AND doc_id % 5 <> 0)),
          |ap AS (SELECT doc_id, lang, lower(text) AS tx
          |  FROM documents WHERE doc_id % 3 = 2),
          |tg AS (SELECT lang, unnest([substr(tx, i, 3)
          |    for i in range(1, greatest(len(tx) - 1, 1))]) AS g FROM tr),
          |gc AS (SELECT lang, g, COUNT(*) AS c FROM tg GROUP BY 1, 2),
          |nd AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
          |  FROM tr GROUP BY 1),
          |nt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tok
          |  FROM gc GROUP BY 1),
          |vv AS (SELECT COUNT(DISTINCT g) AS v FROM gc),
          |dd AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS d FROM nd),
          |cl AS (SELECT nd.lang, COALESCE(nt.n_tok, 0) AS n_tok, vv.v,
          |    CAST(round(ln(CAST(nd.n_docs AS DOUBLE)
          |      / CAST(dd.d AS DOUBLE)) * 1000000, 0) AS BIGINT)
          |      AS prior_micro,
          |    CAST(round(ln(1.0 / CAST(COALESCE(nt.n_tok, 0) + vv.v
          |      AS DOUBLE)) * 1000000, 0) AS BIGINT) AS floor_micro
          |  FROM nd LEFT JOIN nt USING (lang), vv, dd),
          |lp AS (SELECT gc.lang, gc.g,
          |    CAST(round(ln(CAST(gc.c + 1 AS DOUBLE)
          |      / CAST(cl.n_tok + cl.v AS DOUBLE)) * 1000000, 0)
          |      AS BIGINT) - cl.floor_micro AS dlp_micro
          |  FROM gc JOIN cl USING (lang)),
          |atg AS (SELECT doc_id, unnest([substr(tx, i, 3)
          |    for i in range(1, greatest(len(tx) - 1, 1))]) AS g FROM ap),
          |atc AS (SELECT doc_id, g, COUNT(*) AS tc FROM atg GROUP BY 1, 2),
          |att AS (SELECT ap.doc_id, CAST(COALESCE(s.t, 0) AS BIGINT) AS t
          |  FROM ap LEFT JOIN (SELECT doc_id, SUM(tc) AS t FROM atc
          |    GROUP BY 1) s USING (doc_id)),
          |m AS (SELECT atc.doc_id, lp.lang,
          |    CAST(SUM(atc.tc * lp.dlp_micro) AS BIGINT) AS msum
          |  FROM atc JOIN lp USING (g) GROUP BY 1, 2),
          |grid AS (SELECT ap.doc_id, ap.lang AS true_lang, cl.lang AS cand,
          |    cl.prior_micro + att.t * cl.floor_micro
          |      + COALESCE(m.msum, 0) AS score
          |  FROM ap JOIN att USING (doc_id) CROSS JOIN cl
          |  LEFT JOIN m ON m.doc_id = ap.doc_id AND m.lang = cl.lang),
          |pred AS (SELECT doc_id, true_lang, cand, score,
          |    row_number() OVER (PARTITION BY doc_id
          |      ORDER BY score DESC, cand ASC) AS rk FROM grid)
          |SELECT doc_id, true_lang AS lang, cand AS pred_lang,
          |  CAST(score AS BIGINT) AS score_micros
          |FROM pred WHERE rk = 1""".stripMargin)),

    // classifier-based data selection (the GPT-3 quality-filter recipe,
    // Brown et al. 2020 App. A: train a curated-vs-crawl classifier,
    // score every crawl doc, select by score): a binary hq/lq model
    // trained on the even-id half with a SOURCE-whitelist proxy label,
    // then the held-out half scored by [[NaiveBayes.nbcMargins]] — the
    // per-doc top-class LEAD in micro-nats, signed toward hq — and
    // rolled up per source: which sources look most like the curated
    // tier. Σ signed margin = Σ (score_hq − score_lq), pure integers.
    Query("quality_margin", (s, dir) => {
      val docs = t(s, dir, "documents")
      val lab = when(col("source").isin(QualityHqSources: _*),
        lit("hq")).otherwise(lit("lq"))
      val m = graft.operators.NaiveBayes.nbcTrain(
        docs.filter(col("doc_id") % KnApplySplit === 0)
          .select(col("doc_id"), lab.as("qlab"), col("text")),
        "text", "qlab")
      graft.operators.NaiveBayes.nbcMargins(
          docs.filter(col("doc_id") % KnApplySplit === 1), "text",
          "doc_id", m)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred_lang") === "hq", 1L).otherwise(0L))
            .as("n_hq"),
          sum(when(col("pred_lang") === "hq", col("margin_micros"))
            .otherwise(-col("margin_micros")))
            .as("signed_margin_sum"))
    },
      Oracle(
        // quality-selection replay: the binary nbc grid pivoted per doc —
        // signed margin = score(hq) − score(lq) exactly (every quantity an
        // integer after the per-TYPE ln quantization), per-source rollup;
        // hq wins score ties (the lang ASC tie-break: 'hq' < 'lq').
        // HQ-source whitelist generated from the shared Scala constant.
        """WITH lab AS (SELECT doc_id, source,
          |    CASE WHEN source IN (HQLIST) THEN 'hq' ELSE 'lq' END AS ql,
          |    lower(text) AS tx FROM documents),
          |tr AS (SELECT doc_id, ql, tx FROM lab WHERE doc_id % SPLIT = 0),
          |ap AS (SELECT doc_id, source, tx FROM lab
          |  WHERE doc_id % SPLIT = 1),
          |tg AS (SELECT ql, unnest([substr(tx, i, 3)
          |    for i in range(1, greatest(len(tx) - 1, 1))]) AS g FROM tr),
          |gc AS (SELECT ql, g, COUNT(*) AS c FROM tg GROUP BY 1, 2),
          |nd AS (SELECT ql, CAST(COUNT(*) AS BIGINT) AS n_docs
          |  FROM tr GROUP BY 1),
          |nt AS (SELECT ql, CAST(SUM(c) AS BIGINT) AS n_tok
          |  FROM gc GROUP BY 1),
          |vv AS (SELECT COUNT(DISTINCT g) AS v FROM gc),
          |dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM tr),
          |cl AS (SELECT nd.ql, COALESCE(nt.n_tok, 0) AS n_tok, vv.v,
          |    CAST(round(ln(CAST(nd.n_docs AS DOUBLE)
          |      / CAST(dd.d AS DOUBLE)) * 1000000, 0) AS BIGINT)
          |      AS prior_micro,
          |    CAST(round(ln(1.0 / CAST(COALESCE(nt.n_tok, 0) + vv.v
          |      AS DOUBLE)) * 1000000, 0) AS BIGINT) AS floor_micro
          |  FROM nd LEFT JOIN nt USING (ql), vv, dd),
          |lp AS (SELECT gc.ql, gc.g,
          |    CAST(round(ln(CAST(gc.c + 1 AS DOUBLE)
          |      / CAST(cl.n_tok + cl.v AS DOUBLE)) * 1000000, 0)
          |      AS BIGINT) - cl.floor_micro AS dlp_micro
          |  FROM gc JOIN cl USING (ql)),
          |atg AS (SELECT doc_id, unnest([substr(tx, i, 3)
          |    for i in range(1, greatest(len(tx) - 1, 1))]) AS g FROM ap),
          |atc AS (SELECT doc_id, g, COUNT(*) AS tc FROM atg GROUP BY 1, 2),
          |att AS (SELECT ap.doc_id, CAST(COALESCE(s.t, 0) AS BIGINT) AS t
          |  FROM ap LEFT JOIN (SELECT doc_id, SUM(tc) AS t FROM atc
          |    GROUP BY 1) s USING (doc_id)),
          |m AS (SELECT atc.doc_id, lp.ql,
          |    CAST(SUM(atc.tc * lp.dlp_micro) AS BIGINT) AS msum
          |  FROM atc JOIN lp USING (g) GROUP BY 1, 2),
          |grid AS (SELECT ap.doc_id, ap.source, cl.ql,
          |    cl.prior_micro + att.t * cl.floor_micro
          |      + COALESCE(m.msum, 0) AS score
          |  FROM ap JOIN att USING (doc_id) CROSS JOIN cl
          |  LEFT JOIN m ON m.doc_id = ap.doc_id AND m.ql = cl.ql),
          |sc AS (SELECT doc_id, ANY_VALUE(source) AS source,
          |    MAX(CASE WHEN ql = 'hq' THEN score END) AS sh,
          |    MAX(CASE WHEN ql = 'lq' THEN score END) AS sl
          |  FROM grid GROUP BY 1)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(CASE WHEN sl IS NULL OR sh >= sl THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_hq,
          |  CAST(SUM(COALESCE(sh - sl, 0)) AS BIGINT)
          |    AS signed_margin_sum
          |FROM sc GROUP BY 1""".stripMargin
          .replace("SPLIT", KnApplySplit.toString)
          .replace("HQLIST",
            QualityHqSources.map(s => s"'$s'").mkString(", ")))),

    // incremental n-gram count maintenance: the stored trigram-count
    // table of a base corpus (doc_id % 3 < 2) is maintained under a
    // document delta — adds (doc_id % 3 = 2) AND retractions (base docs
    // with doc_id % 5 = 0) — in one partial-combined hash aggregate,
    // then the pruned-KN context model table is re-derived from the
    // MAINTAINED counts ([[TextAnalysis.maintainTrigramCounts]]; the
    // oracle recomputes the same table from scratch over the post-delta
    // corpus, proving the ivm_agg bit-equality contract for the LM
    // family).
    Query("kn_counts_ivm", (s, dir) => {
      knMaintainedTrigramCounts(s, dir)
        .withColumn("b12", substring_index(col("s"), " ", 2))
        .groupBy(col("b12"))
        .agg(sum(col("c123")).as("c12"),
          sum(when(col("c123") >= 2L, 1L).otherwise(0L)).as("fw"),
          sum(when(col("c123") === 1L, 1L).otherwise(0L)).as("n1"))
    },
      Oracle(
        // IVM-maintenance replay: the oracle never sees the delta algebra —
        // it recomputes the trigram-count table FROM SCRATCH over the
        // post-delta corpus (base minus retracted plus added docs) and
        // derives the same context model table; equality IS the bit-exact
        // maintenance contract. DuckDB SUM(BIGINT)→HUGEINT casts back out.
        """WITH fin AS (SELECT doc_id,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
          |  FROM documents
          |  WHERE doc_id % 3 = 2
          |     OR (doc_id % 3 < 2 AND doc_id % 5 <> 0)),
          |t AS (SELECT unnest(
          |    [w[i]||' '||w[i+1]||' '||w[i+2]
          |     for i in range(1, greatest(len(w) - 1, 1))])
          |    AS s FROM fin),
          |tri AS (SELECT s, COUNT(*) AS c123 FROM t GROUP BY 1)
          |SELECT split_part(s,' ',1)||' '||split_part(s,' ',2) AS b12,
          |  CAST(SUM(c123) AS BIGINT) AS c12,
          |  CAST(SUM(CASE WHEN c123 >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS fw,
          |  CAST(SUM(CASE WHEN c123 = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n1
          |FROM tri GROUP BY 1""".stripMargin)),

    // the full daily-refresh loop, composed: maintain the trigram-count
    // table under the same delta as kn_counts_ivm, re-derive the ENTIRE
    // pruned-KN model from the MAINTAINED counts
    // ([[TextAnalysis.kn3ModelFromCounts]] — aggregates of the
    // vocab-sized table, never a corpus re-scan), and score the newly
    // ADDED batch against the refreshed model — today's crawl scored by
    // today's model, at delta-tokenization cost. The oracle rebuilds the
    // model from scratch over the post-delta corpus, so equality proves
    // maintained-counts → model → score end to end.
    Query("kn_refresh", (s, dir) => {
      // maintenance rides the memoized table kn_counts_ivm also reads —
      // the model derivation and scoring below are unchanged (r16)
      val model = TextAnalysis.kn3ModelFromCounts(
        knMaintainedTrigramCounts(s, dir))
      TextAnalysis.kn3Score(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 2),
        "text", "doc_id", model)
    },
      Oracle(
        // refresh-loop replay: the kn_apply scoring SQL with the model CTEs
        // rebuilt from the POST-DELTA corpus (the kn_counts_ivm `fin` set)
        // and the scoring tokens from the added docs — the oracle never sees
        // the delta algebra or the maintained table, so a hash match proves
        // maintained-counts → model → score end to end
        """WITH fin AS (SELECT doc_id,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
          |  FROM documents
          |  WHERE doc_id % 3 = 2
          |     OR (doc_id % 3 < 2 AND doc_id % 5 <> 0)),
          |tt AS (SELECT doc_id, unnest(
          |    [w[i]||' '||w[i+1]||' '||w[i+2]
          |     for i in range(1, greatest(len(w) - 1, 1))])
          |    AS s FROM fin),
          |tri AS (SELECT s, COUNT(*) AS c123 FROM tt GROUP BY 1),
          |cx AS (SELECT split_part(s,' ',1)||' '||split_part(s,' ',2)
          |      AS b12,
          |    SUM(c123) AS c12,
          |    SUM(CASE WHEN c123 >= 2 THEN 1 ELSE 0 END) AS fw,
          |    SUM(CASE WHEN c123 = 1 THEN 1 ELSE 0 END) AS n1
          |  FROM tri GROUP BY 1),
          |kt AS (SELECT s, c123 FROM tri WHERE c123 >= 2),
          |ct AS (SELECT split_part(s,' ',2) AS w2,
          |    split_part(s,' ',3) AS w3, COUNT(*) AS r23
          |  FROM kt GROUP BY 1, 2),
          |mid AS (SELECT w2, SUM(r23) AS m2, COUNT(*) AS g2
          |  FROM ct GROUP BY 1),
          |un AS (SELECT w3, COUNT(*) AS rw3 FROM ct GROUP BY 1),
          |ty AS (SELECT greatest(COUNT(*), 1) AS b2 FROM ct),
          |ad AS (SELECT doc_id,
          |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
          |  FROM documents WHERE doc_id % 3 = 2),
          |t AS (SELECT doc_id, unnest(
          |    [w[i]||' '||w[i+1]||' '||w[i+2]
          |     for i in range(1, greatest(len(w) - 1, 1))])
          |    AS s FROM ad),
          |l AS (SELECT t.doc_id, CASE WHEN cx.c12 IS NULL THEN OOV
          |    ELSE CAST(round(ln(
          |      CAST(greatest(
          |        greatest(4 * COALESCE(kt.c123, 0) - 3, 0)
          |          * (4 * greatest(COALESCE(mid.m2, 0), 1) * ty.b2)
          |        + (3 * cx.fw + 4 * cx.n1) *
          |          (greatest(4 * COALESCE(ct.r23, 0) - 3, 0) * ty.b2
          |           + 3 * COALESCE(mid.g2, 0) * COALESCE(un.rw3, 0)),
          |        1) AS DOUBLE)
          |      / CAST(16 * cx.c12 * greatest(COALESCE(mid.m2, 0), 1)
          |          * ty.b2 AS DOUBLE)) * 1000000, 0)
          |      AS BIGINT) END AS lp
          |  FROM t LEFT JOIN kt USING (s)
          |  LEFT JOIN cx
          |    ON split_part(t.s,' ',1)||' '||split_part(t.s,' ',2)
          |    = cx.b12
          |  LEFT JOIN ct ON split_part(t.s,' ',2) = ct.w2
          |    AND split_part(t.s,' ',3) = ct.w3
          |  LEFT JOIN mid ON split_part(t.s,' ',2) = mid.w2
          |  LEFT JOIN un ON split_part(t.s,' ',3) = un.w3
          |  CROSS JOIN ty)
          |SELECT doc_id, CAST(round(SUM(lp) / (COUNT(*) * 1000.0), 0)
          |    AS BIGINT) AS lp_permille
          |FROM l GROUP BY 1""".stripMargin
          .replace("OOV", TextAnalysis.KnOovLpMicro.toString))),

    // CCNet-style perplexity gate (Wenzek et al. 2020): the kn_logprob
    // scorer as a curation CUT — docs whose mean token log-prob clears
    // the shared floor constant survive (declarable as the
    // `lm_perplexity` SpecLoader stage; [[TextAnalysis.lmPerplexityGate]]
    // is the semi-join form over the same scorer).
    Query("perplexity_gate", (s, dir) =>
      knScores(s, dir).filter(col("lp_permille") >=
        lit(TextAnalysis.LmPerplexityFloorPermille)),
      Oracle(
        // the kn_logprob replay with the gate's HAVING cut; the FLOOR
        // literal is generated from the engine's shared
        // LmPerplexityFloorPermille constant (one-definition discipline)
        (knOracleWith +
        "\nSELECT doc_id, lp_permille FROM lp WHERE lp_permille >= FLOOR")
          .replace("FLOOR", TextAnalysis.LmPerplexityFloorPermille.toString))),

    // domain-distinctive vocabulary: top-5 tokens per source by integer
    // rate-ratio lift, tf floor 5 ([[TextAnalysis.sourceKeyness]]).
    Query("keyness", (s, dir) =>
      TextAnalysis.sourceKeyness(t(s, dir, "documents"), "text", "source",
        k = 5, minTf = 5),
      Oracle("""WITH tok AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |st AS (SELECT source, tok, COUNT(*) AS tf_s FROM tok
        |  WHERE tok <> '' GROUP BY 1, 2),
        |ct AS (SELECT tok, SUM(tf_s) AS tf_c FROM st GROUP BY 1),
        |ns AS (SELECT source, SUM(tf_s) AS n_s FROM st GROUP BY 1),
        |n AS (SELECT SUM(tf_s) AS n_c FROM st),
        |sc AS (SELECT st.source, st.tok, st.tf_s,
        |    (st.tf_s * n.n_c * 1000) // (ct.tf_c * ns.n_s)
        |      AS lift_permille
        |  FROM st JOIN ct USING (tok) JOIN ns USING (source) CROSS JOIN n
        |  WHERE st.tf_s >= 5)
        |SELECT source, tok, tf_s,
        |  CAST(lift_permille AS BIGINT) AS lift_permille FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY lift_permille DESC, tok ASC) AS rn FROM sc)
        |WHERE rn <= 5""".stripMargin)),

    // dependence scorer: mutual information between event type and
    // hour-of-day in integer permille-nats
    // ([[EventAnalytics.mutualInformation]]; marginals re-aggregate from
    // the cells and come back broadcast — no single-partition stage).
    Query("mutual_info", (s, dir) =>
      EventAnalytics.mutualInformation(
        events(s, dir).select(col("event_type").as("et"),
          expr("((ts DIV 1000) DIV 3600000000) % 24").as("hod")),
        "et", "hod"),
      Oracle("""WITH e AS (SELECT event_type AS x,
        |    (epoch_us(ts) // 3600000000) % 24 AS y FROM events),
        |cells AS (SELECT x, y, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |mx AS (SELECT x, SUM(c) AS cx FROM cells GROUP BY 1),
        |my AS (SELECT y, SUM(c) AS cy FROM cells GROUP BY 1),
        |n AS (SELECT SUM(c) AS n FROM cells),
        |q AS (SELECT cells.c,
        |    CAST(round(ln((CAST(cells.c AS DOUBLE) * CAST(n.n AS DOUBLE))
        |      / (CAST(mx.cx AS DOUBLE) * CAST(my.cy AS DOUBLE)))
        |      * 1000000, 0) AS BIGINT) AS q, n.n
        |  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n)
        |SELECT CAST(round(SUM(q * c) / (MAX(n) * 1000.0), 0) AS BIGINT)
        |    AS mi_permille,
        |  CAST(COUNT(*) AS BIGINT) AS n_cells,
        |  CAST(MAX(n) AS BIGINT) AS n_events
        |FROM q""".stripMargin)),

    // feature-selection report: information gain (= mutual information)
    // of each candidate categorical feature against the order-priority
    // target, ranked from ONE unpivoted scan
    // ([[Transforms.infoGainRanking]] — stack → cell counts, broadcast
    // marginals, micro-quantized log terms identical to the twin).
    Query("info_gain", (s, dir) =>
      Transforms.infoGainRanking(
        t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .withColumn("order_year", year(col("o_orderdate"))),
        Seq("c_nationkey", "c_mktsegment", "o_orderstatus", "order_year"),
        "o_orderpriority"),
      Oracle("""WITH base AS (SELECT c_nationkey, c_mktsegment, o_orderstatus,
        |    year(o_orderdate) AS order_year, o_orderpriority AS t
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |u AS (
        |  SELECT 'c_nationkey' AS f, CAST(c_nationkey AS VARCHAR) AS v, t
        |    FROM base
        |  UNION ALL SELECT 'c_mktsegment', c_mktsegment, t FROM base
        |  UNION ALL SELECT 'o_orderstatus', o_orderstatus, t FROM base
        |  UNION ALL SELECT 'order_year', CAST(order_year AS VARCHAR), t
        |    FROM base),
        |cells AS (SELECT f, v, t, COUNT(*) AS c FROM u GROUP BY 1, 2, 3),
        |mv AS (SELECT f, v, SUM(c) AS cv FROM cells GROUP BY 1, 2),
        |mt AS (SELECT f, t, SUM(c) AS ct FROM cells GROUP BY 1, 2),
        |n AS (SELECT f, SUM(c) AS n FROM cells GROUP BY 1),
        |q AS (SELECT cells.f, cells.c,
        |    CAST(round(ln((CAST(cells.c AS DOUBLE) * CAST(n.n AS DOUBLE))
        |      / (CAST(mv.cv AS DOUBLE) * CAST(mt.ct AS DOUBLE)))
        |      * 1000000, 0) AS BIGINT) AS q, n.n
        |  FROM cells JOIN mv USING (f, v) JOIN mt USING (f, t)
        |    JOIN n USING (f))
        |SELECT f AS feature,
        |  CAST(round(SUM(q * c) / (MAX(n) * 1000.0), 0) AS BIGINT)
        |    AS ig_permille,
        |  CAST(COUNT(*) AS BIGINT) AS n_cells
        |FROM q GROUP BY 1""".stripMargin)),

    // time-respecting reachability (temporal 2-hop paths): over the
    // customer/supplier residue graph with edges stamped by order day,
    // count paths a→m→w where the second edge departs WITHIN (0, 7] days
    // AFTER the first arrives — the temporal-network constraint that
    // static reach_2hop ignores. The follow-up-edge probe runs through
    // [[RangeJoin.pointInInterval]] (week-binned equi-join on the middle
    // node + day bin, residual BETWEEN) — never an unbinned per-node
    // cross product, which is quadratic in per-node degree at scale.
    Query("temporal_reach", (s, dir) => {
      val raw = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") % 150).as("x"),
          (col("l_suppkey") % 150).as("y"),
          expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
            .cast("long").as("d"))
      val e = raw.union(raw.select(col("y").as("x"), col("x").as("y"),
          col("d")))
        .filter(col("x") =!= col("y")).distinct()
      val intervals = e.select(col("x").as("a"), col("y").as("m"),
        (col("d") + 1).as("lo"), (col("d") + 7).as("hi"))
      val points = e.select(col("x").as("m"), col("y").as("w"),
        col("d").as("d2"))
      // closing aggregate rides the (a, w) grid: the raw path stream
      // first map-side combines to the node-pair-bounded grid (≤|V|²
      // rows), then n_paths/n_pairs/n_sources are exact aggregates OF
      // the grid — the two countDistincts over the raw stream cost an
      // Expand (3× the rows into the closing shuffle), which at 100×
      // the path volume is the bottleneck (round-13 A/B: warm floor
      // 2.77–2.88 s vs 3.5 s typical at sf0.1, receipts in PLANS.md).
      graft.operators.RangeJoin.pointInInterval(points, intervals,
          "d2", "lo", "hi", binWidth = 7L, keys = Seq("m"))
        .filter(col("w") =!= col("a"))
        .groupBy(col("a"), col("w")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_paths"),
          count(lit(1)).as("n_pairs"),
          countDistinct(col("a")).as("n_sources"))
    },
      Oracle("""WITH raw AS (SELECT o_custkey % 150 AS x, l_suppkey % 150 AS y,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS d
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT DISTINCT x, y, d FROM (
        |    SELECT x, y, d FROM raw UNION ALL SELECT y, x, d FROM raw)
        |  WHERE x <> y)
        |SELECT COUNT(*) AS n_paths,
        |  COUNT(DISTINCT e1.x * 1000 + e2.y) AS n_pairs,
        |  COUNT(DISTINCT e1.x) AS n_sources
        |FROM e e1 JOIN e e2
        |  ON e1.y = e2.x AND e2.d > e1.d AND e2.d <= e1.d + 7
        |    AND e2.y <> e1.x""".stripMargin)),

    // hierarchical ratio-to-parent: each nation's revenue as a permille
    // share of its region (two-level agg + a window over ≤|nations| rows).
    Query("share_of_region", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("r_name"))
      t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
        .withColumn("__rt", sum(col("rev_cents")).over(w))
        .withColumn("share_permille", expr("(rev_cents * 1000) DIV __rt"))
        .drop("__rt")
    },
      Oracle("""WITH rn AS (SELECT r_name, n_name,
        |    CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, rev_cents,
        |  CAST(rev_cents * 1000 // SUM(rev_cents)
        |    OVER (PARTITION BY r_name) AS BIGINT) AS share_permille
        |FROM rn""".stripMargin)),

    // first 3 BPE merge-training steps over the corpus
    // ([[TextAnalysis.bpeMerges]]): corpus scanned once for word counts,
    // then vocabulary-sized iterations; the oracle replays each merge as
    // positional window logic (self-pairs excluded by contract — their
    // run-parity semantics diverge across BPE implementations).
    Query("bpe_merges", (s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", iters = 3),
      Oracle("""WITH wrd AS (SELECT w, COUNT(*) AS freq FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |      AS w FROM documents) WHERE w <> '' GROUP BY 1),
        |t1 AS (SELECT w AS word, freq,
        |    unnest(string_split(w, '')) AS sym,
        |    generate_subscripts(string_split(w, ''), 1) AS pos FROM wrd),
        |p1 AS (SELECT x.sym AS px, y.sym AS py, SUM(x.freq) AS cnt
        |  FROM t1 x JOIN t1 y ON x.word = y.word AND y.pos = x.pos + 1
        |  WHERE x.sym <> y.sym GROUP BY 1, 2),
        |b1 AS (SELECT px, py, cnt FROM p1
        |  ORDER BY cnt DESC, px, py LIMIT 1),
        |m1 AS (SELECT word, freq, pos, sym, COALESCE(
        |    sym = (SELECT px FROM b1) AND
        |    lead(sym) OVER (PARTITION BY word ORDER BY pos)
        |      = (SELECT py FROM b1), false) AS st FROM t1),
        |m1b AS (SELECT word, freq, pos, sym, st, COALESCE(
        |    lag(st) OVER (PARTITION BY word ORDER BY pos), false) AS pst
        |  FROM m1),
        |s2 AS (SELECT word, freq, string_agg(CASE WHEN st
        |      THEN (SELECT px FROM b1) || (SELECT py FROM b1)
        |      ELSE sym END, ' ' ORDER BY pos) AS seq
        |  FROM m1b WHERE NOT pst GROUP BY 1, 2),
        |t2 AS (SELECT word, freq,
        |    unnest(string_split(seq, ' ')) AS sym,
        |    generate_subscripts(string_split(seq, ' '), 1) AS pos FROM s2),
        |p2 AS (SELECT x.sym AS px, y.sym AS py, SUM(x.freq) AS cnt
        |  FROM t2 x JOIN t2 y ON x.word = y.word AND y.pos = x.pos + 1
        |  WHERE x.sym <> y.sym GROUP BY 1, 2),
        |b2 AS (SELECT px, py, cnt FROM p2
        |  ORDER BY cnt DESC, px, py LIMIT 1),
        |m2 AS (SELECT word, freq, pos, sym, COALESCE(
        |    sym = (SELECT px FROM b2) AND
        |    lead(sym) OVER (PARTITION BY word ORDER BY pos)
        |      = (SELECT py FROM b2), false) AS st FROM t2),
        |m2b AS (SELECT word, freq, pos, sym, st, COALESCE(
        |    lag(st) OVER (PARTITION BY word ORDER BY pos), false) AS pst
        |  FROM m2),
        |s3 AS (SELECT word, freq, string_agg(CASE WHEN st
        |      THEN (SELECT px FROM b2) || (SELECT py FROM b2)
        |      ELSE sym END, ' ' ORDER BY pos) AS seq
        |  FROM m2b WHERE NOT pst GROUP BY 1, 2),
        |t3 AS (SELECT word, freq,
        |    unnest(string_split(seq, ' ')) AS sym,
        |    generate_subscripts(string_split(seq, ' '), 1) AS pos FROM s3),
        |p3 AS (SELECT x.sym AS px, y.sym AS py, SUM(x.freq) AS cnt
        |  FROM t3 x JOIN t3 y ON x.word = y.word AND y.pos = x.pos + 1
        |  WHERE x.sym <> y.sym GROUP BY 1, 2),
        |b3 AS (SELECT px, py, cnt FROM p3
        |  ORDER BY cnt DESC, px, py LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS iter, px || ' ' || py AS pair,
        |  CAST(cnt AS BIGINT) AS freq FROM b1
        |UNION ALL SELECT CAST(2 AS BIGINT), px || ' ' || py,
        |  CAST(cnt AS BIGINT) FROM b2
        |UNION ALL SELECT CAST(3 AS BIGINT), px || ' ' || py,
        |  CAST(cnt AS BIGINT) FROM b3""".stripMargin)),

    // transposition-tolerant entity matching: Jaro-Winkler ≥ 0.8 within
    // brand blocks over a part-name subset ([[Dedup.blockedJaroWinkler]],
    // native expression pinned to DuckDB's independent implementation —
    // the oracle IS the cross-check).
    Query("jw_pairs", (s, dir) =>
      Dedup.blockedJaroWinkler(
        t(s, dir, "part").filter(col("p_partkey") % 10 === 1)
          .select(col("p_brand"), col("p_name"), col("p_partkey")),
        "p_brand", "p_name", "p_partkey", minPermille = 800),
      Oracle("""WITH v AS (SELECT p_brand AS blk, p_name AS s, p_partkey AS id
        |  FROM part WHERE p_partkey % 10 = 1)
        |SELECT a, b, jw_permille FROM (
        |  SELECT x.id AS a, y.id AS b,
        |    CAST(round(jaro_winkler_similarity(x.s, y.s) * 1000, 0)
        |      AS BIGINT) AS jw_permille
        |  FROM v x JOIN v y ON x.blk = y.blk AND x.id < y.id)
        |WHERE jw_permille >= 800""".stripMargin)),

    // the Fellegi–Sunter THREE-WAY DECISION (the model's actual
    // contribution beyond scoring): candidate pairs banded into
    // link / clerical-review / non-link by upper/lower score
    // thresholds, with band counts and exact score extrema — the
    // operating table an ER deployment tunes.
    Query("fs_bands", (s, dir) => {
      val slice = t(s, dir, "part").filter(col("p_partkey") % 10 === 2)
        .select(col("p_brand"), col("p_name"), col("p_type"),
          expr("p_size DIV 10").as("size_band"), col("p_partkey"))
      val scored = Dedup.fellegiSunter(slice, "p_brand", "p_partkey", Seq(
        (round(graft.functions.JaroWinkler(
            col("x.p_name"), col("y.p_name")) * 1000)
          .cast("long") >= 850, 0.9, 0.1),
        (col("x.p_type") === col("y.p_type"), 0.95, 0.2),
        (col("x.size_band") === col("y.size_band"), 0.9, 0.2)),
        minScoreMicro = Long.MinValue)
      scored.withColumn("band",
          when(col("score_micro") >= 2000000L, "link")
            .when(col("score_micro") >= 0L, "review")
            .otherwise("non-link"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("score_micro")).as("min_score"),
          max(col("score_micro")).as("max_score"))
    },
      Oracle {
        val (waN, wdN) = Dedup.fsWeightsMicro(0.9, 0.1)
        val (waT, wdT) = Dedup.fsWeightsMicro(0.95, 0.2)
        val (waS, wdS) = Dedup.fsWeightsMicro(0.9, 0.2)
        s"""WITH v AS (SELECT p_brand, p_name, p_type,
          |    p_size // 10 AS size_band, p_partkey
          |  FROM part WHERE p_partkey % 10 = 2),
          |sc AS (SELECT
          |    CAST((CASE WHEN CAST(round(jaro_winkler_similarity(x.p_name,
          |        y.p_name) * 1000, 0) AS BIGINT) >= 850
          |      THEN $waN ELSE $wdN END)
          |      + (CASE WHEN x.p_type = y.p_type THEN $waT ELSE $wdT END)
          |      + (CASE WHEN x.size_band = y.size_band
          |        THEN $waS ELSE $wdS END) AS BIGINT) AS score_micro
          |  FROM v x JOIN v y
          |    ON x.p_brand = y.p_brand AND x.p_partkey < y.p_partkey)
          |SELECT CASE WHEN score_micro >= 2000000 THEN 'link'
          |    WHEN score_micro >= 0 THEN 'review'
          |    ELSE 'non-link' END AS band,
          |  COUNT(*) AS n_pairs,
          |  MIN(score_micro) AS min_score, MAX(score_micro) AS max_score
          |FROM sc GROUP BY 1""".stripMargin
      }),

    // probabilistic record linkage (Fellegi–Sunter): brand-blocked part
    // pairs scored by summed log-likelihood-ratio field weights — name
    // Jaro-Winkler ≥ 0.85, exact type, size decade — with the m/u weights
    // computed ONCE on the driver in integer micros
    // ([[Dedup.fellegiSunter]]); the oracle embeds the identical weight
    // literals (the planeLit pattern), so no float log runs on either
    // distributed side.
    Query("fs_linkage", (s, dir) => {
      val slice = t(s, dir, "part").filter(col("p_partkey") % 10 === 2)
        .select(col("p_brand"), col("p_name"), col("p_type"),
          expr("p_size DIV 10").as("size_band"), col("p_partkey"))
      Dedup.fellegiSunter(slice, "p_brand", "p_partkey", Seq(
        (round(graft.functions.JaroWinkler(
            col("x.p_name"), col("y.p_name")) * 1000)
          .cast("long") >= 850, 0.9, 0.1),
        (col("x.p_type") === col("y.p_type"), 0.95, 0.2),
        (col("x.size_band") === col("y.size_band"), 0.9, 0.2)),
        minScoreMicro = 0L)
    },
      Oracle {
        val (waN, wdN) = Dedup.fsWeightsMicro(0.9, 0.1)
        val (waT, wdT) = Dedup.fsWeightsMicro(0.95, 0.2)
        val (waS, wdS) = Dedup.fsWeightsMicro(0.9, 0.2)
        s"""WITH v AS (SELECT p_brand, p_name, p_type,
          |    p_size // 10 AS size_band, p_partkey
          |  FROM part WHERE p_partkey % 10 = 2),
          |cand AS (SELECT x.p_partkey AS a, y.p_partkey AS b,
          |    CAST(round(jaro_winkler_similarity(x.p_name, y.p_name) * 1000,
          |      0) AS BIGINT) >= 850 AS ag_name,
          |    x.p_type = y.p_type AS ag_type,
          |    x.size_band = y.size_band AS ag_size
          |  FROM v x JOIN v y
          |    ON x.p_brand = y.p_brand AND x.p_partkey < y.p_partkey)
          |SELECT a, b, score_micro, n_agree FROM (
          |  SELECT a, b,
          |    CAST((CASE WHEN ag_name THEN $waN ELSE $wdN END)
          |      + (CASE WHEN ag_type THEN $waT ELSE $wdT END)
          |      + (CASE WHEN ag_size THEN $waS ELSE $wdS END) AS BIGINT)
          |      AS score_micro,
          |    CAST((CASE WHEN ag_name THEN 1 ELSE 0 END)
          |      + (CASE WHEN ag_type THEN 1 ELSE 0 END)
          |      + (CASE WHEN ag_size THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_agree
          |  FROM cand)
          |WHERE score_micro >= 0""".stripMargin
      }),

    // sorted-neighborhood dedup: sort part names within a 1-char prefix
    // block, pair each with its next 3 neighbors in sort order, verify
    // with exact Levenshtein — candidate volume is exactly 3n, found
    // without any key equality (complements fuzzy_pairs' key blocking).
    Query("sorted_neighbors", (s, dir) =>
      Dedup.sortedNeighborPairs(t(s, dir, "part"),
        substring(col("p_name"), 1, 1), col("p_name"),
        "p_name", "p_partkey", window = 3, maxDist = 4),
      Oracle("""WITH v AS (SELECT p_partkey AS id, p_name AS s,
        |    substr(p_name, 1, 1) AS blk FROM part),
        |l AS (
        |  SELECT id, s,
        |    lead(id, 1) OVER (PARTITION BY blk ORDER BY s, id) AS nid1,
        |    lead(s, 1)  OVER (PARTITION BY blk ORDER BY s, id) AS ns1,
        |    lead(id, 2) OVER (PARTITION BY blk ORDER BY s, id) AS nid2,
        |    lead(s, 2)  OVER (PARTITION BY blk ORDER BY s, id) AS ns2,
        |    lead(id, 3) OVER (PARTITION BY blk ORDER BY s, id) AS nid3,
        |    lead(s, 3)  OVER (PARTITION BY blk ORDER BY s, id) AS ns3
        |  FROM v),
        |n AS (
        |  SELECT id, s, nid1 AS nid, ns1 AS ns FROM l
        |  UNION ALL SELECT id, s, nid2, ns2 FROM l
        |  UNION ALL SELECT id, s, nid3, ns3 FROM l)
        |SELECT id AS a, nid AS b,
        |  CAST(levenshtein(s, ns) AS BIGINT) AS edit_dist
        |FROM n
        |WHERE nid IS NOT NULL AND levenshtein(s, ns) <= 4""".stripMargin))
  )

  /** `quality_margin`'s curated-tier proxy: the source whitelist whose
    * docs train the `hq` class — defined once, generated into the
    * oracle's CASE (one-definition discipline). */
  private val QualityHqSources: Seq[String] =
    (0 to 4).map(i => s"src$i")

  /** Shared Kneser-Ney replay prefix (WITH … lp) for the kn oracle
    * family — kn_logprob / perplexity_gate / perplexity_buckets all read
    * the SAME scoring pipeline (mirroring the engine's knScores memo);
    * one definition so a replay change cannot desynchronize a member. */
  private val knOracleWith: String =
    """WITH d AS (SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |  FROM documents),
      |t AS (SELECT doc_id, unnest(
      |    [w[i]||' '||w[i+1] for i in range(1, greatest(len(w), 1))])
      |    AS s FROM d),
      |b AS (SELECT s, split_part(s, ' ', 1) AS w1,
      |    split_part(s, ' ', 2) AS w2, COUNT(*) AS c12
      |  FROM t GROUP BY 1, 2, 3),
      |f AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS fw FROM b GROUP BY 1),
      |r AS (SELECT w2, COUNT(*) AS rw FROM b GROUP BY 1),
      |ty AS (SELECT COUNT(*) AS bb FROM b),
      |l AS (SELECT doc_id, CAST(round(ln(
      |      CAST(greatest(4 * b.c12 - 3, 0) * ty.bb + 3 * f.fw * r.rw
      |        AS DOUBLE)
      |      / CAST(4 * f.c1 * ty.bb AS DOUBLE)) * 1000000, 0)
      |      AS BIGINT) AS lp
      |  FROM t JOIN b USING (s) JOIN f USING (w1) JOIN r USING (w2)
      |  CROSS JOIN ty),
      |lp AS (SELECT doc_id, CAST(round(SUM(lp) / (COUNT(*) * 1000.0), 0)
      |    AS BIGINT) AS lp_permille
      |  FROM l GROUP BY 1)""".stripMargin
}
