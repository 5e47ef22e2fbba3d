package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting. All are
  * single-pass column expressions (no shuffle, fully codegen'd) — at 100 TB
  * these run fused into the document scan, which is the only acceptable
  * shape for per-document featurization.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish subword-ish token count: runs of letters, runs of digits, or a
    * single other non-space symbol — the standard cheap proxy regex. */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately SQL-expressible so the DuckDB oracle can mirror
    * the exact scoring. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "de" -> Seq("der", "und", "die", "das", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans"),
    "es" -> Seq("el", "la", "los", "de", "que", "es", "una", "por"),
    "zh" -> Seq("de5", "le5", "shi4", "bu4", "wo3", "zai4", "you3", "he2"))

  /** Stopword-hit count: every occurrence counts. Native single-pass
    * byte-scan ([[graft.functions.TokenSetCount]]) — it fuses the
    * lowercase + whitespace-split + set-membership chain into one loop,
    * because language-ID evaluates five of these per document and quality
    * scoring a sixth, and each composed copy would re-lowercase and
    * re-regex-split the text (FilterExec codegen has no subexpression
    * elimination). Counting semantics identical to
    * `CountInSet(wsTokens(lower(text)), words)`. */
  def langScore(text: Column, words: Seq[String]): Column =
    graft.functions.TokenSetCount(text, words)

  /** Language-ID: argmax of stopword-hit counts, ties broken by the fixed
    * language order above; no hits at all → "und" (undetermined). */
  def langId(text: Column): Column = {
    val scores = stopwords.map { case (l, ws) => l -> langScore(text, ws) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((l, s), els) =>
      when(best > 0 && s === best, lit(l)).otherwise(els)
    }
  }

  /** Punctuation count (chars outside letters/digits/whitespace). */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))

  /** Quality score in [0, 1000] (integer, so the oracle compare is exact):
    * rewards stopword presence and moderate length, penalizes punctuation
    * soup. A deterministic, documented formula — the point is the plumbing
    * (single-pass scoring at scale), not linguistic truth. */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val stop = langScore(text, stopwords.flatMap(_._2)).cast("double")
    val punct = punctCount(text).cast("double")
    val lenScore = least(n / lit(100.0), lit(1.0))
    val stopScore = least(stop / greatest(n, lit(1.0)) * lit(5.0), lit(1.0))
    val punctPenalty = least(punct / greatest(length(text), lit(1)).cast("double")
      * lit(4.0), lit(1.0))
    round((lenScore * lit(0.4) + stopScore * lit(0.4) +
      (lit(1.0) - punctPenalty) * lit(0.2)) * lit(1000)).cast("long")
  }

  /** Rolling-hash document fingerprint (winnowing-lite): min of xxhash64
    * over all character 8-grams. Equal fingerprints ⇒ likely shared content;
    * used as a cheap pre-cluster key before pairwise near-dup checks. */
  def fingerprint(text: Column, k: Int = 8): Column = {
    val idx = sequence(lit(1), greatest(length(text) - lit(k - 1), lit(1)))
    array_min(transform(idx, i => xxhash64(text.substr(i, lit(k)))))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, §2 —
    * the MOSS algorithm; [[fingerprint]]'s sparse sibling): hash every
    * character `k`-gram, slide a window of `w` consecutive hashes, and
    * in each window select the minimum (rightmost position on ties —
    * the paper's rule, encoded as min over (hash, −pos) structs), then
    * keep each selected (hash, pos) once. Guarantees: any shared
    * substring of length ≥ k + w − 1 yields at least one shared
    * fingerprint, and the density is ~2/(w+1) — the local, position-
    * robust dedup/plagiarism key a full min-hash can't give.
    *
    * Shape: one position posexplode (gram hashes are a codegen'd
    * substring+xxhash64 projection, never an interpreted lambda) and
    * ONE id-keyed window pass. The per-position selection rule replaces
    * per-window scans: with run lengths capped at w−1,
    *   a = consecutive left neighbors with h ≥ h_p,
    *   b = consecutive right neighbors with h > h_p  (the ≥/> split IS
    *       the rightmost tie-break),
    * position p is some window's pick ⟺ a + b ≥ min(w, m) − 1 (m = doc
    * gram count; the min handles the < w-gram whole-doc window). O(1)
    * work per position off 2(w−1) lag/lead columns — the first form
    * (nested interpreted transforms building w-struct arrays per
    * window) cost 26.9 s at sf0.1; this one runs in ~2 s. Docs shorter
    * than k contribute their single short gram. Returns (id, pos, fp),
    * pos the 1-based gram start. */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2 && k <= 64, s"k=$k out of range")
    require(w >= 2 && w <= 64, s"w=$w out of range")
    // input-split rebalance before the per-CHARACTER-position explode
    // (r17, the shingleStream discipline): the keyed exchange moves raw
    // doc rows once — strictly less than the char-position stream the
    // byDoc window would otherwise shuffle — and parallelizes the
    // substring-hash work a one-row-group input would serialize
    val pos = Transforms.keyedInputRebalance(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"), col("__t"),
        // m is per-doc constant and scan-derivable — carrying it beats a
        // second whole-partition count window downstream
        expr(s"greatest(length(__t) - ${k - 1}, 1)").cast("long")
          .as("__m"),
        posexplode(expr(
          s"sequence(1, greatest(length(__t) - ${k - 1}, 1))"))
          .as(Seq("__i", "pos")))
      .select(col("id"), col("__m"), col("pos").cast("long").as("pos"),
        xxhash64(expr(s"substring(__t, pos, $k)")).as("h"))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    // a: capped count of consecutive left neighbors with h >= h_p;
    // nulls (edge) stop the run — the boundary cap for free
    def run(neigh: Int => Column, strict: Boolean): Column =
      (1 until w).map { j =>
        val cmp = (1 to j).map(i =>
          if (strict) neigh(i) > col("h") else neigh(i) >= col("h"))
          .reduce(_ && _)
        when(cmp, 1).otherwise(0)
      }.reduce(_ + _)
    val a = run(j => lag(col("h"), j).over(byDoc), strict = false)
    val b = run(j => lead(col("h"), j).over(byDoc), strict = true)
    pos
      .withColumn("__sel",
        (a + b) >= (least(lit(w.toLong), col("__m")) - 1L))
      .filter(col("__sel"))
      .select(col("id"), col("pos"), col("h").as("fp"))
  }

  /** Duplicate-token fraction (permille): 1000·(n − n_distinct)/n — the
    * cheap Gopher-style repetitiousness gate. Single-pass expression, no
    * shuffle; empty text → 0. */
  def dupTokenPermille(text: Column): Column = {
    val toks = wsTokens(lower(text))
    val n = size(toks).cast("double")
    round((n - size(array_distinct(toks)).cast("double")) * lit(1000.0) /
      greatest(n, lit(1.0))).cast("long")
  }

  /** Top-bigram concentration per doc (permille of all bigram occurrences
    * taken by the most frequent one) — the Gopher "top n-gram fraction"
    * repetition signal. Shape: explode bigrams → count per (doc, bigram) →
    * max/total per doc; two hash shuffles on the doc id, counts only (no
    * text) past the first aggregate. Docs with < 2 tokens emit no row
    * (they have no bigrams). */
  def topBigramConcentration(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Same input-split rebalance + exchange-reuse shape as shingleInv:
    // repartition raw docs by id; both aggregates then cluster on id.
    val tok = Transforms.keyedInputRebalance(
        df.select(col(idCol).as("id"), col(textCol).as("__text")),
        col("id"))
      .select(col("id"),
        posexplode(wsTokens(lower(col("__text")))).as(Seq("pos", "w")))
    val wspec = Window.partitionBy("id").orderBy("pos")
    val bg = tok.select(col("id"),
        concat_ws(" ", col("w"), lead(col("w"), 1).over(wspec)).as("g"),
        lead(col("w"), 1).over(wspec).isNotNull.as("ok"))
      .filter(col("ok"))
    bg.groupBy("id", "g").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(max(col("c")).as("maxc"), sum(col("c")).as("tot"))
      .select(col("id").as(idCol),
        round(col("maxc") * lit(1000.0) / col("tot")).cast("long")
          .as("top_bigram_permille"))
  }

  /** Deterministic content-hash split assignment (train/val/test by the
    * first hex nibble of md5(text): 12/2/2 of 16). Content-keyed — exact
    * duplicates always land in the same split, so near-version leakage
    * across splits is bounded by the dedup stage, not row order. Pure
    * column expression: stable under repartitioning, reshuffling, reruns. */
  def hashSplit(text: Column): Column = {
    val nibble = substring(md5(text), 1, 1)
    when(nibble < "c", "train").when(nibble < "e", "val").otherwise("test")
  }

  /** Canonical text normalization for dedup keying: lowercase, collapse
    * every run of non-alphanumerics to a single space, trim. Two docs that
    * differ only in case, punctuation, or whitespace map to the same
    * canonical form — the pre-pass that makes exact-hash dedup catch
    * trivial variants before the expensive near-dup tiers run. Single fused
    * regex pass, pure column expression (codegen'd, zero shuffle); the
    * character class is ASCII-only so Java regex and RE2 (the oracle's
    * engine) agree byte-for-byte. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Email pattern kept to constructs with identical semantics in Java
    * regex and RE2 (so engine and oracle agree byte-for-byte). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Count of email-shaped spans in `text`. */
  def piiEmailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0)))

  /** `text` with every email-shaped span replaced by `[EMAIL]` — the
    * standard single-pass PII scrub stage; zero shuffle, fused into the
    * scan like the other per-document featurizers. */
  def piiRedact(text: Column): Column =
    regexp_replace(text, emailPattern, "[EMAIL]")

  /** Sliding-window document chunking: token windows of `width` starting
    * every `stride` tokens (stride < width ⇒ overlap) — the
    * context-window chunking stage of a training pipeline. Emits one row
    * per chunk as (chunk_start [1-based token index], chunk text).
    * Single-pass per document (array ops fused into the scan); the
    * explode multiplies rows by ~n_tokens/stride, after which chunk rows
    * flow on independently. */
  def chunkDocs(df: DataFrame, textCol: String, idCol: String,
      width: Int, stride: Int): DataFrame = {
    require(width > 0 && stride > 0, s"width=$width stride=$stride must be positive")
    val toks = wsTokens(col(textCol))
    val starts = sequence(lit(1), greatest(size(toks), lit(1)), lit(stride))
    val chunks = transform(starts, st =>
      struct(st.as("st"),
        concat_ws(" ", slice(toks, st, lit(width))).as("ch")))
    df.select(col(idCol), explode(chunks).as("c"))
      .select(col(idCol), col("c.st").as("chunk_start"),
        col("c.ch").as("chunk"))
  }

  /** Global top-k vocabulary by token count: one explode + one map-side-
    * combined count aggregate; the top-k is a TakeOrderedAndProject (per-
    * partition heaps + driver merge), never a global sort. Ties broken by
    * token ascending for determinism. */
  def vocabTopK(df: DataFrame, textCol: String, k: Int): DataFrame =
    vocabTopKFromCounts(
      df.select(explode(wsTokens(lower(col(textCol)))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c")), k)

  /** [[vocabTopK]] over a pre-aggregated corpus unigram-count table
    * (w, c) — the round-16 shared-count form (the bigram memo's unigram
    * sibling; counts are a pure aggregate of the same token stream). */
  def vocabTopKFromCounts(uniCounts: DataFrame, k: Int): DataFrame =
    uniCounts.select(col("w"), col("c").as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(k)

  /** Out-of-vocabulary rate per group: the share of token OCCURRENCES not
    * covered by the corpus-wide top-k vocabulary — the coverage check run
    * before freezing a tokenizer or a stopword list ("how much of source X
    * does a 50k vocab actually explain"). Integer permille.
    *
    * Scale shape: the corpus tokenizes ONCE into (group, token) counts
    * (map-side combined, then checkpointed so neither consumer replays
    * the explode — the [[sourceKeyness]] discipline); the vocabulary is a
    * re-aggregate of those counts (`TakeOrderedAndProject`, never a
    * global sort) and broadcasts back as a k-row build side. Only counts
    * move after tokenization — token rows never shuffle twice. */
  def oovRate(df: DataFrame, textCol: String, groupCol: String,
      k: Int): DataFrame = {
    val counts = df
      .select(col(groupCol), explode(wsTokens(lower(col(textCol)))).as("w"))
      .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("__n"))
      .localCheckpoint()
    val vocab = counts.groupBy(col("w")).agg(sum(col("__n")).as("__vn"))
      .orderBy(col("__vn").desc, col("w").asc).limit(k)
      .select(col("w"), lit(1).as("__in"))
    counts.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col(groupCol))
      .agg(sum(col("__n")).as("n_tokens"),
        sum(when(col("__in").isNull, col("__n")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_permille", expr("n_oov * 1000 DIV n_tokens"))
  }

  /** Corpus readability (Automated Readability Index) per group, in
    * integer centi-points: per document, exact (non-space chars, words,
    * sentence-boundary runs) counts; per group, their sums feed the ARI
    * formula
    *
    *   4.71·chars/words + 0.5·words/sentences − 21.43
    *
    * as ONE double expression quantized to centi-points — the
    * grade-level lens a curation pipeline uses alongside
    * [[qualityExprs quality scoring]]. Sentence runs count non-empty
    * [.!?]+ matches with a floor of 1 per document (headlines et al.),
    * so the denominator never zeroes; documents with no words are
    * excluded from the group sums (they have no defined grade).
    *
    * Scale shape: counts are codegen'd per-row projections; ONE
    * partial-combined aggregate per group — no token rows ever move. */
  def readability(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val chars = length(regexp_replace(col(textCol), "\\s", ""))
    val words = tokenCount(col(textCol))
    val sentences = greatest(
      expr(s"regexp_count($textCol, '[.!?]+')"), lit(1))
    df.select(col(groupCol), chars.cast("long").as("__c"),
        words.cast("long").as("__w"), sentences.cast("long").as("__s"))
      .filter(col("__w") > 0)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("n_chars"),
        sum(col("__w")).as("n_words"), sum(col("__s")).as("n_sentences"))
      .withColumn("ari_centi", expr(
        "CAST(round((4.71 * n_chars / n_words + " +
        "0.5 * n_words / n_sentences - 21.43) * 100, 0) AS BIGINT)"))
  }

  /** Global top-k bigrams (n-gram LM / boilerplate surfacing): adjacent
    * token pairs are built ARRAY-SIDE — `zip_with` over the two shifted
    * slices of the token array, fully codegen'd — so no positional
    * self-join and no window ever touches per-token rows; the rest is the
    * same map-side-combined count + `TakeOrderedAndProject` as
    * [[vocabTopK]]. Only (bigram, partial-count) pairs shuffle. */
  def bigramTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val toks = wsTokens(lower(col(textCol)))
    val n1 = greatest(size(toks) - 1, lit(0))
    val bigrams = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (a, b) => concat(a, lit(" "), b))
    df.select(explode(bigrams).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bg").asc)
      .limit(k)
  }

  /** [[bigramTopK]] over a pre-aggregated corpus bigram-count table
    * (s, c12) — see [[knLogProbFromCounts]]. Identical counts: the
    * array-side zip_with bigrams and the shingle-stream bigrams are the
    * same adjacent-pair multiset under the same whitespace tokenization
    * (lower∘trim ≡ trim∘lower on whitespace structure), space-joined
    * identically. */
  def bigramTopKFromCounts(bigCounts: DataFrame, k: Int): DataFrame =
    bigCounts.select(col("s").as("bg"), col("c12").as("n"))
      .orderBy(col("n").desc, col("bg").asc)
      .limit(k)

  /** PMI collocations: the top-k adjacent token pairs by pointwise mutual
    * information — `pmi(x,y) = ln(c_xy·N / (c_x·…·c_…y))` with marginals
    * and N taken FROM the bigram-event table itself (self-contained, no
    * mixed denominators) — the classic collocation extractor ("new york"
    * scores high where "of the" scores ~0 despite a bigger raw count,
    * which is exactly what [[bigramTopK]] can't see). Quantized-ln
    * permille discipline as [[EventAnalytics.mutualInformation]]; a
    * minimum pair count floors out hapax pairs whose PMI is maximal by
    * construction.
    *
    * Scale: one corpus-sized explode into the pair aggregate (the
    * bigrams are built array-side, zero positional joins); the pair
    * table is checkpointed once (vocab²-bounded, typically vocab-sized)
    * and both marginals re-aggregate from it, broadcast back; top-k is
    * `TakeOrderedAndProject`. */
  def pmiCollocations(df: DataFrame, textCol: String, k: Int,
      minCount: Int): DataFrame = {
    val toks = wsTokens(lower(col(textCol)))
    val n1 = greatest(size(toks) - 1, lit(0))
    val prs = arrays_zip(slice(toks, lit(1), n1), slice(toks, lit(2), n1))
    pmiFromCells(df.select(explode(prs).as("p"))
      .select(col("p.0").as("x"), col("p.1").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
      .localCheckpoint(), k, minCount)
  }

  /** [[pmiCollocations]] over a pre-aggregated (already materialized)
    * corpus bigram-count table (s, c12) — see [[knLogProbFromCounts]]
    * and the count-identity note on [[bigramTopKFromCounts]]; the
    * (x, y) split of the space-joined key is bijective because tokens
    * contain no whitespace. */
  def pmiCollocationsFromCounts(bigCounts: DataFrame, k: Int,
      minCount: Int): DataFrame =
    pmiFromCells(bigCounts.select(
      substring_index(col("s"), " ", 1).as("x"),
      substring_index(col("s"), " ", -1).as("y"),
      col("c12").as("c")), k, minCount)

  private def pmiFromCells(cells: DataFrame, k: Int,
      minCount: Int): DataFrame = {
    val left = cells.groupBy(col("x")).agg(sum(col("c")).as("cx"))
    val right = cells.groupBy(col("y")).agg(sum(col("c")).as("cy"))
    val n = cells.agg(sum(col("c")).as("n"))
    cells.filter(col("c") >= minCount)
      .join(broadcast(left), "x")
      .join(broadcast(right), "y")
      .crossJoin(broadcast(n))
      .withColumn("pmi_permille", expr(
        "CAST(round(ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE)) / " +
          "(CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))) * 1000, 0) " +
          "AS BIGINT)"))
      .select(concat(col("x"), lit(" "), col("y")).as("bigram"),
        col("c"), col("pmi_permille"))
      .orderBy(col("pmi_permille").desc, col("bigram").asc)
      .limit(k)
  }

  /** 4-hex-digit md5-prefix threshold for [[sampleByHash]]:
    * `substr(md5(key),1,4) < threshold` keeps
    * ⌊rate‰ · 65536 / 1000⌋ / 65536 of rows. Lowercase hex compares
    * lexicographically == numerically, so the SAME string constant works
    * in Spark and in the DuckDB oracle (the SQL is generated from this). */
  def hashSampleThreshold(ratePermille: Int): String = {
    require(ratePermille >= 0 && ratePermille < 1000,
      s"ratePermille=$ratePermille must be in [0, 1000); use no filter for keep-all")
    f"${(ratePermille.toLong * 65536L) / 1000L}%04x"
  }

  /** Deterministic content-hash sampling predicate: keep a row iff the
    * first 16 bits of md5(key) fall under the rate's threshold. The same
    * properties as [[hashSplit]] — pure column expression fused into the
    * scan (no shuffle, no RNG state), stable under repartitioning and
    * reruns, and content-keyed so exact duplicates sample identically. */
  def sampleByHash(key: Column, ratePermille: Int): Column =
    if (ratePermille >= 1000) lit(true)
    else substring(md5(key), 1, 4) < lit(hashSampleThreshold(ratePermille))

  /** CCNet-style unigram log-probability quality signal: score each doc by
    * the mean corpus log-probability of its tokens (well-formed prose
    * scores high; gibberish and rare-token soup score low). Two passes
    * over the exploded tokens, both riding ONE exchange on the token —
    * `repartition(w)` feeds the count aggregate AND the token→count join,
    * so AQE computes the explode once (same exchange-reuse shape as the
    * shingle self-join) — then one partial-combined aggregate on doc id.
    * The corpus total rides a broadcast single-row cross join.
    *
    * Oracle-parity discipline: per-token log-probs are rounded to
    * integer MICROs first and summed as longs — integer sums are
    * order-independent, so distributed vs sequential accumulation can
    * never drift a rounding boundary (a raw double `avg` could). The
    * per-doc mean divides two exact integers at the end. */
  def unigramLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame =
    unigramLogProbFromCounts(df, textCol, idCol,
      df.select(explode(wsTokens(lower(col(textCol)))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c")))

  /** [[unigramLogProb]] over a pre-aggregated corpus unigram-count
    * table (w, c) — see [[vocabTopKFromCounts]]; only the per-doc
    * scoring stream is re-tokenized. */
  def unigramLogProbFromCounts(df: DataFrame, textCol: String,
      idCol: String, counts: DataFrame): DataFrame = {
    val tok = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .select(col("id"), explode(wsTokens(lower(col("__text")))).as("w"))
      .repartition(col("w"))
    val total = broadcast(counts.agg(sum(col("c")).as("t")))
    tok.join(counts, Seq("w")).crossJoin(total)
      .select(col("id"),
        round(log(col("c").cast("double") / col("t").cast("double"))
          * lit(1000000)).cast("long").as("lp_micro"))
      .groupBy("id")
      .agg(round(sum(col("lp_micro")) / (count(lit(1)) * lit(1000.0)))
        .cast("long").as("lp_permille"))
      .select(col("id").as(idCol), col("lp_permille"))
  }

  /** Interpolated Kneser-Ney bigram LM score per document (Chen &
    * Goodman 1999 — the KenLM smoothing family CCNet's perplexity filter
    * uses; one level above [[unigramLogProb]] and the add-1 bigram
    * query). With discount d = 3/4 the smoothed probability is a ratio
    * of exact integers,
    *   P(w2|w1) = [max(4·c12 − 3, 0)·B + 3·f(w1)·r(w2)] / (4·c1·B)
    * with f = distinct followers of w1 (λ's numerator), r = distinct
    * predecessors of w2 (the continuation count), c1 = bigram tokens
    * starting with w1, B = distinct bigram types — so only the final ln
    * is quantized (micros) and the per-doc sum is order-independent
    * (the [[unigramLogProb]] oracle-parity discipline).
    *
    * Shape: one bigram stream; f, r, B are aggregates OF the
    * vocab-sized bigram-count table, never the corpus; B rides a 1-row
    * broadcast. Returns (idCol, lp_permille) — mean token log-prob. */
  def knLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame =
    knLogProbFromCounts(df, textCol, idCol,
      Dedup.shingleStream(df, textCol, idCol, n = 2)
        .groupBy(col("s")).agg(count(lit(1)).as("c12")))

  /** [[knLogProb]] over a PRE-AGGREGATED corpus bigram-count table
    * (s, c12) — the round-16 shared-count form: the whole bigram-LM
    * family (add-1, KN, pruned-KN, entropy, top-k, PMI, suggest) reads
    * ONE memoized count table instead of each re-running the
    * corpus-width tokenize+window+count (guide §2.4; the counts are a
    * pure aggregate of the same stream, so scores are unchanged). */
  def knLogProbFromCounts(df: DataFrame, textCol: String, idCol: String,
      bigCounts: DataFrame): DataFrame = {
    val tok = Dedup.shingleStream(df, textCol, idCol, n = 2)
      .select(col("id"), col("s"))
    val big = bigCounts
      .withColumn("w1", substring_index(col("s"), " ", 1))
      .withColumn("w2", substring_index(col("s"), " ", -1))
    val fol = big.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("fw"))
    val pre = big.groupBy(col("w2")).agg(count(lit(1)).as("rw"))
    val types = broadcast(big.agg(count(lit(1)).as("__b")))
    tok.join(big, "s").join(fol, "w1").join(pre, "w2").crossJoin(types)
      .select(col("id"),
        round(log(
          (greatest(lit(4) * col("c12") - 3, lit(0)) * col("__b") +
            lit(3) * col("fw") * col("rw")).cast("double") /
          (lit(4) * col("c1") * col("__b")).cast("double"))
          * lit(1000000)).cast("long").as("lp"))
      .groupBy(col("id"))
      .agg(round(sum(col("lp")) / (count(lit(1)) * lit(1000.0)))
        .cast("long").as("lp_permille"))
      .select(col("id").as(idCol), col("lp_permille"))
  }

  /** Count-floor-pruned Kneser–Ney bigram scoring — [[knLogProb]]'s
    * production-scale tier: SINGLETON bigrams are pruned from the model
    * and their discounted mass redistributed through the continuation
    * distribution, the pruning Kneser–Ney licenses exactly. With
    * discount d = 3/4 and kept types B′ (c12 ≥ 2 only):
    *
    *   P(w2|w1) = [max(4·c12−3, 0)·B′ + (3·fw + 4·n1)·r′(w2)] / (4·c1·B′)
    *
    * where fw = KEPT followers of w1, n1 = w1's singleton followers
    * (each surrenders its whole count 1 = 4/4 to the backoff), r′ = kept
    * continuation count. Per context the mass is EXACTLY 1 over the
    * kept-continuation vocabulary: Σ_kept(4c12−3) = 4(c1−n1)−3fw and
    * Σ r′ = B′, so the total is [4(c1−n1)−3fw + (3fw+4n1)]·B′/(4c1B′)
    * = 1 — the written exactness argument for why pruning is a DIFFERENT
    * (still proper) model, not an approximation error. Scoring a bigram
    * whose w2 has no kept predecessor (r′ = 0) floors the numerator at 1
    * (a sub-ulp epsilon, impossible for in-model bigrams since a kept
    * bigram's own w2 has r′ ≥ 1).
    *
    * Why this caps the [[knLogProb]] sf1 type-growth: perturbed/crawled
    * corpora grow mostly SINGLETON bigram types, so the model tables
    * (kept bigrams, continuation counts, B′) joined back against the
    * corpus stay near-constant while the unpruned tier's grow linearly —
    * the count-floor is the standard KenLM/SRILM `prune` switch. The one
    * full-width pass left is the initial bigram count (unavoidable: a
    * count floor needs counts) and the per-w1 (c1, fw, n1) aggregate OF
    * that table. Returns (idCol, lp_permille). */
  def knLogProbPruned(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    // materialize the vocab-sized bigram-count table once — its four
    // consumers (fol, keptBig, pre, types) would each re-run the
    // corpus-width tokenize+window subtree otherwise (the kn3 checkpoint
    // discipline; exchange reuse does not dedupe across the aggregates)
    knLogProbPrunedFromCounts(df, textCol, idCol, Dedup.ckptLight(
      Dedup.shingleStream(df, textCol, idCol, n = 2)
        .groupBy(col("s")).agg(count(lit(1)).as("c12"))))

  /** [[knLogProbPruned]] over a pre-aggregated (ALREADY materialized)
    * corpus bigram-count table (s, c12) — see [[knLogProbFromCounts]].
    * The caller owns the count table's checkpoint. */
  def knLogProbPrunedFromCounts(df: DataFrame, textCol: String,
      idCol: String, bigCounts: DataFrame): DataFrame = {
    val tok = Dedup.shingleStream(df, textCol, idCol, n = 2)
      .select(col("id"), col("s"))
    val big = bigCounts
      .withColumn("w1", substring_index(col("s"), " ", 1))
    val fol = big.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"),
        sum(when(col("c12") >= 2L, 1L).otherwise(0L)).as("fw"),
        sum(when(col("c12") === 1L, 1L).otherwise(0L)).as("n1"))
    val keptBig = big.filter(col("c12") >= 2L)
      .withColumn("w2", substring_index(col("s"), " ", -1))
    val pre = keptBig.groupBy(col("w2")).agg(count(lit(1)).as("rw"))
    // greatest(.,1) keeps the degenerate all-singleton corpus defined
    val types = broadcast(
      keptBig.agg(greatest(count(lit(1)), lit(1L)).as("__b")))
    // keyed repartition so AQE re-plans the corpus join from the kept
    // set's MEASURED size (see kn3LogProbPruned's scoring-join note)
    tok.join(keptBig.select(col("s"), col("c12")).repartition(col("s")),
        Seq("s"), "left")
      .withColumn("w1", substring_index(col("s"), " ", 1))
      .withColumn("w2", substring_index(col("s"), " ", -1))
      .join(fol, "w1").join(pre, Seq("w2"), "left").crossJoin(types)
      .select(col("id"),
        round(log(
          greatest(
            greatest(lit(4) * coalesce(col("c12"), lit(0L)) - 3, lit(0))
              * col("__b") +
              (lit(3) * col("fw") + lit(4) * col("n1"))
                * coalesce(col("rw"), lit(0L)),
            lit(1)).cast("double") /
          (lit(4) * col("c1") * col("__b")).cast("double"))
          * lit(1000000)).cast("long").as("lp"))
      .groupBy(col("id"))
      .agg(round(sum(col("lp")) / (count(lit(1)) * lit(1000.0)))
        .cast("long").as("lp_permille"))
      .select(col("id").as(idCol), col("lp_permille"))
  }

  /** Count-floor-pruned TRIGRAM interpolated Kneser–Ney scoring — the
    * order-3 extension of [[knLogProbPruned]] demonstrating the KN
    * back-off recursion scales past bigrams (real CCNet gating uses a
    * 5-gram KenLM; the same construction iterates). With discount
    * d = 3/4, singleton trigram types pruned, and the model tables
    *   c123 (kept trigram count), per-context (c12, fw, n1) as in the
    *   bigram tier, R23 = kept-trigram continuation count of (w2,w3),
    *   per-middle M2 = Σ R23 and G2 = distinct kept continuations,
    *   Rw3 = distinct middles preceding w3 in the continuation table,
    *   B2 = total continuation types,
    * the smoothed probability is one exact integer ratio:
    *
    *   P(w3|w1w2) = [max(4·c123−3,0)·4·M2·B2
    *                 + (3·fw + 4·n1)·(max(4·R23−3,0)·B2 + 3·G2·Rw3)]
    *                / (16·c12·M2·B2)
    *
    * Exactness: the top level redistributes the pruned singleton mass
    * exactly as the bigram tier (Σ_kept(4c123−3) = 4(c12−n1)−3fw, and
    * the back-off weight 3fw+4n1 closes it), and the MIDDLE level is the
    * unpruned bigram-KN formula applied to the continuation table, a
    * proper distribution by the same algebra (Σ_w3 max(4R−3,0) =
    * 4M2−3G2 and Σ_w3 Rw3 = B2) — so per context the total probability
    * over the continuation vocabulary is EXACTLY 1 (OperatorsSpec pins
    * the 144/144 identity on a hand corpus). Out-of-model trigrams whose
    * (w2,w3) has no kept continuation floor the numerator at 1 (sub-ulp
    * epsilon, impossible for in-model trigrams).
    *
    * Scale: the only corpus-width passes are the trigram count and the
    * scoring join-back; every model table is an aggregate of the KEPT
    * (≥2-count) trigram types, the set the count floor keeps
    * near-constant under singleton-type growth — the property that held
    * the bigram tier's sf1 rung at 1.2×. Magnitude bound: the rational's
    * terms stay < 2⁵³ (exact in the double cast) while
    * c12·M2·B2 < 5.6e14 — petabyte-scale corpora with pruned tables.
    * Returns (idCol, lp_permille). */
  def kn3LogProbPruned(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    kn3Score(df, textCol, idCol, kn3Model(df, textCol, idCol))

  /** The pruned-trigram-KN model as six tables — the TRAIN half of the
    * production train/apply split (Wenzek et al. 2020's CCNet gate
    * scores crawl batches against a FIXED high-quality KenLM; the
    * in-session [[kn3LogProbPruned]] is the degenerate case where the
    * scoring batch IS the training corpus):
    *   kept  (s, c123)        — kept (count ≥ 2) trigram types
    *   ctx   (b12,c12,fw,n1)  — per-context totals / kept / singleton
    *   cont  (w2,w3,r23)      — kept-trigram continuation counts
    *   mid   (w2,m2,g2)       — per-middle continuation totals
    *   uni   (w3,rw3)         — distinct middles preceding w3
    *   types (__b2)           — 1-row continuation-type total
    * Every table is an aggregate of the KEPT type set — the set the
    * count floor keeps near-constant under singleton-type growth — so
    * the frozen artifact is model-sized, not corpus-sized: exactly what
    * makes publishing it ([[kn3PublishModel]]) and shipping it to a
    * scoring job affordable at 100 TB of training text. */
  final case class Kn3Model(kept: DataFrame, ctx: DataFrame,
      cont: DataFrame, mid: DataFrame, uni: DataFrame, types: DataFrame)

  def kn3Model(df: DataFrame, textCol: String,
      idCol: String): Kn3Model = {
    // the id column only scopes the trigram window (trigrams never cross
    // document boundaries); it is dropped before the count
    val tok = Dedup.shingleStream(df, textCol, idCol, n = 3)
      .select(col("s"))
    kn3ModelFromCounts(tok.groupBy(col("s")).agg(count(lit(1)).as("c123")))
  }

  /** Derive the pruned-KN model tables from an ALREADY-COUNTED trigram
    * table (s, c123) — the refresh path: [[maintainTrigramCounts]]'
    * output plugs in here directly, so a daily model refresh costs
    * delta-tokenization plus aggregates OF the vocab-sized count table,
    * never a corpus re-scan ([[kn3Model]] is this over a fresh count).
    * The count table is MATERIALIZED once ([[Dedup.ckptLight]]): five
    * model tables derive from it, and without the barrier each would
    * re-run the subtree below it (exchange reuse does not dedupe across
    * the differing aggregates above it) — the rangedRank checkpoint
    * discipline. */
  def kn3ModelFromCounts(counts: DataFrame): Kn3Model = {
    val tri = Dedup.ckptLight(counts.select(col("s"), col("c123")))
    val ctx = tri
      .withColumn("b12", substring_index(col("s"), " ", 2))
      .groupBy(col("b12"))
      .agg(sum(col("c123")).as("c12"),
        sum(when(col("c123") >= 2L, 1L).otherwise(0L)).as("fw"),
        sum(when(col("c123") === 1L, 1L).otherwise(0L)).as("n1"))
    val kt = tri.filter(col("c123") >= 2L)
    val cont = kt
      .withColumn("w2", substring_index(
        substring_index(col("s"), " ", 2), " ", -1))
      .withColumn("w3", substring_index(col("s"), " ", -1))
      .groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("r23"))
    val mid = cont.groupBy(col("w2"))
      .agg(sum(col("r23")).as("m2"), count(lit(1)).as("g2"))
    val uni = cont.groupBy(col("w3")).agg(count(lit(1)).as("rw3"))
    val types = cont.agg(greatest(count(lit(1)), lit(1L)).as("__b2"))
    Kn3Model(kt.select(col("s"), col("c123")), ctx, cont, mid, uni, types)
  }

  /** Frozen-model out-of-vocabulary floor: a scoring-batch trigram whose
    * CONTEXT (w1 w2) the model never saw has no conditional distribution
    * to back off into, so it takes this fixed penalty — ln(1e-8) in
    * integer micros, the standard KenLM-style fixed OOV cost. Only the
    * apply-to-NEW-batch path can hit it (in-session scoring always finds
    * its own contexts); the constant is shared with the generated oracle
    * literal (one-definition discipline). */
  val KnOovLpMicro = -18420681L

  /** Score `batch` against a (possibly frozen/reloaded) [[Kn3Model]] —
    * the APPLY half of the train/apply split. Same exact integer
    * rational per token as [[kn3LogProbPruned]] (whose scaladoc carries
    * the normalization proof); the one semantic addition is the
    * out-of-model-CONTEXT case, which only exists when batch ≠ training
    * corpus: those tokens score [[KnOovLpMicro]]. Returns
    * (idCol, lp_permille) — mean token log-prob over ALL the doc's
    * trigrams, OOV ones included. */
  def kn3Score(batch: DataFrame, textCol: String, idCol: String,
      m: Kn3Model): DataFrame = {
    val tok = Dedup.shingleStream(batch, textCol, idCol, n = 3)
      .select(col("id"), col("s"))
    val mg = greatest(coalesce(col("m2"), lit(0L)), lit(1L))
    // the kept-types scoring side rides a keyed repartition so AQE sees
    // a MEASURED shuffle stage: a bare filter over the checkpoint scan
    // (or the raw model-store file scan) is size-estimated from the
    // unpruned/unfiltered table and locks the corpus join into a
    // sort-merge even when the kept set is broadcast-small (the other
    // four model tables sit above their own aggregates or are tiny
    // store reads and re-plan to broadcast on their own). At corpus
    // scales where the kept set genuinely outgrows the broadcast
    // threshold AQE keeps the shuffle join — the right plan either way.
    tok.join(m.kept.select(col("s"), col("c123")).repartition(col("s")),
        Seq("s"), "left")
      .withColumn("b12", substring_index(col("s"), " ", 2))
      .withColumn("w2", substring_index(col("b12"), " ", -1))
      .withColumn("w3", substring_index(col("s"), " ", -1))
      .join(m.ctx, Seq("b12"), "left")
      .join(m.cont, Seq("w2", "w3"), "left")
      .join(m.mid, Seq("w2"), "left")
      .join(m.uni, Seq("w3"), "left")
      .crossJoin(broadcast(m.types))
      .select(col("id"),
        when(col("c12").isNull, lit(KnOovLpMicro)).otherwise(
          round(log(
            greatest(
              greatest(lit(4) * coalesce(col("c123"), lit(0L)) - 3,
                lit(0)) * (lit(4) * mg * col("__b2")) +
                (lit(3) * col("fw") + lit(4) * col("n1")) *
                  (greatest(lit(4) * coalesce(col("r23"), lit(0L)) - 3,
                    lit(0)) * col("__b2") +
                    lit(3) * coalesce(col("g2"), lit(0L))
                      * coalesce(col("rw3"), lit(0L))),
              lit(1)).cast("double") /
            (lit(16) * col("c12") * mg * col("__b2")).cast("double"))
            * lit(1000000)).cast("long")).as("lp"))
      .groupBy(col("id"))
      .agg(round(sum(col("lp")) / (count(lit(1)) * lit(1000.0)))
        .cast("long").as("lp_permille"))
      .select(col("id").as(idCol), col("lp_permille"))
  }

  private val Kn3TableNames =
    Seq("kept", "ctx", "cont", "mid", "uni", "types")

  /** Train and publish a model VERSION through the versioned registry —
    * all six tables land in one immutable version dir and become visible
    * with a single manifest swap ([[graft.state.ModelRegistry.publish]]),
    * so a concurrent scorer can never read a torn cross-table mix.
    * Returns the promoted version. */
  def kn3PublishModel(df: DataFrame, textCol: String, idCol: String,
      reg: graft.state.ModelRegistry, model: String): Long = {
    val m = kn3Model(df, textCol, idCol)
    reg.publish(model,
      Kn3TableNames.zip(Seq(m.kept, m.ctx, m.cont, m.mid, m.uni,
        m.types)))
  }

  /** Read a PINNED model version — every table from the same immutable
    * version dir (consistent under concurrent refresh; the scorer
    * records `pin.version` as the model_version provenance column). */
  def kn3FromRegistry(pin: graft.state.ModelRegistry#Pinned): Kn3Model = {
    val Seq(kept, ctx, cont, mid, uni, types) =
      Kn3TableNames.map(pin.table)
    Kn3Model(kept, ctx, cont, mid, uni, types)
  }

  /** Executor-resident form of the pruned trigram-KN model — the KenLM
    * ship-the-binary-to-every-worker analog: a STREAMING gate must score
    * each arriving document locally (a per-doc score is an aggregate
    * over the doc's trigrams, which an append-mode stream cannot express
    * as joins + groupBy without a watermarked shuffle per batch), so the
    * model tables collapse to lookup maps and ride a broadcast. The
    * collect is MODEL-sized, never corpus-sized: every map aggregates
    * the KEPT (count ≥ 2) type set, the set the count floor holds
    * near-constant under crawl growth — the same boundedness argument
    * that makes [[kn3PublishModel]]'s artifact persistable. */
  final case class Kn3FrozenModel(kept: Map[String, Long],
      ctx: Map[String, (Long, Long, Long)],
      cont: Map[(String, String), Long],
      mid: Map[String, (Long, Long)],
      uni: Map[String, Long], b2: Long) extends Serializable

  def kn3Freeze(m: Kn3Model): Kn3FrozenModel = Kn3FrozenModel(
    m.kept.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
    m.ctx.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap,
    m.cont.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
    m.mid.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap,
    m.uni.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
    m.types.collect()(0).getLong(0))

  /** Spark `round()` (HALF_UP — half away from zero for negatives too,
    * where `math.round`'s floor(x+0.5) disagrees). */
  private def roundHalfUp(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** Spark `trim()` semantics: ASCII space (0x20) only — NOT
    * Java String.trim, which also strips control chars. */
  private def trimAsciiSpaces(s: String): String = {
    var i = 0; var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    s.substring(i, j)
  }

  private def kn3TokenLpMicro(w1: String, w2: String, w3: String,
      m: Kn3FrozenModel): Long =
    m.ctx.get(w1 + " " + w2) match {
      case None => KnOovLpMicro
      case Some((c12, fw, n1)) =>
        val c123 = m.kept.getOrElse(w1 + " " + w2 + " " + w3, 0L)
        val r23 = m.cont.getOrElse((w2, w3), 0L)
        val (m2, g2) = m.mid.getOrElse(w2, (0L, 0L))
        val rw3 = m.uni.getOrElse(w3, 0L)
        val mg = math.max(m2, 1L)
        val num = math.max(
          math.max(4 * c123 - 3, 0L) * (4L * mg * m.b2) +
            (3 * fw + 4 * n1) *
              (math.max(4 * r23 - 3, 0L) * m.b2 + 3 * g2 * rw3), 1L)
        val den = 16L * c12 * mg * m.b2
        roundHalfUp(math.log(num.toDouble / den.toDouble) * 1000000.0)
    }

  /** Single-document scorer over a [[Kn3FrozenModel]] — BIT-IDENTICAL to
    * [[kn3Score]]'s distributed result (pinned as a property over random
    * train/apply corpora in LmApplySpec): same tokenization
    * (`split(lower(trim(text)), "\\s+")` with Spark's space-only trim
    * and keep-trailing-empties split), same exact integer rational per
    * token, same HALF_UP micro quantization, same OOV floor, same
    * per-doc mean. `None` = unscorable (null text or < 3 tokens) — the
    * doc would be absent from [[kn3Score]]'s output too. */
  def kn3ScoreLocal(text: String, m: Kn3FrozenModel): Option[Long] = {
    if (text == null) return None
    val w = trimAsciiSpaces(text)
      .toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    if (w.length < 3) return None
    var i = 0; var sum = 0L
    val n = w.length - 2
    while (i < n) {
      sum += kn3TokenLpMicro(w(i), w(i + 1), w(i + 2), m)
      i += 1
    }
    Some(roundHalfUp(sum.toDouble / (n.toDouble * 1000.0)))
  }

  /** FROZEN-rate mixture resampling — the stateless form of
    * [[mixtureResample]] for declared/streaming pipelines: keep rates
    * are derived OFFLINE (on the training distribution) and pinned in
    * the spec, so the per-row decision is the same Knuth
    * multiplicative-hash cut with zero corpus passes — exactly how a
    * production streaming resampler runs (a stream cannot know its own
    * final stratum counts). Strata absent from `ratesPpm` are dropped
    * (a mixture spec is a whitelist, as in [[mixtureResample]]). */
  def mixtureApplyRatesPpm(df: DataFrame, strataCol: Column,
      idCol: Column, ratesPpm: Map[String, Long]): DataFrame = {
    require(ratesPpm.nonEmpty &&
      ratesPpm.values.forall(r => r >= 0 && r <= 1000000),
      s"ratesPpm=$ratesPpm must be a non-empty map into [0, 1e6]")
    df.withColumn("__rate_ppm", element_at(typedLit(ratesPpm), strataCol))
      .filter(col("__rate_ppm").isNotNull &&
        keepHashPpm(idCol) < col("__rate_ppm"))
      .drop("__rate_ppm")
  }

  /** THE deterministic keep hash every resampler keys on: Knuth
    * multiplicative step over the id, SALT-FOLDED below 2³¹ first —
    * `pmod(pmod(id, 2³¹−1)·2654435761, 10⁶)`. The fold is the identity
    * for every id < 2³¹−1 (all gate fixtures) and keeps the product
    * under 2⁶³ for ANY id: without it, ANSI mode (the engine default)
    * THROWS on the multiply once ids pass ≈3.47e9 — exactly the
    * warehouse-scale surrogate-key range the 100× rung generates. Pure
    * BIGINT arithmetic, so the DuckDB oracle replays it bit-for-bit
    * ([[graft.XxhOracleSql.knuthKeepPpm]], the same folded formula). */
  def keepHashPpm(idCol: Column): Column =
    pmod(pmod(idCol, lit(2147483647L)) * lit(2654435761L),
      lit(1000000L))

  /** Incremental trigram-count maintenance (IVM with retractions) — the
    * LM family's sibling of [[Reconcile.maintainAggState]]: n-gram
    * counts are a commutative-group aggregate (each document contributes
    * an additive trigram multiset), so a stored count table is
    * maintained under a document delta without re-tokenizing the corpus:
    *
    *   c'(s) = c(s) + Σ_{delta docs} op · count_doc(s),  rows c' = 0 dropped
    *
    * with op ∈ {+1 insert, −1 retract}. The result is BIT-EQUAL to a
    * full recompute over (corpus ∪ adds − retracts) — the `ivm_agg`
    * contract, which is what makes the maintained table a legal input
    * for re-deriving the pruned KN model ([[kn3Model]]'s tables are all
    * aggregates OF the count table): at 100 TB the daily crawl delta
    * re-tokenizes only ITSELF, and model refresh touches the vocab-sized
    * count table, never the corpus.
    *
    * Shape: the delta's trigram stream is id-clustered by
    * [[Dedup.shingleStream]] (tokenize needs doc locality anyway), then
    * state partials ∪ per-trigram op rows collapse in ONE
    * partial-combined hash aggregate on the trigram — map-side combine
    * absorbs the delta's repeats, the single count-table-keyed shuffle
    * is the whole maintenance cost. A retraction that empties a trigram
    * removes its row, so retract-everything converges to the empty
    * table (pinned in KnIvmSpec).
    *
    * `state` is (s, c123); `delta` carries `textCol`, `idCol`, and
    * `opCol` (+1/−1, constant per document). Returns the new (s, c123).
    */
  def maintainTrigramCounts(state: DataFrame, delta: DataFrame,
      textCol: String, idCol: String, opCol: String): DataFrame =
    state.select(col("s"), col("c123").as("__c"))
      .unionByName(
        // tokenize under a COMPOSITE (id, op) key: a delta may carry the
        // same document as an add AND a retract in one batch, and
        // shingleStream's per-id position window would interleave the
        // two copies' tokens into garbage trigrams if they shared a key
        Dedup.shingleStream(
            delta.withColumn("__ivmid",
              concat_ws("\u0001", col(idCol), col(opCol))),
            textCol, "__ivmid", n = 3, carry = Seq(opCol))
          .select(col("s"), col(opCol).cast("long").as("__c")))
      .groupBy(col("s")).agg(sum(col("__c")).as("c123"))
      .filter(col("c123") =!= 0L)

  /** Per-source unigram KL divergence KL(P_s ‖ P_rest) in integer
    * micro-nats — the data-mixing diagnostic that prices how far each
    * source's token distribution sits from the rest of the corpus
    * (Moore & Lewis 2010's cross-entropy-difference selection uses
    * exactly this quantity family; [[sourceKeyness]] ranks the WORDS
    * driving it, this returns the per-source DIVERGENCE itself).
    * Add-1 smoothing over the joint vocabulary keeps every term
    * defined: with own counts c_s, rest counts c_r = c_tot − c_s,
    * V = |joint vocab| and token totals N_s / N_r,
    *   KL = Σ_w (c_s+1)·ln( (c_s+1)·(N_r+V) / ((c_r+1)·(N_s+V)) )
    *        DIV (N_s+V)
    * — each type's ln of an exact integer rational quantized ONCE to
    * micros before the integer sum (the kn/unigram oracle-parity
    * discipline), including the c_s = 0 grid cells the smoothing
    * creates.
    *
    * Shape: one corpus-width (source, w) count; the smoothing grid is
    * vocab × |sources| rows built from a vocab-sized aggregate
    * crossed with the |sources|-row dim (both broadcast-small), and
    * every global scalar (V, N) rides a 1-row broadcast. Returns
    * (source, n_tokens, kl_micro). */
  def sourceUnigramKl(df: DataFrame, textCol: String,
      srcCol: String): DataFrame = {
    val sw = df.select(col(srcCol).as("src"),
        explode(wsTokens(lower(col(textCol)))).as("w"))
      .groupBy(col("src"), col("w")).agg(count(lit(1)).as("c"))
    val byW = Dedup.ckptLight(
      sw.groupBy(col("w")).agg(sum(col("c")).as("ct")))
    val bySrc = sw.groupBy(col("src")).agg(sum(col("c")).as("ns"))
    val glob = broadcast(byW.agg(count(lit(1)).as("v"),
      sum(col("ct")).as("nn")))
    val grid = byW.crossJoin(broadcast(bySrc))
      .join(sw, Seq("src", "w"), "left")
      .withColumn("cs", coalesce(col("c"), lit(0L)))
      .crossJoin(glob)
      .withColumn("cr", col("ct") - col("cs"))
      .withColumn("nr", col("nn") - col("ns"))
    // arithmetic headroom at corpus scale: the rational's cross
    // products (cs+1)·(nr+V) overflow BIGINT once token totals pass
    // ~3e9, so each FACTOR casts to double before the multiply (IEEE
    // ops with the same association are bit-identical on both engines
    // — only the final ln was ever implementation-defined), and the
    // weighted sum runs in DECIMAL(38,0) (the zipf_slope
    // sufficient-statistics discipline)
    val dec = "decimal(38,0)"
    grid.select(col("src"), col("ns"), col("v"),
        (col("cs") + 1).as("cs1"),
        round(log(
          ((col("cs") + 1).cast("double")
            * (col("nr") + col("v")).cast("double")) /
          ((col("cr") + 1).cast("double")
            * (col("ns") + col("v")).cast("double")))
          * lit(1000000)).cast("long").as("q"))
      .groupBy(col("src"))
      .agg(max(col("ns")).as("__ns"), max(col("v")).as("__v"),
        sum(col("cs1").cast(dec) * col("q").cast(dec)).as("__s"))
      .select(col("src").as(srcCol), col("__ns").as("n_tokens"),
        // FLOOR division, spelled out: the quantized sum can go
        // (slightly) negative for a source nearly identical to the
        // rest, where Spark DIV (truncate-toward-zero) and the oracle's
        // `//` (floor) would disagree by one
        expr("CASE WHEN __s >= 0 THEN __s DIV (__ns + __v) " +
          "ELSE -((-__s + __ns + __v - 1) DIV (__ns + __v)) END")
          .cast("long").as("kl_micro"))
  }

  /** Token-coverage curve: for each decile of the frequency-ranked
    * vocabulary (count desc, term asc — a total order), the cumulative
    * permille of corpus TOKENS the top `V·d/10` types cover — the
    * tokenizer-budget complement of [[vocabGrowth]] (Heaps' law gives
    * types-per-token; this gives tokens-per-type: "a vocab of the top
    * 30% of types covers N‰ of the corpus"). Pure integers after one
    * corpus-width count; the vocabulary rank is
    * [[Transforms.rangedRank]] (the scale-correct global ordering —
    * vocabularies are data-sized at corpus scale). Returns
    * (decile, n_types, covered_permille). */
  def coverageCurve(df: DataFrame, textCol: String): DataFrame =
    coverageCurveFromCounts(
      df.select(explode(wsTokens(lower(col(textCol)))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c")))

  /** [[coverageCurve]] over a pre-aggregated corpus unigram-count table
    * (w, c) — see [[vocabTopKFromCounts]]. */
  def coverageCurveFromCounts(counts: DataFrame): DataFrame = {
    val ranked = Transforms.rangedRank(counts,
      Seq(col("c").desc, col("w").asc), "r")
    val glob = broadcast(ranked.agg(count(lit(1)).as("v"),
      sum(col("c")).as("nn")))
    // single pass over the vocabulary: each rank's MINIMUM covering
    // decile is ceil(10r/V) — exact, since r ≤ floor(V·d/10) ⟺
    // 10r ≤ V·d for integers — so one ≤10-group aggregate replaces a
    // vocab×10 explode, and the curve is a cumulative window over the
    // ≤10-row bucket table (bounded frame, the PlanAudit-walk family)
    import org.apache.spark.sql.expressions.Window
    val buckets = ranked.crossJoin(glob)
      .withColumn("decile", expr("(10 * r + v - 1) DIV v"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("__t"), sum(col("c")).as("__c"),
        max(col("nn")).as("__nn"))
    val cum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets
      .withColumn("n_types", sum(col("__t")).over(cum))
      .withColumn("covered_permille",
        expr("(SUM(__c) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW) * 1000) DIV __nn"))
      .select(col("decile"), col("n_types"),
        col("covered_permille").cast("long"))
  }

  /** UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", 2023): given a total training budget and a per-
    * stratum epoch cap, allocate the budget as uniformly as possible —
    * every stratum gets an equal share unless its capacity
    * (n_avail · epochCap) is smaller, in which case it contributes all
    * of itself and the freed budget re-levels among the rest. The
    * published sequential loop over capacity-ascending strata is, in
    * exact integers, a WATERFILL with one pivot: strata below the pivot
    * take their full cap, strata at/after it take the level
    * θ = (B − prefix_caps) DIV remaining, and the division's remainder
    * goes +1 to the first `r` leveled strata in (cap, stratum) order —
    * a total order, so the allocation is engine-exact and
    * SQL-twinnable.
    *
    * Shape: ONE corpus aggregate (per-stratum counts); everything after
    * is windows and 1-row broadcasts over the |strata|-row table — the
    * PlanAudit-bounded global-window family. Budget is
    * (N · budgetPermille) DIV 1000 of the corpus row count, so the op
    * scales with the corpus instead of hard-coding a size.
    * Returns (stratum, n_avail, cap, alloc). */
  def unimaxAllocation(df: DataFrame, strataCol: String, epochCap: Int,
      budgetPermille: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(epochCap >= 1 && epochCap <= 100, s"epochCap=$epochCap")
    require(budgetPermille >= 1, s"budgetPermille=$budgetPermille")
    val counts = df.groupBy(col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("n_avail"))
      .withColumn("cap", col("n_avail") * epochCap)
    val stats = counts.agg(sum(col("n_avail")).as("__nn"),
      count(lit(1)).as("__k"))
    // NULLS LAST, explicitly: Spark's default orderBy puts nulls FIRST
    // while DuckDB's ASC puts them LAST — a NULL stratum tying another's
    // cap at the pivot would otherwise take the remainder unit on one
    // engine and not the other
    val ord = Window.orderBy(col("cap").asc_nulls_last,
      col("stratum").asc_nulls_last)
    val ranked = counts.crossJoin(broadcast(stats))
      .withColumn("__b",
        expr(s"(__nn * $budgetPermille) DIV 1000"))
      .withColumn("__i", row_number().over(ord).cast("long"))
      .withColumn("__pfx", coalesce(sum(col("cap")).over(
        ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__theta",
        expr("(__b - __pfx) DIV (__k - __i + 1)"))
    // the pivot: first stratum whose cap exceeds its own level — below
    // it every stratum fits inside the running fair share (minimality),
    // at/after it everyone takes the PIVOT row's level (the later rows'
    // __theta divides cap-prefixes that are no longer what was granted).
    // Sentinel MaxValue = no pivot (budget covers every cap): the level
    // row is then EMPTY, carried through a keyless left join so every
    // stratum still emits its full cap.
    val istar1 = broadcast(ranked.agg(coalesce(
      min(when(col("cap") > col("__theta"), col("__i"))),
      lit(Long.MaxValue)).as("__istar")))
    val pivVals = broadcast(ranked.crossJoin(istar1)
      .filter(col("__i") === col("__istar"))
      .select(col("__theta").as("__lvl"),
        (col("__b") - col("__pfx") -
          col("__theta") * (col("__k") - col("__i") + 1)).as("__r")))
    ranked.crossJoin(istar1)
      .join(pivVals, lit(true), "left")
      .withColumn("alloc",
        when(col("__i") < col("__istar"), col("cap"))
          .otherwise(col("__lvl") +
            when(col("__i") - col("__istar") < col("__r"), 1L)
              .otherwise(0L)))
      .select(col("stratum").as(strataCol), col("n_avail"), col("cap"),
        col("alloc"))
  }

  /** CCNet-style LM-perplexity gate (Wenzek et al. 2020): keep documents
    * whose [[knLogProb]] mean token log-prob clears `floorPermille`
    * (higher log-prob = lower perplexity = more language-model-like —
    * the standard modern curation cut one step above rule batteries).
    * The bigram LM is trained on the INPUT frame itself, CCNet's
    * self-normalizing posture at pipeline position; documents with <2
    * tokens produce no bigram and are DROPPED — an unscorable document
    * cannot pass a perplexity gate.
    *
    * Shape: [[knLogProb]]'s vocab-sized aggregates plus one left-semi
    * join on the id — the corpus is tokenized once and only ids move in
    * the gate join. Returns the kept rows with their input schema. */
  def lmPerplexityGate(df: DataFrame, textCol: String, idCol: String,
      floorPermille: Long = LmPerplexityFloorPermille): DataFrame =
    df.join(
      knLogProb(df, textCol, idCol)
        .filter(col("lp_permille") >= floorPermille)
        .select(col(idCol)),
      Seq(idCol), "left_semi")

  /** Per-document character Shannon entropy in integer micro-nats — the
    * oracle-exact sibling of the rows-only deflate compress_ratio signal
    * (low entropy = repetitive boilerplate, max entropy ≈ high-entropy
    * junk; both tails are curation drops). Quantize-once discipline:
    * each distinct character's ln(n/c) is rounded to micros BEFORE the
    * per-doc sum, so the result is an order-independent integer —
    * entropy_micros = (Σ c·round(ln(n/c)·10⁶)) DIV n.
    *
    * Shape: one character explode → per-(doc, char) count aggregate
    * (≤ alphabet-size rows per doc) → per-doc window total + one closing
    * aggregate, everything keyed on the doc id (one shuffle family).
    * Empty documents emit no row (no characters, no defined entropy).
    *
    * Charset: Spark `split(text, "")` segments by Java-regex code point
    * while the DuckDB oracle's `split(text, '')` segments by its own
    * character rule — the two only provably agree on ASCII text, the
    * invariant XxhOracleInvariantsSpec pins on the fixture's raw
    * document text (max code point ≤ 127). Non-ASCII corpora should
    * normalize or re-validate segmentation before trusting the oracle. */
  def charEntropy(df: DataFrame, textCol: String, idCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ch = df.select(col(idCol).as("id"),
        explode(split(col(textCol), "")).as("ch"))
      .filter(length(col("ch")) === 1)
    ch.groupBy(col("id"), col("ch")).agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("id")))
      .select(col("id"), col("c"), col("n"),
        (col("c") * round(log(col("n").cast("double") /
          col("c").cast("double")) * 1e6).cast("long")).as("__cq"))
      .groupBy(col("id"))
      .agg(max(col("n")).as("n_counted"), sum(col("__cq")).as("__sq"))
      .select(col("id").as(idCol), col("n_counted"),
        expr("__sq DIV n_counted").as("entropy_micros"))
  }

  /** Corpus conditional bigram entropy H(w2|w1) in integer micro-nats —
    * the language-complexity statistic that prices a corpus for LM
    * training (low = templated/repetitive, high = diverse): with bigram
    * type counts c12 and context totals c1,
    * H = Σ (c12/N2)·ln(c1/c12), quantized ONCE per bigram TYPE to micros
    * before the integer sum (order-independent, engine-exact). One
    * corpus-sized bigram aggregate; everything after is vocab-sized.
    * Returns one row (n_bigrams, cond_entropy_micros). */
  def bigramCondEntropy(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    bigramCondEntropyFromCounts(
      Dedup.shingleStream(df, textCol, idCol, n = 2)
        .groupBy(col("s")).agg(count(lit(1)).as("c12")))

  /** [[bigramCondEntropy]] over a pre-aggregated corpus bigram-count
    * table (s, c12) — see [[knLogProbFromCounts]]. */
  def bigramCondEntropyFromCounts(bigCounts: DataFrame): DataFrame = {
    val big = bigCounts
      .withColumn("w1", substring_index(col("s"), " ", 1))
    val fol = big.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    big.join(fol, "w1")
      .agg(sum(col("c12")).as("n_bigrams"),
        sum(col("c12") * round(log(col("c1").cast("double") /
          col("c12").cast("double")) * 1e6).cast("long")).as("__sq"))
      .select(col("n_bigrams"),
        expr("__sq DIV n_bigrams").as("cond_entropy_micros"))
  }

  /** Heaps'-law vocabulary-growth curve: distinct token types seen in
    * the first k/`steps` of the corpus token stream, for k = 1..steps —
    * the corpus statistic that sizes tokenizer vocabularies and predicts
    * type growth at 100 TB (Heaps 1978: V(n) ≈ K·n^β). The token stream
    * is ordered (doc_id, pos) — deterministic, engine-independent — and
    * a type counts at a checkpoint iff its FIRST occurrence index is
    * within the prefix.
    *
    * Shape: one token explode → [[graft.operators.Transforms.rangedRank]]
    * for the global token index (range-partitioned — no single-partition
    * window over the corpus) → a vocab-sized first-occurrence aggregate
    * → a `steps`-way conditional count (one pass over vocab×steps rows).
    * Returns (step, cum_tokens, n_types). */
  def vocabGrowth(df: DataFrame, textCol: String, idCol: String,
      steps: Int = 10): DataFrame = {
    require(steps >= 1 && steps <= 100, s"steps=$steps out of range")
    val tok = Transforms.keyedInputRebalance(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"),
        posexplode(wsTokens(lower(col("__t")))).as(Seq("pos", "w")))
    val ix = Transforms.rangedRank(tok,
      Seq(col("id").asc, col("pos").asc), "gix")
    val first = ix.groupBy(col("w")).agg(min(col("gix")).as("first_ix"))
    // ranking never changes cardinality: count the raw token stream, not
    // the ranked frame (which would replay the window + offsets join)
    val total = broadcast(tok.agg(count(lit(1)).as("__n")))
    first.crossJoin(total)
      .select(col("first_ix"), col("__n"),
        explode(expr(s"sequence(1L, ${steps}L)")).as("step"))
      .withColumn("cut", expr(s"(__n * step) DIV $steps"))
      .groupBy(col("step"), col("cut"))
      .agg(sum(when(col("first_ix") <= col("cut"), 1L).otherwise(0L))
        .as("n_types"))
      .select(col("step"), col("cut").as("cum_tokens"), col("n_types"))
  }

  /** CCNet head/middle/tail bucketing (Wenzek et al. 2020): rank every
    * document by its [[knLogProb]] score (most predictable first) and
    * split into exact terciles — `head` is the cleanest third the recipe
    * trains on first, `tail` the noisiest. Ranking rides
    * [[graft.operators.Transforms.rangedRank]] (range-partitioned sort
    * rank — no data-sized single-partition window), the tercile test is
    * pure integers (rk·3 vs n), and ties break on the doc id, so the
    * buckets are engine-exact. Returns (idCol, lp_permille, bucket). */
  def perplexityBuckets(df: DataFrame, textCol: String, idCol: String)
      : DataFrame =
    perplexityBucketsFromScores(knLogProb(df, textCol, idCol), idCol)

  /** [[perplexityBuckets]]' bucketing half over an already-scored
    * (idCol, lp_permille) frame — lets the kn family share ONE scoring
    * pass (the winnowFp memo discipline). */
  def perplexityBucketsFromScores(lp: DataFrame, idCol: String)
      : DataFrame = {
    val n = broadcast(lp.agg(count(lit(1)).as("__n")))
    Transforms.rangedRank(lp,
        Seq(col("lp_permille").desc, col(idCol).asc), "__rk")
      .crossJoin(n)
      .select(col(idCol), col("lp_permille"),
        when(col("__rk") * 3 <= col("__n"), "head")
          .when(col("__rk") * 3 <= col("__n") * 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** TF-IDF term scoring — the corpus-relevance signal: per (doc, term)
    * term frequency joined with corpus document frequency, score =
    * tf·ln(N/df). Shape: one explode + a (doc,term) count aggregate; the
    * per-term document frequency is a SECOND aggregate of the tf relation
    * itself (tf is already (doc,term)-distinct, so `count(*)` over term ==
    * docs containing it — no countDistinct pass over raw tokens); the
    * tf⋈df join keys on the term via the exchange-reuse shuffle shape
    * ([[unigramLogProb]], the shingle self-join): `repartition(w)` feeds
    * the df aggregate AND the join's left side, so the corpus-sized tf
    * relation is computed and shuffled ONCE — a broadcast of df would
    * instead replay the whole token pipeline onto the driver. The corpus
    * size rides a broadcast single-row cross join.
    *
    * Oracle-parity discipline: `score` is a double (ln) — consumers that
    * need cross-engine-exact output should rank on the INTEGER columns
    * (tf DESC, df ASC, term ASC), which orders by relevance without a
    * float in sight; the oracle query does exactly that. */
  def tfIdf(df: DataFrame, textCol: String, idCol: String): DataFrame =
    tfIdfFromPostings(df, postingsTable(df, textCol, idCol))

  /** The shared (id, w, tf) per-(doc, term) frequency relation — ONE
    * whitespace tokenize (`wsTokens ∘ lower`) + one partial-combined
    * count, the base table of the retrieval family. [[tfIdf]],
    * [[bm25TopK]] and [[postingsHead]] each used to rebuild exactly this
    * aggregate of exactly this token stream; r17 exposes it so a caller
    * can materialize it once and feed all three (guide §2.4 — and the
    * per-term corpus counts are its `Σ tf` rollup, see
    * SparkEntry.corpusUnigramCounts). */
  def postingsTable(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    Transforms.rebalanceIfNarrow(
        df.select(col(idCol).as("id"), col(textCol).as("__text")),
        col("id"))
      .select(col("id"), explode(wsTokens(lower(col("__text")))).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("tf"))

  /** [[tfIdf]] over an already-built (id, w, tf) relation. `df` is still
    * needed for the corpus size: N counts ALL docs, including ones whose
    * text tokenizes to nothing. */
  def tfIdfFromPostings(df: DataFrame, postings: DataFrame): DataFrame = {
    val tf = postings.select(col("id"), col("w"), col("tf"))
      .repartition(col("w"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("term_df"))
    val n = broadcast(df.agg(count(lit(1)).as("n_docs")))
    tf.join(dfreq.hint("shuffle_hash"), Seq("w")).crossJoin(n)
      .select(col("id"), col("w").as("term"), col("tf"), col("term_df"),
        col("n_docs"),
        (col("tf") * log(col("n_docs").cast("double") / col("term_df")))
          .as("score"))
  }

  /** Stratified downsampling — per-stratum deterministic rates (the
    * rebalancing stage of corpus curation: cap the over-represented
    * sources/languages, keep the rare ones whole). One fused filter pass;
    * strata absent from `rates` keep `defaultPermille`. */
  def sampleStratified(df: DataFrame, strataCol: Column, key: Column,
      rates: Map[String, Int], defaultPermille: Int = 1000): DataFrame = {
    val pred = rates.foldRight(sampleByHash(key, defaultPermille)) {
      case ((stratum, rate), els) =>
        when(strataCol === stratum, sampleByHash(key, rate)).otherwise(els)
    }
    df.filter(pred)
  }

  /** Target-mixture resampling — [[sampleStratified]]'s missing half: the
    * per-stratum rates are not given but DERIVED, so the kept corpus hits a
    * target mixture (the "data mixing weights" step of training-set
    * assembly). Semantics: the scarcest stratum relative to its target
    * weight is kept whole and every other stratum is downsampled to match —
    * `scale = min_s(n_s·10⁶ DIV w_s)`, `rate_s = w_s·scale DIV n_s` ppm.
    * All arithmetic is integer (floor division on both engines), and the
    * per-row keep decision hashes the id through [[keepHashPpm]] — the
    * salt-folded Knuth multiplicative step, pure BIGINT arithmetic, so
    * engine and oracle agree bit-for-bit over the FULL non-negative id
    * range (the fold keeps the product under 2⁶³, where ANSI mode would
    * otherwise throw at id ≈ 3.47e9). Strata absent
    * from `targetPermille` are dropped: a mixture spec is a whitelist.
    *
    * Shape: one partial-combined count per stratum (tiny), a scalar min,
    * and a broadcast rates join — the corpus itself is scanned twice but
    * never shuffled, so at 100 TB the cost is two linear passes. */
  def mixtureResample(df: DataFrame, strataCol: Column, idCol: Column,
      targetPermille: Map[String, Int]): DataFrame = {
    require(targetPermille.nonEmpty && targetPermille.values.forall(_ > 0),
      s"targetPermille=$targetPermille must be a non-empty positive map")
    val wmap = typedLit(targetPermille.view.mapValues(_.toLong).toMap)
    val counts = df.groupBy(strataCol.as("__stratum"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", element_at(wmap, col("__stratum")))
      .filter(col("__w").isNotNull)
    val scale = counts.agg(min(expr("(__n * 1000000) DIV __w")).as("__scale"))
    val rates = counts.crossJoin(broadcast(scale))
      .select(col("__stratum"), expr("(__w * __scale) DIV __n").as("__rate_ppm"))
    df.join(broadcast(rates), strataCol === col("__stratum"))
      .filter(keepHashPpm(idCol) < col("__rate_ppm"))
      .drop("__stratum", "__rate_ppm")
  }

  /** Temperature-based mixture resampling (Conneau & Lample 2019's
    * exponential smoothing, the multilingual-corpus balancing standard:
    * sample strata with probability ∝ p^α, α < 1 flattening the head so
    * low-resource strata keep proportionally more). Unlike
    * [[mixtureResample]] the target mixture is DERIVED from the observed
    * distribution, not declared: per stratum
    *   w = round(pow(n/N, α)·10⁶)          (the ONE float quantization)
    *   t_ppm = (10⁶·w) DIV Σw              (target share, exact ints)
    *   rate_ppm = min(10⁶, (t_ppm·N) DIV n) (keep rate; capped — no
    *                                         upsampling by duplication)
    * and the per-row keep decision is [[mixtureResample]]'s Knuth
    * multiplicative hash on the id — deterministic, shuffle-free, reruns
    * stable. The t_ppm·N product bounds exactness at N < 2⁶³/10⁶ ≈ 9
    * trillion rows — beyond any corpus. Returns the kept rows with
    * `rate_ppm` attached. */
  def alphaMixture(df: DataFrame, strataCol: Column, idCol: Column,
      alpha: Double = 0.3): DataFrame =
    df.join(broadcast(alphaRatesPpm(df, strataCol, alpha)),
        strataCol === col("__stratum"))
      .filter(keepHashPpm(idCol) < col("rate_ppm"))
      .drop("__stratum")

  /** [[alphaMixture]]'s rate table alone — (__stratum, rate_ppm) from
    * the observed stratum distribution. Factored out so the FROZEN
    * consumers (streaming twins, declared stages scoring against
    * trained rates) can collect the |strata|-sized table once and ship
    * it; the same expressions, so rates are bit-identical to the inline
    * path. */
  def alphaRatesPpm(df: DataFrame, strataCol: Column,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha=$alpha out of (0, 1]")
    val counts = df.groupBy(strataCol.as("__stratum"))
      .agg(count(lit(1)).as("__n"))
    val tot = counts.agg(sum(col("__n")).as("__nn"))
    val w = counts.crossJoin(broadcast(tot))
      .withColumn("__w", round(pow(
        col("__n").cast("double") / col("__nn").cast("double"),
        lit(alpha)) * lit(1000000)).cast("long"))
    val den = w.agg(sum(col("__w")).as("__wd"))
    w.crossJoin(broadcast(den))
      .select(col("__stratum"),
        least(lit(1000000L),
          expr("(((1000000 * __w) DIV __wd) * __nn) DIV __n"))
          .as("rate_ppm"))
  }

  /** Source-distinctive vocabulary (keyness): per source, the tokens most
    * over-represented vs the whole corpus, ranked by integer lift
    * `(tf_s · N_corpus · 1000) DIV (tf_corpus · N_s)` (permille of the
    * corpus-relative rate ratio — the log-odds-keyness family with a
    * division-free total order). A minimum source frequency floors out
    * hapax noise; ties break on the token. This is [[tfIdf]]'s sibling at
    * corpus-slice granularity — the "what does this domain talk about"
    * curation tool.
    *
    * Scale: one corpus-sized token explode feeds the (source, token)
    * aggregate; corpus-level token counts and source totals re-aggregate
    * from it (counts only) and join back broadcast; the per-source top-k
    * is a `WindowGroupLimit`-capped rank. */
  def sourceKeyness(docs: DataFrame, textCol: String, sourceCol: String,
      k: Int, minTf: Int): DataFrame = {
    val tok = docs.select(col(sourceCol).as("source"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    // materialized ONCE (vocab-sized): the three marginals re-aggregate
    // from this table — without the checkpoint each broadcast side
    // replays the corpus-sized tokenize (the plan pin caught exactly
    // that: 2 parquet scans instead of 1).
    val st = tok.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("tf_s")).localCheckpoint()
    val ct = st.groupBy(col("tok")).agg(sum(col("tf_s")).as("tf_c"))
    val ns = st.groupBy(col("source")).agg(sum(col("tf_s")).as("n_s"))
    val n = st.agg(sum(col("tf_s")).as("n_c"))
    val scored = st.filter(col("tf_s") >= minTf)
      .join(broadcast(ct), "tok")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(n))
      .withColumn("lift_permille",
        expr("(tf_s * n_c * 1000) DIV (tf_c * n_s)"))
      .select(col("source"), col("tok"), col("tf_s"), col("lift_permille"))
    Transforms.topKPerGroup(scored, Seq(col("source")),
      Seq(col("lift_permille").desc, col("tok").asc), k)
  }

  /** BPE merge training, the first `iters` steps: the classic
    * byte-pair-encoding vocabulary learner (Sennrich et al. 2016) run as
    * distributed jobs. Words are counted once (the only corpus-sized
    * pass); per iteration the weighted adjacent-symbol-pair counts
    * collapse in one hash aggregate, the argmax pair — count desc, then
    * lexicographic, a total order — is driver state exactly like
    * [[Similarity.trainCentroids]]'s k-means centroids (one bounded row
    * per round), and the merge is applied to the vocabulary-sized symbol
    * table with a fold over each word's symbol array (left-to-right,
    * non-overlapping — the textbook greedy application).
    *
    * SELF-PAIRS (x,x) are excluded from selection: their greedy
    * application depends on run parity, which famously diverges across
    * BPE implementations — excluding them keeps the operator's semantics
    * total-order deterministic AND lets an oracle state each merge as
    * pure positional logic. (Real tokenizers handle letter-doubling via
    * later multi-char merges anyway.)
    *
    * Scale: after the word count, every iteration touches only the
    * |vocab| symbol table — (word-freq, symbols) rows — with lineage cut
    * per round; the corpus itself is never rescanned. Returns one row per
    * iteration: (iter, pair "x y", freq at selection time). */
  def bpeMerges(docs: DataFrame, textCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"iters=$iters")
    val spark = docs.sparkSession
    val words = docs
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    var seqs = words.select(col("freq"), split(col("w"), "").as("syms"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, Long)]
    for (it <- 1 to iters) {
      val pairs = seqs.select(col("freq"),
          explode(arrays_zip(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
        .select(col("freq"), col("p.0").as("px"), col("p.1").as("py"))
        .filter(col("px") =!= col("py"))
        .groupBy(col("px"), col("py")).agg(sum(col("freq")).as("cnt"))
      val top = pairs
        .orderBy(col("cnt").desc, col("px").asc, col("py").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val (px, py, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((it.toLong, s"$px $py", cnt))
        val pxL = lit(px); val pyL = lit(py)
        val next = seqs.select(col("freq"),
          aggregate(col("syms"),
            array().cast("array<string>"),
            (acc, s) => when(size(acc) > 0 &&
                element_at(acc, -1) === pxL && s === pyL,
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(pxL, pyL))))
              .otherwise(concat(acc, array(s)))).as("syms"))
          .localCheckpoint()
        seqs.unpersist()
        seqs = next
      }
    }
    import spark.implicits._
    merges.result().toDF("iter", "pair", "freq")
  }

  /** Sequence packing — the "concatenate, then cut every `maxTokens`"
    * batching layout used for LLM training: documents are laid end-to-end
    * per shard (in deterministic `idCol` order) and assigned
    * (pack_id, pack_offset) by exclusive running token count. One window
    * pass per shard; sharding by [[hashSplit]] (or any partition column)
    * bounds each shard's range-sort, which is what makes the global-order
    * cumsum affordable at corpus scale — pack ids are per-shard. A doc
    * longer than `maxTokens` spans packs, exactly like the training
    * layout it mirrors. */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
      shardCol: Column, maxTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxTokens > 0, s"maxTokens=$maxTokens must be positive")
    val w = Window.partitionBy("shard").orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), shardCol.as("shard"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("__cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col("shard"), col("n_tokens"),
        (col("__cum") / maxTokens).cast("long").as("pack_id"),
        (col("__cum") % maxTokens).as("pack_offset"))
  }

  /** A-ES weighted sampling without replacement (Efraimidis–Spirakis
    * 2006), derandomized: each row draws u from a Knuth multiplicative
    * hash of its id — u = ((id·2654435761) mod 2³² + 0.5)/2³², the same
    * plain integer arithmetic on any engine — and the k rows per group
    * with the largest u^(1/w) win, computed as ln(u)/w (monotone
    * equivalent) quantized to integer picos so the rank order is
    * engine-exact. Weight-proportional inclusion with NO sequential scan:
    * this is how "sample 10k docs per source, proportional to length"
    * runs distributed — the textbook alternative (cumulative-weight
    * roulette) needs a prefix sum over the whole corpus per draw.
    *
    * Derandomization caveat, stated not hidden: u is a hash of the id,
    * so re-runs are reproducible BY DESIGN (the sampling-audit
    * requirement); swap the hash for a salted one to redraw. The id is
    * salt-folded below 2³¹ before the multiply (the [[keepHashPpm]]
    * convention — identity on every fixture id, and keeps the product
    * under 2⁶³ where ANSI mode would throw at warehouse-scale ids).
    *
    * Scale shape: score is per-row arithmetic on the scan; top-k per
    * group is the rank ≤ k filter (WindowGroupLimit — per-partition
    * pre-truncation, the [[sampleStratified]] family's posture). */
  def weightedSampleAES(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = df.select(col(groupCol).as("__g"), col(idCol).as("__id"),
        col(weightCol).as("__w"))
      .filter(col("__w") > 0)
      .withColumn("__u", expr(
        "(((__id % 2147483647) * 2654435761) % 4294967296 + 0.5) / " +
          "4294967296"))
      .withColumn("score_pico",
        expr("CAST(round(ln(__u) / __w * 1000000000000, 0) AS BIGINT)"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("score_pico").desc, col("__id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("__g").as(groupCol), col("__id").as(idCol),
        col("__w").as(weightCol), col("score_pico"), col("rank"))
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones, k1 = 6/5, b = 3/4)
    * for a deterministic query — the df-rank window [qRankLo, qRankHi]
    * of the corpus's own vocabulary (rank 1 = highest df), so the query
    * needs no out-of-band input and both engines derive it identically.
    * The saturation term is computed in cleared-denominator integer form:
    * with S = Σ dl and N docs,
    *
    *   tf·(k1+1) / (tf + k1·(1−b+b·dl·N/S))
    *     = 44·tf·S / (20·tf·S + 6·S + 18·dl·N)
    *
    * — numerator and denominator are exact BIGINTs (< 2⁵³ for S·tf up to
    * ~10¹¹; cleared fractions, no float avgdl), so the one double
    * division is bit-identical cross-engine; idf quantizes to micros per
    * term (single ln, the [[pmiCollocations]] posture) and per-(doc,term)
    * contributions are integer-summed.
    *
    * Scale shape: ONE corpus-sized aggregate (the (doc, term) tf
    * relation, checkpointed) feeds df, dl AND the scoring join — the
    * [[tfIdf]] exchange-reuse discipline; the query-term frame is
    * (qRankHi)-sized via TakeOrdered and broadcasts; the final top-k is
    * TakeOrderedAndProject. */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
      qRankLo: Int, qRankHi: Int, k: Int): DataFrame =
    bm25TopKFromPostings(
      postingsTable(df, textCol, idCol).localCheckpoint(),
      idCol, qRankLo, qRankHi, k)

  /** [[bm25TopK]] over an already-materialized (id, w, tf) relation —
    * N and S are derived from the relation itself exactly as before (N
    * always counted the docs present in the tf relation, i.e. docs with
    * ≥1 token), so no raw-corpus pass remains. */
  def bm25TopKFromPostings(postings: DataFrame, idCol: String,
      qRankLo: Int, qRankHi: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = postings.select(col("id").as("__id"), col("w"), col("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col("__id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(sum(col("dl")).as("S"), count(lit(1)).as("N"))
    val qterms = dfreq
      .orderBy(col("df").desc, col("w").asc).limit(qRankHi)
      .withColumn("__r", row_number().over(
        Window.orderBy(col("df").desc, col("w").asc)))
      .filter(col("__r").between(qRankLo, qRankHi))
      .select(col("w"), col("df"))
    tf.join(broadcast(qterms), "w")
      .join(dl, "__id")
      .crossJoin(broadcast(stats))
      .withColumn("__idf_micro", expr(
        "CAST(round(ln((CAST(N AS DOUBLE) - df + 0.5) / (df + 0.5)) " +
          "* 1000000, 0) AS BIGINT)"))
      .withColumn("__contrib", expr(
        "CAST(round(__idf_micro * (CAST(44 * tf * S AS DOUBLE) / " +
          "CAST(20 * tf * S + 6 * S + 18 * dl * N AS DOUBLE)), 0) " +
          "AS BIGINT)"))
      .groupBy(col("__id"))
      .agg(sum(col("__contrib")).as("score_micro"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score_micro").desc, col("__id").asc).limit(k)
      .select(col("__id").as(idCol), col("score_micro"),
        col("n_terms_hit"))
  }

  /** Zipf rank-frequency slope: the least-squares slope of ln(count) on
    * ln(rank) over the corpus's top-k terms — natural text sits near −1;
    * a corpus drifting toward 0 (flat) or below −1.5 (template spam /
    * boilerplate) is the classic distribution-level quality alarm that
    * per-document scorers ([[qualityScore]]) can't see. Rank order is
    * total (count desc, term asc), so the regression inputs are engine-
    * independent.
    *
    * Oracle-parity discipline (the [[unigramLogProb]] posture): each
    * term's ln(rank)/ln(count) quantizes to integer micros FIRST, the
    * regression then runs on exact DECIMAL(38,0) sufficient statistics of
    * those integers — the only float ops are per-row ln and one final
    * division, never an order-dependent float sum. Scale shape: one
    * explode + one partial-combined term count (the only corpus-sized
    * stage); ranking the top k is a k-sized TakeOrdered, and the
    * regression is a single-row aggregate over k rows. */
  /** Inverted-index head: for the `k` highest-document-frequency terms,
    * the document frequency and a capped posting list (the `cap` lowest
    * doc ids, comma-joined) — the IR-shaped "what would a search index's
    * hottest rows look like" probe, and the exact shape a posting-list
    * builder materializes per term. Every ordering is total (df desc +
    * term; doc ids ascending), so the dump is engine-exact.
    *
    * Scale shape: DISTINCT (term, doc) is the only corpus-sized stage
    * (explode + two-phase distinct); term selection is a k-sized
    * TakeOrdered; the per-term rank ≤ cap filter is the rank-limit form
    * Spark rewrites to WindowGroupLimit — each partition pre-truncates to
    * its own top-cap before the term's rows meet, so a stop-word term
    * with 10⁹ postings never assembles them in one place ([[packSequences]]
    * / sample_per_group posture). */
  def postingsHead(df: DataFrame, textCol: String, idCol: String,
      k: Int, cap: Int): DataFrame =
    postingsHeadFromPostings(postingsTable(df, textCol, idCol), k, cap)

  /** [[postingsHead]] over an already-built (id, w, tf) relation: its
    * DISTINCT (term, doc) stage is exactly the relation's key set (a
    * per-(doc, term) count aggregate emits each pair once). */
  def postingsHeadFromPostings(postings: DataFrame,
      k: Int, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val td = postings.select(col("id").as("__id"), col("w"))
    val top = td.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w").asc).limit(k)
    val wr = Window.partitionBy(col("w")).orderBy(col("__id").asc)
    td.join(broadcast(top), "w")
      .withColumn("__rn", row_number().over(wr))
      .filter(col("__rn") <= cap)
      .groupBy(col("w"), col("df"))
      .agg(array_join(transform(array_sort(collect_list(col("__id"))),
        x => x.cast("string")), ",").as("postings"))
      .select(col("w").as("term"), col("df"), col("postings"))
  }

  /** Pairwise vocabulary overlap between sources: |Tₐ∩Tᵦ| over |Tₐ∪Tᵦ|
    * in integer permille for every source pair — the corpus-level
    * similarity matrix that flags near-mirror domains before any
    * document-level dedup runs ([[Dedup]] finds duplicate DOCUMENTS;
    * this finds duplicate COLLECTIONS).
    *
    * Scale shape: DISTINCT (source, term) collapses the corpus first;
    * the intersection is the term self-join — work is Σ_term
    * |sources(term)|², bounded by |sources|²·|vocab| regardless of
    * corpus size; per-source vocabulary sizes attach after the pair
    * collapse (|pairs| ≤ |sources|² rows). The same container-pair
    * discipline as [[Transforms.basketPairs]], with the term as the
    * container. */
  def sourceJaccard(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val st = df.select(col(groupCol).as("__g"),
        explode(wsTokens(lower(col(textCol)))).as("w"))
      .distinct().localCheckpoint()
    val sizes = st.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    val inter = st
      .join(st.select(col("__g").as("__g2"), col("w")), "w")
      .filter(col("__g") < col("__g2"))
      .groupBy(col("__g"), col("__g2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("__g"), col("__n").as("n_a")), "__g")
      .join(sizes.select(col("__g").as("__g2"), col("__n").as("n_b")),
        "__g2")
      .select(col("__g").as("src_a"), col("__g2").as("src_b"),
        col("n_inter"), col("n_a"), col("n_b"),
        expr("(1000 * n_inter) DIV (n_a + n_b - n_inter)")
          .as("jaccard_permille"))
  }

  def zipfSlope(df: DataFrame, textCol: String, k: Int): DataFrame =
    zipfSlopeFromCounts(
      df.select(explode(wsTokens(lower(col(textCol)))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c")), k)

  /** [[zipfSlope]] over a pre-aggregated corpus unigram-count table
    * (w, c) — see [[vocabTopKFromCounts]]. */
  def zipfSlopeFromCounts(counts: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // top-k FIRST (a distributed TakeOrdered), so the ranking window only
    // ever sees k rows — never a single-partition pass over the vocabulary
    val ranked = counts
      .orderBy(col("c").desc, col("w").asc).limit(k)
      .withColumn("r", row_number().over(
        Window.orderBy(col("c").desc, col("w").asc)))
      .select(
        expr("CAST(round(ln(CAST(r AS DOUBLE)) * 1000000, 0) AS BIGINT)")
          .as("x"),
        expr("CAST(round(ln(CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT)")
          .as("y"))
    val dec = "DECIMAL(38,0)"
    ranked
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x").cast(dec)).as("__sx"),
        sum(col("y").cast(dec)).as("__sy"),
        sum((col("x").cast(dec) * col("y").cast(dec))).as("__sxy"),
        sum((col("x").cast(dec) * col("x").cast(dec))).as("__sxx"))
      .select(col("n_terms"),
        expr("CAST(round(CAST(CAST(n_terms AS DECIMAL(38,0)) * __sxy " +
          "- __sx * __sy AS DOUBLE) * 1000000 / " +
          "CAST(CAST(n_terms AS DECIMAL(38,0)) * __sxx - __sx * __sx " +
          "AS DOUBLE), 0) AS BIGINT)").as("slope_micro"))
  }

  /** Greedy maximum-coverage document selection — the submodular
    * data-subset step of a training-data pipeline ("pick the K documents
    * that together cover the most distinct vocabulary"). The greedy
    * algorithm's (1 − 1/e) guarantee is the published bound (Nemhauser,
    * Wolsey & Fisher 1978); this is its standard distributed form: the
    * corpus tokenizes ONCE into a checkpointed (doc, distinct-token)
    * table, then each of the K rounds is one anti-join against the
    * covered-token set (small by construction — ≤ K docs' vocabularies,
    * so it broadcasts) plus one count aggregate, and only the single
    * argmax row ever reaches the driver. Ties break to the smallest doc
    * id so reruns and the SQL twin agree.
    *
    * Scale: per round the corpus-side work is one broadcast anti-join and
    * one map-side-combined count — no shuffle of token payloads beyond
    * the initial tokenize; K is small (it is the OUTPUT size).
    *
    * Returns (round, doc_id, gain): the pick order and each pick's
    * marginal new-token coverage. Docs whose tokens are fully covered
    * drop out of the candidate aggregate on both sides identically.
    *
    * `gram` sets the coverage unit: 1 = distinct words, n = distinct
    * word n-grams (the vocabulary-coverage vs phrase-coverage choice —
    * tiny-vocab corpora saturate word coverage after one pick, where
    * n-gram sets still discriminate). */
  /** CCNet-style cross-document line deduplication (Wenzek et al. 2020,
    * "CCNet: Extracting high quality monolingual datasets from web crawl
    * data" — the boilerplate pass every web-corpus pipeline runs before
    * document-level dedup): segment every document into fixed
    * `width`-word lines, count each distinct line's DOCUMENT frequency
    * across the corpus, mark lines above `maxDocFreq` as boilerplate
    * (headers, navigation, license banners), and reassemble the
    * surviving text in original line order. Returns
    * (id, n_lines, n_kept, kept_text) — kept_text is "" when every line
    * is boilerplate, never null.
    *
    * Scale shape: one explode → one (line → doc-frequency) hash
    * aggregate → one equi-join of the line stream against its own
    * counts (both sides hash on the line key; the wide text column
    * never rides the count aggregate) → one id-keyed aggregate whose
    * per-doc (pos, line) array rebuilds the text. Nothing is ever
    * pairwise, and a boilerplate line's fan-in is bounded by its doc
    * frequency — the hot keys are exactly the ones the filter drops. */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
      width: Int = 8, maxDocFreq: Int = 2): DataFrame = {
    val lines = fixedWidthLines(df, textCol, idCol, width)
    val dfreq = lines.groupBy(col("line"))
      .agg(countDistinct(col("id")).as("__df"))
    lines.join(dfreq, "line")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__df") <= maxDocFreq, 1L).otherwise(0L))
          .as("n_kept"),
        array_sort(collect_list(when(col("__df") <= maxDocFreq,
          struct(col("pos"), col("line"))))).as("__kl"))
      .select(col("id"), col("n_lines"), col("n_kept"),
        concat_ws(" ", expr("transform(__kl, x -> x.line)"))
          .as("kept_text"))
  }

  /** [[lineDedup]]'s line segmentation as a standalone STATELESS
    * projection — (id, pos, line), one row per fixed `width`-word line —
    * so the streaming twin ([[graft.streaming.StatefulLineDedup]])
    * composes the identical segmentation onto an unbounded doc stream. */
  def fixedWidthLines(df: DataFrame, textCol: String, idCol: String,
      width: Int = 8): DataFrame = {
    require(width >= 1, s"width=$width")
    df.select(col(idCol).as("id"),
        wsTokens(col(textCol)).as("__w"))
      .select(col("id"), posexplode(expr(
        ("transform(sequence(0, (size(__w) - 1) DIV W), " +
          "i -> concat_ws(' ', slice(__w, i * W + 1, W)))")
          .replace("W", width.toString))).as(Seq("pos", "line")))
  }

  def greedyCoverage(df: DataFrame, idCol: String, textCol: String,
      k: Int, gram: Int = 1): DataFrame = {
    require(k >= 1 && k <= 64, s"k=$k out of range")
    require(gram >= 1 && gram <= 8, s"gram=$gram out of range")
    val spark = df.sparkSession
    val units =
      if (gram <= 1) col("__w")
      else expr(("CASE WHEN size(__w) < GRAM THEN array() " +
        "ELSE transform(sequence(0, size(__w) - GRAM), " +
        "i -> concat_ws(' ', slice(__w, i + 1, GRAM))) END")
        .replace("GRAM", gram.toString))
    val toks = Dedup.ckptLight(
      df.select(col(idCol).cast("long").as("id"),
          wsTokens(lower(col(textCol))).as("__w"))
        .select(col("id"), explode(array_distinct(units)).as("w")))
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      // the covered set is re-derived per round from the CHECKPOINTED
      // token table and the picked-id list (bounded, ≤ k ids) instead of
      // being union-checkpointed per round — same set (union of picked
      // docs' grams), one driver job per round instead of two (r16,
      // guide §2.4/§5: the loop-carried state is the tiny pick list, not
      // a materialized table)
      val pickedIds = picks.map(_._2)
      val covered =
        if (pickedIds.isEmpty) toks.select(col("w")).filter(lit(false))
        else toks.filter(col("id").isInCollection(pickedIds))
          .select(col("w")).distinct()
      val top = toks.join(broadcast(covered), Seq("w"), "left_anti")
        .groupBy(col("id")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("id").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        picks += ((r, top(0).getLong(0), top(0).getLong(1)))
        r += 1
      }
    }
    import spark.implicits._
    picks.toSeq.toDF("round", "doc_id", "gain")
  }

  /** Every `k`-token sliding window of every document, with its 1-based
    * start position: (id, n, p, gram). One explode off the document scan;
    * docs shorter than `k` tokens contribute no rows. Public and
    * STATELESS (the [[fixedWidthLines]] discipline) so the streaming
    * twin ([[graft.streaming.StatefulSubstringDedup]]) composes the
    * exact same segmentation onto an unbounded doc stream. */
  def windowGrams(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    df.select(col(idCol).as("id"), wsTokens(col(textCol)).as("__w"))
      .select(col("id"), size(col("__w")).cast("long").as("n"),
        posexplode(expr(
          ("CASE WHEN size(__w) < K THEN array() " +
            "ELSE transform(sequence(1, size(__w) - K + 1), " +
            "i -> concat_ws(' ', slice(__w, i, K))) END")
            .replace("K", k.toString))).as(Seq("p0", "gram")))
      .select(col("id"), col("n"), (col("p0") + lit(1L)).as("p"),
        col("gram"))

  /** [[dupSpans]]' window stream in key form: every `k`-token sliding
    * window as (id, p, ghash, glen) — the window keyed by `xxhash64`
    * over its tokens' hashes plus its exact joined-string length,
    * never building the window STRING (the [[gopherRepetition]]
    * lead-column discipline: one posexplode, one id-keyed window pass,
    * codegen'd multi-arg hash, zero per-window allocation). A spurious
    * key merge needs a 64-bit collision AND identical length — and the
    * DuckDB twin counts actual strings, so the oracle pins
    * fixture-collision-freeness. */
  private def windowGramKeys(df: DataFrame, textCol: String,
      idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // input-split rebalance before the explode (r17, the shingleStream
    // discipline): docs move once instead of the exploded token stream,
    // and a one-row-group input no longer serializes the gram build
    val tok = Transforms.keyedInputRebalance(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"),
        posexplode(wsTokens(col("__t"))).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + lit(1L)).as("p"),
        xxhash64(col("tok")).as("h"),
        length(col("tok")).cast("long").as("l"))
    val byDoc = Window.partitionBy("id").orderBy("p")
    val hs = col("h") +: (1 until k).map(j => lead(col("h"), j).over(byDoc))
    val lenSum = (col("l") +: (1 until k).map(j =>
      lead(col("l"), j).over(byDoc))).reduce(_ + _)
    tok.select(col("id"), col("p"),
        xxhash64(hs: _*).as("ghash"),
        (lenSum + lit(k - 1L)).as("glen"))
      .filter(col("glen").isNotNull)
  }

  /** Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the suffix-array
    * substring dedup, re-expressed relationally): slide a `k`-token
    * window over every document, count each window string's TOTAL
    * occurrences across the corpus (within-document repeats count, as in
    * the suffix-array formulation), keep windows occurring at least
    * twice, and merge each document's duplicated intervals [p, p+k-1]
    * into maximal spans (gaps-and-islands over start positions — two
    * intervals merge when the gap between them is zero). Returns
    * (id, span_start, span_end, span_len), token positions 1-based.
    *
    * Scale shape: one explode → one (gram-key → count) hash aggregate →
    * one equi-join of the window stream against the duplicated-gram
    * sliver (the count table after `>= 2` is the DUPLICATED subset
    * only) → a per-document window over at most doc-length rows.
    * Nothing pairwise, no suffix array: the fixed-`k` window relaxation
    * is what makes the op a pure groupBy/join pipeline that survives
    * 100 TB — and the windows travel as [[windowGramKeys]]' numeric
    * (hash, length) keys, not strings (the string form shuffled ~k× the
    * corpus text bytes and cost 5.8 s at sf0.1; keys run in 1.9 s). */
  def dupSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2 && k <= 64, s"k=$k out of range")
    val g = windowGramKeys(df, textCol, idCol, k)
    val dupGrams = g.groupBy(col("ghash"), col("glen"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= 2).select(col("ghash"), col("glen"))
    val dup = g.join(dupGrams, Seq("ghash", "glen"))
      .select(col("id"), col("p"))
    val byDoc = Window.partitionBy("id").orderBy("p")
    val prevEnd = max(col("p") + lit(k - 1L))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("__brk",
        when(col("p") > coalesce(prevEnd, lit(-1L)) + 1L, 1L).otherwise(0L))
      .withColumn("__seg", sum(col("__brk")).over(byDoc))
      .groupBy(col("id"), col("__seg"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + lit(k - 1L)).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"))
  }

  /** Per-document duplicated-position coverage — the statistic that
    * decides whether a document is worth substring-excising at all:
    * (id, n_tokens, n_spans, n_covered, cov_permille), one row per
    * document including documents with no duplicated span (zeros).
    * cov_permille is integer (1000·covered DIV tokens) so the oracle
    * compare is exact. */
  def spanCoverage(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8): DataFrame =
    spanCoverageFromSpans(df, textCol, idCol, dupSpans(df, textCol, idCol, k))

  /** [[spanCoverage]] over a PRE-COMPUTED [[dupSpans]] table — the
    * round-16 shared-spans form: the exact-substring trio (`dup_spans`,
    * `span_coverage`, `substring_excise`) reads one memoized span table
    * instead of each re-running the window-gram pipeline (guide §2.4). */
  def spanCoverageFromSpans(df: DataFrame, textCol: String, idCol: String,
      spans: DataFrame): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val cov = spans
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("n_covered"))
    base.join(cov, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        expr("(coalesce(n_covered, 0L) * 1000L) DIV n_tokens")
          .as("cov_permille"))
  }

  /** Substring excision — the ACTION step of exact-substring dedup:
    * rebuild every document with all duplicated-span token positions
    * removed, survivors in original order. Returns (id, n_tokens,
    * n_kept, kept_text); kept_text is "" when the whole document is
    * covered, never null (same contract as [[lineDedup]]).
    *
    * The span table explodes back into covered positions (bounded by
    * document length — spans are disjoint by construction) and
    * anti-marks the token stream via a left join on (id, p); the
    * rebuild is the ordered FILTERed-collect aggregate the line-dedup
    * pass uses. */
  def substringExcise(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8): DataFrame =
    substringExciseFromSpans(df, textCol, idCol,
      dupSpans(df, textCol, idCol, k))

  /** [[substringExcise]] over a pre-computed [[dupSpans]] table — see
    * [[spanCoverageFromSpans]]. */
  def substringExciseFromSpans(df: DataFrame, textCol: String,
      idCol: String, spans: DataFrame): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        wsTokens(col(textCol)).as("__w"))
      .select(col("id"), posexplode(col("__w")).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + lit(1L)).as("p"), col("tok"))
    val covered = spans
      .select(col("id"),
        explode(expr("sequence(span_start, span_end)")).as("p"))
      .withColumn("__c", lit(1))
    toks.join(covered, Seq("id", "p"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__c").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(col("__c").isNull,
          struct(col("p"), col("tok"))))).as("__kt"))
      .select(col("id"), col("n_tokens"), col("n_kept"),
        concat_ws(" ", expr("transform(__kt, x -> x.tok)"))
          .as("kept_text"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"), fixed-point
    * variant: featurize every document as hashed-bigram occurrences,
    * estimate per-bucket occurrence rates for the TARGET domain
    * (`targetPred` rows) and the full corpus, and score each document
    * by the sum of its occurrences' smoothed target/corpus rate ratios
    * in permille. DSIR's log-likelihood ratio is replaced by the
    * add-one-smoothed permille ratio itself so every arithmetic step is
    * integer and the DuckDB twin is bit-exact (the ordering signal —
    * "does this document look like the target domain" — is preserved;
    * at true 100 TB counts the products approach 2^63 and a log-space
    * variant of the same plan applies).
    *
    * The bucket hash is an explicit 31-ary polynomial over the bigram's
    * character codes mod 2^20 (then mod `buckets`) — chosen over
    * xxhash64 because it replays in three lines of SQL; it is a full
    * fold over the string exactly like Java's `String.hashCode`,
    * evaluated by the native codegen'd
    * [[graft.functions.PolyHash31]] expression (one byte walk per
    * bigram — the earlier interpreted `aggregate(sequence(…))` SQL fold
    * rebuilt a substring per character and made this the battery's most
    * expensive query).
    *
    * Scale shape: one explode → ONE per-(id, bucket) pre-aggregate,
    * materialized once ([[Dedup.ckptLight]], the docDupGraph
    * discipline) and read by BOTH downstream consumers — the
    * bucket-rate aggregate and the final scoring join. The corpus is
    * therefore tokenized + hashed exactly once (pinned in DsirSpec:
    * zero duplicate parquet scans; exchange reuse alone proved
    * unreliable here — AQE does not dedupe the broadcast-nested
    * instantiation against its stage cache). The bucket table collapses
    * to `buckets` rows map-side and rides a global window over ≤2^20
    * rows for its totals; the only doc-keyed shuffles are the shared
    * pre-aggregate and the final per-doc sum. NOTE: calling this
    * eagerly runs the featurization job (checkpoint semantics), like
    * every ckptLight operator in the codebase.
    * Returns (id, n_bigrams, weight, w_avg). */
  def dsirWeights(df: DataFrame, textCol: String, idCol: String,
      targetPred: Column, buckets: Int = 4096,
      occ: Option[DataFrame] = None): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0 &&
      buckets <= 1048576, s"buckets=$buckets must be a power of 2 <= 2^20")
    occ.foreach(requireOccBuckets(_, buckets))
    val occAgg = occ.getOrElse(
      dsirFeaturize(df, textCol, idCol, targetPred, buckets))
    val scored = dsirBucketTotals(occAgg)
      .select(col("b"), expr(
        ("(1000L * (ct + 1L) * (ns + BKT)) DIV ((cs + 1L) * (nt + BKT))")
          .replace("BKT", s"${buckets}L")).as("s"))
    occAgg.join(broadcast(scored), "b")
      .groupBy(col("id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("s") * col("k")).as("weight"))
      .select(col("id"), col("n_bigrams"), col("weight"),
        expr("weight DIV n_bigrams").as("w_avg"))
  }

  /** Shared DSIR front end: tokenize → bigram explode → native bucket
    * hash → collapse to one row per (id, targetPred, bucket) with its
    * occurrence count `k`. Both [[dsirWeights]] consumers (and the
    * log-space variants) read this SAME aggregate, so the exchange under
    * it is planned once and reused — and callers scoring the SAME corpus
    * with several statistics can build it once and pass it via the
    * scorers' `occ` parameter (the SparkEntry dsir family memoizes it
    * per (session, dir), the covisitSessions discipline). */
  def dsirFeaturize(df: DataFrame, textCol: String, idCol: String,
      targetPred: Column, buckets: Int): DataFrame = {
    // The bucket count rides the `b` column's metadata so every consumer
    // can verify a caller-provided occ frame was built with the SAME
    // buckets it will smooth with — a mismatch silently mis-scores.
    val bMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("dsir_buckets", buckets.toLong).build()
    Dedup.ckptLight(df.select(col(idCol).as("id"), targetPred.as("__t"),
        wsTokens(col(textCol)).as("__w"))
      .select(col("id"), col("__t"), explode(expr(
        "CASE WHEN size(__w) < 2 THEN array() " +
          "ELSE transform(sequence(0, size(__w) - 2), " +
          "i -> concat_ws(' ', __w[i], __w[i + 1])) END")).as("bg"))
      .select(col("id"), col("__t"),
        pmod(graft.functions.PolyHash31(col("bg")), lit(buckets.toLong))
          .as("b", bMeta))
      .groupBy(col("id"), col("__t"), col("b"))
      .agg(count(lit(1)).as("k")))
  }

  /** Guard for the dsirWeights* family's `occ` fast path: a
    * [[dsirFeaturize]]-built frame carries its bucket count in the `b`
    * column's metadata; scoring it with a different `buckets` smoothing
    * literal is a silent wrong answer, so mismatches throw. Frames
    * without the tag (hand-built) pass through — the documented contract
    * is then on the caller. */
  private def requireOccBuckets(occAgg: DataFrame, buckets: Int): Unit = {
    val meta = occAgg.schema.fields.find(_.name == "b").map(_.metadata)
    meta.filter(_.contains("dsir_buckets"))
      .map(_.getLong("dsir_buckets")).foreach { b =>
        require(b == buckets.toLong,
          s"occ frame was featurized with buckets=$b but scoring with " +
            s"buckets=$buckets — the smoothing literals would be wrong")
      }
  }

  /** Bucket table with the global totals attached: (b, ct, cs, nt, ns).
    * The totals ride a GLOBAL window over the ≤`buckets`-row bucket
    * aggregate rather than a second aggregate branch — a separate
    * `bucketCounts.agg(...)` branch re-instantiates the occurrence
    * subtree inside a nested broadcast stage that AQE does NOT dedupe
    * against the stage cache (measured: a third corpus scan). The
    * window costs one single-partition pass over ≤2^20 rows. */
  private def dsirBucketTotals(occAgg: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    occAgg.groupBy(col("b"))
      .agg(sum(when(col("__t"), col("k")).otherwise(0L)).as("ct"),
        sum(col("k")).as("cs"))
      .withColumn("nt", sum(col("ct")).over(all))
      .withColumn("ns", sum(col("cs")).over(all))
  }

  /** Log-space DSIR weights — the same plan as [[dsirWeights]] with the
    * per-bucket score computed as the smoothed log-likelihood ratio
    * `ln((ct+1)/(nt+B)) - ln((cs+1)/(ns+B))` (the actual statistic of
    * Xie et al. 2023) instead of the integer permille ratio.
    *
    * Switch-over rule: the integer path is exact while its widest
    * intermediate fits a signed 64-bit long, i.e. while
    * `1000 * (nt + 1) * (ns + buckets) < 2^62` (nt/ns are the target /
    * corpus bigram totals, both readable off the bucket table). At true
    * 100 TB corpora (ns ≈ 10^13 bigrams) that product overflows, so
    * production-scale scoring uses THIS variant; the integer variant
    * remains the DuckDB-oracle-exact fixture path. DsirSpec pins the
    * two paths against each other at fixture scale: identical
    * (id, n_bigrams) backbone (shared occAgg front end), and the
    * target-domain ordering signal surviving the permille → log swap.
    *
    * Returns (id, n_bigrams, llr) with `llr = Σ k·(log-ratio)` over the
    * document's occurrences — positive means target-like. */
  def dsirWeightsLog(df: DataFrame, textCol: String, idCol: String,
      targetPred: Column, buckets: Int = 4096,
      occ: Option[DataFrame] = None): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0 &&
      buckets <= 1048576, s"buckets=$buckets must be a power of 2 <= 2^20")
    occ.foreach(requireOccBuckets(_, buckets))
    val occAgg = occ.getOrElse(
      dsirFeaturize(df, textCol, idCol, targetPred, buckets))
    val scored = dsirBucketTotals(occAgg)
      .select(col("b"), expr(
        ("(ln(ct + 1.0D) + ln(ns + BKT)) - (ln(cs + 1.0D) + ln(nt + BKT))")
          .replace("BKT", s"$buckets.0D")).as("s"))
    occAgg.join(broadcast(scored), "b")
      .groupBy(col("id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("s") * col("k").cast("double")).as("llr"))
  }

  /** Oracle-facing read-out of [[dsirWeightsLog]]: the per-bucket log
    * score is quantized ONCE to integer micros (HALF_UP, away from
    * zero — DuckDB `round` parity) before the per-document sum, so the
    * result is a deterministic integer independent of partial-aggregation
    * order (a raw double `Σ k·s` hash-mismatches on summation order and
    * ln ulp drift). The statistic is [[dsirWeightsLog]]'s to within the
    * 1e-6 quantization; the quantize-before-fan-out discipline is the
    * same one pca_power's moment pass uses. Per-doc bound: n_bigrams
    * (≤ ~1e6) × |s_micros| (≤ ~3e7 at 2^62 totals) ≪ 2^63 — no overflow
    * at any corpus scale. Returns (id, n_bigrams, llr_micros). */
  def dsirWeightsLogMicros(df: DataFrame, textCol: String, idCol: String,
      targetPred: Column, buckets: Int = 4096,
      occ: Option[DataFrame] = None): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0 &&
      buckets <= 1048576, s"buckets=$buckets must be a power of 2 <= 2^20")
    occ.foreach(requireOccBuckets(_, buckets))
    val occAgg = occ.getOrElse(
      dsirFeaturize(df, textCol, idCol, targetPred, buckets))
    val scored = dsirBucketTotals(occAgg)
      .select(col("b"), expr(
        ("CAST(round(((ln(ct + 1.0D) + ln(ns + BKT)) - " +
          "(ln(cs + 1.0D) + ln(nt + BKT))) * 1e6, 0) AS LONG)")
          .replace("BKT", s"$buckets.0D")).as("s"))
    occAgg.join(broadcast(scored), "b")
      .groupBy(col("id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("s") * col("k")).as("llr_micros"))
  }

  /** The dsir family's shared bucket count, the temperature-resampling
    * alpha, and the winnowing/MOSS parameters — one definition each,
    * consumed by BOTH the engine queries and their generated DuckDB
    * oracle literals (the gopher-constants discipline: a parameter
    * change cannot silently desynchronize engine and oracle). */
  val DsirBuckets = 4096
  val MixtureAlpha = 0.3

  /** [[lmPerplexityGate]]'s default mean-token-log-prob floor (permille
    * nats), shared with the generated oracle literal (one-definition
    * discipline). −3430 sits near the fixture corpus's 10th percentile
    * (sf0.01 scores span −3662..−3260, median −3386): the gate drops the
    * least-predictable ~decile — the CCNet "tail" cut. */
  val LmPerplexityFloorPermille = -3430L
  val WinnowK = 8
  val WinnowW = 4
  val WinnowMaxDf = 100
  val WinnowMinShared = 40

  /** [[gopherRules]]' word-count gate, shared with the DuckDB oracle's
    * generated literals (one-definition discipline — a parameter change
    * cannot desynchronize engine and oracle). */
  val GopherMinWords = 50
  val GopherMaxWords = 100000

  /** [[unimaxAllocation]]'s default epoch cap and budget (permille of
    * the corpus row count), shared with the generated oracle literals
    * (one-definition discipline). 2 epochs × a 1.6·N budget splits the
    * fixture mix nontrivially at every SF: the four minority languages
    * take their full 2-epoch caps and the dominant one levels. */
  val UnimaxEpochCap = 2
  val UnimaxBudgetPermille = 1600

  /** Gopher-style rule-based document quality filter (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", Appendix A.1.1 — the heuristic battery every
    * web-corpus pipeline since RedPajama/Dolma applies before model
    * training), adapted to integer permille arithmetic so the DuckDB
    * twin is bit-exact:
    *   - word count in [minWords, maxWords]
    *   - mean word length in [3, 10] characters (3000..10000 permille)
    *   - symbol-to-word ratio ('#' and '...' occurrences) ≤ 100‰
    *   - ≥ 800‰ of words contain at least one [a-z] letter
    *   - ≥ 2 distinct stopwords of a small English probe set (the
    *     paper's "stop word" rule; the probe is [[stopwords]]'s `en`
    *     list, the same one [[langId]] scores with)
    *
    * One fused single-pass projection — no shuffle, no join: at 100 TB
    * this runs inside the document scan like [[qualityScore]] /
    * [[CurationGate]]. Returns (id, n_words, mean_wlen_permille,
    * symbol_permille, alpha_permille, n_stop, pass ∈ {0,1}); zero-word
    * documents report 0 permilles and fail. */
  def gopherRules(df: DataFrame, textCol: String, idCol: String,
      minWords: Int = GopherMinWords,
      maxWords: Int = GopherMaxWords): DataFrame = {
    val stopArr = stopwords.toMap.apply("en")
      .map(s => s"'$s'").mkString("array(", ", ", ")")
    df.select(col(idCol).as("id"), col(textCol).as("__t"),
        wsTokens(lower(col(textCol))).as("__w"))
      .select(col("id"),
        size(col("__w")).cast("long").as("n_words"),
        length(concat_ws("", col("__w"))).cast("long").as("__chars"),
        ((length(col("__t")) - length(regexp_replace(col("__t"),
            "#", ""))) +
          (length(col("__t")) - length(regexp_replace(col("__t"),
            "\\.\\.\\.", ""))) / lit(3)).cast("long").as("__sym"),
        expr("size(filter(__w, x -> x rlike '[a-z]'))").cast("long")
          .as("__alpha"),
        expr(s"size(array_intersect(array_distinct(__w), $stopArr))")
          .cast("long").as("n_stop"))
      .select(col("id"), col("n_words"),
        when(col("n_words") === 0, 0L)
          .otherwise(expr("(__chars * 1000) DIV n_words"))
          .as("mean_wlen_permille"),
        when(col("n_words") === 0, 0L)
          .otherwise(expr("(__sym * 1000) DIV n_words"))
          .as("symbol_permille"),
        when(col("n_words") === 0, 0L)
          .otherwise(expr("(__alpha * 1000) DIV n_words"))
          .as("alpha_permille"),
        col("n_stop"))
      .withColumn("pass",
        (col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_wlen_permille") >= 3000 &&
          col("mean_wlen_permille") <= 10000 &&
          col("symbol_permille") <= 100 &&
          col("alpha_permille") >= 800 &&
          col("n_stop") >= 2).cast("long"))
  }

  /** Gopher repetition-filter thresholds (Rae et al. 2021 Table A1), in
    * permille, shared with the DuckDB oracle's generated literals:
    * top-n-gram character fraction caps for n = 2..4 and duplicated
    * n-gram character fraction caps for n = 5..10. A document passes
    * when EVERY signal is at or below its cap. */
  val GopherTopNGramCaps: Seq[(Int, Int)] =
    Seq(2 -> 200, 3 -> 180, 4 -> 160)
  val GopherDupNGramCaps: Seq[(Int, Int)] =
    Seq(5 -> 150, 6 -> 140, 7 -> 130, 8 -> 120, 9 -> 110, 10 -> 100)

  /** Gopher-style repetition signals (Rae et al. 2021, Appendix A.1.2 —
    * the within-document repetition battery that complements
    * [[gopherRules]]' quality battery): for n = 2..4 the TOP n-gram
    * character fraction (characters covered by the single most covering
    * n-gram, multiplicity counted) and for n = 5..10 the DUPLICATED
    * n-gram character fraction (characters covered by all n-grams
    * occurring at least twice, multiplicity counted), each in integer
    * permille of the document's canonical character count (tokens
    * re-joined single-spaced, lowercased — the [[topBigramConcentration]]
    * normalization). "Covered by" counts `count × length(gram)`, the
    * RedPajama/Dolma convention for these signals re-expressed exactly
    * (max over products needs no tie-break; dup sums can exceed 1000 on
    * degenerate text by construction, as in the originals).
    *
    * Scale shape: one token posexplode + ONE window pass per document
    * (a single id-keyed sort serves every n) — no window STRING is ever
    * built and no per-window array is allocated: each token row carries
    * its `xxhash64` and the running character offset in the canonical
    * single-spaced text, the nine gram keys come from codegen'd
    * multi-arg `xxhash64(h, lead(h, 1), …)` over shared `lead` columns,
    * and the gram's character length is a difference of two offsets.
    * Grams are therefore keyed by (64-bit hash, exact length): a
    * spurious merge needs a hash collision AND identical length —
    * harmless for a permille signal; the DuckDB twin groups by the
    * actual gram string, so the oracle additionally pins
    * fixture-collision-freeness. (Two rejected shapes: per-window
    * concat_ws strings shuffled 9·n/2 × the corpus text — 22.5 s, the
    * battery's worst; per-window slice+aggregate over token-hash arrays
    * kept the allocation churn — 15.5 s warm. The lead-column form runs
    * the whole gram build inside whole-stage codegen.)
    * Then two hash aggregates keyed on the doc id — count per
    * (id, n, ghash, glen), fold per (id, n) — and a conditional-
    * aggregate widening to one row per document (no pivot; docs too
    * short for a given n report 0). Returns (id, n_chars,
    * top2/top3/top4_permille, dup5..dup10_permille, pass ∈ {0,1}). */
  def gopherRepetition(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // input-split rebalance before the tokenize+window pipeline (the
    // shingleStream discipline, r17): moves raw doc rows once — strictly
    // less than the exploded token stream the byDoc window would
    // otherwise shuffle — and the explicit-count branch keeps a
    // one-row-group input from serializing the whole gram build
    val base = Transforms.keyedInputRebalance(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"), wsTokens(lower(col("__t"))).as("__w"))
      .select(col("id"),
        length(concat_ws(" ", col("__w"))).cast("long").as("n_chars"),
        col("__w"))
    val tok = base.select(col("id"), col("n_chars"),
        posexplode(col("__w")).as(Seq("pos", "tok")))
      .select(col("id"), col("n_chars"), col("pos"),
        xxhash64(col("tok")).as("h"),
        length(col("tok")).cast("long").as("l"))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    // end(j) = character offset one past token pos+j in the canonical
    // text (tokens joined by single spaces): a running sum of (len + 1)
    // shifted by lead — so glen for the n-gram at pos is
    // end(n−1) − 1 − start, with start = end(−1) evaluated at pos
    val endOff = sum(col("l") + 1L)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, 0))
    val leadsH = (1 to 9).map(j => lead(col("h"), j).over(byDoc))
    val leadsE = (1 to 9).map(j => lead(endOff, j).over(byDoc))
    val withLeads = tok.select(
      col("id") +: col("n_chars") +: col("h") +:
        (endOff - col("l") - 1L).as("start") +:
        (endOff - 1L).as("e0") +:
        leadsH.zipWithIndex.map { case (c, j) => c.as(s"h${j + 1}") } ++:
        leadsE.zipWithIndex.map { case (c, j) => c.as(s"e${j + 1}") }: _*)
    val gramStructs = (2 to 10).map { n =>
      val hs = col("h") +: (1 until n).map(j => col(s"h$j"))
      struct(lit(n).as("n"),
        xxhash64(hs: _*).as("ghash"),
        (col(s"e${n - 1}") - 1L - col("start")).as("glen"))
    }
    val grams = withLeads
      .select(col("id"), col("n_chars"),
        explode(array(gramStructs: _*)).as("g"))
      .select(col("id"), col("n_chars"), col("g.n").as("n"),
        col("g.ghash").as("ghash"), col("g.glen").as("glen"))
      .filter(col("glen").isNotNull)
    val per = grams.groupBy(col("id"), col("n_chars"), col("n"),
        col("ghash"), col("glen"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("id"), col("n_chars"), col("n"),
        (col("cnt") * col("glen")).as("cov"),
        col("cnt"))
    val sig = per.groupBy(col("id"), col("n_chars"), col("n"))
      .agg(max(col("cov")).as("top"),
        sum(when(col("cnt") >= 2, col("cov")).otherwise(0L)).as("dup"))
    val aggs =
      GopherTopNGramCaps.map { case (n, _) =>
        max(when(col("n") === n, col("top"))).as(s"top${n}_raw") } ++
      GopherDupNGramCaps.map { case (n, _) =>
        max(when(col("n") === n, col("dup"))).as(s"dup${n}_raw") }
    val wide = sig.groupBy(col("id"), col("n_chars"))
      .agg(aggs.head, aggs.tail: _*)
    def pmCol(raw: String): Column =
      when(col("n_chars") === 0, 0L)
        .otherwise(expr(s"(coalesce($raw, 0L) * 1000) DIV n_chars"))
    val passCol = (GopherTopNGramCaps.map { case (n, cap) =>
        col(s"top${n}_permille") <= cap } ++
      GopherDupNGramCaps.map { case (n, cap) =>
        col(s"dup${n}_permille") <= cap }).reduce(_ && _)
    // documents too short for ANY n-gram (< 2 tokens) still report a row
    // of zeros, like spanCoverage / gopherRules
    base.select(col("id"), col("n_chars")).join(wide.drop("n_chars"),
        Seq("id"), "left")
      .select(Seq(col("id"), col("n_chars")) ++
        (GopherTopNGramCaps ++ GopherDupNGramCaps).map { case (n, _) =>
          val c = if (n <= 4) s"top${n}_permille" else s"dup${n}_permille"
          val raw = if (n <= 4) s"top${n}_raw" else s"dup${n}_raw"
          pmCol(raw).as(c) }: _*)
      .withColumn("pass", passCol.cast("long"))
  }

}
