package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard (exact near-dup), MinHash+LSH (approximate near-dup at
  * scale), SimHash, and embedding-cosine near-dup.
  *
  * Scale shapes:
  *  - exact dedup = one hash-aggregate shuffle on the text hash (never the
  *    raw text — a 64-bit key shuffles, the document bodies stay put);
  *  - n-gram Jaccard = inverted-index self-join on shingles (exact, but
  *    join fan-out grows with shingle collision rate — use for verification
  *    or modest corpora);
  *  - MinHash+LSH = the 100 TB path: per-doc signature (one aggregate),
  *    banding (explode k/r band keys), bucket self-join (only within-band
  *    collisions meet), then exact-Jaccard verification of the candidates
  *    only. No all-pairs stage anywhere.
  */
object Dedup {

  /** Iterative-fixpoint checkpoint: `localCheckpoint` + origin-stats drop
    * ([[org.apache.spark.sql.GraftSqlBridge.localCheckpointFreshStats]]).
    * REQUIRED wherever a loop's state is derived from its own previous
    * checkpoint through a join — carried join-stats compound
    * multiplicatively per round and the driver eventually hangs
    * multiplying million-digit BigInt size estimates. */
  private[operators] def ckptLight(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.localCheckpointFreshStats(df)

  /** [[ckptLight]] that also returns the row count — the count the eager
    * checkpoint computes anyway. Fixpoint loops use it so the per-round
    * emptiness probe costs zero extra driver jobs. */
  private[operators] def ckptLightCounted(df: DataFrame): (DataFrame, Long) =
    org.apache.spark.sql.GraftSqlBridge.localCheckpointFreshStatsCounted(df)

  /** Inverted shingle index: (id, nsh, s) — one row per (doc, distinct
    * shingle), with the doc's distinct-shingle count.
    *
    * Shape: posexplode tokens → window `lead` ×(n−1) to assemble shingles →
    * distinct → windowed count. Deliberately NOT the array-lambda
    * formulation: higher-order functions run interpreted (outside
    * whole-stage codegen) and measured ~60× slower here; explode+lead is
    * fully codegen'd, linear, and its three shuffles all hash on the doc id
    * (Spark reuses the partitioning). At 100 TB each stage stays
    * linear-shuffle with no per-row quadratic expression cost. */
  def shingleInv(df: DataFrame, textCol: String, idCol: String,
      n: Int, hashedKey: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleStream(df, textCol, idCol, n, hashedKey = hashedKey)
      .dropDuplicates("id", "s")
    sh.withColumn("nsh", count(lit(1)).over(Window.partitionBy("id")))
      .select("id", "nsh", "s")
  }

  /** Raw (id, s) shingle stream WITHOUT the distinct / per-doc-count
    * stages of [[shingleInv]] — for consumers that are insensitive to
    * duplicate shingles (min-hash: `min` over a bag equals `min` over its
    * set), where the dropDuplicates hash-aggregate and the counting window
    * are pure overhead. Same scale shape: the one exchange hashes on doc
    * id, everything after is per-partition.
    *
    * Input-split rebalance: repartition the RAW docs by id before
    * tokenizing. A non-splittable input (one parquet row group — the shape
    * of small dimension files and of freshly-landed single-file drops)
    * would otherwise run the whole tokenize+explode in one task; and the
    * downstream window needs hash(id) clustering anyway, so this exchange
    * replaces the bigger one that would have shuffled the exploded tokens
    * — strictly less data moved (docs < tokens) at any scale. */
  /** `hashedKey = true` emits the gram as `xxhash64(w0, …, wn−1)` (one
    * 8-byte long) instead of the concatenated string — for consumers
    * that only COUNT grams (jaccard/containment/novelty: gram identity
    * never reaches their output), the key is all that shuffles and
    * joins, so a ~50-byte gram string is pure wasted bytes. Same
    * collision discipline as the ppjoin verify arrays: deterministic,
    * so a merge of two distinct grams could never pass the oracle gate
    * silently, and a count error needs two of ONE corpus's distinct
    * grams to collide in 64 bits. Consumers whose output or model
    * carries the gram itself (kn/vocab tables, contamination reports)
    * keep the string form. */
  def shingleStream(df: DataFrame, textCol: String, idCol: String,
      n: Int, carry: Seq[String] = Nil,
      hashedKey: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `carry` columns must be constant per id (they ride the id-keyed
    // explode and window untouched) — used by consumers that branch on a
    // row property ABOVE the shared stream instead of pre-filtering, so
    // both branches reuse one exchange (see splitContamination).
    val carryCols = carry.map(col)
    // keyedInputRebalance, not a bare repartition(id): on a one-row-group
    // input AQE coalesces the keyed exchange to a single task and the
    // explode+window below serializes (r17; the explicit-count branch is
    // AQE-exempt, the wide branch keeps the old keyed repartition)
    val tok = Transforms.keyedInputRebalance(
        df.select(col(idCol).as("id") +: carryCols
          :+ col(textCol).as("__text"): _*), col("id"))
      .select(col("id") +: carryCols
        :+ posexplode(split(lower(trim(col("__text"))), "\\s+")).as(Seq("pos", "w0")): _*)
    val wspec = Window.partitionBy("id").orderBy("pos")
    val leads = (1 until n).map(j => lead(col("w0"), j).over(wspec).as(s"w$j"))
    val key =
      if (hashedKey) xxhash64((0 until n).map(j => col(s"w$j")): _*)
      else concat_ws(" ", (0 until n).map(j => col(s"w$j")): _*)
    tok.select(col("id") +: carryCols ++: (col("w0") +: leads): _*)
      .filter(col(s"w${n - 1}").isNotNull)
      .select(col("id") +: carryCols :+ key.as("s"): _*)
  }

  /** Exact dedup: one surviving id (min) per distinct text. The group key
    * is (xxhash64, crc32, byte-length) of the text — ~96 collision bits —
    * so the shuffle moves fixed-size keys instead of document bodies while
    * keeping accidental merges out of reach even at 100 TB corpus sizes
    * (a 64-bit hash alone hits birthday collisions at billions of docs). */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("__h1"),
        crc32(encode(col(textCol), "UTF-8")).as("__h2"),
        length(encode(col(textCol), "UTF-8")).as("__len"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /** Incremental exact dedup: survivors of `batch` whose content does NOT
    * already exist in `seenState` (a persisted hash set from previous
    * syncs). The crawl-pipeline composition of this engine's two halves —
    * content dedup × reconcile-style persistent state: each new batch costs
    * one within-batch dedup plus one anti-join of (hash, id) pairs against
    * the state table; document bodies never join anything.
    *
    * `seenState` must carry `hashCol` (e.g. `md5(text)` from
    * [[seenHashes]]); at scale it is written hash-clustered on `hashCol`
    * so the anti-join co-partitions with it. New survivors' hashes are the
    * caller's to append to state after the sink write succeeds — same
    * two-phase contract as [[graft.operators.Reconcile]]. */
  def incrementalExactSurvivors(batch: DataFrame, seenState: DataFrame,
      textCol: String, idCol: String, hashCol: String = "seen_hash"): DataFrame =
    batch.select(md5(col(textCol)).as(hashCol), col(idCol))
      .groupBy(hashCol).agg(min(col(idCol)).as(idCol))
      .join(seenState.select(hashCol), Seq(hashCol), "left_anti")
      .select(idCol)

  /** State image of a batch for [[incrementalExactSurvivors]]. */
  def seenHashes(df: DataFrame, textCol: String,
      hashCol: String = "seen_hash"): DataFrame =
    df.select(md5(col(textCol)).as(hashCol)).dropDuplicates(hashCol)

  /** Bloom-pruned variant of [[incrementalExactSurvivors]] — same EXACT
    * output, different shuffle economics. A Bloom filter over the seen-state
    * hashes is built with Spark's own partial-aggregating
    * `BloomFilterAggregate` (map-side combine: only fixed-size sketches move
    * between executors), collected once (bounded by `expectedItems` sizing,
    * ~1.2 MB per million entries at the default FPP — the same
    * bounded-driver-artifact contract as the IVF centroid set), and embedded
    * as a literal probed by the codegen'd `BloomFilterMightContain`.
    *
    * Routing: batch rows the filter rejects are DEFINITELY unseen (Bloom
    * has no false negatives) and skip the anti-join entirely. Only the
    * maybe-seen sliver (true dups + false positives, typically a few
    * percent of a crawl batch) pays the exchange against state. False
    * positives are re-checked by the exact anti-join, so the result is
    * identical to the plain form. The probe runs map-side on the RAW rows
    * and its verdict travels THROUGH the aggregate as a carried column
    * (it is hash-determined, so any per-group agg of it is exact) — if the
    * branches filtered on a plain key predicate instead, the optimizer
    * would push each filter below the aggregate and plan TWO scans of the
    * batch; carried this way both branches share one scan + partial
    * aggregate and AQE feeds the second from a ReusedExchange
    * (plan-asserted in PlanShapeSpec).
    *
    * At 100 TB: the plain form shuffles the ENTIRE batch's (hash, id) pairs
    * into the anti-join; this form shuffles ~(dup_rate + fpp) of them. The
    * filter build streams the state once with no shuffle at all (partial
    * sketches OR-merge). When the state outgrows one broadcastable filter
    * (~billions of entries), the same shape runs per hash partition of the
    * state, each partition with its own bounded filter. */
  def bloomPrunedIncrementalSurvivors(batch: DataFrame, seenState: DataFrame,
      textCol: String, idCol: String, hashCol: String = "seen_hash",
      expectedItems: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType

    val buildAgg = GraftSqlBridge.column(
      new BloomFilterAggregate(
        GraftSqlBridge.expression(xxhash64(col(hashCol))), expectedItems)
        .toAggregateExpression())
    val bloomRow = seenState.select(buildAgg.as("bf")).head()
    if (bloomRow.isNullAt(0)) // empty state: everything (deduped) is new
      return batch.select(md5(col(textCol)).as(hashCol), col(idCol))
        .groupBy(hashCol).agg(min(col(idCol)).as(idCol)).select(idCol)

    val maybeSeen = GraftSqlBridge.column(BloomFilterMightContain(
      Literal(bloomRow.getAs[Array[Byte]](0), BinaryType),
      GraftSqlBridge.expression(xxhash64(col(hashCol)))))
    val flagged = batch
      .select(md5(col(textCol)).as(hashCol), col(idCol))
      .withColumn("__maybe_seen", maybeSeen)
      .groupBy(hashCol)
      .agg(min(col(idCol)).as(idCol), max(col("__maybe_seen")).as("__maybe_seen"))
    val definitelyNew = flagged.filter(!col("__maybe_seen")).select(idCol)
    val verifiedNew = flagged.filter(col("__maybe_seen"))
      .join(seenState.select(hashCol), Seq(hashCol), "left_anti")
      .select(idCol)
    definitelyNew.union(verifiedNew)
  }

  /** Benchmark decontamination: for every training document, count the
    * distinct word `n`-grams it shares with a held-out benchmark corpus and
    * how many distinct benchmark documents those grams touch. Non-empty
    * output = contaminated docs a training pipeline must drop before the
    * eval numbers mean anything (the standard n for this check is 8–13
    * words; verbatim leaks survive tokenization noise at that length while
    * idiom-level coincidences don't).
    *
    * Shape: both sides reuse [[shingleStream]] (codegen'd explode+lead,
    * exchanges hash on the doc id) and dedup to per-doc gram SETS. The join
    * key is the gram string itself — no sketching, so the check is exact.
    * Benchmark corpora are small by nature (eval sets, not crawls), so the
    * bench side is broadcast: the training side's gram stream joins in
    * place and never shuffles for the join. Only MATCHED (id, s, bench_id)
    * rows — contamination is rare by construction — reach the final
    * aggregate, so the one real exchange carries a sliver. At 100 TB this
    * is a linear scan of the training corpus against a constant-size
    * broadcast, the same economics as [[bloomPrunedIncrementalSurvivors]]. */
  def benchmarkContamination(train: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int = 8): DataFrame = {
    val tg = shingleStream(train, textCol, idCol, n).dropDuplicates("id", "s")
    val bg = shingleStream(bench, textCol, idCol, n)
      .select(col("id").as("bench_id"), col("s"))
      .dropDuplicates("bench_id", "s")
    contaminationReport(tg, broadcast(bg))
  }

  // Shape note (measured, sf0.1, warm runs of the decont_* queries): when train
  // and bench are SPLITS OF ONE CORPUS it is tempting to tokenize once and
  // branch, but every sharing mechanism measured WORSE than the pre-filtered
  // two-stream form above (2.2 s): carried-split-tag + repartition(s)
  // self-join 3.8 s (the optimizer pushes each side's single-side split
  // filter below the added exchange, so nothing above the tokenize is
  // shared and the gram shuffle is pure overhead); localCheckpoint-shared
  // gram stream 2.85 s (the materialization barrier costs more than it
  // saves). The duplicated work is only the BENCH slice's tokenize —
  // benchmark corpora are the small side by construction — so the
  // two-stream form is also the right 100 TB plan, not just the local win.
  private def contaminationReport(tg: DataFrame, bg: DataFrame): DataFrame =
    tg.join(bg, "s")
      .groupBy(col("id"))
      .agg(countDistinct(col("s")).as("n_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))

  /** Exact n-gram-Jaccard near-dup pairs via inverted shingle index:
    * doc→shingle explode, self-join on shingle, common-count per pair,
    * jaccard = common / (|A| + |B| − common) ≥ threshold. Returns
    * (a, b, jacc_permille) with a < b. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 5, thresholdPermille: Int = 100): DataFrame = {
    // Self-join shape: repartition on the join key and force a shuffle
    // join. The two sides are then byte-identical plans ending in the same
    // Exchange, so AQE computes the whole inverted index ONCE and feeds the
    // second side from a ReusedExchange. A broadcast join here would skip
    // that common shuffle boundary and rebuild the index (scan + explode +
    // two windows + aggregate) once per side — measured ~2× the cost — and
    // at 100 TB the index can't broadcast anyway, so the shuffle join is
    // also the only plan that scales.
    val inv = shingleInv(df, textCol, idCol, n, hashedKey = true)
      .repartition(col("s"))
    val pairs = inv.as("x").join(inv.as("y").hint("shuffle_hash"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"),
        col("x.nsh").as("na"), col("y.nsh").as("nb"))
      .agg(count(lit(1)).as("common"))
    pairs
      .withColumn("jacc_permille",
        round(col("common") * lit(1000.0) /
          (col("na") + col("nb") - col("common"))).cast("long"))
      .filter(col("jacc_permille") >= thresholdPermille)
      .select("a", "b", "jacc_permille")
  }

  /** Per-doc MinHash signature as ONE `array<long>` column (`sig`), built
    * by the native [[graft.functions.SketchAggs.minhash]] aggregate — a
    * single tight-loop aggregate with an Array[Long] buffer instead of k
    * `min(xxhash64(i, s))` columns whose generated code grew with k and
    * dominated wall time via JIT compilation. Scale shape unchanged: one
    * hash shuffle on doc id, k longs of state per doc. */
  def minhashSignature(df: DataFrame, textCol: String, idCol: String,
      k: Int = 64, n: Int = 5): DataFrame = {
    // shingleStream, not shingleInv: min over a bag == min over its set,
    // so the distinct + count-window stages would be dead weight here
    // (~40% of the signature pipeline's time at sf0.1).
    val inv = shingleStream(df, textCol, idCol, n)
    inv.groupBy("id").agg(graft.functions.SketchAggs.minhash(col("s"), k).as("sig"))
  }

  /** MinHash + LSH banding: signatures → (band, bandHash) keys → bucket
    * self-join → candidate pairs → exact verification left to caller (or
    * [[ngramJaccardPairs]] on the candidate subset). r rows/band; docs
    * agreeing on all r hashes of any band collide. Returns distinct
    * candidate pairs (a < b). */
  /** `maxBucket` (0 = off) drops band buckets with more than that many
    * members before the self-join — the standard skew control at corpus
    * scale: a degenerate bucket of m docs (boilerplate shingle sets,
    * adversarial content) would emit m²/2 candidate pairs on one key and
    * stall the stage. Dropped buckets lose those candidates by design —
    * docs that near-duplicate each other agree on MANY bands, so they
    * still collide in a non-degenerate one with high probability. */
  /** The LSH band keys of a signature frame, one `(id, bk)` row per
    * (doc, band) with `bk = struct(band, xxhash64(sig slice))` — the
    * collision keys [[minhashLshCandidates]] self-joins on, exposed so
    * the streaming twin ([[graft.streaming.StatefulLshDedup]]) keys its
    * bucket state on the IDENTICAL values. */
  def lshBandKeys(sigs: DataFrame, k: Int, r: Int): DataFrame = {
    require(k % r == 0,
      s"k=$k must be a multiple of r=$r (trailing hashes would be silently unused)")
    val bands = k / r
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * r + 1, r)).as("bh"))
    }
    sigs.select(col("id"), explode(array(bandCols: _*)).as("bk"))
  }

  def minhashLshCandidates(sigs: DataFrame, k: Int = 64, r: Int = 4,
      maxBucket: Int = 0): DataFrame = {
    // Same self-join shape as [[ngramJaccardPairs]]: repartition on the
    // band key + shuffle join ⇒ AQE reuses one Exchange for both sides, so
    // the signature pipeline (shingle index + k min-hashes) runs once, not
    // twice — and bucket joins on band keys are the only shape that scales
    // past broadcast size.
    val allKeyed = lshBandKeys(sigs, k, r).repartition(col("bk"))
    val keyed = if (maxBucket <= 0) allKeyed else {
      // bucket-size filter clusters on the same key, so it rides the same
      // exchange; only (bk, n) pairs flow into the window, never payloads.
      import org.apache.spark.sql.expressions.Window
      allKeyed
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("bk")))
        .filter(col("__n") <= maxBucket).drop("__n")
    }
    keyed.as("x").join(keyed.as("y").hint("shuffle_hash"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
  }

  /** Exact-Jaccard verification of CANDIDATE pairs only — the second half
    * of the 100 TB near-dedup recipe (LSH proposes, exact verifies): the
    * shingle index joins against the candidate list first, so the
    * quadratic all-pairs shingle join never happens; per-pair cost is the
    * common-shingle count of pairs LSH already vouched for. Returns the
    * same (a, b, jacc_permille) shape as [[ngramJaccardPairs]]. */
  def verifyCandidates(df: DataFrame, candidates: DataFrame, textCol: String,
      idCol: String, n: Int = 5, thresholdPermille: Int = 100): DataFrame = {
    val inv = shingleInv(df, textCol, idCol, n, hashedKey = true)
    val pairs = candidates.select(col("a"), col("b"))
      .join(inv.as("x"), col("a") === col("x.id"))
      .join(inv.as("y"), col("b") === col("y.id") && col("x.s") === col("y.s"))
      .groupBy(col("a"), col("b"), col("x.nsh").as("na"), col("y.nsh").as("nb"))
      .agg(count(lit(1)).as("common"))
    pairs
      .withColumn("jacc_permille",
        round(col("common") * lit(1000.0) /
          (col("na") + col("nb") - col("common"))).cast("long"))
      .filter(col("jacc_permille") >= thresholdPermille)
      .select("a", "b", "jacc_permille")
  }

  /** Connected components over the near-dup PAIR graph — the clustering
    * step every dedup pipeline ends with: pairs say "a duplicates b",
    * components say "these k docs are one group, keep min(id)". Returns
    * (id, cluster_id) for every doc appearing in a pair, cluster_id =
    * min doc id of its component (deterministic canonical representative);
    * docs with no dup pair are singletons by definition and are omitted.
    *
    * Shape: iterative min-label propagation. Edges are symmetrized and
    * materialized ONCE (`localCheckpoint` — the upstream pair pipeline,
    * e.g. the whole LSH+verify stack, must not replay per iteration);
    * each iteration is one equi-join of (src,dst) against (id,lab) on the
    * node id plus a min-aggregate — label records only, never payloads —
    * and a checkpoint to truncate lineage (an iterative plan would
    * otherwise grow without bound), plus a label-table self-join that
    * pointer-jumps each label to its label's label (shortcutting — the
    * propagation distance doubles per round, so ANY component shape
    * converges in O(log n) rounds; plain hash-min needs diameter rounds
    * and a chain-shaped graph, e.g. a Borůvka forest, blows past any
    * fixed bound). Dup components are near-cliques and still converge in
    * 2-4 rounds; the shortcut join is over the (id, lab) table only —
    * label records, never payloads. At cluster scale the same loop runs
    * with reliable checkpointing.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b", maxIter: Int = 25): DataFrame = {
    val e = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val edges = ckptLight(
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = ckptLight(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lab")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val msgs = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("lab"))
      // checkpoint before the self-join below: materializes the aggregate
      // once for both join sides AND detaches the union/aggregate lineage
      // (whose inferred constraints trip on the self-join otherwise)
      val prop = ckptLight(
        labels.union(msgs).groupBy("id").agg(min("lab").as("lab")))
      // pointer-jump shortcut (path compression): follow each node's label
      // to THAT node's label in the same round — labels are always node
      // ids present in the table, so the self-join is total. Plain
      // hash-min needs diameter rounds (a Borůvka forest or any chainy
      // dup graph can be O(n) deep); hash-min + shortcutting doubles the
      // propagation distance per round → O(log n) rounds on any shape.
      // min-propagation is monotone: a round changes exactly the rows
      // whose label DECREASED, so materializing only those rows with a
      // counted checkpoint is both the convergence probe and the delta —
      // one driver job where (next-ckpt + isEmpty-join) was two. The new
      // label table is old-rows-anti-delta ∪ delta, a lazy composition of
      // already-materialized tables the next round's prop ckpt collapses.
      val (changed, nChanged) = ckptLightCounted(prop
        .join(prop.select(col("id").as("__pid"), col("lab").as("__plab")),
          col("lab") === col("__pid"))
        .select(col("id"), least(col("lab"), col("__plab")).as("lab"))
        .join(labels.withColumnRenamed("lab", "__old"), "id")
        .filter(col("lab") < col("__old"))
        .select(col("id"), col("lab")))
      prop.unpersist()
      converged = nChanged == 0L
      if (!converged) {
        labels = labels.join(changed, Seq("id"), "left_anti").union(changed)
        // dup graphs converge in 2-4 rounds; on a pathologically deep
        // graph, collapse the delta chain so the composed plan's anti-join
        // depth stays bounded
        if (iter % 6 == 5) labels = ckptLight(labels)
      }
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter iterations " +
        "(graph diameter exceeds maxIter — raise it or use star-contraction)")
    labels.select(col("id"), col("lab").as("cluster_id"))
  }

  /** Canonical-representative selection: the step after clustering that
    * decides which member of each duplicate cluster survives into the
    * training corpus. Representative = the member ranked first by
    * `quality` descending (ties to smallest id, so the choice is total and
    * rerun-stable). One inner join of the cluster map (only docs that had a
    * near-dup — a sliver of the corpus) against the doc table, then one
    * window pass partitioned on `cluster_id`: member count and rank share
    * the same exchange, and `row_number <= 1` lets `WindowGroupLimit` cap
    * each map task's output at one row per cluster before the shuffle.
    * Output: (cluster_id, rep_id, n_members). */
  def clusterRepresentatives(clusters: DataFrame, docs: DataFrame,
      idCol: String, quality: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = docs.join(clusters, docs(idCol) === clusters("id"))
      .drop("id")
    val part = Window.partitionBy(col("cluster_id"))
    val ranked = part.orderBy(quality.desc, col(idCol).asc)
    joined
      .withColumn("n_members", count(lit(1)).over(part))
      .withColumn("__rn", row_number().over(ranked))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col(idCol).as("rep_id"), col("n_members"))
  }

  /** SimHash (64-bit): per-token hash votes weighted ±1 per bit, sign →
    * bit. Near-dups have small Hamming distance. One explode + one native
    * [[graft.functions.SketchAggs.simhash]] aggregate (64-counter buffer in
    * a tight loop — same output as the 64-sum-column formulation whose
    * generated code was a JIT-time sink) — single shuffle on doc id.
    * Raw docs are rebalanced by id first (only when the input is too
    * narrow — on a well-split input the aggregate's map-side combine
    * shuffles 64-long buffers, cheaper than doc bodies) so the
    * tokenize+explode parallelizes even off a single input split. */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tok = Transforms.rebalanceIfNarrow(
        df.select(col(idCol).as("id"), col(textCol).as("__text")), col("id"))
      .select(col("id"),
        explode(TextAnalysis.wsTokens(lower(col("__text")))).as("w"))
      .select(col("id"), xxhash64(col("w")).as("h"))
    tok.groupBy("id")
      .agg(graft.functions.SketchAggs.simhash(col("h")).as("simhash"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The SCALE path for embedding-cosine dedup: SRP-LSH pre-bucketing →
    * exact cosine only WITHIN buckets. The all-pairs join of
    * [[embeddingCosinePairs]] becomes an equi-join on the bucket key — the
    * candidate volume drops from n²/2 to Σ|bucket|²/2 (≈ n²/2^nPlanes for
    * balanced buckets), and the join co-partitions on the key, so at corpus
    * scale nothing ever materializes beyond same-bucket pairs. Same
    * self-join exchange-reuse shape as [[minhashLshCandidates]]: both sides
    * are the identical bucket pipeline, so AQE computes signatures once.
    *
    * Recall trade-off is the SRP one: a true near-dup pair lands in the
    * same bucket iff no hyperplane separates it — probability
    * (1 − θ/π)^nPlanes for angle θ, high precisely for the near-duplicates
    * this operator hunts (θ→0), and tunable via nPlanes. Missed pairs are
    * recoverable by multi-probe or plane-set rotation; the exact tier
    * ([[embeddingCosinePairs]]) remains the verifier. Output is exact
    * cosine on surviving pairs — a strict SUBSET of the all-pairs result
    * (asserted in DedupSimilaritySpec).
    *
    * `nPlanes <= 0` (the default) derives the plane count from the
    * corpus ([[Similarity.derivedLshPlanes]]): a FIXED plane count makes
    * Σ|bucket|² — the in-bucket pair volume — quadratic in the corpus
    * (the fixed-nlist IVF trap in its LSH form); derived planes hold
    * mean occupancy at ~1024 so pair volume stays ~n·1024. Identity
    * (6 planes) at every oracle-checked scale. */
  def embeddingCosineLsh(df: DataFrame, vecCol: String, idCol: String,
      thresholdPermille: Int, nPlanes: Int = 0, dim: Int = 64): DataFrame = {
    val vecs = Transforms.rebalanceIfNarrow(
      df.select(col(idCol).as("id"), col(vecCol).as("vec")), col("id"))
    val b = Similarity.lshBuckets(vecs,
        "vec", "id", Similarity.resolvedLshPlanes(vecs, nPlanes), dim)
      .withColumn("n2", Similarity.dot(col("v"), col("v")))
      .repartition(col("bucket"))
    b.as("x").join(b.as("y").hint("shuffle_hash"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        round(Similarity.dot(col("x.v"), col("y.v")) /
          (sqrt(col("x.n2")) * sqrt(col("y.n2"))) * lit(1000.0))
          .cast("long").as("cos_permille"))
      .filter(col("cos_permille") >= thresholdPermille)
  }

  /** Entity-resolution fuzzy matching in the classic block-then-verify
    * shape: candidate pairs are generated ONLY within blocks (an equi-join
    * on the blocking key — co-partitionable, never all-pairs), then
    * verified with exact Levenshtein edit distance, keeping pairs within
    * `maxDist`. The record-linkage sibling of [[verifyCandidates]]: LSH
    * buckets there, a domain blocking key (brand, zip, sorted-neighborhood
    * window…) here; both confine the quadratic stage to candidates.
    *
    * Scale: pair volume is Σ_blocks |block|²/2 — the blocking key must
    * bound block size (compose keys or salt a hot block if not); the join
    * hashes on the key, so blocks co-locate and verification parallelizes
    * across blocks. `levenshtein` is codegen'd (O(|s|²) per pair — cap
    * string length upstream for adversarial inputs). */
  def blockedEditDistance(df: DataFrame, blockCol: String, textCol: String,
      idCol: String, maxDist: Int): DataFrame = {
    val v = Transforms.rebalanceIfNarrow(
      df.select(col(blockCol).as("blk"), col(textCol).as("s"),
        col(idCol).as("id")), col("id"))
    v.as("x").join(v.as("y"),
        col("x.blk") === col("y.blk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        levenshtein(col("x.s"), col("y.s")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }

  /** Blocking-strategy recall with a SAMPLED truth tier — the scale-safe
    * form of the blocked-matcher evaluation (round-16 VERDICT task 2).
    *
    * The exhaustive evaluation enumerates ALL pairs for ground truth —
    * quadratic by construction, and the one query the 100× rung had to
    * exclude. This form estimates the same recall from a DETERMINISTIC
    * stratified pair sample: the `nAnchors` rows with the smallest
    * Knuth keep-hash (`pmod(pmod(id, 2³¹−1)·2654435761, 10⁶)` — the
    * engine's shared sampling primitive with the documented salt-fold
    * below 2³¹ first, so the product stays under 2⁶³ at any corpus id
    * (ANSI mode throws on Long overflow); tie-broken by id, so both
    * engines select the identical set) are crossed against the whole
    * slice, giving
    * |anchors|·n candidate pairs — LINEAR in the corpus once `nAnchors`
    * saturates. When the slice is no larger than `nAnchors` the anchor
    * set IS the slice and the estimate degrades to the exhaustive
    * number exactly (pinned in DedupSimilaritySpec).
    *
    * The estimate carries an exact-integer confidence half-width,
    * `1000 DIV floor(sqrt(n_truth))` permille (the 1/√m standard-error
    * scale; integer-only, so engine and oracle agree bit-for-bit —
    * IEEE sqrt is correctly rounded, so floor∘sqrt of an exact integer
    * count is deterministic across engines).
    *
    * Plan shape: anchors are a global top-k (TakeOrdered — proven
    * bounded), the anchor×slice join is a broadcast nested loop with a
    * ≤`nAnchors`-row build side (the PLANS.md bounded-eval-cross
    * family), and the found tier is the linear blocked matcher itself.
    * Output: one row — n_truth, n_found, recall_permille,
    * ci_halfwidth_permille. */
  def blockedRecallSampled(df: DataFrame, blockCol: String,
      textCol: String, idCol: String, maxDist: Int,
      nAnchors: Int = 128): DataFrame = {
    val found = blockedEditDistance(df, blockCol, textCol, idCol,
      maxDist).select(col("a"), col("b"))
    val v = df.select(col(textCol).as("s"), col(idCol).as("id"))
    val anch = v
      .withColumn("kh", TextAnalysis.keepHashPpm(col("id")))
      .orderBy(col("kh"), col("id")).limit(nAnchors)
      .select(col("s"), col("id"))
    // canonicalize (a < b) and de-dup: a pair of two anchors is proposed
    // from both sides; distinct keeps the sample a SET of pairs
    val pairs = anch.as("x").join(v.as("y"), col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"),
        when(col("x.id") < col("y.id"), col("x.s")).otherwise(col("y.s"))
          .as("sa"),
        when(col("x.id") < col("y.id"), col("y.s")).otherwise(col("x.s"))
          .as("sb"))
      .distinct()
    val truth = pairs
      .filter(levenshtein(col("sa"), col("sb")) <= maxDist)
      .select(col("a"), col("b"))
    truth.agg(count(lit(1)).as("n_truth")).crossJoin(
        truth.join(found, Seq("a", "b"), "left_semi")
          .agg(count(lit(1)).as("n_found")))
      .withColumn("recall_permille",
        expr("CASE WHEN n_truth = 0 THEN 1000 " +
          "ELSE (1000 * n_found) DIV n_truth END"))
      .withColumn("ci_halfwidth_permille",
        expr("CASE WHEN n_truth = 0 THEN 1000 ELSE least(1000, " +
          "1000 DIV CAST(floor(sqrt(n_truth)) AS BIGINT)) END"))
  }

  /** Asymmetric shingle containment: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    * — the quote/subset detector Jaccard misses (a paragraph fully
    * embedded in a long document has high containment but low Jaccard,
    * because the union is dominated by the long side). Emits both
    * directions per unordered pair and keeps pairs where EITHER rounded
    * permille clears the threshold, so a short doc swallowed by a long
    * one always surfaces.
    *
    * Same plan as [[ngramJaccardPairs]] — ONE inverted index, reused
    * exchange on the shingle, common counts per pair — only the score
    * changes, so the same verifier-tier / LSH-scale contract applies. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 5, thresholdPermille: Int = 800): DataFrame = {
    val inv = shingleInv(df, textCol, idCol, n, hashedKey = true)
      .repartition(col("s"))
    val pairs = inv.as("x").join(inv.as("y").hint("shuffle_hash"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"),
        col("x.nsh").as("na"), col("y.nsh").as("nb"))
      .agg(count(lit(1)).as("common"))
    pairs
      .withColumn("cont_a_permille",
        round(col("common") * lit(1000.0) / col("na")).cast("long"))
      .withColumn("cont_b_permille",
        round(col("common") * lit(1000.0) / col("nb")).cast("long"))
      .filter(col("cont_a_permille") >= thresholdPermille ||
        col("cont_b_permille") >= thresholdPermille)
      .select("a", "b", "cont_a_permille", "cont_b_permille")
  }

  /** Blocked Jaro-Winkler matching: [[blockedEditDistance]]'s shape with
    * the transposition-tolerant, prefix-weighted scorer
    * ([[graft.functions.JaroWinkler]], a native codegen'd expression) —
    * the name/brand/address tier of entity resolution, where edit
    * distance over-penalizes swapped tokens. Same scale contract: an
    * equi-join on the blocking key bounds candidates to Σ|block|²/2,
    * scoring runs fused above the join, and the permille threshold is
    * applied AFTER rounding so the engine and any oracle agree on
    * boundary pairs. */
  def blockedJaroWinkler(df: DataFrame, blockCol: String, textCol: String,
      idCol: String, minPermille: Int): DataFrame = {
    val v = Transforms.rebalanceIfNarrow(
      df.select(col(blockCol).as("blk"), col(textCol).as("s"),
        col(idCol).as("id")), col("id"))
    v.as("x").join(v.as("y"),
        col("x.blk") === col("y.blk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        round(graft.functions.JaroWinkler(col("x.s"), col("y.s")) * 1000)
          .cast("long").as("jw_permille"))
      .filter(col("jw_permille") >= minPermille)
  }

  /** Sorted-neighborhood candidate generation (the third classic blocking
    * strategy, next to key blocking — [[blockedEditDistance]] — and LSH):
    * records are sorted by a content-derived key and each record pairs
    * with its next `window` neighbors in that order, then candidates are
    * verified with exact Levenshtein. Near-identical strings sort
    * adjacent, so a tiny window finds them without any quadratic stage.
    *
    * Scale: the sort is per `blockExpr` partition (classic SNM prefix
    * blocking), so the plan is one shuffle on the block + a per-block sort
    * — never a global sort; candidate volume is exactly window·n. Pairs
    * whose sort keys straddle a block boundary are missed — the standard
    * SNM trade, mitigated by multi-pass runs with different sort keys
    * (compose by unioning passes). Each ordered pair is emitted at most
    * once (forward window). */
  def sortedNeighborPairs(df: DataFrame, blockExpr: Column, sortKey: Column,
      textCol: String, idCol: String, window: Int, maxDist: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // No input rebalance here (contrast blockedEditDistance): the Window's
    // own hash(blk) exchange is the redistribution — the expensive per-row
    // work (levenshtein) runs above it, so a prior exchange on the id
    // would shuffle the corpus twice for nothing. Parallelism is bounded
    // by |blocks|; pick a blockExpr with enough distinct values.
    val v = df.select(blockExpr.as("blk"), sortKey.as("sk"),
      col(textCol).as("s"), col(idCol).as("id"))
    val w = Window.partitionBy(col("blk")).orderBy(col("sk"), col("id"))
    // window exprs are computed in a plain projection FIRST (one Window
    // node — all leads share the frame sort), then packed and exploded:
    // Spark forbids window functions inside a generator expression.
    val withLeads = v.select(col("id") +: col("s") +:
      (1 to window).flatMap(i => Seq(
        lead(col("id"), i).over(w).as(s"nid_$i"),
        lead(col("s"), i).over(w).as(s"ns_$i"))): _*)
    val nbrs = array((1 to window).map(i =>
      struct(col(s"nid_$i").as("nid"), col(s"ns_$i").as("ns"))): _*)
    withLeads.withColumn("nb", explode(nbrs))
      .filter(col("nb.nid").isNotNull)
      .select(col("id").as("a"), col("nb.nid").as("b"),
        levenshtein(col("s"), col("nb.ns")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }

  /** Embedding-cosine near-dup pairs ≥ threshold (exact, all-pairs — the
    * verification-grade path; [[embeddingCosineLsh]] is the scale path).
    * Cosine in double; emitted as permille for exact compares. */
  def embeddingCosinePairs(df: DataFrame, vecCol: String, idCol: String,
      thresholdPermille: Int): DataFrame = {
    // squared norms precomputed once per VECTOR (n rows), not per pair
    // (n² rows); the per-pair work is a single dot product. The cosine
    // formula stays dot/(sqrt(n2a)·sqrt(n2b)) — bit-identical to the naive
    // form, so the oracle compare is unaffected.
    // Rebalance by id (narrow inputs only): the pairwise join parallelizes
    // over the LEFT side's partitions (the right side broadcasts), so a
    // single-split input would serialize all the dot products into one task.
    val v = Transforms.rebalanceIfNarrow(
        df.select(col(idCol).as("id"),
          col(vecCol).cast("array<double>").as("v")), col("id"))
      .withColumn("n2", Similarity.dot(col("v"), col("v")))
    val a = v.as("x"); val b = v.as("y")
    a.join(b, col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        round(Similarity.dot(col("x.v"), col("y.v")) /
          (sqrt(col("x.n2")) * sqrt(col("y.n2"))) * lit(1000.0))
          .cast("long").as("cos_permille"))
      .filter(col("cos_permille") >= thresholdPermille)
  }

  /** Per-document n-gram novelty: of a doc's distinct word n-grams, how
    * many also appear in at least one OTHER document (permille). The
    * inter-document memorization/boilerplate signal — complements
    * `TextAnalysis.dupTokenPermille` (intra-doc repetition) and
    * [[benchmarkContamination]] (cross-split leakage): a doc scoring high
    * here is made of corpus-common phrasing even if no single pair-wise
    * near-dup exists.
    *
    * Shape: the [[shingleInv]] inverted index feeds a gram-frequency
    * aggregate, and the shared-count join keys on the gram via the same
    * reused-exchange posture as the Jaccard tier — `repartition(s)` feeds
    * both the frequency aggregate and the join's probe side, so the
    * corpus-sized index shuffles once. Output: (id, n_grams,
    * shared_permille); docs shorter than n tokens have no grams and are
    * absent. */
  def gramNovelty(df: DataFrame, textCol: String, idCol: String,
      n: Int = 8): DataFrame = {
    val inv = shingleInv(df, textCol, idCol, n, hashedKey = true)
      .repartition(col("s"))
    // (id, s) is distinct, so count(*) per gram == docs containing it
    val gdf = inv.groupBy("s").agg(count(lit(1)).as("__docs"))
    inv.join(gdf, "s")
      .groupBy(col("id").as(idCol))
      .agg(max(col("nsh")).as("n_grams"),
        sum(when(col("__docs") >= 2, 1L).otherwise(0L)).as("__shared"))
      .withColumn("shared_permille",
        expr("(1000 * __shared) DIV n_grams"))
      .select(idCol, "n_grams", "shared_permille")
  }

  /** Prefix-filtered word-set similarity join (the PPJoin/AllPairs family,
    * Bayardo et al. WWW'07 / Xiao et al. WWW'08 — public literature): exact
    * Jaccard-threshold pairs like [[ngramJaccardPairs]], but candidate
    * generation joins only each document's RAREST few tokens instead of its
    * whole token set. Under a global rarity order, two sets with
    * J(x,y) ≥ t must share a token inside each side's first
    * |x| − ⌈t·|x|⌉ + 1 tokens (the first common token sits at position
    * ≤ |x| − o + 1 and overlap o ≥ ⌈t·|x|⌉ on BOTH sides), so the prefix
    * join is lossless — every qualifying pair is generated, and the
    * verification step (exact intersect on the carried sorted token
    * arrays) removes false candidates.
    *
    * Why this is the 100 TB shape: the all-token inverted index
    * ([[ngramJaccardPairs]]) fans out quadratically on every high-df
    * token; here high-df tokens land at the END of the rarity order and
    * never enter the index — candidate volume is driven by rare-token
    * collisions, which is exactly the signal. The prefix index is
    * (1 − t)·|doc| tokens per doc, so a t = 0.3 join indexes ~70% fewer
    * rows and, more importantly, never pairs two docs on `the`.
    *
    * Shapes: tokenize once (hash on id), df aggregate + rank windows reuse
    * that clustering; the prefix self-join shuffles on the token; the pair
    * aggregate collapses duplicate candidates (same pair via k shared
    * prefix tokens) before the array intersect runs once per pair.
    * Integer-only prefix arithmetic: ⌈t·n⌉ for the rounded-permille
    * threshold lower bound t = (thr − 0.5)/1000 is
    * (n·(2·thr − 1) + 1999) DIV 2000 — no float ceil at the boundary. */
  /** The ONE definition of the bounded-intersect abort bound over the
    * carried (na, nb) columns: one BELOW the smallest overlap that can
    * pass `round(1000·J) ≥ thr` — i.e.
    * ceil((2thr−1)(na+nb)/(1999+2thr)) − 1. The −1 keeps the pruning
    * strictly lossless against the double-rounded jacc filter, which
    * stays the sole arbiter of boundary pairs (an off-by-one here
    * silently drops true near-dup pairs). */
  private def minOverlapMinus1Sql(thr: Long): String =
    s"((2 * $thr - 1) * (na + nb) + 1998 + 2 * $thr) " +
      s"DIV (1999 + 2 * $thr) - 1"

  def prefixFilterJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      thresholdPermille: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // words feeds THREE consumers (document frequencies, the rarity
    // ranking, and the verification arrays) — materialize once or the
    // tokenize+dedup pipeline replays per consumer (measured: ~1/3 of
    // the query's wall time at sf0.1)
    val (words, nWords) = ckptLightCounted(
      Transforms.keyedInputRebalance(
          df.select(col(idCol).as("id"), col(textCol).as("__text")),
          col("id"))
        .select(col("id"),
          explode(split(lower(trim(col("__text"))), "\\s+")).as("w"))
        .dropDuplicates("id", "w"))
    val dfreq = words.groupBy("w").agg(count(lit(1)).as("df"))
    // measured-size broadcast of the per-token df table (r17, guide
    // §3.1): the rarity join would otherwise shuffle `words` to hash(w)
    // and the byRarity window would shuffle it straight back to
    // hash(id) — two corpus-sized exchanges to attach one df column.
    // |dfreq| ≤ |words| (already counted by the checkpoint), so the
    // decision is measured, never estimated; a 100 TB vocabulary blows
    // the cap and keeps today's shuffle join.
    val dfreqSide =
      if (nWords * 24L <= (32L << 20)) broadcast(dfreq) else dfreq
    val byRarity = Window.partitionBy("id").orderBy(col("df").asc, col("w").asc)
    val ranked = words.join(dfreqSide, "w")
      .select(col("id"), col("w"),
        row_number().over(byRarity).as("rnk"),
        count(lit(1)).over(Window.partitionBy("id")).as("n"))
    val thr = thresholdPermille.toLong
    val prefix = ranked.filter(col("rnk") <=
        col("n") - expr(s"(n * ${2 * thr - 1} + 1999) DIV 2000") + lit(1))
      .select(col("id"), col("n"), col("w"), col("rnk"))
    // candidate generation moves (id, n, token) rows ONLY — a pair
    // sharing m prefix tokens costs m light rows into the pair-dedup
    // aggregate, nothing doc-sized (an earlier draft rode the full token
    // arrays through this join and replicated them per shared token:
    // 131 s at sf0.1 vs ~6 s for this shape). The join condition also
    // applies the standard PPJoin LENGTH filter — J ≥ t forces
    // t·|y| ≤ |x| ≤ |y|/t, in the same integer arithmetic as the prefix
    // bound — killing most false candidates before the dedup shuffle.
    //
    // SKEW: a boilerplate prefix token shared by m docs makes one join
    // bucket emit C(m,2) pairs — all in the single task that owns the
    // key (measured: one 2000-doc token serialized 2.1M pairs into one
    // task, 10.5 s of a 12 s query). The standard self-join skew split:
    // rank each token's rows, block them into chunks of C, replicate
    // the probe side once per chunk, and join on (token, chunk) — every
    // (r_x < r_y) pair meets in exactly one (w, chunk_x) partition, each
    // partition emits ≤ C·m pairs, and the mega-bucket fans out to
    // ⌈m/C⌉ parallel tasks (10.5 → 3.5 s). Replication cost is
    // |prefix|·⌈m/C⌉ scalar rows — bounded and tiny next to the pair
    // volume it parallelizes.
    val chunk = 32
    val rankedW = ckptLight(prefix
      .withColumn("r",
        row_number().over(Window.partitionBy("w").orderBy("id")))
      .withColumn("cx", expr(s"(r - 1) DIV $chunk")))
    val nch = rankedW.groupBy("w").agg(max(col("cx")).as("mc"))
    val yrep = rankedW.join(nch, "w")
      .withColumn("cy", explode(sequence(lit(0L), col("mc"))))
      .select(col("w"), col("cy").as("cx"), col("id"), col("n"),
        col("r"), col("rnk"))
    // build side = rankedW (|prefix| rows — thousands per partition at
    // any scale); the replicated probe side streams. Hinting the
    // replicated side instead builds a pair-volume/chunk-sized hash map
    // per partition and OOMs at sf1 (measured).
    //
    // POSITIONAL filter (PPJoin proper, Xiao et al. WWW'08 §3.2): the
    // shared token sits at global-rarity positions (rx, ry) in each
    // doc's sorted token list, and the rarity order is GLOBAL ((df, w)
    // total order), so every OTHER common token falls consistently
    // before it in both lists or after it in both lists — true overlap
    // ≤ min(rx, ry) + min(nx − rx, ny − ry). Candidate rows whose bound
    // cannot reach the threshold's minimum overlap are dropped BEFORE
    // the pair-dedup shuffle; a truly-qualifying pair satisfies the
    // bound on EVERY shared-prefix-token row, so the pruning is
    // lossless (and uses the same minOverlap−1 arithmetic as the
    // verify-side abort, keeping the rounded-jaccard filter the sole
    // arbiter of boundary pairs). At thr = 950 the bound is tight —
    // most same-token-different-length candidates die here instead of
    // shuffling into the aggregate.
    val posBound = least(col("x.rnk"), col("y.rnk")) +
      least(col("x.n") - col("x.rnk"), col("y.n") - col("y.rnk"))
    val minOverlapM1XY = expr(
      s"((2 * $thr - 1) * (x.n + y.n) + 1998 + 2 * $thr) " +
        s"DIV (1999 + 2 * $thr) - 1")
    val cand = rankedW.as("x").hint("shuffle_hash")
      .join(yrep.as("y"),
        col("x.w") === col("y.w") && col("x.cx") === col("y.cx") &&
          col("x.r") < col("y.r") &&
          col("x.n") * 2000L >= col("y.n") * (2L * thr - 1) &&
          col("y.n") * 2000L >= col("x.n") * (2L * thr - 1) &&
          posBound > minOverlapM1XY)
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(first(col("x.n")).as("na"), first(col("y.n")).as("nb"))
    // verification: sorted distinct-token arrays join ONCE per surviving
    // candidate pair (by each side's id), one bounded merge-intersect
    // per pair. Tokens enter the arrays as xxhash64 values: the walk
    // compares longs instead of hashing/equals-ing strings per element —
    // 3× cheaper on the candidate-dominated fixtures (6.4 → 2.0 s at
    // sf0.1) and deterministic; a common-count error needs two distinct
    // words of ONE pair's ~50-token union to collide in 64 bits
    // (P ≈ 7e-17 per pair), and being deterministic it could never pass
    // the oracle gate silently.
    //
    // [[graft.functions.BoundedIntersect]] is the verify-side pruning
    // (round-12): a merge walk over the sorted arrays that aborts the
    // moment count + min(remaining) can no longer reach the overlap the
    // threshold requires — at thr=950 with 91% false candidates the
    // abort fires after ~6% of a false pair's walk (warm verify 5.2 →
    // 3.5 s at sf0.1, result-identical). The abort bound is minO − 1
    // (one looser than the integer overlap bound), so the double-rounded
    // jacc filter below remains the sole arbiter of boundary pairs.
    val arr = words.groupBy("id")
      .agg(sort_array(collect_list(xxhash64(col("w")))).as("arr"))
    val minOm1 = expr(minOverlapMinus1Sql(thr))
    cand
      .join(arr.select(col("id").as("a"), col("arr").as("aa")), "a")
      .join(arr.select(col("id").as("b"), col("arr").as("ab")), "b")
      .withColumn("common",
        graft.functions.BoundedIntersect(col("aa"), col("ab"), minOm1))
      .filter(col("common") >= 0L)
      .withColumn("jacc_permille", round(col("common") * lit(1000.0) /
        (col("na") + col("nb") - col("common"))).cast("long"))
      .filter(col("jacc_permille") >= thresholdPermille)
      .select("a", "b", "jacc_permille")
  }

  /** Contamination SPAN forensics — the follow-up to
    * [[benchmarkContamination]]'s "which pairs share an n-gram": HOW MUCH
    * is shared, as the longest consecutive token run per (train, bench)
    * pair. Classic diagonal-islands construction: positioned n-grams
    * matched across the pair lie on diagonal d = trainPos − benchPos, and
    * a run of L consecutive matched n-grams on one diagonal is a shared
    * span of L + n − 1 tokens; islands fall out of the
    * `pos − row_number()` grouping trick, so the whole thing is one
    * equi-join on the n-gram plus two bounded aggregates — no pairwise
    * alignment, no quadratic stage.
    *
    * Scale: the join keys on the n-gram string, and only MATCHED
    * positions flow past it (benchmark contamination is sparse by
    * construction); the islands window partitions by (pair, diagonal) —
    * span-sized partitions. */
  def contaminationSpans(train: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def posShingles(df: DataFrame): DataFrame = {
      val tok = Transforms.keyedInputRebalance(
          df.select(col(idCol).as("id"), col(textCol).as("__text")),
          col("id"))
        .select(col("id"),
          posexplode(split(lower(trim(col("__text"))), "\\s+"))
            .as(Seq("pos", "w0")))
      val wspec = Window.partitionBy("id").orderBy("pos")
      val leads = (1 until n).map(j => lead(col("w0"), j).over(wspec).as(s"w$j"))
      tok.select(col("id") +: col("pos") +: (col("w0") +: leads): _*)
        .filter(col(s"w${n - 1}").isNotNull)
        .select(col("id"), col("pos"),
          concat_ws(" ", (0 until n).map(j => col(s"w$j")): _*).as("s"))
    }
    val tr = posShingles(train).select(col("id").as("train_id"),
      col("pos").as("ti"), col("s"))
    val be = posShingles(bench).select(col("id").as("bench_id"),
      col("pos").as("bi"), col("s"))
    val m = tr.join(be, "s")
      .select(col("train_id"), col("bench_id"), col("ti"),
        (col("ti") - col("bi")).as("diag"))
    val w = Window.partitionBy("train_id", "bench_id", "diag")
      .orderBy("ti")
    m.withColumn("__grp", col("ti") - row_number().over(w))
      .groupBy(col("train_id"), col("bench_id"), col("diag"), col("__grp"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg((max(col("__run")) + lit((n - 1).toLong))
          .as("max_overlap_tokens"),
        sum(col("__run")).as("n_matched_shingles"),
        count(lit(1)).as("n_runs"))
  }

  /** Fellegi–Sunter probabilistic record-linkage scoring (Fellegi &
    * Sunter 1969) over blocked candidate pairs: each comparison field
    * contributes its log-likelihood-ratio weight — ln(m/u) on agreement,
    * ln((1−m)/(1−u)) on disagreement, where m = P(agree | match) and
    * u = P(agree | non-match) — and the pair's score is the sum. Weights
    * are precomputed in INTEGER MICROS on the driver ([[fsWeightsMicro]])
    * so the distributed side never touches a float log and the SQL twin
    * can embed the identical literals.
    *
    * Blocking keeps this linear-ish: candidates come from an equi-join on
    * the blocking key (never all-pairs), agreement predicates evaluate
    * per candidate in codegen, and the score filter prunes before any
    * downstream clustering. `fields` are (agreement-predicate, m, u)
    * with predicates over the `x`/`y` self-join aliases. */
  def fellegiSunter(df: DataFrame, blockCol: String, idCol: String,
      fields: Seq[(Column, Double, Double)],
      minScoreMicro: Long): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    val v = Transforms.rebalanceIfNarrow(df, col(idCol))
    val score = fields.map { case (agree, m, u) =>
      val (wa, wd) = fsWeightsMicro(m, u)
      when(agree, lit(wa)).otherwise(lit(wd))
    }.reduce(_ + _)
    val nAgree = fields.map { case (agree, _, _) =>
      when(agree, lit(1L)).otherwise(lit(0L))
    }.reduce(_ + _)
    v.as("x").join(v.as("y"),
        col(s"x.$blockCol") === col(s"y.$blockCol") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"),
        score.as("score_micro"), nAgree.as("n_agree"))
      .filter(col("score_micro") >= minScoreMicro)
  }

  /** (agreement, disagreement) Fellegi–Sunter weights in integer micros
    * for match/non-match agreement rates (m, u) — computed ONCE on the
    * driver; both the engine and the SQL oracle consume these longs. */
  def fsWeightsMicro(m: Double, u: Double): (Long, Long) = {
    require(m > 0 && m < 1 && u > 0 && u < 1 && m > u,
      s"need 0 < u < m < 1, got m=$m u=$u")
    (math.round(math.log(m / u) * 1e6),
      math.round(math.log((1 - m) / (1 - u)) * 1e6))
  }
}
