package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{ChangeHash, Crc32Q}
import graft.operators.{Dedup, EventAnalytics, GraphAlgos, Multimodal, Reconcile, Similarity, TextAnalysis, Transforms}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (the "Planned query" column), each with a DuckDB-oracle SQL
  * twin over the same parquet tables in `oracleSql`.
  *
  * Oracle-parity conventions (the driver hash-compares values after sorting
  * columns by name):
  *  - money/double aggregates are emitted as integer cents/permille
  *    (`round(x*100)` → BIGINT on both sides) so float formatting can never
  *    drift;
  *  - timestamps are emitted as formatted strings;
  *  - every computed column is aliased identically in Spark and SQL;
  *  - hash-valued outputs (crc32q, xxhash64-based operators) have no SQL
  *    twin → rows-only check; their exactness is covered by ScalaTest.
  */
object SparkEntry {

  /** Analyzed-plan cache: `spark.read.parquet` pays driver-side file
    * listing + footer schema inference on EVERY call, and the queries
    * re-read the same ten tables — ~0.1-0.2 s per read of pure metadata
    * overhead in a bench/verify run. DataFrames are immutable plan handles,
    * so caching per (session, path) is safe; the testdata tables are
    * read-only by contract (TESTDATA.md). Keyed on the session so
    * multi-session tests never share a stopped session's relations; a
    * context's entries are evicted when it stops ([[hookEviction]]). */
  private val tableCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    hookEviction(s)
    tableCache.getOrElseUpdate((s, s"$dir/$name.parquet"),
      s.read.parquet(s"$dir/$name.parquet"))
  }

  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** `events` with `ts` canonicalized to epoch-NANOSECONDS (LongType),
    * whatever the fixture's physical encoding. The event/time-series family
    * does its time arithmetic in the long-nanos domain (`ts DIV 1000` →
    * micros, `ts DIV 86400000000000` → day), and the fixture has shipped
    * two encodings so far: parquet TIMESTAMP(NANOS) read as BIGINT via
    * `spark.sql.legacy.parquet.nanosAsLong` (rounds 1-4), and plain
    * `timestamp[us]` → TIMESTAMP_NTZ (round 5+). Normalizing HERE, by
    * dtype, keeps every query body encoding-agnostic — a fixture
    * regeneration can never strand the family again (VERDICT r5 §wrong #1).
    * The extra Project is transparent to Catalyst: filters/pruning still
    * reach the scan, and the NTZ branch is pure codegen'd long arithmetic
    * (timestampdiff against the NTZ epoch literal — timezone-free, unlike
    * a cast through TimestampType which shifts by the session zone). */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.withColumn("ts", tsNanos(df.schema("ts").dataType))
  }

  /** The `ts`-canonicalizing expression behind [[events]], shared with the
    * streaming specs (a readStream source can't go through the batch
    * accessor but must normalize identically for batch/stream parity). */
  private[graft] def tsNanos(
      dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    dt match {
      case LongType => col("ts") // already epoch-nanos (nanosAsLong read)
      case TimestampNTZType => expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) * 1000")
      case TimestampType => unix_micros(col("ts")) * lit(1000L)
      case other => sys.error(s"events.ts: unsupported encoding $other")
    }
  }

  // ---- reconcile-family fixtures (FIXTURES.md §C): a (state, batch) pair
  // derived from `orders`. batch = live upstream snapshot (keys %7 != 0,
  // token bumped to v2 on %5 == 0); state = previous sync image (keys
  // %3 != 0, all tokens v1). The Spark side diffs by CRC32-Q change hash;
  // the oracle compares the underlying tokens — identical up to hash
  // collisions (2^-32).
  private def rBatch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").cast("string").as("external_id"),
        when(col("o_orderkey") % 5 === 0, "v2").otherwise("v1").as("updated_at"),
        cents(col("o_totalprice")).as("price_cents"))

  private def rState(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey").cast("string").as("external_id"),
        Crc32Q(lit("v1")).as("hash"))

  private val rBatchSql =
    """SELECT CAST(o_orderkey AS VARCHAR) AS external_id,
      | CASE WHEN o_orderkey % 5 = 0 THEN 'v2' ELSE 'v1' END AS tok
      | FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin
  private val rStateSql =
    """SELECT CAST(o_orderkey AS VARCHAR) AS external_id, 'v1' AS tok
      | FROM orders WHERE o_orderkey % 3 <> 0""".stripMargin

  /** Cache hygiene: when a context stops, drop its memo entries
    * (checkpointed frames), its table-cache plans and its model temp
    * roots. Long-lived multi-session JVMs would otherwise pin dead
    * sessions' checkpoint blocks and plans in these static caches forever.
    * Fixture dirs are immutable for a session's lifetime (driver
    * contract) — a dir rewritten mid-session is out of contract and
    * would be served stale. */
  private val evictionHooked = java.util.concurrent.ConcurrentHashMap
    .newKeySet[org.apache.spark.SparkContext]()

  /** Model-artifact temp roots created by the frozen-model queries
    * (kn_apply / nbc_apply / ann_apply families). Each holds a few KB of
    * model parquet; without cleanup they accumulate across sessions.
    * Deleted recursively when the owning context stops (alongside the
    * memo entries that reference them). */
  private val modelTempRoots = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext,
    java.util.List[java.nio.file.Path]]()
  private def newModelTempRoot(s: SparkSession,
      prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    modelTempRoots.computeIfAbsent(s.sparkContext,
      _ => java.util.Collections.synchronizedList(
        new java.util.ArrayList[java.nio.file.Path]())).add(p)
    p.toString
  }
  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      // Files.walk holds directory handles open until closed — an
      // unclosed stream leaks one fd per cleaned temp root
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }
  private def hookEviction(s: SparkSession): Unit = {
    val sc = s.sparkContext
    if (evictionHooked.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          memos.foreach(_.evict(sc))
          tableCache.filterInPlace { case ((sess, _), _) =>
            sess.sparkContext ne sc }
          Option(modelTempRoots.remove(sc)).foreach { l =>
            l.forEach(p => try deleteRecursively(p)
              catch {
                // walk's lazy traversal rethrows IOException wrapped
                case _: java.io.IOException => ()
                case _: java.io.UncheckedIOException => ()
              })
          }
          evictionHooked.remove(sc)
        }
      })
  }

  /** Memo-build accounting (round-17, VERDICT r16 task 2): when
    * [[planningOnly]] is set, a memo whose table is NOT yet
    * built throws [[MemoDeferred]] instead of building it. Bench's warm
    * loop sets the flag so warm-phase schema analysis can no longer
    * materialize a memo silently — every build then executes inside the
    * TIMED region as its own `__memo:<name>` slot (see
    * [[memoBuilders]] and Bench.scala), making the shared-derivation
    * cost artifact-visible instead of charged to no slot. Verify, the
    * labs and direct callers never set the flag, so their behavior is
    * unchanged (build on first access). */
  private[graft] final class MemoDeferred extends Exception(
    "memo build deferred (planning-only warm phase)", null, false, false)
  @volatile private[graft] var planningOnly: Boolean = false

  /** One cross-query memo: a derivation of the tables in `dir`, built
    * on first access and cached per (session, dir) for every consumer.
    * Declared with [[memo]], which registers it: [[memoBuilders]],
    * [[dropMemos]] and the context-stop eviction all derive from the
    * registry, so a memo is wired in exactly one place. `apply` hooks
    * eviction and, in planning-only mode, refuses to build an entry that
    * is not already cached. */
  private final class Memo[V](val name: String,
      build: (SparkSession, String) => V) {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]()
    def apply(s: SparkSession, dir: String): V = {
      hookEviction(s)
      if (planningOnly && !cache.containsKey((s, dir))) throw new MemoDeferred
      cache.computeIfAbsent((s, dir), k => build(k._1, k._2))
    }
    def drop(s: SparkSession, dir: String): Unit = cache.remove((s, dir))
    def evict(sc: org.apache.spark.SparkContext): Unit =
      cache.keySet.removeIf(_._1.sparkContext eq sc)
  }

  /** The memo registry, in declaration order — which is therefore the
    * dependency order: a builder may only read memos declared above it. */
  private val memos = scala.collection.mutable.ArrayBuffer.empty[Memo[_]]
  private def memo[V](name: String)(
      build: (SparkSession, String) => V): Memo[V] = {
    val m = new Memo(name, build)
    memos += m
    m
  }

  /** Shared mod-300 interaction-graph core (round-16 optimization, guide
    * §2.4 "remove shuffles outright"): ~20 graph queries each derived
    * their edge set by re-scanning lineitem (600 K rows at sf0.1) and
    * re-shuffling the (pk%300, sk%300) projection through their own
    * distinct — per-battery, 20 identical scans + 20 identical
    * corpus-sized exchanges. The projection's DISTINCT image is bounded
    * at 90,000 (u,v) slots at ANY scale factor, so it is memoized ONCE
    * per (session, dir) as a checkpointed table and every query applies
    * its keep-filter to the ≤90 K-row core instead.
    *
    * Result-identical by construction: every GraphAlgos entry point
    * distincts (or min-aggregates a deterministic function of) its edge
    * input internally, and the keep-filters/canonicalizations are pure
    * functions of (u, v), which commute with distinct — only the
    * physical shape changes (1 scan + 1 exchange per battery instead of
    * 20). The full-scan behavior each query documents ("reads every row,
    * edge count saturates") is preserved: the ONE memo build still scans
    * every lineitem row. */
  private val modUv = memo("mod_uv") { (sess, d) =>
    t(sess, d, "lineitem")
      .select((col("l_partkey") % 300).as("u"),
        (col("l_suppkey") % 300).as("v"))
      .distinct().localCheckpoint()
  }

  /** Directed mod-300 edges: keep-filter ((src·31+dst) % 7 = 0) over the
    * distinct core — the exact edge set of the directed-graph queries. */
  private def modDirectedE(s: SparkSession, dir: String): DataFrame =
    modUv(s, dir).filter((col("u") * 31 + col("v")) % 7 === 0)
      .select(col("u").as("src"), col("v").as("dst"))

  /** Canonical undirected mod-300 edges: least/greatest collapse, then
    * the keep-filter on the CANONICAL pair (the filter differs from the
    * directed one: it tests (a·31+b) after canonicalization).
    *
    * MULTISET, not a set (ADVICE r16): when both orientations (u,v) and
    * (v,u) survive the distinct core, canonicalization emits the (a,b)
    * row twice. Safe for every current consumer — each GraphAlgos entry
    * point distincts (or min-aggregates a pure edge function of) its
    * input internally — but a future multiplicity-sensitive consumer
    * must add its own `.distinct()` (≤90 K rows) first. Deliberately
    * NOT deduped here: the dedup would cost one extra exchange in each
    * of the ~19 consuming queries for a property none of them needs. */
  private def modCanonicalE(s: SparkSession, dir: String): DataFrame =
    modUv(s, dir)
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .filter(col("a") < col("b") && (col("a") * 31 + col("b")) % 7 === 0)

  /** Shared SCC machinery for the directed-graph family (`scc_census`,
    * `condensation_dag`, `dag_longest`): directed residue edges, per-node
    * SCC ids (min member id) by batched forward–backward decomposition
    * ([[graft.operators.GraphAlgos.stronglyConnectedComponents]] — loop
    * state O(|V|+|E|), no reachability pair table), and the condensation
    * DAG. Memoized per (session, dir): all three family queries — and a
    * benchmark pass running them back-to-back — share ONE decomposition
    * instead of redoing it, and the cached frames are localCheckpointed
    * so reuse costs nothing. */
  private val sccDag = memo("scc_dag") { (sess, d) =>
    // same set as the original scan+filter+distinct: the mod-300 core
    // is already distinct, and the self-loop/keep filters commute
    val e = modUv(sess, d)
      .filter(col("u") =!= col("v") &&
        (col("u") * 31 + col("v")) % 7 === 0)
      .select(col("u").as("src"), col("v").as("dst"))
      .localCheckpoint()
    val sid = graft.operators.GraphAlgos
      .stronglyConnectedComponents(e, "src", "dst")
      .localCheckpoint()
    val dag = e.join(sid.select(col("id").as("src"),
          col("scc").as("scc_u")), Seq("src"))
      .join(sid.select(col("id").as("dst"), col("scc").as("scc_v")),
        Seq("dst"))
      .filter(col("scc_u") =!= col("scc_v"))
      .select(col("scc_u"), col("scc_v")).distinct()
      .localCheckpoint()
    (e, sid, dag)
  }

  /** Shared supplier→part→order→customer chain-graph prep for the rank
    * family (`pagerank`, `ppr`): both queries union the SAME 1.35 M-row
    * edge projection and need the same distinct+out-degree+nodes
    * materialization ([[graft.operators.GraphAlgos.prepRankGraph]]) —
    * memoized per (session, dir) so the second rank query starts from
    * the checkpointed tables instead of replaying the scan, the distinct
    * exchange, and the degree window (guide §2.4). */
  private val rankGraph = memo("rank_graph") { (sess, d) =>
    val li = t(sess, d, "lineitem")
    val ord = t(sess, d, "orders")
    val edges = li.select((col("l_suppkey") * 4).as("src"),
        (col("l_partkey") * 4 + 1).as("dst"))
      .union(li.select((col("l_partkey") * 4 + 1).as("src"),
        (col("l_orderkey") * 4 + 2).as("dst")))
      .union(ord.select((col("o_orderkey") * 4 + 2).as("src"),
        (col("o_custkey") * 4 + 3).as("dst")))
    graft.operators.GraphAlgos.prepRankGraph(edges, "src", "dst")
  }

  /** Shared near-dup graph for the documents-clustering family
    * (`dedup_ngram_jaccard`, `dedup_clusters`, `cluster_sizes`,
    * `cluster_leakage`, `cluster_prf`, `golden_record`, `dup_weights`,
    * `cross_source_dups`, `dedup_agreement`): the exact 5-gram Jaccard
    * pair set ([[graft.operators.Dedup.ngramJaccardPairs]], n=5,
    * thr=100‰) and its connected-components cluster map. Memoized per
    * (session, dir) like [[sccDag]]: nine queries — and a benchmark pass
    * running them back-to-back — share ONE inverted-index join and ONE
    * pointer-jumped CC fixpoint instead of redoing both per query; the
    * cached frames are localCheckpointed so reuse costs nothing and the
    * results are bit-identical to the un-memoized pipelines. */
  private val docDupGraph = memo("doc_dup") { (sess, d) =>
    val pairs = Dedup.ngramJaccardPairs(t(sess, d, "documents"),
        "text", "doc_id", n = 5, thresholdPermille = 100)
      .localCheckpoint()
    val clusters = Dedup.connectedComponents(pairs).localCheckpoint()
    (pairs, clusters)
  }

  /** Shared behavioral-session machinery for the co-visitation family
    * (`covisit_pairs`, `covisit_lift`): the distinct (user, sid, item)
    * frame from ONE lag+cumsum window pass over events (30-minute gap
    * sessions), and the in-session item-pair co-occurrence counts from
    * ONE bounded self-join (sessions are small by construction, the
    * basket_pairs shape). Memoized per (session, dir) like [[sccDag]] /
    * [[docDupGraph]], localCheckpointed so reuse costs nothing — both
    * family queries (and a benchmark pass running them back-to-back)
    * share one sessionization and one pair build instead of each
    * rebuilding both. */
  private val covisitSessions = memo("covisit") { (sess0, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("t_us"), col("eid"))
    val sess = events(sess0, d)
      .select(col("user_id"), col("event_id").as("eid"),
        expr("ts DIV 1000").as("t_us"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .withColumn("__new", when(
        col("t_us") - lag(col("t_us"), 1).over(w) > 1800000000L ||
          lag(col("t_us"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("sid"), col("item")).distinct()
      .localCheckpoint()
    val pairs = sess.as("x").join(sess.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.sid") === col("y.sid") &&
          col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("item_a"), col("y.item").as("item_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 2)
      .localCheckpoint()
    (sess, pairs)
  }

  /** Shared DSIR featurization for the importance-weighting family
    * (`dsir_weights`, `dsir_log`): the per-(doc, bucket) hashed-bigram
    * occurrence aggregate ([[TextAnalysis.dsirFeaturize]], en target,
    * 4096 buckets) is the expensive pass — one corpus tokenize + explode
    * + native PolyHash31 walk — and both statistics read the SAME
    * table. Memoized per (session, dir) like [[covisitSessions]]; the
    * frame is already ckptLight-checkpointed by the featurizer. */
  private val dsirOcc = memo("dsir_occ") { (sess, d) =>
    TextAnalysis.dsirFeaturize(t(sess, d, "documents"), "text",
      "doc_id", col("lang") === "en", TextAnalysis.DsirBuckets)
  }

  /** Shared BPE merge table for the tokenizer family (`bpe_apply`,
    * `bpe_fertility`): the 10-iteration trainer's driver loop runs once
    * per (session, dir) — the merges are a tiny Seq, not a frame, so the
    * memo holds the collected pairs directly. */
  private val bpeMergeTable = memo("bpe_merges") { (sess, d) =>
    TextAnalysis.bpeMerges(t(sess, d, "documents"), "text", iters = 10)
      .orderBy(col("iter")).collect()
      .map { r =>
        val p = r.getString(1).split(" ")
        (p(0), p(1))
      }.toSeq
  }

  /** `curation_funnel`'s declared chain — its stage literals (the word
    * floor and the mixture weights) are defined ONCE here and generated
    * into BOTH the spec JSON the engine runs and the oracle SQL
    * (one-definition discipline). */
  private val FunnelMinWords = 5
  private val FunnelMix = Seq("en" -> 700L, "de" -> 300L)
  private def funnelSpecJson: String = {
    val mix = FunnelMix.map { case (k, v) => s""""$k": $v""" }
      .mkString(", ")
    s"""{ "name": "curation_funnel", "steps": [
       |  { "op": "gopher_rules", "text": "text", "id": "doc_id",
       |    "min_words": $FunnelMinWords },
       |  { "op": "exact_dedup", "text": "text", "id": "doc_id" },
       |  { "op": "mixture_resample", "id": "doc_id", "strata": "lang",
       |    "target_permille": { $mix } } ] }""".stripMargin
  }
  private val funnelRows = memo("funnel") { (sess, d) =>
    val docs = t(sess, d, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    graft.pipeline.SpecLoader.funnelFromJson(funnelSpecJson, docs)._2
      .map(f => (f._1.toLong, f._2, f._3, f._4))
  }

  /** Shared full-corpus bigram-count table (s, c12) for the bigram-LM
    * family (round-16, guide §2.4): `bigram_logprob`, `bigram_entropy`,
    * `bigram_topk`, `ngram_suggest`, `pmi_collocations`, `kn_logprob`
    * (via [[knScores]]) and `kn_logprob_pruned` each re-ran the
    * corpus-width tokenize → window → count pipeline to build the SAME
    * vocab-sized table. Memoized + checkpointed once per (session, dir);
    * consumers aggregate/join the vocab-sized table. Counts are a pure
    * aggregate of the same token stream, so every consumer's output is
    * bit-unchanged (the zip_with/arrays_zip forms build the same
    * adjacent-pair multiset — pinned by the unchanged oracle SQL). */
  private val corpusBigramCounts = memo("bigram_counts") { (sess, d) =>
    Dedup.shingleStream(t(sess, d, "documents"), "text", "doc_id", n = 2)
      .groupBy(col("s")).agg(count(lit(1)).as("c12"))
      .localCheckpoint()
  }

  /** Shared Kneser-Ney score table for the perplexity family
    * (`kn_logprob`, `perplexity_gate`, `perplexity_buckets`): ONE LM
    * build + corpus scoring pass per (session, dir) — the winnowFp memo
    * discipline; checkpointed so all three consumers read the
    * materialized (doc_id, lp_permille) rows. Bench charges the build to
    * the alphabetically-first member (kn_logprob), per the BASELINE.md
    * bench-number convention. */
  private val knScores = memo("kn_scores") { (sess, d) =>
    TextAnalysis.knLogProbFromCounts(t(sess, d, "documents"), "text",
        "doc_id", corpusBigramCounts(sess, d))
      .localCheckpoint()
  }

  /** Shared MAINTAINED trigram-count table for the LM-IVM pair
    * (`kn_counts_ivm`, `kn_refresh`): both maintain the identical base
    * count table under the identical delta before their own rollups —
    * memoized + checkpointed once, so the refresh query starts from the
    * maintained table instead of re-running the base tokenize+count and
    * the delta maintenance (round-16, guide §2.4). */
  private val knMaintainedTrigramCounts = memo("kn_ivm_counts") { (sess, d) =>
    val docs = t(sess, d, "documents")
    val base = docs.filter(col("doc_id") % 3 < 2)
    val state = graft.operators.Dedup
      .shingleStream(base, "text", "doc_id", n = 3)
      .groupBy(col("s")).agg(count(lit(1)).as("c123"))
    val delta = docs.filter(col("doc_id") % 3 === 2)
      .withColumn("__op", lit(1))
      .unionByName(base.filter(col("doc_id") % 5 === 0)
        .withColumn("__op", lit(-1)))
    TextAnalysis
      .maintainTrigramCounts(state, delta, "text", "doc_id", "__op")
      .localCheckpoint()
  }

  /** Shared (id, w, tf) per-(doc, term) postings table for the retrieval
    * family (`tfidf_topterms`, `bm25_topk`, `postings`) — each used to
    * rebuild the identical count aggregate of the identical
    * `wsTokens ∘ lower` token stream (round-17, guide §2.4; the
    * equivalence per consumer: tfidf's tf relation IS this table;
    * bm25's tf relation IS this table (its N/S/df/dl are aggregates of
    * it, unchanged); postings' DISTINCT (term, doc) is this table's key
    * set, which a per-(doc, term) count emits exactly once). The
    * unigram-count memo is its `Σ tf per w` rollup — see below. */
  private val corpusPostings = memo("postings_tf") { (sess, d) =>
    TextAnalysis.postingsTable(t(sess, d, "documents"), "text",
      "doc_id").localCheckpoint()
  }

  /** Shared full-corpus unigram-count table (w, c) — the bigram memo's
    * unigram sibling for `vocab_topk`, `coverage_curve`, `zipf_slope`,
    * `unigram_logprob` (round-16, guide §2.4). Since r17 it is the
    * `Σ tf per w` rollup of [[corpusPostings]] (Σ of per-doc counts ≡
    * the corpus occurrence count), so the memo phase pays ONE corpus
    * tokenize for the whole unigram+retrieval family. */
  private val corpusUnigramCounts = memo("unigram_counts") { (sess, d) =>
    corpusPostings(sess, d)
      .groupBy(col("w")).agg(sum(col("tf")).as("c"))
      .localCheckpoint()
  }

  /** Shared duplicated-span table for the exact-substring trio
    * (`dup_spans`, `span_coverage`, `substring_excise`): ONE
    * window-gram + span-merge pass per (session, dir)
    * ([[TextAnalysis.dupSpans]] k=8, the winnowFp memo discipline) — the
    * coverage statistic and the excision action are cheap consumers of
    * the span table, not re-runs of the pipeline (r16, guide §2.4). */
  private val dupSpansTable = memo("dup_spans") { (sess, d) =>
    TextAnalysis.dupSpans(t(sess, d, "documents"), "text", "doc_id",
      k = 8).localCheckpoint()
  }

  /** Shared SQ8 candidate table (qid, nid, d2) for the compressed-ANN
    * eval pair (`ann_sq8`, `rank_fusion`): both score the identical
    * query/corpus cross against the identical corpus code table —
    * memoized + checkpointed once per (session, dir) (r16, guide §2.4;
    * the table is |q|·|corpus| eval-cross rows, the documented bounded
    * evaluation-tier exception). */
  private val sq8CandTable = memo("sq8_cand") { (sess, d) =>
    val emb = t(sess, d, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.sq8CandidateTable(emb.filter(col("id") < 10),
      emb.filter(col("id") >= 10)).localCheckpoint()
  }

  /** Shared winnowing fingerprint table for the MOSS family
    * (`winnow_fingerprints`, `winnow_pairs`): ONE fingerprint pass per
    * (session, dir) — the [[covisitSessions]] memo discipline; the
    * frame is checkpointed so both consumers (and the pair query's four
    * plan branches) read the materialized rows. */
  private val winnowFp = memo("winnow_fp") { (sess, d) =>
    TextAnalysis.winnowFingerprints(t(sess, d, "documents"), "text",
      "doc_id", k = TextAnalysis.WinnowK, w = TextAnalysis.WinnowW)
      .localCheckpoint()
  }

  /** `kn_apply`'s train/apply split modulus: even doc_ids train the
    * frozen model, odd doc_ids are the scoring batch — defined once and
    * generated into the oracle's WHERE clauses (one-definition
    * discipline). */
  private val KnApplySplit = 2

  /** `quality_margin`'s curated-tier proxy: the source whitelist whose
    * docs train the `hq` class — defined once, generated into the
    * oracle's CASE (one-definition discipline). */
  private val QualityHqSources: Seq[String] =
    (0 to 4).map(i => s"src$i")

  /** Frozen-model LM scoring (`kn_apply`): ONE train + publish + pin +
    * score pass per (session, dir). The train half builds the pruned
    * trigram-KN model ([[TextAnalysis.kn3Model]]), its six tables are
    * PUBLISHED as one immutable version through
    * [[graft.state.ModelRegistry]] (single manifest swap — no torn
    * cross-table mix under refresh), and the apply half scores the
    * held-out batch against the PINNED reloaded artifact, stamping
    * `model_version` on every row — the query exercises the real
    * registry round-trip, never an in-session shortcut (round-trip ≡
    * in-session equality is pinned in LmApplySpec; refresh/rollback
    * stability in ModelRegistrySpec). This is the production CCNet
    * shape: the gate LM is trained once on a high-quality corpus and
    * FROZEN; crawl batches score against the artifact (Wenzek et al.
    * 2020). */
  private val knApplyScores = memo("kn_apply") { (sess, d) =>
    val docs = t(sess, d, "documents")
    val reg = new graft.state.ModelRegistry(sess,
      newModelTempRoot(sess, "graft-kn-apply"))
    TextAnalysis.kn3PublishModel(
      docs.filter(col("doc_id") % KnApplySplit === 0), "text",
      "doc_id", reg, "lm")
    // scorer pins the promoted version and stamps it on every row —
    // the provenance a production refresh loop needs to attribute a
    // score to the artifact that produced it
    val pin = reg.snapshot("lm")
    TextAnalysis.kn3Score(
        docs.filter(col("doc_id") % KnApplySplit === 1), "text",
        "doc_id", TextAnalysis.kn3FromRegistry(pin))
      .withColumn("model_version", lit(pin.version))
  }

  /** Frozen-classifier scoring (`nbc_apply` / `nbc_eval`): ONE train +
    * publish + pin + score pass per (session, dir) — the kn_apply
    * discipline applied to the trained Naive-Bayes language classifier
    * ([[graft.operators.NaiveBayes]]): even doc_ids train, the three
    * model tables publish as one [[graft.state.ModelRegistry]] version
    * (single manifest swap), odd doc_ids score against the PINNED
    * reloaded artifact with `model_version` stamped per row (the CCNet
    * lang-id gate's production shape — classify crawl batches with a
    * model trained once and frozen). */
  private val nbcApplyScores = memo("nbc_apply") { (sess, d) =>
    val docs = t(sess, d, "documents")
    val reg = new graft.state.ModelRegistry(sess,
      newModelTempRoot(sess, "graft-nbc-apply"))
    graft.operators.NaiveBayes.nbcPublishModel(
      docs.filter(col("doc_id") % KnApplySplit === 0), "text", "lang",
      reg, "nbc")
    val pin = reg.snapshot("nbc")
    graft.operators.NaiveBayes.nbcScore(
        docs.filter(col("doc_id") % KnApplySplit === 1), "text",
        "doc_id", "lang",
        graft.operators.NaiveBayes.nbcFromRegistry(pin))
      .withColumn("model_version", lit(pin.version))
      .localCheckpoint()
  }

  /** Shared maintained classifier-count table of the nbc IVM family
    * (`nbc_counts_ivm`, `nbc_refresh`): ONE state-build + maintenance
    * pass per (session, dir), checkpointed — the kn-family
    * corpus-subtree memo discipline (both queries fold the same base
    * corpus and the same delta; without the memo each re-ran the
    * corpus-width gram explodes). */
  private val nbcMaintainedCounts = memo("nbc_ivm_counts") { (sess, d) =>
    val docs = t(sess, d, "documents")
    val base = docs.filter(col("doc_id") % 3 < 2)
    val delta = docs.filter(col("doc_id") % 3 === 2)
      .withColumn("__op", lit(1))
      .unionByName(base.filter(col("doc_id") % 5 === 0)
        .withColumn("__op", lit(-1)))
    graft.operators.NaiveBayes.maintainGramCounts(
        graft.operators.NaiveBayes.trainGramCounts(base, "text",
          "lang"),
        delta, "text", "lang", "__op")
      .localCheckpoint()
  }

  /** Frozen-index ANN scoring (`ann_apply`): ONE build + publish + pin +
    * serve pass per (session, dir) — the kn_apply discipline for the
    * similarity family. The IVF index (deterministic lowest-id
    * centroids + permille-cosine cell assignments) publishes as one
    * [[graft.state.ModelRegistry]] version; the held-out query batch
    * scores against the PINNED artifact with `model_version` stamped
    * per row. */
  private val annApplyScores = memo("ann_apply") { (sess, d) =>
    val emb = t(sess, d, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val corpus = emb.filter(col("id") % 3 =!= 0)
    val reg = new graft.state.ModelRegistry(sess,
      newModelTempRoot(sess, "graft-ann-apply"))
    Similarity.ivfPublish(corpus, reg, "ivf")
    val pin = reg.snapshot("ivf")
    Similarity.annTopKIvfStored(
        emb.filter(col("id") % 3 === 0 && col("id") < 30), corpus, 5,
        pin)
      .withColumn("model_version", lit(pin.version))
      .localCheckpoint()
  }

  /** Composed ANN refresh loop (`ann_refresh`): ONE
    * build-v1 → maintain → promote-v2 → serve pass per (session, dir).
    * The maintained assignments are REREAD from the published v1
    * artifact (never recomputed), so the refresh pays delta-sized
    * assignment work plus one manifest swap — the production cadence
    * for a corpus that grows and retracts under a frozen centroid
    * set. */
  private val annRefreshScores = memo("ann_refresh") { (sess, d) =>
    val emb = t(sess, d, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val base = emb.filter(col("id") % 3 < 2)
    val reg = new graft.state.ModelRegistry(sess,
      newModelTempRoot(sess, "graft-ann-refresh"))
    Similarity.ivfPublish(base, reg, "ivf") // v1
    val v1 = reg.snapshot("ivf")
    val delta = emb.filter(col("id") % 3 === 2)
      .withColumn("__op", lit(1))
      .unionByName(base.filter(col("id") % 5 === 0)
        .withColumn("__op", lit(-1)))
    reg.publish("ivf", Seq( // v2: frozen centroids, maintained cells
      "centroids" -> v1.table("centroids"),
      "assignments" -> Similarity.ivfMaintainAssignments(
        v1.table("assignments"), delta, v1.table("centroids"),
        "__op")))
    val pin = reg.snapshot("ivf")
    val postCorpus = emb.filter(col("id") % 3 === 2)
      .unionByName(base.filter(col("id") % 5 =!= 0))
    Similarity.annTopKIvfStored(
        emb.filter(col("id") % 3 === 2 && col("id") < 30),
        postCorpus, 5, pin)
      .withColumn("model_version", lit(pin.version))
      .localCheckpoint()
  }

  /** Frozen compressed-index ANN scoring (`ann_ivfpq_apply`): the
    * ann_apply discipline for the PQ tier — the whole compressed index
    * (centroids + per-subspace codebook + code table + build params)
    * publishes as ONE [[graft.state.ModelRegistry]] version; the
    * held-out query batch scores against the PINNED reloaded artifact
    * ([[Similarity.annTopKIvfPqStored]]) with `model_version` stamped
    * per row. Stored-path ≡ retrain-path bit-equality is pinned in
    * DedupSimilaritySpec, so the ADC recall receipt carries over. */
  private val annIvfPqApplyScores = memo("ann_ivfpq_apply") { (sess, d) =>
    val emb = t(sess, d, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val corpus = emb.filter(col("id") % 3 =!= 0)
    val reg = new graft.state.ModelRegistry(sess,
      newModelTempRoot(sess, "graft-ann-ivfpq-apply"))
    Similarity.ivfPqPublish(corpus, reg, "ivfpq",
      nSub = 8, nCentroids = 128)
    val pin = reg.snapshot("ivfpq")
    Similarity.annTopKIvfPqStored(
        emb.filter(col("id") % 3 === 0 && col("id") < 30), corpus, 5,
        pin, rerank = Similarity.Sq8Rerank)
      .withColumn("model_version", lit(pin.version))
      .localCheckpoint()
  }

  /** Frozen scalar-quantized ANN scoring (`ann_sq8_apply`): publish the
    * SQ8 bounds + code table as one registry version, quantize a NEW
    * query batch with the PINNED bounds (never re-learned — re-learning
    * per batch would silently shift every stored code's meaning), score
    * against the pinned codes, exact-rerank the shortlist
    * ([[Similarity.annTopKSq8Stored]]). */
  private val annSq8ApplyScores = memo("ann_sq8_apply") { (sess, d) =>
    val emb = t(sess, d, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val corpus = emb.filter(col("id") % 3 =!= 0)
    val reg = new graft.state.ModelRegistry(sess,
      newModelTempRoot(sess, "graft-ann-sq8-apply"))
    Similarity.sq8Publish(corpus, reg, "sq8")
    val pin = reg.snapshot("sq8")
    Similarity.annTopKSq8Stored(
        emb.filter(col("id") % 3 === 0 && col("id") < 30), corpus, 5,
        pin)
      .withColumn("model_version", lit(pin.version))
      .localCheckpoint()
  }

  /** Composed compressed-tier refresh loops (`ann_ivfpq_refresh` /
    * `ann_sq8_refresh`): the ann_refresh cadence for the compressed
    * artifacts — publish v1 on the base corpus, maintain the stored
    * CODE table under the vector delta against the PINNED v1 artifacts
    * (per-row encode/quantize of adds, anti-join of retracts —
    * delta-sized, [[Similarity.ivfPqMaintainCodes]] /
    * [[Similarity.sq8MaintainCodes]]), promote the maintained index as
    * v2 reusing v1's frozen centroids/codebook/bounds tables, then
    * serve a query batch against the PINNED v2. The oracle re-derives
    * the post-delta index from scratch with the BASE-frozen artifacts,
    * so maintenance + promotion + serve must compose bit-exactly. */
  private val annIvfPqRefreshScores = memo("ann_ivfpq_refresh") { (sess, d) =>
    val emb = t(sess, d, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val base = emb.filter(col("id") % 3 < 2)
    val reg = new graft.state.ModelRegistry(sess,
      newModelTempRoot(sess, "graft-ann-ivfpq-refresh"))
    Similarity.ivfPqPublish(base, reg, "ivfpq",
      nSub = 8, nCentroids = 128) // v1
    val v1 = reg.snapshot("ivfpq")
    val delta = emb.filter(col("id") % 3 === 2)
      .withColumn("__op", lit(1))
      .unionByName(base.filter(col("id") % 5 === 0)
        .withColumn("__op", lit(-1)))
    reg.publish("ivfpq", Seq( // v2: frozen artifacts, maintained codes
      "meta" -> v1.table("meta"),
      "centroids" -> v1.table("centroids"),
      "codebook" -> v1.table("codebook"),
      "codes" -> Similarity.ivfPqMaintainCodes(
        v1.table("codes"), delta, v1, "__op")))
    val pin = reg.snapshot("ivfpq")
    val postCorpus = emb.filter(col("id") % 3 === 2)
      .unionByName(base.filter(col("id") % 5 =!= 0))
    Similarity.annTopKIvfPqStored(
        emb.filter(col("id") % 3 === 2 && col("id") < 30), postCorpus,
        5, pin, rerank = Similarity.Sq8Rerank)
      .withColumn("model_version", lit(pin.version))
      .localCheckpoint()
  }

  private val annSq8RefreshScores = memo("ann_sq8_refresh") { (sess, d) =>
    val emb = t(sess, d, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val base = emb.filter(col("id") % 3 < 2)
    val reg = new graft.state.ModelRegistry(sess,
      newModelTempRoot(sess, "graft-ann-sq8-refresh"))
    Similarity.sq8Publish(base, reg, "sq8") // v1
    val v1 = reg.snapshot("sq8")
    val delta = emb.filter(col("id") % 3 === 2)
      .withColumn("__op", lit(1))
      .unionByName(base.filter(col("id") % 5 === 0)
        .withColumn("__op", lit(-1)))
    reg.publish("sq8", Seq( // v2: frozen bounds, maintained codes
      "bounds" -> v1.table("bounds"),
      "codes" -> Similarity.sq8MaintainCodes(
        v1.table("codes"), delta, v1, "__op")))
    val pin = reg.snapshot("sq8")
    val postCorpus = emb.filter(col("id") % 3 === 2)
      .unionByName(base.filter(col("id") % 5 =!= 0))
    Similarity.annTopKSq8Stored(
        emb.filter(col("id") % 3 === 2 && col("id") < 30), postCorpus,
        5, pin)
      .withColumn("model_version", lit(pin.version))
      .localCheckpoint()
  }

  /** Declared retrieval gate (`ann_gate`): ONE publish + DECLARED-chain
    * pass per (session, dir). The stored IVF tier publishes to a temp
    * registry, then the gate runs through [[graft.pipeline.SpecLoader]]
    * from a JSON document — the product API, never a direct Similarity
    * call — so this query oracle-checks exactly what a user's declared
    * curation chain executes: every doc retrieves its top-k neighbors
    * from the PINNED index and survives iff its top-1 cosine clears the
    * floor (the retrieval form of margin_gate). The floor constant is
    * defined once and generated into both the JSON and the oracle SQL
    * (one-definition discipline). */
  private[graft] val AnnGateFloorPermille = 300L
  private val annGateDocs = memo("ann_gate") { (sess, d) =>
    val emb = t(sess, d, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val root = newModelTempRoot(sess, "graft-ann-gate")
    val reg = new graft.state.ModelRegistry(sess, root)
    Similarity.ivfPublish(emb.filter(col("id") % 3 =!= 0), reg, "ivf")
    val json =
      s"""{ "name": "ann_gate_chain", "steps": [
         |  { "op": "ann_gate", "id": "doc_id",
         |    "vec_dir": "$d/embeddings.parquet",
         |    "model_dir": "$root", "model": "ivf", "tier": "ivf",
         |    "store": "registry", "k": 5,
         |    "min_top_permille": $AnnGateFloorPermille } ] }"""
        .stripMargin
    graft.pipeline.SpecLoader.transformFromJson(json)(
        t(sess, d, "documents").select(col("doc_id")))
      .localCheckpoint()
  }

  /** Shared chunk table of the `cdc_chunks` / `cdc_dedup` pair: mixed
    * shared/unique 512-byte payload segments synthesized from the mm
    * byte formula, chunked by [[Multimodal.cdcChunks]]. */
  private def cdcChunkTable(s: SparkSession, dir: String): DataFrame = {
    // bytes synthesized per ROW (codegen'd projection after a sequence
    // explode) — the array-column form re-ran the interpreted transform
    // 3× per doc through the Generate guard (see cdcChunkRows scaladoc)
    val rows = Transforms.rebalanceIfNarrow(
      t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
      col("doc_id"))
      .select(col("doc_id").cast("long").as("id"),
        (lit(2048L) + length(encode(col("text"), "UTF-8")) % 2048L)
          .as("__n"))
      .select(col("id"), posexplode(expr("sequence(0L, __n - 1)"))
        .as(Seq("__i", "k")))
      .select(col("id"), col("k"), expr(
        "CASE WHEN (k DIV 512) % 2 = 0 THEN (k * 2654435761L) % 256 " +
          "ELSE (id * 31 + k * 2654435761L) % 256 END").as("b"))
    Multimodal.cdcChunkRows(rows)
      .withColumnRenamed("id", "asset_id")
  }

  /** Flagship: the engine's novel operator — classified snapshot diff
    * (incremental sync delta) on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Reconcile.classified(rBatch(spark, dir), rState(spark, dir))
      .select(col("__key").as("external_id"), col("op"))
  }

  /** Every cross-query memo as (name, builder), in registry order — an
    * entry's dependencies appear before it, so each slot is charged its
    * OWN incremental cost: Bench builds these inside the timed region as
    * `__memo:<name>` slots (round-17, VERDICT r16 task 2 — the warm loop
    * runs planning-only and can no longer absorb a build). Each builder
    * just invokes the memo: exactly the eager work the pre-r17 warm
    * phase did, now timed and named. Derived from the [[memo]] registry,
    * so it lists every declared memo; it must stay below the last
    * declaration, where the registry is complete. */
  private[graft] val memoBuilders
      : Seq[(String, (SparkSession, String) => Unit)] =
    memos.toList.map(m =>
      m.name -> ((s: SparkSession, d: String) => { m(s, d); () }))

  /** Drop every memo cached for `(s, dir)` — the lost-checkpoint
    * recovery hook (SCALING.md "Memoized checkpoints: loss recovery"):
    * a memo's blocks live lineage-free in executor storage, so after an
    * executor loss the consumers' recovery path is to drop the entry and
    * let the memo rebuild from the parquet inputs on next access
    * (pure derivations of immutable fixtures — bit-identical by
    * construction, pinned in MemoRecoverySpec). Does not unpersist
    * surviving blocks: the caller decides whether the old frames are
    * still referenced elsewhere. */
  private[graft] def dropMemos(s: SparkSession, dir: String): Unit =
    memos.foreach(_.drop(s, dir))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ===== §2.1 sources / scans =====
    "scan_parquet" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice")).as("price_cents"))),

    "scan_json" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        from_json(col("props"), lit("k INT")).getField("k").as("k"))),

    // ===== §2.2 transform algebra =====
    "explode_array" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          round(col("v").cast("double") * 1000000).cast("long").as("v_micro"))),

    "explode_nested" -> ((s, dir) => {
      // build nested array<struct> then correlated-flatten it back (T2):
      // parent key stays in scope next to each exploded child.
      val nested = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(collect_list(struct(col("l_linenumber"), col("l_quantity")))
          .as("lines"))
      nested.select(col("l_orderkey"), explode(col("lines")).as("ln"))
        .select(col("l_orderkey"), col("ln.l_linenumber").as("line_no"),
          cents(col("ln.l_quantity")).as("qty_cents"))
    }),

    // T3 projection + rename: the template algebra's select-and-alias
    // shape over the orders table.
    "project_rename" -> ((s, dir) =>
      Transforms.projectRename(t(s, dir, "orders"),
        "o_orderkey" -> "order_id", "o_custkey" -> "customer_id",
        "o_orderstatus" -> "status")),

    "nested_field" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          struct(col("user_id").as("uid"), col("event_type").as("et")).as("s"))
        .select(col("event_id"), col("s.uid").as("uid"), col("s.et").as("et"))),

    "const_column" -> ((s, dir) =>
      t(s, dir, "documents").select(col("lang").as("external_id"),
        lit("true").as("latest")).distinct()),

    "edge_pairs" -> ((s, dir) =>
      Transforms.edgePairs(t(s, dir, "orders"),
        col("o_custkey"), col("o_orderkey"))),

    "pos_size" -> ((s, dir) =>
      t(s, dir, "embeddings").select(col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        (size(col("embedding")) - 1).cast("long").as("last_idx"))),

    // PageRank over the synced supplier→part→order→customer chain graph
    // (type-tagged ids keep the key spaces disjoint). 3 fixed iterations
    // in integer micros — bit-exact on both engines, see GraphAlgos.
    "pagerank" -> ((s, dir) =>
      graft.operators.GraphAlgos.pageRankPrepped(rankGraph(s, dir),
        iters = 3)),

    // personalized PageRank: random walk with restart to the sparse
    // supplier seed set over the same 4-strata graph — proximity-to-seeds
    // scoring, same integer-micro discipline as pagerank
    // ([[GraphAlgos.personalizedPageRank]]).
    "ppr" -> ((s, dir) => {
      val seeds = t(s, dir, "supplier")
        .filter(col("s_suppkey") % 50 === 0)
        .select((col("s_suppkey") * 4).as("id"))
      GraphAlgos.personalizedPageRankPrepped(rankGraph(s, dir), seeds,
        "id", iters = 3)
    }),

    // Per-node triangle counts over a bounded "interaction" graph derived
    // from lineitem: nodes are part/supplier residues mod 300 (one shared
    // id space), and a deterministic arithmetic keep-filter
    // ((a*31+b) % 7 = 0) sparsifies to ~14% of slots — so edge count
    // saturates near 6.3k at ANY scale factor and triangle enumeration
    // stays bounded while the scan still reads every row. The same
    // expressions run verbatim in the oracle.
    "triangle_count" -> ((s, dir) => {
      val g = modCanonicalE(s, dir)
      graft.operators.GraphAlgos.triangleCounts(g, "a", "b")
    }),

    // cohesive-core extraction: bounded k-core peeling (k=15, 4 rounds —
    // at sf0.01 the cascade 759→162→149 edges reaches its fixpoint inside
    // the bound) over the same mod-300 interaction graph
    // ([[GraphAlgos.kCore]]; oracle = the rounds unrolled as CTEs).
    "kcore" -> ((s, dir) => {
      val g = modCanonicalE(s, dir)
      graft.operators.GraphAlgos.kCore(g, "a", "b", k = 15, rounds = 4)
    }),

    // cohesive-subgraph refinement: bounded k-truss peeling (k=3,
    // 2 rounds) over the mod-300 interaction graph — edges in zero
    // triangles peel away, survivors carry their final-graph triangle
    // support ([[GraphAlgos.kTruss]]; oracle = the rounds unrolled, same
    // contract as kcore).
    "ktruss" -> ((s, dir) => {
      val g = modCanonicalE(s, dir)
      graft.operators.GraphAlgos.kTruss(g, "a", "b", k = 3, rounds = 2)
    }),

    // incremental join-view maintenance: the orders⋈lineitem view
    // refreshed from stored sides + insert deltas by the delta algebra
    // ΔJ = ΔA⋈B_new ∪ A_old⋈ΔB ([[Reconcile.maintainJoinView]]) — the
    // oracle is the MONOLITHIC join of the unioned sides, so the
    // incremental result must reproduce it exactly (each delta row
    // matched once, no cross-term double count).
    "ivm_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice")).as("ext_cents"))
      val aOld = o.filter(col("o_orderkey") % 4 =!= 0)
      val dA = o.filter(col("o_orderkey") % 4 === 0)
      val bOld = li.filter((col("l_orderkey") * 7 + col("l_linenumber"))
        % 3 =!= 0).drop("l_linenumber")
      val dB = li.filter((col("l_orderkey") * 7 + col("l_linenumber"))
        % 3 === 0).drop("l_linenumber")
      Reconcile.maintainJoinView(aOld, dA, bOld, dB,
          "o_orderkey", "l_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"), sum(col("ext_cents")).as("rev_cents"))
    }),

    // effective diameter (the canonical HyperBall read-out): smallest
    // hop t where the approximate neighborhood function reaches 90% of
    // its horizon value — derived from the same sketch fixpoint as
    // reach_hll (rows-only for the same reason; the spec's error bound
    // transfers).
    "eff_diameter" -> ((s, dir) => {
      val g = modCanonicalE(s, dir)
      val e = g.select(col("a").as("src"), col("b").as("dst"))
        .union(g.select(col("b").as("src"), col("a").as("dst")))
      val nf = graft.operators.GraphAlgos.neighborhoodFunction(
        e, "src", "dst", maxHops = 4, p = 8)
      val horizon = nf.agg(max(col("nf_est")).as("nf_max"))
      nf.crossJoin(broadcast(horizon))
        .filter(col("nf_est") * 10 >= col("nf_max") * 9)
        .agg(min(col("hop")).as("eff_diameter_hop"),
          max(col("nf_max")).as("nf_max"))
    }),

    // DIRECTED strongly-connected components (the directed sibling of
    // dedup_clusters' undirected CC): transitive closure by path
    // DOUBLING to fixpoint (count-stable, ≤8 rounds — each round
    // squares reachable path length), SCC membership = mutual
    // reachability, id = min mutual partner. Closure state is the
    // bounded pair table (≤ |V|² on the mod-300 graph) — the exact tier
    // by design; census: component count, largest, singletons.
    "scc_census" -> ((s, dir) => {
      val (_, sid, _) = sccDag(s, dir)
      sid.groupBy(col("scc")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_sccs"), max(col("sz")).as("max_scc"),
          sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"))
    }),

    // SCC condensation: collapse the directed graph to its component
    // DAG — distinct inter-SCC edges, plus a SELF-VERIFYING invariant
    // column: mutual inter-SCC edge pairs must be ZERO (two mutually
    // reachable components would be one component; a nonzero value
    // falsifies the SCC computation itself).
    "condensation_dag" -> ((s, dir) => {
      val (_, _, dag) = sccDag(s, dir)
      dag.agg(count(lit(1)).as("n_dag_edges"),
          countDistinct(col("scc_u")).as("n_source_sccs"))
        .crossJoin(broadcast(dag.as("x").join(
            dag.select(col("scc_u").as("ru"), col("scc_v").as("rv")),
            col("x.scc_u") === col("rv") && col("x.scc_v") === col("ru"))
          .agg(count(lit(1)).as("n_mutual_must_be_zero"))))
    }),

    // critical path over the condensation DAG: longest path length by
    // (node, length) fixpoint enumeration — finite BECAUSE the DAG is
    // acyclic (condensation_dag's invariant), bounded by depth; the
    // scheduling-analytics read of the component structure.
    "dag_longest" -> ((s, dir) => {
      val (_, _, dag) = sccDag(s, dir)
      // longest path ending at v, by Bellman-style MAX relaxation — one
      // row per node (not the (v, len) pair enumeration), so state is
      // O(|V|) and rounds = critical-path depth. Finite BECAUSE the DAG
      // is acyclic; non-convergence within the bound fails LOUDLY (a
      // cycle would relax forever — silently truncating would report a
      // wrong longest path).
      var d = dag.select(col("scc_v").as("v"), lit(1L).as("len"))
        .groupBy(col("v")).agg(max(col("len")).as("len"))
        .localCheckpoint()
      var total = d.agg(coalesce(sum(col("len")), lit(0L)))
        .head().getLong(0)
      var iter = 0
      var done = false
      while (!done && iter < 64) {
        val d2 = d.union(d.join(dag, col("v") === col("scc_u"))
            .select(col("scc_v").as("v"), (col("len") + 1).as("len")))
          .groupBy(col("v")).agg(max(col("len")).as("len"))
          .localCheckpoint()
        val t2 = d2.agg(coalesce(sum(col("len")), lit(0L)))
          .head().getLong(0)
        done = t2 == total
        d = d2; total = t2; iter += 1
      }
      require(done, s"dag_longest did not converge in 64 rounds — " +
        "condensation DAG is not acyclic or depth exceeds the bound")
      d.agg(max(col("len")).as("longest_path_edges"),
        countDistinct(col("v")).as("n_reachable_nodes"))
    }),

    // exact 2-hop reachability census: per node of the undirected mod-300
    // interaction graph, |ball(v, 2)| (self + neighbors + 2-hop) via pair
    // expansion — one self-join + distinct, the exact tier that witnesses
    // the HLL sketch tier (`reach_hll`) below. Quadratic in ball size by
    // construction, which is exactly why the sketch tier exists.
    "reach_2hop" -> ((s, dir) => {
      val g = modCanonicalE(s, dir)
        .distinct()
      val e = g.select(col("a").as("src"), col("b").as("dst"))
        .union(g.select(col("b").as("src"), col("a").as("dst")))
        .distinct()
      val self = e.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst"))
      val two = e.as("e1").join(e.as("e2"),
          col("e1.dst") === col("e2.src"))
        .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
      self.union(e).union(two).distinct()
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("n_reach2"))
    }),

    // approximate neighborhood function (HyperBall): per hop 0..3, the
    // estimated Σ_v |ball(v, hop)| over the same graph via per-node HLL
    // registers propagated by element-wise max
    // ([[GraphAlgos.neighborhoodFunction]], native regmax_agg). The 100 TB
    // path for distance statistics — constant state per node where the
    // exact tier above is quadratic. Rows-only: the sketch fixpoint has no
    // SQL twin; OperatorsSpec bounds hop-2 error vs `reach_2hop`'s exact
    // counts.
    "reach_hll" -> ((s, dir) => {
      val g = modCanonicalE(s, dir)
      val e = g.select(col("a").as("src"), col("b").as("dst"))
        .union(g.select(col("b").as("src"), col("a").as("dst")))
      graft.operators.GraphAlgos.neighborhoodFunction(
        e, "src", "dst", maxHops = 3, p = 8)
    }),

    // hub-mixing diagnostic: degree assortativity (Pearson r over edge
    // endpoint degrees, both orientations) of the same graph, integer
    // micros ([[GraphAlgos.degreeAssortativity]]).
    "assortativity" -> ((s, dir) => {
      val g = modCanonicalE(s, dir)
      graft.operators.GraphAlgos.degreeAssortativity(g, "a", "b")
    }),

    // neighborhood transitivity: local clustering coefficient per node in
    // integer permille over the same graph
    // ([[GraphAlgos.clusteringCoefficients]] — one materialized edge set
    // feeds both the degree aggregate and the wedge-closing join).
    "clustering_coeff" -> ((s, dir) => {
      val g = modCanonicalE(s, dir)
      graft.operators.GraphAlgos.clusteringCoefficients(g, "a", "b")
    }),

    // Bounded multi-source BFS over the DIRECTED variant of the same
    // mod-300 interaction graph; sources = node ids ≡ 0 (mod 37), hop =
    // min #edges from any source capped at 4. The cap is what gives the
    // cyclic graph a terminating recursive-CTE oracle twin; the engine
    // side is frontier iteration (GraphAlgos.bfsHops).
    "bfs_hops" -> ((s, dir) => {
      val e = modDirectedE(s, dir)
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      graft.operators.GraphAlgos.bfsHops(e, "src", "dst",
        nodes.filter(col("id") % 37 === 0), "id", maxHops = 4)
    }),

    // node2vec/DeepWalk preprocessing: a deterministic length-4 walk from
    // every node of the mod-300 graph — Knuth-hash neighbor choice over
    // per-node neighbor ranks, so the walk corpus is engine-exact
    // ([[GraphAlgos.randomWalks]]).
    "random_walks" -> ((s, dir) => {
      val e = modDirectedE(s, dir)
      GraphAlgos.randomWalks(e, "src", "dst", steps = 4)
    }),

    // difference-in-differences table: treat = odd users, post = days
    // past the (min+max)/2 midpoint; cell means in milli-cents rounded
    // once, DiD from the ROUNDED means so the headline number is exact
    // integer arithmetic over four audited cells.
    "did_table" -> ((s, dir) => {
      val ev = events(s, dir).select((col("user_id") % 2).as("treat"),
        expr("ts DIV 86400000000000").as("day"), cents(col("value")).as("v"))
      val cut = broadcast(ev.agg(
        expr("(MIN(day) + MAX(day)) DIV 2").as("__cut")))
      def cell(t: Int, p: Int, f: Column) = sum(
        when(col("treat") === t && col("post") === p, f).otherwise(0L))
      val g = ev.crossJoin(cut)
        .withColumn("post", (col("day") >= col("__cut")).cast("long"))
        .agg(cell(1, 0, lit(1L)).as("n_t0"), cell(1, 1, lit(1L)).as("n_t1"),
          cell(0, 0, lit(1L)).as("n_c0"), cell(0, 1, lit(1L)).as("n_c1"),
          cell(1, 0, col("v")).as("__st0"), cell(1, 1, col("v")).as("__st1"),
          cell(0, 0, col("v")).as("__sc0"), cell(0, 1, col("v")).as("__sc1"))
      Seq("t0", "t1", "c0", "c1").foldLeft(g) { (acc, c) =>
          acc.withColumn(s"m_$c", expr(
            s"CAST(round(__s$c * 1000.0 / n_$c, 0) AS BIGINT)"))
        }
        .withColumn("did_millicents",
          expr("(m_t1 - m_t0) - (m_c1 - m_c0)"))
        .select("n_t0", "n_t1", "n_c0", "n_c1",
          "m_t0", "m_t1", "m_c0", "m_c1", "did_millicents")
    }),

    // STL-lite decomposition of the daily count series per type: trend =
    // centered ±3-day RANGE mean (gap-safe), seasonal = per-day-of-week
    // mean deviation, residual = the rest — every component integer
    // milli with one mirrored rounding per level.
    "ts_decompose" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = events(s, dir)
        .groupBy(col("event_type").as("et"),
          expr("ts DIV 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val wT = Window.partitionBy("et").orderBy("day").rangeBetween(-3, 3)
      val wS = Window.partitionBy(col("et"), expr("(day + 4) % 7"))
      d.withColumn("__ts", sum(col("n")).over(wT))
        .withColumn("__tc", count(lit(1)).over(wT))
        .withColumn("trend_milli",
          expr("CAST(round(__ts * 1000.0 / __tc, 0) AS BIGINT)"))
        .withColumn("__dev", col("n") * 1000L - col("trend_milli"))
        .withColumn("__ss", sum(col("__dev")).over(wS))
        .withColumn("__sc", count(lit(1)).over(wS))
        .withColumn("seasonal_milli",
          expr("CAST(round(CAST(__ss AS DOUBLE) / __sc, 0) AS BIGINT)"))
        .withColumn("resid_milli",
          expr("n * 1000 - trend_milli - seasonal_milli"))
        .select("et", "day", "n", "trend_milli", "seasonal_milli",
          "resid_milli")
    }),

    // landmark closeness centrality: exact BFS distances from the 4
    // landmarks (id ≡ 0 mod 75) over the undirected mod-300 graph, all
    // landmark searches sharing each wave's joins via a (landmark, node)
    // frontier ([[GraphAlgos.closenessCentrality]]).
    "closeness_centrality" -> ((s, dir) => {
      val e = modDirectedE(s, dir)
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      GraphAlgos.closenessCentrality(e, "src", "dst",
        nodes.filter(col("id") % 75 === 0), "id", maxHops = 4)
    }),

    // deterministic negative-edge sampling for link-prediction training:
    // k=5 hash-chosen non-edges per node over the link_predict graph —
    // bucket-probe candidate generation, no |V|² stage
    // ([[GraphAlgos.negativeSample]]).
    "negative_sample" -> ((s, dir) => {
      val g = modCanonicalE(s, dir)
      GraphAlgos.negativeSample(g, "a", "b", k = 5)
    }),

    // Bounded weighted shortest paths (Bellman-Ford, 4 relaxation rounds)
    // over the same directed mod-300 graph with a deterministic per-edge
    // integer weight; sources = node ids ≡ 0 (mod 37). The oracle unrolls
    // the relax rounds — min-aggregates can't appear in a recursive CTE
    // (GraphAlgos.shortestPaths).
    "shortest_path" -> ((s, dir) => {
      val e = modDirectedE(s, dir)
        .withColumn("w", (col("src") * 13 + col("dst") * 7) % 97 + 1)
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      graft.operators.GraphAlgos.shortestPaths(e, "src", "dst", "w",
        nodes.filter(col("id") % 37 === 0), "id", rounds = 4)
    }),

    // HITS hubs/authorities, 2 un-normalized integer rounds over the
    // directed mod-300 graph ([[GraphAlgos.hits]]; the oracle unrolls
    // both rounds as join+sum CTEs).
    "hits_scores" -> ((s, dir) => {
      val e = modDirectedE(s, dir)
      graft.operators.GraphAlgos.hits(e, "src", "dst", rounds = 2)
    }),

    // near-dup cluster size census over the Jaccard pair graph: how much
    // of the corpus collapses, and into how big groups — the dedup
    // impact report ([[Dedup.connectedComponents]] + two aggregates).
    "cluster_sizes" -> ((s, dir) =>
      docDupGraph(s, dir)._2
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))),

    // RFM customer segmentation with VALUE-based quartile codes (exact
    // percentile cuts broadcast back, winsorize-style — equal values get
    // equal codes, unlike ntile; recency measured against the corpus max
    // date so the query is reproducible).
    "rfm_scores" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val base = o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_d"),
          count(lit(1)).as("f"),
          sum(cents(col("o_totalprice"))).as("m_cents"))
      val withR = base
        .crossJoin(broadcast(o.agg(max(col("o_orderdate")).as("max_d"))))
        .withColumn("r_days",
          expr("CAST(datediff(max_d, last_d) AS BIGINT)"))
      val cuts = withR.agg(
        expr("percentile(r_days, array(0.25, 0.5, 0.75))").as("rq"),
        expr("percentile(f, array(0.25, 0.5, 0.75))").as("fq"),
        expr("percentile(m_cents, array(0.25, 0.5, 0.75))").as("mq"))
      withR.crossJoin(broadcast(cuts))
        .withColumn("r_q", expr("CAST(1 + CAST(r_days > rq[0] AS INT) " +
          "+ CAST(r_days > rq[1] AS INT) + CAST(r_days > rq[2] AS INT) " +
          "AS BIGINT)"))
        .withColumn("f_q", expr("CAST(1 + CAST(f > fq[0] AS INT) " +
          "+ CAST(f > fq[1] AS INT) + CAST(f > fq[2] AS INT) AS BIGINT)"))
        .withColumn("m_q", expr("CAST(1 + CAST(m_cents > mq[0] AS INT) " +
          "+ CAST(m_cents > mq[1] AS INT) + CAST(m_cents > mq[2] AS INT) " +
          "AS BIGINT)"))
        .select(col("o_custkey"), col("r_days"), col("f"), col("m_cents"),
          expr("r_q * 100 + f_q * 10 + m_q").as("rfm"))
    }),

    "filter_pred" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter((col("l_quantity") < 10 || col("l_returnflag") =!= "N")
          && col("l_linenumber") <= 3)
        .select(col("l_orderkey"), col("l_linenumber"))),

    "cast_string" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("ok"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))),

    "topk_per_group" -> ((s, dir) =>
      Transforms.topKPerGroup(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice")),
        Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select(col("o_custkey"), col("o_orderkey"))),

    "json_roundtrip" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        from_json(to_json(struct(col("user_id"), col("event_type"))),
          lit("user_id BIGINT, event_type STRING"))
          .getField("user_id").as("uid"))),

    "dedup_key" -> ((s, dir) =>
      Transforms.dedupByKey(t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("string").as("external_id")))),

    // aggregate (max_by) form: the partial phase collapses duplicate keys
    // before the shuffle (the window form shuffles every row first) — the
    // window form (lastWinsByKey) stays for orderings a max-tuple can't
    // express, and OperatorsSpec asserts the two agree.
    "upsert_lastwins" -> ((s, dir) =>
      Transforms.lastWinsByKeyAgg(
        t(s, dir, "lineitem").select(
          col("l_orderkey").cast("string").as("external_id"),
          col("l_linenumber").as("line_no"),
          cents(col("l_quantity")).as("qty_cents")),
        "external_id", col("line_no"), col("qty_cents"))),

    // ===== §2.3 joins =====
    "edge_resolve_join" -> ((s, dir) => {
      val edges = Transforms.edgePairs(t(s, dir, "lineitem"),
        col("l_partkey"), col("l_suppkey"))
      val a = broadcast(t(s, dir, "part").filter(col("p_size") > 25)
        .select(col("p_partkey").cast("string").as("a_id")))
      val b = broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey").cast("string").as("b_id")))
      edges.join(a, Seq("a_id"), "left_semi")
        .join(b, Seq("b_id"), "left_semi")
        .dropDuplicates("a_id", "b_id")
        .select("a_id", "b_id")
    }),

    // skew-safe salted join (spec'd equal to the plain join; the oracle is
    // the plain SQL join) — the pathological-hot-key fallback when the
    // small side can't broadcast and AQE's skew split still leaves a
    // straggler. lineitem.l_orderkey vs an orders projection.
    "salted_join" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_linenumber"))
      val dim = t(s, dir, "orders").filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      Transforms.saltedJoin(big, dim, "k", 8)
        .select(col("k"), col("l_linenumber"), col("o_orderpriority"))
    }),

    "snapshot_diff" -> ((s, dir) =>
      Reconcile.classified(rBatch(s, dir), rState(s, dir))
        .select(col("__key").as("external_id"), col("op"))),

    "anti_join" -> ((s, dir) =>
      rState(s, dir).join(rBatch(s, dir), Seq("external_id"), "left_anti")
        .select(col("external_id"))),

    "semi_changed" -> ((s, dir) =>
      Reconcile.diff(rBatch(s, dir), rState(s, dir)).toCreate
        .select(col("external_id"))),

    // ===== §2.6 reconcile family =====
    // One classified pass → filter op != unchanged: a single full-outer
    // join, vs the union-of-two-diffs form that re-planned it per branch.
    "reconcile_delta" -> ((s, dir) =>
      Reconcile.changelog(rBatch(s, dir), rState(s, dir))),

    "reconcile_passthru" -> ((s, dir) => {
      val edges = Transforms.edgePairs(t(s, dir, "orders"),
        col("o_custkey"), col("o_orderkey"))
      Reconcile.diff(edges, rState(s, dir), passthrough = true).toCreate
    }),

    "reconcile_commit" -> ((s, dir) =>
      Reconcile.postState(rBatch(s, dir)).select(col("external_id"))),

    "delete_keys" -> ((s, dir) => {
      // K2: apply a delete-key list to a node table (anti-join), the
      // DETACH-DELETE analog (reference neo4j.go:116-118).
      val nodes = t(s, dir, "orders")
        .select(col("o_orderkey").cast("string").as("external_id"),
          col("o_orderstatus").as("status"))
      val deletes = t(s, dir, "orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").cast("string").as("external_id"))
      nodes.join(deletes, Seq("external_id"), "left_anti")
    }),

    // ===== §2.4 aggregations =====
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(cents(col("l_quantity"))).as("sum_qty_cents"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          sum(cents(col("l_discount"))).as("sum_disc_cents"),
          count(lit(1)).as("n"))),

    // multi-join analytics: fact ⋈ broadcast dims — the plan shape every
    // 100 TB star-schema query wants (dims broadcast, fact never shuffles
    // before the partial agg).
    "q3_revenue" -> ((s, dir) => {
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
    }),

    "q5_nation_revenue" -> ((s, dir) => {
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
    }),

    // market-share shape (TPC-H Q8): 7-table star — fact joins SIX
    // broadcast dims (two roles of nation), aggregates to (year,
    // supp_nation), then a window over the tiny year frame derives the
    // denominator. Share is emitted as (nation_cents, year_cents) integer
    // pair, never a float division.
    "q8_market_share" -> ((s, dir) => {
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
    }),

    // product-profit shape (TPC-H Q9): per (supplier nation, year) profit
    // where cost is proxied by part list price (no partsupp table in the
    // fixture set). Revenue and cost are rounded to cents SEPARATELY and
    // the longs subtracted: rounding the raw difference would put values
    // on .5-cent boundaries through two different round paths (Spark's
    // BigDecimal.valueOf HALF_UP vs DuckDB's binary-double rounding) —
    // each single product term is already oracle-safe on its own.
    "q9_profit" -> ((s, dir) => {
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
    }),

    // large-volume orders (TPC-H Q18): HAVING on the grouped fact — the
    // quantity sum aggregates FIRST (one pass over lineitem), and the few
    // surviving orderkeys are BROADCAST to the orders probe (post-HAVING
    // `big` is selectivity-bounded; without the hint this is a full
    // shuffle of orders unless AQE happens to convert it).
    "q18_large_orders" -> ((s, dir) => {
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
    }),

    // order-priority check (TPC-H Q4): EXISTS decorrelates to a LEFT SEMI
    // hash join — the extra lateness predicate (l_shipdate more than 75
    // days after o_orderdate; the fixture has no commit/receipt dates)
    // rides the equi-key join as a residual condition, never a
    // nested-loop. Counts collapse per priority after the semi join.
    "q4_priority" -> ((s, dir) => {
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
    }),

    // forecasting-revenue change (TPC-H Q6): the single-table banded
    // filter — date range + discount band + quantity cap all push to the
    // parquet scan, then one partial-combined aggregate. The canonical
    // "does predicate pushdown reach the scan" probe.
    "q6_banded_rev" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(cents(col("l_extendedprice") * col("l_discount")))
          .as("revenue_cents"), count(lit(1)).as("n_lines"))),

    // shipping-priority mix (TPC-H Q12): one fact join + conditional
    // CASE-sums per category (l_linestatus stands in for the fixture's
    // missing shipmode) — both counts come out of ONE aggregate pass, not
    // two filtered scans.
    "q12_priority_mode" -> ((s, dir) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_lines"),
          sum(when(hi, 0L).otherwise(1L)).as("low_lines"))
    }),

    // promotion revenue share (TPC-H Q14): revenue split by a dimension
    // attribute in one month, share emitted as integer permille via FLOOR
    // division of exact cent sums (a rounded double division would ride
    // the Spark-vs-DuckDB .5-boundary difference; x*1000 DIV y cannot).
    "q14_promo_share" -> ((s, dir) =>
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
          expr("promo_cents * 1000 DIV total_cents"))),

    // top supplier (TPC-H Q15): revenue per supplier in a quarter, keep
    // the max — the 1-row max aggregate is BROADCAST back against the
    // per-supplier aggregate (never a global sort, never a window over
    // one partition), then the tiny winner set probes supplier.
    "q15_top_supplier" -> ((s, dir) => {
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
    }),

    // small-quantity-order revenue (TPC-H Q17): the correlated-average
    // subquery decorrelates to a per-part aggregate joined back to the
    // fact; the `l_quantity < 0.2 * avg(l_quantity)` test is done in
    // EXACT integers — 5 * qty_cents * n < sum_qty_cents — so no float
    // average ever materializes on either side.
    "q17_small_qty" -> ((s, dir) => {
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
    }),

    // discounted-revenue disjunction (TPC-H Q19): an OR of three
    // conjunctive (brand, size, quantity) bands — Catalyst keeps the
    // common `l_partkey = p_partkey` conjunct as the hash-join key and
    // evaluates the disjunction as a post-join filter; part is broadcast.
    "q19_disjunct" -> ((s, dir) => {
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
    }),

    // suppliers who kept orders waiting (TPC-H Q21): the EXISTS /
    // NOT-EXISTS pair over the SAME fact — one lineitem×orders lateness
    // base is built once and reused three ways: late rows (l1), a LEFT
    // SEMI probe for "some other supplier on the order" (l2), a LEFT
    // ANTI probe for "no other supplier was late" (l3). All three hang
    // off the orderkey hash — no nested-loop anywhere. Lateness =
    // shipped >90 days after order date (no receipt/commit dates in the
    // fixture); finished orders only.
    "q21_waiting" -> ((s, dir) => {
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
    }),

    // dormant high-balance customers (TPC-H Q22): the anti-join +
    // scalar-aggregate pair — segment customers above their segments'
    // positive-balance average (exact integers: cents(c)*n > sum_cents,
    // no float avg) with NO order since 2000-01-01. The 1-row stats
    // aggregate is broadcast; the recent-orders anti probe is a hash
    // join on custkey.
    "q22_idle_cust" -> ((s, dir) => {
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
    }),

    // join-consistent sampling: both fact tables sampled by the SAME
    // md5 rule on the JOIN KEY, so a ~1/16 sample of orders keeps ALL of
    // each sampled order's lineitems — the correlated-sampling property
    // that makes downstream join/agg estimates unbiased (independent
    // per-table sampling would keep ~1/256 of join rows and break every
    // per-order aggregate). Output: sampled counts + the join-complete
    // proof term (orders with a missing lineitem = 0 by construction,
    // asserted in the oracle twin too).
    "consistent_sample" -> ((s, dir) => {
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
    }),

    // bilateral trade volume (TPC-H Q7): revenue between the NATION_0 ↔
    // NATION_3 pair by supplier/customer direction and year — the
    // two-dimension-role join (nation joins TWICE under different roles,
    // both broadcast), pair filter keeps both directions.
    "q7_volume" -> ((s, dir) => {
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
    }),

    // returned-item losses (TPC-H Q10): top 20 customers by revenue on
    // 'R'-flagged lineitems in one quarter — date+flag filters reach the
    // scans, dims broadcast, top-k via TakeOrderedAndProject.
    "q10_returns" -> ((s, dir) => {
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
    }),

    // customer order-count distribution (TPC-H Q13): LEFT join so
    // zero-order customers survive, count the non-null side, then the
    // second aggregation runs on the already-tiny (custkey, n) relation.
    "custdist" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_cust"))),

    "count_rows" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"))),

    // distinct aggregation (Expand + two-phase agg plan shape):
    "distinct_agg" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          count(lit(1)).as("n"))),

    // rollup: subtotal + grand-total rows with NULL group markers, the
    // multi-level agg Catalyst gives for free (absent from the reference).
    "rollup_agg" -> ((s, dir) =>
      t(s, dir, "orders").rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents"))),

    // full CUBE: all four grouping sets in ONE pass — Spark expands the
    // sets below a single hash aggregate (Expand + partial agg), so the
    // fact table is scanned and shuffled once, not once per set.
    "cube_agg" -> ((s, dir) =>
      t(s, dir, "lineitem").cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_quantity"))).as("qty_cents"))),

    // per-group exact quartiles (distribution stats for curation/QA).
    // Quartile fractions and the integer-valued measure keep every
    // interpolation step exact in binary, so the DuckDB quantile_cont
    // twin hash-matches with no float drift. Exact percentile buffers
    // the group's values (ObjectHashAggregate) — fine for bounded-group
    // stats; an unbounded-cardinality 100 TB profile would switch to
    // approx_percentile's fixed-size sketch.
    "group_quartiles" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag").as("flag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)") * 100).cast("long")
            .as("q1_cents"),
          round(expr("percentile(l_quantity, 0.5)") * 100).cast("long")
            .as("q2_cents"),
          round(expr("percentile(l_quantity, 0.75)") * 100).cast("long")
            .as("q3_cents"),
          count(lit(1)).as("n"))),

    // pivot (long→wide reshape); missing combinations coalesced to 0 so
    // the oracle's FILTER-count twin matches exactly.
    "pivot_agg" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P")).agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("f_n"),
          coalesce(col("O"), lit(0L)).as("o_n"),
          coalesce(col("P"), lit(0L)).as("p_n"))),

    // group-collect to a SORTED list (deterministic, so oracle-exact):
    // collect_set bounded by the group's distinct-value count, then an
    // in-row sort — the list-agg family the reference's state map implies.
    "collect_sorted" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
          .as("statuses"), count(lit(1)).as("n"))),

    "group_state" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type").as("fn_key"),
        col("user_id")).agg(count(lit(1)).as("n"))),

    "sum_metric" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(sum(cents(col("value"))).as("dur_cents"))),

    // ===== §2.5 scalar functions =====
    "concat_keys" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(concat_ws(":", lit("http"), col("o_orderpriority")).as("ikey"))
        .distinct()),

    "coalesce_chain" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        coalesce(
          nullif(when(col("doc_id") % 3 === 0, "").otherwise(col("lang")), lit("")),
          nullif(when(col("doc_id") % 4 === 0, "").otherwise(col("source")), lit("")),
          col("doc_id").cast("string")).as("token"))
    }),

    "canonical_json" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        ChangeHash.canonicalJson(d, Seq("source", "lang")).as("cj"))
    }),

    "crc32_hash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      d.select(col("doc_id"), ChangeHash.changeHash(d).as("h"),
        Crc32Q(col("lang")).as("h_lang"))
    }),

    "cast_string_hash" -> ((s, dir) =>
      // T10 cast-to-string + F1 over a numeric column: string-cast parity
      t(s, dir, "orders").select(col("o_orderkey"),
        Crc32Q(col("o_orderkey").cast("string")).as("h"))),

    // ===== extensions: dedup family =====
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactSurvivors(t(s, dir, "documents"), "text", "doc_id")),

    // incremental crawl dedup: batch vs persistent seen-hash state —
    // one within-batch hash agg + one (hash, id) anti-join; bodies never
    // join. State fixture = the docs already "seen" in a previous sync.
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val seen = Dedup.seenHashes(docs.filter(col("doc_id") % 3 === 0), "text")
      Dedup.incrementalExactSurvivors(docs, seen, "text", "doc_id")
    }),

    // Bloom-pruned form of dedup_incremental — byte-identical output, but
    // only the maybe-seen sliver of the batch pays the anti-join exchange;
    // the definitely-new majority never shuffles (operator doc). Oracle =
    // dedup_incremental's SQL verbatim: the filter changes the plan, not
    // the result.
    "dedup_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val seen = Dedup.seenHashes(docs.filter(col("doc_id") % 3 === 0), "text")
      Dedup.bloomPrunedIncrementalSurvivors(docs, seen, "text", "doc_id")
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => docDupGraph(s, dir)._1),

    // prefix-filtered word-set Jaccard join (PPJoin family): exact same
    // contract as the inverted-index tier but candidates come only from
    // RARE-token collisions — high-df tokens never enter the index, so the
    // quadratic stopword fan-out that caps ngramJaccardPairs at scale is
    // designed out ([[Dedup.prefixFilterJaccardPairs]]). Oracle = the
    // plain exact-Jaccard SQL: the prefix filter is lossless.
    "ppjoin_pairs" -> ((s, dir) =>
      Dedup.prefixFilterJaccardPairs(t(s, dir, "documents"), "text",
        "doc_id", thresholdPermille = 950)),

    // inter-document phrase novelty: share of each doc's distinct word
    // 8-grams that also occur in ≥1 other doc — the corpus-boilerplate /
    // memorization signal ([[Dedup.gramNovelty]]; intra-doc repetition is
    // rep_score, cross-split leakage is decontaminate).
    "gram_novelty" -> ((s, dir) =>
      Dedup.gramNovelty(t(s, dir, "documents"), "text", "doc_id", n = 8)),

    // tokenizer APPLY half of the BPE story: train 10 merges on the corpus
    // (bpe_merges' driver loop — vocabulary-sized rounds), then price every
    // document under the trained tokenizer with the native replay
    // expression ([[graft.functions.BpeEncode]]) in one projection pass.
    // Rows-only: the iterated merge replay has no SQL twin (see
    // noOracleReason + BpeEncodeSpec).
    "bpe_apply" -> ((s, dir) => {
      // the merge table rides the bpe_merges memo (one trainer loop per
      // (session, dir), shared with bpe_fertility)
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.BpeEncode(col("text"), bpeMergeTable(s, dir))
          .as("n_bpe"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"))
    }),

    // tokenizer fertility per language: BPE tokens per whitespace word
    // (the "how many subwords does this language cost" diagnostic that
    // sizes per-language token budgets). Same memoized merge table as
    // bpe_apply; one fused projection + one tiny aggregate.
    "bpe_fertility" -> ((s, dir) =>
      t(s, dir, "documents").select(col("lang"),
          graft.functions.BpeEncode(col("text"), bpeMergeTable(s, dir))
            .as("__nb"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__nw"))
        .groupBy(col("lang"))
        .agg(sum(col("__nb")).as("n_bpe"), sum(col("__nw")).as("n_ws"))
        .withColumn("fertility_permille", expr("(1000 * n_bpe) DIV n_ws"))),

    // corpus conditional bigram entropy H(w2|w1) in integer micro-nats —
    // the language-complexity statistic (low = templated, high =
    // diverse); quantize-once per bigram TYPE
    // ([[TextAnalysis.bigramCondEntropy]]).
    "bigram_entropy" -> ((s, dir) =>
      TextAnalysis.bigramCondEntropyFromCounts(
        corpusBigramCounts(s, dir))),

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
    "curation_funnel" -> ((s, dir) => {
      import s.implicits._
      funnelRows(s, dir).toDF("stage", "op", "rows_in", "rows_out")
    }),

    // calibration table (reliability diagram) for the quality scorer:
    // score-decile bins vs the realized unique-content rate — does a
    // higher quality score actually predict non-duplicate content. Bodies
    // never shuffle: the outcome window partitions on the exactSurvivors
    // hash-key triple, not the text.
    "calibration_bins" -> ((s, dir) => {
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
    }),

    // smoothed target encoding (the ML-prep categorical encoder): per
    // segment, (Σv + k·prior)/(n + k) with prior = global mean — cleared
    // to the single rational (Σv·N + k·T)/(N·(n+k)), exact integers up
    // to ONE closing float division mirrored in the twin.
    "target_encode" -> ((s, dir) => {
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
    }),

    // seasonal-naive forecast backtest: predict each (type, day)'s event
    // count with the count 7 days earlier, score MAE (milli) and bias on
    // the days where both sides exist — the baseline every forecasting
    // pipeline must beat, evaluated entirely in integers.
    "forecast_backtest" -> ((s, dir) => {
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
    }),

    // hashing-trick feature crosses: (segment × nation) crossed, hashed
    // into 64 buckets via md5-hex arithmetic both engines can evaluate
    // identically; output = bucket load + collision census (distinct
    // crosses per bucket) — the dimensionality/collision trade every
    // hashed featurizer prices.
    "feature_hash" -> ((s, dir) => {
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
    }),

    // k-anonymity risk census over quasi-identifiers (nation, segment,
    // $1000 balance band): groups below k=5 and the rows they expose —
    // the governance pre-check before publishing a slice.
    "kanon_risk" -> ((s, dir) =>
      t(s, dir, "customer")
        .withColumn("bal_band",
          expr("CAST(round(c_acctbal * 100, 0) AS BIGINT) DIV 100000"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
        .agg(count(lit(1)).as("__cnt"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("__cnt") < 5, 1L).otherwise(0L)).as("n_small_groups"),
          sum(when(col("__cnt") < 5, col("__cnt")).otherwise(0L))
            .as("rows_at_risk"),
          min(col("__cnt")).as("min_group"))),

    // robust two-way decomposition: Tukey median polish (2 rounds) of the
    // nation × segment revenue grid — alternating LOWER-median sweeps
    // isolate outlier cells in the residual term instead of smearing them
    // across row/column means ([[Transforms.medianPolish]] — exact
    // integer rank-pick medians, grid-sized windows, oracle = the sweeps
    // unrolled).
    "median_polish" -> ((s, dir) => {
      val grid = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      Transforms.medianPolish(grid, "c_nationkey", "c_mktsegment",
        "rev_cents", rounds = 2)
    }),

    // threshold-free scorer evaluation: exact ROC-AUC of the quality
    // score as an English-document ranker, by integer rank sums with
    // midrank ties ([[Transforms.rankAuc]] — histogram collapse first,
    // rank math over |distinct scores| rows).
    "auc_quality" -> ((s, dir) =>
      Transforms.rankAuc(t(s, dir, "documents"),
        TextAnalysis.qualityScore(col("text")), col("lang") === "en")),

    // threshold sweep companion to auc_quality: precision/recall at
    // EVERY distinct score cut ("predict English when score ≥ t") — the
    // PR curve as integer permille from one histogram pass + one
    // descending cumulative window over |distinct scores| rows.
    "pr_curve" -> ((s, dir) => {
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
    }),

    // contamination span forensics: for train×test 8-gram-sharing pairs
    // (decontaminate's split), the LONGEST shared consecutive token run
    // via the diagonal-islands construction
    // ([[Dedup.contaminationSpans]] — one n-gram equi-join, islands from
    // pos − row_number, no pairwise alignment).
    "overlap_spans" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val h = substring(md5(col("text")), 1, 1)
      Dedup.contaminationSpans(
        d.filter(h < "c").select(col("doc_id"), col("text")),
        d.filter(h >= "e").select(col("doc_id"), col("text")),
        "text", "doc_id", n = 8)
    }),

    // trainable language ID, entirely in-engine: per-language top-40
    // char-trigram profiles learned from the TRAIN split, test docs
    // classified by profile-hit count (argmax, ties to the smallest
    // lang) — the train/eval ML loop as three aggregates and one
    // broadcast join (profiles are |langs|·40 rows). Fixture finding:
    // ~15% test accuracy ≈ 5-class chance — corroborating kappa_langid
    // that the synthetic corpus's lang labels are independent of its
    // text; the machinery (not the fixture's signal) is what the oracle
    // certifies.
    "chargram_langid" -> ((s, dir) => {
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
    }),

    // chance-corrected classifier agreement: Cohen's kappa of the
    // language-ID heuristic against ground truth — exact integers with
    // cleared denominators (kappa = (N·po − Σ m·n) / (N² − Σ m·n), ppm
    // floor), marginal products from the tiny confusion cells.
    "kappa_langid" -> ((s, dir) => {
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
    }),

    // heap-aggregate top-k: top-3 orders per priority via the native
    // bounded-buffer aggregate ([[graft.functions.TopKAgg]]) — the
    // scale-side twin of `topk_per_group`: state is k pairs per group,
    // so the exchange moves buffers, not rows (plan-pinned: no Window,
    // no sort before the shuffle).
    "topk_heap" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.TopKAgg.topK(
          cents(col("o_totalprice")), col("o_orderkey"), 3).as("top"))
        .select(col("o_orderpriority"),
          posexplode(col("top")).as(Seq("rk0", "e")))
        .select(col("o_orderpriority"),
          (col("rk0") + 1).cast("long").as("rk"),
          col("e.v").as("total_cents"), col("e.id").as("o_orderkey"))),

    // null-preserving explode (OUTER semantics): per document, its
    // long tokens (≥ 8 chars) via explode_outer — documents with NO
    // qualifying token keep a row with a NULL token instead of
    // vanishing, the left-join-like generate variant plain explode
    // silently drops.
    "outer_explode" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode_outer(expr(
            "filter(split(trim(lower(text)), '\\\\s+'), " +
              "w -> length(w) >= 8)")).as("long_tok"))
        .groupBy(col("doc_id"))
        .agg(count(col("long_tok")).as("n_long"),
          max(col("long_tok")).as("max_tok"))),

    // set-operator surface: INTERSECT / EXCEPT (distinct semantics) over
    // per-segment (nation, $2000-balance-band) profiles — Spark plans
    // both as aggregated semi/anti joins; the twin uses the SQL operators
    // directly.
    "set_ops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val prof = (m: String) => c.filter(col("c_mktsegment") === m)
        .select(col("c_nationkey"),
          expr("CAST(round(c_acctbal * 100, 0) AS BIGINT) DIV 200000")
            .as("bal_band"))
      prof("BUILDING").intersect(prof("MACHINERY"))
        .withColumn("op", lit("intersect"))
        .union(prof("BUILDING").except(prof("MACHINERY"))
          .withColumn("op", lit("except")))
    }),

    // l-diversity census — kanon_risk's sibling on the SENSITIVE axis:
    // within each (nation, segment) quasi-identifier group, how many
    // distinct $1000 balance bands appear; groups with l < 3 would let an
    // attacker who locates a person's group infer their balance band.
    "l_diversity" -> ((s, dir) =>
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
          min(col("__l")).as("min_l"))),

    // greedy maximum-coverage document selection (Nemhauser-Wolsey-Fisher
    // greedy): the 4 documents that together cover the most distinct word
    // BIGRAMS (the fixture's word vocabulary is 31 tokens — one doc
    // saturates it; bigram sets still discriminate), with each pick's
    // marginal gain ([[TextAnalysis.greedyCoverage]] — tokenize once, K
    // bounded rounds of broadcast anti-join + count, only the argmax row
    // reaches the driver; oracle = the rounds unrolled as CTEs).
    "coverage_select" -> ((s, dir) =>
      TextAnalysis.greedyCoverage(t(s, dir, "documents"),
        "doc_id", "text", k = 4, gram = 2)),

    // most-frequent-value imputation dictionary: per nation the modal
    // market segment (counts collapse first; ties to the smallest
    // segment so the dictionary is rerun-stable).
    "group_mode" -> ((s, dir) => {
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
    }),

    // pairs → groups: the clustering step that turns "a dups b" pair
    // output into keep/drop decisions (cluster_id = canonical survivor).
    "dedup_clusters" -> ((s, dir) => docDupGraph(s, dir)._2),

    // cross-modal dedup agreement: the TEXT near-dup tier (ngram-Jaccard)
    // vs the EMBEDDING near-dup tier (bucketed cosine) over the SAME id
    // space — pair-set overlap counts + Jaccard permille. The census a
    // pipeline runs before trusting either signal alone: both-tier pairs
    // are high-precision merges, single-tier pairs are the review queue.
    "dedup_agreement" -> ((s, dir) => {
      val textPairs = docDupGraph(s, dir)._1
        .select(col("a"), col("b"), lit(1L).as("tp"))
      val embPairs = Dedup.embeddingCosineLsh(
          t(s, dir, "embeddings")
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
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
    }),

    // dedup×split interaction — the LEAKAGE check that motivates
    // dedup-before-split: near-dup clusters whose members land in
    // DIFFERENT content-hash splits leak evaluation signal into
    // training. Reports clusters spanning >1 split and the documents at
    // risk (cluster map ⋈ split labels, two tiny aggregates).
    "cluster_leakage" -> ((s, dir) => {
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
    }),

    // dedup-pipeline quality: pairwise precision/recall of the
    // ngram-Jaccard cluster pipeline against EXACT-duplicate truth, by
    // contingency pair-counting (Σ C(n,2) per cluster / truth-group /
    // cell) — no pair set is ever materialized, so the metric costs one
    // label join + three tiny aggregates on top of the pipeline.
    // Precision < 1000 is the expected reading: near-dup clusters
    // legitimately contain non-identical members.
    "cluster_prf" -> ((s, dir) => {
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
    }),

    // golden-record fusion: the field-merge step AFTER clustering — per
    // duplicate cluster, the canonical id, the best-quality member's
    // source (deterministic ties via the (q, −id) struct order), and the
    // cluster's pooled stats. The MDM composition of the dedup and
    // curation families.
    "golden_record" -> ((s, dir) => {
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
    }),

    // HLL set-algebra tier: approximate per-pair audience overlap between
    // event types via inclusion–exclusion over mergeable sketches
    // (|A∩B| ≈ |A| + |B| − |A∪B|) — the sketch-only path to overlap
    // matrices at 100 TB. Rows-only (sketch estimates; exact-tier parity
    // and error bounds in OperatorsSpec).
    "hll_intersect" -> ((s, dir) => {
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
    }),

    // asymmetric containment pairs: quote/subset detection with a low bar
    // (≥300 permille either direction exercises both the filter's OR and
    // real data) — [[Dedup.containmentPairs]], same reused-exchange
    // inverted index as the Jaccard tier.
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
        n = 5, thresholdPermille = 300)),

    // benchmark decontamination: training docs sharing ≥1 distinct word
    // 8-gram with the held-out 'test' split of the same corpus
    // ([[TextAnalysis.hashSplit]] is the split authority on both sides).
    // Output = the contamination report a curation pipeline acts on.
    "decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val split = TextAnalysis.hashSplit(col("text"))
      Dedup.benchmarkContamination(
        docs.filter(split === "train"), docs.filter(split === "test"),
        "text", "doc_id", n = 8)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_bench_docs"))
    }),

    "dedup_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = Dedup.minhashSignature(docs, "text", "doc_id")
      Dedup.minhashLshCandidates(sigs)
    }),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "text", "doc_id")),

    // banded-Hamming SimHash pair tier: the text-side sibling of
    // mm_phash_pairs — 8-band pigeonhole join over the 64-bit simhash
    // (lossless for d ≤ 7), exact XOR-popcount verify inside the join.
    // Rows-only (xxhash-based hashes, same reason as dedup_simhash);
    // DedupSimilaritySpec pins parity with the direct all-pairs form.
    "simhash_pairs" -> ((s, dir) => {
      val hashes = Dedup.simhash(t(s, dir, "documents"), "text", "doc_id")
        .select(col("id").as("doc_id"),
          lpad(hex(col("simhash")), 16, "0").as("hx"))
      Multimodal.ahashHammingPairs(hashes, "doc_id", "hx", maxDist = 4)
    }),

    "dedup_embed_cosine" -> ((s, dir) =>
      Dedup.embeddingCosinePairs(
        t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("id"), col("embedding").as("vec"),
            col("label")),
        "vec", "id", thresholdPermille = 300)
        .select(col("a"), col("b"), col("cos_permille"))),

    // the SCALE path for cosine dedup: SRP-LSH bucket → in-bucket exact
    // cosine (equi-join on bucket, never all-pairs). Same input slice and
    // threshold as dedup_embed_cosine, whose output is its superset.
    "dedup_embed_lsh" -> ((s, dir) =>
      Dedup.embeddingCosineLsh(
        t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        "vec", "id", thresholdPermille = 300)),

    // SemDeDup (Abbas et al. 2023): semantic dedup by cell assignment +
    // within-cell cosine pruning — the embedding-space sibling of the
    // text near-dup tiers, and the composition the paper runs at
    // web scale: pairwise cosine only ever inside a cell
    // ([[Similarity.semDedup]]; first in-cell member of a neighborhood
    // survives, deterministic centroids/tie-breaks throughout).
    "semdedup" -> ((s, dir) =>
      Similarity.semDedup(
        t(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        nCells = 16, thresholdPermille = 350)),

    // LSH banding design report: for each OBSERVED near-dup pair, the
    // probability a (r rows × b bands) MinHash scheme surfaces it as a
    // candidate — 1 − (1 − s^r)^b — evaluated in renormalizing
    // fixed-point permille (every step is x → (x·x) DIV 1000, so engine
    // and twin share every rounding), bucketed by similarity decile.
    // The design-time S-curve a pipeline reads off to pick its banding
    // (k = 128 signature budget: r×b ∈ {2×64, 4×32, 8×16, 16×8}) before
    // committing a 100 TB signature pass; rides the memoized pair graph.
    "lsh_tuning" -> ((s, dir) => {
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
    }),

    // entity-resolution fuzzy matching: block on p_brand (bounded blocks),
    // verify candidates with exact Levenshtein — the record-linkage
    // block-then-verify shape; a 10% deterministic key sample keeps the
    // per-block pair volume proportional at every scale factor, and
    // maxDist=4 is genuinely selective (keeps ~13% of candidates).
    "fuzzy_pairs" -> ((s, dir) =>
      Dedup.blockedEditDistance(
        t(s, dir, "part").filter(col("p_partkey") % 10 === 0)
          .select(col("p_brand"), col("p_name"), col("p_partkey")),
        "p_brand", "p_name", "p_partkey", maxDist = 4)),

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
    "blocking_recall" -> ((s, dir) =>
      Dedup.blockedRecallSampled(
        t(s, dir, "part").filter(col("p_partkey") % 10 === 0)
          .select(col("p_brand"), col("p_name"), col("p_partkey")),
        "p_brand", "p_name", "p_partkey", maxDist = 4, nAnchors = 128)),

    // smoothed bigram LM score per doc (the LM-quality signal one level
    // above unigram_logprob): add-1-smoothed P(w₂|w₁) from corpus bigram
    // and unigram counts, per-token log quantized to micros (engine-exact
    // sums), mean log-prob permille per doc.
    "bigram_logprob" -> ((s, dir) => {
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
    }),

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
    "kn_logprob" -> ((s, dir) => knScores(s, dir)),

    // per-doc character Shannon entropy in integer micro-nats — the
    // oracle-exact sibling of the rows-only compress_ratio junk signal
    // ([[TextAnalysis.charEntropy]]; quantize-once ln discipline).
    "char_entropy" -> ((s, dir) =>
      TextAnalysis.charEntropy(t(s, dir, "documents"), "text", "doc_id")),

    // Heaps'-law vocabulary growth: distinct types in each decile prefix
    // of the (doc_id, pos)-ordered token stream — the statistic that
    // sizes tokenizer vocabularies ([[TextAnalysis.vocabGrowth]];
    // range-partitioned global token index, vocab-sized aggregates).
    "vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(t(s, dir, "documents"), "text", "doc_id")),

    // CCNet head/middle/tail terciles over the Kneser-Ney score —
    // the bucketed-corpus artifact the CCNet recipe actually ships
    // ([[TextAnalysis.perplexityBuckets]]; range-partitioned rank, pure
    // integer tercile test, doc-id tiebreak).
    "perplexity_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBucketsFromScores(knScores(s, dir),
        "doc_id")),

    // count-floor-pruned Kneser-Ney (the KenLM/SRILM `prune` switch):
    // singleton bigrams surrender their mass to the continuation
    // distribution EXACTLY (per-context total probability still 1 —
    // see [[TextAnalysis.knLogProbPruned]]'s normalization argument), so
    // the model tables joined back against the corpus stay near-constant
    // under the singleton-type growth that makes the unpruned tier's
    // sf1 rung scale 4x.
    "kn_logprob_pruned" -> ((s, dir) =>
      TextAnalysis.knLogProbPrunedFromCounts(t(s, dir, "documents"),
        "text", "doc_id", corpusBigramCounts(s, dir))),

    // per-source unigram KL divergence vs the rest of the corpus in
    // integer micro-nats (Moore & Lewis 2010's cross-entropy-difference
    // family — the divergence keyness ranks the words of;
    // [[TextAnalysis.sourceUnigramKl]]: add-1 smoothing over the joint
    // vocab, quantize-once ln per grid cell).
    "source_kl" -> ((s, dir) =>
      TextAnalysis.sourceUnigramKl(t(s, dir, "documents"), "text",
        "source")),

    // token-coverage curve: cumulative corpus-token permille covered by
    // each decile of the frequency-ranked vocabulary — the tokenizer
    // budget planner ([[TextAnalysis.coverageCurve]]; rangedRank global
    // vocab order, pure integers).
    "coverage_curve" -> ((s, dir) =>
      TextAnalysis.coverageCurveFromCounts(corpusUnigramCounts(s, dir))),

    // UniMax budget allocation (Chung et al. 2023): the fair-sampling
    // answer to alpha_mixture's temperature smoothing — allocate a
    // 1.6N-doc budget as uniformly as the 2-epoch caps allow; exact
    // integer waterfill with remainder distribution under a total order
    // ([[TextAnalysis.unimaxAllocation]] — one corpus aggregate, then
    // |strata|-row windows and 1-row broadcasts).
    "unimax_alloc" -> ((s, dir) =>
      TextAnalysis.unimaxAllocation(t(s, dir, "documents"), "lang",
        TextAnalysis.UnimaxEpochCap, TextAnalysis.UnimaxBudgetPermille)),

    // count-floor-pruned TRIGRAM Kneser-Ney — the order-3 back-off
    // recursion (top level prunes singleton trigrams with exact mass
    // redistribution; middle level is bigram-KN over the kept
    // continuation table; one exact integer rational per token — see
    // [[TextAnalysis.kn3LogProbPruned]]'s normalization argument).
    "kn3_logprob" -> ((s, dir) =>
      TextAnalysis.kn3LogProbPruned(t(s, dir, "documents"), "text",
        "doc_id")),

    // frozen-model LM tier: train the pruned trigram-KN on the even-id
    // half, persist the six model tables through SnapshotStore's
    // crash-safe pointer swap, reload, and score the held-out odd-id
    // batch against the RELOADED artifact — the production train/apply
    // split of the whole scoring family (out-of-model contexts take the
    // shared KnOovLpMicro floor; see [[TextAnalysis.kn3Score]]).
    "kn_apply" -> ((s, dir) => knApplyScores(s, dir)),

    // frozen-classifier tier: train a multinomial Naive-Bayes char-
    // trigram language classifier on the even-id half, persist its three
    // model tables through SnapshotStore, reload, and classify the
    // held-out odd-id batch against the RELOADED artifact — the trained
    // counterpart of chargram_langid's heuristic profile overlap, and
    // the CCNet lang-id-gate production shape ([[NaiveBayes.nbcScore]]:
    // inverted-index scoring join, |langs|-row broadcast, per-doc argmax
    // window — never a corpus×classes fan-out).
    "nbc_apply" -> ((s, dir) => nbcApplyScores(s, dir)),

    // classifier evaluation: the confusion matrix of the frozen-model
    // predictions over the held-out batch (one |langs|²-bounded
    // aggregate over the memoized nbc_apply scores).
    "nbc_eval" -> ((s, dir) =>
      nbcApplyScores(s, dir)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))),

    // incremental classifier-count maintenance: the per-class gram-count
    // table of a labeled base corpus (doc_id % 3 < 2) is maintained
    // under a document delta — adds (doc_id % 3 = 2) AND retractions
    // (base docs with doc_id % 5 = 0) — in one partial-combined hash
    // aggregate ([[NaiveBayes.maintainGramCounts]]; the kn_counts_ivm
    // contract applied to the classifier family: the oracle recounts the
    // post-delta corpus from scratch, equality IS the maintenance proof).
    "nbc_counts_ivm" -> ((s, dir) => nbcMaintainedCounts(s, dir)),

    // the classifier's daily refresh loop, composed: maintain BOTH count
    // tables (grams + class doc counts) under the same delta, re-derive
    // the model from the MAINTAINED counts
    // ([[NaiveBayes.nbcModelFromCounts]] — aggregates of the vocab-sized
    // table, never a corpus re-scan), and classify the newly ADDED batch
    // against the refreshed model. The oracle rebuilds the model from
    // scratch over the post-delta corpus, so equality proves
    // maintained-counts → model → classify end to end (the kn_refresh
    // contract for the classifier family).
    "nbc_refresh" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 3 < 2)
      val delta = docs.filter(col("doc_id") % 3 === 2)
        .withColumn("__op", lit(1))
        .unionByName(base.filter(col("doc_id") % 5 === 0)
          .withColumn("__op", lit(-1)))
      // prepped variant: the maintained counts are the checkpointed memo
      // — re-checkpointing them inside the model build would copy the
      // vocab table for a barrier that already exists (r17)
      val model = graft.operators.NaiveBayes.nbcModelFromPreppedCounts(
        nbcMaintainedCounts(s, dir),
        graft.operators.NaiveBayes.maintainClassDocCounts(
          base.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")),
          delta, "lang", "__op"))
      graft.operators.NaiveBayes.nbcScore(
        docs.filter(col("doc_id") % 3 === 2), "text", "doc_id", "lang",
        model)
    }),

    // classifier-based data selection (the GPT-3 quality-filter recipe,
    // Brown et al. 2020 App. A: train a curated-vs-crawl classifier,
    // score every crawl doc, select by score): a binary hq/lq model
    // trained on the even-id half with a SOURCE-whitelist proxy label,
    // then the held-out half scored by [[NaiveBayes.nbcMargins]] — the
    // per-doc top-class LEAD in micro-nats, signed toward hq — and
    // rolled up per source: which sources look most like the curated
    // tier. Σ signed margin = Σ (score_hq − score_lq), pure integers.
    "quality_margin" -> ((s, dir) => {
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
    }),

    // incremental n-gram count maintenance: the stored trigram-count
    // table of a base corpus (doc_id % 3 < 2) is maintained under a
    // document delta — adds (doc_id % 3 = 2) AND retractions (base docs
    // with doc_id % 5 = 0) — in one partial-combined hash aggregate,
    // then the pruned-KN context model table is re-derived from the
    // MAINTAINED counts ([[TextAnalysis.maintainTrigramCounts]]; the
    // oracle recomputes the same table from scratch over the post-delta
    // corpus, proving the ivm_agg bit-equality contract for the LM
    // family).
    "kn_counts_ivm" -> ((s, dir) => {
      knMaintainedTrigramCounts(s, dir)
        .withColumn("b12", substring_index(col("s"), " ", 2))
        .groupBy(col("b12"))
        .agg(sum(col("c123")).as("c12"),
          sum(when(col("c123") >= 2L, 1L).otherwise(0L)).as("fw"),
          sum(when(col("c123") === 1L, 1L).otherwise(0L)).as("n1"))
    }),

    // the full daily-refresh loop, composed: maintain the trigram-count
    // table under the same delta as kn_counts_ivm, re-derive the ENTIRE
    // pruned-KN model from the MAINTAINED counts
    // ([[TextAnalysis.kn3ModelFromCounts]] — aggregates of the
    // vocab-sized table, never a corpus re-scan), and score the newly
    // ADDED batch against the refreshed model — today's crawl scored by
    // today's model, at delta-tokenization cost. The oracle rebuilds the
    // model from scratch over the post-delta corpus, so equality proves
    // maintained-counts → model → score end to end.
    "kn_refresh" -> ((s, dir) => {
      // maintenance rides the memoized table kn_counts_ivm also reads —
      // the model derivation and scoring below are unchanged (r16)
      val model = TextAnalysis.kn3ModelFromCounts(
        knMaintainedTrigramCounts(s, dir))
      TextAnalysis.kn3Score(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 2),
        "text", "doc_id", model)
    }),

    // CCNet-style perplexity gate (Wenzek et al. 2020): the kn_logprob
    // scorer as a curation CUT — docs whose mean token log-prob clears
    // the shared floor constant survive (declarable as the
    // `lm_perplexity` SpecLoader stage; [[TextAnalysis.lmPerplexityGate]]
    // is the semi-join form over the same scorer).
    "perplexity_gate" -> ((s, dir) =>
      knScores(s, dir).filter(col("lp_permille") >=
        lit(TextAnalysis.LmPerplexityFloorPermille))),

    // domain-distinctive vocabulary: top-5 tokens per source by integer
    // rate-ratio lift, tf floor 5 ([[TextAnalysis.sourceKeyness]]).
    "keyness" -> ((s, dir) =>
      TextAnalysis.sourceKeyness(t(s, dir, "documents"), "text", "source",
        k = 5, minTf = 5)),

    // dependence scorer: mutual information between event type and
    // hour-of-day in integer permille-nats
    // ([[EventAnalytics.mutualInformation]]; marginals re-aggregate from
    // the cells and come back broadcast — no single-partition stage).
    "mutual_info" -> ((s, dir) =>
      EventAnalytics.mutualInformation(
        events(s, dir).select(col("event_type").as("et"),
          expr("((ts DIV 1000) DIV 3600000000) % 24").as("hod")),
        "et", "hod")),

    // feature-selection report: information gain (= mutual information)
    // of each candidate categorical feature against the order-priority
    // target, ranked from ONE unpivoted scan
    // ([[Transforms.infoGainRanking]] — stack → cell counts, broadcast
    // marginals, micro-quantized log terms identical to the twin).
    "info_gain" -> ((s, dir) =>
      Transforms.infoGainRanking(
        t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .withColumn("order_year", year(col("o_orderdate"))),
        Seq("c_nationkey", "c_mktsegment", "o_orderstatus", "order_year"),
        "o_orderpriority")),

    // time-respecting reachability (temporal 2-hop paths): over the
    // customer/supplier residue graph with edges stamped by order day,
    // count paths a→m→w where the second edge departs WITHIN (0, 7] days
    // AFTER the first arrives — the temporal-network constraint that
    // static reach_2hop ignores. The follow-up-edge probe runs through
    // [[RangeJoin.pointInInterval]] (week-binned equi-join on the middle
    // node + day bin, residual BETWEEN) — never an unbinned per-node
    // cross product, which is quadratic in per-node degree at scale.
    "temporal_reach" -> ((s, dir) => {
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
    }),

    // hierarchical ratio-to-parent: each nation's revenue as a permille
    // share of its region (two-level agg + a window over ≤|nations| rows).
    "share_of_region" -> ((s, dir) => {
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
    }),

    // first 3 BPE merge-training steps over the corpus
    // ([[TextAnalysis.bpeMerges]]): corpus scanned once for word counts,
    // then vocabulary-sized iterations; the oracle replays each merge as
    // positional window logic (self-pairs excluded by contract — their
    // run-parity semantics diverge across BPE implementations).
    "bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", iters = 3)),

    // transposition-tolerant entity matching: Jaro-Winkler ≥ 0.8 within
    // brand blocks over a part-name subset ([[Dedup.blockedJaroWinkler]],
    // native expression pinned to DuckDB's independent implementation —
    // the oracle IS the cross-check).
    "jw_pairs" -> ((s, dir) =>
      Dedup.blockedJaroWinkler(
        t(s, dir, "part").filter(col("p_partkey") % 10 === 1)
          .select(col("p_brand"), col("p_name"), col("p_partkey")),
        "p_brand", "p_name", "p_partkey", minPermille = 800)),

    // the Fellegi–Sunter THREE-WAY DECISION (the model's actual
    // contribution beyond scoring): candidate pairs banded into
    // link / clerical-review / non-link by upper/lower score
    // thresholds, with band counts and exact score extrema — the
    // operating table an ER deployment tunes.
    "fs_bands" -> ((s, dir) => {
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
    }),

    // probabilistic record linkage (Fellegi–Sunter): brand-blocked part
    // pairs scored by summed log-likelihood-ratio field weights — name
    // Jaro-Winkler ≥ 0.85, exact type, size decade — with the m/u weights
    // computed ONCE on the driver in integer micros
    // ([[Dedup.fellegiSunter]]); the oracle embeds the identical weight
    // literals (the planeLit pattern), so no float log runs on either
    // distributed side.
    "fs_linkage" -> ((s, dir) => {
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
    }),

    // sorted-neighborhood dedup: sort part names within a 1-char prefix
    // block, pair each with its next 3 neighbors in sort order, verify
    // with exact Levenshtein — candidate volume is exactly 3n, found
    // without any key equality (complements fuzzy_pairs' key blocking).
    "sorted_neighbors" -> ((s, dir) =>
      Dedup.sortedNeighborPairs(t(s, dir, "part"),
        substring(col("p_name"), 1, 1), col("p_name"),
        "p_name", "p_partkey", window = 3, maxDist = 4)),

    // ===== extensions: similarity search =====
    "ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(emb.filter(col("id") < 10),
        emb.filter(col("id") >= 10), 5)
    }),

    "ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.annTopK(emb.filter(col("id") < 10),
        emb.filter(col("id") >= 10), 5)
    }),

    // embedding-truncation quality (the Matryoshka question): how much
    // cosine fidelity and top-5 retention survive keeping only the first
    // 16 / 32 of 64 dims — Σ|cosᵈ − cos⁶⁴| permille and true-top-5 hits
    // per truncation, over the 10-query evaluation cross (bounded side,
    // the documented evaluation-tier exception).
    "embed_truncation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def cosP(a: Column, b: Column): Column =
        round(graft.functions.DotProduct(a, b) /
          (sqrt(graft.functions.DotProduct(a, a)) *
            sqrt(graft.functions.DotProduct(b, b))) * 1000)
          .cast("long")
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("v"))
      val q = emb.filter(col("id") < 10)
        .select(col("id").as("qid"), col("v").as("qv"))
      val c = emb.filter(col("id") >= 10)
        .select(col("id").as("nid"), col("v").as("nv"))
      val scored = q.crossJoin(c).select(col("qid"), col("nid"),
        cosP(col("qv"), col("nv")).as("cf"),
        cosP(slice(col("qv"), 1, 16), slice(col("nv"), 1, 16)).as("c16"),
        cosP(slice(col("qv"), 1, 32), slice(col("nv"), 1, 32)).as("c32"))
      val longf = scored.select(col("qid"), col("nid"), col("cf"),
        expr("stack(2, 16L, c16, 32L, c32) AS (trunc_dim, cd)"))
      val fullTop = scored.withColumn("rkf", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cf").desc, col("nid").asc)))
        .filter(col("rkf") <= 5).select(col("qid"), col("nid"))
      val hits = longf.withColumn("rkd", row_number().over(
          Window.partitionBy(col("trunc_dim"), col("qid"))
            .orderBy(col("cd").desc, col("nid").asc)))
        .filter(col("rkd") <= 5)
        .join(fullTop, Seq("qid", "nid"), "left_semi")
        .groupBy(col("trunc_dim")).agg(count(lit(1)).as("top5_hits"))
      longf.groupBy(col("trunc_dim"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(abs(col("cd") - col("cf"))).as("sum_absdelta_permille"))
        .join(hits, Seq("trunc_dim"))
    }),

    // ANN ranking quality: NDCG@5 of the LSH tier against brute-force
    // ground truth (binary relevance, rank discounts 1/log2(i+1) as
    // DRIVER-computed micro literals shared with the twin — no log runs
    // on either engine). The evaluation that justifies shipping the
    // approximate tier: blocking_recall's question, asked of ANN.
    "ann_ndcg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.filter(col("id") < 10)
      val c = emb.filter(col("id") >= 10)
      val truth = Similarity.bruteForceTopK(q, c, 5)
        .select(col("qid"), col("nid"), lit(1L).as("__hit"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos_permille").desc, col("nid").asc)
      val ranked = Similarity.annTopK(q, c, 5)
        .withColumn("rk", row_number().over(w))
      val d = ndcgDiscountsMicro
      val disc = (1 to 5).map(i =>
        when(col("rk") === i && (col("__hit") <=> 1L), lit(d(i - 1)))
          .otherwise(lit(0L))).reduce(_ + _)
      ranked.join(truth, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(sum(disc).as("dcg_micro"))
        .withColumn("ndcg_ppm",
          expr(s"dcg_micro * 1000000 DIV ${d.sum}"))
    }),

    // mutual (reciprocal) top-3 cosine neighbors within a mod-4 vector
    // subset — the high-precision near-dup filter
    // ([[Similarity.reciprocalTopK]]; each unordered pair scored once,
    // mutuality = equi-join of the ranked list on its swapped key).
    "ann_reciprocal" -> ((s, dir) =>
      Similarity.reciprocalTopK(
        t(s, dir, "embeddings").filter(col("vec_id") % 4 === 0)
          .select(col("vec_id").as("id"), col("embedding").as("vec")), 3)),

    "ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.annTopKIvf(emb.filter(col("id") < 10),
        emb.filter(col("id") >= 10), 5)
    }),

    // frozen-index ANN tier (the kn_apply discipline for the similarity
    // family): build the IVF index on the mod-3-nonzero corpus, publish
    // centroids + assignments as ONE registry version, then serve a NEW
    // query batch against the PINNED stored artifact — probe stored
    // centroids, candidates from stored assignments, vectors fetched
    // from primary storage by id ([[Similarity.annTopKIvfStored]]);
    // stored-path ≡ retrain-path bit-equality is pinned in
    // DedupSimilaritySpec, so the brute-force recall receipt carries
    // over unchanged.
    "ann_apply" -> ((s, dir) => annApplyScores(s, dir)),

    // the ann_apply publish/pin/serve discipline for the COMPRESSED
    // tiers, closing the round-14 gap where only plain IVF was
    // registry-versioned: IVF-PQ (centroids + codebook + code table +
    // build params as one immutable version) and SQ8 (bounds + code
    // table) — serve paths pin a version, quantize/probe the new batch
    // against the stored artifact, and stamp model_version per row.
    "ann_ivfpq_apply" -> ((s, dir) => annIvfPqApplyScores(s, dir)),
    "ann_sq8_apply" -> ((s, dir) => annSq8ApplyScores(s, dir)),

    // DECLARED retrieval gate: the stored-ANN serve tier as a JSON
    // chain stage — every doc retrieves its top-k neighbors from the
    // PINNED registry-versioned IVF index and survives iff its top-1
    // cosine clears the declared floor. Runs through SpecLoader's
    // parse (the product API), so the oracle checks the declared form
    // end-to-end ([[annGateDocs]]).
    "ann_gate" -> ((s, dir) => annGateDocs(s, dir)),

    // the ann_refresh maintain -> promote -> serve cadence for the
    // compressed tiers: codes maintained DELTA-SIZED against the
    // pinned v1 artifacts (per-row encode/quantize of adds, anti-join
    // retracts), promoted as v2 reusing the frozen centroids/codebook/
    // bounds, served pinned; oracle rebuilds post-delta from scratch
    // with the base-frozen artifacts
    "ann_ivfpq_refresh" -> ((s, dir) => annIvfPqRefreshScores(s, dir)),
    "ann_sq8_refresh" -> ((s, dir) => annSq8RefreshScores(s, dir)),

    // cluster-balanced (topic) resampling: assign every embedding to its
    // nearest deterministic IVF cell ([[Similarity.ivfIndexTables]] —
    // the same lowest-16-id seed set and permille-cosine argmax as the
    // ann family), α-flatten the OBSERVED cell distribution into
    // per-cell keep rates, and keep by the deterministic id hash — the
    // alpha_mixture temperature math applied to embedding-space strata
    // instead of declared language strata: the "don't let one topic
    // cluster dominate the mixture" curation stage. Scale shape: the
    // assignment is the family-2 bounded centroid cross; the rate table
    // is |cells|-sized and broadcasts; the keep filter is a pure
    // projection.
    "cluster_mixture" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val Seq(_, (_, assigns)) = Similarity.ivfIndexTables(emb)
      TextAnalysis.alphaMixture(
          assigns.select(col("nid"), col("cid")), col("cid"), col("nid"),
          TextAnalysis.MixtureAlpha)
        .select(col("nid").as("vec_id"), col("cid"), col("rate_ppm"))
    }),

    // the composed ANN refresh loop (the kn_refresh/nbc_refresh shape
    // for the similarity family): publish index v1 on the base corpus,
    // maintain the stored assignments under the vector delta against
    // the FROZEN v1 centroids (delta-sized work), promote the
    // maintained index as version 2 with one manifest swap, then serve
    // a query batch (the first added vectors) against the PINNED v2 —
    // scores carry model_version = 2. The oracle rebuilds the
    // post-delta index from scratch and probes it, so maintenance +
    // promotion + serve must compose bit-exactly.
    "ann_refresh" -> ((s, dir) => annRefreshScores(s, dir)),

    // incremental ANN-index maintenance (the kn_counts_ivm contract):
    // the stored assignment table of a base corpus (id % 3 < 2) is
    // maintained under a vector delta — adds (id % 3 = 2) AND
    // retractions (base ids % 5 = 0) — against the FROZEN base
    // centroids: retracts anti-join out, adds get the per-row
    // nearest-cell argmax; delta-sized work, bit-equal to re-assigning
    // the post-delta corpus from scratch (the oracle does exactly
    // that). Only a centroid RETRAIN forces a full rebuild — that is a
    // new index version via [[Similarity.ivfPublish]].
    "ann_ivm" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val base = emb.filter(col("id") % 3 < 2)
      val Seq((_, centroids), (_, assignments)) =
        Similarity.ivfIndexTables(base)
      val delta = emb.filter(col("id") % 3 === 2)
        .withColumn("__op", lit(1))
        .unionByName(base.filter(col("id") % 5 === 0)
          .withColumn("__op", lit(-1)))
      Similarity.ivfMaintainAssignments(assignments, delta, centroids,
          "__op")
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("nid")).as("sum_id"))
    }),

    // the billion-scale composition (IVFADC+R): IVF cells bound WHERE a
    // query looks, PQ asymmetric-distance tables bound WHAT each
    // candidate costs (8 table lookups instead of 64-dim math), and
    // exact cosine re-ranks only the 25-deep ADC shortlist — broadcast
    // centroids + broadcast codebook, corpus encoded once
    // ([[Similarity.annTopKIvfPq]]; recall pinned at IVF parity in
    // DedupSimilaritySpec).
    "ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.annTopKIvfPq(emb.filter(col("id") < 10),
        emb.filter(col("id") >= 10), 5,
        nSub = 8, nCentroids = 128, rerank = 25)
    }),

    // scalar-quantization ANN (the FAISS SQ8 tier): per-dimension 8-bit
    // codes from corpus min/max stats, symmetric integer code distance,
    // 25-deep exact-cosine rerank ([[Similarity.annTopKSq8]] — codes
    // stream at 1/8 the bytes of raw doubles past the broadcast queries).
    "ann_sq8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.annTopKSq8FromCandidates(emb.filter(col("id") < 10),
        emb.filter(col("id") >= 10), 5, sq8CandTable(s, dir),
        rerank = Similarity.Sq8Rerank)
    }),

    // hybrid-retrieval rank fusion (Cormack et al. 2009 RRF): the exact
    // rounded-cosine ranking fused with the SQ8 code-distance ranking by
    // Σ 10⁶ DIV (60 + rank) — the compressed-vs-exact disagreement
    // diagnostic ([[Similarity.rrfFusion]]).
    "rank_fusion" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.rrfFusionFromCandidates(emb.filter(col("id") < 10),
        emb.filter(col("id") >= 10), 5, sq8CandTable(s, dir),
        kRrf = Similarity.RrfK)
    }),

    // vector compression layer: product-quantization codes — 4 subspaces
    // × 8-centroid codebooks (subvectors of the 8 lowest-id vectors, the
    // IVF deterministic-seed discipline), squared-L2 argmin in integer
    // micros ([[Similarity.pqCodes]]).
    "pq_codes" -> ((s, dir) =>
      Similarity.pqCodes(
        t(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        dim = 64, nSub = 4, nCentroids = 8)),

    // ===== extensions: text analysis =====
    "lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("pred_lang"))),

    "quality_score" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("score"))),

    "token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"),
        TextAnalysis.bpeishCount(col("text")).cast("long").as("n_bpeish"))),

    "curate_docs" -> ((s, dir) => {
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
    }),

    // per-document rolling-hash fingerprint (the content-identity key
    // the dedup and change-detection tiers join on).
    "doc_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),

    // winnowing fingerprints (Schleimer et al. 2003, MOSS): per-doc
    // sparse (pos, hash) selection — rightmost window minima over char
    // 8-gram hashes, density ~2/(w+1), any shared substring ≥ k+w−1
    // chars guaranteed a shared fingerprint
    // ([[TextAnalysis.winnowFingerprints]], scan-fused, no shuffle).
    "winnow_fingerprints" -> ((s, dir) =>
      winnowFp(s, dir).withColumnRenamed("id", "doc_id")),

    // the MOSS use-case on top of the fingerprints: candidate near-dup
    // pairs = docs sharing ≥ 40 distinct winnow fingerprints AFTER
    // dropping boilerplate fingerprints seen in > 100 documents (the
    // paper's "ignore extremely common fingerprints" scalability rule —
    // it is what keeps the inverted-index self-join's buckets bounded;
    // without it the fixture's shared word soup put 40% of all pairs
    // over any low threshold). Distinct fps per doc first, so positional
    // repeats don't inflate overlaps; nothing pairwise outside
    // shared-fingerprint buckets.
    "winnow_pairs" -> ((s, dir) => {
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
    }),

    // compression-ratio quality signal (Gopher-style): deflate size over
    // raw UTF-8 size in permille — low = boilerplate/repetition, ~1000 =
    // high-entropy junk. Native codegen'd expression, pure projection
    // ([[graft.functions.DeflateSize]]); rows-only (zlib-build-dependent
    // byte counts — see noOracleReason + DeflateSizeSpec).
    "compress_ratio" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(encode(col("text"), "UTF-8")).cast("long").as("raw_bytes"),
          graft.functions.DeflateSize(col("text")).as("deflate_bytes"))
        .withColumn("ratio_permille",
          expr("CASE WHEN raw_bytes = 0 THEN 1000 " +
            "ELSE (deflate_bytes * 1000) DIV raw_bytes END"))),

    "rep_score" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.dupTokenPermille(col("text")).as("dup_permille"))),

    "rep_topgram" -> ((s, dir) =>
      TextAnalysis.topBigramConcentration(t(s, dir, "documents"),
        "text", "doc_id")),

    "hash_split" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.hashSplit(col("text")).as("split"))),

    "vocab_topk" -> ((s, dir) =>
      TextAnalysis.vocabTopKFromCounts(corpusUnigramCounts(s, dir), 50)),

    // tokenizer-coverage check: per source, the share of token
    // occurrences outside the corpus-wide top-50 vocabulary
    // ([[TextAnalysis.oovRate]] — one tokenize pass into checkpointed
    // counts, vocab broadcast back).
    "oov_rate" -> ((s, dir) =>
      TextAnalysis.oovRate(t(s, dir, "documents"), "text", "source", 50)),

    // grade-level readability: Automated Readability Index per source in
    // integer centi-points from exact (chars, words, sentences) sums
    // ([[TextAnalysis.readability]] — one partial-combined aggregate).
    "readability" -> ((s, dir) =>
      TextAnalysis.readability(t(s, dir, "documents"), "text", "source")),

    // contrastive pair mining: hardest positive / hardest negative cosine
    // per anchor over the labeled embedding corpus, margin < 0 flags
    // label noise ([[Similarity.tripletMargins]] — anchors broadcast,
    // corpus streams once, collapses in the same pass).
    "triplet_margins" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        col("embedding").as("vec"), col("label"))
      Similarity.tripletMargins(emb.filter(col("id") % 5 === 0), emb)
    }),

    "bigram_topk" -> ((s, dir) =>
      TextAnalysis.bigramTopKFromCounts(corpusBigramCounts(s, dir), 50)),

    // collocation extraction: top bigrams by pointwise mutual information
    // (quantized-ln permille, pair-table marginals, count floor 5) —
    // the association scorer bigram_topk's raw counts can't express
    // ([[TextAnalysis.pmiCollocations]]).
    "pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocationsFromCounts(corpusBigramCounts(s, dir),
        k = 30, minCount = 5)),

    // exact distribution moments per event type: (n, Σv, Σv²) in integer
    // cents — mean/variance derive exactly downstream, and integer sums
    // are order-independent so the comparison never sees float drift.
    // One partial-combined aggregate; sumsq of cents fits BIGINT up to
    // ~10^18 (value ≤ 10^3 dollars ⇒ v² ≤ 10^10 ⇒ 10^8 rows of margin).
    "moment_stats" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), cents(col("value")).as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_cents"),
          sum(col("v") * col("v")).as("sumsq_cents2"))),

    // fixed-width histogram binning in integer-cent space: bucket ids come
    // from BIGINT floor division (never float division, whose boundary
    // rounding differs per engine) — one partial-combined aggregate, the
    // value-distribution profiling primitive. Bucket width $200k.
    "hist_prices" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(cents(col("o_totalprice")).as("pc"))
        .select(expr("pc DIV 2000000").as("bucket"), col("pc"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("pc")).as("sum_cents"))),

    // per-group quantile bucketing (ntile): equal-count quartile labels
    // within each order priority, total-ordered by (price, key) so the
    // assignment is deterministic. One shuffle on the group key; the sort
    // is per-group, never global.
    "ntile_split" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("prio"),
        ntile(4).over(Window.partitionBy(col("o_orderpriority"))
          .orderBy(cents(col("o_totalprice")), col("o_orderkey")))
          .cast("long").as("tile"))
    }),

    // per-column profiling (the data-quality pass a pipeline runs before
    // training): non-null and exact distinct counts per column, via one
    // stack (unpivot) generate over a single scan — adding a column adds a
    // stack row, not a scan.
    "profile_cols" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(expr("stack(3, 'o_orderstatus', o_orderstatus, " +
          "'o_orderpriority', o_orderpriority, " +
          "'o_custkey', CAST(o_custkey AS STRING)) AS (col_name, val)"))
        .groupBy(col("col_name"))
        .agg(count(col("val")).as("n_nonnull"),
          countDistinct(col("val")).as("n_distinct"))),

    // bivariate sufficient statistics (n, Σx, Σy, Σxy) in integer units —
    // covariance/correlation derive exactly downstream; order-independent
    // integer sums, one partial-combined aggregate (the feature-correlation
    // sibling of moment_stats). x = quantity units, y = price cents;
    // Σxy ≤ 50·1.1e7·|rows| — BIGINT-safe past sf100.
    "corr_stats" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_quantity")).cast("long").as("q"),
          cents(col("l_extendedprice")).as("pc"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"),
          sum(col("pc")).as("sum_pc"),
          sum(col("q") * col("pc")).as("sum_qpc"))),

    // SCD Type-2 dimension build: the orders change log versioned into
    // half-open validity intervals per customer ([[Transforms.scdType2]] —
    // one window pass, one shuffle on the entity key). The open head gets
    // the classic 9999-12-31 sentinel so the interval columns stay
    // non-null strings.
    "scd2_build" -> ((s, dir) =>
      Transforms.scdType2(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
          cents(col("o_totalprice")).as("price_cents")),
        Seq(col("o_custkey")), Seq(col("od"), col("o_orderkey")), col("od"))
        .select(col("o_custkey"), col("o_orderkey"), col("price_cents"),
          col("eff_from"),
          coalesce(col("eff_to"), lit("9999-12-31")).as("eff_to"),
          col("is_current"))),

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
    "scd2_lookup" -> ((s, dir) => {
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
    }),

    // winsorized robust sum: per-group exact [p05, p95] clamp then an
    // integer-exact sum ([[Transforms.winsorizedSum]] — the |groups|-row
    // stats side broadcasts back; rows shuffle only for the final
    // partial-combined aggregate).
    "winsorize" -> ((s, dir) =>
      Transforms.winsorizedSum(
        t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
          cents(col("l_extendedprice")).as("pc")),
        "flag", "pc", 0.05, 0.95)),

    // mass-weighted robust center: exact lower weighted median of price
    // cents, weighted by integer quantity, per return flag
    // ([[Transforms.weightedMedian]] — one window pass, half-total test
    // in exact integers).
    "weighted_median" -> ((s, dir) =>
      Transforms.weightedMedian(
        t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
          cents(col("l_extendedprice")).as("v"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber")),
        "flag", "v", "w", Seq(col("l_orderkey"), col("l_linenumber")))),

    // sampling-plan quotas: a 10k-doc budget split across (source, lang)
    // strata by largest-remainder apportionment — quotas sum EXACTLY to
    // the budget ([[Transforms.largestRemainderApportion]]; windows run
    // over the |strata|-row aggregate, never the corpus).
    "apportion" -> ((s, dir) =>
      Transforms.largestRemainderApportion(
        t(s, dir, "documents")
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("cnt")),
        Seq("source", "lang"), "cnt", budget = 10000L)),

    // inequality lens: Gini coefficient of order revenue per priority
    // class, integer permille ([[Transforms.giniPermille]] — rank window
    // + DECIMAL(38,0) sufficient stats, one floor division).
    "gini_revenue" -> ((s, dir) =>
      Transforms.giniPermille(
        t(s, dir, "orders").select(col("o_orderpriority").as("prio"),
          cents(col("o_totalprice")).as("v"), col("o_orderkey")),
        "prio", "v", Seq(col("o_orderkey")))),

    // approximate-quantile tier (percentile_approx, accuracy 10000):
    // mergeable constant-size sketch state per group — the 100 TB path
    // where the exact tier's full-materialize-per-group doesn't fly.
    // Exact tier = group_quartiles; relative error bounded vs exact in
    // OperatorsSpec (rows-only, see noOracleReason).
    "quantiles_approx" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag").as("flag"))
        .agg(
          round(expr("percentile_approx(l_extendedprice, 0.25, 10000)") * 100)
            .cast("long").as("q1_cents"),
          round(expr("percentile_approx(l_extendedprice, 0.5, 10000)") * 100)
            .cast("long").as("q2_cents"),
          round(expr("percentile_approx(l_extendedprice, 0.75, 10000)") * 100)
            .cast("long").as("q3_cents"),
          count(lit(1)).as("n"))),

    // skew diagnostic: the per-key frequency report that decides whether a
    // join needs salting ([[Transforms.saltedJoin]]) — top heavy-hitter
    // keys with integer-permille share, total-ordered by (count desc, key)
    // so the cut is deterministic. Counts collapse to |keys| rows, the
    // global top-20 ships via TakeOrderedAndProject (never a global sort),
    // and the one-row total broadcasts.
    "skew_report" -> ((s, dir) => {
      val counts = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("__total"))
      counts.orderBy(col("n").desc, col("o_custkey").asc).limit(20)
        .crossJoin(broadcast(total))
        .select(col("o_custkey"), col("n"),
          expr("n * 1000 DIV __total").as("share_permille"))
    }),

    // Z-order layout key: Morton-interleave of (customer-bucket ×
    // day-bucket) ([[Transforms.zValue8]]) so a writer range-partitioning
    // by zval clusters rows near in BOTH dimensions into the same files —
    // parquet footer min/max then prunes 2-D predicates. Pure projection:
    // zero exchanges (plan-asserted). zbucket = 64-wide curve segment ≈
    // target file id.
    "zorder_layout" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        Transforms.zValue8(col("o_custkey"),
          datediff(to_date(col("o_orderdate")),
            to_date(lit("1992-01-01"))).cast("long")).as("zval"))
        .select(col("o_orderkey"), col("zval"),
          expr("zval DIV 64").as("zbucket"))),

    // Hilbert-curve layout key (the Z-order v2 sibling of zorder_layout):
    // same two bucketed dimensions, but CONSECUTIVE curve values are
    // always grid neighbors — no Z-shape jumps, measurably better
    // min/max-footer pruning — in the same pure-projection zero-shuffle
    // shape ([[Transforms.hilbertD8]]: 8 reflect-and-swap rounds as
    // chained projections, replayed stage-by-stage by the twin).
    "hilbert_layout" -> ((s, dir) =>
      Transforms.hilbertD8(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          datediff(to_date(col("o_orderdate")),
            to_date(lit("1992-01-01"))).cast("long").as("__days")),
        col("o_custkey"), col("__days"), "hval")
        .select(col("o_orderkey"), col("hval"),
          expr("hval DIV 64").as("hbucket"))),

    // canonical text normalization (dedup pre-pass): case / punctuation /
    // whitespace variants collapse to one canonical form
    // ([[TextAnalysis.normalizeText]] — fused single-regex column
    // expression, zero shuffle).
    "text_normalize" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("canon"))
        .select(col("doc_id"), col("canon"),
          length(col("canon")).cast("long").as("n_chars"))),

    // CCNet-style cross-document line dedup (the boilerplate pass BEFORE
    // document-level dedup): 8-word lines, drop every line seen in more
    // than one document, reassemble survivors in original order
    // ([[TextAnalysis.lineDedup]] — one explode, one doc-frequency
    // aggregate, one self-keyed equi-join; never pairwise).
    "line_dedup" -> ((s, dir) =>
      TextAnalysis.lineDedup(t(s, dir, "documents"), "text", "doc_id",
        width = 8, maxDocFreq = 1)
        .withColumnRenamed("id", "doc_id")),

    // exact-substring duplicate spans (Lee et al. 2022's suffix-array
    // substring dedup, re-expressed as a fixed-k window count + interval
    // merge — [[TextAnalysis.dupSpans]]): the maximal cross-corpus
    // duplicated 8-token spans per document, the cut list a substring
    // dedup pass would excise. One explode, one gram-count aggregate,
    // one join against the duplicated sliver, one per-doc window.
    "dup_spans" -> ((s, dir) =>
      dupSpansTable(s, dir).withColumnRenamed("id", "doc_id")),

    // duplicated-position coverage per document — the triage statistic
    // upstream of substring excision ([[TextAnalysis.spanCoverage]]);
    // one row per document, zeros when nothing is duplicated.
    "span_coverage" -> ((s, dir) =>
      TextAnalysis.spanCoverageFromSpans(t(s, dir, "documents"), "text",
        "doc_id", dupSpansTable(s, dir)).withColumnRenamed("id", "doc_id")),

    // substring excision — the action step of exact-substring dedup:
    // every document rebuilt with duplicated-span positions removed,
    // survivors in original order ([[TextAnalysis.substringExcise]];
    // kept_text = "" when fully covered, mirroring line_dedup).
    "substring_excise" -> ((s, dir) =>
      TextAnalysis.substringExciseFromSpans(t(s, dir, "documents"),
        "text", "doc_id", dupSpansTable(s, dir))
        .withColumnRenamed("id", "doc_id")),

    // DSIR-style importance weights (Xie et al. 2023) in exact fixed
    // point: hashed-bigram occurrence rates for the en-language target
    // domain vs the full corpus; each document scored by the sum of its
    // occurrences' smoothed target/corpus permille ratios
    // ([[TextAnalysis.dsirWeights]] — the bucket table collapses to 4096
    // rows map-side and broadcasts back; the only doc-keyed shuffle is
    // the final per-doc sum).
    "dsir_weights" -> ((s, dir) =>
      TextAnalysis.dsirWeights(t(s, dir, "documents"), "text", "doc_id",
        targetPred = col("lang") === "en",
        buckets = TextAnalysis.DsirBuckets, occ = Some(dsirOcc(s, dir)))
        .withColumnRenamed("id", "doc_id")),

    // the production-scale (100 TB) DSIR path: the smoothed log-likelihood
    // ratio of Xie et al. 2023, immune to the integer path's 2^62
    // totals-product overflow ([[TextAnalysis.dsirWeightsLogMicros]] —
    // same single-scan occAgg front end as dsir_weights, per-bucket score
    // quantized to micros before the per-doc sum so the read-out is
    // order-independent)
    "dsir_log" -> ((s, dir) =>
      TextAnalysis.dsirWeightsLogMicros(t(s, dir, "documents"), "text",
        "doc_id", targetPred = col("lang") === "en",
        buckets = TextAnalysis.DsirBuckets, occ = Some(dsirOcc(s, dir)))
        .withColumnRenamed("id", "doc_id")),

    // representative selection per near-dup cluster — the "which member
    // survives" step downstream of dedup_clusters
    // ([[Dedup.clusterRepresentatives]]: longest text wins, ties to
    // smallest id; one join of the dup-sliver cluster map + one shared
    // window exchange). The clustering input is the even-id half of the
    // corpus (dedup_embed_cosine precedent): the operator under test here
    // is the rep pick, and the full-corpus clustering already holds its
    // own bench slot as dedup_clusters.
    "cluster_reps" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.clusterRepresentatives(
        Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(docs.filter(col("doc_id") % 2 === 0),
            "text", "doc_id", n = 5, thresholdPermille = 100)),
        docs, "doc_id", col("n_chars"))
    }),

    // explicit GROUPING SETS (the non-hierarchical cousin of rollup/cube):
    // both one-column sets plus the grand total in ONE pass — Expand +
    // a single partial-combined hash aggregate, one scan and one shuffle
    // regardless of how many sets are requested.
    "grouping_sets" -> ((s, dir) =>
      t(s, dir, "orders").groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")),
          Seq.empty),
        col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents"))),

    // rank-family windows: percent_rank + cume_dist per group, emitted in
    // integer permille under a deterministic (price, key) total order.
    // Both engines compute the identical (rank-1)/(n-1) double before the
    // shared round — one window exchange, per-group sort only.
    "rank_permille" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(cents(col("o_totalprice")), col("o_orderkey"))
      t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("prio"),
        round(percent_rank().over(w) * 1000).cast("long").as("pr_permille"),
        round(cume_dist().over(w) * 1000).cast("long").as("cd_permille"))
    }),

    // null-safe equi-join (<=>): null keys MATCH null keys instead of
    // dropping — the semantics a dimension join needs when "unknown" is
    // itself a dimension member. Still a hash join (null-safe equality is
    // a valid equi-key), never a nested loop.
    "nullsafe_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderstatus") === "P", lit(null))
          .otherwise(col("o_orderstatus")).as("st"))
      val dim = o.groupBy(col("st")).agg(count(lit(1)).as("st_n"))
        .withColumnRenamed("st", "dim_st")
      o.join(dim, o("st") <=> dim("dim_st"))
        .select(col("o_orderkey"), col("dim_st").as("st"), col("st_n"))
    }),

    // higher-order array functions fused in one projection: filter /
    // transform+aggregate (fold) / array_distinct over the token array —
    // all codegen'd array ops, zero shuffle, no explode round-trip.
    "array_hof" -> ((s, dir) => {
      val toks = TextAnalysis.wsTokens(lower(trim(col("text"))))
      t(s, dir, "documents").select(col("doc_id"),
        size(filter(toks, w => length(w) > lit(4))).cast("long")
          .as("n_long"),
        aggregate(transform(toks, w => length(w).cast("long")), lit(0L),
          (acc, x) => acc + x).as("sum_len"),
        size(array_distinct(toks)).cast("long").as("n_uniq"))
    }),

    // JSON path extraction (get_json_object $.nested.field) — the
    // schema-on-read escape hatch for ragged payloads; round-trips a
    // nested struct through JSON text so the oracle twin is the identity.
    "json_path" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        get_json_object(
          to_json(struct(col("user_id"),
            struct(col("event_type").as("t")).as("meta"))),
          "$.meta.t").as("etype"))),

    // approximate heavy-hitters tier (DataSketches frequent-items via
    // approx_top_k): constant-size mergeable sketch state — the 100 TB
    // path when the key space (web tokens, URLs) is too large for
    // vocab_topk's exact full-vocabulary aggregate state. Rows-only (see
    // noOracleReason); error bounded vs exact counts in OperatorsSpec.
    "freq_approx" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.wsTokens(lower(trim(col("text")))))
          .as("w"))
        .agg(expr("approx_top_k(w, 20, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("w"), col("e.count").cast("long").as("n"))),

    // ordered funnel view → click → purchase per user
    // ([[EventAnalytics.funnelStages]]): per-stage earliest-after-previous
    // timestamps + stage count; every exchange in the chain hashes on the
    // same entity key.
    "funnel_stages" -> ((s, dir) =>
      EventAnalytics.funnelStages(
        events(s, dir).select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("t_us")),
        "user_id", "event_type", "t_us",
        Seq("view", "click", "purchase"))),

    // bit-packed presence: per (user, 60-day bucket), activity days as
    // one BIGINT bitmap + popcount ([[EventAnalytics.activityBitmap]] —
    // a single bit_or aggregate; segmentation reads the mask, not events).
    "activity_bitmap" -> ((s, dir) =>
      EventAnalytics.activityBitmap(
        events(s, dir).select(col("user_id"), col("ts")),
        "user_id", expr("ts DIV 86400000000000"), bucketDays = 60)),

    // cohort retention grid ([[EventAnalytics.retentionCohorts]]): first
    // active day = cohort, exact distinct users per (cohort, age) cell.
    "retention_cohorts" -> ((s, dir) =>
      EventAnalytics.retentionCohorts(
        events(s, dir).select(col("user_id"),
          expr("ts DIV 86400000000000").as("day")),
        "user_id", "day")),

    // 5-minute same-(user,type) debounce ([[EventAnalytics.debounce]]):
    // duplicate-click suppression under a deterministic (ts, id) total
    // order; one window exchange.
    "event_debounce" -> ((s, dir) =>
      EventAnalytics.debounce(
        events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), expr("ts DIV 1000").as("t_us")),
        Seq(col("user_id"), col("event_type")),
        Seq(col("t_us"), col("event_id")),
        "t_us", minGap = 300000000L)),

    // synchronous label propagation (3 deterministic rounds) over the same
    // bounded interaction graph as triangle_count
    // ([[graft.operators.GraphAlgos.labelPropagation]]); the oracle
    // unrolls the rounds — aggregates can't appear in a recursive CTE.
    "label_prop" -> ((s, dir) => {
      val e = modDirectedE(s, dir)
      graft.operators.GraphAlgos.labelPropagation(e, "src", "dst",
        rounds = 3)
    }),

    // score the communities you just detected: Newman modularity
    // sufficient statistics of the 3-round label-prop partition over the
    // same interaction graph — per community, member count, internal
    // edges, degree mass, and the EXACT-integer contribution numerator
    // 4m·e_in − d_sum² over the shared denominator q_den = 4m², so
    // Q = Σ contrib_num / q_den derives exactly downstream and no
    // truncate-vs-floor division semantics enter the comparison
    // ([[GraphAlgos.modularityStats]]).
    "modularity_score" -> ((s, dir) => {
      val e = modDirectedE(s, dir)
      val labels = graft.operators.GraphAlgos
        .labelPropagation(e, "src", "dst", rounds = 3)
      graft.operators.GraphAlgos.modularityStats(e, "src", "dst", labels)
    }),

    // 3σ outlier census per event type in exact DECIMAL(38,0) integer math
    // ([[Transforms.sigmaOutlierCensus]] — no float σ anywhere, so the
    // census is bit-identical across engines and scales).
    "outlier_sigma" -> ((s, dir) =>
      Transforms.sigmaOutlierCensus(
        t(s, dir, "events").select(col("event_type").as("et"),
          cents(col("value")).as("v")),
        "et", "v", k = 3)),

    // robust sibling of outlier_sigma: median/MAD census in doubled-scale
    // integers ([[Transforms.madOutlierCensus]]) — the spike that inflates
    // σ can't hide from the median.
    "mad_outliers" -> ((s, dir) =>
      Transforms.madOutlierCensus(
        t(s, dir, "events").select(col("event_type").as("et"),
          cents(col("value")).as("v")),
        "et", "v", k = 3)),

    // first-order Markov transition matrix over each user's event-type
    // sequence ([[EventAnalytics.transitionMatrix]]); integer-permille
    // shares, (t_us, event_id) total order.
    "event_transitions" -> ((s, dir) =>
      EventAnalytics.transitionMatrix(
        events(s, dir).select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("t_us"), col("event_id")),
        "user_id", "event_type", Seq(col("t_us"), col("event_id")))),

    // time-weighted average value per user (TWAP): spans to the next
    // event weight each observation; exact BIGINT cents×micros math
    // ([[EventAnalytics.timeWeightedAvg]]).
    "twap_user" -> ((s, dir) =>
      EventAnalytics.timeWeightedAvg(
        events(s, dir).select(col("user_id"),
          expr("ts DIV 1000").as("t_us"), col("event_id"),
          cents(col("value")).as("v_cents")),
        "user_id", "t_us", "v_cents", Seq(col("event_id")))
        .withColumnRenamed("twap", "twap_cents")),

    // tick→bar OHLC resampling: per (event_type, hour) the first / max /
    // min / last value in cents ([[EventAnalytics.ohlcBars]]); first and
    // last are min_by/max_by under the (t_us, event_id) total order so
    // intra-hour ties are engine-independent.
    "ohlc_bars" -> ((s, dir) =>
      EventAnalytics.ohlcBars(
        events(s, dir).select(col("event_type").as("et"),
          expr("ts DIV 1000").as("t_us"), col("event_id"),
          cents(col("value")).as("v")),
        "et", expr("t_us DIV 3600000000").as("hour"), "v",
        Seq(col("t_us"), col("event_id")))),

    // best-tradeoff census: customers on the (total spend, order count)
    // Pareto frontier ([[Transforms.paretoFront2D]] — per-x max + a
    // bucketed prefix-max over the descending-spend order, never the
    // O(n²) dominance join the oracle uses).
    "pareto_front" -> ((s, dir) => {
      val cust = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("spend_cents"),
          count(lit(1)).as("n_orders"))
      Transforms.paretoFront2D(cust, "spend_cents", "n_orders",
        expr("-(spend_cents DIV 10000000)"))
    }),

    // materialized-view maintenance with retractions: the per-customer
    // (count, sum) view is advanced by an insert+retract delta stream and
    // must equal the oracle's full recompute bit-for-bit
    // ([[Reconcile.maintainAggState]] — one partial-combined aggregate
    // over state ∪ delta-partials). Inserts = orders from 1997 on;
    // retractions = pre-1997 'F' orders leaving the view.
    "ivm_agg" -> ((s, dir) => {
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
    }),

    // exact trailing-3-hour distinct users per event type, anchored at
    // active hours — the bounded explode turns the range predicate into
    // an equi-join ([[EventAnalytics.slidingDistinct]]); the oracle says
    // the same thing as a BETWEEN join.
    "sliding_distinct" -> ((s, dir) =>
      EventAnalytics.slidingDistinct(
        events(s, dir).select(col("event_type").as("et"),
          expr("(ts DIV 1000) DIV 3600000000").as("h"), col("user_id")),
        "et", "h", "user_id", lookback = 2)),

    // approximate tier of sliding_distinct: per-day HLL sketches merged
    // over the trailing-3-hour window frame by hll_union_agg — the
    // mergeable-sketch-over-window pattern that replaces exact sliding
    // distinct at 100 TB (state per (key, bucket) is one constant-size
    // sketch, reused by every window it falls in). Rows-only; error vs
    // the exact tier pinned in OperatorsSpec.
    "sliding_distinct_approx" -> ((s, dir) => {
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
    }),

    // per-user ML feature vector (the feature-store materialization): one
    // wide partial-combined aggregate + the struct-max modal event type —
    // every feature an exact integer, no window over raw events.
    "user_features" -> ((s, dir) => {
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
    }),

    // duplicate-aware training weights (soft dedup): every doc keeps its
    // row but weighted 1e6/cluster_size ppm — cluster members share unit
    // mass, singletons keep full weight. The loss-weighting alternative
    // to dropping near-dups outright.
    "dup_weights" -> ((s, dir) => {
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
    }),

    // referential-integrity audit across the schema's FK relations in one
    // report ([[Transforms.fkAudit]]); events.user_id→customer is the
    // deliberately unconstrained relation (real orphans).
    "fk_audit" -> ((s, dir) =>
      Transforms.fkAudit(Seq(
        ("lineitem.orderkey", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"),
        ("lineitem.partkey", t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey"),
        ("orders.custkey", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"),
        ("events.user", t(s, dir, "events"), "user_id",
          t(s, dir, "customer"), "c_custkey")))),

    // graph health check: out-degree histogram of the mod-300 interaction
    // graph ([[GraphAlgos.degreeHistogram]] — two-level aggregate).
    "degree_hist" -> ((s, dir) =>
      graft.operators.GraphAlgos.degreeHistogram(
        modDirectedE(s, dir), "src", "dst")),

    // REAL-data JSON extraction: events.props is a JSON payload column;
    // per event type, stats over the extracted $.k (codegen'd
    // get_json_object — the oracle cross-checks with an independent
    // regexp extraction).
    "props_stats" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type").as("et"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("et"))
        .agg(count(lit(1)).as("n"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          count_distinct(col("k")).as("n_distinct_k"),
          max(col("k")).as("max_k"))),

    // provenance of near-duplication: Jaccard pairs bucketed by their
    // (source, source) pair — the "mirror site" census a curation
    // pipeline uses to pick crawl roots to drop.
    "cross_source_dups" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docDupGraph(s, dir)._1
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
        .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
        .groupBy(least(col("sa"), col("sb")).as("s1"),
          greatest(col("sa"), col("sb")).as("s2"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // metric drift: OLS slope of value (cents) over time (seconds,
    // recentered) per event type — exact integer sufficient stats, one
    // double division at the end ([[EventAnalytics.trendSlope]]).
    "trend_slope" -> ((s, dir) =>
      EventAnalytics.trendSlope(
        events(s, dir).select(col("event_type").as("et"),
          expr("ts DIV 1000000000").as("t_s"),
          cents(col("value")).as("v")),
        "et", "t_s", "v")),

    // robust sibling of trend_slope: Theil–Sen per-user value trend —
    // lower median of pairwise slopes in integer micro-units; the self-join
    // fan-out is bounded by events-per-user
    // ([[EventAnalytics.theilSenSlope]]).
    "theilsen_slope" -> ((s, dir) =>
      EventAnalytics.theilSenSlope(
        events(s, dir).select(col("user_id"),
          expr("ts DIV 1000000000").as("t_s"),
          cents(col("value")).as("v")),
        "user_id", "t_s", "v")),

    // watermark-tuning report: per event type, events whose event time
    // regresses behind the running max in event_id arrival order, lateness
    // beyond 5 minutes, and the worst regression
    // ([[EventAnalytics.disorderCensus]]).
    "disorder_census" -> ((s, dir) =>
      EventAnalytics.disorderCensus(
        events(s, dir).select(col("event_type").as("et"),
          expr("ts DIV 1000").as("t_us"), col("event_id")),
        "et", "t_us", Seq(col("event_id")), lateThreshold = 300000000L)),

    // CDC net-effect compaction: events re-read as a keyed changelog
    // (op from a deterministic event_id residue), squashed to at most one
    // downstream operation per user ([[Reconcile.compactChangelog]] —
    // endpoints-only semantics, one partial-combined aggregate).
    "cdc_compact" -> ((s, dir) =>
      Reconcile.compactChangelog(
        t(s, dir, "events").select(col("user_id"),
          expr("CASE pmod(event_id, 7) WHEN 0 THEN 'D' WHEN 1 THEN 'I' " +
            "ELSE 'U' END").as("op"),
          cents(col("value")).as("v"),
          col("ts"), col("event_id")),
        "user_id", "op", "v", Seq(col("ts"), col("event_id")))),

    // coverage census: each event opens a presence interval of
    // 1..1800 s (deterministic in event_id); overlapping-or-touching
    // intervals merge per user ([[EventAnalytics.mergeIntervals]] —
    // prefix-max island detection, union measure in micros).
    "interval_merge" -> ((s, dir) => {
      val tus = expr("ts DIV 1000")
      EventAnalytics.mergeIntervals(
        events(s, dir).select(col("user_id"), tus.as("t0"),
          (tus + (pmod(col("event_id"), lit(1800L)) + lit(1L)) *
            lit(1000000L)).as("t1"),
          col("event_id")),
        "user_id", "t0", "t1", Seq(col("event_id")))
    }),

    // momentum scorer: lag-1 serial correlation of value (cents) per
    // event type under the (ts, event_id) total order
    // ([[EventAnalytics.lagAutocorr]] — exact DECIMAL(38,0) sufficient
    // stats, one double quantization to micros at the end).
    "autocorr_lag" -> ((s, dir) =>
      EventAnalytics.lagAutocorr(
        t(s, dir, "events").select(col("event_type").as("et"),
          cents(col("value")).as("v"), col("ts"), col("event_id")),
        "et", "v", Seq(col("ts"), col("event_id")))),

    // growth accounting: per active day, distinct actives, first-time
    // users, and the running ever-seen total
    // ([[EventAnalytics.cumulativeUsers]] — prefix sum of per-day
    // new-user counts, no distinct-over-window).
    "cumulative_users" -> ((s, dir) =>
      EventAnalytics.cumulativeUsers(
        events(s, dir).select(col("user_id"), col("ts")),
        "user_id", expr("ts DIV 86400000000000"))),

    // sequence mining: top-20 event-type trigrams across user timelines
    // ([[EventAnalytics.pathTrigrams]] — array-side trigram build under
    // a total order, no positional self-join).
    "path_trigrams" -> ((s, dir) =>
      EventAnalytics.pathTrigrams(
        t(s, dir, "events").select(col("user_id"), col("event_type"),
          col("ts"), col("event_id")),
        "user_id", "event_type", Seq(col("ts"), col("event_id")), 20)),

    // engagement streaks: distinct active days + longest consecutive-day
    // run per user ([[EventAnalytics.streakCensus]] — rank-difference
    // islands over the distinct (user, day) grid).
    "streak_census" -> ((s, dir) =>
      EventAnalytics.streakCensus(
        events(s, dir).select(col("user_id"), col("ts")),
        "user_id", expr("ts DIV 86400000000000"))),

    // distribution-drift alarm: exact two-sample KS statistic of each
    // event type's value distribution vs the pooled rest, D in integer
    // micros via cross-multiplication ([[EventAnalytics.ksDrift]] — raw
    // rows collapse to (group, value) counts before any window).
    "ks_drift" -> ((s, dir) =>
      EventAnalytics.ksDrift(
        t(s, dir, "events").select(col("event_type").as("et"),
          cents(col("value")).as("v")),
        "et", "v")),

    // fraud-lens digit census: first significant digit of order totals
    // (cents) vs the Benford expectation — shares in integer permille,
    // the 9-row expectation table inlined identically on both sides.
    "benford_digits" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(expr("CAST(substring(CAST(" +
          "CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) " +
          "AS INT)").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("share_permille", expr(
          "n * 1000 DIV sum(n) OVER ()"))
        .withColumn("benford_permille", expr(
          "element_at(map(1, 301L, 2, 176L, 3, 125L, 4, 97L, 5, 79L, " +
          "6, 67L, 7, 58L, 8, 51L, 9, 46L), digit)"))),

    // behavioral-diversity scorer: Shannon entropy of each user's
    // event-type mix, integer permille-nats
    // ([[EventAnalytics.distributionEntropy]]; same quantized-ln
    // discipline as unigram_logprob, so the sum is order-exact).
    "type_entropy" -> ((s, dir) =>
      EventAnalytics.distributionEntropy(
        t(s, dir, "events").select(col("user_id"), col("event_type")),
        "user_id", "event_type")),

    // hourly-seasonality monitor: per (event type, hour-of-day), flag
    // days whose count exceeds 2x that hour's cross-day mean — the
    // integer cross-multiplied test, no float baseline
    // ([[EventAnalytics.seasonalAnomaly]]).
    "seasonal_anomaly" -> ((s, dir) => {
      val tus = expr("ts DIV 1000")
      EventAnalytics.seasonalAnomaly(
        events(s, dir).select(col("event_type").as("et"),
          tus.as("t_us")),
        "et", expr("t_us DIV 86400000000").as("day"),
        expr("(t_us DIV 3600000000) % 24").as("hod"), factor = 2)
    }),

    // sweep-line peak concurrency per event type: each event holds a
    // 10-minute presence window ([[EventAnalytics.maxConcurrency]];
    // closes-before-opens tie order = half-open interval semantics).
    "max_concurrency" -> ((s, dir) => {
      val tus = expr("ts DIV 1000")
      EventAnalytics.maxConcurrency(
        events(s, dir).select(col("event_type"), tus.as("t0"),
          (tus + lit(600000000L)).as("t1")),
        "event_type", "t0", "t1")
        .withColumnRenamed("k", "et")
    }),

    // compaction planning over per-order "file" sizes: distributed
    // ordered prefix sum (no single-partition window —
    // [[Transforms.orderedPrefixSum]]) then greedy first-fit binning to
    // ~2 GB targets ([[Transforms.compactionBins]]).
    "compaction_bins" -> ((s, dir) => {
      val files = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("bytes"))
      Transforms.compactionBins(files, "l_orderkey", "bytes",
        expr("l_orderkey DIV 256"), target = 2000000000L)
    }),

    // zone-map pruning census: per-month shipdate zones vs a 6-month
    // predicate window — the parquet row-group skipping arithmetic a
    // layout optimizer prices ([[Transforms.zoneMapPrune]]).
    // [10227, 10407] = days-since-epoch for 1998-01-01 .. 1998-06-30.
    "zone_prune" -> ((s, dir) =>
      Transforms.zoneMapPrune(
        t(s, dir, "lineitem").select(
          expr("CAST(datediff(l_shipdate, DATE'1970-01-01') AS BIGINT)")
            .as("d"))
          .withColumn("zone", expr("d DIV 30")),
        col("zone"), "d", lo = 10227L, hi = 10407L)),

    // TF-IDF top terms per doc — ranked on the integer (tf, df) columns
    // so the oracle compare never touches the float score (see tfIdf doc).
    "tfidf_topterms" -> ((s, dir) =>
      Transforms.topKPerGroup(
          TextAnalysis.tfIdfFromPostings(t(s, dir, "documents"),
            corpusPostings(s, dir)),
          Seq(col("id")),
          Seq(col("tf").desc, col("term_df").asc, col("term").asc), 5)
        .select(col("id").as("doc_id"), col("term"), col("tf"),
          col("term_df"))),

    // CCNet-style corpus-LM quality signal: mean unigram log-prob per doc
    // (integer-micro rounding per token keeps the distributed sum exact).
    "unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogProbFromCounts(t(s, dir, "documents"),
        "text", "doc_id", corpusUnigramCounts(s, dir))),

    // Gopher rule battery (Rae et al. 2021 A1.1): the heuristic quality
    // filter applied before LM training — word-count bounds, mean word
    // length, symbol ratio, alphabetic fraction, stopword probe — as ONE
    // fused scan-side projection in integer permille
    // ([[TextAnalysis.gopherRules]]).
    "gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), "text", "doc_id",
        minWords = 50, maxWords = 100000)
        .withColumnRenamed("id", "doc_id")),

    // Gopher repetition battery (Rae et al. 2021 A1.2), the companion
    // gate to gopher_rules: top-n-gram character concentration (n=2..4)
    // and duplicated-n-gram character coverage (n=5..10) in integer
    // permille, one explode + two doc-keyed aggregates for all nine n
    // ([[TextAnalysis.gopherRepetition]]).
    "gopher_repetition" -> ((s, dir) =>
      TextAnalysis.gopherRepetition(t(s, dir, "documents"), "text",
        "doc_id").withColumnRenamed("id", "doc_id")),

    // per-source corpus stats: the curation dashboard query (docs, token
    // volume, mean quality per source) — one partial-combined aggregate.
    "domain_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
          round(sum(col("q")) / count(lit(1))).cast("long")
            .as("mean_quality_permille"))),

    // stratified downsampling: cap over-represented languages by
    // deterministic content-hash rate (en 25%, de 50%, rest whole) — one
    // fused filter pass, no shuffle, no RNG state.
    "sample_stratified" -> ((s, dir) =>
      TextAnalysis.sampleStratified(t(s, dir, "documents"),
          col("lang"), col("text"), Map("en" -> 250, "de" -> 500))
        .select(col("doc_id"), col("lang"))),

    // derive-the-rates half of stratified sampling: resample to a TARGET
    // language mixture (en 40%, others 15% each); the scarcest-vs-target
    // stratum is kept whole and the rest downsample to match. Integer
    // rate math + Knuth-multiplicative keep decision (mixtureResample
    // doc), so the oracle reproduces the exact kept row set.
    "mixture_sample" -> ((s, dir) =>
      TextAnalysis.mixtureResample(t(s, dir, "documents"), col("lang"),
          col("doc_id"), Map("en" -> 400, "zh" -> 150, "es" -> 150,
            "de" -> 150, "fr" -> 150))
        .select(col("doc_id"), col("lang"))),

    // temperature-based (α = 0.3) mixture resampling — the multilingual
    // balancing standard: keep rates derived from the observed language
    // distribution flattened by p^α, Knuth-hash keep decision
    // ([[TextAnalysis.alphaMixture]]).
    "alpha_mixture" -> ((s, dir) =>
      TextAnalysis.alphaMixture(t(s, dir, "documents")
          .select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"), alpha = TextAnalysis.MixtureAlpha)
        .select(col("doc_id"), col("lang"), col("rate_ppm"))),

    // deterministic per-stratum cap: keep ≤20 docs per language, ranked by
    // (content-hash, id) — the "no source may exceed K examples" curation
    // rule, reproducible under reshuffling/reruns because the rank key is
    // content, not arrival order. Same TakeOrdered-per-group machinery as
    // topk_per_group.
    "sample_per_group" -> ((s, dir) =>
      Transforms.topKPerGroup(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), md5(col("text")).as("h")),
        Seq(col("lang")), Seq(col("h").asc, col("doc_id").asc), 20)
        .select(col("doc_id"), col("lang"))),

    // corpus drift report: per-language composition of the train vs test
    // content-hash splits, shares in integer permille (n*1000 DIV total) —
    // the dataset-shift QA check run before a retrain. Two partial
    // aggregates + one tiny join; the window sums run over the ≤|langs|
    // aggregate output, never over rows.
    "corpus_drift" -> ((s, dir) => {
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
    }),

    // approximate-aggregate tier: HLL++ distinct users per event type
    // (exact distinct shuffles every (type, user) pair; the sketch carries
    // a constant-size buffer per group — the 100 TB cardinality path).
    // No SQL twin (DuckDB's approx_count_distinct is a different sketch);
    // OperatorsSpec bounds relative error vs exact on the same data.
    "distinct_approx" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))),

    // MERGEABLE sketch rollup — the 100 TB distinct-count pattern: build
    // a DataSketches HLL per event type ONCE, estimate each, and derive
    // the all-types row by UNIONING THE SKETCHES (hll_union_agg) instead
    // of re-scanning events. Rows-only (no SQL twin — see
    // noOracleReason); OperatorsSpec pins merged-vs-direct equality and
    // error vs exact.
    "hll_rollup" -> ((s, dir) => {
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
    }),

    // sequence packing (concat-then-cut training layout): per-shard
    // running token count → (pack_id, pack_offset); shard = content-hash
    // split so each shard's order-window is bounded.
    "pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(t(s, dir, "documents"), "text", "doc_id",
        TextAnalysis.hashSplit(col("text")), maxTokens = 1024)),

    // context-window chunking: 8-token windows every 4 tokens (50%
    // overlap); chunk text emitted as md5 to keep the compare compact.
    "chunk_docs" -> ((s, dir) =>
      TextAnalysis.chunkDocs(t(s, dir, "documents"), "text", "doc_id",
          width = 8, stride = 4)
        .select(col("doc_id"), col("chunk_start").cast("long").as("chunk_start"),
          md5(col("chunk")).as("chunk_md5"))),

    // PII scrub: the corpus has no addresses, so deterministic emails are
    // SYNTHESIZED into every 5th doc first — the redaction regex is then
    // actually exercised, and the oracle re-creates the identical input.
    "pii_redact" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0,
              concat(lit(" contact: user"), col("doc_id"),
                lit("@example.com now"))).otherwise(lit("")))
            .as("t2"))
        .select(col("doc_id"),
          TextAnalysis.piiEmailCount(col("t2")).cast("long").as("n_emails"),
          md5(TextAnalysis.piiRedact(col("t2"))).as("redacted_md5"))),

    // as-of join (engine extension, §2.3 note): latest 'error' event
    // at-or-before each 'click', per user — one union + window pass,
    // linear in |L|+|R|, never the quadratic join-filter-window shape.
    "asof_join" -> ((s, dir) => {
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
    }),

    // merge_asof parity: backward with a 1-hour tolerance — matches
    // further away resolve to null, exactly pandas `tolerance=`.
    "asof_tolerance" -> ((s, dir) => {
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
    }),

    // forward direction: earliest error at-or-after each click
    "asof_forward" -> ((s, dir) => {
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
    }),

    // range join (engine extension): clicks inside the 30-minute window
    // after an error of the same user — binned equi-join on
    // (user_id, bin), never a nested-loop range scan. All arithmetic in
    // the long micros domain so binning and the residual BETWEEN are
    // exact on both engines.
    "range_join" -> ((s, dir) => {
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
    }),

    // ===== extensions: multimodal plumbing =====
    "mm_meta" -> ((s, dir) => {
      val assets = Multimodal.toAssets(t(s, dir, "documents"),
        "doc_id", "text", "source", "text")
      assets.select(col("asset_id"), col("meta.byte_len").as("byte_len"),
        md5(col("content")).as("content_md5"))
    }),

    "mm_frames" -> ((s, dir) => {
      val assets = Multimodal.toAssets(t(s, dir, "documents"),
        "doc_id", "text", "source", "video")
      Multimodal.sampleFrames(
        Multimodal.decodeAssets(assets).toDF(), stride = 7)
        .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"))
    }),

    "mm_resize" -> ((s, dir) => {
      val assets = Multimodal.toAssets(t(s, dir, "documents"),
        "doc_id", "text", "source", "image")
      Multimodal.resizePlan(Multimodal.decodeAssets(assets).toDF(),
        maxSide = 32)
    }),

    "mm_patches" -> ((s, dir) => {
      val assets = Multimodal.toAssets(t(s, dir, "documents"),
        "doc_id", "text", "source", "image")
      Multimodal.patchGrid(Multimodal.decodeAssets(assets).toDF(), tile = 16)
        .select(col("asset_id"), col("px").cast("long").as("px"),
          col("py").cast("long").as("py"))
    }),

    // Real container decode, end-to-end and oracle-checkable: per-row BMP /
    // WAV / PNG / GIF / JPEG containers are SYNTHESIZED from each
    // document's byte length with codegen'd expressions (hex/concat/unhex
    // fused into the scan), then decoded back by the real header probe in
    // the mapPartitions batch — all five byte layouts (LE32, RIFF chunk
    // walk, network-order PNG chunks, LE16 GIF descriptor, JPEG marker
    // walk over APP0 to SOF0) round-tripped. The oracle recomputes the
    // expected dims/frames arithmetically — agreeing requires both the
    // synthesis AND the byte-layout parse to be correct. Zero shuffle:
    // project → mapPartitions → project.
    "mm_decode" -> ((s, dir) => {
      val len = length(encode(col("text"), "UTF-8")) // octet length
      val m = col("doc_id") % 5
      val assets = t(s, dir, "documents").select(
        col("doc_id").cast("long").as("asset_id"),
        when(m === 1, lit("audio")).otherwise(lit("image")).as("modality"),
        when(m === 0,
          Multimodal.bmpContent((len % 300) + 1,
            (floor(len / 7) % 200 + 1).cast("int")))
          .when(m === 1, Multimodal.wavContent(len * 4))
          .when(m === 2,
            Multimodal.pngContent((len % 500) + 1,
              (floor(len / 3) % 400 + 1).cast("int")))
          .when(m === 3,
            Multimodal.gifContent((len % 300) + 2,
              (floor(len / 5) % 250 + 1).cast("int")))
          .otherwise(
            Multimodal.jpegContent((len % 400) + 1,
              (floor(len / 11) % 300 + 1).cast("int"))).as("content"))
      Multimodal.decodeAssets(assets)
        .select(col("asset_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
    }),

    // perceptual image fingerprint over BMPs synthesized WITH real pixel
    // arrays (bottom-up rows, 4-byte padding): dims decoded from header
    // bytes, 64 cell-center pixels sampled, integer luma + mean-threshold
    // bits ([[Multimodal.imageAHash]]); the oracle regenerates everything
    // from the pixel generator's closed form.
    // content-defined chunking over synthesized binary payloads
    // (Muthitacharoen et al. 2001 / FastCDC gear window): payloads
    // alternate 512-byte SHARED and asset-specific segments, so chunk
    // signatures genuinely deduplicate across assets
    // ([[Multimodal.cdcChunks]] — one byte explode, one window pass).
    "cdc_chunks" -> ((s, dir) => cdcChunkTable(s, dir)),

    // the dedup pay-off of cdc_chunks: corpus-level chunk-store stats —
    // distinct (signature, length) chunks vs total, and the bytes a
    // content-addressed store saves (Σ (copies − 1)·len).
    "cdc_dedup" -> ((s, dir) => {
      cdcChunkTable(s, dir).groupBy(col("chunk_sig"), col("len"))
        .agg(count(lit(1)).as("__cnt"))
        .agg(sum(col("__cnt")).as("n_chunks"),
          count(lit(1)).as("n_unique"),
          sum(col("__cnt") * col("len")).as("bytes_total"),
          sum((col("__cnt") - 1L) * col("len")).as("bytes_saved"))
        .select(col("n_chunks"), col("n_unique"),
          expr("(1000 * (n_chunks - n_unique)) DIV n_chunks")
            .as("dup_permille"),
          col("bytes_total"), col("bytes_saved"))
    }),

    "mm_ahash" -> ((s, dir) => {
      val len = length(encode(col("text"), "UTF-8"))
      // pixel synthesis is the expensive per-row stage: rebalance the
      // narrow parquet input first (same contract as the shingle/vector
      // pipelines) so 1000 images aren't generated in one task
      val assets = Transforms.rebalanceIfNarrow(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"),
          Multimodal.bmpPixelContent(col("doc_id").cast("long"),
            (len % 16 + 8).cast("long"),
            (len % 12 + 8).cast("long")).as("content"))
      Multimodal.imageAHash(assets, "asset_id", "content")
    }),

    // real PNG scanline decode (closing the header-vs-pixel gap for the
    // format whose compression machinery is already in-tree): synthesize
    // VALID PNGs — zlib IDAT of filtered scanlines, filter type
    // (doc_id DIV 5) % 5 so all five PNG filters 0-4 are exercised —
    // then inflate + un-filter ([[graft.functions.PngCodec]]), repackage
    // the TRUE pixels as the engine's BMP layout, and aHash them.
    // Un-filtering exactly inverts filtering, so the oracle recomputes
    // the hash from the closed-form pixel formula and never parses
    // binary; a filter/unfilter bug on any scanline = hash diff.
    "mm_png_pixels" -> ((s, dir) => {
      val len = length(encode(col("text"), "UTF-8"))
      val assets = Transforms.rebalanceIfNarrow(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"),
          graft.functions.PngCodec.synth(col("doc_id").cast("long"),
            (len % 16 + 8), (len % 12 + 8),
            expr("(CAST(doc_id AS BIGINT) DIV 5) % 5")).as("content"))
      Multimodal.imageAHash(
          assets.select(col("asset_id"),
            graft.functions.PngCodec.pngToBmp(col("content"))
              .as("content")),
          "asset_id", "content")
        .withColumn("filter_type", expr("(asset_id DIV 5) % 5"))
    }),

    // image near-dup tier: quads of perturbed 16x12 BMPs (same base
    // pixels, sparse byte shifts) hashed by [[Multimodal.imageAHash]],
    // then banded Hamming search ([[Multimodal.ahashHammingPairs]] —
    // 8-band pigeonhole, never all-pairs; the oracle IS all-pairs, so a
    // missed candidate would surface as a row diff).
    "mm_phash_pairs" -> ((s, dir) => {
      val assets = Transforms.rebalanceIfNarrow(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"),
          Multimodal.bmpPixelContent(
            expr("CAST(doc_id DIV 20 AS BIGINT)"), lit(16L), lit(12L),
            expr("CAST(((doc_id DIV 5) % 4) * 85 AS BIGINT)"))
            .as("content"))
      Multimodal.ahashHammingPairs(
        Multimodal.imageAHash(assets, "asset_id", "content"),
        "asset_id", "ahash_hex", maxDist = 7)
    }),

    // windowed PCM energy over synthesized WAVs WITH real payloads: the
    // decoder reads actual bytes (LE32 data length, s16le samples,
    // sign-extension — [[Multimodal.pcmWindowEnergy]]); the oracle
    // regenerates the expected energies from the generator's closed form
    // without parsing binary, so a hash match proves the byte decode.
    // shot segmentation over a synthetic 10-frame "video" per asset:
    // frame seeds change every 4 frames, so scene cuts land at f=4 and
    // f=8 (hamming 0 within a scene, large across); lag-hamming over the
    // per-frame aHashes finds them ([[Multimodal.sceneChanges]] — real
    // per-frame BMP decode, consecutive-frame windows, no pairwise join).
    "mm_scenes" -> ((s, dir) => {
      val frames = Transforms.rebalanceIfNarrow(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 2),
          col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"),
          explode(expr("sequence(0L, 9L)")).as("f"))
        .withColumn("content", Multimodal.bmpPixelContent(
          col("asset_id") * 7 + expr("f DIV 4"), lit(16L), lit(12L)))
        .withColumn("fid", col("asset_id") * 16 + col("f"))
      val hashes = Multimodal.imageAHash(frames, "fid", "content")
      Multimodal.sceneChanges(
        hashes.select(expr("fid DIV 16").as("asset_id"),
          expr("fid % 16").as("f"), col("ahash_hex")),
        "asset_id", "f", "ahash_hex", cutHamming = 10)
    }),

    // VAD-style silence segmentation: per-frame PCM energy below the
    // per-sample mean threshold → rank-difference islands
    // ([[Multimodal.silenceRuns]] over the real s16le decode).
    "mm_silence" -> ((s, dir) => {
      val len = length(encode(col("text"), "UTF-8"))
      val assets = Transforms.rebalanceIfNarrow(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 3),
        col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"),
          Multimodal.wavPcmContent(col("doc_id").cast("long"),
            (len % 256 + 512).cast("long")).as("content"))
      Multimodal.silenceRuns(
        Multimodal.pcmWindowEnergy(assets, "asset_id", "content", 64),
        "asset_id", "frame", "energy", "n_samples",
        meanThreshold = 358000000L)
    }),

    "mm_energy" -> ((s, dir) => {
      val len = length(encode(col("text"), "UTF-8"))
      val assets = Transforms.rebalanceIfNarrow(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 1),
        col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"),
          Multimodal.wavPcmContent(col("doc_id").cast("long"),
            (len % 128 + 64).cast("long")).as("content"))
      Multimodal.pcmWindowEnergy(assets, "asset_id", "content", 64)
    }),

    // trailing-1-hour rolling sum per user: a RANGE frame over epoch
    // seconds, so the frame is defined by VALUES, not row positions —
    // ties at the same second contribute identically no matter how the
    // partition is ordered internally (exact under any parallelism).
    // One shuffle on user_id; the frame scan is a single sorted pass.
    "rolling_window" -> ((s, dir) =>
      Transforms.rollingSum(
        events(s, dir).select(col("event_id"), col("user_id"),
          expr("ts DIV 1000000000").as("ts_sec"),
          cents(col("value")).as("v_cents")),
        "user_id", "ts_sec", "v_cents", lookback = 3600L, as = "roll_cents")
        .select(col("event_id"), col("user_id"), col("roll_cents"))),

    // hourly activity grid per event type with gaps ZERO-FILLED — the
    // resampling step of time-series featurization. sequence() builds each
    // type's [min,max] hour grid (grid size is bounded by the time span,
    // never the row count), observed counts left-join in. ts arrives as
    // long nanos (events() canonicalizes the fixture encoding).
    "gapfill_hours" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        date_trunc("hour", timestamp_micros(expr("ts DIV 1000"))).as("h"))
      val counts = ev.groupBy("event_type", "h").agg(count(lit(1)).as("n"))
      val grid = counts.groupBy("event_type")
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
            .as("h"))
      grid.join(counts, Seq("event_type", "h"), "left")
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          coalesce(col("n"), lit(0L)).as("n"))
    }),

    // forward-fill (LOCF) sibling of gapfill_hours: each hour of the grid
    // carries the last observed value-close at or before it — the gap
    // treatment for rolling/lag features ([[EventAnalytics.gapfillLocf]]).
    "gapfill_locf" -> ((s, dir) =>
      EventAnalytics.gapfillLocf(
          events(s, dir).select(col("event_type"),
            timestamp_micros(expr("ts DIV 1000")).as("tsm"),
            col("event_id"), cents(col("value")).as("v")),
          "event_type", "tsm", "v", "event_id")
        .select(col("k").as("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("observed"), col("close_filled").as("close_cents"))),

    // survival analysis: per-user activity span in hours, right-censored
    // when the user is still active in the corpus's final 24h; output is
    // the exact-integer Kaplan–Meier risk table (n at risk, events at t)
    // ([[EventAnalytics.kaplanMeierTable]]).
    "kaplan_meier" -> ((s, dir) => {
      val per = events(s, dir).groupBy(col("user_id"))
        .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      val gmax = broadcast(per.agg(max(col("t1")).as("gm")))
      val durs = per.crossJoin(gmax)
        .select(expr("(t1 - t0) DIV 3600000000000").as("dur_h"),
          (col("t1") < col("gm") - lit(86400000000000L)).as("obs"))
      EventAnalytics.kaplanMeierTable(durs, "dur_h", "obs")
    }),

    // self-join cardinality estimate from per-key histograms — the exact
    // Σ n² a planner prices before a pairwise operator (theilsen_slope's
    // fan-out bound, in one aggregate pass; counts collapse first).
    "join_cardinality" -> ((s, dir) =>
      events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("__n"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("__n") * col("__n")).as("selfjoin_rows"),
          max(col("__n")).as("max_key_rows"))),

    // quantile normalization: event values re-expressed as the pooled
    // distribution's value at the same within-type percentile — exact
    // rank lookups, integer permille percentiles
    // ([[Transforms.quantileNormalize]]).
    "quantile_normalize" -> ((s, dir) =>
      Transforms.quantileNormalize(
        events(s, dir).select(col("event_type"),
          cents(col("value")).as("v"), col("event_id")),
        "event_type", "v", "event_id")),

    // per-user inter-arrival gap (LAG) in exact integer micros; ties are
    // broken by event_id so the window order is total and the result
    // engine-independent. First event per user (NULL gap) is filtered so
    // the output column stays a clean BIGINT on both sides.
    "event_lag" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("t_us"), col("event_id"))
      events(s, dir)
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("t_us"))
        .withColumn("delta_us", col("t_us") - lag(col("t_us"), 1).over(w))
        .filter(col("delta_us").isNotNull)
        .select(col("event_id"), col("user_id"), col("delta_us"))
    }),

    // first-order Markov next-event model, trained AND evaluated
    // in-engine: per event type the argmax next type from the transition
    // counts (ties to the lexicographically smallest), then the
    // in-sample hit rate of that prediction — the baseline every fancier
    // sequence model must beat.
    "markov_hitrate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("t_us"), col("eid"))
      val steps = events(s, dir)
        .select(col("user_id"), col("event_id").as("eid"),
          expr("ts DIV 1000").as("t_us"), col("event_type").as("et"))
        .withColumn("next_et", lead(col("et"), 1).over(w))
        .filter(col("next_et").isNotNull)
        .select(col("et"), col("next_et"))
      val pred = steps.groupBy(col("et"), col("next_et"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(Window.partitionBy("et")
          .orderBy(col("c").desc, col("next_et").asc)))
        .filter(col("rk") === 1)
        .select(col("et"), col("next_et").as("pred_next"))
      steps.join(broadcast(pred), Seq("et"))
        .agg(count(lit(1)).as("n_steps"),
          sum(when(col("next_et") === col("pred_next"), 1L).otherwise(0L))
            .as("n_hits"))
        .withColumn("hit_permille",
          expr("1000 * n_hits DIV n_steps"))
    }),

    // distribution-drift monitoring by POPULATION STABILITY INDEX: order
    // totals 1997 vs 1998 over fixed $5k bins, PSI = Σ (pa − pb)·ln(pa/pb)
    // in PURE integers — proportions as exact ppm floor divisions, the
    // log ratio micro-quantized from exact integer cross-products (the
    // mutual_info discipline), bins missing on either side reported but
    // excluded from the sum (the standard PSI practice).
    "psi_drift" -> ((s, dir) => {
      val priced = t(s, dir, "orders")
        .select(year(col("o_orderdate")).as("yr"),
          expr("CAST(round(o_totalprice * 100, 0) AS BIGINT) DIV 500000")
            .as("bin"))
        .filter(col("yr").isin(1997, 1998))
      val cells = priced.groupBy(col("bin"))
        .agg(sum(when(col("yr") === 1997, 1L).otherwise(0L)).as("na_i"),
          sum(when(col("yr") === 1998, 1L).otherwise(0L)).as("nb_i"))
      val tot = cells.agg(sum(col("na_i")).as("na"),
        sum(col("nb_i")).as("nb"))
      cells.crossJoin(broadcast(tot))
        .withColumn("used", col("na_i") > 0 && col("nb_i") > 0)
        .withColumn("q_micro", when(col("used"), expr(
          "CAST(round(ln((CAST(na_i AS DOUBLE) * CAST(nb AS DOUBLE)) / " +
            "(CAST(nb_i AS DOUBLE) * CAST(na AS DOUBLE))) * 1000000, 0) " +
            "AS BIGINT)")).otherwise(lit(0L)))
        .withColumn("dppm", expr(
          "1000000 * na_i DIV na - 1000000 * nb_i DIV nb"))
        .agg(count(lit(1)).as("n_bins"),
          sum(when(col("used"), 1L).otherwise(0L)).as("n_bins_used"),
          sum(when(col("used"), col("dppm") * col("q_micro"))
            .otherwise(0L)).as("__s"))
        .withColumn("psi_micro", expr("__s DIV 1000000")).drop("__s")
    }),

    // association strength over the co-visitation space: lift of item
    // pairs (observed co-sessions vs independence) in exact integer ppm —
    // lift = n_ab·N / (n_a·n_b), floor ppm with marginals from the same
    // distinct (user, session, item) table the pair join uses.
    "covisit_lift" -> ((s, dir) => {
      val (sess, pairs) = covisitSessions(s, dir)
      val marg = sess.groupBy(col("item")).agg(count(lit(1)).as("m"))
      // session total N rides the plan as a broadcast 1-row aggregate
      // over the checkpointed session frame — no driver-side count()
      // action (the dsirBucketTotals posture: totals stay in-plan).
      val nDf = sess.select(col("user_id"), col("sid")).distinct()
        .agg(count(lit(1)).as("__n"))
      pairs.withColumnRenamed("n_pair", "n_ab")
        .join(broadcast(marg.select(col("item").as("item_a"),
          col("m").as("m_a"))), Seq("item_a"))
        .join(broadcast(marg.select(col("item").as("item_b"),
          col("m").as("m_b"))), Seq("item_b"))
        .crossJoin(broadcast(nDf))
        .select(col("item_a"), col("item_b"), col("n_ab"),
          expr("1000000 * n_ab * __n DIV (m_a * m_b)")
            .as("lift_ppm"))
    }),

    // per-item view→purchase conversion: the item-level funnel — a view
    // converts if the SAME user purchases the SAME item within 7 days
    // (hash semi-join on (user, item) with the time window as residual,
    // so each view counts once no matter how many later purchases).
    // Top-20 items by view volume with conversion permille.
    "view_to_buy" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"),
        col("event_type").as("et"), expr("ts DIV 1000").as("t_us"))
      val views = ev.filter(col("et") === "view")
        .select(col("user_id"), col("item"), col("t_us"))
      val buys = ev.filter(col("et") === "purchase")
        .select(col("user_id").as("bu"), col("item").as("bi"),
          col("t_us").as("bt"))
      val conv = views.join(buys,
        col("bu") === col("user_id") && col("bi") === col("item") &&
          col("bt") > col("t_us") &&
          col("bt") <= col("t_us") + 604800000000L, "left_semi")
      views.groupBy(col("item")).agg(count(lit(1)).as("n_views"))
        .join(conv.groupBy(col("item")).agg(count(lit(1)).as("n_conv")),
          Seq("item"), "left")
        .withColumn("n_conv", coalesce(col("n_conv"), lit(0L)))
        .withColumn("conv_permille", expr("1000 * n_conv DIV n_views"))
        .orderBy(col("n_views").desc, col("item").asc)
        .limit(20)
    }),

    // co-visitation mining (the recsys primitive behind "people also
    // viewed"): item pairs seen within the SAME 30-minute behavioral
    // session, counted across sessions. The session frame and the pair
    // counts come from [[covisitSessions]] — ONE sessionization + ONE
    // bounded in-session pair join shared with covisit_lift.
    "covisit_pairs" -> ((s, dir) =>
      covisitSessions(s, dir)._2
        .select(col("item_a"), col("item_b"),
          col("n_pair").as("n_sessions"))),

    // lagged cross-correlation machinery: purchase-vs-view daily spend at
    // lags −3..+3 days, as EXACT integer sufficient statistics per lag
    // (n, Σa, Σb, Σab, Σa², Σb²) — the corr_stats discipline over a
    // lag-exploded day join; the correlation itself derives downstream
    // with no float on either engine.
    "xcorr_lags" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"), expr("ts DIV 86400000000000").as("day"))
        .agg(sum(cents(col("value"))).as("v"))
      val a = daily.filter(col("event_type") === "purchase")
        .select(col("day").as("da"), col("v").as("va"))
      val b = daily.filter(col("event_type") === "view")
        .select(col("day").as("db"), col("v").as("vb"))
      a.withColumn("lag", explode(sequence(lit(-3L), lit(3L))))
        .join(b, col("db") === col("da") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("va")).as("sum_a"),
          sum(col("vb")).as("sum_b"),
          sum(col("va") * col("vb")).as("sum_ab"),
          sum(col("va") * col("va")).as("sum_a2"),
          sum(col("vb") * col("vb")).as("sum_b2"))
    }),

    // log-domain aggregate: exact geometric mean machinery — per return
    // flag, the ln(price) sum in integer micros (each row's log quantized
    // ONCE, the mutual_info discipline) plus the one mirrored closing
    // exp; the multiplicative-average twin of the arithmetic moment
    // family, used for ratio-like metrics where outliers multiply.
    "geo_mean" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(round(ln(CAST(round(l_extendedprice * 100, 0) " +
            "AS BIGINT)) * 1000000, 0) AS BIGINT)").as("ln_micro"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"), sum(col("ln_micro")).as("sum_ln_micro"))
        .withColumn("gm_cents", expr(
          "CAST(round(exp(CAST(sum_ln_micro AS DOUBLE) / " +
            "(CAST(n AS DOUBLE) * 1000000.0)), 0) AS BIGINT)"))),

    // month-over-month churn: customers ordering in month M with NO
    // order in M+1 — the presence anti-join per month (the inverse of
    // retention_cohorts' diagonal), last month excluded (no M+1 data).
    "churn_rate" -> ((s, dir) => {
      val om = t(s, dir, "orders")
        .select(col("o_custkey").as("ck"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("m"))
        .distinct()
      val nxt = om.select(col("ck").as("ck2"), (col("m") - 1).as("m2"))
      val churned = om.join(nxt,
          col("ck") === col("ck2") && col("m") === col("m2"), "left_anti")
      val active = om.groupBy(col("m")).agg(count(lit(1)).as("n_active"))
      val mx = om.agg(max(col("m")).as("mx"))
      active.join(churned.groupBy(col("m")).agg(count(lit(1)).as("n_churned")),
          Seq("m"), "left")
        .crossJoin(broadcast(mx))
        .filter(col("m") < col("mx")).drop("mx")
        .withColumn("n_churned", coalesce(col("n_churned"), lit(0L)))
        .withColumn("churn_permille",
          expr("1000 * n_churned DIV n_active"))
    }),

    // Apdex (the SRE satisfaction index) on inter-event gaps: satisfied
    // ≤ 1h, tolerating ≤ 4h, score = (2·sat + tol) / 2n as exact
    // permille (doubling keeps the half-credit integral, the rank-sum
    // AUC discipline).
    "apdex" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("et", "user_id")
        .orderBy(col("t_us"), col("eid"))
      events(s, dir)
        .select(col("event_type").as("et"), col("user_id"),
          col("event_id").as("eid"), expr("ts DIV 1000").as("t_us"))
        .withColumn("d_us", col("t_us") - lag(col("t_us"), 1).over(w))
        .filter(col("d_us").isNotNull)
        .groupBy(col("et"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(when(col("d_us") <= 3600000000L, 1L).otherwise(0L))
            .as("n_satisfied"),
          sum(when(col("d_us") > 3600000000L &&
            col("d_us") <= 14400000000L, 1L).otherwise(0L))
            .as("n_tolerating"))
        .withColumn("apdex_permille", expr(
          "1000 * (2 * n_satisfied + n_tolerating) DIV (2 * n_gaps)"))
    }),

    // Lorenz curve points: cumulative revenue share at each customer
    // decile (deciles under the deterministic (revenue, custkey) total
    // order) — the curve behind gini_revenue, as integer permille.
    // Per-customer revenue is DATA-sized, so the global decile order
    // rides [[Transforms.rangedRank]] (the r13 boundedness split caught
    // the old single-task ntile window); the decile is ntile(10)'s exact
    // closed form over (rank, N): first N%10 buckets take ⌈N/10⌉ rows.
    "lorenz_points" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("rc"))
      val ranked = Transforms.rangedRank(rev,
        Seq(col("rc").asc, col("o_custkey").asc), "r")
      val tot = broadcast(ranked.agg(count(lit(1)).as("N")))
      val dec = ranked.crossJoin(tot)
        .withColumn("q", expr("N DIV 10"))
        .withColumn("rem", expr("N % 10"))
        .withColumn("decile", expr(
          "CASE WHEN r <= rem * (q + 1) THEN (r + q) DIV (q + 1) " +
            "ELSE rem + (r - rem * (q + 1) + q - 1) DIV q END"))
      val byDec = dec.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"), sum(col("rc")).as("rev_cents"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDec.withColumn("cum_cents", sum(col("rev_cents")).over(w))
        .crossJoin(broadcast(byDec.agg(sum(col("rev_cents")).as("tot"))))
        .select(col("decile").cast("long").as("decile"), col("n_cust"),
          col("rev_cents"),
          expr("1000 * cum_cents DIV tot").as("cum_share_permille"))
    }),

    // Spearman rank correlation: revenue rank vs order-count rank per
    // customer via the exact Σd² formula — ranks are row_number under a
    // deterministic (value, key) total order (tie policy mirrored in the
    // twin), everything integer until one mirrored closing division.
    // Per-customer rows are DATA-sized, so both global ranks ride
    // [[Transforms.rangedRank]] (the r13 boundedness split caught the
    // old single-task rank windows — the quantileNormalize posture).
    "spearman_rho" -> ((s, dir) => {
      val cust = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"),
          count(lit(1)).as("cnt"))
      val ranked = Transforms.rangedRank(
        Transforms.rangedRank(cust,
          Seq(col("rev").asc, col("o_custkey").asc), "rx"),
        Seq(col("cnt").asc, col("o_custkey").asc), "ry")
      ranked.select((col("rx") - col("ry")).as("d"))
        .agg(count(lit(1)).as("n"), sum(col("d") * col("d")).as("sum_d2"))
        .withColumn("rho_micro", expr(
          "CAST(round(1000000.0 * (1.0 - 6.0 * CAST(sum_d2 AS DOUBLE) " +
            "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * " +
            "CAST(n AS DOUBLE) - 1.0))), 0) AS BIGINT)"))
    }),

    // Simpson's-paradox screen: does the pooled quantity↔price
    // association direction survive stratifying by brand? Sign of the
    // EXACT integer covariance numerator (n·Σxy − Σx·Σy, DECIMAL(38,0))
    // pooled and per stratum; strata disagreeing with the pooled sign
    // are the aggregation-reversal risk the census reports.
    "simpson_check" -> ((s, dir) => {
      val rows = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("g"),
          round(col("l_quantity")).cast("long").as("x"),
          cents(col("l_extendedprice")).as("y"))
      val covSign: Column =
        signum(expr("CAST(n AS DECIMAL(38,0)) * sxy - " +
          "CAST(sx AS DECIMAL(38,0)) * sy")).cast("long")
      val strata = rows.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
        .withColumn("sgn", covSign)
      val pooled = rows
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
        .select(covSign.as("pooled_sign"))
      strata.crossJoin(broadcast(pooled))
        .agg(max(col("pooled_sign")).as("pooled_sign"),
          count(lit(1)).as("n_strata"),
          sum(when(col("sgn") =!= col("pooled_sign"), 1L).otherwise(0L))
            .as("n_disagree"))
    }),

    // inter-arrival dispersion (burstiness screen): per event type, the
    // exact sufficient statistics of per-user inter-arrival gaps
    // (n, Σd, Σd² in whole SECONDS — seconds, not micros, so Σd² stays
    // inside BIGINT for both engines and the driver compare; the
    // moment_stats discipline); the coefficient of variation /
    // burstiness index derives downstream, no float on either engine.
    "burstiness" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("et", "user_id")
        .orderBy(col("t_us"), col("eid"))
      events(s, dir)
        .select(col("event_type").as("et"), col("user_id"),
          col("event_id").as("eid"), expr("ts DIV 1000").as("t_us"))
        .withColumn("d_us", col("t_us") - lag(col("t_us"), 1).over(w))
        .filter(col("d_us").isNotNull)
        .select(col("et"), expr("d_us DIV 1000000").as("d_s"))
        .groupBy(col("et"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("d_s")).as("sum_s"),
          sum(col("d_s") * col("d_s")).as("sum_sq_s"))
    }),

    // local-maxima census (signal-shape screen): per event type, how
    // many points are STRICT peaks (v > both neighbors under the
    // (t, id) total order — plateaus don't count), plus the mean
    // peak-to-peak spacing, exactly: Σ consecutive-peak gaps telescopes
    // to (last peak − first peak), so spacing = span DIV (n−1) with no
    // second window pass.
    "peak_census" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("et").orderBy(col("t_us"), col("eid"))
      val pts = events(s, dir)
        .select(col("event_type").as("et"), col("event_id").as("eid"),
          expr("ts DIV 1000").as("t_us"), cents(col("value")).as("v"))
        .withColumn("pk",
          (col("v") > lag(col("v"), 1).over(w)) &&
            (col("v") > lead(col("v"), 1).over(w)))
      pts.groupBy(col("et"))
        .agg(count(lit(1)).as("n_points"),
          sum(when(col("pk"), 1L).otherwise(0L)).as("n_peaks"),
          min(when(col("pk"), col("t_us"))).as("first_peak_us"),
          max(when(col("pk"), col("t_us"))).as("last_peak_us"))
        .withColumn("mean_spacing_us",
          expr("(last_peak_us - first_peak_us) DIV nullif(n_peaks - 1, 0)"))
    }),

    // per-label embedding centroid, exactly: element-wise SUM of
    // integer-micro components plus the member count (centroid = sum/n,
    // kept unreduced so the comparison is integer-exact). posexplode →
    // one hash aggregate on (label, pos); at 100 TB the same shape holds
    // because partial aggregation collapses each partition to
    // |labels|×dim rows before the shuffle.
    "embed_centroid" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(sum(round(col("v").cast("double") * 1000000).cast("long"))
          .as("sum_micro"), count(lit(1)).as("n"))),

    // split-drift of per-label embedding centroids: cosine between the
    // even-id and odd-id halves' centroids — the training/eval embedding
    // drift check. Cosine is scale-invariant, so it runs on the exact
    // integer SUM vectors (one pass, when-split sums, zero joins); the
    // only float is the one closing division.
    "centroid_drift" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          (col("vec_id") % 2).as("sp"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("m", round(col("v").cast("double") * 1000000)
          .cast("long"))
        .groupBy(col("label"), col("pos"))
        .agg(sum(when(col("sp") === 0, col("m")).otherwise(0L)).as("sa"),
          sum(when(col("sp") === 1, col("m")).otherwise(0L)).as("sb"))
        .groupBy(col("label"))
        .agg(sum(expr("CAST(sa AS DECIMAL(38,0)) * sb")).as("dot"),
          sum(expr("CAST(sa AS DECIMAL(38,0)) * sa")).as("na"),
          sum(expr("CAST(sb AS DECIMAL(38,0)) * sb")).as("nb"))
        .select(col("label"), expr(
          "CAST(round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * " +
            "sqrt(CAST(nb AS DOUBLE))) * 1000, 0) AS BIGINT)")
          .as("cos_permille"))),

    "sessionize" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      graft.operators.Sessionize.sessionStats(ev, "user_id", "ts",
        "event_id", gapSeconds = 1800)
    }),

    // ===== streaming-shape (batch-checkable windowed agg) =====
    "stream_window" -> ((s, dir) => {
      val ss = new graft.streaming.StreamingSync(s, null, null)
      // ts arrives as long nanos (events() canonicalizes) — DIV to micros.
      val ev = events(s, dir)
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      ss.windowedAgg(ev, "ts", "event_type", "1 hour", "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"), col("event_type"), col("n"), col("value_cents"))
    }),

    // link prediction over the mod-300 interaction graph: top-50 not-yet-
    // connected pairs by resource-allocation score
    // ([[GraphAlgos.linkPrediction]] — wedge join, integer-micro RA, no
    // all-pairs stage; same bounded graph as triangle_count/kcore).
    "link_predict" -> ((s, dir) => {
      val g = modCanonicalE(s, dir)
      GraphAlgos.linkPrediction(g, "a", "b")
        .orderBy(col("ra_micro").desc, col("u").asc, col("w").asc)
        .limit(50)
    }),

    // Apriori level 3: part-category triples co-ordered in ≥2 orders
    // ([[Transforms.basketTriples]] — per-basket 3-way self-join bounded
    // by basket SIZE (≤7 lines, scale-invariant), frequent-pair semi-join
    // prunes candidates first per the Apriori property).
    "basket_triples" -> ((s, dir) =>
      Transforms.basketTriples(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), (col("l_partkey") % 100).as("cat")),
        "l_orderkey", "cat", minCount = 2)),

    // Poisson bootstrap: 32 deterministic replicate (n_eff, Σcents) pairs
    // for order totals — the scalable bootstrap (per-row Poisson(1)
    // multiplicity instead of resampling), draws from md5 so the twin
    // reproduces them bit-for-bit; SE/CI derive downstream from the 32
    // exact-integer rows ([[Transforms.poissonBootstrap]]).
    "bootstrap_reps" -> ((s, dir) =>
      Transforms.poissonBootstrap(t(s, dir, "orders"),
        col("o_orderkey"), cents(col("o_totalprice")), reps = 32)
        .withColumnRenamed("sum_v", "sum_cents")),

    // calibration-curve fit: isotonic (nondecreasing) regression of mean
    // event value over hour-of-day per event type, by exact-integer PAV
    // ([[Transforms.isotonicFit]] — the one legitimately-sequential-in-x
    // fit, run per group via the typed API over ≤24 pre-aggregated
    // points; rows-only, OperatorsSpec pins hand-computed pools).
    "isotonic_fit" -> ((s, dir) => {
      val pts = events(s, dir)
        .select(col("event_type").as("et"),
          expr("((ts DIV 1000) DIV 3600000000) % 24").as("hod"),
          cents(col("value")).as("vc"))
        .groupBy(col("et"), col("hod"))
        .agg(sum(col("vc")).as("s"), count(lit(1)).as("n"))
      Transforms.isotonicFit(pts, "et", "hod", "s", "n")
    }),

    // association rules: part pairs co-ordered in ≥2 orders, with integer
    // support/confidence ([[Transforms.basketPairs]] — distinct-collapse
    // first, self-join bounded by TPC-H's ≤7-line orders).
    "basket_pairs" -> ((s, dir) =>
      Transforms.basketPairs(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minCount = 2)
        .orderBy(col("n_ab").desc, col("item_a").asc, col("item_b").asc)
        .limit(100)),

    // corpus-distribution quality: Zipf rank-frequency slope over the
    // top-1k vocabulary ([[TextAnalysis.zipfSlope]] — per-term ln
    // quantized to micros, regression on exact integer sufficient stats).
    "zipf_slope" -> ((s, dir) =>
      TextAnalysis.zipfSlopeFromCounts(corpusUnigramCounts(s, dir),
        k = 1000)),

    // dyadic-decay smoothing of per-type daily spend
    // ([[EventAnalytics.ewmaDaily]] — grid collapse first, banded self-
    // join with power-of-two weights, integer end to end).
    "ewma_daily" -> ((s, dir) =>
      EventAnalytics.ewmaDaily(
        events(s, dir).select(col("event_type").as("et"), col("ts"),
          col("value")),
        "et", expr("ts DIV 86400000000000"),
        expr("CAST(round(value * 100, 0) AS BIGINT)"), horizon = 30)),

    // level-shift detection: per-type CUSUM peak excursions vs the type's
    // own mean daily spend ([[EventAnalytics.cusumShift]] — the
    // cumsum − running-min prefix identity, exact integers).
    "cusum_shift" -> ((s, dir) =>
      EventAnalytics.cusumShift(
        events(s, dir).select(col("event_type").as("et"), col("ts"),
          col("value")),
        "et", expr("ts DIV 86400000000000"),
        expr("CAST(round(value * 100, 0) AS BIGINT)"))),

    // acquisition-channel attribution: conversions credited to each
    // user's FIRST event type ([[EventAnalytics.firstTouchAttribution]] —
    // entity-sized frames only, permille rate in integer floor division).
    "attribution_first" -> ((s, dir) =>
      EventAnalytics.firstTouchAttribution(
        events(s, dir).select(col("user_id"), col("event_type"),
          col("ts"), col("event_id")),
        "user_id", "event_type", Seq(col("ts"), col("event_id")),
        convType = "purchase")),

    // dominant variance axis of the embedding space
    // ([[Similarity.pcaPower]] — distributed d² moment pass, bounded
    // driver-side power iteration in integer fixed point; oracle-exact
    // via the stage-chained replay [[PcaOracleSql]]).
    "pca_power" -> ((s, dir) =>
      Similarity.pcaPower(t(s, dir, "embeddings"), "embedding")),

    // inverted-index head: top-20 df terms with their first-10 posting
    // lists ([[TextAnalysis.postingsHead]] — distinct collapse, k-sized
    // TakeOrdered, rank-limit postings cap → WindowGroupLimit).
    "postings" -> ((s, dir) =>
      TextAnalysis.postingsHeadFromPostings(corpusPostings(s, dir),
        k = 20, cap = 10)),

    // collection-level vocabulary overlap: Jaccard permille for every
    // source pair ([[TextAnalysis.sourceJaccard]] — term self-join
    // bounded by |sources|²·|vocab|, sizes attach post-collapse).
    "source_jaccard" -> ((s, dir) =>
      TextAnalysis.sourceJaccard(t(s, dir, "documents"), "text", "source")),

    // closing-channel attribution: each purchase credits the latest
    // non-purchase event within 7 days; windowless purchases counted on
    // a NULL row so conversions conserve
    // ([[EventAnalytics.lastTouchAttribution]] — banded self-join +
    // rank-1, never a cross product).
    "attribution_last" -> ((s, dir) =>
      EventAnalytics.lastTouchAttribution(
        events(s, dir).select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("ts_us"), col("event_id")),
        "user_id", "event_type", "ts_us", "event_id",
        convType = "purchase", lookbackUs = 604800000000L)),

    // product-quality lens: return-flag share per brand in permille —
    // which brands come back (lineitem ⋈ broadcast part, counts collapse
    // to |brands| before the share division).
    "returns_by_brand" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returned"))
        .withColumn("return_permille",
          expr("(1000 * n_returned) DIV n_lines"))),

    // order-priority mix drift by year: each priority's share of the
    // year's orders in permille — the composition-trend report.
    "priority_mix" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_permille",
          expr("(1000 * n) DIV sum(n) OVER (PARTITION BY yr)"))),

    // language-ID confusion matrix: the heuristic's predictions vs the
    // fixture's ground-truth label — the honest-evaluation table that
    // prices the classifier feeding curate_docs (diagonal = hits).
    "lang_confusion" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang").as("true_lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(count(lit(1)).as("n"))),

    // split audit: per hash_split partition — sizes, token mass, mean
    // quality permille — the balance check a training run signs off on
    // before consuming the splits.
    "split_balance" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(TextAnalysis.hashSplit(col("text")).as("split"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("nt"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"),
          expr("CAST(round(CAST(SUM(q) AS DOUBLE) / COUNT(*), 0) " +
            "AS BIGINT)").as("mean_quality_permille"))),

    // part movement ranking: top-50 SKUs by order count with quantity
    // mass and recency — the inventory-velocity table (TakeOrdered cut
    // under a deterministic (n, key) order).
    "part_velocity" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
          sum(expr("CAST(l_quantity AS BIGINT)")).as("total_qty"),
          max(col("l_shipdate")).as("last_ship"))
        .orderBy(col("n_orders").desc, col("l_partkey").asc)
        .limit(50)),

    // seasonality index: each (year, month) revenue as permille of that
    // year's monthly mean — cleared denominators (12·month vs year
    // total), exact integers end to end.
    "seasonal_index" -> ((s, dir) => {
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
    }),

    // basket-size distribution: lines-per-order histogram — the fact-
    // table fan-out profile that sizes every order-grain join.
    "basket_size_dist" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("__n"))
        .groupBy(col("__n").as("n_lines"))
        .agg(count(lit(1)).as("n_orders"))),

    // discount elasticity: mean quantity (milli) by discount band — the
    // "does discounting move volume" curve, integer bands + one
    // mirrored mean rounding.
    "discount_elasticity" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(expr("CAST(round(l_discount * 100, 0) AS BIGINT)")
            .as("disc_pct"),
          expr("CAST(l_quantity AS BIGINT)").as("q"))
        .groupBy(col("disc_pct"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(round(CAST(SUM(q) AS DOUBLE) * 1000 / COUNT(*), 0)" +
            " AS BIGINT)").as("mean_qty_milli"))),

    // metadata-integrity audit: the fixture's materialized n_chars column
    // vs the recomputed length — stale-derived-column detection, the
    // check every cached-feature table needs.
    "nchars_audit" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("n_chars").cast("long").as("claimed"),
          length(col("text")).cast("long").as("actual"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("claimed") === col("actual"), 1L).otherwise(0L))
            .as("n_consistent"),
          max(abs(col("claimed") - col("actual"))).as("max_drift"))),

    // corpus composition matrix: docs per (source, lang) with the
    // within-source share in permille — the mixture dashboard behind
    // mixture_sample's targets.
    "source_lang_matrix" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_permille",
          expr("(1000 * n) DIV sum(n) OVER (PARTITION BY source)"))),

    // fulfillment latency: order date → LAST line shipment, day-lag
    // stats per priority — the cross-table temporal ops metric (one
    // per-order collapse, then a priority-sized aggregate; the mean is
    // the one mirrored rounding).
    "fulfillment_lag" -> ((s, dir) =>
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
            "AS BIGINT)").as("mean_lag_days"))),

    // normalization effectiveness A/B: exact-dup groups before vs after
    // canonical text normalization — how many extra merges the
    // normalizer buys (the number that justifies it in the dedup chain).
    "normalize_gain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val raw = docs.agg(
        countDistinct(col("text")).as("n_raw_distinct"))
      val norm = docs.select(
          TextAnalysis.normalizeText(col("text")).as("nt"))
        .agg(countDistinct(col("nt")).as("n_norm_distinct"))
      raw.crossJoin(norm)
        .withColumn("extra_merges",
          col("n_raw_distinct") - col("n_norm_distinct"))
    }),

    // 2-D histogram: (quantity decile-band × price $500-band) counts per
    // returnflag — the joint-distribution binning a BI tool renders as a
    // heatmap; pure integer bucket arithmetic, one aggregate.
    "histogram2d" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(l_quantity AS BIGINT) DIV 10").as("qty_band"),
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT) " +
            "DIV 5000000").as("price_band"))
        .groupBy("flag", "qty_band", "price_band")
        .agg(count(lit(1)).as("n"))),

    // SaaS-style revenue bridge: period-over-period per-customer revenue
    // classified new / churned / expanded / contracted / flat, with the
    // exact delta each class contributes — the decomposition behind
    // every "why did revenue move" review.
    "revenue_bridge" -> ((s, dir) =>
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
          sum(col("v2")).as("p2_cents"))),

    // path-to-purchase depth: how many events a user fires before their
    // first purchase, bucketed by 5 — the activation-funnel depth
    // histogram (users who never purchase are excluded by definition).
    "prepurchase_depth" -> ((s, dir) => {
      val ev = events(s, dir)
      val fp = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("__fp"))
      ev.join(fp, "user_id")
        .filter(col("ts") < col("__fp"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("__d"))
        .groupBy(expr("least(__d DIV 5, 10)").as("depth_bucket"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // bigram autocomplete table: top-3 next words per left word (count
    // desc, word asc ties) — the suggestion dictionary an input-method /
    // query-completion pipeline materializes; WindowGroupLimit caps each
    // left word's candidates map-side.
    "ngram_suggest" -> ((s, dir) => {
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
    }),

    // sequence-completeness census: per order, linenumbers should run
    // 1..max — report orders with holes (the CDC-loss / partial-write
    // detector for sequenced data).
    "order_gaps" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_linenumber")).cast("long").as("__maxl"),
          countDistinct(col("l_linenumber")).as("__nl"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("__maxl") > col("__nl"), 1L).otherwise(0L))
            .as("n_orders_with_gaps"),
          sum(col("__maxl") - col("__nl")).as("total_missing"))),

    // revenue concentration: the top-1% spenders' share of total spend
    // in exact permille (⌈N/100⌉ whales by (spend desc, id asc) — the
    // deterministic cut) — the whale diagnostic beside gini_revenue.
    // Per-customer spend is DATA-sized, so the global rank rides
    // [[Transforms.rangedRank]] and N comes back as a 1-row broadcast
    // (the r13 boundedness split caught the old single-task rank +
    // global-count windows).
    "whale_report" -> ((s, dir) => {
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
    }),

    // freshness dashboard: per event type, last event age in hours
    // against the corpus high-water mark — the staleness alarm feeding
    // ingestion SLOs.
    "freshness_report" -> ((s, dir) => {
      val m = events(s, dir).groupBy(col("event_type"))
        .agg(max(col("ts")).as("__last"), count(lit(1)).as("n"))
      val hwm = broadcast(m.agg(max(col("__last")).as("__hwm")))
      m.crossJoin(hwm)
        .select(col("event_type"), col("n"),
          expr("(__hwm - __last) DIV 3600000000000").as("age_hours"))
    }),

    // SLO percentile bands: daily p50/p90/p99 of event value — the
    // latency-dashboard time series, exact percentiles under the
    // percentile↔quantile_cont parity discipline.
    "percentile_bands" -> ((s, dir) =>
      events(s, dir)
        .select(expr("ts DIV 86400000000000").as("day"),
          cents(col("value")).as("v"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(v, 0.5)")).cast("long").as("p50_cents"),
          round(expr("percentile(v, 0.9)")).cast("long").as("p90_cents"),
          round(expr("percentile(v, 0.99)")).cast("long").as("p99_cents"))),

    // dedup survivorship report: what exact dedup keeps vs drops, by
    // source — docs/tokens/bytes on both sides of the cut in ONE pass
    // (survivor flag joined back by id, then a single aggregate).
    "dedup_report" -> ((s, dir) => {
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
    }),

    // embedding norm audit: per-label min/mean/max L2 norm in micros —
    // the sanity gate before any cosine-based stage (a zero-norm or
    // wildly-scaled vector poisons every similarity downstream). Sums
    // are exact integer micro²; the only floats are the per-row sqrt and
    // one mean division, both mirrored.
    "embed_norms" -> ((s, dir) =>
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
            "COUNT(*), 0) AS BIGINT)").as("mean_norm_micro"))),

    // activity heatmap: events per (day-of-week, hour-of-day) per type —
    // the universal "when do users show up" matrix, derived entirely in
    // integer epoch arithmetic (day 0 = Thursday, so dow =
    // (days + 4) % 7 puts Sunday at 0 — documented, engine-exact).
    "hourly_heatmap" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          expr("((ts DIV 86400000000000) + 4) % 7").as("dow"),
          expr("(ts DIV 3600000000000) % 24").as("hod"))
        .groupBy("event_type", "dow", "hod")
        .agg(count(lit(1)).as("n"))),

    // context-length truncation report: what a max_len=256 cut costs per
    // source — docs over budget, tokens lost, loss permille. The decision
    // metric a packing/chunking stage (pack_sequences, chunk_docs) is
    // tuned against.
    "truncation_loss" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("total_tokens"),
          sum(when(col("n") > 256, 1L).otherwise(0L)).as("docs_truncated"),
          sum(greatest(col("n") - 256, lit(0L))).as("tokens_lost"))
        .withColumn("lost_permille",
          expr("(1000 * tokens_lost) DIV total_tokens"))),

    // keyword-in-context (KWIC) concordance for a fixed pivot term: each
    // occurrence with its one-word left/right context, straight off the
    // positional token array (element_at — no self-join, no window).
    "kwic" -> ((s, dir) =>
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
            .as("right_ctx"))),

    // ingestion rate limiting: keep the first 3 events per (user, hour)
    // under the (ts, id) total order — the WindowGroupLimit shape pushes
    // the cap map-side, so the shuffle moves at most 3 rows per frame.
    "rate_limit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      events(s, dir)
        .select(col("user_id"), expr("ts DIV 3600000000000").as("hr"),
          col("event_id"), col("ts"))
        .withColumn("rn", row_number().over(Window
          .partitionBy("user_id", "hr")
          .orderBy(col("ts"), col("event_id"))).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("hr"), col("event_id"), col("rn"))
    }),

    // correlated-subquery shape: orders strictly above their customer's
    // average order value — cleared-denominator compare
    // (cents·n > Σcents, all BIGINT) so no float average exists; the
    // oracle twin runs the same predicate as correlated subqueries.
    "over_avg_orders" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          cents(col("o_totalprice")).as("cents"))
        .withColumn("__n", count(lit(1)).over(w))
        .withColumn("__s", sum(col("cents")).over(w))
        .filter(col("cents") * col("__n") > col("__s"))
        .select(col("o_orderkey"), col("cents"))
    }),

    // cohort lifetime-value curve: cumulative revenue per (first-day
    // cohort, age) — the retention grid's revenue sibling; cells collapse
    // before the prefix-sum window runs over the grid.
    "cohort_ltv" -> ((s, dir) => {
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
    }),

    // U-shaped multi-touch attribution: 400/200/400 permille credit split
    // across each conversion's in-window touches, exact-integer with
    // largest-remainder middles; credit conserved incl. orphan
    // conversions ([[EventAnalytics.positionAttribution]]).
    "attribution_position" -> ((s, dir) =>
      EventAnalytics.positionAttribution(
        events(s, dir).select(col("user_id"), col("event_type"),
          expr("ts DIV 1000").as("ts_us"), col("event_id")),
        "user_id", "event_type", "ts_us", "event_id",
        convType = "purchase", lookbackUs = 604800000000L)),

    // stage-to-stage conversion latency: first view → first subsequent
    // purchase per user; exact n plus interpolated p50/p90 seconds (the
    // group_quartiles percentile↔quantile_cont parity discipline).
    "funnel_latency" -> ((s, dir) => {
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
    }),

    // segment-level significance: Welch's t for each event type's spend
    // vs the pooled rest ([[EventAnalytics.welchT]] — one aggregate pass,
    // exact integer sufficient stats, one closing double expression).
    "welch_t" -> ((s, dir) =>
      EventAnalytics.welchT(
        events(s, dir).select(col("event_type").as("et"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("vc")),
        "et", "vc")),

    // derandomized A-ES weighted sampling: 5 docs per source,
    // length-weighted ([[TextAnalysis.weightedSampleAES]] — hash-drawn u,
    // pico-quantized ln(u)/w keys, WindowGroupLimit top-k).
    "weighted_sample" -> ((s, dir) =>
      TextAnalysis.weightedSampleAES(t(s, dir, "documents"),
        "source", "doc_id", "n_chars", k = 5)),

    // significance companion to mutual_info on the same contingency:
    // chi-square over the COMPLETE et × hour grid (zero cells cost their
    // expectation — [[EventAnalytics.chiSquare]]).
    "chi2_independence" -> ((s, dir) =>
      EventAnalytics.chiSquare(
        events(s, dir).select(col("event_type").as("et"),
          expr("((ts DIV 1000) DIV 3600000000) % 24").as("hod")),
        "et", "hod")),

    // BM25 retrieval for the df-ranks-10..12 query over documents
    // ([[TextAnalysis.bm25TopK]] — cleared-denominator integer
    // saturation, one tf relation feeding df/dl/scoring).
    "bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopKFromPostings(corpusPostings(s, dir), "doc_id",
        qRankLo = 10, qRankHi = 12, k = 10)),

    // minimum spanning forest of the mod-300 interaction graph under a
    // deterministic synthetic weight ([[GraphAlgos.boruvkaMst]] —
    // lightest-outgoing-edge rounds, lexicographic tie perturbation;
    // rows-only, Kruskal-pinned in OperatorsSpec).
    "mst_forest" -> ((s, dir) => {
      val g = modCanonicalE(s, dir)
        .withColumn("w", expr("(a * 37 + b * 101) % 997"))
      GraphAlgos.boruvkaMst(g, "a", "b", "w")
    })
  )

  /** Why each remaining `queries` entry WITHOUT an `oracleSql` twin cannot
    * have one — the driver's correctness table should never show an
    * unexplained `no_oracle`. Everything here is hash-valued with no DuckDB
    * twin function; each is byte-exactness-tested in ScalaTest instead.
    * Dumped by [[Verify]] as `no_oracle.json` next to `oracle_sql.json`. */
  def noOracleReason: Map[String, String] = Map(
    "sliding_distinct_approx" -> ("trailing-window distinct users from " +
      "hll_union_agg over per-bucket sketches — sketch-valued, no DuckDB " +
      "twin (the hll_rollup argument applied to window frames). " +
      "OperatorsSpec pins every (type, hour) estimate within 5% of the " +
      "exact sliding_distinct tier on the same fixture."),
    "hll_intersect" -> ("pairwise audience overlap by inclusion–exclusion " +
      "over DataSketches HLL sketches — the estimates are sketch-valued " +
      "with no DuckDB twin (same argument as hll_rollup/distinct_approx). " +
      "OperatorsSpec pins every pair's estimate within 5% of the exact " +
      "distinct-intersection tier computed by join on the same fixture."),
    "compress_ratio" -> ("deflate output size depends on the JVM's zlib " +
      "build, so the byte counts are not SQL-reproducible in DuckDB " +
      "(which has no deflate function anyway). DeflateSizeSpec pins the " +
      "signal semantics: RFC 1951 round-trip (Inflater restores the " +
      "exact input), repetitive ≪ prose ≪ random ratio ordering, and " +
      "the raw_bytes column is oracle-covered via token_count's length " +
      "discipline."),
    "freq_approx" -> ("DataSketches frequent-items heavy hitters " +
      "(approx_top_k) — DuckDB has no equivalent sketch, so the estimate " +
      "column is not SQL-reproducible by design. OperatorsSpec asserts " +
      "every reported count matches the exact count within 1% and that " +
      "the reported set contains the exact top-10; the exact tier is " +
      "oracle-green as vocab_topk."),
    "quantiles_approx" -> ("GK-sketch approximate percentiles " +
      "(percentile_approx, accuracy 10000) — DuckDB's approx_quantile is " +
      "a t-digest with different estimates, so values are not " +
      "SQL-reproducible by design. OperatorsSpec bounds each approximate " +
      "quartile within 1% relative error of the exact percentile on the " +
      "same data; the exact tier is oracle-green as group_quartiles."),
    "distinct_approx" -> ("HLL++ sketch counts — DuckDB's " +
      "approx_count_distinct is a different sketch with different " +
      "estimates, so values are not SQL-reproducible by design. " +
      "OperatorsSpec bounds relative error vs exact COUNT(DISTINCT) on " +
      "the same data (rsd=0.02 → assert within 5%); the exact tier is " +
      "oracle-green as distinct_agg."),
    "hll_rollup" -> ("DataSketches HLL sketches (hll_sketch_agg / " +
      "hll_union_agg) — DuckDB has no compatible sketch, so estimates " +
      "are not SQL-reproducible by design. OperatorsSpec pins the " +
      "property the query demonstrates: the union-merged rollup estimate " +
      "EQUALS the direct single-sketch estimate over the same rows " +
      "(mergeability), and both land within 5% of exact " +
      "COUNT(DISTINCT). Exact tier = distinct_agg."))

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

  /** CRC-32/Q replayed in DuckDB SQL: the 256-entry reflected table is
    * built by 8 unrolled CTE shift-xor steps from the 0xD5828281
    * polynomial (the exact construction of
    * [[graft.functions.Crc32Q.table]]), then each input string is folded
    * byte-by-byte through a recursive CTE. Valid because every hashed
    * fixture string is ASCII (unicode(char) == the UTF-8 byte) — the
    * Spark side hashes UTF-8 bytes. Bit-op operands are parenthesized:
    * DuckDB binds `=` tighter than `&`. */
  private def crc32qTablePreludeSql: String = {
    val steps = (1 to 8).map(k =>
      s"t$k AS MATERIALIZED (SELECT i, CASE WHEN (c & 1) = 1 " +
        s"THEN xor(c >> 1, 3582100097) ELSE c >> 1 END AS c FROM t${k - 1})")
    ("t0 AS MATERIALIZED (SELECT range AS i, range AS c FROM range(256))" +:
      steps :+
      "tbl AS MATERIALIZED (SELECT i, c AS v FROM t8)").mkString(",\n")
  }

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

  /** gopher_rules' stopword probe as a DuckDB list body — generated from
    * the SAME Scala list the engine scores with. */
  private def gopherStopSqlList: String =
    graft.operators.TextAnalysis.stopwords.toMap.apply("en")
      .map(s => s"'$s'").mkString(",")

  def oracleSql: Map[String, String] = Map(

    "doc_fingerprint" -> XxhOracleSql.docFingerprintSql,

    "winnow_fingerprints" -> XxhOracleSql.winnowFingerprintsSql,

    "winnow_pairs" -> XxhOracleSql.winnowPairsSql,
    "dedup_simhash" -> XxhOracleSql.dedupSimhashSql,
    "simhash_pairs" -> XxhOracleSql.simhashPairsSql(maxDist = 4),
    "dedup_minhash" -> XxhOracleSql.dedupMinhashSql,
    "reach_hll" -> XxhOracleSql.reachHllSql,
    "eff_diameter" -> XxhOracleSql.effDiameterSql,
    "bpe_apply" -> bpeApplyOracleSql,

    "bpe_fertility" -> bpeFertilityOracleSql,

    // funnel replay: each declared stage's survivor set as a CTE (the
    // gopher gate with the funnel's generated word floor, min-id-per-text
    // dedup, the mixture_sample rate derivation over stage-2 survivors),
    // then three count rows — stage literals shared with funnelSpecJson
    "curation_funnel" -> {
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
    },

    // conditional entropy replay: per-bigram-TYPE ln quantized to micros
    // before the integer sum (quantize-once discipline)
    "bigram_entropy" ->
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
        |FROM b JOIN f ON split_part(b.s, ' ', 1) = f.w1""".stripMargin,

    "pca_power" -> PcaOracleSql.pcaPowerSql(),

    "mst_forest" -> mstForestOracleSql,

    "crc32_hash" -> ("WITH RECURSIVE " + crc32qTablePreludeSql + """,
      |data AS MATERIALIZED (
      |  SELECT doc_id, 'j' AS wh,
      |    CAST(to_json(struct_pack(doc_id := doc_id, lang := lang,
      |      source := source)) AS VARCHAR) AS s
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'l' AS wh, lang AS s FROM documents),
      |st(doc_id, wh, pos, crc) AS (
      |  SELECT doc_id, wh, 0, 4294967295 FROM data
      |  UNION ALL
      |  SELECT s.doc_id, s.wh, s.pos + 1, xor(t.v, s.crc >> 8)
      |  FROM st s JOIN data d ON d.doc_id = s.doc_id AND d.wh = s.wh
      |  JOIN tbl t
      |    ON t.i = (xor(s.crc, unicode(substr(d.s, s.pos + 1, 1))) & 255)
      |  WHERE s.pos < length(d.s)),
      |fin AS (
      |  SELECT s.doc_id, s.wh, xor(s.crc, 4294967295) AS h
      |  FROM st s JOIN data d ON d.doc_id = s.doc_id AND d.wh = s.wh
      |  WHERE s.pos = length(d.s))
      |SELECT j.doc_id, CAST(j.h AS BIGINT) AS h, CAST(l.h AS BIGINT) AS h_lang
      |FROM fin j JOIN fin l ON j.doc_id = l.doc_id
      |WHERE j.wh = 'j' AND l.wh = 'l'""").stripMargin,

    "cast_string_hash" -> ("WITH RECURSIVE " + crc32qTablePreludeSql + """,
      |data AS MATERIALIZED (
      |  SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS s FROM orders),
      |st(o_orderkey, pos, crc) AS (
      |  SELECT o_orderkey, 0, 4294967295 FROM data
      |  UNION ALL
      |  SELECT s.o_orderkey, s.pos + 1, xor(t.v, s.crc >> 8)
      |  FROM st s JOIN data d ON d.o_orderkey = s.o_orderkey
      |  JOIN tbl t
      |    ON t.i = (xor(s.crc, unicode(substr(d.s, s.pos + 1, 1))) & 255)
      |  WHERE s.pos < length(d.s))
      |SELECT s.o_orderkey, CAST(xor(s.crc, 4294967295) AS BIGINT) AS h
      |FROM st s JOIN data d ON d.o_orderkey = s.o_orderkey
      |WHERE s.pos = length(d.s)""").stripMargin,

    // PAV isotonic pools == vertices of the GREATEST CONVEX MINORANT of
    // the per-group cumulative-sum diagram (Barlow et al. 1972): prefix
    // point P_i = (Σn, Σs) is a pool boundary iff NO chord P_j–P_k
    // (j<i<k) passes below it — an exact integer cross-multiplied test,
    // replayable in SQL because groups hold ≤24 hour-of-day points.
    "isotonic_fit" ->
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
        |JOIN pools p ON p.g = o.g AND o.rn > p.lo AND o.rn <= p.hi""".stripMargin,
    "scan_parquet" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(round(l_extendedprice*100, 0) AS BIGINT) AS price_cents
        | FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin,

    "scan_json" ->
      "SELECT event_id, CAST(props->>'k' AS INT) AS k FROM events",

    "explode_array" ->
      """SELECT vec_id, pos - 1 AS pos,
        | CAST(round(CAST(v AS DOUBLE)*1000000, 0) AS BIGINT) AS v_micro
        | FROM (SELECT vec_id, unnest(embedding) AS v,
        |   generate_subscripts(embedding, 1) AS pos FROM embeddings)""".stripMargin,

    "explode_nested" ->
      """SELECT l_orderkey, l_linenumber AS line_no,
        | CAST(round(l_quantity*100, 0) AS BIGINT) AS qty_cents FROM lineitem""".stripMargin,

    "project_rename" ->
      """SELECT o_orderkey AS order_id, o_custkey AS customer_id,
        | o_orderstatus AS status FROM orders""".stripMargin,

    "nested_field" ->
      "SELECT event_id, user_id AS uid, event_type AS et FROM events",

    "const_column" ->
      "SELECT DISTINCT lang AS external_id, 'true' AS latest FROM documents",

    "edge_pairs" ->
      """SELECT CAST(o_custkey AS VARCHAR) AS a_id,
        | CAST(o_orderkey AS VARCHAR) AS b_id FROM orders""".stripMargin,

    "pos_size" ->
      """SELECT vec_id, len(embedding) AS n_dims,
        | len(embedding) - 1 AS last_idx FROM embeddings""".stripMargin,

    // three unrolled integer-micro iterations — aggregates aren't allowed
    // in a recursive CTE term, and unrolling keeps every step plain SQL
    "pagerank" ->
      """WITH edges AS (
        |  SELECT l_suppkey*4 AS src, l_partkey*4+1 AS dst FROM lineitem
        |  UNION
        |  SELECT l_partkey*4+1, l_orderkey*4+2 FROM lineitem
        |  UNION
        |  SELECT o_orderkey*4+2, o_custkey*4+3 FROM orders),
        |outd AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
        |nodes AS (SELECT src AS id FROM edges
        |          UNION SELECT dst FROM edges),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS id, SUM(r.r // o.od) AS s FROM edges e
        |       JOIN r0 r ON e.src = r.id JOIN outd o ON e.src = o.src
        |       GROUP BY 1),
        |r1 AS (SELECT n.id,
        |         CAST(150000 + COALESCE((850 * c.s) // 1000, 0) AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c1 c ON n.id = c.id),
        |c2 AS (SELECT e.dst AS id, SUM(r.r // o.od) AS s FROM edges e
        |       JOIN r1 r ON e.src = r.id JOIN outd o ON e.src = o.src
        |       GROUP BY 1),
        |r2 AS (SELECT n.id,
        |         CAST(150000 + COALESCE((850 * c.s) // 1000, 0) AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c2 c ON n.id = c.id),
        |c3 AS (SELECT e.dst AS id, SUM(r.r // o.od) AS s FROM edges e
        |       JOIN r2 r ON e.src = r.id JOIN outd o ON e.src = o.src
        |       GROUP BY 1),
        |r3 AS (SELECT n.id,
        |         CAST(150000 + COALESCE((850 * c.s) // 1000, 0) AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c3 c ON n.id = c.id)
        |SELECT id, r AS rank_micro FROM r3""".stripMargin,

    "ppr" ->
      """WITH edges AS (
        |  SELECT l_suppkey*4 AS src, l_partkey*4+1 AS dst FROM lineitem
        |  UNION
        |  SELECT l_partkey*4+1, l_orderkey*4+2 FROM lineitem
        |  UNION
        |  SELECT o_orderkey*4+2, o_custkey*4+3 FROM orders),
        |outd AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
        |nodes AS (SELECT src AS id FROM edges
        |          UNION SELECT dst FROM edges),
        |sd AS (SELECT DISTINCT s_suppkey*4 AS id FROM supplier
        |       WHERE s_suppkey % 50 = 0),
        |nz AS (SELECT n.id,
        |         CASE WHEN sd.id IS NULL THEN 0 ELSE 1 END AS sf
        |       FROM nodes n LEFT JOIN sd ON sd.id = n.id),
        |r0 AS (SELECT id, CAST(sf * 1000000 AS BIGINT) AS r FROM nz),
        |c1 AS (SELECT e.dst AS id, SUM(r.r // o.od) AS s FROM edges e
        |       JOIN r0 r ON e.src = r.id JOIN outd o ON e.src = o.src
        |       GROUP BY 1),
        |r1 AS (SELECT n.id,
        |         CAST(n.sf * 150000 + COALESCE((850 * c.s) // 1000, 0)
        |           AS BIGINT) AS r
        |       FROM nz n LEFT JOIN c1 c ON n.id = c.id),
        |c2 AS (SELECT e.dst AS id, SUM(r.r // o.od) AS s FROM edges e
        |       JOIN r1 r ON e.src = r.id JOIN outd o ON e.src = o.src
        |       GROUP BY 1),
        |r2 AS (SELECT n.id,
        |         CAST(n.sf * 150000 + COALESCE((850 * c.s) // 1000, 0)
        |           AS BIGINT) AS r
        |       FROM nz n LEFT JOIN c2 c ON n.id = c.id),
        |c3 AS (SELECT e.dst AS id, SUM(r.r // o.od) AS s FROM edges e
        |       JOIN r2 r ON e.src = r.id JOIN outd o ON e.src = o.src
        |       GROUP BY 1),
        |r3 AS (SELECT n.id,
        |         CAST(n.sf * 150000 + COALESCE((850 * c.s) // 1000, 0)
        |           AS BIGINT) AS r
        |       FROM nz n LEFT JOIN c3 c ON n.id = c.id)
        |SELECT id, r AS ppr_micro FROM r3""".stripMargin,

    "triangle_count" ->
      """WITH g AS (
        |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
        |                  greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |          < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |         + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |tri AS (
        |  SELECT x.a AS a, x.b AS b, y.b AS c FROM g x
        |  JOIN g y ON x.b = y.a
        |  JOIN g z ON z.a = x.a AND z.b = y.b)
        |SELECT id, COUNT(*) AS n_tri FROM (
        |  SELECT a AS id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY id""".stripMargin,

    "readability" ->
      """WITH d AS (SELECT source,
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
        |FROM d WHERE w > 0 GROUP BY 1""".stripMargin,

    "triplet_margins" ->
      """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
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
        |FROM p GROUP BY 1, 2""".stripMargin,

    "assortativity" ->
      """WITH g AS (
        |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
        |                  greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |          < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |         + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |deg AS (SELECT id, COUNT(*) AS deg FROM (
        |    SELECT a AS id FROM g UNION ALL SELECT b FROM g) GROUP BY 1),
        |wd AS (SELECT da.deg AS da, db.deg AS db FROM g
        |  JOIN deg da ON g.a = da.id JOIN deg db ON g.b = db.id),
        |p AS (SELECT da AS x, db AS y FROM wd
        |      UNION ALL SELECT db, da FROM wd),
        |st AS (SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM p)
        |SELECT n AS n_ends,
        |  CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx = 0 THEN NULL ELSE
        |    CAST(round(CAST(CAST(n AS HUGEINT) * sxy - sx * sx AS DOUBLE)
        |      * 1000000 /
        |      CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE), 0)
        |      AS BIGINT) END AS r_micro
        |FROM st""".stripMargin,

    "kcore" ->
      """WITH g AS (
        |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
        |                  greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |          < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |         + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |u0 AS (SELECT a AS s, b AS d FROM g
        |       UNION ALL SELECT b AS s, a AS d FROM g),
        |k1 AS (SELECT s FROM (SELECT s, COUNT(*) AS deg FROM u0 GROUP BY 1)
        |       WHERE deg >= 15),
        |u1 AS (SELECT u.s, u.d FROM u0 u
        |       JOIN k1 x ON u.s = x.s JOIN k1 y ON u.d = y.s),
        |k2 AS (SELECT s FROM (SELECT s, COUNT(*) AS deg FROM u1 GROUP BY 1)
        |       WHERE deg >= 15),
        |u2 AS (SELECT u.s, u.d FROM u1 u
        |       JOIN k2 x ON u.s = x.s JOIN k2 y ON u.d = y.s),
        |k3 AS (SELECT s FROM (SELECT s, COUNT(*) AS deg FROM u2 GROUP BY 1)
        |       WHERE deg >= 15),
        |u3 AS (SELECT u.s, u.d FROM u2 u
        |       JOIN k3 x ON u.s = x.s JOIN k3 y ON u.d = y.s),
        |k4 AS (SELECT s FROM (SELECT s, COUNT(*) AS deg FROM u3 GROUP BY 1)
        |       WHERE deg >= 15),
        |u4 AS (SELECT u.s, u.d FROM u3 u
        |       JOIN k4 x ON u.s = x.s JOIN k4 y ON u.d = y.s)
        |SELECT s AS id, COUNT(*) AS deg FROM u4 GROUP BY 1""".stripMargin,

    "clustering_coeff" ->
      """WITH g AS (
        |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
        |                  greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |          < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |         + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |deg AS (SELECT id, COUNT(*) AS deg FROM (
        |    SELECT a AS id FROM g UNION ALL SELECT b FROM g) GROUP BY 1),
        |tri AS (
        |  SELECT x.a AS a, x.b AS b, y.b AS c FROM g x
        |  JOIN g y ON x.b = y.a
        |  JOIN g z ON z.a = x.a AND z.b = y.b),
        |tn AS (SELECT id, COUNT(*) AS n_tri FROM (
        |    SELECT a AS id FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY 1)
        |SELECT d.id, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
        |  CASE WHEN d.deg >= 2 THEN (2000 * COALESCE(t.n_tri, 0))
        |    // (d.deg * (d.deg - 1)) ELSE 0 END AS coeff_permille
        |FROM deg d LEFT JOIN tn t ON d.id = t.id""".stripMargin,

    // bounded BFS as a recursive CTE: UNION-distinct on (id, hop) pairs
    // + the hop < 4 guard make the recursion finite on the cyclic graph;
    // MIN(hop) then recovers the BFS distance for every distance ≤ 4
    "bfs_hops" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0),
        |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |r(id, hop) AS (
        |  SELECT id, CAST(0 AS BIGINT) AS hop FROM n WHERE id % 37 = 0
        |  UNION
        |  SELECT e.dst, r.hop + 1 FROM r JOIN e ON e.src = r.id
        |  WHERE r.hop < 4)
        |SELECT id, MIN(hop) AS hop FROM r GROUP BY id""".stripMargin,

    "random_walks" ->
      """WITH e0 AS (
        |  SELECT DISTINCT l_partkey % 300 AS id, l_suppkey % 300 AS nb
        |  FROM lineitem
        |  WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0),
        |adj0 AS (SELECT id, nb FROM e0 UNION SELECT nb, id FROM e0),
        |adj AS (SELECT id, nb,
        |    CAST(row_number() OVER (PARTITION BY id ORDER BY nb)
        |      AS BIGINT) AS rnk,
        |    COUNT(*) OVER (PARTITION BY id) AS deg FROM adj0),
        |w0 AS (SELECT DISTINCT id AS start, CAST(0 AS BIGINT) AS step,
        |    id AS node FROM adj),
        |w1 AS (SELECT w.start, CAST(1 AS BIGINT) AS step, a.nb AS node
        |  FROM w0 w JOIN adj a ON a.id = w.node
        |    AND a.rnk = ((w.start % 2147483647) * 2654435761 + 97) % a.deg + 1),
        |w2 AS (SELECT w.start, CAST(2 AS BIGINT) AS step, a.nb AS node
        |  FROM w1 w JOIN adj a ON a.id = w.node
        |    AND a.rnk = ((w.start % 2147483647) * 2654435761 + 194) % a.deg + 1),
        |w3 AS (SELECT w.start, CAST(3 AS BIGINT) AS step, a.nb AS node
        |  FROM w2 w JOIN adj a ON a.id = w.node
        |    AND a.rnk = ((w.start % 2147483647) * 2654435761 + 291) % a.deg + 1),
        |w4 AS (SELECT w.start, CAST(4 AS BIGINT) AS step, a.nb AS node
        |  FROM w3 w JOIN adj a ON a.id = w.node
        |    AND a.rnk = ((w.start % 2147483647) * 2654435761 + 388) % a.deg + 1)
        |SELECT * FROM w0 UNION ALL SELECT * FROM w1
        |UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3
        |UNION ALL SELECT * FROM w4""".stripMargin,

    "did_table" ->
      """WITH e AS (SELECT user_id % 2 AS treat,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
        |cut AS (SELECT (MIN(day) + MAX(day)) // 2 AS c FROM e),
        |p AS (SELECT treat, CASE WHEN day >= cut.c THEN 1 ELSE 0 END
        |    AS post, v FROM e CROSS JOIN cut),
        |g AS (SELECT
        |    CAST(SUM(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t0,
        |    CAST(SUM(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t1,
        |    CAST(SUM(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c0,
        |    CAST(SUM(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c1,
        |    CAST(SUM(CASE WHEN treat = 1 AND post = 0 THEN v ELSE 0 END)
        |      AS BIGINT) AS st0,
        |    CAST(SUM(CASE WHEN treat = 1 AND post = 1 THEN v ELSE 0 END)
        |      AS BIGINT) AS st1,
        |    CAST(SUM(CASE WHEN treat = 0 AND post = 0 THEN v ELSE 0 END)
        |      AS BIGINT) AS sc0,
        |    CAST(SUM(CASE WHEN treat = 0 AND post = 1 THEN v ELSE 0 END)
        |      AS BIGINT) AS sc1
        |  FROM p),
        |m AS (SELECT n_t0, n_t1, n_c0, n_c1,
        |    CAST(round(st0 * 1000.0 / n_t0, 0) AS BIGINT) AS m_t0,
        |    CAST(round(st1 * 1000.0 / n_t1, 0) AS BIGINT) AS m_t1,
        |    CAST(round(sc0 * 1000.0 / n_c0, 0) AS BIGINT) AS m_c0,
        |    CAST(round(sc1 * 1000.0 / n_c1, 0) AS BIGINT) AS m_c1
        |  FROM g)
        |SELECT n_t0, n_t1, n_c0, n_c1, m_t0, m_t1, m_c0, m_c1,
        |  (m_t1 - m_t0) - (m_c1 - m_c0) AS did_millicents
        |FROM m""".stripMargin,

    "ts_decompose" ->
      """WITH d AS (SELECT event_type AS et,
        |    epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT et, day, n,
        |    SUM(n) OVER w AS ts2, COUNT(*) OVER w AS tc
        |  FROM d WINDOW w AS (PARTITION BY et ORDER BY day
        |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |tr AS (SELECT et, day, n,
        |    CAST(round(ts2 * 1000.0 / tc, 0) AS BIGINT) AS trend_milli
        |  FROM t),
        |dv AS (SELECT et, day, n, trend_milli,
        |    n * 1000 - trend_milli AS dev FROM tr),
        |se AS (SELECT et, day, n, trend_milli,
        |    CAST(round(CAST(SUM(dev) OVER s AS DOUBLE) /
        |      (COUNT(*) OVER s), 0) AS BIGINT) AS seasonal_milli
        |  FROM dv WINDOW s AS (PARTITION BY et, (day + 4) % 7))
        |SELECT et, day, CAST(n AS BIGINT) AS n, trend_milli,
        |  seasonal_milli,
        |  n * 1000 - trend_milli - seasonal_milli AS resid_milli
        |FROM se""".stripMargin,

    "closeness_centrality" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0),
        |e AS (SELECT src, dst FROM e0
        |      UNION SELECT dst AS src, src AS dst FROM e0),
        |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |r(src, id, hop) AS (
        |  SELECT id, id, CAST(0 AS BIGINT) FROM n WHERE id % 75 = 0
        |  UNION
        |  SELECT r.src, e.dst, r.hop + 1 FROM r JOIN e ON e.src = r.id
        |  WHERE r.hop < 4),
        |d AS (SELECT src, id, MIN(hop) AS hop FROM r GROUP BY 1, 2)
        |SELECT id, COUNT(*) AS n_landmarks,
        |  CAST(SUM(hop) AS BIGINT) AS total_hops, MIN(hop) AS min_hop
        |FROM d GROUP BY 1""".stripMargin,

    "negative_sample" ->
      """WITH e AS (
        |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
        |    greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |      < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |       + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |n AS (SELECT a AS id FROM e UNION SELECT b FROM e),
        |nb AS (SELECT id, ((id % 2147483647) * 2654435761) % 16 AS bkt FROM n),
        |pr AS (SELECT id AS u, (((id % 2147483647) * 2654435761) % 16 + j) % 16 AS pb
        |       FROM n CROSS JOIN (SELECT unnest([1, 2, 3]) AS j)),
        |c AS (SELECT pr.u, nb.id AS v FROM pr
        |      JOIN nb ON pr.pb = nb.bkt WHERE pr.u <> nb.id),
        |cf AS (SELECT u, v FROM c WHERE NOT EXISTS (
        |    SELECT 1 FROM e
        |    WHERE e.a = least(u, v) AND e.b = greatest(u, v))),
        |r AS (SELECT u, v, row_number() OVER (PARTITION BY u
        |    ORDER BY (((u * 31 + v) % 2147483647) * 2654435761) % 1000000, v) AS rank
        |  FROM cf)
        |SELECT u, v, rank FROM r WHERE rank <= 5""".stripMargin,

    "hits_scores" ->
      """WITH e AS (
        |  SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0),
        |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT id, CAST(1 AS BIGINT) AS h FROM n),
        |a1r AS (SELECT e.dst AS id, SUM(h0.h) AS a FROM e
        |  JOIN h0 ON e.src = h0.id GROUP BY 1),
        |a1 AS (SELECT n.id, CAST(COALESCE(a1r.a, 0) AS BIGINT) AS a
        |  FROM n LEFT JOIN a1r USING (id)),
        |h1r AS (SELECT e.src AS id, SUM(a1.a) AS h FROM e
        |  JOIN a1 ON e.dst = a1.id GROUP BY 1),
        |h1 AS (SELECT n.id, CAST(COALESCE(h1r.h, 0) AS BIGINT) AS h
        |  FROM n LEFT JOIN h1r USING (id)),
        |a2r AS (SELECT e.dst AS id, SUM(h1.h) AS a FROM e
        |  JOIN h1 ON e.src = h1.id GROUP BY 1),
        |a2 AS (SELECT n.id, CAST(COALESCE(a2r.a, 0) AS BIGINT) AS a
        |  FROM n LEFT JOIN a2r USING (id)),
        |h2r AS (SELECT e.src AS id, SUM(a2.a) AS h FROM e
        |  JOIN a2 ON e.dst = a2.id GROUP BY 1),
        |h2 AS (SELECT n.id, CAST(COALESCE(h2r.h, 0) AS BIGINT) AS h
        |  FROM n LEFT JOIN h2r USING (id))
        |SELECT h2.id, h2.h AS hub, a2.a AS auth
        |FROM h2 JOIN a2 ON h2.id = a2.id""".stripMargin,

    "dedup_containment" ->
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
        |      GROUP BY 1, 2, 3, 4)
        |SELECT a, b,
        |  CAST(round(common*1000.0/na, 0) AS BIGINT) AS cont_a_permille,
        |  CAST(round(common*1000.0/nb, 0) AS BIGINT) AS cont_b_permille
        |FROM p
        |WHERE CAST(round(common*1000.0/na, 0) AS BIGINT) >= 300
        |   OR CAST(round(common*1000.0/nb, 0) AS BIGINT) >= 300""".stripMargin,

    "cluster_sizes" ->
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
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        |cl AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
        |sz AS (SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY 1)
        |SELECT sz, COUNT(*) AS n_clusters FROM sz GROUP BY 1""".stripMargin,

    "rfm_scores" ->
      """WITH base AS (SELECT o_custkey, MAX(o_orderdate) AS last_d,
        |    COUNT(*) AS f,
        |    CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |      AS m_cents
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT MAX(o_orderdate) AS max_d FROM orders),
        |b2 AS (SELECT o_custkey,
        |    CAST(date_diff('day', last_d, max_d) AS BIGINT) AS r_days,
        |    f, m_cents FROM base CROSS JOIN mx),
        |q AS (SELECT
        |    quantile_cont(r_days, 0.25) AS r1, quantile_cont(r_days, 0.5)
        |      AS r2, quantile_cont(r_days, 0.75) AS r3,
        |    quantile_cont(f, 0.25) AS f1, quantile_cont(f, 0.5) AS f2,
        |      quantile_cont(f, 0.75) AS f3,
        |    quantile_cont(m_cents, 0.25) AS m1, quantile_cont(m_cents, 0.5)
        |      AS m2, quantile_cont(m_cents, 0.75) AS m3
        |  FROM b2)
        |SELECT o_custkey, r_days, f, m_cents,
        |  CAST((1 + CAST(r_days > r1 AS INT) + CAST(r_days > r2 AS INT)
        |      + CAST(r_days > r3 AS INT)) * 100
        |    + (1 + CAST(f > f1 AS INT) + CAST(f > f2 AS INT)
        |      + CAST(f > f3 AS INT)) * 10
        |    + (1 + CAST(m_cents > m1 AS INT) + CAST(m_cents > m2 AS INT)
        |      + CAST(m_cents > m3 AS INT)) AS BIGINT) AS rfm
        |FROM b2 CROSS JOIN q""".stripMargin,

    "shortest_path" ->
      """WITH e AS (
        |  SELECT src, dst, (src * 13 + dst * 7) % 97 + 1 AS w FROM (
        |    SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |    FROM lineitem
        |    WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0)),
        |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |d0 AS (SELECT id, CAST(0 AS BIGINT) AS cost FROM n WHERE id % 37 = 0),
        |d1 AS (SELECT id, MIN(cost) AS cost FROM (
        |  SELECT * FROM d0 UNION ALL
        |  SELECT e.dst, d.cost + e.w FROM d0 d JOIN e ON e.src = d.id)
        |  GROUP BY id),
        |d2 AS (SELECT id, MIN(cost) AS cost FROM (
        |  SELECT * FROM d1 UNION ALL
        |  SELECT e.dst, d.cost + e.w FROM d1 d JOIN e ON e.src = d.id)
        |  GROUP BY id),
        |d3 AS (SELECT id, MIN(cost) AS cost FROM (
        |  SELECT * FROM d2 UNION ALL
        |  SELECT e.dst, d.cost + e.w FROM d2 d JOIN e ON e.src = d.id)
        |  GROUP BY id),
        |d4 AS (SELECT id, MIN(cost) AS cost FROM (
        |  SELECT * FROM d3 UNION ALL
        |  SELECT e.dst, d.cost + e.w FROM d3 d JOIN e ON e.src = d.id)
        |  GROUP BY id)
        |SELECT id, cost FROM d4""".stripMargin,

    "filter_pred" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        | WHERE (l_quantity < 10 OR l_returnflag <> 'N') AND l_linenumber <= 3""".stripMargin,

    "cast_string" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS ok,
        | strftime(o_orderdate, '%Y-%m-%d') AS od FROM orders""".stripMargin,

    "topk_per_group" ->
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey, row_number() OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "json_roundtrip" ->
      "SELECT event_id, user_id AS uid FROM events",

    "dedup_key" ->
      "SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS external_id FROM lineitem",

    "upsert_lastwins" ->
      """SELECT external_id, line_no, qty_cents FROM (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS external_id,
        |    l_linenumber AS line_no,
        |    CAST(round(l_quantity*100, 0) AS BIGINT) AS qty_cents,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber DESC,
        |        CAST(round(l_quantity*100, 0) AS BIGINT) DESC) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin,

    "edge_resolve_join" ->
      """SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS a_id,
        | CAST(l_suppkey AS VARCHAR) AS b_id FROM lineitem
        | WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 25)
        |   AND l_suppkey IN (SELECT s_suppkey FROM supplier)""".stripMargin,

    "salted_join" ->
      """SELECT l_orderkey AS k, l_linenumber, o_orderpriority
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE o_orderkey % 4 = 0""".stripMargin,

    "snapshot_diff" ->
      s"""WITH b AS ($rBatchSql), s AS ($rStateSql)
        |SELECT COALESCE(b.external_id, s.external_id) AS external_id,
        |  CASE WHEN b.external_id IS NULL THEN 'delete'
        |       WHEN s.external_id IS NULL THEN 'create'
        |       WHEN b.tok <> s.tok THEN 'create'
        |       ELSE 'unchanged' END AS op
        |FROM b FULL OUTER JOIN s ON b.external_id = s.external_id""".stripMargin,

    "anti_join" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS external_id FROM orders
        | WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 = 0""".stripMargin,

    "semi_changed" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS external_id FROM orders
        | WHERE o_orderkey % 7 <> 0
        |   AND (o_orderkey % 3 = 0 OR o_orderkey % 5 = 0)""".stripMargin,

    "reconcile_delta" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS external_id, 'create' AS op
        | FROM orders WHERE o_orderkey % 7 <> 0
        |   AND (o_orderkey % 3 = 0 OR o_orderkey % 5 = 0)
        |UNION ALL
        |SELECT CAST(o_orderkey AS VARCHAR) AS external_id, 'delete' AS op
        | FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 = 0""".stripMargin,

    "reconcile_passthru" ->
      """SELECT CAST(o_custkey AS VARCHAR) AS a_id,
        | CAST(o_orderkey AS VARCHAR) AS b_id FROM orders""".stripMargin,

    "reconcile_commit" ->
      """SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS external_id
        | FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,

    "delete_keys" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS external_id,
        | o_orderstatus AS status
        | FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(round(l_quantity*100, 0) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        | CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        | CAST(SUM(CAST(round(l_discount*100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "count_rows" ->
      "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag",

    "distinct_agg" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
        | COUNT(*) AS n FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "group_quartiles" ->
      """SELECT l_returnflag AS flag,
        | CAST(round(quantile_cont(l_quantity, 0.25) * 100) AS BIGINT) AS q1_cents,
        | CAST(round(quantile_cont(l_quantity, 0.5) * 100) AS BIGINT) AS q2_cents,
        | CAST(round(quantile_cont(l_quantity, 0.75) * 100) AS BIGINT) AS q3_cents,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,

    "scd2_build" ->
      """WITH v AS (SELECT o_custkey, o_orderkey,
        |    strftime(o_orderdate, '%Y-%m-%d') AS od,
        |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS price_cents
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, price_cents, od AS eff_from,
        |  COALESCE(LEAD(od) OVER w, '9999-12-31') AS eff_to,
        |  CAST(CASE WHEN LEAD(od) OVER w IS NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_current
        |FROM v WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY od, o_orderkey)""".stripMargin,

    "scd2_lookup" ->
      """WITH v AS (SELECT o_custkey, o_orderkey,
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
        |GROUP BY 1""".stripMargin,

    "winsorize" ->
      """WITH f AS (SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice*100, 0) AS BIGINT) AS pc
        |  FROM lineitem),
        |s AS (SELECT flag,
        |    CAST(round(quantile_cont(pc, 0.05), 0) AS BIGINT) AS lo,
        |    CAST(round(quantile_cont(pc, 0.95), 0) AS BIGINT) AS hi
        |  FROM f GROUP BY 1)
        |SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(LEAST(GREATEST(pc, lo), hi)) AS BIGINT) AS sum_clamped
        |FROM f JOIN s USING (flag) GROUP BY 1""".stripMargin,

    "weighted_median" ->
      """WITH e AS (SELECT l_returnflag AS flag,
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
        |FROM c WHERE cumw * 2 >= totw GROUP BY 1""".stripMargin,

    "apportion" ->
      """WITH s AS (SELECT source, lang, COUNT(*) AS cnt
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
        |FROM z""".stripMargin,

    "gini_revenue" ->
      """WITH e AS (SELECT o_orderpriority AS prio,
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
        |FROM st""".stripMargin,

    "skew_report" ->
      """WITH c AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1),
        |t AS (SELECT SUM(n) AS tot FROM c),
        |top AS (SELECT o_custkey, n FROM c
        |        ORDER BY n DESC, o_custkey LIMIT 20)
        |SELECT o_custkey, CAST(n AS BIGINT) AS n,
        |  CAST(n * 1000 // tot AS BIGINT) AS share_permille
        |FROM top, t""".stripMargin,

    "zorder_layout" ->
      """WITH b AS (SELECT o_orderkey, o_custkey & 255 AS x,
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
        |  CAST((x | (y<<1)) // 64 AS BIGINT) AS zbucket FROM s3""".stripMargin,

    "hilbert_layout" -> hilbertLayoutSql,

    // same 8-word segmentation via list comprehension; parallel unnest
    // zips (line, pos); per-doc rebuild = ordered FILTERed list agg.
    // COALESCE mirrors Spark's concat_ws-over-empty = ''.
    "line_dedup" ->
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
        |GROUP BY l.doc_id""".stripMargin,

    // 8-token windows via zipped parallel unnest (list comprehension +
    // range align positionally); duplicated sliver = HAVING count >= 2;
    // interval merge = gaps-and-islands window pair, identical frames to
    // the Spark side.
    "dup_spans" ->
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
        |FROM i GROUP BY doc_id, seg""".stripMargin,

    // same span chain + per-doc rollup, LEFT JOIN keeps zero-dup docs
    "span_coverage" ->
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
        |FROM b LEFT JOIN cv USING (doc_id)""".stripMargin,

    // spans re-exploded to covered positions; rebuild = ordered FILTERed
    // list agg, COALESCE mirrors concat_ws-over-empty = ''
    "substring_excise" ->
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
        |GROUP BY tk.doc_id""".stripMargin,

    // 31-ary polynomial char hash mod 2^20 mod 4096 replayed as a
    // list_reduce fold (every bit op parenthesized); smoothed permille
    // ratio is pure-integer //; totals ride a 1-row cross join
    "dsir_weights" ->
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
        .replace("DSIRBKT", TextAnalysis.DsirBuckets.toString),

    // same front end as dsir_weights; the score stage is the smoothed
    // log-likelihood ratio rounded to integer micros BEFORE the per-doc
    // sum (ln of exact integer args on both sides; a micros flip would
    // need DuckDB's and Java's ln to straddle a .5 boundary 1e-10 ulps
    // wide — quantize-before-sum makes the aggregate itself exact)
    "dsir_log" ->
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
        .replace("DSIRBKT", TextAnalysis.DsirBuckets.toString),

    "text_normalize" ->
      """WITH c AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
        |      AS canon
        |  FROM documents)
        |SELECT doc_id, canon, CAST(length(canon) AS BIGINT) AS n_chars
        |FROM c""".stripMargin,

    "grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |   AS total_cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin,

    "rank_permille" ->
      """SELECT o_orderkey, o_orderpriority AS prio,
        | CAST(round(percent_rank() OVER w * 1000, 0) AS BIGINT)
        |   AS pr_permille,
        | CAST(round(cume_dist() OVER w * 1000, 0) AS BIGINT)
        |   AS cd_permille
        |FROM orders WINDOW w AS (PARTITION BY o_orderpriority
        | ORDER BY CAST(round(o_totalprice*100, 0) AS BIGINT), o_orderkey)""".stripMargin,

    "nullsafe_join" ->
      """WITH o AS (SELECT o_orderkey,
        |    CASE WHEN o_orderstatus = 'P' THEN NULL
        |         ELSE o_orderstatus END AS st
        |  FROM orders),
        |d AS (SELECT st, COUNT(*) AS st_n FROM o GROUP BY 1)
        |SELECT o.o_orderkey, d.st, CAST(d.st_n AS BIGINT) AS st_n
        |FROM o JOIN d ON o.st IS NOT DISTINCT FROM d.st""".stripMargin,

    "array_hof" ->
      """WITH tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(list_filter(w, x -> length(x) > 4)) AS BIGINT) AS n_long,
        | CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
        |   AS sum_len,
        | CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq
        |FROM tk""".stripMargin,

    "json_path" ->
      "SELECT event_id, event_type AS etype FROM events",

    "funnel_stages" ->
      """WITH e AS (SELECT user_id, event_type AS et, epoch_us(ts) AS t_us
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
        |        LEFT JOIN s3 USING (user_id)""".stripMargin,

    "retention_cohorts" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY 1)
        |SELECT cohort, day - cohort AS age_days,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,

    "event_debounce" ->
      """SELECT event_id, user_id, event_type, t_us FROM (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events)
        |WHERE prev IS NULL OR t_us - prev >= 300000000""".stripMargin,

    // three unrolled synchronous rounds (same reason as pagerank: no
    // aggregates inside a recursive CTE term)
    "label_prop" ->
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
        |FROM l3""".stripMargin,

    // label_prop's three unrolled rounds, then the modularity sufficient
    // statistics: canonical (src < dst) edges, degree mass and internal
    // edges per community, all-integer contribution numerators.
    "modularity_score" ->
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
        |FROM ds LEFT JOIN ei ON ds.lab = ei.lab CROSS JOIN mm""".stripMargin,

    "outlier_sigma" ->
      """WITH f AS (SELECT event_type AS et,
        |    CAST(round(value*100, 0) AS BIGINT) AS v FROM events),
        |s AS (SELECT et, COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS sv,
        |        SUM(CAST(v AS HUGEINT) * v) AS svv
        |      FROM f GROUP BY 1)
        |SELECT et,
        |  CAST(COUNT(*) FILTER (WHERE
        |    (CAST(v AS HUGEINT)*n - sv)*(CAST(v AS HUGEINT)*n - sv)
        |      > 9*(n*svv - sv*sv)) AS BIGINT) AS n_outliers,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM f JOIN s USING (et) GROUP BY 1""".stripMargin,

    // doubled-scale integer median/MAD (quantile_cont == Spark's exact
    // percentile: linear interpolation, exact in doubles at cent scale)
    "mad_outliers" ->
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
        |FROM a JOIN md USING (et) GROUP BY 1""".stripMargin,

    "event_transitions" ->
      """WITH e AS (SELECT user_id, event_type AS et, epoch_us(ts) AS t_us,
        |    event_id FROM events),
        |p AS (SELECT user_id, et, lag(et) OVER (PARTITION BY user_id
        |        ORDER BY t_us, event_id) AS prev FROM e),
        |c AS (SELECT prev AS prev_et, et, COUNT(*) AS n FROM p
        |      WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_et, et, CAST(n AS BIGINT) AS n,
        |  CAST(n * 1000 // SUM(n) OVER (PARTITION BY prev_et) AS BIGINT)
        |    AS permille
        |FROM c""".stripMargin,

    "twap_user" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, event_id,
        |    CAST(round(value*100, 0) AS BIGINT) AS v FROM events),
        |d AS (SELECT user_id, v,
        |    lead(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id)
        |      - t_us AS dt
        |  FROM e)
        |SELECT user_id,
        |  CAST(SUM(CAST(v AS HUGEINT) * dt) // SUM(dt) AS BIGINT)
        |    AS twap_cents,
        |  CAST(COUNT(*) AS BIGINT) AS n_spans
        |FROM d WHERE dt IS NOT NULL GROUP BY 1""".stripMargin,

    "ohlc_bars" ->
      """WITH e AS (SELECT event_type AS et,
        |    epoch_us(ts) // 3600000000 AS hour,
        |    epoch_us(ts) AS t_us, event_id,
        |    CAST(round(value*100, 0) AS BIGINT) AS v FROM events)
        |SELECT et, hour,
        |  FIRST(v ORDER BY t_us, event_id) AS open,
        |  MAX(v) AS high, MIN(v) AS low,
        |  LAST(v ORDER BY t_us, event_id) AS close,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM e GROUP BY 1, 2""".stripMargin,

    "ann_reciprocal" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x
        |    FROM embeddings WHERE vec_id % 4 = 0),
        |p AS (SELECT a.id AS aid, b.id AS bid,
        |    CAST(round(list_dot_product(a.x, b.x) /
        |      (sqrt(list_dot_product(a.x, a.x)) *
        |       sqrt(list_dot_product(b.x, b.x))) * 1000.0, 0) AS BIGINT)
        |      AS cos
        |  FROM v a, v b WHERE a.id < b.id),
        |d AS (SELECT aid AS q, bid AS n, cos FROM p
        |      UNION ALL SELECT bid, aid, cos FROM p),
        |r AS (SELECT q, n, cos, row_number() OVER (PARTITION BY q
        |    ORDER BY cos DESC, n ASC) AS rn FROM d),
        |k AS (SELECT q, n, cos FROM r WHERE rn <= 3)
        |SELECT k1.q AS a, k1.n AS b, k1.cos AS cos_permille
        |FROM k k1 JOIN k k2 ON k1.q = k2.n AND k1.n = k2.q
        |WHERE k1.q < k1.n""".stripMargin,

    "pareto_front" ->
      """WITH c AS (SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |      AS spend_cents,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT spend_cents, o_custkey, n_orders FROM c p
        |WHERE NOT EXISTS (SELECT 1 FROM c q
        |  WHERE q.spend_cents >= p.spend_cents
        |    AND q.n_orders >= p.n_orders
        |    AND (q.spend_cents > p.spend_cents
        |      OR q.n_orders > p.n_orders))""".stripMargin,

    "ivm_agg" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders
        |WHERE NOT (o_orderdate < TIMESTAMP '1997-01-01'
        |  AND o_orderstatus = 'F')
        |GROUP BY 1""".stripMargin,

    // CDC replay: the byte formula, gear, 8-lag rolling hash, boundary
    // cumsum, and chunk-relative positional signature are pure integer
    // window/aggregate algebra on both sides — null leading lags void
    // the first window-1 boundary tests identically
    "cdc_chunks" -> cdcChunksSqlBody,

    "cdc_dedup" ->
      s"""WITH chunks AS ($cdcChunksSqlBody)
        |SELECT CAST(SUM(cnt) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(*) AS BIGINT) AS n_unique,
        |  CAST((1000 * (SUM(cnt) - COUNT(*))) // SUM(cnt) AS BIGINT)
        |    AS dup_permille,
        |  CAST(SUM(cnt * len) AS BIGINT) AS bytes_total,
        |  CAST(SUM((cnt - 1) * len) AS BIGINT) AS bytes_saved
        |FROM (SELECT chunk_sig, len, COUNT(*) AS cnt
        |  FROM chunks GROUP BY 1, 2) u""".stripMargin,

    "mm_ahash" ->
      """WITH a AS (SELECT doc_id AS asset_id,
        |    octet_length(encode(text)) % 16 + 8 AS w,
        |    octet_length(encode(text)) % 12 + 8 AS h
        |  FROM documents WHERE doc_id % 5 = 0),
        |d AS (SELECT asset_id, w, h, ((3*w + 3) // 4) * 4 AS rs FROM a),
        |c AS (SELECT asset_id, w, h, rs, cell % 8 AS cx, cell // 8 AS cy
        |  FROM d, unnest(generate_series(0, 63)) AS t(cell)),
        |c2 AS (SELECT asset_id, w, h, cx, cy,
        |    (h - 1 - ((2*cy + 1) * h) // 16) * rs
        |      + 3 * (((2*cx + 1) * w) // 16) AS k
        |  FROM c),
        |l AS (SELECT asset_id, w, h, cx, cy,
        |    (299 * ((asset_id*31 + (k + 2)*2654435761) % 256)
        |   + 587 * ((asset_id*31 + (k + 1)*2654435761) % 256)
        |   + 114 * ((asset_id*31 + k*2654435761) % 256)) // 1000 AS luma
        |  FROM c2),
        |s AS (SELECT asset_id, SUM(luma) AS tot FROM l GROUP BY 1),
        |b AS (SELECT l.asset_id, l.w, l.h, l.cy,
        |    SUM(CASE WHEN l.luma * 64 > s.tot THEN 1 << l.cx ELSE 0 END)
        |      AS rb
        |  FROM l JOIN s USING (asset_id) GROUP BY 1, 2, 3, 4)
        |SELECT asset_id, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  string_agg(lpad(hex(CAST(rb AS BIGINT)), 2, '0'), ''
        |    ORDER BY cy) AS ahash_hex
        |FROM b GROUP BY 1, 2, 3""".stripMargin,

    // PNG-pixel replay: the decoded-and-unfiltered pixels equal the
    // closed-form pre-filter formula (un-filtering inverts filtering),
    // so the oracle samples the formula at the PNG top-down raw index
    // k = py·3w + 3·px — no binary parsing, no filter math; every
    // engine-side inflate/un-filter defect lands here as a hash diff.
    "mm_png_pixels" ->
      """WITH a AS (SELECT doc_id AS asset_id,
        |    octet_length(encode(text)) % 16 + 8 AS w,
        |    octet_length(encode(text)) % 12 + 8 AS h
        |  FROM documents WHERE doc_id % 5 = 0),
        |c AS (SELECT asset_id, w, h, cell % 8 AS cx, cell // 8 AS cy
        |  FROM a, unnest(generate_series(0, 63)) AS t(cell)),
        |c2 AS (SELECT asset_id, w, h, cx, cy,
        |    (((2*cy + 1) * h) // 16) * 3 * w
        |      + 3 * (((2*cx + 1) * w) // 16) AS k
        |  FROM c),
        |l AS (SELECT asset_id, w, h, cx, cy,
        |    (299 * ((asset_id*31 + (k + 2)*2654435761) % 256)
        |   + 587 * ((asset_id*31 + (k + 1)*2654435761) % 256)
        |   + 114 * ((asset_id*31 + k*2654435761) % 256)) // 1000 AS luma
        |  FROM c2),
        |s AS (SELECT asset_id, SUM(luma) AS tot FROM l GROUP BY 1),
        |b AS (SELECT l.asset_id, l.w, l.h, l.cy,
        |    SUM(CASE WHEN l.luma * 64 > s.tot THEN 1 << l.cx ELSE 0 END)
        |      AS rb
        |  FROM l JOIN s USING (asset_id) GROUP BY 1, 2, 3, 4)
        |SELECT asset_id, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  string_agg(lpad(hex(CAST(rb AS BIGINT)), 2, '0'), ''
        |    ORDER BY cy) AS ahash_hex,
        |  CAST((asset_id // 5) % 5 AS BIGINT) AS filter_type
        |FROM b GROUP BY 1, 2, 3""".stripMargin,

    "mm_phash_pairs" ->
      """WITH a AS (SELECT doc_id AS asset_id, doc_id // 20 AS seed,
        |    ((doc_id // 5) % 4) * 85 AS pert
        |  FROM documents WHERE doc_id % 5 = 0),
        |c AS (SELECT asset_id, seed, pert, cell % 8 AS cx, cell // 8 AS cy
        |  FROM a, unnest(generate_series(0, 63)) AS t(cell)),
        |c2 AS (SELECT asset_id, seed, pert, cx, cy,
        |    (12 - 1 - ((2*cy + 1) * 12) // 16) * 48
        |      + 3 * (((2*cx + 1) * 16) // 16) AS k
        |  FROM c),
        |l AS (SELECT asset_id, cx, cy,
        |    (299 * v2 + 587 * v1 + 114 * v0) // 1000 AS luma
        |  FROM (SELECT *,
        |      ((seed*31 + k*2654435761) % 256 + pert *
        |        (CASE WHEN k % 97 = 0 THEN 1 ELSE 0 END)) % 256 AS v0,
        |      ((seed*31 + (k+1)*2654435761) % 256 + pert *
        |        (CASE WHEN (k+1) % 97 = 0 THEN 1 ELSE 0 END)) % 256 AS v1,
        |      ((seed*31 + (k+2)*2654435761) % 256 + pert *
        |        (CASE WHEN (k+2) % 97 = 0 THEN 1 ELSE 0 END)) % 256 AS v2
        |    FROM c2)),
        |s AS (SELECT asset_id, SUM(luma) AS tot FROM l GROUP BY 1),
        |b AS (SELECT l.asset_id, l.cy,
        |    SUM(CASE WHEN l.luma * 64 > s.tot THEN 1 << l.cx ELSE 0 END)
        |      AS rb
        |  FROM l JOIN s USING (asset_id) GROUP BY 1, 2),
        |hl AS (SELECT asset_id,
        |    CAST(SUM(CASE WHEN cy < 4 THEN rb << (8*(3-cy)) ELSE 0 END)
        |      AS BIGINT) AS hi,
        |    CAST(SUM(CASE WHEN cy >= 4 THEN rb << (8*(7-cy)) ELSE 0 END)
        |      AS BIGINT) AS lo
        |  FROM b GROUP BY 1)
        |SELECT x.asset_id AS a, y.asset_id AS b,
        |  CAST(bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo))
        |    AS BIGINT) AS hamming
        |FROM hl x JOIN hl y ON x.asset_id < y.asset_id
        |WHERE bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo))
        |  <= 7""".stripMargin,

    "mm_scenes" ->
      """WITH a AS (SELECT doc_id AS asset_id FROM documents
        |  WHERE doc_id % 5 = 2),
        |fr AS (SELECT asset_id, f, asset_id*7 + f // 4 AS seed
        |  FROM a, unnest(generate_series(0, 9)) AS t(f)),
        |c AS (SELECT asset_id, f, seed, cell % 8 AS cx, cell // 8 AS cy
        |  FROM fr, unnest(generate_series(0, 63)) AS t(cell)),
        |c2 AS (SELECT asset_id, f, seed, cx, cy,
        |    (12 - 1 - ((2*cy + 1) * 12) // 16) * 48 + 3 * (2*cx + 1) AS k
        |  FROM c),
        |l AS (SELECT asset_id, f, cx, cy,
        |    (299 * ((seed*31 + (k+2)*2654435761) % 256)
        |   + 587 * ((seed*31 + (k+1)*2654435761) % 256)
        |   + 114 * ((seed*31 + k*2654435761) % 256)) // 1000 AS luma
        |  FROM c2),
        |s AS (SELECT asset_id, f, SUM(luma) AS tot FROM l GROUP BY 1, 2),
        |b AS (SELECT l.asset_id, l.f, l.cy,
        |    SUM(CASE WHEN l.luma * 64 > s.tot THEN 1 << l.cx ELSE 0 END)
        |      AS rb
        |  FROM l JOIN s USING (asset_id, f) GROUP BY 1, 2, 3),
        |hl AS (SELECT asset_id, f,
        |    CAST(SUM(CASE WHEN cy < 4 THEN rb << (8*(3-cy)) ELSE 0 END)
        |      AS BIGINT) AS hi,
        |    CAST(SUM(CASE WHEN cy >= 4 THEN rb << (8*(7-cy)) ELSE 0 END)
        |      AS BIGINT) AS lo
        |  FROM b GROUP BY 1, 2),
        |lg AS (SELECT asset_id, hi, lo,
        |    lag(hi) OVER (PARTITION BY asset_id ORDER BY f) AS phi,
        |    lag(lo) OVER (PARTITION BY asset_id ORDER BY f) AS plo
        |  FROM hl),
        |hm AS (SELECT asset_id,
        |    CAST(bit_count(xor(hi, phi)) + bit_count(xor(lo, plo))
        |      AS BIGINT) AS ham
        |  FROM lg)
        |SELECT asset_id, COUNT(*) AS n_frames,
        |  CAST(SUM(CASE WHEN ham > 10 THEN 1 ELSE 0 END) + 1 AS BIGINT)
        |    AS n_scenes,
        |  MAX(COALESCE(ham, 0)) AS max_cut_hamming
        |FROM hm GROUP BY 1""".stripMargin,

    "mm_silence" ->
      """WITH a AS (SELECT doc_id AS asset_id,
        |    octet_length(encode(text)) % 256 + 512 AS n
        |  FROM documents WHERE doc_id % 5 = 3),
        |sm AS (SELECT asset_id,
        |    unnest(generate_series(0, n - 1)) AS i FROM a),
        |v AS (SELECT asset_id, i // 64 AS frame,
        |    CASE WHEN (asset_id*31 + i*2654435761) % 65536 >= 32768
        |      THEN (asset_id*31 + i*2654435761) % 65536 - 65536
        |      ELSE (asset_id*31 + i*2654435761) % 65536 END AS s
        |  FROM sm),
        |e AS (SELECT asset_id, frame, COUNT(*) AS n_samples,
        |    SUM(s*s) AS energy FROM v GROUP BY 1, 2),
        |sil AS (SELECT asset_id, frame, frame - row_number() OVER (
        |      PARTITION BY asset_id ORDER BY frame) AS isl
        |  FROM e WHERE energy < 358000000 * n_samples),
        |r1 AS (SELECT asset_id, isl, COUNT(*) AS len FROM sil
        |  GROUP BY 1, 2),
        |r2 AS (SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
        |    CAST(SUM(len) AS BIGINT) AS n_silent,
        |    CAST(MAX(len) AS BIGINT) AS max_run FROM r1 GROUP BY 1),
        |t AS (SELECT asset_id, COUNT(*) AS n_frames FROM e GROUP BY 1)
        |SELECT t.asset_id, t.n_frames,
        |  CAST(COALESCE(r2.n_runs, 0) AS BIGINT) AS n_runs,
        |  CAST(COALESCE(r2.n_silent, 0) AS BIGINT) AS n_silent,
        |  CAST(COALESCE(r2.max_run, 0) AS BIGINT) AS max_run
        |FROM t LEFT JOIN r2 USING (asset_id)""".stripMargin,

    "mm_energy" ->
      """WITH a AS (SELECT doc_id AS asset_id,
        |    octet_length(encode(text)) % 128 + 64 AS n
        |  FROM documents WHERE doc_id % 5 = 1),
        |s AS (SELECT asset_id,
        |    unnest(generate_series(0, n - 1)) AS i FROM a),
        |v AS (SELECT asset_id, i // 64 AS frame,
        |    CASE WHEN (asset_id*31 + i*2654435761) % 65536 >= 32768
        |      THEN (asset_id*31 + i*2654435761) % 65536 - 65536
        |      ELSE (asset_id*31 + i*2654435761) % 65536 END AS s
        |  FROM s)
        |SELECT asset_id, frame, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(s*s) AS BIGINT) AS energy
        |FROM v GROUP BY 1, 2""".stripMargin,

    "sliding_distinct" ->
      """WITH e AS (SELECT DISTINCT event_type AS et, user_id,
        |    epoch_us(ts) // 3600000000 AS h FROM events),
        |a AS (SELECT DISTINCT et, h FROM e)
        |SELECT a.et, a.h AS win_end,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_distinct
        |FROM a JOIN e ON e.et = a.et AND e.h BETWEEN a.h - 2 AND a.h
        |GROUP BY 1, 2""".stripMargin,

    "fk_audit" ->
      """SELECT 'lineitem.orderkey' AS fk, COUNT(*) AS n_rows,
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
        |  ON c.user_id = p.k""".stripMargin,

    "degree_hist" ->
      """WITH e AS (SELECT DISTINCT l_partkey % 300 AS src,
        |    l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0),
        |d AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY 1)
        |SELECT degree, COUNT(*) AS n_nodes FROM d GROUP BY 1""".stripMargin,

    "props_stats" ->
      """WITH e AS (SELECT event_type AS et,
        |    CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '')
        |      AS BIGINT) AS k
        |  FROM events)
        |SELECT et, COUNT(*) AS n, COUNT(k) AS n_with_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k,
        |  CAST(MAX(k) AS BIGINT) AS max_k
        |FROM e GROUP BY 1""".stripMargin,

    "cross_source_dups" ->
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
        |pr AS (SELECT a, b FROM p
        |       WHERE CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT) >= 100)
        |SELECT least(da.source, db.source) AS s1,
        |  greatest(da.source, db.source) AS s2,
        |  COUNT(*) AS n_pairs
        |FROM pr JOIN documents da ON pr.a = da.doc_id
        |        JOIN documents db ON pr.b = db.doc_id
        |GROUP BY 1, 2""".stripMargin,

    "theilsen_slope" ->
      """WITH e AS (SELECT user_id AS k, epoch(ts)::BIGINT AS x,
        |    CAST(round(value * 100, 0) AS BIGINT) AS y FROM events),
        |s AS (SELECT a.k AS k,
        |    CAST(round((b.y - a.y) * 1000000.0 / (b.x - a.x), 0)
        |      AS BIGINT) AS s
        |  FROM e a JOIN e b ON a.k = b.k AND a.x < b.x),
        |r AS (SELECT k, s,
        |    row_number() OVER (PARTITION BY k ORDER BY s) AS rn,
        |    COUNT(*) OVER (PARTITION BY k) AS n_pairs FROM s)
        |SELECT k AS user_id, n_pairs, s AS slope_micro FROM r
        |WHERE rn = (n_pairs + 1) // 2""".stripMargin,

    "trend_slope" ->
      """WITH e AS (SELECT event_type AS et, epoch(ts)::BIGINT AS t_s,
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
        |FROM st""".stripMargin,

    "cumulative_users" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS fday FROM d GROUP BY 1),
        |nu AS (SELECT fday AS day, COUNT(*) AS n_new FROM f GROUP BY 1),
        |na AS (SELECT day, COUNT(*) AS n_active FROM d GROUP BY 1)
        |SELECT na.day, na.n_active, COALESCE(nu.n_new, 0) AS n_new,
        |  CAST(SUM(COALESCE(nu.n_new, 0)) OVER (ORDER BY na.day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM na LEFT JOIN nu ON na.day = nu.day""".stripMargin,

    "path_trigrams" ->
      """WITH w AS (SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e3
        |  FROM events)
        |SELECT e1 || ' ' || e2 || ' ' || e3 AS trigram, COUNT(*) AS n
        |FROM w WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, trigram ASC LIMIT 20""".stripMargin,

    "streak_census" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |i AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS isl FROM d),
        |l AS (SELECT user_id, isl, COUNT(*) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_days,
        |  MAX(len) AS longest_streak
        |FROM l GROUP BY 1""".stripMargin,

    "ks_drift" ->
      """WITH e AS (SELECT event_type AS et,
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
        |FROM x""".stripMargin,

    "benford_digits" ->
      """WITH v AS (SELECT CAST(round(o_totalprice*100, 0) AS BIGINT) AS c
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
        |FROM n""".stripMargin,

    "activity_bitmap" ->
      """WITH e AS (SELECT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |b AS (SELECT user_id, day // 60 AS bucket,
        |    (1::BIGINT << CAST(day % 60 AS INTEGER)) AS bit FROM e)
        |SELECT user_id, bucket, bit_or(bit) AS mask,
        |  CAST(bit_count(bit_or(bit)) AS BIGINT) AS n_active
        |FROM b GROUP BY 1, 2""".stripMargin,

    "cdc_compact" ->
      """WITH lg AS (SELECT user_id,
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
        |FROM a WHERE NOT (fop = 'I' AND lop = 'D')""".stripMargin,

    "interval_merge" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS t0,
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
        |FROM isl GROUP BY 1""".stripMargin,

    "autocorr_lag" ->
      """WITH e AS (SELECT event_type AS et,
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
        |FROM st""".stripMargin,

    "disorder_census" ->
      """WITH e AS (SELECT event_type AS et, epoch_us(ts) AS t_us,
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
        |FROM d GROUP BY 1""".stripMargin,

    "type_entropy" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS c
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
        |FROM t GROUP BY 1""".stripMargin,

    "seasonal_anomaly" ->
      """WITH b AS (SELECT event_type AS et,
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
        |GROUP BY 1, 2""".stripMargin,

    // closes sort before opens at the same instant (d = -1 < 1): the
    // half-open interval tie rule, mirrored in the engine's (t, d) order
    "max_concurrency" ->
      """WITH e AS (SELECT event_type AS et, epoch_us(ts) AS t FROM events),
        |p AS (SELECT et, t, 1 AS d FROM e
        |      UNION ALL SELECT et, t + 600000000, -1 FROM e),
        |c AS (SELECT et, SUM(d) OVER (PARTITION BY et ORDER BY t, d
        |        ROWS UNBOUNDED PRECEDING) AS c FROM p)
        |SELECT et, CAST(MAX(c) AS BIGINT) AS max_concurrent
        |FROM c GROUP BY 1""".stripMargin,

    "compaction_bins" ->
      """WITH f AS (SELECT l_orderkey AS k,
        |    SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS bytes
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT k, bytes, SUM(bytes) OVER (ORDER BY k
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM f)
        |SELECT CAST((cum - bytes) // 2000000000 AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(bytes) AS BIGINT) AS bin_bytes
        |FROM c GROUP BY 1""".stripMargin,

    "zone_prune" ->
      """WITH z AS (SELECT
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
        |FROM s""".stripMargin,

    "rollup_agg" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |   AS total_cents
        | FROM orders
        | GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin,

    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(CAST(round(l_quantity*100, 0) AS BIGINT)) AS BIGINT)
        |   AS qty_cents
        | FROM lineitem
        | GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "rolling_window" ->
      """SELECT event_id, user_id,
        | CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) OVER (
        |   PARTITION BY user_id
        |   ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS roll_cents
        | FROM events""".stripMargin,

    "gapfill_hours" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
        |  FROM c GROUP BY 1),
        |grid AS (SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM sp)
        |SELECT g.event_type AS event_type,
        |  strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  COALESCE(c.n, CAST(0 AS BIGINT)) AS n
        |FROM grid g
        |LEFT JOIN c ON c.event_type = g.event_type AND c.h = g.h""".stripMargin,

    "gapfill_locf" ->
      """WITH e AS (SELECT event_type AS k, date_trunc('hour', ts) AS h,
        |    ts, event_id, CAST(round(value * 100, 0) AS BIGINT) AS v
        |  FROM events),
        |hr AS (SELECT k, h, v AS close FROM (
        |    SELECT k, h, v, row_number() OVER (PARTITION BY k, h
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM e)
        |  WHERE rn = 1),
        |sp AS (SELECT k, MIN(h) AS h0, MAX(h) AS h1 FROM hr GROUP BY 1),
        |grid AS (SELECT k,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM sp),
        |j AS (SELECT g.k, g.h, hr.close,
        |    CASE WHEN hr.close IS NULL THEN CAST(0 AS BIGINT)
        |         ELSE CAST(1 AS BIGINT) END AS observed
        |  FROM grid g LEFT JOIN hr ON hr.k = g.k AND hr.h = g.h)
        |SELECT k AS event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  observed,
        |  last_value(close IGNORE NULLS) OVER (PARTITION BY k ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS close_cents
        |FROM j""".stripMargin,

    "kaplan_meier" ->
      """WITH per AS (SELECT user_id, epoch_us(MIN(ts)) AS t0,
        |    epoch_us(MAX(ts)) AS t1 FROM events GROUP BY 1),
        |g AS (SELECT MAX(t1) AS gm FROM per),
        |d AS (SELECT (t1 - t0) // 3600000000 AS t,
        |    (t1 < gm - 86400000000) AS obs FROM per CROSS JOIN g),
        |c AS (SELECT t, COUNT(*) AS m,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events
        |  FROM d GROUP BY 1),
        |r AS (SELECT t, n_events,
        |    CAST(SUM(m) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n_risk
        |  FROM c)
        |SELECT t, n_risk, n_events FROM r WHERE n_events > 0""".stripMargin,

    "consistent_sample" ->
      """WITH o AS (SELECT o_orderkey FROM orders
        |  WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = 'a'),
        |li AS (SELECT l_orderkey FROM lineitem
        |  WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) = 'a')
        |SELECT (SELECT COUNT(*) FROM o) AS n_orders,
        |  (SELECT COUNT(*) FROM li) AS n_lineitems,
        |  (SELECT COUNT(*) FROM o JOIN li ON o_orderkey = l_orderkey)
        |    AS n_join_rows,
        |  (SELECT COUNT(*) FROM li WHERE NOT EXISTS (
        |     SELECT 1 FROM o WHERE o_orderkey = l_orderkey))
        |    AS n_orphan_lineitems""".stripMargin,

    "join_cardinality" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1)
        |SELECT COUNT(*) AS n_keys,
        |  CAST(SUM(n * n) AS BIGINT) AS selfjoin_rows,
        |  MAX(n) AS max_key_rows FROM c""".stripMargin,

    "quantile_normalize" ->
      """WITH v AS (SELECT event_type AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v, event_id AS tie
        |  FROM events),
        |r AS (SELECT g, v, tie,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY v, tie)
        |      AS BIGINT) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS n FROM v),
        |p AS (SELECT v AS pooled_v,
        |    CAST(row_number() OVER (ORDER BY v, tie) AS BIGINT) AS prn
        |  FROM v),
        |t AS (SELECT MAX(prn) AS N FROM p),
        |rr AS (SELECT g, v, tie,
        |    CASE WHEN n = 1 THEN CAST(500 AS BIGINT)
        |         ELSE ((rn - 1) * 1000) // (n - 1) END AS pct FROM r)
        |SELECT rr.g AS event_type, rr.tie AS event_id, rr.v AS v,
        |  p.pooled_v AS norm_v
        |FROM rr CROSS JOIN t
        |JOIN p ON p.prn = 1 + (rr.pct * (t.N - 1)) // 1000""".stripMargin,

    "calibration_bins" ->
      s"""WITH s AS (SELECT doc_id, ($qualityExpr) // 100 AS bin,
        |    CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY text)
        |      THEN 1 ELSE 0 END AS pos
        |  FROM documents)
        |SELECT bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos,
        |  (1000 * CAST(SUM(pos) AS BIGINT)) // COUNT(*) AS rate_permille
        |FROM s GROUP BY 1""".stripMargin,

    "target_encode" ->
      """WITH c AS (SELECT c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v FROM customer),
        |g AS (SELECT COUNT(*) AS gn, CAST(SUM(v) AS BIGINT) AS gt
        |  FROM c),
        |s AS (SELECT seg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv
        |  FROM c GROUP BY 1)
        |SELECT seg, n,
        |  CAST(round(CAST(sv * gn + 10 * gt AS DOUBLE) /
        |    CAST(gn * (n + 10) AS DOUBLE) * 1000, 0) AS BIGINT)
        |    AS encoded_millicents
        |FROM s CROSS JOIN g""".stripMargin,

    "forecast_backtest" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    COUNT(*) AS n FROM events GROUP BY 1, 2)
        |SELECT a.event_type, COUNT(*) AS n_days,
        |  (1000 * CAST(SUM(abs(a.n - f.n)) AS BIGINT)) // COUNT(*)
        |    AS mae_milli,
        |  CAST(SUM(a.n - f.n) AS BIGINT) AS bias
        |FROM d a JOIN d f ON a.event_type = f.event_type
        |  AND a.day = f.day + 7
        |GROUP BY 1""".stripMargin,

    "feature_hash" ->
      """WITH x AS (SELECT
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
        |FROM x GROUP BY 1""".stripMargin,

    "kanon_risk" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) // 100000
        |      AS bal_band, COUNT(*) AS cnt
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT COUNT(*) AS n_groups,
        |  CAST(SUM(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_groups,
        |  CAST(SUM(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  MIN(cnt) AS min_group
        |FROM g""".stripMargin,

    "auc_quality" ->
      s"""WITH sc AS (SELECT $qualityExpr AS s,
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
        |FROM c""".stripMargin,

    "overlap_spans" ->
      """WITH sp AS (SELECT doc_id, substr(md5(text), 1, 1) AS h,
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
        |FROM runs GROUP BY 1, 2""".stripMargin,

    "median_polish" ->
      """WITH g0 AS (SELECT c_nationkey AS r, c_mktsegment AS c,
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
        |FROM g4""".stripMargin,

    "pr_curve" ->
      s"""WITH sc AS (SELECT $qualityExpr AS s,
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
        |FROM c, tot""".stripMargin,

    "chargram_langid" ->
      """WITH d AS (SELECT doc_id, lang, lower(text) AS tx,
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
        |FROM pred""".stripMargin,

    "kappa_langid" ->
      s"""WITH d AS (SELECT lang AS t, $langIdCaseExpr AS p FROM documents),
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
        |FROM a, pe""".stripMargin,

    "topk_heap" ->
      """SELECT o_orderpriority, CAST(rk AS BIGINT) AS rk,
        |  v AS total_cents, o_orderkey
        |FROM (SELECT o_orderpriority, o_orderkey,
        |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(round(o_totalprice*100, 0) AS BIGINT) DESC,
        |        o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 3""".stripMargin,

    "outer_explode" ->
      """SELECT doc_id, COUNT(tok) AS n_long, MAX(tok) AS max_tok
        |FROM (SELECT doc_id, unnest(CASE WHEN len(lt) = 0
        |    THEN [NULL] ELSE lt END) AS tok
        |  FROM (SELECT doc_id, list_filter(
        |      regexp_split_to_array(trim(lower(text)), '\s+'),
        |      w -> len(w) >= 8) AS lt
        |    FROM documents))
        |GROUP BY 1""".stripMargin,

    "set_ops" ->
      """WITH b AS (SELECT c_nationkey,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) // 200000 AS bal_band
        |  FROM customer WHERE c_mktsegment = 'BUILDING'),
        |m AS (SELECT c_nationkey,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) // 200000 AS bal_band
        |  FROM customer WHERE c_mktsegment = 'MACHINERY')
        |SELECT c_nationkey, bal_band, 'intersect' AS op
        |  FROM (SELECT * FROM b INTERSECT SELECT * FROM m)
        |UNION ALL
        |SELECT c_nationkey, bal_band, 'except' AS op
        |  FROM (SELECT * FROM b EXCEPT SELECT * FROM m)""".stripMargin,

    "l_diversity" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    COUNT(DISTINCT CAST(round(c_acctbal * 100, 0) AS BIGINT)
        |      // 100000) AS l,
        |    COUNT(*) AS cnt
        |  FROM customer GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_groups,
        |  CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_l,
        |  CAST(SUM(CASE WHEN l < 3 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  MIN(l) AS min_l
        |FROM g""".stripMargin,

    "coverage_select" ->
      """WITH sp AS (SELECT doc_id AS id,
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
        |UNION ALL SELECT 4, id, n FROM w4""".stripMargin,

    "ktruss" ->
      """WITH g1 AS (
        |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
        |                  greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |          < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |         + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |t1 AS (SELECT x.a AS x, x.b AS y, y.b AS z FROM g1 x
        |  JOIN g1 y ON x.b = y.a
        |  JOIN g1 z ON z.a = x.a AND z.b = y.b),
        |s1 AS (SELECT a, b, COUNT(*) AS n FROM (
        |    SELECT x AS a, y AS b FROM t1
        |    UNION ALL SELECT y, z FROM t1
        |    UNION ALL SELECT x, z FROM t1) GROUP BY 1, 2),
        |g2 AS (SELECT g1.a, g1.b FROM g1 JOIN s1 USING (a, b)
        |  WHERE s1.n >= 1),
        |t2 AS (SELECT x.a AS x, x.b AS y, y.b AS z FROM g2 x
        |  JOIN g2 y ON x.b = y.a
        |  JOIN g2 z ON z.a = x.a AND z.b = y.b),
        |s2 AS (SELECT a, b, COUNT(*) AS n FROM (
        |    SELECT x AS a, y AS b FROM t2
        |    UNION ALL SELECT y, z FROM t2
        |    UNION ALL SELECT x, z FROM t2) GROUP BY 1, 2),
        |g3 AS (SELECT g2.a, g2.b FROM g2 JOIN s2 USING (a, b)
        |  WHERE s2.n >= 1),
        |t3 AS (SELECT x.a AS x, x.b AS y, y.b AS z FROM g3 x
        |  JOIN g3 y ON x.b = y.a
        |  JOIN g3 z ON z.a = x.a AND z.b = y.b),
        |s3 AS (SELECT a, b, COUNT(*) AS n FROM (
        |    SELECT x AS a, y AS b FROM t3
        |    UNION ALL SELECT y, z FROM t3
        |    UNION ALL SELECT x, z FROM t3) GROUP BY 1, 2)
        |SELECT g3.a, g3.b, CAST(COALESCE(s3.n, 0) AS BIGINT) AS n_tri
        |FROM g3 LEFT JOIN s3 USING (a, b)""".stripMargin,

    "ivm_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT))
        |    AS BIGINT) AS rev_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,

    "condensation_dag" ->
      """WITH RECURSIVE g AS (
        |  SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE l_partkey % 300 <> l_suppkey % 300
        |    AND ((l_partkey % 300) * 31 + l_suppkey % 300) % 7 = 0),
        |r(src, dst) AS (
        |  SELECT src, dst FROM g
        |  UNION
        |  SELECT r.src, g.dst FROM r JOIN g ON r.dst = g.src),
        |mut AS (SELECT r1.src AS u, r1.dst AS v
        |  FROM r r1 JOIN r r2 ON r1.src = r2.dst AND r1.dst = r2.src),
        |nodes AS (SELECT DISTINCT src AS id FROM g
        |  UNION SELECT dst FROM g),
        |sid AS (SELECT n.id,
        |    LEAST(n.id, COALESCE(MIN(m.v), n.id)) AS scc
        |  FROM nodes n LEFT JOIN mut m ON m.u = n.id GROUP BY n.id),
        |dag AS (SELECT DISTINCT su.scc AS scc_u, sv.scc AS scc_v
        |  FROM g JOIN sid su ON g.src = su.id
        |    JOIN sid sv ON g.dst = sv.id
        |  WHERE su.scc <> sv.scc),
        |mu AS (SELECT COUNT(*) AS n_mutual_must_be_zero
        |  FROM dag x JOIN dag y
        |    ON x.scc_u = y.scc_v AND x.scc_v = y.scc_u)
        |SELECT COUNT(*) AS n_dag_edges,
        |  CAST(COUNT(DISTINCT scc_u) AS BIGINT) AS n_source_sccs,
        |  CAST(COALESCE(MAX(mu.n_mutual_must_be_zero), 0) AS BIGINT)
        |    AS n_mutual_must_be_zero
        |FROM dag, mu""".stripMargin,

    "dag_longest" ->
      """WITH RECURSIVE g AS (
        |  SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE l_partkey % 300 <> l_suppkey % 300
        |    AND ((l_partkey % 300) * 31 + l_suppkey % 300) % 7 = 0),
        |r(src, dst) AS (
        |  SELECT src, dst FROM g
        |  UNION
        |  SELECT r.src, g.dst FROM r JOIN g ON r.dst = g.src),
        |mut AS (SELECT r1.src AS u, r1.dst AS v
        |  FROM r r1 JOIN r r2 ON r1.src = r2.dst AND r1.dst = r2.src),
        |nodes AS (SELECT DISTINCT src AS id FROM g
        |  UNION SELECT dst FROM g),
        |sid AS (SELECT n.id,
        |    LEAST(n.id, COALESCE(MIN(m.v), n.id)) AS scc
        |  FROM nodes n LEFT JOIN mut m ON m.u = n.id GROUP BY n.id),
        |dag AS (SELECT DISTINCT su.scc AS scc_u, sv.scc AS scc_v
        |  FROM g JOIN sid su ON g.src = su.id
        |    JOIN sid sv ON g.dst = sv.id
        |  WHERE su.scc <> sv.scc),
        |pl(v, len) AS (
        |  SELECT scc_v, 1 FROM dag
        |  UNION
        |  SELECT d.scc_v, p.len + 1 FROM pl p JOIN dag d ON d.scc_u = p.v)
        |SELECT CAST(MAX(len) AS BIGINT) AS longest_path_edges,
        |  CAST(COUNT(DISTINCT v) AS BIGINT) AS n_reachable_nodes
        |FROM pl""".stripMargin,

    "scc_census" ->
      """WITH RECURSIVE g AS (
        |  SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE l_partkey % 300 <> l_suppkey % 300
        |    AND ((l_partkey % 300) * 31 + l_suppkey % 300) % 7 = 0),
        |r(src, dst) AS (
        |  SELECT src, dst FROM g
        |  UNION
        |  SELECT r.src, g.dst FROM r JOIN g ON r.dst = g.src),
        |mut AS (SELECT r1.src AS u, r1.dst AS v
        |  FROM r r1 JOIN r r2 ON r1.src = r2.dst AND r1.dst = r2.src),
        |nodes AS (SELECT DISTINCT src AS id FROM g
        |  UNION SELECT dst FROM g),
        |sid AS (SELECT n.id,
        |    LEAST(n.id, COALESCE(MIN(m.v), n.id)) AS scc
        |  FROM nodes n LEFT JOIN mut m ON m.u = n.id GROUP BY n.id),
        |sz AS (SELECT scc, COUNT(*) AS n FROM sid GROUP BY 1)
        |SELECT COUNT(*) AS n_sccs, CAST(MAX(n) AS BIGINT) AS max_scc,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_singletons
        |FROM sz""".stripMargin,

    "reach_2hop" ->
      """WITH g AS (SELECT DISTINCT
        |    least(l_partkey % 300, l_suppkey % 300) AS a,
        |    greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |      < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |      + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |e AS (SELECT a AS src, b AS dst FROM g
        |  UNION SELECT b, a FROM g),
        |ball AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, src AS dst FROM e
        |    UNION ALL SELECT src, dst FROM e
        |    UNION ALL SELECT e1.src, e2.dst
        |      FROM e e1 JOIN e e2 ON e1.dst = e2.src))
        |SELECT src AS node, COUNT(*) AS n_reach2 FROM ball GROUP BY 1""".stripMargin,

    "group_mode" ->
      """SELECT c_nationkey, c_mktsegment AS mode_segment, n FROM (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY COUNT(*) DESC, c_mktsegment ASC) AS rn
        |  FROM customer GROUP BY 1, 2)
        |WHERE rn = 1""".stripMargin,

    "returns_by_brand" ->
      """SELECT p_brand, COUNT(*) AS n_lines,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returned,
        |  (1000 * CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1
        |    ELSE 0 END) AS BIGINT)) // COUNT(*) AS return_permille
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,

    "priority_mix" ->
      """WITH c AS (SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |    o_orderpriority AS priority, COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT yr, priority, n,
        |  (1000 * n) // CAST(SUM(n) OVER (PARTITION BY yr) AS BIGINT)
        |    AS share_permille
        |FROM c""".stripMargin,

    "lang_confusion" ->
      s"""SELECT lang AS true_lang, $langIdCaseExpr AS pred_lang,
        |  COUNT(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin,

    "split_balance" ->
      s"""WITH d AS (SELECT
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
        |FROM d GROUP BY 1""".stripMargin,

    "part_velocity" ->
      """SELECT l_partkey,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
        |  MAX(l_shipdate) AS last_ship
        |FROM lineitem GROUP BY 1
        |ORDER BY n_orders DESC, l_partkey ASC LIMIT 50""".stripMargin,

    "seasonal_index" ->
      """WITH m AS (SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |    CAST(month(o_orderdate) AS INT) AS mo,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2)
        |SELECT yr, mo, rev,
        |  (1000 * rev * 12) // CAST(SUM(rev) OVER (PARTITION BY yr)
        |    AS BIGINT) AS index_permille
        |FROM m""".stripMargin,

    "basket_size_dist" ->
      """WITH b AS (SELECT l_orderkey, COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY 1)
        |SELECT n_lines, COUNT(*) AS n_orders FROM b GROUP BY 1""".stripMargin,

    "discount_elasticity" ->
      """SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_pct,
        |  COUNT(*) AS n,
        |  CAST(round(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |    * 1000 / COUNT(*), 0) AS BIGINT) AS mean_qty_milli
        |FROM lineitem GROUP BY 1""".stripMargin,

    "nchars_audit" ->
      """SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_consistent,
        |  CAST(MAX(abs(n_chars - length(text))) AS BIGINT) AS max_drift
        |FROM documents""".stripMargin,

    "source_lang_matrix" ->
      """WITH c AS (SELECT source, lang, COUNT(*) AS n FROM documents
        |  GROUP BY 1, 2)
        |SELECT source, lang, n,
        |  (1000 * n) // CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT)
        |    AS share_permille
        |FROM c""".stripMargin,

    "fulfillment_lag" ->
      """WITH lo AS (SELECT l_orderkey, MAX(l_shipdate) AS lastship
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
        |  CAST(MAX(date_diff('day', o_orderdate, lastship)) AS BIGINT)
        |    AS max_lag_days,
        |  CAST(round(CAST(SUM(date_diff('day', o_orderdate, lastship))
        |    AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS mean_lag_days
        |FROM lo JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "normalize_gain" ->
      """SELECT CAST(COUNT(DISTINCT text) AS BIGINT) AS n_raw_distinct,
        |  CAST(COUNT(DISTINCT trim(regexp_replace(lower(text),
        |    '[^a-z0-9]+', ' ', 'g'))) AS BIGINT) AS n_norm_distinct,
        |  CAST(COUNT(DISTINCT text) - COUNT(DISTINCT
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |    AS BIGINT) AS extra_merges
        |FROM documents""".stripMargin,

    "histogram2d" ->
      """SELECT l_returnflag AS flag,
        |  CAST(l_quantity AS BIGINT) // 10 AS qty_band,
        |  CAST(round(l_extendedprice * 100, 0) AS BIGINT) // 5000000
        |    AS price_band,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2, 3""".stripMargin,

    "revenue_bridge" ->
      """WITH p AS (SELECT o_custkey,
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
        |FROM p GROUP BY 1""".stripMargin,

    "prepurchase_depth" ->
      """WITH fp AS (SELECT user_id, MIN(ts) AS f FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |dd AS (SELECT e.user_id, COUNT(*) AS depth FROM events e
        |  JOIN fp ON e.user_id = fp.user_id
        |  WHERE e.ts < fp.f GROUP BY 1)
        |SELECT least(depth // 5, 10) AS depth_bucket,
        |  COUNT(*) AS n_users
        |FROM dd GROUP BY 1""".stripMargin,

    "ngram_suggest" ->
      """WITH d AS (SELECT regexp_split_to_array(lower(trim(text)),
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
        |WHERE rnk <= 3""".stripMargin,

    "order_gaps" ->
      """WITH g AS (SELECT l_orderkey,
        |    CAST(MAX(l_linenumber) AS BIGINT) AS maxl,
        |    CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS nl
        |  FROM lineitem GROUP BY 1)
        |SELECT COUNT(*) AS n_orders,
        |  CAST(SUM(CASE WHEN maxl > nl THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_orders_with_gaps,
        |  CAST(SUM(maxl - nl) AS BIGINT) AS total_missing
        |FROM g""".stripMargin,

    "whale_report" ->
      """WITH s AS (SELECT o_custkey, CAST(SUM(CAST(round(
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
        |FROM r""".stripMargin,

    "freshness_report" ->
      """WITH m AS (SELECT event_type, epoch_us(MAX(ts)) AS lastu,
        |    COUNT(*) AS n FROM events GROUP BY 1),
        |h AS (SELECT MAX(lastu) AS hwm FROM m)
        |SELECT event_type, n, (hwm - lastu) // 3600000000 AS age_hours
        |FROM m CROSS JOIN h""".stripMargin,

    "percentile_bands" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v FROM events)
        |SELECT day, COUNT(*) AS n,
        |  CAST(round(quantile_cont(v, 0.5)) AS BIGINT) AS p50_cents,
        |  CAST(round(quantile_cont(v, 0.9)) AS BIGINT) AS p90_cents,
        |  CAST(round(quantile_cont(v, 0.99)) AS BIGINT) AS p99_cents
        |FROM e GROUP BY 1""".stripMargin,

    "dedup_report" ->
      """WITH s AS (SELECT doc_id, source,
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
        |FROM s GROUP BY 1""".stripMargin,

    "embed_norms" ->
      """WITH b AS (SELECT CAST(label AS BIGINT) AS label,
        |    list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[])) AS n2 FROM embeddings),
        |nm AS (SELECT label,
        |    CAST(round(sqrt(n2) * 1000000, 0) AS BIGINT) AS v FROM b)
        |SELECT label, COUNT(*) AS n, MIN(v) AS min_norm_micro,
        |  MAX(v) AS max_norm_micro,
        |  CAST(round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 0) AS BIGINT)
        |    AS mean_norm_micro
        |FROM nm GROUP BY 1""".stripMargin,

    "hourly_heatmap" ->
      """SELECT event_type,
        |  (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  (epoch_us(ts) // 3600000000) % 24 AS hod,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "truncation_loss" ->
      """WITH d AS (SELECT source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CASE WHEN n > 256 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_truncated,
        |  CAST(SUM(greatest(n - 256, 0)) AS BIGINT) AS tokens_lost,
        |  (1000 * CAST(SUM(greatest(n - 256, 0)) AS BIGINT))
        |    // CAST(SUM(n) AS BIGINT) AS lost_permille
        |FROM d GROUP BY 1""".stripMargin,

    "kwic" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |t AS (SELECT doc_id, w, unnest(w) AS tok,
        |    generate_subscripts(w, 1) AS i FROM d)
        |SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |  CASE WHEN i = 1 THEN NULL ELSE w[i-1] END AS left_ctx,
        |  w[i+1] AS right_ctx
        |FROM t WHERE tok = 'the'""".stripMargin,

    "rate_limit" ->
      """SELECT user_id, hr, event_id, rn FROM (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hr, event_id,
        |    CAST(row_number() OVER (PARTITION BY user_id,
        |        epoch_us(ts) // 3600000000
        |      ORDER BY ts, event_id) AS BIGINT) AS rn
        |  FROM events)
        |WHERE rn <= 3""".stripMargin,

    "over_avg_orders" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT a.o_orderkey, a.cents FROM o a
        |WHERE a.cents * (SELECT COUNT(*) FROM o b
        |    WHERE b.o_custkey = a.o_custkey)
        |  > (SELECT SUM(cents) FROM o b
        |    WHERE b.o_custkey = a.o_custkey)""".stripMargin,

    "cohort_ltv" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY 1),
        |cell AS (SELECT f.cohort, e.day - f.cohort AS age,
        |    CAST(SUM(e.v) AS BIGINT) AS rev_cents
        |  FROM e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2)
        |SELECT cohort, age, rev_cents,
        |  CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_rev_cents
        |FROM cell""".stripMargin,

    "attribution_position" ->
      """WITH c AS (SELECT user_id AS k, epoch_us(ts) AS ct,
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
        |HAVING COUNT(*) > 0""".stripMargin,

    "funnel_latency" ->
      """WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, v.t1, MIN(epoch_us(e.ts)) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.t1
        |  GROUP BY 1, 2),
        |d AS (SELECT (t2 - t1) // 1000000 AS delta_s FROM p)
        |SELECT COUNT(*) AS n_converted,
        |  CAST(round(quantile_cont(delta_s, 0.5)) AS BIGINT) AS p50_s,
        |  CAST(round(quantile_cont(delta_s, 0.9)) AS BIGINT) AS p90_s
        |FROM d""".stripMargin,

    "centroid_drift" ->
      """WITH x AS (SELECT CAST(label AS BIGINT) AS label,
        |    vec_id % 2 AS sp, pos,
        |    CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT) AS m
        |  FROM (SELECT label, vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS pos FROM embeddings)),
        |s AS (SELECT label, pos,
        |    SUM(CASE WHEN sp = 0 THEN m ELSE 0 END) AS sa,
        |    SUM(CASE WHEN sp = 1 THEN m ELSE 0 END) AS sb
        |  FROM x GROUP BY 1, 2),
        |g AS (SELECT label, SUM(sa * sb) AS dot, SUM(sa * sa) AS na,
        |    SUM(sb * sb) AS nb FROM s GROUP BY 1)
        |SELECT label, CAST(round(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) * 1000,
        |    0) AS BIGINT) AS cos_permille
        |FROM g""".stripMargin,

    "gram_novelty" ->
      """WITH sh AS (SELECT doc_id, list_distinct(
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
        |FROM inv JOIN gdf USING (s) GROUP BY 1""".stripMargin,

    "event_lag" ->
      """SELECT event_id, user_id, delta_us FROM (
        |  SELECT event_id, user_id,
        |    epoch_us(ts) - LAG(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      AS delta_us
        |  FROM events)
        |WHERE delta_us IS NOT NULL""".stripMargin,

    "markov_hitrate" ->
      """WITH st AS (SELECT event_type AS et,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS next_et
        |  FROM events),
        |steps AS (SELECT et, next_et FROM st WHERE next_et IS NOT NULL),
        |pred AS (SELECT et, next_et AS pred_next FROM (
        |    SELECT et, next_et, ROW_NUMBER() OVER (PARTITION BY et
        |      ORDER BY COUNT(*) DESC, next_et ASC) AS rk
        |    FROM steps GROUP BY et, next_et) WHERE rk = 1)
        |SELECT COUNT(*) AS n_steps,
        |  CAST(SUM(CASE WHEN s.next_et = p.pred_next THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hits,
        |  CAST(1000 * SUM(CASE WHEN s.next_et = p.pred_next
        |    THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT) AS hit_permille
        |FROM steps s JOIN pred p USING (et)""".stripMargin,

    "psi_drift" ->
      """WITH pr AS (SELECT year(o_orderdate) AS yr,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) // 500000 AS bin
        |  FROM orders WHERE year(o_orderdate) IN (1997, 1998)),
        |cells AS (SELECT bin,
        |    CAST(SUM(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na_i,
        |    CAST(SUM(CASE WHEN yr = 1998 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb_i
        |  FROM pr GROUP BY 1),
        |tot AS (SELECT CAST(SUM(na_i) AS BIGINT) AS na,
        |    CAST(SUM(nb_i) AS BIGINT) AS nb FROM cells),
        |x AS (SELECT na_i > 0 AND nb_i > 0 AS used,
        |    CASE WHEN na_i > 0 AND nb_i > 0 THEN
        |      CAST(round(ln((CAST(na_i AS DOUBLE) * CAST(nb AS DOUBLE))
        |        / (CAST(nb_i AS DOUBLE) * CAST(na AS DOUBLE)))
        |        * 1000000, 0) AS BIGINT) ELSE 0 END AS q_micro,
        |    1000000 * na_i // na - 1000000 * nb_i // nb AS dppm
        |  FROM cells, tot)
        |SELECT COUNT(*) AS n_bins,
        |  CAST(SUM(CASE WHEN used THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bins_used,
        |  CAST(SUM(CASE WHEN used THEN dppm * q_micro ELSE 0 END)
        |    // 1000000 AS BIGINT) AS psi_micro
        |FROM x""".stripMargin,

    "covisit_lift" ->
      """WITH e AS (SELECT user_id, event_id AS eid, epoch_us(ts) AS t_us,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item
        |  FROM events),
        |f AS (SELECT user_id, eid, t_us, item,
        |    CASE WHEN t_us - LAG(t_us) OVER w > 1800000000
        |      OR LAG(t_us) OVER w IS NULL THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, eid)),
        |s AS (SELECT user_id, item,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY t_us, eid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |d AS (SELECT DISTINCT user_id, sid, item FROM s),
        |ns AS (SELECT COUNT(*) AS n FROM
        |  (SELECT DISTINCT user_id, sid FROM d)),
        |m AS (SELECT item, COUNT(*) AS m FROM d GROUP BY 1),
        |p AS (SELECT x.item AS item_a, y.item AS item_b,
        |    COUNT(*) AS n_ab
        |  FROM d x JOIN d y ON x.user_id = y.user_id AND x.sid = y.sid
        |    AND x.item < y.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT item_a, item_b, n_ab,
        |  CAST(1000000 * n_ab * ns.n // (ma.m * mb.m) AS BIGINT)
        |    AS lift_ppm
        |FROM p JOIN m ma ON ma.item = p.item_a
        |  JOIN m mb ON mb.item = p.item_b CROSS JOIN ns""".stripMargin,

    "view_to_buy" ->
      """WITH e AS (SELECT user_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item,
        |    event_type AS et, epoch_us(ts) AS t_us FROM events),
        |v AS (SELECT user_id, item, t_us FROM e WHERE et = 'view'),
        |c AS (SELECT item, COUNT(*) AS n_conv FROM v
        |  WHERE EXISTS (SELECT 1 FROM e b
        |    WHERE b.et = 'purchase' AND b.user_id = v.user_id
        |      AND b.item = v.item AND b.t_us > v.t_us
        |      AND b.t_us <= v.t_us + 604800000000)
        |  GROUP BY 1),
        |a AS (SELECT item, COUNT(*) AS n_views FROM v GROUP BY 1)
        |SELECT a.item, a.n_views,
        |  CAST(COALESCE(c.n_conv, 0) AS BIGINT) AS n_conv,
        |  CAST(1000 * COALESCE(c.n_conv, 0) // a.n_views AS BIGINT)
        |    AS conv_permille
        |FROM a LEFT JOIN c USING (item)
        |ORDER BY n_views DESC, item ASC LIMIT 20""".stripMargin,

    "covisit_pairs" ->
      """WITH e AS (SELECT user_id, event_id AS eid, epoch_us(ts) AS t_us,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item
        |  FROM events),
        |f AS (SELECT user_id, eid, t_us, item,
        |    CASE WHEN t_us - LAG(t_us) OVER w > 1800000000
        |      OR LAG(t_us) OVER w IS NULL THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, eid)),
        |s AS (SELECT user_id, item,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY t_us, eid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |d AS (SELECT DISTINCT user_id, sid, item FROM s)
        |SELECT x.item AS item_a, y.item AS item_b,
        |  COUNT(*) AS n_sessions
        |FROM d x JOIN d y ON x.user_id = y.user_id AND x.sid = y.sid
        |  AND x.item < y.item
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,

    "xcorr_lags" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT day AS da, v AS va FROM daily
        |  WHERE event_type = 'purchase'),
        |b AS (SELECT day AS db, v AS vb FROM daily
        |  WHERE event_type = 'view'),
        |x AS (SELECT t.lag, va, vb
        |  FROM a CROSS JOIN (SELECT unnest([-3,-2,-1,0,1,2,3]) AS lag) t
        |  JOIN b ON db = da + t.lag)
        |SELECT CAST(lag AS BIGINT) AS lag, COUNT(*) AS n,
        |  CAST(SUM(va) AS BIGINT) AS sum_a,
        |  CAST(SUM(vb) AS BIGINT) AS sum_b,
        |  CAST(SUM(va * vb) AS BIGINT) AS sum_ab,
        |  CAST(SUM(va * va) AS BIGINT) AS sum_a2,
        |  CAST(SUM(vb * vb) AS BIGINT) AS sum_b2
        |FROM x GROUP BY 1""".stripMargin,

    "geo_mean" ->
      """SELECT l_returnflag AS flag, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(ln(CAST(round(l_extendedprice * 100, 0)
        |    AS BIGINT)) * 1000000, 0) AS BIGINT)) AS BIGINT)
        |    AS sum_ln_micro,
        |  CAST(round(exp(CAST(SUM(CAST(round(ln(CAST(round(
        |      l_extendedprice * 100, 0) AS BIGINT)) * 1000000, 0)
        |      AS BIGINT)) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)), 0) AS BIGINT)
        |    AS gm_cents
        |FROM lineitem GROUP BY 1""".stripMargin,

    "peak_census" ->
      """WITH p AS (SELECT event_type AS et, event_id AS eid,
        |    epoch_us(ts) AS t_us,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
        |q AS (SELECT et, t_us,
        |    v > LAG(v) OVER w AND v > LEAD(v) OVER w AS pk
        |  FROM p WINDOW w AS (PARTITION BY et ORDER BY t_us, eid))
        |SELECT et, COUNT(*) AS n_points,
        |  CAST(SUM(CASE WHEN pk THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks,
        |  MIN(CASE WHEN pk THEN t_us END) AS first_peak_us,
        |  MAX(CASE WHEN pk THEN t_us END) AS last_peak_us,
        |  CAST((MAX(CASE WHEN pk THEN t_us END)
        |      - MIN(CASE WHEN pk THEN t_us END))
        |    // NULLIF(SUM(CASE WHEN pk THEN 1 ELSE 0 END) - 1, 0)
        |    AS BIGINT) AS mean_spacing_us
        |FROM q GROUP BY 1""".stripMargin,

    "embed_centroid" ->
      """SELECT CAST(label AS BIGINT) AS label, pos - 1 AS pos,
        | CAST(SUM(CAST(round(CAST(v AS DOUBLE)*1000000, 0) AS BIGINT))
        |   AS BIGINT) AS sum_micro,
        | COUNT(*) AS n
        | FROM (SELECT label, unnest(embedding) AS v,
        |   generate_subscripts(embedding, 1) AS pos FROM embeddings)
        | GROUP BY 1, 2""".stripMargin,

    "pivot_agg" ->
      """SELECT o_orderpriority,
        | COUNT(*) FILTER (o_orderstatus = 'F') AS f_n,
        | COUNT(*) FILTER (o_orderstatus = 'O') AS o_n,
        | COUNT(*) FILTER (o_orderstatus = 'P') AS p_n
        | FROM orders GROUP BY o_orderpriority""".stripMargin,

    "collect_sorted" ->
      """SELECT o_orderpriority,
        | string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
        |   AS statuses,
        | COUNT(*) AS n
        | FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
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
        |GROUP BY 1, 2, 3""".stripMargin,

    "q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
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
        |LIMIT 20""".stripMargin,

    "q3_revenue" ->
      """SELECT l_orderkey,
        | CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0)
        |   AS BIGINT)) AS BIGINT) AS revenue_cents,
        | COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |  AND c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey""".stripMargin,

    "q5_nation_revenue" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0)
        |   AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q8_market_share" ->
      """WITH sel AS (
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
        |FROM g""".stripMargin,

    "q9_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS yr,
        | CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0) AS BIGINT)
        |   - CAST(round(0.5*p_retailprice*l_quantity*100, 0) AS BIGINT)) AS BIGINT)
        |   AS profit_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_name LIKE '%e%'
        |GROUP BY 1, 2""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(round(l_quantity*100, 0) AS BIGINT)) AS BIGINT)
        |      AS qty_cents
        |  FROM lineitem GROUP BY 1 HAVING qty_cents > 20000)
        |SELECT o_orderkey, c_name, qty_cents,
        |  CAST(round(o_totalprice*100, 0) AS BIGINT) AS total_cents
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "q4_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 75 DAY)
        |GROUP BY 1""".stripMargin,

    "q6_banded_rev" ->
      """SELECT CAST(SUM(CAST(round(l_extendedprice*l_discount*100, 0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q12_priority_mode" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,

    "q14_promo_share" ->
      """WITH a AS (
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
        |  promo_cents * 1000 // total_cents AS promo_permille FROM a""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0)
        |      AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, rev_cents
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_cents = (SELECT MAX(rev_cents) FROM rev)""".stripMargin,

    "q17_small_qty" ->
      """WITH pa AS (
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
        |      < sum_qty_cents""".stripMargin,

    "q19_disjunct" ->
      """SELECT
        |  CAST(SUM(CAST(round(l_extendedprice*(1 - l_discount)*100, 0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q21_waiting" ->
      """WITH base AS (
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
        |GROUP BY 1""".stripMargin,

    "q22_idle_cust" ->
      """WITH c AS (SELECT * FROM customer
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
        |GROUP BY 1""".stripMargin,

    "custdist" ->
      """WITH pc AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT n_orders, COUNT(*) AS n_cust FROM pc GROUP BY 1""".stripMargin,

    "group_state" ->
      """SELECT event_type AS fn_key, user_id, COUNT(*) AS n
        | FROM events GROUP BY event_type, user_id""".stripMargin,

    "sum_metric" ->
      """SELECT event_type,
        | CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS dur_cents
        | FROM events GROUP BY event_type""".stripMargin,

    "concat_keys" ->
      "SELECT DISTINCT 'http' || ':' || o_orderpriority AS ikey FROM orders",

    "coalesce_chain" ->
      """SELECT doc_id, COALESCE(
        |  NULLIF(CASE WHEN doc_id % 3 = 0 THEN '' ELSE lang END, ''),
        |  NULLIF(CASE WHEN doc_id % 4 = 0 THEN '' ELSE source END, ''),
        |  CAST(doc_id AS VARCHAR)) AS token FROM documents""".stripMargin,

    "canonical_json" ->
      """SELECT doc_id,
        | to_json(struct_pack(lang := lang, source := source)) AS cj
        | FROM documents""".stripMargin,

    "dedup_exact" ->
      "SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text",

    "dedup_incremental" ->
      """WITH seen AS (SELECT DISTINCT md5(text) AS seen_hash
        |  FROM documents WHERE doc_id % 3 = 0),
        |b AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id
        |  FROM documents GROUP BY 1)
        |SELECT doc_id FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.seen_hash = b.h)""".stripMargin,

    // the Bloom prune is plan-level only: exact semantics are identical
    "dedup_bloom" ->
      """WITH seen AS (SELECT DISTINCT md5(text) AS seen_hash
        |  FROM documents WHERE doc_id % 3 = 0),
        |b AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id
        |  FROM documents GROUP BY 1)
        |SELECT doc_id FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.seen_hash = b.h)""".stripMargin,

    "dedup_ngram_jaccard" ->
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
        |      GROUP BY 1, 2, 3, 4)
        |SELECT a, b,
        |  CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT) AS jacc_permille
        |FROM p
        |WHERE CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT) >= 100""".stripMargin,

    // same jaccard-pair CTEs, then the renormalizing fixed-point S-curve
    // as MATERIALIZED single-expression stage chains (every squaring is
    // (x·x)//1000, mirroring the engine's DIV schedule; configs freeze
    // at their band count: r16×b8 after 3 squarings, r8×b16 after 4,
    // r4×b32 after 5, r2×b64 after 6).
    "lsh_tuning" ->
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
        |FROM u6 GROUP BY decile""".stripMargin,

    // the prefix filter is lossless candidate pruning, so the oracle is
    // the UNPRUNED exact word-set-Jaccard join — any dropped qualifying
    // pair would surface as a missing row here.
    "ppjoin_pairs" ->
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
        |  >= 950""".stripMargin,

    // word 8-grams via the same list-comprehension idiom; split by the
    "sample_per_group" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
        |  FROM documents)
        | WHERE rn <= 20""".stripMargin,

    // same hash_split CASE as decontaminate; integer-permille shares
    "corpus_drift" ->
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
        |FROM j""".stripMargin,

    // hash_split CASE so engine and oracle agree on train/test membership
    "decontaminate" ->
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
        |GROUP BY 1""".stripMargin,

    // same pair pipeline as dedup_ngram_jaccard, then connected components
    // via a recursive CTE: reach(id, lab) = lab can reach id over the
    // symmetrized edge set; min reachable label = component minimum.
    "dedup_clusters" ->
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
        |FROM reach GROUP BY id""".stripMargin,

    "dedup_agreement" -> dedupAgreementSql,

    "churn_rate" ->
      """WITH om AS (SELECT DISTINCT o_custkey AS ck,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS m
        |  FROM orders),
        |act AS (SELECT m, COUNT(*) AS n_active FROM om GROUP BY 1),
        |ch AS (SELECT a.m, COUNT(*) AS n_churned
        |  FROM om a WHERE NOT EXISTS (SELECT 1 FROM om b
        |    WHERE b.ck = a.ck AND b.m = a.m + 1)
        |  GROUP BY 1),
        |mx AS (SELECT MAX(m) AS mx FROM om)
        |SELECT CAST(act.m AS BIGINT) AS m, act.n_active,
        |  CAST(COALESCE(ch.n_churned, 0) AS BIGINT) AS n_churned,
        |  CAST(1000 * COALESCE(ch.n_churned, 0) // act.n_active AS BIGINT)
        |    AS churn_permille
        |FROM act LEFT JOIN ch ON act.m = ch.m CROSS JOIN mx
        |WHERE act.m < mx.mx""".stripMargin,

    "apdex" ->
      """WITH e AS (SELECT event_type AS et, user_id, event_id AS eid,
        |    epoch_us(ts) AS t_us FROM events),
        |g AS (SELECT et, t_us - LAG(t_us) OVER (PARTITION BY et, user_id
        |    ORDER BY t_us, eid) AS d_us FROM e),
        |f AS (SELECT et, d_us FROM g WHERE d_us IS NOT NULL)
        |SELECT et, COUNT(*) AS n_gaps,
        |  CAST(SUM(CASE WHEN d_us <= 3600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_satisfied,
        |  CAST(SUM(CASE WHEN d_us > 3600000000 AND d_us <= 14400000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
        |  CAST(1000 * (2 * SUM(CASE WHEN d_us <= 3600000000
        |      THEN 1 ELSE 0 END)
        |    + SUM(CASE WHEN d_us > 3600000000 AND d_us <= 14400000000
        |      THEN 1 ELSE 0 END)) // (2 * COUNT(*)) AS BIGINT)
        |    AS apdex_permille
        |FROM f GROUP BY 1""".stripMargin,

    "lorenz_points" ->
      """WITH rev AS (SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |      AS rc
        |  FROM orders GROUP BY 1),
        |dec AS (SELECT rc, NTILE(10) OVER (ORDER BY rc, o_custkey)
        |    AS decile FROM rev),
        |bd AS (SELECT decile, COUNT(*) AS n_cust,
        |    CAST(SUM(rc) AS BIGINT) AS rev_cents
        |  FROM dec GROUP BY 1),
        |c AS (SELECT decile, n_cust, rev_cents,
        |    CAST(SUM(rev_cents) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_cents
        |  FROM bd),
        |t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS tot FROM bd)
        |SELECT CAST(decile AS BIGINT) AS decile, n_cust, rev_cents,
        |  CAST(1000 * cum_cents // tot AS BIGINT) AS cum_share_permille
        |FROM c, t""".stripMargin,

    "spearman_rho" ->
      """WITH c AS (SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |      AS rev,
        |    COUNT(*) AS cnt
        |  FROM orders GROUP BY 1),
        |rk AS (SELECT
        |    ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rx,
        |    ROW_NUMBER() OVER (ORDER BY cnt, o_custkey) AS ry
        |  FROM c)
        |SELECT COUNT(*) AS n,
        |  CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
        |  CAST(round(1000000.0 * (1.0 - 6.0 *
        |      CAST(SUM((rx - ry) * (rx - ry)) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE)
        |      * CAST(COUNT(*) AS DOUBLE) - 1.0))), 0) AS BIGINT)
        |    AS rho_micro
        |FROM rk""".stripMargin,

    "simpson_check" ->
      """WITH r AS (SELECT p_brand AS g,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |st AS (SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy FROM r GROUP BY 1),
        |ss AS (SELECT g, CAST(sign(CAST(n AS DECIMAL(38,0)) * sxy
        |    - CAST(sx AS DECIMAL(38,0)) * sy) AS BIGINT) AS sgn FROM st),
        |pl AS (SELECT CAST(sign(CAST(COUNT(*) AS DECIMAL(38,0)) * SUM(x*y)
        |    - CAST(SUM(x) AS DECIMAL(38,0)) * SUM(y)) AS BIGINT)
        |    AS pooled_sign FROM r)
        |SELECT MAX(pl.pooled_sign) AS pooled_sign,
        |  COUNT(*) AS n_strata,
        |  CAST(SUM(CASE WHEN ss.sgn <> pl.pooled_sign THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_disagree
        |FROM ss, pl""".stripMargin,

    "burstiness" ->
      """WITH e AS (SELECT event_type AS et, user_id, event_id AS eid,
        |    epoch_us(ts) AS t_us FROM events),
        |g AS (SELECT et, (t_us - LAG(t_us) OVER (PARTITION BY et, user_id
        |    ORDER BY t_us, eid)) // 1000000 AS d_s FROM e)
        |SELECT et, COUNT(*) AS n_gaps,
        |  CAST(SUM(d_s) AS BIGINT) AS sum_s,
        |  CAST(SUM(d_s * d_s) AS BIGINT) AS sum_sq_s
        |FROM g WHERE d_s IS NOT NULL GROUP BY 1""".stripMargin,

    "cluster_leakage" ->
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
        |FROM g""".stripMargin,

    "cluster_prf" ->
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
        |FROM bp, pp, tp""".stripMargin,

    "user_features" ->
      """WITH e AS (SELECT user_id, event_type,
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
        |FROM b JOIN m USING (user_id)""".stripMargin,

    "dup_weights" ->
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
        |FROM documents d LEFT JOIN j ON d.doc_id = j.doc_id""".stripMargin,

    "golden_record" ->
      s"""WITH RECURSIVE sh AS (
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
        |GROUP BY m.cluster_id, b.best_source""".stripMargin,

    // same clustering CTE as dedup_clusters (on the even-id half), plus
    // the representative pick
    "cluster_reps" ->
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
        |WHERE rn = 1""".stripMargin,

    "dedup_embed_cosine" ->
      """WITH v AS (SELECT vec_id AS id, label,
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
        |     sqrt(list_dot_product(y.e, y.e))) * 1000.0, 0) AS BIGINT) >= 300""".stripMargin,

    // same deterministic-centroid/argmax CTEs as ann_ivf; pruned =
    // EXISTS an earlier in-cell member at/above the rounded-permille
    // cosine threshold (the engine's left-semi, as a correlated EXISTS).
    "semdedup" ->
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
        |FROM cells x""".stripMargin,

    "ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |   FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv
        |   FROM embeddings WHERE vec_id >= 10),
        |scored AS (SELECT qid, nid,
        |  CAST(round(list_dot_product(qv, nv) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv)))
        |    * 1000.0, 0) AS BIGINT) AS cos_permille
        |  FROM c, q)
        |SELECT qid, nid, cos_permille FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos_permille DESC, nid ASC) AS rn FROM scored)
        |WHERE rn <= 5""".stripMargin,

    "ann_ivf" -> annIvfSql,

    // stored-index replay: the index tables (centroids = lowest-16 seed
    // set of the index corpus, assignments = permille-cosine argmax) are
    // re-derived from the same corpus — bit-equal to the published
    // artifact because every stored value is either an exact-integer id
    // or a parquet-lossless double; the serve path then probes and
    // reranks exactly like ann_ivf. model_version = the one published
    // registry version.
    "ann_apply" ->
      """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[])
        |   AS v FROM embeddings),
        |cent AS (SELECT id AS cid, v AS cv, list_dot_product(v, v) AS cn2
        |   FROM base WHERE id % 3 <> 0 ORDER BY id LIMIT 16),
        |corp AS (SELECT id AS nid, v AS nv, list_dot_product(v, v) AS nn2
        |   FROM base WHERE id % 3 <> 0),
        |q AS (SELECT id AS qid, v AS qv, list_dot_product(v, v) AS qn2
        |   FROM base WHERE id % 3 = 0 AND id < 30),
        |cassign AS (SELECT nid, nv, nn2, cid FROM (
        |  SELECT nid, nv, nn2, cid, row_number() OVER (PARTITION BY nid
        |    ORDER BY CAST(round(list_dot_product(nv, cv) /
        |      (sqrt(nn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC, cid ASC)
        |    AS rn FROM corp CROSS JOIN cent) WHERE rn = 1),
        |qprobe AS (SELECT qid, qv, qn2, cid FROM (
        |  SELECT qid, qv, qn2, cid, row_number() OVER (PARTITION BY qid
        |    ORDER BY CAST(round(list_dot_product(qv, cv) /
        |      (sqrt(qn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC, cid ASC)
        |    AS rn FROM q CROSS JOIN cent) WHERE rn <= 4),
        |scored AS (SELECT DISTINCT qid, nid,
        |  CAST(round(list_dot_product(qv, nv) / (sqrt(qn2) * sqrt(nn2))
        |    * 1000.0, 0) AS BIGINT) AS cos_permille
        |  FROM cassign JOIN qprobe USING (cid) WHERE qid <> nid)
        |SELECT qid, nid, cos_permille,
        |  CAST(1 AS BIGINT) AS model_version FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos_permille DESC, nid ASC) AS rn FROM scored)
        |WHERE rn <= 5""".stripMargin,

    // declared retrieval-gate replay: the same stored-IVF serve as
    // ann_apply (corpus = id % 3 <> 0, lowest-16 centroids, 4-probe),
    // queried by EVERY doc's embedding; a doc survives iff its best
    // retrieved cosine clears the floor. max over ALL probed
    // candidates equals max over the engine's top-5 (top-1 ⊆ top-k),
    // so the oracle skips the rank window. Floor generated from the
    // engine's AnnGateFloorPermille (one-definition discipline).
    "ann_gate" ->
      s"""WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[])
        |   AS v FROM embeddings),
        |cent AS (SELECT id AS cid, v AS cv, list_dot_product(v, v) AS cn2
        |   FROM base WHERE id % 3 <> 0 ORDER BY id LIMIT 16),
        |corp AS (SELECT id AS nid, v AS nv, list_dot_product(v, v) AS nn2
        |   FROM base WHERE id % 3 <> 0),
        |q AS (SELECT id AS qid, v AS qv, list_dot_product(v, v) AS qn2
        |   FROM base),
        |cassign AS (SELECT nid, nv, nn2, cid FROM (
        |  SELECT nid, nv, nn2, cid, row_number() OVER (PARTITION BY nid
        |    ORDER BY CAST(round(list_dot_product(nv, cv) /
        |      (sqrt(nn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC, cid ASC)
        |    AS rn FROM corp CROSS JOIN cent) WHERE rn = 1),
        |qprobe AS (SELECT qid, qv, qn2, cid FROM (
        |  SELECT qid, qv, qn2, cid, row_number() OVER (PARTITION BY qid
        |    ORDER BY CAST(round(list_dot_product(qv, cv) /
        |      (sqrt(qn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC, cid ASC)
        |    AS rn FROM q CROSS JOIN cent) WHERE rn <= 4),
        |scored AS (SELECT DISTINCT qid, nid,
        |  CAST(round(list_dot_product(qv, nv) / (sqrt(qn2) * sqrt(nn2))
        |    * 1000.0, 0) AS BIGINT) AS cos_permille
        |  FROM cassign JOIN qprobe USING (cid) WHERE qid <> nid),
        |top1 AS (SELECT qid, max(cos_permille) AS t FROM scored
        |  GROUP BY 1)
        |SELECT d.doc_id FROM documents d JOIN top1 ON d.doc_id = top1.qid
        |WHERE top1.t >= $AnnGateFloorPermille""".stripMargin,

    // IVM-maintenance replay for the ANN index: the oracle never sees
    // the delta algebra — it re-assigns the POST-delta corpus (base
    // minus retracted plus added vectors) from scratch against the SAME
    // frozen base-derived centroid set and rolls up per cell; equality
    // IS the bit-exact maintenance contract (assignment is per-row, so
    // state − retracts + assigned adds must equal the full rebuild).
    "ann_ivm" ->
      """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[])
        |   AS v FROM embeddings),
        |b AS (SELECT * FROM base WHERE id % 3 < 2),
        |cent AS (SELECT id AS cid, v AS cv, list_dot_product(v, v) AS cn2
        |   FROM b ORDER BY id LIMIT 16),
        |fin AS (SELECT * FROM base WHERE id % 3 = 2
        |  UNION ALL SELECT * FROM b WHERE id % 5 <> 0),
        |corp AS (SELECT id AS nid, v AS nv, list_dot_product(v, v) AS nn2
        |   FROM fin),
        |cassign AS (SELECT nid, cid FROM (
        |  SELECT nid, cid, row_number() OVER (PARTITION BY nid
        |    ORDER BY CAST(round(list_dot_product(nv, cv) /
        |      (sqrt(nn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC, cid ASC)
        |    AS rn FROM corp CROSS JOIN cent) WHERE rn = 1)
        |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(nid) AS BIGINT) AS sum_id
        |FROM cassign GROUP BY 1""".stripMargin,

    // cluster-mixture replay: the ann_ivf assignment CTEs feed the
    // alpha_mixture temperature CTEs with cid as the stratum — both
    // halves are existing, separately-proven oracle machinery composed;
    // the keep predicate is the shared Knuth-hash ppm literal.
    "cluster_mixture" ->
      """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[])
        |   AS v FROM embeddings),
        |cent AS (SELECT id AS cid, v AS cv, list_dot_product(v, v) AS cn2
        |   FROM base ORDER BY id LIMIT 16),
        |corp AS (SELECT id AS nid, v AS nv, list_dot_product(v, v) AS nn2
        |   FROM base),
        |cassign AS (SELECT nid, cid FROM (
        |  SELECT nid, cid, row_number() OVER (PARTITION BY nid
        |    ORDER BY CAST(round(list_dot_product(nv, cv) /
        |      (sqrt(nn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC, cid ASC)
        |    AS rn FROM corp CROSS JOIN cent) WHERE rn = 1),
        |c AS (SELECT cid, COUNT(*) AS n FROM cassign GROUP BY 1),
        |t AS (SELECT SUM(n) AS nn FROM c),
        |w AS (SELECT cid, n, nn, CAST(round(
        |      pow(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE), ALPHA) * 1000000,
        |      0) AS BIGINT) AS w
        |  FROM c, t),
        |d2 AS (SELECT SUM(w) AS wd FROM w),
        |r AS (SELECT cid, CAST(least(1000000,
        |      (((1000000 * w) // wd) * nn) // n) AS BIGINT) AS rate_ppm
        |  FROM w, d2)
        |SELECT a.nid AS vec_id, a.cid, r.rate_ppm
        |FROM cassign a JOIN r USING (cid)
        |WHERE KEEPHASH < r.rate_ppm""".stripMargin
        .replace("ALPHA", TextAnalysis.MixtureAlpha.toString)
        .replace("KEEPHASH", XxhOracleSql.knuthKeepPpm("a.nid")),

    // refresh-loop replay: the oracle rebuilds the POST-delta index
    // from scratch (same frozen base centroids) and probes it with the
    // first added vectors — maintenance + v2 promotion + pinned serve
    // on the engine side must compose to the same rows; model_version
    // = 2 (v1 = the base index, v2 = the maintained promotion).
    "ann_refresh" ->
      """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[])
        |   AS v FROM embeddings),
        |b AS (SELECT * FROM base WHERE id % 3 < 2),
        |cent AS (SELECT id AS cid, v AS cv, list_dot_product(v, v) AS cn2
        |   FROM b ORDER BY id LIMIT 16),
        |fin AS (SELECT * FROM base WHERE id % 3 = 2
        |  UNION ALL SELECT * FROM b WHERE id % 5 <> 0),
        |corp AS (SELECT id AS nid, v AS nv, list_dot_product(v, v) AS nn2
        |   FROM fin),
        |q AS (SELECT id AS qid, v AS qv, list_dot_product(v, v) AS qn2
        |   FROM base WHERE id % 3 = 2 AND id < 30),
        |cassign AS (SELECT nid, nv, nn2, cid FROM (
        |  SELECT nid, nv, nn2, cid, row_number() OVER (PARTITION BY nid
        |    ORDER BY CAST(round(list_dot_product(nv, cv) /
        |      (sqrt(nn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC, cid ASC)
        |    AS rn FROM corp CROSS JOIN cent) WHERE rn = 1),
        |qprobe AS (SELECT qid, qv, qn2, cid FROM (
        |  SELECT qid, qv, qn2, cid, row_number() OVER (PARTITION BY qid
        |    ORDER BY CAST(round(list_dot_product(qv, cv) /
        |      (sqrt(qn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC, cid ASC)
        |    AS rn FROM q CROSS JOIN cent) WHERE rn <= 4),
        |scored AS (SELECT DISTINCT qid, nid,
        |  CAST(round(list_dot_product(qv, nv) / (sqrt(qn2) * sqrt(nn2))
        |    * 1000.0, 0) AS BIGINT) AS cos_permille
        |  FROM cassign JOIN qprobe USING (cid) WHERE qid <> nid)
        |SELECT qid, nid, cos_permille,
        |  CAST(2 AS BIGINT) AS model_version FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos_permille DESC, nid ASC) AS rn FROM scored)
        |WHERE rn <= 5""".stripMargin,

    "ann_ivfpq" -> annIvfPqSql,

    // publish/pin/serve replay for the compressed tiers: the oracle
    // recomputes the full IVF-PQ / SQ8 math from scratch on the
    // mod-3 splits — the engine result came from tables written to a
    // registry version and reloaded, so equality proves the stored
    // artifact round-trips bit-exactly (same contract as ann_apply)
    "ann_ivfpq_apply" -> annIvfPqSqlFor("id % 3 <> 0",
      "id % 3 = 0 AND id < 30", version = Some(1)),

    // refresh-loop replays for the compressed tiers: the oracle
    // re-derives the POST-delta index from scratch with artifacts
    // frozen on the BASE corpus (seedPred/statsPred) — engine-side
    // delta maintenance + v2 promotion + pinned serve must compose to
    // the same rows; model_version = 2
    "ann_ivfpq_refresh" -> annIvfPqSqlFor(
      "(id % 3 = 2 OR (id % 3 < 2 AND id % 5 <> 0))",
      "id % 3 = 2 AND id < 30", version = Some(2),
      seedPred = "id % 3 < 2"),

    "ann_sq8_refresh" ->
      s"""${sq8CandSqlFor("(id % 3 = 2 OR (id % 3 < 2 AND id % 5 <> 0))",
          "id % 3 = 2 AND id < 30", statsPred = "id % 3 < 2")},
        |short AS (SELECT qid, nid FROM (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |    ORDER BY d2 ASC, nid ASC) AS rn FROM cand) u
        |  WHERE rn <= ${Similarity.Sq8Rerank}),
        |rs AS (SELECT s.qid, s.nid,
        |    CAST(round(list_dot_product(q.qv, c.nv) /
        |      (sqrt(q.qn2) * sqrt(c.nn2)) * 1000.0, 0) AS BIGINT)
        |      AS cos_permille
        |  FROM short s JOIN corp c ON c.nid = s.nid JOIN q ON q.qid = s.qid)
        |SELECT qid, nid, cos_permille,
        |  CAST(2 AS BIGINT) AS model_version FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos_permille DESC, nid ASC) AS rn FROM rs) u
        |WHERE rn <= 5""".stripMargin,

    "ann_sq8_apply" ->
      s"""${sq8CandSqlFor("id % 3 <> 0", "id % 3 = 0 AND id < 30")},
        |short AS (SELECT qid, nid FROM (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |    ORDER BY d2 ASC, nid ASC) AS rn FROM cand) u
        |  WHERE rn <= ${Similarity.Sq8Rerank}),
        |rs AS (SELECT s.qid, s.nid,
        |    CAST(round(list_dot_product(q.qv, c.nv) /
        |      (sqrt(q.qn2) * sqrt(c.nn2)) * 1000.0, 0) AS BIGINT)
        |      AS cos_permille
        |  FROM short s JOIN corp c ON c.nid = s.nid JOIN q ON q.qid = s.qid)
        |SELECT qid, nid, cos_permille,
        |  CAST(1 AS BIGINT) AS model_version FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos_permille DESC, nid ASC) AS rn FROM rs) u
        |WHERE rn <= 5""".stripMargin,

    // SQ8 replay: unit vectors, per-dim corpus min/max as ordered lists,
    // floor/clamp codes on IEEE-identical expression trees (integer-
    // valued throughout — Σ(qc−cc)² < 2^53 is exact on both sides),
    // symmetric code-distance shortlist, exact-cosine rerank
    "ann_sq8" ->
      s"""$sq8CandSql,
        |short AS (SELECT qid, nid FROM (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |    ORDER BY d2 ASC, nid ASC) AS rn FROM cand) u
        |  WHERE rn <= ${Similarity.Sq8Rerank}),
        |rs AS (SELECT s.qid, s.nid,
        |    CAST(round(list_dot_product(q.qv, c.nv) /
        |      (sqrt(q.qn2) * sqrt(c.nn2)) * 1000.0, 0) AS BIGINT)
        |      AS cos_permille
        |  FROM short s JOIN corp c ON c.nid = s.nid JOIN q ON q.qid = s.qid)
        |SELECT qid, nid, cos_permille FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos_permille DESC, nid ASC) AS rn FROM rs) u
        |WHERE rn <= 5""".stripMargin,

    // RRF fusion replay: the shared SQ8 candidate chain plus the exact
    // rounded-cosine cross; dense per-query ranks with total tie orders,
    // fused in integer micros — exact end to end
    "rank_fusion" ->
      s"""$sq8CandSql,
        |ex AS (SELECT q.qid, c.nid,
        |    CAST(round(list_dot_product(q.qv, c.nv) /
        |      (sqrt(q.qn2) * sqrt(c.nn2)) * 1000.0, 0) AS BIGINT)
        |      AS cos_permille
        |  FROM corp c, q WHERE q.qid <> c.nid),
        |ra AS (SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY cos_permille DESC, nid ASC) AS BIGINT) AS rank_cos
        |  FROM ex),
        |rb AS (SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY d2 ASC, nid ASC) AS BIGINT) AS rank_sq8
        |  FROM cand),
        |fused AS (SELECT qid, nid, rank_cos, rank_sq8,
        |    CAST((1000000 // (${Similarity.RrfK} + rank_cos))
        |      + (1000000 // (${Similarity.RrfK} + rank_sq8)) AS BIGINT)
        |      AS rrf_micros
        |  FROM ra JOIN rb USING (qid, nid))
        |SELECT qid, nid, rank_cos, rank_sq8, rrf_micros FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY rrf_micros DESC, nid ASC) AS rn FROM fused) u
        |WHERE rn <= 5""".stripMargin,

    "pq_codes" ->
      """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |   FROM embeddings),
        |s AS (SELECT id, sub, v[sub*16+1 : sub*16+16] AS sv
        |   FROM base CROSS JOIN (SELECT unnest([0,1,2,3]) AS sub)),
        |e AS (SELECT id, sub, sv, list_dot_product(sv, sv) AS n2 FROM s),
        |c AS (SELECT sub AS csub, id AS cid, sv AS cv, n2 AS cn2
        |   FROM e WHERE id < 8),
        |sc AS (SELECT e.id, e.sub, c.cid,
        |    CAST(round((e.n2 - 2 * list_dot_product(e.sv, c.cv) + c.cn2)
        |      * 1000.0, 0) AS BIGINT) AS dist_micro
        |  FROM e JOIN c ON e.sub = c.csub)
        |SELECT id, sub, cid AS code, dist_micro FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id, sub
        |    ORDER BY dist_micro ASC, cid ASC) AS rn FROM sc)
        |WHERE rn = 1""".stripMargin,

    "ann_lsh" -> annLshSql,

    "ann_ndcg" -> annNdcgSql,

    "embed_truncation" ->
      """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |   FROM embeddings),
        |q AS (SELECT id AS qid, v AS qv FROM base WHERE id < 10),
        |c AS (SELECT id AS nid, v AS nv FROM base WHERE id >= 10),
        |sc AS (SELECT qid, nid,
        |  CAST(round(list_dot_product(qv, nv) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv)))
        |    * 1000.0, 0) AS BIGINT) AS cf,
        |  CAST(round(list_dot_product(qv[1:16], nv[1:16]) /
        |    (sqrt(list_dot_product(qv[1:16], qv[1:16]))
        |     * sqrt(list_dot_product(nv[1:16], nv[1:16])))
        |    * 1000.0, 0) AS BIGINT) AS c16,
        |  CAST(round(list_dot_product(qv[1:32], nv[1:32]) /
        |    (sqrt(list_dot_product(qv[1:32], qv[1:32]))
        |     * sqrt(list_dot_product(nv[1:32], nv[1:32])))
        |    * 1000.0, 0) AS BIGINT) AS c32
        |  FROM q CROSS JOIN c),
        |lf AS (SELECT qid, nid, cf, 16 AS trunc_dim, c16 AS cd FROM sc
        |  UNION ALL SELECT qid, nid, cf, 32, c32 FROM sc),
        |ft AS (SELECT qid, nid FROM (SELECT qid, nid,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cf DESC, nid ASC) AS rkf FROM sc) WHERE rkf <= 5),
        |ht AS (SELECT trunc_dim, COUNT(*) AS top5_hits FROM (
        |    SELECT l.trunc_dim, l.qid, l.nid,
        |      ROW_NUMBER() OVER (PARTITION BY l.trunc_dim, l.qid
        |        ORDER BY l.cd DESC, l.nid ASC) AS rkd
        |    FROM lf l) r
        |  JOIN ft ON r.qid = ft.qid AND r.nid = ft.nid
        |  WHERE r.rkd <= 5 GROUP BY 1)
        |SELECT CAST(l.trunc_dim AS BIGINT) AS trunc_dim,
        |  COUNT(*) AS n_pairs,
        |  CAST(SUM(abs(cd - cf)) AS BIGINT) AS sum_absdelta_permille,
        |  CAST(MAX(ht.top5_hits) AS BIGINT) AS top5_hits
        |FROM lf l JOIN ht ON l.trunc_dim = ht.trunc_dim
        |GROUP BY 1""".stripMargin,

    "dedup_embed_lsh" -> dedupEmbedLshSql,

    "lang_id" -> langIdSql,

    "quality_score" -> qualityScoreSql,

    "curate_docs" -> curateDocsSql,

    "token_count" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_ws,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |   AS n_bpeish
        | FROM documents""".stripMargin,

    "rep_score" ->
      """SELECT doc_id,
        | CAST(round((len(w) - len(list_distinct(w))) * 1000.0
        |   / greatest(len(w), 1), 0) AS BIGINT) AS dup_permille
        | FROM (SELECT doc_id,
        |   regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |   FROM documents)""".stripMargin,

    "rep_topgram" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest([w[i]||' '||w[i+1] for i in range(1, len(w))]) AS g
        |  FROM w),
        |c AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(round(MAX(c) * 1000.0 / SUM(c), 0) AS BIGINT)
        |    AS top_bigram_permille
        |FROM c GROUP BY doc_id""".stripMargin,

    "hash_split" ->
      """SELECT doc_id,
        | CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train'
        |      WHEN substr(md5(text), 1, 1) < 'e' THEN 'val'
        |      ELSE 'test' END AS split
        | FROM documents""".stripMargin,

    "vocab_topk" ->
      """SELECT w, COUNT(*) AS n
        | FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)),
        |   '\s+')) AS w FROM documents)
        | GROUP BY w ORDER BY n DESC, w ASC LIMIT 50""".stripMargin,

    "oov_rate" ->
      """WITH tok AS (SELECT source,
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
        |FROM c LEFT JOIN v ON c.w = v.w GROUP BY 1""".stripMargin,

    // bigrams via positional self-join in SQL (the engine builds them
    // array-side; same pairs either way)
    "bigram_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
        |    '\s+')) AS w,
        |   generate_subscripts(regexp_split_to_array(trim(lower(text)),
        |    '\s+'), 1) AS pos
        |  FROM documents)
        |SELECT x.w || ' ' || y.w AS bg, COUNT(*) AS n
        |FROM tok x JOIN tok y
        |  ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
        |GROUP BY 1 ORDER BY n DESC, bg ASC LIMIT 50""".stripMargin,

    "pmi_collocations" ->
      """WITH tok AS (
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
        |ORDER BY pmi_permille DESC, bigram ASC LIMIT 30""".stripMargin,

    "moment_stats" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(v) AS BIGINT) AS sum_cents,
        | CAST(SUM(v*v) AS BIGINT) AS sumsq_cents2
        | FROM (SELECT event_type,
        |   CAST(round(value*100, 0) AS BIGINT) AS v FROM events)
        | GROUP BY event_type""".stripMargin,

    "hist_prices" ->
      """SELECT pc // 2000000 AS bucket, COUNT(*) AS n,
        | CAST(SUM(pc) AS BIGINT) AS sum_cents
        | FROM (SELECT CAST(round(o_totalprice*100, 0) AS BIGINT) AS pc
        |   FROM orders)
        | GROUP BY 1""".stripMargin,

    "ntile_split" ->
      """SELECT o_orderkey, o_orderpriority AS prio,
        | ntile(4) OVER (PARTITION BY o_orderpriority
        |   ORDER BY CAST(round(o_totalprice*100, 0) AS BIGINT), o_orderkey)
        |   AS tile
        | FROM orders""".stripMargin,

    "profile_cols" ->
      """SELECT col_name, COUNT(val) AS n_nonnull,
        | COUNT(DISTINCT val) AS n_distinct
        | FROM (
        |   SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM orders
        |   UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
        |   UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders)
        | GROUP BY col_name""".stripMargin,

    "corr_stats" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        | CAST(SUM(q) AS BIGINT) AS sum_q,
        | CAST(SUM(pc) AS BIGINT) AS sum_pc,
        | CAST(SUM(q*pc) AS BIGINT) AS sum_qpc
        | FROM (SELECT l_returnflag,
        |   CAST(round(l_quantity, 0) AS BIGINT) AS q,
        |   CAST(round(l_extendedprice*100, 0) AS BIGINT) AS pc
        |   FROM lineitem)
        | GROUP BY l_returnflag""".stripMargin,

    "keyness" ->
      """WITH tok AS (SELECT source,
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
        |WHERE rn <= 5""".stripMargin,

    "mutual_info" ->
      """WITH e AS (SELECT event_type AS x,
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
        |FROM q""".stripMargin,

    "info_gain" ->
      """WITH base AS (SELECT c_nationkey, c_mktsegment, o_orderstatus,
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
        |FROM q GROUP BY 1""".stripMargin,

    "temporal_reach" ->
      """WITH raw AS (SELECT o_custkey % 150 AS x, l_suppkey % 150 AS y,
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
        |    AND e2.y <> e1.x""".stripMargin,

    "share_of_region" ->
      """WITH rn AS (SELECT r_name, n_name,
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
        |FROM rn""".stripMargin,

    "bpe_merges" ->
      """WITH wrd AS (SELECT w, COUNT(*) AS freq FROM (
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
        |  CAST(cnt AS BIGINT) FROM b3""".stripMargin,

    "jw_pairs" ->
      """WITH v AS (SELECT p_brand AS blk, p_name AS s, p_partkey AS id
        |  FROM part WHERE p_partkey % 10 = 1)
        |SELECT a, b, jw_permille FROM (
        |  SELECT x.id AS a, y.id AS b,
        |    CAST(round(jaro_winkler_similarity(x.s, y.s) * 1000, 0)
        |      AS BIGINT) AS jw_permille
        |  FROM v x JOIN v y ON x.blk = y.blk AND x.id < y.id)
        |WHERE jw_permille >= 800""".stripMargin,

    "fs_bands" -> {
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
    },

    "fs_linkage" -> {
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
    },

    "fuzzy_pairs" ->
      """SELECT x.p_partkey AS a, y.p_partkey AS b,
        | CAST(levenshtein(x.p_name, y.p_name) AS BIGINT) AS edit_dist
        | FROM part x JOIN part y
        |   ON x.p_brand = y.p_brand AND x.p_partkey < y.p_partkey
        | WHERE x.p_partkey % 10 = 0 AND y.p_partkey % 10 = 0
        |   AND levenshtein(x.p_name, y.p_name) <= 4""".stripMargin,

    "sorted_neighbors" ->
      """WITH v AS (SELECT p_partkey AS id, p_name AS s,
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
        |WHERE nid IS NOT NULL AND levenshtein(s, ns) <= 4""".stripMargin,

    "tfidf_topterms" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(
        |    trim(lower(text)), '\s+')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT w, COUNT(*) AS term_df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.w AS term, tf.tf, dfq.term_df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfq.term_df ASC, tf.w ASC) AS rk
        |  FROM tf JOIN dfq USING (w))
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
        |  CAST(term_df AS BIGINT) AS term_df
        |FROM r WHERE rk <= 5""".stripMargin,

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
    "blocking_recall" ->
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
        |FROM n1 CROSS JOIN n2""".stripMargin,

    "bigram_logprob" ->
      """WITH d AS (SELECT doc_id,
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
        |FROM l GROUP BY 1""".stripMargin,

    // Kneser-Ney replay: d = 3/4 keeps the smoothed probability a ratio
    // of exact integers (numerator/denominator < 2^53, cast to DOUBLE
    // exactly on both sides); only ln is quantized, to micros
    "kn_logprob" -> (knOracleWith +
      "\nSELECT doc_id, lp_permille FROM lp"),

    // character entropy replay: per-char ln quantized to micros BEFORE
    // the per-doc sum (order-independent integers); split('') explodes
    // characters on both engines, empty docs emit nothing on either
    // (DuckDB: empty list; Spark: the lone ''/trailing '' rows are
    // length-filtered)
    "char_entropy" ->
      """WITH ch AS (SELECT doc_id, u AS ch FROM
        |    (SELECT doc_id, unnest(split(text, '')) AS u FROM documents)
        |  WHERE length(u) = 1),
        |c AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, SUM(c) AS n FROM c GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_counted,
        |  CAST(SUM(c * CAST(round(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
        |    * 1000000, 0) AS BIGINT)) // n AS BIGINT) AS entropy_micros
        |FROM c JOIN n USING (doc_id) GROUP BY doc_id, n""".stripMargin,

    // Heaps replay: parallel unnest zips token+position, one global
    // row_number under the same (doc_id, pos) order twins the engine's
    // range-partitioned index, first-occurrence min + decile conditional
    // counts are pure integers
    "vocab_growth" ->
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
        |FROM f, n, s GROUP BY step, n.n""".stripMargin,

    // kn_logprob replay + global (lp DESC, doc_id) row_number + the
    // integer tercile test — DuckDB's one global window twins the
    // engine's range-partitioned rank exactly (same total order)
    "perplexity_buckets" -> (knOracleWith + """,
        |rk AS (SELECT doc_id, lp_permille,
        |    CAST(row_number() OVER (ORDER BY lp_permille DESC, doc_id)
        |      AS BIGINT) AS rk, COUNT(*) OVER () AS n FROM lp)
        |SELECT doc_id, lp_permille,
        |  CASE WHEN rk * 3 <= n THEN 'head'
        |       WHEN rk * 3 <= n * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM rk""".stripMargin),

    // pruned-KN replay: identical integer-ratio discipline with the
    // count floor — singletons fold into the (3·fw + 4·n1)·r' backoff
    // numerator, kept types B' replace B, LEFT joins give pruned and
    // unseen-continuation bigrams their exact backoff/epsilon scores
    "kn_logprob_pruned" ->
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
        |FROM l GROUP BY 1""".stripMargin,

    // add-1-smoothed unigram-KL replay: per (vocab × source) grid cell
    // the ln of an exact integer rational quantized ONCE to micros,
    // then pure-integer weighted sums (the kn/unigram discipline);
    // DuckDB SUM->HUGEINT cast on the way out
    "source_kl" ->
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
        |FROM q GROUP BY 1""".stripMargin,

    // coverage-curve replay: one global (count desc, term) row_number
    // twins the engine's range-partitioned vocab rank (same total
    // order); each rank's minimum covering decile ceil(10r/V) buckets
    // the vocab in ONE pass (exact: r ≤ floor(V·d/10) ⟺ 10r ≤ V·d for
    // integers), the curve is a ≤10-row cumulative window
    "coverage_curve" ->
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
        |FROM b""".stripMargin,

    // UniMax waterfill replay: identical pivot construction — prefix
    // sums and row_number over the (cap, lang) total order, the first
    // cap above its own running fair share is the pivot, full caps
    // below it, the pivot row's integer level (+1 for the first r
    // remainder strata) at/after it; EPOCHS/BPM literals generated from
    // the engine's shared constants
    "unimax_alloc" ->
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
        .replace("BPM", TextAnalysis.UnimaxBudgetPermille.toString),

    // pruned-trigram-KN replay, unrolled back-off: the top level prunes
    // singleton trigram types (kept table kt, per-context fw/n1 fold
    // their mass into the back-off weight), the middle level is the
    // bigram-KN formula over the kept continuation table ct, and the
    // whole three-level interpolation collapses to ONE exact integer
    // rational per token — only the final ln is quantized (micros), the
    // kn/unigram oracle-parity discipline. LEFT joins give pruned and
    // out-of-model trigrams their exact back-off/epsilon scores;
    // greatest(m2,1) keeps middles with no kept continuation defined.
    "kn3_logprob" ->
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
        |FROM l GROUP BY 1""".stripMargin,

    // frozen-model replay: the kn3 model CTEs rebuilt from the TRAIN
    // half only (the oracle's re-derivation IS bit-equal to the stored
    // tables — counts are exact integers, and parquet round-trips longs
    // losslessly), scoring tokens from the APPLY half; the ONE semantic
    // addition vs kn3_logprob is the LEFT join on the context table
    // with the CASE giving out-of-model-context tokens the generated
    // KnOovLpMicro floor. SPLIT/OOV literals generated from the shared
    // Scala constants (one-definition discipline).
    "kn_apply" ->
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
        .replace("OOV", TextAnalysis.KnOovLpMicro.toString),

    // frozen-classifier replay: the NB model CTEs rebuilt from the TRAIN
    // half (re-derivation is bit-equal to the stored tables — counts are
    // exact integers, parquet round-trips longs losslessly), then the
    // same matched-vs-floor decomposition — each (lang, gram) TYPE's ln
    // quantized ONCE to micros, per-doc sums and the argmax pure
    // integers; gram-less docs classify on the prior alone (t = 0, no
    // matched rows). SPLIT literal generated from the shared constant.
    "nbc_apply" ->
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
        .replace("SPLIT", KnApplySplit.toString),

    // confusion-matrix replay: the nbc_apply CTE chain closed with the
    // (true, predicted) cell counts
    "nbc_eval" ->
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
        .replace("SPLIT", KnApplySplit.toString),

    // classifier-count IVM replay: the oracle never sees the delta
    // algebra — it recounts the per-class grams FROM SCRATCH over the
    // post-delta corpus (base minus retracted plus added docs); equality
    // IS the bit-exact maintenance contract
    "nbc_counts_ivm" ->
      """WITH fin AS (SELECT doc_id, lang, lower(text) AS tx
        |  FROM documents
        |  WHERE doc_id % 3 = 2
        |     OR (doc_id % 3 < 2 AND doc_id % 5 <> 0)),
        |tg AS (SELECT lang, unnest([substr(tx, i, 3)
        |    for i in range(1, greatest(len(tx) - 1, 1))]) AS g FROM fin)
        |SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c
        |FROM tg GROUP BY 1, 2""".stripMargin,

    // classifier-refresh replay: the nbc_apply scoring SQL with the
    // model CTEs rebuilt from the POST-DELTA corpus and the scoring
    // batch = the added docs — the oracle never sees the delta algebra
    // or the maintained tables, so a hash match proves
    // maintained-counts → model → classify end to end
    "nbc_refresh" ->
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
        |FROM pred WHERE rk = 1""".stripMargin,

    // quality-selection replay: the binary nbc grid pivoted per doc —
    // signed margin = score(hq) − score(lq) exactly (every quantity an
    // integer after the per-TYPE ln quantization), per-source rollup;
    // hq wins score ties (the lang ASC tie-break: 'hq' < 'lq').
    // HQ-source whitelist generated from the shared Scala constant.
    "quality_margin" ->
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
          QualityHqSources.map(s => s"'$s'").mkString(", ")),

    // IVM-maintenance replay: the oracle never sees the delta algebra —
    // it recomputes the trigram-count table FROM SCRATCH over the
    // post-delta corpus (base minus retracted plus added docs) and
    // derives the same context model table; equality IS the bit-exact
    // maintenance contract. DuckDB SUM(BIGINT)→HUGEINT casts back out.
    "kn_counts_ivm" ->
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
        |FROM tri GROUP BY 1""".stripMargin,

    // refresh-loop replay: the kn_apply scoring SQL with the model CTEs
    // rebuilt from the POST-DELTA corpus (the kn_counts_ivm `fin` set)
    // and the scoring tokens from the added docs — the oracle never sees
    // the delta algebra or the maintained table, so a hash match proves
    // maintained-counts → model → score end to end
    "kn_refresh" ->
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
        .replace("OOV", TextAnalysis.KnOovLpMicro.toString),

    // the kn_logprob replay with the gate's HAVING cut; the FLOOR
    // literal is generated from the engine's shared
    // LmPerplexityFloorPermille constant (one-definition discipline)
    "perplexity_gate" -> (knOracleWith +
      "\nSELECT doc_id, lp_permille FROM lp WHERE lp_permille >= FLOOR")
        .replace("FLOOR", TextAnalysis.LmPerplexityFloorPermille.toString),

    // Gopher rule battery: integer permille throughout; `//` on
    // nonnegative counts matches Spark DIV; '...' occurrence count via
    // greedy non-overlapping replace is identical in both engines; the
    // stopword probe AND the word-count gate literals are GENERATED from
    // the same Scala definitions the engine scores with (one-definition
    // discipline)
    "gopher_rules" ->
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
        |FROM p""".stripMargin,

    // Gopher repetition battery: one list-comprehension window explode
    // for all nine n values, two aggregates, conditional-aggregate
    // widening; cov = count × char length on both sides; permilles via
    // pure-integer //; the per-n cap literals are GENERATED from the
    // same Scala Seqs the engine gates with (one-definition discipline)
    "gopher_repetition" -> {
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
    },

    "unigram_logprob" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |c AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT SUM(c) AS t FROM c)
        |SELECT doc_id,
        |  CAST(round(SUM(CAST(round(ln(CAST(c.c AS DOUBLE) /
        |      CAST(tot.t AS DOUBLE)) * 1000000, 0) AS BIGINT))
        |    / (COUNT(*) * 1000.0), 0) AS BIGINT) AS lp_permille
        |FROM tok JOIN c USING (w) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,

    "domain_stats" ->
      s"""SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM($wsCountExpr) AS BIGINT) AS total_tokens,
        |  CAST(round(SUM($qualityExpr) * 1.0 / COUNT(*), 0) AS BIGINT)
        |    AS mean_quality_permille
        |FROM documents GROUP BY source""".stripMargin,

    // thresholds generated from the SAME hashSampleThreshold the engine
    // uses — lowercase-hex compare is numeric compare on both sides.
    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
        |WHERE CASE
        |  WHEN lang = 'en' THEN substr(md5(text), 1, 4) <
        |    '${TextAnalysis.hashSampleThreshold(250)}'
        |  WHEN lang = 'de' THEN substr(md5(text), 1, 4) <
        |    '${TextAnalysis.hashSampleThreshold(500)}'
        |  ELSE TRUE END""".stripMargin,

    // integer floor division on both sides (// in DuckDB, DIV in Spark);
    // the Knuth keep step is the salt-folded keepHashPpm on both sides
    // (XxhOracleSql.knuthKeepPpm — identity fold at fixture ids, and
    // the form that survives ANSI mode at 100x-rung surrogate keys)
    "mixture_sample" ->
      """WITH w(lang, w) AS (VALUES ('en', CAST(400 AS BIGINT)),
        |    ('zh', 150), ('es', 150), ('de', 150), ('fr', 150)),
        |c AS (SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY 1),
        |j AS (SELECT c.lang, c.n_s, w.w FROM c JOIN w USING (lang)),
        |s AS (SELECT MIN((n_s * 1000000) // w) AS scale FROM j),
        |r AS (SELECT lang, (w * scale) // n_s AS rate_ppm FROM j, s)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        |WHERE KEEPHASH < r.rate_ppm""".stripMargin
        .replace("KEEPHASH", XxhOracleSql.knuthKeepPpm("d.doc_id")),

    // temperature resampling replay: pow(p, ALPHA) quantized ONCE to
    // micros per stratum (the dsir_log ln discipline — a flip needs
    // DuckDB's and Java's pow to straddle a .5 micros boundary); pure
    // integer target share + rate + Knuth keep after that. The ALPHA
    // literal is generated from the engine's MixtureAlpha constant
    // (one-definition discipline).
    "alpha_mixture" ->
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
        .replace("KEEPHASH", XxhOracleSql.knuthKeepPpm("d.doc_id")),

    "pack_sequences" ->
      """WITH d AS (SELECT doc_id,
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
        |  FROM d)""".stripMargin,

    "chunk_docs" ->
      """SELECT doc_id, u.st AS chunk_start, md5(u.ch) AS chunk_md5
        |FROM (SELECT doc_id,
        |  unnest([{'st': i,
        |           'ch': array_to_string(w[i:i+7], ' ')}
        |          for i in range(1, greatest(len(w), 1) + 1, 4)]) AS u
        |  FROM (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS w
        |    FROM documents))""".stripMargin,

    "pii_redact" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  md5(regexp_replace(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]',
        |    'g')) AS redacted_md5
        |FROM (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN ' contact: user' || doc_id || '@example.com now'
        |         ELSE '' END AS t2
        |  FROM documents)""".stripMargin,

    "asof_join" ->
      // compares in the MICROSECOND domain on both sides: the engine
      // truncates the ns source to us (timestamp_micros(ts DIV 1000)), so
      // the oracle must order by the same truncated value — ns-precision
      // `c.ts >= e.ts` would disagree for events inside one microsecond.
      """SELECT c.event_id, c.user_id, c.tu AS ts_us, e.tu AS err_ts_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.tu >= e.tu""".stripMargin,

    "asof_tolerance" ->
      """SELECT c.event_id, c.user_id, c.tu AS ts_us,
        |  CASE WHEN c.tu - e.tu <= 3600000000 THEN e.tu END AS err_ts_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.tu >= e.tu""".stripMargin,

    "asof_forward" ->
      """SELECT c.event_id, c.user_id, c.tu AS ts_us, e.tu AS err_ts_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.tu <= e.tu""".stripMargin,

    "range_join" ->
      // same micros domain as the engine (ns DIV 1000); window inclusive
      // on both ends to match pointInInterval's BETWEEN semantics
      """SELECT c.event_id AS click_id, c.user_id, e.event_id AS err_id,
        |  c.tu AS click_us, e.tu AS err_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'click') c
        |JOIN (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
        |      WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id
        | AND c.tu >= e.tu AND c.tu <= e.tu + 1800000000""".stripMargin,

    "mm_meta" ->
      """SELECT doc_id AS asset_id, octet_length(encode(text)) AS byte_len,
        | md5(text) AS content_md5 FROM documents""".stripMargin,

    "mm_frames" ->
      """SELECT doc_id AS asset_id, unnest(range(0,
        |   1 + CAST(octet_length(encode(text)) % 30 AS INT), 7)) AS frame_idx
        | FROM documents""".stripMargin,

    "mm_decode" ->
      """SELECT doc_id AS asset_id,
        | CASE doc_id % 5
        |   WHEN 0 THEN CAST(octet_length(encode(text)) % 300 + 1 AS BIGINT)
        |   WHEN 1 THEN 0
        |   WHEN 2 THEN CAST(octet_length(encode(text)) % 500 + 1 AS BIGINT)
        |   WHEN 3 THEN CAST(octet_length(encode(text)) % 300 + 2 AS BIGINT)
        |   ELSE CAST(octet_length(encode(text)) % 400 + 1 AS BIGINT)
        |   END AS width,
        | CASE doc_id % 5
        |   WHEN 0 THEN CAST((octet_length(encode(text)) // 7) % 200 + 1
        |     AS BIGINT)
        |   WHEN 1 THEN 0
        |   WHEN 2 THEN CAST((octet_length(encode(text)) // 3) % 400 + 1
        |     AS BIGINT)
        |   WHEN 3 THEN CAST((octet_length(encode(text)) // 5) % 250 + 1
        |     AS BIGINT)
        |   ELSE CAST((octet_length(encode(text)) // 11) % 300 + 1 AS BIGINT)
        |   END AS height,
        | CASE WHEN doc_id % 5 = 1
        |   THEN CAST(octet_length(encode(text)) AS BIGINT)
        |   ELSE 1 END AS n_frames
        |FROM documents""".stripMargin,

    "mm_resize" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    16 + octet_length(encode(text)) % 64 AS w,
        |    16 + ((octet_length(encode(text)) // 7) % 64) AS h FROM documents),
        |s AS (SELECT asset_id, w, h,
        |    LEAST(1000, 32000 // GREATEST(w, h)) AS sc FROM d)
        |SELECT asset_id, CAST(sc AS BIGINT) AS scale_permille,
        |  CAST(w * sc // 1000 AS BIGINT) AS out_w,
        |  CAST(h * sc // 1000 AS BIGINT) AS out_h
        |FROM s""".stripMargin,

    "mm_patches" ->
      """WITH d AS (SELECT doc_id AS asset_id,
        |    octet_length(encode(text)) AS n FROM documents),
        |dims AS (SELECT asset_id, 16 + n % 64 AS w,
        |    16 + ((n // 7) % 64) AS h FROM d),
        |px AS (SELECT asset_id, h,
        |    unnest(range(0, CAST(ceil(w / 16.0) AS BIGINT))) AS px
        |  FROM dims)
        |SELECT asset_id, px,
        |  unnest(range(0, CAST(ceil(h / 16.0) AS BIGINT))) AS py
        |FROM px""".stripMargin,

    "sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    lag(CAST(floor(epoch(ts)) AS BIGINT))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
        |  FROM events),
        |s AS (
        |  SELECT user_id, value,
        |    CAST(SUM(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM x)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "stream_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |   AS window_start,
        | event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS value_cents
        | FROM events GROUP BY 1, 2""".stripMargin,

    // integer floor division on both sides (// in DuckDB, DIV in Spark);
    // RA summand 1000000//deg is exact, so no float enters the score
    "link_predict" ->
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
        |ORDER BY ra_micro DESC, u ASC, w ASC LIMIT 50""".stripMargin,

    "basket_triples" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 100 AS i
        |  FROM lineitem)
        |SELECT x.i AS item_a, y.i AS item_b, z.i AS item_c,
        |  COUNT(*) AS n_abc
        |FROM bi x
        |JOIN bi y ON x.b = y.b AND x.i < y.i
        |JOIN bi z ON x.b = z.b AND z.i > y.i
        |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2""".stripMargin,

    "bootstrap_reps" -> {
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
    },

    "basket_pairs" ->
      """WITH bi AS (
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
        |ORDER BY n_ab DESC, item_a ASC, item_b ASC LIMIT 100""".stripMargin,

    // per-term ln quantizes to integer micros BEFORE any sum (the
    // unigram_logprob discipline) — the regression runs on exact HUGEINT
    // sufficient stats, one final double division
    "zipf_slope" ->
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
        |FROM st""".stripMargin,

    // weights are exact powers of two (1<<(30-age)); the weighted sum and
    // weight sum stay integers, one floor division normalizes
    "ewma_daily" ->
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
        |FROM j GROUP BY 1, 2""".stripMargin,

    // S⁺ = cumsum − running min, S⁻ = running max − cumsum (the prefix
    // identity for max(0, S+dev)); argmax day via row_number, both exact
    "cusum_shift" ->
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
        |FROM r WHERE rp = 1 OR rn = 1 GROUP BY 1""".stripMargin,

    "attribution_first" ->
      """WITH o AS (
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
        |GROUP BY 1""".stripMargin,

    "postings" ->
      """WITH td AS (
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
        |FROM r WHERE rn <= 10 GROUP BY 1, 2""".stripMargin,

    "source_jaccard" ->
      """WITH st AS (
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
        |JOIN sz sb ON sb.g = i.src_b""".stripMargin,

    // inner band join + NOT EXISTS for the orphan row — mirrors the
    // engine's anti-join exactly (a left join would drop conversions
    // whose entity has out-of-window priors)
    "attribution_last" ->
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
        |FROM u""".stripMargin,

    // formula mirrored token-for-token from the engine expression —
    // identical op order keeps the one double evaluation bit-aligned
    "welch_t" ->
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
        |FROM t""".stripMargin,

    // complete-grid chi-square: marginal cross join LEFT-joined to the
    // observed cells so o=0 cells still contribute their expectation
    "chi2_independence" ->
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
        |FROM q""".stripMargin,

    // saturation in cleared-denominator integer form — the one double
    // division takes exact BIGINT operands on both engines
    "bm25_topk" ->
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
        |ORDER BY score_micro DESC, doc_id ASC LIMIT 10""".stripMargin,

    "weighted_sample" ->
      """WITH s AS (SELECT source, doc_id, n_chars,
        |    CAST(round(
        |      ln((((doc_id % 2147483647) * 2654435761) % 4294967296
        |        + 0.5) / 4294967296)
        |        / n_chars * 1000000000000, 0) AS BIGINT) AS score_pico
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY score_pico DESC, doc_id ASC) AS rank FROM s)
        |SELECT source, doc_id, n_chars, score_pico, rank
        |FROM r WHERE rank <= 5""".stripMargin
  )

  /** DuckDB expression twin of [[TextAnalysis.langId]]: same stopword
    * lists, same scoring (token-set filter count), same argmax tie order. */
  private def langIdCaseExpr: String = {
    def score(ws: Seq[String]): String = {
      val conds = ws.map(w => s"x = '$w'").mkString(" OR ")
      s"len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> $conds))"
    }
    val scores = TextAnalysis.stopwords.map { case (l, ws) => l -> score(ws) }
    val best = s"greatest(${scores.map(_._2).mkString(", ")})"
    val cases = scores.map { case (l, sc) =>
      s"WHEN $best > 0 AND $sc = $best THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  private def langIdSql: String =
    s"SELECT doc_id, $langIdCaseExpr AS pred_lang FROM documents"

  private def wsCountExpr: String =
    "len(regexp_split_to_array(trim(text), '\\s+'))"

  /** DuckDB expression twin of [[TextAnalysis.qualityScore]] — formula
    * mirrored term-for-term (same double arithmetic shape). */
  private def qualityExpr: String = {
    val allStops = TextAnalysis.stopwords.flatMap(_._2)
      .map(w => s"x = '$w'").mkString(" OR ")
    s"""CAST(round((
       |  least(CAST($wsCountExpr AS DOUBLE)
       |    / 100.0, 1.0) * 0.4 +
       |  least(CAST(len(list_filter(
       |      regexp_split_to_array(trim(lower(text)), '\\s+'),
       |      x -> $allStops)) AS DOUBLE)
       |    / greatest(CAST($wsCountExpr AS DOUBLE), 1.0) * 5.0, 1.0) * 0.4 +
       |  (1.0 - least(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
       |        AS DOUBLE)
       |    / CAST(greatest(length(text), 1) AS DOUBLE) * 4.0, 1.0)) * 0.2
       |  ) * 1000, 0) AS BIGINT)""".stripMargin
  }

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

  /** DuckDB oracle for `ann_ivf` ([[Similarity.annTopKIvf]] with default
    * deterministic centroids): everything the Spark plan does is plain
    * SQL — centroids = 16 lowest-id corpus vectors, corpus assignment =
    * argmax of ROUNDED permille cosine with lowest-cid tie-break (the same
    * quantized value the engine aggregates on), query probes = top-4 cells
    * by the same order, then in-cell scoring and per-query top-5. */
  /** Shared body of the `cdc_chunks` / `cdc_dedup` oracles — the full
    * chunking replay as one self-contained SELECT (nestable as a CTE). */
  private def cdcChunksSqlBody: String =
    """WITH a AS (SELECT doc_id AS id,
      |    2048 + octet_length(encode(text)) % 2048 AS n
      |  FROM documents WHERE doc_id % 5 = 0),
      |bts AS (SELECT id, k,
      |    CASE WHEN (k // 512) % 2 = 0 THEN (k * 2654435761) % 256
      |         ELSE (id * 31 + k * 2654435761) % 256 END AS b
      |  FROM a, unnest(range(0, n)) AS t(k)),
      |g AS (SELECT id, k, b,
      |    ((b + 1) * 2654435761) % 4294967296 AS g
      |  FROM bts),
      |hh AS (SELECT id, k, b,
      |    g + lag(g, 1) OVER w * 2 + lag(g, 2) OVER w * 4
      |      + lag(g, 3) OVER w * 8 + lag(g, 4) OVER w * 16
      |      + lag(g, 5) OVER w * 32 + lag(g, 6) OVER w * 64
      |      + lag(g, 7) OVER w * 128 AS h
      |  FROM g WINDOW w AS (PARTITION BY id ORDER BY k)),
      |mk AS (SELECT id, k, b,
      |    CASE WHEN k >= 7 AND h % 256 = 0 THEN 1 ELSE 0 END AS bnd
      |  FROM hh),
      |om AS (SELECT id, k, b, COALESCE(MAX(
      |      CASE WHEN bnd = 1 THEN k + 1 END) OVER (
      |      PARTITION BY id ORDER BY k
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM mk),
      |ch AS (SELECT id, off, COUNT(*) AS len,
      |    SUM((b + 7) * ((((((k - off + 13) % 1000000007)
      |      * ((k - off + 13) % 1000000007)) % 1000000007)
      |      * ((k - off + 13) % 1000000007)) % 1000000007))
      |      % 1000000007 AS chunk_sig
      |  FROM om GROUP BY 1, 2)
      |SELECT id AS asset_id,
      |  CAST(row_number() OVER (PARTITION BY id ORDER BY off) AS BIGINT)
      |    AS chunk_idx,
      |  CAST(off AS BIGINT) AS off, CAST(len AS BIGINT) AS len,
      |  CAST(chunk_sig AS BIGINT) AS chunk_sig
      |FROM ch""".stripMargin

  /** Shared CTE chain of the `ann_sq8` / `rank_fusion` /
    * `ann_sq8_apply` oracles: corpus and query frames with norms, unit
    * vectors, per-dim min/max stats as ordered lists, floor/clamp 8-bit
    * codes, and the full (qid, nid, d2) symmetric-code-distance cross —
    * one definition, three read-outs (the apply variant swaps only the
    * corpus/query split predicates; the oracle recomputes from scratch
    * what the engine replays from the stored tables, so equality IS the
    * publish/pin/serve round-trip proof). */
  private def sq8CandSql: String = sq8CandSqlFor("id >= 10", "id < 10")

  /** `statsPred` is the corpus the FROZEN per-dim [min, max] bounds
    * derive from — equal to `corpPred` for build-and-serve, the BASE
    * corpus for the refresh oracle (maintained codes quantize the
    * post-delta corpus with base-frozen bounds). */
  private def sq8CandSqlFor(corpPred: String, qPred: String,
      statsPred: String = null): String = {
    val sPred = Option(statsPred).getOrElse(corpPred)
    s"""WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |   FROM embeddings),
      |corp AS (SELECT id AS nid, v AS nv, list_dot_product(v, v) AS nn2
      |   FROM base WHERE $corpPred),
      |q AS (SELECT id AS qid, v AS qv, list_dot_product(v, v) AS qn2
      |   FROM base WHERE $qPred),
      |corpn AS (SELECT nid, list_transform(nv, x -> x / sqrt(nn2)) AS uv
      |   FROM corp),
      |qn AS (SELECT qid, list_transform(qv, x -> x / sqrt(qn2)) AS uv
      |   FROM q),
      |st AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM (
      |    SELECT unnest(uv) AS x,
      |      unnest(range(1, len(uv) + 1)) AS d FROM (
      |      SELECT list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
      |        AS uv FROM base WHERE $sPred))
      |  GROUP BY d),
      |sta AS (SELECT list(mn ORDER BY d) AS mns,
      |    list(mx ORDER BY d) AS mxs FROM st),
      |ce AS (SELECT nid, [CASE WHEN mxs[i] = mns[i] THEN 0.0 ELSE
      |      least(255.0, greatest(0.0,
      |        floor((uv[i] - mns[i]) * 255.0 / (mxs[i] - mns[i]))))
      |      END for i in range(1, 65)] AS cc
      |  FROM corpn CROSS JOIN sta),
      |ce2 AS (SELECT nid, cc, list_dot_product(cc, cc) AS cn2 FROM ce),
      |qe AS (SELECT qid, [CASE WHEN mxs[i] = mns[i] THEN 0.0 ELSE
      |      least(255.0, greatest(0.0,
      |        floor((uv[i] - mns[i]) * 255.0 / (mxs[i] - mns[i]))))
      |      END for i in range(1, 65)] AS qc
      |  FROM qn CROSS JOIN sta),
      |qe2 AS (SELECT qid, qc, list_dot_product(qc, qc) AS qcn2 FROM qe),
      |cand AS (SELECT qid, nid,
      |    CAST(cn2 + qcn2 - 2 * list_dot_product(cc, qc) AS BIGINT)
      |      AS d2
      |  FROM ce2, qe2 WHERE qid <> nid)""".stripMargin
  }

  private def annIvfSql: String =
    """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |   FROM embeddings),
      |cent AS (SELECT id AS cid, v AS cv, list_dot_product(v, v) AS cn2
      |   FROM base WHERE id >= 10 ORDER BY id LIMIT 16),
      |corp AS (SELECT id AS nid, v AS nv, list_dot_product(v, v) AS nn2
      |   FROM base WHERE id >= 10),
      |q AS (SELECT id AS qid, v AS qv, list_dot_product(v, v) AS qn2
      |   FROM base WHERE id < 10),
      |cassign AS (SELECT nid, nv, nn2, cid FROM (
      |  SELECT nid, nv, nn2, cid, row_number() OVER (PARTITION BY nid
      |    ORDER BY CAST(round(list_dot_product(nv, cv) /
      |      (sqrt(nn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC, cid ASC)
      |    AS rn FROM corp CROSS JOIN cent) WHERE rn = 1),
      |qprobe AS (SELECT qid, qv, qn2, cid FROM (
      |  SELECT qid, qv, qn2, cid, row_number() OVER (PARTITION BY qid
      |    ORDER BY CAST(round(list_dot_product(qv, cv) /
      |      (sqrt(qn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC, cid ASC)
      |    AS rn FROM q CROSS JOIN cent) WHERE rn <= 4),
      |scored AS (SELECT DISTINCT qid, nid,
      |  CAST(round(list_dot_product(qv, nv) / (sqrt(qn2) * sqrt(nn2))
      |    * 1000.0, 0) AS BIGINT) AS cos_permille
      |  FROM cassign JOIN qprobe USING (cid) WHERE qid <> nid)
      |SELECT qid, nid, cos_permille FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY cos_permille DESC, nid ASC) AS rn FROM scored)
      |WHERE rn <= 5""".stripMargin

  /** Oracle twin of `ann_ivfpq` ([[graft.operators.Similarity.annTopKIvfPq]]):
    * the IVF assignment/probe CTEs of [[annIvfSql]] composed with the
    * `pq_codes` codebook construction, ADC partial distances summed per
    * (query, candidate) — every tier deterministic (lowest-id seeds,
    * integer-milli distances, total tie orders), so the compare is
    * exact. */
  private def annIvfPqSql: String =
    annIvfPqSqlFor("id >= 10", "id < 10", version = None)

  /** `seedPred` is the corpus the FROZEN artifacts (IVF centroids +
    * PQ codebook seeds) derive from — equal to `corpPred` for the
    * build-and-serve oracles, the BASE corpus for the refresh oracle
    * (maintenance encodes the post-delta corpus against base-frozen
    * artifacts, so the replay must too). */
  private def annIvfPqSqlFor(corpPred: String, qPred: String,
      version: Option[Int], seedPred: String = null): String = {
    val sPred = Option(seedPred).getOrElse(corpPred)
    val vCol = version.map(v =>
      s",\n  CAST($v AS BIGINT) AS model_version").getOrElse("")
    s"""WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |   FROM embeddings),
      |cent AS (SELECT id AS cid, v AS cv, list_dot_product(v, v) AS cn2
      |   FROM base WHERE $sPred ORDER BY id LIMIT 16),
      |corp AS (SELECT id AS nid, v AS nv, list_dot_product(v, v) AS nn2
      |   FROM base WHERE $corpPred),
      |q AS (SELECT id AS qid, v AS qv, list_dot_product(v, v) AS qn2
      |   FROM base WHERE $qPred),
      |cassign AS (SELECT nid, cid FROM (
      |  SELECT nid, cid, row_number() OVER (PARTITION BY nid
      |    ORDER BY CAST(round(list_dot_product(nv, cv) /
      |      (sqrt(nn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC, cid ASC)
      |    AS rn FROM corp CROSS JOIN cent) WHERE rn = 1),
      |qprobe AS (SELECT qid, cid FROM (
      |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
      |    ORDER BY CAST(round(list_dot_product(qv, cv) /
      |      (sqrt(qn2) * sqrt(cn2)) * 1000.0, 0) AS BIGINT) DESC, cid ASC)
      |    AS rn FROM q CROSS JOIN cent) WHERE rn <= 4),
      |subs AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS sub),
      |corpn AS (SELECT nid, list_transform(nv, x -> x / sqrt(nn2)) AS nv
      |   FROM corp),
      |qn AS (SELECT qid, list_transform(qv, x -> x / sqrt(qn2)) AS qv
      |   FROM q),
      |scorpn AS (SELECT id AS nid,
      |    list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
      |   FROM base WHERE $sPred),
      |seeds AS (SELECT nid AS code, nv FROM scorpn ORDER BY nid LIMIT 128),
      |cb AS (SELECT sub, code, nv[sub*8+1 : sub*8+8] AS cv,
      |    list_dot_product(nv[sub*8+1 : sub*8+8],
      |      nv[sub*8+1 : sub*8+8]) AS cn2
      |  FROM seeds CROSS JOIN subs),
      |ce AS (SELECT nid, sub, nv[sub*8+1 : sub*8+8] AS sv,
      |    list_dot_product(nv[sub*8+1 : sub*8+8],
      |      nv[sub*8+1 : sub*8+8]) AS sn2
      |  FROM corpn CROSS JOIN subs),
      |codes AS (SELECT nid, sub, code FROM (
      |  SELECT ce.nid, ce.sub, cb.code, row_number() OVER (
      |      PARTITION BY ce.nid, ce.sub
      |      ORDER BY CAST(round((ce.sn2 - 2 * list_dot_product(ce.sv, cb.cv)
      |        + cb.cn2) * 1000.0, 0) AS BIGINT) ASC, cb.code ASC) AS rn
      |    FROM ce JOIN cb ON ce.sub = cb.sub) u WHERE rn = 1),
      |qe AS (SELECT qid, sub, qv[sub*8+1 : sub*8+8] AS sv,
      |    list_dot_product(qv[sub*8+1 : sub*8+8],
      |      qv[sub*8+1 : sub*8+8]) AS sn2
      |  FROM qn CROSS JOIN subs),
      |dt AS (SELECT qe.qid, qe.sub, cb.code,
      |    CAST(round((qe.sn2 - 2 * list_dot_product(qe.sv, cb.cv) + cb.cn2)
      |      * 1000.0, 0) AS BIGINT) AS pd
      |  FROM qe JOIN cb ON qe.sub = cb.sub),
      |cand AS (SELECT p.qid, k.nid, SUM(d.pd) AS adc_milli
      |  FROM codes k JOIN cassign a ON a.nid = k.nid
      |  JOIN qprobe p ON p.cid = a.cid
      |  JOIN dt d ON d.qid = p.qid AND d.sub = k.sub AND d.code = k.code
      |  WHERE p.qid <> k.nid GROUP BY 1, 2),
      |short AS (SELECT qid, nid FROM (
      |  SELECT qid, nid, row_number() OVER (PARTITION BY qid
      |    ORDER BY adc_milli ASC, nid ASC) AS rn FROM cand) u
      |  WHERE rn <= 25),
      |rs AS (SELECT s.qid, s.nid,
      |    CAST(round(list_dot_product(q.qv, c.nv) /
      |      (sqrt(q.qn2) * sqrt(c.nn2)) * 1000.0, 0) AS BIGINT)
      |      AS cos_permille
      |  FROM short s JOIN corp c ON c.nid = s.nid JOIN q ON q.qid = s.qid)
      |SELECT qid, nid, cos_permille$vCol FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY cos_permille DESC, nid ASC) AS rn FROM rs) u
      |WHERE rn <= 5""".stripMargin
  }

  /** The splitmix plane constants of [[Similarity.planes]] as DuckDB double
    * literals — `java.lang.Double.toString` emits the shortest string that
    * round-trips to the exact bits, and DuckDB's parser is
    * correctly-rounded, so the oracle computes sign bits against the SAME
    * hyperplanes the engine does. Sign-flip risk from summation-order
    * divergence exists only within ~1 ulp of 0 — pseudo-random plane dots
    * against real embeddings never land there. */
  private def planeLit(p: Array[Double]): String =
    // explicit DOUBLE[] cast: DuckDB types bare decimal literals as
    // DECIMAL; the exact decimal → correctly-rounded double cast recovers
    // the engine's bits, but only if the coercion actually happens.
    p.map(java.lang.Double.toString)
      .mkString("CAST([", ", ", "] AS DOUBLE[])")

  /** SRP bucket id of `vCol` as a DuckDB expression — sign bit per plane
    * packed into an integer, mirroring [[Similarity.lshBucket]]. */
  private def bucketExpr(vCol: String, nPlanes: Int = 6, dim: Int = 64): String =
    graft.operators.Similarity.planes(nPlanes, dim).zipWithIndex.map {
      case (pl, p) =>
        s"(CASE WHEN list_dot_product($vCol, ${planeLit(pl)}) >= 0" +
          s" THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB oracle for `ann_lsh` ([[Similarity.annTopK]]): corpus bucket
    * equi-join against the query's own bucket plus its 6 Hamming-1 probes
    * (bucket XOR 1<<p), then per-query top-5. */
  /** NDCG rank discounts 1/log2(i+1) for ranks 1..5, in micros — computed
    * ONCE here; both the engine and the SQL twin consume the literals. */
  private[graft] def ndcgDiscountsMicro: Seq[Long] =
    (1 to 5).map(i => math.round(1e6 / (math.log(i + 1) / math.log(2))))

  /** Oracle twin of `ann_ndcg`: both pipelines (brute-force truth, LSH
    * ranking) restated in SQL, hits discounted by the shared literals. */
  private def annNdcgSql: String = {
    val d = ndcgDiscountsMicro
    val caseD = s"""CASE r.rn WHEN 1 THEN ${d(0)} WHEN 2 THEN ${d(1)}
      | WHEN 3 THEN ${d(2)} WHEN 4 THEN ${d(3)} WHEN 5 THEN ${d(4)}
      | ELSE 0 END""".stripMargin
    s"""WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |   FROM embeddings),
      |tq AS (SELECT id AS qid, v AS qv FROM base WHERE id < 10),
      |tc AS (SELECT id AS nid, v AS nv FROM base WHERE id >= 10),
      |bscored AS (SELECT qid, nid,
      |  CAST(round(list_dot_product(qv, nv) /
      |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv)))
      |    * 1000.0, 0) AS BIGINT) AS cos_permille
      |  FROM tc, tq),
      |truth AS (SELECT qid, nid FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY cos_permille DESC, nid ASC) AS rn FROM bscored)
      |  WHERE rn <= 5),
      |q AS (SELECT id AS qid, v AS qv, list_dot_product(v, v) AS qn2,
      |   ${bucketExpr("v")} AS qb FROM base WHERE id < 10),
      |qp AS (SELECT qid, qv, qn2, xor(qb, m) AS bucket
      |   FROM q CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) AS m)),
      |c AS (SELECT id AS nid, v AS nv, list_dot_product(v, v) AS nn2,
      |   ${bucketExpr("v")} AS bucket FROM base WHERE id >= 10),
      |ascored AS (SELECT qid, nid,
      |  CAST(round(list_dot_product(qv, nv) / (sqrt(qn2) * sqrt(nn2))
      |    * 1000.0, 0) AS BIGINT) AS cos_permille
      |  FROM c JOIN qp USING (bucket) WHERE qid <> nid),
      |ranked AS (SELECT qid, nid, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY cos_permille DESC, nid ASC) AS rn FROM ascored)
      |  WHERE rn <= 5),
      |dcg AS (SELECT r.qid AS qid,
      |  CAST(SUM(CASE WHEN t.nid IS NOT NULL THEN $caseD ELSE 0 END)
      |    AS BIGINT) AS dcg_micro
      |  FROM ranked r LEFT JOIN truth t
      |    ON r.qid = t.qid AND r.nid = t.nid
      |  GROUP BY 1)
      |SELECT qid, dcg_micro,
      |  CAST(dcg_micro * 1000000 // ${d.sum} AS BIGINT) AS ndcg_ppm
      |FROM dcg""".stripMargin
  }

  private def annLshSql: String =
    s"""WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |   FROM embeddings),
      |q AS (SELECT id AS qid, v AS qv, list_dot_product(v, v) AS qn2,
      |   ${bucketExpr("v")} AS qb FROM base WHERE id < 10),
      |qp AS (SELECT qid, qv, qn2, xor(qb, m) AS bucket
      |   FROM q CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) AS m)),
      |c AS (SELECT id AS nid, v AS nv, list_dot_product(v, v) AS nn2,
      |   ${bucketExpr("v")} AS bucket FROM base WHERE id >= 10),
      |scored AS (SELECT qid, nid,
      |  CAST(round(list_dot_product(qv, nv) / (sqrt(qn2) * sqrt(nn2))
      |    * 1000.0, 0) AS BIGINT) AS cos_permille
      |  FROM c JOIN qp USING (bucket) WHERE qid <> nid)
      |SELECT qid, nid, cos_permille FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY cos_permille DESC, nid ASC) AS rn FROM scored)
      |WHERE rn <= 5""".stripMargin

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
