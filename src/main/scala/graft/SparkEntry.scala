package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Crc32Q
import graft.operators.{Dedup, GraphAlgos, Reconcile, Similarity, TextAnalysis}
import graft.queries._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (the "Planned query" column), each with a DuckDB-oracle SQL
  * twin over the same parquet tables in `oracleSql` or a reason in
  * `noOracleReason`.
  *
  * Each query is declared once, as `Query(name, plan, check)`, in a family
  * file under `graft/queries` (one per `// =====` section of the battery;
  * the dedup and text-analysis sections span two files each). The check is an
  * [[graft.queries.Oracle]] twin or a [[graft.queries.NoOracle]] reason,
  * so a query with neither cannot be written. This object keeps the
  * shared helpers the families read (`t`, `cents`, `events`, the
  * reconcile fixtures, the SQL-twin expressions more than one family
  * uses), the memo registry, and the three maps derived from the
  * declarations. Family objects read these members only inside plan
  * closures and their `lazy val all`, so object initialization order
  * cannot hand out nulls.
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

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    hookEviction(s)
    tableCache.getOrElseUpdate((s, s"$dir/$name.parquet"),
      s.read.parquet(s"$dir/$name.parquet"))
  }

  private[graft] def cents(c: Column): Column = round(c * 100).cast("long")

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
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.withColumn("ts", tsNanos(df.schema("ts").dataType))
  }

  /** `embeddings` as the similarity family reads it: `vec_id` as `id`,
    * `embedding` as `vec`, then the `extra` columns by name. */
  private[graft] def embeddings(s: SparkSession, dir: String,
      extra: String*): DataFrame =
    t(s, dir, "embeddings").select(Seq(col("vec_id").as("id"),
      col("embedding").as("vec")) ++ extra.map(col): _*)

  /** The IVM split of a corpus keyed by `id`, shared by the maintained
    * count, classifier and index families: the `base` image
    * (`id % 3 < 2`), the `added` rows (`id % 3 = 2`), the `__op`-signed
    * `delta` that adds them (+1) and retracts the base rows with
    * `id % 5 = 0` (−1), and the `post`-delta corpus those two give. The
    * oracle twins spell the same predicates out and rebuild `post` from
    * scratch, so maintenance must equal recomputation. */
  private[graft] final class IvmSplit(corpus: DataFrame, id: String) {
    val base: DataFrame = corpus.filter(col(id) % 3 < 2)
    val added: DataFrame = corpus.filter(col(id) % 3 === 2)
    lazy val delta: DataFrame = added.withColumn("__op", lit(1))
      .unionByName(base.filter(col(id) % 5 === 0).withColumn("__op", lit(-1)))
    lazy val post: DataFrame = added.unionByName(base.filter(col(id) % 5 =!= 0))
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
  private[graft] def rBatch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").cast("string").as("external_id"),
        when(col("o_orderkey") % 5 === 0, "v2").otherwise("v1").as("updated_at"),
        cents(col("o_totalprice")).as("price_cents"))

  private[graft] def rState(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey").cast("string").as("external_id"),
        Crc32Q(lit("v1")).as("hash"))

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
  private[graft] final class Memo[V](val name: String,
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
  private[graft] def modDirectedE(s: SparkSession, dir: String): DataFrame =
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
  private[graft] def modCanonicalE(s: SparkSession, dir: String): DataFrame =
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
  private[graft] val sccDag = memo("scc_dag") { (sess, d) =>
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
  private[graft] val rankGraph = memo("rank_graph") { (sess, d) =>
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
  private[graft] val docDupGraph = memo("doc_dup") { (sess, d) =>
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
  private[graft] val covisitSessions = memo("covisit") { (sess0, d) =>
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
  private[graft] val dsirOcc = memo("dsir_occ") { (sess, d) =>
    TextAnalysis.dsirFeaturize(t(sess, d, "documents"), "text",
      "doc_id", col("lang") === "en", TextAnalysis.DsirBuckets)
  }

  /** Shared BPE merge table for the tokenizer family (`bpe_apply`,
    * `bpe_fertility`): the 10-iteration trainer's driver loop runs once
    * per (session, dir) — the merges are a tiny Seq, not a frame, so the
    * memo holds the collected pairs directly. */
  private[graft] val bpeMergeTable = memo("bpe_merges") { (sess, d) =>
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
  private[graft] val FunnelMinWords = 5
  private[graft] val FunnelMix = Seq("en" -> 700L, "de" -> 300L)
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
  private[graft] val funnelRows = memo("funnel") { (sess, d) =>
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
  private[graft] val corpusBigramCounts = memo("bigram_counts") { (sess, d) =>
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
  private[graft] val knScores = memo("kn_scores") { (sess, d) =>
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
  private[graft] val knMaintainedTrigramCounts = memo("kn_ivm_counts") { (sess, d) =>
    val split = new IvmSplit(t(sess, d, "documents"), "doc_id")
    val state = graft.operators.Dedup
      .shingleStream(split.base, "text", "doc_id", n = 3)
      .groupBy(col("s")).agg(count(lit(1)).as("c123"))
    TextAnalysis
      .maintainTrigramCounts(state, split.delta, "text", "doc_id", "__op")
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
  private[graft] val corpusPostings = memo("postings_tf") { (sess, d) =>
    TextAnalysis.postingsTable(t(sess, d, "documents"), "text",
      "doc_id").localCheckpoint()
  }

  /** Shared full-corpus unigram-count table (w, c) — the bigram memo's
    * unigram sibling for `vocab_topk`, `coverage_curve`, `zipf_slope`,
    * `unigram_logprob` (round-16, guide §2.4). Since r17 it is the
    * `Σ tf per w` rollup of [[corpusPostings]] (Σ of per-doc counts ≡
    * the corpus occurrence count), so the memo phase pays ONE corpus
    * tokenize for the whole unigram+retrieval family. */
  private[graft] val corpusUnigramCounts = memo("unigram_counts") { (sess, d) =>
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
  private[graft] val dupSpansTable = memo("dup_spans") { (sess, d) =>
    TextAnalysis.dupSpans(t(sess, d, "documents"), "text", "doc_id",
      k = 8).localCheckpoint()
  }

  /** Shared SQ8 candidate table (qid, nid, d2) for the compressed-ANN
    * eval pair (`ann_sq8`, `rank_fusion`): both score the identical
    * query/corpus cross against the identical corpus code table —
    * memoized + checkpointed once per (session, dir) (r16, guide §2.4;
    * the table is |q|·|corpus| eval-cross rows, the documented bounded
    * evaluation-tier exception). */
  private[graft] val sq8CandTable = memo("sq8_cand") { (sess, d) =>
    val emb = embeddings(sess, d)
    Similarity.sq8CandidateTable(emb.filter(col("id") < 10),
      emb.filter(col("id") >= 10)).localCheckpoint()
  }

  /** Shared winnowing fingerprint table for the MOSS family
    * (`winnow_fingerprints`, `winnow_pairs`): ONE fingerprint pass per
    * (session, dir) — the [[covisitSessions]] memo discipline; the
    * frame is checkpointed so both consumers (and the pair query's four
    * plan branches) read the materialized rows. */
  private[graft] val winnowFp = memo("winnow_fp") { (sess, d) =>
    TextAnalysis.winnowFingerprints(t(sess, d, "documents"), "text",
      "doc_id", k = TextAnalysis.WinnowK, w = TextAnalysis.WinnowW)
      .localCheckpoint()
  }

  /** `kn_apply`'s train/apply split modulus: even doc_ids train the
    * frozen model, odd doc_ids are the scoring batch — defined once and
    * generated into the oracle's WHERE clauses (one-definition
    * discipline). */
  private[graft] val KnApplySplit = 2

  /** The skeleton of every frozen-model memo: a temp
    * [[graft.state.ModelRegistry]] of its own (rooted at a fresh
    * `tempPrefix` dir, deleted when the context stops), the caller's
    * `publish` into it, a pin of the promoted `model` version
    * (`snapshot`), and the caller's `score` against that PINNED
    * artifact with `model_version` stamped on every row — the provenance
    * a production refresh loop needs to attribute a score to the
    * artifact that produced it. The memos therefore exercise the real
    * registry round-trip, never an in-session shortcut. */
  private def frozenScores(sess: SparkSession, tempPrefix: String,
      model: String)(publish: graft.state.ModelRegistry => Unit)(
      score: graft.state.ModelRegistry#Pinned => DataFrame): DataFrame = {
    val reg = new graft.state.ModelRegistry(sess,
      newModelTempRoot(sess, tempPrefix))
    publish(reg)
    val pin = reg.snapshot(model)
    score(pin).withColumn("model_version", lit(pin.version))
  }

  /** [[frozenScores]] for a refresh loop: publish v1 with `publishV1`,
    * pin it, and promote as v2 the tables `maintain` derives from that
    * pin (v1's frozen tables reused, the maintained ones replaced), so
    * the refresh pays delta-sized work plus one manifest swap; `score`
    * then reads the pinned v2. */
  private def refreshedScores(sess: SparkSession, tempPrefix: String,
      model: String)(publishV1: graft.state.ModelRegistry => Unit)(
      maintain: graft.state.ModelRegistry#Pinned => Seq[(String, DataFrame)])(
      score: graft.state.ModelRegistry#Pinned => DataFrame): DataFrame =
    frozenScores(sess, tempPrefix, model) { reg =>
      publishV1(reg)
      reg.publish(model, maintain(reg.snapshot(model)))
    }(score)

  /** Frozen-model LM scoring (`kn_apply`): ONE train + publish + pin +
    * score pass per (session, dir). The train half builds the pruned
    * trigram-KN model ([[TextAnalysis.kn3Model]]), its six tables are
    * PUBLISHED as one immutable version (single manifest swap — no torn
    * cross-table mix under refresh), and the apply half scores the
    * held-out batch against the pinned reloaded artifact (round-trip ≡
    * in-session equality is pinned in LmApplySpec; refresh/rollback
    * stability in ModelRegistrySpec). This is the production CCNet
    * shape: the gate LM is trained once on a high-quality corpus and
    * FROZEN; crawl batches score against the artifact (Wenzek et al.
    * 2020). */
  private[graft] val knApplyScores = memo("kn_apply") { (sess, d) =>
    val docs = t(sess, d, "documents")
    frozenScores(sess, "graft-kn-apply", "lm")(
      TextAnalysis.kn3PublishModel(
        docs.filter(col("doc_id") % KnApplySplit === 0), "text",
        "doc_id", _, "lm"))(pin =>
      TextAnalysis.kn3Score(
        docs.filter(col("doc_id") % KnApplySplit === 1), "text",
        "doc_id", TextAnalysis.kn3FromRegistry(pin)))
  }

  /** Frozen-classifier scoring (`nbc_apply` / `nbc_eval`): the kn_apply
    * discipline applied to the trained Naive-Bayes language classifier
    * ([[graft.operators.NaiveBayes]]): even doc_ids train, the three
    * model tables publish as one version, odd doc_ids score against the
    * pinned artifact (the CCNet lang-id gate's production shape —
    * classify crawl batches with a model trained once and frozen). */
  private[graft] val nbcApplyScores = memo("nbc_apply") { (sess, d) =>
    val docs = t(sess, d, "documents")
    frozenScores(sess, "graft-nbc-apply", "nbc")(
      graft.operators.NaiveBayes.nbcPublishModel(
        docs.filter(col("doc_id") % KnApplySplit === 0), "text", "lang",
        _, "nbc"))(pin =>
      graft.operators.NaiveBayes.nbcScore(
        docs.filter(col("doc_id") % KnApplySplit === 1), "text",
        "doc_id", "lang",
        graft.operators.NaiveBayes.nbcFromRegistry(pin)))
      .localCheckpoint()
  }

  /** Shared maintained classifier-count table of the nbc IVM family
    * (`nbc_counts_ivm`, `nbc_refresh`): ONE state-build + maintenance
    * pass per (session, dir), checkpointed — the kn-family
    * corpus-subtree memo discipline (both queries fold the same base
    * corpus and the same delta; without the memo each re-ran the
    * corpus-width gram explodes). */
  private[graft] val nbcMaintainedCounts = memo("nbc_ivm_counts") { (sess, d) =>
    val split = new IvmSplit(t(sess, d, "documents"), "doc_id")
    graft.operators.NaiveBayes.maintainGramCounts(
        graft.operators.NaiveBayes.trainGramCounts(split.base, "text",
          "lang"),
        split.delta, "text", "lang", "__op")
      .localCheckpoint()
  }

  /** Frozen-index ANN scoring (`ann_apply`): the kn_apply discipline for
    * the similarity family. The IVF index (deterministic lowest-id
    * centroids + permille-cosine cell assignments) publishes as one
    * version; the held-out query batch scores against the pinned
    * artifact. */
  private[graft] val annApplyScores = memo("ann_apply") { (sess, d) =>
    val emb = embeddings(sess, d)
    val corpus = emb.filter(col("id") % 3 =!= 0)
    frozenScores(sess, "graft-ann-apply", "ivf")(
      Similarity.ivfPublish(corpus, _, "ivf"))(
      Similarity.annTopKIvfStored(
        emb.filter(col("id") % 3 === 0 && col("id") < 30), corpus, 5, _))
      .localCheckpoint()
  }

  /** Composed ANN refresh loop (`ann_refresh`): ONE
    * build-v1 → maintain → promote-v2 → serve pass per (session, dir).
    * The maintained assignments are REREAD from the published v1
    * artifact (never recomputed) under the frozen centroid set — the
    * production cadence for a corpus that grows and retracts. */
  private[graft] val annRefreshScores = memo("ann_refresh") { (sess, d) =>
    val emb = embeddings(sess, d)
    val split = new IvmSplit(emb, "id")
    refreshedScores(sess, "graft-ann-refresh", "ivf")(
      Similarity.ivfPublish(split.base, _, "ivf"))(v1 => Seq(
      "centroids" -> v1.table("centroids"),
      "assignments" -> Similarity.ivfMaintainAssignments(
        v1.table("assignments"), split.delta, v1.table("centroids"),
        "__op")))(
      Similarity.annTopKIvfStored(
        emb.filter(col("id") % 3 === 2 && col("id") < 30),
        split.post, 5, _))
      .localCheckpoint()
  }

  /** Frozen compressed-index ANN scoring (`ann_ivfpq_apply`): the
    * ann_apply discipline for the PQ tier — the whole compressed index
    * (centroids + per-subspace codebook + code table + build params)
    * publishes as ONE version; the held-out query batch scores against
    * the pinned artifact ([[Similarity.annTopKIvfPqStored]]).
    * Stored-path ≡ retrain-path bit-equality is pinned in
    * DedupSimilaritySpec, so the ADC recall receipt carries over. */
  private[graft] val annIvfPqApplyScores = memo("ann_ivfpq_apply") { (sess, d) =>
    val emb = embeddings(sess, d)
    val corpus = emb.filter(col("id") % 3 =!= 0)
    frozenScores(sess, "graft-ann-ivfpq-apply", "ivfpq")(
      Similarity.ivfPqPublish(corpus, _, "ivfpq",
        nSub = 8, nCentroids = 128))(
      Similarity.annTopKIvfPqStored(
        emb.filter(col("id") % 3 === 0 && col("id") < 30), corpus, 5,
        _, rerank = Similarity.Sq8Rerank))
      .localCheckpoint()
  }

  /** Frozen scalar-quantized ANN scoring (`ann_sq8_apply`): publish the
    * SQ8 bounds + code table as one registry version, quantize a NEW
    * query batch with the PINNED bounds (never re-learned — re-learning
    * per batch would silently shift every stored code's meaning), score
    * against the pinned codes, exact-rerank the shortlist
    * ([[Similarity.annTopKSq8Stored]]). */
  private[graft] val annSq8ApplyScores = memo("ann_sq8_apply") { (sess, d) =>
    val emb = embeddings(sess, d)
    val corpus = emb.filter(col("id") % 3 =!= 0)
    frozenScores(sess, "graft-ann-sq8-apply", "sq8")(
      Similarity.sq8Publish(corpus, _, "sq8"))(
      Similarity.annTopKSq8Stored(
        emb.filter(col("id") % 3 === 0 && col("id") < 30), corpus, 5, _))
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
  private[graft] val annIvfPqRefreshScores = memo("ann_ivfpq_refresh") { (sess, d) =>
    val emb = embeddings(sess, d)
    val split = new IvmSplit(emb, "id")
    refreshedScores(sess, "graft-ann-ivfpq-refresh", "ivfpq")(
      Similarity.ivfPqPublish(split.base, _, "ivfpq",
        nSub = 8, nCentroids = 128))(v1 => Seq(
      "meta" -> v1.table("meta"),
      "centroids" -> v1.table("centroids"),
      "codebook" -> v1.table("codebook"),
      "codes" -> Similarity.ivfPqMaintainCodes(
        v1.table("codes"), split.delta, v1, "__op")))(
      Similarity.annTopKIvfPqStored(
        emb.filter(col("id") % 3 === 2 && col("id") < 30), split.post,
        5, _, rerank = Similarity.Sq8Rerank))
      .localCheckpoint()
  }

  private[graft] val annSq8RefreshScores = memo("ann_sq8_refresh") { (sess, d) =>
    val emb = embeddings(sess, d)
    val split = new IvmSplit(emb, "id")
    refreshedScores(sess, "graft-ann-sq8-refresh", "sq8")(
      Similarity.sq8Publish(split.base, _, "sq8"))(v1 => Seq(
      "bounds" -> v1.table("bounds"),
      "codes" -> Similarity.sq8MaintainCodes(
        v1.table("codes"), split.delta, v1, "__op")))(
      Similarity.annTopKSq8Stored(
        emb.filter(col("id") % 3 === 2 && col("id") < 30), split.post,
        5, _))
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
  private[graft] val annGateDocs = memo("ann_gate") { (sess, d) =>
    val emb = embeddings(sess, d)
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

  /** The battery in declaration order: each query is declared once, with
    * its plan and its check, in a family file under `graft/queries`.
    * Building it fails on a name declared twice and names the duplicate,
    * so no query can silently shadow another. */
  private[graft] lazy val battery: Seq[Query] = Query.distinct(Seq(
    ScanQueries.all, TransformQueries.all, JoinQueries.all,
    ReconcileQueries.all, AggregationQueries.all, ScalarQueries.all,
    DedupQueries.all, DedupModelQueries.all, SimilarityQueries.all,
    TextQueries.all, TextStatsQueries.all, MultimodalQueries.all,
    StreamingShapeQueries.all).flatten)

  /** Every query's plan by name; derived once from [[battery]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    battery.map(q => q.name -> q.plan).toMap

  /** The DuckDB twin of every oracle-checked query, dumped by [[Verify]]
    * as `oracle_sql.json`. */
  lazy val oracleSql: Map[String, String] =
    battery.collect { case Query(n, _, Oracle(sql)) => n -> sql }.toMap

  /** Why each query without a twin cannot have one, dumped by [[Verify]]
    * as `no_oracle.json` so the correctness table never shows an
    * unexplained `no_oracle`. */
  lazy val noOracleReason: Map[String, String] =
    battery.collect { case Query(n, _, NoOracle(why)) => n -> why }.toMap

  /** gopher_rules' stopword probe as a DuckDB list body — generated from
    * the SAME Scala list the engine scores with. */
  private[graft] def gopherStopSqlList: String =
    graft.operators.TextAnalysis.stopwords.toMap.apply("en")
      .map(s => s"'$s'").mkString(",")

  /** DuckDB expression twin of [[TextAnalysis.langId]]: same stopword
    * lists, same scoring (token-set filter count), same argmax tie order. */
  private[graft] def langIdCaseExpr: String = {
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

  private[graft] def wsCountExpr: String =
    "len(regexp_split_to_array(trim(text), '\\s+'))"

  /** DuckDB expression twin of [[TextAnalysis.qualityScore]] — formula
    * mirrored term-for-term (same double arithmetic shape). */
  private[graft] def qualityExpr: String = {
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
  private[graft] def bucketExpr(vCol: String, nPlanes: Int = 6, dim: Int = 64): String =
    graft.operators.Similarity.planes(nPlanes, dim).zipWithIndex.map {
      case (pl, p) =>
        s"(CASE WHEN list_dot_product($vCol, ${planeLit(pl)}) >= 0" +
          s" THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
}
