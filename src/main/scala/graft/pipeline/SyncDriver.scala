package graft.pipeline

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, element_at, lit, split}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.model.Schemas
import graft.operators.Reconcile
import graft.sink.GraphSink
import graft.state.{AtomicTable, SnapshotStore}
import graft.state.AtomicTable.local

/** The per-integration sync pipeline — the engine's analog of the
  * reference's `execute()` (reference `main.go:121-241`, SURVEY §3.2):
  *
  *   EXTRACT → TRANSFORM → RECONCILE → LOAD → COMMIT STATE → VERIFY
  *
  * Differences by design:
  *  - transforms are lazy Catalyst plans, not template strings; EXTRACT and
  *    TRANSFORM fuse into one scan per function with column pruning;
  *  - RECONCILE is a distributed full-outer join against the parquet
  *    snapshot (see [[Reconcile]]), whose changed rows are pinned
  *    (MEMORY_AND_DISK) per function, so Spark's laziness cannot
  *    recompute the diff against already-advanced state — the explicit
  *    materialization boundary SURVEY §7.5 calls out — and both delta
  *    counts and both delta sides come from that one join;
  *  - a delta whose pinned rows are small (within a measured 1 MB and
  *    within `spark.sql.autoBroadcastJoinThreshold`, sized on the pinned
  *    cache, so it costs no job) is collected to the driver once, with one
  *    winner per key (the smallest hash); the sink, DETACH and state
  *    commit then get driver-local frames, and each writes in one
  *    shuffle-free job (the table minus the delta's keys, plus its rows;
  *    see [[GraphSink]]). A larger delta keeps the distributed joins;
  *  - the pass is pipelined. Every transform, [[SnapshotStore]] and
  *    [[GraphSink]] call runs on the calling thread, so writes land in one
  *    fixed order. The Spark actions that only read — delta counts and
  *    collects, passthrough candidates, the endpoint MATCH and the
  *    convergence checks — run on a per-pass background pool as soon as
  *    their inputs exist, and are awaited only where their result is
  *    needed. A pass is a chain of small jobs, so this hides per-job
  *    latency rather than adding compute.
  *
  * A pass runs in this order (reference function ordering,
  * `main.go:26-80`):
  *  1. in declaration order: transform each node function, read its
  *     state, pin its changed rows and submit their counts; then transform
  *     each relation and submit each passthrough relation's batch count;
  *  2. await the node deltas, then DETACH: one [[GraphSink.detachEdges]]
  *     per edge table whose endpoint labels lost nodes, carrying every
  *     deleted key of the pass, before any node write or state commit;
  *  3. submit each passthrough edge table's candidates: its relations'
  *     batch pairs absent from the table after DETACH;
  *  4. per node function with a non-empty delta: write it and commit the
  *     post-image; then read the committed state and submit the
  *     convergence check;
  *  5. submit the MATCH of the driver-local candidates: one job finds
  *     their endpoints in the node tables just written;
  *  6. await the node checks in order; the first failure fails the pass
  *     with `commit failed for <fn>` before any relation write;
  *  7. `reconcile = true` relations: resolve endpoints, diff, write,
  *     commit and check, each step over all of them in declaration order;
  *  8. one [[GraphSink.applyEdgeDelta]] per passthrough edge table with
  *     new pairs, shared by every relation on that table. A table with
  *     no candidate, or whose driver-local candidates all dangle, is not
  *     written.
  *
  * Node functions and `reconcile = true` relations run one and the same
  * RECONCILE → LOAD → COMMIT → VERIFY sequence ([[diff]], [[write]]), and
  * VERIFY (the convergence check) cannot be switched off. Passthrough
  * relations (`reconcile = false`, the reference's R4) only append pairs;
  * each reports (batch rows, 0). Their candidates skip the anti-join
  * against a table that a reconciled relation also writes, so a pair
  * that a passthrough batch carries is in the table after the pass
  * (MERGE), whatever that relation deleted.
  *
  * No Spark job outlives its pass: on any failure the pass first joins
  * every background action, then unpersists what it pinned, then rethrows
  * the first failure in declaration order with the others suppressed.
  */
class SyncDriver(spark: SparkSession, store: SnapshotStore, sink: GraphSink) {
  import SyncDriver._

  /** K6 — per-function sink/commit wall time from the last run, the
    * engine's `WriteRequest.Duration` analog (reference `model.go:13`,
    * `neo4j.go:111-114`): populated for every reconciled function (node
    * functions and `reconcile = true` relations); near 0 when a function's
    * delta was empty. */
  private val lastDurations =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()
  def lastRunMetrics: Map[String, Double] = lastDurations.asScala.toMap

  private val key = Schemas.externalId

  /** Run one full sync pass of an integration (one micro-batch).
    * Returns (created, deleted) row counts per function. */
  def run(spec: IntegrationSpec): Map[String, (Long, Long)] =
    runBatch(spec, spec.load(spark))

  /** One sync pass over an already-loaded document batch — also the
    * foreachBatch body of the streaming variant
    * ([[graft.streaming.StreamingSync]]). */
  def runBatch(spec: IntegrationSpec, document: DataFrame): Map[String, (Long, Long)] = {
    val pass = new Pass(document.sparkSession, spec.functions.size)
    val results = try {
      // Source document feeds every function; materialize it once instead
      // of re-reading per function (the reference fetches once too,
      // main.go:125).
      syncPass(spec, pass.pin(document), pass)
    } catch { case e: Throwable => throw pass.abort(e) }
    pass.close()
    results
  }

  /** Steps 1–8 of one pass (see the class comment). */
  private def syncPass(spec: IntegrationSpec, doc: DataFrame,
      pass: Pass): Map[String, (Long, Long)] = {
    val fns = spec.functions.zipWithIndex
    val nodes = fns.collect { case (fn @ FunctionSpec(_, CreateNode(label), _), i) =>
      pass.at = i
      (fn, i, label, diff(spec, fn, fn.transform(doc), pass))
    }
    val rels = fns.collect { case (fn @ FunctionSpec(_, r: CreateRelation, _), i) =>
      pass.at = i
      (fn, i, r, fn.transform(doc))
    }
    val (reconciledRels, thruRels) = rels.partition(_._3.reconcile)
    val batchRows = thruRels.map { case (fn, i, _, batch) =>
      pass.at = i
      fn.name -> pass.submit(batch.count())
    }

    val changed = nodes.map { case (fn, i, label, d) =>
      pass.at = i
      (fn, i, label, pass.await(d))
    }
    detach(rels.map(_._3), changed.filter(_._4.deleted > 0)
      .map { case (_, _, label, c) => label -> c.delta.toDelete })

    val reconciledTables = reconciledRels.map(r => edgeTable(r._3)).toSet
    val appended = thruRels.groupBy(r => edgeTable(r._3)).toSeq
      .sortBy(_._2.head._2).map { case (table, on) =>
        val r = on.head._3
        pass.at = on.head._2
        val pairs = on.map(_._4.select("a_id", "b_id")).reduce(_ unionByName _)
        val fresh = pass.pin(if (reconciledTables(table)) pairs
          else pairs.join(sink.readEdges(table), Seq("a_id", "b_id"), "left_anti"))
        Appended(table, r.labelA, r.labelB, fresh) -> pass.submit(candidates(fresh))
      }

    val nodeChecks = changed.map { case (fn, i, label, c) =>
      pass.at = i
      i -> write(spec, fn, c, "keys", pass)(d =>
        sink.applyNodeDelta(label, d.toCreate, d.toDelete))
    }
    val cands = appended.map { case (a, f) => a -> pass.await(f) }
    val matched = matchEndpoints(cands, pass)
    nodeChecks.foreach { case (i, check) => pass.at = i; pass.await(check) }

    val relResults = reconciledEdges(spec, reconciledRels, pass)
    val present = matched.map(pass.await).getOrElse(Set.empty)
    val noPairs = local(spark, Nil, Schemas.edge)
    cands.foreach {
      case (a, Some(pairs)) =>
        val resolved = pairs.filter { case (x, y) =>
          present((a.labelA, x)) && present((a.labelB, y)) }
        if (resolved.nonEmpty)
          sink.applyEdgeDelta(a.table,
            local(spark, resolved.map { case (x, y) => Row(x, y) }, Schemas.edge),
            noPairs, a.labelA, a.labelB, alreadyResolved = true)
      case (a, None) =>
        sink.applyEdgeDelta(a.table, sink.resolveEndpoints(a.fresh, a.labelA,
          a.labelB), noPairs, a.labelA, a.labelB, alreadyResolved = true)
    }

    (changed.map { case (fn, _, _, c) => fn.name -> ((c.created, c.deleted)) } ++
      relResults ++
      batchRows.map { case (name, rows) => name -> ((pass.await(rows), 0L)) }).toMap
  }

  /** Edge tables are identified by (relType, endpoint labels): the
    * reference's single `has` type spans three endpoint pairs that Neo4j
    * distinguishes structurally; a flat table must distinguish them by
    * name. */
  private def edgeTable(r: CreateRelation): String =
    s"${r.relType}__${r.labelA}__${r.labelB}"

  /** Step 2, DETACH DELETE semantics (reference `neo4j.go:117`): edges
    * touching a deleted node go with it — one write per edge table whose
    * endpoint labels lost a node, with every deleted key of the pass. */
  private def detach(rels: Seq[CreateRelation],
      deleted: Seq[(String, DataFrame)]): Unit = {
    val byLabel = deleted.groupMap(_._1)(_._2)
    def keysOf(label: String): DataFrame =
      byLabel.get(label).map(_.reduce(_ unionByName _))
        .getOrElse(local(spark, Nil, Schemas.deleteRecord))
    rels.distinctBy(edgeTable).foreach { r =>
      if (byLabel.contains(r.labelA) || byLabel.contains(r.labelB))
        sink.detachEdges(edgeTable(r), keysOf(r.labelA), keysOf(r.labelB))
    }
  }

  /** Whether a pinned frame, its cache built, is small enough for the
    * driver-local plan: within [[LocalDeltaBytes]] and within Spark's
    * broadcast threshold, so a threshold of -1 turns the local plan off.
    * The cache's measured size needs no job. */
  private def fitsOnDriver(pinned: DataFrame): Boolean = {
    val limit = pinned.sparkSession.asInstanceOf[classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold.min(LocalDeltaBytes)
    limit >= 0 && pinned.queryExecution.optimizedPlan.stats.sizeInBytes <= limit
  }

  /** A passthrough table's pinned candidates on the driver, distinct and
    * without null ids, when they fit on the driver; None when they stay
    * distributed. */
  private def candidates(fresh: DataFrame): Option[Seq[(String, String)]] =
    if (fresh.count() == 0) Some(Nil)
    else if (!fitsOnDriver(fresh)) None
    else Some(fresh.collect().toSeq.map(r => (r.getString(0), r.getString(1)))
      .filter { case (a, b) => a != null && b != null }.distinct)

  /** Step 5, the MATCH of every driver-local candidate as one job: the
    * (label, key) endpoints of the candidates that exist in the node
    * tables. None when there is no candidate. */
  private def matchEndpoints(cands: Seq[(Appended, Option[Seq[(String, String)]])],
      pass: Pass): Option[CompletableFuture[Set[(String, String)]]] = {
    val wanted = cands.flatMap {
      case (a, Some(pairs)) => pairs.flatMap { case (x, y) =>
        Seq(a.labelA -> x, a.labelB -> y) }
      case _ => Nil
    }.groupMap(_._1)(_._2)
    if (wanted.isEmpty) None
    else {
      val found = wanted.map { case (label, ids) =>
        sink.readNodes(label, Schemas.state)
          .select(lit(label).as("label"), col(key))
          .filter(col(key).isin(ids.distinct: _*))
      }.reduce(_ unionByName _)
      Some(pass.submit(found.collect().map(r => (r.getString(0), r.getString(1))).toSet))
    }
  }

  /** Step 7: `reconcile = true` relations, through the same diff, write and
    * check as node functions. */
  private def reconciledEdges(spec: IntegrationSpec,
      rels: Seq[(FunctionSpec, Int, CreateRelation, DataFrame)],
      pass: Pass): Seq[(String, (Long, Long))] = {
    val diffs = rels.map { case (fn, i, r, batch) =>
      pass.at = i
      // Engine's stale-edge fix: snapshot-diff edges on the pair key so
      // an edge that vanished upstream is deleted even when both of its
      // endpoints survive (the reference leaks these — SURVEY R4).
      // Resolve endpoints BEFORE the diff (mirroring the sink's MATCH):
      // state must only ever record pairs the sink actually applied. A
      // dangling pair (endpoint node not yet synced, or deleted) stays
      // out of state entirely, so it re-enters the diff as toCreate on
      // every sync until both endpoints exist — and an edge removed by
      // detachEdges reconverges the same way when its node returns.
      // keyed is pinned: it feeds the diff, the post-commit state image,
      // and the convergence check — without the persist each would re-run
      // the two node-table endpoint joins.
      val keyed = pass.pin(sink.resolveEndpoints(batch, r.labelA, r.labelB)
        .withColumn(key, GraphSink.pairKey))
      (fn, i, r, diff(spec, fn, keyed, pass))
    }
    val written = diffs.map { case (fn, i, r, d) =>
      pass.at = i
      val c = pass.await(d)
      val check = write(spec, fn, c, "edge pairs", pass) { delta =>
        val deletePairs = delta.toDelete.select(
          element_at(split(col(key), GraphSink.PairSep), 1).as("a_id"),
          element_at(split(col(key), GraphSink.PairSep), 2).as("b_id"))
        sink.applyEdgeDelta(edgeTable(r), delta.toCreate.select("a_id", "b_id"),
          deletePairs, r.labelA, r.labelB, alreadyResolved = true)
      }
      (i, fn.name -> ((c.created, c.deleted)), check)
    }
    written.map { case (i, result, check) =>
      pass.at = i
      pass.await(check)
      result
    }
  }

  /** RECONCILE, step 1 of one reconciled function (a node function, or a
    * relation with `reconcile = true`): pins the changed rows of `keyed`
    * against the committed state and submits the job that counts them —
    * which also builds the pinned cache — and, when they fit on the
    * driver, collects them there. */
  private def diff(spec: IntegrationSpec, fn: FunctionSpec, keyed: DataFrame,
      pass: Pass): CompletableFuture[Changed] = {
    val state = store.read(spec.key, fn.name)
    val changes = pass.pin(Reconcile.changes(keyed, state))
    val columns = keyed.columns.toSeq
    pass.submit {
      val (nc, nd) = Reconcile.deltaCounts(changes)
      if ((nc > 0 || nd > 0) && fitsOnDriver(changes))
        localDelta(keyed, nc, nd, changes, state)
      else Changed(keyed, nc, nd, Reconcile.delta(changes, columns),
        Reconcile.postState(keyed))
    }
  }

  /** The delta of pinned `changes` collected to the driver in one job, as
    * driver-local frames. Each created key keeps one row, the one with
    * the smallest hash, so the row the sink stores is the row whose hash
    * the state records. The post-image is the prior state minus every
    * changed key, plus the changed (key, hash) rows. */
  private def localDelta(keyed: DataFrame, nc: Long, nd: Long,
      changes: DataFrame, state: DataFrame): Changed = {
    // (op, key, hash, batch columns…)
    val picked = changes.select(col("op") +: col("__key") +: col("b.__hash") +:
      keyed.columns.toSeq.map(c => col(s"b.`$c`")): _*)
    val (creates, deletes) = picked.collect().toSeq
      .partition(_.getString(0) == Reconcile.OpCreate)
    val winners = creates.groupBy(_.getString(1)).values
      .map(_.minBy(_.getLong(2))).toSeq
    val deleted = deletes.map(_.getString(1))
    val postImage = AtomicTable.masked(state,
      AtomicTable.notIn(col(key), winners.map(_.getString(1)) ++ deleted),
      local(spark, winners.map(r => Row(r.getString(1), r.getLong(2))), Schemas.state))
    Changed(keyed, nc, nd, Reconcile.Delta(
      local(spark, winners.map(r => Row.fromSeq(r.toSeq.drop(3))),
        StructType(picked.schema.drop(3))),
      local(spark, deleted.map(Row(_)), Schemas.deleteRecord)), postImage)
  }

  /** LOAD → COMMIT STATE → VERIFY of one reconciled function: when the
    * delta is non-empty, `apply` writes it to the sink, then the store
    * commits the post-image. Returns the submitted convergence check.
    *
    * The R5 convergence check always runs (reference main.go:224-237): a
    * second diff of the batch against the state just committed must be
    * empty, else the pass fails with `commit failed for <fn>` and counts
    * the unconverged rows. The reference checks nodes only (main.go:235
    * guards CREATE_NODE); reconciled edges get the same guarantee. */
  private def write(spec: IntegrationSpec, fn: FunctionSpec, c: Changed,
      noun: String, pass: Pass)(apply: Reconcile.Delta => Unit)
      : CompletableFuture[Unit] = {
    val writeT0 = System.nanoTime()
    if (c.created > 0 || c.deleted > 0) {
      apply(c.delta)
      store.commit(spec.key, fn.name, c.postImage)
    }
    lastDurations.put(fn.name, (System.nanoTime() - writeT0) / 1e9)
    val committed = store.read(spec.key, fn.name)
    pass.submit {
      val violations = Reconcile.convergenceViolations(c.keyed, committed)
      require(violations == 0, s"commit failed for ${fn.name}: " +
        s"$violations unconverged $noun")
    }
  }

  /** The background half of one pass: a pool of its own for the Spark
    * actions that only read, each started with the caller's session, job
    * tags and local properties (so profiler slots and trace spans charge
    * a background job to the caller), plus every DataFrame the pass
    * pinned. */
  private final class Pass(session: SparkSession, threads: Int) {
    private val pool = Executors.newFixedThreadPool(threads.max(1), r => {
      val t = new Thread(r, "sync-pass")
      t.setDaemon(true)
      t
    })
    private val submitted = ArrayBuffer.empty[(Int, CompletableFuture[_])]
    private val pinned = ArrayBuffer.empty[DataFrame]

    /** Declaration index of the function the calling thread is on; it
      * orders failures. */
    var at = -1

    def pin(df: DataFrame): DataFrame = {
      pinned += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }

    /** Run `body` on the pool the way Spark runs broadcasts and
      * subqueries off the query thread. */
    def submit[T](body: => T): CompletableFuture[T] = {
      val f = SQLExecution.withThreadLocalCaptured(
        session.asInstanceOf[classic.SparkSession], pool)(body)
      submitted += at -> f
      f
    }

    /** The action's result; its own exception if it failed. */
    def await[T](f: CompletableFuture[T]): T =
      try f.get() catch { case e: ExecutionException => throw e.getCause }

    /** Join every background action, then unpersist what was pinned.
      * Returns each failed action's (declaration index, exception). */
    def close(): Seq[(Int, Throwable)] = {
      val failed = submitted.toSeq.flatMap { case (i, f) =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(i -> e.getCause) }
      }
      pool.shutdown()
      pinned.foreach(_.unpersist())
      failed
    }

    /** [[close]] after `e` failed the pass on the calling thread: the first
      * failure in declaration order, the others suppressed. */
    def abort(e: Throwable): Throwable = {
      val all = ((at -> e) +: close()).sortBy(_._1).map(_._2).distinct
      all.tail.foreach(all.head.addSuppressed)
      all.head
    }
  }
}

object SyncDriver {

  /** The pinned-delta size up to which a pass takes the driver-local
    * plan. That plan wins by the jobs it saves, which is most of what a
    * small table's write costs (on `sync_steady` every delta, full load
    * included, is at most 0.53 MB). On a 4-core host, writing one changed
    * node function of a 400k-row table (sink and state, median of 3), the
    * two plans tied up to 0.8 MB of delta (5k keys: 2.75 vs 2.66 s) and
    * the join plan won from 1.6 MB on, 2.1x at 9.8 MB, just under Spark's
    * 10 MB broadcast threshold (SCALING.md). */
  private val LocalDeltaBytes = 1L << 20

  /** A reconciled function's delta after step 1: its keyed batch, its
    * counts, the two sides the sink applies and the post-image the store
    * commits. */
  private final case class Changed(keyed: DataFrame, created: Long,
      deleted: Long, delta: Reconcile.Delta, postImage: DataFrame)

  /** One passthrough edge table: its name, endpoint labels, and the
    * pinned batch pairs of its passthrough relations that step 3 found
    * absent from it. */
  private final case class Appended(table: String, labelA: String,
      labelB: String, fresh: DataFrame)
}
