package graft.pipeline

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.storage.StorageLevel

import graft.operators.Reconcile
import graft.sink.GraphSink
import graft.state.SnapshotStore

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
  *  - the pass is pipelined. Every transform, [[SnapshotStore]] and
  *    [[GraphSink]] call runs on the calling thread in declaration order,
  *    so writes land exactly as in the reference's one-at-a-time walk.
  *    The Spark actions that only read — each function's delta counts
  *    and its convergence check — run on a per-pass background pool as
  *    soon as their inputs exist, and are awaited only where their result
  *    is needed. A pass is a chain of small jobs, so this hides per-job
  *    latency rather than adding compute.
  *
  * Node functions form one phase and relations a second, which starts only
  * after every node check has passed (edge MATCH needs its endpoints;
  * reference function ordering, `main.go:26-80`). A phase runs three steps:
  *  1. per function, in order: transform, read state, pin the changed
  *     rows of the diff and submit their counts (a passthrough relation
  *     submits its batch count);
  *  2. per function, in order: await the counts; if the delta is
  *     non-empty, write it (plus DETACH) and commit the post-image; then
  *     read the committed state and submit the convergence check (a
  *     passthrough relation merges its edges);
  *  3. await the checks in order; the first failure fails the pass with
  *     `commit failed for <fn>`.
  *
  * Node functions and `reconcile = true` relations run one and the same
  * RECONCILE → LOAD → COMMIT → VERIFY sequence ([[reconciled]]), and VERIFY
  * (the convergence check) cannot be switched off. Passthrough relations
  * (`reconcile = false`, the reference's R4) only merge edges.
  *
  * No Spark job outlives its pass: on any failure the pass first joins
  * every background action, then unpersists what it pinned, then rethrows
  * the first failure in declaration order with the others suppressed.
  */
class SyncDriver(spark: SparkSession, store: SnapshotStore, sink: GraphSink) {

  /** K6 — per-function sink/commit wall time from the last run, the
    * engine's `WriteRequest.Duration` analog (reference `model.go:13`,
    * `neo4j.go:111-114`): populated for every reconciled function (node
    * functions and `reconcile = true` relations); near 0 when a function's
    * delta was empty. */
  private val lastDurations =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()
  def lastRunMetrics: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    lastDurations.asScala.toMap
  }

  /** Run one full sync pass of an integration (one micro-batch).
    * Returns (created, deleted) row counts per function. */
  def run(spec: IntegrationSpec): Map[String, (Long, Long)] =
    runBatch(spec, spec.load(spark))

  /** One sync pass over an already-loaded document batch — also the
    * foreachBatch body of the streaming variant
    * ([[graft.streaming.StreamingSync]]). */
  def runBatch(spec: IntegrationSpec, document: DataFrame): Map[String, (Long, Long)] = {
    val (nodes, rels) = spec.functions.zipWithIndex
      .partition(_._1.kind.isInstanceOf[CreateNode])
    val pass = new Pass(document.sparkSession, nodes.size.max(rels.size))
    val results = try {
      // Source document feeds every function; materialize it once instead
      // of re-reading per function (the reference fetches once too,
      // main.go:125).
      val doc = pass.pin(document)
      (phase(spec, doc, pass, nodes) ++ phase(spec, doc, pass, rels)).toMap
    } catch { case e: Throwable => throw pass.abort(e) }
    pass.close()
    results
  }

  /** One function between step 1 and step 2: its submitted (created,
    * deleted) counts, and the write that step 2 runs once they are known,
    * which returns the submitted convergence check (None for a passthrough
    * relation). */
  private final class Prepared(val counts: CompletableFuture[(Long, Long)],
      val write: (Long, Long) => Option[CompletableFuture[Unit]])

  /** Steps 1–3 over one phase's (function, declaration index) pairs. */
  private def phase(spec: IntegrationSpec, doc: DataFrame, pass: Pass,
      fns: Seq[(FunctionSpec, Int)]): Seq[(String, (Long, Long))] = {
    val prepared = fns.map { case (fn, i) =>
      pass.at = i
      prepare(spec, fn, doc, pass)
    }
    val written = fns.zip(prepared).map { case ((fn, i), p) =>
      pass.at = i
      val (nc, nd) = pass.await(p.counts)
      (i, fn.name -> ((nc, nd)), p.write(nc, nd))
    }
    written.map { case (i, result, check) =>
      pass.at = i
      check.foreach(pass.await)
      result
    }
  }

  /** Edge tables are identified by (relType, endpoint labels): the
    * reference's single `has` type spans three endpoint pairs that Neo4j
    * distinguishes structurally; a flat table must distinguish them by
    * name. */
  private def edgeTable(relType: String, a: String, b: String): String =
    s"${relType}__${a}__$b"

  private def emptyKeys(): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      graft.model.Schemas.deleteRecord)

  /** Step 1 of one function. */
  private def prepare(spec: IntegrationSpec, fn: FunctionSpec,
      doc: DataFrame, pass: Pass): Prepared = {
    val batch = fn.transform(doc)
    fn.kind match {
      case CreateNode(label) =>
        reconciled(spec, fn, batch, "keys", pass) { (delta, deleted) =>
          sink.applyNodeDelta(label, delta.toCreate, delta.toDelete)
          if (deleted > 0) {
            // DETACH DELETE semantics (reference neo4j.go:117): edges
            // touching a deleted node go with it.
            spec.functions.foreach { other =>
              other.kind match {
                case CreateRelation(rt, la, lb, _) if la == label || lb == label =>
                  sink.detachEdges(edgeTable(rt, la, lb),
                    if (la == label) delta.toDelete else emptyKeys(),
                    if (lb == label) delta.toDelete else emptyKeys())
                case _ =>
              }
            }
          }
        }

      case CreateRelation(relType, labelA, labelB, false) =>
        // R4: relations skip reconciliation — everything is toCreate,
        // nothing deleted (reference recon.go:42-44, neo4j.go:119-120).
        new Prepared(pass.submit((batch.count(), 0L)), { (_, _) =>
          sink.mergeEdges(edgeTable(relType, labelA, labelB), batch,
            labelA, labelB)
          None
        })

      case CreateRelation(relType, labelA, labelB, true) =>
        // Engine's stale-edge fix: snapshot-diff edges on the pair key so
        // an edge that vanished upstream is deleted even when both of its
        // endpoints survive (the reference leaks these — SURVEY R4).
        import org.apache.spark.sql.functions.{col, concat_ws, split, element_at}
        val sep = "\u0001"
        // Resolve endpoints BEFORE the diff (mirroring the sink's MATCH):
        // state must only ever record pairs the sink actually applied. A
        // dangling pair (endpoint node not yet synced, or deleted) stays
        // out of state entirely, so it re-enters the diff as toCreate on
        // every sync until both endpoints exist — and an edge removed by
        // detachEdges reconverges the same way when its node returns.
        // keyed is pinned: it feeds the diff, the post-commit state image,
        // and the convergence check — without the persist each would re-run
        // the two node-table endpoint joins.
        val keyed = pass.pin(sink.resolveEndpoints(batch, labelA, labelB)
          .withColumn("external_id",
            concat_ws(sep, col("a_id"), col("b_id"))))
        reconciled(spec, fn, keyed, "edge pairs", pass) { (delta, _) =>
          val deletePairs = delta.toDelete.select(
            element_at(split(col("external_id"), sep), 1).as("a_id"),
            element_at(split(col("external_id"), sep), 2).as("b_id"))
          sink.applyEdgeDelta(edgeTable(relType, labelA, labelB),
            delta.toCreate.select("a_id", "b_id"), deletePairs,
            labelA, labelB, alreadyResolved = true)
        }
    }
  }

  /** RECONCILE → LOAD → COMMIT STATE → VERIFY for one reconciled function
    * (a node function, or a relation with `reconcile = true`): step 1 pins
    * the changed rows of `keyed` against the committed state and submits
    * their counts; step 2, when the delta is non-empty, hands it and
    * its delete count to `apply` (the sink write), then commits the
    * post-image.
    *
    * The R5 convergence check always runs (reference main.go:224-237): a
    * second diff of `keyed` against the state just committed must be
    * empty, else the pass fails with `commit failed for <fn>` and counts
    * the unconverged `noun`. The reference checks nodes only
    * (main.go:235 guards CREATE_NODE); reconciled edges get the same
    * guarantee. */
  private def reconciled(spec: IntegrationSpec, fn: FunctionSpec,
      keyed: DataFrame, noun: String, pass: Pass)(
      apply: (Reconcile.Delta, Long) => Unit): Prepared = {
    val changes = pass.pin(Reconcile.changes(keyed, store.read(spec.key, fn.name)))
    new Prepared(pass.submit(Reconcile.deltaCounts(changes)), { (nc, nd) =>
      val writeT0 = System.nanoTime()
      if (nc > 0 || nd > 0) {
        apply(Reconcile.delta(changes, keyed.columns.toSeq), nd)
        store.commit(spec.key, fn.name, Reconcile.postState(keyed))
      }
      lastDurations.put(fn.name, (System.nanoTime() - writeT0) / 1e9)
      val committed = store.read(spec.key, fn.name)
      Some(pass.submit {
        val violations = Reconcile.convergenceViolations(keyed, committed)
        require(violations == 0, s"commit failed for ${fn.name}: " +
          s"$violations unconverged $noun")
      })
    })
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
