package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *    snapshot (see [[Reconcile]]), not an in-memory map walk;
  *  - the delta is cached (MEMORY_AND_DISK) across LOAD / COMMIT / VERIFY so
  *    Spark's laziness cannot recompute the diff against already-advanced
  *    state — the explicit materialization boundary SURVEY §7.5 calls out.
  *
  * Node functions and `reconcile = true` relations run one and the same
  * RECONCILE → LOAD → COMMIT → VERIFY sequence ([[reconcileApply]]), and
  * VERIFY (the convergence check) cannot be switched off. Passthrough
  * relations (`reconcile = false`, the reference's R4) only merge edges.
  */
class SyncDriver(spark: SparkSession, store: SnapshotStore, sink: GraphSink,
    nodeParallelism: Int = 1) {

  /** Serializes edge-table detach swaps: two node functions deleting the
    * two endpoint labels of the SAME edge table would otherwise race the
    * read-modify-swap. */
  private val detachLock = new Object

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
    // Source document feeds every function; materialize it once instead of
    // re-reading per function (the reference fetches once too, main.go:125).
    document.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Node functions are mutually independent (distinct state dirs +
      // node tables), so they may run as concurrent Spark jobs — the
      // improvement over the reference's single thread that SURVEY §4
      // calls out. Relations stay sequential AFTER all nodes: edge MATCH
      // needs endpoints to exist (reference function ordering,
      // main.go:26-80).
      val (nodes, rels) = spec.functions.partition(_.kind.isInstanceOf[CreateNode])
      val nodeResults: Seq[(String, (Long, Long))] =
        if (nodeParallelism > 1 && nodes.size > 1) {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(nodeParallelism, nodes.size))
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutor(pool)
          try Await.result(
            Future.sequence(nodes.map(fn =>
              Future(fn.name -> runFunction(spec, fn, document)))),
            Duration.Inf)
          finally pool.shutdown()
        } else nodes.map(fn => fn.name -> runFunction(spec, fn, document))
      val relResults = rels.map(fn => fn.name -> runFunction(spec, fn, document))
      (nodeResults ++ relResults).toMap
    } finally { document.unpersist() }
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

  private def runFunction(spec: IntegrationSpec, fn: FunctionSpec,
      doc: DataFrame): (Long, Long) = {
    val batch = fn.transform(doc)
    fn.kind match {
      case CreateNode(label) =>
        reconcileApply(spec, fn, batch, "keys") { (delta, deleted) =>
          sink.applyNodeDelta(label, delta.toCreate, delta.toDelete)
          if (deleted > 0) {
            // DETACH DELETE semantics (reference neo4j.go:117): edges
            // touching a deleted node go with it.
            spec.functions.foreach { other =>
              other.kind match {
                case CreateRelation(rt, la, lb, _) if la == label || lb == label =>
                  detachLock.synchronized {
                    sink.detachEdges(edgeTable(rt, la, lb),
                      if (la == label) delta.toDelete else emptyKeys(),
                      if (lb == label) delta.toDelete else emptyKeys())
                  }
                case _ =>
              }
            }
          }
        }

      case CreateRelation(relType, labelA, labelB, false) =>
        // R4: relations skip reconciliation — everything is toCreate,
        // nothing deleted (reference recon.go:42-44, neo4j.go:119-120).
        val n = batch.count()
        sink.mergeEdges(edgeTable(relType, labelA, labelB), batch, labelA, labelB)
        (n, 0L)

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
        val keyed = sink.resolveEndpoints(batch, labelA, labelB)
          .withColumn("external_id",
            concat_ws(sep, col("a_id"), col("b_id")))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try reconcileApply(spec, fn, keyed, "edge pairs") { (delta, _) =>
          val deletePairs = delta.toDelete.select(
            element_at(split(col("external_id"), sep), 1).as("a_id"),
            element_at(split(col("external_id"), sep), 2).as("b_id"))
          sink.applyEdgeDelta(edgeTable(relType, labelA, labelB),
            delta.toCreate.select("a_id", "b_id"), deletePairs,
            labelA, labelB, alreadyResolved = true)
        } finally keyed.unpersist()
    }
  }

  /** RECONCILE → LOAD → COMMIT STATE → VERIFY for one reconciled function
    * (a node function, or a relation with `reconcile = true`): diff
    * `keyed` against the committed state; when the delta is non-empty,
    * hand it and its delete count to `apply` (the sink write), then commit
    * the post-image. Returns (created, deleted).
    *
    * The R5 convergence check always runs (reference main.go:224-237): a
    * second diff of `keyed` against the state just committed must be
    * empty, else the pass fails with `commit failed for <fn>` and counts
    * the unconverged `noun`. The reference checks nodes only
    * (main.go:235 guards CREATE_NODE); reconciled edges get the same
    * guarantee. */
  private def reconcileApply(spec: IntegrationSpec, fn: FunctionSpec,
      keyed: DataFrame, noun: String)(
      apply: (Reconcile.Delta, Long) => Unit): (Long, Long) = {
    val state = store.read(spec.key, fn.name)
    val delta = Reconcile.diff(keyed, state)
    // Materialization boundary: pin the delta before the sink mutates
    // tables and the store advances state (two-phase contract).
    delta.toCreate.persist(StorageLevel.MEMORY_AND_DISK)
    delta.toDelete.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (nc, nd) = (delta.toCreate.count(), delta.toDelete.count())
      val writeT0 = System.nanoTime()
      if (nc > 0 || nd > 0) {
        apply(delta, nd)
        store.commit(spec.key, fn.name, Reconcile.postState(keyed))
      }
      lastDurations.put(fn.name, (System.nanoTime() - writeT0) / 1e9)
      val violations = Reconcile.convergenceViolations(
        keyed, store.read(spec.key, fn.name))
      require(violations == 0, s"commit failed for ${fn.name}: " +
        s"$violations unconverged $noun")
      (nc, nd)
    } finally {
      delta.toCreate.unpersist(); delta.toDelete.unpersist()
    }
  }
}
