package graft.sink

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One remote-graph-DB transaction: batched parameterized statements, then
  * commit/rollback. The abstraction is exactly what the Neo4j bolt
  * driver's `Session.BeginTransaction` offers (reference
  * `internal/store/neo4j.go:72-81`). Two implementations exist: the
  * in-memory mirror used by specs, and [[BoltTxFactory]] — a from-scratch
  * client for the public Bolt wire protocol (handshake, PackStream,
  * chunked framing, explicit transactions), since no third-party driver
  * jar can ship in this zero-egress build. */
trait GraphTx {
  /** Run one statement with a `$list` parameter batch
    * (`UNWIND $list AS item …`). */
  def run(cypher: String, list: Seq[Map[String, Any]]): Unit
  def commit(): Unit
  def rollback(): Unit
}

/** Factory for per-partition transactions. Must be [[Serializable]]: it is
  * captured by `foreachPartition` closures and shipped to executors, so a
  * real implementation holds connection CONFIG (uri, auth) and opens the
  * session lazily inside `begin()` on the executor — never a live
  * connection object. */
trait GraphTxFactory extends Serializable {
  def begin(): GraphTx
}

/** The reference's exact statement shapes (`neo4j.go:86-91,116-118`),
  * parameterized by label/relation type. Backtick-quoted identifiers —
  * labels come from pipeline specs, not user data, but quoting is free. */
object CypherDialect {
  def mergeNodes(label: String): String =
    s"UNWIND $$list AS item MERGE (x:`$label` {external_id: item.external_id}) SET x = item"
  def deleteNodes(label: String): String =
    s"UNWIND $$list AS item MATCH (x:`$label` {external_id: item.external_id}) DETACH DELETE x"
  def mergeEdges(relType: String, labelA: String, labelB: String): String =
    s"UNWIND $$list AS item MATCH (a:`$labelA` {external_id: item.a_id}) " +
      s"MATCH (b:`$labelB` {external_id: item.b_id}) MERGE (a)-[:`$relType`]->(b)"
  def deleteEdges(relType: String, labelA: String, labelB: String): String =
    s"UNWIND $$list AS item MATCH (a:`$labelA` {external_id: item.a_id})" +
      s"-[r:`$relType`]->(b:`$labelB` {external_id: item.b_id}) DELETE r"
  /** The reference's startup index DDL (`neo4j.go:54-71`). */
  def keyIndex(label: String): String =
    s"CREATE INDEX `idx_${label}_external_id` IF NOT EXISTS " +
      s"FOR (x:`$label`) ON (x.external_id)"
}

/** Distributed Cypher writer: ships a DataFrame to a graph DB as batched
  * `UNWIND $list` statements, one transaction per PARTITION, `batchSize`
  * rows per statement. This is the scale-correct write shape — executors
  * write their partitions concurrently and nothing funnels through the
  * driver — at the cost of the reference's one-transaction-per-function
  * atomicity (`neo4j.go:77-81`): a mid-write crash can leave some
  * partitions applied. The pipeline's replay contract absorbs that:
  * deltas re-apply on the next sync (at-least-once) and every statement
  * is an idempotent MERGE / keyed delete, the same reasoning that makes
  * [[graft.state.AtomicTable]] replay-safe. Callers needing the
  * reference's strict single-tx semantics can `coalesce(1)` a small delta
  * first — honest only because deltas are small; never do it to a bulk
  * load. */
class GraphDbWriter(txFactory: GraphTxFactory, batchSize: Int = 1000)
    extends Serializable {

  def write(df: DataFrame, cypher: String): Unit = {
    val fields = df.schema.fieldNames
    val bs = batchSize
    val tf = txFactory
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val tx = tf.begin()
        try {
          rows.grouped(bs).foreach { g =>
            tx.run(cypher, g.map(r =>
              fields.iterator.map(f => f -> r.getAs[Any](f)).toMap))
          }
          tx.commit()
        } catch { case e: Throwable => tx.rollback(); throw e }
      }
    }
  }

  /** Driver-side DDL (index/constraint bootstrap) — one tx, no data. */
  def runDdl(statements: Seq[String]): Unit = {
    if (statements.isEmpty) return
    val tx = txFactory.begin()
    try { statements.foreach(tx.run(_, Seq.empty)); tx.commit() }
    catch { case e: Throwable => tx.rollback(); throw e }
  }
}

/** [[GraphSink]] that MIRRORS every applied delta to a remote graph DB as
  * the reference's Cypher. The parquet tables remain the system of record
  * (state reads, endpoint resolution, convergence checks are all local
  * scans — a bolt round-trip per sync would be the wrong plan); the remote
  * DB receives exactly the deltas the local sink applied, in the same
  * order the driver applies them (nodes before relations), so its
  * node/edge sets converge to the local tables' (asserted in
  * GraphDbSinkSpec).
  *
  * Fidelity notes:
  *  - node deletes forward as `DETACH DELETE`, so incident-edge cleanup
  *    happens remote-side exactly as in the reference — [[detachEdges]]
  *    therefore does NOT forward (the local table drop mirrors what the
  *    remote DETACH already did);
  *  - edge creates forward the RESOLVED pair set; the remote `MATCH`
  *    re-drops anything dangling (there should be none — same input).
  *  - edge writes go to the remote BEFORE the local table. A passthrough
  *    relation has no state to re-diff: [[graft.pipeline.SyncDriver]]
  *    hands its table only the pairs the table lacks, so a pair that
  *    reached the local table is never sent again. Remote first keeps
  *    every local pair on the remote too: a write that fails leaves the
  *    local table without the pair, and the next pass (or the streaming
  *    replay) sends it again, which MERGE makes harmless.
  */
class MirroredGraphSink(spark: SparkSession, root: String,
    writer: GraphDbWriter)
  extends GraphSink(spark, root) {

  import org.apache.spark.sql.functions.col

  def ensureIndexes(labels: Seq[String]): Unit =
    writer.runDdl(labels.map(CypherDialect.keyIndex))

  /** Deletes forward BEFORE merges: the local table applies a key present
    * in both sets as net-create (the keyed replace drops it and adds its
    * row back), so the remote must end created too — forwarding the
    * merge first would let the trailing DETACH DELETE win and diverge the
    * two stores. Reconcile.diff never emits an overlapping key, but the
    * sink must not depend on every caller being a reconcile.
    *
    * The merges are the local table's rows of the created keys, read back
    * after the local write: when `toCreate` holds a key twice, the local
    * replace picks its winner, and the remote must get that row, not
    * another one. */
  override def applyNodeDelta(label: String, toCreate: DataFrame,
      toDelete: DataFrame): Unit = {
    super.applyNodeDelta(label, toCreate, toDelete)
    writer.write(toDelete.select(col("external_id")),
      CypherDialect.deleteNodes(label))
    writer.write(readNodes(label, toCreate.schema)
      .join(toCreate.select(col("external_id")), Seq("external_id"), "left_semi"),
      CypherDialect.mergeNodes(label))
  }

  override def applyEdgeDelta(relType: String, toCreate: DataFrame,
      deletePairs: DataFrame, labelA: String, labelB: String,
      alreadyResolved: Boolean = false): Unit = {
    val rel = GraphSink.relTypeOf(relType, labelA, labelB)
    val resolved = (if (alreadyResolved) toCreate
      else resolveEndpoints(toCreate, labelA, labelB))
      .dropDuplicates("a_id", "b_id")
    // deletes before merges — same net-create contract as applyNodeDelta:
    // locally a pair in both sets survives (the keyed replace drops it and
    // adds it back), so the remote merge must be the last word.
    writer.write(deletePairs.select(col("a_id"), col("b_id")),
      CypherDialect.deleteEdges(rel, labelA, labelB))
    writer.write(resolved.select(col("a_id"), col("b_id")),
      CypherDialect.mergeEdges(rel, labelA, labelB))
    super.applyEdgeDelta(relType, toCreate, deletePairs, labelA, labelB,
      alreadyResolved)
  }
}
