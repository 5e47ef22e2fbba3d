package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** Property-graph sink with the reference's Cypher semantics (reference
  * `internal/store/neo4j.go`), materialized as one parquet [[graft.state
  * .AtomicTable]] per node label and per edge table.
  *
  * - [[applyNodeDelta]] = `UNWIND $list AS item MERGE (x:Label
  *   {external_id}) SET x = item` plus the node half of `MATCH … DETACH
  *   DELETE x` (`neo4j.go:86-88`, `:116-118`): keyed upsert that replaces
  *   ALL properties of a matched node (no partial update), and delete by
  *   key. [[detachEdges]] is the DETACH half.
  * - [[mergeEdges]] = edge `MERGE` after endpoint `MATCH` (`neo4j.go:89-91`):
  *   semi-join resolution against both endpoint node tables (dropping
  *   dangling edges exactly as MATCH does), then idempotent dedup-append.
  * - [[applyEdgeDelta]] applies a reconciled relation's pair creates and
  *   deletes.
  * - every write reads the whole table, applies the delta and publishes
  *   the new image as one atomic version swap — the analog of the
  *   reference's single bolt transaction (`neo4j.go:77-81`).
  *
  * The whole-table rewrite is deliberate: on the `sync_steady` benchmark a
  * hash-bucketed partial-rewrite layout spent more on the jobs that find
  * the touched buckets than the rewrite it saved (ROADMAP direction 2).
  */
class GraphSink(spark: SparkSession, root: String) {

  private val key = Schemas.externalId

  private def table(kind: String, name: String) =
    new graft.state.AtomicTable(spark, s"$root/$kind/$name")

  def readNodes(label: String, schema: org.apache.spark.sql.types.StructType = null): DataFrame =
    table("nodes", label).read(schema)

  def readEdges(relType: String): DataFrame =
    table("edges", relType).read(Schemas.edge)

  /** K1 + K2 in one transaction: apply creates (replacing whole rows on
    * key match — `SET x = item`) and deletes (by key) to the node table as
    * ONE crash-safe version swap (K5 transaction analog).
    *
    * Duplicate keys inside toCreate are collapsed to one arbitrary winner
    * (the table invariant is one row per key, matching MERGE); callers who
    * need a deterministic winner apply [[graft.operators.Transforms
    * .lastWinsByKey]] upstream — a distributed bag has no "last" without an
    * explicit order (reference batch order, `neo4j.go:87-88`). */
  def applyNodeDelta(label: String, toCreate: DataFrame,
      toDelete: DataFrame): Unit = {
    val existing = readNodes(label, toCreate.schema)
    val survivors = existing
      .join(toDelete.select(col(key)), Seq(key), "left_anti")
      .join(toCreate.select(col(key)), Seq(key), "left_anti")
    table("nodes", label)
      .commit(survivors.unionByName(toCreate.dropDuplicates(key)))
  }

  /** Endpoint resolution == Cypher `MATCH (a),(b)` before the edge MERGE
    * (`neo4j.go:90-91`): keep only pairs whose BOTH endpoints exist in the
    * node tables right now. Exposed so reconciled-edge mode can resolve
    * BEFORE its snapshot diff — state must never record a pair the sink
    * dropped as dangling, or the pair would be stuck "unchanged" and never
    * retried once the missing endpoint arrives. */
  def resolveEndpoints(edges: DataFrame, labelA: String,
      labelB: String): DataFrame = {
    val a = readNodes(labelA, Schemas.state).select(col(key).as("a_id"))
    val b = readNodes(labelB, Schemas.state).select(col(key).as("b_id"))
    edges
      .join(a, Seq("a_id"), "left_semi")
      .join(b, Seq("b_id"), "left_semi")
  }

  /** J1 + K3 — resolve edges against endpoint node tables (inner joins ==
    * Cypher MATCH: dangling edges silently dropped, `neo4j.go:90-91`), dedup
    * (MERGE idempotence), and merge into the edge table. */
  def mergeEdges(relType: String, edges: DataFrame, labelA: String,
      labelB: String): Unit = {
    val resolved = resolveEndpoints(edges, labelA, labelB)
      .dropDuplicates("a_id", "b_id")
    val existing = readEdges(relType)
    table("edges", relType)
      .commit(existing.unionByName(resolved).dropDuplicates("a_id", "b_id"))
  }

  /** Reconciled-edge mode: one transaction applying resolved creates and
    * pair-keyed deletes to the edge table (the engine's stale-edge fix —
    * the reference never deletes relationships, `neo4j.go:119-120`).
    * `alreadyResolved = true` skips the endpoint MATCH when the caller
    * has resolved `toCreate` itself (the reconciled-edge driver does,
    * BEFORE its diff) — node tables don't change between those two points
    * (nodes sync before edges), so re-resolving would only re-scan both
    * node tables for an identical result. */
  def applyEdgeDelta(relType: String, toCreate: DataFrame,
      deletePairs: DataFrame, labelA: String, labelB: String,
      alreadyResolved: Boolean = false): Unit = {
    val resolved = (if (alreadyResolved) toCreate
      else resolveEndpoints(toCreate, labelA, labelB))
      .dropDuplicates("a_id", "b_id")
    val kept = readEdges(relType)
      .join(deletePairs.select("a_id", "b_id"), Seq("a_id", "b_id"),
        "left_anti")
    table("edges", relType)
      .commit(kept.unionByName(resolved).dropDuplicates("a_id", "b_id"))
  }

  /** K2 DETACH semantics for edges: when nodes are deleted, drop edges
    * touching them (the reference gets this from `DETACH DELETE`). */
  def detachEdges(relType: String, deletedA: DataFrame,
      deletedB: DataFrame): Unit = {
    val kept = readEdges(relType)
      .join(deletedA.select(col(key).as("a_id")), Seq("a_id"), "left_anti")
      .join(deletedB.select(col(key).as("b_id")), Seq("b_id"), "left_anti")
    table("edges", relType).commit(kept)
  }
}
