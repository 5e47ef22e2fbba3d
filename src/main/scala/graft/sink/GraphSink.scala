package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.state.AtomicTable
import graft.state.AtomicTable.{local, replaceKeyed}

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
  *   dangling edges exactly as MATCH does), then idempotent append.
  * - [[applyEdgeDelta]] applies a reconciled relation's pair creates and
  *   deletes, or a passthrough relation's new pairs.
  * - every write publishes the new image as one atomic version swap — the
  *   analog of the reference's single bolt transaction (`neo4j.go:77-81`).
  *
  * Every write is one [[AtomicTable.replaceKeyed]]: the table minus the
  * keys the delta drops or replaces, plus the delta rows, keyed by
  * `external_id` for nodes, by the pair for edges and by each endpoint for
  * DETACH. That function picks the plan from the arguments alone: a
  * literal mask of a driver-local delta (as [[graft.pipeline.SyncDriver]]
  * passes a small one), one shuffle-free job; otherwise one shuffle on
  * the key. Like Delta Lake's touched-key pruning of `MERGE` (Armbrust et
  * al., VLDB 2020), only the delta decides what changes.
  *
  * Either way the write scans and rewrites the whole table: on the
  * `sync_steady` benchmark a hash-bucketed partial-rewrite layout spent
  * more on the jobs that find the touched buckets than the rewrite it
  * saved (ROADMAP direction 2).
  */
class GraphSink(spark: SparkSession, root: String) {
  import GraphSink._

  private val key = Schemas.externalId

  private def table(kind: String, name: String) =
    new AtomicTable(spark, s"$root/$kind/$name")

  private def noEdges: DataFrame = local(spark, Nil, Schemas.edge)

  def readNodes(label: String, schema: org.apache.spark.sql.types.StructType = null): DataFrame =
    table("nodes", label).read(schema)

  def readEdges(relType: String): DataFrame =
    table("edges", relType).read(Schemas.edge)

  /** K1 + K2 in one transaction: apply creates (replacing whole rows on
    * key match — `SET x = item`) and deletes (by key) to the node table as
    * ONE crash-safe version swap (K5 transaction analog). A key in both
    * ends up created.
    *
    * Duplicate keys inside toCreate collapse to one winner, since the
    * table invariant is one row per key, matching MERGE: the last row in
    * list order when both sides are driver-local (the reference's batch
    * order, `neo4j.go:87-88`), else an arbitrary one — a distributed bag
    * has no "last". [[graft.pipeline.SyncDriver]] passes one row per key. */
  def applyNodeDelta(label: String, toCreate: DataFrame,
      toDelete: DataFrame): Unit =
    table("nodes", label).commit(replaceKeyed(readNodes(label, toCreate.schema),
      col(key), toCreate, toDelete))

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
    * Cypher MATCH: dangling edges silently dropped, `neo4j.go:90-91`) and
    * merge them into the edge table, one row per pair (MERGE idempotence):
    * [[applyEdgeDelta]] with no deletes. */
  def mergeEdges(relType: String, edges: DataFrame, labelA: String,
      labelB: String): Unit =
    applyEdgeDelta(relType, edges, noEdges, labelA, labelB)

  /** One transaction applying resolved pair creates and pair-keyed deletes
    * to the edge table: a reconciled relation's delta (the engine's
    * stale-edge fix — the reference never deletes relationships,
    * `neo4j.go:119-120`), or, with no deletes, a passthrough relation's
    * new pairs. A pair in both ends up created. `alreadyResolved = true`
    * skips the endpoint MATCH when the caller has resolved `toCreate`
    * itself (the driver does) — node tables don't change between those two
    * points (nodes sync before edges), so re-resolving would only re-scan
    * both node tables for an identical result. */
  def applyEdgeDelta(relType: String, toCreate: DataFrame,
      deletePairs: DataFrame, labelA: String, labelB: String,
      alreadyResolved: Boolean = false): Unit = {
    val created = if (alreadyResolved) toCreate
      else resolveEndpoints(toCreate, labelA, labelB)
    table("edges", relType).commit(replaceKeyed(readEdges(relType), pairKey,
      created.select("a_id", "b_id"), deletePairs.select("a_id", "b_id")))
  }

  /** K2 DETACH semantics for edges: when nodes are deleted, drop edges
    * touching them (the reference gets this from `DETACH DELETE`) — the
    * table keyed by each endpoint in turn, minus the deleted keys. */
  def detachEdges(relType: String, deletedA: DataFrame,
      deletedB: DataFrame): Unit = {
    val kept = Seq("a_id" -> deletedA, "b_id" -> deletedB)
      .foldLeft(readEdges(relType)) { case (edges, (end, deleted)) =>
        replaceKeyed(edges, col(end), noEdges, deleted.select(col(key).as(end)))
      }
    table("edges", relType).commit(kept)
  }
}

object GraphSink {

  /** The edge table of relation type `relType` between `labelA` and
    * `labelB` nodes. The reference's single `has` type spans three
    * endpoint pairs that Neo4j distinguishes structurally; a flat table
    * must distinguish them by name. */
  private[graft] def edgeTable(relType: String, labelA: String,
      labelB: String): String =
    s"${relType}__${labelA}__$labelB"

  /** The relation type of an [[edgeTable]] name (a name in no other form
    * is its own type). */
  private[graft] def relTypeOf(table: String, labelA: String,
      labelB: String): String = {
    val suffix = s"__${labelA}__$labelB"
    if (table.endsWith(suffix)) table.dropRight(suffix.length) else table
  }

  /** Separator of [[pairKey]]: a control character no id contains. */
  private val PairSep = "\u0001"

  /** An edge's (a_id, b_id) as one string: the key a reconciled relation's
    * state records, and the key of every edge write. */
  private[graft] val pairKey: Column = concat_ws(PairSep, col("a_id"), col("b_id"))

  /** The (a_id, b_id) columns of a [[pairKey]] column. */
  private[graft] def pairOf(key: Column): Seq[Column] = Seq(
    element_at(split(key, PairSep), 1).as("a_id"),
    element_at(split(key, PairSep), 2).as("b_id"))
}
