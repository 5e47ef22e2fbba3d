package graft.sink

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.state.AtomicTable
import graft.state.AtomicTable.{local, masked, notIn}

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
  *   deletes, or a passthrough relation's new pairs.
  * - every write publishes the new image as one atomic version swap — the
  *   analog of the reference's single bolt transaction (`neo4j.go:77-81`).
  *
  * Two plans per write, chosen by the arguments alone:
  * - *Driver-local delta* (every argument's plan is a `LocalRelation`, as
  *   [[graft.pipeline.SyncDriver]] passes a small delta): the image is the
  *   table minus the delta's keys as a literal `NOT IN` mask, plus the
  *   delta rows — one scan-and-write job, no shuffle. Like Delta Lake's
  *   touched-key pruning of `MERGE` (Armbrust et al., VLDB 2020), only
  *   the delta decides what changes.
  * - *Distributed delta* (any other argument): anti-joins against the
  *   delta and a `dropDuplicates` on the key, several jobs.
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

  def readNodes(label: String, schema: org.apache.spark.sql.types.StructType = null): DataFrame =
    table("nodes", label).read(schema)

  def readEdges(relType: String): DataFrame =
    table("edges", relType).read(Schemas.edge)

  /** K1 + K2 in one transaction: apply creates (replacing whole rows on
    * key match — `SET x = item`) and deletes (by key) to the node table as
    * ONE crash-safe version swap (K5 transaction analog).
    *
    * Duplicate keys inside toCreate collapse to one winner, since the
    * table invariant is one row per key, matching MERGE: the last row in
    * list order when both sides are driver-local (the reference's batch
    * order, `neo4j.go:87-88`), else an arbitrary one — a distributed bag
    * has no "last". Callers who need a deterministic winner of a
    * distributed batch apply [[graft.operators.Transforms.lastWinsByKey]]
    * upstream. */
  def applyNodeDelta(label: String, toCreate: DataFrame,
      toDelete: DataFrame): Unit = {
    val existing = readNodes(label, toCreate.schema)
    val image = (localRows(toCreate), localRows(toDelete)) match {
      case (Some(creates), Some(deletes)) =>
        val winners = creates.map(r => r.getAs[Any](key) -> r).toMap
        masked(existing, notIn(col(key),
          winners.keys ++ deletes.map(_.getAs[Any](key))),
          local(spark, winners.values.toSeq, toCreate.schema))
      case _ =>
        existing
          .join(toDelete.select(col(key)), Seq(key), "left_anti")
          .join(toCreate.select(col(key)), Seq(key), "left_anti")
          .unionByName(toCreate.dropDuplicates(key))
    }
    table("nodes", label).commit(image)
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

  /** One transaction applying resolved pair creates and pair-keyed deletes
    * to the edge table: a reconciled relation's delta (the engine's
    * stale-edge fix — the reference never deletes relationships,
    * `neo4j.go:119-120`), or, with no deletes, a passthrough relation's
    * new pairs. `alreadyResolved = true` skips the endpoint MATCH when the
    * caller has resolved `toCreate` itself (the driver does) — node tables
    * don't change between those two points (nodes sync before edges), so
    * re-resolving would only re-scan both node tables for an identical
    * result. Only resolved pairs can take the driver-local plan. */
  def applyEdgeDelta(relType: String, toCreate: DataFrame,
      deletePairs: DataFrame, labelA: String, labelB: String,
      alreadyResolved: Boolean = false): Unit = {
    val locals = if (alreadyResolved) localRows(toCreate).zip(localRows(deletePairs))
      else None
    val image = locals match {
      case Some((creates, deletes)) =>
        val created = creates.map(pair).distinct
        masked(readEdges(relType),
          notIn(pairKey, (created ++ deletes.map(pair)).map(pairKeyOf)),
          local(spark, created.map { case (a, b) => Row(a, b) }, Schemas.edge))
      case None =>
        val resolved = (if (alreadyResolved) toCreate
          else resolveEndpoints(toCreate, labelA, labelB))
          .dropDuplicates("a_id", "b_id")
        readEdges(relType)
          .join(deletePairs.select("a_id", "b_id"), Seq("a_id", "b_id"),
            "left_anti")
          .unionByName(resolved)
          .dropDuplicates("a_id", "b_id")
    }
    table("edges", relType).commit(image)
  }

  /** K2 DETACH semantics for edges: when nodes are deleted, drop edges
    * touching them (the reference gets this from `DETACH DELETE`). */
  def detachEdges(relType: String, deletedA: DataFrame,
      deletedB: DataFrame): Unit = {
    val kept = (localRows(deletedA), localRows(deletedB)) match {
      case (Some(a), Some(b)) =>
        masked(readEdges(relType),
          notIn(col("a_id"), a.map(_.getAs[Any](key))) &&
            notIn(col("b_id"), b.map(_.getAs[Any](key))),
          local(spark, Nil, Schemas.edge))
      case _ =>
        readEdges(relType)
          .join(deletedA.select(col(key).as("a_id")), Seq("a_id"), "left_anti")
          .join(deletedB.select(col(key).as("b_id")), Seq("b_id"), "left_anti")
    }
    table("edges", relType).commit(kept)
  }

  /** The rows of `df` when its plan is driver-local — it optimizes to a
    * `LocalRelation`, so collecting it runs no job. */
  private def localRows(df: DataFrame): Option[Seq[Row]] =
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => Some(df.collect().toSeq)
      case _ => None
    }
}

object GraphSink {

  /** Separator of [[pairKey]]: a control character no id contains. */
  private[graft] val PairSep = "\u0001"

  /** An edge's (a_id, b_id) as one string: the key a reconciled relation's
    * state records, and the key a driver-local edge write masks. */
  private[graft] val pairKey: Column = concat_ws(PairSep, col("a_id"), col("b_id"))

  private def pairKeyOf(p: (String, String)): String = p._1 + PairSep + p._2

  private def pair(r: Row): (String, String) =
    (r.getAs[String]("a_id"), r.getAs[String]("b_id"))
}
