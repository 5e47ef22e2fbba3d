package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ChangeHash
import graft.model.Schemas

/** Snapshot reconciliation — the reference's one genuinely novel operator
  * family (reference `internal/recon/recon.go:36-131`, SURVEY §2.6), recast
  * as incremental view maintenance over a keyed snapshot table.
  *
  * The reference diffs an incoming batch against an in-memory
  * `external_id → crc32` map, single-threaded. Here the diff is ONE
  * full-outer join on the key — distributed and AQE-planned; state is not
  * stored clustered, so at scale both sides shuffle on the key.
  * When a batch is small relative to state (the common incremental case) AQE
  * broadcasts the batch side and the diff costs a single pass over state
  * with no shuffle of the big side.
  *
  * Two-phase contract preserved (reference `recon.go:66-69` vs `102-131`):
  * [[diff]] is pure — it never mutates state; [[GraftState.commit]] in
  * [[graft.state.SnapshotStore]] advances it only after the sink write
  * succeeds, giving at-least-once delivery with an idempotent sink.
  */
object Reconcile {

  /** Classification column values. An update is deliberately expressed as a
    * `create` — the sink's MERGE replaces the node wholesale, there is no
    * partial update (reference `recon.go:81-84`, `neo4j.go:87-88`). */
  val OpCreate = "create"
  val OpDelete = "delete"
  val OpUnchanged = "unchanged"

  val key: String = Schemas.externalId

  /** Attach the change-detection hash (F1-F3) to a batch. A batch that
    * already carries `__hash` (a sync's pinned, collapsed batch) keeps it:
    * hashing it again would plan the batch again, and the canonical-JSON
    * fallback would hash the hash. */
  def withHash(batch: DataFrame): DataFrame =
    if (batch.columns.contains("__hash")) batch
    else batch.withColumn("__hash", ChangeHash.changeHash(batch))

  /** Full classified diff of `batch` (node records, must contain
    * `external_id`) against `state` (`external_id`, `hash`).
    *
    * Returns the join image with an `op` column ∈ {create, delete,
    * unchanged}: new key → create; key in both with hash mismatch → create
    * (reference `recon.go:79-90`); key only in state → delete
    * (`recon.go:94-96`). Delete rows carry only the key — all batch columns
    * are null for them, matching `{"external_id": k}` (`recon.go:95`).
    */
  def classified(batch: DataFrame, state: DataFrame): DataFrame = {
    // Null keys are unsyncable (no identity to upsert/delete by) and would
    // otherwise be misclassified as deletes by the full-outer join AND
    // poison the convergence check forever — drop them up front. (The
    // reference cannot produce them: template output keys are always
    // strings, possibly empty.)
    val b = withHash(batch.filter(col(key).isNotNull)).alias("b")
    val s = state.alias("s")
    b.join(s, col(s"b.$key") === col(s"s.$key"), "full_outer")
      .withColumn("op",
        when(col(s"b.$key").isNull, lit(OpDelete))
          .when(col(s"s.$key").isNull, lit(OpCreate))
          .when(col("b.__hash") =!= col("s.hash"), lit(OpCreate))
          .otherwise(lit(OpUnchanged)))
      .withColumn("__key", coalesce(col(s"b.$key"), col(s"s.$key")))
  }

  /** Delta pair, reference `Reconcile` return shape (`recon.go:40`). */
  case class Delta(toCreate: DataFrame, toDelete: DataFrame)

  /** R1 — snapshot diff. (The reference's relation mode, `recon.go:42-44`,
    * needs no diff: every edge is created and nothing is deleted, so a
    * caller passes the batch straight to the merge-only sink.) */
  def diff(batch: DataFrame, state: DataFrame): Delta =
    delta(changes(batch, state))

  /** The columns [[changes]] puts before the batch's. */
  private val imageColumns = Seq("op", "__key", "__hash")

  /** The [[classified]] rows that are not unchanged, as one flat image
    * `(op, __key, __hash, <batch columns>)`: the whole delta of one join,
    * sized by the delta rather than by state, which is what a sync pins
    * (or collects) between diff and write. A delete row carries its key
    * in `__key` and nulls elsewhere; a create row carries the batch row
    * and its change hash. The batch's own `__hash`, if any, is not
    * repeated among its columns. */
  def changes(batch: DataFrame, state: DataFrame): DataFrame = {
    val columns = batch.columns.toSeq.filterNot(_ == "__hash")
    classified(batch, state).filter(col("op") =!= OpUnchanged)
      .select(col("op") +: col("__key") +: col("b.__hash").as("__hash") +:
        columns.map(c => col(s"b.`$c`")): _*)
  }

  /** The delta of a [[changes]] image: two filters of it, creates as the
    * batch's columns and deletes as their key, so when the image is pinned
    * or driver-local neither side re-runs the join. */
  def delta(changes: DataFrame): Delta =
    Delta(
      changes.filter(col("op") === OpCreate).select(changes.columns.toSeq
        .filterNot(imageColumns.contains).map(c => col(s"`$c`")): _*),
      changes.filter(col("op") === OpDelete).select(col("__key").as(key)))

  /** (created, deleted) row counts of a [[changes]] image from ONE
    * aggregate — one job over a pinned image, where a `count()` on each
    * side of its [[delta]] would be two. */
  def deltaCounts(changes: DataFrame): (Long, Long) = {
    val r = changes.agg(count_if(col("op") === OpCreate),
      count_if(col("op") === OpDelete)).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Changelog relation: every non-unchanged key with its op, from ONE
    * classified pass — i.e. one full-outer join, one scan of each side.
    * This is the relation a changelog sink (or the `reconcile_delta`
    * query) wants: `Delta(toCreate, toDelete)` unioned back together
    * re-plans the diff join per branch, doubling the dominant cost, while
    * this form filters the single join image. Use [[diff]] only when the
    * two sides genuinely flow to different sinks in different shapes
    * (creates carry batch columns, deletes only the key). */
  def changelog(batch: DataFrame, state: DataFrame): DataFrame =
    changes(batch, state).select(col("__key").as(key), col("op"))

  /** R2 — post-commit state image. For full (node) mode the post-image is
    * simply the batch's key→hash projection: commit upserts every created
    * key, drops every deleted key, and keeps unchanged keys — which together
    * is exactly the incoming batch image (reference `recon.go:102-131`).
    * No join needed: one column projection, shuffle-free. The
    * `reconcile_commit` query and specs are its only users: a sync commits
    * the prior state minus its changed keys plus their (key, hash) rows
    * ([[graft.state.AtomicTable.replaceKeyed]]), after collapsing the
    * batch to one row per key ([[graft.pipeline.SyncDriver]]).
    *
    * Duplicate keys in a batch: the reference emits every duplicate to
    * toCreate and lets MERGE last-wins resolve (batch iteration order,
    * `recon.go:72-90`); this engine matches (the join duplicates the diff
    * row), but a distributed bag has no "last", so callers who need a
    * deterministic winner should pre-apply
    * [[Transforms.lastWinsByKey]] with an explicit ordering. */
  def postState(batch: DataFrame): DataFrame =
    withHash(batch.filter(col(key).isNotNull))
      .select(col(key), col("__hash").as("hash"))
      .dropDuplicates(key)

  /** Incremental aggregate-state maintenance (IVM with retractions): the
    * sync engine's answer to "keep a per-key (count, sum) materialized
    * view current without recomputing it". `state` holds the view as
    * (key, n, s); `delta` is a change stream of (key, op, v) rows with
    * op ∈ {+1 insert, −1 retract}. The new view is
    *
    *   n' = n + Σ op,   s' = s + Σ op·v,   rows with n' = 0 dropped
    *
    * — i.e. count/sum are commutative-group aggregates, so maintenance is
    * ONE partial-combined hash aggregate over state ∪ delta-partials:
    * both sides collapse map-side, the single shuffle keys on the view
    * key, and the result is bit-exact equal to a full recompute (the
    * oracle proves exactly that equality). A deletion that empties a key
    * removes the row — the n' = 0 filter, mirroring the reference's
    * delete path (`recon.go:133-150`: absent from post-state = detached).
    */
  def maintainAggState(state: DataFrame, keyCol: String, nCol: String,
      sumCol: String, delta: DataFrame, opCol: String,
      valCol: String): DataFrame =
    state.select(col(keyCol), col(nCol).as("__n"), col(sumCol).as("__s"))
      .union(delta.select(col(keyCol), col(opCol).cast("long").as("__n"),
        (col(opCol) * col(valCol)).cast("long").as("__s")))
      .groupBy(col(keyCol))
      .agg(sum(col("__n")).as(nCol), sum(col("__s")).as(sumCol))
      .filter(col(nCol) =!= 0L)

  /** Net-effect changelog compaction (the CDC "squash" every log-shipping
    * sync runs before applying a batch): a key touched many times within
    * one batch applies as at most ONE operation downstream. With ops
    * I(nsert)/U(pdate)/D(elete) under the caller's total order, only the
    * batch's endpoints matter:
    *
    *   first I, last D → nothing   (created and destroyed inside the batch)
    *   first I, last ¬D → I        (didn't exist before → net insert)
    *   first ¬I, last D → D        (existed before → net delete)
    *   first ¬I, last ¬D → U       (existed before and after → net update)
    *
    * carrying the LAST value for I/U and no value for D. This is the same
    * contract a compacted Kafka topic / Debezium batch consumer applies.
    *
    * Scale shape: ONE partial-combined hash aggregate — first/last are
    * `min_by`/`max_by` under the explicit total order, so each executor
    * collapses its slice to one (first-op, last-op, last-value) triple per
    * key before the only shuffle. Never a window sort over the log; the
    * log's ops-per-key skew disappears map-side. */
  def compactChangelog(log: DataFrame, keyCol: String, opCol: String,
      valCol: String, orderCols: Seq[Column]): DataFrame = {
    val ord = struct(orderCols: _*)
    log.groupBy(col(keyCol))
      .agg(min_by(col(opCol), ord).as("__first"),
        max_by(col(opCol), ord).as("__last"),
        max_by(col(valCol), ord).as("__lastv"),
        count(lit(1)).as("n_ops"))
      .withColumn("net_op",
        when(col("__first") === "I" && col("__last") === "D", lit(null))
          .when(col("__first") === "I", lit("I"))
          .when(col("__last") === "D", lit("D"))
          .otherwise(lit("U")))
      .filter(col("net_op").isNotNull)
      .select(col(keyCol), col("net_op"),
        when(col("net_op") =!= "D", col("__lastv")).as("net_val"),
        col("n_ops"))
  }

  /** R5 — convergence check: a second diff immediately after commit must be
    * empty for node functions (reference `main.go:224-237`, `"commit
    * failed"`). Returns the non-empty-delta count (0 = converged). */
  def convergenceViolations(batch: DataFrame, committedState: DataFrame): Long =
    changes(batch, committedState).count()

  /** Incremental JOIN view maintenance (the join sibling of
    * [[maintainAggState]]): given the stored sides (aOld, bOld) and
    * insert deltas (dA, dB), the maintained view is
    *
    *   J_new = J_old ∪ ΔJ,   ΔJ = ΔA ⋈ (B_old ∪ ΔB)  ∪  A_old ⋈ ΔB
    *
    * — the standard delta algebra with the ΔA⋈ΔB cross term folded into
    * the first join, so each delta row is matched exactly once. The
    * incremental cost is the two DELTA-sided joins: at scale J_old is a
    * stored materialization and never recomputed, deltas are
    * batch-sized, and every join hashes on the same view key, so a
    * bucketed J_old co-partitions with its own refresh. Here J_old is
    * computed too (there is no store between bench runs), which makes
    * the algebra CHECKABLE: the result must equal the monolithic join of
    * the unioned sides — that equation is the oracle. */
  def maintainJoinView(aOld: DataFrame, dA: DataFrame,
      bOld: DataFrame, dB: DataFrame,
      aKey: String, bKey: String): DataFrame = {
    val jOld = aOld.join(bOld, col(aKey) === col(bKey))
    val deltaA = dA.join(bOld.union(dB), col(aKey) === col(bKey))
    val deltaB = aOld.join(dB, col(aKey) === col(bKey))
    jOld.union(deltaA).union(deltaB)
  }
}
