package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Schemas

/** Parquet-backed keyed snapshot state — the durable, distributed form of
  * the reference's in-memory `integration → function → external_id → [crc32]`
  * map (reference `internal/recon/recon.go:13`).
  *
  * Layout: one [[AtomicTable]] per (integration, function) —
  * `root/<integration>/<function>/`. Keeping each operator's state in its
  * own table is the analog of the reference's two-level map lookup: the
  * diff for one function scans only that function's keys, never the whole
  * state.
  *
  * Two-phase commit (reference `recon.go:66-69` pure-Reconcile vs
  * `recon.go:102-131` mutating-Commit): [[read]] always serves the last
  * committed image; [[commit]] publishes the post-image via the
  * crash-safe pointer swap in [[AtomicTable]]. A crash between sink write
  * and commit re-syncs the same delta — safe, because the sink is
  * idempotent (MERGE semantics), which is the reference's own
  * at-least-once story.
  *
  * The post-image is the caller's. [[graft.pipeline.SyncDriver]] passes
  * the prior image minus the changed keys, plus the changed (key, hash)
  * rows, as one [[AtomicTable.replaceKeyed]], the rule of every sink write
  * too: one shuffle-free job when the delta is small enough to collect,
  * else one shuffle on the key.
  *
  * Scale: the state image is written with whatever partitioning its
  * post-image plan has (no caller passes [[commit]]'s `partitions`); the
  * reconcile join shuffles both sides on the key, or AQE broadcasts
  * whichever side turns out small.
  *
  * The store holds sync state only. Frozen models are sets of tables
  * with a cross-table invariant, which per-table commits cannot publish
  * atomically; they live in [[ModelRegistry]].
  */
class SnapshotStore(spark: SparkSession, root: String) {

  private def table(integration: String, function: String): AtomicTable =
    new AtomicTable(spark, s"$root/$integration/$function")

  /** Last committed state image; empty (with schema) before first commit. */
  def read(integration: String, function: String): DataFrame =
    table(integration, function).read(Schemas.state)

  /** Atomically replace the state with `postImage` (key, hash). */
  def commit(integration: String, function: String, postImage: DataFrame,
      partitions: Int = 0): Unit = {
    val img = if (partitions > 0)
      postImage.repartition(partitions, postImage(Schemas.externalId))
    else postImage
    table(integration, function).commit(img)
  }
}
