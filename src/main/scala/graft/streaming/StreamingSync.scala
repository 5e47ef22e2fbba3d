package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{IntegrationSpec, SyncDriver}
import graft.sink.GraphSink
import graft.state.SnapshotStore

/** Structured-Streaming form of the sync pipeline.
  *
  * The reference's execution model is already micro-batch shaped: each
  * `execute()` call is one batch; reconciler state is keyed stream state;
  * (toCreate, toDelete) is an upsert/delete changelog (SURVEY §2.8). Here
  * that maps 1:1 onto `writeStream.foreachBatch`: every micro-batch runs the
  * same batch operators ([[SyncDriver.runBatch]]) against the snapshot
  * store, whose two-phase commit plus the checkpoint gives the standard
  * at-least-once + idempotent-sink = effectively-once story.
  */
class StreamingSync(spark: SparkSession, store: SnapshotStore, sink: GraphSink) {

  /** Start incremental sync of a document stream (e.g.
    * `spark.readStream.schema(Schemas.hcpDocument)
    * .option("mode", "FAILFAST").json(dir)` — FAILFAST so a malformed
    * file stops the stream instead of syncing as an all-null snapshot
    * that deletes every node).
    *
    * Snapshot-diff semantics require each micro-batch to be ONE complete
    * upstream snapshot: configure the source to deliver at most one
    * snapshot per trigger (file source: `maxFilesPerTrigger=1`) — a batch
    * that unions two snapshots would carry conflicting duplicates of every
    * changed key. An EMPTY micro-batch ("no new files") is skipped rather
    * than synced: absence of new data is not an empty snapshot, and
    * diffing it would delete everything. An intentionally-empty snapshot
    * (the reference's delete-path, `main.go:288-295`) is a FILE with
    * `{"buckets": []}` — non-empty batch, one row, and flattens to empty
    * function batches that do drive the delete flow. */
  def start(spec: IntegrationSpec, documents: DataFrame,
      checkpoint: String): StreamingQuery = {
    val driver = new SyncDriver(spark, store, sink)
    documents.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) driver.runBatch(spec, batch): Unit
      }
      .start()
  }

  /** Watermarked sliding-window aggregation over an event stream — the
    * standard streaming agg shape (count + sum per window × key). Works
    * identically on a batch DataFrame (window() is just an expression),
    * which is how the DuckDB oracle checks it. */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
      windowLen: String, watermark: String,
      valueCol: String = "value"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark(tsCol, watermark)
      else events
    src.groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(round(col(valueCol) * 100).cast("long")).as("value_cents"))
      .select(col("w.start").as("window_start"), col(keyCol),
        col("n"), col("value_cents"))
  }

  /** Streaming exact-dedup on a key: keeps the FIRST arrival per key and
    * drops later duplicates, with state bounded by the watermark
    * (`dropDuplicatesWithinWatermark` — duplicates separated by more than
    * the watermark may both survive; that is the price of bounded state at
    * unbounded scale). Batch mode keeps the earliest-`tsCol` row per key
    * (deterministic up to ts ties), mirroring first-arrival where arrival
    * order follows event time — a plain `dropDuplicates` would keep an
    * arbitrary row and non-key columns could never be compared against the
    * streaming output. */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark(keyCols)
    else
      graft.operators.Transforms.topKPerGroup(events,
        keyCols.map(col), Seq(col(tsCol).asc), 1)

  /** Streaming incremental crawl-dedup: every micro-batch is deduped
    * against the PERSISTENT seen-hash state (all content from previous
    * batches and runs), survivors are handed to `emit`, and the state
    * advances only afterwards — the streaming composition of
    * [[graft.operators.Dedup.incrementalExactSurvivors]] with the same
    * write-then-commit ordering as the sync pipeline (at-least-once +
    * idempotent downstream = effectively-once; a replayed batch re-emits
    * only content the state never committed).
    *
    * Unlike [[dedupStream]] (watermark-bounded, duplicates can re-enter
    * after the watermark), state here is unbounded-but-tiny: one hash per
    * distinct content ever seen, in an [[graft.state.AtomicTable]] readable
    * by any batch job. */
  def startIncrementalDedup(docs: DataFrame, textCol: String, idCol: String,
      stateDir: String, checkpoint: String,
      emit: DataFrame => Unit): StreamingQuery = {
    val table = new graft.state.AtomicTable(spark, stateDir)
    val stateSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("seen_hash",
        org.apache.spark.sql.types.StringType)))
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val seen = table.read(stateSchema)
          val survivorIds = graft.operators.Dedup
            .incrementalExactSurvivors(batch, seen, textCol, idCol)
          // full surviving rows = batch semi-joined on the surviving ids
          val survivors = batch.join(survivorIds, Seq(idCol), "left_semi")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            emit(survivors)
            val newHashes = graft.operators.Dedup.seenHashes(survivors, textCol)
            table.commit(seen.unionByName(newHashes)
              .dropDuplicates("seen_hash"))
          } finally survivors.unpersist()
        }
      }
      .start()
  }

  /** Gap-based session aggregation via `session_window` — the streaming
    * twin of [[graft.operators.Sessionize]] (same gap semantics; watermark
    * closes sessions and evicts their state). Works on batch frames too. */
  def sessionWindowAgg(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermark: String,
      valueCol: String = "value"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark(tsCol, watermark)
      else events
    src.groupBy(session_window(col(tsCol), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col(valueCol) * 100).cast("long")).as("value_cents"))
      .select(col(keyCol), col("w.start").as("session_start"),
        col("n_events"), col("value_cents"))
  }

  /** Stream-stream interval join — the streaming twin of the batch band
    * join ([[graft.operators.EventAnalytics.lastTouchAttribution]]'s
    * candidate stage): each left event pairs with right events of the
    * same key whose timestamp falls in (left − lookback, left]. Both
    * sides carry watermarks so Spark bounds the buffered state to the
    * watermark + lookback horizon and evicts behind it — the unbounded-
    * state trap of an un-watermarked stream join is structurally
    * impossible here. Works on batch frames too (same plan minus state),
    * which is what the parity spec compares against. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      lTsCol: String, rTsCol: String, lookback: String,
      watermark: String): DataFrame = {
    val l = if (left.isStreaming) left.withWatermark(lTsCol, watermark)
      else left
    val r = if (right.isStreaming) right.withWatermark(rTsCol, watermark)
      else right
    l.join(r, l(keyCol) === r(keyCol) &&
        r(rTsCol) <= l(lTsCol) &&
        r(rTsCol) > l(lTsCol) - expr(s"INTERVAL $lookback"))
      .select(l(keyCol).as(keyCol), l(lTsCol).as("l_ts"),
        r(rTsCol).as("r_ts"))
  }
}
