package graft.state

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{coalesce, col, lit, max, not, row_number}
import org.apache.spark.sql.types.StructType

/** Crash-safe versioned parquet table.
  *
  * Layout: `base/v-<counter>-<uuid>/` data directories plus pointer files
  * `base/ptr-<counter>-<uuid>` whose NAME encodes the committed version.
  * A commit (1) writes the new data directory completely, then (2) creates
  * one new pointer file — a single atomic filesystem create. Readers
  * resolve the highest-counter pointer, which by construction always names
  * a fully-written directory. A crash at any point leaves either the old
  * pointer (old data served) or both pointers (new data served) — never a
  * missing or half-visible table. The PREVIOUS version is retained for one
  * full commit cycle (a reader that resolved the old pointer just before a
  * commit can finish its scan); versions older than that are best-effort
  * garbage-collected on the next successful commit.
  *
  * This replaces a rename-cur-to-old/rename-staged-to-cur sequence whose
  * crash window between the two renames could lose the table entirely.
  *
  * Filesystem contract: commit atomicity rests on `createNewFile` being an
  * atomic create-if-absent and `listStatus` seeing it immediately — true of
  * HDFS and local filesystems, NOT of object stores (S3A implements create
  * as a non-atomic exists+PUT, and listings may lag). On an object store,
  * front this with a real table format or an external lock; this class
  * intentionally targets HDFS-semantics filesystems only.
  */
class AtomicTable(spark: SparkSession, base: String) {

  private def fs: FileSystem =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val PtrRe = "ptr-([0-9]{12}-.+)".r

  private def dataDir(ver: String) = new Path(base, s"v-$ver")

  /** All committed pointers as (counter, version name). */
  private def ptrs(f: FileSystem): Seq[(Long, String)] = {
    val b = new Path(base)
    if (!f.exists(b)) return Nil
    f.listStatus(b).iterator.map(_.getPath.getName).collect {
      case PtrRe(ver) => (ver.take(12).toLong, ver)
    }.toSeq
  }

  /** The committed image with the HIGHEST counter ≤ `maxCounter` — the
    * read half of batch-versioned commits ([[commitAt]]): a replayed
    * micro-batch reads the image its original attempt read, never the
    * one its original attempt WROTE, which is what makes a
    * non-idempotent fold (e.g. additive count maintenance) replay-safe.
    * Ties on counter (a replay re-published the same version) resolve
    * by version name — both hold identical recomputed data, the name
    * order just makes the pick deterministic. Empty DataFrame with
    * `schema` if no such image exists (schema == null → caller must
    * handle emptiness itself). */
  def readUpTo(maxCounter: Long, schema: StructType): DataFrame =
    ptrs(fs).filter(_._1 <= maxCounter).maxOption match {
      case Some((_, ver)) =>
        if (schema != null)
          spark.read.schema(schema).parquet(dataDir(ver).toString)
        else spark.read.parquet(dataDir(ver).toString)
      case None if schema != null =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      case None => spark.emptyDataFrame
    }

  /** Publish `df` at an EXPLICIT counter — the foreachBatch
    * transactional idiom with counter = batchId + 1: a replayed batch
    * (crash after this commit, before the streaming checkpoint advanced)
    * recomputes from the same [[readUpTo]] image and re-commits the
    * same counter, so the second pointer is a harmless duplicate of
    * identical data rather than a double-application. GC keeps `ctr`
    * and the highest committed counter below it ([[gcBelow]]). */
  def commitAt(ctr: Long, df: DataFrame): Unit = {
    require(ctr >= 1, s"counter must be >= 1, got $ctr")
    val f = fs
    // the previous image is the highest committed counter BELOW ctr —
    // not ctr−1: batch ids can have gaps (empty batches commit nothing),
    // and GC'ing by ctr−1 could collect the very image a replay of THIS
    // batch still needs to re-read
    val prev = ptrs(f).map(_._1).filter(_ < ctr)
      .maxOption.getOrElse(ctr - 1)
    val ver = f"$ctr%012d-${java.util.UUID.randomUUID()}"
    df.write.mode(SaveMode.Overwrite).parquet(dataDir(ver).toString)
    val ptr = new Path(base, s"ptr-$ver")
    require(f.createNewFile(ptr), s"pointer create failed: $ptr")
    gcBelow(f, prev)
  }

  /** Read the committed image: the newest one ([[readUpTo]]). */
  def read(schema: StructType): DataFrame = readUpTo(Long.MaxValue, schema)

  /** Atomically publish `df` as the new table image, one counter above
    * the newest ([[commitAt]]; its previous image is then the newest). */
  def commit(df: DataFrame): Unit =
    commitAt(ptrs(fs).map(_._1).maxOption.getOrElse(0L) + 1, df)

  /** GC (best-effort): keep every version with counter ≥ `keepFrom` —
    * the current AND the immediately previous committed version — a
    * reader that resolved the old pointer just before a commit gets a
    * full commit cycle to finish its scan; eager deletion would hand it
    * FileNotFoundException mid-read (external readers, or stragglers
    * outside the single-writer model). Data dirs with no surviving
    * pointer (crashed commits, superseded versions) are deleted
    * whatever their counter. */
  private def gcBelow(f: FileSystem, keepFrom: Long): Unit = {
    val names = f.listStatus(new Path(base)).map(_.getPath.getName)
    val keptVers = names.collect {
      case PtrRe(v) if v.take(12).toLong >= keepFrom => v
    }.toSet
    names.foreach { n =>
      val drop =
        (n.startsWith("ptr-") && !keptVers.contains(n.stripPrefix("ptr-"))) ||
        (n.startsWith("v-") && !keptVers.contains(n.stripPrefix("v-")))
      if (drop) {
        try f.delete(new Path(base, n), true) catch { case _: Exception => }
      }
    }
  }
}

object AtomicTable {

  /** The one write rule of a sync, the reference's `MERGE … SET x = item`
    * and `DETACH DELETE` by key (`neo4j.go:86-91`, `:116-118`): `existing`
    * minus its rows whose `key` is a key of `drop` or of `rows`, plus
    * `rows`, one per key. `key` is evaluated on all three frames; a key in
    * both `rows` and `drop` ends up as its row. Every node, edge and state
    * write of [[graft.sink.GraphSink]] and [[graft.pipeline.SyncDriver]]
    * is this function.
    *
    * - When `rows` and `drop` are driver-local (each plan is a
    *   `LocalRelation`, so collecting them runs no job), their keys are one
    *   literal mask and the image is one shuffle-free scan of `existing`
    *   ([[masked]]). A key `rows` holds twice keeps its last row in list
    *   order, the reference's batch order.
    * - Otherwise one window on the key picks each key's rows
    *   ([[distributedReplace]]); a distributed bag has no "last", so a
    *   key `rows` holds twice keeps an arbitrary one of its rows. */
  def replaceKeyed(existing: DataFrame, key: Column, rows: DataFrame,
      drop: DataFrame): DataFrame =
    (onDriver(rows.withColumn("__key", key)), onDriver(drop.select(key))) match {
      case (Some(Seq()), Some(Seq())) => existing
      case (Some(keyed), Some(dropped)) =>
        val winners = keyed.map(r => r.get(r.length - 1) -> Row.fromSeq(r.toSeq.init)).toMap
        masked(existing, notIn(key, winners.keys ++ dropped.map(_.get(0))),
          local(existing.sparkSession, winners.values.toSeq, rows.schema))
      case _ => distributedReplace(existing, key, rows, drop)
    }

  /** [[replaceKeyed]] of a delta that is not on the driver, in one
    * shuffle on the key whatever the number of frames: the rows of all
    * three, ranked `rows` over `drop` over `existing`; per key, either
    * every `existing` row (nothing else holds the key) or the first
    * `rows` row. Anti-joins against `rows` and `drop` would shuffle each
    * side apart, two to four more jobs per write when nothing broadcasts. */
  private def distributedReplace(existing: DataFrame, key: Column,
      rows: DataFrame, drop: DataFrame): DataFrame = {
    val w = Window.partitionBy("__key").orderBy(col("__rank").desc)
    existing.withColumn("__rank", lit(0))
      .unionByName(drop.withColumn("__rank", lit(1)), allowMissingColumns = true)
      .unionByName(rows.withColumn("__rank", lit(2)), allowMissingColumns = true)
      .withColumn("__key", key)
      .withColumn("__top", max("__rank").over(w))
      .withColumn("__n", row_number().over(w))
      .filter(col("__top") === 0 || col("__rank") === 2 && col("__n") === 1)
      .select(existing.columns.toSeq.map(c => col(s"`$c`")): _*)
  }

  /** The rows of `df` when its plan is driver-local — it optimizes to a
    * `LocalRelation`, so collecting it runs no job. */
  private def onDriver(df: DataFrame): Option[Seq[Row]] =
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => Some(df.collect().toSeq)
      case _ => None
    }

  /** The image of a write whose delta is on the driver: the rows of
    * `existing` that `keep`, plus `rows`, in as many partitions as a scan
    * of `existing` splits into (planned, so no job). Without the coalesce
    * every write would add the local rows' slices as new files, so a
    * table's file count would grow with every commit; with fewer
    * partitions than the scan, a large table would be rewritten by fewer
    * tasks than the join plan uses. */
  private def masked(existing: DataFrame, keep: Column, rows: DataFrame): DataFrame =
    existing.filter(keep).unionByName(rows)
      .coalesce(existing.rdd.getNumPartitions.max(1))

  /** `rows` as a driver-local frame (its plan is a `LocalRelation`). */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The literal mask of such a write: `c` is not one of `keys`.
    * A null `c` is outside every mask. */
  private def notIn(c: Column, keys: Iterable[Any]): Column =
    if (keys.isEmpty) lit(true)
    else not(coalesce(inSet(c, keys), lit(false)))

  /** `c.isin(keys: _*)` built as the one `InSet` expression the optimizer
    * would turn it into: an `In` of one literal per key costs every
    * analyzer and optimizer rule a walk over all of them, seconds per
    * write at 50k keys. */
  def inSet(c: Column, keys: Iterable[Any]): Column =
    GraftSqlBridge.column(InSet(GraftSqlBridge.expression(c),
      keys.iterator.map(CatalystTypeConverters.convertToCatalyst).toSet))
}
