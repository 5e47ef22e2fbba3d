package graft.state

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions.{coalesce, lit, not}
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

  /** (counter, full version name) of the newest committed pointer. */
  private def currentPtr(f: FileSystem): Option[(Long, String)] = {
    val b = new Path(base)
    if (!f.exists(b)) return None
    val ptrs = f.listStatus(b).iterator.map(_.getPath.getName).collect {
      case PtrRe(ver) => (ver.take(12).toLong, ver)
    }.toSeq
    if (ptrs.isEmpty) None else Some(ptrs.maxBy(_._1))
  }

  private def dataDir(ver: String) = new Path(base, s"v-$ver")

  /** All committed pointers as (counter, version name). */
  private def allPtrs(f: FileSystem): Seq[(Long, String)] = {
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
    * order just makes the pick deterministic. */
  def readUpTo(maxCounter: Long, schema: StructType): DataFrame = {
    val f = fs
    val eligible = allPtrs(f).filter(_._1 <= maxCounter)
    if (eligible.isEmpty) {
      if (schema != null)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else spark.emptyDataFrame
    } else {
      val (_, ver) = eligible.maxBy(identity)
      if (schema != null)
        spark.read.schema(schema).parquet(dataDir(ver).toString)
      else spark.read.parquet(dataDir(ver).toString)
    }
  }

  /** Publish `df` at an EXPLICIT counter — the foreachBatch
    * transactional idiom with counter = batchId + 1: a replayed batch
    * (crash after this commit, before the streaming checkpoint advanced)
    * recomputes from the same [[readUpTo]] image and re-commits the
    * same counter, so the second pointer is a harmless duplicate of
    * identical data rather than a double-application. GC keeps the
    * current and immediately previous counters (the [[commit]] rule). */
  def commitAt(ctr: Long, df: DataFrame): Unit = {
    require(ctr >= 1, s"counter must be >= 1, got $ctr")
    val f = fs
    // the previous image is the highest committed counter BELOW ctr —
    // not ctr−1: batch ids can have gaps (empty batches commit nothing),
    // and GC'ing by ctr−1 could collect the very image a replay of THIS
    // batch still needs to re-read
    val prev = allPtrs(f).map(_._1).filter(_ < ctr)
      .maxOption.getOrElse(ctr - 1)
    val ver = f"$ctr%012d-${java.util.UUID.randomUUID()}"
    df.write.mode(SaveMode.Overwrite).parquet(dataDir(ver).toString)
    val ptr = new Path(base, s"ptr-$ver")
    require(f.createNewFile(ptr), s"pointer create failed: $ptr")
    gcBelow(f, prev)
  }

  /** Read the committed image; empty DataFrame with `schema` if never
    * committed (schema == null → caller must handle emptiness itself). */
  def read(schema: StructType): DataFrame = currentPtr(fs) match {
    case Some((_, ver)) =>
      if (schema != null)
        spark.read.schema(schema).parquet(dataDir(ver).toString)
      else spark.read.parquet(dataDir(ver).toString)
    case None if schema != null =>
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    case None => spark.emptyDataFrame
  }

  /** Atomically publish `df` as the new table image. */
  def commit(df: DataFrame): Unit = {
    val f = fs
    val prev = currentPtr(f)
    val ctr = prev.map(_._1 + 1).getOrElse(1L)
    val ver = f"$ctr%012d-${java.util.UUID.randomUUID()}"
    df.write.mode(SaveMode.Overwrite).parquet(dataDir(ver).toString)
    val ptr = new Path(base, s"ptr-$ver")
    require(f.createNewFile(ptr), s"pointer create failed: $ptr")
    gcBelow(f, ctr - 1)
  }

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

  /** The image of a write whose delta is on the driver: the rows of
    * `existing` that `keep`, plus `rows`, in as many partitions as a scan
    * of `existing` splits into (planned, so no job). Without the coalesce
    * every write would add the local rows' slices as new files, so a
    * table's file count would grow with every commit; with fewer
    * partitions than the scan, a large table would be rewritten by fewer
    * tasks than the join plan uses. */
  def masked(existing: DataFrame, keep: Column, rows: DataFrame): DataFrame =
    existing.filter(keep).unionByName(rows)
      .coalesce(existing.rdd.getNumPartitions.max(1))

  /** `rows` as a driver-local frame (its plan is a `LocalRelation`): the
    * form of a delta that takes [[masked]]. */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The literal mask of such a write: `c` is not one of `keys`.
    * A null `c` is outside every mask, as it matches no key of an
    * anti-join. */
  def notIn(c: Column, keys: Iterable[Any]): Column =
    if (keys.isEmpty) lit(true)
    else not(coalesce(inSet(c, keys), lit(false)))

  /** `c.isin(keys: _*)` built as the one `InSet` expression the optimizer
    * would turn it into: an `In` of one literal per key costs every
    * analyzer and optimizer rule a walk over all of them, seconds per
    * write at 50k keys. */
  private def inSet(c: Column, keys: Iterable[Any]): Column =
    GraftSqlBridge.column(InSet(GraftSqlBridge.expression(c),
      keys.iterator.map(CatalystTypeConverters.convertToCatalyst).toSet))
}
