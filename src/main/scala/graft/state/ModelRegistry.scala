package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Versioned MULTI-TABLE model registry with atomic promotion and
  * rollback — the production artifact store for the frozen-model tiers
  * (pruned-KN LM: six tables; Naive-Bayes classifier: three tables; ANN
  * index: centroids + codebook + assignments).
  *
  * It is the engine's only model store. Why per-table commits are not
  * enough: each table's pointer swap ([[AtomicTable.commit]]) is
  * individually atomic, but a model is a SET of tables with a
  * cross-table consistency invariant (e.g. the NB grams table must count
  * exactly the docs the classes table counts). A refresh that re-commits
  * the tables one by one opens a window where a scorer reads grams vN+1
  * next to classes vN — per-table atomicity, torn MODEL. The registry
  * closes it with the classic manifest-swap discipline (the same shape
  * Delta/Iceberg use for multi-file snapshots, and the multi-table analog
  * of the reference's all-functions-then-commit sync loop,
  * `main.go:224-237` + `recon.go:102-131`):
  *
  *  - `root/<model>/v-<n>/<table>/` — version dirs, parquet, written
  *    COMPLETELY before promotion and immutable afterwards;
  *  - `root/<model>/manifest/` — an [[AtomicTable]] holding ONE row
  *    `(version, prev_version, max_version)`; promotion = one pointer
  *    swap. Readers resolve the manifest once ([[snapshot]]) and read
  *    every table from that version dir — a concurrent refresh can
  *    promote vN+1 mid-scan and the pinned reader still sees a
  *    consistent vN (version dirs outlive their demotion by one full
  *    promote cycle, the [[AtomicTable]] GC rule).
  *
  * Rollback ([[rollback]]) re-promotes `prev_version` with another
  * manifest swap — pure metadata, no data rewrite; one step of history
  * is retained (the AtomicTable contract). `max_version` keeps version
  * numbers strictly increasing across rollbacks so a post-rollback
  * publish can never collide with a demoted version dir.
  *
  * Single-writer model (refreshes are driver-scheduled, serialized);
  * readers are unlimited. Filesystem contract inherited from
  * [[AtomicTable]]: HDFS-semantics atomic create — front an object store
  * with a real table format instead.
  *
  * `keepDepth` widens the reader lease: GC retains the `keepDepth`
  * NEWEST version dirs (always including the promoted current and its
  * predecessor), so a [[Pinned]] reader survives `keepDepth − 1`
  * promote cycles instead of exactly one — the knob for a serve join
  * whose scan legitimately outlives two refresh cadences at 100 TB.
  * Storage stays bounded at `keepDepth` versions; rollback history
  * stays one step (the manifest holds one `prev_version`, a
  * [[rollback]] contract independent of how many dirs GC retains). */
class ModelRegistry(spark: SparkSession, root: String,
    keepDepth: Int = 2) {
  require(keepDepth >= 2,
    s"keepDepth=$keepDepth: the manifest contract needs at least " +
      "{current, previous} retained (rollback + one-cycle reader lease)")

  private val ManifestSchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("prev_version", LongType, nullable = false),
    StructField("max_version", LongType, nullable = false)))

  private def manifest(model: String): AtomicTable =
    new AtomicTable(spark, s"$root/$model/manifest")

  private def versionDir(model: String, version: Long) =
    s"$root/$model/v-$version"

  private def fs: FileSystem = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestRow(model: String): Option[(Long, Long, Long)] = {
    val rows = manifest(model).read(ManifestSchema).collect()
    if (rows.isEmpty) None
    else Some((rows(0).getLong(0), rows(0).getLong(1), rows(0).getLong(2)))
  }

  /** Currently promoted version; 0 if the model was never published. */
  def currentVersion(model: String): Long =
    manifestRow(model).map(_._1).getOrElse(0L)

  /** Write every table of a NEW version completely, then promote it with
    * one manifest swap. Returns the promoted version number. Version
    * dirs beyond the `keepDepth` newest are best-effort GC'd — the
    * READER-LEASE CONTRACT: a reader pinned on an outgoing version gets
    * `keepDepth − 1` full promote cycles to finish (default one). A
    * [[Pinned]] held past that points at a GC'd dir and fails its next
    * `table` read loudly (both the default one-cycle failure and the
    * keepDepth=3 two-cycle survival are pinned by name in
    * ModelRegistrySpec); a refresh scheduler must bound scan time below
    * keepDepth−1 promote cadences, or raise `keepDepth` — the local
    * analog of a real table format's snapshot retention.
    *
    * Single-writer ENFORCED, not just assumed, in two layers:
    *
    *  1. the publisher claims `publish-lock-<v>` with an atomic
    *     create-if-absent before writing anything; a concurrent
    *     publisher racing for the same version FAILS LOUDLY instead of
    *     silently losing the manifest race (two writers allocating the
    *     same version would otherwise both "succeed" with one artifact
    *     silently discarded — the failure mode refresh schedulers
    *     actually hit);
    *  2. the lock is re-validated AFTER the claim: the lock file is
    *     deleted once its publisher promotes, so a slow competitor that
    *     read the manifest BEFORE that promote could claim the freed
    *     lock number afterwards and `Overwrite` the just-promoted,
    *     supposedly immutable `v-<v>` dirs under pinned readers. Version
    *     numbers are never reused (`max_version` is monotone), so the
    *     claimer re-reads the manifest and fails loudly if
    *     `max_version` advanced past what it allocated from.
    *
    * A publisher that crashed mid-write leaves its lock behind; the
    * next publish names the stale lock in its error so an operator can
    * inspect-and-remove — deliberate manual recovery, matching the
    * registry's driver-scheduled refresh contract. For schedulers that
    * cannot page an operator, `staleLockMs` bounds the wait: a lock
    * older than the budget is broken with an atomic RENAME of the
    * observed stale file — exactly one breaker's rename succeeds, so
    * two recovering publishers cannot both enter the critical section —
    * and re-claimed with another create-if-absent (which a third, fresh
    * publisher can still win; the breaker then fails loudly). Lock age
    * is measured against the FILESYSTEM's clock (a probe file's mtime),
    * never the local `System.currentTimeMillis` — on a distributed FS
    * the two clocks can skew enough to mis-age a live lock. The lock
    * carries its owner's unique token and its mtime is refreshed after
    * every table write, so (a) a LIVE publisher whose writes outlast
    * `staleLockMs` keeps presenting a young lock instead of being
    * broken mid-write, and (b) if its lock IS stolen anyway (budget far
    * too small), the owner detects the foreign token before promoting
    * and aborts — a double-Overwrite of the same version dirs under
    * pinned readers becomes a loud single-winner failure. Overwriting a
    * crashed publisher's PARTIAL version dir is safe — it was never
    * promoted, so no reader ever resolved it. */
  def publish(model: String, tables: Seq[(String, DataFrame)],
      staleLockMs: Long = Long.MaxValue): Long = {
    require(tables.nonEmpty, s"publish($model): no tables")
    val (_, _, maxv) = manifestRow(model).getOrElse((0L, 0L, 0L))
    val v = maxv + 1
    onBeforeClaim(model, v)
    val lock = new Path(s"$root/$model/publish-lock-$v")
    val token = java.util.UUID.randomUUID().toString
    val f = fs
    f.mkdirs(lock.getParent)
    // atomic create-if-absent that also records the owner: create with
    // overwrite=false either claims the lock and writes the token, or
    // throws because another publisher's lock exists
    def tryClaim(): Boolean =
      try {
        val os = f.create(lock, false)
        try os.write(token.getBytes(java.nio.charset.StandardCharsets
          .UTF_8)) finally os.close()
        true
      } catch { case _: java.io.IOException => false }
    // the filesystem's own clock: the mtime a probe file gets right now
    def fsNowMs(): Long = {
      val probe = new Path(s"$root/$model/publish-probe-$token")
      f.create(probe, true).close()
      try f.getFileStatus(probe).getModificationTime
      finally f.delete(probe, false)
    }
    if (!tryClaim()) {
      val ageMs = try fsNowMs() -
        f.getFileStatus(lock).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
      // -1: the holder released between our failed claim and the stat —
      // not stale, just contended; fall through to the loud error
      require(ageMs > staleLockMs,
        s"publish($model): version $v is already being published " +
          s"(concurrent publisher, or a crashed one — inspect and " +
          s"remove $lock to recover, or pass staleLockMs < $ageMs to " +
          "break the stale lock)")
      onBeforeBreak(model, v)
      // atomic break: of N recoverers that all observed the stale lock,
      // exactly ONE rename succeeds (the source exists only once)
      val broken = new Path(s"${lock.toString}.broken-$token")
      require(try f.rename(lock, broken) catch {
          case _: java.io.IOException => false },
        s"publish($model): lost the break race for version $v — a " +
          s"concurrent recoverer broke $lock first; retry to publish " +
          "against whatever head it promotes")
      f.delete(broken, false)
      require(tryClaim(),
        s"publish($model): lost the claim race for version $v while " +
          s"breaking a stale lock — a live publisher re-claimed $lock")
    }
    def stillOwned(): Boolean =
      try {
        val in = f.open(lock)
        try {
          val buf = new Array[Byte](token.length)
          val n = in.read(buf)
          n == token.length && new String(buf,
            java.nio.charset.StandardCharsets.UTF_8) == token
        } finally in.close()
      } catch { case _: java.io.IOException => false }
    // abort loudly unless the lock still exists and carries OUR token —
    // called after every table write (which also refreshes the lock's
    // mtime, keeping a live long write younger than any sane
    // staleLockMs) and once more before the promote swap
    def verifyOwnedAndRefresh(): Unit = {
      require(stillOwned(),
        s"publish($model): lock $lock was broken mid-write by a " +
          s"recovering publisher (staleLockMs below this write's " +
          "duration?) — aborting without promoting; the breaker owns " +
          s"version $v now")
      f.setTimes(lock, fsNowMs(), -1)
    }
    try {
      // post-claim re-validation (layer 2 above): allocate-from state
      // must still be the head, or this claim recycles a released lock
      val now = manifestRow(model).getOrElse((0L, 0L, 0L))
      require(now._3 == maxv,
        s"publish($model): lost the publish race for version $v — the " +
          s"manifest advanced to max_version=${now._3} after this " +
          "publisher read it (a competitor promoted first); retry to " +
          "publish against the new head")
      tables.foreach { case (name, df) =>
        df.write.mode(SaveMode.Overwrite)
          .parquet(s"${versionDir(model, v)}/$name")
        verifyOwnedAndRefresh()
      }
      verifyOwnedAndRefresh()
      promote(model, version = v, prev = now._1, maxv = v,
        keep = Set(v, now._1))
    } finally {
      // release ONLY a lock this publisher still owns — if a recoverer
      // stole it mid-write, deleting here would free the THIEF's claim
      // under its own in-flight publish
      if (stillOwned()) f.delete(lock, false)
    }
    v
  }

  /** Test seam: called between the manifest read that allocates the new
    * version number and the lock claim — the recycled-lock race window
    * (a competitor can read, write, promote and release entirely inside
    * it, freeing the lock name this publisher is about to claim).
    * No-op in production; ModelRegistrySpec overrides it to replay the
    * race deterministically. */
  protected def onBeforeClaim(model: String, version: Long): Unit = ()

  /** Test seam: called between observing a stale lock (age check
    * passed) and the atomic rename that breaks it — the two-recoverer
    * break race window. No-op in production; ModelRegistrySpec
    * overrides it to let a competing recoverer break-and-publish first,
    * proving exactly one breaker enters the critical section. */
  protected def onBeforeBreak(model: String, version: Long): Unit = ()

  /** Re-promote the previous version — pure manifest metadata, the data
    * dirs are untouched. Fails loudly if there is no history to restore
    * (never published, or already rolled back past the retained step). */
  def rollback(model: String): Long = {
    val (cur, prev, maxv) = manifestRow(model).getOrElse(
      throw new IllegalStateException(
        s"rollback($model): model never published"))
    require(prev > 0, s"rollback($model): no previous version to " +
      s"restore (current v$cur is the oldest retained)")
    // the demoted current stays on disk one promote cycle (keep set) so
    // a reader pinned on it mid-scan finishes; prev_version=0 records
    // that history is exhausted (a second rollback fails loudly)
    promote(model, version = prev, prev = 0L, maxv = maxv,
      keep = Set(prev, cur))
    prev
  }

  private def promote(model: String, version: Long, prev: Long,
      maxv: Long, keep: Set[Long]): Unit = {
    manifest(model).commit(spark.createDataFrame(
      java.util.List.of(Row(version, prev, maxv)), ManifestSchema)
      .coalesce(1))
    gc(model, keep = keep.filter(_ > 0))
  }

  /** Delete version dirs beyond the retention set: the mandatory `keep`
    * versions (promoted current + its predecessor — the rollback
    * contract) plus enough NEWEST other dirs to retain `keepDepth`
    * total (the widened reader lease). Best-effort, same contract as
    * [[AtomicTable]]'s GC; storage stays bounded at `keepDepth` dirs. */
  private def gc(model: String, keep: Set[Long]): Unit = {
    val base = new Path(s"$root/$model")
    val f = fs
    if (!f.exists(base)) return
    val VDir = "v-([0-9]+)".r
    val present = f.listStatus(base).flatMap { st =>
      st.getPath.getName match {
        case VDir(n) => Some(n.toLong -> st.getPath)
        case _ => None
      }
    }
    val retained = keep ++ present.map(_._1).sorted(Ordering[Long].reverse)
      .filterNot(keep.contains).take(keepDepth - keep.size)
    present.foreach { case (n, p) =>
      if (!retained.contains(n))
        try f.delete(p, true) catch { case _: Exception => () }
    }
  }

  /** Pin the currently promoted version. Every [[Pinned.table]] read
    * resolves against the SAME immutable version dir — consistent across
    * tables by construction, stable under concurrent refresh. */
  def snapshot(model: String): Pinned = {
    val v = currentVersion(model)
    require(v > 0, s"snapshot($model): model never published")
    Pinned(model, v)
  }

  /** A pinned model version: `table(name)` reads from the immutable
    * `v-<version>` dir. Pins are equal when they name one version of one
    * model under one registry root. */
  final case class Pinned(model: String, version: Long) {
    /** The root of the registry this version lives under. */
    val registryRoot: String = root

    override def equals(other: Any): Boolean = other match {
      case p: ModelRegistry#Pinned =>
        (p.registryRoot, p.model, p.version) == ((registryRoot, model, version))
      case _ => false
    }

    override def hashCode: Int = (registryRoot, model, version).##

    def table(name: String): DataFrame = {
      val dir = s"${versionDir(model, version)}/$name"
      require(fs.exists(new Path(dir)),
        s"model table $dir missing from published version $version")
      spark.read.parquet(dir)
    }
  }
}
