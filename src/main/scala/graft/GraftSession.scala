package graft

import org.apache.spark.sql.SparkSession

/** The ONE session builder Bench, Verify and the plan tools share, so every
  * gate and every scale rung runs the same session shape — and the one
  * place the engine sizes its shuffle.
  *
  * Why partitions are DERIVED, not pinned: the 100× rung's single
  * measured superlinearity was partition sizing, not plan shape —
  * `dedup_containment` fell from 33.6× to 3.0× per decade purely from
  * raising `spark.sql.shuffle.partitions` (BASELINE.md round-15 rung
  * table). AQE coalesces a too-LARGE initial count down for free, but
  * it never splits a too-small one up, so the initial count must scale
  * with the input. On a managed cluster the resource manager does this;
  * in local mode the engine does it itself: one partition per
  * [[TargetBytesPerPartition]] of scanned fixture bytes, floored at the
  * core count (never idle a core), capped at [[MaxPartitions]] (task-
  * launch overhead dominates past that in one JVM).
  *
  * The 4 MiB target is deliberately far below a cluster's usual
  * 64–128 MiB: the gram/shingle explodes in the dedup family multiply
  * input bytes ~10–50× into the shuffle, so sizing off INPUT bytes
  * needs the headroom (sf0.1 17.5 MB → 32 = the core floor, unchanged
  * gate shape; the 1.6 GB 100× rung → ~384, the neighborhood the rung
  * experiments proved out at 320). `SPARK_GRAFT_SHUFFLE` still
  * overrides for rung experiments that isolate the knob. */
object GraftSession {

  val TargetBytesPerPartition: Long = 4L << 20
  val MaxPartitions = 4096

  /** Total bytes under `dir` (recursive) — the local-FS stand-in for
    * the scan-relation statistics a catalog would provide. */
  def inputBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) {
        val kids = f.listFiles()
        if (kids == null) 0L else kids.map(walk).sum
      } else f.length()
    walk(new java.io.File(dir))
  }

  /** ceil(inputBytes / target), floored at `cores`, capped at
    * [[MaxPartitions]]; `SPARK_GRAFT_SHUFFLE` wins when set. */
  def derivedShufflePartitions(sfDir: String, cores: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse {
      val derived = (inputBytes(sfDir) + TargetBytesPerPartition - 1) /
        TargetBytesPerPartition
      math.min(MaxPartitions, math.max(cores, derived)).toInt
    }

  /** The shared local session: `cores` threads, derived shuffle
    * partitions, AQE on, UTC, nanos back-compat, UI off. */
  def build(sfDir: String, cores: Int): SparkSession = {
    val parts = derivedShufflePartitions(sfDir, cores)
    // receipt on stderr (stdout carries the Bench JSON): every
    // gate and rung run records the partition count it actually used
    System.err.println(s"[graft-session] sfDir=$sfDir " +
      s"bytes=${inputBytes(sfDir)} shufflePartitions=$parts")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // back-compat for TIMESTAMP(NANOS) fixtures; current fixtures ship
      // timestamp[us] — SparkEntry.events() normalizes either encoding.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
