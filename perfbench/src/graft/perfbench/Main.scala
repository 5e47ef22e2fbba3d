package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Run settings, as `run.py` passes them. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, sfDir: String, workDir: String, benchDir: String,
    startEpochMs: Double, threads: Int)

/** One timed operation: a sync pass, a query or a memo build. `probeNs`
  * is the slower of the idle CPU probes that bracket it. */
final case class Op(name: String, wall: Double, gcMs: Double,
    probeNs: Long, traced: Boolean, var ok: Boolean = true)

/** The benchmark's entry point, started by `run.py` in its own JVM. */
object Main {

  /** Fixed single-thread CPU spin (the probe of `graft.Bench`): it runs
    * while the session is idle, so its wall time grows only when the host
    * deschedules the thread. */
  def cpuProbeNanos(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 2000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      x *= 0x2545F4914F6CDD1DL
      i += 1
    }
    val dt = System.nanoTime() - t0
    if (x == 42L) dt + 1 else dt // keeps the loop live
  }

  /** `s` as a JSON string literal. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def gcMillis(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Peak heap used since the last reset, summed over the heap pools. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Times `body` as one operation, bracketed by CPU probes. */
  def timed(name: String, traced: Boolean, probeBefore: Long)(
      body: => Boolean): (Op, Long) = {
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    val ok = try body catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name FAILED: $e")
        e.printStackTrace()
        false
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = gcMillis() - gc0
    val after = cpuProbeNanos()
    System.err.println(f"[perfbench] op $name%s $wall%.3f s ok=$ok%s")
    (Op(name, wall, gc, math.max(probeBefore, after), traced, ok), after)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("sf-dir"), kv("work-dir"), kv("bench-dir"),
      kv("start-epoch-ms").toDouble, kv("threads").toInt)
    val out = kv("result")
    val t0 = System.nanoTime()
    val spark = GraftSession.build(a.sfDir, a.threads)
    val sessionS = (System.nanoTime() - t0) / 1e9
    // JIT the probe before any reading matters
    (0 until 20).foreach(_ => cpuProbeNanos())
    val result = try {
      a.workload match {
        case "sync_steady" => new SyncBench(spark, a).run()
        case "analytics_mix" => new QueryBench(spark, a).run()
        case w => sys.error(s"unknown workload $w")
      }
    } finally spark.stop()
    val json = result.toJson(sessionS)
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(json) finally w.close()
  }
}

/** What a workload hands back: its ops, the setup end time, its checks and
  * its metrics before the session-wide ones are added. */
final class RunResult(val args: Args) {
  val ops = ArrayBuffer.empty[Op]
  var setupEndEpochMs: Double = Double.NaN
  /** Set-up wall that is not the engine's work, left out of `setup_s`. */
  var untimedSetupS: Double = 0.0
  val failures = ArrayBuffer.empty[String]
  val endToEnd = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

  def failedOps: Int = ops.count(!_.ok)

  /** A check on `op`'s output failed: the op counts as failed. */
  def fail(op: Op, what: String): Unit = {
    op.ok = false
    failures += s"${op.name}: $what"
    System.err.println(s"[perfbench] check failed: ${op.name}: $what")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def metrics(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")

  def toJson(sessionS: Double): String = {
    val setup = (setupEndEpochMs - args.startEpochMs) / 1000.0 - untimedSetupS
    // host-stall forensics: an op is suspect when a probe bracketing it ran
    // at least 4x the run's fastest probe and the op took at least 0.5 s
    val probeMin = if (ops.isEmpty) 1L else ops.map(_.probeNs).min.max(1L)
    val suspects = ops.filter(o => o.probeNs >= 4 * probeMin && o.wall >= 0.5)
    val e2e = Seq("setup_s" -> (setup, "s")) ++ endToEnd
    val layers = perLayer ++ Seq("session.build_s" -> (sessionS, "s"))
    val forensics = s""""forensics":{"probe_min_ms":${num(probeMin / 1e6)},""" +
      s""""probe_max_x":${num(if (ops.isEmpty) 1.0 else ops.map(_.probeNs).max.toDouble / probeMin)},""" +
      s""""suspect":${suspects.nonEmpty},""" +
      s""""suspect_ops":${suspects.map(o => Main.jsonString(o.name)).mkString("[", ",", "]")}}"""
    s"""{"workload":"${args.workload}","seed":${args.seed},""" +
      s""""trace":${args.trace},"attempted":${ops.size},""" +
      s""""failed":$failedOps,""" +
      s""""failures":${failures.map(Main.jsonString).mkString("[", ",", "]")},""" +
      s""""end_to_end":${metrics(e2e)},"per_layer":${metrics(layers)},""" +
      s""""detail":${metrics(detail)},""" +
      s"""$forensics}"""
  }
}
