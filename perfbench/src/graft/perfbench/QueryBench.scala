package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** The `analytics_mix` workload: a fixed list of `SparkEntry.queries`,
  * each timed as `queries(name)(spark, sfDir)` plus an action by one
  * closed-loop client. The cold round builds the cross-query memos the mix
  * reads, as timed `memo:<name>` ops (as `graft.Bench` does in its
  * `__memo:` slots), then runs every query once; warm rounds follow in a
  * seeded order while run time remains, at least one. The timed op of the
  * end-to-end metrics is one warm query: `.count()`.
  *
  * Every query has a DuckDB oracle twin. Set-up computes the oracle's
  * result in canonical form ([[Canon]]); that wall is the oracle's, not
  * the engine's, so `setup_s` leaves it out. The cold round collects each
  * result and compares it whole with `expect` of the oracle's; a warm op
  * compares its count. `expect` is the identity except in the self-test,
  * which corrupts it to show that a wrong expectation fails the run. */
final class QueryBench(spark: SparkSession, a: Args,
    names: Seq[String] = QueryBench.Mix.map(_._1),
    expect: Map[String, Canon.Result] => Map[String, Canon.Result] = identity) {
  import QueryBench._

  private val res = new RunResult(a)
  private val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
  private val listener = tracer.map(_ => new JobListener)

  def run(): RunResult = {
    // set-up: the oracle's canonical result for every query in the mix
    val o0 = System.nanoTime()
    val expected = expect(Oracle.expected(a.benchDir, a.workDir, a.sfDir, names))
    res.untimedSetupS = (System.nanoTime() - o0) / 1e9
    res.detail += "oracle_s" -> (res.untimedSetupS, "s")
    listener.foreach(spark.sparkContext.addSparkListener)
    res.setupEndEpochMs = System.currentTimeMillis().toDouble
    Main.resetHeapPeak()

    var probe = Main.cpuProbeNanos()
    def runOp(opName: String, traced: Boolean)(body: => Boolean): Op = {
      val (op, after) = Main.timed(opName, traced, probe) {
        tracer.filter(_ => traced).fold(body)(_.operation(opName)(body))
      }
      probe = after
      res.ops += op
      op
    }
    /** One query op. With `full` it collects the result and checks it
      * whole against the oracle, otherwise it counts it and checks the
      * count. */
    def query(q: String, traced: Boolean, full: Boolean): Op = {
      val t = tracer.filter(_ => traced)
      def span[T](name: String)(body: => T): T = t.fold(body)(_.call(name)(body))
      var got: Either[Long, (StructType, Array[Row])] = Left(-1L)
      val op = runOp(s"query:$q", traced) {
        val df = span("analytics.plan")(SparkEntry.queries(q)(spark, a.sfDir))
        got = span("analytics.exec") {
          if (full) Right((df.schema, df.collect())) else Left(df.count())
        }
        true
      }
      val want = expected(q)
      if (op.ok) got match {
        case Left(n) if n != want.rows =>
          res.fail(op, s"$n rows, oracle has ${want.rows}")
        case Right((schema, rows)) =>
          val r = Canon.result(schema, rows)
          if (r != want) res.fail(op, s"result $r != oracle $want")
        case _ =>
      }
      op
    }

    // the cold round (memo builds, then every query once, collected and
    // checked whole), then warm rounds in a seeded order while run time
    // remains. A traced run traces the memo builds and alternates traced
    // and plain warm rounds, the seed picking which comes first; the cold
    // round stays plain, so the per-layer query figures are `.count()`.
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    val builders = SparkEntry.memoBuilders.toMap
    val memoOps = SparkEntry.memoBuilders.map(_._1).filter(Memos.contains).map { m =>
      runOp(s"memo:$m", a.trace) { builders(m)(spark, a.sfDir); true }
    }
    val rounds = ArrayBuffer.empty[Seq[Op]]
    val minRounds = if (a.trace) 3 else 2
    val tracedParity = if (new scala.util.Random(a.seed).nextBoolean()) 0 else 1
    var coldS = 0.0
    while (rounds.size < minRounds || System.nanoTime() < deadline) {
      val r = rounds.size
      val order = new scala.util.Random(a.seed * 7919 + r).shuffle(names)
      val traced = a.trace && r > 0 && r % 2 == tracedParity
      rounds += order.map(q => query(q, traced, full = r == 0))
      if (r == 0) coldS = (System.nanoTime() - t0) / 1e9
    }
    res.detail += "heap_peak_mb" -> (Main.heapPeakMb(), "MB")

    val warm = rounds.drop(1).flatten.toSeq
    val base = warm.filterNot(_.traced).map(_.wall)
    res.endToEnd ++= Seq(
      "op_s_p50" -> (Main.quantile(base, 0.5), "s"),
      "ops_per_s" -> (base.size / base.sum, "1/s"))
    res.detail ++= Seq(
      "query_s_p50" -> (Main.quantile(base, 0.5), "s"),
      "query_s_p90" -> (Main.quantile(base, 0.9), "s"),
      "queries_per_s" -> (base.size / base.sum, "queries/s"),
      "warm_samples" -> (base.size.toDouble, "count"),
      "cold_round_s" -> (coldS, "s"),
      "memo_build_s" -> (memoOps.map(_.wall).sum, "s"),
      "failed_ratio" -> (res.ops.count(!_.ok).toDouble / res.ops.size, "ratio"))
    for (t <- tracer; l <- listener) {
      spark.sparkContext.removeSparkListener(l)
      res.perLayer ++= Layers.metrics(spark.sparkContext, t, l,
        _.startsWith("query:"), deltaRows = 0L, docBytes = 0.0,
        gcS = warm.filter(_.traced).map(_.gcMs).sum / 1000.0)
      res.perLayer ++= Layers.overhead(warm)
    }
    res
  }
}

/** The DuckDB side of the analytics check. */
object Oracle {

  /** Canonical oracle results of `queries`, computed by
    * `perfbench/oracle.py`, which this waits for. */
  def expected(benchDir: String, workDir: String, sfDir: String,
      queries: Seq[String]): Map[String, Canon.Result] = {
    val sqlFile = new File(workDir, "oracle_sql.json")
    Files.write(sqlFile.toPath, queries.map(q =>
      s"${Main.jsonString(q)}:${Main.jsonString(SparkEntry.oracleSql(q))}")
      .mkString("{", ",", "}").getBytes(UTF_8))
    val out = new File(workDir, "expected.json")
    val log = new File(workDir, "oracle.log")
    val p = new ProcessBuilder("python3", new File(benchDir, "oracle.py").getPath,
      sfDir, sqlFile.getPath, out.getPath).redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.to(log)).start()
    val rc = p.waitFor()
    require(rc == 0, s"oracle.py exited $rc: " +
      new String(Files.readAllBytes(log.toPath), UTF_8).takeRight(2000))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    queries.map { q =>
      val r = root.get(q)
      q -> Canon.Result(r.get("rows").asLong(), r.get("hash").asText(),
        r.get("types").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
    }.toMap
  }
}

object QueryBench {

  /** The mix, each query with the reason it is in it. Every entry has a
    * DuckDB twin in `SparkEntry.oracleSql`. */
  val Mix: Seq[(String, String)] = Seq(
    // the sync family: the operators a sync pass is built from
    "reconcile_delta" -> "sync: full-outer snapshot diff, one classified pass",
    "snapshot_diff" -> "sync: create/delete split of the snapshot diff",
    "upsert_lastwins" -> "sync: keyed last-wins upsert of the node sink",
    "explode_nested" -> "sync: two-level correlated flatten of the HCP transforms",
    "edge_resolve_join" -> "sync: edge endpoint MATCH as semi-joins",
    // consumers of the memos the memo-phase work targets
    "ann_sq8" -> "memo sq8_cand: scalar-quantized ANN candidates",
    "ann_refresh" -> "memo ann_refresh: publish/promote/serve ANN loop",
    "bigram_logprob" -> "memo bigram_counts: smoothed bigram LM score",
    // the heaviest single queries of the battery
    "ppjoin_pairs" -> "heaviest: prefix-filtered similarity join",
    "quality_margin" -> "heaviest: naive-Bayes refresh and margin",
    "temporal_reach" -> "heaviest: iterative time-respecting reachability",
    "basket_pairs" -> "heaviest: co-ordered part pairs self-join",
    // one query of every family the entries above leave out
    "scan_parquet" -> "sources/scans: plain parquet scan",
    "q5_nation_revenue" -> "aggregations: six-way join then grouped aggregate",
    "crc32_hash" -> "scalar functions: CRC32-Q change hash",
    "asof_join" -> "AsofJoin: latest event at or before each click",
    "range_join" -> "RangeJoin: interval join with binning",
    "mm_meta" -> "Multimodal: binary header parsing",
    "triangle_count" -> "GraphAlgos: triangles over the mod_uv edge-core memo",
    "sessionize" -> "Sessionize: gap-based sessions",
    "funnel_stages" -> "EventAnalytics: ordered funnel",
    "stream_window" -> "streaming shape: windowed aggregate")

  /** The memos the mix reads, built as `memo:<name>` ops in the cold
    * round. The self-test checks that no query of the mix needs another. */
  val Memos: Set[String] = Set("mod_uv", "bigram_counts", "sq8_cand",
    "ann_refresh")
}
