package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.{GraftSession, SparkEntry}
import graft.pipeline.SyncDriver
import graft.sink.GraphSink

/** The benchmark's self-tests (`python3 perfbench/run.py --selftest`):
  *  1. the same seed gives a byte-identical document and the same expected
  *     delta; another seed does not;
  *  2. a tiny document run through `SyncDriver` (traced) matches the
  *     generator's expected counts and graph; a short `sync_steady` run
  *     passes, and one with a corrupted expected count or graph fails;
  *  3. every Spark job of a traced pass is attributed to exactly one span
  *     of that pass;
  *  4. with the mix's memos built, every query of `analytics_mix` plans
  *     without building another memo;
  *  5. the engine's canonical results equal the DuckDB oracle's for a few
  *     queries of the mix; a one-query `analytics_mix` run passes, and one
  *     with a corrupted oracle hash or row count fails.
  * Exits non-zero when any check fails. */
object SelfTest {

  private val failures = ArrayBuffer.empty[String]

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch {
      case e: Exception => System.err.println(s"[selftest] $name: $e"); false
    }
    System.err.println(s"[selftest] ${if (passed) "PASS" else "FAIL"} $name")
    if (!passed) failures += name
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = kv("work-dir")
    val sf = kv("sf-dir")
    /** Settings of a workload run with the fewest ops. */
    def args(workload: String) = Args(workload, seed = 3, seconds = 0,
      trace = false, sfDir = sf, workDir = work, benchDir = kv("bench-dir"),
      startEpochMs = System.currentTimeMillis().toDouble,
      threads = kv("threads").toInt)

    // 1. determinism of the generator
    def sample(seed: Long) = {
      val g = new HcpGen(seed)
      val d0 = g.initial(400)
      val d1 = g.churn(d0, replace = 2, remove = 1, add = 1)
      val (g0, g1) = (HcpGen.graph(d0), HcpGen.graph(d1))
      (HcpGen.json(d0).toSeq, HcpGen.json(d1).toSeq,
        HcpGen.expectedCounts(g0, d1, g1), HcpGen.deltaRows(g0, g1))
    }
    check("same seed, same document and expected delta")(sample(7) == sample(7))
    check("another seed, another document")(sample(7)._1 != sample(8)._1)

    val spark = GraftSession.build(sf, kv("threads").toInt)
    try {
      // 2 and 3: a tiny document through the traced driver
      val root = new File(work, "selftest-sync")
      val (stateRoot, graphRoot) = (new File(root, "state").getPath,
        new File(root, "graph").getPath)
      val tracer = new Tracer(spark.sparkContext)
      val listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
      val server = new DocServer
      try {
        val driver = new SyncDriver(spark, new TracedStore(spark, stateRoot, tracer),
          new TracedSink(spark, graphRoot, tracer))
        val spec = SyncBench.spec(server.url, Some(tracer))
        val gen = new HcpGen(3)
        val d0 = gen.initial(60)
        val docs = Seq(d0, gen.churn(d0, replace = 6, remove = 3, add = 3),
          Vector.empty[Bucket])
        var prev = HcpGen.emptyGraph
        docs.zipWithIndex.foreach { case (doc, i) =>
          server.serve(HcpGen.json(doc))
          val g = HcpGen.graph(doc)
          val want = HcpGen.expectedCounts(prev, doc, g)
          val got = tracer.operation("pass")(driver.run(spec))
          check(s"pass $i: counts match the model")(got == want)
          check(s"pass $i: sink graph matches the model")(
            SyncBench.graphMismatches(new GraphSink(spark, graphRoot), g).isEmpty)
          prev = g
        }
        val view = new Layers.View(spark.sparkContext, tracer, listener, _ == "pass")
        check("every job of a pass has exactly one span of that pass")(
          view.ops.size == 3 && view.jobs.nonEmpty && view.unattributedJobs == 0)
        check("the reconcile phases and the sink and state calls are traced")(
          Seq("reconcile.diff", "reconcile.verify", "sink.node_apply",
            "sink.detach", "sink.edge_apply", "state.commit", "sources.fetch")
            .forall(n => view.jobsOf(_.name == n).nonEmpty ||
              view.spans.exists(_.name == n)))
      } finally {
        server.close()
        spark.sparkContext.removeSparkListener(listener)
        Main.deleteTree(root)
      }

      // 2. the checks of a sync_steady run, fed a corrupted expectation
      def syncRun(counts: SyncBench.Counts => SyncBench.Counts,
          graph: Graph => Graph): RunResult =
        new SyncBench(spark, args("sync_steady"), buckets = 400, counts, graph).run()
      val syncOk = syncRun(identity, identity)
      check("sync_steady run: one pass, and it passes its checks")(
        syncOk.ops.size == 1 && syncOk.failedOps == 0)
      check("sync_steady run: a corrupted expected count fails the pass")(
        syncRun(c => c.updated("buckets", (c("buckets")._1 + 1, c("buckets")._2)),
          identity).failedOps == 1)
      check("sync_steady run: a corrupted expected graph fails the pass")(
        syncRun(identity, g => {
          val id = g.nodes("bucket").keys.min
          g.copy(nodes = g.nodes.updated("bucket",
            g.nodes("bucket").updated(id, Seq("external_id" -> id))))
        }).failedOps == 1)

      // 4. the memo list of the mix is complete
      val names = QueryBench.Mix.map(_._1)
      SparkEntry.memoBuilders.filter(m => QueryBench.Memos(m._1))
        .foreach(_._2(spark, sf))
      SparkEntry.planningOnly = true
      try names.foreach { q =>
        check(s"$q plans with the mix's memos built") {
          SparkEntry.queries(q)(spark, sf).schema
          true
        }
      } finally SparkEntry.planningOnly = false

      // 5. canonical results against the oracle
      val sample5 = Seq("reconcile_delta", "q5_nation_revenue", "asof_join",
        "tfidf_topterms", "ann_sq8")
      val expected = Oracle.expected(kv("bench-dir"), work, sf, sample5)
      sample5.foreach { q =>
        val df = SparkEntry.queries(q)(spark, sf)
        val got = Canon.result(df.schema, df.collect())
        check(s"$q equals its oracle")(got == expected(q))
      }

      // 5. the checks of an analytics_mix run, fed a corrupted expectation:
      // the cold round compares the whole result, a warm op its count
      def queryRun(f: Canon.Result => Canon.Result): RunResult =
        new QueryBench(spark, args("analytics_mix"), Seq("q5_nation_revenue"),
          _.map { case (q, r) => q -> f(r) }).run()
      def failedQueries(r: RunResult) =
        r.ops.filter(o => !o.ok && o.name.startsWith("query:")).size
      val queryOk = queryRun(identity)
      check("analytics_mix run: a cold and a warm query, both pass")(
        queryOk.ops.count(_.name.startsWith("query:")) == 2 && queryOk.failedOps == 0)
      val badHash = queryRun(r => r.copy(hash = r.hash.reverse))
      check("analytics_mix run: a corrupted oracle hash fails the cold query")(
        badHash.failedOps == 1 && failedQueries(badHash) == 1)
      check("analytics_mix run: a corrupted oracle row count fails both queries")(
        failedQueries(queryRun(r => r.copy(rows = r.rows + 1))) == 2)
    } finally spark.stop()

    if (failures.nonEmpty) {
      System.err.println(s"[selftest] ${failures.size} failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    System.err.println("[selftest] all passed")
  }
}
