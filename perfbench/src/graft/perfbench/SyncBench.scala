package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Schemas
import graft.pipeline.{FunctionSpec, HcpIntegration, IntegrationSpec, SyncDriver}
import graft.sink.GraphSink
import graft.sources.HttpJsonSource
import graft.state.SnapshotStore

/** The `sync_steady` workload: `SyncDriver.run` with its defaults over
  * `HcpIntegration.spec`, fetching the generated document from an
  * in-process HTTP server through `HttpJsonSource`. An untimed full load
  * of `buckets` buckets, then a closed loop of passes that each apply
  * about 1 % churn (0.5 % of buckets get a new version, 0.25 % vanish,
  * 0.25 % are new). The timed op is one pass. One client, one pass at a
  * time.
  *
  * The checks compare against `expectCounts` of the model's counts and
  * `expectGraph` of the model's graph; both are the identity except in the
  * self-test, which corrupts them to show that a wrong expectation fails
  * the run. */
final class SyncBench(spark: SparkSession, a: Args,
    buckets: Int = SyncBench.Buckets,
    expectCounts: SyncBench.Counts => SyncBench.Counts = identity,
    expectGraph: Graph => Graph = identity) {
  import SyncBench._

  private val res = new RunResult(a)
  private val gen = new HcpGen(a.seed)
  private val root = new File(a.workDir, "sync")
  private val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
  private val listener = tracer.map(_ => new JobListener)

  private var batchRows = 0L
  private var deltaRows = 0L
  private val passWall = ArrayBuffer.empty[Double]
  private var tracedDeltaRows = 0L

  private val server = new DocServer

  def run(): RunResult = {
    Main.deleteTree(root)
    try loop() finally {
      server.close()
      Main.deleteTree(root)
    }
    res
  }

  private def loop(): Unit = {
    val stateRoot = new File(root, "state").getPath
    val graphRoot = new File(root, "graph").getPath
    val plainDriver = new SyncDriver(spark,
      new SnapshotStore(spark, stateRoot), new GraphSink(spark, graphRoot))
    val plainSpec = spec(server.url, None)
    val traced = tracer.map { t =>
      (new SyncDriver(spark, new TracedStore(spark, stateRoot, t),
        new TracedSink(spark, graphRoot, t)), spec(server.url, Some(t)))
    }
    listener.foreach(spark.sparkContext.addSparkListener)

    val n = buckets
    var doc = Vector.empty[Bucket]
    var graph = HcpGen.emptyGraph

    /** One `SyncDriver.run` of `next`; a per-function count that differs
      * from `expect` of the model's is added to `mismatches`. */
    def pass(next: Vector[Bucket], useTrace: Boolean,
        mismatches: ArrayBuffer[String], expect: Counts => Counts): Unit = {
      server.serve(HcpGen.json(next))
      val nextGraph = HcpGen.graph(next)
      val expected = expect(HcpGen.expectedCounts(graph, next, nextGraph))
      val rows = HcpGen.batchRows(next)
      val delta = HcpGen.deltaRows(graph, nextGraph)
      val t0 = System.nanoTime()
      val got = (traced, tracer) match {
        case (Some((d, s)), Some(t)) if useTrace =>
          t.operation("pass")(d.run(s))
        case _ => plainDriver.run(plainSpec)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (got != expected) mismatches += s"counts $got != expected $expected"
      doc = next
      graph = nextGraph
      batchRows += rows
      deltaRows += delta
      passWall += wall
      if (useTrace) tracedDeltaRows += delta
    }

    def checkGraph(op: Op): Unit =
      graphMismatches(new GraphSink(spark, graphRoot), expectGraph(graph))
        .foreach(res.fail(op, _))

    val setupMismatch = ArrayBuffer.empty[String]
    pass(gen.initial(n), useTrace = false, setupMismatch, identity)
    require(setupMismatch.isEmpty, s"full load: ${setupMismatch.mkString}")
    batchRows = 0; deltaRows = 0; passWall.clear()
    res.setupEndEpochMs = System.currentTimeMillis().toDouble
    Main.resetHeapPeak()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    // a traced run alternates traced and plain passes, so it needs two;
    // the seed picks which comes first
    val minOps = if (a.trace) 2 else 1
    val tracedParity = if (new scala.util.Random(a.seed).nextBoolean()) 0 else 1
    var probe = Main.cpuProbeNanos()
    while (res.ops.size < minOps || System.nanoTime() < deadline) {
      val useTrace = a.trace && res.ops.size % 2 == tracedParity
      val mismatches = ArrayBuffer.empty[String]
      val (op, after) = Main.timed(s"pass${res.ops.size}", useTrace, probe) {
        pass(gen.churn(doc, replace = (n * 0.005).round.toInt,
          remove = (n * 0.0025).round.toInt, add = (n * 0.0025).round.toInt),
          useTrace, mismatches, expectCounts)
        true
      }
      // the op's wall is the pass's wall alone: generating and serving the
      // document are not the engine's work
      val timedOp = op.copy(wall = passWall.last)
      mismatches.foreach(m => res.fail(timedOp, m))
      res.ops += timedOp
      probe = after
    }
    res.detail += "heap_peak_mb" -> (Main.heapPeakMb(), "MB")
    res.ops.lastOption.foreach(checkGraph)
    metrics()
  }

  private def metrics(): Unit = {
    val plain = res.ops.filterNot(_.traced)
    val base = if (plain.nonEmpty) plain else res.ops
    val opWalls = base.map(_.wall).toSeq
    val passes = passWall.toSeq
    res.endToEnd ++= Seq(
      "op_s_p50" -> (Main.quantile(opWalls, 0.5), "s"),
      "ops_per_s" -> (base.size / opWalls.sum, "1/s"))
    res.detail ++= Seq(
      "pass_s_p50" -> (Main.quantile(passes, 0.5), "s"),
      "passes" -> (passes.size.toDouble, "count"),
      "rows_per_s" -> (batchRows / passes.sum, "rows/s"),
      "delta_rows_per_s" -> (deltaRows / passes.sum, "rows/s"),
      "failed_ratio" -> (res.ops.count(!_.ok).toDouble / res.ops.size, "ratio"))
    for (t <- tracer; l <- listener) {
      spark.sparkContext.removeSparkListener(l)
      val tracedOps = res.ops.filter(_.traced)
      res.perLayer ++= Layers.metrics(spark.sparkContext, t, l, _ == "pass",
        tracedDeltaRows,
        docBytes = server.bytesServed.get.toDouble / server.fetches.get.max(1L),
        gcS = tracedOps.map(_.gcMs).sum / 1000.0)
      res.perLayer ++= Layers.overhead(res.ops.toSeq)
    }
  }
}

object SyncBench {

  /** `HcpIntegration.spec` over the HTTP source at `url`; with a tracer,
    * the load and every transform are wrapped to mark spans. */
  def spec(url: String, tr: Option[Tracer]): IntegrationSpec = {
    val load = HttpJsonSource.loader(url, schema = Some(Schemas.hcpDocument))
    val plain = HcpIntegration.spec("hcp", load)
    tr.fold(plain) { t =>
      plain.copy(
        load = s => t.call("sources.fetch")(load(s)),
        functions = plain.functions.map(f => FunctionSpec(f.name, f.kind,
          (doc: DataFrame) => { t.enterFunction(f.name); f.transform(doc) })))
    }
  }

  /** How the sink's node and edge tables differ from `graph`, compared by
    * order-independent fingerprints; empty when they match. */
  def graphMismatches(sink: GraphSink, graph: Graph): Seq[String] = {
    val nodes = HcpGen.nodeFunctions.flatMap { case (_, label) =>
      val got = HcpGen.fingerprint(sink.readNodes(label).collect().iterator
        .map(r => HcpGen.nodeRow(r.schema.fieldNames.toSeq.sorted
          .map(c => c -> String.valueOf(r.getAs[Any](c))))))
      val want = HcpGen.fingerprint(graph.nodes(label).valuesIterator
        .map(HcpGen.nodeRow))
      if (got != want) Some(s"node table $label $got != model $want") else None
    }
    val edges = HcpGen.relationFunctions.flatMap { case (_, table) =>
      val got = HcpGen.fingerprint(sink.readEdges(table).collect().iterator
        .map(r => HcpGen.edgeRow(r.getString(0), r.getString(1))))
      val want = HcpGen.fingerprint(graph.edges(table).iterator
        .map { case (x, y) => HcpGen.edgeRow(x, y) })
      if (got != want) Some(s"edge table $table $got != model $want") else None
    }
    nodes ++ edges
  }

  /** Expected `(created, deleted)` per function of a pass. */
  type Counts = Map[String, (Long, Long)]

  /** Buckets per document (about 1 MB, 9k nodes, 9k edges). Ten times the
    * buckets makes a pass only about 1.7 times slower (20 s against 12 s on
    * 4 cores): Spark's per-job floor dominates either way. */
  val Buckets = 2000
}
