package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.pipeline.HcpIntegration
import graft.sink.GraphSink
import graft.state.SnapshotStore
import graft.streaming.StreamingSync

/** Streaming variant: the same operators under foreachBatch (SURVEY §2.8),
  * driven synchronously by a file source + processAllAvailable. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("incremental sync over a document stream: create then delete") {
    val root = Files.createTempDirectory("graft-stream").toString
    val inDir = s"$root/in"; Files.createDirectories(java.nio.file.Paths.get(inDir))
    val store = new SnapshotStore(spark, s"$root/state")
    val sink = new GraphSink(spark, s"$root/graph")
    val sync = new StreamingSync(spark, store, sink)
    val spec = HcpIntegration.spec("hcp-stream", _ => null)

    val stream = spark.readStream.schema(Schemas.hcpDocument).json(inDir)
    val q = sync.start(spec, stream, s"$root/ckpt")
    try {
      // micro-batch 1: the golden document
      Files.writeString(java.nio.file.Paths.get(s"$inDir/doc1.json"),
        HcpFixture.json)
      q.processAllAvailable()
      assert(sink.readNodes("bucket").count() === 2)
      assert(sink.readEdges("creates__version__packer_build").count() === 3)

      // micro-batch 2: empty buckets → full delete flow
      Files.writeString(java.nio.file.Paths.get(s"$inDir/doc2.json"),
        HcpFixture.emptyJson)
      q.processAllAvailable()
      assert(sink.readNodes("bucket").count() === 0)
      assert(sink.readNodes("org").count() === 0)
    } finally q.stop()
  }

  test("e2e: stub HTTP endpoint → HttpJsonSource → streaming pipeline → sink, with convergence") {
    import java.nio.charset.StandardCharsets.UTF_8
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import graft.sources.{HttpJsonSource, TokenProvider}

    // --- stub API endpoint (the reference's live upstream) ---
    @volatile var docBody = HcpFixture.json
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/doc", (x: HttpExchange) => {
      val ok = Option(x.getRequestHeaders.getFirst("Authorization"))
        .contains("Bearer tok-e2e")
      val b = (if (ok) docBody else """{"error":"unauthenticated"}""")
        .getBytes(UTF_8)
      x.sendResponseHeaders(if (ok) 200 else 401, b.length)
      val os = x.getResponseBody; os.write(b); os.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/api/doc"

    val root = Files.createTempDirectory("graft-stream-e2e").toString
    val inDir = s"$root/in"; Files.createDirectories(java.nio.file.Paths.get(inDir))
    val store = new SnapshotStore(spark, s"$root/state")
    val sink = new GraphSink(spark, s"$root/graph")
    val sync = new StreamingSync(spark, store, sink)
    val spec = HcpIntegration.spec("hcp-e2e", _ => null)
    val src = new HttpJsonSource(url, Some(TokenProvider.static("tok-e2e")))

    // Ingest step: each HTTP fetch (bearer-authenticated, via the real
    // source) lands one complete snapshot as one single-line JSON file —
    // one file = one micro-batch = one snapshot (maxFilesPerTrigger=1).
    var n = 0
    def fetchSnapshot(): Unit = {
      n += 1
      Files.writeString(java.nio.file.Paths.get(s"$inDir/snap$n.json"),
        src.fetchBody().replaceAll("\n", " "))
    }

    val stream = spark.readStream.schema(Schemas.hcpDocument)
      .option("maxFilesPerTrigger", 1).json(inDir)
    val q = sync.start(spec, stream, s"$root/ckpt")
    try {
      // pass 1: create — full extract → reconcile → sink → commit →
      // convergence (SyncDriver's VERIFY raises on any unconverged key)
      fetchSnapshot()
      q.processAllAvailable()
      assert(sink.readNodes("bucket").count() === 2)
      assert(sink.readEdges("creates__version__packer_build").count() === 3)

      // pass 2: upstream update (token bump + rename) lands incrementally
      docBody = HcpFixture.json
        .replace("\"updated-at\": \"2024-06-01T00:00:00Z\"",
          "\"updated-at\": \"2024-11-01T00:00:00Z\"")
        .replace("\"name\": \"base-img\"", "\"name\": \"base-img-streamed\"")
      fetchSnapshot()
      q.processAllAvailable()
      assert(sink.readNodes("bucket")
        .filter(col("external_id") === "b1")
        .collect().head.getAs[String]("name") === "base-img-streamed")

      // pass 3: empty upstream snapshot → full delete flow
      docBody = HcpFixture.emptyJson
      fetchSnapshot()
      q.processAllAvailable()
      assert(sink.readNodes("bucket").count() === 0)
      assert(sink.readEdges("creates__version__packer_build").count() === 0)

      // explicit post-hoc convergence: committed state vs live upstream
      val lastDoc = spark.read.schema(Schemas.hcpDocument)
        .json(spark.createDataset(Seq(docBody.replaceAll("\n", " ")))(
          org.apache.spark.sql.Encoders.STRING))
      val batch = graft.operators.HcpTransforms.bucketNodes(lastDoc)
      assert(graft.operators.Reconcile.convergenceViolations(
        batch, store.read(spec.key, "buckets")) === 0)
    } finally { q.stop(); server.stop(0) }
  }

  test("windowed agg: streaming result equals batch result") {
    val root = Files.createTempDirectory("graft-wnd").toString
    val inDir = s"$root/in"; Files.createDirectories(java.nio.file.Paths.get(inDir))
    // small event file with ts as ISO strings → timestamp
    val rows = (0 until 100).map { i =>
      s"""{"ts": "2024-01-01T0${i % 10}:0${i % 6}:00Z", "event_type": "t${i % 3}", "value": ${i % 7}.5}"""
    }
    Files.writeString(java.nio.file.Paths.get(s"$inDir/ev.json"),
      rows.mkString("\n"))
    val schema = "ts TIMESTAMP, event_type STRING, value DOUBLE"
    val sync = new StreamingSync(spark, null, null)

    val batchDf = spark.read.schema(schema).json(inDir)
    val expect = sync.windowedAgg(batchDf, "ts", "event_type", "1 hour", "1 hour")
      .collect().map(_.toSeq).toSet

    val streamDf = spark.readStream.schema(schema).json(inDir)
    val agg = sync.windowedAgg(streamDf, "ts", "event_type", "1 hour", "1 hour")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("wnd_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("wnd_out").collect().map(_.toSeq).toSet
      assert(got === expect)
    } finally q.stop()
  }

  test("stream_window parity on the REAL events fixture (encoding-normalized)") {
    // The round-5 fixture regeneration re-encoded events.ts (long nanos →
    // timestamp[us]); this pins that the batch/streaming contract survives
    // ANY encoding the `tsNanos` normalizer accepts: the same windowed agg,
    // fed by readStream over the actual fixture file and normalized by the
    // same expression the batch battery uses, must reproduce the batch
    // `stream_window` query row-for-row.
    val dir = "/root/testdata/sf0.001"
    val expect = SparkEntry.queries("stream_window")(spark, dir)
      .collect().map(_.toSeq).toSet
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // FileStreamSource wants a directory — stream from a temp dir holding a
    // symlink to the (read-only) fixture file.
    val srcDir = Files.createTempDirectory("graft-fixture-wnd")
    Files.createSymbolicLink(srcDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val ev = spark.readStream.schema(schema).parquet(srcDir.toString)
      .withColumn("ts", SparkEntry.tsNanos(schema("ts").dataType))
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    val sync = new StreamingSync(spark, null, null)
    val agg = sync.windowedAgg(ev, "ts", "event_type", "1 hour", "1 hour")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("event_type"), col("n"), col("value_cents"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("fixture_wnd").start()
    try {
      q.processAllAvailable()
      val got = spark.table("fixture_wnd").collect().map(_.toSeq).toSet
      assert(got === expect)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup: duplicates within watermark dropped, state bounded") {
    val root = Files.createTempDirectory("graft-ddp").toString
    val inDir = s"$root/in"; Files.createDirectories(java.nio.file.Paths.get(inDir))
    // same key appears 3x within minutes; a second key once
    Files.writeString(java.nio.file.Paths.get(s"$inDir/ev.json"), Seq(
      """{"ts": "2024-01-01T00:00:00Z", "k": "a", "v": 1}""",
      """{"ts": "2024-01-01T00:01:00Z", "k": "a", "v": 2}""",
      """{"ts": "2024-01-01T00:02:00Z", "k": "b", "v": 3}""",
      """{"ts": "2024-01-01T00:03:00Z", "k": "a", "v": 4}""").mkString("\n"))
    val schema = "ts TIMESTAMP, k STRING, v INT"
    val sync = new StreamingSync(spark, null, null)

    val streamDf = spark.readStream.schema(schema).json(inDir)
    val q = sync.dedupStream(streamDf, "ts", Seq("k"), "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("ddp_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ddp_out").collect()
        .map(r => r.getAs[String]("k")).sorted.toSeq
      assert(got === Seq("a", "b")) // one survivor per key
    } finally q.stop()

    // batch twin: same call, plain dropDuplicates
    val batchDf = spark.read.schema(schema).json(inDir)
    assert(sync.dedupStream(batchDf, "ts", Seq("k"), "10 minutes").count() === 2)
  }

  test("streaming incremental dedup: persistent state survives batches") {
    val root = Files.createTempDirectory("graft-incd").toString
    val inDir = s"$root/in"; Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = "doc_id BIGINT, text STRING"
    val sync = new StreamingSync(spark, null, null)
    val got = scala.collection.mutable.ArrayBuffer[Long]()

    val stream = spark.readStream.schema(schema).json(inDir)
    val q = sync.startIncrementalDedup(stream, "text", "doc_id",
      s"$root/seen", s"$root/ckpt",
      emit = df => got ++= df.select("doc_id")
        .collect().map(_.getLong(0)))
    try {
      // batch 1: two distinct texts + an in-batch duplicate
      Files.writeString(java.nio.file.Paths.get(s"$inDir/b1.json"), Seq(
        """{"doc_id": 1, "text": "alpha"}""",
        """{"doc_id": 2, "text": "beta"}""",
        """{"doc_id": 3, "text": "alpha"}""").mkString("\n"))
      q.processAllAvailable()
      assert(got.sorted.toSeq === Seq(1L, 2L)) // min-id survivor per text

      // batch 2: repeats of batch-1 content dropped by PERSISTENT state;
      // new content passes
      Files.writeString(java.nio.file.Paths.get(s"$inDir/b2.json"), Seq(
        """{"doc_id": 10, "text": "alpha"}""",
        """{"doc_id": 11, "text": "gamma"}""").mkString("\n"))
      q.processAllAvailable()
      assert(got.sorted.toSeq === Seq(1L, 2L, 11L))
    } finally q.stop()

    // the seen-state is a plain AtomicTable — readable by any batch job
    val seen = new graft.state.AtomicTable(spark, s"$root/seen")
      .read(null)
    assert(seen.count() === 3) // alpha, beta, gamma
  }

  test("session window agg: streaming result equals batch result") {
    val root = Files.createTempDirectory("graft-sess").toString
    val inDir = s"$root/in"; Files.createDirectories(java.nio.file.Paths.get(inDir))
    // user u1: two bursts separated by > 30min gap; u2: one event
    Files.writeString(java.nio.file.Paths.get(s"$inDir/ev.json"), Seq(
      """{"ts": "2024-01-01T00:00:00Z", "u": "u1", "value": 1.0}""",
      """{"ts": "2024-01-01T00:10:00Z", "u": "u1", "value": 2.0}""",
      """{"ts": "2024-01-01T02:00:00Z", "u": "u1", "value": 3.0}""",
      """{"ts": "2024-01-01T00:05:00Z", "u": "u2", "value": 4.0}""").mkString("\n"))
    val schema = "ts TIMESTAMP, u STRING, value DOUBLE"
    val sync = new StreamingSync(spark, null, null)

    val batchDf = spark.read.schema(schema).json(inDir)
    val expect = sync.sessionWindowAgg(batchDf, "ts", "u", "30 minutes", "1 hour")
      .collect().map(_.toSeq).toSet
    assert(expect.size === 3) // u1 x2 sessions + u2 x1

    val streamDf = spark.readStream.schema(schema).json(inDir)
    val q = sync.sessionWindowAgg(streamDf, "ts", "u", "30 minutes", "1 hour")
      .writeStream.outputMode("complete").format("memory")
      .queryName("sess_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_out").collect().map(_.toSeq).toSet
      assert(got === expect)
    } finally q.stop()
  }

  test("stream-stream interval join: streaming result equals batch result") {
    val root = Files.createTempDirectory("graft-ij").toString
    val lDir = s"$root/l"; val rDir = s"$root/r"
    Files.createDirectories(java.nio.file.Paths.get(lDir))
    Files.createDirectories(java.nio.file.Paths.get(rDir))
    // u1: purchase at 01:00 ← clicks at 00:45 (in) and 00:20 (out of the
    // 30min band); boundary click EXACTLY at 01:00 is in (≤), 00:30 is
    // out (strict >). u2: click only → no pair.
    Files.writeString(java.nio.file.Paths.get(s"$lDir/p.json"), Seq(
      """{"ts": "2024-01-01T01:00:00Z", "u": "u1"}""",
      """{"ts": "2024-01-01T03:00:00Z", "u": "u3"}""").mkString("\n"))
    Files.writeString(java.nio.file.Paths.get(s"$rDir/c.json"), Seq(
      """{"ts": "2024-01-01T00:45:00Z", "u": "u1"}""",
      """{"ts": "2024-01-01T01:00:00Z", "u": "u1"}""",
      """{"ts": "2024-01-01T00:30:00Z", "u": "u1"}""",
      """{"ts": "2024-01-01T00:20:00Z", "u": "u1"}""",
      """{"ts": "2024-01-01T00:50:00Z", "u": "u2"}""").mkString("\n"))
    val schema = "ts TIMESTAMP, u STRING"
    val sync = new StreamingSync(spark, null, null)

    val lB = spark.read.schema(schema).json(lDir)
    val rB = spark.read.schema(schema).json(rDir)
      .withColumnRenamed("ts", "cts")
    val expect = sync.intervalJoin(lB, rB, "u", "ts", "cts",
      "30 minutes", "2 hours").collect().map(_.toSeq).toSet
    assert(expect.size === 2) // 00:45 and the ≤-boundary 01:00

    val lS = spark.readStream.schema(schema).json(lDir)
    val rS = spark.readStream.schema(schema).json(rDir)
      .withColumnRenamed("ts", "cts")
    val q = sync.intervalJoin(lS, rS, "u", "ts", "cts",
        "30 minutes", "2 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("ij_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ij_out").collect().map(_.toSeq).toSet
      assert(got === expect)
    } finally q.stop()
  }
}
