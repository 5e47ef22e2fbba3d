package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.pipeline.{HcpIntegration, SyncDriver}
import graft.sink.GraphSink
import graft.state.{AtomicTable, ModelRegistry, SnapshotStore}
import graft.streaming.{ChangeEvent, KeyedRecord, StatefulReconcile,
  StreamingSync}

/** Machine pin for the effectively-once claim (SCALING.md): a crash in
  * the two-phase window — AFTER the sink write lands, BEFORE the
  * snapshot store commits — must re-diff the same delta on restart and
  * converge through the idempotent MERGE, leaving sink state identical
  * to an uninterrupted run. Reference behavior being matched: the
  * write-then-commit contract at `recon.go:102-131` + `main.go:224-237`.
  * Pinned on the batch driver, the streaming sync (checkpoint replay),
  * and the StatefulReconcile changelog (state-store replay). */
class CrashRecoverySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** Sink whose Nth node write LANDS and then throws — the injected
    * crash sits exactly between sink write and state commit. */
  private class CrashingSink(root: String, failOnWrite: Int)
      extends GraphSink(spark, root) {
    private val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    override def applyNodeDelta(label: String, toCreate: DataFrame,
        toDelete: DataFrame): Unit = {
      super.applyNodeDelta(label, toCreate, toDelete)
      if (writes.incrementAndGet() == failOnWrite)
        throw new RuntimeException(
          "injected crash between sink write and state commit")
    }
  }

  private def tableDump(sink: GraphSink): Seq[String] =
    (Seq("bucket", "org", "project", "version", "packer_build")
      .map(l => sink.readNodes(l)) ++
      Seq("has__org__project", "has__project__bucket",
        "creates__bucket__version", "creates__version__packer_build")
        .map(sink.readEdges))
      .flatMap(_.toJSON.collect().sorted)

  test("batch driver: crash between sink write and state commit, " +
      "restart re-diffs and converges to the uninterrupted result") {
    val spec = HcpIntegration.spec("hcp-crash", s => HcpFixture.doc(s))

    // uninterrupted twin
    val rootA = Files.createTempDirectory("graft-crashA").toString
    val sinkA = new GraphSink(spark, s"$rootA/graph")
    new SyncDriver(spark, new SnapshotStore(spark, s"$rootA/state"),
      sinkA).run(spec)

    // crashed run: first node function's write lands, nothing commits
    val rootB = Files.createTempDirectory("graft-crashB").toString
    val store = new SnapshotStore(spark, s"$rootB/state")
    val crashing = new CrashingSink(s"$rootB/graph", failOnWrite = 1)
    val boom = intercept[RuntimeException] {
      new SyncDriver(spark, store, crashing).run(spec)
    }
    assert(boom.getMessage.contains("injected crash"))
    // the torn window is real: the sink holds the write, state does not
    assert(crashing.readNodes("bucket").count() === 2)
    assert(store.read("hcp-crash", "buckets").count() === 0)

    // restart with a healthy driver over the SAME sink root and store:
    // the un-committed function re-diffs its full delta (state is still
    // empty) and the idempotent MERGE absorbs the replayed write; the
    // in-driver convergence check (VERIFY, always on) asserts the second
    // diff is empty for every function
    val healed = new GraphSink(spark, s"$rootB/graph")
    val r = new SyncDriver(spark, store, healed).run(spec)
    assert(r("buckets") === ((2L, 0L)), "replayed delta must re-apply")
    assert(tableDump(healed) === tableDump(sinkA),
      "post-recovery sink state must equal the uninterrupted run")

    // and a further pass is a no-op — fully converged
    val r2 = new SyncDriver(spark, store, healed).run(spec)
    Seq("buckets", "orgs", "projects", "version", "packer_build")
      .foreach(fn => assert(r2(fn) === ((0L, 0L)), s"fn=$fn"))
  }

  import HcpFixture.churnJson

  /** Counts the writes of a sink and store pair and throws right after
    * write `crashAt` lands (0: never); `kinds` names each landed write. */
  private final class Writes(crashAt: Int) {
    val kinds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def landed(kind: String): Unit = {
      kinds.add(kind)
      if (kinds.size == crashAt)
        throw new RuntimeException(s"injected crash after write $crashAt")
    }
  }

  private def countedDriver(root: String, w: Writes): SyncDriver = {
    val store = new SnapshotStore(spark, s"$root/state") {
      override def commit(integration: String, function: String,
          postImage: DataFrame, partitions: Int): Unit = {
        super.commit(integration, function, postImage, partitions)
        w.landed("state commit")
      }
    }
    val sink = new GraphSink(spark, s"$root/graph") {
      override def applyNodeDelta(label: String, toCreate: DataFrame,
          toDelete: DataFrame): Unit = {
        super.applyNodeDelta(label, toCreate, toDelete)
        w.landed("node apply")
      }
      override def detachEdges(relType: String, deletedA: DataFrame,
          deletedB: DataFrame): Unit = {
        super.detachEdges(relType, deletedA, deletedB)
        w.landed("detach")
      }
      override def mergeEdges(relType: String, edges: DataFrame,
          labelA: String, labelB: String): Unit = {
        super.mergeEdges(relType, edges, labelA, labelB)
        w.landed("edge write")
      }
      override def applyEdgeDelta(relType: String, toCreate: DataFrame,
          deletePairs: DataFrame, labelA: String, labelB: String,
          alreadyResolved: Boolean): Unit = {
        super.applyEdgeDelta(relType, toCreate, deletePairs, labelA, labelB,
          alreadyResolved)
        w.landed("edge write")
      }
    }
    new SyncDriver(spark, store, sink)
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally walk.close()
  }

  test("churn pass with node deletes: a crash right after any one write " +
      "lands (each DETACH, node apply, state commit and edge write), then " +
      "a restart on the same document, ends with the uninterrupted run's " +
      "graph and state") {
    def spec(body: String) =
      HcpIntegration.spec("hcp-churn-crash", s => HcpFixture.doc(s, body))
    def dump(root: String): Seq[String] = {
      val store = new SnapshotStore(spark, s"$root/state")
      tableDump(new GraphSink(spark, s"$root/graph")) ++
        spec(churnJson).functions.flatMap(fn =>
          store.read("hcp-churn-crash", fn.name).toJSON.collect().sorted
            .map(s"${fn.name} " + _))
    }

    // the full load, shared by every crashed run as a copied directory
    val loaded = Files.createTempDirectory("graft-churn-load").toString
    countedDriver(loaded, new Writes(0)).run(spec(HcpFixture.json))

    // the uninterrupted churn pass, counting its writes
    val twin = Files.createTempDirectory("graft-churn-twin").toString
    copyTree(loaded, twin)
    val all = new Writes(0)
    countedDriver(twin, all).run(spec(churnJson))
    val kinds = all.kinds.toArray(Array.empty[String]).toSeq
    assert(Set("detach", "node apply", "state commit", "edge write")
      .subsetOf(kinds.toSet), s"writes of the churn pass: $kinds")
    val want = dump(twin)

    for (k <- 1 to kinds.size) {
      val root = Files.createTempDirectory(s"graft-churn-crash$k").toString
      copyTree(loaded, root)
      val boom = intercept[RuntimeException] {
        countedDriver(root, new Writes(k)).run(spec(churnJson))
      }
      assert(boom.getMessage === s"injected crash after write $k")
      countedDriver(root, new Writes(0)).run(spec(churnJson))
      assert(dump(root) === want, s"restart after a crash at write $k " +
        s"(${kinds(k - 1)}) of $kinds")
    }
  }

  test("streaming sync: crash inside foreachBatch, restart from the " +
      "checkpoint replays the batch and converges") {
    val spec = HcpIntegration.spec("hcp-scrash", s => HcpFixture.doc(s))

    // uninterrupted BATCH twin for the equality check
    val rootA = Files.createTempDirectory("graft-scrashA").toString
    val sinkA = new GraphSink(spark, s"$rootA/graph")
    new SyncDriver(spark, new SnapshotStore(spark, s"$rootA/state"),
      sinkA).run(spec)

    val rootB = Files.createTempDirectory("graft-scrashB").toString
    val inDir = s"$rootB/in"; Files.createDirectories(Paths.get(inDir))
    Files.writeString(Paths.get(s"$inDir/snap0.json"), HcpFixture.json)
    val store = new SnapshotStore(spark, s"$rootB/state")
    def docStream = spark.readStream
      .schema(graft.model.Schemas.hcpDocument).json(inDir)

    // run 1: the sink write lands, then the injected crash fails the
    // micro-batch BEFORE the store commit and before Spark commits the
    // batch to the checkpoint
    val crashing = new CrashingSink(s"$rootB/graph", failOnWrite = 1)
    val q1 = new StreamingSync(spark, store, crashing)
      .start(spec, docStream, s"$rootB/ckpt")
    val boom = intercept[Exception] { q1.processAllAvailable() }
    assert(boom.getMessage.contains("injected crash")
      || Option(boom.getCause).exists(
        _.getMessage.contains("injected crash")))
    q1.stop()
    assert(crashing.readNodes("bucket").count() === 2,
      "the crashed batch's first write must have landed")
    assert(store.read("hcp-scrash", "buckets").count() === 0)

    // run 2: same checkpoint, healthy sink — Spark replays the
    // uncommitted batch, the re-diff re-applies, MERGE absorbs
    val healed = new GraphSink(spark, s"$rootB/graph")
    val q2 = new StreamingSync(spark, store, healed)
      .start(spec, docStream, s"$rootB/ckpt")
    try q2.processAllAvailable() finally q2.stop()
    assert(tableDump(healed) === tableDump(sinkA),
      "post-recovery sink state must equal the uninterrupted batch run")
    assert(graft.operators.Reconcile.convergenceViolations(
      spec.functions.find(_.name == "buckets").get
        .transform(HcpFixture.doc(spark)),
      store.read("hcp-scrash", "buckets")) === 0L)
  }

  test("StatefulReconcile changelog: crash after the idempotent sink " +
      "write, restart replays the micro-batch from the state-store " +
      "checkpoint; keyed state survives into the next batch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-twscrash").toString
    val inDir = s"$root/in"; Files.createDirectories(Paths.get(inDir))
    val applied = new AtomicTable(spark, s"$root/applied")
    val appliedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("external_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("hash",
        org.apache.spark.sql.types.LongType)))

    // idempotent MERGE: last-write-wins upsert for creates, key removal
    // for deletes — replaying the same event batch is a no-op
    def mergeEvents(batch: Dataset[ChangeEvent]): Unit = {
      val cur = applied.read(appliedSchema)
      val creates = batch.filter(col("op") === "create")
        .select(col("external_id"), col("hash")).dropDuplicates(
          "external_id")
      val deletes = batch.filter(col("op") === "delete")
        .select(col("external_id"))
      applied.commit(cur
        .join(deletes, Seq("external_id"), "left_anti")
        .join(creates.select("external_id"), Seq("external_id"),
          "left_anti")
        .unionByName(creates))
    }

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    try {
      val schema = "external_id STRING, token STRING, tombstone BOOLEAN"
      def events = StatefulReconcile.changelogTws(
        spark.readStream.schema(schema).json(inDir).as[KeyedRecord])

      // run 1: sink write lands, THEN the batch fails — Spark never
      // commits batch 0, the state store version is discarded
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val q1 = events.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: Dataset[ChangeEvent], _: Long) =>
          mergeEvents(b)
          if (!crashed.getAndSet(true))
            throw new RuntimeException("injected crash after sink write")
        }.start()
      Files.writeString(Paths.get(s"$inDir/b1.json"),
        """{"external_id":"a","token":"t1","tombstone":false}
          |{"external_id":"b","token":"t1","tombstone":false}""".stripMargin)
      val boom = intercept[Exception] { q1.processAllAvailable() }
      assert(boom.getMessage.contains("injected crash")
        || Option(boom.getCause).exists(
          _.getMessage.contains("injected crash")))
      q1.stop()
      assert(applied.read(appliedSchema).count() === 2,
        "the crashed batch's sink write must have landed")

      // run 2: same checkpoint, healthy sink — batch 0 replays, the
      // idempotent merge absorbs the duplicate events
      val q2 = events.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: Dataset[ChangeEvent], _: Long) =>
          mergeEvents(b)
        }.start()
      try {
        q2.processAllAvailable()
        val afterReplay = applied.read(appliedSchema)
          .as[(String, Long)].collect().toMap
        assert(afterReplay === Map(
          "a" -> graft.functions.Crc32Q.computeUtf8("t1"),
          "b" -> graft.functions.Crc32Q.computeUtf8("t1")))

        // batch 2 proves the keyed state survived the crash-restart:
        // unchanged `a` emits NOTHING (its stored hash matched), `b`
        // re-emits with the new hash, tombstoned `a` deletes
        Files.writeString(Paths.get(s"$inDir/b2.json"),
          """{"external_id":"b","token":"t2","tombstone":false}
            |{"external_id":"a","token":"","tombstone":true}""".stripMargin)
        q2.processAllAvailable()
        val afterB2 = applied.read(appliedSchema)
          .as[(String, Long)].collect().toMap
        assert(afterB2 === Map(
          "b" -> graft.functions.Crc32Q.computeUtf8("t2")))
      } finally q2.stop()
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  // ------------------------------------------------------------------
  // The STREAMING CURATION CHAIN under the same two-phase window: kill
  // the micro-batch AFTER the survivor write lands, BEFORE Spark
  // commits the batch to the checkpoint; restart must replay the batch
  // from the pre-batch state-store version (line_dedup's keyed state
  // carried from batch 0, not the torn batch 1) and converge through
  // the idempotent per-batch overwrite — survivor set equal to an
  // uninterrupted run of the same chain over the same batches.
  // ------------------------------------------------------------------

  test("mixed curation chain: crash mid-micro-batch after the sink " +
      "write, restart from checkpoint — survivors equal the " +
      "uninterrupted run") {
    import spark.implicits._
    import graft.operators.{NaiveBayes, TextAnalysis}
    import graft.pipeline.SpecLoader

    // frozen artifacts: the five-stage fixture's recipe (classifier
    // keeps de/en, junk alphabet predicts fr; LM floor kills OOV text)
    val nbcTrain = Seq(
      (100L, "en", "the cat sat on the mat and slept all day long"),
      (102L, "en", "a dog ran over the hill and far away it went"),
      (104L, "de", "der hund und die katze schlafen auf dem teppich"),
      (106L, "de", "die katze sitzt auf der matte und schlaeft jetzt"),
      (108L, "fr", "zzq wwq vvq uuq ttq ssq rrq qqq ppq ooq"),
      (110L, "fr", "qqz wwz vvz uuz ttz ssz rrz zzz ppz ooz")
    ).toDF("doc_id", "lang", "text")
    val boiler = "breaking news update follows"
    val lmTrain = Seq(
      (0L, "the cat sat on the mat and then the cat slept"),
      (2L, "the cat sat on the mat and the dog sat too"),
      (4L, "a dog ran over the hill and far away it went"),
      (6L, "der hund und die katze schlafen auf dem teppich hier"),
      (8L, s"$boiler the cat and the dog today")
    ).toDF("doc_id", "text")
    val reg = new ModelRegistry(spark,
      Files.createTempDirectory("graft-chaincrash-m").toString)
    NaiveBayes.nbcPublishModel(nbcTrain, "text", "lang", reg, "nbc")
    TextAnalysis.kn3PublishModel(lmTrain, "text", "doc_id", reg, "lm")
    val frozenNbc = NaiveBayes.nbcFreeze(NaiveBayes.nbcFromRegistry(
      reg.snapshot("nbc")))
    val frozenLm = TextAnalysis.kn3Freeze(TextAnalysis.kn3FromRegistry(
      reg.snapshot("lm")))

    // batch 0: the boilerplate line enters line_dedup state via doc 1
    val batch0 = Seq(
      (1L, s"$boiler the cat sat on the mat and slept all day long", "en"),
      (2L, "the cat sat on the mat and the dog sat too", "en"),
      (3L, "zzq wwq vvq uuq ttq ssq rrq qqq ppq ooq nnq mmq", "en"),
      (4L, "a dog ran over the hill and far away it went", "de"))
    // batch 1 (the crashed batch): doc 6 is ONLY the boilerplate line —
    // it survives iff the replay restored batch-0 line state correctly
    val batch1 = Seq(
      (6L, s"$boiler $boiler", "en"),
      (7L, "der hund und die katze schlafen auf dem teppich hier", "de"),
      (8L, "the cat sat on the mat and the dog sat too", "fr"),
      (9L, "a dog ran over the hill and then came back home", "en"))
    val rates = Map("en" -> 700000L, "de" -> 1000000L)
    val chainJson =
      s"""{"name": "crash_chain", "steps": [
         |  {"op": "normalize", "col": "text"} ] }""".stripMargin
    val normalize = SpecLoader.stagesFromJson(chainJson).head
    val stageSeq: Seq[(String, DataFrame => DataFrame)] = Seq(
      normalize,
      ("lang_gate", (d: DataFrame) => graft.streaming
        .StreamingClassifierGate.gate(d, "text", frozenNbc,
          Set("de", "en"))),
      ("line_dedup", (d: DataFrame) => graft.streaming
        .StatefulDocLineDedup.stage(d, "text", "doc_id", 4, 1)),
      ("lm_apply", (d: DataFrame) => graft.streaming.StreamingLmGate
        .gate(d, "text", frozenLm, -10000L)),
      ("mixture_resample", (d: DataFrame) => TextAnalysis
        .mixtureApplyRatesPpm(d, col("lang"), col("doc_id"), rates)))
    def chained(d: DataFrame): DataFrame =
      stageSeq.foldLeft(d) { case (x, (_, f)) => f(x) }

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      /** Run the chain over the two batches; `crash` injects one
        * failure AFTER batch 1's survivor write, then restarts from
        * the same checkpoint. Returns the final survivor ids. */
      def runChain(tag: String, crash: Boolean): Set[Long] = {
        val root = Files.createTempDirectory(s"graft-chaincrash-$tag")
          .toString
        val inDir = s"$root/in"; Files.createDirectories(Paths.get(inDir))
        val outDir = s"$root/out"
        val armed = new java.util.concurrent.atomic.AtomicBoolean(crash)
        def start() = {
          val stream = spark.readStream
            .schema("doc_id LONG, text STRING, lang STRING").json(inDir)
          chained(stream).writeStream.outputMode("append")
            .option("checkpointLocation", s"$root/ckpt")
            .foreachBatch {
              (df: Dataset[org.apache.spark.sql.Row], id: Long) =>
                // the survivor write lands FIRST (idempotent per-batch
                // overwrite), THEN the injected crash fails the batch
                // before the checkpoint commit — the two-phase window
                df.select("doc_id", "text", "lang").write
                  .mode("overwrite").parquet(s"$outDir/batch-$id")
                if (id == 1L && armed.getAndSet(false))
                  throw new RuntimeException("injected crash")
            }.start()
        }
        Files.writeString(Paths.get(s"$inDir/b0.json"),
          batch0.toDF("doc_id", "text", "lang").toJSON.collect()
            .mkString("\n"))
        val q1 = start()
        q1.processAllAvailable() // batch 0 always succeeds
        Files.writeString(Paths.get(s"$inDir/b1.json"),
          batch1.toDF("doc_id", "text", "lang").toJSON.collect()
            .mkString("\n"))
        if (crash) {
          val boom = intercept[Exception](q1.processAllAvailable())
          assert(boom.getMessage.contains("injected crash") ||
            Option(boom.getCause).exists(
              _.getMessage.contains("injected crash")))
          q1.stop()
          // the torn batch's write DID land — the crash sits between
          // sink write and checkpoint commit
          assert(Files.exists(Paths.get(s"$outDir/batch-1")))
          val q2 = start() // same checkpoint, crash disarmed
          try q2.processAllAvailable() finally q2.stop()
        } else {
          try q1.processAllAvailable() finally q1.stop()
        }
        spark.read.parquet(s"$outDir/batch-*").select("doc_id")
          .as[Long].collect().toSet
      }

      val clean = runChain("clean", crash = false)
      val recovered = runChain("crash", crash = true)
      assert(recovered === clean,
        "post-recovery survivors must equal the uninterrupted run")
      // the fixture exercised the stages across the crash boundary:
      // junk doc 3 died at the classifier, fr doc 8 at the mixture,
      // and doc 6 — boilerplate-only, deduped against BATCH-0 state —
      // proves the replayed batch restored the pre-crash state version
      assert(!clean.contains(3L) && !clean.contains(8L) &&
        !clean.contains(6L))
      assert(clean.contains(7L) && clean.contains(4L))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
}
