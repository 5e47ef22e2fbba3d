package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.HcpTransforms
import graft.pipeline.{CreateNode, CreateRelation, FunctionSpec,
  HcpIntegration, IntegrationSpec, SyncDriver}
import graft.sink.GraphSink
import graft.state.SnapshotStore

/** The pipelined pass of [[SyncDriver]]: a background job carries the
  * caller's local properties as of its submission (so profiler slots and
  * trace spans charge it to the caller), none outlives a failed pass, a
  * spec that would let two functions share state is refused up front,
  * and each write of a pass is one shuffle-free Spark job whenever its
  * delta fits on the driver. */
class SyncPassSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def tempRoot() = Files.createTempDirectory("graft-pass").toString

  test("a spec declaring one function name twice is rejected, naming it, " +
      "before its source is read") {
    val loaded = new AtomicBoolean(false)
    val e = intercept[IllegalArgumentException] {
      IntegrationSpec("hcp-dup", { s => loaded.set(true); HcpFixture.doc(s) },
        Seq(
          FunctionSpec("buckets", CreateNode("bucket"), HcpTransforms.bucketNodes),
          FunctionSpec("orgs", CreateNode("org"), HcpTransforms.orgNodes),
          FunctionSpec("buckets", CreateNode("bucket"), HcpTransforms.bucketNodes)))
    }
    assert(e.getMessage.contains("buckets") && !e.getMessage.contains("orgs"),
      e.getMessage)
    assert(!loaded.get())
  }

  test("fail closed: when the first node write throws, every background " +
      "job has ended and everything pinned is unpersisted before run throws") {
    val sc = spark.sparkContext
    val tag = "sync-pass-spec"
    val starts = new ConcurrentHashMap[Int, Long]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      private def ours(e: SparkListenerJobStart) = Option(e.properties)
        .exists(p => p.getProperty(tag) != null)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e)) starts.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.time)
    }
    // the second function's diff is still running in the background when
    // the first function's write fails
    val slow = udf { (_: String) => Thread.sleep(1500); true }
    val spec = IntegrationSpec("hcp-failclosed", s => HcpFixture.doc(s), Seq(
      FunctionSpec("buckets", CreateNode("bucket"), HcpTransforms.bucketNodes),
      FunctionSpec("orgs", CreateNode("org"),
        df => HcpTransforms.orgNodes(df).filter(slow(col("external_id"))))))
    val root = tempRoot()
    val store = new SnapshotStore(spark, s"$root/state")
    val failing = new GraphSink(spark, s"$root/graph") {
      override def applyNodeDelta(label: String, toCreate: DataFrame,
          toDelete: DataFrame): Unit =
        throw new RuntimeException("injected sink failure")
    }
    val pinned0 = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "on")
    val thrownAt = try {
      val e = intercept[RuntimeException] {
        new SyncDriver(spark, store, failing).run(spec)
      }
      assert(e.getMessage === "injected sink failure")
      System.currentTimeMillis()
    } finally sc.setLocalProperty(tag, null)
    Thread.sleep(500)
    GraftSqlBridge.drainListenerBus(sc, 60000L)
    sc.removeSparkListener(listener)

    assert(!starts.isEmpty)
    starts.asScala.foreach { case (job, start) =>
      assert(start <= thrownAt, s"job $job started after run threw")
      assert(ends.containsKey(job) && ends.get(job) <= thrownAt,
        s"job $job outlived the pass")
    }
    assert(sc.getPersistentRDDs.keySet === pinned0)
    assert(store.read("hcp-failclosed", "buckets").count() === 0)
    assert(store.read("hcp-failclosed", "orgs").count() === 0)
  }

  test("a background job carries the caller's local properties as of its " +
      "submission, not as of its pool thread's start") {
    val sc = spark.sparkContext
    val key = "sync-pass-spec.at"
    val seen = ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(seen.add)
    }
    // as perfbench's tracer does: each state read names itself in a local
    // property (`<function>#<n>`, n = 2 for the convergence check's read),
    // and each write overwrites it
    val root = tempRoot()
    val reads = scala.collection.mutable.Map.empty[String, Int]
    val store = new SnapshotStore(spark, s"$root/state") {
      override def read(integration: String, function: String): DataFrame = {
        reads(function) = reads.getOrElse(function, 0) + 1
        sc.setLocalProperty(key, s"$function#${reads(function)}")
        super.read(integration, function)
      }
      override def commit(integration: String, function: String,
          postImage: DataFrame, partitions: Int): Unit = {
        sc.setLocalProperty(key, "write")
        super.commit(integration, function, postImage, partitions)
      }
    }
    val sink = new GraphSink(spark, s"$root/graph") {
      override def applyNodeDelta(label: String, toCreate: DataFrame,
          toDelete: DataFrame): Unit = {
        sc.setLocalProperty(key, "write")
        super.applyNodeDelta(label, toCreate, toDelete)
      }
      override def mergeEdges(relType: String, edges: DataFrame,
          labelA: String, labelB: String): Unit = {
        sc.setLocalProperty(key, "write")
        super.mergeEdges(relType, edges, labelA, labelB)
      }
    }
    sc.addSparkListener(listener)
    try new SyncDriver(spark, store, sink)
      .run(HcpIntegration.spec("hcp-props", s => HcpFixture.doc(s)))
    finally {
      sc.setLocalProperty(key, null)
      GraftSqlBridge.drainListenerBus(sc, 60000L)
      sc.removeSparkListener(listener)
    }
    // only a convergence check is submitted between a function's second
    // read and the next write
    Seq("buckets", "orgs", "projects", "version", "packer_build").foreach(f =>
      assert(seen.contains(s"$f#2"), s"no check job of $f carries its read: $seen"))
  }

  test("a pass inside a profiler slot charges every job to the slot, " +
      "background jobs included") {
    val sc = spark.sparkContext
    val profile = Profile.install(spark)
    val group = "sync-pass-spec:profile"
    val seen = new AtomicLong
    val groupCounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group)) seen.incrementAndGet()
    }
    val root = tempRoot()
    val driver = new SyncDriver(spark, new SnapshotStore(spark, s"$root/state"),
      new GraphSink(spark, s"$root/graph"))
    val spec = HcpIntegration.spec("hcp-profile", s => HcpFixture.doc(s))
    sc.addSparkListener(groupCounter)
    profile.drain()
    val (jobs0, unattributed0) = (profile.record("sync").jobs,
      profile.unattributedJobs)
    var created = 0L
    try {
      sc.setJobGroup(group, "sync pass")
      try profile.slot("sync") {
        created = driver.run(spec).values.map(_._1).sum
        Some(created)
      } finally sc.clearJobGroup()
    } finally {
      profile.drain()
      sc.removeSparkListener(groupCounter)
    }

    val rec = profile.record("sync")
    assert(created > 0 && rec.rows === Some(created))
    assert(seen.get > 0)
    assert(rec.jobs - jobs0 === seen.get)
    assert(profile.unattributedJobs === unattributed0)
  }

  private val WriteKey = "sync-pass-spec.write"

  /** A sink and store whose every write runs under the local property
    * [[WriteKey]] = `<kind> <table>#<n>`; `writes` lists them in order. */
  private final class TaggedWrites(root: String) {
    private val sc = spark.sparkContext
    val writes = scala.collection.mutable.ArrayBuffer.empty[String]
    private def tagged(name: String)(body: => Unit): Unit = {
      writes += s"$name#${writes.size}"
      sc.setLocalProperty(WriteKey, writes.last)
      try body finally sc.setLocalProperty(WriteKey, null)
    }
    private val store = new SnapshotStore(spark, s"$root/state") {
      override def commit(integration: String, function: String,
          postImage: DataFrame, partitions: Int): Unit =
        tagged(s"state.commit $function")(
          super.commit(integration, function, postImage, partitions))
    }
    private val sink = new GraphSink(spark, s"$root/graph") {
      override def applyNodeDelta(label: String, toCreate: DataFrame,
          toDelete: DataFrame): Unit =
        tagged(s"sink.node_apply $label")(
          super.applyNodeDelta(label, toCreate, toDelete))
      override def detachEdges(relType: String, deletedA: DataFrame,
          deletedB: DataFrame): Unit =
        tagged(s"sink.detach $relType")(
          super.detachEdges(relType, deletedA, deletedB))
      override def applyEdgeDelta(relType: String, toCreate: DataFrame,
          deletePairs: DataFrame, labelA: String, labelB: String,
          alreadyResolved: Boolean): Unit =
        tagged(s"sink.edge_apply $relType")(super.applyEdgeDelta(relType,
          toCreate, deletePairs, labelA, labelB, alreadyResolved))
    }
    val driver = new SyncDriver(spark, store, sink)
  }

  /** Runs `body`; returns, per write tag, the stage count of each job
    * that ran under it. */
  private def jobsPerWrite(body: => Unit): Map[String, Seq[Int]] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[Int, (String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(WriteKey)))
          .foreach(w => jobs.put(e.jobId, (w, e.stageInfos.size)))
    }
    sc.addSparkListener(listener)
    try body finally {
      GraftSqlBridge.drainListenerBus(sc, 60000L)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.values.toSeq.groupMap(_._1)(_._2)
  }

  private def hcp(name: String, body: String): IntegrationSpec =
    HcpIntegration.spec(name, s => HcpFixture.doc(s, body))

  /** Every node, edge and state table of an HCP pass under `root`. */
  private def tables(root: String, spec: IntegrationSpec): Seq[DataFrame] = {
    val sink = new GraphSink(spark, s"$root/graph")
    val store = new SnapshotStore(spark, s"$root/state")
    Seq("bucket", "org", "project", "version", "packer_build")
      .map(l => sink.readNodes(l)) ++
      Seq("has__org__project", "has__project__bucket",
        "creates__bucket__version", "creates__version__packer_build")
        .map(sink.readEdges) ++
      spec.functions.map(fn => store.read(spec.key, fn.name))
  }

  /** [[tables]] as sorted JSON lines. */
  private def dump(root: String, spec: IntegrationSpec): Seq[String] =
    tables(root, spec).map(_.toJSON.collect().sorted.mkString("\n"))

  test("each sink and store write of a churn pass runs exactly one Spark " +
      "job, with no shuffle stage, and no table gains files pass by pass") {
    val root = tempRoot()
    val w = new TaggedWrites(root)
    w.driver.run(hcp("hcp-onejob", HcpFixture.json))
    Seq(HcpFixture.churnJson, HcpFixture.json).foreach { body =>
      val from = w.writes.size
      val jobs = jobsPerWrite(w.driver.run(hcp("hcp-onejob", body)))
      val churn = w.writes.drop(from).toSeq
      Seq("sink.detach", "sink.node_apply", "state.commit", "sink.edge_apply")
        .foreach(kind => assert(churn.exists(_.startsWith(kind)),
          s"no $kind among $churn"))
      churn.foreach(write => assert(jobs.get(write) === Some(Seq(1)),
        s"$write ran jobs of ${jobs.get(write)} stages"))
    }
    tables(root, hcp("hcp-onejob", HcpFixture.json)).foreach(t =>
      assert(t.inputFiles.length <= 1, t.inputFiles.mkString(", ")))
  }

  test("with the broadcast threshold off, the same churn passes take the " +
      "join path and leave graph and state identical") {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    def passes(off: Boolean): (Seq[String], Map[String, Seq[Int]]) = {
      val root = tempRoot()
      val w = new TaggedWrites(root)
      val spec = hcp("hcp-fork", HcpFixture.json)
      val prev = spark.conf.getOption(threshold)
      if (off) spark.conf.set(threshold, "-1")
      val jobs = try jobsPerWrite {
        w.driver.run(spec)
        w.driver.run(hcp("hcp-fork", HcpFixture.churnJson))
      } finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
      (dump(root, spec), jobs)
    }
    val (localTables, localJobs) = passes(off = false)
    val (joinTables, joinJobs) = passes(off = true)
    assert(localJobs.values.forall(_ == Seq(1)), localJobs)
    assert(joinJobs.values.exists(_.size > 1), joinJobs)
    assert(joinTables === localTables)
  }

  test("two passthrough relations on one edge table share one write per " +
      "pass and leave no duplicate pair") {
    def specWith(body: String, twice: Boolean): IntegrationSpec = {
      val plain = hcp("hcp-shared", body)
      if (!twice) plain
      else plain.copy(functions = plain.functions :+ FunctionSpec(
        "project_bucket_again", CreateRelation("has", "project", "bucket"),
        HcpTransforms.projectBucketEdges))
    }
    val twinRoot = tempRoot()
    val twin = new SyncDriver(spark, new SnapshotStore(spark, s"$twinRoot/state"),
      new GraphSink(spark, s"$twinRoot/graph"))
    val root = tempRoot()
    val w = new TaggedWrites(root)
    val edges = new GraphSink(spark, s"$root/graph")
    Seq(HcpFixture.json, HcpFixture.churnJson).foreach { body =>
      val from = w.writes.size
      val r = w.driver.run(specWith(body, twice = true))
      twin.run(specWith(body, twice = false))
      assert(w.writes.drop(from)
        .count(_.startsWith("sink.edge_apply has__project__bucket")) === 1)
      assert(r("project_bucket_again") === r("project_bucket"))
      val pairs = edges.readEdges("has__project__bucket").collect()
        .map(p => (p.getString(0), p.getString(1))).toSeq
      assert(pairs.size === pairs.distinct.size, pairs)
      assert(dump(root, specWith(body, twice = false)) ===
        dump(twinRoot, specWith(body, twice = false)))
    }
  }

  test("a passthrough and a reconciled relation on one edge table: a pair " +
      "the passthrough batch carries stays, whatever the reconciled one " +
      "deletes, in either declaration order") {
    // the reconciled relation drops (proj1, b2) on the second pass; the
    // passthrough relation still carries it
    def spec(dropB2: Boolean, thruFirst: Boolean): IntegrationSpec = {
      val plain = hcp("hcp-mixed", HcpFixture.json)
      val reconciled = FunctionSpec("project_bucket_reconciled",
        CreateRelation("has", "project", "bucket", reconcile = true), doc => {
          val pairs = HcpTransforms.projectBucketEdges(doc)
          if (dropB2) pairs.filter(col("b_id") =!= "b2") else pairs
        })
      val (nodes, rels) = plain.functions.partition(_.kind.isInstanceOf[CreateNode])
      val thru = rels.filter(_.name == "project_bucket")
      plain.copy(functions = nodes ++
        (if (thruFirst) thru :+ reconciled else reconciled +: thru))
    }
    for (thruFirst <- Seq(true, false)) {
      val root = tempRoot()
      val driver = new SyncDriver(spark, new SnapshotStore(spark, s"$root/state"),
        new GraphSink(spark, s"$root/graph"))
      driver.run(spec(dropB2 = false, thruFirst))
      val r = driver.run(spec(dropB2 = true, thruFirst))
      assert(r("project_bucket_reconciled") === ((0L, 1L)), s"thruFirst=$thruFirst")
      val pairs = new GraphSink(spark, s"$root/graph").readEdges("has__project__bucket")
        .collect().map(p => (p.getString(0), p.getString(1))).toSeq
      assert(pairs.sorted === Seq(("proj1", "b1"), ("proj1", "b2")),
        s"thruFirst=$thruFirst")
    }
  }
}
