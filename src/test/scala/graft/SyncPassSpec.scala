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
import graft.pipeline.{CreateNode, FunctionSpec, HcpIntegration,
  IntegrationSpec, SyncDriver}
import graft.sink.GraphSink
import graft.state.SnapshotStore

/** The pipelined pass of [[SyncDriver]]: a background job carries the
  * caller's local properties as of its submission (so profiler slots and
  * trace spans charge it to the caller), none outlives a failed pass, and
  * a spec that would let two functions share state is refused up front. */
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
}
