package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{HcpTransforms, Reconcile}
import graft.pipeline.{HcpIntegration, SyncDriver}
import graft.sink.GraphSink
import graft.state.SnapshotStore

/** A document that holds one bucket id twice, with different content:
  * the pass keeps one row for the key, the row with the smallest change
  * hash, and the sink, the state and the convergence check all see that
  * row, on the driver-local plan and on the join plan. */
class DuplicateKeySyncSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** [[HcpFixture.json]] plus a second `b2` whose `updated-at` differs. */
  private val dupJson: String =
    """{"buckets": [
      |  {"id": "b1", "name": "base-img", "created-at": "2024-01-01T00:00:00Z",
      |   "updated-at": "2024-06-01T00:00:00Z", "resource_name": "packer/b1",
      |   "location": {"organization_id": "org1", "project_id": "proj1"},
      |   "latest_version": {"id": "v1", "name": "v1.0",
      |     "builds": [{"id": "bl1", "created_at": "2024-06-01T00:00:00Z",
      |                 "updated_at": "2024-06-01T01:00:00Z"}]}},
      |  {"id": "b2", "name": "app-img", "created-at": "2024-02-01T00:00:00Z",
      |   "updated-at": "2024-07-01T00:00:00Z", "resource_name": "packer/b2",
      |   "location": {"organization_id": "org1", "project_id": "proj1"},
      |   "latest_version": {"id": "v2", "name": "v2.3",
      |     "builds": [{"id": "bl2", "created_at": "2024-07-01T00:00:00Z",
      |                 "updated_at": "2024-07-01T01:00:00Z"}]}},
      |  {"id": "b2", "name": "app-img", "created-at": "2024-02-01T00:00:00Z",
      |   "updated-at": "2024-09-01T00:00:00Z", "resource_name": "packer/b2",
      |   "location": {"organization_id": "org1", "project_id": "proj1"},
      |   "latest_version": {"id": "v2", "name": "v2.3",
      |     "builds": [{"id": "bl2", "created_at": "2024-07-01T00:00:00Z",
      |                 "updated_at": "2024-07-01T01:00:00Z"}]}}
      |]}""".stripMargin.replaceAll("\n", " ")

  for (joinPlan <- Seq(false, true))
    test("one bucket id twice with different updated-at converges, and a " +
        "re-run is a no-op, on the " +
        (if (joinPlan) "join plan" else "driver-local plan")) {
      val threshold = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.getOption(threshold)
      if (joinPlan) spark.conf.set(threshold, "-1")
      try {
        val root = Files.createTempDirectory("graft-dupkey").toString
        val store = new SnapshotStore(spark, s"$root/state")
        val sink = new GraphSink(spark, s"$root/graph")
        val driver = new SyncDriver(spark, store, sink)
        val spec = HcpIntegration.spec("hcp-dupkey", s => HcpFixture.doc(s, dupJson))
        assert(driver.run(spec)("buckets") === ((2L, 0L)))
        assert(driver.run(spec)("buckets") === ((0L, 0L)))

        val hashOf = Reconcile.withHash(_: org.apache.spark.sql.DataFrame)
          .filter(col("external_id") === "b2").select("__hash")
          .collect().map(_.getLong(0)).toSeq
        val candidates = hashOf(HcpTransforms.bucketNodes(HcpFixture.doc(spark, dupJson)))
        assert(candidates.distinct.size === 2)
        val stored = hashOf(sink.readNodes("bucket"))
        val committed = store.read("hcp-dupkey", "buckets")
          .filter(col("external_id") === "b2").select("hash")
          .collect().map(_.getLong(0)).toSeq
        assert(stored === Seq(candidates.min))
        assert(committed === stored)
      } finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    }
}
