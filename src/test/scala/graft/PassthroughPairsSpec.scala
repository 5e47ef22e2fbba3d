package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.HcpTransforms
import graft.pipeline.{CreateNode, CreateRelation, FunctionSpec,
  IntegrationSpec, SyncDriver}
import graft.sink.GraphSink
import graft.state.SnapshotStore

/** A passthrough relation (`reconcile = false`) whose batch holds one pair
  * twice and one pair with a null endpoint id: the edge table gets the
  * pair once and never the null pair, and the relation reports its batch
  * rows, on the driver-local plan (the candidates collected, null ids
  * filtered and made distinct on the driver) and on the join plan (the
  * broadcast threshold off). A second identical pass writes nothing on the
  * driver-local plan. On the join plan the null pair stays a distributed
  * candidate, so the table is rewritten once more with the same pairs. */
class PassthroughPairsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val spec = IntegrationSpec("hcp-pairs", s => HcpFixture.doc(s), Seq(
    FunctionSpec("buckets", CreateNode("bucket"), HcpTransforms.bucketNodes),
    FunctionSpec("projects", CreateNode("project"), HcpTransforms.projectNodes),
    FunctionSpec("project_bucket", CreateRelation("has", "project", "bucket"),
      doc => {
        val pair = HcpTransforms.projectBucketEdges(doc)
          .filter(col("b_id") === "b1")
        pair.unionByName(pair).unionByName(
          pair.select(col("a_id"), lit(null).cast("string").as("b_id")))
      })))

  /** Runs two identical passes; returns each pass's result, the writes of
    * the second pass and the edge table's pairs after it. */
  private def twoPasses(): (Seq[Map[String, (Long, Long)]], Seq[String],
      Seq[(String, String)]) = {
    val root = Files.createTempDirectory("graft-thru-pairs").toString
    val writes = scala.collection.mutable.ArrayBuffer.empty[String]
    val store = new SnapshotStore(spark, s"$root/state") {
      override def commit(integration: String, function: String,
          postImage: DataFrame, partitions: Int): Unit = {
        writes += s"state.commit $function"
        super.commit(integration, function, postImage, partitions)
      }
    }
    val sink = new GraphSink(spark, s"$root/graph") {
      override def applyNodeDelta(label: String, toCreate: DataFrame,
          toDelete: DataFrame): Unit = {
        writes += s"sink.node_apply $label"
        super.applyNodeDelta(label, toCreate, toDelete)
      }
      override def detachEdges(relType: String, deletedA: DataFrame,
          deletedB: DataFrame): Unit = {
        writes += s"sink.detach $relType"
        super.detachEdges(relType, deletedA, deletedB)
      }
      override def applyEdgeDelta(relType: String, toCreate: DataFrame,
          deletePairs: DataFrame, labelA: String, labelB: String,
          alreadyResolved: Boolean): Unit = {
        writes += s"sink.edge_apply $relType"
        super.applyEdgeDelta(relType, toCreate, deletePairs, labelA, labelB,
          alreadyResolved)
      }
    }
    val driver = new SyncDriver(spark, store, sink)
    val first = driver.run(spec)
    assert(writes.contains("sink.edge_apply has__project__bucket"), writes)
    writes.clear()
    val second = driver.run(spec)
    val pairs = sink.readEdges("has__project__bucket").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    (Seq(first, second), writes.toSeq, pairs)
  }

  private def check(secondPassWrites: Seq[String]): Unit = {
    val (results, secondWrites, pairs) = twoPasses()
    results.foreach(r => assert(r("project_bucket") === ((3L, 0L)), r))
    assert(pairs === Seq(("proj1", "b1")))
    assert(secondWrites === secondPassWrites)
  }

  test("driver-local plan: a repeated pair is written once, a null-endpoint " +
      "pair never, and a second identical pass writes nothing") {
    check(secondPassWrites = Nil)
  }

  test("join plan: a repeated pair is written once, a null-endpoint pair " +
      "never, and a second identical pass writes only the edge table") {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    try check(secondPassWrites = Seq("sink.edge_apply has__project__bucket"))
    finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }
}
