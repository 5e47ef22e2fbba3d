package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.HcpTransforms
import graft.pipeline.{CreateNode, CreateRelation, FunctionSpec,
  IntegrationSpec, SyncDriver}
import graft.sink.GraphSink
import graft.state.SnapshotStore

/** A sync pass builds each reconciled function's keyed batch once: the
  * diff and the convergence check read one pinned batch, so the
  * function's transform runs once per batch row. */
class SyncBuiltOnceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** `transform` with its column `c` passed through a counter of the rows
    * it is evaluated on. */
  private def counted(acc: LongAccumulator, c: String,
      transform: DataFrame => DataFrame)(doc: DataFrame): DataFrame = {
    val count = udf { (v: String) => acc.add(1); v }.asNondeterministic()
    transform(doc).withColumn(c, count(col(c)))
  }

  test("one pass evaluates a node function's and a reconciled relation's " +
      "transform once per batch row") {
    val sc = spark.sparkContext
    val nodeRows = sc.longAccumulator("bucket rows")
    val edgeRows = sc.longAccumulator("bucket_version rows")
    val spec = IntegrationSpec("hcp-once", s => HcpFixture.doc(s), Seq(
      FunctionSpec("buckets", CreateNode("bucket"),
        counted(nodeRows, "external_id", HcpTransforms.bucketNodes)),
      FunctionSpec("version", CreateNode("version"), HcpTransforms.versionNodes),
      FunctionSpec("bucket_version",
        CreateRelation("creates", "bucket", "version", reconcile = true),
        counted(edgeRows, "a_id", HcpTransforms.bucketVersionEdges))))
    val root = Files.createTempDirectory("graft-once").toString
    val result = new SyncDriver(spark, new SnapshotStore(spark, s"$root/state"),
      new GraphSink(spark, s"$root/graph")).run(spec)

    val doc = HcpFixture.doc(spark)
    val buckets = HcpTransforms.bucketNodes(doc).count()
    val pairs = HcpTransforms.bucketVersionEdges(doc).count()
    assert(result("buckets") === ((buckets, 0L)))
    assert(result("bucket_version") === ((pairs, 0L)))
    assert(nodeRows.value === buckets)
    assert(edgeRows.value === pairs)
  }
}
