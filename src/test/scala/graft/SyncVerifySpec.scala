package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.HcpTransforms
import graft.pipeline.{CreateNode, CreateRelation, FunctionSpec, IntegrationSpec, SyncDriver}
import graft.sink.GraphSink
import graft.state.SnapshotStore

/** VERIFY (the R5 convergence check, reference `main.go:224-237`) pinned by
  * mutation: a store whose commit corrupts one function's state image must
  * make the pass fail with `commit failed for <fn>`, for a node function
  * and for a `reconcile = true` relation alike. An uncorrupted store must
  * let the same pass through. */
class SyncVerifySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** A corruption of a committed (external_id, hash) image. */
  private type Mutation = DataFrame => DataFrame

  private def firstKey(img: DataFrame): String =
    img.agg(min(col("external_id"))).head().getString(0)

  private val mutations: Seq[(String, Mutation)] = Seq(
    "drops one key" -> { img =>
      img.filter(col("external_id") =!= firstKey(img))
    },
    "flips one hash" -> { img =>
      val k = firstKey(img)
      img.withColumn("hash",
        when(col("external_id") === k, col("hash") + 1).otherwise(col("hash")))
    },
    "keeps a stale key" -> { img =>
      import img.sparkSession.implicits._
      img.unionByName(Seq(("stale-key-not-in-batch", 0L))
        .toDF("external_id", "hash"))
    })

  /** Commits `mutate(postImage)` for function `target`, every other
    * function's image unchanged. */
  private class CorruptingStore(spark: SparkSession, root: String,
      target: String, mutate: Mutation) extends SnapshotStore(spark, root) {
    override def commit(integration: String, function: String,
        postImage: DataFrame, partitions: Int): Unit =
      super.commit(integration, function,
        if (function == target) mutate(postImage) else postImage, partitions)
  }

  private def spec(name: String) = IntegrationSpec(name,
    s => HcpFixture.doc(s), Seq(
      FunctionSpec("buckets", CreateNode("bucket"), HcpTransforms.bucketNodes),
      FunctionSpec("version", CreateNode("version"), HcpTransforms.versionNodes),
      FunctionSpec("bucket_version",
        CreateRelation("has", "bucket", "version", reconcile = true),
        HcpTransforms.bucketVersionEdges)))

  private def driver(target: String, mutate: Mutation): SyncDriver = {
    val root = Files.createTempDirectory("graft-verify").toString
    new SyncDriver(spark,
      new CorruptingStore(spark, s"$root/state", target, mutate),
      new GraphSink(spark, s"$root/graph"))
  }

  test("control: an uncorrupted commit passes VERIFY") {
    val r = driver("buckets", identity).run(spec("hcp-verify-ok"))
    assert(r("buckets") === ((2L, 0L)))
    assert(r("version") === ((2L, 0L)))
    assert(r("bucket_version") === ((2L, 0L)))
  }

  for (target <- Seq("buckets", "bucket_version");
       (what, mutate) <- mutations) {
    test(s"VERIFY fails the pass when the commit of $target $what") {
      val e = intercept[IllegalArgumentException] {
        driver(target, mutate).run(spec("hcp-verify"))
      }
      assert(e.getMessage.contains(s"commit failed for $target:"),
        e.getMessage)
    }
  }
}
