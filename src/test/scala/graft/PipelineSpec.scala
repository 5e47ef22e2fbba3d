package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{HcpIntegration, SyncDriver}
import graft.sink.GraphSink
import graft.state.SnapshotStore

/** Golden end-to-end sync (SURVEY §5): full pipeline over the FIXTURES.md §A
  * document, then the reference's own two-pass scenario — re-run (no-op,
  * idempotence) and empty-input run (all-delete, reference
  * `main.go:288-295`). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def freshEnv() = {
    val root = Files.createTempDirectory("graft-e2e").toString
    val store = new SnapshotStore(spark, s"$root/state")
    val sink = new GraphSink(spark, s"$root/graph")
    (new SyncDriver(spark, store, sink), sink)
  }

  test("golden e2e: counts per FIXTURES.md §A, idempotent re-run, full delete") {
    val (driver, sink) = freshEnv()
    val spec = HcpIntegration.spec("hcp-test",
      s => HcpFixture.doc(s))

    // pass 1: everything created (convergence check runs inside)
    val r1 = driver.run(spec)
    assert(r1("buckets") === ((2L, 0L)))
    assert(r1("orgs") === ((1L, 0L)))
    assert(r1("projects") === ((1L, 0L)))
    assert(r1("version") === ((2L, 0L)))
    assert(r1("packer_build") === ((3L, 0L)))
    assert(sink.readNodes("bucket").count() === 2)
    assert(sink.readNodes("packer_build").count() === 3)
    assert(sink.readEdges("has__org__project").count() === 1)
    assert(sink.readEdges("has__project__bucket").count() === 2)
    assert(sink.readEdges("creates__bucket__version").count() === 2)
    assert(sink.readEdges("creates__version__packer_build").count() === 3)

    // node props golden row
    val b1 = sink.readNodes("bucket")
      .filter(org.apache.spark.sql.functions.col("external_id") === "b1")
      .collect().head
    assert(b1.getAs[String]("name") === "base-img")
    assert(b1.getAs[String]("updated_at") === "2024-06-01T00:00:00Z")

    // pass 2: identical input → zero delta for every node function
    val r2 = driver.run(spec)
    Seq("buckets", "orgs", "projects", "version", "packer_build")
      .foreach(fn => assert(r2(fn) === ((0L, 0L)), s"fn=$fn not a no-op"))

    // pass 3: empty buckets → all node keys deleted; edges detached
    val specEmpty = HcpIntegration.spec("hcp-test",
      s => HcpFixture.doc(s, HcpFixture.emptyJson))
    val r3 = driver.run(specEmpty)
    assert(r3("buckets") === ((0L, 2L)))
    assert(r3("packer_build") === ((0L, 3L)))
    assert(sink.readNodes("bucket").count() === 0)
    assert(sink.readNodes("org").count() === 0)
    assert(sink.readEdges("has__project__bucket").count() === 0)
    assert(sink.readEdges("creates__version__packer_build").count() === 0)
  }

  test("pipelined node phase: create pass, then delete pass detaches edges") {
    val root = Files.createTempDirectory("graft-par").toString
    val store = new SnapshotStore(spark, s"$root/state")
    val sink = new GraphSink(spark, s"$root/graph")
    val driver = new SyncDriver(spark, store, sink)
    val spec = HcpIntegration.spec("hcp-par", s => HcpFixture.doc(s))
    val r1 = driver.run(spec)
    assert(r1("buckets") === ((2L, 0L)) && r1("packer_build") === ((3L, 0L)))
    assert(sink.readEdges("creates__version__packer_build").count() === 3)
    // delete pass: node deletes detach the passthrough edges
    val specEmpty = HcpIntegration.spec("hcp-par",
      s => HcpFixture.doc(s, HcpFixture.emptyJson))
    val r2 = driver.run(specEmpty)
    assert(r2("buckets") === ((0L, 2L)))
    assert(sink.readNodes("bucket").count() === 0)
    assert(sink.readEdges("has__project__bucket").count() === 0)
  }

  test("reconciled edges: pair delete, detach on partial node delete, full delete") {
    val root = Files.createTempDirectory("graft-recon-edge").toString
    val store = new SnapshotStore(spark, s"$root/state")
    val sink = new GraphSink(spark, s"$root/graph")
    val driver = new SyncDriver(spark, store, sink)
    // reconcile = true on the one relation runs applyEdgeDelta; node
    // deletes run detachEdges on the same edge table
    import graft.pipeline.{CreateNode, CreateRelation, FunctionSpec, IntegrationSpec}
    import graft.operators.HcpTransforms
    def spec(body: String) = IntegrationSpec("hcp-recon-edge",
      s => HcpFixture.doc(s, body), Seq(
        FunctionSpec("buckets", CreateNode("bucket"), HcpTransforms.bucketNodes),
        FunctionSpec("version", CreateNode("version"), HcpTransforms.versionNodes),
        FunctionSpec("bucket_version",
          CreateRelation("has", "bucket", "version", reconcile = true),
          HcpTransforms.bucketVersionEdges)))

    val r1 = driver.run(spec(HcpFixture.json))
    assert(r1("buckets") === ((2L, 0L)))
    assert(sink.readEdges("has__bucket__version").count() === 2)

    // idempotent re-run: zero deltas anywhere
    val r2 = driver.run(spec(HcpFixture.json))
    assert(r2.values.forall(_ == ((0L, 0L))))

    // b2 vanishes upstream: node delete + detach + the reconciled edge
    // diff's pair delete all land; (b1, v1) survives
    val onlyB1 = HcpFixture.json.replaceAll(
      """\{"id": "b2".*\]\}\}\s*""", "").replaceAll(",\\s*]", "]")
    val r3 = driver.run(spec(onlyB1))
    assert(r3("buckets") === ((0L, 1L)))
    assert(sink.readEdges("has__bucket__version")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("b1", "v1")))

    // full delete: every node and edge goes
    driver.run(spec(HcpFixture.emptyJson))
    assert(sink.readNodes("bucket").count() === 0)
    assert(sink.readEdges("has__bucket__version").count() === 0)
  }

  test("update path: changed updated-at replaces node wholesale (K1)") {
    val (driver, sink) = freshEnv()
    val spec = HcpIntegration.spec("hcp-upd", s => HcpFixture.doc(s))
    driver.run(spec)
    val mutated = HcpFixture.json
      .replace("\"updated-at\": \"2024-06-01T00:00:00Z\"",
        "\"updated-at\": \"2024-08-01T00:00:00Z\"")
      .replace("\"name\": \"base-img\"", "\"name\": \"base-img-v2\"")
    val spec2 = HcpIntegration.spec("hcp-upd",
      s => HcpFixture.doc(s, mutated))
    val r = driver.run(spec2)
    assert(r("buckets") === ((1L, 0L))) // only b1 changed
    val b1 = sink.readNodes("bucket")
      .filter(org.apache.spark.sql.functions.col("external_id") === "b1")
      .collect().head
    assert(b1.getAs[String]("name") === "base-img-v2") // SET x = item
    assert(sink.readNodes("bucket").count() === 2)
  }
}
