package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{HcpIntegration, SyncDriver}
import graft.sink.{CypherDialect, GraphDbWriter, GraphTx, GraphTxFactory, MirroredGraphSink}
import graft.state.SnapshotStore

/** In-memory graph DB that EXECUTES the writer's generated Cypher: the
  * four statement shapes of [[CypherDialect]] are parsed back (so the test
  * fails if the emitted text stops carrying the right labels/types) and
  * applied with Neo4j MERGE/MATCH/DETACH semantics. Registry-keyed by name
  * because [[GraphTxFactory]] instances are serialized into
  * foreachPartition closures — only the name travels. */
object FakeGraphDb {
  final class Db {
    val nodes = mutable.Map[(String, String), Map[String, Any]]()
    val edges = mutable.Set[(String, String, String, String, String)]()
    val batches = mutable.Buffer[(String, Int)]() // (cypher, batch rows)

    private val MergeNodes =
      "UNWIND \\$list AS item MERGE \\(x:`(.+?)` \\{external_id: item\\.external_id\\}\\) SET x = item".r
    private val DeleteNodes =
      "UNWIND \\$list AS item MATCH \\(x:`(.+?)` \\{external_id: item\\.external_id\\}\\) DETACH DELETE x".r
    private val MergeEdges =
      ("UNWIND \\$list AS item MATCH \\(a:`(.+?)` \\{external_id: item\\.a_id\\}\\) " +
        "MATCH \\(b:`(.+?)` \\{external_id: item\\.b_id\\}\\) MERGE \\(a\\)-\\[:`(.+?)`\\]->\\(b\\)").r
    private val DeleteEdges =
      ("UNWIND \\$list AS item MATCH \\(a:`(.+?)` \\{external_id: item\\.a_id\\}\\)" +
        "-\\[r:`(.+?)`\\]->\\(b:`(.+?)` \\{external_id: item\\.b_id\\}\\) DELETE r").r

    def applyStmt(cypher: String, list: Seq[Map[String, Any]]): Unit = {
      batches += ((cypher, list.size))
      cypher match {
        case MergeNodes(label) => list.foreach { item =>
          nodes((label, String.valueOf(item("external_id")))) = item
        }
        case DeleteNodes(label) => list.foreach { item =>
          val id = String.valueOf(item("external_id"))
          nodes.remove((label, id))
          // DETACH: incident edges go with the node
          edges.filterInPlace { case (_, la, a, lb, b) =>
            !(la == label && a == id) && !(lb == label && b == id)
          }
        }
        case MergeEdges(la, lb, rel) => list.foreach { item =>
          val (a, b) = (String.valueOf(item("a_id")), String.valueOf(item("b_id")))
          // MATCH semantics: both endpoints must exist or the row no-ops
          if (nodes.contains((la, a)) && nodes.contains((lb, b)))
            edges += ((rel, la, a, lb, b))
        }
        case DeleteEdges(la, rel, lb) => list.foreach { item =>
          edges -= ((rel, la, String.valueOf(item("a_id")), lb,
            String.valueOf(item("b_id"))))
        }
        case ddl if ddl.startsWith("CREATE INDEX") => ()
        case other => sys.error(s"fake graph DB: unrecognized cypher: $other")
      }
    }
  }

  private val dbs = new java.util.concurrent.ConcurrentHashMap[String, Db]()
  def apply(name: String): Db = dbs.computeIfAbsent(name, _ => new Db)
  def drop(name: String): Unit = dbs.remove(name)
}

/** Serializable handle: staged statements apply atomically on commit. */
class FakeTxFactory(name: String) extends GraphTxFactory {
  override def begin(): GraphTx = new GraphTx {
    private val staged = mutable.Buffer[(String, Seq[Map[String, Any]])]()
    override def run(cypher: String, list: Seq[Map[String, Any]]): Unit =
      staged += ((cypher, list))
    override def commit(): Unit = {
      val db = FakeGraphDb(name)
      db.synchronized { staged.foreach { case (c, l) => db.applyStmt(c, l) } }
    }
    override def rollback(): Unit = staged.clear()
  }
}

/** [[FakeTxFactory]] that throws at the commit of the first transaction
  * carrying the `failing` statement while its name is armed in
  * [[FailOnceTx.armed]], and disarms it: a remote write that fails once. */
class FailOnceTxFactory(name: String, failing: String) extends GraphTxFactory {
  private val fake = new FakeTxFactory(name)
  override def begin(): GraphTx = new GraphTx {
    private val tx = fake.begin()
    private var carries = false
    override def run(cypher: String, list: Seq[Map[String, Any]]): Unit = {
      carries ||= cypher == failing
      tx.run(cypher, list)
    }
    override def commit(): Unit =
      if (carries && FailOnceTx.armed.remove(name))
        throw new RuntimeException(s"injected remote failure: $failing")
      else tx.commit()
    override def rollback(): Unit = tx.rollback()
  }
}

object FailOnceTx {
  val armed: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

class GraphDbSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def env(dbName: String, batchSize: Int = 1000) = {
    FakeGraphDb.drop(dbName)
    val root = java.nio.file.Files.createTempDirectory("graft-gdb").toString
    val store = new SnapshotStore(spark, s"$root/state")
    val writer = new GraphDbWriter(new FakeTxFactory(dbName), batchSize)
    val sink = new MirroredGraphSink(spark, s"$root/graph", writer)
    (new SyncDriver(spark, store, sink), sink, FakeGraphDb(dbName))
  }

  /** remote node/edge sets must equal the parquet sink's tables. */
  private def assertConverged(sink: MirroredGraphSink, db: FakeGraphDb.Db): Unit = {
    for (label <- Seq("bucket", "org", "project", "version", "packer_build")) {
      val local = sink.readNodes(label).select("external_id")
        .collect().map(_.getString(0)).toSet
      val remote = db.synchronized {
        db.nodes.keys.filter(_._1 == label).map(_._2).toSet
      }
      assert(remote === local, s"label=$label")
    }
    for ((table, rel, la, lb) <- Seq(
      ("has__org__project", "has", "org", "project"),
      ("has__project__bucket", "has", "project", "bucket"),
      ("creates__bucket__version", "creates", "bucket", "version"),
      ("creates__version__packer_build", "creates", "version", "packer_build"))) {
      val local = sink.readEdges(table).select("a_id", "b_id")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val remote = db.synchronized {
        db.edges.collect { case (`rel`, `la`, a, `lb`, b) => (a, b) }.toSet
      }
      assert(remote === local, s"edge=$table")
    }
  }

  test("mirror converges with parquet sink across create/update/delete passes") {
    val (driver, sink, db) = env("parity")
    sink.ensureIndexes(Seq("bucket", "org"))

    // pass 1: full create
    driver.run(HcpIntegration.spec("gdb", s => HcpFixture.doc(s)))
    assertConverged(sink, db)
    assert(db.synchronized(db.nodes((("bucket", "b1")))("name")) === "base-img")

    // pass 2: update b1 (token bump) → remote node replaced wholesale
    val mutated = HcpFixture.json
      .replace("\"updated-at\": \"2024-06-01T00:00:00Z\"",
        "\"updated-at\": \"2024-10-01T00:00:00Z\"")
      .replace("\"name\": \"base-img\"", "\"name\": \"base-img-gdb\"")
    driver.run(HcpIntegration.spec("gdb", s => HcpFixture.doc(s, mutated)))
    assertConverged(sink, db)
    assert(db.synchronized(db.nodes((("bucket", "b1")))("name")) === "base-img-gdb")

    // pass 3: empty upstream → all nodes DETACH-deleted, edges gone with them
    driver.run(HcpIntegration.spec("gdb",
      s => HcpFixture.doc(s, HcpFixture.emptyJson)))
    assertConverged(sink, db)
    assert(db.synchronized(db.nodes.isEmpty) && db.synchronized(db.edges.isEmpty))
  }

  test("statements batch by batchSize and carry the reference's shapes") {
    val (driver, sink, db) = env("batching", batchSize = 2)
    driver.run(HcpIntegration.spec("gdb-b", s => HcpFixture.doc(s)))
    assertConverged(sink, db)
    val stmts = db.synchronized(db.batches.toList)
    // 3 packer_build creates at batchSize=2 → no single batch exceeds 2
    assert(stmts.forall(_._2 <= 2))
    assert(stmts.exists(_._1 == CypherDialect.mergeNodes("packer_build")))
    assert(stmts.exists(_._1 ==
      CypherDialect.mergeEdges("creates", "version", "packer_build")))
  }

  test("overlapping create+delete key: remote converges to local (deletes forward first)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val (_, sink, db) = env("overlap")
    // local semantics make an overlapping key net-create (survivors drop
    // it, the create union re-adds it) — so the mirror must forward the
    // DELETE first and let MERGE be the last word, or the stores diverge.
    val create = Seq(("x", "p1"), ("y", "p1")).toDF("external_id", "name")
    val del = Seq("x").toDF("external_id")
    sink.applyNodeDelta("bucket", create, del)
    assert(sink.readNodes("bucket", create.schema).select("external_id")
      .collect().map(_.getString(0)).toSet === Set("x", "y"))
    assert(db.synchronized(
      db.nodes.keys.filter(_._1 == "bucket").map(_._2).toSet) === Set("x", "y"))

    // same contract on the edge path: a pair in both sets stays created
    sink.applyNodeDelta("A", Seq(("x", "p")).toDF("external_id", "name"),
      del.filter(lit(false)))
    sink.applyNodeDelta("B", Seq(("y", "p")).toDF("external_id", "name"),
      del.filter(lit(false)))
    val pair = Seq(("x", "y")).toDF("a_id", "b_id")
    sink.applyEdgeDelta("r__A__B", pair, pair, "A", "B")
    assert(sink.readEdges("r__A__B").count() === 1)
    assert(db.synchronized(db.edges.contains(("r", "A", "x", "B", "y"))))
  }

  test("a key created twice reaches the remote with the properties the " +
      "local table keeps, driver-local or distributed") {
    import spark.implicits._
    val (_, sink, db) = env("dup-create")
    val none = Seq.empty[String].toDF("external_id")
    val twice = Seq(("k", "first"), ("k", "last"), ("j", "only"))
      .toDF("external_id", "name")
    Seq("local" -> twice, "distributed" -> twice.repartition(2)).foreach {
      case (label, create) =>
        sink.applyNodeDelta(label, create, none)
        val local = sink.readNodes(label).collect()
          .map(r => r.getAs[String]("external_id") -> r.getAs[String]("name")).toMap
        val remote = db.synchronized(db.nodes.collect {
          case ((`label`, id), props) => id -> props("name")
        }.toMap)
        assert(local.keySet === Set("j", "k"), label)
        assert(remote === local, label)
    }
    // driver-local creates keep the last row in list order
    assert(db.synchronized(db.nodes(("local", "k"))("name")) === "last")
  }

  test("reconciled-edge mode forwards pair deletes as edge DELETE") {
    val (driver, sink, db) = env("recon-edges")
    import graft.pipeline.{CreateNode, CreateRelation, FunctionSpec, IntegrationSpec}
    import graft.operators.HcpTransforms
    def spec(body: String) = IntegrationSpec("gdb-re",
      s => HcpFixture.doc(s, body), Seq(
        FunctionSpec("buckets", CreateNode("bucket"), HcpTransforms.bucketNodes),
        FunctionSpec("version", CreateNode("version"), HcpTransforms.versionNodes),
        FunctionSpec("bucket_version",
          CreateRelation("has", "bucket", "version", reconcile = true),
          HcpTransforms.bucketVersionEdges)))
    driver.run(spec(HcpFixture.json))
    assert(db.synchronized(db.edges.count(_._1 == "has")) === 2)
    // b2 vanishes upstream: its node deletes (DETACH) AND the reconciled
    // edge diff deletes the (b2, v2) pair — remote must show only (b1, v1)
    val onlyB1 = HcpFixture.json.replaceAll(
      """\{"id": "b2".*\]\}\}\s*""", "").replaceAll(",\\s*]", "]")
    driver.run(spec(onlyB1))
    val remaining = db.synchronized(
      db.edges.collect { case ("has", "bucket", a, "version", b) => (a, b) }.toSet)
    assert(remaining === Set(("b1", "v1")))
  }

  test("a remote edge write that fails after the nodes landed is sent " +
      "again by the next pass, and the mirror converges") {
    val name = "fail-once"
    FakeGraphDb.drop(name)
    val root = java.nio.file.Files.createTempDirectory("graft-gdb").toString
    val sink = new MirroredGraphSink(spark, s"$root/graph", new GraphDbWriter(
      new FailOnceTxFactory(name, CypherDialect.mergeEdges("has", "project", "bucket"))))
    val driver = new SyncDriver(spark, new SnapshotStore(spark, s"$root/state"), sink)
    val db = FakeGraphDb(name)
    val spec = HcpIntegration.spec("gdb-fail", s => HcpFixture.doc(s))
    FailOnceTx.armed.add(name)
    val boom = intercept[Exception](driver.run(spec))
    assert(!FailOnceTx.armed.contains(name), boom)
    // the retry on the same document finds the pairs still to send
    driver.run(spec)
    assertConverged(sink, db)
    assert(db.synchronized(db.edges.count(_._1 == "has")) === 3)
  }
}
