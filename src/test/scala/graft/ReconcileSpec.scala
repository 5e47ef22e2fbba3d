package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Reconcile
import graft.functions.Crc32Q

/** R1-R4 semantics (reference `internal/recon/recon.go:36-131`) plus the
  * reference's own self-check properties (SURVEY §5) as randomized
  * fixed-seed property tests. */
class ReconcileSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def batchOf(rows: (String, String)*): DataFrame =
    rows.toSeq.toDF("external_id", "updated_at")

  private def stateOf(batch: DataFrame): DataFrame = Reconcile.postState(batch)

  test("classification: new/changed/unchanged/deleted") {
    val prev = batchOf("a" -> "t1", "b" -> "t1", "c" -> "t1")
    val state = stateOf(prev)
    val cur = batchOf("a" -> "t1", "b" -> "t2", "d" -> "t1")
    val cls = Reconcile.classified(cur, state)
      .select(col("__key"), col("op")).as[(String, String)].collect().toMap
    assert(cls === Map("a" -> "unchanged", "b" -> "create",
      "c" -> "delete", "d" -> "create"))
    val delta = Reconcile.diff(cur, state)
    assert(delta.toCreate.select("external_id").as[String].collect().toSet
      === Set("b", "d"))
    assert(delta.toDelete.as[String].collect().toSet === Set("c"))
    // delete rows carry ONLY the key (recon.go:95)
    assert(delta.toDelete.columns.toSeq === Seq("external_id"))
  }

  test("changelog: every non-unchanged key with its op, equal to diff's two sets") {
    val prev = batchOf("a" -> "t1", "b" -> "t1", "c" -> "t1")
    val state = stateOf(prev)
    val cur = batchOf("a" -> "t1", "b" -> "t2", "d" -> "t1")
    val log = Reconcile.changelog(cur, state)
    assert(log.columns.toSeq === Seq("external_id", "op"))
    val rows = log.as[(String, String)].collect().toMap
    assert(rows === Map("b" -> "create", "d" -> "create", "c" -> "delete"))
    // changelog is exactly diff's two sets re-expressed as one relation
    val d = Reconcile.diff(cur, state)
    assert(rows.filter(_._2 == "create").keySet ===
      d.toCreate.select("external_id").as[String].collect().toSet)
    assert(rows.filter(_._2 == "delete").keySet ===
      d.toDelete.as[String].collect().toSet)
  }

  test("convergence: diff after commit is empty (reference main.go:224-237)") {
    val prev = batchOf("a" -> "t1", "b" -> "t9")
    val cur = batchOf("b" -> "t2", "c" -> "t3")
    assert(Reconcile.convergenceViolations(cur, stateOf(cur)) === 0)
    assert(Reconcile.convergenceViolations(cur, stateOf(prev)) > 0)
  }

  test("property: reconcile→commit→reconcile = empty delta (seeded random)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val keys = (1 to 50).map(i => s"k$i")
      val prev = batchOf(rnd.shuffle(keys).take(30)
        .map(k => k -> s"t${rnd.nextInt(3)}"): _*)
      val cur = batchOf(rnd.shuffle(keys).take(35)
        .map(k => k -> s"t${rnd.nextInt(3)}"): _*)
      val d1 = Reconcile.diff(cur, stateOf(prev))
      // commit post-image == batch image, so second diff must be empty:
      val d2 = Reconcile.diff(cur, stateOf(cur))
      assert(d2.toCreate.count() === 0 && d2.toDelete.count() === 0)
      // delete-completeness: empty batch deletes exactly the state keys
      val empty = batchOf()
      val d3 = Reconcile.diff(
        empty.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          cur.schema),
        stateOf(cur))
      assert(d3.toDelete.as[String].collect().toSet ===
        cur.select("external_id").as[String].collect().toSet)
      d1.toCreate.count() // force evaluation; no exception = pass
    }
  }

  test("hash equality is token equality (crc32q injective on test tokens)") {
    val b = batchOf("a" -> "2024-06-01T00:00:00Z")
    val h = Reconcile.withHash(b).select("__hash").as[Long].first()
    assert(h === Crc32Q.computeUtf8("2024-06-01T00:00:00Z"))
  }
}
