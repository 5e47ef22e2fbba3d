package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.GraphSink

/** The write rule of [[GraphSink]] on both of its plans: driver-local
  * arguments (each plan a `LocalRelation`, as `Seq.toDF` builds) take the
  * literal-mask plan, any other argument the join plan. */
class GraphSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def sink() =
    new GraphSink(spark, Files.createTempDirectory("graft-sink").toString)

  /** `df` behind a repartition, so its plan is not driver-local. */
  private def distributed(df: DataFrame): DataFrame = df.repartition(2)

  private val plans = Seq[(String, DataFrame => DataFrame)](
    "driver-local plan" -> identity, "join plan" -> distributed)

  private def pairs(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("driver-local creates that hold one key twice store the last row " +
      "in list order") {
    val s = spark
    import s.implicits._
    val g = sink()
    // the last row of "k" sorts first by value: list order decides
    g.applyNodeDelta("n",
      Seq(("k", "z-first"), ("j", "only"), ("k", "a-last")).toDF("external_id", "name"),
      Seq.empty[String].toDF("external_id"))
    assert(pairs(g.readNodes("n")) === Set(("j", "only"), ("k", "a-last")))
  }

  for ((name, plan) <- plans)
    test(s"a key or pair both created and deleted ends up created, on the $name") {
      val s = spark
      import s.implicits._
      val g = sink()
      g.applyNodeDelta("n", Seq(("k", "old"), ("d", "gone")).toDF("external_id", "name"),
        Seq.empty[String].toDF("external_id"))
      g.applyNodeDelta("n", plan(Seq(("k", "new")).toDF("external_id", "name")),
        plan(Seq("k", "d").toDF("external_id")))
      assert(pairs(g.readNodes("n")) === Set(("k", "new")))

      val none = Seq.empty[(String, String)].toDF("a_id", "b_id")
      g.applyEdgeDelta("r__a__b", Seq(("x", "y"), ("x", "z")).toDF("a_id", "b_id"),
        none, "a", "b", alreadyResolved = true)
      g.applyEdgeDelta("r__a__b", plan(Seq(("x", "y")).toDF("a_id", "b_id")),
        plan(Seq(("x", "y"), ("x", "z")).toDF("a_id", "b_id")), "a", "b",
        alreadyResolved = true)
      assert(pairs(g.readEdges("r__a__b")) === Set(("x", "y")))
    }
}
