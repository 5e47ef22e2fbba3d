package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Reconcile, Transforms}

import SparkEntry._

/** SURVEY §2.3 joins: edge resolution, salted, anti and semi joins, and the
  * snapshot diff. Each query is declared once, with its plan and its check;
  * [[SparkEntry]] derives the battery views from these lists. */
private[graft] object JoinQueries {
  lazy val all: Seq[Query] = Seq(
    // ===== §2.3 joins =====
    Query("edge_resolve_join", (s, dir) => {
      val edges = Transforms.edgePairs(t(s, dir, "lineitem"),
        col("l_partkey"), col("l_suppkey"))
      val a = broadcast(t(s, dir, "part").filter(col("p_size") > 25)
        .select(col("p_partkey").cast("string").as("a_id")))
      val b = broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey").cast("string").as("b_id")))
      edges.join(a, Seq("a_id"), "left_semi")
        .join(b, Seq("b_id"), "left_semi")
        .dropDuplicates("a_id", "b_id")
        .select("a_id", "b_id")
    },
      Oracle("""SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS a_id,
        | CAST(l_suppkey AS VARCHAR) AS b_id FROM lineitem
        | WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 25)
        |   AND l_suppkey IN (SELECT s_suppkey FROM supplier)""".stripMargin)),

    // skew-safe salted join (spec'd equal to the plain join; the oracle is
    // the plain SQL join) — the pathological-hot-key fallback when the
    // small side can't broadcast and AQE's skew split still leaves a
    // straggler. lineitem.l_orderkey vs an orders projection.
    Query("salted_join", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_linenumber"))
      val dim = t(s, dir, "orders").filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      Transforms.saltedJoin(big, dim, "k", 8)
        .select(col("k"), col("l_linenumber"), col("o_orderpriority"))
    },
      Oracle("""SELECT l_orderkey AS k, l_linenumber, o_orderpriority
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE o_orderkey % 4 = 0""".stripMargin)),

    Query("snapshot_diff", (s, dir) =>
      Reconcile.classified(rBatch(s, dir), rState(s, dir))
        .select(col("__key").as("external_id"), col("op")),
      Oracle(s"""WITH b AS ($rBatchSql), s AS ($rStateSql)
        |SELECT COALESCE(b.external_id, s.external_id) AS external_id,
        |  CASE WHEN b.external_id IS NULL THEN 'delete'
        |       WHEN s.external_id IS NULL THEN 'create'
        |       WHEN b.tok <> s.tok THEN 'create'
        |       ELSE 'unchanged' END AS op
        |FROM b FULL OUTER JOIN s ON b.external_id = s.external_id""".stripMargin)),

    Query("anti_join", (s, dir) =>
      rState(s, dir).join(rBatch(s, dir), Seq("external_id"), "left_anti")
        .select(col("external_id")),
      Oracle("""SELECT CAST(o_orderkey AS VARCHAR) AS external_id FROM orders
        | WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 = 0""".stripMargin)),

    Query("semi_changed", (s, dir) =>
      Reconcile.diff(rBatch(s, dir), rState(s, dir)).toCreate
        .select(col("external_id")),
      Oracle("""SELECT CAST(o_orderkey AS VARCHAR) AS external_id FROM orders
        | WHERE o_orderkey % 7 <> 0
        |   AND (o_orderkey % 3 = 0 OR o_orderkey % 5 = 0)""".stripMargin))
  )

  private val rBatchSql =
    """SELECT CAST(o_orderkey AS VARCHAR) AS external_id,
      | CASE WHEN o_orderkey % 5 = 0 THEN 'v2' ELSE 'v1' END AS tok
      | FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin

  private val rStateSql =
    """SELECT CAST(o_orderkey AS VARCHAR) AS external_id, 'v1' AS tok
      | FROM orders WHERE o_orderkey % 3 <> 0""".stripMargin
}
