package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Reconcile, Transforms}

import SparkEntry._

/** SURVEY §2.6 reconcile family: the snapshot diff, changelog, post-commit
  * state and delete-key operators of the sync pass, over the (state, batch)
  * fixture pair of FIXTURES.md §C. Each query is declared once, with its
  * plan and its check; [[SparkEntry]] derives the battery views from these
  * lists. */
private[graft] object ReconcileQueries {
  lazy val all: Seq[Query] = Seq(
    // ===== §2.6 reconcile family =====
    // One classified pass → filter op != unchanged: a single full-outer
    // join, vs the union-of-two-diffs form that re-planned it per branch.
    Query("reconcile_delta", (s, dir) =>
      Reconcile.changelog(rBatch(s, dir), rState(s, dir)),
      Oracle("""SELECT CAST(o_orderkey AS VARCHAR) AS external_id, 'create' AS op
        | FROM orders WHERE o_orderkey % 7 <> 0
        |   AND (o_orderkey % 3 = 0 OR o_orderkey % 5 = 0)
        |UNION ALL
        |SELECT CAST(o_orderkey AS VARCHAR) AS external_id, 'delete' AS op
        | FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 = 0""".stripMargin)),

    Query("reconcile_passthru", (s, dir) =>
      Transforms.edgePairs(t(s, dir, "orders"),
        col("o_custkey"), col("o_orderkey")),
      Oracle("""SELECT CAST(o_custkey AS VARCHAR) AS a_id,
        | CAST(o_orderkey AS VARCHAR) AS b_id FROM orders""".stripMargin)),

    Query("reconcile_commit", (s, dir) =>
      Reconcile.postState(rBatch(s, dir)).select(col("external_id")),
      Oracle("""SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS external_id
        | FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin)),

    Query("delete_keys", (s, dir) => {
      // K2: apply a delete-key list to a node table (anti-join), the
      // DETACH-DELETE analog (reference neo4j.go:116-118).
      val nodes = t(s, dir, "orders")
        .select(col("o_orderkey").cast("string").as("external_id"),
          col("o_orderstatus").as("status"))
      val deletes = t(s, dir, "orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").cast("string").as("external_id"))
      nodes.join(deletes, Seq("external_id"), "left_anti")
    },
      Oracle("""SELECT CAST(o_orderkey AS VARCHAR) AS external_id,
        | o_orderstatus AS status
        | FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin))
  )
}
