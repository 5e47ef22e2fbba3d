package graft
package queries

import org.apache.spark.sql.functions._

import SparkEntry._

/** SURVEY §2.1 sources and scans: parquet and JSON-column reads. Each query
  * is declared once, with its plan and its check; [[SparkEntry]] derives
  * the battery views from these lists. */
private[graft] object ScanQueries {
  lazy val all: Seq[Query] = Seq(
    // ===== §2.1 sources / scans =====
    Query("scan_parquet", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice")).as("price_cents")),
      Oracle("""SELECT l_orderkey, l_linenumber,
        | CAST(round(l_extendedprice*100, 0) AS BIGINT) AS price_cents
        | FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin)),

    Query("scan_json", (s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        from_json(col("props"), lit("k INT")).getField("k").as("k")),
      Oracle("SELECT event_id, CAST(props->>'k' AS INT) AS k FROM events"))
  )
}
