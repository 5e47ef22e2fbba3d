package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.{ChangeHash, Crc32Q}

import SparkEntry._

/** SURVEY §2.5 scalar functions: key concatenation, coalesce chains,
  * canonical JSON, CRC-32/Q and cast hashes. Each query is declared once,
  * with its plan and its check; [[SparkEntry]] derives the battery views
  * from these lists. */
private[graft] object ScalarQueries {
  lazy val all: Seq[Query] = Seq(
    // ===== §2.5 scalar functions =====
    Query("concat_keys", (s, dir) =>
      t(s, dir, "orders")
        .select(concat_ws(":", lit("http"), col("o_orderpriority")).as("ikey"))
        .distinct(),
      Oracle("SELECT DISTINCT 'http' || ':' || o_orderpriority AS ikey FROM orders")),

    Query("coalesce_chain", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        coalesce(
          nullif(when(col("doc_id") % 3 === 0, "").otherwise(col("lang")), lit("")),
          nullif(when(col("doc_id") % 4 === 0, "").otherwise(col("source")), lit("")),
          col("doc_id").cast("string")).as("token"))
    },
      Oracle("""SELECT doc_id, COALESCE(
        |  NULLIF(CASE WHEN doc_id % 3 = 0 THEN '' ELSE lang END, ''),
        |  NULLIF(CASE WHEN doc_id % 4 = 0 THEN '' ELSE source END, ''),
        |  CAST(doc_id AS VARCHAR)) AS token FROM documents""".stripMargin)),

    Query("canonical_json", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        ChangeHash.canonicalJson(d, Seq("source", "lang")).as("cj"))
    },
      Oracle("""SELECT doc_id,
        | to_json(struct_pack(lang := lang, source := source)) AS cj
        | FROM documents""".stripMargin)),

    Query("crc32_hash", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      d.select(col("doc_id"), ChangeHash.changeHash(d).as("h"),
        Crc32Q(col("lang")).as("h_lang"))
    },
      Oracle(("WITH RECURSIVE " + crc32qTablePreludeSql + """,
      |data AS MATERIALIZED (
      |  SELECT doc_id, 'j' AS wh,
      |    CAST(to_json(struct_pack(doc_id := doc_id, lang := lang,
      |      source := source)) AS VARCHAR) AS s
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'l' AS wh, lang AS s FROM documents),
      |st(doc_id, wh, pos, crc) AS (
      |  SELECT doc_id, wh, 0, 4294967295 FROM data
      |  UNION ALL
      |  SELECT s.doc_id, s.wh, s.pos + 1, xor(t.v, s.crc >> 8)
      |  FROM st s JOIN data d ON d.doc_id = s.doc_id AND d.wh = s.wh
      |  JOIN tbl t
      |    ON t.i = (xor(s.crc, unicode(substr(d.s, s.pos + 1, 1))) & 255)
      |  WHERE s.pos < length(d.s)),
      |fin AS (
      |  SELECT s.doc_id, s.wh, xor(s.crc, 4294967295) AS h
      |  FROM st s JOIN data d ON d.doc_id = s.doc_id AND d.wh = s.wh
      |  WHERE s.pos = length(d.s))
      |SELECT j.doc_id, CAST(j.h AS BIGINT) AS h, CAST(l.h AS BIGINT) AS h_lang
      |FROM fin j JOIN fin l ON j.doc_id = l.doc_id
      |WHERE j.wh = 'j' AND l.wh = 'l'""").stripMargin)),

    Query("cast_string_hash", (s, dir) =>
      // T10 cast-to-string + F1 over a numeric column: string-cast parity
      t(s, dir, "orders").select(col("o_orderkey"),
        Crc32Q(col("o_orderkey").cast("string")).as("h")),
      Oracle(("WITH RECURSIVE " + crc32qTablePreludeSql + """,
      |data AS MATERIALIZED (
      |  SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS s FROM orders),
      |st(o_orderkey, pos, crc) AS (
      |  SELECT o_orderkey, 0, 4294967295 FROM data
      |  UNION ALL
      |  SELECT s.o_orderkey, s.pos + 1, xor(t.v, s.crc >> 8)
      |  FROM st s JOIN data d ON d.o_orderkey = s.o_orderkey
      |  JOIN tbl t
      |    ON t.i = (xor(s.crc, unicode(substr(d.s, s.pos + 1, 1))) & 255)
      |  WHERE s.pos < length(d.s))
      |SELECT s.o_orderkey, CAST(xor(s.crc, 4294967295) AS BIGINT) AS h
      |FROM st s JOIN data d ON d.o_orderkey = s.o_orderkey
      |WHERE s.pos = length(d.s)""").stripMargin))
  )

  /** CRC-32/Q replayed in DuckDB SQL: the 256-entry reflected table is
    * built by 8 unrolled CTE shift-xor steps from the 0xD5828281
    * polynomial (the exact construction of
    * [[graft.functions.Crc32Q.table]]), then each input string is folded
    * byte-by-byte through a recursive CTE. Valid because every hashed
    * fixture string is ASCII (unicode(char) == the UTF-8 byte) — the
    * Spark side hashes UTF-8 bytes. Bit-op operands are parenthesized:
    * DuckDB binds `=` tighter than `&`. */
  private def crc32qTablePreludeSql: String = {
    val steps = (1 to 8).map(k =>
      s"t$k AS MATERIALIZED (SELECT i, CASE WHEN (c & 1) = 1 " +
        s"THEN xor(c >> 1, 3582100097) ELSE c >> 1 END AS c FROM t${k - 1})")
    ("t0 AS MATERIALIZED (SELECT range AS i, range AS c FROM range(256))" +:
      steps :+
      "tbl AS MATERIALIZED (SELECT i, c AS v FROM t8)").mkString(",\n")
  }
}
