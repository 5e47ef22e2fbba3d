package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a query's result is checked. A [[Query]] cannot be declared
  * without one, so every battery query has a twin or a stated reason. */
sealed trait Check

/** A DuckDB SQL twin over the same parquet tables, whose result is
  * hash-compared with the query's (parity rules in [[graft.SparkEntry]]'s
  * header). */
final case class Oracle(sql: String) extends Check

/** Why no SQL twin can exist — sketch-valued or JVM-specific output —
  * and which ScalaTest evidence covers the query instead; only its rows
  * are checked. */
final case class NoOracle(reason: String) extends Check

/** One battery query: its name, its plan over the fixture tables in
  * `dir`, and its check. */
final case class Query(name: String,
    plan: (SparkSession, String) => DataFrame, check: Check)

object Query {

  /** `qs` unchanged when every name is declared once; otherwise fails,
    * naming each name declared more than once. */
  def distinct(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect {
      case (n, g) if g.size > 1 => n }.toSeq.sorted
    require(dups.isEmpty, s"query declared twice: ${dups.mkString(", ")}")
    qs
  }
}
