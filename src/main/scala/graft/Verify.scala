package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query filter — dev use only;
    // the driver always invokes the 2-arg full dump]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // a misspelt name would otherwise dump nothing for it, silently
    val unknown = only.fold(Set.empty[String])(_ -- SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shared builder (input-byte-derived shuffle partitions): the gate
    // runs the same session shape Bench and the scale rungs run
    val spark = GraftSession.build(sfDir, cpus.toInt)
    FixtureProbe.check(spark, sfDir) // names drifted columns up front
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // every query with NEITHER an oracle twin NOR a documented reason is a
    // contract bug — fail the dump rather than let it pass silently.
    val undocumented = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- SparkEntry.noOracleReason.keySet
    require(undocumented.isEmpty,
      s"queries with no oracle and no documented reason: $undocumented")
    val reasons = SparkEntry.noOracleReason
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/no_oracle.json"), reasons)
    spark.stop()
  }
}
