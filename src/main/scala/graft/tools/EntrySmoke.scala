package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev smoke for the driver contract: runs [[graft.SparkEntry.entry]] on a
  * deliberately vanilla session (no engine-specific configs) — the way an
  * external harness would — and prints the row count. It therefore does
  * NOT use [[graft.GraftSession.build]]: `entry()` must work without the
  * settings that builder applies. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.entry(spark)
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=${df.count()}")
    spark.stop()
  }
}
