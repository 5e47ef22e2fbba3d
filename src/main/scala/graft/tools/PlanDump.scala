package graft.tools

/** Dev tool: print the formatted physical plan (and optionally run+time)
  * of one SparkEntry query. Usage:
  *   runMain graft.tools.PlanDump <query> [sfDir] [run]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    // the Bench/Verify session shape, so the dumped plan is the one they run
    val spark = graft.GraftSession.build(sfDir, cpus)
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (args.length > 2 && args(2) == "run") {
      val t0 = System.nanoTime()
      // execute df's OWN QueryExecution: count() would plan a separate one
      // and the inspected AQE plan would stay isFinalPlan=false, reporting
      // zero reused exchanges no matter what actually ran.
      val n = df.queryExecution.toRdd.count()
      println(s"ROWS=$n in ${(System.nanoTime() - t0) / 1e9}s")
      // post-AQE plan: shows ReusedExchange / final join strategies
      val fin = df.queryExecution.executedPlan.toString
      println("FINAL_REUSED_EXCHANGES=" +
        fin.linesIterator.count(l => l.contains("ReusedExchange")
          || l.contains("ReusedQueryStage")))
      if (args.length > 3 && args(3) == "final") println(fin)
    }
    spark.stop()
  }
}
