package graft.tools

/** Dev tool: the formatted physical plan of named SparkEntry queries, in
  * one JVM. Usage:
  *   runMain graft.tools.PlanDump <q1,q2,...> [sfDir] [run [final]]
  *   runMain graft.tools.PlanDump <q1,q2,...> <sfDir> <outDir> <tag>
  * The first form prints each plan (with `run`: executes it, prints its
  * row count, time and reused exchanges; with `final`: also the post-AQE
  * plan). The second writes each plan to `<outDir>/<query>_<tag>.txt` —
  * the before/after plan files under `plans/`. sfDir defaults to sf0.01;
  * the session takes `SPARK_GRAFT_CPUS` cores (default 8).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val rest = args.drop(2).toSeq
    val out = rest match {
      case Seq(dir, tag) if dir != "run" => Some((dir, tag))
      case _ => None
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    // the Bench/Verify session shape, so the dumped plan is the one they run
    val spark = graft.GraftSession.build(sfDir, cpus)
    out.foreach { case (dir, _) => new java.io.File(dir).mkdirs() }
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      out match {
        case Some((dir, tag)) =>
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val w = new java.io.PrintWriter(s"$dir/${name}_$tag.txt", "UTF-8")
          try w.println(txt) finally w.close()
          println(s"PLANDUMP $name -> $dir/${name}_$tag.txt")
        case None =>
          df.explain("formatted")
          if (rest.headOption.contains("run")) {
            val t0 = System.nanoTime()
            // execute df's OWN QueryExecution: count() would plan a
            // separate one and the inspected AQE plan would stay
            // isFinalPlan=false, reporting zero reused exchanges no matter
            // what actually ran.
            val n = df.queryExecution.toRdd.count()
            println(s"ROWS=$n in ${(System.nanoTime() - t0) / 1e9}s")
            // post-AQE plan: shows ReusedExchange / final join strategies
            val fin = df.queryExecution.executedPlan.toString
            println("FINAL_REUSED_EXCHANGES=" +
              fin.linesIterator.count(l => l.contains("ReusedExchange")
                || l.contains("ReusedQueryStage")))
            if (rest.lift(1).contains("final")) println(fin)
          }
      }
    }
    spark.stop()
  }
}
