package graft.tools

/** Debug helper: print the executed physical plan of named SparkEntry
  * queries, or of every query when no list is given (the `.explain`-and-
  * iterate loop PlanSpec pins are written from: checking pushdown,
  * pruning and join strategy). The session is the benched one, so dumped
  * plans carry the partition counts and conf-dependent shapes the board
  * measures. Usage: runMain graft.tools.PlanDump <sfDir> [q1,q2,...] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.lift(1).map(_.split(',').toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val spark = graft.Session.build()
    names.foreach { n =>
      println(s"\n===== $n =====")
      // EXECUTE before dumping (r16): an unexecuted AdaptiveSparkPlan
      // prints only the initial plan — the dump must show the final
      // stages (AQE partition counts, runtime join selections)
      try {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        df.queryExecution.toRdd.count()
        println(df.queryExecution.executedPlan.toString())
      } catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
