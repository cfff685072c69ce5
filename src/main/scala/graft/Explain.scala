package graft

/** Dev utility: time and/or explain individual SparkEntry queries.
  *
  * Usage: runMain graft.Explain <sfDir> [--explain] [--plan-only] <queryName>...
  * Times each named query ([[Harness.time]], 2 runs)
  * and optionally prints the formatted physical plan — the feedback
  * loop for checking pushdown/broadcast/codegen claims (SURVEY.md §4).
  * `--plan-only` implies --explain and skips the timed runs (the
  * whole-library execution-mode sweeps grep these plans).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val planOnly = args.contains("--plan-only")
    // --executed: run the query, then print the FINAL adaptive plan
    // (AQE reuse/conversion decisions are runtime — the static EXPLAIN
    // can't show ReusedExchange or an SMJ→SHJ conversion under AQE)
    val executed = args.contains("--executed")
    val showPlan = args.contains("--explain") || planOnly
    val names = args.drop(1).filterNot(a =>
      a == "--explain" || a == "--plan-only" || a == "--executed")
    val spark = Harness.session("32")
    val targets: Seq[String] =
      if (names.nonEmpty) names.toSeq else SparkEntry.queries.keys.toSeq.sorted
    targets.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"UNKNOWN $name")
        case Some(fn) =>
          if (showPlan) { println(s"== $name =="); fn(spark, sfDir).explain("formatted") }
          if (executed) {
            val df = fn(spark, sfDir)
            Harness.runFully(df)
            println(s"== $name (executed/adaptive) ==")
            println(df.queryExecution.executedPlan.toString.take(20000))
          }
          if (!planOnly) (1 to 2).foreach { i =>
            val t = Harness.time(spark, name)(fn(spark, sfDir)).get
            println(f"TIME $name run$i ${t.sec}%.2f s rows=${t.rows}")
          }
      }
    }
    spark.stop()
  }
}
