package graft

/** Dev tool: print the executed plan of registered queries.
  *
  * `runMain graft.Explain <sfDir> <name>[,<name>...]` — the fast way to
  * audit whether a query's plan is the plan you'd run at 100 TB (filters
  * pushed, joins broadcast where they should be, no stray Exchange)
  * without writing a spec first. PlanSpec remains the durable pin; this
  * is the iteration loop that feeds it.
  *
  * Optional third/fourth args (r16, the optimization-round evidence
  * loop): `runMain graft.Explain <sfDir> <names> <outDir> <suffix>`
  * writes each query's `explain("formatted")` output to
  * `<outDir>/<name>_<suffix>.txt` — the before/after plan artifacts the
  * round's plans/ directory carries.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1)
    val out = if (args.length >= 4) Some((args(2), args(3))) else None
    val spark = GraftSession.local(8)
    names.split(",").map(_.trim).foreach { n =>
      println(s"===== $n =====")
      try {
        val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
        out match {
          case Some((dir, suffix)) =>
            val txt = qe.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            val p = java.nio.file.Paths.get(dir, s"${n}_$suffix.txt")
            java.nio.file.Files.createDirectories(p.getParent)
            java.nio.file.Files.writeString(p, txt)
            println(s"  wrote $p")
          case None => println(qe.executedPlan.toString)
        }
      } catch { case t: Throwable => println(s"  failed: $t") }
    }
    spark.stop()
  }
}
