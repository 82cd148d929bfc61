package graft

/** Dev tool: time a SUBSET of registered queries with Bench's exact
  * methodology (noop sink so every output column materializes, scoped
  * lineage-cut release, min across interleaved passes) — the isolated
  * A/B loop of an optimization round without re-paying the full 344-query
  * bench per iteration.
  *
  * `runMain graft.TimeQueries <sfDir> <name>[,<name>...] [passes]`
  * Core count from SPARK_GRAFT_CPUS (default 32), like Bench.
  * Passes are interleaved over the whole list (pass 1 of every query,
  * then pass 2, ...) so one machine-contention burst cannot sit on both
  * samples of one query — the Bench rule.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).toSeq
    val passes = if (args.length >= 3) args(2).toInt else 2
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // A/B hook: SPARK_GRAFT_SET="k=v;k2=v2" sets session confs before the
    // passes — the toggle for conf-gated paths without a rebuild
    sys.env.get("SPARK_GRAFT_SET").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    Bench.warmUp(spark, sfDir)

    val best = scala.collection.mutable.Map[String, Double]()
    for (p <- 1 to passes; n <- names) {
      spark.sparkContext.setJobDescription(s"time:$n pass $p")
      val sample = Bench.timeNoop(spark, SparkEntry.queries(n)(_, _), sfDir)
      sample.err match {
        case Some(e) => println(f"[pass $p] $n%-30s FAILED: ${e.take(200)}")
        case None =>
          println(f"[pass $p] $n%-30s ${sample.sec}%8.3f s")
          best(n) = math.min(best.getOrElse(n, Double.MaxValue), sample.sec)
      }
    }
    println(names.flatMap(n => best.get(n).map(s => f"$n=$s%.3f"))
      .mkString("BEST: ", ", ", ""))
    spark.stop()
  }
}
