package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev-only subset run: SPARK_GRAFT_ONLY=q1,q2 dumps (and lists oracle
    // SQL for) just those queries — the driver never sets it
    run(sfDir, outDir,
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
  }

  /** The correctness-dump body, callable in-process (see [[Gate]]). */
  def run(sfDir: String, outDir: String, only: Option[Set[String]] = None,
      cpus: Int = 32): Unit = {
    val spark = GraftSession.local(cpus) // production parity: rules + SQL fns on
    new java.io.File(outDir).mkdirs()
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      // scoped{}: each query's lineage-cut blocks are freed after its write
      try graft.util.Checkpoints.scoped {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape (shared impl): a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness.
    def q(s: String): String = "\"" + graft.util.Json.escape(s) + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
