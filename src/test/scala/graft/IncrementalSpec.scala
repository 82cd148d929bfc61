package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.operators.Incremental
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The oracle row proves the incremental rollup's VALUES; this suite proves
  * the INCREMENTALITY — the property that makes it viable at 100 TB: an
  * increment must leave every untouched date partition's files byte-for-byte
  * alone, and must rewrite the partitions it touches. */
class IncrementalSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def partitionFiles(table: Path): Map[String, Map[String, Long]] =
    Files.list(table).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("d="))
      .map { p =>
        p.getFileName.toString ->
          Files.list(p).iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(f => f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis)
            .toMap
      }.toMap

  test("increment rewrites only touched partitions; untouched files identical") {
    val table = Files.createTempDirectory("graft-increll-spec")
    val ev = Tables.events(spark, sfDir)
    val cutoff = lit("2024-01-25").cast("timestamp")

    Incremental.build(ev.filter(col("ts") < cutoff), table.toString)
    val before = partitionFiles(table)
    assert(before.nonEmpty, "bootstrap wrote no partitions")
    assert(!before.keySet.exists(_ >= "d=2024-01-25"),
      "bootstrap must stop at the cutoff")

    // dynamic overwrite is a write option: the session conf must read
    // exactly as before the call (unset stays unset, not "static")
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    Incremental.applyIncrement(
      spark, ev.filter(col("ts") >= cutoff), table.toString)
    assert(spark.conf.getOption(modeKey) == modeBefore,
      s"applyIncrement changed the session's $modeKey: " +
        s"$modeBefore -> ${spark.conf.getOption(modeKey)}")
    val after = partitionFiles(table)

    val touched = after.keySet.filter(_ >= "d=2024-01-25")
    assert(touched.nonEmpty, "increment created no partitions")
    // every pre-existing partition the increment did not touch: same file
    // names, same mtimes — never listed into the overwrite
    for ((part, files) <- before if !touched(part))
      assert(after(part) == files,
        s"untouched partition $part was rewritten by the increment")

    // and the merged table equals a flat full recompute, bit for bit
    val served = Incremental.serve(spark, table.toString)
    val full = Incremental.rollup(ev)
      .select(col("d"), col("event_type"), col("n"),
        col("val_sum").cast("double").as("val_sum"))
    assert(served.exceptAll(full).isEmpty && full.exceptAll(served).isEmpty,
      "incremental result diverges from full recompute")
  }

  test("increment touching an EXISTING partition merges, not duplicates") {
    val table = Files.createTempDirectory("graft-increll-spec2")
    val ev = Tables.events(spark, sfDir)
    // split mid-day so the cutoff day exists in BOTH base and increment —
    // the merge path must re-aggregate that day, not append a second row
    val cutoff = lit("2024-01-25 12:00:00").cast("timestamp")
    Incremental.build(ev.filter(col("ts") < cutoff), table.toString)
    Incremental.applyIncrement(
      spark, ev.filter(col("ts") >= cutoff), table.toString)
    val served = Incremental.serve(spark, table.toString)
    val dupKeys = served.groupBy("d", "event_type").count().filter(col("count") > 1)
    assert(dupKeys.isEmpty, "merge left duplicate (d, event_type) rows")
    val full = Incremental.rollup(ev)
      .select(col("d"), col("event_type"), col("n"),
        col("val_sum").cast("double").as("val_sum"))
    assert(served.exceptAll(full).isEmpty && full.exceptAll(served).isEmpty)
  }
}
