package graft.operators

import graft.{SparkEntry, SparkSpec}
import graft.sources.Tables
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Manifest-based versioning: commits must be O(delta) (untouched
  * partitions SHARE files across versions, by path), historical snapshots
  * must be immutable, and manifest-level pruning must scan only the
  * selected partitions' files. */
class VersionedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rel = Tables.events(spark, dir)
    .select(col("event_id"), col("event_type"), col("value"),
      to_date(col("ts")).cast("string").as("event_date"))

  test("upsert commit shares untouched partitions' files with the parent") {
    val base = Files.createTempDirectory("graft-versioned-spec").toString
    Versioned.commitFull(spark, base, rel, "event_date")
    val m0 = Versioned.readManifest(base, 0)
    val upd = rel.filter(col("event_date") === "2024-01-05")
      .withColumn("value", col("value") + 1.0)
    val v1 = Versioned.commitUpsert(spark, base, upd,
      Seq("event_id"), "event_date")
    assert(v1 == 1)
    val m1 = Versioned.readManifest(base, 1)
    val untouched0 = m0.entries.filterNot(_.part == "2024-01-05").toSet
    val untouched1 = m1.entries.filterNot(_.part == "2024-01-05").toSet
    assert(untouched0 == untouched1,
      "untouched partitions must carry the SAME file paths forward")
    assert(m1.entries.filter(_.part == "2024-01-05") !=
      m0.entries.filter(_.part == "2024-01-05"),
      "the touched partition must get new files")

    // snapshot immutability: v0 still reads the pre-update values
    val v0sum = Versioned.read(spark, base, 0)
      .filter(col("event_date") === "2024-01-05")
      .agg(sum(col("value").cast("decimal(18,2)"))).collect()(0).getDecimal(0)
    val v1sum = Versioned.read(spark, base, 1)
      .filter(col("event_date") === "2024-01-05")
      .agg(sum(col("value").cast("decimal(18,2)"))).collect()(0).getDecimal(0)
    val n = upd.count()
    assert(v1sum.subtract(v0sum).longValue() == n,
      s"v1 - v0 must be exactly +1.00 per updated row ($n rows)")

    // manifest-level pruning: the filtered read plans only that part's files
    val pruned = Versioned.read(spark, base, 1, _ == "2024-01-05")
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.getOrElse(fail("no file scan"))
    assert(scanned.forall(_.contains("part-2024-01-05")),
      s"pruned read scans foreign partitions: $scanned")
    assert(pruned.count() ==
      rel.filter(col("event_date") === "2024-01-05").count())

    // appends to a brand-new partition value land as a new part
    val nova = rel.limit(5).withColumn("event_date", lit("2099-12-31"))
      .withColumn("event_id", col("event_id") + 20000000L)
    val v2 = Versioned.commitUpsert(spark, base, nova,
      Seq("event_id"), "event_date")
    assert(Versioned.read(spark, base, v2, _ == "2099-12-31").count() == 5)
    assert(Versioned.readManifest(base, v2).entries.map(_.part)
      .contains("2099-12-31"))

    assert(Versioned.read(spark, base, 0).count() > 0, "history lost")
  }

  test("keyed delete and the change feed between versions") {
    val base = Files.createTempDirectory("graft-versioned-cdf").toString
    Versioned.commitFull(spark, base, rel, "event_date")
    val upd = rel.filter(col("event_date") === "2024-01-05")
      .withColumn("value", col("value") + 1.0)
    Versioned.commitUpsert(spark, base, upd, Seq("event_id"), "event_date")

    // 0 -> 1: every 01-05 row is an update (+1.0 changes each value);
    // rewritten survivors elsewhere don't exist, so NO inserts/deletes
    val f01 = Versioned.changesBetween(spark, base, 0, 1, Seq("event_id"))
    val types01 = f01.groupBy(col("change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types01.keySet == Set("update"), s"feed 0->1: $types01")
    assert(types01("update") == upd.count())
    // the feed's plan reads ONLY the changed partition's files
    // (sparkPlan: the pre-adaptive physical plan — AQE wraps executedPlan
    // so its leaves hide the scans until execution)
    val scanned = f01.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scanned.nonEmpty && scanned.forall(p =>
      p.contains("2024-01-05") || p.contains(Versioned.hexKey("2024-01-05"))),
      s"feed scans unchanged partitions: $scanned")

    // v2: delete EVERY row of 2024-01-06 plus half of 2024-01-08
    val delAll = rel.filter(col("event_date") === "2024-01-06")
    val delHalf = rel.filter(col("event_date") === "2024-01-08" &&
      col("event_id") % 2 === 0)
    val v2 = Versioned.commitDelete(spark, base,
      delAll.unionByName(delHalf).select(col("event_id"), col("event_date")),
      Seq("event_id"), "event_date")
    // fully-deleted partition drops off the manifest
    assert(!Versioned.readManifest(base, v2).entries.exists(_.part == "2024-01-06"))
    assert(Versioned.read(spark, base, v2)
      .filter(col("event_date") === "2024-01-06").count() == 0)
    assert(Versioned.read(spark, base, v2).count() ==
      rel.count() - delAll.count() - delHalf.count())
    // 1 -> 2: deletes only, carrying the OLD rows
    val f12 = Versioned.changesBetween(spark, base, 1, v2, Seq("event_id"))
    val types12 = f12.groupBy(col("change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types12.keySet == Set("delete") &&
      types12("delete") == delAll.count() + delHalf.count(), s"feed 1->2: $types12")
    // history intact: v1 still reads the deleted rows
    assert(Versioned.read(spark, base, 1)
      .filter(col("event_date") === "2024-01-06").count() == delAll.count())
  }

  test("single-pass bootstrap and atomic manifests") {
    val base = Files.createTempDirectory("graft-versioned-crash").toString
    Versioned.commitFull(spark, base, rel, "event_date")
    val m0 = Versioned.readManifest(base, 0)
    // the bootstrap is ONE partitionBy pass: every v0 entry is a hive-keyed
    // leaf of the same write, and the data files keep the partition column
    assert(m0.entries.forall(_.path.contains("/files/v0/__part=")),
      s"v0 entries not from the single-pass layout: ${m0.entries.take(3)}")
    assert(Versioned.read(spark, base, 0).columns.toSet ==
      rel.columns.toSet, "partitionBy bootstrap changed the read schema")
    assert(Versioned.read(spark, base, 0).count() == rel.count())

    val upd = rel.filter(col("event_date") === "2024-01-05")
      .withColumn("value", col("value") + 1.0)
    val v1 = Versioned.commitUpsert(spark, base, upd, Seq("event_id"), "event_date")

    // manifests commit atomically via temp-file + move: no .tmp residue
    val residue = Files.list(java.nio.file.Paths.get(base, "_manifests"))
      .iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(residue)
      .asScala.map(_.getFileName.toString).toSeq
    assert(names.sorted == Seq("v0.json", "v1.json"), s"manifest dir: $names")
    assert(Versioned.read(spark, base, v1).count() == rel.count())
  }

  test("rollback restores a version O(1) and is re-rollbackable") {
    val base = Files.createTempDirectory("graft-versioned-rb").toString
    Versioned.commitFull(spark, base, rel, "event_date")
    val upd = rel.filter(col("event_date") === "2024-01-05")
      .withColumn("value", col("value") + 1.0)
    val v1 = Versioned.commitUpsert(spark, base, upd, Seq("event_id"), "event_date")

    val filesBefore = Files.walk(java.nio.file.Paths.get(base, "files"))
      .iterator()
    val countBefore = scala.jdk.CollectionConverters
      .IteratorHasAsScala(filesBefore).asScala.size
    val v2 = Versioned.rollback(base, 0)
    assert(v2 == v1 + 1)
    // O(1): the rollback wrote NO data files — only a manifest
    val filesAfter = Files.walk(java.nio.file.Paths.get(base, "files"))
      .iterator()
    val countAfter = scala.jdk.CollectionConverters
      .IteratorHasAsScala(filesAfter).asScala.size
    assert(countAfter == countBefore,
      s"rollback touched data files: $countBefore -> $countAfter")
    // content identical to v0, entry list verbatim
    assert(Versioned.readManifest(base, v2).entries ==
      Versioned.readManifest(base, 0).entries)
    val d0 = Versioned.read(spark, base, 0).orderBy("event_id")
      .collect().toSeq
    assert(Versioned.read(spark, base, v2).orderBy("event_id")
      .collect().toSeq == d0)

    // rolling back the rollback restores v1
    val v3 = Versioned.rollback(base, v1)
    assert(Versioned.readManifest(base, v3).entries ==
      Versioned.readManifest(base, v1).entries)

    assert(Versioned.read(spark, base, v3).count() == rel.count())
    intercept[IllegalArgumentException](Versioned.rollback(base, v3)) // no-op target
  }

  test("shallow clone: O(1), branches diverge") {
    val src = Files.createTempDirectory("graft-clone-src").toString
    val dst = Files.createTempDirectory("graft-clone-dst").toString
    Versioned.commitFull(spark, src, rel, "event_date")
    Versioned.cloneTable(src, dst)
    // O(1): the clone wrote a manifest only — no data directory at all
    assert(!Files.exists(java.nio.file.Paths.get(dst, "files")))
    assert(Versioned.readManifest(dst, 0).entries ==
      Versioned.readManifest(src, 0).entries)
    assert(Versioned.read(spark, dst).count() == rel.count())

    // diverge: delete one day on the CLONE; the source must not move
    val day = rel.filter(col("event_date") === "2024-01-05")
      .select(col("event_id"), col("event_date"))
    val dv1 = Versioned.commitDelete(spark, dst, day, Seq("event_id"), "event_date")
    assert(Versioned.read(spark, src).count() == rel.count())
    assert(Versioned.read(spark, dst).count() ==
      rel.count() - day.count())

    assert(dv1 == 1)
    // cloning into a non-empty table fails loudly
    intercept[IllegalArgumentException](Versioned.cloneTable(src, dst))
  }

  // graded rows that write scratch tables take a fresh directory per call
  // (SparkEntry.tempDir): two sessions running the same row on the same
  // data never share, overwrite or clean each other's files
  test("two sessions running the scratch-table rows at once match a single run") {
    val names = Seq("x73_tpch_refresh", "x60_bloom_skip_index")
    def run(s: org.apache.spark.sql.SparkSession, name: String): Seq[String] =
      SparkEntry.queries(name)(s, dir).collect().map(_.toString).toSeq.sorted
    val single = names.map(n => n -> run(spark, n)).toMap
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CountDownLatch(1)
      val runs = Seq(spark.newSession(), spark.newSession()).map { s =>
        Future {
          start.await()
          names.map(n => n -> run(s, n)).toMap
        }
      }
      start.countDown()
      runs.foreach(r => assert(Await.result(r, 10.minutes) == single))
    } finally pool.shutdown()
  }
}
