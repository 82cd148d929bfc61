package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** File-layout properties: growth-stable shard assignment, z-order
  * interleave and clustering, skip-index pruning and compaction. (File
  * layout has no SQL oracle — these specs are the check, like the sink
  * specs.) */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("shard assignment never moves a row as the corpus grows") {
    val ids = spark.range(5000).toDF("doc_id")
    val small = ids.filter(col("doc_id") < 500)
      .select(col("doc_id"), Layout.shardId(col("doc_id"), 16).as("s"))
    val big = ids
      .select(col("doc_id"), Layout.shardId(col("doc_id"), 16).as("s"))
      .filter(col("doc_id") < 500)
    assert(small.exceptAll(big).isEmpty && big.exceptAll(small).isEmpty)
  }

  test("zValue matches the reference bit interleave, exhaustively at 4 bits") {
    val df = (for (x <- 0 until 16; y <- 0 until 16) yield (x, y)).toDF("x", "y")
    val got = df
      .select(col("x"), col("y"), Layout.zValue(Seq(col("x"), col("y")), bits = 4).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    def ref(x: Int, y: Int): Long = (0 until 4).map(b =>
      (((x >> b) & 1) << (2 * b)) | (((y >> b) & 1) << (2 * b + 1))).sum.toLong
    for (x <- 0 until 16; y <- 0 until 16)
      assert(got((x, y)) == ref(x, y), s"($x, $y)")
  }

  test("zValue fails loudly on out-of-range and null dims") {
    val over = Seq((300, 1)).toDF("x", "y")
    val e = intercept[Exception] {
      over.select(Layout.zValue(Seq(col("x"), col("y")), bits = 8)).collect()
    }
    assert(e.getMessage.contains("out of range") ||
      (e.getCause != null && e.getCause.getMessage.contains("out of range")))
    val withNull = Seq((Some(1), Option.empty[Int])).toDF("x", "y")
    intercept[Exception] {
      withNull.select(Layout.zValue(Seq(col("x"), col("y")), bits = 8)).collect()
    }
  }

  test("zOrder narrows per-file ranges on EVERY dim; a linear sort only on its leading dim") {
    // two independent uniform 8-bit dims
    val df = spark.range(20000).select(
      pmod(xxhash64(col("id"), lit("zx")), lit(256L)).as("x"),
      pmod(xxhash64(col("id"), lit("zy")), lit(256L)).as("y"))
    def meanRange(frame: org.apache.spark.sql.DataFrame, c: String): Double = frame
      .groupBy(spark_partition_id()).agg((max(col(c)) - min(col(c))).as("r"))
      .agg(avg(col("r"))).head().getDouble(0)
    val z = Layout.zOrder(df, Seq(col("x"), col("y")), bits = 8, numFiles = 16)
    // 16 z-ranges over an 8-bit x 8-bit grid ~ a 4x4 tiling: each file
    // covers ~1/4 of BOTH dims (sampling slack allowed), so min/max stats
    // prune scans filtering on either column
    assert(meanRange(z, "x") < 128, s"z x range ${meanRange(z, "x")}")
    assert(meanRange(z, "y") < 128, s"z y range ${meanRange(z, "y")}")
    // the linear layout's trailing dim spans ~the whole domain per file —
    // no stats-based skipping for predicates on y
    val linear = df.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
    assert(meanRange(linear, "x") < 64)
    assert(meanRange(linear, "y") > 200, s"linear y range ${meanRange(linear, "y")}")
  }

  test("skip index prunes files by footer stats; reads stay a superset") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-skip-spec").toString
    // value correlated with id so a range predicate is file-clusterable
    val df = spark.range(40000).select(col("id"),
      (col("id") % 997).cast("double").as("v"),
      (col("id") % 31).cast("int").as("d"))
    val dims = Seq(pmod(col("d").cast("long"), lit(256L)),
      least(col("v").cast("long") / 4L, lit(255L)))
    Layout.writeZOrdered(df, base, dims, bits = 8, numFiles = 16)
    Layout.writeSkipIndex(spark, base, Seq("v", "d"))
    val idx = spark.read.parquet(s"$base/_skipindex")
    val nFiles = idx.select(col("file")).distinct().count()
    assert(idx.count() == nFiles * 2, "one index row per (file, column)")
    // narrow range: strictly fewer files opened than exist
    val (pruned, sel, tot) = Layout.readSkipping(spark, base, "v", 100.0, 120.0)
    assert(tot == nFiles && sel < tot,
      s"no pruning: $sel of $tot files selected")
    // superset guarantee: pruned+filtered == full filtered, exactly
    val a = pruned.filter(col("v").between(100.0, 120.0))
      .agg(count(lit(1)), sum(col("id"))).collect()(0)
    val b = df.filter(col("v").between(100.0, 120.0))
      .agg(count(lit(1)), sum(col("id"))).collect()(0)
    assert(a == b, s"skipping dropped rows: $a vs $b")
    // out-of-domain range: zero files, schema-stable empty relation
    val (none, sel0, _) = Layout.readSkipping(spark, base, "v", 5000.0, 6000.0)
    assert(sel0 == 0 && none.count() == 0)
    assert(none.columns.toSeq == pruned.columns.toSeq)

    // metadata-only aggregates: exact count/min/max with ONLY the index
    // scanned (no data file appears in the plan)
    val so = Layout.statsOnlyAggregates(spark, base)
    val scannedPaths = so.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scannedPaths.nonEmpty && scannedPaths.forall(_.contains("_skipindex")),
      s"stats-only query touched data files: $scannedPaths")
    val soMap = so.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(soMap("v") == ((40000L, 0.0, 996.0)), s"v stats: ${soMap("v")}")
    assert(soMap("d") == ((40000L, 0.0, 30.0)), s"d stats: ${soMap("d")}")
  }

  test("file bloom index prunes point lookups; absent key opens ~no files") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-fbloom-spec").toString
    // uniformly-hashed ids: every file's [min, max] spans the domain, so
    // range skipping could never prune — the bloom's home turf
    val df = spark.range(20000).select(col("id"),
      pmod(col("id") * 2654435761L, lit(500L)).as("uid"))
    df.repartition(8, col("id")).write.mode("overwrite").parquet(base)
    Layout.writeBloomIndex(spark, base, "uid", kHashes = 4, mBits = 1 << 14)
    val (rel, sel, tot) = Layout.readBloomSkipping(spark, base, "7")
    assert(tot == 8, s"expected 8 files, got $tot")
    // superset guarantee: exact equality with the plain filter
    val a = rel.filter(col("uid") === 7L)
      .agg(count(lit(1)), sum(col("id"))).collect()(0)
    val b = df.filter(col("uid") === 7L)
      .agg(count(lit(1)), sum(col("id"))).collect()(0)
    assert(a == b, s"bloom skipping dropped rows: $a vs $b")
    assert(sel > 0 && sel <= tot)
    // a key outside the domain: at these parameters (4 hashes, 16 Kbit,
    // ~500 distinct values per file) false positives are ~impossible —
    // the lookup must open zero files and stay schema-stable
    val (none, sel0, _) = Layout.readBloomSkipping(spark, base, "no-such-key")
    assert(sel0 == 0 && none.count() == 0, s"absent key opened $sel0 files")
    assert(none.columns.toSeq == rel.columns.toSeq)
  }

  test("compact bin-packs small files to the byte-derived count, content intact") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-compact-spec")
    val df = spark.range(50000).select(col("id"),
      md5(col("id").cast("string")).as("payload"))
    df.repartition(64).write.mode("overwrite").parquet(s"$base/small")
    def parquetFiles(d: String): Seq[java.io.File] =
      new java.io.File(d).listFiles.toSeq.filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$base/small").size == 64)
    val smallBytes = parquetFiles(s"$base/small").map(_.length).sum
    val target = smallBytes / 4 // force a multi-file pack, data-derived
    val n = Layout.compact(spark, s"$base/small", s"$base/packed", target)
    val out = parquetFiles(s"$base/packed")
    assert(out.size == n, s"compact reported $n files, wrote ${out.size}")
    assert(n < 64 && n >= 2, s"expected a real pack, got $n files")
    // content-identical: compaction must be invisible to queries
    val back = spark.read.parquet(s"$base/packed")
    assert(back.count() == 50000)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }
}
