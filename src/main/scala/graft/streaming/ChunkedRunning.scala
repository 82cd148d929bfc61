package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming chunked running aggregate — the streaming counterpart of
  * [[graft.operators.Skew.runningAggChunked]] (VERDICT r10 #7).
  *
  * The batch pathology has a streaming twin: a per-event running aggregate
  * per key (`sum(v) OVER (PARTITION BY k ORDER BY o ROWS UNBOUNDED
  * PRECEDING)` over an arrival-ordered stream) implemented with a stateful
  * per-key operator (`flatMapGroupsWithState` keeping the running total)
  * processes a hot key's entire micro-batch slice serially in ONE task —
  * at 100 TB/day the hottest key IS the micro-batch's wall clock, and the
  * state-store partition it hashes to serializes every batch.
  *
  * The decomposition splits the work the same way the batch verb does,
  * but across the batch/state boundary:
  *
  *  1. WITHIN each micro-batch: the batch-local running aggregate via the
  *     chunk decomposition — the hot key spreads over `chunks` tasks
  *     instead of serializing one;
  *  2. ACROSS micro-batches: one offset scalar per key (the aggregate of
  *     everything before this batch). State is O(distinct keys) — one row
  *     each — maintained as a DataFrame full-outer-merged with the batch's
  *     per-key totals, NOT per-event state;
  *  3. result = combine(batch-local running, key offset), with the window
  *     aggregate's null discipline (sum: null only when both sides are
  *     null; min/max: null-skipping least/greatest; count: never null).
  *
  * Ordering contract (same as any running aggregate over a stream): events
  * arrive in non-decreasing `ord` per key across micro-batches, and `ord`
  * is unique within a key (ties have no defined running order). Within a
  * batch the chunk verb orders by `ord` explicitly, so intra-batch arrival
  * order is free.
  *
  * Durability: with `stateDir` set, the per-key offsets are snapshotted to
  * `stateDir/off_<batchId>` after every batch and reloaded on replay or
  * restart — foreachBatch re-delivers the failed batch with the same
  * batchId, the entry check sees the in-memory state is not at
  * `batchId - 1`, and reloads the newest snapshot `<= batchId - 1`, so the
  * re-run combines against exactly the pre-batch offsets (sink output is
  * deterministic per batchId — idempotent for an idempotent sink, the
  * standard foreachBatch exactly-once contract). Without `stateDir` the
  * offsets live only in this closure: correct for an uninterrupted query,
  * lost on restart — pass a directory for anything durable.
  *
  * Lineage: each batch's offsets derive from the previous batch's — an
  * unbounded DAG after thousands of micro-batches. The offsets frame is
  * therefore `localCheckpoint`ed (truncates lineage; executor-local blocks
  * are fine because `stateDir` holds the durable copy) every batch.
  */
object ChunkedRunning {

  /** Build the `(DataFrame, Long) => Unit` to pass to
    * `writeStream.foreachBatch`: computes `resultCol` (the running `agg`
    * of `valueCol` per `keyCol` in `ordCol` order, across ALL batches so
    * far) on every row of each micro-batch and hands the widened batch to
    * `sink`. `agg` one of sum/min/max/count; integral value columns keep
    * the batch verb's exactness contract. `chunks = 1` disables the
    * intra-batch decomposition (plain per-key window inside each batch,
    * same cross-batch offsets) — the honest A/B baseline the
    * `stream_running_{plain,chunked}` soak pair measures, and the right
    * setting when no key is hot.
    *
    * `chunks = 0` selects PER BATCH (r12, VERDICT r11 #3 — the soak
    * showed chunks = 32 costs ~34% wall on a 2.5M-row batch even with a
    * 60%-hot key, because at that size the straggler doesn't dominate
    * yet): the per-key totals the verb computes anyway get a row count,
    * and chunking engages only when some key holds at least
    * `autoHotRows` rows (default 4M — sized from that measurement with
    * headroom; the batch-scale analogue of AutoChunkWindow's perKeyRows
    * gate). Since r17 the auto path HOT-SPLITS (VERDICT r16 #1): only
    * the proven-hot keys take the chunk decomposition, the lukewarm
    * tail rides the plain window, both legs exact — see the body. The
    * census costs one map-side-combined count column on an aggregate
    * the verb already runs, so auto is safe to leave on. */
  def foreachBatch(
      keyCol: String,
      ordCol: String,
      valueCol: String,
      resultCol: String,
      agg: String = "sum",
      chunks: Int = 32,
      stateDir: Option[String] = None,
      autoHotRows: Long = 4000000L,
      autoChunks: Int = 32)(
      sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    require(Set("sum", "min", "max", "count")(agg),
      s"ChunkedRunning supports sum/min/max/count, got '$agg'")
    require(chunks >= 0 && chunks <= 4096, s"chunks out of range: $chunks")
    require(autoChunks >= 2 && autoChunks <= 4096 && autoHotRows >= 1,
      s"bad auto-chunk thresholds: autoChunks=$autoChunks autoHotRows=$autoHotRows")
    val aggFn: Column => Column = agg match {
      case "sum" => sum(_)
      case "min" => min(_)
      case "max" => max(_)
      case _ => count(_)
    }
    def combine(loc: Column, off: Column): Column = agg match {
      case "sum" => when(loc.isNull && off.isNull, lit(null))
        .otherwise(coalesce(loc, lit(0L)) + coalesce(off, lit(0L)))
      case "min" => least(loc, off)
      case "max" => greatest(loc, off)
      case _ => loc + coalesce(off, lit(0L))
    }

    // closure state: offsets after the last processed batch. foreachBatch
    // invocations are serial per query, so plain vars are safe.
    var offsets: Option[DataFrame] = None
    var lastId: Long = -1L

    def snapshotPath(dir: String, id: Long) = s"$dir/off_$id"
    // snapshots are written through Spark's Hadoop-FS writer, so listing
    // and pruning must go through the SAME API (ADVICE r11: java.io.File
    // returns null on an HDFS/S3 stateDir — exactly where durable state
    // lives at scale — and a restart would silently continue with EMPTY
    // offsets). The name parse is regex-guarded: a stray off_* temp or
    // marker entry must be ignored, not crash the query.
    val snapName = "^off_(\\d+)$".r
    def hadoopFs(spark: org.apache.spark.sql.SparkSession, dir: String) =
      new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
    def listSnapshots(
        spark: org.apache.spark.sql.SparkSession, dir: String): Seq[Long] = {
      val fs = hadoopFs(spark, dir)
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.flatMap(_.getPath.getName match {
        case snapName(id) => Some(id.toLong)
        case _ => None
      })
    }

    (batch: DataFrame, batchId: Long) => {
      Seq(keyCol, ordCol, valueCol).foreach(c =>
        require(batch.columns.contains(c),
          s"column '$c' not found in ${batch.columns.mkString("[", ",", "]")}"))
      require(!batch.columns.contains(resultCol),
        s"batch already carries '$resultCol'")
      Seq("__run_loc", "__off_k", "__off_v", "__t_k", "__t_v", "__t_n").foreach(h =>
        require(!batch.columns.contains(h),
          s"input already carries the internal column '$h'"))
      val spark = batch.sparkSession
      // replay/restart detection: in-memory state must be exactly at
      // batchId - 1; anything else reloads the newest durable snapshot
      // at or before batchId - 1 (or starts empty when none exists)
      if (lastId != batchId - 1) {
        offsets.foreach(_.unpersist())
        offsets = stateDir.flatMap { dir =>
          val ids = listSnapshots(spark, dir).filter(_ <= batchId - 1)
          if (ids.isEmpty) None
          else Some(spark.read.parquet(snapshotPath(dir, ids.max)).persist())
        }
        lastId = batchId - 1
      }

      // per-key totals: they feed the census (auto mode only) and the
      // next batch's offsets — one map-side-combined aggregate serves
      // both (the count column is the census). ONLY the auto path
      // (chunks = 0) pins them eagerly, because only it runs a separate
      // census action; with forced chunks the totals stay LAZY and
      // materialize once inside merged's localCheckpoint below — an
      // eager checkpoint there is a whole extra job per micro-batch for
      // a census nobody reads (ADVICE r12).
      val totalsBase = batch.groupBy(col(keyCol).as("__t_k"))
        .agg(aggFn(col(valueCol)).as("__t_v"), count(lit(1)).as("__t_n"))
      def plainLocal(b: DataFrame): DataFrame = {
        import org.apache.spark.sql.expressions.Window
        b.withColumn("__run_loc", aggFn(col(valueCol)).over(
          Window.partitionBy(col(keyCol)).orderBy(col(ordCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      }
      def chunkedLocal(b: DataFrame, c: Int): DataFrame =
        graft.operators.Skew.runningAggChunked(
          b, keyCol, ordCol, valueCol, "__run_loc", agg, c)

      // 1. batch-local running aggregate. Forced chunks keep the r11/r12
      //    arms verbatim (1: plain per-key window, the baseline form;
      //    >= 2: the whole batch through the decomposition). chunks = 0
      //    decides from THIS batch's census — and since r17 it does the
      //    HOT-KEY SPLIT, the streaming twin of AutoChunkWindow's (VERDICT
      //    r16 #1): the per-key totals the verb computes anyway are an
      //    EXACT census, so the heavy-hitter list is free — keys holding
      //    >= autoHotRows rows route through the chunk decomposition, the
      //    lukewarm tail rides the plain per-key window, and the legs
      //    union. The predicate is a pure function of the key (xxhash64,
      //    null-safe, never null), so every key lands whole on exactly
      //    one EXACT leg: answer-neutral by construction (a hash
      //    collision only promotes a lukewarm key into the exact chunk
      //    leg). More than `maxHotKeys` hot keys is the avg-hot analog —
      //    the typical key IS the problem — so the whole batch chunks,
      //    which also bounds the driver collect (the list can only
      //    exceed the cap when autoHotRows is set far below batch size).
      val maxHotKeys = 4096
      val (totals, local) =
        if (chunks == 1) (totalsBase, plainLocal(batch))
        else if (chunks > 1) (totalsBase, chunkedLocal(batch, chunks))
        else {
          val t = totalsBase.localCheckpoint(true)
          val hot = t.filter(col("__t_n") >= autoHotRows)
            .select(xxhash64(col("__t_k")).as("__h"))
            .limit(maxHotKeys + 1).collect().map(_.getLong(0))
          val loc =
            if (hot.isEmpty) plainLocal(batch)
            else if (hot.length > maxHotKeys) chunkedLocal(batch, autoChunks)
            else {
              val pred = xxhash64(col(keyCol))
                .isin(hot.toSeq.map(Long.box): _*)
              chunkedLocal(batch.filter(pred), autoChunks)
                .unionByName(plainLocal(batch.filter(!pred)))
            }
          (t, loc)
        }
      // 2. + the per-key offset from every prior batch (null-safe key
      //    equality: a NULL key is a normal running partition). A LEFT
      //    join: new keys have no offset yet. The offsets side is one row
      //    per key — broadcast-sized for most key spaces; Spark/AQE picks
      //    the strategy.
      val result = offsets match {
        case Some(off) =>
          local.join(off, col(keyCol) <=> col("__off_k"), "left")
            .withColumn(resultCol, combine(col("__run_loc"), col("__off_v")))
            .drop("__off_k", "__off_v", "__run_loc")
        case None =>
          // combine(loc, null) keeps the null discipline exactly
          local.withColumn(resultCol,
              combine(col("__run_loc"), lit(null).cast(local.schema("__run_loc").dataType)))
            .drop("__run_loc")
      }
      sink(result, batchId)

      // 3. fold the batch's per-key totals into the offsets for the NEXT
      //    batch (full outer: keys seen only before keep their offset,
      //    new keys enter). localCheckpoint truncates the per-batch
      //    lineage chain.
      val merged = offsets match {
        case Some(off) =>
          off.join(totals, col("__off_k") <=> col("__t_k"), "full_outer")
            .select(
              coalesce(col("__off_k"), col("__t_k")).as("__off_k"),
              (if (agg == "count")
                 coalesce(col("__off_v"), lit(0L)) + coalesce(col("__t_v"), lit(0L))
               else combine(col("__t_v"), col("__off_v"))).as("__off_v"))
        case None =>
          totals.select(col("__t_k").as("__off_k"), col("__t_v").as("__off_v"))
      }
      // coalesce(k_old, k_new) maps a NULL key to NULL correctly ONLY via
      // the null-safe join (both sides' key columns are null together)
      val next = merged.localCheckpoint(true)
      stateDir.foreach { dir =>
        next.write.mode("overwrite").parquet(snapshotPath(dir, batchId))
        // prune via the Hadoop FS (same API the writer used): replay can
        // only ever ask for batchId - 1
        val fs = hadoopFs(spark, dir)
        listSnapshots(spark, dir).filter(_ < batchId - 1).foreach { old =>
          fs.delete(new org.apache.hadoop.fs.Path(snapshotPath(dir, old)), true)
        }
      }
      offsets.foreach(_.unpersist())
      offsets = Some(next)
      lastId = batchId
    }
  }
}
