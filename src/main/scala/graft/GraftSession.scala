package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode defaults are tuned for the test harness (local[32], 32 shuffle
  * partitions); on a real cluster the same builder is used without `master`,
  * letting spark-submit supply parallelism. AQE stays on everywhere so skewed
  * shuffles re-plan at runtime, which is the behavior we want at 100 TB.
  *
  * `file:` checkpoints resolve through [[graft.util.ForkFreeLocalFs]].
  * Without libhadoop, Hadoop's stock local `FileContext` filesystem forks
  * `chmod` on every file it creates and `readlink` on every rename: about
  * 180 processes per micro-batch of the canonical stream, across its offset
  * and commit logs and HDFS-backed state-store deltas. The registration
  * covers the `FileContext` API only. The `FileSystem` API (`fs.file.impl`,
  * which RocksDB snapshot uploads take) still forks `chmod`, and RocksDB
  * snapshot cleanup still forks `rm -rf`.
  */
object GraftSession {

  /** Apply graft's standard configuration to any builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // engine-wide: parquet TIMESTAMP(NANOS) reads as epoch-nanos long
      // (Spark has no ns type; Tables.events normalizes to a µs timestamp).
      // Set globally so semantics never depend on which table read first.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // ObjectHashAggregate (the machinery behind collect_list and graft's
      // TypedImperativeAggregates, e.g. TopKByScore) falls back to SORT-based
      // aggregation after this many distinct keys per task — default 128.
      // The fallback re-introduces exactly the full-candidate-set sort the
      // bounded top-k heap exists to avoid (observed: 5.5 GB spill, 75 s
      // stage at the ann_ivf_1m soak's 1,000 query groups). Object agg
      // buffers here are small bounded structures (k-entry heaps, sketch
      // registers), so 64k hash-resident keys per task is still tiny memory.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.util.ForkFreeLocalFs].getName)

  /** Switch streaming state to RocksDB — the production state backend:
    * state spills to local disk instead of living on the executor heap, so
    * high-cardinality dedup/window state survives at scale. Affects queries
    * started after the call (session-wide conf). */
  def enableRocksDbState(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Local session for tests / bench, with graft's SQL functions and
    * optimizer rules registered (production parity — the driver harness
    * runs every graded query with the extensions active). */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = cores
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
