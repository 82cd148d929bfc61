package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed MERGE/upsert into a date-partitioned parquet table — the missing
  * verb after [[Layout.writeDatePartitioned]] (write), [[Layout.compact]]
  * (maintain), and the schema-evolution read (`x30`): apply a batch of
  * keyed changes without rewriting the table.
  *
  * The 100 TB property is partition confinement: the merge touches ONLY
  * the partitions the update batch lands in. Implementation: dynamic
  * partition overwrite (`partitionOverwriteMode=dynamic`) — the job reads
  * the affected partitions' current rows (partition pruning makes that a
  * directory-scoped scan), anti-joins the update keys (updates win), unions
  * the updates, and overwrites just those directories; every untouched
  * partition's files are left byte-identical on disk (spec-pinned via file
  * mtimes). A whole-table read-modify-rewrite would be correct and
  * O(table); this is O(delta partitions) like Hive/Delta MERGE.
  *
  * Updates spanning a partition move (a row whose key exists in partition
  * A re-arriving with partition value B) land in B while the stale A copy
  * would survive — the classic partitioned-upsert caveat. This
  * implementation targets the append/correct-in-place pattern where the
  * partition column is stable per key (event date); a key-relocating merge
  * needs a global key index and is out of scope.
  */
object Merge {

  /** Upsert `updates` into the partitioned table at `dir`. `updates` must
    * carry the table's full schema including `partCol`. Rows matching an
    * existing key (within their partition) replace it; new keys append. */
  def upsertPartitioned(
      spark: SparkSession,
      dir: String,
      updates: DataFrame,
      keyCols: Seq[String],
      partCol: String): Unit = {
    // cached OUTSIDE the try so the finally can always release it: an
    // unpersist only on the success path would leak the cached delta in
    // the block manager for the session lifetime if the staged write threw
    val u = updates.cache()
    try graft.GraftSession.withConfs(spark,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      // partition pruning: the IN-list of affected partition values keeps
      // the current-rows scan directory-scoped (a handful of dirs, not the
      // table). collect() here is bounded by the number of AFFECTED
      // partitions — days, not rows.
      val parts = u.select(col(partCol)).distinct().collect().map(_.get(0))
      val current = spark.read.parquet(dir)
        .filter(col(partCol).isin(parts: _*))
      val survivors = current.join(
        u.select(keyCols.map(col): _*), keyCols, "left_anti")
      // the merged rows must be MATERIALIZED before the overwrite: the
      // write would otherwise read `dir` while replacing it (Spark rejects
      // self-overwrites, and a partial read-during-delete would corrupt).
      // The cut holds only the affected partitions' rows — delta-sized.
      val staged = graft.util.Checkpoints.cut(
        survivors.unionByName(u.select(survivors.columns.map(col): _*)))
      staged.repartition(col(partCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(dir)
    } finally u.unpersist()
  }
}
