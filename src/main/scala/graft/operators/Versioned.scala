package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Versioned table with manifest-based snapshots — Delta-lite time travel
  * over plain parquet.
  *
  * A table is a directory of immutable data files plus `_manifests/vN.json`
  * listing, per version, the files that make up that snapshot (each entry
  * carries its partition value). A commit writes NEW files only for the
  * partitions the change batch touches and re-lists every untouched
  * partition's existing files — so commits cost O(delta) I/O while every
  * historical version stays readable forever at O(1) lookup (read the
  * manifest, scan its files). This is the property that makes time travel
  * affordable at 100 TB: version N+1 of a 10-year table that changed one
  * day shares 3,649 days of files with version N on disk.
  *
  * Readers never list the directory (a listing would see uncommitted or
  * dead files): the manifest IS the table. Files referenced by any
  * manifest are never rewritten or deleted; there is no vacuum, so every
  * version stays readable until the table directory itself is removed.
  *
  * The partition column is stored IN the data files (not as hive
  * directories): partition pruning happens at manifest level — the reader
  * selects the manifest entries whose partition value passes the
  * predicate and scans only those files.
  */
object Versioned {

  final case class Entry(path: String, part: String)
  final case class Manifest(version: Int, entries: Seq[Entry])

  private def manifestDir(dir: String) = Paths.get(dir, "_manifests")

  private def writeManifest(dir: String, m: Manifest): Unit = {
    Files.createDirectories(manifestDir(dir))
    val body = m.entries.map(e =>
        s"""{"path":"${graft.util.Json.escape(e.path)}","part":"${
          graft.util.Json.escape(e.part)}"}""")
      .mkString(s"""{"version":${m.version},"entries":[""", ",", "]}")
    // the commit point must be atomic: a manifest is either fully present
    // or absent (an in-place write interrupted mid-stream would leave a
    // truncated vN.json that latestVersion selects, breaking every later
    // read and commit). Write to a temp sibling and move into place; a
    // pre-existing target means a concurrent/duplicate commit — fail loudly
    // rather than silently rewrite committed history.
    val target = manifestDir(dir).resolve(s"v${m.version}.json")
    val tmp = Files.createTempFile(manifestDir(dir), s"v${m.version}", ".tmp")
    Files.writeString(tmp, body)
    // createLink is atomic AND non-replacing (rename(2)/ATOMIC_MOVE would
    // silently replace an existing target, so a racing duplicate commit
    // could overwrite committed history after both passed an exists()
    // check) — the loser gets FileAlreadyExistsException and fails loudly
    try Files.createLink(target, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new IllegalStateException(
          s"manifest v${m.version} already committed at $dir")
    }
    Files.deleteIfExists(tmp)
  }

  /** Latest committed version, or -1 for an empty table. */
  def latestVersion(dir: String): Int = {
    val md = manifestDir(dir)
    if (!Files.exists(md)) return -1
    Files.list(md).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .foldLeft(-1)(math.max)
  }

  def readManifest(dir: String, version: Int): Manifest = {
    val txt = Files.readString(manifestDir(dir).resolve(s"v$version.json"))
    // minimal parser for the fixed shape written above (no JSON lib on the
    // classpath by design)
    val ver = """"version":(\d+)""".r.findFirstMatchIn(txt).get.group(1).toInt
    val entry = """\{"path":"((?:[^"\\]|\\.)*)","part":"((?:[^"\\]|\\.)*)"\}""".r
    val entries = entry.findAllMatchIn(txt).map { m =>
      Entry(unescape(m.group(1)), unescape(m.group(2)))
    }.toSeq
    Manifest(ver, entries)
  }

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** Write `rows` for one partition value as a new immutable file dir. */
  private def writePart(
      dir: String, version: Int, part: String, rows: DataFrame): Entry = {
    val path = Paths.get(dir, "files", s"v$version", s"part-$part").toString
    rows.write.mode("overwrite").parquet(path)
    Entry(path, part)
  }

  /** Per-partition commit rewrites, CONCURRENT (r16, optimization guide
    * §2.6 "overlap independent jobs"): the touched partitions' rewrite
    * jobs are independent by construction — each reads its own current
    * files, anti-joins the shared (already-materialized) delta, and
    * writes its own new immutable dir — and the r15 serial loop left
    * most of the cluster idle through every small job's tail. A window
    * of up to 3 in-flight partitions lets the next rewrite back-fill
    * executors the current one's write tail frees; the manifest commit
    * stays strictly AFTER every rewrite (the ordering that makes a
    * mid-commit crash leave only unreferenced files, exactly as before).
    * Result order follows `parts` (deterministic manifests). Worker
    * threads inherit the caller's checkpoint scope and active session —
    * without that, cuts made inside `f` would leak past the query's
    * [[graft.util.Checkpoints.scoped]] release. */
  private def mapPartsConcurrently[T](spark: SparkSession, parts: Seq[String])(
      f: String => T): Seq[T] = {
    if (parts.lengthCompare(2) < 0) return parts.map(f)
    import scala.concurrent.{Await, ExecutionContext, Future}
    val scope = graft.util.Checkpoints.currentScope
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(3, parts.length))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = parts.map { p =>
        Future {
          SparkSession.setActiveSession(spark)
          graft.util.Checkpoints.inScope(scope)(f(p))
        }
      }
      Await.result(Future.sequence(fs),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
  }

  /** Hex of a partition value's UTF-8 bytes — the filesystem-safe
    * directory key the single-pass bootstrap partitions by. Matches Spark's
    * `hex()` (uppercase), so the Scala-side manifest entries and the
    * executor-side directory names are the same pure function of the
    * value — no escaping rules, no post-write listing/decoding. */
  private[operators] def hexKey(p: String): String =
    p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map("%02X".format(_)).mkString

  /** Initial commit (v0): the full relation in ONE `partitionBy` pass —
    * one job regardless of how many partition values the table has (a
    * per-partition filter loop would launch one full scan of the staged
    * relation per value: 3,650 jobs for a 10-year daily table). The data
    * files keep `partCol` as a real column (the table contract): the
    * write partitions by a hex-keyed COPY, which Spark drops into the
    * directory name, and each manifest entry points at its value's leaf
    * dir. `partCol` must be castable to string (it is stored both in the
    * data and on the manifest entry). */
  def commitFull(
      spark: SparkSession, dir: String, rows: DataFrame, partCol: String): Int = {
    require(latestVersion(dir) == -1, s"$dir already has commits")
    val staged = graft.util.Checkpoints.cut(
      rows.withColumn(partCol, col(partCol).cast("string")))
    // bounded: partition values are sized in days/categories by contract
    val rawParts = staged.select(col(partCol)).distinct()
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    // null/empty partition values would collapse into Spark's shared
    // __HIVE_DEFAULT_PARTITION__ directory (merging distinct values and
    // breaking the hex-keyed manifest mapping) — reject loudly
    require(!rawParts.exists(p => p == null || p.isEmpty),
      s"partition column '$partCol' has null/empty values: a versioned " +
        "table needs a real partition value per row (map blanks to an " +
        "explicit sentinel before committing)")
    val parts = rawParts.sorted
    val base = Paths.get(dir, "files", "v0").toString
    staged.withColumn("__part", hex(col(partCol).cast("binary")))
      .repartition(col("__part"))
      .write.partitionBy("__part").mode("overwrite").parquet(base)
    val entries = parts.map { p =>
      val path = s"$base/__part=${hexKey(p)}"
      require(Files.exists(Paths.get(path)),
        s"bootstrap wrote no directory for partition value '$p' ($path)")
      Entry(path, p)
    }
    writeManifest(dir, Manifest(0, entries.toSeq))
    0
  }

  /** Keyed upsert commit: new files ONLY for the partitions `updates`
    * touches (survivors re-written with the updates, O(delta)); untouched
    * partitions carry their existing entries forward unchanged. Returns
    * the new version. */
  def commitUpsert(
      spark: SparkSession, dir: String, updates: DataFrame,
      keyCols: Seq[String], partCol: String): Int = {
    val v0 = latestVersion(dir)
    require(v0 >= 0, s"$dir has no initial commit")
    val m = readManifest(dir, v0)
    val v1 = v0 + 1
    val u = graft.util.Checkpoints.cut(
      updates.withColumn(partCol, col(partCol).cast("string")))
    val touched = u.select(col(partCol)).distinct()
      .collect().map(_.getString(0)).toSet
    val (affected, carried) = m.entries.partition(e => touched(e.part))
    val affectedByPart = affected.groupBy(_.part)
    val newEntries = mapPartsConcurrently(spark, touched.toSeq.sorted) { p =>
      val updP = u.filter(col(partCol) === p)
      val current = affectedByPart.get(p) match {
        case Some(es) => spark.read.parquet(es.map(_.path): _*)
        case None => updP.limit(0) // brand-new partition
      }
      val survivors = current.join(
        u.select(keyCols.map(col): _*), keyCols, "left_anti")
      writePart(dir, v1, p, graft.util.Checkpoints.cut(
        survivors.unionByName(updP.select(survivors.columns.map(col): _*))))
    }
    writeManifest(dir, Manifest(v1, carried ++ newEntries))
    v1
  }

  /** Keyed DELETE commit — the missing third of the warehouse verb set
    * (full load, upsert, delete): rewrite ONLY the partitions the delete
    * keys touch, anti-joining their current rows against the keys;
    * untouched partitions carry their entries forward. `keys` must carry
    * `keyCols` plus `partCol` (the same locality contract
    * [[commitUpsert]]'s updates meet — without the partition value a
    * delete would scan the whole table to find its rows). A partition
    * whose rows are all deleted drops off the manifest entirely. Returns
    * the new version; history below it stays readable (time travel still
    * sees the deleted rows). */
  def commitDelete(
      spark: SparkSession, dir: String, keys: DataFrame,
      keyCols: Seq[String], partCol: String): Int = {
    val v0 = latestVersion(dir)
    require(v0 >= 0, s"$dir has no initial commit")
    val m = readManifest(dir, v0)
    val v1 = v0 + 1
    val k = graft.util.Checkpoints.cut(
      keys.withColumn(partCol, col(partCol).cast("string")))
    val touched = k.select(col(partCol)).distinct()
      .collect().map(_.getString(0)).toSet
    val (affected, carried) = m.entries.partition(e => touched(e.part))
    val affectedByPart = affected.groupBy(_.part)
    val newEntries = mapPartsConcurrently(spark, touched.toSeq.sorted) { p =>
      affectedByPart.get(p).map { es =>
        val current = spark.read.parquet(es.map(_.path): _*)
        val survivors = graft.util.Checkpoints.cut(
          current.join(k.filter(col(partCol) === p).select(keyCols.map(col): _*),
            keyCols, "left_anti"))
        if (survivors.isEmpty) None // partition fully deleted: no entry
        else Some(writePart(dir, v1, p, survivors))
      }.getOrElse(None) // keys naming an absent partition delete nothing
    }.flatten
    writeManifest(dir, Manifest(v1, carried ++ newEntries))
    v1
  }

  /** Change data feed between two committed versions: one row per key
    * whose state differs, `(change_type, <table columns>)` with
    * `change_type` in insert/update/delete — inserts and updates carry
    * the NEW values, deletes the OLD. The diff never scans the whole
    * table: partitions whose manifest file sets are IDENTICAL between the
    * versions are skipped unread (immutable files — same paths means same
    * rows), so the scan cost tracks what actually changed, and rewritten-
    * but-identical rows (an upsert re-writing a partition's survivors)
    * are value-diffed away by null-safe struct comparison. */
  /** The rows of every CHANGED partition at `v0` and at `v1` — partitions
    * whose manifest file sets are identical are skipped unread (immutable
    * files: same paths means same rows), so the pair's scan cost tracks
    * what actually changed. The primitive under [[changesBetween]] (keyed
    * diff) and retraction-based incremental rollup maintenance (aggregate
    * new minus old). */
  def changedPartitionRows(
      spark: SparkSession, dir: String, v0: Int,
      v1: Int): (DataFrame, DataFrame) = {
    require(v0 < v1, s"need v0 < v1, got $v0 >= $v1")
    val e0 = readManifest(dir, v0).entries.groupBy(_.part)
    val e1 = readManifest(dir, v1).entries.groupBy(_.part)
    val changed = (e0.keySet ++ e1.keySet).filter { p =>
      e0.get(p).map(_.map(_.path).toSet) != e1.get(p).map(_.map(_.path).toSet)
    }
    def side(m: Map[String, Seq[Entry]]): Seq[String] =
      changed.toSeq.sorted.flatMap(p => m.getOrElse(p, Seq.empty).map(_.path))
    val schema = read(spark, dir, v1).schema
    def load(paths: Seq[String]): DataFrame =
      if (paths.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(paths: _*)
    (load(side(e0)), load(side(e1)))
  }

  def changesBetween(
      spark: SparkSession, dir: String, v0: Int, v1: Int,
      keyCols: Seq[String]): DataFrame = {
    val (oldRows, newRows) = changedPartitionRows(spark, dir, v0, v1)
    val dataCols = newRows.schema.fieldNames.toSeq
    val nonKey = dataCols.filterNot(keyCols.contains)
    require(keyCols.nonEmpty && keyCols.forall(dataCols.contains),
      s"keyCols $keyCols not all present in $dataCols")
    val o = oldRows.select(
      keyCols.map(col) :+ struct(nonKey.map(col): _*).as("__ov"): _*)
    val n = newRows.select(
      keyCols.map(col) :+ struct(nonKey.map(col): _*).as("__nv"): _*)
    val j = o.join(n, keyCols, "full_outer")
    val typ = when(col("__ov").isNull, "insert")
      .when(col("__nv").isNull, "delete")
      .when(!(col("__ov") <=> col("__nv")), "update")
    val src = when(col("__nv").isNull, col("__ov")).otherwise(col("__nv"))
    j.withColumn("change_type", typ)
      .filter(col("change_type").isNotNull)
      .select(col("change_type") +: dataCols.map(c =>
        if (keyCols.contains(c)) col(c) else src.getField(c).as(c)): _*)
  }

  /** Shallow clone: a NEW table at `dstDir` whose v0 re-lists `version`'s
    * entries verbatim — O(1) I/O at any table size (Delta's shallow-clone
    * semantics). The clone SHARES the source's immutable files: commits to
    * either table only ever add files under their own directory, so the
    * branches diverge safely. Removing the SOURCE directory removes files
    * the clone still names. */
  def cloneTable(srcDir: String, dstDir: String, version: Int = -1): Int = {
    require(latestVersion(dstDir) == -1, s"$dstDir already has commits")
    val v = if (version < 0) latestVersion(srcDir) else version
    require(v >= 0, s"$srcDir has no commits to clone")
    writeManifest(dstDir, Manifest(0, readManifest(srcDir, v).entries))
    0
  }

  /** Rollback commit: restore the table to the content of `toVersion` by
    * writing a NEW manifest that re-lists that version's entries verbatim.
    * Because data files are immutable and already on disk, restoring is
    * O(1) I/O at ANY table size — rolling a 100 TB table back from a bad
    * load costs one manifest write, never a data copy. The bad versions
    * stay readable (rollback is an ordinary commit, auditable and itself
    * rollback-able). */
  def rollback(dir: String, toVersion: Int): Int = {
    val latest = latestVersion(dir)
    require(toVersion >= 0 && toVersion < latest,
      s"rollback target $toVersion outside [0, ${latest - 1}] " +
        s"(latest is v$latest; rolling back to latest is a no-op)")
    val v1 = latest + 1
    writeManifest(dir, Manifest(v1, readManifest(dir, toVersion).entries))
    v1
  }

  /** Snapshot read at `version` (default: latest). The manifest is the
    * table — no directory listing. `partFilter` prunes at MANIFEST level:
    * only entries whose partition value passes are scanned at all. */
  def read(
      spark: SparkSession, dir: String, version: Int = -1,
      partFilter: String => Boolean = _ => true): DataFrame = {
    val v = if (version < 0) latestVersion(dir) else version
    val entries = readManifest(dir, v).entries.filter(e => partFilter(e.part))
    require(entries.nonEmpty, s"no partitions selected at v$v")
    spark.read.parquet(entries.map(_.path): _*)
  }
}
