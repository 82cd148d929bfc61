package graft.util

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.SpendingPipeline
import graft.streaming.SpendingPipeline.{Sink, Source}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  ChecksumCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** graft's local `FileContext` filesystem forks nothing on the checkpoint
  * path, and leaves the same files, modes and errors as Hadoop's stock
  * `LocalFs`. */
class ForkFreeLocalFsSpec extends SparkSpec {
  import ForkFreeLocalFsSpec._

  test("the canonical stream starts no chmod or readlink process") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val chunks = (0 until 3).map(b => graft.sources.DataGen
      .transactionsJson(spark, 500, startId = b * 500L).collect().map(_.getString(0)))
    val ms = MemoryStream[String]
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val q = SpendingPipeline.run(spark, Source.Raw(ms.toDF()), Sink.Memory("fork_free"))
      try chunks.foreach { c => ms.addData(c.toIndexedSeq); q.processAllAvailable() }
      finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    } finally rec.stop()
    val out = Files.createTempFile("graft-process-start", ".jfr")
    try {
      rec.dump(out)
      val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
        .map(_.getString("command"))
        .filter(c => Seq("chmod", "readlink").exists(c.split(' ').head.endsWith))
      assert(forks.isEmpty, s"${forks.size} processes, e.g. ${forks.take(3)}")
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("checkpoint file operations match Hadoop's stock LocalFs") {
    def fsClass(impl: Option[String]): Class[_] = withFileImpl(spark, impl) {
      FileContext.getFileContext(new java.net.URI("file:///"), hadoopConf)
        .getDefaultFileSystem.getClass
    }
    assert(fsClass(None) == classOf[ForkFreeLocalFs])
    assert(fsClass(Some(StockLocalFs)) == classOf[org.apache.hadoop.fs.local.LocalFs])

    val graft = checkpointOps(None)
    val stock = checkpointOps(Some(StockLocalFs))
    // Hadoop's sidecar of a file f is .f.crc, Spark's checksum file f.crc
    val names = graft.tree.map(p => new Path(p._1).getName)
    assert(names.contains(".2.delta.crc") && names.contains("2.delta.crc"),
      s"sidecars missing: ${graft.tree}")
    assert(graft.tree == stock.tree)
    assert(graft.listed == stock.listed)
    assert(graft.noOverwrite == classOf[FileAlreadyExistsException].getName)
    assert(stock.noOverwrite == graft.noOverwrite)

    assert(linkStatuses(None) == linkStatuses(Some(StockLocalFs)))
  }

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

  /** The operations Structured Streaming's logs and state stores make,
    * through Spark's own checksum-writing manager. Returns the tree left
    * behind (temp-file UUIDs masked) with each entry's POSIX mode, the
    * listing of the log directory, and what a no-overwrite create onto an
    * existing file raised. */
  private def checkpointOps(impl: Option[String]): Outcome = withFileImpl(spark, impl) {
    val root = Files.createTempDirectory("graft-fs-parity")
    val base = new Path(root.toUri)
    val fm = new ChecksumCheckpointFileManager(
      CheckpointFileManager.create(base, hadoopConf), false, 2, false)
    def write(name: String, overwrite: Boolean, body: String): Unit = {
      val out = fm.createAtomic(new Path(base, name), overwrite)
      out.write(body.getBytes("UTF-8"))
      out.close()
    }
    try {
      fm.mkdirs(new Path(base, "offsets"))
      write("offsets/0", overwrite = false, "v1\n{}")
      write("offsets/1", overwrite = true, "v1\n{}")
      write("offsets/1", overwrite = true, "v1\n{\"again\":1}")
      val noOverwrite =
        try { write("offsets/0", overwrite = false, "v1\nlost"); "none" }
        catch { case e: Exception => e.getClass.getName }
      val cancelled = fm.createAtomic(new Path(base, "offsets/2"), false)
      cancelled.write(1)
      cancelled.cancel()
      fm.mkdirs(new Path(base, "state/0/0"))
      write("state/0/0/1.delta", overwrite = true, "delta")
      write("state/0/0/2.delta", overwrite = true, "delta")
      fm.delete(new Path(base, "state/0/0/1.delta"))
      val listed = fm.list(new Path(base, "offsets")).map(s => maskUuid(s.getPath.getName))
      Outcome(tree(root), listed.toSeq.sorted, noOverwrite)
    } finally fm.close()
  }

  /** `FileContext.getFileLinkStatus` on a real symlink, a regular file, a
    * dangling symlink and a missing path. */
  private def linkStatuses(impl: Option[String]): Seq[String] = withFileImpl(spark, impl) {
    val dir = Files.createTempDirectory("graft-fs-links")
    val target = Files.writeString(dir.resolve("target"), "payload")
    Files.createSymbolicLink(dir.resolve("link"), target)
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val fc = FileContext.getFileContext(dir.toUri, hadoopConf)
    Seq("link", "target", "dangling", "missing").map { name =>
      val p = new Path(dir.resolve(name).toUri)
      try {
        val s = fc.getFileLinkStatus(p)
        val link = if (s.isSymlink) s.getSymlink.toString else "-"
        s"$name: ${s.getPath.getName} len=${s.getLen} dir=${s.isDirectory} link=$link"
      } catch { case _: FileNotFoundException => s"$name: not found" }
    }
  }
}

object ForkFreeLocalFsSpec {
  val FileImplKey = "fs.AbstractFileSystem.file.impl"
  val StockLocalFs = "org.apache.hadoop.fs.local.LocalFs"

  /** Run `f` with the session's local `FileContext` filesystem set to
    * `impl` (None: graft's default). */
  def withFileImpl[T](spark: SparkSession, impl: Option[String])(f: => T): T = impl match {
    case None => f
    case Some(cls) =>
      spark.conf.set(FileImplKey, cls)
      try f finally spark.conf.unset(FileImplKey)
  }

  final case class Outcome(tree: Seq[(String, String)], listed: Seq[String], noOverwrite: String)

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  def maskUuid(s: String): String = Uuid.replaceAllIn(s, "<uuid>")

  /** Every entry under `root` (relative, sorted) with its POSIX mode. */
  def tree(root: JPath): Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { p =>
      maskUuid(root.relativize(p).toString) ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted
    finally walk.close()
  }
}
