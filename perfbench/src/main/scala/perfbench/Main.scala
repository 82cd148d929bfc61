package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{GraftExtensions, GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

/** What every workload step needs: the session, its core count, the run's
  * scratch directory and the recorders. */
final class Ctx(val spark: SparkSession, val cores: Int, val work: String,
    val spans: Spans, val batchLog: BatchLog)

/** One benchmark run in one JVM. Writes every raw measurement as JSON to
  * `<work>/raw.json`; `run.py` turns them into metrics and checks outputs.
  *
  * Usage: Main --workload <spend_stream|spend_bulk|batch_suite> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --cores <n> [--drain-only]
  */
object Main {
  private val setupRepeats = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val drainOnly = argv.contains("--drain-only")
    val workload = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val traced = a("trace") == "1"
    val work = new java.io.File(a("work")).getAbsolutePath; val cores = a("cores").toInt
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "jvm" -> System.getProperty("java.vm.version"),
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString(","),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    out("calib_start_ms") = Calibration.probeMs()
    val spans = new Spans(traced)
    val batchLog = new BatchLog

    // the session is built and the extensions registered from scratch
    // several times, and the median of each step is reported; the inputs
    // are made once, on the last session, because making them again would
    // cost several seconds of every run
    val steps = ArrayBuffer[(Double, Double)]()
    var ctx: Ctx = null
    (0 until (if (drainOnly) 1 else setupRepeats)).foreach { i =>
      if (ctx != null) ctx.spark.stop()
      spans(s"setup[$i]") { sid =>
        val (spark, tSession) = timed(spans("setup.session", sid) { _ =>
          GraftSession.configure(SparkSession.builder().master(s"local[$cores]")
            .appName("perfbench")
            .config("spark.local.dir", s"$work/spark-local")
            .config("spark.sql.warehouse.dir", s"$work/warehouse"), shufflePartitions = cores)
            .getOrCreate()
        })
        spark.sparkContext.setLogLevel("ERROR")
        val (_, tExt) = timed(spans("setup.extensions", sid)(_ => GraftExtensions.register(spark)))
        spark.streams.addListener(batchLog)
        ctx = new Ctx(spark, cores, work, spans, batchLog)
        steps += ((tSession, tExt))
      }
    }
    val c = ctx
    val (inputs, tIn) = timed(spans("setup.inputs")(_ => makeInputs(c, workload, seed, seconds)))
    out("setup") = Map("session_s" -> steps.map(_._1), "extensions_s" -> steps.map(_._2),
      "inputs_s" -> Seq(tIn))
    val (warmOut, tWarm) = timed(spans("setup.warmup")(_ => warmup(ctx, workload, inputs, drainOnly)))
    out("warmup_s") = tWarm

    val (untraced, attempted, failed) = measure(ctx, workload, inputs, seconds, "untraced", drainOnly)
    out("untraced") = untraced
    var att = attempted; var fail = failed
    if (traced) {
      val probe = new Probe
      ctx.spark.sparkContext.addSparkListener(probe)
      ctx.spark.listenerManager.register(probe)
      batchLog.traced = true
      val (r, at2, f2) = measure(ctx, workload, inputs, seconds, "traced", drainOnly)
      out("traced") = r ++ extras(ctx, workload, inputs)
      probe.drain(ctx.spark)
      ctx.spark.sparkContext.removeSparkListener(probe)
      ctx.spark.listenerManager.unregister(probe)
      batchLog.traced = false
      // a second untraced measurement after the traced one: the overhead is
      // taken against both, so drift from warm-up does not read as overhead
      val (r2, at3, f3) = measure(ctx, workload, inputs, seconds, "untraced2", drainOnly)
      out("untraced2") = r2
      att += at2 + at3; fail += f2 + f3
      out("probe") = probe.raw
      out("spans") = spans.all
    }
    out("checks") = checks(ctx, workload, warmOut)
    out("attempted") = att
    out("failed") = fail
    out("calib_end_ms") = Calibration.probeMs()
    out("peak_rss_mb") = peakRssMb()
    ctx.spark.stop()
    Json.write(s"$work/raw.json", out.toMap)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def suiteDir(ctx: Ctx) = s"${ctx.work}/suite-data"
  private def bulkPath(ctx: Ctx) = s"${ctx.work}/bulk/input.jsonl"

  private def makeInputs(ctx: Ctx, workload: String, seed: Long, seconds: Double): Any = workload match {
    case "spend_stream" =>
      Pool.generate(ctx.spark, StreamWorkload.poolSize(seconds * StreamWorkload.steadyShare), seed, withLate = true,
        lateAfter = StreamWorkload.primer)
    case "spend_bulk" =>
      val pool = Pool.generate(ctx.spark, BulkWorkload.events, seed, withLate = false, lateAfter = 0)
      BulkWorkload.writeInput(pool, bulkPath(ctx))
      pool.lines.length
    case "batch_suite" =>
      SuiteData.generate(ctx.spark, suiteDir(ctx), seed, BatchSuite.sf)
      new scala.util.Random(seed)
  }

  /** Runs each workload's operations once before timing. For the bulk
    * job and the suite the warm-up run is also the run whose output is
    * checked, so checking costs no extra pass. Returns that output. */
  private def warmup(ctx: Ctx, workload: String, inputs: Any, drainOnly: Boolean): Any = workload match {
    // with fewer warm-up drains or jobs, or a shorter steady phase, the
    // first timed ones still ran 20-60% slower than later ones
    case "spend_stream" =>
      new StreamWorkload(ctx, inputs.asInstanceOf[Pool])
        .run("warmup", 0, if (drainOnly) 0 else 4.0, "", minDrains = 5, check = false)
    case "spend_bulk" =>
      val w = new BulkWorkload(ctx, bulkPath(ctx))
      val out = w.output
      (0 until 3).foreach(_ => w.timeNoop(w.daily))
      out
    case "batch_suite" =>
      BatchSuite.rows.map { n =>
        n -> (try {
          graft.util.Checkpoints.scoped {
            SparkEntry.queries(n)(ctx.spark, suiteDir(ctx)).coalesce(1)
              .write.mode("overwrite").parquet(s"${ctx.work}/suite-out/$n")
          }
          null
        } catch { case t: Throwable => t.toString })
      }.toMap
  }

  /** Times one registry row as a user runs it: build the DataFrame (some
    * rows run jobs while building), plan it, and execute it into the no-op
    * sink. Returns the seconds taken, or the error. */
  private def runRow(ctx: Ctx, name: String, parent: String): Either[String, Double] =
    ctx.spans(s"query:$name", parent) { sid =>
      val sc = ctx.spark.sparkContext
      try {
        val t0 = System.nanoTime()
        graft.util.Checkpoints.scoped {
          val df = ctx.spans(s"plan:$name", sid) { p =>
            sc.setJobGroup(p, name)
            val d = SparkEntry.queries(name)(ctx.spark, suiteDir(ctx))
            d.queryExecution.executedPlan
            d
          }
          ctx.spans(s"execute:$name", sid) { e =>
            sc.setJobGroup(e, name)
            df.write.mode("overwrite").format("noop").save()
          }
        }
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case t: Throwable => Left(t.toString) }
      finally sc.clearJobGroup()
    }

  /** The timed region. Returns raw measurements, operations attempted and
    * operations that raised. */
  private def measure(ctx: Ctx, workload: String, inputs: Any, seconds: Double, tag: String,
      drainOnly: Boolean): (Map[String, Any], Int, Int) =
    ctx.spans(s"measure.$tag") { sid =>
      workload match {
        case "spend_stream" =>
          val w = new StreamWorkload(ctx, inputs.asInstanceOf[Pool])
          val steady = seconds * StreamWorkload.steadyShare
          val r = w.run(tag, seconds - steady, if (drainOnly) 0 else steady, sid)
          val n = r("drains").asInstanceOf[Seq[_]].size + r("chunks").asInstanceOf[Seq[_]].size
          (r, n, 0)
        case "spend_bulk" =>
          val w = new BulkWorkload(ctx, bulkPath(ctx))
          val times = ArrayBuffer[Double]()
          val t0 = System.nanoTime()
          var failed = 0
          while (times.size + failed < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
            try ctx.spans(s"bulk.job[${times.size}]", sid) { j =>
              ctx.spark.sparkContext.setJobGroup(j, "bulk")
              times += w.timeNoop(w.daily)
            } catch { case _: Throwable => failed += 1 }
          }
          ctx.spark.sparkContext.clearJobGroup()
          (Map("events" -> inputs, "seconds" -> times.toSeq), times.size + failed, failed)
        case "batch_suite" =>
          val rnd = inputs.asInstanceOf[scala.util.Random]
          val samples = ArrayBuffer[Seq[Any]]()
          val t0 = System.nanoTime()
          var pass = 0
          while (pass < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
            ctx.spans(s"pass[$pass]", sid) { p =>
              rnd.shuffle(BatchSuite.rows).foreach { n =>
                runRow(ctx, n, p) match {
                  case Right(s) => samples += Seq(n, pass, s, null)
                  case Left(e) => samples += Seq(n, pass, null, e)
                }
              }
            }
            pass += 1
          }
          (Map("samples" -> samples.toSeq), samples.size, samples.count(_(3) != null))
      }
    }

  /** Per-layer measurements that need their own runs: the pipeline's
    * prefixes timed separately. */
  private def extras(ctx: Ctx, workload: String, inputs: Any): Map[String, Any] = workload match {
    case "spend_stream" =>
      Map("parse_drains" -> new StreamWorkload(ctx, inputs.asInstanceOf[Pool]).parseDrains(3))
    case "spend_bulk" =>
      val w = new BulkWorkload(ctx, bulkPath(ctx))
      Map("parse_s" -> (0 until 3).map(_ => w.timeNoop(w.parsed)),
        "dedupe_s" -> (0 until 3).map(_ => w.timeNoop(w.deduped)),
        "parsed_rows" -> w.parsed.count(), "deduped_rows" -> w.deduped.count())
    case _ => Map.empty
  }

  /** What the output checks need: the warm-up's outputs and, for the
    * bulk job, the reference computed from its input file. The stream's
    * outputs are collected by each measured run. */
  private def checks(ctx: Ctx, workload: String, warmOut: Any): Map[String, Any] = workload match {
    case "spend_bulk" =>
      Map("output" -> warmOut, "expected" -> BulkWorkload.expected(bulkPath(ctx)))
    case "batch_suite" =>
      Map("data_dir" -> suiteDir(ctx), "tables" -> SuiteData.tables,
        "out_dir" -> s"${ctx.work}/suite-out", "errors" -> warmOut,
        "oracle_sql" -> BatchSuite.rows.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    case _ => Map.empty
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** A fixed CPU-bound probe timed at the start and end of each run, so a
  * loaded machine shows up as a slow probe. */
object Calibration {
  /** Fastest of five rounds, so JIT compilation of the first round does
    * not read as load. */
  def probeMs(): Double = (0 until 5).map { _ =>
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = Array.tabulate[Byte](1 << 16)(_.toByte)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 100) { md.update(buf); buf(i % buf.length) = md.digest()(0); i += 1 }
    (System.nanoTime() - t0) / 1e6
  }.min
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
