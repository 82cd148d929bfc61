package graft.streaming

import graft.SparkSpec
import graft.streaming.SpendingPipeline.{Config, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Golden-fixture streaming tests pinning the reference pipeline's
  * semantics (FIXTURES.md §2-3, derived from the reference's integration
  * tests): sliding-window sums with epoch-aligned 11:55/12:00/12:05
  * boundaries, and true daily totals with duplicate transactions counted
  * once. Offline: MemoryStream source + memory sink + processAllAvailable.
  */
class SpendingPipelineSpec extends SparkSpec {

  private def tx(id: String, cust: String, ts: String, amount: Double): String =
    s"""{"transaction_id":"$id","customer_id":"$cust","merchant_id":7,""" +
      s""""timestamp":"$ts","amount":$amount,"payment_method":"UPI","status":"Success"}"""

  private def streamOf(rows: Seq[String]): Source = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    ms.addData(rows: _*)
    Source.Raw(ms.toDF())
  }

  test("golden A: sliding 10-min/5-min window per customer") {
    val source = streamOf(Seq(
      tx("t1", "1", "2025-03-10T12:01:00Z", 100.0),
      tx("t2", "1", "2025-03-10T12:05:00Z", 150.0),
      tx("t3", "1", "2025-03-10T12:11:00Z", 200.0)))
    val agg = SpendingPipeline.windowedSpend(spark, source)
    val q = SpendingPipeline.start(agg, Sink.Memory("golden_a"), Config(), "golden_a_q")
    q.processAllAvailable(); q.stop()

    val got = spark.table("golden_a")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString.substring(11, 16),
        r.getTimestamp(2).toString.substring(11, 16), r.getDouble(3)))
      .toSet
    val expected = Set( // FIXTURES.md §2 per-customer variant
      ("1", "11:55", "12:05", 100.0),
      ("1", "12:00", "12:10", 250.0),
      ("1", "12:05", "12:15", 350.0),
      ("1", "12:10", "12:20", 200.0))
    assert(got == expected)
  }

  test("golden B: daily totals, duplicate transaction counted once") {
    val source = streamOf(Seq(
      tx("t1", "1", "2025-03-10T12:01:00Z", 100.0),
      tx("t2", "1", "2025-03-10T12:05:00Z", 150.0),
      tx("t3", "1", "2025-03-10T12:11:00Z", 200.0),
      tx("t3", "1", "2025-03-10T12:11:00Z", 200.0), // exact duplicate
      tx("t4", "1", "2025-03-11T09:00:00Z", 2000.0),
      tx("t5", "2", "2025-03-11T10:00:00Z", 150.0),
      tx("t6", "2", "2025-03-11T11:00:00Z", 200.0),
      tx("t7", "3", "2025-03-12T08:00:00Z", 300.0),
      tx("t8", "3", "2025-03-12T09:00:00Z", 500.0)))
    val daily = SpendingPipeline.dailySpend(spark, source)
    val q = SpendingPipeline.start(daily, Sink.Memory("golden_b"), Config(), "golden_b_q")
    q.processAllAvailable(); q.stop()

    val got = spark.table("golden_b")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    val expected = Set( // FIXTURES.md §3
      ("1", "2025-03-10", 450.0),
      ("1", "2025-03-11", 2000.0),
      ("2", "2025-03-11", 350.0),
      ("3", "2025-03-12", 800.0))
    assert(got == expected)
  }

  test("late data beyond the watermark is dropped (state evicted)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val agg = SpendingPipeline.windowedSpend(spark, Source.Raw(ms.toDF()))
    val q = SpendingPipeline.start(agg, Sink.Memory("late_data"), Config(), "late_data_q")

    ms.addData(tx("t1", "1", "2025-03-10T12:00:30Z", 100.0))
    q.processAllAvailable() // watermark after batch: 11:55:30
    ms.addData(tx("t2", "1", "2025-03-10T13:00:00Z", 50.0))
    q.processAllAvailable() // watermark advances to 12:55
    ms.addData(tx("t3", "1", "2025-03-10T12:01:00Z", 999.0)) // late: window ends 12:10 < 12:55
    q.processAllAvailable()
    q.stop()

    val w1200 = spark.table("late_data")
      .filter(col("window_start").cast("string").startsWith("2025-03-10 12:00"))
      .select("total_spent").as[Double].collect().toSet
    assert(w1200 == Set(100.0)) // the late 999.0 never lands
  }

  test("append-mode raw passthrough and AvailableNow trigger (T7/T9/K4)") {
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    ms.addData(tx("t1", "1", "2025-03-10T12:01:00Z", 100.0),
      tx("t2", "2", "2025-03-10T12:02:00Z", 50.0))
    val parsed = SpendingPipeline.transactions(spark, Source.Raw(ms.toDF()))
    val q = SpendingPipeline.start(parsed, Sink.Memory("raw_pass"),
      Config(outputMode = "append", trigger = Some(Trigger.AvailableNow())), "raw_pass_q")
    q.awaitTermination(60000) // AvailableNow terminates after draining
    assert(spark.table("raw_pass").count() == 2)
    assert(spark.table("raw_pass").select("transaction_id")
      .as[String].collect().toSet == Set("t1", "t2"))
  }

  test("foreachBatch callback sink receives every micro-batch (K5)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val daily = SpendingPipeline.dailySpend(spark, Source.Raw(ms.toDF()))
    val q = SpendingPipeline.start(daily,
      Sink.Foreach((batch, _) => seen.add(batch.count())), Config(), "foreach_q")
    ms.addData(tx("t1", "1", "2025-03-10T12:00:00Z", 10.0))
    q.processAllAvailable()
    ms.addData(tx("t2", "2", "2025-03-10T13:00:00Z", 20.0))
    q.processAllAvailable()
    q.stop()
    assert(seen.size >= 2 && seen.stream.mapToLong(l => l).sum >= 2)
  }

  test("parquet sink writes files (forced append mode)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    ms.addData(tx("t1", "1", "2025-03-10T12:01:00Z", 100.0),
      tx("t2", "1", "2025-03-10T13:10:00Z", 50.0))
    val out = java.nio.file.Files.createTempDirectory("graft-pq-sink").toString
    // aggregate under watermark -> append mode emits only after the
    // watermark passes the window; a second later batch closes the first day
    val daily = SpendingPipeline.dailySpend(spark, Source.Raw(ms.toDF()))
    val q = SpendingPipeline.start(daily, Sink.Parquet(out), Config(), "pq_sink_q")
    q.processAllAvailable()
    ms.addData(tx("t3", "1", "2025-03-12T09:00:00Z", 10.0)) // advances watermark past 03-10
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(out)
    assert(written.filter(col("transaction_date") === "2025-03-10")
      .select("total_spent").as[Double].collect().toSet == Set(150.0))
  }

  test("console sink starts and drains (K3)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    ms.addData(tx("t1", "1", "2025-03-10T12:01:00Z", 10.0))
    val daily = SpendingPipeline.dailySpend(spark, Source.Raw(ms.toDF()))
    val q = SpendingPipeline.start(daily, Sink.Console(5), Config(), "console_q")
    q.processAllAvailable()
    assert(q.isActive)
    q.stop()
  }

  test("ProcessingTime trigger fires on a cadence and keeps draining (T9 soak)") {
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val daily = SpendingPipeline.dailySpend(spark, Source.Raw(ms.toDF()))
    val q = SpendingPipeline.start(daily, Sink.Memory("soak"),
      Config(trigger = Some(Trigger.ProcessingTime("200 milliseconds"))), "soak_q")
    def awaitTotal(expect: Map[(String, String), Double]): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var got = Map.empty[(String, String), Double]
      while (got != expect && System.nanoTime() < deadline) {
        Thread.sleep(100)
        got = spark.table("soak").collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      }
      assert(got == expect, s"timed out waiting for $expect, got $got")
    }
    ms.addData(tx("t1", "1", "2025-03-10T12:00:00Z", 100.0))
    awaitTotal(Map(("1", "2025-03-10") -> 100.0))
    // second wave lands in a LATER trigger firing, not a manual drain
    ms.addData(tx("t2", "1", "2025-03-10T12:03:00Z", 50.0),
      tx("t3", "2", "2025-03-10T12:04:00Z", 25.0))
    awaitTotal(Map(("1", "2025-03-10") -> 150.0, ("2", "2025-03-10") -> 25.0))
    assert(q.isActive)
    q.stop()
  }

  test("JDBC upsert SQL is the idempotent ON CONFLICT form (K1 fix)") {
    assert(graft.sinks.Sinks.upsertSql("customer_daily_spending",
      Seq("customer_id", "transaction_date"), Seq("total_spent")) ==
      "INSERT INTO customer_daily_spending (customer_id, transaction_date, total_spent) " +
        "VALUES (?, ?, ?) ON CONFLICT (customer_id, transaction_date) " +
        "DO UPDATE SET total_spent = EXCLUDED.total_spent")
  }

  test("streaming dedup state spans micro-batches (D1 within watermark)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val daily = SpendingPipeline.dailySpend(spark, Source.Raw(ms.toDF()))
    val q = SpendingPipeline.start(daily, Sink.Memory("xbatch_dedup"), Config(), "xbatch_q")

    ms.addData(tx("t1", "1", "2025-03-10T12:00:00Z", 100.0))
    q.processAllAvailable()
    // duplicate of t1 arrives one micro-batch later, still within watermark
    ms.addData(tx("t1", "1", "2025-03-10T12:00:00Z", 100.0),
      tx("t2", "1", "2025-03-10T12:01:00Z", 50.0))
    q.processAllAvailable()
    q.stop()

    val totals = spark.table("xbatch_dedup")
      .select("transaction_date", "total_spent").as[(String, Double)]
      .collect().groupBy(_._1).map { case (d, vs) => d -> vs.map(_._2).max }
    assert(totals == Map("2025-03-10" -> 150.0)) // t1 counted once
  }

  test("stream-stream interval join: purchases attributed to prior views") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val views = MemoryStream[String]
    val purchases = MemoryStream[String]
    val v = SpendingPipeline.transactions(spark, Source.Raw(views.toDF()))
      .selectExpr("customer_id AS v_cust", "timestamp AS v_ts", "transaction_id AS view_id")
      .withWatermark("v_ts", "10 minutes")
    val p = SpendingPipeline.transactions(spark, Source.Raw(purchases.toDF()))
      .selectExpr("customer_id AS p_cust", "timestamp AS p_ts", "transaction_id AS purchase_id")
      .withWatermark("p_ts", "10 minutes")
    val joined = p.join(v, expr(
      "p_cust = v_cust AND v_ts <= p_ts AND v_ts >= p_ts - INTERVAL 10 MINUTES"))
      .select("purchase_id", "view_id")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ssj").toString
    val q = joined.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("ss_join").start()

    views.addData(
      tx("v1", "1", "2025-03-10T12:00:00Z", 0.0),
      tx("v2", "2", "2025-03-10T12:00:00Z", 0.0))
    purchases.addData(
      tx("p1", "1", "2025-03-10T12:05:00Z", 50.0), // within 10 min of v1
      tx("p2", "2", "2025-03-10T12:20:00Z", 60.0)) // 20 min after v2 — no match
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join").as[(String, String)].collect().toSet
    assert(got == Set(("p1", "v1")))
  }

  test("streaming sessionization emits each session once when the watermark closes it") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.SessionEvent
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ev(c: String, t: String, a: Double) =
      SessionEvent(c, java.sql.Timestamp.valueOf(t), a)
    val ms = MemoryStream[SessionEvent]
    val sessions = Sessionize.streaming(
      ms.toDS().withWatermark("timestamp", "10 minutes"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sess").toString
    val q = sessions.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("stream_sessions").start()

    ms.addData(ev("1", "2025-03-10 12:00:00", 10.0), ev("1", "2025-03-10 12:10:00", 5.0))
    q.processAllAvailable() // watermark 12:00 — session still open
    assert(spark.table("stream_sessions").count() == 0)
    ms.addData(ev("1", "2025-03-10 14:00:00", 7.0))
    q.processAllAvailable() // watermark 13:50 > 12:40 close — session 1 emits
    val afterSecond = spark.table("stream_sessions").as[Sessionize.Session].collect()
    assert(afterSecond.map(s => (s.customer_id, s.total_spent, s.n_events)).toSet ==
      Set(("1", 15.0, 2)))
    ms.addData(ev("1", "2025-03-10 16:00:00", 1.0))
    q.processAllAvailable() // watermark 15:50 closes the 14:00 session
    q.stop()
    val all = spark.table("stream_sessions").as[Sessionize.Session].collect()
    assert(all.map(s => (s.customer_id, s.total_spent, s.n_events)).toSet ==
      Set(("1", 15.0, 2), ("1", 7.0, 1)))
  }

  test("streaming sessionization merges out-of-order events into the right session") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.SessionEvent
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ev(c: String, t: String, a: Double) =
      SessionEvent(c, java.sql.Timestamp.valueOf(t), a)
    val ms = MemoryStream[SessionEvent]
    val sessions = Sessionize.streaming(
      ms.toDS().withWatermark("timestamp", "3 hours"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sess-ooo").toString
    val q = sessions.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("ooo_sessions").start()

    ms.addData(ev("1", "2025-03-10 12:00:00", 10.0), ev("1", "2025-03-10 12:10:00", 5.0))
    q.processAllAvailable()
    // out-of-order 11:00 event + on-time 12:20 event: 12:20 must extend the
    // [12:00,12:10] session, not fork a new one behind the 11:00 unit
    ms.addData(ev("1", "2025-03-10 11:00:00", 1.0), ev("1", "2025-03-10 12:20:00", 2.0))
    q.processAllAvailable()
    ms.addData(ev("1", "2025-03-11 09:00:00", 0.5)) // watermark closes everything on 03-10
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ooo_sessions").as[Sessionize.Session].collect()
      .map(s => (s.total_spent, s.n_events)).toSet
    assert(got == Set((1.0, 1), (17.0, 3))) // [11:00] and [12:00..12:20]
  }

  test("transformWithState sessionization matches the fmGWS twin's emit-once semantics") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.SessionEvent
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ev(c: String, t: String, a: Double) =
      SessionEvent(c, java.sql.Timestamp.valueOf(t), a)
    // transformWithState refuses the default HDFS provider; run this query
    // under RocksDB and restore the session's backend afterwards
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    graft.GraftSession.enableRocksDbState(spark)
    try {
      val ms = MemoryStream[SessionEvent]
      val sessions = Sessionize.transformWithStateStreaming(
        ms.toDS().withWatermark("timestamp", "10 minutes"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-tws").toString
      val q = sessions.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName("tws_sessions").start()

      ms.addData(ev("1", "2025-03-10 12:00:00", 10.0), ev("1", "2025-03-10 12:10:00", 5.0))
      q.processAllAvailable() // watermark 12:00 — session still open
      assert(spark.table("tws_sessions").count() == 0)
      // 11:00 is BELOW the watermark: transformWithState enforces the
      // watermark contract at the operator boundary and drops it before the
      // processor (native session_window behavior — fmGWS, by contrast,
      // hands late rows to user code). 12:05 is out of order but above the
      // watermark and must merge into the open [12:00,12:10] session.
      ms.addData(ev("1", "2025-03-10 11:00:00", 1.0),
        ev("1", "2025-03-10 12:05:00", 3.0), ev("1", "2025-03-10 12:30:00", 2.0))
      q.processAllAvailable()
      // a quiet-customer close: customer 2's lone session must flush off
      // the TIMER path (no further input for key 2 ever arrives)
      ms.addData(ev("2", "2025-03-10 13:00:00", 4.0))
      q.processAllAvailable()
      ms.addData(ev("3", "2025-03-11 09:00:00", 0.5)) // watermark closes all of 03-10
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_sessions").as[Sessionize.Session].collect()
        .map(s => (s.customer_id, s.total_spent, s.n_events)).toSet
      assert(got == Set(("1", 20.0, 4), ("2", 4.0, 1)),
        "late 11:00 row dropped; in-watermark out-of-order 12:05 merged")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState state and timers survive a checkpoint restart") {
    import graft.streaming.{Sessionize, SpendingPipeline}
    import SpendingPipeline.Source
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-tws-rec-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tws-rec-ckpt").toString
    // (customer, session_start ms) -> (total, n): append-mode emits each
    // closed session exactly once, so a replay across the restart would
    // surface as a double-put with a conflicting value
    val emitted = scala.collection.concurrent.TrieMap.empty[(String, Long), (Double, Int)]
    def writeFile(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(srcDir, name), rows.mkString("\n"))
    def start() = {
      val ev = SpendingPipeline.transactions(spark, Source.JsonFiles(srcDir))
        .withWatermark("timestamp", "10 minutes")
        .select(col("customer_id"), col("timestamp"), col("amount"))
        .as[Sessionize.SessionEvent]
      Sessionize.transformWithStateStreaming(ev)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch((b: org.apache.spark.sql.Dataset[Sessionize.Session], _: Long) =>
          b.collect().foreach(s =>
            emitted((s.customer_id, s.session_start.getTime)) = (s.total_spent, s.n_events)))
        .start()
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    graft.GraftSession.enableRocksDbState(spark)
    try {
      writeFile("a.json", Seq(
        tx("t1", "1", "2025-03-10T12:00:00Z", 10.0),
        tx("t2", "1", "2025-03-10T12:10:00Z", 5.0)))
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      assert(emitted.isEmpty, "session still open — nothing may emit before the restart")
      // restart from the same checkpoint: the open [12:00,12:10] session
      // lives only in recovered RocksDB state; 12:20 must EXTEND it (not
      // fork a fresh one), and the customer-2 event a day later advances
      // the watermark so the recovered session closes off the timer path
      writeFile("b.json", Seq(
        tx("t3", "1", "2025-03-10T12:20:00Z", 2.0),
        tx("t4", "2", "2025-03-11T09:00:00Z", 4.0)))
      val q2 = start(); q2.processAllAvailable(); q2.stop()
      val startMs = java.time.Instant.parse("2025-03-10T12:00:00Z").toEpochMilli
      assert(emitted.toMap == Map(("1", startMs) -> ((17.0, 3))),
        s"restart broke TWS state recovery: $emitted")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("sessionize: native session_window and mapGroupsWithState agree") {
    import graft.streaming.Sessionize
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      Sessionize.SessionEvent("1", ts("2025-03-10 12:00:00"), 10.0),
      Sessionize.SessionEvent("1", ts("2025-03-10 12:20:00"), 20.0), // same session
      Sessionize.SessionEvent("1", ts("2025-03-10 13:30:00"), 5.0),  // gap > 30 min
      Sessionize.SessionEvent("2", ts("2025-03-10 12:05:00"), 7.0),
      // exactly end+gap (12:05 + 30 min): session_window MERGES the
      // boundary case — the custom-state twins must agree (inclusive gap)
      Sessionize.SessionEvent("2", ts("2025-03-10 12:35:00"), 3.0))
    val df = events.toDF("customer_id", "timestamp", "amount")
    val nat = Sessionize.native(df).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getDouble(3), r.getInt(4))).toSet
    val st = Sessionize.withState(events.toDS()).collect()
      .map(s => (s.customer_id, s.session_start, s.session_end,
        s.total_spent, s.n_events)).toSet
    assert(nat == st)
    assert(nat.size == 3)
    assert(nat.exists(r => r._1 == "1" && r._4 == 30.0 && r._5 == 2))
    assert(nat.exists(r => r._1 == "2" && r._4 == 10.0 && r._5 == 2),
      "the exactly-at-end+gap event must merge, in both implementations")
  }

  test("JsonFiles source streams NDJSON from a directory (S-file path)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ndjson").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "part-0.json"),
      Seq(tx("t1", "1", "2025-03-10T12:01:00Z", 100.0),
        tx("t2", "2", "2025-03-10T12:02:00Z", 25.0)).mkString("\n"))
    val parsed = SpendingPipeline.transactions(spark, Source.JsonFiles(dir))
    val q = SpendingPipeline.start(parsed, Sink.Memory("ndjson_src"),
      Config(outputMode = "append"), "ndjson_q")
    q.processAllAvailable(); q.stop()
    assert(spark.table("ndjson_src").select("transaction_id")
      .as[String].collect().toSet == Set("t1", "t2"))
  }

  /** Stop a query mid-stream and restart from the SAME checkpoint: processed
    * files must not be re-read, and — the sharper claim — the dedup and
    * aggregation STATE must reload, so a duplicate id arriving after the
    * restart is still dropped and totals update incrementally. The sink is
    * the idempotent-upsert shape (keyed overwrite), i.e. the exactly-once
    * contract the JdbcUpsert sink claims (SURVEY §4.3-1/4). `firstFs` and
    * `secondFs` pick the local `FileContext` filesystem each run writes its
    * checkpoint through (None: the session's default). */
  private def recoveryRoundTrip(tag: String, firstFs: Option[String] = None,
      secondFs: Option[String] = None): Unit = {
    import scala.collection.concurrent.TrieMap
    val srcDir = java.nio.file.Files.createTempDirectory(s"graft-rec-src-$tag").toString
    val conf = SpendingPipeline.Config(checkpointDir =
      java.nio.file.Files.createTempDirectory(s"graft-rec-ckpt-$tag").toString)
    val store = TrieMap.empty[(String, String), Double]
    def upsert = Sink.Foreach((batch, _) =>
      batch.collect().foreach(r => store((r.getString(0), r.getString(1))) = r.getDouble(2)))
    def writeFile(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(srcDir, name), rows.mkString("\n"))

    writeFile("a.json", Seq(
      tx("t1", "1", "2025-03-10T12:01:00Z", 100.0),
      tx("t2", "1", "2025-03-10T12:05:00Z", 150.0),
      tx("t3", "2", "2025-03-10T13:00:00Z", 50.0)))
    def runToEnd(fs: Option[String]): Unit =
      graft.util.ForkFreeLocalFsSpec.withFileImpl(spark, fs) {
        val q = SpendingPipeline.run(spark, Source.JsonFiles(srcDir), upsert, conf)
        q.processAllAvailable()
        q.stop()
      }

    runToEnd(firstFs) // "crash" after the first half of the stream
    assert(store.toMap == Map(("1", "2025-03-10") -> 250.0, ("2", "2025-03-10") -> 50.0))

    // second half: a duplicate of t3 (within the watermark — only recovered
    // dedup state can drop it) plus a new event for customer 1
    writeFile("b.json", Seq(
      tx("t3", "2", "2025-03-10T13:00:00Z", 50.0),
      tx("t4", "1", "2025-03-10T13:05:00Z", 25.0)))
    runToEnd(secondFs)
    // t1/t2/t3 counted exactly once across the restart; t4 lands on top of
    // the RECOVERED day-total for customer 1
    assert(store.toMap == Map(("1", "2025-03-10") -> 275.0, ("2", "2025-03-10") -> 50.0),
      s"restart broke exactly-once: $store")
  }

  test("checkpoint recovery: restart resumes exactly-once (state + upsert sink)") {
    import graft.util.ForkFreeLocalFsSpec.StockLocalFs
    recoveryRoundTrip("hdfs")
    // a checkpoint written through Hadoop's stock LocalFs restarts under
    // graft's fork-free one, and the other way round
    recoveryRoundTrip("stock-graft", firstFs = Some(StockLocalFs))
    recoveryRoundTrip("graft-stock", secondFs = Some(StockLocalFs))
  }

  test("checkpoint recovery under the RocksDB state store backend") {
    graft.GraftSession.enableRocksDbState(spark)
    try recoveryRoundTrip("rocks")
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("golden B under the RocksDB state store backend") {
    graft.GraftSession.enableRocksDbState(spark)
    try {
      val source = streamOf(Seq(
        tx("t1", "1", "2025-03-10T12:01:00Z", 100.0),
        tx("t1", "1", "2025-03-10T12:01:00Z", 100.0), // duplicate
        tx("t2", "2", "2025-03-10T13:00:00Z", 50.0)))
      val daily = SpendingPipeline.dailySpend(spark, source)
      val q = SpendingPipeline.start(daily, Sink.Memory("rocksdb_b"), Config(), "rocksdb_q")
      q.processAllAvailable(); q.stop()
      val got = spark.table("rocksdb_b").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      assert(got == Set(("1", "2025-03-10", 100.0), ("2", "2025-03-10", 50.0)))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("typed Dataset[Transaction] view parses and filters") {
    import graft.operators.Ingest
    import spark.implicits._
    val raw = Seq(tx("t1", "1", "2025-03-10T12:01:00Z", 10.0), "{bad json").toDF("value")
    val ds = Ingest.typedTransactions(raw)
    val t = ds.collect().toSeq
    assert(t.map(_.transaction_id) == Seq("t1"))
    assert(t.head.amount == 10.0 && t.head.merchant_id.contains(7))
  }

  test("malformed JSON yields nulls, wellFormed drops them") {
    import graft.operators.Ingest
    import spark.implicits._
    val raw = Seq(tx("t1", "1", "2025-03-10T12:01:00Z", 10.0), "{not json").toDF("value")
    val parsed = Ingest.parseTransactions(raw)
    assert(parsed.count() == 2)
    assert(Ingest.wellFormed(parsed).count() == 1)
  }
}
