package graft.plans

import graft.{PlanSweep, SparkEntry, SparkSpec}
import graft.operators.{Ingest, Spend}
import graft.streaming.SpendingPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs, Literal}
import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper

/** A filter over parsed JSON fields must not parse the payload again, and
  * must give the same rows as the plan Spark builds without the strategy. */
class ParseJsonOnceSpec extends SparkSpec {

  private def tx(id: String, cust: String, ts: String, amount: Double): String =
    s"""{"transaction_id":"$id","customer_id":"$cust","merchant_id":7,""" +
      s""""timestamp":"$ts","amount":$amount,"payment_method":"UPI","status":"Success"}"""

  private def textFile(lines: Seq[String]): String = {
    val f = java.nio.file.Files.createTempFile("graft_parse_once", ".jsonl")
    java.nio.file.Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    f.toString
  }

  private def count(df: DataFrame)(p: Expression => Boolean) =
    PlanSweep.countExpressions(df.queryExecution.executedPlan)(p)

  private def parses(df: DataFrame): Int = count(df)(_.isInstanceOf[JsonToStructs])

  private def wellFormed(s: SparkSession, path: String): DataFrame =
    Ingest.wellFormed(Ingest.parseTransactions(s.read.text(path)))

  /** A session over the same context without graft's rules and strategies. */
  private def plainSession(): SparkSession = spark.newSession()

  private val sample = (1 to 50).map(i =>
    tx(s"t$i", s"c${i % 5}", f"2025-03-${10 + i % 3}%02dT12:${i % 60}%02d:00Z", i * 1.25))

  test("wellFormed(parseTransactions(text)) parses each payload once, scan keeps its pushed filter") {
    val path = textFile(sample)
    val df = wellFormed(spark, path)
    assert(df.count() == 50)
    assert(parses(df) == 1, df.queryExecution.executedPlan)
    assert(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .contains("PushedFilters: [IsNotNull(value)]"), df.queryExecution.executedPlan)
    // without the strategy: one pruned parse per filtered field plus the full parse
    assert(parses(wellFormed(plainSession(), path)) == 3)
  }

  test("s7_pipeline_batch parses and encodes each payload once") {
    val df = SparkEntry.queries("s7_pipeline_batch")(spark, "")
    assert(parses(df) == 1, df.queryExecution.executedPlan)
    // to_json plans as an Invoke of its evaluator (RuntimeReplaceable)
    val toJson = count(df) {
      case i: Invoke => i.targetObject match {
        case Literal(_: StructsToJsonEvaluator, _) => true
        case _ => false
      }
      case _ => false
    }
    assert(toJson == 1, df.queryExecution.executedPlan)
  }

  test("streaming dailySpend: one parse, strategy does not fire") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val name = "parse_once_stream"
    // the plan of the batch that read the data, not of a no-data batch
    // after it (an empty relation folds the parse away)
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, "false")
    try {
      val q = SpendingPipeline.start(
        SpendingPipeline.dailySpend(spark, SpendingPipeline.Source.Raw(ms.toDF())),
        SpendingPipeline.Sink.Memory(name),
        SpendingPipeline.Config(checkpointDir =
          java.nio.file.Files.createTempDirectory("graft_parse_once").toString),
        name)
      try {
        ms.addData(sample: _*)
        q.processAllAvailable()
        val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        assert(PlanSweep.countExpressions(exec.executedPlan)(_.isInstanceOf[JsonToStructs]) == 1,
          exec.executedPlan)
        assert(exec.optimizedPlan.collect { case p => ParseJsonOnce(p) }.forall(_.isEmpty),
          exec.optimizedPlan)
        assert(spark.table(name).count() > 0)
      } finally q.stop()
    } finally spark.conf.unset(noData)
  }

  test("adversarial payloads: identical answers with the strategy on and off") {
    val ts = "2025-03-10T12:01:00Z"
    def withField(field: String, json: String) =
      tx(s"x_$field${json.hashCode.abs}", "c9", ts, 3.5)
        .replaceFirst(s""""$field":[^,}]*""", s""""$field":$json""")
    val payloads = sample ++ Seq(
      withField("merchant_id", "\"abc\""),
      withField("merchant_id", "[1,2]"),
      withField("merchant_id", """{"a":1}"""),
      withField("merchant_id", "99999999999"),
      withField("customer_id", "12345"),
      withField("timestamp", "\"not a time\""),
      withField("timestamp", "17"),
      withField("amount", "\"12.5\""),
      withField("transaction_id", "null"),
      withField("transaction_id", """{"a":1}"""),
      tx("trunc", "c1", ts, 1.0).dropRight(20),
      tx("trailing", "c1", ts, 2.0) + " garbage",
      tx("dup", "c1", ts, 4.0).replaceFirst("\\{", """{"transaction_id":"first","""),
      tx("dupnull", "c1", ts, 4.0).dropRight(1) + ""","transaction_id":null}""",
      tx("dupts", "c1", ts, 5.0).dropRight(1) + ""","timestamp":"bad"}""",
      s"[${tx("arr", "c1", ts, 6.0)}]",
      "null", "[]", "{}", "",
      tx("t1", "c1", ts, 7.0)) // a re-send of an id that is also in `sample`
    val path = textFile(payloads)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val on = wellFormed(spark, path)
    val off = wellFormed(plainSession(), path)
    assert(parses(on) == 1 && parses(off) == 3)
    val onRows = rows(on)
    assert(onRows == rows(off))
    assert(onRows.size > sample.size, onRows)
    assert(rows(Spend.dailySpend(Spend.dedupe(on))) ==
      rows(Spend.dailySpend(Spend.dedupe(off))))
  }
}
