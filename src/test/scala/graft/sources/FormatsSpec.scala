package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Source/sink format breadth: the engine's tables round-trip through CSV
  * and JSON (schema-explicit — schema inference is a scale anti-pattern:
  * it costs an extra full scan and can flip types between runs). */
class FormatsSpec extends SparkSpec {

  private lazy val events = Tables.events(spark, "/root/testdata/sf0.001")
    .select("event_id", "user_id", "event_type", "value")

  private def roundTrip(format: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-fmt-$format").toString
    events.write.mode("overwrite").format(format).option("header", "true").save(dir)
    val schema: StructType = events.schema
    val back = spark.read.format(format).option("header", "true")
      .schema(schema).load(dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq) // explicit schema, no inference pass
    val a = events.orderBy("event_id").collect().toSeq
    val b = back.orderBy("event_id").collect().toSeq
    assert(a == b, s"$format round-trip changed data")
  }

  test("CSV round-trips with an explicit schema")(roundTrip("csv"))
  test("JSON round-trips with an explicit schema")(roundTrip("json"))
}
