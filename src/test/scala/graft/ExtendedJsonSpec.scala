package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.model.{ChangeEvent, ChangeEventId, Ns}
import graft.operators.CdcPipeline

/** P2 fidelity: relaxed Extended JSON rendering (README.md:95-97 —
  * `$oid` pass-through, `$date`, `$timestamp` wrappers).
  */
class ExtendedJsonSpec extends SparkSuite {
  import spark.implicits._

  test("envelope renders with $timestamp/$date wrappers and verbatim " +
      "opaque documents (client.go:222-225)") {
    val out = Seq((1L, "x")).toDF("a", "b").select(expr(
      """to_extended_json(struct(
           struct('t1' as _data) as _id,
           'insert' as operationType,
           timestamp '2024-01-01 00:00:07.179' as clusterTime,
           timestamp '2024-01-01 00:00:07.179' as wallTime,
           '{"_id":{"$oid":"65a1b2c3"},"v":1}' as fullDocument))"""))
      .as[String].head()
    assert(out ==
      """{"_id":{"_data":"t1"},"operationType":"insert",""" +
      """"clusterTime":{"$timestamp":{"t":1704067207,"i":1}},""" +
      """"wallTime":{"$date":"2024-01-01T00:00:07.179Z"},""" +
      """"fullDocument":{"_id":{"$oid":"65a1b2c3"},"v":1}}""")
  }

  test("null fields are omitted, like BSON marshal of absent fields") {
    val ev = ChangeEvent(ChangeEventId("0001"), "delete", None,
      Some(new Timestamp(1704067207179L)), Some(Ns("db", "c")),
      Some("""{"_id":9}"""), None, None, None)
    val data = CdcPipeline.toMessages(spark, "S")(Seq(ev).toDF())
      .head().data
    assert(!data.contains("fullDocument"))
    assert(!data.contains("clusterTime"))
    assert(data.contains(""""wallTime":{"$date":"2024-01-01T00:00:07.179Z"}"""))
    assert(data.contains(""""documentKey":{"_id":9}"""))
  }

  test("non-opaque strings are JSON-escaped") {
    val out = Seq(("""he said "hi"""" + "\n", 1)).toDF("s", "x")
      .select(expr("to_extended_json(struct(s as note))"))
      .as[String].head()
    assert(out == """{"note":"he said \"hi\"\n"}""")
  }

  test("wrong input type is rejected with a clear error") {
    val e = intercept[Exception] {
      Seq(1).toDF("x").select(expr("to_extended_json(x)")).collect()
    }
    assert(e.getMessage.contains("to_extended_json"))
  }
}
