package graft

import org.apache.spark.sql.functions._
import graft.model.{ChangeEvent, ChangeEventId, Model, Ns}
import graft.operators.CdcPipeline

/** Batch-operator semantics pinned to the reference's acceptance tests
  * (test/acceptance/{insert,update,replace,delete,drop,rename}_test.go).
  */
class CdcPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def ev(token: String, op: String,
      fullDoc: Option[String] = Some("""{"_id":{"$oid":"abc"},"v":1}"""),
      before: Option[String] = None): ChangeEvent =
    ChangeEvent(ChangeEventId(token), op, None, None,
      Some(Ns("test-db", "coll1")), Some("""{"_id":{"$oid":"abc"}}"""),
      fullDoc, before, None)

  private val allOps = Seq(
    ev("0001", "insert"),
    ev("0002", "update", before = Some("""{"v":0}""")),
    ev("0003", "replace"),
    ev("0004", "delete", fullDoc = None), // delete ⇒ null fullDocument
    ev("0005", "drop", fullDoc = None),
    ev("0006", "rename", fullDoc = None),
    ev("0007", "dropDatabase", fullDoc = None),
    ev("0008", "invalidate", fullDoc = None))

  test("F1: only insert/update/replace/delete are publishable " +
      "(client.go:33-38; drop_test.go/rename_test.go publish nothing)") {
    val kept = CdcPipeline.filterPublishable(allOps.toDF())
      .select("operationType").as[String].collect().toSet
    assert(kept == Model.PublishableOps.toSet)
    assert(Model.SkippedOps.toSet.intersect(kept).isEmpty)
    assert(!kept.contains(Model.InvalidateOp))
  }

  test("P1-P4: toMessages shapes subject/msgId/data (insert_test.go:36-53)") {
    val msgs = CdcPipeline.toMessages(spark, "COLL1")(allOps.toDF())
      .collect().sortBy(_.msgId)
    assert(msgs.length == 4)
    assert(msgs.map(_.subject).toSeq ==
      Seq("COLL1.insert", "COLL1.update", "COLL1.replace", "COLL1.delete"))
    assert(msgs.map(_.msgId).toSeq == Seq("0001", "0002", "0003", "0004"))
    val insertData = msgs(0).data
    assert(insertData.contains("\"operationType\":\"insert\""))
    assert(insertData.contains("\"_data\":\"0001\""))
    assert(insertData.contains("abc"))
  }

  test("delete events carry no fullDocument (delete_test.go:50)") {
    val del = CdcPipeline.toMessages(spark, "C")(allOps.toDF())
      .filter(_.subject == "C.delete").head()
    assert(!del.data.contains("fullDocument\":{"))
  }

  test("update pre-image present only when available (update_test.go:52-56)") {
    val msgs = CdcPipeline.toMessages(spark, "C")(allOps.toDF())
    val upd = msgs.filter(_.subject == "C.update").head().data
    val ins = msgs.filter(_.subject == "C.insert").head().data
    assert(upd.contains("fullDocumentBeforeChange"))
    assert(!ins.contains("fullDocumentBeforeChange"))
  }

  test("F2: truncation at the first invalidate (client.go:232-236)") {
    val kept = CdcPipeline.truncateAtInvalidate(allOps.toDF())
      .select("_id._data").as[String].collect().toSet
    assert(kept == Set("0001", "0002", "0003", "0004", "0005", "0006", "0007"))
  }

  test("S2/A1: latestToken is max_by over the tokens table (client.go:187-199)") {
    val tokens = Seq(("t1", "0001"), ("t2", "0009"), ("t3", "0005"))
      .toDF("_id", "value")
    val row = CdcPipeline.latestToken(tokens).head()
    // latest INSERTED row (max _id = t3) wins, regardless of value ordering
    assert(row.getString(0) == "t3" && row.getString(1) == "0005")
  }

  test("K1 dedup: first occurrence per msgId wins (README.md:124-127)") {
    val dup = Seq(
      ("S.insert", "0001", "a"), ("S.insert", "0001", "a"),
      ("S.update", "0002", "b")).toDF("subject", "msgId", "data")
    val out = CdcPipeline.dedupByMsgId(dup).collect()
    assert(out.length == 2)
  }

  test("A3: health roll-up — all monitors up ⇒ UP (health.go:13-29)") {
    val mon = Seq(("mongo", true), ("nats", true), ("bad", false))
      .toDF("name", "ok")
    val st = CdcPipeline.healthRollup(mon).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(st == Map("mongo" -> "UP", "nats" -> "UP", "bad" -> "DOWN"))
  }

  test("P5: default stream name is upper(collName) (connector.go:337)") {
    assert(Model.defaultStreamName("coll1") == "COLL1")
  }
}
