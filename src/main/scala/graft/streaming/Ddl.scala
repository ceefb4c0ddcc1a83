package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** DDL / setup parity (SURVEY.md §2.5):
  *
  *  - D1 `CreateCollection` (internal/mongo/client.go:146-175): idempotent
  *    creation of the watched/tokens/messages tables. A "table" here is a
  *    parquet directory; creation writes an empty, schema-bearing parquet
  *    footer so readers see the schema before any data lands.
  *  - D1 capped collections (client.go:155-158): size-bounded FIFO emulated
  *    as a row-count retention policy applied at token-commit time
  *    (StreamingCdc.trimTokensAt over [[EpochTable]]) — storage-level
  *    capping is a non-goal (SURVEY.md §7 hard part 5).
  *  - D3 `AddStream` (internal/nats/client.go:105-118): the messages table
  *    with its subject column plays the JetStream stream `NAME` with
  *    subjects `NAME.*`.
  *  - S4/F3 existence check (client.go:148-151): directory + footer probe.
  */
object Ddl {

  /** S4 — does the table exist? (ListCollectionNames analog). */
  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** D1 — CREATE TABLE IF NOT EXISTS: writes an empty parquet with the
    * given schema iff the directory holds no parquet footer yet. Safe to
    * call on every startup (the reference creates collections on every Run,
    * pkg/connector/connector.go:131-147).
    *
    * The empty footer is written DRIVER-SIDE (round-12 fixed-cost shave):
    * a zero-row [[EpochTable.writeRows]], whose two-phase commit never
    * leaves a truncated `part-` file behind — no Spark job (this cost two
    * scheduled jobs per stream start).
    */
  def ensureTable(spark: SparkSession, path: String, schema: StructType): Unit =
    if (!tableExists(spark, path))
      EpochTable.writeRows(spark, path, 0L, schema, Nil)
}
