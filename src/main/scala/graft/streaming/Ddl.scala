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
  *    (StreamingCdc.trimTokensAt) — storage-level capping is a non-goal
  *    (SURVEY.md §7 hard part 5).
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
    * a zero-row schema marker needs no Spark job — the schema converts
    * with Spark's own parquet converter (so readers see exactly the types
    * a Spark write would have produced) and a zero-row writer close emits
    * the footer. Previously this cost two scheduled jobs per stream start.
    */
  def ensureTable(spark: SparkSession, path: String, schema: StructType): Unit =
    if (!tableExists(spark, path)) {
      val msgType = new org.apache.spark.sql.execution.datasources.parquet
        .SparkToParquetSchemaConverter().convert(schema)
      val hconf = spark.sparkContext.hadoopConfiguration
      // Two-phase like StreamingCdc.writeTokenRow (ADVICE r12): build()
      // opens the destination, so a crash between build() and close()
      // must not leave a truncated part- file readers would choke on.
      // Write under a dot-temp (.inprogress also keeps it out of
      // tableExists' *.parquet probe) and rename after close().
      val name = s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet"
      val p = new Path(path, name)
      val tmp = new Path(path, s".$name.inprogress")
      val fs = tmp.getFileSystem(hconf)
      ParquetIO.groupWriter(tmp, msgType, hconf).close()
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"ensureTable rename failed: $tmp -> $p")
    }
}
