package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.config.{CollectionConfig, ConnectorConfig}
import graft.streaming.StreamingCdc.StreamConfig

/** Embedded-library entry point (SURVEY.md §3.2 — `connector.New(...)
  * .Run()`, pkg/connector/connector.go:51-186): maps a ConnectorConfig to
  * per-collection stream configs, provisions tables (D1/D3), fans out the
  * queries (C1), and blocks until completion/invalidation with graceful
  * shutdown (C4). The `dataRoot` plays the storage cluster the Mongo/NATS
  * URIs point at in the reference.
  */
object Connector {

  /** Paths for one watched collection under the data root:
    * in   = <root>/<db>/<coll>/changes        (change-stream envelopes)
    * out  = <root>/streams/<STREAM>/messages  (JetStream stream analog, D3)
    * tok  = <root>/<tokensDb>/<tokensColl>    (resume tokens, D1)
    * ckpt = <root>/_checkpoints/<db>.<coll>
    */
  def toStreamConfig(dataRoot: String, c: CollectionConfig): StreamConfig =
    StreamConfig(
      name = s"${c.dbName}.${c.collName}",
      inputDir = s"$dataRoot/${c.dbName}/${c.collName}/changes",
      messagesDir = s"$dataRoot/streams/${c.resolvedStreamName}/messages",
      tokensDir = s"$dataRoot/${c.tokensDbName}/${c.resolvedTokensCollName}",
      checkpointDir = s"$dataRoot/_checkpoints/${c.dbName}.${c.collName}",
      streamName = Some(c.resolvedStreamName),
      tokensCapped = c.tokensCollCapped,
      // capped size-in-bytes → row-retention analog: ~64 bytes per token row
      tokensMaxRows = math.max(1, (c.tokensCollSizeInBytes / 64L).toInt),
      preAndPostImages = c.changeStreamPreAndPostImages)

  /** `Run()` (connector.go:125-186): assemble observability (step 3),
    * provision + fan out + await (steps 4-5), tear down (step 6). The
    * HTTP surface starts when the config carries a server addr, like the
    * reference's server goroutine (connector.go:176-178).
    */
  def run(spark: SparkSession, cfg: ConnectorConfig, dataRoot: String,
      availableNow: Boolean = false): Unit = {
    val streams = cfg.collections.map(ConnectorConfig.validate)
      .map(toStreamConfig(dataRoot, _))
    val listener = Observability.attach(spark)
    try {
      // a malformed addr throws here, before any query starts
      val http = Option(cfg.serverAddr).filter(_.nonEmpty)
        .map(a => new HttpObservability(spark, listener, a))
      http.foreach(_.start())
      try StreamingCdc.runAll(spark, streams, availableNow)
      finally http.foreach(_.stop()) // C4 teardown (connector.go:180-198)
    } finally spark.streams.removeListener(listener)
  }
}
