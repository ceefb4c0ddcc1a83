package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the oracle-checked query surface.
  *
  * Oracle-safety rules (the driver hash-compares our parquet output against
  * DuckDB running `oracleSql` on the same tables):
  *  - Never emit a double produced by engine-specific float reduction order.
  *    Money-like aggregates go through exact DECIMAL arithmetic, are rounded
  *    as decimals, and only then cast to double — bit-identical both sides.
  *  - Ratios/averages are `double(exact numerator) / exact denominator` —
  *    a single IEEE division with identical inputs is bit-identical.
  *  - Counts/row_numbers are cast to BIGINT on both sides (Spark `size`/
  *    `row_number` return INT, DuckDB returns BIGINT).
  *  - DuckDB SUM(BIGINT) returns HUGEINT — and that includes *windowed*
  *    SUMs (`SUM(x) OVER (...)`). Anything derived from one (a running
  *    total, a shard id from integer division) must be CAST AS BIGINT in
  *    the oracle or it reaches the comparer as float64 (round-5 lesson:
  *    text_pack_shards).
  *  - NEVER `ROUND` a double that can be an exact decimal half — ratios
  *    of small integers land on them (41/640 = .0640625 at 6dp), and
  *    Spark rounds doubles half-UP while DuckDB rounds half-to-EVEN.
  *    Use `floor(x*1e6 + 0.5)/1e6` (half-up in both engines) instead;
  *    irrational-ish chains (ln/sqrt/avg/stddev) can keep ROUND.
  *    (Caught by the sf0.1 10× gate run, round 5.)
  *  - NEVER re-aggregate (SUM/AVG) doubles already rounded to a decimal
  *    lattice: the mean of k/1e6 values sits ON rounding boundaries,
  *    and partial-agg summation order varies with partition count.
  *    Quantize to integer micro-units (`floor(x*1e6+0.5)::BIGINT`),
  *    aggregate LONGS (exact, order-free), divide once at the end.
  *    (Caught by the SPARK_GRAFT_CPUS=8 gate run, round 5.)
  *  - Every query ends in a deterministic ORDER BY present in both the
  *    DataFrame plan and the oracle SQL.
  */
object Tables {
  type Q = (SparkSession, String) => DataFrame

  /** The id each corpus table is spread by. */
  private val CorpusKeys = Map("documents" -> "doc_id", "embeddings" -> "vec_id")

  /** Read a testdata table as it is on disk. The `events` table's `ts`
    * column is normalized to a canonical TIMESTAMP at this boundary (the
    * testdata has shipped it as both TIMESTAMP(NANOS)-as-long and
    * TIMESTAMP(MICROS) across regenerations) — every query downstream
    * sees one type. See EventsCdc.normalizeTs.
    *
    * The contract: no exchange is added. Use it where a query deliberately
    * keeps its light work inside the scan stage (metadata counts, a
    * `select(doc_id)` feeding a keyed aggregation, a plan pinned to have
    * no shuffle before its output sort) and on the reference side of the
    * verification twins, which must read exactly what the gate reads.
    */
  def scan(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.operators.EventsCdc.normalizeTs(
      spark.read.parquet(s"$dir/$name.parquet"))

  /** Read a testdata table for heavy row-local work: `scan`, and for the
    * corpus tables [[spread]] by their id (`documents` by `doc_id`,
    * `embeddings` by `vec_id`).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = scan(spark, dir, name)
    CorpusKeys.get(name).fold(df)(k => spread(df, col(k)))
  }

  /** Repartition a corpus frame by `key` right after the read, before its
    * per-row work (one huge unsplittable file is input skew). A parquet
    * scan cannot split inside a row group: Spark plans splits by bytes,
    * but a split reads rows only if a row group starts in it. The
    * testdata corpus files are one row
    * group at every SF, so without the exchange every explode, kernel or
    * probe before the first shuffle runs as one task (decontam_overlap
    * spent ~55 of its 60 s at sf10 in that serial scan stage). Neither the
    * planned split count nor the row-group count tells alone whether a
    * scan fills the cores; measured on sf0.1 `documents` at 4 cores:
    *
    * | file | confs | splits | rows per split |
    * |---|---|---|---|
    * | 1 row group | defaults | 1 | 5000 |
    * | 8 row groups | defaults | 1 | 5000 |
    * | 1 row group | maxPartitionBytes 128k, openCostInBytes 4k | 5 | 0, 0, 5000, 0, 0 |
    * | 8 row groups | maxPartitionBytes 128k, openCostInBytes 4k | 5 | 1250, 625, 1250, 1250, 625 |
    *
    * So the spread is unconditional; skipping it on a well-split scan
    * would need a benchmark workload on such a corpus to show it wins.
    * Keyed repartition: a unique id spreads evenly and deterministically,
    * skips round-robin's sort-before-repartition, and — when the key
    * prefixes the downstream grouping — the one exchange also satisfies
    * the aggregation. Partition count comes from
    * spark.sql.shuffle.partitions. Call it directly only on a frame
    * derived from a `scan` (a filter that must run before the exchange).
    */
  def spread(df: DataFrame, key: Column): DataFrame = df.repartition(key)

  /** Exact money sum: SUM(CAST(x AS DECIMAL(18,2))) rounded to 2, as double. */
  def moneySum(c: Column): Column =
    round(sum(c.cast(DecimalType(18, 2))), 2).cast("double")

  /** Exact mean: double(SUM(DECIMAL)) / COUNT — single IEEE division. */
  def exactAvg(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double") / count(lit(1))

  /** Exact money value (non-aggregate): DECIMAL(18,2) → double. */
  def moneyCol(c: Column): Column =
    round(c.cast(DecimalType(18, 2)), 2).cast("double")
}
