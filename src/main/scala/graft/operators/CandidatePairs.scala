package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one rule by which a hashed candidate generator (MinHash, SimHash,
  * winnowing, embedding LSH, the perceptual hashes) bounds its per-bucket
  * fan-out: group rows by a bucket key, drop every bucket holding more
  * than a cap, explode the i<j pairs of the rest. An uncapped boilerplate
  * bucket is n²/2 pairs in one task; a capped one is at most cap²/2, and
  * a dropped bucket's pairs are recovered through the generator's other
  * bands or tables. No hot key owns a task.
  *
  * The drop is by design but never silent: every call observes
  * `dropped_buckets`, `dropped_postings` and `total_buckets` on its bucket
  * aggregation as `graft_dropped_<label>_<n>` (`Dataset.observe`: zero
  * extra jobs). The listener [[ensureListener]] installs prints one stderr
  * line per action that dropped something; specs and perfbench read the
  * same numbers from `queryExecution.observedMetrics`. AQE's
  * empty-relation propagation removes the observation when every bucket is
  * dropped and the result is empty, which is why `dedup_winnow_dropped`
  * exists as the loss-proof channel.
  *
  * The pair kernel follows from the member's type: `ordered_pairs`
  * (`p.doc_a`, `p.doc_b`) for a bigint member, `struct_pairs` (`p.a`,
  * `p.b`) for a struct member. Buckets are sorted, so pairs come out in
  * member order. The oracle SQL and the verification twins keep their own
  * pair logic; they share only the cap constants.
  */
object CandidatePairs {

  /** Bucket cap of the hashed-signature generators: shingles, MinHash and
    * SimHash bands, winnow fingerprints, perceptual-hash bands and frame
    * signatures. Drops only uninformative, boilerplate-sized buckets.
    */
  val DfCap = 50

  /** Bucket cap of the embedding-LSH generators. Clustered embeddings
    * legitimately co-bucket whole semantic neighbourhoods (~10 % of a label
    * at 6 planes), which the shingle cap would drop; the point is an upper
    * bound (≤ cap²/2 ≈ 20k pairs per task), not shingle-level sparsity.
    */
  val VecBucketCap = 200

  /** The pairs of each bucket of `rows` (grouped by `keys`) with 2..cap
    * members, one row per pair in column `p`. Each bucket is collected
    * whole, then dropped when over the cap: the shape for compact members
    * (ids, hashes, short signatures).
    */
  def collected(rows: DataFrame, label: String, keys: Seq[String],
      member: Column, cap: Int = DfCap): DataFrame = {
    val n = size(col("ds"))
    pairs(observeDrops(buckets(rows, keys, member), label, n, cap)
      .filter(n.between(2, cap)))
  }

  /** The same pairs, but bucket ids are counted first ([[inCappedBuckets]])
    * so an over-cap bucket's rows never reach the collect's exchange: the
    * shape for wide members (64-float vectors).
    */
  def prefiltered(rows: DataFrame, label: String, keys: Seq[String],
      member: Column, cap: Int = VecBucketCap): DataFrame =
    pairs(buckets(inCappedBuckets(rows, label, keys, cap), keys, member))

  /** The rows of `rows` whose bucket holds 2..cap rows: the count agg ships
    * only partial counts, and the bucket-id list joins back unforced (it is
    * O(n / occupancy) keys, broadcast by AQE where small).
    */
  def inCappedBuckets(rows: DataFrame, label: String, keys: Seq[String],
      cap: Int = VecBucketCap): DataFrame = {
    val counts = rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
    rows.join(observeDrops(counts, label, col("n"), cap)
      .filter(col("n").between(2, cap)).select(keys.map(col): _*), keys)
  }

  /** The 4×16-bit band split of a 64-bit hash column `x`, as an array of
    * four bucket keys (posexplode it into band, bkey).
    */
  def bands16(x: String): Column =
    expr(s"transform(sequence(0, 3), b -> shiftrightunsigned($x, b * 16) & 65535)")

  private def buckets(rows: DataFrame, keys: Seq[String],
      member: Column): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(member)).as("ds"))

  private def pairs(buckets: DataFrame): DataFrame = {
    val kernel = buckets.schema("ds").dataType match {
      case ArrayType(LongType, _) => "ordered_pairs"
      case ArrayType(_: StructType, _) => "struct_pairs"
      case t => throw new IllegalArgumentException(
        s"bucket members must be bigint or struct, got ${t.simpleString}")
    }
    buckets.select(explode(expr(s"$kernel(ds)")).as("p"))
  }

  private val ids = new AtomicLong()

  /** Attach the dropped-mass observation to a bucket frame whose bucket
    * size is `n`. The name is unique per call: `observe` names must be
    * unique within a plan, and the bench builds each query many times.
    */
  private def observeDrops(buckets: DataFrame, label: String, n: Column,
      cap: Int): DataFrame = {
    ensureListener(buckets.sparkSession)
    buckets.observe(s"graft_dropped_${label}_${ids.incrementAndGet()}",
      count(when(n > cap, lit(1))).as("dropped_buckets"),
      coalesce(sum(when(n > cap, n.cast("long"))), lit(0L))
        .as("dropped_postings"),
      count(lit(1)).as("total_buckets"))
  }

  /** Prints one line per action for each `graft_dropped_*` observation
    * that dropped a bucket.
    */
  private[graft] object DropLogger extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft_dropped_")) {
          val dropped = row.getAs[Long]("dropped_buckets")
          if (dropped > 0)
            Console.err.println(
              s"[graft] cap-drop $name: $dropped buckets " +
                s"(${row.getAs[Long]("dropped_postings")} postings) " +
                s"of ${row.getAs[Long]("total_buckets")} exceeded the " +
                "bucket cap and generated no pairs")
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Install [[DropLogger]] on `s` exactly once. Keyed by the session's
    * own listener list rather than a registry of sessions: a streaming
    * query runs each batch on its own cloned session (which inherits the
    * listener), so a registry would pin one more session per stream run.
    */
  def ensureListener(s: SparkSession): Unit = s.listenerManager.synchronized {
    s.listenerManager.unregister(DropLogger)
    s.listenerManager.register(DropLogger)
  }
}
