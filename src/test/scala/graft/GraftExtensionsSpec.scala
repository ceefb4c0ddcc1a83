package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The extensions class must light up the function library in a fresh
  * session with zero manual registration — the deployment contract.
  */
class GraftExtensionsSpec extends SparkSuite {

  test("every injected function resolves in the shared LocalSession " +
      "session (the extension is the only registration path)") {
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(f: (FunctionIdentifier, ExpressionInfo,
          Seq[Expression] => Expression)): Unit = names += f._1.funcName
    })
    assert(names.nonEmpty && names.distinct.size == names.size, names)
    assert(Seq("vec_quantize6", "vec_dotq", "bpe_apply", "mg_candidates")
      .forall(names.contains), names)
    val registry = spark.sessionState.functionRegistry
    val missing = names.filterNot(n =>
      registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"injected but unresolved: $missing")
  }

  test("spark.sql.extensions=graft.GraftExtensions registers every " +
      "function in a fresh session") {
    spark // ensure the shared context exists first
    // spark.sql.extensions is a STATIC conf read from the SparkContext at
    // first-session build — on a shared test context use the programmatic
    // form, which is the same GraftExtensions contract.
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val row = s2.sql(
        """SELECT fnv64('a') AS h,
                  simhash64(array('x', 'y')) AS sh,
                  size(minhash_sig(array('x'), 16)) AS mh,
                  size(winnow_fingerprint('abcdefghijklmnop')) AS wf,
                  to_extended_json(struct('v' as k)) AS ej""").head()
      assert(row.getLong(0) == 0xaf63dc4c8601ec8cL)
      assert(row.getInt(2) == 16)
      assert(row.getInt(3) >= 1)
      assert(row.getString(4) == """{"k":"v"}""")
      val agg = s2.sql(
        """SELECT simhash_agg(split(t, ' ')) FROM
           VALUES ('a b c'), ('a b d') AS v(t)""").head()
      assert(agg.getLong(0) != 0L)
      // the round-3 native kernels resolve through the same injection
      val k = s2.sql(
        """SELECT size(shingle_hashes(array('a','b','c','d'), 3)) AS sh,
                  size(minhash_ngrams(array('a','b','c'), 3, 8)) AS mn,
                  size(ordered_pairs(array(1L, 2L, 3L))) AS op,
                  sig_match(array(1L, 2L), array(1L, 9L)) AS sm,
                  size(lsh_buckets(array(1.0D, -2.0D), 4, 6)) AS lb,
                  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS vd,
                  vec_cos(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS vc,
                  size(vec_normalize(array(3.0D, 4.0D))) AS vn""").head()
      assert(k.getInt(0) == 2 && k.getInt(1) == 8 && k.getInt(2) == 3)
      assert(k.getLong(3) == 1L && k.getInt(4) == 4)
      assert(k.getDouble(5) == 11.0 && k.getDouble(6) == 1.0)
      assert(k.getInt(7) == 2)
      // round-5 kernels: word n-grams + substring windows
      val r5 = s2.sql(
        """SELECT word_ngrams(array('a','b','c'), 2) AS wg,
                  char_windows('abcdefgh', 4, 2) AS cw,
                  size(cdc_chunks('the quick brown fox', 3)) AS cc""").head()
      assert(r5.getSeq[String](0) == Seq("a b", "b c"))
      assert(r5.getSeq[String](1) == Seq("abcd", "cdef", "efgh"))
      assert(r5.getInt(2) >= 1)
    } finally {
      // keep the shared suite session; only drop this one's state
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
