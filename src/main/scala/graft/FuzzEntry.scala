package graft

import java.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Randomized differential-testing query generator (round-11 gate).
  *
  * The fixed 142-query oracle surface is green at three scale decades; the
  * remaining correctness exposure is exactly what a fixed set cannot see.
  * This generator is the engine's analog of the reference's property-style
  * fault-injection harness (`/root/reference/test/harness/harness.go:274-294`
  * probes behavior its fixed acceptance cases don't enumerate): a seeded
  * stream of random filter / projection / aggregate / join / window queries
  * over the existing testdata schemas, built through the SAME dual-rendering
  * discipline as the hand-written surface — every random expression is
  * materialized simultaneously as a Spark `Column` tree (the engine under
  * test) and as ANSI SQL (the DuckDB oracle), from one seeded decision
  * stream, so a seed fully reproduces both sides.
  *
  * Determinism rules (inherited from Tables.scala's oracle-safety notes):
  *  - integer arithmetic only in outputs (doubles enter via comparisons or
  *    `CAST(floor(x) AS BIGINT)` — DuckDB ROUNDS double→int, Spark
  *    truncates, so the cast is always taken on an exact integer value);
  *  - `CAST(SUM(..) AS BIGINT)` / `CAST(COUNT(..) AS BIGINT)` on the oracle
  *    side (DuckDB sums BIGINT into HUGEINT; COUNT/ROW_NUMBER widths vary);
  *  - every ORDER BY is total (unique key or the full group-key set) and
  *    spells NULLS FIRST (DuckDB defaults NULLS LAST on ASC, Spark FIRST);
  *  - window functions order by a unique tie-break inside each partition
  *    (except RANK, which is tie-deterministic by definition);
  *  - arithmetic depth and literal magnitudes are bounded so no BIGINT
  *    overflow is reachable at any testdata SF (Spark 4 runs ANSI mode).
  */
object FuzzEntry {

  /** Bump when the generation algorithm changes — a (version, seed) pair
    * identifies a query forever; FUZZ_r*.json records it.
    *
    * v2: scan/window shapes ORDER BY every output column, not just the
    * table's nominal key — the synthetic lineitem has ~20% duplicated
    * (l_orderkey, l_linenumber) pairs (only FULL rows are unique), so a
    * key-only sort was not total and the gate's positional compare saw
    * tied rows in engine-dependent order (v1 seeds 63/64/98/205). With
    * all output columns in the sort, rows tied on the whole sort key are
    * byte-identical in every compared column, which positional compare
    * accepts; window outputs stay deterministic as multisets because
    * ROW_NUMBER/LAG/running-SUM are position-functions of the (totally
    * sorted) value sequence, and fully-tied rows are interchangeable.
    *
    * v3 (round-12 VERDICT #5): a KERNEL shape family — the ~21 native
    * Catalyst expressions are exactly where a codegen bug would hide, and
    * none were reachable by the v2 scan/agg/join/window/union shapes.
    * Each kernel case applies a random native kernel (fnv64, simhash64 —
    * plain and over word_ngrams —, dhash64, a random minhash_ngrams
    * signature position, vec_quantize6/vec_dotq/lsh_buckets elements)
    * with random arguments to a guarded slice of documents/embeddings,
    * dual-rendered against the same HUGEINT replay fragments the fixed
    * oracle surface uses (OracleSql.fnvSql/mix64ChainSql/signedSql and
    * the quantize/plane-weight formulas).
    *
    * v4 (round-13 VERDICT #1): eight MORE kernel families close the
    * remaining native-surface gap — the kernels v3 could not reach:
    * winnow_fingerprint with random (k, w) [kwin], cdc_chunks with a
    * random mask width [kgear], bpe_apply with a random CHAINED merge
    * table (constructed trainer-style — each merge's symbols come from
    * the pool of base chars + earlier outputs, output strings unique, so
    * the doubled-space replace identity of the fixed BPE oracle holds)
    * [kbpe], word_ngrams/char_windows at random shapes and probe
    * positions [kngram], to_extended_json over a random envelope (random
    * field subset/order, covering $date, $timestamp, raw-passthrough and
    * escaped-string renderings) [kjson], ordered_pairs/struct_pairs/
    * sig_match over random bucket keys [kpairs], and the two native
    * aggregates: simhash_agg over random token kinds and group keys
    * [kshagg] and mg_candidates at random capacity with a random exact
    * support threshold, asserting the sketch-then-verify superset
    * guarantee end-to-end [kmg].
    */
  val GeneratorVersion = 4

  /** One expression, rendered for both engines from the same decisions. */
  final case class Ex(c: Column, sql: String)

  /** Table metadata: identity/sort key, typed column pools, literal pools.
    * `unique` is the table's nominal key — used as the leading sort and
    * window tie-break; it is NOT assumed unique (lineitem's isn't; only
    * full rows are), which is why every shape orders by all output columns.
    */
  final case class TMeta(
      name: String,
      unique: Seq[String],
      ints: Seq[String],
      dbls: Map[String, (Double, Double)],
      strs: Map[String, Seq[String]],
      lenStrs: Seq[String],
      tss: Map[String, Seq[String]])

  val lineitem = TMeta("lineitem",
    unique = Seq("l_orderkey", "l_linenumber"),
    ints = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
    dbls = Map("l_quantity" -> (1.0, 50.0), "l_extendedprice" -> (900.0, 105000.0),
      "l_discount" -> (0.0, 0.11), "l_tax" -> (0.0, 0.09)),
    strs = Map("l_returnflag" -> Seq("A", "N", "R"),
      "l_linestatus" -> Seq("F", "O")),
    lenStrs = Seq.empty,
    tss = Map("l_shipdate" -> Seq("1996-03-15 00:00:00", "1997-06-30 00:00:00",
      "1999-01-01 00:00:00", "2000-10-01 00:00:00")))

  val orders = TMeta("orders",
    unique = Seq("o_orderkey"),
    ints = Seq("o_orderkey", "o_custkey"),
    dbls = Map("o_totalprice" -> (1000.0, 500000.0)),
    strs = Map("o_orderstatus" -> Seq("F", "O", "P"),
      "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")),
    lenStrs = Seq("o_orderpriority"),
    tss = Map("o_orderdate" -> Seq("1996-01-01 00:00:00", "1997-07-01 00:00:00",
      "1999-06-01 00:00:00", "2001-01-01 00:00:00")))

  val customer = TMeta("customer",
    unique = Seq("c_custkey"),
    ints = Seq("c_custkey", "c_nationkey"),
    dbls = Map("c_acctbal" -> (-995.0, 9998.0)),
    strs = Map("c_mktsegment" -> Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY")),
    lenStrs = Seq("c_name"),
    tss = Map.empty)

  val part = TMeta("part",
    unique = Seq("p_partkey"),
    ints = Seq("p_partkey", "p_size"),
    dbls = Map("p_retailprice" -> (900.0, 2100.0)),
    strs = Map("p_brand" -> Seq("Brand#1", "Brand#5", "Brand#13", "Brand#21",
      "Brand#25")),
    lenStrs = Seq("p_name", "p_type"),
    tss = Map.empty)

  val supplier = TMeta("supplier",
    unique = Seq("s_suppkey"),
    ints = Seq("s_suppkey", "s_nationkey"),
    dbls = Map("s_acctbal" -> (-995.0, 9998.0)),
    strs = Map.empty,
    lenStrs = Seq("s_name"),
    tss = Map.empty)

  val nation = TMeta("nation",
    unique = Seq("n_nationkey"),
    ints = Seq("n_nationkey", "n_regionkey"),
    dbls = Map.empty, strs = Map.empty, lenStrs = Seq("n_name"), tss = Map.empty)

  val region = TMeta("region",
    unique = Seq("r_regionkey"),
    ints = Seq("r_regionkey"),
    dbls = Map.empty, strs = Map.empty, lenStrs = Seq("r_name"), tss = Map.empty)

  val events = TMeta("events",
    unique = Seq("event_id"),
    ints = Seq("event_id", "user_id"),
    dbls = Map("value" -> (0.0, 491.0)),
    strs = Map("event_type" -> Seq("click", "view", "purchase", "signup",
      "error")),
    lenStrs = Seq.empty,
    tss = Map("ts" -> Seq("2024-01-05 00:00:00", "2024-01-12 12:00:00",
      "2024-01-20 00:00:00", "2024-01-27 06:00:00")))

  val documents = TMeta("documents",
    unique = Seq("doc_id"),
    ints = Seq("doc_id", "n_chars"),
    dbls = Map.empty,
    strs = Map("lang" -> Seq("de", "en", "es", "fr", "zh"),
      "source" -> Seq("src0", "src3", "src7", "src12", "src19")),
    lenStrs = Seq("text"),
    tss = Map.empty)

  /** Single-table scan candidates. */
  val scanTables: Seq[TMeta] =
    Seq(lineitem, orders, customer, part, supplier, events, documents)

  /** Inner-equi-join chains along the star schema's FK edges. */
  val joinEdges: Map[(String, String), (String, String)] = Map(
    ("lineitem", "orders") -> ("l_orderkey", "o_orderkey"),
    ("orders", "customer") -> ("o_custkey", "c_custkey"),
    ("lineitem", "part") -> ("l_partkey", "p_partkey"),
    ("lineitem", "supplier") -> ("l_suppkey", "s_suppkey"),
    ("customer", "nation") -> ("c_nationkey", "n_nationkey"),
    ("supplier", "nation") -> ("s_nationkey", "n_nationkey"),
    ("nation", "region") -> ("n_regionkey", "r_regionkey"))

  val joinChains: Seq[Seq[TMeta]] = Seq(
    Seq(lineitem, orders), Seq(orders, customer), Seq(lineitem, part),
    Seq(lineitem, supplier), Seq(customer, nation), Seq(supplier, nation),
    Seq(lineitem, orders, customer), Seq(customer, nation, region),
    Seq(lineitem, supplier, nation), Seq(orders, customer, nation))

  final case class FuzzCase(
      name: String,
      seed: Long,
      shape: String,
      build: (SparkSession, String) => DataFrame,
      sql: String)

  // ----------------------------------------------------------------------
  // expression generators — every branch renders BOTH sides in lockstep
  // ----------------------------------------------------------------------

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  /** Base integer expression (BIGINT both sides), from one random column. */
  private def intBase(r: Random, ts: Seq[TMeta]): Ex = {
    val t = pick(r, ts)
    val opts = Seq.newBuilder[() => Ex]
    if (t.ints.nonEmpty) opts += { () =>
      val c = pick(r, t.ints)
      Ex(col(c).cast("long"), s"CAST($c AS BIGINT)")
    }
    if (t.dbls.nonEmpty) opts += { () =>
      // floor first: the double→int CAST rounds in DuckDB but truncates in
      // Spark; on an exact integer-valued double both agree.
      val c = pick(r, t.dbls.keys.toSeq.sorted)
      Ex(floor(col(c)).cast("long"), s"CAST(floor($c) AS BIGINT)")
    }
    if (t.tss.nonEmpty) opts += { () =>
      val c = pick(r, t.tss.keys.toSeq.sorted)
      if (r.nextBoolean())
        Ex(year(col(c)).cast("long"), s"CAST(year($c) AS BIGINT)")
      else
        Ex(month(col(c)).cast("long"), s"CAST(month($c) AS BIGINT)")
    }
    val strCands = (t.strs.keys ++ t.lenStrs).toSeq.sorted
    if (strCands.nonEmpty) opts += { () =>
      val c = pick(r, strCands)
      Ex(length(col(c)).cast("long"), s"CAST(length($c) AS BIGINT)")
    }
    pick(r, opts.result())()
  }

  /** Integer expression with bounded arithmetic depth. */
  private def intExpr(r: Random, ts: Seq[TMeta], depth: Int): Ex =
    r.nextInt(10) match {
      case 0 | 1 if depth < 2 =>
        val a = intExpr(r, ts, depth + 1); val b = intExpr(r, ts, depth + 1)
        if (r.nextBoolean()) Ex(a.c + b.c, s"(${a.sql} + ${b.sql})")
        else Ex(a.c - b.c, s"(${a.sql} - ${b.sql})")
      case 2 if depth < 2 =>
        val a = intExpr(r, ts, depth + 1); val k = 2 + r.nextInt(8)
        Ex(a.c * lit(k.toLong), s"(${a.sql} * $k)")
      case 3 if depth < 2 =>
        // both engines take the dividend's sign for % — consistent even
        // when a subtraction above went negative
        val a = intExpr(r, ts, depth + 1); val m = 2 + r.nextInt(12)
        Ex(a.c % lit(m.toLong), s"(${a.sql} % $m)")
      case 4 if depth < 2 =>
        val p = pred(r, ts, depth + 1); val v = r.nextInt(100).toLong
        val a = intExpr(r, ts, depth + 1)
        Ex(when(p.c, lit(v)).otherwise(a.c),
          s"(CASE WHEN ${p.sql} THEN $v ELSE ${a.sql} END)")
      case _ => intBase(r, ts)
    }

  /** Boolean predicate over the chain's columns. */
  private def pred(r: Random, ts: Seq[TMeta], depth: Int): Ex = {
    def leaf(): Ex = {
      val t = pick(r, ts)
      val opts = Seq.newBuilder[() => Ex]
      opts += { () =>
        val e = intExpr(r, ts, 1)
        val (cmpC, cmpS): ((Column, Column) => Column, String) = r.nextInt(6) match {
          case 0 => ((a: Column, b: Column) => a < b, "<")
          case 1 => ((a: Column, b: Column) => a <= b, "<=")
          case 2 => ((a: Column, b: Column) => a > b, ">")
          case 3 => ((a: Column, b: Column) => a >= b, ">=")
          case 4 => ((a: Column, b: Column) => a === b, "=")
          case _ => ((a: Column, b: Column) => a =!= b, "<>")
        }
        val v = (r.nextInt(4) match {
          case 0 => r.nextInt(10)
          case 1 => r.nextInt(60)
          case 2 => r.nextInt(500)
          case _ => 1000 * (1 + r.nextInt(9))
        }).toLong
        Ex(cmpC(e.c, lit(v)), s"(${e.sql} $cmpS $v)")
      }
      opts += { () =>
        // mod-equality — sf-independent selectivity ~1/m
        val e = intBase(r, ts); val m = 5 + r.nextInt(9); val k = r.nextInt(m)
        Ex(e.c % lit(m.toLong) === lit(k.toLong), s"((${e.sql} % $m) = $k)")
      }
      if (t.strs.nonEmpty) opts += { () =>
        val c = pick(r, t.strs.keys.toSeq.sorted); val pool = t.strs(c)
        r.nextInt(3) match {
          case 0 =>
            val v = pick(r, pool)
            Ex(col(c) === lit(v), s"($c = '$v')")
          case 1 =>
            val n = 2 + r.nextInt(math.min(3, pool.size - 1))
            val vs = r.shuffle(pool.toList).take(n).sorted
            Ex(col(c).isin(vs: _*),
              s"($c IN (${vs.map(v => s"'$v'").mkString(", ")}))")
          case _ =>
            val v = pick(r, pool)
            val p = v.substring(0, math.max(1, math.min(v.length, 1 + r.nextInt(4))))
            Ex(col(c).like(s"$p%"), s"($c LIKE '$p%')")
        }
      }
      if (t.tss.nonEmpty) opts += { () =>
        val c = pick(r, t.tss.keys.toSeq.sorted); val v = pick(r, t.tss(c))
        val lt = r.nextBoolean()
        val tsLit = lit(v).cast("timestamp")
        if (lt) Ex(col(c) < tsLit, s"($c < TIMESTAMP '$v')")
        else Ex(col(c) >= tsLit, s"($c >= TIMESTAMP '$v')")
      }
      if (t.dbls.nonEmpty) opts += { () =>
        // comparison only — no double arithmetic ever reaches an output
        val c = pick(r, t.dbls.keys.toSeq.sorted); val (lo, hi) = t.dbls(c)
        val frac = (1 + r.nextInt(9)) / 10.0
        val v = BigDecimal(lo + frac * (hi - lo))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
        if (r.nextBoolean()) Ex(col(c) < lit(v.toDouble), s"($c < $v)")
        else Ex(col(c) >= lit(v.toDouble), s"($c >= $v)")
      }
      pick(r, opts.result())()
    }
    if (depth < 2 && r.nextInt(10) < 4) {
      val a = pred(r, ts, depth + 1); val b = pred(r, ts, depth + 1)
      r.nextInt(3) match {
        case 0 => Ex(a.c && b.c, s"(${a.sql} AND ${b.sql})")
        case 1 => Ex(a.c || b.c, s"(${a.sql} OR ${b.sql})")
        case _ => Ex(!a.c, s"(NOT ${a.sql})")
      }
    } else leaf()
  }

  /** Low-cardinality grouping key (bounded group count at any SF). */
  private def groupKey(r: Random, ts: Seq[TMeta]): Ex = {
    val t = pick(r, ts)
    val opts = Seq.newBuilder[() => Ex]
    if (t.strs.nonEmpty) opts += { () =>
      val c = pick(r, t.strs.keys.toSeq.sorted)
      Ex(col(c), c)
    }
    if (t.tss.nonEmpty) opts += { () =>
      val c = pick(r, t.tss.keys.toSeq.sorted)
      if (r.nextBoolean())
        Ex(year(col(c)).cast("long"), s"CAST(year($c) AS BIGINT)")
      else
        Ex(month(col(c)).cast("long"), s"CAST(month($c) AS BIGINT)")
    }
    opts += { () =>
      val e = intBase(r, ts); val m = 2 + r.nextInt(12)
      Ex(e.c % lit(m.toLong), s"(${e.sql} % $m)")
    }
    if (t.strs.nonEmpty) opts += { () =>
      val c = pick(r, t.strs.keys.toSeq.sorted)
      Ex(substring(col(c), 1, 1), s"substr($c, 1, 1)")
    }
    pick(r, opts.result())()
  }

  /** One aggregate (Spark Column + oracle SQL, result types aligned). */
  private def aggItem(r: Random, ts: Seq[TMeta]): Ex =
    r.nextInt(7) match {
      case 0 => Ex(count(lit(1)), "CAST(COUNT(*) AS BIGINT)")
      case 1 =>
        val e = intExpr(r, ts, 1)
        Ex(sum(e.c), s"CAST(SUM(${e.sql}) AS BIGINT)")
      case 2 =>
        val e = intExpr(r, ts, 1)
        if (r.nextBoolean()) Ex(min(e.c), s"MIN(${e.sql})")
        else Ex(max(e.c), s"MAX(${e.sql})")
      case 3 =>
        val e = intBase(r, ts)
        Ex(count_distinct(e.c), s"CAST(COUNT(DISTINCT ${e.sql}) AS BIGINT)")
      case 4 =>
        val strT = ts.filter(_.strs.nonEmpty)
        if (strT.isEmpty) Ex(count(lit(1)), "CAST(COUNT(*) AS BIGINT)")
        else {
          val t = pick(r, strT); val c = pick(r, t.strs.keys.toSeq.sorted)
          if (r.nextBoolean()) Ex(min(col(c)), s"MIN($c)")
          else Ex(max(col(c)), s"MAX($c)")
        }
      case 5 =>
        val tsT = ts.filter(_.tss.nonEmpty)
        if (tsT.isEmpty) Ex(count(lit(1)), "CAST(COUNT(*) AS BIGINT)")
        else {
          val t = pick(r, tsT); val c = pick(r, t.tss.keys.toSeq.sorted)
          if (r.nextBoolean()) Ex(min(col(c)), s"MIN($c)")
          else Ex(max(col(c)), s"MAX($c)")
        }
      case _ =>
        val p = pred(r, ts, 1)
        Ex(sum(when(p.c, lit(1L)).otherwise(lit(0L))),
          s"CAST(SUM(CASE WHEN ${p.sql} THEN 1 ELSE 0 END) AS BIGINT)")
    }

  // ----------------------------------------------------------------------
  // query shapes
  // ----------------------------------------------------------------------

  private def loadChain(s: SparkSession, dir: String,
      chain: Seq[TMeta]): DataFrame =
    chain.tail.foldLeft(graft.queries.Tables.load(s, dir, chain.head.name)) {
      (acc, t) =>
        val prev = chain(chain.indexOf(t) - 1)
        val (lc, rc) = joinEdges.getOrElse((prev.name, t.name),
          joinEdges((t.name, prev.name)).swap)
        acc.join(graft.queries.Tables.load(s, dir, t.name),
          col(lc) === col(rc))
    }

  private def fromSql(chain: Seq[TMeta]): String =
    chain.tail.foldLeft(chain.head.name) { (acc, t) =>
      val prev = chain(chain.indexOf(t) - 1)
      val (lc, rc) = joinEdges.getOrElse((prev.name, t.name),
        joinEdges((t.name, prev.name)).swap)
      s"$acc JOIN ${t.name} ON $lc = $rc"
    }

  /** Shape A — single-table filter + projection. A mandatory mod-pred
    * conjunct on the unique key bounds the output at any SF (≤ rows/7).
    */
  private def shapeScan(r: Random, seed: Long): FuzzCase = {
    val t = pick(r, scanTables)
    val ts = Seq(t)
    val m = 7 + r.nextInt(7); val k = r.nextInt(m)
    val guard = Ex(col(t.unique.head) % lit(m.toLong) === lit(k.toLong),
      s"((${t.unique.head} % $m) = $k)")
    val p = pred(r, ts, 1)
    val nx = 2 + r.nextInt(3)
    val xs = (0 until nx).map(i => s"x$i" -> intExpr(r, ts, 0))
    val keyCols = t.unique
    val outCols = keyCols ++ xs.map(_._1)
    val selSql = (keyCols.map(c => c) ++
      xs.map { case (n, e) => s"${e.sql} AS $n" }).mkString(", ")
    val ordSql = outCols.map(c => s"$c NULLS FIRST").mkString(", ")
    val sql =
      s"""SELECT $selSql
         |FROM ${t.name}
         |WHERE ${guard.sql} AND ${p.sql}
         |ORDER BY $ordSql""".stripMargin
    val build = (s: SparkSession, dir: String) => {
      val df = graft.queries.Tables.load(s, dir, t.name)
      df.filter(guard.c && p.c)
        .select(keyCols.map(col) ++
          xs.map { case (n, e) => e.c.as(n) }: _*)
        .orderBy(outCols.map(c => col(c).asc_nulls_first): _*)
    }
    FuzzCase(f"fz_$seed%04d_scan", seed, "scan", build, sql)
  }

  /** Shape B — single-table (optionally filtered, optionally global)
    * aggregation; a0 is always COUNT(*) so HAVING can reference it.
    */
  private def shapeAgg(r: Random, seed: Long): FuzzCase = {
    val t = pick(r, scanTables)
    val ts = Seq(t)
    val hasFilter = r.nextBoolean()
    val p = if (hasFilter) Some(pred(r, ts, 1)) else None
    val nk = r.nextInt(3) // 0 = global aggregate
    val keys = (0 until nk).map(i => s"k$i" -> groupKey(r, ts))
    val na = 1 + r.nextInt(3)
    val aggs = ("a0" -> Ex(count(lit(1)), "CAST(COUNT(*) AS BIGINT)")) +:
      (1 to na).map(i => s"a$i" -> aggItem(r, ts))
    val having = if (nk > 0 && r.nextInt(3) == 0) Some(1 + r.nextInt(4)) else None
    val selSql = (keys.map { case (n, e) => s"${e.sql} AS $n" } ++
      aggs.map { case (n, e) => s"${e.sql} AS $n" }).mkString(", ")
    val sql =
      s"""SELECT $selSql
         |FROM ${t.name}
         |${p.map(x => s"WHERE ${x.sql}").getOrElse("")}
         |${if (nk > 0) "GROUP BY " + keys.map(_._2.sql).mkString(", ") else ""}
         |${having.map(h => s"HAVING COUNT(*) > $h").getOrElse("")}
         |${if (nk > 0) "ORDER BY " + keys.map(k => s"${k._1} NULLS FIRST").mkString(", ") else ""}"""
        .stripMargin.linesIterator.filter(_.nonEmpty).mkString("\n")
    val build = (s: SparkSession, dir: String) => {
      var df = graft.queries.Tables.load(s, dir, t.name)
      p.foreach(x => df = df.filter(x.c))
      var out =
        if (nk > 0)
          df.groupBy(keys.map { case (n, e) => e.c.as(n) }: _*)
            .agg(aggs.head._2.c.as(aggs.head._1),
              aggs.tail.map { case (n, e) => e.c.as(n) }: _*)
        else
          df.agg(aggs.head._2.c.as(aggs.head._1),
            aggs.tail.map { case (n, e) => e.c.as(n) }: _*)
      having.foreach(h => out = out.filter(col("a0") > h))
      if (nk > 0)
        out = out.orderBy(keys.map(k => col(k._1).asc_nulls_first): _*)
      out
    }
    FuzzCase(f"fz_$seed%04d_agg", seed, "agg", build, sql)
  }

  /** Shape C — 2-3-table inner-join chain + aggregation over mixed keys. */
  private def shapeJoin(r: Random, seed: Long): FuzzCase = {
    val chain = pick(r, joinChains)
    val ts = chain
    val hasFilter = r.nextBoolean()
    val p = if (hasFilter) Some(pred(r, ts, 1)) else None
    val nk = 1 + r.nextInt(2)
    val keys = (0 until nk).map(i => s"k$i" -> groupKey(r, ts))
    val na = 1 + r.nextInt(3)
    val aggs = ("a0" -> Ex(count(lit(1)), "CAST(COUNT(*) AS BIGINT)")) +:
      (1 to na).map(i => s"a$i" -> aggItem(r, ts))
    val selSql = (keys.map { case (n, e) => s"${e.sql} AS $n" } ++
      aggs.map { case (n, e) => s"${e.sql} AS $n" }).mkString(", ")
    val sql =
      s"""SELECT $selSql
         |FROM ${fromSql(chain)}
         |${p.map(x => s"WHERE ${x.sql}").getOrElse("")}
         |GROUP BY ${keys.map(_._2.sql).mkString(", ")}
         |ORDER BY ${keys.map(k => s"${k._1} NULLS FIRST").mkString(", ")}"""
        .stripMargin.linesIterator.filter(_.nonEmpty).mkString("\n")
    val build = (s: SparkSession, dir: String) => {
      var df = loadChain(s, dir, chain)
      p.foreach(x => df = df.filter(x.c))
      df.groupBy(keys.map { case (n, e) => e.c.as(n) }: _*)
        .agg(aggs.head._2.c.as(aggs.head._1),
          aggs.tail.map { case (n, e) => e.c.as(n) }: _*)
        .orderBy(keys.map(k => col(k._1).asc_nulls_first): _*)
    }
    FuzzCase(f"fz_$seed%04d_join", seed, "join", build, sql)
  }

  /** Shape D — windowed top-N per partition: ROW_NUMBER over a totally
    * ordered window (unique-key tie-break) plus one more window function;
    * a mandatory mod-pred prefilter bounds the scan, rn ≤ K bounds output.
    */
  private def shapeWindow(r: Random, seed: Long): FuzzCase = {
    val t = pick(r, scanTables)
    val ts = Seq(t)
    val m = 3 + r.nextInt(5); val k = r.nextInt(m)
    val guard = Ex(col(t.unique.head) % lit(m.toLong) === lit(k.toLong),
      s"((${t.unique.head} % $m) = $k)")
    val pk = groupKey(r, ts)
    val ord = intExpr(r, ts, 1)
    val topN = 2 + r.nextInt(4)
    val keyCols = t.unique
    val tieSql = keyCols.map(c => s"$c NULLS FIRST").mkString(", ")
    val overSql = s"PARTITION BY ${pk.sql} ORDER BY ${ord.sql} NULLS FIRST, $tieSql"
    val wSpark = Window.partitionBy(pk.c)
      .orderBy(ord.c.asc_nulls_first +: keyCols.map(c => col(c).asc_nulls_first): _*)
    // extra window function: RANK is tie-deterministic so it may order by
    // the raw expression alone; LAG and running-SUM need the tie-break
    val extra: (String, Ex) = r.nextInt(3) match {
      case 0 =>
        val w2 = Window.partitionBy(pk.c).orderBy(ord.c.asc_nulls_first)
        ("x1", Ex(rank().over(w2).cast("long"),
          s"CAST(RANK() OVER (PARTITION BY ${pk.sql} ORDER BY ${ord.sql} NULLS FIRST) AS BIGINT)"))
      case 1 =>
        ("x1", Ex(coalesce(lag(ord.c, 1).over(wSpark), lit(-1L)),
          s"COALESCE(LAG(${ord.sql}, 1) OVER ($overSql), -1)"))
      case _ =>
        val wRows = wSpark.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ("x1", Ex(sum(ord.c).over(wRows),
          s"CAST(SUM(${ord.sql}) OVER ($overSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"))
    }
    val selKeys = keyCols.map(c => c).mkString(", ")
    val outCols = keyCols ++ Seq("k0", "x0", "rn", extra._1)
    val ordOutSql = outCols.map(c => s"$c NULLS FIRST").mkString(", ")
    val sql =
      s"""WITH w AS (
         |  SELECT $selKeys, ${pk.sql} AS k0, ${ord.sql} AS x0,
         |         CAST(ROW_NUMBER() OVER ($overSql) AS BIGINT) AS rn,
         |         ${extra._2.sql} AS ${extra._1}
         |  FROM ${t.name}
         |  WHERE ${guard.sql})
         |SELECT * FROM w WHERE rn <= $topN
         |ORDER BY $ordOutSql""".stripMargin
    val build = (s: SparkSession, dir: String) => {
      graft.queries.Tables.load(s, dir, t.name)
        .filter(guard.c)
        .select(keyCols.map(col) ++ Seq(pk.c.as("k0"), ord.c.as("x0"),
          row_number().over(wSpark).cast("long").as("rn"),
          extra._2.c.as(extra._1)): _*)
        .filter(col("rn") <= topN)
        .orderBy(outCols.map(c => col(c).asc_nulls_first): _*)
    }
    FuzzCase(f"fz_$seed%04d_window", seed, "window", build, sql)
  }

  /** Shape E — UNION ALL of two filtered branches, then aggregate. */
  private def shapeUnion(r: Random, seed: Long): FuzzCase = {
    val t = pick(r, scanTables)
    val ts = Seq(t)
    val p1 = pred(r, ts, 1); val p2 = pred(r, ts, 1)
    val x = intExpr(r, ts, 1); val k0 = groupKey(r, ts)
    val sql =
      s"""WITH u AS (
         |  SELECT ${k0.sql} AS k0, ${x.sql} AS x0 FROM ${t.name} WHERE ${p1.sql}
         |  UNION ALL
         |  SELECT ${k0.sql} AS k0, ${x.sql} AS x0 FROM ${t.name} WHERE ${p2.sql})
         |SELECT k0, CAST(COUNT(*) AS BIGINT) AS a0,
         |       CAST(SUM(x0) AS BIGINT) AS a1,
         |       MIN(x0) AS a2, MAX(x0) AS a3
         |FROM u GROUP BY k0
         |ORDER BY k0 NULLS FIRST""".stripMargin
    val build = (s: SparkSession, dir: String) => {
      val df = graft.queries.Tables.load(s, dir, t.name)
      val b1 = df.filter(p1.c).select(k0.c.as("k0"), x.c.as("x0"))
      val b2 = df.filter(p2.c).select(k0.c.as("k0"), x.c.as("x0"))
      b1.unionAll(b2).groupBy(col("k0"))
        .agg(count(lit(1)).as("a0"), sum(col("x0")).as("a1"),
          min(col("x0")).as("a2"), max(col("x0")).as("a3"))
        .orderBy(col("k0").asc_nulls_first)
    }
    FuzzCase(f"fz_$seed%04d_union", seed, "union", build, sql)
  }

  /** Shape F (v3) — native-kernel differential: one random custom kernel
    * with random arguments over a mod-guarded slice of documents (string /
    * token kernels) or embeddings (vector kernels), its DuckDB side built
    * from the same replay fragments the fixed oracle surface uses. All
    * outputs are BIGINT both sides; keys are unique (doc_id / vec_id) but
    * the sort still spells every output column per the v2 discipline.
    */
  private def shapeKernel(r: Random, seed: Long): FuzzCase = {
    import graft.queries.OracleSql.{fnvSql, mix64ChainSql, signedSql}
    val prime = graft.functions.TextHashImpl.Prime

    def docCase(kind: String, outs: Seq[(String, String, String)],
        ctes: String, fromSql: String): FuzzCase = {
      // outs: (name, sparkExpr, duckSelectExpr on the post-CTE from)
      val m = 5 + r.nextInt(7); val k = r.nextInt(m)
      val guard = s"((doc_id % $m) = $k)"
      val ordSql = ("doc_id" +: outs.map(_._1))
        .map(c => s"$c NULLS FIRST").mkString(", ")
      val withSql = if (ctes.isEmpty) "" else
        s"WITH base AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts\n" +
          s"             FROM documents WHERE $guard),\n$ctes\n"
      val whereSql = if (ctes.isEmpty) s"WHERE $guard" else ""
      val sql =
        s"""${withSql}SELECT doc_id, ${outs.map { case (n, _, d) =>
             s"$d AS $n" }.mkString(", ")}
           |FROM $fromSql $whereSql
           |ORDER BY $ordSql""".stripMargin
      val build = (s: SparkSession, dir: String) =>
        graft.queries.Tables.scan(s, dir, "documents")
          .filter(expr(guard))
          .select(col("doc_id") +: outs.map { case (n, sp, _) =>
            expr(sp).as(n) }: _*)
          .orderBy(("doc_id" +: outs.map(_._1))
            .map(c => col(c).asc_nulls_first): _*)
      FuzzCase(f"fz_$seed%04d_$kind", seed, kind, build, sql)
    }

    r.nextInt(5) match {
      case 0 => // fnv64 over two random string expressions
        def strExpr(): (String, String) = r.nextInt(7) match {
          case 0 => ("text", "text")
          case 1 =>
            val a = 1 + r.nextInt(40); val l = 1 + r.nextInt(12)
            (s"substring(text, $a, $l)", s"substring(text, $a, $l)")
          case 2 => ("concat(lang, ':', source)", "lang || ':' || source")
          case 3 => ("upper(source)", "upper(source)")
          case 4 => ("lower(lang)", "lower(lang)")
          case 5 => ("source", "source")
          case _ => ("lang", "lang")
        }
        val (s0, d0) = strExpr(); val (s1, d1) = strExpr()
        docCase("kfnv", Seq(
          ("h0", s"fnv64($s0)", signedSql(fnvSql(d0))),
          ("h1", s"fnv64($s1)", signedSql(fnvSql(d1)))),
          ctes = "", fromSql = "documents")

      case 1 => // simhash64 over tokens or word n-grams
        val n = 1 + r.nextInt(4) // 1 = plain tokens, 2..4 = word_ngrams
        val (sparkToks, itemCte, cntSpark, cntDuck) =
          if (n == 1)
            ("split(text, ' ')",
              "item AS (SELECT doc_id, unnest(ts) AS it FROM base)",
              "size(split(text, ' '))", "len(ts)")
          else {
            val gram = (0 until n).map(o => s"ts[i + $o]")
              .mkString(" || ' ' || ")
            (s"word_ngrams(split(text, ' '), $n)",
              s"""item AS (SELECT doc_id, $gram AS it
                  FROM base, LATERAL (SELECT unnest(range(1,
                    len(ts) - ${n - 2})) AS i) u)""",
              s"size(word_ngrams(split(text, ' '), $n))",
              s"CASE WHEN len(ts) >= $n THEN len(ts) - ${n - 1} ELSE 0 END")
          }
        val ctes =
          s"""$itemCte,
             |th AS (SELECT doc_id, ${fnvSql("it")} AS h FROM item),
             |bits AS (
             |  SELECT doc_id, b,
             |         SUM(CASE WHEN (h // CAST(2 ** b AS HUGEINT)) % 2 = 1
             |             THEN 1 ELSE -1 END) AS v
             |  FROM th, (SELECT unnest(generate_series(0, 63)) AS b) bs
             |  GROUP BY doc_id, b),
             |sim AS (
             |  SELECT doc_id, SUM(CASE WHEN v > 0 THEN CAST(2 ** b AS HUGEINT)
             |                     ELSE 0::HUGEINT END) AS sim_u
             |  FROM bits GROUP BY doc_id)""".stripMargin
        docCase("ksim", Seq(
          ("sh", s"simhash64($sparkToks)",
            signedSql("COALESCE(sim.sim_u, 0::HUGEINT)")),
          ("cnt", s"CAST($cntSpark AS BIGINT)",
            s"CAST($cntDuck AS BIGINT)")),
          ctes, "base LEFT JOIN sim USING (doc_id)")

      case 2 => // dhash64 over the token array (bigram-histogram bitmap)
        val ctes =
          """tk AS (SELECT doc_id,
            |              CAST(('0x' || substr(md5(ts[i] || ' ' || ts[i+1]),
            |                1, 4)) AS INT) % 72 AS g
            |       FROM base,
            |            LATERAL (SELECT unnest(generate_series(1,
            |              len(ts) - 1)) AS i) s
            |       WHERE len(ts) >= 2),
            |cnt AS (SELECT doc_id, g, COUNT(*) AS v FROM tk GROUP BY 1, 2),
            |cells AS (SELECT b0.doc_id, gs.g, COALESCE(c.v, 0) AS v
            |          FROM base b0
            |          CROSS JOIN (SELECT unnest(generate_series(0, 71)) AS g) gs
            |          LEFT JOIN cnt c ON c.doc_id = b0.doc_id AND c.g = gs.g),
            |bits AS (SELECT c1.doc_id, bs.b
            |         FROM (SELECT unnest(generate_series(0, 63)) AS b) bs
            |         JOIN cells c1 ON c1.g = bs.b + bs.b // 8
            |         JOIN cells c2 ON c2.doc_id = c1.doc_id
            |                      AND c2.g = bs.b + bs.b // 8 + 1
            |         WHERE c1.v < c2.v),
            |dh AS (SELECT b0.doc_id,
            |              COALESCE(SUM(CAST(2 ** bb.b AS HUGEINT)),
            |                0::HUGEINT) AS dh_u
            |       FROM base b0 LEFT JOIN bits bb ON bb.doc_id = b0.doc_id
            |       GROUP BY b0.doc_id)""".stripMargin
        docCase("kdhash", Seq(
          ("dh", "dhash64(split(text, ' '))", signedSql("dh.dh_u")),
          ("cnt", "CAST(size(split(text, ' ')) AS BIGINT)",
            "CAST(len(ts) AS BIGINT)")),
          ctes, "base JOIN dh USING (doc_id)")

      case 3 => // one random minhash_ngrams signature position
        val ng = 2 + r.nextInt(3)
        val k2 = Seq(8, 16, 32)(r.nextInt(3))
        val j = 1 + r.nextInt(k2)
        val gram = (0 until ng).map(o => s"ts[i + $o]")
          .mkString(" || ' ' || ")
        val ctes =
          s"""gram AS (SELECT doc_id, $gram AS g
             |         FROM base, LATERAL (SELECT unnest(range(1,
             |           len(ts) - ${ng - 2})) AS i) u),
             |gh AS (SELECT doc_id, ${fnvSql("g")} AS h FROM gram),
             |mx AS (${mix64ChainSql("doc_id",
                s"h + ${j - 1} * $prime::HUGEINT", "gh", "mixed")}),
             |smin AS (SELECT doc_id, MIN(${signedSql("mixed")}) AS mv
             |         FROM mx GROUP BY doc_id)""".stripMargin
        docCase("kminhash", Seq(
          ("mh", s"element_at(minhash_ngrams(split(text, ' '), $ng, $k2), $j)",
            "COALESCE(smin.mv, 9223372036854775807)")),
          ctes, "base LEFT JOIN smin USING (doc_id)")

      case _ => // vector kernels over embeddings
        val m = 5 + r.nextInt(7); val k = r.nextInt(m)
        val guard = s"((vec_id % $m) = $k)"
        def qeDuck(i: Int): String =
          s"CAST(FLOOR(CAST(q.embedding[$i] AS DOUBLE) * 1000000.0 + 0.5) " +
            "AS BIGINT)"
        val i0 = 1 + r.nextInt(64)
        val x0 = ("x0", s"element_at(vec_quantize6(embedding), $i0)",
          qeDuck(i0))
        val (x1, ctes, fromSql) = r.nextInt(3) match {
          case 0 =>
            val i1 = 1 + r.nextInt(64)
            (("x1", s"element_at(vec_quantize6(embedding), $i1)", qeDuck(i1)),
              "", "q")
          case 1 => // exact squared norm on the micro-unit lattice
            (("x1",
              "vec_dotq(vec_quantize6(embedding), vec_quantize6(embedding))",
              "sx.sxx"),
              """d AS (SELECT vec_id, CAST(FLOOR(CAST(x AS DOUBLE)
                |         * 1000000.0 + 0.5) AS BIGINT) AS xq
                |      FROM (SELECT vec_id, unnest(embedding) AS x FROM q) u),
                |sx AS (SELECT vec_id, CAST(SUM(xq * xq) AS BIGINT) AS sxx
                |       FROM d GROUP BY vec_id)""".stripMargin,
              "q JOIN sx USING (vec_id)")
          case _ => // one random lsh_buckets table
            val t = 2 + r.nextInt(3); val p = 4 + r.nextInt(5)
            val jt = 1 + r.nextInt(t)
            (("x1", s"element_at(lsh_buckets(embedding, $t, $p), $jt)",
              "b.bucket"),
              s"""dd AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                 |             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                 |               * 1000000.0 + 0.5) AS BIGINT) AS xq
                 |      FROM q),
                 |proj AS (SELECT vec_id, j2,
                 |                SUM(xq * (((${jt - 1} * $p + j2) * 2654435761
                 |                  + dim * 2246822519) % 251 % 7 - 3)) AS s
                 |         FROM dd, (SELECT unnest(range(0, $p)) AS j2) js
                 |         GROUP BY vec_id, j2),
                 |b AS (SELECT vec_id,
                 |             CAST(SUM(CASE WHEN s > 0 THEN (1 << j2)
                 |               ELSE 0 END) AS BIGINT) AS bucket
                 |      FROM proj GROUP BY vec_id)""".stripMargin,
              "q JOIN b USING (vec_id)")
        }
        val outs = Seq(x0, x1)
        val ordSql = ("vec_id" +: outs.map(_._1))
          .map(c => s"$c NULLS FIRST").mkString(", ")
        val ctesSql = if (ctes.isEmpty) "" else s",\n$ctes"
        val sql =
          s"""WITH q AS (SELECT vec_id, embedding FROM embeddings
             |           WHERE $guard)$ctesSql
             |SELECT vec_id, ${outs.map { case (n, _, d) =>
               s"$d AS $n" }.mkString(", ")}
             |FROM $fromSql
             |ORDER BY $ordSql""".stripMargin
        val build = (s: SparkSession, dir: String) =>
          graft.queries.Tables.scan(s, dir, "embeddings")
            .filter(expr(guard))
            .select(col("vec_id") +: outs.map { case (n, sp, _) =>
              expr(sp).as(n) }: _*)
            .orderBy(("vec_id" +: outs.map(_._1))
              .map(c => col(c).asc_nulls_first): _*)
        FuzzCase(f"fz_$seed%04d_kvec", seed, "kvec", build, sql)
    }
  }

  // ----------------------------------------------------------------------
  // v4 kernel families — the natives v3 could not reach
  // ----------------------------------------------------------------------

  /** Shared doc-level output discipline for the per-doc kernel families:
    * doc_id plus BIGINT probes, every output column in the sort.
    */
  private def docKernelCase(kind: String, seed: Long, guard: String,
      outs: Seq[(String, String)], sql: String): FuzzCase = {
    val build = (s: SparkSession, dir: String) =>
      graft.queries.Tables.scan(s, dir, "documents")
        .filter(expr(guard))
        .select(col("doc_id") +: outs.map { case (n, sp) =>
          expr(sp).as(n) }: _*)
        .orderBy(("doc_id" +: outs.map(_._1))
          .map(c => col(c).asc_nulls_first): _*)
    FuzzCase(f"fz_$seed%04d_$kind", seed, kind, build, sql)
  }

  private def ordSqlOf(cols: Seq[String]): String =
    cols.map(c => s"$c NULLS FIRST").mkString(", ")

  /** kwin — winnow_fingerprint(text, k, w) at random (k, w): per-doc
    * fingerprint count (engine side dedups+sorts) and min/max selected
    * hash, vs the parameterized window-minima replay of the fixed
    * dedup_winnow_pairs oracle.
    */
  private def shapeKWin(r: Random, seed: Long): FuzzCase = {
    import graft.queries.OracleSql.{fnvSql, signedSql}
    val kk = 3 + r.nextInt(5) // 3..7
    val ww = 2 + r.nextInt(7) // 2..8
    val m = 5 + r.nextInt(7); val g = r.nextInt(m)
    val guard = s"((doc_id % $m) = $g)"
    val sql =
      s"""WITH base AS (SELECT doc_id, text, length(text) AS L
         |              FROM documents WHERE $guard),
         |grams AS (
         |  SELECT doc_id, i,
         |         ${signedSql(fnvSql(s"substring(text, i, $kk)"))} AS h,
         |         L - ${kk - 1} AS m
         |  FROM base,
         |       LATERAL (SELECT unnest(generate_series(1, L - ${kk - 1}))
         |                AS i) u
         |  WHERE L >= $kk),
         |wmin AS (
         |  SELECT doc_id, i, m,
         |         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
         |                      ROWS BETWEEN CURRENT ROW AND ${ww - 1}
         |                      FOLLOWING) AS wm
         |  FROM grams),
         |picked AS (
         |  SELECT doc_id, wm FROM wmin WHERE m <= $ww AND i = 1
         |  UNION
         |  SELECT doc_id, wm FROM wmin WHERE m > $ww AND i + ${ww - 1} <= m),
         |agg AS (SELECT doc_id, CAST(COUNT(DISTINCT wm) AS BIGINT) AS nfp,
         |               MIN(wm) AS fmin, MAX(wm) AS fmax
         |        FROM picked GROUP BY doc_id)
         |SELECT b.doc_id, CAST(COALESCE(nfp, 0) AS BIGINT) AS nfp,
         |       CAST(COALESCE(fmin, 9223372036854775807) AS BIGINT) AS fmin,
         |       CAST(COALESCE(fmax, -9223372036854775807 - 1) AS BIGINT)
         |         AS fmax
         |FROM base b LEFT JOIN agg USING (doc_id)
         |ORDER BY ${ordSqlOf(Seq("doc_id", "nfp", "fmin", "fmax"))}"""
        .stripMargin
    docKernelCase("kwin", seed, guard, Seq(
      ("nfp", s"cast(size(winnow_fingerprint(text, $kk, $ww)) as bigint)"),
      ("fmin", s"coalesce(array_min(winnow_fingerprint(text, $kk, $ww)), " +
        s"${Long.MaxValue}L)"),
      ("fmax", s"coalesce(array_max(winnow_fingerprint(text, $kk, $ww)), " +
        s"${Long.MinValue}L)")), sql)
  }

  /** kgear — cdc_chunks(text, b) at a random mask width b: 2^j mod 2^b = 0
    * for j >= b, so the rolling (h<<1)+gear hash mod 2^b is a b-term
    * weighted LAG window (the generalization of the fixed
    * dedup_cdc_chunks replay, which is the b=5 instance).
    */
  private def shapeKGear(r: Random, seed: Long): FuzzCase = {
    import graft.queries.OracleSql.{fnvSql, mix64ChainSql, signedSql}
    val bts = 3 + r.nextInt(4) // 3..6
    val mod = 1 << bts
    val m = 7 + r.nextInt(7); val g = r.nextInt(m)
    val guard = s"((doc_id % $m) = $g)"
    val lagTerms = (0 until bts).map(j =>
      if (j == 0) "g" else s"${1 << j} * LAG(g, $j, 0) OVER w")
      .mkString(" + ")
    val sql =
      s"""WITH g32 AS (
         |  SELECT b, gm % $mod AS g FROM (${mix64ChainSql("b",
             "b::HUGEINT", "(SELECT unnest(range(0, 256)) AS b) gsrc",
             "gm")}) gq),
         |base AS (SELECT doc_id, text FROM documents WHERE $guard),
         |chx AS (SELECT doc_id, i, unicode(substring(text, i, 1)) AS c,
         |               length(text) AS n
         |        FROM base,
         |             LATERAL (SELECT unnest(generate_series(1,
         |               length(text))) AS i) u),
         |cg AS (SELECT chx.doc_id, chx.i, chx.n, g32.g
         |       FROM chx JOIN g32 ON g32.b = chx.c),
         |hb AS (SELECT doc_id, i, n, ($lagTerms) % $mod AS h5
         |       FROM cg WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
         |bnd AS (SELECT doc_id, i FROM hb WHERE h5 = 0 OR i = n),
         |chunks AS (
         |  SELECT doc_id,
         |         COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0)
         |           + 1 AS st,
         |         i AS en
         |  FROM bnd),
         |chs AS (SELECT c.doc_id, en,
         |               ${signedSql(fnvSql(
                     "substring(text, st, en - st + 1)"))} AS ch
         |        FROM chunks c JOIN base USING (doc_id)),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nch,
         |               ARG_MIN(ch, en) AS h1, MIN(ch) AS hmin
         |        FROM chs GROUP BY doc_id)
         |SELECT b.doc_id, CAST(COALESCE(nch, 0) AS BIGINT) AS nch,
         |       CAST(COALESCE(h1, -1) AS BIGINT) AS h1,
         |       CAST(COALESCE(hmin, -1) AS BIGINT) AS hmin
         |FROM base b LEFT JOIN agg USING (doc_id)
         |ORDER BY ${ordSqlOf(Seq("doc_id", "nch", "h1", "hmin"))}"""
        .stripMargin
    docKernelCase("kgear", seed, guard, Seq(
      ("nch", s"cast(size(cdc_chunks(text, $bts)) as bigint)"),
      ("h1", s"coalesce(try_element_at(cdc_chunks(text, $bts), 1), -1L)"),
      ("hmin", s"coalesce(array_min(cdc_chunks(text, $bts)), -1L)")), sql)
  }

  /** kbpe — bpe_apply with a random CHAINED merge table: each merge's
    * symbols come from {base letters} ∪ {outputs of earlier merges} and
    * every output string is unique, so a later merge can never create an
    * instance of an earlier pair — exactly the property that makes the
    * engine's lowest-rank-loop equal the rank-ordered doubled-space
    * replace chain (Bpe.scala's identity, pinned by BpeEncodeSpec for
    * trained tables; random chained tables satisfy the same premise).
    */
  private def shapeKBpe(r: Random, seed: Long): FuzzCase = {
    val nBase = 4 + r.nextInt(4)
    val letters = r.shuffle(('a' to 'z').toList).take(nBase).map(_.toString)
    val pool = scala.collection.mutable.ArrayBuffer[String](letters: _*)
    val made = scala.collection.mutable.Set[String](letters: _*)
    val pairs = scala.collection.mutable.Set[(String, String)]()
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val nMerges = 2 + r.nextInt(4)
    var tries = 0
    while (merges.size < nMerges && tries < 60) {
      val l = pool(r.nextInt(pool.size)); val rr = pool(r.nextInt(pool.size))
      val mo = l + rr
      if (!pairs((l, rr)) && !made.contains(mo) && mo.length <= 8) {
        merges += ((l, rr)); pairs += ((l, rr)); made += mo; pool += mo
      }
      tries += 1
    }
    val flat = merges.flatMap { case (l, rr) => Seq(l, rr) }.mkString(" ")
    val m = 7 + r.nextInt(7); val g = r.nextInt(m)
    val guard = s"((doc_id % $m) = $g)"
    val chain = merges.zipWithIndex.map { case ((l, rr), i) =>
      s"""e${i + 1} AS (SELECT doc_id, replace(s, ' $l  $rr ', ' $l$rr ')
         |  AS s FROM e$i)""".stripMargin
    }.mkString(",\n")
    val sql =
      s"""WITH aw AS (SELECT doc_id, unnest(STRING_SPLIT(text, ' ')) AS w
         |            FROM documents WHERE $guard),
         |e0 AS (SELECT doc_id,
         |              ' ' || array_to_string(list_transform(
         |                range(1, LEN(w) + 1), i -> substr(w, i, 1)), '  ')
         |                || ' ' AS s
         |       FROM aw),
         |$chain
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(LEN(STRING_SPLIT(trim(s, ' '), '  '))) AS BIGINT)
         |         AS n_bpe
         |FROM e${merges.size} GROUP BY doc_id
         |ORDER BY ${ordSqlOf(Seq("doc_id", "n_words", "n_bpe"))}"""
        .stripMargin
    val build = (s: SparkSession, dir: String) =>
      graft.queries.Tables.scan(s, dir, "documents")
        .filter(expr(guard))
        .select(col("doc_id"), explode(expr("split(text, ' ')")).as("w"))
        .select(col("doc_id"),
          expr(s"cast(size(bpe_apply(w, '$flat')) as bigint)").as("nb"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum(col("nb")).as("n_bpe"))
        .orderBy(Seq("doc_id", "n_words", "n_bpe")
          .map(c => col(c).asc_nulls_first): _*)
    FuzzCase(f"fz_$seed%04d_kbpe", seed, "kbpe", build, sql)
  }

  /** kngram — word_ngrams / char_windows at random shapes, probing the
    * element count and the FNV of a random (possibly out-of-range)
    * position via try_element_at (engine) / a range-guarded CTE (oracle).
    */
  private def shapeKNgram(r: Random, seed: Long): FuzzCase = {
    import graft.queries.OracleSql.{fnvSql, signedSql}
    val m = 3 + r.nextInt(6); val g = r.nextInt(m)
    val guard = s"((doc_id % $m) = $g)"
    if (r.nextBoolean()) { // word n-grams
      val n = 2 + r.nextInt(4) // 2..5
      val j = 1 + r.nextInt(6)
      val gramExpr = (j until j + n).map(o => s"ts[$o]").mkString(" || ' ' || ")
      val sql =
        s"""WITH base AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts
           |              FROM documents WHERE $guard),
           |gj AS (SELECT doc_id, ${signedSql(fnvSql(s"($gramExpr)"))} AS v
           |       FROM base WHERE len(ts) >= ${j + n - 1})
           |SELECT b.doc_id,
           |       CAST(CASE WHEN len(ts) >= $n THEN len(ts) - ${n - 1}
           |            ELSE 0 END AS BIGINT) AS ng,
           |       CAST(COALESCE(v, -1) AS BIGINT) AS gj
           |FROM base b LEFT JOIN gj USING (doc_id)
           |ORDER BY ${ordSqlOf(Seq("doc_id", "ng", "gj"))}""".stripMargin
      docKernelCase("kngram", seed, guard, Seq(
        ("ng", s"cast(size(word_ngrams(split(text, ' '), $n)) as bigint)"),
        ("gj", s"coalesce(fnv64(try_element_at(" +
          s"word_ngrams(split(text, ' '), $n), $j)), -1L)")), sql)
    } else { // char windows
      val w = 2 + r.nextInt(9) // 2..10
      val st = 1 + r.nextInt(6) // 1..6
      val j = 1 + r.nextInt(8)
      val sql =
        s"""WITH base AS (SELECT doc_id, text, length(text) AS L
           |              FROM documents WHERE $guard),
           |wj AS (SELECT doc_id, ${signedSql(fnvSql(
               s"substring(text, ${1 + st * (j - 1)}, $w)"))} AS v
           |       FROM base
           |       WHERE L >= $w AND $j <= (L - $w) // $st + 1)
           |SELECT b.doc_id,
           |       CAST(CASE WHEN L >= $w THEN (L - $w) // $st + 1
           |            ELSE 0 END AS BIGINT) AS cw,
           |       CAST(COALESCE(v, -1) AS BIGINT) AS wj
           |FROM base b LEFT JOIN wj USING (doc_id)
           |ORDER BY ${ordSqlOf(Seq("doc_id", "cw", "wj"))}""".stripMargin
      docKernelCase("kngram", seed, guard, Seq(
        ("cw", s"cast(size(char_windows(text, $w, $st)) as bigint)"),
        ("wj", s"coalesce(fnv64(try_element_at(" +
          s"char_windows(text, $w, $st), $j)), -1L)")), sql)
    }
  }

  /** kjson — to_extended_json over a random envelope: a random subset of
    * fields in random order, covering every rendering branch (nested
    * struct, escaped string, $timestamp, $date, raw passthrough, number).
    * The oracle is the same literal concatenation the fixed
    * cdc_extjson_messages oracle uses, composed per chosen field.
    */
  private def shapeKJson(r: Random, seed: Long): FuzzCase = {
    val pool = Seq(
      ("_id", "struct(cast(event_id as string) as _data)",
        """'{"_data":"' || CAST(event_id AS VARCHAR) || '"}'"""),
      ("operationType", "event_type", """'"' || event_type || '"'"""),
      ("clusterTime", "ts",
        """'{"$timestamp":{"t":' || CAST(FLOOR(EPOCH(ts)) AS BIGINT) || """ +
          """',"i":1}}'"""),
      ("wallTime", "ts",
        """'{"$date":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z"}'"""),
      ("fullDocument", "props", "props"),
      ("props", "props", "props"),
      ("seq", "event_id", "CAST(event_id AS VARCHAR)"),
      ("uid", "user_id", "CAST(user_id AS VARCHAR)"))
    val nf = 2 + r.nextInt(4)
    val fields = r.shuffle(pool.toList).take(nf)
    val m = 13 + r.nextInt(7); val g = r.nextInt(m)
    val guard = s"((event_id % $m) = $g)"
    val structSql = fields.map { case (n, e, _) => s"$e as $n" }
      .mkString(", ")
    val duckData = fields.map { case (n, _, d) =>
      s"""'"$n":' || $d""" }.mkString(" || ',' || ")
    val sql =
      s"""SELECT event_id, '{' || $duckData || '}' AS data
         |FROM events WHERE $guard
         |ORDER BY ${ordSqlOf(Seq("event_id", "data"))}""".stripMargin
    val build = (s: SparkSession, dir: String) =>
      graft.queries.Tables.load(s, dir, "events")
        .filter(expr(guard))
        .select(col("event_id"),
          expr(s"to_extended_json(struct($structSql))").as("data"))
        .orderBy(Seq("event_id", "data")
          .map(c => col(c).asc_nulls_first): _*)
    FuzzCase(f"fz_$seed%04d_kjson", seed, "kjson", build, sql)
  }

  /** kpairs — the pair-generation kernels over random bucket keys:
    * ordered_pairs (long buckets), struct_pairs (payload buckets), and
    * sig_match over minhash_ngrams signatures; the oracle is the plain
    * self-join (a.doc_id < b.doc_id) the fixed pair oracles use.
    */
  private def shapeKPairs(r: Random, seed: Long): FuzzCase = {
    import graft.queries.OracleSql.{fnvSql, mix64ChainSql, signedSql}
    r.nextInt(3) match {
      case 0 => // ordered_pairs over doc_id buckets
        val g = 100 + r.nextInt(201)
        val sql =
          s"""WITH d AS (SELECT doc_id, doc_id % $g AS gk FROM documents),
             |p AS (SELECT a.gk, a.doc_id AS da, b.doc_id AS db
             |      FROM d a JOIN d b ON a.gk = b.gk AND a.doc_id < b.doc_id)
             |SELECT gk, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |       MIN(da) AS amin, MAX(db) AS bmax,
             |       CAST(SUM(da + db) AS BIGINT) AS s
             |FROM p GROUP BY gk
             |ORDER BY ${ordSqlOf(Seq("gk", "n_pairs", "amin", "bmax", "s"))}"""
            .stripMargin
        val build = (s: SparkSession, dir: String) =>
          graft.queries.Tables.scan(s, dir, "documents")
            .groupBy((col("doc_id") % g).as("gk"))
            .agg(expr("sort_array(collect_list(doc_id))").as("ds"))
            .select(col("gk"), explode(expr("ordered_pairs(ds)")).as("p"))
            .groupBy(col("gk"))
            .agg(count(lit(1)).cast("long").as("n_pairs"),
              min(col("p.doc_a")).as("amin"), max(col("p.doc_b")).as("bmax"),
              sum(col("p.doc_a") + col("p.doc_b")).as("s"))
            .orderBy(Seq("gk", "n_pairs", "amin", "bmax", "s")
              .map(c => col(c).asc_nulls_first): _*)
        FuzzCase(f"fz_$seed%04d_kpairs", seed, "kpairs", build, sql)
      case 1 => // struct_pairs with an FNV payload
        val g = 100 + r.nextInt(201)
        val sl = 8 + r.nextInt(33)
        val sql =
          s"""WITH d AS (SELECT doc_id, doc_id % $g AS gk,
             |                  ${signedSql(fnvSql(
                   s"substring(text, 1, $sl)"))} AS h
             |           FROM documents),
             |p AS (SELECT a.gk, a.h AS ha, b.h AS hb,
             |             a.doc_id AS da, b.doc_id AS db
             |      FROM d a JOIN d b ON a.gk = b.gk AND a.doc_id < b.doc_id)
             |SELECT gk, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |       CAST(SUM(CASE WHEN ha = hb THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_hcol,
             |       MIN(da) AS amin, MAX(db) AS bmax
             |FROM p GROUP BY gk
             |ORDER BY ${ordSqlOf(Seq("gk", "n_pairs", "n_hcol", "amin",
                 "bmax"))}""".stripMargin
        val build = (s: SparkSession, dir: String) =>
          graft.queries.Tables.scan(s, dir, "documents")
            .select(col("doc_id"), (col("doc_id") % g).as("gk"),
              expr(s"fnv64(substring(text, 1, $sl))").as("h"))
            .groupBy(col("gk"))
            .agg(expr("sort_array(collect_list(struct(doc_id, h)))").as("ds"))
            .select(col("gk"), explode(expr("struct_pairs(ds)")).as("p"))
            .groupBy(col("gk"))
            .agg(count(lit(1)).cast("long").as("n_pairs"),
              sum(when(col("p.a.h") === col("p.b.h"), lit(1L))
                .otherwise(lit(0L))).as("n_hcol"),
              min(col("p.a.doc_id")).as("amin"),
              max(col("p.b.doc_id")).as("bmax"))
            .orderBy(Seq("gk", "n_pairs", "n_hcol", "amin", "bmax")
              .map(c => col(c).asc_nulls_first): _*)
        FuzzCase(f"fz_$seed%04d_kpairs", seed, "kpairs", build, sql)
      case _ => // sig_match over minhash_ngrams signatures
        val mg2 = 4 + r.nextInt(4); val kg2 = r.nextInt(mg2)
        val guard = s"((doc_id % $mg2) = $kg2)"
        val k2 = Seq(4, 8)(r.nextInt(2))
        val ng = 2 + r.nextInt(2)
        val g = 24 + r.nextInt(41)
        val prime = graft.functions.TextHashImpl.Prime
        val gramExpr = (0 until ng).map(o => s"ts[i + $o]")
          .mkString(" || ' ' || ")
        val sql =
          s"""WITH docs0 AS (SELECT doc_id, text, doc_id % $g AS gk
             |               FROM documents WHERE $guard),
             |tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts
             |        FROM docs0),
             |gram AS (SELECT doc_id, $gramExpr AS gr
             |         FROM tok, LATERAL (SELECT unnest(range(1,
             |           len(ts) - ${ng - 2})) AS i) u),
             |gh AS (SELECT doc_id, ${fnvSql("gr")} AS h FROM gram),
             |mx AS (${mix64ChainSql("doc_id, p",
                 s"h + p * $prime::HUGEINT",
                 s"gh, (SELECT unnest(range(0, $k2)) AS p) ps", "mixed")}),
             |smin AS (SELECT doc_id, p, MIN(${signedSql("mixed")}) AS mv
             |         FROM mx GROUP BY doc_id, p),
             |sigs AS (
             |  SELECT d.doc_id, d.gk,
             |         LIST(COALESCE(s.mv, 9223372036854775807)
             |              ORDER BY pp.p) AS sig
             |  FROM docs0 d
             |  CROSS JOIN (SELECT unnest(range(0, $k2)) AS p) pp
             |  LEFT JOIN smin s ON s.doc_id = d.doc_id AND s.p = pp.p
             |  GROUP BY d.doc_id, d.gk),
             |pr AS (SELECT a.gk,
             |              len(list_filter(range(1, ${k2 + 1}),
             |                i -> a.sig[i] = b.sig[i])) AS mt
             |       FROM sigs a
             |       JOIN sigs b ON a.gk = b.gk AND a.doc_id < b.doc_id)
             |SELECT gk, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |       CAST(SUM(mt) AS BIGINT) AS s_match,
             |       CAST(MAX(mt) AS BIGINT) AS m_match
             |FROM pr GROUP BY gk
             |ORDER BY ${ordSqlOf(Seq("gk", "n_pairs", "s_match",
                 "m_match"))}""".stripMargin
        val build = (s: SparkSession, dir: String) =>
          graft.queries.Tables.scan(s, dir, "documents")
            .filter(expr(guard))
            .select(col("doc_id"), (col("doc_id") % g).as("gk"),
              expr(s"minhash_ngrams(split(text, ' '), $ng, $k2)").as("sig"))
            .groupBy(col("gk"))
            .agg(expr("sort_array(collect_list(struct(doc_id, sig)))")
              .as("ds"))
            .select(col("gk"), explode(expr("struct_pairs(ds)")).as("p"))
            .select(col("gk"),
              expr("sig_match(p.a.sig, p.b.sig)").as("mt"))
            .groupBy(col("gk"))
            .agg(count(lit(1)).cast("long").as("n_pairs"),
              sum(col("mt")).as("s_match"), max(col("mt")).as("m_match"))
            .orderBy(Seq("gk", "n_pairs", "s_match", "m_match")
              .map(c => col(c).asc_nulls_first): _*)
        FuzzCase(f"fz_$seed%04d_kpairs", seed, "kpairs", build, sql)
    }
  }

  /** kshagg — the simhash_agg native aggregate over a random group key and
    * token kind (tokens, word 2-grams, char windows): the parameterized
    * form of the fixed text_corpus_fingerprint replay.
    */
  private def shapeKShAgg(r: Random, seed: Long): FuzzCase = {
    import graft.queries.OracleSql.{fnvSql, signedSql}
    val guarded = r.nextBoolean()
    val m = 2 + r.nextInt(3); val g = r.nextInt(m)
    val guard = if (guarded) s"((doc_id % $m) = $g)" else "TRUE"
    val (gkSpark, gkDuck) = r.nextInt(3) match {
      case 0 => ("source", "source")
      case 1 => ("lang", "lang")
      case _ =>
        val gm = 4 + r.nextInt(9)
        (s"(doc_id % $gm)", s"doc_id % $gm")
    }
    val (toksSpark, itemCte) = r.nextInt(3) match {
      case 0 =>
        ("split(text, ' ')",
          "item AS (SELECT gk, unnest(STRING_SPLIT(text, ' ')) AS it FROM base)")
      case 1 =>
        ("word_ngrams(split(text, ' '), 2)",
          """item AS (SELECT gk, ts[i] || ' ' || ts[i + 1] AS it
             FROM (SELECT gk, STRING_SPLIT(text, ' ') AS ts FROM base),
                  LATERAL (SELECT unnest(range(1, len(ts))) AS i) u)""")
      case _ =>
        val w = 3 + r.nextInt(4); val st = 2 + r.nextInt(3)
        (s"char_windows(text, $w, $st)",
          s"""item AS (SELECT gk, substring(text, 1 + $st * (i - 1), $w) AS it
              FROM base,
                   LATERAL (SELECT unnest(generate_series(1,
                     (length(text) - $w) // $st + 1)) AS i) u
              WHERE length(text) >= $w)""")
    }
    val sql =
      s"""WITH base AS (SELECT doc_id, $gkDuck AS gk, text
         |              FROM documents WHERE $guard),
         |$itemCte,
         |th AS (SELECT gk, ${fnvSql("it")} AS h FROM item),
         |bits AS (
         |  SELECT gk, b,
         |         SUM(CASE WHEN (h // CAST(2 ** b AS HUGEINT)) % 2 = 1
         |             THEN 1 ELSE -1 END) AS v
         |  FROM th, (SELECT unnest(generate_series(0, 63)) AS b) bs
         |  GROUP BY gk, b),
         |sim AS (SELECT gk, SUM(CASE WHEN v > 0 THEN CAST(2 ** b AS HUGEINT)
         |                       ELSE 0::HUGEINT END) AS u
         |        FROM bits GROUP BY gk),
         |nd AS (SELECT gk, CAST(COUNT(*) AS BIGINT) AS n_docs
         |       FROM base GROUP BY gk)
         |SELECT nd.gk, ${signedSql("COALESCE(u, 0::HUGEINT)")} AS sh, n_docs
         |FROM nd LEFT JOIN sim USING (gk)
         |ORDER BY ${ordSqlOf(Seq("gk", "sh", "n_docs"))}""".stripMargin
    val build = (s: SparkSession, dir: String) => {
      var df = graft.queries.Tables.scan(s, dir, "documents")
      if (guarded) df = df.filter(expr(s"(doc_id % $m) = $g"))
      df.groupBy(expr(gkSpark).as("gk"))
        .agg(expr(s"simhash_agg($toksSpark)").as("sh"),
          count(lit(1)).as("n_docs"))
        .orderBy(Seq("gk", "sh", "n_docs")
          .map(c => col(c).asc_nulls_first): _*)
    }
    FuzzCase(f"fz_$seed%04d_kshagg", seed, "kshagg", build, sql)
  }

  /** kmg — the mg_candidates native aggregate at random capacity with a
    * random exact support threshold t <= capacity: the sketch-then-verify
    * output equals the brute-force heavy hitters iff Misra-Gries'
    * undercount bound (n/(cap+1)) survives distributed merge — the same
    * superset guarantee the fixed text_heavy_hitters relies on, probed
    * across the (capacity, threshold, slice) space.
    */
  private def shapeKMg(r: Random, seed: Long): FuzzCase = {
    val cap = Seq(64, 128, 256, 512)(r.nextInt(4))
    val thr = 8 + r.nextInt(cap / 2)
    val m = 2 + r.nextInt(4); val g = r.nextInt(m)
    val guard = s"((doc_id % $m) = $g)"
    val sql =
      s"""WITH tk AS (SELECT unnest(STRING_SPLIT(text, ' ')) AS tok
         |            FROM documents WHERE $guard),
         |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM tk GROUP BY tok),
         |t AS (SELECT COUNT(*) AS n FROM tk)
         |SELECT tok, cnt FROM c, t WHERE cnt * $thr >= n
         |ORDER BY cnt DESC, tok""".stripMargin
    val build = (s: SparkSession, dir: String) => {
      val tk = graft.queries.Tables.scan(s, dir, "documents")
        .filter(expr(guard))
        .select(explode(expr("split(text, ' ')")).as("tok"))
      val sk = tk.agg(expr(s"mg_candidates(tok, $cap)").as("cs"),
        count(lit(1)).as("n")).head()
      val cand = sk.getSeq[String](0)
      val n = sk.getLong(1)
      val base = if (cand.isEmpty) tk.filter(lit(false))
        else tk.filter(col("tok").isin(cand: _*))
      base.groupBy(col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * thr >= lit(n))
        .orderBy(col("cnt").desc, col("tok"))
    }
    FuzzCase(f"fz_$seed%04d_kmg", seed, "kmg", build, sql)
  }

  /** Generate the case for one seed — v4 shape weights: scan 1, agg 2,
    * join 2, window 1, union 1, kernel(v3) 3, then one slot per v4
    * family (kwin, kgear, kbpe, kngram, kjson, kpairs, kshagg) and two
    * for kmg+kshagg's second draw — 18 slots total, so ~28 cases per v4
    * family at 500 seeds.
    */
  def gen(seed: Long): FuzzCase = {
    val r = new Random(seed * 0x9e3779b97f4a7c15L + GeneratorVersion)
    r.nextInt(18) match {
      case 0 => shapeScan(r, seed)
      case 1 | 2 => shapeAgg(r, seed)
      case 3 | 4 => shapeJoin(r, seed)
      case 5 => shapeWindow(r, seed)
      case 6 => shapeUnion(r, seed)
      case 7 | 8 | 9 => shapeKernel(r, seed)
      case 10 => shapeKWin(r, seed)
      case 11 => shapeKGear(r, seed)
      case 12 => shapeKBpe(r, seed)
      case 13 => shapeKNgram(r, seed)
      case 14 => shapeKJson(r, seed)
      case 15 | 16 => shapeKPairs(r, seed)
      case _ => if (r.nextBoolean()) shapeKShAgg(r, seed)
        else shapeKMg(r, seed)
    }
  }

  def cases(seed0: Long, n: Int): Seq[FuzzCase] =
    (seed0 until seed0 + n).map(gen)

  /** java.util.Random has no Scala-style shuffle; small local one. */
  implicit private class RandomOps(val r: Random) {
    def shuffle[A](xs: List[A]): List[A] = {
      val a = xs.toBuffer
      var i = a.size - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val tmp = a(i); a(i) = a(j); a(j) = tmp
        i -= 1
      }
      a.toList
    }
  }
}
