package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text hashing primitives the engine adds beyond the reference
  * (training-data-pipeline extensions, SURVEY.md §7 step 6): document
  * fingerprinting (polynomial rolling hash + winnowing) and SimHash.
  *
  * Implemented as native Catalyst `Expression`s with `doGenCode` delegating
  * to static helpers — stays inside whole-stage codegen (no UDF boxing,
  * no serialization), evaluates on UTF8String bytes without copying.
  */
object TextHashImpl {
  final val Prime = 1099511628211L // FNV-64 prime
  final val Offset = -3750763034362895579L // FNV-64 offset basis

  /** FNV-1a 64-bit over the UTF-8 bytes — whole-document fingerprint. */
  def poly64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Prime
      i += 1
    }
    h
  }

  /** Winnowing fingerprint (Schleimer et al., SIGMOD'03 — public algorithm):
    * rolling k-gram hashes, min per window of w, deduplicated, sorted.
    * Returns a compact array<long> signature robust to local edits.
    */
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val m = n - k + 1
    val hashes = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = Offset
      var j = 0
      while (j < k) { h ^= (bytes(i + j) & 0xffL); h *= Prime; j += 1 }
      hashes(i) = h
      i += 1
    }
    // Round-16 per-task rewrite (guide §1.2 step 2 — the kernel runs once
    // per document on the corpus's hottest dedup paths): the boxed
    // mutable.SortedSet (a node allocation + tree rebalance per window)
    // is replaced by a primitive buffer that records each window minimum
    // only when it CHANGES (consecutive windows usually share their min),
    // sorted + deduplicated once at the end — the identical sorted
    // distinct value set. The per-window min is amortized O(1): track the
    // RIGHTMOST position of the current min (ties keep the later
    // position, which maximizes its lifetime without changing the VALUE);
    // a full rescan happens only when the tracked min slides out.
    var buf = new Array[Long](64)
    var nb = 0
    def record(v: Long): Unit = {
      if (nb == 0 || buf(nb - 1) != v) {
        if (nb == buf.length) buf = java.util.Arrays.copyOf(buf, nb * 2)
        buf(nb) = v
        nb += 1
      }
    }
    if (m <= w) {
      var mn = hashes(0); i = 1
      while (i < m) { if (hashes(i) < mn) mn = hashes(i); i += 1 }
      record(mn)
    } else {
      // window [0, w)
      var minPos = 0
      i = 1
      while (i < w) { if (hashes(i) <= hashes(minPos)) minPos = i; i += 1 }
      record(hashes(minPos))
      // slide: window [i, i+w) for i = 1 .. m-w
      i = 1
      while (i + w <= m) {
        val in = i + w - 1
        if (minPos < i) {
          // tracked min slid out — rescan the window
          minPos = i
          var j = i + 1
          while (j <= in) { if (hashes(j) <= hashes(minPos)) minPos = j; j += 1 }
        } else if (hashes(in) <= hashes(minPos)) {
          minPos = in
        }
        record(hashes(minPos))
        i += 1
      }
    }
    val sel = java.util.Arrays.copyOf(buf, nb)
    java.util.Arrays.sort(sel)
    var out = 0
    i = 0
    while (i < nb) {
      if (out == 0 || sel(out - 1) != sel(i)) { sel(out) = sel(i); out += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sel, out))
  }

  private val Space = UTF8String.fromString(" ")

  /** Word n-grams of a token array, space-joined — the fused, codegen'd
    * form of `transform(sequence(0, size(a)-n), i -> concat_ws(' ',
    * slice(a, i+1, n)))` (whose HOFs are CodegenFallback). Returns all
    * m-n+1 grams in order (caller dedups if needed); empty below n tokens.
    * Null elements are skipped inside a gram, concat_ws-style:
    * word_ngrams(['a', NULL, 'b'], 2) = ['a', 'b'] — matching the HOF
    * form it fuses, not null-propagating. (Repo queries tokenize via
    * split(), which never yields null elements.)
    */
  def wordNgrams(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i <= m - n) {
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Fixed-width character windows at the given stride — the fused form
    * of `transform(sequence(0, (length(s)-width) div stride), i ->
    * substring(s, 1+stride*i, width))`. Char (not byte) indexed, matching
    * `substr` in both Spark and DuckDB; empty when the string is shorter
    * than one window.
    */
  def charWindows(s: UTF8String, width: Int, stride: Int): ArrayData = {
    val n = s.numChars()
    if (n < width) return new GenericArrayData(Array.empty[Any])
    val cnt = (n - width) / stride + 1
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) {
      out(i) = s.substringSQL(1 + stride * i, width)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Gear table for content-defined chunking: one pseudo-random 64-bit
    * value per byte, derived via splitmix64 — deterministic, engine-local.
    */
  private val Gear: Array[Long] = Array.tabulate(256)(b => mix64(b.toLong))

  /** Content-defined chunking (Gear hash, FastCDC-family; public
    * algorithm): a chunk boundary falls after byte i when the rolling
    * gear hash masked by `mask` hits zero. Pure mask-based (no min/max
    * caps), so chunking is STRICTLY LOCAL: an edit only changes the
    * chunks overlapping it — boundaries before and after re-sync
    * immediately (property-pinned). Returns the FNV-64 of each chunk's
    * bytes, in order.
    */
  def cdcChunks(s: UTF8String, mask: Long): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var h = 0L
    var start = 0
    var i = 0
    while (i < n) {
      h = (h << 1) + Gear(bytes(i) & 0xff)
      // h is NOT reset at boundaries: it is a pure rolling function of
      // the trailing ≤64 bytes (the <<1 ages bytes out), so boundary
      // decisions are position-local and an edit can never cascade
      // past its 64-byte window — the strict-locality property.
      if ((h & mask) == 0L || i == n - 1) {
        var fh = Offset
        var j = start
        while (j <= i) { fh ^= (bytes(j) & 0xffL); fh *= Prime; j += 1 }
        out += fh
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** splitmix64 constants — named so the DuckDB oracle replay
    * (queries.OracleSql.mix64Sql) single-sources them from here.
    */
  final val MixGamma = -7046029254386353131L // 0x9E3779B97F4A7C15
  final val MixMul1 = -4658895280553007687L // 0xBF58476D1CE4E5B9
  final val MixMul2 = -7723592293110705685L // 0x94D049BB133111EB

  /** splitmix64 finalizer (public-domain mixing function) — used to derive
    * the k independent MinHash permutations from one base FNV-64 hash.
    */
  def mix64(v0: Long): Long = {
    var v = v0 + MixGamma
    v = (v ^ (v >>> 30)) * MixMul1
    v = (v ^ (v >>> 27)) * MixMul2
    v ^ (v >>> 31)
  }

  /** MinHash signature: for each of k permutations, the minimum mixed hash
    * over the token set. Empty/null-only input ⇒ Long.MaxValue entries.
    */
  /** FNV-1a over a k-token window joined by ' ', streaming over the
    * pre-extracted token bytes — bit-identical to
    * poly64(concat_ws(' ', w)) without building the shingle string.
    */
  private def windowHash(tb: Array[Array[Byte]], start: Int, k: Int): Long = {
    var h = Offset
    var t = 0
    while (t < k) {
      if (t > 0) { h ^= 0x20L; h *= Prime } // the ' ' joiner byte
      val bytes = tb(start + t)
      var i = 0
      while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= Prime; i += 1 }
      t += 1
    }
    h
  }

  private def tokenBytes(tokens: ArrayData): Array[Array[Byte]] = {
    val n = tokens.numElements()
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tb(i) =
        if (tokens.isNullAt(i)) Array.emptyByteArray
        else tokens.getUTF8String(i).getBytes
      i += 1
    }
    tb
  }

  /** Distinct k-gram shingle hashes in one fused pass — replaces the
    * interpreted `array_distinct(transform(sequence(...), concat_ws(...)))
    * → hash` pipeline (A/B: the HOF shingler dominated the ngram query).
    * Hash-equality classes coincide with string equality modulo FNV-64
    * collisions, so downstream posting-list groupings are unchanged.
    */
  def shingleHashes(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val tb = tokenBytes(tokens)
    val m = n - k + 1
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    val out = new Array[Long](m)
    var cnt = 0
    var i = 0
    while (i < m) {
      val h = windowHash(tb, i, k)
      if (seen.add(h)) { out(cnt) = h; cnt += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, cnt))
  }

  /** MinHash signature over k-gram shingles, fused (no shingle strings,
    * no distinct — duplicate shingles can never lower a minimum, so the
    * signature is bit-identical to minhash_sig over distinct shingles).
    */
  def minhashNgrams(tokens: ArrayData, ngram: Int, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = tokens.numElements()
    if (n >= ngram) {
      val tb = tokenBytes(tokens)
      var i = 0
      while (i <= n - ngram) {
        val h = windowHash(tb, i, ngram)
        var p = 0
        while (p < k) {
          val v = mix64(h + p * 1099511628211L)
          if (v < sig(p)) sig(p) = v
          p += 1
        }
        i += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** Count of positions where two signatures agree (MinHash estimate
    * numerator) — one native call instead of an interpreted
    * size(filter(zip_with(...))) per candidate pair.
    */
  def sigMatch(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0L
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) c += 1; i += 1 }
    c
  }

  /** All i<j pairs of a struct array as nested (a, b) rows — see
    * StructPairs. Element rows are copied once each (getStruct may return
    * a view into the backing buffer); pairing reuses the copies.
    */
  def structPairs(ds: ArrayData, numFields: Int): ArrayData = {
    val n = ds.numElements()
    val rows = new Array[InternalRow](n)
    var i = 0
    while (i < n) { rows(i) = ds.getStruct(i, numFields).copy(); i += 1 }
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) { out(k) = InternalRow(rows(i), rows(j)); k += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** All i<j pairs of a long array as struct rows (see OrderedPairs). */
  def orderedPairs(ds: ArrayData): ArrayData = {
    val n = ds.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val a = ds.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = InternalRow(a, ds.getLong(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Dominant token of a token array: (token, count) of the most frequent
    * element, ties broken by the lexicographically smallest token — the
    * in-row kernel that lets per-doc repetition stats run WITHOUT shuffling
    * the tokenized corpus (the groupBy(doc, token) form exchanges one row
    * per token instance; this form exchanges nothing). Sort-then-scan over
    * the ≤doc-length array; null elements are skipped (split() never emits
    * them). Returns null for an empty/all-null array.
    */
  def tokenMode(tokens: ArrayData): InternalRow = {
    val n = tokens.numElements()
    var m = 0
    val arr = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) { arr(m) = tokens.getUTF8String(i); m += 1 }
      i += 1
    }
    if (m == 0) return null
    java.util.Arrays.sort(arr, 0, m,
      new java.util.Comparator[UTF8String] {
        def compare(a: UTF8String, b: UTF8String): Int = a.compareTo(b)
      })
    // Scanning in sorted order with strictly-greater replacement keeps the
    // lexicographically smallest token among equal-count candidates.
    var best = arr(0); var bestCnt = 1L
    var cur = arr(0); var curCnt = 1L
    i = 1
    while (i < m) {
      if (arr(i).equals(cur)) curCnt += 1L
      else {
        if (curCnt > bestCnt) { best = cur; bestCnt = curCnt }
        cur = arr(i); curCnt = 1L
      }
      i += 1
    }
    if (curCnt > bestCnt) { best = cur; bestCnt = curCnt }
    InternalRow(best, bestCnt)
  }

  /** token_counts(tokens): array<struct<token, cnt>> sorted by token
    * (binary UTF-8 ascending, nulls skipped) — the per-row term-frequency
    * table. The zero-shuffle backbone of TF-style scoring: computes in
    * one sorted run-length pass what an explode + groupBy(doc_id, token)
    * buys with a corpus-wide exchange (the round-15 tfidf rewrite).
    */
  def tokenCounts(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    var m = 0
    val arr = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) { arr(m) = tokens.getUTF8String(i); m += 1 }
      i += 1
    }
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    java.util.Arrays.sort(arr, 0, m,
      new java.util.Comparator[UTF8String] {
        def compare(a: UTF8String, b: UTF8String): Int = a.compareTo(b)
      })
    val out = new java.util.ArrayList[Any](m)
    var cur = arr(0); var curCnt = 1L
    i = 1
    while (i < m) {
      if (arr(i).equals(cur)) curCnt += 1L
      else { out.add(InternalRow(cur, curCnt)); cur = arr(i); curCnt = 1L }
      i += 1
    }
    out.add(InternalRow(cur, curCnt))
    new GenericArrayData(out.toArray)
  }

  /** 64-bit perceptual difference-hash (dHash, public algorithm — Krawetz,
    * "Kind of Like That", hackerfactor 2013) over the synthetic bitmap that
    * [[graft.operators.Multimodal]]'s stub decode produces for image-kind
    * media: an 8×9 grid whose cell g holds the count of word BIGRAMS
    * hashing (md5, first 2 bytes big-endian, mod 72) into bucket g — a
    * 72-bin content histogram rendered as the "decoded image". A real
    * deployment replaces only the bitmap source (decoded pixel grid,
    * row-downsampled to 8×9 grayscale); the dHash step — bit b set iff
    * cell(r,c) < cell(r,c+1), r=b/8, c=b%8 — is unchanged.
    *
    * The bigram histogram (not character slices) keeps the perceptual
    * property the fixture pins: token-level edits perturb only the buckets
    * the edited bigrams hash to, so near-dup payloads land within a few
    * Hamming bits while unrelated payloads sit near 32. md5 (not an
    * engine-private hash) so the whole pipeline replays in ANSI SQL.
    */
  def dhash64(tokens: ArrayData): Long = {
    val cells = new Array[Int](72)
    val n = tokens.numElements()
    if (n >= 2) {
      val md = java.security.MessageDigest.getInstance("MD5")
      val space = Array(' '.toByte)
      var i = 0
      while (i < n - 1) {
        if (!tokens.isNullAt(i) && !tokens.isNullAt(i + 1)) {
          md.update(tokens.getUTF8String(i).getBytes)
          md.update(space)
          md.update(tokens.getUTF8String(i + 1).getBytes)
          val d = md.digest() // digest() resets for the next bigram
          cells((((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 72) += 1
        }
        i += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      val g = b + b / 8 // skip the last column of each 9-wide row
      if (cells(g) < cells(g + 1)) out |= (1L << b)
      b += 1
    }
    out
  }

  def minhashSig(tokens: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = poly64(tokens.getUTF8String(i))
        var p = 0
        while (p < k) {
          val v = mix64(h + p * 1099511628211L)
          if (v < sig(p)) sig(p) = v
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash over a token array: per-token FNV-64, per-bit vote. */
  def simhash(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = poly64(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Input-type validation via the public `checkInputDataTypes` surface —
  * `ExpectsInputTypes`' `inputTypes` wants `Seq[AbstractDataType]`, which is
  * `private[sql]` in Spark 4.1.2 and unusable outside the sql package.
  */
trait GraftTypedUnary { self: UnaryExpression =>
  def expectedInputType: DataType
  override def checkInputDataTypes(): TypeCheckResult =
    if (DataTypeUtilsShim.sameType(child.dataType, expectedInputType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${self.prettyName} expects ${expectedInputType.simpleString}, " +
        s"got ${child.dataType.simpleString}")
}

private[functions] object DataTypeUtilsShim {
  // DataType.sameType is private[sql]; compare structurally, ignoring
  // containsNull so array<string> matches regardless of element nullability.
  def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(ea, _), ArrayType(eb, _)) => sameType(ea, eb)
    case (x, y) => x == y
  }
}

/** fnv64(text): whole-string 64-bit fingerprint. */
case class Fnv64(child: Expression) extends UnaryExpression
    with GraftTypedUnary {
  override def expectedInputType: DataType = StringType
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.poly64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashImpl.poly64($c)")
  override protected def withNewChildInternal(c: Expression): Fnv64 = copy(c)
}

/** winnow_fingerprint(text, k, w): winnowed rolling-hash signature. */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with GraftTypedUnary {
  override def expectedInputType: DataType = StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.winnow(v.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashImpl.winnow($c, $k, $w)")
  override protected def withNewChildInternal(c: Expression): WinnowFingerprint =
    copy(child = c)
}

/** simhash64(array<string>): 64-bit SimHash of a token array. */
case class SimHash64(child: Expression) extends UnaryExpression
    with GraftTypedUnary {
  override def expectedInputType: DataType = ArrayType(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.simhash(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashImpl.simhash($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
}

/** dhash64(array<string>): perceptual difference-hash of the synthetic
  * bigram-histogram bitmap (see TextHashImpl.dhash64).
  */
case class Dhash64(child: Expression) extends UnaryExpression
    with GraftTypedUnary {
  override def expectedInputType: DataType = ArrayType(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.dhash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashImpl.dhash64($c)")
  override protected def withNewChildInternal(c: Expression): Dhash64 = copy(c)
}

/** shingle_hashes(array<string>, k): distinct k-gram shingle hashes. */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression
    with GraftTypedUnary {
  override def expectedInputType: DataType = ArrayType(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.shingleHashes(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashImpl.shingleHashes($c, $k)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** minhash_ngrams(array<string>, ngram, k): fused shingle + MinHash. */
case class MinHashNgrams(child: Expression, ngram: Int, k: Int)
    extends UnaryExpression with GraftTypedUnary {
  override def expectedInputType: DataType = ArrayType(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.minhashNgrams(v.asInstanceOf[ArrayData], ngram, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashImpl.minhashNgrams($c, $ngram, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashNgrams =
    copy(child = c)
}

/** word_ngrams(array<string>, n): space-joined word n-grams. */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression
    with GraftTypedUnary {
  override def expectedInputType: DataType = ArrayType(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.wordNgrams(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashImpl.wordNgrams($c, $n)")
  override protected def withNewChildInternal(c: Expression): WordNgrams =
    copy(child = c)
}

/** char_windows(text, width, stride): fixed-width substring windows. */
case class CharWindows(child: Expression, width: Int, stride: Int)
    extends UnaryExpression with GraftTypedUnary {
  override def expectedInputType: DataType = StringType
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.charWindows(v.asInstanceOf[UTF8String], width, stride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashImpl.charWindows($c, $width, $stride)")
  override protected def withNewChildInternal(c: Expression): CharWindows =
    copy(child = c)
}

/** cdc_chunks(text, maskBits): content-defined chunk FNV-64 hashes. */
case class CdcChunks(child: Expression, maskBits: Int)
    extends UnaryExpression with GraftTypedUnary {
  override def expectedInputType: DataType = StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private val mask = (1L << maskBits) - 1L
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.cdcChunks(v.asInstanceOf[UTF8String], mask)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashImpl.cdcChunks($c, ${mask}L)")
  override protected def withNewChildInternal(c: Expression): CdcChunks =
    copy(child = c)
}

/** token_mode(tokens): struct(top_word, top_cnt) — dominant token with
  * smallest-lexicographic tie-break. The zero-shuffle backbone of per-doc
  * repetition stats (see TextHashImpl.tokenMode).
  */
case class TokenMode(child: Expression) extends UnaryExpression
    with GraftTypedUnary {
  override def expectedInputType: DataType = ArrayType(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("top_word", StringType, nullable = false),
    StructField("top_cnt", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.tokenMode(v.asInstanceOf[ArrayData])
  // Not defineCodeGen: the result is null for an empty array, which
  // defineCodeGen's non-null contract cannot express.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextHashImpl.tokenMode($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(c: Expression): TokenMode =
    copy(child = c)
}

/** token_counts(tokens): array<struct<token, cnt>> sorted by token —
  * per-row term frequencies (see TextHashImpl.tokenCounts).
  */
case class TokenCounts(child: Expression) extends UnaryExpression
    with GraftTypedUnary {
  override def expectedInputType: DataType = ArrayType(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.tokenCounts(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashImpl.tokenCounts($c)")
  override protected def withNewChildInternal(c: Expression): TokenCounts =
    copy(child = c)
}

/** sig_match(array<long>, array<long>): matching-position count. */
case class SigMatch(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e =>
        DataTypeUtilsShim.sameType(e.dataType, ArrayType(LongType))))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sig_match expects two array<bigint>, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashImpl.sigMatch(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextHashImpl.sigMatch($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SigMatch = copy(l, r)
}

/** ordered_pairs(array<long>): all i<j pairs of a (sorted) bucket list —
  * the candidate-pair explode source. Native because the HOF form
  * (`flatten(transform(ds, (a,i) -> transform(slice(...), ...)))`)
  * interprets a boxed lambda per emitted pair, and candidate generation
  * emits orders of magnitude more pairs than survive the score filter.
  */
case class OrderedPairs(child: Expression) extends UnaryExpression
    with GraftTypedUnary {
  override def expectedInputType: DataType = ArrayType(LongType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.orderedPairs(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashImpl.orderedPairs($c)")
  override protected def withNewChildInternal(c: Expression): OrderedPairs =
    copy(c)
}

/** struct_pairs(array<struct>): all i<j pairs as struct<a, b> — the
  * candidate-pair source for payload-carrying buckets (signature, simhash,
  * normalized vector). Together with the native pair metrics (sig_match,
  * bit_count/xor, vec_dot) this removes the last interpreted lambda from
  * the near-dup pair paths.
  */
case class StructPairs(child: Expression) extends UnaryExpression {
  private def elemType: StructType = child.dataType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StructType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"struct_pairs expects array<struct<...>>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", elemType, nullable = false),
    StructField("b", elemType, nullable = false))), containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.structPairs(v.asInstanceOf[ArrayData], elemType.length)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashImpl.structPairs($c, ${elemType.length})")
  override protected def withNewChildInternal(c: Expression): StructPairs =
    copy(c)
}

/** minhash_sig(array<string>, k): k-permutation MinHash signature. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression
    with GraftTypedUnary {
  override def expectedInputType: DataType = ArrayType(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHashImpl.minhashSig(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashImpl.minhashSig($c, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** Validated builders for the argument-checked functions that
  * [[graft.GraftExtensions]] injects.
  */
object TextHashes {

  /** Validated builder for `minhash_sig(arr, k)`: k must be a foldable
    * integral literal (it sizes the signature at plan time). Without the
    * checks, one argument threw IndexOutOfBounds and a non-literal k threw
    * NPE/ClassCast from inside the registry instead of a usable error.
    */
  def minHashSigBuilder(es: Seq[Expression]): Expression = {
    def bad(why: String) = throw new IllegalArgumentException(
      s"minhash_sig(array<string>, k): $why; usage: minhash_sig(tokens, 32) " +
        "where k is an integer literal")
    if (es.length != 2) bad(s"expected 2 arguments, got ${es.length}")
    if (!es(1).foldable) bad("k must be a literal (foldable) expression")
    es(1).eval() match {
      case n: java.lang.Number => MinHashSig(es.head, n.intValue())
      case other => bad(s"k must be integral, got $other")
    }
  }

  /** Shared literal-int validation for the n-ary hash builders. */
  def intLits(es: Seq[Expression], name: String, usage: String,
      n: Int): Seq[Int] = {
    def bad(why: String) = throw new IllegalArgumentException(
      s"$name: $why; usage: $usage")
    if (es.length != n + 1) bad(s"expected ${n + 1} arguments, got ${es.length}")
    es.drop(1).map { e =>
      if (!e.foldable) bad("count arguments must be integer literals")
      e.eval() match {
        case num: java.lang.Number => num.intValue()
        case other => bad(s"expected integer literal, got $other"); 0
      }
    }
  }

  def shingleHashesBuilder(es: Seq[Expression]): Expression = {
    val Seq(k) = intLits(es, "shingle_hashes",
      "shingle_hashes(tokens, 3)", 1)
    ShingleHashes(es.head, k)
  }

  def minHashNgramsBuilder(es: Seq[Expression]): Expression = {
    val Seq(ng, k) = intLits(es, "minhash_ngrams",
      "minhash_ngrams(tokens, 3, 32)", 2)
    MinHashNgrams(es.head, ng, k)
  }

  def wordNgramsBuilder(es: Seq[Expression]): Expression = {
    val Seq(n) = intLits(es, "word_ngrams", "word_ngrams(tokens, 4)", 1)
    require(n > 0, s"word_ngrams: n must be positive, got $n")
    WordNgrams(es.head, n)
  }

  /** winnow_fingerprint(text[, k, w]): 1-arg keeps the (8, 4) default the
    * per-doc fingerprint stats use; near-dup candidate generation passes
    * an explicit larger k — short grams are vocabulary-common, so their
    * posting lists outgrow any df cap as the corpus scales (measured: the
    * 10x corpus run zeroed the k=8 candidate set).
    */
  def winnowBuilder(es: Seq[Expression]): Expression =
    if (es.length == 1) WinnowFingerprint(es.head, 8, 4)
    else {
      val Seq(k, w) = intLits(es, "winnow_fingerprint",
        "winnow_fingerprint(text, 24, 8)", 2)
      require(k > 0 && w > 0,
        s"winnow_fingerprint: k and w must be positive, got ($k, $w)")
      WinnowFingerprint(es.head, k, w)
    }

  def cdcChunksBuilder(es: Seq[Expression]): Expression = {
    val Seq(bits) = intLits(es, "cdc_chunks", "cdc_chunks(text, 5)", 1)
    require(bits >= 1 && bits <= 20,
      s"cdc_chunks: maskBits must be in [1,20], got $bits")
    CdcChunks(es.head, bits)
  }

  def charWindowsBuilder(es: Seq[Expression]): Expression = {
    val Seq(w, st) = intLits(es, "char_windows",
      "char_windows(text, 64, 32)", 2)
    require(w > 0 && st > 0,
      s"char_windows: width and stride must be positive, got ($w, $st)")
    CharWindows(es.head, w, st)
  }
}
