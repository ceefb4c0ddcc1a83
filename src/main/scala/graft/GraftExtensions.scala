package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions injection point — the idiomatic deployment of
  * the engine's native function library:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)` when building the session
  * programmatically). Registers the codegen'd Catalyst expressions so
  * `spark.sql("SELECT fnv64(text) ...")` works in any session. This is
  * the only registration path: no session-scoped copy exists.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("fnv64"),
      info("fnv64", "fnv64(str) - FNV-1a 64-bit fingerprint"),
      (es: Seq[Expression]) => Fnv64(es.head)))
    ext.injectFunction((FunctionIdentifier("winnow_fingerprint"),
      info("winnow_fingerprint",
        "winnow_fingerprint(str[, k, w]) - winnowed rolling-hash signature"),
      TextHashes.winnowBuilder))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(array<string>) - 64-bit SimHash"),
      (es: Seq[Expression]) => SimHash64(es.head)))
    ext.injectFunction((FunctionIdentifier("dhash64"),
      info("dhash64",
        "dhash64(array<string>) - perceptual difference-hash of the " +
          "synthetic bigram-histogram bitmap (image near-dup)"),
      (es: Seq[Expression]) => Dhash64(es.head)))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig",
        "minhash_sig(array<string>, k) - k-permutation MinHash signature"),
      (es: Seq[Expression]) => TextHashes.minHashSigBuilder(es)))
    ext.injectFunction((FunctionIdentifier("token_mode"),
      info("token_mode",
        "token_mode(tokens) - struct(top_word, top_cnt): dominant token, " +
          "smallest-lexicographic tie-break"),
      (es: Seq[Expression]) => TokenMode(es.head)))
    ext.injectFunction((FunctionIdentifier("token_counts"),
      info("token_counts",
        "token_counts(tokens) - array<struct<token, cnt>> sorted by " +
          "token: per-row term frequencies"),
      (es: Seq[Expression]) => TokenCounts(es.head)))
    ext.injectFunction((FunctionIdentifier("sig_match"),
      info("sig_match",
        "sig_match(sig_a, sig_b) - matching-position count of signatures"),
      (es: Seq[Expression]) => SigMatch(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("struct_pairs"),
      info("struct_pairs",
        "struct_pairs(array<struct>) - all i<j pairs as struct<a, b>"),
      (es: Seq[Expression]) => StructPairs(es.head)))
    ext.injectFunction((FunctionIdentifier("ordered_pairs"),
      info("ordered_pairs",
        "ordered_pairs(array<long>) - all i<j candidate pairs"),
      (es: Seq[Expression]) => OrderedPairs(es.head)))
    ext.injectFunction((FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes",
        "shingle_hashes(tokens, k) - distinct k-gram shingle hashes"),
      (es: Seq[Expression]) => TextHashes.shingleHashesBuilder(es)))
    ext.injectFunction((FunctionIdentifier("minhash_ngrams"),
      info("minhash_ngrams",
        "minhash_ngrams(tokens, ngram, k) - fused shingle MinHash signature"),
      (es: Seq[Expression]) => TextHashes.minHashNgramsBuilder(es)))
    ext.injectFunction((FunctionIdentifier("word_ngrams"),
      info("word_ngrams",
        "word_ngrams(tokens, n) - space-joined word n-grams; " +
          "null tokens are skipped within a gram (concat_ws semantics)"),
      (es: Seq[Expression]) => TextHashes.wordNgramsBuilder(es)))
    ext.injectFunction((FunctionIdentifier("char_windows"),
      info("char_windows",
        "char_windows(text, width, stride) - fixed-width substring windows"),
      (es: Seq[Expression]) => TextHashes.charWindowsBuilder(es)))
    ext.injectFunction((FunctionIdentifier("cdc_chunks"),
      info("cdc_chunks",
        "cdc_chunks(text, maskBits) - content-defined chunk FNV-64 hashes"),
      (es: Seq[Expression]) => TextHashes.cdcChunksBuilder(es)))
    ext.injectFunction((FunctionIdentifier("lsh_buckets"),
      info("lsh_buckets",
        "lsh_buckets(array<float|double>, nTables, nPlanes) - " +
          "random-hyperplane LSH bucket per hash table"),
      (es: Seq[Expression]) => VectorLsh.builder(es)))
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product over embedding arrays"),
      (es: Seq[Expression]) => VectorOps.dotBuilder(es)))
    ext.injectFunction((FunctionIdentifier("vec_cos"),
      info("vec_cos", "vec_cos(a, b) - cosine similarity over embeddings"),
      (es: Seq[Expression]) => VectorOps.cosBuilder(es)))
    ext.injectFunction((FunctionIdentifier("vec_quantize6"),
      info("vec_quantize6",
        "vec_quantize6(a) - half-up 6dp micro-unit quantization " +
          "(array<bigint>)"),
      (es: Seq[Expression]) => VectorOps.quantize6Builder(es)))
    ext.injectFunction((FunctionIdentifier("vec_dotq"),
      info("vec_dotq",
        "vec_dotq(a, b) - exact integer dot over micro-unit arrays"),
      (es: Seq[Expression]) => VectorOps.dotQBuilder(es)))
    ext.injectFunction((FunctionIdentifier("vec_normalize"),
      info("vec_normalize", "vec_normalize(a) - L2-normalize an embedding"),
      (es: Seq[Expression]) => VectorOps.normalizeBuilder(es)))
    ext.injectFunction((FunctionIdentifier("to_extended_json"),
      info("to_extended_json",
        "to_extended_json(struct) - relaxed MongoDB Extended JSON"),
      (es: Seq[Expression]) => ToExtendedJson(es.head)))
    ext.injectFunction((FunctionIdentifier("simhash_agg"),
      info("simhash_agg",
        "simhash_agg(array<string>) - group-level 64-bit SimHash aggregate"),
      (es: Seq[Expression]) => SimHashAgg(es.head)))
    ext.injectFunction((FunctionIdentifier("bpe_apply"),
      info("bpe_apply",
        "bpe_apply(word, merges_string) - encode a word with a learned " +
          "BPE merge table ('l r l r …', space-joined)"),
      (es: Seq[Expression]) => BpeImpl.builder(es)))
    ext.injectFunction((FunctionIdentifier("mg_candidates"),
      info("mg_candidates",
        "mg_candidates(token, capacity) - Misra-Gries frequent-items " +
          "candidate set (bounded-memory, mergeable)"),
      (es: Seq[Expression]) => MisraGriesAgg(es(0), es(1))))
  }
}
