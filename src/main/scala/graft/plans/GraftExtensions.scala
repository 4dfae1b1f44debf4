package graft.plans

import graft.functions.TextFunctions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook: registers the engine's native expressions as
  * SQL functions, so `spark.sql` users get the same hot-loop operators the
  * DataFrame API uses (SURVEY.md §7.5 — extension point (c): registered via
  * `spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * SQL surface:
  *  - graft_minhash(array<string>, numHashes)          → array<bigint>
  *  - graft_minhash_shingles(tokens, shingleSize, n)   → array<bigint>
  *  - graft_band_buckets(sig, bands, rowsPerBand)      → array<bigint>
  *  - graft_simhash64(array<string>)                   → bigint
  *  - graft_cosine(array<num>, array<num>)             → double
  *  - graft_dot(array<num>, array<num>)                → double
  *  - graft_lsh_bucket(array<num>, bits)               → bigint
  *  - graft_lang_id(array<string>)                     → string
  *  - graft_word_ngrams(tokens, n)                     → array<string>
  *  - graft_token_chunks(tokens, chunkSize, stride)    → array<string>
  *  - graft_repetition_stats(tokens)                   → struct<n_tokens,n_distinct,top_bigram>
  *  - graft_mask_spans(tokens, starts, n)              → array<string>
  *  - graft_char_entropy(text)                         → double
  *  - graft_jaro_winkler(text, text)                   → double
  *  - graft_money_sum(x, scale)  [aggregate]           → decimal(38,scale)
  *
  * Functions only: no optimizer rule or planner strategy. The per-key
  * top-k idiom (`row_number()` over a partition, filtered to `<= k`) is
  * planned by Spark's own `InsertWindowGroupLimit`, which prunes each
  * partition to k rows per key before the shuffle (for k up to
  * `spark.sql.optimizer.windowGroupLimitThreshold`, 1000 by default).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case s: Short => s.toInt
    case other =>
      throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_minhash"), info("graft_minhash"),
      (args: Seq[Expression]) =>
        MinHashSignatureExpr(args.head, intLit(args(1), "numHashes"), 42L)))
    ext.injectFunction((FunctionIdentifier("graft_minhash_shingles"), info("graft_minhash_shingles"),
      (args: Seq[Expression]) => MinHashShingleSigExpr(args.head,
        intLit(args(1), "shingleSize"), intLit(args(2), "numHashes"), 42L)))
    ext.injectFunction((FunctionIdentifier("graft_band_buckets"), info("graft_band_buckets"),
      (args: Seq[Expression]) => BandBucketsExpr(args.head,
        intLit(args(1), "bands"), intLit(args(2), "rowsPerBand"))))
    ext.injectFunction((FunctionIdentifier("graft_simhash64"), info("graft_simhash64"),
      (args: Seq[Expression]) => SimHash64Expr(args.head, 42L)))
    ext.injectFunction((FunctionIdentifier("graft_cosine"), info("graft_cosine"),
      (args: Seq[Expression]) => CosineSimilarityExpr(args.head, args(1))))
    ext.injectFunction((FunctionIdentifier("graft_dot"), info("graft_dot"),
      (args: Seq[Expression]) => DotProductExpr(args.head, args(1))))
    ext.injectFunction((FunctionIdentifier("graft_lsh_bucket"), info("graft_lsh_bucket"),
      (args: Seq[Expression]) => LshBucketExpr(args.head, intLit(args(1), "bits"), 42L)))
    ext.injectFunction((FunctionIdentifier("graft_lang_id"), info("graft_lang_id"),
      (args: Seq[Expression]) => LangIdExpr(args.head, TextFunctions.LangLexicon)))
    ext.injectFunction((FunctionIdentifier("graft_word_ngrams"), info("graft_word_ngrams"),
      (args: Seq[Expression]) => WordNgramsExpr(args.head, intLit(args(1), "n"))))
    ext.injectFunction((FunctionIdentifier("graft_token_chunks"), info("graft_token_chunks"),
      (args: Seq[Expression]) => TokenChunksExpr(args.head,
        intLit(args(1), "chunkSize"), intLit(args(2), "stride"))))
    ext.injectFunction((FunctionIdentifier("graft_repetition_stats"), info("graft_repetition_stats"),
      (args: Seq[Expression]) => RepetitionStatsExpr(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_mask_spans"), info("graft_mask_spans"),
      (args: Seq[Expression]) => MaskSpansExpr(args.head, args(1), intLit(args(2), "n"))))
    ext.injectFunction((FunctionIdentifier("graft_char_entropy"), info("graft_char_entropy"),
      (args: Seq[Expression]) => CharEntropyExpr(args.head)))
    ext.injectFunction((FunctionIdentifier("graft_jaro_winkler"), info("graft_jaro_winkler"),
      (args: Seq[Expression]) => JaroWinklerExpr(args.head, args(1))))
    // aggregate: the analyzer wraps a bare AggregateFunction from a SQL
    // builder in its AggregateExpression
    ext.injectFunction((FunctionIdentifier("graft_money_sum"), info("graft_money_sum"),
      (args: Seq[Expression]) => FixedPointSum(args.head, intLit(args(1), "scale"))))
  }
}
