package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point (SURVEY.md §4.3's "keep an extension
  * point"): installs the engine's custom expressions into a session whose
  * builder was handed `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` (a session not
  * started through graft.GraftSession, which registers the functions
  * itself),
  *
  * so `SELECT cosine_similarity(a, b)` works in plain SQL, plus one
  * optimizer rule: [[RewriteHofCosine]] turns the hand-written HOF
  * cosine shape into the codegen'd expression (a user writing the
  * natural `aggregate(zip_with(...))` spelling gets the fused loop
  * transparently). Planner strategies aren't needed — reference parity
  * composes from built-in operators (§4.3).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      { exprs: Seq[Expression] => CosineSimilarity(exprs(0), exprs(1)) }))
    ext.injectFunction((
      FunctionIdentifier("lsh_bucket"),
      new ExpressionInfo(classOf[LshBucket].getName, "lsh_bucket"),
      GraftFunctions.lshBucketFromSql _))
    ext.injectFunction((
      FunctionIdentifier("kgram_min_hash"),
      new ExpressionInfo(classOf[KgramMinHash].getName, "kgram_min_hash"),
      GraftFunctions.kgramMinHashFromSql _))
    ext.injectFunction((
      FunctionIdentifier("word_ngram_hashes"),
      new ExpressionInfo(classOf[WordNgramHashes].getName, "word_ngram_hashes"),
      GraftFunctions.wordNgramHashesFromSql _))
    ext.injectFunction((
      FunctionIdentifier("bpe_merge_text"),
      new ExpressionInfo(classOf[BpeMergeText].getName, "bpe_merge_text"),
      GraftFunctions.bpeMergeTextFromSql _))
    ext.injectOptimizerRule(_ => RewriteHofCosine)
  }
}
