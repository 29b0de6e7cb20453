package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One registry of every custom Catalyst function this library adds,
  * and its one install path: [[GraftExtensions]], named by
  * `spark.sql.extensions` in [[graft.util.Sessions.required]]. Spark applies
  * the extension whenever it builds a session's state, so the functions
  * reach the built session, every `newSession()` and the clone each
  * streaming query's `foreachBatch` runs on, with no call from an
  * operator. A session built without that conf line has none of them,
  * and a query using one fails at analysis with an unresolved routine.
  * The extension also installs one optimizer rule,
  * [[BatchTimestampByReference]], which keeps a streamed plan's generated
  * code the same on every trigger; without it results are the same, but
  * each trigger compiles its classes again.
  */
object GraftFunctions {

  private def intArg(e: Expression): Int =
    e.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  /** (name, builder) for every SQL-callable function. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_d" -> (e => DotProductD(e(0), e(1))),
    "lsh_bucket_codes" -> (e => LshBucketCodes(e(0), intArg(e(1)))),
    "top_k_by" -> (e => TopKByScore(e(0), e(1), intArg(e(2))).toAggregateExpression()),
    "shingle_hashes" -> (e => ShingleHashes(e(0), intArg(e(1)))),
    "gram_hashes_pos" -> (e => GramHashesPos(e(0), intArg(e(1)))),
    "char_grams" -> (e => CharGrams(e(0), intArg(e(1)))),
    "nfc_normalize" -> (e => NfcNormalize(e(0))),
    "minhash_sigs" -> (e => MinhashSigs(e(0), e(1), intArg(e(2)))),
    "simhash64" -> (e => SimHash64(e(0))),
    "winnow_fps" -> (e => WinnowFingerprints(e(0), intArg(e(1)), intArg(e(2)))),
    "top_word_count" -> (e => TopWordCount(e(0))),
    "html_extract" -> (e => HtmlExtract(e(0))),
    "url_parts" -> (e => UrlParts(e(0))),
    // Spark's own runtime-filter bloom expressions, surfaced as callable
    // functions (they are not in the builtin registry): build over
    // xxhash64 keys, probe with might_contain. Used by the sketch-
    // prefilter + exact-verify decontamination path.
    "bloom_build" -> (e =>
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(e(0), e(1)).toAggregateExpression()),
    "bloom_might_contain" -> (e =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(e(0), e(1))),
    "cms_build" -> (e => CountMinBuild(e(0)).toAggregateExpression()),
    "cms_query" -> (e => CountMinQuery(e(0), e(1))),
    "mg_build" -> (e => MisraGriesBuild(e(0)).toAggregateExpression()))

  private[functions] def inject(ext: SparkSessionExtensions): Unit =
    all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions`: graft's
  * functions plus the optimizer rule [[BatchTimestampByReference]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.inject(ext)
    ext.injectOptimizerRule(_ => BatchTimestampByReference)
  }
}
