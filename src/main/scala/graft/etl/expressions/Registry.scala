package graft.etl.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL-surface registration for the engine's custom expressions
  * (SURVEY.md §2.11): makes `strip_accents`, `parse_fr_datetime` and
  * `seq_ratio` callable from `spark.sql(...)` per session via
  * [[Registry.register]].
  */
object Registry {
  /** Shingle/band sizes are plan-time parameters, not per-row data. */
  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a constant integer size argument, got $other")
  }

  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "strip_accents" -> (es => StripAccents(es.head)),
    "parse_fr_datetime" -> (es => ParseFrDatetime(es.head)),
    "seq_ratio" -> (es => SequenceRatio(es(0), es(1))),
    "char_shingles" -> (es => CharShingles(es(0), intArg(es(1), "char_shingles"))),
    "minhash_bands" -> (es => MinhashBands(es(0), intArg(es(1), "minhash_bands"))),
    "ngram_jaccard" -> (es => NGramJaccard(es(0), es(1), intArg(es(2), "ngram_jaccard"))),
    "word_gram_hashes" -> (es => WordGramHashes(es(0),
      intArg(es(1), "word_gram_hashes"), intArg(es(2), "word_gram_hashes"))),
    "simhash16" -> (es => SimHash16(es.head)),
    "simhash64" -> (es => SimHash64(es.head)),
    "char_bigrams" -> (es => CharBigrams(es.head)),
    "dot_fold" -> (es => DotFold(es(0), es(1))),
    "dot_fold_long" -> (es => DotFoldLong(es(0), es(1))),
    "vec_sub" -> (es => VecSub(es(0), es(1))),
    "max_abs_fold" -> (es => MaxAbsFold(es.head)),
    "quantize_int8" -> (es => QuantizeInt8(es(0), es(1))),
    "cdc_chunks" -> (es => CdcChunks(es(0),
      intArg(es(1), "cdc_chunks"), intArg(es(2), "cdc_chunks"))))

  def register(spark: SparkSession): Unit = {
    fns.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(SimilarityPrefilter))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SimilarityPrefilter
  }
}
