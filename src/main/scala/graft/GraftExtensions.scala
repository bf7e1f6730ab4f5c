package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions._

/** Session extension installing graft's native functions, for use via
  * `spark.sql.extensions=graft.GraftExtensions` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  * This is the idiomatic packaging for a Spark-native library: the
  * engine's custom expressions become ordinary SQL functions in every
  * session, no per-query registration. (No custom LogicalPlan/Strategy
  * is injected — see graft.plans for why none is needed.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

object GraftFunctions {

  private def info(name: String, clazz: Class[_], usage: String) =
    new ExpressionInfo(clazz.getName, null, name, usage, "")

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("simhash64"),
      info("simhash64", classOf[SimHash64],
        "simhash64(tokens) - 64-bit SimHash of an array<string>"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)),
    (FunctionIdentifier("vec_dot"),
      info("vec_dot", classOf[VecDotExpr],
        "vec_dot(a, b) - strict left-fold dot product of two array<double>"),
      (exprs: Seq[Expression]) => VecDotExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", classOf[ShingleHashesExpr],
        "shingle_hashes(tokens, k) - sorted distinct k-gram shingle hashes"),
      (exprs: Seq[Expression]) => ShingleHashesExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("minhash_sig"),
      info("minhash_sig", classOf[MinHashSigExpr],
        "minhash_sig(shingles, num) - MinHash signature of array<long>"),
      (exprs: Seq[Expression]) => MinHashSigExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("poly_hash"),
      info("poly_hash", classOf[PolyHashExpr],
        "poly_hash(str) - 31-polynomial rolling hash mod 1e9+7 over UTF-8 bytes"),
      (exprs: Seq[Expression]) => PolyHashExpr(exprs.head)),
    (FunctionIdentifier("infer_schema"),
      info("infer_schema", classOf[InferSchemaAgg],
        "infer_schema(payload) - sampled statistical JSON schema inference aggregate"),
      (exprs: Seq[Expression]) => InferSchemaAgg(exprs.head).toAggregateExpression()),
    (FunctionIdentifier("hyperplane_sig"),
      info("hyperplane_sig", classOf[HyperplaneSig],
        "hyperplane_sig(v, bitsPerBand, bands) - banded LSH sign signature of array<double>"),
      (exprs: Seq[Expression]) => HyperplaneSig(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("ws_token_count"),
      info("ws_token_count", classOf[WsTokenCountExpr],
        "ws_token_count(str) - count of maximal non-space runs"),
      (exprs: Seq[Expression]) => WsTokenCountExpr(exprs.head)),
    (FunctionIdentifier("bpe_token_count"),
      info("bpe_token_count", classOf[BpeTokenCountExpr],
        "bpe_token_count(str) - count of letter runs | digit runs | other non-space bytes"),
      (exprs: Seq[Expression]) => BpeTokenCountExpr(exprs.head)),
    (FunctionIdentifier("stop_token_count"),
      info("stop_token_count", classOf[StopTokenCountExpr],
        "stop_token_count(str) - count of tokens case-insensitively in the stop-word set"),
      (exprs: Seq[Expression]) => StopTokenCountExpr(exprs.head)),
    (FunctionIdentifier("ngram_top_count"),
      info("ngram_top_count", classOf[NgramTopCountExpr],
        "ngram_top_count(tokens, k) - multiplicity of the most frequent k-gram"),
      (exprs: Seq[Expression]) => NgramTopCountExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("sampled_fingerprints"),
      info("sampled_fingerprints", classOf[SampledFingerprintsExpr],
        "sampled_fingerprints(str) - sorted distinct 0-mod-p sampled 32-gram poly hashes"),
      (exprs: Seq[Expression]) => SampledFingerprintsExpr(exprs.head)),
    (FunctionIdentifier("deflate_len"),
      info("deflate_len", classOf[DeflateLenExpr],
        "deflate_len(str) - DEFLATE(level 6, raw) output length in bytes"),
      (exprs: Seq[Expression]) => DeflateLenExpr(exprs.head)),
    (FunctionIdentifier("winnowed_fingerprints"),
      info("winnowed_fingerprints", classOf[WinnowedFingerprintsExpr],
        "winnowed_fingerprints(str) - sorted distinct winnowed 32-gram poly hashes " +
          "(guaranteed hit on any >=39-byte shared span)"),
      (exprs: Seq[Expression]) => WinnowedFingerprintsExpr(exprs.head)),
    (FunctionIdentifier("bloom_agg"),
      info("bloom_agg", classOf[BloomFilterAggregate],
        "bloom_agg(hash, estimatedItems, numBits) - bloom-filter sketch aggregate of a long column"),
      (exprs: Seq[Expression]) => new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
        .toAggregateExpression()))

  /** Install every entry of [[all]] that this session's own registry
    * lacks — the imperative twin of the extension path, called at query
    * entry (`Q.run`) and by the entry points outside a query. Idempotent
    * by reading the registry itself: a second call on the same session
    * registers nothing, and a name the session already binds is left
    * as it is. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }
}
