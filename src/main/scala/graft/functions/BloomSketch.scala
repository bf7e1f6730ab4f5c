package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain

/** SQL-callable wrappers over Spark's own bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the machinery
  * behind runtime row-level filtering, not exposed in the public
  * FunctionRegistry). `bloom_agg` is an entry of graft.GraftFunctions;
  * the built sketch is bound here, so a query can build an explicit
  * semi-join sketch:
  *
  *   bloom_agg(hash_col, estimatedItems, numBits) -> binary sketch
  *   bloom_might_contain(sketch, hash_col)        -> boolean (no false
  *                                                   negatives)
  *
  * The 100 TB use: when the probe set outgrows broadcast-hash-join
  * comfort, its bloom sketch (numBits/8 bytes, mergeable, built
  * distributed) still broadcasts; the big side prefilters with a
  * per-row codegen'd membership test and only survivors reach the
  * exact join. False positives cost only wasted exact-join work; false
  * negatives are impossible, so sketch-prefilter + exact-verify returns
  * EXACTLY the unfiltered answer.
  */
object BloomSketch {
  /** Bind a BUILT sketch (the bytes `bloom_agg` returned) as a 1-arg
    * membership predicate `name(hash_col)`. `might_contain` requires
    * its sketch operand to be a constant or scalar subquery — a Literal
    * satisfies that and stays codegen-friendly. The sketch is
    * driver-sized by construction (numBits/8 bytes regardless of corpus
    * size — same contract as the collected centroid array in
    * graft.functions.Centroids). */
  def registerSketch(spark: SparkSession, name: String, sketch: Array[Byte]): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
      exprs => BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          sketch, org.apache.spark.sql.types.BinaryType),
        exprs.head), "scala_udf")
}
