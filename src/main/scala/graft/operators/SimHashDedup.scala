package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection: one 64-bit signature per document,
  * banded into 4×16-bit chunks. By pigeonhole, any pair with Hamming
  * distance ≤ 3 matches exactly in at least one chunk, so recall is 1.0
  * for distance ≤ 3 while the shuffle key is a 16-bit chunk value —
  * constant state per doc (vs MinHash's K-value signature), the cheapest
  * of the dedup family at 100 TB.
  */
object SimHashDedup {

  val Chunks = 4

  /** docs(idCol, tokensCol: array<string>) → pairs (a_id, b_id, hamming)
    * with Hamming distance ≤ maxHamming (default 3 = the banding bound).
    */
  def nearDuplicates(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      maxHamming: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.GraftFunctions.install(spark)

    val sigs = docs
      .select(col(idCol).as("id"), col(tokensCol).as("toks"))
      .where(size(col("toks")) > 0)
      .select($"id", expr("simhash64(toks)").as("sig"))

    // Band index from a LITERAL sequence explode, chunk extracted in the
    // projection ABOVE the Generate: `sig` crosses the Generate boundary
    // as an attribute, so it is computed once per document and carried to
    // the 4 band rows — the earlier shape (chunks inside the generator
    // lambda) inlined the simhash call per chunk, and the repartition
    // barrier it needed to stop that cost a full corpus exchange, which
    // is strictly worse than the attribute boundary doing it for free.
    val banded = sigs
      .select($"id", $"sig",
        explode(expr(s"sequence(0, ${Chunks - 1})")).as("band"))
      .withColumn("chunk",
        expr("shiftrightunsigned(sig, band * 16) & 65535"))
      // both self-join legs read this: repartition on the join key so
      // they share ONE ReusedExchange (shuffle files, not cached blocks
      // — nothing to unpersist, and the join arrives pre-clustered)
      .repartition($"band", $"chunk")

    val a = banded.select($"band".as("a_band"), $"chunk".as("a_chunk"),
      $"id".as("a_id"), $"sig".as("a_sig"))
    val b = banded.select($"band".as("b_band"), $"chunk".as("b_chunk"),
      $"id".as("b_id"), $"sig".as("b_sig"))

    // verify BEFORE deduplicating: hamming is one codegen'd XOR+popcount
    // per candidate occurrence (≤ Chunks per pair), so filtering first
    // shrinks the dropDuplicates exchange to true near-dup pairs instead
    // of shuffling every multi-band candidate collision
    a.join(b, $"a_band" === $"b_band" && $"a_chunk" === $"b_chunk" && $"a_id" < $"b_id")
      .withColumn("hamming", expr("bit_count(a_sig ^ b_sig)").cast("long"))
      .where($"hamming" <= maxHamming)
      .select($"a_id", $"b_id", $"hamming")
      .dropDuplicates("a_id", "b_id")
      .orderBy($"a_id", $"b_id")
  }
}
