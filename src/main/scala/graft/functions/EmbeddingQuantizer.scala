package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr

/** The vector family's one embedding quantizer over the `embedding`
  * column: each component as floor(x·100), kept as an integer-valued
  * double, so that dot products and sums over it are exact integer
  * arithmetic carried in doubles. `sql` is the spelling to interpolate
  * into a larger SQL expression; `col` is the same expression as a
  * Column. The DuckDB oracles spell their own `CAST(floor(x * 100.0) AS
  * BIGINT)`. */
object EmbeddingQuantizer {
  val sql: String = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 100.0) AS DOUBLE))"
  val col: Column = expr(sql)
}
