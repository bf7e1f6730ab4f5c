package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr

/** The text-query family's one tokenizer over the `text` column:
  * lowercase, split on runs of spaces, drop the empty tokens that a
  * leading space leaves. `sql` is the spelling to interpolate into a
  * larger SQL expression; `col` is the same expression as a Column. The
  * DuckDB oracles spell it
  * `list_filter(string_split_regex(lower(text), ' +'), x -> x <> '')`. */
object Tokenizer {
  val sql: String = "filter(split(lower(text), ' +'), x -> x != '')"
  val col: Column = expr(sql)
}
