package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Live Kemeny–Snell lumpability — the 43rd streaming twin,
  * incremental over x_markov_lumpable: each user's arrivals extend
  * their behavioral chain, and every consecutive pair emits one
  * transition hit the moment the second event arrives; feeding the
  * hits into a counting sink and [[verdictOf]] reproduces the batch
  * partition-validity table EXACTLY — not by re-derivation but by
  * construction, since verdictOf executes the batch query's own
  * shared fold (graft.queries.EventAnalytics.lumpableFold) over the
  * counted hits.
  *
  * Append-only by the [[StreamingPaths]] argument verbatim: under
  * per-user in-order delivery the consecutive-pair relation is
  * decided at arrival time and never revised — state per user is the
  * LAST event type plus the (ts_us, event_id) order cursor, constant
  * bytes. The batch chain orders by (ts_us, event_id); an arrival
  * whose (us, id) sorts LEXICOGRAPHICALLY below the cursor would
  * splice a pair the batch never forms, so under [[InOrderFold]]'s
  * contract exactly that arrival is rejected (equal-µs ties covered by
  * the id tiebreak).
  *
  * At 100 TB: |users| × three-longs-and-a-string of sharded state,
  * one O(1) emission per arrival, and a K²-bounded read-side fold
  * (every join in the fold broadcasts — the batch scale shape). */
object StreamingMarkovLumpable {

  final case class LumpState(lastType: String, lastUs: Long, lastId: Long)

  final case class TransHit(prev_type: String, next_type: String)

  /** events: (user_id, ts_us, event_id, event_type) — the batch
    * chain's own (µs, id) order key. Returns the
    * transition-hit stream paired with its in-order-contract
    * accumulator. */
  def emissions(events: DataFrame): (Dataset[TransHit], LongAccumulator) = {
    import events.sparkSession.implicits._
    InOrderFold[(Long, Long, Long, String), Long, LumpState, TransHit](
      events.select("user_id", "ts_us", "event_id", "event_type")
        .as[(Long, Long, Long, String)],
      "markovlumpable", _._1, Ordering.by(r => (r._2, r._3))) {
      case (_, st, (_, us, id, t)) =>
        if (st.exists(p => us < p.lastUs || (us == p.lastUs && id < p.lastId))) None
        else Some((LumpState(t, us, id),
          st.flatMap(p => Option(p.lastType)).map(TransHit(_, t)).toList))
    }
  }

  /** Fold a table of emitted transition hits into the batch
    * x_markov_lumpable output — LITERALLY the batch query's shared
    * Kemeny–Snell fold over the counted hits. The type domain is the
    * types observed in the hits (the fold's chain-domain rule; a type
    * never adjacent to anything is invisible to both sides). */
  def verdictOf(hits: DataFrame): DataFrame =
    graft.queries.EventAnalytics.lumpableFold(
      hits.groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n")))
}
