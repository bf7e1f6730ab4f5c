package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.LongAccumulator

/** The one driver behind every live fold that holds the per-key in-order
  * delivery contract: the reference's projection, `(prev-state, event)
  * → new-state`, run per key over a stream and resumed from its
  * checkpoint on restart.
  *
  * CONTRACT. Rows of one key arrive in the fold's order. Within a
  * micro-batch each key's rows are stably sorted by `order` before they
  * are folded. The fold's step decides, from the state alone, whether an
  * arrival is in order; one it rejects — a reorder across micro-batches,
  * or a re-delivered closed row — folds NOTHING, emits NOTHING and
  * increments the accumulator the call returns. These folds are not
  * append-only-safe: folding such a row would skew the state for good,
  * and the state is too small to tell a harmless repeat from a lost
  * one. So a zero count means parity with the batch query held, and a
  * nonzero count means the contract was broken and parity is void until
  * the feed is replayed in order — loudly, never silently skewed. Task
  * retries can inflate the count: it is a violation detector, not a
  * metric. Each call creates and returns its own accumulator; a shared
  * handle would let two streams in one JVM read each other's signal. */
object InOrderFold {

  /** A daily fold's state: the last (type, day) it folded. */
  trait DayState { def lastDay: Long }

  /** Runs `step` over `input` grouped by `key`. `step(key, state, row)`
    * returns the new state and the rows to emit, or None to reject the
    * row as out of order. The accumulator is named
    * `graft.<name>.outOfOrderArrivals`. */
  def apply[R, K: Encoder, S: Encoder, O: Encoder](input: Dataset[R],
      name: String, key: R => K, order: Ordering[R])(
      step: (K, Option[S], R) => Option[(S, Iterable[O])])
      : (Dataset[O], LongAccumulator) = {
    val rejected = input.sparkSession.sparkContext
      .longAccumulator(s"graft.$name.outOfOrderArrivals")
    val emitted = input.groupByKey(key)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: K, rows: Iterator[R], state: GroupState[S]) =>
          var st = state.getOption
          val out = ArrayBuffer.empty[O]
          rows.toSeq.sorted(order).foreach { row =>
            step(k, st, row) match {
              case Some((next, rowsOut)) => st = Some(next); out ++= rowsOut
              case None => rejected.add(1L)
            }
          }
          st.foreach(state.update)
          out.iterator
      }
    (emitted, rejected)
  }

  /** A fold over a daily rollup `(event_type, day, n)`, `day` = epoch-ms
    * DIV 86400000, keyed by type. Accepts a type's first row and then
    * only a day after the state's `lastDay`; every accepted row emits
    * the one row `step(type, state, day, n)` returns with the new state. */
  def daily[S <: DayState: Encoder, O: Encoder](rollup: DataFrame,
      name: String)(step: (String, Option[S], Long, Long) => (S, O))
      : (Dataset[O], LongAccumulator) = {
    import rollup.sparkSession.implicits._
    apply[(String, Long, Long), String, S, O](
      rollup.select($"event_type", $"day".cast("long"), $"n".cast("long"))
        .as[(String, Long, Long)],
      name, _._1, Ordering.by(_._2)) { case (typ, st, (_, day, n)) =>
      if (st.forall(day > _.lastDay)) {
        val (next, point) = step(typ, st, day, n)
        Some((next, point :: Nil))
      } else None
    }
  }
}
