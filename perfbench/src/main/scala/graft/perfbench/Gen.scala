package graft.perfbench

/** A raw event as a client posts it: the fields `Ingest.validate` needs,
  * plus the optional caused-by link every stored event carries. */
final case class RawEvent(
    stream_name: String, service_id: String, local_id: String,
    schema_version: String, payload: String,
    provenance: Option[graft.eventstore.Provenance] = None)

/** One generated event plus what the generator knows about it. */
final case class GenEvent(raw: RawEvent, batch: Int, v: Long)

/** Seeded synthetic event log.
  *
  * Streams are `s00`..`sNN`, drawn from a Zipf law (exponent `skew`;
  * 1.0 over 64 streams puts about a fifth of the events on `s00`).
  * Payloads are JSON of about 150 bytes carrying the batch number and an
  * integer `v` the folds read. `local_id`s are unique across the log.
  */
object Gen {

  /** Ingest time of batch `b`: one minute apart, so batch boundaries are
    * exact `from` cursors for bounded replays. */
  val BaseMs = 1700000000000L
  def ingestMs(batch: Int): Long = BaseMs + batch * 60000L

  def streamName(i: Int): String = f"s$i%02d"

  def zipfCdf(streams: Int, skew: Double): Array[Double] = {
    val w = (1 to streams).map(k => 1.0 / math.pow(k, skew))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  private def note(rng: scala.util.Random): String = {
    val a = new Array[Char](72)
    var i = 0
    while (i < a.length) { a(i) = ('a' + rng.nextInt(26)).toChar; i += 1 }
    new String(a)
  }

  /** Picks the stream of the `j`-th event of a batch. */
  type Streams = (scala.util.Random, Int) => Int

  /** Streams drawn from a Zipf law with exponent `skew`. */
  def zipf(streams: Int, skew: Double): Streams = {
    val cdf = zipfCdf(streams, skew)
    (rng, _) => {
      val k = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (k >= 0) k else -k - 1, streams - 1)
    }
  }

  /** Streams taken in turn, so every batch touches every stream. */
  def roundRobin(streams: Int): Streams = (_, j) => j % streams

  /** `batches` batches of `batchSize` events, batch numbers starting at
    * `firstBatch`; `idPrefix` keeps local_ids of different logs apart. */
  def batches(seed: Long, idPrefix: String, firstBatch: Int, batches: Int,
      batchSize: Int, streamOf: Streams): Seq[Seq[GenEvent]] = {
    val rng = new scala.util.Random(seed)
    var serial = 0L
    (0 until batches).map { i =>
      val b = firstBatch + i
      (0 until batchSize).map { j =>
        val s = streamOf(rng, j)
        val v = rng.nextInt(1000000).toLong
        val payload =
          s"""{"batch":$b,"v":$v,"user":"u${rng.nextInt(5000)}","note":"${note(rng)}"}"""
        serial += 1
        GenEvent(RawEvent(streamName(s), s"svc-${rng.nextInt(16)}",
          f"$idPrefix$serial%09d", "1", payload), b, v)
      }
    }
  }

  /** What the log must hold after the given batches were ingested, one
    * `Ingest.ingest` call per batch at [[ingestMs]]. */
  final class Expected(batches: Seq[Seq[GenEvent]]) {
    /** (order_id, event_time ms, event) in replay order. `Ingest.stamp`
      * numbers a batch in (stream, service, local_id, payload) order and
      * sets order_id = 1000 * ingest ms + position. */
    val log: IndexedSeq[(Long, Long, GenEvent)] = batches.flatMap { bs =>
      bs.sortBy(e => (e.raw.stream_name, e.raw.service_id, e.raw.local_id, e.raw.payload))
        .zipWithIndex.map { case (e, i) =>
          val ms = ingestMs(e.batch)
          (ms * 1000L + i, ms + i / 1000, e)
        }
    }.toIndexedSeq

    lazy val byStream: Map[String, IndexedSeq[(Long, Long, GenEvent)]] =
      log.groupBy(_._3.raw.stream_name)

    def count: Int = log.size
    def counts: Map[String, Long] = byStream.view.mapValues(_.size.toLong).toMap
    def sums: Map[String, Long] = byStream.view.mapValues(_.map(_._3.v).sum).toMap
    def chains: Map[String, Long] =
      byStream.view.mapValues(_.foldLeft(0L)((h, e) => HashChain.step(h, e._3.v))).toMap
  }

  def hottest(exp: Expected): String = exp.counts.maxBy(_._2)._1
}

/** The order-sensitive fold the benchmark runs three ways:
  * h ← (31·h + v) mod 1 000 000 007 over a stream's events in order. */
object HashChain {
  val Mod = 1000000007L
  def step(h: Long, v: Long): Long = (h * 31 + v) % Mod
  val InitSql = "CAST(0 AS BIGINT)"
  val StepSql =
    s"pmod(acc * 31 + CAST(get_json_object(x.payload, '$$.v') AS BIGINT), $Mod)"

  /** `v` from a generated payload, without a JSON parser. */
  def v(payload: String): Long = {
    val i = payload.indexOf("\"v\":") + 4
    var j = i
    while (j < payload.length && payload.charAt(j).isDigit) j += 1
    payload.substring(i, j).toLong
  }

  def batch(payload: String): Int = {
    val i = payload.indexOf("\"batch\":") + 8
    var j = i
    while (j < payload.length && payload.charAt(j).isDigit) j += 1
    payload.substring(i, j).toInt
  }
}

/** Compiled form of [[HashChain]] for `Projections.runOrdered`. */
final case class HashChainFold(name: String) extends graft.eventstore.Fold[Long] {
  override def initial: Long = 0L
  override def step(state: Long, e: graft.eventstore.Event): Long =
    HashChain.step(state, HashChain.v(e.payload))
}

/** Live projection state: events seen and the highest batch number. */
final case class LiveState(count: Long, maxBatch: Long)

final case class LiveFold(name: String) extends graft.eventstore.Fold[LiveState] {
  override def initial: LiveState = LiveState(0L, -1L)
  override def step(s: LiveState, e: graft.eventstore.Event): LiveState =
    LiveState(s.count + 1, math.max(s.maxBatch, HashChain.batch(e.payload).toLong))
}
