package graft.perfbench

import graft.eventstore.{Ingest, OrderedSqlFold, Projections, Replay, SqlFold}

/** `store`: the event store end to end on a seeded, Zipf-skewed log.
  * First one closed-loop client runs, in order: bulk ingest, compaction of
  * the hot stream, then rounds of point gets and bounded replays, a full
  * cold replay, the streams catalog and three folds over the history.
  * Each kind of read counts its fastest round. In a traced run the
  * live phase ([[Live]]) follows: an open loop of appends against a
  * hot-cold projection, on a log of its own. */
object Store {
  val Streams = 64
  val Skew = 1.0
  val BatchSize = 25000
  val Batches = 2
  val ReplayLimit = 100
  /** Untimed gets and bounded replays that warm the read path first. */
  val WarmupReads = 10
  /** Point gets of one round: four per 3 s of `--seconds`; a bounded
    * replay follows every other get. */
  def getsPerRound(seconds: Int): Int = math.max(4, 4 * seconds / 3)
  /** Rounds of the read phases: gets, replay, catalog and folds. The read
    * path is still warming up through the third round, so there are four. */
  val ReadRounds = 4

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val logDir = ctx.dir("store_log")

    // generation happens outside the timed calls
    val gen = Main.repeatedSetup(Gen.batches(ctx.seed, "e", 0, Batches, BatchSize, Gen.zipf(Streams, Skew)))
    val exp = new Gen.Expected(gen)
    val raws = gen.map(b => spark.createDataFrame(b.map(_.raw)))
    // warm the ingest path (JIT, codegen) on a throwaway log
    Ingest.ingest(raws.head.limit(1000), ctx.dir("warmup_log"), Gen.BaseMs)
    val hot = Gen.hottest(exp)
    ctx.detail("store_hot_stream") =
      s"""{"stream":"$hot","share":${exp.counts(hot).toDouble / exp.count}}"""
    Main.setupDone()

    val c0 = ctx.engine.snap(spark)
    // 1. bulk ingest
    val ingestMs = raws.zipWithIndex.map { case (raw, b) =>
      ctx.timedOp(s"ingest batch $b")(tr.span("eventstore.ingest", s"ingest-$b") {
        Ingest.ingest(raw, logDir, Gen.ingestMs(b))
      })(_ => true)._2 * 1e3
    }
    val c1 = ctx.engine.snap(spark)
    val ingestS = ingestMs.sum / 1e3
    val (files, bytes) = Disk.parquet(logDir)

    // 2. compaction of the hot stream; the stream's count must hold
    val hotBefore = Replay.open(spark, logDir).where($"stream_name" === hot).count()
    val (_, compactS) = ctx.timedOp("compact hot stream")(
      tr.span("eventstore.compact", "compact")(Replay.compactStream(spark, logDir, hot))
    )(_ => Replay.open(spark, logDir).where($"stream_name" === hot).count() == hotBefore &&
      hotBefore == exp.counts(hot))
    val filesAfter = Disk.parquet(logDir)._1

    // 3. replay order (untimed): order_ids unique, monotone, as generated
    val log = Replay.open(spark, logDir)
    ctx.op("cold replay order")(
      Replay.cold(log).select("order_id").as[Long].collect()
    )(ids => ids.length == exp.count &&
      ids.iterator.zip(ids.iterator.drop(1)).forall { case (a, b) => a < b } &&
      ids.sameElements(exp.log.map(_._1)))

    // 4. rounds of point gets (each other one followed by a bounded
    // replay), the full ordered cold replay, the streams catalog and three
    // folds over the history. Every round repeats the same reads, and each
    // read counts its fastest round, so host load that slows one or two
    // rounds moves no figure. The first reads of a JVM run several times
    // slower, so warm up untimed.
    val warm = new scala.util.Random(ctx.seed * 31 + 7)
    (1 to WarmupReads).foreach { _ =>
      val (oid, ms, e) = exp.log(warm.nextInt(exp.count))
      Replay.pointGet(log, e.raw.stream_name, oid).collect()
      Replay.cold(log, e.raw.stream_name, ms, Some(ReplayLimit)).collect()
    }
    // the reads of one round, drawn once and stratified, so that every
    // seed reads the same mix of streams: get k comes from the k-th equal
    // slice of the log in (stream, order) order, bounded replay j from the
    // j-th equal slice of the streams by name
    val rng = new scala.util.Random(ctx.seed * 7919 + 1)
    def slice(j: Int, of: Int, n: Int): Int = {
      val lo = j * n / of
      lo + rng.nextInt((j + 1) * n / of - lo)
    }
    val streams = exp.byStream.keys.toIndexedSeq.sorted
    val byStreamOrder = exp.log.sortBy(e => (e._3.raw.stream_name, e._1))
    val nGets = getsPerRound(ctx.seconds)
    val getKeys = (0 until nGets).map(k => byStreamOrder(slice(k, nGets, exp.count)))
    val nBounded = (nGets + 1) / 2
    val boundedKeys = (0 until nBounded).map { j =>
      val st = streams(slice(j, nBounded, streams.size))
      val evs = exp.byStream(st)
      val fromMs = evs(rng.nextInt(evs.size))._2
      (st, fromMs, evs.filter(_._2 >= fromMs).take(ReplayLimit).map(_._1))
    }
    val tracedGets, untracedGets = Vector.newBuilder[Double]
    var getRows, getInput = 0L
    def getsRound(r: Int): (Vector[Double], Vector[Double]) = {
      val gets, bounded = Vector.newBuilder[Double]
      getKeys.zipWithIndex.foreach { case ((oid, _, e), k) =>
        // a traced run records spans on every other get only, switching
        // sides between rounds so each get is also timed untraced
        tr.active = tr.on && (k + r) % 2 == 0
        val s0 = if (tr.on) Some(ctx.engine.snap(spark)) else None
        val (rows, s) = ctx.timedOp(s"point get $oid")(
          tr.span("eventstore.point_get", s"get-$r-$k") {
            Replay.pointGet(log, e.raw.stream_name, oid).collect()
          })(rs => rs.length == 1 && rs(0).getAs[String]("local_id") == e.raw.local_id)
        s0.foreach(c => getInput += (ctx.engine.snap(spark) - c).inputRecords)
        getRows += rows.map(_.length).getOrElse(0)
        if (tr.on) (if (tr.active) tracedGets else untracedGets) += s * 1e3
        tr.active = tr.on
        gets += s * 1e3
        if (k % 2 == 0) {
          val (st, fromMs, want) = boundedKeys(k / 2)
          val (_, bs) = ctx.timedOp(s"bounded replay $st from $fromMs")(
            tr.span("eventstore.bounded_replay", s"bounded-$r-$k") {
              Replay.cold(log, st, fromMs, Some(ReplayLimit)).select("order_id").as[Long].collect()
            })(_.sameElements(want))
          bounded += bs * 1e3
        }
      }
      (gets.result(), bounded.result())
    }

    val typed = Replay.typed(spark, logDir)
    val chains = exp.chains
    final case class Round(gets: Vector[Double], bounded: Vector[Double], replayS: Double,
        catalogS: Double, ordS: Double, ordSqlS: Double, sqlS: Double, skew: Double)
    val rounds = (1 to ReadRounds).map { r =>
      val (getsMs, boundedMs) = getsRound(r)
      val (_, replayS) = ctx.timedOp(s"cold replay, round $r")(
        tr.span("eventstore.replay", s"replay-$r") {
          Replay.cold(log).write.format("noop").mode("overwrite").save()
        })(_ => true)
      val (_, catalogS) = ctx.timedOp(s"streams catalog, round $r")(
        tr.span("eventstore.catalog", s"catalog-$r") {
          Replay.streamsCatalog(log).collect()
        })(rows => rows.map(r => r.getString(0) -> r.getLong(1)).toMap == exp.counts)
      def fold(label: String)(body: => Map[String, Long])(want: Map[String, Long]) = {
        val s0 = ctx.engine.snap(spark)
        val (_, s) = ctx.timedOp(s"fold $label, round $r")(
          tr.span(s"eventstore.fold_$label", s"$label-$r")(body))(_ == want)
        (s, ctx.engine.snap(spark) - s0)
      }
      val (ordS, ordD) = fold("ordered") {
        Projections.runOrdered(typed, HashChainFold("chain")).collect()
          .map(r => r.stream_name -> r.value).toMap
      }(chains)
      val (ordSqlS, _) = fold("ordered_sql") {
        Projections.runOrderedSql(typed,
          OrderedSqlFold("chain", HashChain.InitSql, HashChain.StepSql))
          .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      }(chains)
      val (sqlS, _) = fold("sql") {
        Projections.runSql(typed,
          SqlFold("vsum", "sum(CAST(get_json_object(payload, '$.v') AS BIGINT))"))
          .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      }(exp.sums)
      Round(getsMs, boundedMs, replayS, catalogS, ordS, ordSqlS, sqlS, ordD.taskSkew)
    }
    def best(f: Round => Double) = rounds.map(f).min
    val bestGetMs = getKeys.indices.map(k => best(_.gets(k)))
    val bestBoundedMs = boundedKeys.indices.map(k => best(_.bounded(k)))
    val replayS = best(_.replayS)
    val catalogS = best(_.catalogS)
    val ordS = best(_.ordS)
    val ordSqlS = best(_.ordSqlS)
    val sqlS = best(_.sqlS)

    // 5. the live phase, in a traced run only: it feeds per-layer figures
    // and no end-to-end one, and would double the run
    val liveR = if (tr.on) Some(Live.run(ctx)) else None
    val cEnd = ctx.engine.snap(spark)

    val getV = rounds.flatMap(_.gets).toVector
    if (tr.on) ctx.layer("bench.tracing_overhead_frac",
      Stats.median(tracedGets.result()) / Stats.median(untracedGets.result()) - 1.0, "frac")
    val boundedV = rounds.flatMap(_.bounded).toVector
    val n = exp.count.toDouble
    // the bulk write (the batch count times the fastest batch), compaction
    // and one round of reads, each read at its fastest
    val workS = Batches * ingestMs.min / 1e3 + compactS +
      (bestGetMs.sum + bestBoundedMs.sum) / 1e3 + replayS + catalogS + ordS + ordSqlS + sqlS
    ctx.unitOps(Stats.median(bestGetMs), getV, "point get")
    ctx.e2e("work_s", workS, "s")
    ctx.detail("store") =
      s"""{"events":${exp.count},"ingest_eps":${n / ingestS},"replay_eps":${n / replayS},""" +
      s""""fold_eps":${3 * n / (ordS + ordSqlS + sqlS)},""" +
      s""""point_get_p50_ms":${Stats.median(getV)},"point_get_tail":${Report.tailJson(getV)},""" +
      s""""bounded_replay_p50_ms":${Stats.median(boundedV)},"bounded_replays":${boundedV.size},""" +
      s""""ingest_batch_ms":${ingestMs.mkString("[", ",", "]")},""" +
      s""""get_streams":${getKeys.map(k => Report.quote(k._3.raw.stream_name)).mkString("[", ",", "]")},""" +
      s""""get_ms_by_round":${rounds.map(_.gets.mkString("[", ",", "]")).mkString("[", ",", "]")},""" +
      s""""bounded_ms_by_round":${rounds.map(_.bounded.mkString("[", ",", "]")).mkString("[", ",", "]")}}"""
    ctx.info("ingest_eps", n / ingestS, "1/s")
    ctx.info("replay_eps", n / replayS, "1/s")
    ctx.info("fold_eps", 3 * n / (ordS + ordSqlS + sqlS), "1/s")
    ctx.info("point_get_p50_ms", Stats.median(getV), "ms")
    ctx.infoTail("point_get", getV, "ms")
    ctx.info("bounded_replay_p50_ms", Stats.median(boundedV), "ms")
    liveR.foreach { l =>
      ctx.info("visible_p50_ms", Stats.median(l.visibleMs), "ms")
      ctx.layer("streaming.visible_p50_ms", Stats.median(l.visibleMs), "ms")
      ctx.infoTail("visible", l.visibleMs, "ms")
      ctx.info("append_p50_ms", Stats.median(l.appendMs), "ms")
    }

    val dIngest = c1 - c0
    ctx.layer("eventstore.ingest_s", ingestS, "s")
    ctx.layer("eventstore.ingest_batch_p50_ms", Stats.median(ingestMs), "ms")
    ctx.layer("eventstore.stamp_shuffle_mb", dIngest.shuffleWrite / 1e6, "MB")
    ctx.layer("eventstore.files_written", files.toDouble, "count")
    ctx.layer("eventstore.bytes_per_event", bytes / n, "B")
    ctx.layer("eventstore.replay_s", replayS, "s")
    ctx.layer("eventstore.catalog_s", catalogS, "s")
    ctx.layer("eventstore.compact_s", compactS, "s")
    ctx.layer("eventstore.files_after_compact", filesAfter.toDouble, "count")
    ctx.layer("eventstore.rows_examined_per_get", getInput.toDouble / math.max(getRows, 1L), "ratio")
    ctx.layer("eventstore.fold_ordered_s", ordS, "s")
    ctx.layer("eventstore.fold_ordered_sql_s", ordSqlS, "s")
    ctx.layer("eventstore.fold_sql_s", sqlS, "s")
    ctx.layer("eventstore.fold_task_skew", Stats.median(rounds.map(_.skew)), "ratio")
    ctx.engineLayer(cEnd - c0, spark.sparkContext.defaultParallelism)
  }
}
