package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: the scale properties (pushdown, pruning,
  * broadcast, top-k short-circuit) that correctness checks can't see.
  * If one of these breaks, the query still returns the right rows — and
  * would fall over at 100 TB. */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  test("r17 drift/forecast additions keep their declared scale shapes") {
    // drift pair: one map-side-combined (type, cents) aggregate, the
    // 1-row dr side broadcast, type-keyed windows — never a sort-merge
    // join or a row-amplifying Generate
    Seq("x_drift_emd", "x_drift_cvm").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q fell back to SMJ:\n$p")
      assert(!p.contains("Generate"), s"$q grew a row-amplifier:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q lost its partial aggregate:\n$p")
    }
    // forecast folds: per-type sequential aggregates — no window
    // operator and no join may ever appear (the fold IS the tail)
    Seq("x_forecast_hw_log", "x_forecast_holt_damped").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q grew a window:\n$p")
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2 ||
        p.contains("SortAggregate"),
        s"$q lost its partial aggregate:\n$p")
    }
  }

  test("r_filter_project: predicates pushed into the parquet scan, schema pruned") {
    val p = plan("r_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate range not pushed:\n$p")
    assert(!p.contains("l_tax"), "unprojected column read from parquet")
  }

  test("dim joins broadcast; the fact side never shuffles on the join key") {
    Seq("r_join_broadcast", "r_join_multi").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to SMJ:\n$p")
    }
  }

  test("r_sort_topk plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("r_sort_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k regressed to full sort:\n$p")
  }

  test("r_agg_hash does map-side partial aggregation before its shuffle") {
    val p = plan("r_agg_hash")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"no partial aggregate below the exchange:\n$p")
  }

  test("x_sim_topk keeps the probe side broadcast (big side streams once)") {
    val p = plan("x_sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe side not broadcast:\n$p")
    // the per-probe ranking is a bounded TopK aggregate — a row_number
    // window here shuffles all N×5 candidates into n_probes partitions
    assert(!p.contains("Window"), s"sim ranking regressed to a probe window:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"bounded TopK aggregate missing:\n$p")
  }

  test("IVF centroid assignment is a narrow pass: no exchange, no window, no join") {
    // the scale contract of the broadcast-argmin kernel: assigning N
    // vectors to k centroids must not replicate or shuffle the corpus
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
    val cents = Array.tabulate(8)(i => i -> Array.tabulate(64)(d => if (d == i) 1.0 else 0.0))
    val asg = graft.operators.KMeansIVF.assign(e, cents)
    val phys = asg.queryExecution.executedPlan
    val offenders = phys.collect {
      case x: ShuffleExchangeExec => x
      case w: WindowExec => w
      case j: BroadcastNestedLoopJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(offenders.isEmpty, s"assignment stage not narrow:\n${phys.toString}")
    // and the declared query is window-free end to end: argmin kernel
    // assignment + bounded TopK per-probe ranking
    val p = plan("x_ann_ivf")
    assert(p.contains("nearest_centroid"), s"argmin kernel missing from plan:\n$p")
    assert(!p.contains("Window"), s"x_ann_ivf regressed to a window ranking:\n$p")
  }

  test("p_cold_scan limit is planned as a limit, not a full materialization") {
    val p = plan("p_cold_scan")
    assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"),
      s"limit not planned:\n$p")
  }

  test("x_tfidf: per-lang doc counts broadcast; no sort-merge join") {
    val p = plan("x_tfidf")
    assert(p.contains("BroadcastHashJoin"), s"doc-count join lost broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"tfidf fell back to SMJ:\n$p")
  }

  test("x_cooccur: vocab cap broadcast, final top-20 is a TakeOrdered") {
    val p = plan("x_cooccur")
    assert(p.contains("BroadcastHashJoin"), s"vocab join lost broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 regressed to a global sort:\n$p")
  }

  test("PQ encode is a narrow pass: no exchange, no window, no join") {
    // same scale contract as IVF assignment: quantizing N vectors to
    // codes must not replicate or shuffle the corpus
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
    val model = graft.operators.ProductQuantizer.train(e)
    val coded = graft.operators.ProductQuantizer.encode(e, model)
    val offenders = coded.queryExecution.executedPlan.collect {
      case x: ShuffleExchangeExec => x
      case w: WindowExec => w
      case j: BroadcastNestedLoopJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(offenders.isEmpty,
      s"encode stage not narrow:\n${coded.queryExecution.executedPlan}")
    val p = plan("x_ann_pq")
    assert(p.contains("pq_adc"), s"ADC kernel missing from plan:\n$p")
  }

  test("x_funnel/x_retention: no event-pair join, partial aggregates present") {
    Seq("x_funnel", "x_retention").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q built a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q non-equi join:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q missing partial aggregation:\n$p")
    }
  }

  test("x_bigram_coverage/x_retrieval: reference table broadcasts, corpus never shuffles for it") {
    Seq("x_bigram_coverage", "x_retrieval").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to SMJ:\n$p")
    }
  }

  test("x_freq_spectrum/x_spike_detect: map-side partial aggregation, no joins at all") {
    Seq("x_freq_spectrum", "x_spike_detect").foreach { q =>
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q missing partial aggregation:\n$p")
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
    }
  }

  test("r_subquery_correlated decorrelates to an aggregate join (no per-row subquery)") {
    val p = plan("r_subquery_correlated")
    // Catalyst rewrites both correlated scalar subqueries into one
    // per-custkey aggregate joined back — the plan must show aggregate +
    // join, and no nested subquery execution
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"no aggregate join:\n$p")
    assert(!p.contains("CartesianProduct"), s"decorrelation failed:\n$p")
  }

  test("exact-dedup family: digest exchange, no Window and no Sort on text") {
    // the r5 sinner: a full-text window key sorts multi-KB keys and
    // hot-spots on dup skew — these plans must stay two-phase hash-agg
    Seq("x_dup_inflation", "x_dedup_exact", "x_filter_chain",
        "x_quality_vs_dup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q regressed to a window:\n$p")
      // match the Sort node's OWN Arguments line — a scan whose only
      // output column is text also prints "[text#..." and must not trip
      assert(!p.matches("(?s).*\\) Sort[^\\n]*\\nInput[^\\n]*\\nArguments: \\[text.*"),
        s"$q sorts on text:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q lost its partial aggregate:\n$p")
      // r6: x_filter_chain paid a keep-table join-back (near-N×N digest
      // SMJ on a dup-light corpus) — the whole family is join-free now
      assert(!p.contains("Join"), s"$q regressed to a join-back:\n$p")
    }
  }

  test("x_dau_rolling: distinct pairs aggregate before the explode (partial aggs present)") {
    val p = plan("x_dau_rolling")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"distinct/agg phases missing:\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"dau/wau join shape:\n$p")
  }

  test("x_event_paths: keyed collect + TakeOrdered top-k, no pair joins") {
    val p = plan("x_event_paths")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 regressed to full sort:\n$p")
    assert(!p.contains("Join"), s"path mining must not join:\n$p")
  }

  test("max_centroid_cos screens are joinless narrow passes (contam/outliers)") {
    // the broadcast-kernel contract: scanning the corpus against the
    // benchmark/centroid set must not join, window or replicate —
    // only the per-label summary aggregates out
    Seq("x_contam_embed", "x_embed_outliers").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q re-grew a join:\n$p")
      assert(!p.contains("WindowExec") && !p.contains("Window\n"),
        s"$q re-grew a window:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q lost its partial aggregate:\n$p")
    }
  }

  test("x_bot_burst: one-row-state window + TakeOrdered, no pair joins") {
    val p = plan("x_bot_burst")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 regressed to full sort:\n$p")
    assert(!p.contains("Join"), s"burst screen must not join:\n$p")
  }

  test("x_dup_pagerank: gate-SF graphs take the driver regime — no iteration joins in the plan") {
    // the two-regime PageRank (operators/PageRank) runs the posting
    // join ONCE to build the pair list, then — under DriverEdgeLimit —
    // folds the 3 iterations driver-side: the final plan ranks a local
    // relation, so any Join here means the dispatch regressed to the
    // distributed stack at a scale where scheduling would dominate
    // (the distributed branch's reused-exchange shape is pinned by
    // PageRankSpec's cross-regime equality instead)
    val df = SparkEntry.queries("x_dup_pagerank")(spark, sf)
    df.collect()
    val p = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("LocalTableScan"),
      s"gate-SF pagerank must rank a local relation:\n$p")
    assert(!p.contains("Join"),
      s"iteration joins leaked into the driver-regime plan:\n$p")
  }

  test("x_doc_diversity: staged aggregates only — no joins, no windows") {
    // explode → (doc,token) agg → per-doc agg → source rollup; a join
    // or window here means the int64 index grew a pairing stage
    val p = plan("x_doc_diversity")
    assert(!p.contains("Join"), s"diversity rollup re-grew a join:\n$p")
    assert(!p.contains("Window"), s"diversity rollup re-grew a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"lost the map-side token combine:\n$p")
  }

  test("x_template_prefix: narrow projection into TakeOrdered, no joins/windows") {
    val p = plan("x_template_prefix")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 regressed to full sort:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"prefix clustering must stay a single aggregate:\n$p")
  }

  test("x_dim_stats: posexplode into one dim-keyed aggregate — no join/window") {
    val p = plan("x_dim_stats")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"dim moments must not pair or window:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"lost the map-side partial combine (64-row output depends on it):\n$p")
  }

  test("x_dim_error: bounded top-k aggregate per probe — no window, no corpus sort") {
    // the r6 shape ranked all N×5 candidate rows with row_number()
    // windows partitioned by p_id: parallelism collapsed to n_probes=5
    // single-task sorts of the whole corpus. The TopK aggregator keeps
    // ≤5 rows per probe in every map-side partial instead.
    val p = plan("x_dim_error")
    assert(!p.contains("Window"), s"dim-error re-grew a probe-partitioned window:\n$p")
    assert(!p.contains("row_number"), s"dim-error re-grew row_number ranking:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"bounded TopK aggregate missing from plan:\n$p")
  }

  test("x_value_outliers: per-type stats tables broadcast back, never SMJ") {
    // the two med/mad tables are type-cardinality by declaration — if
    // either falls to a sort-merge join the fact stream shuffles twice
    val p = plan("x_value_outliers")
    assert(p.contains("BroadcastHashJoin"), s"stats join-back lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"stats join-back fell to SMJ:\n$p")
  }

  test("x_event_transitions: lag-1 window + tiny-matrix normalize, no joins") {
    val p = plan("x_event_transitions")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 regressed to full sort:\n$p")
    assert(!p.contains("Join"), s"transition matrix must not join:\n$p")
  }

  test("x_graph_triangles: the bounded edge list is localized — zero corpus scans in the plan") {
    // the edge build (tokenize → distinct → self-join → overlap filter)
    // runs ONCE at query construction and yields a ≤ C(100,2)-row local
    // relation; the executed summary plan must therefore contain NO
    // documents scan at all — a corpus FileScan here means a branch
    // re-grew its own edge pipeline (the O(branches × corpus)
    // anti-plan localization exists to forbid structurally)
    val df = SparkEntry.queries("x_graph_triangles")(spark, sf)
    df.collect()
    val full = df.queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
    val finalPlan = full.split("== Initial Plan ==")(0)
    val liveScans = finalPlan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    assert(liveScans == 0,
      s"corpus scan leaked into the graph-summary plan ($liveScans):\n$finalPlan")
    assert(finalPlan.contains("LocalTableScan"),
      s"edge list is not a local relation:\n$finalPlan")
  }

  test("x_session_stats: one exchange serves both session windows") {
    // lag() and the running sid sum share the (user | ts_s, event_id)
    // sort — an exchange BETWEEN the two windows means they diverged.
    // Must execute FIRST: before execution the AQE plan is a single
    // AdaptiveSparkPlanExec leaf and a tree-collect of exchanges is
    // vacuously empty; the final plan string shows the real exchanges.
    val df = SparkEntry.queries("x_session_stats")(spark, sf)
    df.collect()
    val full = df.queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
    val finalPlan = full.split("== Initial Plan ==")(0)
    // both windows ride one sort/exchange: no Exchange line may appear
    // between the two Window operators
    val lines = finalPlan.linesIterator.toVector
    val winIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Window [") => i }
    assert(winIdx.size == 2, s"expected 2 window ops:\n$finalPlan")
    assert(!lines.slice(winIdx.min + 1, winIdx.max)
        .exists(_.contains("Exchange")),
      s"the session windows diverged onto separate exchanges:\n$finalPlan")
    // the n_users distinct is a SEPARATE pruned branch by design (the
    // r11 distinct-rewrite fix: DISTINCT mixed into the percentile agg
    // instantiates one percentile buffer per user) — its exchange
    // carries a map-side-combined single column, so total user-keyed
    // exchanges are exactly 2 and the only join is the 1-row scalar
    // cross join of the two aggregates
    val userExchanges = finalPlan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id") && !l.contains("ReusedExchange"))
    assert(userExchanges <= 2,
      s"expected <=2 user-keyed exchanges, got $userExchanges:\n$finalPlan")
    val joins = finalPlan.linesIterator.filter(_.contains("Join")).toSeq
    assert(joins.forall(j => j.contains("BroadcastNestedLoopJoin") && j.contains("Cross")),
      s"unexpected non-scalar join in sessionization:\n$finalPlan")
  }

  test("x_zipf_slope: bounded per-lang top-k, no vocabulary-wide window or sort") {
    // the ranking must be the StrTopKAgg bounded aggregate — a
    // row_number window here shuffles the whole vocabulary into
    // |langs| partitions and sorts each in one task
    val p = plan("x_zipf_slope")
    assert(!p.contains("Window"), s"zipf rank regressed to a window:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"bounded TopK aggregate missing:\n$p")
  }

  test("x_gini/x_hour_profile: histogram-first — partial aggs, no per-user window") {
    val pg = plan("x_gini")
    // the only window input is the (event_type, count-value) histogram;
    // a window keyed on user_id would mean the cumsum runs pre-aggregation
    assert(!pg.contains("hashpartitioning(user_id"),
      s"gini window runs over users, not the count histogram:\n$pg")
    assert("HashAggregate".r.findAllIn(pg).length >= 2,
      s"no partial aggregate below the exchange:\n$pg")
    val ph = plan("x_hour_profile")
    assert(!ph.contains("Join") || ph.contains("BroadcastNestedLoopJoin"),
      s"hour profile total must broadcast, not SMJ:\n$ph")
    assert("HashAggregate".r.findAllIn(ph).length >= 2,
      s"no partial aggregate below the exchange:\n$ph")
  }

  test("x_dup_gram_mass: one gram pass, no pair rows, hash aggregates only") {
    val p = plan("x_dup_gram_mass")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"gram mass fell back to all-pairs:\n$p")
    assert(!p.contains("Window"), s"no window belongs here:\n$p")
    // r19 shape: the tokenize+shingle+explode pipeline runs ONCE (the
    // pre-r19 plan paid it twice — df build + join probe); the only
    // join is the tiny unique-gram-owners table broadcast back onto
    // the doc frame
    // count tree-section nodes only ("Generate (n)"), same convention as
    // the Exchange assertions — ADVICE r19: the old "<= 2 substring
    // occurrences" encoding would let a regression to two Generates pass
    // if the plan string ever printed one section
    assert("Generate \\(\\d+\\)".r.findAllIn(p).length == 1,
      s"gram explode must run once, not per consumer:\n$p")
    // the owner recovery must stay primitive (max(doc_id)/max(n_grams))
    // — a struct/string min-max would sort the full gram stream
    assert(!p.contains("SortAggregate"),
      s"gram aggregate fell out of HashAggregate:\n$p")
  }

  test("x_split_leakage: one digest aggregate, a scalar rollup, no joins") {
    val p = plan("x_split_leakage")
    assert(!p.contains("Join"), s"split audit must not self-join:\n$p")
    assert(!p.contains("Window"), s"split audit must not window:\n$p")
    // digest exchange + single-partition rollup + output sort are the
    // only shuffles (tree nodes print as "Exchange (n)"; the details
    // section repeats them as "(n) Exchange", so count the former)
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).length <= 3,
      s"unexpected extra exchanges:\n$p")
  }

  test("x_media_frames: narrow mapPartitions — no shuffle before the output sort") {
    val p = plan("x_media_frames")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"frame sampling must stay narrow:\n$p")
    val exchanges = "Exchange \\(\\d+\\)".r.findAllIn(p).length
    assert(exchanges <= 1, s"only the output sort may move data:\n$p")
  }

  test("x_source_overlap: token-keyed equi-join, sizes broadcast — no cartesian") {
    val p = plan("x_source_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"overlap fell back to all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"set sizes must broadcast:\n$p")
    assert(!p.contains("Window"), s"no window belongs here:\n$p")
  }

  test("x_forecast_ses: calendar-bounded rollup + per-type fold — no corpus window/join") {
    val p = plan("x_forecast_ses")
    assert(!p.contains("Join"), s"SES must not join:\n$p")
    assert(!p.contains("Window"), s"the fold is an aggregate HOF, not a window:\n$p")
    // (type, day) rollup partial-aggregates below its exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"no partial aggregate below the exchange:\n$p")
  }

  test("x_forecast_holt: calendar-bounded rollup + per-type integer fold — " +
      "no corpus window/join (the SES plan contract)") {
    val p = plan("x_forecast_holt")
    assert(!p.contains("Join"), s"Holt must not join:\n$p")
    assert(!p.contains("Window"), s"the fold is an aggregate HOF, not a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"no partial aggregate below the exchange:\n$p")
  }

  test("x_conversion_lag/x_kanon_profile: no event-pair join, no cartesian " +
      "blowup, partial aggregates present") {
    Seq("x_conversion_lag", "x_kanon_profile").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q built a cartesian:\n$p")
      assert(!p.contains("Window"), s"$q needs no window:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q missing partial aggregation:\n$p")
    }
  }

  test("x_attrib_linear: one user-keyed window exchange; credits never join back") {
    val p = plan("x_attrib_linear")
    assert(!p.contains("Join"), s"attribution must not self-join:\n$p")
    val userExchanges = p.linesIterator.count(l =>
      l.contains("hashpartitioning(user_id") && !l.contains("ReusedExchange"))
    assert(userExchanges <= 1,
      s"all four running counts must share one user window exchange:\n$p")
  }

  test("LSH banding needs no anti-inline barriers: signatures cross a Generate") {
    // band keys are computed ABOVE a literal-sequence explode, so
    // signatures reach the band rows as attributes and the per-band
    // kernel re-evaluation the old in-generator lambdas forced (fenced
    // by repartition barriers) is structurally impossible. BOTH hash
    // families now run completely barrier-free (the r8 inline-vs-barrier
    // measurement removed the last minhash tokenize barrier; the trade is
    // in OPTIMIZATION_r19.md), so any
    // round-robin exchange in either plan is a regression.
    val ps = plan("x_dedup_simhash")
    assert(!ps.contains("RoundRobinPartitioning"),
      s"x_dedup_simhash re-grew a round-robin barrier exchange:\n$ps")
    val pm = plan("x_dedup_minhash")
    val rr = pm.linesIterator.count(_.contains("RoundRobinPartitioning"))
    assert(rr == 0,
      s"x_dedup_minhash re-grew a barrier exchange (got $rr round-robins):\n$pm")
  }

  test("x_dedup_incremental: digest-only probe join — corpus text never joined") {
    val p = plan("x_dedup_incremental")
    // the probe joins 32-byte digests and ids; joining on raw text would
    // ship document bodies through the exchange
    assert(!p.contains("SortMergeJoin [text"),
      s"probe join must key on digest, not text:\n$p")
    assert(p.contains("sha2"), s"digest kernel missing from the plan:\n$p")
  }

  test("r_join_bucketed: bucketed scans satisfy the join — no exchange on either side") {
    // broadcast disabled so partitioning (not a broadcast) must satisfy
    // the join — the property the bucketed tables exist for; at real
    // scale neither fact side would broadcast anyway
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("r_join_bucketed")
      assert(!p.contains("hashpartitioning(l_orderkey") &&
             !p.contains("hashpartitioning(o_orderkey"),
        s"bucketed join re-exchanged a side:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected co-located SMJ:\n$p")
      assert(p.contains("Bucketed: true"), s"scan did not use bucketing:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("x_ann_incremental_exact: batch broadcasts; ranking is the bounded TopK aggregate") {
    val p = plan("x_ann_incremental_exact")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe batch not broadcast:\n$p")
    assert(!p.contains("Window"), s"ranking regressed to a probe window:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"bounded TopK aggregate missing:\n$p")
  }

  test("real-codec media queries: narrow codec passes — no shuffle before the output sort") {
    // the codec pipeline (synthesize → real encode → real decode →
    // measure) must stay ONE narrow mapPartitions chain: the only
    // exchange allowed is the rangepartitioning of the final ORDER BY;
    // a shuffle inside the chain means the pipeline re-materializes
    // payloads it could stream
    for (q <- Seq("x_media_decode", "x_media_resize", "x_media_audio",
        "x_media_frames_decode")) {
      val p = plan(q)
      val exchanges = "Exchange (\\w+)".r.findAllMatchIn(p).map(_.group(1)).toList
      assert(exchanges.forall(_.startsWith("rangepartitioning")),
        s"$q: non-sort exchange inside the codec chain: $exchanges\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
        s"$q: unexpected join/window in a narrow codec pass:\n$p")
    }
  }

  test("r_join_shuffle: lineitem pre-aggregates by order key — no count-distinct expand") {
    val p = plan("r_join_shuffle")
    assert(!p.contains("Expand"),
      s"count-distinct expand is back — the per-order rollup was lost:\n$p")
    // the per-order partial aggregate must sit below the first join
    assert("HashAggregate".r.findAllIn(p).length >= 3,
      s"missing the order-key pre-aggregation:\n$p")
  }

  test("arithmetic oracle twins stay FUSED: no ×32/×64 permutation explode-join") {
    // the r12 fuse (minhashArith: 32 minima + set size in ONE aggregate;
    // simhash: 64 vote sums in ONE aggregate) must not regress to the
    // crossJoin-a-range + regroup spelling, which shuffles the corpus
    // ×32/×64 twice per twin. The oracle SQL keeps the explode spelling;
    // only the Spark plan is pinned here. A range crossJoin surfaces as
    // a BroadcastNestedLoopJoin over a Range scan.
    for (q <- Seq("x_minhash_oracle", "x_simhash_oracle",
        "x_minhash_error_oracle", "x_minhash_oracle_incremental",
        "x_simhash_oracle_incremental")) {
      val p = plan(q)
      assert(!(p.contains("BroadcastNestedLoopJoin") && p.contains("Range (0,")),
        s"$q re-grew the permutation crossJoin explode:\n$p")
    }
  }

  test("x_kmeans_oracle / x_pq_oracle: assignment is a narrow codegen pass — " +
      "no join, no window; one aggregate exchange feeds the rollup") {
    for (q <- Seq("x_kmeans_oracle", "x_pq_oracle")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
        s"$q: corpus-side join/window appeared in the assignment pass:\n$p")
      // the centroid constants ride the plan as literals; the only join
      // is the broadcast of the ≤16-row constants table onto the rollup
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q: constants table lost its broadcast:\n$p")
    }
  }

  test("x_pca_oracle / x_pca2_oracle / x_pca3_oracle: one narrow projection " +
      "pass + one wide aggregate — no join at all, no window, no corpus explode") {
    // the trained direction(s) ride the plan as literals and the output
    // is a 64-row stack of the single aggregate row — the only
    // exchange beyond the aggregate is the final ORDER BY; each further
    // direction's deflation is one more NARROW projection, not a join
    for (q <- Seq("x_pca_oracle", "x_pca2_oracle", "x_pca3_oracle",
        "x_pca_energy")) {
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$q: corpus-side join/window appeared:\n$p")
      assert(!p.contains("Generate explode"),
        s"$q: corpus explode appeared (the fused 64-sum " +
          s"aggregate regressed):\n$p")
    }
  }

  test("r16 Markov reads: trained constants broadcast onto ONE live " +
      "window pass — no sort-merge join, no corpus self-join") {
    // the scale contract of the chain family: the declared query is
    // one scan + one user-keyed window + bounded-side broadcast joins;
    // an SMJ here means the ≤K-row trained side started shuffling the
    // corpus
    for (q <- Seq("x_markov_mfpt", "x_markov_entropy")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"),
        s"$q: trained-constant join regressed to SMJ:\n$p")
      assert("Window".r.findAllIn(p).length >= 1,
        s"$q: the live lag-window evidence pass disappeared:\n$p")
    }
  }

  test("x_session_gap_sweep: the ladder multiplies conditional sums, " +
      "never rows — no Expand, no per-threshold corpus join") {
    val p = plan("x_session_gap_sweep")
    assert(!p.contains("Expand"),
      s"ladder regressed to an Expand replication:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"ladder join regressed to SMJ:\n$p")
    // the interarrival frame is ONE user-keyed window (the formatted
    // plan names each instance once in the tree and once in the
    // detail section — count the detail headers)
    assert("""\(\d+\) Window""".r.findAllIn(p).length == 1,
      s"gap frame must be exactly one window pass:\n$p")
  }

  test("x_cooccur / x_dedup_minhash: the self-join legs share a reused " +
      "exchange in the FINAL (AQE) plan") {
    // The initial explain shows both legs fully duplicated (AQE only
    // decides reuse as query stages materialize), so this pin must
    // EXECUTE the query and inspect the finalized plan — r20, the
    // VERDICT r19 task-4 pin. A regression here means the live posting
    // kernels pay their heavy subtree twice.
    for (q <- Seq("x_cooccur", "x_dedup_minhash")) {
      val df = graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val stageIds = "ShuffleQueryStage (\\d+)".r.findAllMatchIn(p)
        .map(_.group(1)).toSeq
      assert(p.contains("ReusedExchange") ||
          stageIds.distinct.size < stageIds.size,
        s"$q: self-join legs no longer share an exchange:\n$p")
    }
  }

  test("x_drift_js shares the drift family's plan shape: one (type, " +
      "cents) aggregate, windowed totals, no join-back") {
    val p = plan("x_drift_js")
    // r20: the per-type totals ride ONE window over the aggregated
    // frame instead of a second aggregate + broadcast join-back (which
    // recomputed the scan + aggregate subtree — 4 scans, 10 exchanges;
    // now 2 scans, 5 exchanges)
    // the only join left is the 1-row split-bounds broadcast cross join
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"per-type totals must be a window, not a join-back:\n$p")
    assert("""\(\d+\) Window""".r.findAllIn(p).length == 1,
      s"totals must be exactly one window pass:\n$p")
    assert("Scan parquet".r.findAllIn(p).length <= 4, // 2 per section
      s"the split-bounds two-pass shape regressed to re-scans:\n$p")
  }

  // Each family's members keep their plans through a respelling of the
  // family's shared frame (DriftFrame, MarkovFrame, PcaFrame,
  // ForecastFrame): the pins were dumped by graft.tools.Explain (sf0.01,
  // 8 shuffle partitions) before it, and the whole formatted plan is
  // compared — operator tree, per-node outputs, window specs and exchange
  // arguments.
  private val planFamilies = Seq(
    "drift" -> Seq("ad", "chi2", "cvm", "emd", "js", "ks", "mw", "psi", "tvd")
      .map(m => s"x_drift_$m"),
    "Markov" -> ("x_event_transitions" +: Seq("steady", "absorb", "absorb_to",
      "reach", "mfpt", "entropy", "lumpable").map(m => s"x_markov_$m")),
    "PCA" -> Seq("x_pca_oracle", "x_pca2_oracle", "x_pca3_oracle", "x_pca_energy",
      "x_pca_outliers"),
    "forecast" -> (Seq("ses", "holt", "holt_damped", "holt_winters", "hw_log")
      .map(m => s"x_forecast_$m") :+ "x_weekday_anova"))

  private val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  for ((family, members) <- planFamilies)
    test(s"$family family: every member's formatted plan equals its plans/r21 " +
        "pin, node, expression and plan ids stripped") {
      val parts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try members.foreach { q =>
        val pin = java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"plans/r21/${q}_parent.txt"))
        val got = SparkEntry.queries(q)(spark, sf01).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        assert(PlanPins.norm(got) == PlanPins.norm(pin), s"$q plan moved off its pin:\n$got")
      } finally spark.conf.set("spark.sql.shuffle.partitions", parts)
    }
}
