package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared query: Spark implementation + (optional) DuckDB oracle SQL.
  *
  * Determinism contract (SURVEY.md §7.4): every query ends in a total ORDER
  * BY (incl. tiebreakers), money aggregates go through exact DECIMAL
  * arithmetic and are cast to DOUBLE only at the end, and free-floating
  * doubles are rounded to 4 decimals in BOTH engines.
  *
  * `run` is the query's entry: it installs graft's function table on the
  * session (idempotent, [[graft.GraftFunctions.install]]) and then builds
  * `body`, so every declared query is self-sufficient in any session.
  */
final case class Q(
    name: String,
    oracle: Option[String],
    body: (SparkSession, String) => DataFrame) {
  def run(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.install(spark)
    body(spark, dir)
  }
}

trait QueryModule {
  def all: Seq[Q]

  /** Load one of the driver parquet tables from the scale-factor dir.
    *
    * Timestamp normalization (the queries are written against session-TZ
    * TIMESTAMP): TIMESTAMP(NANOS) parquet — which Spark 4 refuses to read
    * natively — arrives as a LONG of epoch-nanos under the nanosAsLong
    * legacy conf and is floor-truncated to microseconds (Spark's own
    * ns→µs narrowing); plain TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * parquet arrives as TIMESTAMP_NTZ and is cast to TIMESTAMP — the
    * session runs in UTC, so the cast preserves the stored wall-clock as
    * the same instant the NANOS path produced. Both generations of the
    * driver testdata therefore present one schema to every query.
    */
  protected def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Schema-inference job only on the FIRST read of a table per JVM: a
    // footer-read Spark job per t() call is how a metastore-less engine
    // burns 50 ms × (queries × tables × reps) of pure driver latency —
    // production catalogs cache table schemas for exactly this reason.
    // Keyed by path with the dataset dir's mtime stored alongside:
    // regenerating the parquet at the same path (the repo's testdata
    // drills) REPLACES the entry — one live entry per table, no stale
    // schema served (spark.read.schema(stale) would yield NULLs for
    // renamed/retyped columns with no error) and no unbounded growth of
    // superseded keys. One local stat per t() call, no Spark job. The
    // cached schema reflects the nanosAsLong conf set above (it is
    // inferred under it), so the normalization below is unaffected.
    val path = s"$dir/$name.parquet"
    val fp = QueryModule.fingerprint(path)
    val schema = QueryModule.schemaCache.compute(path, (_, old) =>
      if (old != null && old._1 == fp) old
      else (fp, spark.read.parquet(path).schema))._2
    val df = spark.read.schema(schema).parquet(path)
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        // Any KNOWN timestamp column arriving as LONG is TIMESTAMP(NANOS)
        // parquet read under nanosAsLong — not just events.ts: a testdata
        // regeneration that emits the date columns as NANOS would
        // otherwise hand raw epoch-longs to every date predicate.
        case org.apache.spark.sql.types.LongType
            if QueryModule.nanosTimestampCols(f.name) =>
          d.withColumn(f.name, expr(s"timestamp_micros(${f.name} DIV 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast("timestamp"))
        case _ => d
      }
    }
  }

  /** Cache-key stamp of a driver table: path + generation fingerprint. A
    * testdata regeneration changes the stamp, so per-JVM caches keyed
    * through it (QueryModule.cachedIndex) REBUILD instead of silently
    * probing an index built from the old data — the same invalidation
    * rule the schema cache applies. */
  protected def tableStamp(dir: String, name: String): String =
    s"$dir/$name.parquet@${QueryModule.fingerprint(s"$dir/$name.parquet")}"

  /** Exact money arithmetic: the testdata stores 2-decimal prices as
    * DOUBLE; casting to DECIMAL(18,2) recovers the exact decimal value in
    * both Spark and DuckDB, so sums are order-independent and engines
    * agree bit-for-bit after the final cast back to DOUBLE. */
  protected def money(c: Column): Column = c.cast(DecimalType(18, 2))

  protected def dbl(c: Column): Column = c.cast("double")

  /** Percentile with a declared scale path. `exact = true` → the
    * interpolated `percentile` the DuckDB oracles can mirror
    * (quantile_cont) — its aggregation state buffers every value in the
    * group, acceptable while groups are type/source-cardinality-bounded
    * at the gate SFs. `exact = false` → `approx_percentile`, the
    * mergeable Greenwald–Khanna sketch whose state is CONSTANT per
    * group — the 100 TB path. accuracy=10000 bounds the rank error at
    * N/10000, i.e. RANK-EXACT whenever a group holds ≤ 10000 values:
    * the sketch then returns a true order statistic adjacent to the
    * exact interpolated value (it never interpolates, which is the only
    * difference left at gate scale) — the invariant PercentileScaleSpec
    * pins, along with parity of every non-percentile column, so the
    * swap is a calibrated drop-in until groups outgrow the sketch and
    * the rank bound takes over. Queries with
    * buffered exact percentiles (x_value_outliers, x_session_stats,
    * x_doc_diversity, x_user_skew) route through this so the scale
    * story is executable code, not a comment. */
  protected def pct(colName: String, p: Double, exact: Boolean): Column =
    if (exact) expr(s"percentile($colName, $p)")
    // cast: approx_percentile preserves the input type (BIGINT stays
    // BIGINT) while percentile always yields DOUBLE — the twin must
    // keep the exact query's schema to be a drop-in
    else expr(s"CAST(approx_percentile($colName, $p, 10000) AS DOUBLE)")

  /** Materialization barrier: a round-robin exchange that stops
    * CollapseProject from inlining an expensive array-expression alias
    * into downstream per-element lambda references (which would turn an
    * O(n) tokenize into O(n²) per row — measured 10× on the dedup
    * pipelines). Also spreads small single-file tables across cores. */
  protected def barrier(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}

object QueryModule {
  /** Every timestamp-typed column the driver testdata has ever shipped
    * (TESTDATA.md + ROUND_NOTES regeneration log). */
  val nanosTimestampCols: Set[String] = Set("ts", "l_shipdate", "o_orderdate")

  /** Generation fingerprint of a local dataset path: mtime PLUS total
    * byte length (recursive for directory-shaped parquet). lastModified
    * alone has second-level granularity on many filesystems — a
    * same-second regeneration at the same path would serve a stale
    * schema (silent NULLs for renamed/retyped columns); the length term
    * breaks that tie for any content-size change. LOCAL-FS assumption
    * (documented): on non-local filesystems java.io.File stats return 0
    * and invalidation degrades to build-once-per-JVM — acceptable for
    * the gate harness, a metastore owns this in production. */
  private[queries] def fingerprint(path: String): String = {
    def walk(f: java.io.File): (Long, Long) =
      Option(f.listFiles) match {
        case Some(kids) =>
          kids.foldLeft((f.lastModified, 0L)) { case ((m, l), k) =>
            val (km, kl) = walk(k); (math.max(m, km), l + kl)
          }
        case None => (f.lastModified, f.length)
      }
    val (m, l) = walk(new java.io.File(path))
    s"$m:$l"
  }

  /** Per-JVM table-schema cache (path → (fingerprint, inferred schema)),
    * the catalog role a metastore plays in production: without it every
    * t() call runs a footer-inference job before the query proper. The
    * fingerprint rides in the VALUE so a regeneration replaces the entry
    * in place — one live entry per table. */
  private[queries] val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, org.apache.spark.sql.types.StructType)]()

  /** Measured wall-clock of every artifact build that actually RAN in
    * this JVM, keyed by artifact (the cache key's prefix before the
    * first ':', i.e. with the sfDir/param suffix stripped), seconds
    * summed across generations. The r19 verdict's structural finding:
    * per-(JVM, generation) builds run inside the FIRST consumer's cold
    * rep, and the bench's Σ min(cold, warm) total never charges them —
    * so the builds are now timed at the ONLY place they execute (the
    * Box thunks below) and Bench emits the map as `artifact_builds`
    * plus the scalar `artifact_build` in its graded JSON. This measures
    * the true build cost directly instead of the cold−warm proxy, which
    * conflates JIT/page-cache warmup with build work. */
  private[graft] val buildTimes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private def recordBuild[T](key: String)(thunk: => T): T = {
    val t0 = System.nanoTime()
    // charged on success only: a throwing build is retried by its Box,
    // and the retry that succeeds is the one build that ran
    val result = thunk
    val dt = (System.nanoTime() - t0) / 1e9
    val artifact = key.indexOf(':') match {
      case -1 => key
      case i  => key.substring(0, i)
    }
    buildTimes.merge(artifact, dt, (a, b) => a + b)
    result
  }

  /** Memoized-once box: the cache maps hold (stamp, Box) pairs whose
    * BUILD runs on first dereference OUTSIDE the ConcurrentHashMap bin
    * lock — compute() mapping functions must be short (its own javadoc
    * rule); running a multi-second Spark build inside one serialized
    * every unrelated cache user whose key hashed to the same bin
    * (measured shape: the 8-wide pool). Two threads racing the same
    * key contend only on THIS box's lazy init. A build that throws
    * leaves the lazy uninitialized, so the next dereference retries. */
  private final class Box[T](thunk: () => T) {
    lazy val value: T = thunk()
  }

  /** Per-JVM cache of side-written temp indexes, keyed by
    * (query, sfDir) with the table-generation stamp in the VALUE: the
    * incremental-index queries (x_dedup_incremental, x_ann_incremental,
    * …) build their persisted index ONCE per JVM instead of re-running
    * the corpus write on every invocation — every bench rep / verify
    * call / plan-shape read was previously a fresh temp dir plus a full
    * corpus-digest Spark job at DataFrame-CONSTRUCTION time, and the
    * dirs were never deleted (unbounded /tmp growth across rounds). The
    * build stays eager-on-first-call because the probe reads the index
    * parquet's footer at plan time — the index must exist before the
    * DataFrame can even be constructed. Stamp-in-value (the
    * schemaCache/cachedLocal rule): a testdata regeneration REPLACES
    * the entry so the superseded dir is never probed again — but the
    * dir itself is DEFERRED to the shutdown hook, NOT deleted at
    * replacement: an in-flight reader of the old generation (a lazy
    * probe frame mid-action on another thread) must fail or finish on
    * valid files, never on a dir deleted under it. Every created dir
    * registers in allIndexDirs at creation; a build that THROWS deletes
    * its partial dir immediately (nothing can be reading it yet) and
    * the lazy retries on next call. */
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Box[String])]()
  private val allIndexDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def rmTree(d: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(d))
  }
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      allIndexDirs.forEach(rmTree(_))))
  /** KNOWN BENIGN RACE (adjudicated, ADVICE r10): a thread that read
    * the old (stamp, Box) from compute() just before a regeneration
    * replaces the entry will lazily build — and register in
    * allIndexDirs — an extra index dir from the ALREADY-REGENERATED
    * files while keying it to the stale stamp. Cost: one duplicate
    * build plus one never-served dir that the shutdown hook removes;
    * correctness is unaffected (the dir's CONTENT is current-generation
    * — build() reads the live files — and the entry is superseded so
    * nothing probes it). Acceptable for the test harness; a production
    * catalog would re-check the map after Box.value and discard a
    * superseded build. */
  private[queries] def cachedIndex(key: String, stamp: String)(
      build: String => Unit): String = {
    cleanupHook
    indexCache.compute(key, { (_, old) =>
      if (old != null && old._1 == stamp) old
      else (stamp, new Box(() => recordBuild(key) {
        val dir = java.nio.file.Files.createTempDirectory("graftidx").toString
        allIndexDirs.add(dir)
        try build(dir)
        catch { case e: Throwable =>
          rmTree(dir); allIndexDirs.remove(dir); throw e
        }
        dir
      }))
    })._2.value
  }

  /** Per-JVM cache for small driver-side artifacts: CONSTANT-SIZE ones
    * (a bloom sketch's bytes, a trained quantizer) and PROVEN-BOUNDED
    * localized relations (the token co-occurrence edge list: ≤ C(100,2)
    * rows by vocabulary cap) — a static benchmark's sketch or the
    * nightly-built graph artifact every graph query reads is built once
    * per (JVM, table generation), not once per query invocation. The
    * generation `stamp` (tableStamp) rides in the VALUE, same as the
    * schema cache: a regeneration REPLACES the entry in place, so
    * superseded artifacts are not stranded under dead stamped keys.
    * Thread-visible count of builds exposed for the build-once spec
    * (counted when a build actually RUNS, not when a box is created). */
  private val localCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Box[AnyRef])]()
  private[graft] val localCacheBuilds = new java.util.concurrent.atomic.AtomicLong
  private[queries] def cachedLocal[T <: AnyRef](key: String, stamp: String)(
      build: => T): T =
    localCache.compute(key, (_, old) =>
      if (old != null && old._1 == stamp) old
      else (stamp, new Box[AnyRef](() => recordBuild(key) {
        localCacheBuilds.incrementAndGet(); build
      })))._2.value.asInstanceOf[T]
}
