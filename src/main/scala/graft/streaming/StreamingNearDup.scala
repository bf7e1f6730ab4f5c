package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.MinHashDedup

/** Ingest-time near-duplicate detection — the streaming twin of
  * [[graft.operators.MinHashDedup]]: documents arriving on a stream are
  * shingled, minhashed and banded with the SAME kernels and band
  * hashing as the batch operator; state lives per (band, bucket) and a
  * new document is exact-Jaccard-verified against only its bucket
  * peers, within and ACROSS micro-batches. A near-dup of something seen
  * yesterday is caught the moment it arrives — no nightly batch rescan.
  *
  * Recall equals the batch operator's banding guarantee (identical
  * signatures collide in every band; s=0.8 pairs with ~0.986); pairs
  * colliding in several bands emit once per band — conflate downstream
  * with dropDuplicates(a_id, b_id) if exactly-once pairs matter.
  *
  * Scale: state per bucket is its members' shingle sets — the retained
  * corpus, sharded by (band, bucket) across executors (RocksDB state
  * store at scale). Retention is a POLICY parameter: members older
  * than `retention` (wall clock at insertion) are pruned whenever
  * their bucket is next touched — a near-dup of a doc older than the
  * window is deliberately not reported, exactly how the reference
  * bounds hot-topic history. Lazy pruning deliberately avoids
  * `GroupStateTimeout.ProcessingTimeTimeout`: that makes
  * `shouldRunAnotherBatch` true unconditionally, so an idle stream
  * busy-spins empty micro-batches just to fire timers (measured: a
  * tight checkpoint-write loop). The cost is that a bucket never
  * touched again retains its members — production pairs the policy
  * with state-store-level TTL (RocksDB compaction filter) to reclaim
  * that tail. `retention = None` keeps everything. `maxBucket` fails
  * loudly when a degenerate corpus (one giant bucket) would make
  * per-arrival work O(corpus) — same contract as EmbedNearDup's bucket
  * guard.
  */
object StreamingNearDup {

  final case class Pair(a_id: Long, b_id: Long, jac_bp: Long)

  /** docs: (doc_id bigint, toks array<string>) stream.
    *
    * `bootstrapIndex`: path of a [[MinHashDedup.saveIndex]] corpus index
    * to PRELOAD as initial state — the stream then reports near-dups of
    * yesterday's batch-indexed corpus from the FIRST micro-batch, with
    * none of the corpus ever flowing through the stream (the
    * online/batch handoff a re-crawl pipeline needs: index nightly,
    * dedup the live firehose against it). Bucket membership and band
    * keys are identical by construction (same kernels, same banding),
    * so a bootstrapped stream behaves exactly like one that had
    * ingested the corpus, except bootstrapped members carry the
    * query-start wall clock as their insertion time — under a
    * `retention` window they age from stream start, not their original
    * crawl date. */
  def pairs(
      docs: DataFrame,
      jaccardBp: Int = 6000,
      maxBucket: Int = 10000,
      retention: Option[java.time.Duration] = None,
      bootstrapIndex: Option[String] = None): Dataset[Pair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    val sh = docs
      .where(size($"toks") >= 3)
      .select($"doc_id", expr("shingle_hashes(toks, 3)").as("sh"))
      .where(size($"sh") > 0)
      .withColumn("sig", expr(s"minhash_sig(sh, ${MinHashDedup.NumHashes})"))
    // identical band keys to MinHashDedup: xxhash64 over the band's
    // R-row signature slice
    val banded = sh
      .select($"doc_id", $"sh", posexplode(expr(
        s"transform(sequence(0, ${MinHashDedup.Bands - 1}), b -> " +
          s"xxhash64(b, ${(0 until MinHashDedup.Rows)
            .map(r => s"sig[b * ${MinHashDedup.Rows} + $r]").mkString(", ")}))")))
      .select($"pos".as("band"), $"col".as("bkey"), $"doc_id", $"sh")
      .as[(Int, Long, Long, Seq[Long])]

    val fold = {
        (key: (Int, Long), rows: Iterator[(Int, Long, Long, Seq[Long])],
         state: GroupState[List[(Long, Long, Array[Long])]]) =>
          val now = System.currentTimeMillis()
          // lazy retention: prune members whose insertion fell out of
          // the window before any comparison this batch
          var bucket = state.getOption.getOrElse(Nil)
          retention.foreach { d =>
            val cutoff = now - d.toMillis
            bucket = bucket.filter(_._2 >= cutoff)
          }
          val out = ArrayBuffer.empty[Pair]
          rows.toSeq.sortBy(_._3).foreach { case (_, _, id, shSeq) =>
            if (bucket.length >= maxBucket) throw new IllegalStateException(
              s"StreamingNearDup: bucket (band=${key._1}, key=${key._2}) " +
                s"exceeded $maxBucket members — a degenerate corpus is " +
                "hashing into one bucket; widen the bands or pre-filter.")
            val a = shSeq.toArray // sorted distinct (kernel contract)
            bucket.foreach { case (pid, _, p) =>
              // merge-count the intersection of two sorted arrays
              var i = 0; var j = 0; var inter = 0
              while (i < a.length && j < p.length) {
                if (a(i) == p(j)) { inter += 1; i += 1; j += 1 }
                else if (a(i) < p(j)) i += 1
                else j += 1
              }
              val jac = math.floor(
                inter * 10000.0 / (a.length + p.length - inter)).toLong
              if (jac >= jaccardBp && pid != id)
                out += Pair(math.min(id, pid), math.max(id, pid), jac)
            }
            bucket = (id, now, a) :: bucket
          }
          if (bucket.isEmpty) state.remove() else state.update(bucket)
          out.iterator
    }: ((Int, Long), Iterator[(Int, Long, Long, Seq[Long])],
        GroupState[List[(Long, Long, Array[Long])]]) => Iterator[Pair]

    val grouped = banded.groupByKey(r => (r._1, r._2))
    bootstrapIndex match {
      case None =>
        grouped.flatMapGroupsWithState[List[(Long, Long, Array[Long])], Pair](
          OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
      case Some(path) =>
        // rebuild each bucket's member list from the persisted slim band
        // rows + once-stored shingle sets (the saveIndex layout); one
        // state row per (band, bucket) key, stamped at query start
        val t0 = System.currentTimeMillis()
        val members = spark.read.parquet(s"$path/bands")
          .join(spark.read.parquet(s"$path/shingles"), "id")
          .select($"band".cast("int"), $"bkey", $"id", $"sh")
          .as[(Int, Long, Long, Seq[Long])]
        val initial = members
          .groupByKey(r => (r._1, r._2))
          .mapGroups { (k, it) =>
            (k, it.map(r => (r._3, t0, r._4.toArray)).toList)
          }
          .groupByKey(_._1)
          .mapValues(_._2)
        grouped.flatMapGroupsWithState[List[(Long, Long, Array[Long])], Pair](
          OutputMode.Append(), GroupStateTimeout.NoTimeout(), initial)(fold)
    }
  }
}
