package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** ShardWriter's contract is that the x_shard_assign audit PREDICTS the
  * physical layout ("agree by construction" — same hash family). That
  * claim was previously argued from the code; this spec proves it end
  * to end: write real shards, read the directory back, and require the
  * per-shard doc AND token counts of the bytes on disk to equal the
  * audit query's report row for row. */
class ShardWriterSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("written shard layout equals the x_shard_assign audit row for row") {
    import spark.implicits._
    graft.GraftFunctions.install(spark)
    val out = tmpDir("shardaudit")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"source", $"text")

    val reported = ShardWriter.write(docs, out, shards = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // re-derive BOTH statistics from the bytes actually on disk
    val physical = spark.read.parquet(out)
      .select($"shard".cast("long").as("shard"),
        expr("bpe_token_count(text)").as("n_tok"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    val audit = graft.SparkEntry.queries("x_shard_assign")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    assert(physical.keySet == audit.keySet,
      s"shard sets differ: ${physical.keySet} vs ${audit.keySet}")
    physical.foreach { case (shard, (nDocs, nTokens)) =>
      assert(audit(shard) == ((nDocs, nTokens)),
        s"shard $shard: disk=($nDocs docs, $nTokens tokens) " +
          s"audit=${audit(shard)}")
      assert(reported(shard) == nDocs,
        s"shard $shard: writer's own audit ${reported(shard)} != disk $nDocs")
    }
    // every shard directory is physically partitioned (one dir per shard)
    val dirs = new java.io.File(out).listFiles
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(dirs == physical.keySet.map(s => s"shard=$s"), dirs.toString)
  }
}
