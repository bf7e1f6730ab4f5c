package graft.eventstore

import java.io.File
import java.nio.file.{Files, Paths}

import scala.annotation.nowarn

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The fork-free write path: [[LocalFs.write]] swaps the local
  * filesystem for its own write job only, and leaves every file, `.crc`
  * and directory with the mode a plain `df.write` gives it. */
class LocalFsSpec extends AnyFunSuite with SparkTestBase {

  private val T0 = 1700000000000L
  private val root = new java.net.URI("file:///")

  private def unixMode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  /** (path relative to `dir` with task UUIDs masked, mode) of every
    * entry below `dir`, sorted; `dir` itself is the test's own. */
  private def modes(dir: String): Seq[(String, Int)] = {
    val base = new File(dir).toPath
    def walk(f: File): Seq[File] =
      f +: Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(walk)
    walk(new File(dir)).tail.map { f =>
      base.relativize(f.toPath).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "U") ->
        unixMode(f)
    }.sorted
  }

  @nowarn("cat=deprecation")
  private def nioBytesWritten: Long =
    FileSystem.getStatistics("file", classOf[NioRawLocalFileSystem]).getBytesWritten

  test("the writer options resolve to NioLocalFileSystem; the session's " +
      "file:// filesystem stays the cached default") {
    val session = spark.sparkContext.hadoopConfiguration
    // what Spark does with writer options: a copy of the session conf
    val job = new Configuration(session)
    LocalFs.writeOptions.foreach { case (k, v) => job.set(k, v) }
    val fs = FileSystem.get(root, job)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    // the default is whatever the classpath registers for file:// (Hive's
    // ProxyLocalFileSystem when hive-exec is on it, else LocalFileSystem)
    assert(!FileSystem.get(root, session).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(root, session) eq FileSystem.get(root, session))

    // and the write job's tasks really run on it, while a plain write does not
    val before = nioBytesWritten
    rawEvents(10).write.parquet(tmpDir("plain") + "/t")
    assert(nioBytesWritten == before)
    LocalFs.write(rawEvents(10)).parquet(tmpDir("nio") + "/t")
    assert(nioBytesWritten > before)

    // and so does a query artifact build (x_dedup_ngram's pair list), over
    // a private copy of the documents table so the per-JVM artifact cache
    // cannot serve it from an earlier build
    val docs = tmpDir("artifact")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(docs, "documents.parquet"))
    val beforeBuild = nioBytesWritten
    graft.SparkEntry.queries("x_dedup_ngram")(spark, docs)
    assert(nioBytesWritten > beforeBuild)
  }

  test("a partitioned Ingest.append leaves the modes a plain df.write leaves " +
      "on every file, .crc and directory") {
    val stamped = Ingest.stamp(rawEvents(40, Seq("a", "b", "c")), T0).persist()
    val viaLocalFs = tmpDir("modes-nio")
    val plain = tmpDir("modes-plain")
    Ingest.append(stamped, viaLocalFs)
    stamped.write.mode("append").partitionBy("stream_name").parquet(plain)
    stamped.unpersist()

    val got = modes(viaLocalFs)
    assert(got == modes(plain))
    val names = got.map(_._1)
    assert(names.exists(_.endsWith(".parquet")) && names.exists(_.endsWith(".parquet.crc")) &&
      names.count(_.startsWith("stream_name=")) > 3, s"vacuous comparison: $names")
    // Hadoop's defaults under its 022 umask
    val (dirs, files) = got.partition { case (n, _) => new File(viaLocalFs, n).isDirectory }
    assert(dirs.map(_._2).toSet == Set(0x1ed)) // 0755
    assert(files.map(_._2).toSet == Set(0x1a4)) // 0644
  }

  test("setPermission: nine rwx bits go through NIO, a sticky mode goes to super") {
    val fs = new NioRawLocalFileSystem
    fs.initialize(root, new Configuration())
    val dir = new File(tmpDir("sticky"))
    val f = new File(dir, "f"); assert(f.createNewFile())

    fs.setPermission(new Path(f.getPath), new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(unixMode(f) == Integer.parseInt("640", 8))
    // a permission subclass with its own toString (masked 0600 of unmasked 0666)
    fs.setPermission(new Path(f.getPath), FsCreateModes.applyUMask(
      FsPermission.getFileDefault, new FsPermission(Integer.parseInt("066", 8).toShort)))
    assert(unixMode(f) == Integer.parseInt("600", 8))
    // NIO has no sticky bit; only Hadoop's chmod can have set it
    fs.setPermission(new Path(dir.getPath), new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert(unixMode(dir) == Integer.parseInt("1755", 8))
  }

  test("a log written through LocalFs replays byte-identical order_ids") {
    val raw = rawEvents(300, Seq("a", "b", "c", "d"))
    val viaLocalFs = tmpDir("log-nio")
    val plain = tmpDir("log-plain")
    Ingest.ingest(raw, viaLocalFs, T0)
    Ingest.ingest(raw, viaLocalFs, T0 + 1000)
    Seq(T0, T0 + 1000).foreach { t =>
      Ingest.stamp(raw, t).write.mode("append").partitionBy("stream_name").parquet(plain)
    }
    def replayed(dir: String): Seq[(String, Long)] =
      Seq("a", "b", "c", "d").flatMap { s =>
        Replay.cold(Replay.open(spark, dir), s).collect()
          .map(r => s -> r.getAs[Long]("order_id")).toSeq
      }
    val got = replayed(viaLocalFs)
    assert(got.size == 600 && got.map(_._2).distinct.size == 600)
    assert(got == replayed(plain))
  }
}
