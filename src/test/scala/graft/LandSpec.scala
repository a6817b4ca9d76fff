package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.streaming.CdcStream

/** The local filesystem, with every rename of a staged `ingest_batch=`
  * partition into place delayed: it widens the window between a dynamic
  * overwrite's delete of a partition and its rename of the new copy. */
class SlowCommitFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("slowland:///")
  override def checkPath(path: HPath): Unit = ()
  override def rename(src: HPath, dst: HPath): Boolean = {
    if (src.getName.startsWith("ingest_batch=")) Thread.sleep(300)
    super.rename(src, dst)
  }
}

/** The one idempotent landing ([[CdcStream.land]]) and its reader
  * ([[CdcStream.readState]]): the partitioned layout, replay rewriting
  * rather than duplicating, in-process serialization of concurrent
  * landings of one partition, and the two empty states a reader meets
  * before anything with rows has landed. */
class LandSpec extends SparkTestBase {
  import spark.implicits._

  private val Schema = new StructType()
    .add("k", StringType).add("v", LongType)
    .add("bucket", LongType).add("ingest_batch", LongType)

  private def freshDir(tag: String) =
    Files.createTempDirectory(Paths.get("target"), tag)
      .toAbsolutePath.toString + "/state"

  private def fs(dir: String) =
    new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every directory under `dir`, as paths relative to it. */
  private def dirsUnder(dir: String): Seq[String] = {
    val root = new HPath(dir)
    val f = fs(dir)
    def walk(p: HPath): Seq[HPath] =
      f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .flatMap(c => c +: walk(c))
    if (!f.exists(root)) Nil
    else walk(root).map(p =>
      p.toUri.getPath.stripPrefix(root.toUri.getPath).stripPrefix("/"))
  }

  private def rows(dir: String): Seq[(String, Long, Long, Long)] =
    CdcStream.readState(spark, dir, Schema)
      .as[(String, Long, Long, Long)].collect().toSeq.sorted

  test("land with a partition column writes bucket=<b>/ingest_batch=<n>, and landing the same batch again rewrites it") {
    val dir = freshDir("graft-land-a")
    CdcStream.land(Seq(("a", 1L, 0L), ("b", 2L, 1L)).toDF("k", "v", "bucket"),
      dir, 7, "bucket")
    assert(dirsUnder(dir).sorted ==
      Seq("bucket=0", "bucket=0/ingest_batch=7",
        "bucket=1", "bucket=1/ingest_batch=7"))
    assert(rows(dir) == Seq(("a", 1L, 0L, 7L), ("b", 2L, 1L, 7L)))

    // a replay of batch 7 (here with one changed value) replaces it
    CdcStream.land(Seq(("a", 1L, 0L), ("b", 3L, 1L)).toDF("k", "v", "bucket"),
      dir, 7, "bucket")
    assert(rows(dir) == Seq(("a", 1L, 0L, 7L), ("b", 3L, 1L, 7L)))

    // another batch lands beside it and leaves batch 7 alone
    CdcStream.land(Seq(("c", 4L, 1L)).toDF("k", "v", "bucket"), dir, 8, "bucket")
    assert(rows(dir) == Seq(("a", 1L, 0L, 7L), ("b", 3L, 1L, 7L),
      ("c", 4L, 1L, 8L)))
    assert(dirsUnder(dir).count(_.endsWith("ingest_batch=8")) == 1)
  }

  test("two threads landing the same (dir, batch) at once never nest ingest_batch= and leave exactly one copy of the rows") {
    // on a filesystem whose partition commit renames are slow, two
    // unserialized landings both delete the partition before either
    // renames its staged copy in; the second rename then nests
    spark.sparkContext.hadoopConfiguration
      .set("fs.slowland.impl", classOf[SlowCommitFs].getName)
    val dir = "slowland://" + freshDir("graft-land-b")
    val df = Seq(("a", 1L, 0L), ("b", 2L, 0L), ("c", 3L, 1L))
      .toDF("k", "v", "bucket")
    val expected = Seq(("a", 1L, 0L, 3L), ("b", 2L, 0L, 3L), ("c", 3L, 1L, 3L))
    (1 to 5).foreach { round =>
      val barrier = new CyclicBarrier(2)
      val errs = new ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 2).map(_ => new Thread(() =>
        try { barrier.await(); CdcStream.land(df, dir, 3) }
        catch { case t: Throwable => errs.add(t) }))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"round $round: both landings must succeed: $errs")
      val nested = dirsUnder(dir).filter(
        _.split('/').count(_.startsWith("ingest_batch=")) > 1)
      assert(nested.isEmpty, s"round $round: nested partitions $nested")
      assert(rows(dir) == expected, s"round $round")
    }
  }

  test("readState over an absent dir, and over a dir a row-less landing left with no partitions, is the declared empty frame") {
    val absent = freshDir("graft-land-c")
    assert(!fs(absent).exists(new HPath(absent)))
    val a = CdcStream.readState(spark, absent, Schema)
    assert(a.schema == Schema)
    assert(a.collect().isEmpty)

    val empty = freshDir("graft-land-c")
    CdcStream.land(Seq.empty[(String, Long, Long)].toDF("k", "v", "bucket"),
      empty, 1, "bucket")
    assert(fs(empty).exists(new HPath(empty)),
      "a row-less landing creates the dir")
    assert(dirsUnder(empty).isEmpty, s"no partitions: ${dirsUnder(empty)}")
    val e = CdcStream.readState(spark, empty, Schema)
    assert(e.schema == Schema)
    assert(e.collect().isEmpty)
  }
}
