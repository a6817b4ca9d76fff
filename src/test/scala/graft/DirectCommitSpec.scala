package graft

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.tsdb.{DirectCommitProtocol, Graft}

/** Write tasks write each file straight to its final, graft-named path in
  * its bucket dir (`a<nonce>-part-…` for an append, `c<gen>-part-…` for a
  * compaction) and the manifest commit is the commit point: no staging
  * dir, no rename. A failed write leaves none of its files behind and
  * commits nothing; a graft-named file no snapshot names is invisible,
  * never adopted by a manifest-less store, and reclaimed by vacuum only
  * past the orphan grace, as are crashed jobs' `_`-prefixed dirs.
  */
class DirectCommitSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot() =
    Files.createTempDirectory(Paths.get("target"), "graft-direct").toString

  /** `n` hourly points from 2024-01-01 plus `fromHour` hours. */
  private def points(n: Int, fromHour: Int = 0, name: String = "s") =
    (0 until n).map(i => (
      java.time.Instant.ofEpochMilli(1704067200000L + (i + fromHour) * 3600000L).toString,
      i.toDouble, s"$name${i % 5}")).toDF("time", "value", "name")

  private def bucketDirs(root: String): Seq[File] =
    new File(s"$root/default").listFiles().toSeq
      .filter(_.getName.startsWith("bucket_day="))

  private def parquetFiles(root: String): Set[String] =
    bucketDirs(root).flatMap(b => b.listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).map(f => s"${b.getName}/${f.getName}")).toSet

  private def count(g: Graft): Long = g.read("""{"match_all":{}}""").count()

  test("appends and compaction write graft-named files straight into the bucket dirs") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    g.write(points(200))
    g.write(points(200, fromHour = 1))
    assert(new File(s"$root/default").listFiles().forall(_.getName.startsWith("bucket_day=")),
      "an append leaves nothing beside the bucket dirs")
    val appended = parquetFiles(root)
    assert(appended.nonEmpty && appended.forall(_.split('/')(1).matches("a[0-9a-z]+-part-.*")),
      s"append files carry the a<nonce> prefix: $appended")
    assert(g.compact().nonEmpty)
    val compacted = parquetFiles(root) -- appended
    assert(compacted.nonEmpty && compacted.forall(_.split('/')(1).matches("c[0-9]+-part-.*")),
      s"compaction files carry the c<gen> prefix: $compacted")
    assert(new File(s"$root/default").listFiles().forall(_.getName.startsWith("bucket_day=")),
      "a compaction leaves nothing beside the bucket dirs")
    assert(count(g) == 400)
  }

  test("a task that throws mid-file aborts: its open file and a committed task's files are deleted") {
    val out = Files.createTempDirectory(Paths.get("target"), "graft-abort").toString
    // partition 1 holds ids 1000..1999; its file is open from its first
    // row, and the throw waits until partition 0 has committed its file
    val boom = udf { (id: Long) =>
      if (id == 1500L) { Thread.sleep(2000L); throw new IllegalStateException("boom") }
      id
    }
    val df = spark.range(0L, 2000L, 1L, 2).select(boom(col("id")).as("v"))
    val err = intercept[Exception] {
      org.apache.spark.sql.GraftSqlBridge.writeParquet(df, out, Nil,
        new DirectCommitProtocol(out, "a1"), Nil)
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("boom")), err)
    val left = new File(out).listFiles().map(_.getName).toSeq
    assert(left.isEmpty, s"an aborted write leaves no file, .crc included: $left")
  }

  test("a failed write commits no snapshot and leaves no file of its own in any bucket dir") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    g.write(points(40))
    val snaps = g.snapshots()
    val committed = parquetFiles(root)
    // four write tasks over 40 hourly points each; the last one throws
    // once the other three have committed their files
    val boom = udf { (i: Long) =>
      if (i == 150L) { Thread.sleep(2000L); throw new IllegalStateException("boom") }
      s"s${i % 5}"
    }
    val failing = spark.range(0L, 160L, 1L, 4).select(
      (lit(1704067200000L) + col("id") * 3600000L).cast("string").as("time"),
      col("id").cast("double").as("value"), boom(col("id")).as("name"))
    intercept[Exception](g.write(failing))
    assert(g.snapshots() == snaps, "a failed write commits no snapshot")
    assert(parquetFiles(root) == committed,
      s"a failed write leaves no file: ${parquetFiles(root) -- committed}")
    assert(count(g) == 40)
  }

  test("an unreferenced graft-named file is invisible and survives vacuum until the grace") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    g.write(points(40))
    val live = bucketDirs(root).head.listFiles().find(_.getName.endsWith(".parquet")).get
    // a killed executor's output: written, reported to no commit
    val leftover = new File(live.getParentFile, "a7zz-part-00000-9-killed.c000.snappy.parquet")
    Files.copy(live.toPath, leftover.toPath)
    assert(count(g) == 40, "no read sees an unreferenced file")
    g.write(points(1, fromHour = 1000))
    assert(count(g) == 41, "an append never names another job's file")
    assert(g.vacuum().isEmpty && leftover.exists(),
      "a fresh unreferenced file may be a write in flight: the grace keeps it")
    assert(g.vacuum(orphanGraceMs = 0L) == Seq(s"${live.getParentFile.getName}/${leftover.getName}"))
    assert(!leftover.exists() && count(g) == 41)
  }

  test("a manifest-less store adopts its pre-manifest files but never a graft-named file") {
    val root = freshRoot()
    writeLegacyStore(root, points(30))
    // another process's append in flight: 5 points of its own, in a
    // bucket dir of the store under graft's append name
    val other = freshRoot()
    writeLegacyStore(other, points(5, name = "inflight"))
    val its = bucketDirs(other).head.listFiles().find(_.getName.endsWith(".parquet")).get
    val name = "a1b2c3-part-00000-7-0f0e0d0c-0000-4000-8000-000000000000.c000.snappy.parquet"
    Files.copy(its.toPath, new File(s"$root/default/${its.getParentFile.getName}", name).toPath)
    val g = new Graft(spark, root)
    assert(count(g) == 30, "the in-flight file's owner commits it; adoption would name it twice")
    assert(g.snapshots() == Seq(1L))
    // a store holding nothing but another process's first write adopts nothing
    val fresh = freshRoot()
    val bucket = new File(s"$fresh/default/${its.getParentFile.getName}")
    bucket.mkdirs()
    Files.copy(its.toPath, new File(bucket, name).toPath)
    val g2 = new Graft(spark, fresh)
    assert(count(g2) == 0 && g2.snapshots().isEmpty)
  }

  test("vacuum reclaims a `_`-prefixed dir under the space dir only past the grace") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    g.write(points(40))
    // an older build's staging dir and a Hadoop job's attempt dirs
    val tops = Seq("_leftover-1", "_temporary")
    Seq("_leftover-1/bucket_day=19723", "_temporary/0/_temporary").foreach { d =>
      val dir = new File(s"$root/default/$d")
      dir.mkdirs()
      Files.write(new File(dir, "part-00000.parquet").toPath, Array[Byte](1, 2, 3))
    }
    g.vacuum()
    assert(tops.forall(t => new File(s"$root/default/$t").exists()),
      "a fresh `_` dir may be a job in flight")
    g.vacuum(orphanGraceMs = 0L)
    assert(tops.forall(t => !new File(s"$root/default/$t").exists()),
      "an aged `_` dir is a crashed job's leftover")
    assert(count(g) == 40)
  }
}
