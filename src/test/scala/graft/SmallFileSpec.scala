package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import graft.streaming.CdcStream
import graft.tsdb.Graft

/** Small metadata files on a local store are written without Hadoop's
  * checksummed create: no `.crc` sibling, and a `.crc` that an earlier
  * checksummed write left must not make the new body unreadable. */
class SmallFileSpec extends SparkTestBase {
  private def freshRoot() =
    Files.createTempDirectory(Paths.get("target"), "graft-small").toString

  test("overwriting a metadata file a checksummed writer left reads back the new body") {
    val state = freshRoot()
    val fs = new HPath(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeTheOldWay(p: HPath, body: String): Unit = {
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    def crcOf(p: HPath) = Paths.get(s"${p.getParent.toUri.getPath}/.${p.getName}.crc")

    val store = new HPath(s"$state/_sync/store")
    writeTheOldWay(store, "identity-written-by-an-older-release")
    assert(Files.exists(crcOf(store)))
    CdcStream.recordIdentity(spark, state, "new-id")
    assert(CdcStream.recordedIdentity(spark, state).contains("new-id"))
    assert(!Files.exists(crcOf(store)))

    Seq("tags" -> "host\nmetric", "format" -> "3").foreach { case (name, body) =>
      val p = new HPath(s"$state/_sync/$name")
      writeTheOldWay(p, s"an older, longer body of $name")
      Graft.writeSmallFile(fs, p, body)
      assert(Graft.readSmallFile(fs, p).contains(body))
      assert(!Files.exists(crcOf(p)))
    }
  }

  test("a queued flush, a compaction and a vacuum leave no .crc under the manifest dir") {
    val root = freshRoot()
    val g = new Graft(spark, root)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    (0 until 3).foreach { b =>
      assert(g.writeQueued((0 until 50).map(i => mapper.readTree(
        s"""{"time": ${1704067200000L + (b * 50 + i) * 3600000L}, "value": $i, "host": "h${i % 3}"}"""))).isEmpty)
      g.flushQueued()
    }
    g.storeIdentity()
    g.compact()
    g.vacuum(keepSnapshots = 1, orphanGraceMs = 0)
    val mdir = Paths.get(s"$root/.manifest/default")
    val names = Files.list(mdir).toArray.map(_.toString).toSeq
    assert(names.exists(_.matches(".*/g[0-9].*")), "the flushes wrote segments")
    assert(!names.exists(_.endsWith(".crc")), names.mkString(", "))
    assert(g.read("""{"match_all":{}}""").count() == 150)
  }
}
