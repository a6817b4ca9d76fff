package graft

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import graft.tsdb.Graft

/** A queued flush skips JSON schema inference only when it can name the
  * schema inference would give. The claim must be exact — under a wrong
  * explicit schema a JSON string in a `BIGINT` column reads as null and a
  * number in a `STRING` column as its text, silently — so every case the
  * rule cannot pin still infers and lands, and a type conflict with the
  * store is still refused by the commit.
  */
class KnownSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private val nodes = JsonNodeFactory.instance
  private val Jan1 = 1704067200000L // 2024-01-01T00:00Z

  private def freshRoot() =
    Files.createTempDirectory(Paths.get("target"), "graft-known").toString

  test("wherever the flush claims a schema it is the one spark.read.json infers") {
    val rnd = new scala.util.Random(15)
    type Gen = () => com.fasterxml.jackson.databind.JsonNode
    // the token kinds a flat point carries, and the ones no rule pins
    val plain: Seq[Gen] = Seq(
      () => nodes.textNode(s"v${rnd.nextInt(5)}"),
      () => nodes.textNode(""),
      () => nodes.numberNode(rnd.nextInt(1000)),
      () => nodes.numberNode(3000000000L + rnd.nextInt(10)),
      () => nodes.numberNode(Long.MaxValue),
      () => nodes.numberNode(rnd.nextInt(1000) / 8.0),
      () => nodes.numberNode(1.0),
      () => nodes.numberNode(1.5e300),
      () => nodes.numberNode(2.5f),
      () => nodes.booleanNode(rnd.nextBoolean()),
      () => nodes.nullNode())
    val odd: Seq[Gen] = Seq(
      () => nodes.numberNode(new java.math.BigInteger("123456789012345678901")),
      () => nodes.numberNode(Double.NaN),
      () => nodes.numberNode(new java.math.BigDecimal("10")),
      () => nodes.numberNode(new java.math.BigDecimal("1.25")),
      () => mapper.readTree("""{"a": 1}"""),
      () => mapper.readTree("""[1, 2]"""),
      () => mapper.readTree("[]"))
    def pick(gs: Seq[Gen]): Gen = gs(rnd.nextInt(gs.size))
    val names = Seq("host", "Host", "dc", "a_b", "z", "ü", "é", "10", "")
    var claimed, inferred = 0
    (0 until 150).foreach { _ =>
      // each field keeps one kind through most of the batch; a few values
      // stray to another plain kind or to an odd one
      val primary = names.map(_ -> pick(plain)).toMap
      val kinds = scala.collection.mutable.Map.empty[String, Int]
      val lines = (0 until 1 + rnd.nextInt(5)).map { _ =>
        val on = nodes.objectNode()
        rnd.shuffle(names).take(1 + rnd.nextInt(3)).foreach { n =>
          val r = rnd.nextInt(20)
          on.set[ObjectNode](n,
            (if (r < 17) primary(n) else if (r < 19) pick(plain) else pick(odd))())
        }
        on.put("time", Jan1 + rnd.nextInt(1000))
        on.put("__wseq", 7L)
        Graft.addKinds(kinds, on)
        on.toString
      }
      Graft.inferredJsonSchema(kinds) match {
        case Some(s) =>
          claimed += 1
          val inference = spark.read.json(lines.toDS()).schema
          assert(s == inference, s"claimed ${s.simpleString} for\n${lines.mkString("\n")}")
        case None => inferred += 1
      }
    }
    assert(claimed >= 30 && inferred >= 30, s"$claimed claimed, $inferred inferred")
  }

  /** A store holding `host` (string), `rack` (bigint) and `load` (double)
    * over 10 points. */
  private def store(): (String, Graft) = {
    val root = freshRoot()
    val g = new Graft(spark, root)
    assert(g.writeQueued((0 until 10).map(i => mapper.readTree(
      s"""{"time": ${Jan1 + i}, "value": $i, "host": "h$i", "rack": $i, "load": ${i / 2.0}}"""))).isEmpty)
    g.flushQueued()
    (root, g)
  }

  private def queue(g: Graft, lines: String*): Unit =
    assert(g.writeQueued(lines.map(mapper.readTree)).isEmpty)

  private def all(g: Graft) = g.read("""{"match_all":{}}""")

  test("every case the rule cannot pin still infers and lands") {
    val (_, g) = store()
    val t = Jan1 + 1000
    // a field the store does not hold
    queue(g, s"""{"time": $t, "value": 1, "host": "a", "dc": "east"}""")
    g.flushQueued()
    // a field only ever null: inference types it string
    queue(g, s"""{"time": ${t + 1}, "value": 2, "host": "a", "zone": null}""")
    g.flushQueued()
    // a value too big for a long: inference gives a decimal
    queue(g, s"""{"time": ${t + 2}, "value": 123456789012345678901234, "host": "a"}""")
    g.flushQueued()
    // a nested value
    queue(g, s"""{"time": ${t + 3}, "value": 4, "host": "a", "meta": {"k": 1}}""")
    g.flushQueued()
    // mixed kinds in one flush: a number and a numeric string as value
    queue(g, s"""{"time": ${t + 4}, "value": 5, "host": "a"}""",
      s"""{"time": ${t + 5}, "value": "6.5", "host": "a"}""")
    g.flushQueued()
    val rows = all(g)
    assert(rows.count() == 16)
    assert(rows.where($"dc" === "east").count() == 1)
    assert(rows.where($"host" === "a").select("value").as[Double].collect().sorted.toSeq ==
      Seq(1.0, 2.0, 4.0, 5.0, 6.5, 1.2345678901234568e23).sorted)
  }

  test("a number into a STRING column and a string into a BIGINT column are refused and re-queued") {
    Seq(("host", "5", "bigint", "string"), ("rack", "\"r1\"", "string", "bigint"))
      .foreach { case (tag, json, written, held) =>
        val (_, g) = store()
        queue(g, s"""{"time": ${Jan1 + 1000}, "value": 1, "host": "a", "$tag": $json}""")
        val msg = s"tag '$tag' written as $written but the store holds $held"
        val first = intercept[IllegalArgumentException](g.flushQueued())
        assert(first.getMessage.contains(msg))
        // re-queued, not dropped: the next flush meets the same refusal
        val again = intercept[IllegalArgumentException](g.flushQueued())
        assert(again.getMessage.contains(msg))
      }
  }
}
