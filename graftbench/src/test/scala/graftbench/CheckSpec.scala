package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The response checks must flag a corrupted expectation: each test builds
  * a response that matches the model, then corrupts one expectation and
  * requires the check (and the run's failure count) to catch it. */
class CheckSpec extends AnyFunSuite {
  private val day = Req.DayMs

  private def model(): Model = {
    val m = new Model(8)
    m.series.foreach(s => (0 until 3).foreach(k => m.add(s.idx, k * day + s.idx, s.idx * 10.0 + k)))
    m
  }

  /** The /read response the facade sends for `f` over [start, end). */
  private def readBody(m: Model, f: Filter, start: Long, end: Long): String =
    m.series.filter(f.matches).flatMap { s =>
      val pts = m.window(s.idx, start, end)
      if (pts.isEmpty) None
      else Some(s"""{"tags":{"host":"${s.host}","metric":"${s.metric}","region":"${s.region}"},""" +
        pts.map { case (t, v) => s"[$t,$v]" }.mkString(""""points":[""", ",", "]}"))
    }.mkString("""{"series":[""", ",", "]}")

  private def parse(s: String) = Check.parse(s.getBytes("UTF-8"))

  test("a matching /read passes; one changed or extra point is flagged") {
    val m = model()
    val f = Filter.Term("host", "h000")
    val body = parse(readBody(m, f, 0L, 2 * day))
    assert(Check.read(m, f, 0L, 2 * day, body).isEmpty)
    m.add(0, day / 2, 1.0) // the model now expects one more point
    assert(Check.read(m, f, 0L, 2 * day, body).nonEmpty)
    val m2 = model()
    m2.add(1, 1L, 99.0) // same key, different value
    assert(Check.read(m2, f, 0L, 2 * day, body).nonEmpty)
  }

  test("/count sums are checked per series") {
    val m = model()
    val f = Filter.Prefix("host", "h00")
    val want = m.series.filter(f.matches).map(s => s.key -> m.countIn(s.idx, 0L, 3 * day))
    val body = want.map { case (k, n) =>
      val Array(h, me, r) = k.split('|')
      s"""{"tags":{"host":"$h","metric":"$me","region":"$r"},"count":$n}"""
    }.mkString("""{"series":[""", ",", "]}")
    assert(Check.count(m, f, 0L, 3 * day, parse(body)).isEmpty)
    m.add(3, 2 * day + 5, 0.5)
    assert(Check.count(m, f, 0L, 3 * day, parse(body)).nonEmpty)
  }

  test("/search must be index-served and return exactly the host's series") {
    val m = model()
    val body = m.series.filter(_.host == "h001").map(s =>
      s"""{"host":"${s.host}","metric":"${s.metric}","region":"${s.region}","score":1.0}""")
      .mkString("""{"series":[""", ",", "]}")
    assert(Check.search(m, Seq("h001"), "index", parse(body)).isEmpty)
    assert(Check.search(m, Seq("h001"), "scan", parse(body)).nonEmpty)
    assert(Check.search(m, Seq("h000"), "index", parse(body)).nonEmpty)
  }

  test("a flagged check counts as a failed operation") {
    val m = model()
    val f = Filter.Term("host", "h000")
    val body = parse(readBody(m, f, 0L, 3 * day))
    val r = new Result("self-test")
    r.check(Check.read(m, f, 0L, 3 * day, body))
    m.add(0, 2 * day + 7, 3.0)
    r.check(Check.read(m, f, 0L, 3 * day, body))
    assert(r.attempted.get == 2 && r.failed.get == 1)
    assert(r.toJson.contains("\"correct\" : false"))
  }

  test("filters match the series the model says they match") {
    val m = new Model(1000)
    assert(m.series.count(Filter.Wildcard("host", "h?12").matches) == 3 * 4)
    assert(m.series.count(Filter.Prefix("host", "h01").matches) == 10 * 4)
    assert(m.series.count(Filter.Must(Seq(Filter.Term("host", "h010"),
      Filter.Term("metric", "cpu"))).matches) == 1)
  }
}
