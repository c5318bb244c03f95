package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's fixed sampling protocol and the size of its stdout
  * metric line. Pure: no SparkSession. */
class BenchProtocolSpec extends AnyFunSuite {
  import Bench.Sample

  private def s(sec: Double, errored: Boolean) = Sample(sec, errored, 0L, 0L)

  test("samples per query: K for each headline name, 1 otherwise") {
    Bench.headline.foreach(n => assert(Bench.samplesFor(n) == Bench.K, n))
    val others = SparkEntry.queries.keySet -- Bench.headline
    assert(others.nonEmpty)
    others.foreach(n => assert(Bench.samplesFor(n) == 1, n))
  }

  test("every headline name is a registered query") {
    assert(Bench.headline.distinct.size == Bench.headline.size)
    val stale = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"headline names with no registered query: $stale")
  }

  test("kept seconds: min over non-errored samples when any exist") {
    // a sample that throws quickly must not replace a valid measurement
    assert(Bench.keptSec(Vector(s(4.2, false), s(0.1, true))) == 4.2)
    assert(Bench.keptSec(Vector(s(4.2, false), s(1.3, false))) == 1.3)
    // every sample errored → raw min (the errors counter flags it)
    assert(Bench.keptSec(Vector(s(0.7, true), s(0.3, true))) == 0.3)
  }

  test("cold = first sample, kept = min over the non-errored samples") {
    val ss = Vector(s(5.0, false), s(0.2, true), s(1.1, false))
    assert(Bench.coldSec(ss) == 5.0)
    assert(Bench.keptSec(ss) == 1.1)
    assert(Bench.coldSec(Vector(s(0.4, false))) == Bench.keptSec(Vector(s(0.4, false))))
  }

  test("metric line: both stdout copies fit the 3 KB tail window and parse") {
    val line = Bench.metricLine(99999.999, 99999.999, 245,
      Bench.headline.map(_ -> 999.999), GraftSession.sfDir)
    val tail = s"[info] $line\n$line\n"
    assert(tail.getBytes(UTF_8).length <= 3072, s"${tail.getBytes(UTF_8).length} B")
    val j = org.json4s.jackson.JsonMethods.parse(line)
    import org.json4s._
    assert((j \ "protocol") == JString(Bench.Protocol))
    assert((j \ "cold") == JDouble(99999.999))
    assert((j \ "errors") == JInt(245))
    (j \ "queries") match {
      case JObject(fields) =>
        assert(fields.map(_._1) == Bench.headline)
        assert(fields.forall(_._2 == JDouble(999.999)))
      case other => fail(s"queries is not an object: $other")
    }
  }
}
