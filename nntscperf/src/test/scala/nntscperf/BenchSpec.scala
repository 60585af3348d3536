package nntscperf

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite {

  private lazy val rows = new Oracle.Rows(seed = 5, liveFiles = 2)
  private val T0 = Gen.T0

  test("the generator is deterministic for a seed and differs across seeds") {
    val a = (0 until Gen.Streams).map(s => Gen.result(5, s, 123))
    val b = (0 until Gen.Streams).map(s => Gen.result(5, s, 123))
    assert(a.map(r => (r.ts, r.median, r.loss, r.rtts.toSeq)) ==
      b.map(r => (r.ts, r.median, r.loss, r.rtts.toSeq)))
    assert(a.map(Inputs.toRow) == b.map(Inputs.toRow))
    val c = (0 until Gen.Streams).map(s => Gen.result(6, s, 123))
    assert(a.map(_.rtts.toSeq) != c.map(_.rtts.toSeq))
    assert(a.map(_.ts) == c.map(_.ts)) // the schedule is fixed; the values are seeded
    assert(Gen.liveFile(5, 3).map(_.ts).distinct.size > 1)
    assert(Gen.liveFile(5, 3).forall(r => Gen.liveFileOf(r.stream, r.ts) == 3))
  }

  test("request sizes are the same for every seed; the seed picks the rest") {
    def qs(seed: Long, client: Int = 1) = {
      val d = new Draws(seed, client); (0 until 64).map { _ => d.advance(); d.q(1) }
    }
    assert(qs(9) == qs(10))
    assert(qs(9, client = 0) != qs(9, client = 1))
    assert(new Draws(9, 1).rng.nextLong() != new Draws(10, 1).rng.nextLong())
    val h = (s: Long) => { val d = new Draws(s, 0); (0 until 20).map(_ => Requests.history(d)) }
    assert(h(9) == h(9))
    assert(h(9) != h(10))
    assert(h(9).map(_.kind) == h(10).map(_.kind))
    // the first 27 draws (this coordinate is base 3) sit about 1/27 apart:
    // each third of [0, 1) gets 9 of them, give or take one
    val thirds = qs(9).take(27).groupBy(q => (q * 3).toInt).view.mapValues(_.size).toMap
    assert(thirds.size == 3 && thirds.values.forall(n => n >= 8 && n <= 10), thirds)
  }

  test("dashboard windows sit on tier edges, so every request can be served from a tier") {
    val d = new Draws(9, 0)
    val reqs = (0 until 200).map(_ => Requests.dashboard(d))
    assert(reqs.map(_.kind).toSet == Set("matrix", "aggregate"))
    reqs.foreach {
      case MatrixReq(_, _, start, stop) =>
        assert(start % 3600 == 0 && stop % 3600 == 0 && start >= T0 && stop <= Gen.HistoryEnd)
      case AggregateReq(_, _, start, stop, bin) =>
        assert(start % bin == 0 && stop % bin == 0 && bin < stop - start)
        assert(start >= T0 && stop <= Gen.HistoryEnd)
      case other => fail(s"not a dashboard request: $other")
    }
  }

  // stream 0 runs exactly on the minute, so its rows sit on every bin edge;
  // stream 1 runs 13 s past the minute
  private def on(s: Int, k: Int) = Gen.result(5, s, k)
  private def medians(rs: Seq[Gen.Result]) = rs.flatMap(_.median).map(_.toLong)
  private def maxOrNull(rs: Seq[Gen.Result]): Any = medians(rs).maxOption.map(Long.box).orNull

  test("matrix windows are half-open: a row on the stop edge is out") {
    assert(Gen.offset(0) == 0 && Gen.offset(1) == 13)
    val got = Oracle.expected(rows, MatrixReq(
      Map("a" -> Seq(0), "b" -> Seq(1)), Seq("median" -> "count", "median" -> "max"), T0, T0 + 300))
    // [T0, T0+300): stream 0 at +0,+60,+120,+180,+240 (not +300); stream 1 at +13..+253
    val a = (0 until 5).map(on(0, _))
    val b = (0 until 5).map(on(1, _))
    assert(got == Vector(
      Vector("a", T0, medians(a).size.toLong, maxOrNull(a), T0 + 240, T0),
      Vector("b", T0, medians(b).size.toLong, maxOrNull(b), T0 + 253, T0 + 13)))
  }

  test("binned aggregates put an edge row in the bin it starts") {
    val got = Oracle.expected(rows, AggregateReq(
      Map("a" -> Seq(0)), Seq("loss" -> "sum"), T0, T0 + 600, 300))
    val first = (0 until 5).map(on(0, _))
    val second = (5 until 10).map(on(0, _)) // +300 opens the second bin
    assert(got == Vector(
      Vector("a", T0, first.map(_.loss.toLong).sum, T0 + 240),
      Vector("a", T0 + 300, second.map(_.loss.toLong).sum, T0 + 540)))
    // a binsize at or above the window is one bin anchored at start, with min_timestamp
    val single = Oracle.expected(rows, AggregateReq(
      Map("a" -> Seq(0)), Seq("loss" -> "count"), T0 + 60, T0 + 360, 300))
    assert(single == Vector(Vector("a", T0 + 60, 5L, T0 + 300, T0 + 60)))
  }

  test("raw history is stop-inclusive") {
    val got = Oracle.expected(rows, HistoryReq(Map("a" -> Seq(0)), Requests.HistoryColumns, T0, T0 + 300))
    assert(got.size == 1 && got.head(1) == 6L) // +0 .. +300, both edges in
    val cl = new Client("127.0.0.1", 1, (0 until Gen.Streams).map(s => s -> (s + 100L)).toMap)
    val wire = (0 to 5).map { k =>
      val r = on(0, k)
      Map[String, Any]("timestamp" -> r.ts, "stream_id" -> 100L,
        "median" -> r.median.map(m => Long.box(m.toLong)).orNull, "loss" -> r.loss.toLong,
        "rtts" -> r.rtts.toSeq.map(_.toLong), "lossrate" -> r.lossrate)
    }
    assert(cl.historyCanon(Seq("a" -> wire.take(2), "a" -> wire.drop(2))) == got)
    assert(cl.historyCanon(Seq("a" -> wire.take(5))) != got)
  }

  test("a perturbed value fails the comparison; rounding noise does not") {
    val want = Oracle.expected(rows, AggregateReq(
      Map("a" -> Seq(0, 1)), Seq("median" -> "avg", "median" -> "stddev"), T0, T0 + 3600, 300))
    def bump(f: Double) = want.map(r => r.updated(2, r(2).asInstanceOf[Double] * f))
    assert(Oracle.same(bump(1 + 1e-13), want))
    assert(!Oracle.same(bump(1 + 1e-6), want))
    assert(!Oracle.same(want.updated(0, want(0).updated(3, null)), want))
    assert(!Oracle.same(want.dropRight(1), want))
    assert(Oracle.sameValue(7L, 7.0) && !Oracle.sameValue(7L, 8L))
  }

  test("a dropped or repeated LIVE row is a delivery fault") {
    val want = Set((0, 10L), (0, 70L), (1, 13L))
    val exact = want.map(_ -> 1).toMap
    assert(Oracle.deliveryFaults(want, exact) == (0, 0, 0))
    assert(Oracle.deliveryFaults(want, exact - ((0, 70L))) == (1, 0, 0))
    assert(Oracle.deliveryFaults(want, exact.updated((1, 13L), 2)) == (0, 1, 0))
    assert(Oracle.deliveryFaults(want, exact.updated((2, 5L), 1)) == (0, 0, 1))
  }

  test("percentiles need at least 10 samples beyond them") {
    assert(!Stats.reportable(19, 50) && Stats.reportable(20, 50))
    assert(!Stats.reportable(99, 90) && Stats.reportable(100, 90))
    assert(!Stats.reportable(999, 99) && Stats.reportable(1000, 99))
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.percentile(xs, 50).contains(10.0)) // 10 samples (11..20) beyond
    assert(Stats.percentile(xs, 90).isEmpty)
    assert(Stats.highest(xs).contains((50.0, 10.0)))
    assert(Stats.highest((1 to 100).map(_.toDouble)).contains((90.0, 90.0)))
  }

  test("the result line parses and carries every declared metric with its unit") {
    val bench = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
    def declared(k: String) = bench.get(k).elements().asScala.map(m =>
      m.get("name").asText -> m.get("unit").asText).toSeq
    assert(declared("end_to_end") == Metrics.EndToEnd)
    assert(declared("per_layer") == Metrics.PerLayer)
    val metrics = Metrics.EndToEnd.zipWithIndex.map { case ((n, u), i) => n -> Stats.Metric(i + 0.5, u) }
    val line = Stats.resultLine(correct = true, attempted = 3, failed = 0, metrics)
    val parsed = new ObjectMapper().readTree(line)
    assert(parsed.fieldNames.asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(parsed.get("correct").asBoolean && parsed.get("attempted").asInt == 3)
    Metrics.EndToEnd.zipWithIndex.foreach { case ((n, u), i) =>
      assert(parsed.get("metrics").get(n).get("unit").asText == u)
      assert(parsed.get("metrics").get(n).get("value").asDouble == i + 0.5)
    }
    intercept[IllegalArgumentException](
      Stats.resultLine(correct = true, attempted = 1, failed = 0, metrics.drop(1)))
    // the live workload prints its own layers after the shared ones
    def layerLine(ms: Seq[(String, String)]) =
      Stats.resultLine(correct = true, attempted = 1, failed = 0, ms.map { case (n, u) => n -> Stats.Metric(1, u) })
    layerLine(Metrics.PerLayer ++ Metrics.LiveLayers)
    intercept[IllegalArgumentException](layerLine(Metrics.LiveLayers))
  }
}
