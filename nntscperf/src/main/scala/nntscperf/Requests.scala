package nntscperf

import java.util.SplittableRandom

/** The benchmark's requests, with labels over stream indexes (mapped to the
  * store's stream ids only when sent).
  */
sealed trait Request { def kind: String; def labels: Map[String, Seq[Int]] }
final case class MatrixReq(
    labels: Map[String, Seq[Int]], aggs: Seq[(String, String)], start: Long, stop: Long)
    extends Request { def kind = "matrix" }
final case class AggregateReq(
    labels: Map[String, Seq[Int]], aggs: Seq[(String, String)],
    start: Long, stop: Long, binsize: Long)
    extends Request { def kind = "aggregate" }
final case class HistoryReq(
    labels: Map[String, Seq[Int]], columns: Seq[String], start: Long, stop: Long)
    extends Request { def kind = "history" }

/** One client's draws. What sets a request's cost (its kind, window length
  * and stream count) follows a Halton sequence with a fixed shift per client,
  * so every seed offers the same sequence of cheap and costly requests and
  * any prefix of it already has the workload's size distribution. The seed
  * chooses everything else through `rng`: which streams, where the window
  * sits, and the data itself.
  */
final class Draws(seed: Long, client: Int) {
  val rng = new SplittableRandom(Gen.mix(seed, client.toLong, 7L))
  private val bases = Array(2, 3, 5, 7, 11)
  private val shift = bases.indices.map(d => Draws.frac(0.5 + 0.6180339887498949 * (client * 8 + d)))
  private var i = 0
  private var point = Array.fill(bases.length)(0.0)

  /** Moves to the next request's point. */
  def advance(): Unit = {
    i += 1
    point = bases.indices.map(d => Draws.frac(Draws.radical(i, bases(d)) + shift(d))).toArray
  }

  /** Coordinate `d` of the current point, in [0, 1). */
  def q(d: Int): Double = point(d)
}

object Draws {
  def frac(v: Double): Double = v - math.floor(v)

  /** Radical inverse of `i` in base `b`. */
  def radical(i: Int, b: Int): Double = {
    var n = i
    var f = 1.0 / b
    var v = 0.0
    while (n > 0) { v += f * (n % b); n /= b; f /= b }
    v
  }
}

/** Request mixes per workload. */
object Requests {

  val MatrixAggs = Seq("median" -> "avg", "median" -> "count", "median" -> "max", "loss" -> "sum")
  val GraphAggs = Seq(
    Seq("median" -> "avg", "loss" -> "sum"),
    Seq("median" -> "min", "median" -> "max", "median" -> "avg"),
    Seq("median" -> "stddev", "median" -> "count"))
  val HistoryColumns = Seq("median", "loss", "lossrate", "rtts")
  val Hour = 3600L
  val Day = 86400L

  /** A group is one source's streams; dashboards ask for Zipf-hot groups. */
  def group(g: Int): Seq[Int] =
    (0 until Gen.Destinations).map(d => g * Gen.Destinations + d)

  private def at[T](xs: Seq[T], q: Double): T = xs((q * xs.size).toInt min (xs.size - 1))

  /** Tier-aligned matrix over one Zipf-hot group (two, a quarter of the time),
    * a label per stream.
    */
  def matrix(d: Draws, stop: Long, windows: Seq[Long]): MatrixReq = {
    val g = Gen.zipf(d.q(2), Gen.Sources)
    val gs = if (d.q(4) < 0.25) Seq(g, Gen.zipf(d.rng.nextDouble(), Gen.Sources)).distinct else Seq(g)
    MatrixReq(gs.flatMap(group).map(s => s"s$s" -> Seq(s)).toMap, MatrixAggs,
      stop - at(windows, d.q(1)), stop)
  }

  /** dashboard: 60% matrices over the last 1, 6 or 24 h, 40% aggregates of
    * 6 h to 7 d at binsize 300 (windows up to a day) or 3600, all on Zipf-hot
    * groups. Every window ends on an hour edge of the history, so each
    * request is served from a tier.
    */
  def dashboard(d: Draws): Request = {
    d.advance()
    val span = Gen.HistoryEnd - Gen.T0
    def stopAfter(w: Long) = Gen.T0 + w + (d.rng.nextDouble() * (span - w) / Hour).toLong * Hour
    if (d.q(0) < 0.6) {
      val windows = Seq(Hour, 6 * Hour, Day)
      matrix(d, stopAfter(windows.max), windows)
    } else {
      val w = at(Seq(6 * Hour, Day, 3 * Day, 7 * Day), d.q(1))
      val stop = stopAfter(w)
      val labels = group(Gen.zipf(d.q(2), Gen.Sources)).map(s => s"s$s" -> Seq(s)).toMap
      AggregateReq(labels, GraphAggs(d.rng.nextInt(GraphAggs.size)), stop - w, stop,
        if (w <= Day) 300L else 3600L)
    }
  }

  /** history: 70% raw backfills of 1-20 streams over 1 h to 7 d (log-uniform),
    * 30% aggregates over windows off every tier edge. Streams are uniform.
    */
  def history(d: Draws): Request = {
    d.advance()
    val n = 1 + (d.q(2) * 20).toInt
    val streams = {
      val all = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (all.size < n) all += d.rng.nextInt(Gen.Streams)
      all.toSeq
    }
    val span = Gen.HistoryEnd - Gen.T0
    if (d.q(0) < 0.7) {
      val w = math.exp(math.log(Hour.toDouble) +
        d.q(1) * (math.log(7.0 * Day) - math.log(Hour.toDouble))).toLong
      val start = Gen.T0 + (d.rng.nextDouble() * (span - w)).toLong
      HistoryReq(streams.map(s => s"s$s" -> Seq(s)).toMap, HistoryColumns, start, start + w)
    } else {
      val w = Hour + (d.q(1) * 3 * Day).toLong
      // an odd second keeps the start off every tier bin edge
      val start = Gen.T0 + (d.rng.nextDouble() * (span - w)).toLong / 2 * 2 + 1
      val labels = streams.take(4).map(s => s"s$s" -> Seq(s)).toMap
      AggregateReq(labels, GraphAggs(d.rng.nextInt(GraphAggs.size)), start, start + w,
        at(Seq(300L, 3600L), d.q(4)))
    }
  }

  /** Output column name of each aggregate (the service's duplicate-column
    * rule: the bare column unless the column is asked for twice).
    */
  def outputNames(aggs: Seq[(String, String)]): Seq[String] = {
    val counts = aggs.groupBy(_._1).view.mapValues(_.size).toMap
    aggs.map { case (c, f) => if (counts(c) > 1) s"${c}_$f" else c }
  }
}
