package nntscperf

import java.util.SplittableRandom

/** Deterministic synthetic AMP icmp results: a fixed set of streams, seven
  * days of history at one result per minute per stream, and the live files
  * that follow it. Everything is a pure function of the seed, so the oracle
  * can recompute any row without touching the program under test.
  */
object Gen {

  /** One amp-icmp result in the collection's raw (decoded message) shape. */
  final case class Result(
      stream: Int,
      ts: Long,
      median: Option[Int],
      loss: Int,
      results: Int,
      lossrate: Double,
      rtts: Array[Int])

  val Sources = 8
  val Destinations = 4
  val Streams: Int = Sources * Destinations
  val Step = 60L
  val Days = 7
  /** History start: a whole day, so every tier edge is a multiple of the bin. */
  val T0 = 1699920000L
  val HistorySteps: Int = Days * 1440
  val HistoryEnd: Long = T0 + HistorySteps * Step

  def source(s: Int): String = s"ampsrc${s / Destinations}"
  def destination(s: Int): String = s"dst${s % Destinations}.example.net"
  val Family = "ipv4"
  val PacketSize = "84"

  /** Seconds past the minute a stream's test runs at. A quarter of the
    * streams run exactly on the minute, so their rows sit on every bin edge
    * and the window-boundary semantics show in every check.
    */
  def offset(s: Int): Long = if (s % 4 == 0) 0L else (s * 13L) % Step

  /** Timestamp of step `k` of stream `s`; steps at and past HistorySteps are live. */
  def ts(s: Int, k: Int): Long = T0 + k * Step + offset(s)

  /** Result of stream `s` at step `k`. Each (seed, stream, step) gets its own
    * generator state, so any row is computable on its own.
    */
  def result(seed: Long, s: Int, k: Int): Result = {
    val r = new SplittableRandom(mix(seed, s.toLong, k.toLong))
    val base = 2000 + (mix(seed, s.toLong, -1L) >>> 1) % 150000
    val results = 3
    val allLost = r.nextInt(50) == 0
    val rtts = Array.newBuilder[Int]
    var loss = 0
    var i = 0
    while (i < results) {
      if (allLost || r.nextInt(100) == 0) loss += 1
      else rtts += (base + r.nextInt(4000) + (if (r.nextInt(20) == 0) r.nextInt(60000) else 0)).toInt
      i += 1
    }
    val got = rtts.result().sorted
    Result(s, ts(s, k), if (got.isEmpty) None else Some(got(got.length / 2)),
      loss, results, loss.toDouble / results, got)
  }

  /** Live file `f` carries step HistorySteps + f of every stream. */
  def liveFile(seed: Long, f: Int): Seq[Result] =
    (0 until Streams).map(s => result(seed, s, HistorySteps + f))

  /** Live file index of a live row's timestamp. */
  def liveFileOf(s: Int, ts: Long): Int =
    ((ts - offset(s) - T0) / Step).toInt - HistorySteps

  /** SplitMix64 finaliser over the three inputs. */
  def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + c * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Zipf(1.1) over [0, n) at quantile `u`: a few groups take most requests. */
  def zipf(u: Double, n: Int): Int = {
    val w = (1 to n).map(i => 1.0 / math.pow(i.toDouble, 1.1))
    var rest = u * w.sum
    var i = 0
    while (i < n - 1 && rest >= w(i)) { rest -= w(i); i += 1 }
    i
  }
}
