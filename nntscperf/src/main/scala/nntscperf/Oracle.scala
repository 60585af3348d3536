package nntscperf

/** Expected replies computed in plain Scala from the generator's own rows,
  * following the semantics the service documents:
  *   - the collection has rollup tiers, so every matrix and aggregate
  *     window is half-open, [start, stop), on the tier and the raw path;
  *   - raw history is stop-inclusive, [start, stop];
  *   - bins sit on the absolute grid, binstart = ts - ts % binsize, and a
  *     binsize at or above the window is one bin anchored at start.
  *
  * Replies and expectations are both reduced to [[Canon]] rows, compared
  * with [[Oracle.same]]: integers exactly, doubles to a relative tolerance.
  */
object Oracle {

  /** One canonical reply row. */
  type Canon = Vector[Any]

  val RelTol = 1e-9

  /** Rows of every stream: history plus the first `liveFiles` live files. */
  final class Rows(seed: Long, liveFiles: Int) {
    private val byStream: Array[Array[Gen.Result]] =
      Array.tabulate(Gen.Streams)(s =>
        Array.tabulate(Gen.HistorySteps + liveFiles)(k => Gen.result(seed, s, k)))
    private val times: Array[Array[Long]] = byStream.map(_.map(_.ts))

    /** Rows of stream `s` with lo <= ts < hi, in time order. */
    def range(s: Int, lo: Long, hi: Long): Iterator[Gen.Result] = {
      val a = byStream(s)
      var i = java.util.Arrays.binarySearch(times(s), lo)
      if (i < 0) i = -i - 1
      a.iterator.drop(i).takeWhile(_.ts < hi)
    }

    def all(s: Int): Array[Gen.Result] = byStream(s)
  }

  def expected(rows: Rows, req: Request): Vector[Canon] = req match {
    case MatrixReq(labels, aggs, start, stop) => binned(rows, labels, aggs, start, stop, 0)
    case AggregateReq(labels, aggs, start, stop, bin) => binned(rows, labels, aggs, start, stop, bin)
    case HistoryReq(labels, _, start, stop) =>
      labels.toVector.sortBy(_._1).flatMap { case (label, ss) =>
        val rs = ss.flatMap(s => rows.range(s, start, stop + 1)).sortBy(r => (r.ts, r.stream))
        if (rs.isEmpty) None else Some(historyDigest(label, rs.iterator.map(historyKey)))
      }
  }

  /** Matrix (binsize 0) and binned aggregates over [start, stop). */
  private def binned(
      rows: Rows,
      labels: Map[String, Seq[Int]],
      aggs: Seq[(String, String)],
      start: Long,
      stop: Long,
      binsize: Long): Vector[Canon] = {
    val single = binsize <= 0 || binsize >= stop - start
    labels.toVector.sortBy(_._1).flatMap { case (label, ss) =>
      val rs = ss.flatMap(s => rows.range(s, start, stop))
      val bins = rs.groupBy(r => if (single) start else r.ts - r.ts % binsize)
      bins.toVector.sortBy(_._1).map { case (b, in) =>
        Vector[Any](label, b) ++ aggs.map { case (c, f) => agg(in, c, f) } ++
          Vector[Any](in.map(_.ts).max) ++
          (if (single) Vector[Any](in.map(_.ts).min) else Vector.empty)
      }
    }
  }

  private def column(r: Gen.Result, c: String): Option[Long] = c match {
    case "median" => r.median.map(_.toLong)
    case "loss" => Some(r.loss.toLong)
    case other => throw new IllegalArgumentException(s"no oracle column $other")
  }

  private def agg(in: Seq[Gen.Result], c: String, f: String): Any = {
    val vs = in.flatMap(column(_, c))
    val n = vs.size
    f match {
      case "count" => n.toLong
      case _ if n == 0 => null
      case "max" => vs.max
      case "min" => vs.min
      case "sum" => vs.sum
      case "avg" => BigDecimal(vs.sum).toDouble / n
      case "stddev" =>
        if (n < 2) null
        else {
          val mean = BigDecimal(vs.sum) / n
          val ss = vs.map(v => (BigDecimal(v) - mean).pow(2)).sum
          math.sqrt((ss / (n - 1)).toDouble)
        }
    }
  }

  /** The integral fields of one history row, and its double field. */
  final case class HistoryKey(ts: Long, stream: Long, median: Long, loss: Long,
      rtts: Seq[Long], lossrate: Double)

  private def historyKey(r: Gen.Result): HistoryKey =
    HistoryKey(r.ts, r.stream.toLong, r.median.map(_.toLong).getOrElse(-1L), r.loss.toLong,
      r.rtts.toSeq.map(_.toLong), r.lossrate)

  /** A label's backfill reduced to (label, rows, order-sensitive hash of the
    * integral fields, sum of the double field). Stream ids enter the hash as
    * stream indexes: callers map ids back before digesting.
    */
  def historyDigest(label: String, rows: Iterator[HistoryKey]): Canon = {
    var n = 0L
    var h = 17L
    var lr = 0.0
    rows.foreach { k =>
      n += 1
      h = Gen.mix(h, k.ts, Gen.mix(k.stream, k.median, Gen.mix(k.loss, k.rtts.hashCode.toLong, 0L)))
      lr += k.lossrate
    }
    Vector(label, n, h, lr)
  }

  /** Live delivery against the generated rows, keyed (stream, timestamp):
    * (missing, delivered more than once, never generated).
    */
  def deliveryFaults(want: Set[(Int, Long)], got: collection.Map[(Int, Long), Int]): (Int, Int, Int) =
    (want.count(k => !got.contains(k)), got.count(_._2 != 1), got.keySet.count(k => !want.contains(k)))

  /** Replies equal up to the double tolerance. */
  def same(got: Vector[Canon], want: Vector[Canon]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.size == w.size && g.zip(w).forall { case (a, b) => sameValue(a, b) }
    }

  def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y) => close(x, num(y))
    case (x, y: Double) => close(num(x), y)
    case (x: Long, y: Long) => x == y
    case (x: Int, y) => sameValue(x.toLong, y)
    case (x, y: Int) => sameValue(x, y.toLong)
    case (x, y) => x == y
  }

  private def num(v: Any): Double = v match {
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case d: Double => d
    case other => Double.NaN + other.hashCode
  }

  private def close(x: Double, y: Double): Boolean =
    x == y || math.abs(x - y) <= RelTol * math.max(math.abs(x), math.abs(y))
}
