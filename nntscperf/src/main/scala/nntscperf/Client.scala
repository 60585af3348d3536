package nntscperf

import graft.serve.WireClient

/** Sends benchmark requests over the wire and reduces each reply to the
  * oracle's canonical form as it arrives.
  */
final class Client(host: String, port: Int, ids: Map[Int, Long]) {
  private val wire = new WireClient(host, port)
  private val indexOf: Map[Long, Int] = ids.map(_.swap)

  private def labelIds(labels: Map[String, Seq[Int]]): Map[String, Seq[Long]] =
    labels.map { case (l, ss) => l -> ss.map(ids) }

  /** One request: its canonical reply and the number of rows delivered. */
  def send(req: Request): (Vector[Oracle.Canon], Long) = req match {
    case MatrixReq(labels, aggs, start, stop) =>
      val rows = wire.matrix(Store.Collection, labelIds(labels), aggs, start, stop)
      (Client.binnedCanon(rows, aggs, single = true), rows.size.toLong)
    case AggregateReq(labels, aggs, start, stop, bin) =>
      val rows = wire.aggregate(Store.Collection, labelIds(labels), aggs, start, stop, bin)
        .flatMap(_.rows)
      (Client.binnedCanon(rows, aggs, single = bin <= 0 || bin >= stop - start), rows.size.toLong)
    case HistoryReq(labels, columns, start, stop) =>
      val sub = wire.subscribe(Store.Collection, labelIds(labels), columns, start, stop)
      try {
        val chunks = sub.history
        (historyCanon(chunks.map(c => c.label -> c.rows)), chunks.map(_.rows.size.toLong).sum)
      } finally sub.close()
  }

  /** Backfill rows per label, in arrival order, as the oracle's digest. */
  def historyCanon(chunks: Seq[(String, Seq[Map[String, Any]])]): Vector[Oracle.Canon] = {
    val order = chunks.map(_._1).distinct
    val byLabel = chunks.groupBy(_._1)
    order.sorted.toVector.map { l =>
      Oracle.historyDigest(l, byLabel(l).iterator.flatMap(_._2).map(historyKey))
    }
  }

  def historyKey(r: Map[String, Any]): Oracle.HistoryKey = Oracle.HistoryKey(
    Client.long(r("timestamp")),
    indexOf.getOrElse(Client.long(r("stream_id")), -1).toLong,
    Option(r("median")).map(Client.long).getOrElse(-1L),
    Client.long(r("loss")),
    r("rtts").asInstanceOf[Seq[Any]].map(Client.long),
    r("lossrate") match { case d: Double => d; case v => Client.long(v).toDouble })
}

object Client {
  def long(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case d: Double => d.toLong
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  /** Matrix and aggregate rows as (label, binstart, aggs…, timestamp[, min_timestamp]). */
  def binnedCanon(rows: Seq[Map[String, Any]], aggs: Seq[(String, String)],
      single: Boolean): Vector[Oracle.Canon] = {
    val names = Requests.outputNames(aggs)
    rows.toVector.map { r =>
      Vector[Any](r("nntsclabel"), long(r("binstart"))) ++ names.map(r(_)) ++
        Vector[Any](long(r("timestamp"))) ++
        (if (single) Vector[Any](long(r("min_timestamp"))) else Vector.empty)
    }.sortBy(c => (c(0).asInstanceOf[String], c(1).asInstanceOf[Long]))
  }
}
