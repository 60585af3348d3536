package graft.serve

import java.io.{DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.streaming.Markers

/** S6 — the export protocol endpoint: the reference serves clients over a
  * TCP socket with length-framed request/reply messages
  * (/root/reference/libnntsc/exporter.py:NNTSCExporter + clientthreads).
  * This is the Spark-native service bound to that wire contract: requests
  * are `Wire`-framed JSON commands, replies are `Wire`-framed JSON bodies
  * (history compressed, like the reference), dispatching onto `Service`.
  *
  * Deliberately minimal concurrency: one daemon accept loop, one thread
  * per client (the reference likewise threads per client). The heavy
  * lifting is Spark's; the server only frames results.
  *
  * Hardening: the u32 frame-length header is validated against
  * `Wire.MaxFrameLen` BEFORE the body buffer is allocated, and the version
  * byte is checked — a malformed or hostile frame drops the connection
  * instead of provoking a ~2 GB allocation in the driver JVM. Per-client
  * bus subscriptions are tracked and closed when the connection ends, so
  * a long-running server does not leak a callback per dead client.
  *
  * Request vocabulary (JSON, one object per frame):
  *   {"request":"collections"}
  *   {"request":"schema","collection":"amp-icmp"}
  *   {"request":"streams","collection":"amp-external","minid":0}
  *   {"request":"aggregate","collection":...,"labels":{"g0":[1,2]},
  *    "start":...,"stop":...,"binsize":...,"aggs":[["value","avg"],...]}
  *   {"request":"subscribe","collection":...,"labels":...,"columns":[...],
  *    "start":...,"stop":...}   (stop=0 ⇒ forever)
  *   {"request":"unsubscribe","collection":...,"streams":[...]}
  *     (drop streams from this connection's live subscriptions without
  *      disconnecting — exporter.py:894-906)
  *
  * On connect the server greets every client with a `VersionCheck` frame
  * carrying the client-API version (exporter.py:1152-1157) before reading
  * the first request; `WireClient` validates it and fails typed on a
  * mismatch.
  */
final class WireServer(
    service: Service,
    port: Int = 0,
    // X3-over-the-wire: subscribe replies keep the connection open and
    // forward this bus's push markers for the subscribed collection
    markers: Option[Markers.MarkerBus] = None,
    // X1/X2-over-the-wire: committed rows published here flow to
    // subscribed clients as NNTSC_LIVE frames (exporter.py:1408-1489),
    // buffered during backfill and released across the history seam
    live: Option[Markers.LiveBus] = None,
    // audit sink for undecodable frames — the wire twin of FilePoller's
    // dead-letter default (a malformed request must never be silently
    // dropped; the reference nacks bad messages back to the queue,
    // amp.py:254-262). Body-layer failures (bad JSON, wrong arg shapes)
    // are captured AND answered with an error frame — the connection
    // SURVIVES; header-layer failures (bad version/length) are captured
    // and the connection drops (a byte stream with a corrupt length
    // cannot be resynced). Each capture is `frame_<ts>_<n>.raw` (the
    // bytes verbatim) + `.err` (the decode error). None disables.
    deadLetterPath: Option[String] =
      Some(System.getProperty("java.io.tmpdir") + "/graft_wire_deadletter")) {

  private val server = new ServerSocket(port)
  @volatile private var running = true
  private val dlSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Best-effort audit write — the sink must never take the server down. */
  private def deadLetter(bytes: Array[Byte], err: String): Unit =
    deadLetterPath.foreach { p =>
      try {
        val dir = new java.io.File(p)
        dir.mkdirs()
        val n = s"frame_${System.currentTimeMillis()}_${dlSeq.incrementAndGet()}"
        java.nio.file.Files.write(new java.io.File(dir, s"$n.raw").toPath, bytes)
        java.nio.file.Files.writeString(new java.io.File(dir, s"$n.err").toPath, err)
      } catch { case _: Throwable => () }
    }

  def boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), s"graft-wire-client")
        t.setDaemon(true)
        t.start()
      } catch { case _: Throwable if !running => () case _: Throwable => () }
    }
  }, "graft-wire-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = { running = false; server.close() }

  /** One live subscription made on this connection: its collection, its
    * relay (None when the server has no live bus), the bus handles it
    * registered, and — for the relay-less (markers-only) case — its own
    * stream set, so stream-level unsubscribe still deregisters the
    * subscription when its last stream is dropped. Only the connection
    * thread touches `streams`.
    */
  private final class Sub(
      val collection: String,
      val relay: Option[LiveRelay],
      val handles: Seq[Markers.Handle],
      var streams: Set[Long]) {
    /** Drop the given streams; returns how many remain (relay-backed
      * subs delegate so the two trackers cannot diverge).
      */
    def unsubscribe(drop: Seq[Long]): Long = relay match {
      case Some(r) =>
        val left = r.unsubscribe(drop)
        streams = streams -- drop
        left
      case None =>
        streams = streams -- drop
        streams.size.toLong
    }
  }

  private def handle(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    // bus subscriptions made on behalf of this connection; closed on exit
    val handles = scala.collection.mutable.ArrayBuffer.empty[Markers.Handle]
    // live subscriptions, for stream-level unsubscribe
    val subs = scala.collection.mutable.ArrayBuffer.empty[Sub]
    try {
      // version-check greeting before the first request
      // (exporter.py:1152-1157)
      out.write(Wire.pack(
        Wire.VersionCheck,
        s"""{"apiversion":${JsonMini.str(Wire.ClientApiVersion)}}""".getBytes("UTF-8")))
      out.flush()
      var open = true
      while (open) {
        val header = new Array[Byte](Wire.HeaderLen)
        try in.readFully(header)
        catch { case _: java.io.EOFException => open = false }
        if (open) {
          val version = header(0) & 0xff
          val len = java.nio.ByteBuffer.wrap(header, 3, 4).getInt
          // validate BEFORE allocating: the length is client-controlled
          if (version != Wire.Version || len < 0 || len > Wire.MaxFrameLen) {
            deadLetter(header,
              s"bad frame header: version=$version len=$len " +
                s"(expected version=${Wire.Version}, 0 <= len <= ${Wire.MaxFrameLen})")
            open = false
          } else {
            val body = new Array[Byte](len)
            in.readFully(body)
            val reply = dispatch(new String(body, "UTF-8"), out, handles, subs)
            if (reply.nonEmpty) out.synchronized { out.write(reply); out.flush() }
          }
        }
      }
    } catch {
      case _: Throwable => () // client went away; the reference drops it too
    } finally {
      handles.foreach(h => try h.close() catch { case _: Throwable => () })
      sock.close()
    }
  }

  private def parseLabels(req: Map[String, Any]): Map[String, Seq[Long]] =
    req("labels").asInstanceOf[Map[String, Any]]
      .map { case (k, v) =>
        k -> v.asInstanceOf[Seq[Any]].map(JsonMini.asLong)
      }

  private def parseAggs(req: Map[String, Any]): Seq[graft.query.AggSpec] =
    req("aggs").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Seq[Any]])
      .map(p => graft.query.AggSpec(p(0).asInstanceOf[String], p(1).asInstanceOf[String]))

  private def historyBody(c: Service.HistoryChunk): Array[Byte] = {
    val body =
      s"""{"label":${JsonMini.str(c.label)},"more":${c.more},""" +
        s""""freq":${c.freq},"rows":${JsonMini.rows(c.rows)}}"""
    Wire.pack(Wire.History, Wire.compress(body.getBytes("UTF-8")))
  }

  /** History chunk under the client's requested encoding: Arrow IPC when
    * opted in AND the chunk is encodable (non-empty, supported column
    * types) — otherwise the JSON+zlib body. A mixed stream is fine: the
    * client sniffs per frame ([[ArrowFrames.isArrow]]); an empty chunk's
    * only payload is its metadata, which JSON carries just as well.
    */
  private def historyBody(
      c: Service.HistoryChunk,
      arrow: Boolean,
      codec: Option[
        org.apache.arrow.vector.compression.CompressionUtil.CodecType] = None)
      : Array[Byte] =
    if (arrow && c.rows.nonEmpty && ArrowFrames.supports(c.rows.head.schema))
      Wire.pack(Wire.History,
        ArrowFrames.encode(c.label, c.more, c.freq, c.rows.head.schema, c.rows, codec))
    else historyBody(c)

  /** The request's opt-in body encoding (`"encoding":"arrow"`, or
    * `"arrow+zstd"` / `"arrow+lz4"` for IPC buffer compression —
    * bandwidth-limited links where plain Arrow's ~13× size vs zlib'd
    * JSON is the wrong trade).
    */
  private def wantsArrow(req: Map[String, Any]): Boolean =
    req.get("encoding").exists {
      case s: String => s == "arrow" || s.startsWith("arrow+")
      case _ => false
    }

  private def arrowCodec(req: Map[String, Any]): Option[
      org.apache.arrow.vector.compression.CompressionUtil.CodecType] =
    req.get("encoding") match {
      case Some(s: String) => ArrowFrames.codecOf(s)
      case _ => None
    }

  private def dispatch(
      request: String,
      out: DataOutputStream,
      handles: scala.collection.mutable.ArrayBuffer[Markers.Handle],
      subs: scala.collection.mutable.ArrayBuffer[Sub]): Array[Byte] =
    try {
      val req = JsonMini.parse(request)
      req("request") match {
        case "subscribe" =>
          // X1-X3 over the wire (exporter.py:875-971, 1408-1489): register
          // the live relay FIRST (rows committed during backfill are
          // buffered, not lost), stream history frames, ack, then release
          // the buffer across the `lasthist` seam and go passthrough; PUSH
          // markers ride the same connection.
          val coll = req("collection").asInstanceOf[String]
          val labels = parseLabels(req)
          val columns = req("columns").asInstanceOf[Seq[Any]].map(_.asInstanceOf[String])
          val start = JsonMini.asLong(req("start"))
          val stop = JsonMini.asLong(req("stop"))
          val arrow = wantsArrow(req)
          val codec = arrowCodec(req)
          // a FAILED subscribe must not leave a buffering relay (or a
          // marker callback) registered: it would accumulate every future
          // batch's rows for the life of the connection — close this
          // dispatch's own handles on the way out of any failure
          val mine = scala.collection.mutable.ArrayBuffer.empty[Markers.Handle]
          try {
            val relay = live.map { bus =>
              val r = new LiveRelay(coll, labels, columns, start, stop, out)
              mine += bus.subscribe(coll)(r.onBatch)
              r
            }
            // per-label lasthist (exporter.py:907-946: finish_subscribe
            // releases each label against its OWN last history timestamp)
            val lastHist = scala.collection.mutable.Map.empty[String, Long]
            // stop=0 means the live feed never ends (exporter.py:899-906);
            // the backfill then covers everything up to the present
            val histStop = if (stop == 0) Long.MaxValue else stop
            val chunks = service.history(coll, labels, columns, start, histStop)
            // frame encode (JSON/Arrow + compression) runs 4 chunks wide
            // on a pool while this thread writes strictly in order — the
            // encode stage dominates the drain once the prefetch pump
            // hides compute (sf10 backfill 24.5 → 16.1 s; ROUND_NOTES,
            // round 16, "Drain floor analysis → windowed partition
            // pump"). The per-chunk lastHist max is computed inside the
            // parallel stage (pure per-chunk) and folded here in input
            // order, so the seam values are exactly the serial drain's
            val enc = EncodePipeline.mapOrdered(chunks, 4) { c =>
              var mx = Long.MinValue
              if (c.rows.nonEmpty) {
                // one schema per chunk — resolve the index once, not per row
                val i = c.rows.head.schema.fieldIndex("timestamp")
                c.rows.foreach { r =>
                  if (!r.isNullAt(i)) mx = math.max(mx, r.getLong(i))
                }
              }
              (c.label, mx, historyBody(c, arrow, codec))
            }
            // close() in finally: if out.write throws on a client
            // disconnect mid-backfill, the encode pool and the history's
            // prefetch pump (its queued chunks and fetch window) are
            // reaped here instead of parking until the pump's abandon
            // timeout
            try enc.foreach { case (label, mx, frame) =>
              if (mx != Long.MinValue)
                lastHist(label) = math.max(lastHist.getOrElse(label, Long.MinValue), mx)
              out.synchronized { out.write(frame); out.flush() }
            } finally { enc.close(); chunks.close() }
            // markers registered BEFORE the ack: once the client sees the
            // ack, batch commits are guaranteed to reach it. With a live
            // relay present the frames ride it — buffered until finish(),
            // so PUSH(T) can never overtake the buffered rows <= T it
            // covers (the reference interleaves markers with the released
            // buffer, exporter.py:928-956).
            markers.foreach { bus =>
              mine += bus.subscribe(coll) { m =>
                val frame = Wire.pack(
                  Wire.Push,
                  s"""{"collection":${JsonMini.str(m.collection)},"timestamp":${m.timestamp}}"""
                    .getBytes("UTF-8"))
                relay match {
                  case Some(r) => r.onMarker(m.timestamp, frame)
                  case None =>
                    // a failed write throws out of the bus callback → the
                    // bus auto-unsubscribes this dead client
                    out.synchronized { out.write(frame); out.flush() }
                }
              }
            }
            // ack between history and live: the client's seam marker
            out.synchronized {
              out.write(Wire.pack(Wire.Subscribe, """{"subscribed":true}""".getBytes("UTF-8")))
              out.flush()
            }
            // release rows buffered during backfill (per-label seam rule:
            // > that label's own lasthist), then passthrough
            relay.foreach(_.finish(lastHist.toMap))
            handles ++= mine // survive until the connection closes
            subs += new Sub(coll, relay, mine.toSeq,
              labels.valuesIterator.flatten.toSet) // unit of unsubscribe
            Array.emptyByteArray
          } catch {
            case e: Throwable =>
              mine.foreach(h => try h.close() catch { case _: Throwable => () })
              throw e
          }
        case "unsubscribe" =>
          // NNTSC_UNSUBSCRIBE (exporter.py:894-906): remove the streams
          // from this connection's live subscriptions for the collection —
          // no disconnect, no effect on other subscriptions. The reference
          // leaves waitlabels untouched (its own XXX caveat at :897-900);
          // here the relay's seam labels are likewise untouched — only the
          // stream-level fan-out shrinks. A subscription whose LAST stream
          // is dropped is deregistered wholesale (its bus handles close,
          // so its PUSH markers stop too). Reply is an ack frame — a
          // documented deviation (the reference replies nothing) so
          // clients can synchronize on the deregistration. Ordering: the
          // connection thread dispatches frames serially, so an
          // unsubscribe sent DURING an in-flight backfill is processed
          // after that subscribe's history finishes (the reference's
          // receive loop handles NNTSC_UNSUBSCRIBE inline instead;
          // same visible result — history was already owed).
          val coll = req("collection").asInstanceOf[String]
          val streams = req("streams").asInstanceOf[Seq[Any]].map(JsonMini.asLong)
          subs.foreach { s =>
            if (s.collection == coll) {
              val left = s.unsubscribe(streams)
              if (left == 0)
                s.handles.foreach(h => try h.close() catch { case _: Throwable => () })
            }
          }
          subs.filterInPlace(s => s.collection != coll || s.streams.nonEmpty)
          // `remaining` = DISTINCT streams still subscribed for this
          // collection on this connection — a stream held by two
          // subscriptions counts once, so remaining=0 always means "no
          // stream of this collection is still live here" (summing
          // per-subscription remainders double-counted shared streams
          // and made 0 ambiguous)
          val remaining = subs.iterator
            .filter(_.collection == coll)
            .flatMap(_.streams)
            .toSet.size.toLong
          Wire.pack(
            Wire.Unsubscribe,
            s"""{"unsubscribed":true,"remaining":$remaining}""".getBytes("UTF-8"))
        case "collections" =>
          val body = service.collections()
            .map { case (id, m, s) =>
              s"""{"id":$id,"module":${JsonMini.str(m)},"modsubtype":${JsonMini.str(s)}}"""
            }.mkString("[", ",", "]")
          Wire.pack(Wire.Collections, body.getBytes("UTF-8"))
        case "schema" =>
          val (ss, ds) = service.schema(req("collection").asInstanceOf[String])
          def fields(st: StructType) = st.fields
            .map(f => s"""{"name":${JsonMini.str(f.name)},"type":${JsonMini.str(f.dataType.simpleString)}}""")
            .mkString("[", ",", "]")
          Wire.pack(Wire.Schemas,
            s"""{"streams":${fields(ss)},"data":${fields(ds)}}""".getBytes("UTF-8"))
        case "streams" =>
          val coll = req("collection").asInstanceOf[String]
          // exact conversion: a minid outside Int range is a protocol
          // error, not a silent wrap back to page zero
          val minid = java.lang.Math.toIntExact(
            req.get("minid").map(JsonMini.asLong).getOrElse(0L))
          val page = service.streamsPage(coll, minid)
          val body =
            s"""{"rows":${JsonMini.rows(page.rows)},"more":${page.more}}"""
          Wire.pack(Wire.Streams, body.getBytes("UTF-8"))
        case "aggregate" =>
          val coll = req("collection").asInstanceOf[String]
          val chunks = service.aggregate(
            coll, parseLabels(req), parseAggs(req),
            JsonMini.asLong(req("start")),
            JsonMini.asLong(req("stop")),
            JsonMini.asLong(req("binsize")))
          // one frame per chunk (the reference's chunked HISTORY stream),
          // compressed like the reference's history bodies (or Arrow
          // frames when the client opted in)
          chunks.map(historyBody(_, wantsArrow(req), arrowCodec(req)))
            .reduceOption(_ ++ _).getOrElse(
              Wire.pack(Wire.History,
                Wire.compress("""{"label":null,"more":false,"rows":[]}""".getBytes("UTF-8"))))
        case "matrix" =>
          val coll = req("collection").asInstanceOf[String]
          val rows = service.matrix(
            coll, parseLabels(req), parseAggs(req),
            JsonMini.asLong(req("start")),
            JsonMini.asLong(req("stop")))
          Wire.pack(Wire.History,
            Wire.compress(s"""{"rows":${JsonMini.rows(rows)}}""".getBytes("UTF-8")))
        case other =>
          Wire.pack(Wire.QueryCancelled,
            s"""{"error":"unknown request ${other}"}""".getBytes("UTF-8"))
      }
    } catch {
      case e: Service.QueryCancelledException =>
        Wire.pack(Wire.QueryCancelled,
          s"""{"error":${JsonMini.str(e.getMessage)}}""".getBytes("UTF-8"))
      // malformed-request shapes (parse/arg-extraction failures): capture
      // to the dead-letter sink, answer an error frame, KEEP the
      // connection — one bad frame must not kill a subscriber
      case e @ (_: IllegalArgumentException | _: ClassCastException |
                _: NoSuchElementException | _: NumberFormatException |
                _: IndexOutOfBoundsException | _: MatchError) =>
        deadLetter(request.getBytes("UTF-8"), String.valueOf(e))
        Wire.pack(Wire.QueryCancelled,
          s"""{"error":${JsonMini.str(
            s"malformed request (captured to dead-letter): ${e.getMessage}")}}"""
            .getBytes("UTF-8"))
      case e: Throwable =>
        Wire.pack(Wire.QueryCancelled,
          s"""{"error":${JsonMini.str(String.valueOf(e.getMessage))}}""".getBytes("UTF-8"))
    }

}

/** Per-subscription live-row relay — the wire twin of
  * `Subscribe.Session` + `LiveFanout.gated` (X1/X2,
  * exporter.py:907-971, 1408-1489): batches arriving during backfill are
  * buffered; `finish(lasthist)` seeds a PER-(LABEL, STREAM) high-water gate
  * with that LABEL's own last history timestamp (`Long.MinValue` for labels
  * with no history — the reference's finish_subscribe runs per label,
  * exporter.py:907-946), releases buffered rows through it, and flips to
  * passthrough — where the gate keeps enforcing strictly-newer delivery,
  * so an at-least-once upstream (the reference's RabbitMQ feed) still
  * yields exactly-once frames per (label, stream) on the socket.
  * Rows are admitted when their stream belongs to the subscription (a
  * stream in several label groups fans out once per label, like
  * attachLabels) and their timestamp is inside [start, stop]
  * (stop=0 ⇒ forever). Emitted frames:
  * `{"collection":…,"label":…,"rows":[…]}` with msgType `Wire.Live`,
  * rows restricted to timestamp + stream_id + the subscribed columns.
  *
  * PUSH marker frames also ride the relay (`onMarker`): buffered while
  * backfilling, interleaved with the released rows at `finish` — each
  * PUSH(T) is written after every released row with ts <= T and before
  * the rest, the reference's per-timestamp-group interleave
  * (exporter.py:928-956) — passthrough once live. The marker buffer is
  * bounded; overflow drops the oldest (subsumed by its successor).
  */
private[serve] final class LiveRelay(
    coll: String,
    labels: Map[String, Seq[Long]],
    columns: Seq[String],
    start: Long,
    stop: Long,
    out: DataOutputStream,
    maxBufferedMarkers: Int = 256) {

  import graft.streaming.Markers

  // stream → labels fan-out; shrinks under `unsubscribe` (all reads are
  // inside this object's synchronized methods)
  private var streamLabels: Map[Long, Seq[String]] =
    labels.toSeq
      .flatMap { case (l, sids) => sids.map(_ -> l) }
      .groupBy(_._1)
      .map { case (sid, ps) => sid -> ps.map(_._2).sorted }

  /** NNTSC_UNSUBSCRIBE on this relay (exporter.py:894-906): drop the
    * streams from the fan-out — live rows for them stop immediately,
    * including rows already buffered during backfill. The label map used
    * to seed the seam gate is left as subscribed (the reference's
    * waitlabels caveat); stale gate entries for dropped streams are
    * unreachable and harmless. Returns the number of streams remaining.
    */
  def unsubscribe(streams: Seq[Long]): Long = synchronized {
    val drop = streams.toSet
    streamLabels = streamLabels.filterNot { case (s, _) => drop(s) }
    gate = gate.filterNot { case ((_, s), _) => drop(s) }
    buffered = buffered.filterNot(r => drop(sid(r)))
    streamLabels.size.toLong
  }

  /** Streams still subscribed on this relay. */
  def streamCount: Int = synchronized { streamLabels.size }

  private var buffered = Vector.empty[Row]
  // (marker timestamp, frame), publisher order = ascending timestamps;
  // bounded: dropping the OLDEST is always safe because its coverage
  // promise ("all data <= T delivered") is subsumed by its successor's
  private var bufferedMarkers = Vector.empty[(Long, Array[Byte])]
  private var liveMode = false
  // per-(label, stream) high-water mark, seeded at the seam with the
  // label's OWN lasthist; only consulted in live mode
  private var gate = Map.empty[(String, Long), Long]

  // stream ids arrive as the data table's int or as long (callers that
  // widen them); read either as Long
  private def ts(r: Row): Long = r.getLong(r.schema.fieldIndex("timestamp"))
  private def sid(r: Row): Long = r.getAs[Number](r.schema.fieldIndex("stream_id")).longValue

  /** Stream subscribed + timestamp inside the window. */
  private def admit(rows: Seq[Row]): Seq[Row] =
    rows.filter { r =>
      val ti = r.schema.fieldIndex("timestamp")
      val si = r.schema.fieldIndex("stream_id")
      !r.isNullAt(ti) && !r.isNullAt(si) && {
        val t = r.getLong(ti)
        t >= start && (stop == 0 || t <= stop) &&
          streamLabels.contains(sid(r))
      }
    }

  /** Fan rows out per label and apply the per-(label, stream) monotonic
    * gate (in timestamp order, equal timestamps deduped — LiveFanout's
    * rule), advancing it.
    */
  private def gated(rows: Seq[Row]): Seq[(String, Row)] =
    rows
      .flatMap(r => streamLabels(sid(r)).map(l => (l, sid(r)) -> r))
      .groupBy(_._1)
      .toSeq.sortBy(_._1)
      .flatMap { case (key @ (label, _), keyed) =>
        var hwm = gate.getOrElse(key, Long.MinValue)
        val outRows = keyed.map(_._2).sortBy(ts).filter { r =>
          val t = ts(r)
          if (t > hwm) { hwm = t; true } else false
        }
        gate += key -> hwm
        outRows.map(label -> _)
      }

  def onBatch(b: Markers.LiveBatch): Unit = synchronized {
    val adm = admit(b.rows)
    if (!liveMode) buffered ++= adm
    else emit(gated(adm))
  }

  /** PUSH frames are ordered behind the rows they cover: buffered during
    * backfill, interleaved with the released rows at finish (a marker
    * PUSH(T) follows every released row with ts <= T and precedes the
    * rest — the reference's per-timestamp-group interleave,
    * exporter.py:928-956), then direct. The buffer is bounded by
    * `maxBufferedMarkers`: on overflow the whole backlog COLLAPSES to
    * its newest marker — safe, a PUSH(T) subsumes every older marker's
    * coverage (this relay subscribes ONE collection, so the newest marker
    * covers the entire backlog), and strictly better than drop-oldest: a
    * months-long backfill replays one coarse marker for the pre-overflow
    * era instead of `maxBufferedMarkers` stale frames, while markers
    * after the collapse keep fine seam granularity.
    */
  def onMarker(t: Long, frame: Array[Byte]): Unit = synchronized {
    if (!liveMode) {
      if (bufferedMarkers.size >= maxBufferedMarkers)
        // takeRight, not .last: a zero/one-capacity relay overflows with
        // an empty-or-collapsed backlog and must not throw; the buffer
        // is bounded by max(2, maxBufferedMarkers) entries
        bufferedMarkers = bufferedMarkers.takeRight(1)
      bufferedMarkers :+= (t -> frame)
    } else out.synchronized { out.write(frame); out.flush() }
  }

  def finish(lastHistByLabel: Map[String, Long]): Unit = synchronized {
    liveMode = true
    gate = (for ((l, sids) <- labels.toSeq; s <- sids)
      yield (l, s) -> lastHistByLabel.getOrElse(l, Long.MinValue)).toMap
    var rest = gated(buffered)
    bufferedMarkers.foreach { case (t, frame) =>
      val (covered, later) = rest.partition { case (_, r) => ts(r) <= t }
      emit(covered)
      out.synchronized { out.write(frame); out.flush() }
      rest = later
    }
    emit(rest)
    buffered = Vector.empty
    bufferedMarkers = Vector.empty
  }

  private def rowJson(r: Row): String = {
    val wanted = Seq("timestamp", "stream_id") ++
      columns.filterNot(Seq("timestamp", "stream_id").contains)
    wanted
      .filter(r.schema.fieldNames.contains)
      .map { n =>
        val i = r.schema.fieldIndex(n)
        s"${JsonMini.str(n)}:${JsonMini.value(if (r.isNullAt(i)) null else r.get(i))}"
      }
      .mkString("{", ",", "}")
  }

  /** Write one Live frame per label (rows already label-tagged by the
    * gate's fan-out).
    */
  private def emit(rows: Seq[(String, Row)]): Unit =
    rows
      .groupBy(_._1).toSeq.sortBy(_._1)
      .foreach { case (label, rs) =>
        val body =
          s"""{"collection":${JsonMini.str(coll)},"label":${JsonMini.str(label)},""" +
            s""""rows":${rs.map { case (_, r) => rowJson(r) }.mkString("[", ",", "]")}}"""
        val frame = Wire.pack(Wire.Live, body.getBytes("UTF-8"))
        // write failures propagate to the bus, which drops this subscriber
        out.synchronized { out.write(frame); out.flush() }
      }
}

/** Tiny JSON helpers — enough for the protocol surface, no dependencies.
  * Parsing accepts the request vocabulary above (objects, arrays, strings,
  * numbers, booleans). Integral numbers (no '.', no exponent) surface as
  * Long — epoch-nanosecond timestamps and wide ids above 2^53 survive
  * exactly, like the reference's pickle ints; fractional numbers surface
  * as Double. Convert with `asLong`.
  */
private[graft] object JsonMini {

  /** Integral JSON numbers parse as Long, fractional as Double. */
  def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case d: Double => d.toLong
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case seq: scala.collection.Seq[_] => seq.map(value).mkString("[", ",", "]")
    case r: Row => row(r)
    case other => str(String.valueOf(other))
  }

  def row(r: Row): String =
    r.schema.fieldNames.zipWithIndex
      .map { case (n, i) => s"${str(n)}:${value(if (r.isNullAt(i)) null else r.get(i))}" }
      .mkString("{", ",", "}")

  /** Bulk row encoding — the history-backfill hot path (every served row
    * crosses this once). The naive `rs.map(row).mkString` re-escaped
    * every field NAME per row through the char-escape flatMap and built
    * two intermediate strings per cell; at sf10 that was ~60M name
    * encodes for a 10M-row backfill. Here names are escaped once per
    * chunk (all rows of a chunk share one schema) and cells append into
    * one builder — byte-identical output, measured 58 → 33 s on the
    * sf10 full-corpus backfill (ROUND_NOTES r11).
    */
  def rows(rs: Seq[Row]): String = {
    if (rs.isEmpty) return "[]"
    val headSchema = rs.head.schema
    val rawNames = headSchema.fieldNames
    val names = rawNames.map(n => str(n) + ":")
    // the once-per-chunk name table is only valid for rows that SHARE the
    // head row's field names — a mixed-schema chunk would silently pair
    // values with the wrong names (ADVICE r11). The three serve callers
    // pass homogeneous chunks (one collect each), so the guard is one
    // pointer compare per row; a genuinely foreign row falls back to the
    // per-row encoder, which is byte-identical for same-schema rows.
    var altSchema: org.apache.spark.sql.types.StructType = null
    def sharesNames(r: Row): Boolean =
      (r.schema eq headSchema) || (r.schema eq altSchema) || {
        val ok = r.schema != null && r.schema.fieldNames.sameElements(rawNames)
        if (ok) altSchema = r.schema // deserialized copy: re-check once
        ok
      }
    val sb = new java.lang.StringBuilder(rs.length * 48)
    sb.append('[')
    var first = true
    rs.foreach { r =>
      if (!first) sb.append(',')
      first = false
      if (!sharesNames(r)) sb.append(row(r))
      else {
        sb.append('{')
        var i = 0
        while (i < names.length) {
          if (i > 0) sb.append(',')
          sb.append(names(i))
          if (r.isNullAt(i)) sb.append("null")
          else r.get(i) match {
            case l: java.lang.Long => sb.append(l.longValue)
            case d: java.lang.Double =>
              if (d.isNaN || d.isInfinite) sb.append("null")
              else sb.append(d.doubleValue)
            case n: java.lang.Integer => sb.append(n.intValue)
            case s: String => sb.append(str(s))
            case other => sb.append(value(other))
          }
          i += 1
        }
        sb.append('}')
      }
    }
    sb.append(']')
    sb.toString
  }

  /** Minimal recursive-descent parser for the request vocabulary. */
  def parse(s: String): Map[String, Any] = {
    val p = new P(s)
    val v = p.value()
    v.asInstanceOf[Map[String, Any]]
  }

  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = { ws(); require(s.charAt(i) == c, s"expected $c at $i"); i += 1 }
    def value(): Any = {
      ws()
      s.charAt(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => string()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ => number()
      }
    }
    private def obj(): Map[String, Any] = {
      expect('{'); ws()
      if (s.charAt(i) == '}') { i += 1; return Map.empty }
      val b = Map.newBuilder[String, Any]
      var more = true
      while (more) {
        ws()
        val k = string()
        expect(':')
        b += k -> value()
        ws()
        if (s.charAt(i) == ',') i += 1 else { expect('}'); more = false }
      }
      b.result()
    }
    private def arr(): Seq[Any] = {
      expect('['); ws()
      if (s.charAt(i) == ']') { i += 1; return Nil }
      val b = Seq.newBuilder[Any]
      var more = true
      while (more) {
        b += value()
        ws()
        if (s.charAt(i) == ',') i += 1 else { expect(']'); more = false }
      }
      b.result()
    }
    private def string(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case 'r' => sb += '\r'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += s.charAt(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    private def number(): Any = {
      val start = i
      while (i < s.length && (s.charAt(i).isDigit || "+-.eE".contains(s.charAt(i)))) i += 1
      val lit = s.substring(start, i)
      // integral literals stay exact (no double round-trip above 2^53)
      if (lit.exists(c => c == '.' || c == 'e' || c == 'E')) lit.toDouble
      else lit.toLong
    }
  }
}
