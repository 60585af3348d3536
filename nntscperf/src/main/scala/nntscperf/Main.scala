package nntscperf

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.query.AggSpec
import graft.serve.{Service, WireClient, WireServer}
import graft.streaming.{IngestStream, Markers, RollupStream}

/** The NNTSC benchmark. One process builds a store through the real ingest
  * path, serves it over `WireServer`, drives it with `WireClient` sockets
  * for `--seconds`, checks every reply against the oracle, and prints one
  * JSON result line last.
  *
  *   --workload dashboard|history|live  --seed N  --seconds S  --trace 0|1  --work DIR
  *   --live-period-ms P   (live: one file of one result per stream every P ms)
  */
object Main {

  final case class Opts(
      workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
      livePeriodMs: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("live-period-ms").toInt)
    require(Set("dashboard", "history", "live")(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 2 && o.livePeriodMs >= 1, "bad sizes")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val cpus = Runtime.getRuntime.availableProcessors()
    new File(o.work).mkdirs()
    val b = graft.core.Sessions.localBuilder(cpus.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val spark = (if (o.trace) Trace.configure(b) else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkS = System.currentTimeMillis() / 1000.0 - t0
    val ok = try new Run(spark, o, cpus).go(sparkS) finally spark.stop()
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }
}

/** One timed request as the client saw it; `reply` is null when it failed.
  * `inWindow` is the share of its time inside the timed window: 1, except
  * for each client's last request, which the deadline cuts.
  */
final case class Sample(req: Request, ms: Double, rows: Long, reply: Vector[Oracle.Canon],
    inWindow: Double)

/** What the traced window saw of one request: wire and direct `Service`
  * times, reply bytes, the parquet files the direct call opened, and the
  * time from the direct call to its first Spark job (analysis and planning).
  */
final case class Traced(kind: String, wireMs: Double, serviceMs: Double, bytes: Long,
    files: Seq[String], planMs: Option[Double])

/** What a run produced: the untraced window's samples, and in a traced run
  * the per-layer metrics of its traced window.
  */
final case class Result(samples: Seq[Sample], windowS: Double, wrong: Int,
    extra: Seq[(String, Stats.Metric)], contention: Map[String, Any],
    liveOk: Boolean = true, layers: Map[String, Stats.Metric] = Map.empty, warmS: Double = 0)

/** One benchmark run inside a live Spark session. */
final class Run(spark: SparkSession, o: Main.Opts, cpus: Int) {

  private val detail = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val errors = new ConcurrentLinkedQueue[String]()
  private val clients = if (o.trace) 1 else 2
  /** Store builds per run; set-up counts their median. */
  private val builds = 2
  /** Untimed closed-loop requests per client before a read workload's
    * window: a fresh JVM still compiles Spark's planning code, and requests
    * right after start-up run far slower than a few seconds later. A count,
    * not a time, so every run starts its window after the same work, also on
    * a machine that is slower at the moment.
    */
  private val readWarmupRequests = 8
  private val liveWarmupS = 1.0
  private val tracer = if (o.trace) Some(new Tracer(spark)) else None

  private def now(): Double = System.nanoTime() / 1e6
  /** A tail percentile, NaN when fewer than 10 samples lie beyond it. */
  private def tail(xs: Seq[Double], p: Double): Double = Stats.percentile(xs, p).getOrElse(Double.NaN)

  /** Live files staged: warm-up plus the timed window(s), with slack. */
  private val liveFiles =
    if (o.workload != "live") 0
    else ((liveWarmupS + o.seconds * (if (o.trace) 2 else 1) + 8) * 1000 / o.livePeriodMs).toInt

  final class Built(val store: Store, val svc: Service, val server: WireServer,
      val ids: Map[Int, Long], val markers: Markers.MarkerBus, val live: Markers.LiveBus)

  /** Ingests the landed history into a store under `dir` and starts its server. */
  private def build(dir: String, inputs: Inputs): Built = {
    val store = new Store(spark, dir)
    store.land(inputs)
    store.poll(Trigger.AvailableNow()).awaitTermination()
    val svc = store.service()
    val markers = new Markers.MarkerBus
    val live = new Markers.LiveBus
    val server =
      if (o.workload == "live")
        new WireServer(svc, markers = Some(markers), live = Some(live),
          deadLetterPath = Some(s"$dir/deadletter"))
      else new WireServer(svc, deadLetterPath = Some(s"$dir/deadletter"))
    new Built(store, svc, server, store.streamIds(), markers, live)
  }

  def go(sparkS: Double): Boolean = {
    val inputs = new Inputs(spark, s"${o.work}/inputs", o.seed, liveFiles)
    // the store build is repeated and its median counted; the last build
    // serves the run
    var built: Built = null
    val buildS = (0 until builds).map { i =>
      if (built != null) built.server.close()
      val t = now()
      built = build(s"${o.work}/store$i", inputs)
      (now() - t) / 1000
    }
    val bt = built
    val tw = now()
    if (o.workload != "live") {
      val ts = (0 until clients).map(c => thread {
        val cl = new Client("127.0.0.1", bt.server.boundPort, bt.ids)
        val d = new Draws(o.seed, 2000 + c)
        (0 until readWarmupRequests).foreach(_ => cl.send(nextRead(d)))
      })
      ts.foreach(_.join())
    }
    val readWarmS = (now() - tw) / 1000
    val sentinelBefore = Stats.sentinelMs()
    val res = if (o.workload == "live") new LiveRun(bt).go() else readRun(bt)
    val sentinelAfter = Stats.sentinelMs()
    val warmS = readWarmS + res.warmS
    detail("setup_spark_s") = sparkS
    detail("setup_build_s") = buildS
    detail("setup_warmup_s") = warmS
    val setupS = sparkS + Stats.median(buildS) + warmS
    bt.server.close()
    detail("contention") = ListMap(
      "sentinel_before_ms" -> sentinelBefore, "sentinel_after_ms" -> sentinelAfter) ++
      res.contention
    finish(setupS, res)
  }

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start()
    t
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  // ---- request windows -------------------------------------------------

  /** Closed-loop clients until the deadline, each on its own draw sequence
    * (both windows of a traced run use the same ones). In the traced window each
    * request also runs through `Service` directly, right after the wire
    * call, and the wire client goes through the byte-counting relay.
    */
  private def window(bt: Built, seconds: Int, traced: Boolean, next: Draws => Request,
      drawsBase: Int): (Seq[Sample], Seq[Traced], Double) = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val tr = new ConcurrentLinkedQueue[Traced]()
    val proxy = if (traced) Some(new ByteProxy(bt.server.boundPort)) else None
    val start = now()
    val deadline = start + seconds * 1000.0
    val ts = (0 until clients).map(c => thread {
      val cl = new Client("127.0.0.1", proxy.map(_.port).getOrElse(bt.server.boundPort), bt.ids)
      val d = new Draws(o.seed, drawsBase + c)
      while (now() < deadline) {
        val req = next(d)
        val b0 = proxy.map(_.replyBytes.get).getOrElse(0L)
        val t1 = now()
        try {
          val (reply, rows) = cl.send(req)
          val wireMs = now() - t1
          out.add(Sample(req, wireMs, rows, reply, math.min(1.0, (deadline - t1) / wireMs)))
          for (p <- proxy; t <- tracer) {
            val bytes = p.replyBytes.get - b0
            val id = s"$c-${tr.size}"
            val wall = System.currentTimeMillis()
            val t2 = now()
            t.call(id)(serviceCall(bt, req))
            val serviceMs = now() - t2
            tr.add(Traced(req.kind, wireMs, serviceMs, bytes, TracingFs.of(id),
              Option(t.firstJob.get(id)).map(_.longValue - wall.toDouble)))
          }
        } catch {
          case e: Throwable =>
            errors.add(s"${req.kind}: $e")
            out.add(Sample(req, now() - t1, 0, null, 1.0))
        }
      }
    })
    ts.foreach(_.join())
    proxy.foreach(_.close())
    (out.asScala.toSeq, tr.asScala.toSeq, seconds.toDouble)
  }

  /** The same request through `Service`, every reply row drawn. */
  private def serviceCall(bt: Built, req: Request): Unit = {
    def ids(l: Map[String, Seq[Int]]) = l.map { case (k, v) => k -> v.map(bt.ids) }
    def aggs(a: Seq[(String, String)]) = a.map { case (c, f) => AggSpec(c, f) }
    req match {
      case MatrixReq(l, a, s, e) => bt.svc.matrix(Store.Collection, ids(l), aggs(a), s, e)
      case AggregateReq(l, a, s, e, b) =>
        bt.svc.aggregate(Store.Collection, ids(l), aggs(a), s, e, b).foreach(_ => ())
      case HistoryReq(l, c, s, e) => bt.svc.history(Store.Collection, ids(l), c, s, e).foreach(_ => ())
    }
  }

  /** Replies that differ from the oracle (each distinct request computed once). */
  private def check(samples: Seq[Sample], rows: Oracle.Rows): Int = {
    val memo = scala.collection.mutable.HashMap.empty[Request, Vector[Oracle.Canon]]
    samples.count { s =>
      s.reply != null && {
        val want = memo.getOrElseUpdate(s.req, Oracle.expected(rows, s.req))
        val bad = !Oracle.same(s.reply, want)
        if (bad && errors.size < 20)
          errors.add(s"wrong ${s.req.kind} reply: ${s.req} got ${s.reply.take(2)} want ${want.take(2)}")
        bad
      }
    }
  }

  /** The request mix of a read-only workload. */
  private def nextRead(d: Draws): Request =
    if (o.workload == "dashboard") Requests.dashboard(d) else Requests.history(d)

  /** dashboard and history: closed-loop clients on the read-only store. */
  private def readRun(bt: Built): Result = {
    val (samples, _, secs) = window(bt, o.seconds, traced = false, nextRead, 1000)
    val traced = tracer.map { t =>
      val gc0 = gcMs()
      t.start()
      val (s2, tr, w2) = window(bt, o.seconds, traced = true, nextRead, 1000)
      t.stop()
      traceOverhead(samples, s2)
      (s2, layerMetrics(bt, t, tr, s2, w2, gcMs() - gc0))
    }
    val all = samples ++ traced.map(_._1).getOrElse(Nil)
    Result(samples, secs, check(all, new Oracle.Rows(o.seed, 0)), Nil, Map.empty,
      layers = traced.map(_._2).getOrElse(Map.empty))
  }

  /** Both windows of a traced run send the same request sequence, so the
    * overhead is the median ratio of the k-th traced to the k-th untraced
    * request time, over the requests both windows completed.
    */
  private def traceOverhead(untraced: Seq[Sample], traced: Seq[Sample]): Unit = {
    val pairs = untraced.zip(traced).filter { case (a, b) => a.reply != null && b.reply != null }
    detail("trace_overhead") = ListMap(
      "untraced_request_p50_ms" -> Stats.median(pairs.map(_._1.ms)),
      "traced_request_p50_ms" -> Stats.median(pairs.map(_._2.ms)),
      "ratio_p50" -> Stats.median(pairs.map { case (a, b) => b.ms / a.ms }),
      "pairs" -> pairs.size)
  }

  // ---- live ------------------------------------------------------------

  /** live: an open-loop file generator, the poller, one live subscriber and
    * closed-loop matrix clients over the newest complete tier windows.
    */
  final class LiveRun(bt: Built) {
    private val subStart = Gen.HistoryEnd - 3600
    private val received = new ConcurrentHashMap[(Int, Long), AtomicInteger]()
    private val perFile = new ConcurrentHashMap[Int, AtomicInteger]()
    private val arrival = new ConcurrentHashMap[Int, java.lang.Double]()
    private val published = new ConcurrentHashMap[Int, java.lang.Double]()
    private val committedRows = new ConcurrentHashMap[Int, AtomicInteger]()
    private val committedFiles = new AtomicInteger()
    private val released = new AtomicInteger()
    private val liveFrames = new AtomicInteger()
    private val latestMarker = new AtomicLong(Long.MinValue)
    private val due = new ConcurrentHashMap[Int, java.lang.Double]()
    private val lateMs = new ConcurrentHashMap[Int, java.lang.Double]()
    @volatile private var stopGen = false

    private def nextMatrix(d: Draws): Request = {
      d.advance()
      Requests.matrix(d, (latestMarker.get + 1) / 300 * 300, Seq(3600L, 2 * 3600L, 6 * 3600L))
    }

    def go(): Result = {
      val warmStart = now()
      val indexOf = bt.ids.map(_.swap)
      bt.markers.subscribe(Store.Collection)(m => latestMarker.accumulateAndGet(m.timestamp, math.max))
      // the benchmark's own bus callback: when each file's rows were published
      bt.live.subscribe(Store.Collection) { b =>
        val t = now()
        b.rows.foreach { r =>
          val s = indexOf(r.getAs[Number]("stream_id").longValue)
          val f = Gen.liveFileOf(s, r.getAs[Long]("timestamp"))
          if (committedRows.computeIfAbsent(f, _ => new AtomicInteger()).incrementAndGet() == Gen.Streams) {
            published.put(f, t)
            committedFiles.incrementAndGet()
          }
        }
      }
      val labels = (0 until Gen.Sources).map(g =>
        s"g$g" -> Requests.group(g).map(bt.ids)).toMap
      val sub = new WireClient("127.0.0.1", bt.server.boundPort)
        .subscribe(Store.Collection, labels, Requests.HistoryColumns, subStart, 0)
      val cl = new Client("127.0.0.1", bt.server.boundPort, bt.ids)
      sub.history.flatMap(_.rows).foreach(r => receive(cl.historyKey(r)))
      val subThread = new Thread(() => {
        try while (true) sub.next() match {
          case WireClient.LiveRows(_, rows) =>
            val t = now()
            liveFrames.incrementAndGet()
            rows.foreach { r =>
              val k = cl.historyKey(r)
              receive(k)
              val f = Gen.liveFileOf(k.stream.toInt, k.ts)
              if (f >= 0 && perFile.computeIfAbsent(f, _ => new AtomicInteger()).incrementAndGet() == Gen.Streams)
                arrival.put(f, t)
            }
          case _ => ()
        } catch { case _: Throwable => () } // the socket closes at the end
      })
      subThread.setDaemon(true)
      subThread.start()
      val query = bt.store.poll(Trigger.ProcessingTime(0L), Some(bt.markers), Some(bt.live))
      val genStart = now() + 100
      val gen = thread {
        var f = 0
        while (!stopGen && f < liveFiles) {
          val d = genStart + f.toLong * o.livePeriodMs
          val wait = d - now()
          if (wait > 0) Thread.sleep(wait.toLong)
          bt.store.release(f)
          due.put(f, d)
          lateMs.put(f, now() - d)
          released.incrementAndGet()
          f += 1
        }
      }
      // warm-up: the generator and poller run while one client sends matrices
      while (latestMarker.get < Gen.HistoryEnd) Thread.sleep(10)
      val wd = new Draws(o.seed, 2000)
      val warmEnd = now() + liveWarmupS * 1000
      while (now() < warmEnd) cl.send(nextMatrix(wd))

      // the backlog (files landed but not yet published) is sampled through
      // each window; `backlogMax` restarts with the traced window
      val backlogMax = new AtomicInteger()
      def backlogNow = released.get - committedFiles.get
      val sampling = new java.util.concurrent.atomic.AtomicBoolean(true)
      val sampler = thread {
        while (sampling.get) {
          backlogMax.accumulateAndGet(backlogNow, math.max)
          Thread.sleep(20)
        }
      }
      val progressBefore = query.recentProgress.length
      val start = now()
      val warmS = (start - warmStart) / 1000
      val backlogAtStart = backlogNow
      val (samples, _, secs) = window(bt, o.seconds, traced = false, nextMatrix, 1000)
      val end = start + secs * 1000
      val backlogAtEnd = backlogNow
      val backlogWindowMax = backlogMax.getAndSet(0)
      val progress = query.recentProgress.drop(progressBefore)
      val traced = tracer.map { t =>
        val gc0 = gcMs()
        val from = t.progress.size
        t.start()
        val (s2, tr, w2) = window(bt, o.seconds, traced = true, nextMatrix, 1000)
        t.stop()
        traceOverhead(samples, s2)
        val delivery = published.asScala.toSeq.flatMap { case (f, p) =>
          Option(arrival.get(f)).filter(_ => p.doubleValue >= end).map(_ - p)
        }
        val layers = layerMetrics(bt, t, tr, s2, w2, gcMs() - gc0) ++ liveLayers(bt,
          t.progress.asScala.toSeq.drop(from), backlogMax.get, delivery)
        (s2, layers)
      }
      sampling.set(false)
      sampler.join()
      stopGen = true
      gen.join()
      // drain: every landed file committed, then a short wait for its LIVE frame
      val landed = released.get
      val commitBy = now() + 30000
      while (committedFiles.get < landed && now() < commitBy) Thread.sleep(20)
      val deliverBy = now() + 3000
      while (arrival.size < landed && now() < deliverBy) Thread.sleep(20)
      query.stop()
      sub.close()
      val all = samples ++ traced.map(_._1).getOrElse(Nil)
      val rows = new Oracle.Rows(o.seed, landed)
      val wrong = check(all, rows)
      val liveOk = checkLive(rows, landed)
      val inWindow = (0 until landed).filter(f => due.get(f) >= start && due.get(f) < end)
      val fresh = inWindow.flatMap(f => Option(arrival.get(f)).map(_ - due.get(f)))
      val committedIn = progress.map(_.numInputRows).sum.toDouble
      val triggerMs = progress.map(p => p.durationMs.getOrDefault("triggerExecution", 0L).toLong).sum
      detail("freshness_samples") = fresh.size
      detail("live_files_landed") = landed
      detail("live_frames") = liveFrames.get
      Result(samples, secs, wrong, Seq(
        "freshness_p50_ms" -> Stats.Metric(Stats.median(fresh), "ms"),
        "freshness_p90_ms" -> Stats.Metric(tail(fresh, 90), "ms"),
        "ingest_rows_per_s" -> Stats.Metric(committedIn / (triggerMs / 1000.0), "1/s")),
        ListMap(
          "generator_late_ms_max" -> inWindow.map(f => lateMs.get(f).doubleValue).maxOption.getOrElse(0.0),
          "files_released_in_window" -> inWindow.size,
          "backlog_files_at_window_start" -> backlogAtStart,
          "backlog_files_max" -> backlogWindowMax,
          "backlog_files_at_window_end" -> backlogAtEnd),
        liveOk, traced.map(_._2).getOrElse(Map.empty), warmS)
    }

    private def receive(k: Oracle.HistoryKey): Unit =
      received.computeIfAbsent((k.stream.toInt, k.ts), _ => new AtomicInteger()).incrementAndGet()

    /** Every generated row from the subscription start reached the subscriber
      * exactly once, and the final store holds exactly the generated rows.
      */
    private def checkLive(rows: Oracle.Rows, landed: Int): Boolean = {
      val want = (0 until Gen.Streams).flatMap(s =>
        rows.all(s).filter(_.ts >= subStart).map(r => (s, r.ts))).toSet
      val (missing, dup, extra) =
        Oracle.deliveryFaults(want, received.asScala.map { case (k, n) => k -> n.get })
      if (dup + missing + extra > 0)
        errors.add(s"live subscriber: $missing missing, $dup duplicated, $extra unexpected rows")
      if (landed > 0 && liveFrames.get == 0)
        errors.add(s"no LIVE frame reached the subscriber in $landed landed files")
      val stored = bt.store.data()
        .groupBy("stream_id")
        .agg(count(lit(1)), sum("timestamp"), sum(coalesce(col("median").cast("long"), lit(-1L))),
          sum(col("loss").cast("long")))
        .collect()
        .map(r => r.getAs[Number](0).longValue -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      val expect = (0 until Gen.Streams).map { s =>
        val a = rows.all(s)
        bt.ids(s) -> (a.length.toLong, a.map(_.ts).sum,
          a.map(_.median.map(_.toLong).getOrElse(-1L)).sum, a.map(_.loss.toLong).sum)
      }.toMap
      val storeOk = stored == expect
      if (!storeOk) errors.add("final store differs from the generated rows")
      dup + missing + extra == 0 && storeOk
    }
  }

  // ---- per-layer metrics ------------------------------------------------

  /** Traced replay of the poller's per-batch sequence on a scratch store:
    * ingest, the two tier appends, the live collect and publish, the marker.
    */
  private def replay(bt: Built): Map[String, Double] = {
    val dir = s"${o.work}/replay"
    val streams = s"$dir/streams"
    org.apache.commons.io.FileUtils.copyDirectory(new File(bt.store.streamsPath), new File(streams))
    val bus = new Markers.LiveBus
    bus.subscribe(Store.Collection)(_ => ())
    val times = (0 until 6).map { i =>
      val rows = Gen.liveFile(o.seed, 100000 + i).map(Inputs.toRow)
      val batch = spark.createDataFrame(rows.asJava, Store.Spec.rawSchema)
      val t0 = now()
      val written = IngestStream.ingestBatch(batch, Store.Spec, streams, s"$dir/data", identity, Some(i.toLong))
        .persist()
      try {
        val t1 = now()
        bt.store.tiers.toSeq.sortBy(_._1).foreach { case (bin, _) =>
          RollupStream.appendPartials(written, bin, "median", s"$dir/tier$bin", i.toLong, Seq("loss"))
        }
        val t2 = now()
        val rows = written.collect().toSeq
        if (rows.nonEmpty) bus.publish(Markers.LiveBatch(Store.Collection, rows))
        val t3 = now()
        written.agg(max("timestamp")).collect()
        val t4 = now()
        Seq(t1 - t0, t2 - t1, t3 - t2, t4 - t3)
      } finally written.unpersist()
    }.drop(1) // the first replay batch is cold
    val names = Seq("ingest.ingest_batch_ms", "rollup.append_ms_per_batch", "ingest.live_publish_ms",
      "ingest.marker_ms")
    names.zipWithIndex.map { case (n, i) => n -> Stats.median(times.map(_(i))) }.toMap
  }

  /** Per-layer metrics of a traced request window. */
  private def layerMetrics(bt: Built, t: Tracer, tr: Seq[Traced], samples: Seq[Sample],
      windowS: Double, gcMsInWindow: Long): ListMap[String, Stats.Metric] = {
    val n = math.max(1, tr.size)
    val executions = n.toDouble // Spark work is counted for the direct Service call
    val rowsOut = samples.filter(_.reply != null).map(_.rows).sum.toDouble
    val tierDirs = bt.store.tiers.values.map(p => new File(p).getAbsolutePath).toSeq
    def isTier(f: String) = tierDirs.exists(f.startsWith)
    val eligible = tr.filter(x => x.kind == "matrix" || x.kind == "aggregate")
    val tierRows = eligible.flatMap(_.files.filter(isTier)).distinct.map(f => f -> parquetRows(f)).toMap
    def m(v: Double, unit: String) = Stats.Metric(v, unit)
    detail("traced_requests") = tr.size
    ListMap(
      "serve.service_ms_p50" -> m(Stats.median(tr.map(_.serviceMs)), "ms"),
      "serve.wire_ms_p50" -> m(Stats.median(tr.map(x => x.wireMs - x.serviceMs)), "ms"),
      "serve.reply_bytes_per_request" -> m(tr.map(_.bytes).sum.toDouble / n, "count"),
      "query.plan_ms_p50" -> m(Stats.median(tr.flatMap(_.planMs)), "ms"),
      "query.jobs_per_request" -> m(t.jobs.get / executions, "count"),
      "query.tasks_per_request" -> m(t.tasks.get / executions, "count"),
      "query.task_ms_per_request" -> m(t.taskMs.get / executions, "ms"),
      "query.shuffle_bytes_per_request" -> m(t.shuffleBytes.get / executions, "count"),
      "rollup.tier_hit_ratio" -> m(
        if (eligible.isEmpty) 0.0 else eligible.count(_.files.exists(isTier)).toDouble / eligible.size, "1"),
      "rollup.tier_rows_read_per_request" -> m(
        eligible.map(_.files.filter(isTier).map(tierRows).sum).sum.toDouble / math.max(1, eligible.size),
        "count"),
      "rollup.tier_files" -> m(bt.store.tiers.values.map(bt.store.files).sum.toDouble, "count"),
      "storage.rows_scanned_per_row_returned" -> m(t.recordsRead.get / math.max(1.0, rowsOut), "1"),
      "storage.files_scanned_per_request" -> m(tr.map(_.files.size).sum.toDouble / n, "count"),
      "storage.bytes_read_per_request" -> m(t.bytesRead.get / executions, "count"),
      "storage.data_files" -> m(bt.store.files(bt.store.dataPath).toDouble, "count"),
      "jvm.gc_ms_per_s" -> m(gcMsInWindow / windowS, "ms/s"),
      "spark.core_utilisation" -> m(t.allTaskMs.get / (windowS * 1000 * cpus), "1"))
  }

  /** The live workload's own layers: delivery, the poller's batches in the
    * traced window, its backlog, and the replayed per-batch sequence.
    */
  private def liveLayers(bt: Built,
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent],
      backlog: Int, delivery: Seq[Double]): ListMap[String, Stats.Metric] = {
    val p = progress.map(_.progress).filter(_.numInputRows > 0)
    def dur(k: String) = p.map(x => x.durationMs.getOrDefault(k, 0L).toDouble)
    val replayed = replay(bt)
    def m(v: Double, unit: String) = Stats.Metric(v, unit)
    detail("streaming_batches") = p.size
    ListMap(
      "serve.live_delivery_ms_p50" -> m(Stats.median(delivery), "ms"),
      "rollup.append_ms_per_batch" -> m(replayed("rollup.append_ms_per_batch"), "ms"),
      "streaming.trigger_ms_p50" -> m(Stats.median(dur("triggerExecution")), "ms"),
      "streaming.add_batch_ms_p50" -> m(Stats.median(dur("addBatch")), "ms"),
      "streaming.offset_ms_p50" -> m(Stats.median(
        p.map(x => x.durationMs.getOrDefault("latestOffset", 0L).toDouble +
          x.durationMs.getOrDefault("getBatch", 0L).toDouble)), "ms"),
      "streaming.planning_ms_p50" -> m(Stats.median(dur("queryPlanning")), "ms"),
      "streaming.backlog_files_max" -> m(backlog.toDouble, "count"),
      "ingest.ingest_batch_ms" -> m(replayed("ingest.ingest_batch_ms"), "ms"),
      "ingest.live_publish_ms" -> m(replayed("ingest.live_publish_ms"), "ms"),
      "ingest.marker_ms" -> m(replayed("ingest.marker_ms"), "ms"))
  }

  /** Row count of a parquet file, from its footer. */
  private def parquetRows(path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
    try r.getRecordCount finally r.close()
  }

  // ---- output ----------------------------------------------------------

  private def finish(setupS: Double, res: Result): Boolean = {
    val ok = res.samples.filter(_.reply != null)
    val failed = res.samples.count(_.reply == null) + res.wrong
    val lat = ok.map(_.ms)
    // requests and rows count by their share inside the window, so a long
    // request cut by the deadline counts in part, not all or nothing
    val e2e = ListMap(
      "setup_s" -> Stats.Metric(setupS, "s"),
      "requests_per_s" -> Stats.Metric(ok.map(_.inWindow).sum / res.windowS, "1/s"),
      "request_p50_ms" -> Stats.Metric(Stats.median(lat), "ms"))
    val rowsPerS = Stats.Metric(ok.map(s => s.rows * s.inWindow).sum / res.windowS, "1/s")
    val perKind = Seq("matrix", "aggregate", "history").flatMap { k =>
      val xs = ok.filter(_.req.kind == k).map(_.ms)
      if (xs.isEmpty) Nil else Seq(s"${k}_p50_ms" -> Stats.Metric(Stats.median(xs), "ms"))
    }
    detail("workload_metrics") = ListMap(perKind ++ res.extra ++ Seq(
      "rows_per_s" -> rowsPerS,
      "request_p90_ms" -> Stats.Metric(tail(lat, 90), "ms"),
      "failed_ratio" -> Stats.Metric(failed.toDouble / math.max(1, res.samples.size), "1")): _*)
    detail("samples") = res.samples.size
    detail("samples_by_kind") = res.samples.groupBy(_.req.kind).view.mapValues(_.size).toMap
    detail("highest_percentile") =
      Stats.highest(lat).map { case (p, v) => ListMap("p" -> p, "ms" -> v) }.orNull
    // a traced run prints the per-layer metrics; its short untraced window
    // only feeds the overhead comparison
    val missing = if (o.trace) Nil else e2e.collect { case (k, m) if m.value.isNaN => k }
    if (missing.nonEmpty) errors.add(s"no completed request to report ${missing.mkString(", ")}")
    detail("errors") = errors.asScala.take(20).toSeq
    val correct = failed == 0 && res.liveOk && missing.isEmpty
    println(Stats.json(Map("detail" -> detail)))
    println(Stats.resultLine(correct, math.max(1, res.samples.size), failed,
      if (o.trace) res.layers.toSeq else e2e.toSeq))
    correct
  }
}
