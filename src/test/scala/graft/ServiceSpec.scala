package graft

import graft.core.Tables
import graft.ingest.PathIntern
import graft.query.{AggSpec, QueryEngine}
import graft.rollup.Rollup
import graft.serve.Service

class ServiceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = Tables.tsEvents(spark, sf("sf0.001"))
  private lazy val streamsDim = events.select("stream_id").distinct()
  private lazy val svc = new Service(
    spark,
    data = Map("amp-external" -> events),
    streams = Map("amp-external" -> streamsDim))
  private val labels = Map("a" -> (0L until 8L), "b" -> (8L until 15L))

  test("query timeout cancels a runaway query (NNTSC_QUERY_CANCELLED, exporter.py:362-378)") {
    import org.apache.spark.sql.functions._
    // a matrix query over a deliberately slow table: 640 rows × 100 ms
    // sleep ≈ 2 s on 32 threads, against a 1-second timeout
    val napMs = 100
    val sleepy = udf((v: Double) => { Thread.sleep(napMs); v })
    val slow = spark.range(640).select(
      (col("id") % 4).as("stream_id"),
      lit(1704067200L).as("timestamp"),
      sleepy(col("id").cast("double")).as("value"))
    val slowSvc = new Service(
      spark,
      data = Map("amp-external" -> slow),
      streams = Map("amp-external" -> streamsDim),
      queryTimeoutSec = 1)
    val t0 = System.nanoTime()
    intercept[Service.QueryCancelledException] {
      slowSvc.matrix(
        "amp-external", Map("a" -> Seq(0L, 1L, 2L, 3L)),
        Seq(AggSpec("value", "avg")), 0L, Long.MaxValue / 2)
    }
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(elapsedSec < 15.0, s"cancel took too long: $elapsedSec s")

    // an untimed service keeps working after the cancel
    assert(svc.matrix(
      "amp-external", labels, Seq(AggSpec("value", "count")),
      0L, Long.MaxValue / 2).nonEmpty)
  }

  test("history timeout cancels through the prefetch pump") {
    import org.apache.spark.sql.functions._
    // the windowed pump runs partition jobs on POOL threads — each must
    // carry the watchdog job group, or a cancel would leave the fetch
    // running and the consumer hanging instead of QUERY_CANCELLED
    val sleepy = udf((v: Double) => { Thread.sleep(100); v })
    val slow = spark.range(640).select(
      (col("id") % 4).as("stream_id"),
      (lit(1704067200L) + col("id")).as("timestamp"),
      sleepy(col("id").cast("double")).as("value"))
    val slowSvc = new Service(
      spark,
      data = Map("amp-external" -> slow),
      streams = Map("amp-external" -> streamsDim),
      queryTimeoutSec = 1)
    val t0 = System.nanoTime()
    intercept[Service.QueryCancelledException] {
      slowSvc.history(
        "amp-external", Map("a" -> Seq(0L, 1L, 2L, 3L)), Seq("value"),
        0L, Long.MaxValue / 2).foreach(_ => ())
    }
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(elapsedSec < 15.0, s"cancel took $elapsedSec s")
    // the untimed service still serves history afterwards
    assert(svc.history(
      "amp-external", labels, Seq("value"), 0L, Long.MaxValue / 2).nonEmpty)
  }

  test("post-deadline failures keep their identity; only interrupt-like ones are timeouts") {
    val timed = new Service(
      spark,
      data = Map("amp-external" -> events),
      streams = Map("amp-external" -> streamsDim),
      queryTimeoutSec = 1)
    // a genuine failure that happens to land AFTER the watchdog fired must
    // NOT masquerade as a timeout (pre-fix: any post-deadline Throwable
    // became QueryCancelledException, masking executor loss / OOM / bugs)
    val boom = intercept[IllegalStateException] {
      timed.withCancellation("genuine-failure") {
        Thread.sleep(1600) // watchdog fires at 1s
        throw new IllegalStateException("executor lost (not a timeout)")
      }
    }
    assert(boom.getMessage.contains("executor lost"))
    // … while an interrupt-like failure after the deadline IS the timeout
    // (interruptOnCancel surfaces as InterruptedException / IO error)
    val cancelled = intercept[Service.QueryCancelledException] {
      timed.withCancellation("interrupted") {
        Thread.sleep(1600)
        throw new java.io.IOException("connection reset mid-read")
      }
    }
    assert(cancelled.getCause.isInstanceOf[java.io.IOException])
    // before the deadline, interrupt-like failures are NOT timeouts either
    intercept[java.io.IOException] {
      timed.withCancellation("early-io") {
        throw new java.io.IOException("real IO failure, no deadline involved")
      }
    }
  }

  test("collections + schema replies mirror the registry") {
    val cols = svc.collections()
    assert(cols.size === 14)
    val (ss, ds) = svc.schema("amp-icmp")
    assert(ss.fieldNames.contains("source"))
    assert(ds.fieldNames.take(2).toSeq === Seq("stream_id", "timestamp"))
    intercept[NoSuchElementException](svc.schema("nope"))
  }

  test("streams paging honors minid + page size (S7/T4)") {
    val page = svc.streamsPage("amp-external", minId = 5)
    assert(page.rows.forall(_.getLong(0) > 5))
    assert(!page.more) // only 15 streams at sf0.001
  }

  test("history chunks: per-label, ordered, with frequency") {
    val chunks = svc.history(
      "amp-external", labels, Seq("value", "event_id"),
      1704067200L, 1704067200L + 31 * 86400).toSeq
    assert(chunks.map(_.label).distinct.sorted === Seq("a", "b"))
    chunks.foreach { c =>
      val ts = c.rows.map(_.getAs[Long]("timestamp"))
      assert(ts === ts.sorted)
      assert(c.freq > 0)
    }
    // raw history of a small window never exceeds a chunk
    assert(chunks.forall(!_.more))
  }

  test("aggregate + matrix replies") {
    val chunks = svc.aggregate(
      "amp-external", labels, Seq(AggSpec("value", "avg")),
      1704067200L, 1704067200L + 31 * 86400, binsize = 86400).toSeq
    assert(chunks.nonEmpty)
    val m = svc.matrix(
      "amp-external", labels, Seq(AggSpec("value", "count")),
      1704067200L, 1704067200L + 31 * 86400)
    assert(m.size === 2)
  }

  test("matrix routes through rollup tiers when configured (influx.py:387-394)") {
    import graft.streaming.RollupStream
    val dir = java.nio.file.Files.createTempDirectory("graftmatrix").toString
    val t0 = 1704067200L // hour-aligned
    // values exactly representable in both DECIMAL(18,6) and double, so the
    // tier's exact-decimal partials and the raw double path agree bit-for-bit
    // offsets 1..4 keep every timestamp off the exact window edge, where
    // the raw path's inclusive BETWEEN and the tier's [start, stop) bins
    // differ by construction (see matrixFrame's boundary note)
    val ev = (0 until 4).flatMap { s =>
      (0 until 180).map { i =>
        (s.toLong, t0 + i * 60L + s + 1, (i % 7) * 0.25 + s)
      }
    }.toDF("stream_id", "timestamp", "value")
    RollupStream.appendPartials(ev, 60, "value", s"$dir/t60", epoch = 0L)
    RollupStream.appendPartials(ev, 3600, "value", s"$dir/t3600", epoch = 0L)
    val tiers = Service.RollupTiers(
      "value", Map(60L -> s"$dir/t60", 3600L -> s"$dir/t3600"))
    val tsvc = new Service(
      spark,
      data = Map("amp-external" -> ev),
      streams = Map("amp-external" -> streamsDim),
      rollups = Map("amp-external" -> tiers))
    val lbl = Map("x" -> Seq(0L, 1L), "y" -> Seq(2L, 3L))
    val aggs = Seq("avg", "sum", "min", "max", "count", "stddev")
      .map(AggSpec("value", _))

    // hour-aligned window >= 1 h → the 1-h tier serves it (the plan scans
    // tier files; the raw fact frame appears nowhere in it)
    val routed = tsvc.matrixFrame("amp-external", lbl, aggs, t0, t0 + 7200)
    val routedPlan = routed.queryExecution.executedPlan.toString
    assert(routedPlan.contains("t3600"), s"matrix must scan the 1-h tier:\n$routedPlan")
    assert(!routedPlan.contains("t60]") && !routedPlan.contains("t60/"))
    // … and the reply matches the raw full-scan path, row for row
    val raw = graft.query.QueryEngine
      .selectMatrixData(ev, lbl, aggs, t0, t0 + 7200)
    assert(routed.schema.map(f => (f.name, f.dataType)) ===
      raw.schema.map(f => (f.name, f.dataType)))
    val got = routed.collect().map(r => r.getString(0) -> r).toMap
    raw.collect().foreach { r =>
      val g = got(r.getString(0))
      raw.schema.fieldNames.zipWithIndex.foreach { case (n, i) =>
        if (n == "value_stddev")
          assert(math.abs(g.getDouble(i) - r.getDouble(i)) < 1e-9, n)
        else assert(g.get(i) === r.get(i), n)
      }
    }

    // sub-hour aligned window → the 1-min tier
    val shortPlan = tsvc.matrixFrame("amp-external", lbl, aggs, t0, t0 + 1800)
      .queryExecution.executedPlan.toString
    assert(shortPlan.contains("t60") && !shortPlan.contains("t3600"))

    // unaligned window / underivable aggregate → raw fallback (exactness
    // beats tier economy when bins don't fit the request)
    val unaligned = tsvc.matrixFrame("amp-external", lbl, aggs, t0 + 30, t0 + 7230)
    assert(!unaligned.queryExecution.executedPlan.toString.contains(dir))
    val most = tsvc.matrixFrame(
      "amp-external", lbl, Seq(AggSpec("value", "most")), t0, t0 + 7200)
    assert(!most.queryExecution.executedPlan.toString.contains(dir))

    // [start, stop) on BOTH paths: a point at exactly `stop` is counted by
    // neither the routed plan nor the raw fallback, so configuring tiers
    // can never silently change a dashboard's numbers
    val edge = Seq((0L, t0, 1.0), (0L, t0 + 3599, 2.0), (0L, t0 + 3600, 7.0))
      .toDF("stream_id", "timestamp", "value")
    RollupStream.appendPartials(edge, 3600, "value", s"$dir/edge3600", epoch = 0L)
    val esvc = new Service(
      spark,
      data = Map("amp-external" -> edge),
      streams = Map("amp-external" -> streamsDim),
      rollups = Map("amp-external" ->
        Service.RollupTiers("value", Map(3600L -> s"$dir/edge3600"))))
    val elbl = Map("x" -> Seq(0L))
    val cnt = Seq(AggSpec("value", "count"), AggSpec("value", "max"))
    val viaTier = esvc.matrixFrame("amp-external", elbl, cnt, t0, t0 + 3600)
    assert(viaTier.queryExecution.executedPlan.toString.contains("edge3600"))
    val rawSvc = new Service(
      spark,
      data = Map("amp-external" -> edge),
      streams = Map("amp-external" -> streamsDim))
    val viaRaw = rawSvc.matrixFrame("amp-external", elbl, cnt, t0, t0 + 3600)
    val tRow = viaTier.collect().head
    val rRow = viaRaw.collect().head
    val ci = viaTier.schema.fieldIndex("value_count")
    val mi = viaTier.schema.fieldIndex("value_max")
    assert(tRow.getLong(ci) === 2L, "tier path must exclude the point at stop")
    assert(rRow.getLong(ci) === 2L, "raw path must exclude the point at stop")
    assert(tRow.getDouble(mi) === 2.0 && rRow.getDouble(mi) === 2.0)
  }

  test("matrix tier routing: multi-column + mode requests route; unconfigured fall back") {
    import graft.streaming.RollupStream
    val dir = java.nio.file.Files.createTempDirectory("graftmatrixm").toString
    val t0 = 1704067200L
    // exact-in-both-representations values (the single-column spec's
    // trick): 0.25-step doubles and small integers, so the tier's decimal
    // partials and the raw double path agree bit-for-bit
    val ev = (0 until 4).flatMap { s =>
      (0 until 180).map { i =>
        (s.toLong, t0 + i * 60L + s + 1, (i % 7) * 0.25 + s,
          (i % 11).toLong, Seq("icmp", "dns", "http")(i % 3))
      }
    }.toDF("stream_id", "timestamp", "value", "event_id", "event_type")
    RollupStream.appendPartials(ev, 3600, "value", s"$dir/m3600", epoch = 0L,
      extraCols = Seq("event_id"), modeCols = Seq("event_type"))
    val tsvc = new Service(
      spark,
      data = Map("amp-external" -> ev),
      streams = Map("amp-external" -> streamsDim),
      rollups = Map("amp-external" -> Service.RollupTiers(
        "value", Map(3600L -> s"$dir/m3600"),
        extraCols = Seq("event_id"), modeCols = Seq("event_type"))))
    val lbl = Map("x" -> Seq(0L, 1L), "y" -> Seq(2L, 3L))
    val aggs = Seq(
      AggSpec("value", "avg"), AggSpec("event_id", "avg"),
      AggSpec("event_id", "max"), AggSpec("event_type", "most"))

    // second stat column + `most` route through the tier...
    val routed = tsvc.matrixFrame("amp-external", lbl, aggs, t0, t0 + 7200)
    val routedPlan = routed.queryExecution.executedPlan.toString
    assert(routedPlan.contains("m3600"), s"must scan the tier:\n$routedPlan")
    // ...and the reply matches the raw full-scan path row for row
    val raw = graft.query.QueryEngine
      .selectMatrixData(ev, lbl, aggs, t0, t0 + 7200)
    assert(routed.schema.map(f => (f.name, f.dataType)) ===
      raw.schema.map(f => (f.name, f.dataType)))
    val cmpCols = raw.schema.fieldNames.toSeq
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(cmpCols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq).toSeq
    assert(snap(routed) === snap(raw))

    // `most` on a column without a mode map, or a stat on a column the
    // tier does not carry → exact raw fallback
    val noMap = tsvc.matrixFrame(
      "amp-external", lbl, Seq(AggSpec("event_id", "most")), t0, t0 + 7200)
    assert(!noMap.queryExecution.executedPlan.toString.contains(dir))
    val offTier = tsvc.matrixFrame(
      "amp-external", lbl,
      Seq(AggSpec("value", "avg"), AggSpec("stream_id", "avg")), t0, t0 + 7200)
    assert(!offTier.queryExecution.executedPlan.toString.contains(dir))
  }

  test("matrix tier routing: smoke serves from the percentile-grid tier (influx.py:663-735)") {
    import graft.streaming.RollupStream
    val dir = java.nio.file.Files.createTempDirectory("graftmatrixs").toString
    val t0 = 1704067200L
    // quarter-step values: exact in double AND in DECIMAL(18,6), so grid
    // interpolation and the weighted merge stay on dyadic rationals
    val rows = (0 until 3).flatMap { s =>
      (0 until 150).map { i =>
        (s.toLong, t0 + i * 60L + s + 1, (i % 13) * 0.25 + s)
      }
    }
    val ev = rows.toDF("stream_id", "timestamp", "value")
    RollupStream.appendPartials(ev, 3600, "value", s"$dir/s3600", epoch = 0L,
      smokeCols = Seq("value"))
    val tsvc = new Service(
      spark,
      data = Map("amp-external" -> ev),
      streams = Map("amp-external" -> streamsDim),
      rollups = Map("amp-external" -> Service.RollupTiers(
        "value", Map(3600L -> s"$dir/s3600"), smokeCols = Seq("value"))))
    val lbl = Map("x" -> Seq(0L, 1L), "y" -> Seq(2L))
    val aggs = Seq(AggSpec("value", "smoke"), AggSpec("value", "count"))

    val routed = tsvc.matrixFrame("amp-external", lbl, aggs, t0, t0 + 7200)
    val routedPlan = routed.queryExecution.executedPlan.toString
    assert(routedPlan.contains("s3600"), s"smoke matrix must scan the tier:\n$routedPlan")

    // expected semantics, computed independently: per (stream, bin) the
    // weighted-form percentile grid (the arrangement Spark's percentile
    // and DuckDB's quantile_cont share), each slot quantized to 6 dp and
    // count-weighted; per label Σ(slot·cnt)/Σcnt, window max as slot 20
    def pctl(sorted: Vector[Double], p: Double): Double = {
      val h = p * (sorted.length - 1)
      val lo = math.floor(h).toInt
      val hi = math.ceil(h).toInt
      if (lo == hi) sorted(lo) else sorted(lo) * (hi - h) + sorted(hi) * (h - lo)
    }
    val byLabel = rows
      .filter { case (_, ts, _) => ts - ts % 3600 >= t0 && ts - ts % 3600 < t0 + 7200 }
      .groupBy { case (s, _, _) => if (s < 2) "x" else "y" }
    val expected = byLabel.map { case (l, rs) =>
      val bins = rs.groupBy { case (s, ts, _) => (s, ts - ts % 3600) }.values.toSeq
      val n = rs.size
      val slots = (1 to 19).map { k =>
        bins.map { b =>
          val g = pctl(b.map(_._3).sorted.toVector, k / 20.0)
          BigDecimal(g).setScale(6, BigDecimal.RoundingMode.HALF_UP) * b.size
        }.sum.toDouble / n
      }
      l -> (slots :+ rs.map(_._3).max)
    }
    val got = routed.collect()
      .map(r => r.getString(0) -> r.getSeq[Double](r.fieldIndex("value_smoke")))
      .toMap
    expected.foreach { case (l, exp) =>
      assert(got(l).size === 20)
      got(l).zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
        assert(math.abs(g - e) < 1e-9, s"label $l slot $i: got $g expected $e")
      }
    }

    // compaction folds the grid partials without changing the answer:
    // append a second epoch (late rows in the same bins), read the
    // uncompacted two-partial tier, compact, compare bit for bit
    val late = (0 until 3).map { s =>
      (s.toLong, t0 + 3600L + 1800L + s, 2.5 + s)
    }.toDF("stream_id", "timestamp", "value")
    RollupStream.appendPartials(late, 3600, "value", s"$dir/s3600", epoch = 1L,
      smokeCols = Seq("value"))
    def answer(): Seq[Seq[Any]] = graft.rollup.Rollup
      .matrixFromTier(
        RollupStream.readTier(spark, s"$dir/s3600"), lbl, aggs, t0, t0 + 7200,
        primaryCol = "value")
      .collect().map(_.toSeq).toSeq
    val before = answer()
    RollupStream.compact(spark, s"$dir/s3600")
    assert(answer() === before, "compaction must not change the tier-served smoke")

    // smoke on a column without a grid → exact raw fallback
    val noGrid = new Service(
      spark,
      data = Map("amp-external" -> ev),
      streams = Map("amp-external" -> streamsDim),
      rollups = Map("amp-external" -> Service.RollupTiers(
        "value", Map(3600L -> s"$dir/s3600"))))
    val fellBack = noGrid.matrixFrame("amp-external", lbl, aggs, t0, t0 + 7200)
    assert(!fellBack.queryExecution.executedPlan.toString.contains(dir))
  }

  test("binned aggregate routes through the tier (graph history from CQs)") {
    import graft.streaming.RollupStream
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graftaggbin").toString
    val t0 = 1704067200L
    // exact-in-both-representations values (the matrix specs' trick)
    val ev = (0 until 4).flatMap { s =>
      (0 until 360).map { i =>
        (s.toLong, t0 + i * 60L + s + 1, (i % 7) * 0.25 + s,
          Seq("icmp", "dns", "http")(i % 3))
      }
    }.toDF("stream_id", "timestamp", "value", "event_type")
    RollupStream.appendPartials(ev, 3600, "value", s"$dir/a3600", epoch = 0L,
      modeCols = Seq("event_type"), smokeCols = Seq("value"))
    val tsvc = new Service(
      spark,
      data = Map("amp-external" -> ev),
      streams = Map("amp-external" -> streamsDim),
      rollups = Map("amp-external" -> Service.RollupTiers(
        "value", Map(3600L -> s"$dir/a3600"),
        modeCols = Seq("event_type"), smokeCols = Seq("value"))))
    val lbl = Map("x" -> Seq(0L, 1L), "y" -> Seq(2L, 3L))
    val aggs = Seq(
      AggSpec("value", "avg"), AggSpec("value", "count"),
      AggSpec("value", "stddev"), AggSpec("event_type", "most"),
      AggSpec("value", "smoke"))

    // 2-h bins over a 6-h window: the 1-h tier nests inside every
    // requested bin → routed, raw fact frame nowhere in the plan
    val routed = tsvc.aggFrame("amp-external", lbl, aggs, t0, t0 + 21600, 7200)
    val plan = routed.queryExecution.executedPlan.toString
    assert(plan.contains("a3600"), s"binned aggregate must scan the tier:\n$plan")
    // shape matches the raw path; stats + mode match it ROW FOR ROW
    // (tier-served smoke is the documented grid twin of raw ntile-20, so
    // its VALUES are gated by the q_agg_tier_bins oracle, not equality)
    val raw = graft.query.QueryEngine.selectAggregatedData(
      ev.filter(col("timestamp") < t0 + 21600), lbl, aggs, t0, t0 + 21600, 7200)
    assert(routed.schema.map(f => (f.name, f.dataType)) ===
      raw.schema.map(f => (f.name, f.dataType)))
    val exactCols =
      Seq("nntsclabel", "binstart", "value_avg", "value_count", "event_type",
        "timestamp")
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(exactCols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(snap(routed) === snap(raw))
    val rRows = routed.collect()
    assert(rRows.length === 2 * 3) // 2 labels × 3 requested bins
    val si = routed.schema.fieldIndex("value_stddev")
    raw.collect().zip(rRows).foreach { case (a, b) =>
      assert(math.abs(a.getDouble(si) - b.getDouble(si)) < 1e-9, "stddev")
      val smoke = b.getSeq[Double](routed.schema.fieldIndex("value_smoke"))
      assert(smoke.size === 20, "19 grid slots + window max")
    }

    // off-grid binsize, extra group columns, unaligned edges → raw
    assert(!tsvc.aggFrame("amp-external", lbl, aggs, t0, t0 + 21600, 5400)
      .queryExecution.executedPlan.toString.contains(dir))
    assert(!tsvc
      .aggFrame("amp-external", lbl, aggs.take(2), t0, t0 + 21600, 7200,
        groupcols = Seq("event_type"))
      .queryExecution.executedPlan.toString.contains(dir))
    assert(!tsvc.aggFrame("amp-external", lbl, aggs, t0 + 30, t0 + 21630, 7200)
      .queryExecution.executedPlan.toString.contains(dir))

    // binsize 0 collapses to the matrix shape: routed, min_timestamp back
    val single = tsvc.aggFrame("amp-external", lbl, aggs, t0, t0 + 21600, 0)
    assert(single.queryExecution.executedPlan.toString.contains("a3600"))
    assert(single.columns.contains("min_timestamp"))

    // half-open contract on a tier-configured collection: the raw
    // FALLBACK pre-filters timestamp < stop too, so an underivable agg
    // cannot disagree with a routed one about the window edge — while a
    // tier-less collection keeps dbselect's stop-INCLUSIVE window
    val edge = Seq((0L, t0, 1.0), (0L, t0 + 7199, 2.0), (0L, t0 + 7200, 7.0))
      .toDF("stream_id", "timestamp", "value")
    val elbl = Map("x" -> Seq(0L))
    val cnt = Seq(AggSpec("stream_id", "avg"), AggSpec("value", "count"))
    val esvc = new Service(
      spark,
      data = Map("amp-external" -> edge),
      streams = Map("amp-external" -> streamsDim),
      rollups = Map("amp-external" -> Service.RollupTiers(
        "value", Map(3600L -> s"$dir/a3600"))))
    val eRow = esvc.aggFrame("amp-external", elbl, cnt, t0, t0 + 7200, 0)
      .collect().head
    assert(eRow.getAs[Long]("value") === 2L,
      "tiered collection: fallback must exclude the point at stop")
    val incl = new Service(
      spark,
      data = Map("amp-external" -> edge),
      streams = Map("amp-external" -> streamsDim))
      .aggFrame("amp-external", elbl, cnt, t0, t0 + 7200, 0)
      .collect().head
    assert(incl.getAs[Long]("value") === 3L,
      "tier-less collection keeps the inclusive dbselect window")
  }

  test("smoke sparse clamp: <20-sample bins pack the 100/n-stepped subset (influx.py:694-712)") {
    import graft.streaming.RollupStream
    // the slot-selection formula itself, against the reference's Python
    // (range_step = 100//n - (100//n % 5); range_bottom = 100 - step·(n-1))
    assert(graft.rollup.Rollup.clampPercents(0) === Nil)
    assert(graft.rollup.Rollup.clampPercents(1) === Nil)
    assert(graft.rollup.Rollup.clampPercents(2) === Seq(50))
    assert(graft.rollup.Rollup.clampPercents(3) === Seq(40, 70))
    assert(graft.rollup.Rollup.clampPercents(7) === Seq(40, 50, 60, 70, 80, 90))
    assert(graft.rollup.Rollup.clampPercents(19) === (10 until 100 by 5))
    assert(graft.rollup.Rollup.clampPercents(20) === (5 until 100 by 5))
    // each sparse n reports exactly n slots (counting the max) — the
    // reference's "don't return more percentiles than we have results"
    (2 to 19).foreach(n =>
      assert(graft.rollup.Rollup.clampPercents(n).size === n - 1, s"n=$n"))

    val dir = java.nio.file.Files.createTempDirectory("graftclamp").toString
    val t0 = 1704067200L
    // stream 0: a 7-sample bin; stream 1: a single sample; stream 2: 25
    // samples (above the clamp threshold — full grid)
    val vals7 = Seq(1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0)
    val rows = vals7.zipWithIndex.map { case (v, i) => (0L, t0 + i * 60L, v) } ++
      Seq((1L, t0 + 10L, 5.0)) ++
      (0 until 25).map(i => (2L, t0 + i * 60L, i * 0.25))
    val ev = rows.toDF("stream_id", "timestamp", "value")
    RollupStream.appendPartials(ev, 3600, "value", s"$dir/c3600", epoch = 0L,
      smokeCols = Seq("value"))
    def serve(clamp: Boolean) = new Service(
      spark,
      data = Map("amp-external" -> ev),
      streams = Map("amp-external" -> streamsDim),
      rollups = Map("amp-external" -> Service.RollupTiers(
        "value", Map(3600L -> s"$dir/c3600"), smokeCols = Seq("value"),
        smokeSparseClamp = clamp)))
      .matrixFrame(
        "amp-external",
        Map("s7" -> Seq(0L), "s1" -> Seq(1L), "s25" -> Seq(2L)),
        Seq(AggSpec("value", "smoke")), t0, t0 + 3600)
      .collect()
      .map(r => r.getString(0) -> Option(r.getSeq[Double](r.fieldIndex("value"))))
      .toMap

    def pctl(sorted: Vector[Double], p: Double): Double = {
      val h = p * (sorted.length - 1)
      val lo = math.floor(h).toInt
      val hi = math.ceil(h).toInt
      if (lo == hi) sorted(lo) else sorted(lo) * (hi - h) + sorted(hi) * (h - lo)
    }
    val grid7 = (1 to 19).map(k => pctl(vals7.toVector, k / 20.0))

    val clamped = serve(clamp = true)
    // 7 samples → the 40..90-step-10 subset of the grid plus the max: 7 slots
    val exp7 = Seq(40, 50, 60, 70, 80, 90).map(p => grid7(p / 5 - 1)) :+ 64.0
    assert(clamped("s7").get.size === 7)
    clamped("s7").get.zip(exp7).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-6, s"s7: got ${clamped("s7").get} expected $exp7")
    }
    // 1 sample → the max alone; >= 20 samples → the full 20-slot pack
    assert(clamped("s1").get === Seq(5.0))
    assert(clamped("s25").get.size === 20)

    // flag off (the default): every populated window packs all 20 slots
    val unclamped = serve(clamp = false)
    assert(unclamped("s7").get.size === 20 && unclamped("s1").get.size === 20)
  }

  test("smoke nearest-rank tier: Influx percentile() byte parity on sparse bins (influx.py:663-668, 694-721)") {
    import graft.streaming.RollupStream
    val dir = java.nio.file.Files.createTempDirectory("graftnr").toString
    val t0 = 1704067200L
    val vals7 = Seq(1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0)
    val rows = vals7.zipWithIndex.map { case (v, i) => (0L, t0 + i * 60L, v) } ++
      Seq((1L, t0 + 10L, 5.0))
    val ev = rows.toDF("stream_id", "timestamp", "value")
    RollupStream.appendPartials(ev, 3600, "value", s"$dir/nr3600", epoch = 0L,
      smokeCols = Seq("value"), smokeNearestRank = true)
    val got = new Service(
      spark,
      data = Map("amp-external" -> ev),
      streams = Map("amp-external" -> streamsDim),
      rollups = Map("amp-external" -> Service.RollupTiers(
        "value", Map(3600L -> s"$dir/nr3600"), smokeCols = Seq("value"),
        smokeSparseClamp = true)))
      .matrixFrame(
        "amp-external", Map("s7" -> Seq(0L), "s1" -> Seq(1L)),
        Seq(AggSpec("value", "smoke")), t0, t0 + 3600)
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](r.fieldIndex("value")))
      .toMap

    // the reference's pipeline for a 7-sample bin: influx percentile(v, p)
    // = sorted[floor(n*p/100 + 0.5) - 1] (nearest rank), clamped to the
    // 100/n-stepped subset {40,50,60,70,80,90}, non-None only, max last
    def influxPctl(p: Int): Option[Double] = {
      val i = math.floor(vals7.length * p / 100.0 + 0.5).toInt - 1
      if (i < 0) None else Some(vals7(i))
    }
    val expected7 = Seq(40, 50, 60, 70, 80, 90).flatMap(influxPctl) :+ 64.0
    assert(got("s7") === expected7,
      s"nearest-rank 7-sample pack: got ${got("s7")} expected $expected7")
    // a single sample has no percentiles at all — the max alone survives
    assert(got("s1") === Seq(5.0))
  }

  test("smoke nearest-rank tier: multi-bin window merge uses per-slot denominators") {
    // a sparse bin's low-percentile slots are NULL but its samples still
    // count: the merged slot must divide by Σ(cnt | slot non-null), not
    // the shared Σcnt — else every percentile a sparse bin skips is biased
    // low in any window that also contains a dense bin (ADVICE r9)
    val t0 = 1704067200L
    val sparse = Seq(1.0, 2.0, 3.0)                       // hour 0: n=3
    val dense = (10 until 30).map(_.toDouble)             // hour 1: n=20
    val rows = sparse.zipWithIndex.map { case (v, i) => (0L, t0 + i * 60L, v) } ++
      dense.zipWithIndex.map { case (v, i) => (0L, t0 + 3600L + i * 60L, v) }
    val tier = Rollup.buildMulti(
      rows.toDF("stream_id", "timestamp", "value"), 3600, Seq("value"),
      smokeCols = Seq("value"), smokeNearestRank = true)
    val got = Rollup.matrixFromTier(
      tier, Map("g" -> Seq(0L)), Seq(AggSpec("value", "smoke")),
      t0, t0 + 7200)
      .collect().map(r => r.getSeq[Double](r.fieldIndex("value"))).head

    // per-bin nearest-rank grids (idx = floor(n·p + 0.5), 1-based; 0 → None)
    def grid(vs: Seq[Double]): Seq[Option[Double]] = (1 to 19).map { k =>
      val i = math.floor(vs.length * k / 20.0 + 0.5).toInt
      if (i >= 1) Some(vs.sorted.apply(i - 1)) else None
    }
    val (gs, gd) = (grid(sparse), grid(dense))
    val expected = (0 until 19).map { i =>
      val parts = Seq(gs(i).map(_ * sparse.length) -> sparse.length,
        gd(i).map(_ * dense.length) -> dense.length)
      val num = parts.flatMap(_._1).sum
      val den = parts.collect { case (Some(_), c) => c }.sum
      num / den
    } :+ 29.0
    assert(got.size === 20)
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-6, s"merged grid: got $got expected $expected")
    }
    // slots 1..3 (p <= 15%) exist only in the dense bin: they must equal
    // its values exactly, not be dragged low by the sparse bin's 3 samples
    assert(got(0) === gd(0).get && got(2) === gd(2).get)
  }

  test("smoke nearest-rank tier: compaction is serve-transparent (per-slot counts persist)") {
    // two EPOCHS land in the SAME tier bin: a dense first write (n=20) and
    // a sparse late arrival (n=3, low-percentile slots NULL). Compaction
    // folds them into one row with cnt=23 — if serving then re-derived
    // slot population from that folded cnt, it would weight the dense
    // epoch's slot-1..3 partials by 23 instead of 20 and bias the merged
    // percentiles low (r10 review). The tier persists per-slot populated
    // counts (smoken__) precisely so the fold stays transparent.
    import graft.streaming.RollupStream
    val dir = java.nio.file.Files.createTempDirectory("graftnrfold").toString
    val t0 = 1704067200L
    val dense = (10 until 30).map(_.toDouble)
    val sparse = Seq(1.0, 2.0, 3.0)
    RollupStream.appendPartials(
      dense.zipWithIndex.map { case (v, i) => (0L, t0 + i * 60L, v) }
        .toDF("stream_id", "timestamp", "value"),
      3600, "value", s"$dir/nr", epoch = 0L,
      smokeCols = Seq("value"), smokeNearestRank = true)
    RollupStream.appendPartials(
      sparse.zipWithIndex.map { case (v, i) => (0L, t0 + 1800L + i * 60L, v) }
        .toDF("stream_id", "timestamp", "value"),
      3600, "value", s"$dir/nr", epoch = 1L,
      smokeCols = Seq("value"), smokeNearestRank = true)
    def answer(): Seq[Seq[Any]] = Rollup
      .matrixFromTier(
        RollupStream.readTier(spark, s"$dir/nr"), Map("g" -> Seq(0L)),
        Seq(AggSpec("value", "smoke")), t0, t0 + 3600,
        primaryCol = "value")
      .collect().map(_.toSeq).toSeq
    // nearest-rank is detected from the tier schema (smoken__ column):
    // the serve call names no mode, and the slot-1 check below fails on
    // the biased shared-denominator merge (r10 review)
    val before = answer()
    RollupStream.compact(spark, s"$dir/nr")
    assert(answer() === before,
      "compaction must not change nearest-rank tier-served smoke")
    // and the before-answer itself weights slot 1 by the dense epoch only:
    // slot 1 (5th pctl) = dense grid value exactly
    // NB mutable.ArraySeq (what Row.toSeq yields for arrays) is not an
    // immutable.Seq — match the collection root type
    val slot1 = before.head
      .collect { case s: scala.collection.Seq[_] => s }.head.head
      .asInstanceOf[Double]
    val denseIdx = math.floor(dense.length * 0.05 + 0.5).toInt
    assert(slot1 === dense.sorted.apply(denseIdx - 1))
  }

  test("path interning: join-or-insert semantics (J3)") {
    val empty = Seq.empty[(Int, Seq[String], Int)].toDF("path_id", "path", "length")
    val batch1 = Seq(Tuple1(Seq("a", "b")), Tuple1(Seq("c"))).toDF("path")
    val dim1 = PathIntern.intern(empty, batch1)
    assert(dim1.count() === 2)
    // re-interning the same paths plus one new: ids stable, one added
    val batch2 = Seq(Tuple1(Seq("a", "b")), Tuple1(Seq("x", "y", "z"))).toDF("path")
    val dim2 = PathIntern.intern(dim1, batch2)
    assert(dim2.count() === 3)
    val ids1 = dim1.collect().map(r => r.getSeq[String](1) -> r.getInt(0)).toMap
    val ids2 = dim2.collect().map(r => r.getSeq[String](1) -> r.getInt(0)).toMap
    assert(ids1.forall { case (p, id) => ids2(p) == id })
    // resolve maps rows to interned ids
    val rows = Seq((100L, Seq("a", "b")), (200L, Seq("x", "y", "z")))
      .toDF("timestamp", "path")
    val resolved = PathIntern.resolve(rows, dim2).collect()
    assert(resolved.forall(!_.isNullAt(resolved(0).fieldIndex("path_id"))))
  }

  /** Spark jobs `body` submits from this thread. The jobs are tagged by a
    * job group; a marker job submitted after them proves the (FIFO)
    * listener bus has delivered every earlier job start.
    */
  /** `body` with session confs set, each restored afterwards. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val was = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally was.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def jobsRun(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener stalled")
      jobs.get
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  /** A Service over one 60 s tier at `dir`, collection "c". */
  private def tierService(dir: String) = new Service(
    spark,
    data = Map("c" -> Seq.empty[(Long, Long, Double)].toDF("stream_id", "timestamp", "value")),
    streams = Map.empty,
    rollups = Map("c" -> Service.RollupTiers("value", Map(60L -> dir))))

  test("tier frame cache: appended epochs show, folds change no answer, crashed folds stay hidden") {
    import graft.streaming.RollupStream
    val dir = java.nio.file.Files.createTempDirectory("graftcache").toString + "/t60"
    val t0 = 1704067200L
    def batch(ids: Seq[Long], from: Int) =
      ids.flatMap(s => (from until from + 6).map(i => (s, t0 + i * 20L, (i * 3 + s).toDouble)))
    val b0 = batch(Seq(0L, 1L, 2L), 0)
    val b1 = batch(Seq(0L, 2L), 6)
    val b2 = batch(Seq(1L), 12)
    def append(b: Seq[(Long, Long, Double)], epoch: Long): Unit =
      RollupStream.appendPartials(
        b.toDF("stream_id", "timestamp", "value"), 60, "value", dir, epoch)
    val lbl = Map("x" -> Seq(0L, 1L), "y" -> Seq(2L))
    val aggs = Seq(AggSpec("value", "count"), AggSpec("value", "sum"))
    val tsvc = tierService(dir)
    def served = tsvc.matrix("c", lbl, aggs, t0, t0 + 600)
      .map(r => (r.getAs[String]("nntsclabel"), r.getAs[Long]("value_count"),
        r.getAs[Double]("value_sum")))
    def expected(ev: Seq[(Long, Long, Double)]) =
      lbl.toSeq.sortBy(_._1).map { case (l, ids) =>
        val in = ev.filter(e => ids.contains(e._1))
        (l, in.size.toLong, in.map(_._3).sum)
      }

    append(b0, 0L)
    assert(served === expected(b0))
    val f0 = tsvc.tierFrame(dir)
    assert(tsvc.tierFrame(dir) eq f0, "unchanged tier: the frame is reused")
    // a new epoch after a request: the next request reads again and sees it
    append(b1, 1L)
    assert(served === expected(b0 ++ b1))
    assert(!(tsvc.tierFrame(dir) eq f0))
    // a committed fold swaps the visible files; the answer stays the same
    val f1 = tsvc.tierFrame(dir)
    RollupStream.compact(spark, dir)
    assert(served === expected(b0 ++ b1))
    assert(!(tsvc.tierFrame(dir) eq f1))
    // a fold that dies before its commit marker stays invisible: its rows
    // (which re-cover every epoch) must not be counted a second time
    append(b2, 2L)
    assert(served === expected(b0 ++ b1 ++ b2))
    intercept[IllegalStateException](RollupStream.compact(spark, dir,
      onStep = st => if (st == "fold-written") throw new IllegalStateException("crash")))
    assert(new java.io.File(dir, "__epoch=-2").isDirectory, "the crashed fold left its files")
    assert(RollupStream.listTier(dir).files.forall(!_._1.contains("__epoch=-2")))
    assert(served === expected(b0 ++ b1 ++ b2))
  }

  test("tier-routed matrix and aggregate requests run 2 Spark jobs each") {
    import graft.streaming.RollupStream
    val dir = java.nio.file.Files.createTempDirectory("graftjobs").toString + "/t60"
    val t0 = 1704067200L
    val ev = (0 until 4).flatMap(s => (0 until 90).map(i => (s.toLong, t0 + i * 20L, i.toDouble)))
      .toDF("stream_id", "timestamp", "value")
    RollupStream.appendPartials(ev, 60, "value", dir, epoch = 0L)
    val tsvc = tierService(dir)
    val lbl = Map("x" -> Seq(0L, 1L), "y" -> Seq(2L, 3L))
    val aggs = Seq(AggSpec("value", "avg"), AggSpec("value", "max"))
    tsvc.matrix("c", lbl, aggs, t0, t0 + 1800) // first request reads the tier
    assert(jobsRun(assert(tsvc.matrix("c", lbl, aggs, t0, t0 + 1800).size === 2)) === 2)
    assert(jobsRun(assert(
      tsvc.aggregate("c", lbl, aggs, t0, t0 + 1800, 600).flatMap(_.rows).size === 6)) === 2)
  }

  test("tier-served aggregate spanning shuffle partitions: (label, binstart) order, label-contiguous chunks") {
    import graft.streaming.RollupStream
    val dir = java.nio.file.Files.createTempDirectory("graftorder").toString + "/t60"
    val t0 = 1704067200L
    // 6 labels × 30 requested bins = 180 fold keys, hashed over the
    // session's 4 shuffle partitions (partition coalescing off, so the
    // fold really does run in several partitions)
    val ev = (0 until 12).flatMap(s => (0 until 180).map(i => (s.toLong, t0 + i * 20L, (i % 11).toDouble)))
      .toDF("stream_id", "timestamp", "value")
    RollupStream.appendPartials(ev, 60, "value", dir, epoch = 0L)
    val tsvc = tierService(dir)
    val lbl = (0 until 6).map(l => s"l$l" -> Seq(l.toLong, l + 6L)).toMap
    val aggs = Seq(AggSpec("value", "avg"), AggSpec("value", "count"))
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val frame = tsvc.aggFrame("c", lbl, aggs, t0, t0 + 3600, 120)
      assert(frame.queryExecution.executedPlan.toString.contains("t60"), "tier-routed")
      val got = frame.collect().map(r => (r.getAs[String]("nntsclabel"), r.getAs[Long]("binstart"))).toSeq
      assert(got.size === 6 * 30)
      assert(got === got.sorted)
      val chunks = tsvc.aggregate("c", lbl, aggs, t0, t0 + 3600, 120).toSeq
      assert(chunks.map(_.label) === lbl.keys.toSeq.sorted, "one contiguous run per label")
      assert(chunks.flatMap(c => c.rows.map(r => (c.label, r.getAs[Long]("binstart")))) === got)
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // a parquet data table of int stream ids (FilePoller's shape): streams
  // 0-11 with 200 rows at 60 s, stream 20 with 12 000 rows at 10 s (more
  // than one history chunk), timestamps unique within every label below;
  // and a 60 s tier of the same rows
  private val rt0 = 1704067200L // hour-aligned
  private lazy val rawStore: (org.apache.spark.sql.DataFrame, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graftraw").toString
    val ev = ((0 until 12).flatMap(s => (0 until 200).map(i => (s, rt0 + i * 60L + s, i * 0.5 + s))) ++
      (0 until 12000).map(i => (20, rt0 + i * 10L, (i % 13).toDouble)))
      .toDF("stream_id", "timestamp", "value")
    ev.write.parquet(s"$dir/data")
    val data = spark.read.parquet(s"$dir/data")
    graft.streaming.RollupStream.appendPartials(data, 60, "value", s"$dir/t60", epoch = 0L)
    (data, s"$dir/t60")
  }
  private lazy val rawSvc = new Service(
    spark,
    data = Map("c" -> rawStore._1),
    streams = Map.empty,
    rollups = Map("c" -> Service.RollupTiers("value", Map(60L -> rawStore._2))))

  test("raw history runs no range-sample job; raw aggregate and matrix fallbacks run 2 jobs") {
    import org.apache.spark.sql.functions.col
    val lbl = Map("x" -> Seq(0L, 1L), "y" -> Seq(2L))
    val aggs = Seq(AggSpec("value", "avg"), AggSpec("value", "max"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def planOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    // history: the scan's map stage, then one job per result partition;
    // AQE merges a small history's partitions into one at any partition
    // count, so the job count does not grow with the cores
    for (n <- Seq(parts, 16)) withConf("spark.sql.shuffle.partitions" -> n.toString) {
      val history = rawSvc.historyFrame("c", lbl, Seq("value"), rt0, rt0 + 12000)
      assert(!planOf(history).contains("rangepartitioning"), planOf(history))
      assert(jobsRun(assert(rawSvc.history("c", lbl, Seq("value"), rt0, rt0 + 12000)
        .flatMap(_.rows).size === 600)) === 2, s"at $n shuffle partitions")
    }
    // windows off the 60 s tier's edges fall back to the raw table
    val (start, stop) = (rt0 + 30, rt0 + 12030)
    val agg = rawSvc.aggFrame("c", lbl, aggs, start, stop, 600)
    val matrix = rawSvc.matrixFrame("c", lbl, aggs, start, stop)
    for (df <- Seq(agg, matrix)) {
      assert(!planOf(df).contains(rawStore._2), "raw fallback")
      assert(!planOf(df).contains("rangepartitioning"), planOf(df))
    }
    // the same rows in the same order as the range-sorted plan
    val before = rawStore._1.filter(col("timestamp") < stop)
    val wantAgg = QueryEngine.selectAggregatedData(before, lbl, aggs, start, stop, 600).collect().toSeq
    val wantMatrix = QueryEngine.selectMatrixData(before, lbl, aggs, start, stop).collect().toSeq
    assert(wantAgg.size === 40)
    assert(jobsRun(assert(
      rawSvc.aggregate("c", lbl, aggs, start, stop, 600).flatMap(_.rows).toSeq === wantAgg)) === 2)
    assert(jobsRun(assert(rawSvc.matrix("c", lbl, aggs, start, stop) === wantMatrix)) === 2)
  }

  test("raw history: the same rows and chunks as the range-sorted plan, for every label shape") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    // the plan history ran before label routing: a global (label, timestamp) sort
    def rangeSorted(labels: Map[String, Seq[Long]], start: Long, stop: Long): Seq[Row] =
      QueryEngine.selectData(rawStore._1, labels, Seq("value"), start, stop)
        .withColumn("binstart", col("timestamp"))
        .orderBy(QueryEngine.LabelCol, "timestamp")
        .collect().toSeq
    // one run per label, cut every HistoryChunkRows rows; all but a run's
    // last chunk say `more`
    def chunksOf(rows: Seq[Row]): Seq[(String, Seq[Seq[Any]], Boolean)] = {
      val runs = rows.foldLeft(Vector.empty[(String, Vector[Row])]) { (acc, r) =>
        val l = r.getString(0)
        if (acc.nonEmpty && acc.last._1 == l) acc.init :+ (l -> (acc.last._2 :+ r))
        else acc :+ (l -> Vector(r))
      }
      runs.flatMap { case (l, rs) =>
        val cut = rs.grouped(Service.HistoryChunkRows).toSeq
        cut.zipWithIndex.map { case (c, i) => (l, c.map(_.toSeq), i < cut.size - 1) }
      }
    }
    // Scala's UTF-16 order and Spark's UTF-8 order disagree on these two
    assert("\uD83D\uDE00" < "\uFF61")
    val t1 = rt0 + 12000
    val twelve = (0 until 12).map(i => s"l$i" -> Seq(i.toLong)).toMap
    val cases = Seq(
      ("empty label map", Map.empty[String, Seq[Long]], rt0, t1),
      ("a label with no rows", Map("none" -> Seq(99L), "a" -> Seq(0L, 1L)), rt0, t1),
      ("one label, two chunks", Map("big" -> Seq(20L)), rt0, rt0 + 120000),
      ("more labels than partitions", twelve, rt0, t1),
      ("a stream under two labels", Map("x" -> Seq(1L, 2L), "y" -> Seq(2L, 3L)), rt0 + 600, t1),
      ("UTF-16 and UTF-8 orders differ", Map("\uFF61" -> Seq(4L), "\uD83D\uDE00" -> Seq(5L)), rt0, t1),
      ("stop = Long.MaxValue", Map("a" -> Seq(0L, 20L), "b" -> Seq(6L)), rt0, Long.MaxValue))
    // partitions as planned, and adjacent ones merged by AQE at the
    // serving sessions' 16k floor: 12 labels drain in 4, then in 2
    val merges = Seq(
      Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false"),
      Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k"))
    for ((conf, n) <- merges.zip(Seq(4, 2))) withConf(conf: _*) {
      val drained = rawSvc.historyFrame("c", twelve, Seq("value"), rt0, t1).queryExecution.toRdd
      assert(drained.getNumPartitions === n, conf)
    }
    for (conf <- merges; (what, labels, start, stop) <- cases) withConf(conf: _*) {
      val got = rawSvc.history("c", labels, Seq("value"), start, stop).toSeq
        .map(c => (c.label, c.rows.map(_.toSeq), c.more))
      val want = chunksOf(rangeSorted(labels, start, stop))
      assert(got === want, s"$what, $conf")
      assert(want.nonEmpty === labels.nonEmpty, what)
    }
  }
}
