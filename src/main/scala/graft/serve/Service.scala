package graft.serve

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.DirectShufflePartitionID
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.Catalog
import graft.functions.ColumnBridge
import graft.query.{AggSpec, Frequency, QueryEngine}
import graft.schema.{Collections, CollectionSpec}

/** The service surface mirroring the reference's TCP protocol
  * (README:326-355; /root/reference/libnntsc/exporter.py): collection
  * listing, schema introspection, incremental stream listing, raw history,
  * binned/aggregated history, matrix summaries — with the reference's
  * paging contract (streams in pages of 1000, exporter.py:641-657; history
  * chunks of 10 000 rows with a `more` flag + inferred frequency,
  * exporter.py:380-512).
  *
  * Wire encoding: `Wire` implements the reference's framing contract
  * (version/type/length header + zlib-compressed history bodies,
  * exporter.py:516-586) with JSON bodies — pickle is Python-VM-specific;
  * the deviation is documented in Wire's scaladoc.
  *
  * Compiled once per request shape: window bounds, binsize and stream ids
  * reach the generated code as bound parameters (`graft.query.Bound`), so
  * a request that differs from an earlier one only in those values reuses
  * its compiled classes instead of paying a Janino compile.
  */
object Service {
  val StreamsPageSize = 1000
  val HistoryChunkRows = 10000
  val MaxCancelFires = 30
  val MaxRawSchemas = 1024

  final case class StreamsReply(rows: Seq[Row], more: Boolean)
  final case class HistoryChunk(label: String, rows: Seq[Row], more: Boolean, freq: Long)

  /** A collection's rollup tiers (the reference's 1-min/1-h continuous-query
    * tables, influx.py:158-195): `tiers` maps binsize → partial-table path
    * (RollupStream.appendPartials layout). The reference's CQs roll up a
    * LIST of columns per collection (one CQ over the whole aggcols list,
    * influx.py:158-173) — `valueCol` is the tier's primary stat column,
    * `extraCols` the additional stat columns (suffixed partials), and
    * `modeCols` the columns carrying per-value count maps for `most`
    * (influx.py:492-511's mode merge, kept exact here — Rollup.buildMulti),
    * and `smokeCols` the columns carrying the count-weighted percentile
    * grid for `smoke` (the reference's 5..95-step-5 grid + max,
    * influx.py:663-668, packed :694-735) — each smoke column must also be
    * a stat column (buildMulti's contract).
    *
    * Serving cost: a request routed to a tier runs 2 Spark jobs, the
    * tier scan with its partial fold and the single-partition result
    * (`Rollup.aggregatedFromTier`). The tier frame itself is kept per path
    * and re-read only when the tier's visible files change (`tierFrame`).
    */
  final case class RollupTiers(
      valueCol: String,
      tiers: Map[Long, String],
      extraCols: Seq[String] = Nil,
      modeCols: Seq[String] = Nil,
      smokeCols: Seq[String] = Nil,
      // opt-in byte-parity with the reference's sparse-bin smokearray
      // packing (influx.py:694-712): windows with < 20 samples emit the
      // 100/n-stepped percentile subset instead of the full 19-slot grid
      smokeSparseClamp: Boolean = false) {
    def statCols: Set[String] = (valueCol +: extraCols).toSet
  }

  /** Matrix aggregates derivable from rollup partials (cnt/s1/s2/mn/mx). */
  private val TierFuncs = Set("max", "min", "sum", "avg", "count", "stddev")

  /** The NNTSC_QUERY_CANCELLED analog (exporter.py:362-378): tells the
    * client the absence of data is a timeout, not an empty range.
    */
  final class QueryCancelledException(val op: String, cause: Throwable)
    extends RuntimeException(s"query cancelled after timeout: $op", cause)

  /** Shared watchdog for query timeouts (daemon — never blocks JVM exit). */
  private[serve] val watchdog =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-query-watchdog")
      t.setDaemon(true)
      t
    })
}

/** @param queryTimeoutSec 0 = no timeout (the reference's
  *   `statement_timeout` default, database.py:256-257); > 0 arms a
  *   watchdog per service call that cancels the call's Spark job group —
  *   a runaway 100 TB scan dies at the timeout instead of holding
  *   executors, and the caller gets QueryCancelledException
  *   (NNTSC_QUERY_CANCELLED).
  */
final class Service(
    private[serve] val spark: SparkSession,
    data: Map[String, DataFrame],
    streams: Map[String, DataFrame],
    queryTimeoutSec: Long = 0,
    rollups: Map[String, Service.RollupTiers] = Map.empty) {
  import Service._

  // tier path → (visible file listing, frame read from it); see tierFrame
  private val tierFrames =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long)], DataFrame)]()

  /** The tier at `path` as a DataFrame, re-read only when its visible
    * files change. Every request lists the tier (driver-side directory
    * listing, no Spark job) and reuses the frame kept for that path while
    * the (path, length) list of visible parquet files is the same; the
    * read itself runs mergeSchema's footer job, which is what reuse saves.
    * A new epoch, a committed fold, or a replayed epoch changes the list,
    * so the next request reads again and sees it. Reuse is GC-safe: a
    * frame is only used while its files are exactly the visible ones, and
    * the grace GC never deletes a file that is still visible. Concurrent
    * misses may each read; the last one kept wins, and either is correct.
    */
  private[graft] def tierFrame(path: String): DataFrame = {
    val listing = graft.streaming.RollupStream.listTier(path)
    val kept = tierFrames.get(path)
    if (kept != null && kept._1 == listing.files) kept._2
    else {
      val df = graft.streaming.RollupStream.readTier(spark, listing)
      tierFrames.put(path, (listing.files, df))
      df
    }
  }

  /** Tag the calling thread with a fresh job group and arm the watchdog.
    * The group is deliberately NOT cleared on exit: chunked history
    * iterators submit their jobs lazily from the caller's thread and must
    * stay cancellable — withCancellationIt re-tags the thread before
    * every draw, so an interleaved service call on the same thread cannot
    * steal the iterator's lazily-submitted jobs out of its group.
    */
  private[graft] def withCancellation[T](op: String)(body: => T): T =
    if (queryTimeoutSec <= 0) body
    else {
      val sc = spark.sparkContext
      val group = s"graft-$op-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(group, s"graft $op (timeout ${queryTimeoutSec}s)",
        interruptOnCancel = true)
      // fire repeatedly once past the deadline: one query = several
      // sequential AQE jobs, and cancelJobGroup only kills jobs running at
      // the instant of the call — later stages must be re-cancelled
      @volatile var fired = false
      val timer = watchdog.scheduleWithFixedDelay(
        new Runnable { def run(): Unit = { fired = true; sc.cancelJobGroup(group) } },
        queryTimeoutSec, 1, java.util.concurrent.TimeUnit.SECONDS)
      try body
      catch {
        // the interruptOnCancel kill can surface as InterruptedException or
        // an IO error with no "cancelled" in its message — but ONLY
        // interrupt/IO-shaped failures reclassify after the deadline; a
        // genuine post-deadline failure (executor loss, OOM, analysis
        // error) propagates with its own root cause instead of
        // masquerading as a timeout
        case e: Throwable if isCancellation(e) || (fired && isInterruptLike(e)) =>
          throw new QueryCancelledException(op, e)
      } finally timer.cancel(false)
    }

  private def isCancellation(e: Throwable): Boolean =
    e != null && (
      e.isInstanceOf[InterruptedException] ||
        Option(e.getMessage).exists(m =>
          m.contains("cancelled") || m.contains("canceled")) ||
        isCancellation(e.getCause))

  /** A failure shape the watchdog's interrupt can plausibly have produced
    * (InterruptedException, or an IO error from a connection torn down
    * mid-read). Anything else that happens to land after the deadline is a
    * real failure and must keep its own identity.
    */
  private def isInterruptLike(e: Throwable): Boolean =
    e != null && (
      e.isInstanceOf[InterruptedException] ||
        e.isInstanceOf[java.io.IOException] ||
        e.isInstanceOf[java.nio.channels.ClosedChannelException] ||
        isInterruptLike(e.getCause))

  /** NNTSC_REQ_COLLECTION → the registry. */
  def collections(): Seq[(Int, String, String)] =
    Catalog.collectionsTable(spark).collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))

  /** NNTSC_REQ_SCHEMA → (streams schema, data schema) (dbselect.py:112-139). */
  def schema(collection: String): (StructType, StructType) = {
    val spec = spec0(collection)
    (spec.streamSchema, spec.dataSchema)
  }

  /** NNTSC_REQ_STREAMS with `minid` incremental listing + paging
    * (database.py:296-364; exporter.py:641-657).
    */
  def streamsPage(collection: String, minId: Int): StreamsReply =
    withCancellation("streams") {
      val page = streams(collection)
        .filter(col("stream_id") > minId)
        .orderBy("stream_id")
        .limit(StreamsPageSize + 1)
        .collect()
      StreamsReply(page.take(StreamsPageSize).toSeq, page.length > StreamsPageSize)
    }

  /** NNTSC_REQ_HISTORY raw (dbselect.py:390-532), chunked per label with
    * the 10k `more` contract and per-label frequency inference.
    */
  def history(
      collection: String,
      labels: Map[String, Seq[Long]],
      columns: Seq[String],
      start: Long,
      stop: Long): Iterator[HistoryChunk] with AutoCloseable = {
    val result = historyFrame(collection, labels, columns, start, stop)
    withCancellationIt("history")(g => chunked(result, binsize = 0, g))
  }

  /** The raw history plan: its partitions, read in order, hold the rows in
    * (label, timestamp) order, with no range sort.
    *
    * A global `orderBy` samples the whole filtered table in a job of its
    * own to find range bounds. The request already names its labels, so
    * the bounds are known up front: each row goes to its label's
    * partition (`historyRoute`), and a sort within each partition
    * finishes the order. The pump drains partitions in order
    * (`Prefetch.rows`), so the chunks come out label by label, each in
    * time order.
    *
    * The exchange names no partition count (the session's
    * `spark.sql.shuffle.partitions` applies), so AQE may merge adjacent
    * partitions, which keeps the order: a small history drains in one or
    * two result partitions at any core count. A request runs the scan's
    * map stage and one job per result partition after that merge.
    */
  private[graft] def historyFrame(
      collection: String,
      labels: Map[String, Seq[Long]],
      columns: Seq[String],
      start: Long,
      stop: Long): DataFrame = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    QueryEngine
      .selectData(data(collection), labels, columns, start, stop)
      .withColumn("binstart", col("timestamp"))
      .repartition(historyRoute(labels.keys.toSeq, parts))
      .sortWithinPartitions(QueryEngine.LabelCol, "timestamp")
  }

  /** A history row's partition among `parts`: `rank * parts / labels`,
    * non-decreasing in label order, so every label's rows share one
    * partition and labels spread evenly over the partitions.
    *
    * Labels are ranked in Spark's string order (UTF-8 bytes, the order
    * the sort within a partition uses; Scala's UTF-16 order differs for
    * characters beyond the BMP). The label → partition map is a literal
    * the generated code reads by reference, so the expression has one
    * shape for every label count and a request of any size reuses the
    * compiled code of the first.
    */
  private def historyRoute(labels: Seq[String], parts: Int): Column = {
    val partition = labels.map(UTF8String.fromString).sorted.zipWithIndex
      .map { case (l, rank) => l.toString -> (rank.toLong * parts / labels.size).toInt }.toMap
    ColumnBridge.toColumn(new DirectShufflePartitionID(ColumnBridge.toExpression(
      element_at(typedLit(partition), col(QueryEngine.LabelCol)))))
  }

  /** NNTSC_AGGREGATE (dbselect.py:208-387). */
  def aggregate(
      collection: String,
      labels: Map[String, Seq[Long]],
      aggs: Seq[AggSpec],
      start: Long,
      stop: Long,
      binsize: Long,
      groupcols: Seq[String] = Nil): Iterator[HistoryChunk] with AutoCloseable = {
    val result = aggFrame(collection, labels, aggs, start, stop, binsize, groupcols)
    withCancellationIt("aggregate")(g => chunked(result, binsize, g))
  }

  /** Binned-aggregation plan with tier routing — the serving economy the
    * reference reserves for its matrix, extended to graph history: a
    * dashboard graph (NNTSC_AGGREGATE at a CQ-aligned binsize) folds a few
    * tier partials per bin instead of re-aggregating the raw fact table
    * every refresh (which is what the reference's Influx backend does,
    * group-by-time over the measurement, influx.py:574-575 — cheap in a
    * TSDB, a full scan on 100 TB of parquet).
    *
    * Routing needs the same derivability as the matrix (every agg
    * answerable from the tier's partials/maps/grids), NO extra group
    * columns (tiers are keyed by stream × bin only), the requested
    * `binsize` a multiple of a configured tier bin, and `start`/`stop` on
    * that tier's bin edges; the largest tier that fits serves. Everything
    * else falls back to the exact raw path.
    *
    * Boundary semantics mirror the reference's backend split: its
    * postgres dbselect windows are stop-inclusive, its Influx/CQ backend
    * queries `time >= start AND time < stop` (influx.py:600-604). A
    * collection WITH tiers configured is the Influx-backed shape, so its
    * aggregate endpoint is half-open on BOTH paths (raw pre-filters
    * `timestamp < stop`, like matrixFrame) — configuring tiers is a
    * backend choice, and within the collection the routed and fallback
    * plans can never disagree about which points count. Collections
    * without tiers keep dbselect's inclusive stop untouched.
    *
    * A routed request is 2 Spark jobs: the tier scan with the partial
    * fold, and the result. The tier frame comes from `tierFrame` (kept
    * while the tier's visible (path, length) file list is unchanged, so no
    * schema-inference job per request), labels are a pushed `IN` plus a
    * literal map (`QueryEngine.attachLabels`), and the result is one
    * partition sorted by (label, binstart): it holds at most labels ×
    * requested bins rows, so it drains in one job with no range sort.
    */
  private[graft] def aggFrame(
      collection: String,
      labels: Map[String, Seq[Long]],
      aggs: Seq[AggSpec],
      start: Long,
      stop: Long,
      binsize: Long,
      groupcols: Seq[String] = Nil): DataFrame = {
    val cfg = rollups.get(collection)
    val singleBin = binsize <= 0 || binsize >= (stop - start)
    val tiered =
      for {
        c <- cfg
        if groupcols.isEmpty && aggs.nonEmpty
        if aggs.forall(a => tierDerivable(c, a))
        bin <- c.tiers.keys.toSeq.sorted.reverse.find(b =>
          start % b == 0 && stop % b == 0 &&
            (if (singleBin) stop - start >= b else binsize % b == 0))
      } yield {
        val t = graft.rollup.Rollup.aggregatedFromTier(
          tierFrame(c.tiers(bin)),
          labels, aggs, start, stop, binsize, primaryCol = c.valueCol,
          sparseClamp = c.smokeSparseClamp)
        asRaw(t, collection, aggs, singleBin)
      }
    tiered.getOrElse {
      val src = cfg.fold(data(collection))(_ => beforeStop(collection, stop))
      sortedOnePartition(
        QueryEngine.selectAggregatedData(
          src, labels, aggs, start, stop, binsize, groupcols, ordered = false),
        groupcols)
    }
  }

  /** A raw aggregate as one partition sorted by (label, groupcols…,
    * binstart, timestamp), the order `selectAggregatedData` presents,
    * ended like the tier fold (`Rollup.aggregatedFromTier`): the result
    * holds at most one row per label, group and bin, all drained by one
    * reply thread anyway, so a range sort's sampling job and exchange
    * buy nothing. A raw request of stat aggregates runs 2 Spark jobs:
    * the scan with its partial aggregate, and the result.
    */
  private def sortedOnePartition(agg: DataFrame, groupcols: Seq[String]): DataFrame =
    agg.coalesce(1).sortWithinPartitions(
      (Seq(QueryEngine.LabelCol) ++ groupcols ++ Seq("binstart", "timestamp")).map(col): _*)

  /** The raw data of `collection` with `timestamp < stop`, the half-open
    * window's pre-filter (`stop` a bound parameter, see QueryEngine).
    */
  private def beforeStop(collection: String, stop: Long): DataFrame = {
    val raw = data(collection)
    raw.filter(col("timestamp") < graft.query.Bound.long(raw, "timestamp", stop))
  }

  // (collection, aggs, single bin) → the raw plan's reply schema; see asRaw
  private val rawSchemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[AggSpec], Boolean), StructType]()

  /** A tier-served reply cast to the raw plan's schema, so callers cannot
    * tell which path served them. That schema depends only on the data's
    * schema, the aggregates and whether the reply is one bin, so it is
    * worked out once per such key from the raw plan over an empty frame
    * with the data's schema; no request analyses a plan over the data
    * itself to learn it. The map is cleared if clients send more than
    * `MaxRawSchemas` distinct aggregate lists.
    */
  private def asRaw(
      tiered: DataFrame,
      collection: String,
      aggs: Seq[AggSpec],
      singleBin: Boolean): DataFrame = {
    if (rawSchemas.size > MaxRawSchemas) rawSchemas.clear()
    val schema = rawSchemas.computeIfAbsent((collection, aggs, singleBin), _ => {
      val empty =
        spark.createDataFrame(java.util.Collections.emptyList[Row](), data(collection).schema)
      QueryEngine.selectAggregatedData(
        empty, Map("" -> Seq(0L)), aggs, 0L, 2L, binsize = if (singleBin) 0L else 1L).schema
    })
    tiered.select(schema.fields.toSeq.map(f => tiered(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** One aggregate answerable from tier partials: a stat over a carried
    * stat column, `most` over a mode-map column, `smoke` over a grid
    * column (RollupTiers scaladoc).
    */
  private def tierDerivable(cfg: Service.RollupTiers, a: AggSpec): Boolean =
    (TierFuncs(a.func) && cfg.statCols(a.column)) ||
      (a.func == "most" && cfg.modeCols.contains(a.column)) ||
      (a.func == "smoke" && cfg.smokeCols.contains(a.column))

  /** NNTSC_MATRIX (dbselect.py:181-205): one summary row per label. */
  def matrix(
      collection: String,
      labels: Map[String, Seq[Long]],
      aggs: Seq[AggSpec],
      start: Long,
      stop: Long): Seq[Row] =
    withCancellation("matrix") {
      matrixFrame(collection, labels, aggs, start, stop).collect().toSeq
    }

  /** Matrix plan with the reference's tier routing (influx.py:384-517, tier
    * pick :387-394): when the collection has rollup tiers configured and the
    * request is derivable from partials, read the LARGEST tier the window
    * aligns to instead of full-scanning raw history — a dashboard refresh
    * touches a few pre-aggregated rows per stream, not the fact table.
    * Falls back to the raw path (the reference's traceroute matrix,
    * dbselect.py:181-205) when no tier fits: unconfigured collection, an
    * aggregate the partials can't answer (`most` without a mode map,
    * `smoke` without a percentile grid — see RollupTiers.smokeCols), a
    * column outside the tier's configured stat list, or an unaligned
    * window (bin-granular tier reads would silently change window
    * semantics — raw stays exact). Tier-served smoke is the documented
    * Influx-emulation grid (Rollup.buildMulti scaladoc); exact ntile-20
    * remains the raw path's semantics.
    *
    * Freshness matches the reference's CQ lag: tiers ride the ingest
    * micro-batch (FilePoller.rollupTiers), so a routed matrix sees every
    * committed batch. The reply schema is cast to the raw plan's, so
    * callers cannot tell which path served them.
    *
    * Boundary note: the matrix window is [start, stop) on BOTH paths —
    * the reference's matrix endpoint is its Influx/CQ backend
    * (influx.py:384-517) and those are bin semantics. The raw fallback
    * pre-filters `timestamp < stop` so enabling tiers (or a window
    * happening to align) can never silently change which points a
    * dashboard counts. History/aggregate endpoints keep the reference's
    * stop-INCLUSIVE dbselect windows; the matrix endpoint alone is
    * half-open, exactly like the backends they mirror.
    *
    * Cost: a routed matrix is 2 Spark jobs, as in `aggFrame` — the cached
    * tier frame (`tierFrame`), the label lookup with no join, and a
    * single sorted partition of at most one row per label.
    */
  private[graft] def matrixFrame(
      collection: String,
      labels: Map[String, Seq[Long]],
      aggs: Seq[AggSpec],
      start: Long,
      stop: Long): DataFrame = {
    val tiered =
      for {
        cfg <- rollups.get(collection)
        if aggs.forall(a => tierDerivable(cfg, a))
        bin <- cfg.tiers.keys.toSeq.sorted.reverse.find(b =>
          stop - start >= b && start % b == 0 && stop % b == 0)
      } yield {
        val m = graft.rollup.Rollup.matrixFromTier(
          tierFrame(cfg.tiers(bin)),
          labels, aggs, start, stop, primaryCol = cfg.valueCol,
          sparseClamp = cfg.smokeSparseClamp)
        asRaw(m, collection, aggs, singleBin = true)
      }
    tiered.getOrElse(sortedOnePartition(
      QueryEngine.selectAggregatedData(
        beforeStop(collection, stop), labels, aggs, start, stop, binsize = 0, ordered = false),
      Nil))
  }

  /** Iterator-returning ops (chunked history): the timer must outlive the
    * call — the pump submits its jobs lazily as the client drains
    * chunks. Disarmed on exhaustion, error or close; a watchdog that has
    * already fired `MaxCancelFires` times deschedules itself (the rogue
    * jobs are long dead), so an abandoned iterator cannot leak a periodic
    * task.
    */
  private def withCancellationIt[T](op: String)(
      make: Option[(String, String)] => Iterator[T] with AutoCloseable)
      : Iterator[T] with AutoCloseable =
    if (queryTimeoutSec <= 0) make(None)
    else {
      val sc = spark.sparkContext
      val group = s"graft-$op-${java.util.UUID.randomUUID()}"
      val desc = s"graft $op (timeout ${queryTimeoutSec}s)"
      sc.setJobGroup(group, desc, interruptOnCancel = true)
      @volatile var done = false
      @volatile var fired = false
      val timer = watchdog.scheduleWithFixedDelay(
        new Runnable {
          private var fires = 0
          def run(): Unit = {
            if (done) throw new java.util.concurrent.CancellationException()
            fired = true
            sc.cancelJobGroup(group)
            fires += 1
            if (fires >= MaxCancelFires)
              throw new java.util.concurrent.CancellationException()
          }
        },
        queryTimeoutSec, 1, java.util.concurrent.TimeUnit.SECONDS)
      def disarm(): Unit = { done = true; timer.cancel(false) }
      def wrap[A](a: => A): A =
        try a
        catch {
          // post-deadline interrupt/IO failures classify as timeout (the
          // kill surfaces as InterruptedException / IO error); other
          // failures keep their identity (see isInterruptLike)
          case e: Throwable if isCancellation(e) || (fired && isInterruptLike(e)) =>
            disarm()
            throw new QueryCancelledException(op, e)
        }
      val inner = wrap(make(Some((group, desc))))
      new Iterator[T] with AutoCloseable {
        // re-tag the consuming thread before EVERY draw: the job group is
        // a thread-local, so any other service call on this thread between
        // draws overwrote it. Partition jobs are tagged on the pump's own
        // thread (the group passed to `make`); this consumer-side retag
        // still covers any job the plan submits lazily from THIS thread
        private def retag(): Unit =
          sc.setJobGroup(group, desc, interruptOnCancel = true)
        def hasNext: Boolean = wrap {
          retag()
          val h = inner.hasNext
          if (!h) disarm()
          h
        }
        def next(): T = wrap { retag(); inner.next() }
        def close(): Unit = { disarm(); inner.close() }
      }
    }

  private def spec0(name: String): CollectionSpec =
    Collections.byName.getOrElse(
      name, throw new NoSuchElementException(s"unknown collection: $name"))

  /** Chunk a labeled result into HistoryChunks: rows stream out via the
    * prefetch pump ([[Prefetch.rows]] — the named-cursor replacement,
    * dbselect.py:64-76), which fetches result partitions 4-wide with
    * ordered emission while the drain encodes — a serial per-partition
    * job stream was the measured drain floor at sf10 (ROUND_NOTES,
    * round 16, "Drain floor analysis → windowed partition pump"). Rows
    * are flushed per label every HistoryChunkRows with `more=true`
    * between flushes; each chunk carries the label's inferred frequency
    * (W3). Closing the chunk iterator closes the pump.
    *
    * Frequency is computed DRIVER-SIDE from the rows already streaming
    * through this iterator (`Frequency.inferLocal` — bit-compatible with
    * the distributed `infer`, asserted in FrequencySpec), exactly like the
    * reference's exporter computes it from streamed result rows
    * (exporter.py:484-512). The round-2 form ran a second full
    * scan+aggregation of the history subplan per request just for the
    * frequencies; at 100 TB that doubled every history query. Like the
    * reference, the frequency freezes once a label's first 200 diffs have
    * streamed (a chunk is 10k rows, so in practice the first chunk decides).
    */
  private def chunked(
      result: DataFrame,
      binsize: Long,
      jobGroup: Option[(String, String)] = None): Iterator[HistoryChunk] with AutoCloseable = {
    val labelIdx = result.schema.fieldIndex(QueryEngine.LabelCol)
    val tsIdx = result.schema.fieldIndex("timestamp")
    val binIdx = result.schema.fieldIndex("binstart")
    new Iterator[HistoryChunk] with AutoCloseable {
      private val rows = Prefetch.rows(result, jobGroup)
      private var pending: Option[Row] = None
      // per-label frequency state: prefix of (binstart, timestamp) pairs
      // (consecutive duplicate timestamps skipped; 201 distinct rows give
      // the full 200 diffs), frozen into a frequency at first use
      private var curLabel: String = null
      private var freqBuf = Vector.empty[(Long, Long)]
      private var curFreq: Option[Long] = None
      private def feed(label: String, r: Row): Unit = {
        if (label != curLabel) {
          curLabel = label; freqBuf = Vector.empty; curFreq = None
        }
        if (freqBuf.length <= 201 && !r.isNullAt(tsIdx)) {
          val t = r.getLong(tsIdx)
          if (freqBuf.isEmpty || freqBuf.last._2 != t) {
            val b = if (r.isNullAt(binIdx)) 0L else r.getLong(binIdx)
            freqBuf = freqBuf :+ ((b, t))
          }
        }
      }
      def hasNext: Boolean = pending.isDefined || rows.hasNext
      def next(): HistoryChunk = {
        val buf = Vector.newBuilder[Row]
        var n = 0
        val first = pending.getOrElse(rows.next())
        val label = first.getString(labelIdx)
        pending = None
        feed(label, first)
        buf += first; n += 1
        var more = false
        var break = false
        while (!break && rows.hasNext) {
          val r = rows.next()
          if (r.getString(labelIdx) != label) { pending = Some(r); break = true }
          else if (n >= HistoryChunkRows) { pending = Some(r); more = true; break = true }
          else { feed(label, r); buf += r; n += 1 }
        }
        val freq = curFreq.getOrElse {
          val f = Frequency.inferLocal(freqBuf, binsize)
          curFreq = Some(f)
          f
        }
        HistoryChunk(label, buf.result(), more, freq)
      }
      def close(): Unit = rows.close()
    }
  }
}
