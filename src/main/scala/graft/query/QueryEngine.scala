package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** One (column, aggregation-function) request, mirroring the reference's
  * `aggcols` pairs (/root/reference/libnntsc/dbselect.py:803-835).
  * Supported funcs: max, min, sum, avg, count, stddev, most, smoke,
  * smokearray, arraysize.
  */
final case class AggSpec(column: String, func: String)

/** The analytical query surface of the engine — the Spark-native
  * re-expression of NNTSC's `DBSelector` (dbselect.py):
  *
  *   - `selectData`            ≙ raw history      (dbselect.py:390-532)
  *   - `selectAggregatedData`  ≙ binned history   (dbselect.py:208-387)
  *   - `selectMatrixData`      ≙ whole-period agg (dbselect.py:181-205)
  *
  * Design notes (Spark-first, 100 TB-minded):
  *   - Labels ({label -> [stream_id…]}) become the CASE-expression
  *     labelling of dbselect.py:615-630: a `stream_id IN (…)` filter
  *     pushed into the parquet scan plus a literal id → label lookup — no
  *     join, no shuffle of the fact side (`attachLabels`).
  *   - Window bounds and stream ids are bound parameters of the generated
  *     code (`Bound`), not inlined literals, so requests that differ only
  *     in them reuse one compiled plan.
  *   - Time-range + stream-membership predicates sit directly above the
  *     scan, so Catalyst pushes them into the parquet reader (min/max row
  *     group skipping replaces the reference's memcached activity cache).
  *   - Time binning stays integer arithmetic (`ts - ts % binsize`,
  *     dbselect.py:303-304) → codegen'd, no timezone semantics.
  *   - `most`/`smoke` are expressed compositionally (groupBy+window), so
  *     they scale out with ordinary shuffles instead of collecting a group
  *     to one buffer; both also exist as single-pass aggregates in
  *     `graft.functions` for narrow-group use.
  */
object QueryEngine {

  val LabelCol = "nntsclabel"
  private val StdFuncs = Set("max", "min", "sum", "avg", "count", "stddev")

  /** {label -> stream ids} as a small DataFrame(stream_id, nntsclabel). */
  def labelFrame(spark: SparkSession, labels: Map[String, Seq[Long]]): DataFrame = {
    import spark.implicits._
    labels.toSeq
      .flatMap { case (l, ids) => ids.map(id => (id, l)) }
      .toDF("stream_id", LabelCol)
  }

  /** Tags each fact row with its label and restricts to the requested
    * streams in one step (`stream_id IN (...)`, dbselect.py:674-723).
    *
    * When every stream id is listed once across the label map, this is
    * the reference's CASE labelling (dbselect.py:615-630): an `IN` filter
    * that Catalyst pushes into the parquet scan, plus a lookup in a
    * literal id → label map. No join, so no broadcast job per query.
    * The ids are one set-valued parameter (`Bound.isin`), so the generated
    * code is the same whatever ids, or how many, a request sends. A
    * stream listed more than once (under two labels, or twice under one)
    * must yield one row per listing, which a CASE cannot express; that
    * case keeps the broadcast inner join against `labelFrame`. Both
    * branches return the same rows in the same columns: stream_id first
    * (with the data's type), the data's other columns, the label last.
    */
  def attachLabels(data: DataFrame, labels: Map[String, Seq[Long]]): DataFrame = {
    val pairs = labels.toSeq.flatMap { case (l, ids) => ids.map(_ -> l) }
    val ids = pairs.map(_._1)
    if (ids.distinct.size < ids.size)
      data.join(broadcast(labelFrame(data.sparkSession, labels)), Seq("stream_id"))
    else {
      def quoted(c: String) = col("`" + c.replace("`", "``") + "`")
      val rest = data.columns.toSeq.filter(_ != "stream_id").map(quoted)
      val label = element_at(typedLit(pairs.toMap), col("stream_id")).as(LabelCol)
      data.filter(Bound.isin(col("stream_id"), data.schema("stream_id").dataType, ids))
        .select((col("stream_id") +: rest :+ label): _*)
    }
  }

  /** `WHERE timestamp >= start AND timestamp <= end` (dbselect.py:725-730),
    * with both bounds bound parameters (`Bound`).
    */
  def filterTime(data: DataFrame, start: Long, stop: Long): DataFrame =
    data.filter(col("timestamp")
      .between(Bound.long(data, "timestamp", start), Bound.long(data, "timestamp", stop)))

  /** `binstart = timestamp - timestamp % binsize`; binsize <= 0 means one
    * bin anchored at `start` covering the whole window (dbselect.py:295-307).
    * `start` and `binsize` are bound parameters.
    */
  def binstart(start: Long, binsize: Long): Column =
    if (binsize <= 0) Bound.long(start, LongType)
    else col("timestamp") - (col("timestamp") % Bound.long(binsize, LongType))

  /** Raw history: sanitised projection with forced columns
    * (dbselect.py:440-487) + time/stream predicates. The rows come in no
    * particular order; the serve path orders them by (label, timestamp),
    * as the reference's history emitter does, without a global sort
    * (`Service.historyFrame`).
    */
  def selectData(
      data: DataFrame,
      labels: Map[String, Seq[Long]],
      columns: Seq[String],
      start: Long,
      stop: Long): DataFrame = {
    val tagged = attachLabels(filterTime(data, start, stop), labels)
    val present = tagged.columns.toSet
    val forced = Seq(LabelCol, "timestamp", "stream_id")
    val keep = (forced ++ columns.filter(present.contains).filterNot(forced.contains)).distinct
    tagged.select(keep.map(col): _*)
  }

  /** Binned, aggregated history — the workhorse (dbselect.py:208-387).
    *
    * Output row per (label, groupcols…, binstart): requested aggregates
    * plus `timestamp = max(timestamp)` (plot point, dbselect.py:292-298)
    * and, in single-bin mode, `min_timestamp = min(timestamp)`.
    */
  def selectAggregatedData(
      data: DataFrame,
      labels: Map[String, Seq[Long]],
      aggs: Seq[AggSpec],
      start: Long,
      stop: Long,
      binsize: Long,
      groupcols: Seq[String] = Nil,
      parity: Boolean = false,
      ordered: Boolean = true): DataFrame = {
    val singleBin = binsize <= 0 || binsize >= (stop - start)
    val effBin = if (singleBin) 0L else binsize
    val base = attachLabels(filterTime(data, start, stop), labels)
      .withColumn("binstart", binstart(start, effBin))
    val keys = Seq(LabelCol) ++ groupcols ++ Seq("binstart")
    val names = outputNames(aggs, groupcols)

    val std = aggs.zip(names).filter { case (a, _) => StdFuncs(a.func) || a.func == "arraysize" }
    val special = aggs.zip(names).filterNot(std.contains)

    val tsAggs =
      Seq(max("timestamp").as("timestamp")) ++
        (if (singleBin) Seq(min("timestamp").as("min_timestamp")) else Nil)
    val stdExprs = std.map { case (a, n) => stdAgg(a, parity).as(n) } ++ tsAggs
    var out = base.groupBy(keys.map(col): _*).agg(stdExprs.head, stdExprs.tail: _*)

    special.foreach { case (a, n) =>
      val part = a.func match {
        case "most"       => mostByGroup(base, keys, a.column, n)
        case "most_array" => mostArrayByGroup(base, keys, a.column, n)
        case "smoke"      => smokeByGroup(base, keys, col(a.column), n, parity)
        case "smokearray" =>
          smokeByGroup(
            base.withColumn("__sv", explode(col(a.column))), keys, col("__sv"), n, parity)
        case other => throw new IllegalArgumentException(s"unknown agg function: $other")
      }
      out = out.join(part, keys, "left_outer")
    }

    // ordered=false skips the W2 presentation sort for callers that
    // immediately re-partition (frequency inference's per-label window) or
    // order the result themselves (the serve path's single sorted
    // partition) — the range exchange would be pure waste in their plans
    if (ordered) out.orderBy((keys :+ "timestamp").map(col): _*) else out
  }

  /** Whole-period summary = one bin over [start, stop) (dbselect.py:181-205,
    * default window 24 h).
    */
  def selectMatrixData(
      data: DataFrame,
      labels: Map[String, Seq[Long]],
      aggs: Seq[AggSpec],
      start: Long,
      stop: Long,
      parity: Boolean = false): DataFrame =
    selectAggregatedData(data, labels, aggs, start, stop, binsize = 0, parity = parity)

  /** Labels with no data in the window (U3, exporter.py:470-478): the
    * exporter emits explicit empty history for these. Left-anti join of the
    * label list against observed labels.
    */
  def missingLabels(
      data: DataFrame,
      labels: Map[String, Seq[Long]],
      start: Long,
      stop: Long): DataFrame = {
    val all = labelFrame(data.sparkSession, labels).select(LabelCol).distinct()
    val observed =
      attachLabels(filterTime(data, start, stop), labels).select(LabelCol).distinct()
    all.join(observed, Seq(LabelCol), "left_anti").orderBy(LabelCol)
  }

  /** Duplicate-aggregation renaming (dbselect.py:806-821): output keeps the
    * bare column name unless the same column appears twice or is also a
    * group column — then `col_func`.
    */
  def outputNames(aggs: Seq[AggSpec], groupcols: Seq[String]): Seq[String] = {
    val counts = aggs.groupBy(_.column).view.mapValues(_.size).toMap
    aggs.map { a =>
      if (counts(a.column) > 1 || groupcols.contains(a.column)) s"${a.column}_${a.func}"
      else a.column
    }
  }

  /** Standard aggregate implementations. `parity = true` swaps sum/avg/
    * stddev for graft.core.OracleParity's exact-decimal-partial versions
    * whose double results are bit-identical to the DuckDB oracle; the
    * default stays on Spark's codegen'd single-pass aggregates.
    */
  private def stdAgg(a: AggSpec, parity: Boolean): Column = {
    import graft.core.OracleParity
    a.func match {
      case "max"                  => max(col(a.column))
      case "min"                  => min(col(a.column))
      case "sum" if parity        => OracleParity.exactSum(col(a.column))
      case "sum"                  => sum(col(a.column))
      case "avg" if parity        => OracleParity.exactAvg(col(a.column))
      case "avg"                  => avg(col(a.column))
      case "count"                => count(col(a.column))
      case "stddev" if parity     => OracleParity.exactStddev(col(a.column))
      case "stddev"               => stddev_samp(col(a.column))
      // `array_length(col, 1)` applied as an "aggregation" (dbselect.py:828-829)
      case "arraysize"            => max(size(col(a.column)))
    }
  }

  /** `most` (mode) — most frequent value per group, deterministic tie-break
    * (higher count first, then smaller value). Re-expresses the reference's
    * custom Postgres aggregate `unnest → GROUP BY → ORDER BY count DESC
    * LIMIT 1` (database.py:405-451) as two hash aggregations — fully
    * distributed, map-side-combined, no per-group memory.
    *
    * The top-1 is `min_by(value, (-count, value))` — a hash aggregate with
    * the same (count desc, value asc) collation the row_number window had,
    * minus the window's per-partition sort. Deterministic: the ordering
    * struct is unique per group row (value is a group key).
    */
  def mostByGroup(df: DataFrame, keys: Seq[String], column: String, outName: String): DataFrame =
    df.filter(col(column).isNotNull)
      .groupBy((keys :+ column).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(keys.map(col): _*)
      .agg(min_by(col(column), struct((-col("__cnt")).as("nc"), col(column).as("v")))
        .as(outName))

  /** `most_array` (A3) — mode over an array-valued column
    * (dbselect.py:824-829: the reference round-trips arrays through
    * `array_to_string` before its `most` aggregate). Groups on the array
    * value itself; the deterministic tie-break (higher count, then smaller
    * value) orders on the `'|'`-joined string form so ordering is
    * engine-portable — exactly the collation the reference's
    * array_to_string round-trip imposes.
    */
  def mostArrayByGroup(
      df: DataFrame,
      keys: Seq[String],
      column: String,
      outName: String): DataFrame =
    df.filter(col(column).isNotNull)
      .groupBy((keys :+ column).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(keys.map(col): _*)
      .agg(
        min_by(
          col(column),
          struct((-col("__cnt")).as("nc"), concat_ws("|", col(column)).as("v")))
          .as(outName))

  /** `smoke` — the reference's 20-point percentile sketch: NULLs dropped,
    * values ranked into ntile(20) ordered buckets, per-bucket averages
    * returned as an ordered array (database.py:421-435, 469-477).
    *
    * Compositional form: ntile window (one shuffle on the group keys, sort
    * by value) → per-bucket avg → ordered collect. Scales with ordinary
    * shuffles; bucket averages are exact ntile semantics, matching the
    * Postgres implementation bucket-for-bucket.
    */
  def smokeByGroup(
      df: DataFrame,
      keys: Seq[String],
      value: Column,
      outName: String,
      parity: Boolean = false): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(value.asc)
    val bucketAvg =
      if (parity) graft.core.OracleParity.exactAvg(col("__v")) else avg(col("__v"))
    df.filter(value.isNotNull)
      .withColumn("__v", value)
      .withColumn("__bucket", ntile(20).over(w))
      .groupBy((keys.map(col) :+ col("__bucket")): _*)
      .agg(bucketAvg.as("__bavg"))
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(struct(col("__bucket"), col("__bavg")))).as("__pairs"))
      .withColumn(outName, transform(col("__pairs"), p => p.getField("__bavg")))
      .drop("__pairs")
  }
}
