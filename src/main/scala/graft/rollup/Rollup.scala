package graft.rollup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.OracleParity
import graft.query.{Bound, QueryEngine}

/** Pre-aggregated rollup tables + partial→final merge — the Spark-native
  * form of the reference's matrix pipeline (1-min/1-h InfluxDB continuous
  * queries, /root/reference/libnntsc/influx.py:158-195, merged in Python at
  * query time, influx.py:384-517).
  *
  * Differences by design:
  *   - Partials are kept EXACT (decimal sums s1=Σv, s2=Σv², count, min,
  *     max) instead of (mean, magiccount). Merging exact partials is
  *     order-independent and gives the same answer as aggregating the raw
  *     rows — the reference's Σ(mean·n)/Σn dance exists only because Influx
  *     stored means. The stddev merge keeps the reference's RMS
  *     approximation semantics (influx.py:478-491) on top of exact partials.
  *   - At scale the rollup table is itself a partitioned table maintained by
  *     a streaming windowed aggregation (SURVEY §2.9 X4); `build` is the
  *     batch form of that maintenance job.
  */
object Rollup {

  /** Rollup tiers mirroring the reference (influx.py:183-195). */
  val ShortBin = 60L   // 1-min bins, 14-min late horizon
  val LongBin = 3600L  // 1-h bins, 2-h late horizon

  /** Matrix tier routing (influx.py:387-394): ranges of at least an hour
    * read the 1-h rollup, shorter ranges the 1-min rollup. Exposed as a
    * query-layer dispatch (the reference's planner-equivalent); callers
    * hand the chosen tier's table to `merge`.
    */
  def tierFor(start: Long, stop: Long): Long =
    if (stop - start >= 3600) LongBin else ShortBin

  /** Stat-partial name for column `c`: the tier's FIRST (primary) column
    * keeps the legacy unsuffixed names (`cnt`, `s1`, … — schema-evolution
    * compat with pre-multi-column tiers, the `tsn` convention), every
    * additional column is suffixed `__<col>`.
    */
  private[graft] def statName(base: String, c: String, primary: Boolean): String =
    if (primary) base else s"${base}__$c"

  /** Mode-partial column name for mode column `m` (always suffixed — mode
    * partials postdate the single-column tier format, no legacy to match).
    */
  private[graft] def modeName(m: String): String = s"modes__$m"

  /** Smoke-partial column name for smoke column `s` (always suffixed,
    * same rationale as `modeName`).
    */
  private[graft] def smokeName(s: String): String = s"smoke__$s"

  /** Nearest-rank tiers only: per-slot populated-sample counts. A sparse
    * bin leaves low-percentile slots NULL, so the serving merge needs
    * Σ(cnt | slot populated) per slot — and that population fact must be
    * PERSISTED, not re-derived from cnt: after a compaction fold merges
    * several epochs of the same bin, the folded row's summed cnt no longer
    * says which epochs contributed to which slot (re-deriving there
    * over-weights denominators and biases merged percentiles low).
    * Element-wise long sums, closed under the same fold as the grid.
    */
  private[graft] def smokeNName(s: String): String = s"smoken__$s"

  /** The reference's smoke percentile grid: 5th..95th step 5
    * (influx.py:663-668 computes `percentile(meas, i) for i in
    * range(5,100,5)`; the window max rides along as the 100th-percentile
    * slot, influx.py:716-718). Written as k/20.0 so the Spark literal and
    * the DuckDB oracle's `k/20.0` parse to the same IEEE double.
    */
  val SmokePercentages: Seq[Double] = (1 to 19).map(_ / 20.0)

  /** Exact decimal type for the count-weighted smoke slot sums (wide
    * enough for DECIMAL(18,6) × bigint counts summed across bins).
    */
  private val SmokeDec = org.apache.spark.sql.types.DecimalType(38, 6)

  /** Rollup table: exact partial aggregates per (stream_id, binstart).
    * `ts`/`tsn` are the bin's max/min timestamps — the matrix reply's plot
    * point and `min_timestamp` derive from them without touching raw data.
    */
  def build(data: DataFrame, binsize: Long, valueCol: String): DataFrame =
    buildMulti(data, binsize, Seq(valueCol))

  /** Multi-column rollup table — the reference's CQs aggregate SEVERAL
    * columns per collection in one pass (influx.py:158-195 builds one CQ
    * over the collection's whole `aggcols` list, e.g. amp_icmp.py:73-80
    * rolls rtt and loss together), so a tier that carries only one column
    * sends every second-column matrix request back to a raw full scan.
    *
    * Carries per column c in `cols` the exact stat partials (count, Σv,
    * Σv², min, max) and per column m in `modeCols` a per-value COUNT MAP
    * `modes__<m>: map<value, count>` from which `most` merges exactly
    * (count desc, value asc — the same collation as
    * QueryEngine.mostByGroup, so tier-served and raw-served `most` can
    * never disagree). The reference instead stores each bin's winning
    * value weighted by the bin's TOTAL row count (influx.py:492-511) — an
    * approximation that exists only because Influx CQs cannot emit a
    * count map; exact maps are the documented deviation, same rationale
    * as the exact (Σv, Σv²) partials replacing (mean, magiccount).
    *
    * Mode columns are for LOW-CARDINALITY values (the reference's use:
    * event families, path lengths) — the map per (stream, bin) holds one
    * entry per distinct value, which is what makes the tier small. The
    * count-map shape is the standard mode rollup; a high-cardinality
    * column belongs in a sketch, not a rollup tier.
    *
    * Smoke columns (`smokeCols`, each must also be in `cols` for its
    * cnt/mx partials) additionally carry `smoke__<s>`: the bin's exact
    * 19-slot percentile grid (5th..95th, `SmokePercentages`) stored
    * COUNT-WEIGHTED as exact decimals (slot×cnt), so partial rows fold by
    * element-wise sum and the matrix merge is the reference's
    * count-weighted percentile combination (influx.py:663-668 grid,
    * :694-735 packing). 19 decimals per (stream, bin) — fixed width, so
    * the tier economy survives any bin population. Like A7's engine-wide
    * ntile-20 decision, tier-served smoke is the documented
    * Influx-emulation twin: exact ntile-20 over raw (`smokeByGroup`)
    * stays the canonical smoke; the tier answer weights each bin's grid
    * by its sample count, which is the best any pre-aggregated percentile
    * store can do (and exactly what the reference's rollup serving does).
    * The reference's sparse-bin packing — fewer than 20 samples report a
    * `100/n`-stepped percentile subset, one sample just the max
    * (influx.py:694-712) — is available byte-for-byte via the serving
    * layer's opt-in clamp (`aggregatedFromTier(sparseClamp = true)`,
    * `Service.RollupTiers.smokeSparseClamp`); the remaining deviation is
    * interpolated grid slots where Influx's percentile() nearest-ranks.
    */
  def buildMulti(
      data: DataFrame,
      binsize: Long,
      cols: Seq[String],
      modeCols: Seq[String] = Nil,
      smokeCols: Seq[String] = Nil,
      smokeNearestRank: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "rollup tier needs at least one stat column")
    require(smokeCols.forall(cols.contains),
      "smoke tier columns ride on their stat partials (cnt, mx) — list them in cols too")
    val binned = data
      .withColumn("binstart", col("timestamp") - (col("timestamp") % binsize))
    val statExprs = cols.zipWithIndex.flatMap { case (c, i) =>
      val v = col(c)
      val d = OracleParity.dec(v)
      def nm(base: String) = statName(base, c, primary = i == 0)
      Seq(
        count(v).as(nm("cnt")),
        sum(d).as(nm("s1")),
        sum(d * d).as(nm("s2")),
        min(v).as(nm("mn")),
        max(v).as(nm("mx")))
    } ++ smokeCols.map { s =>
      // sorted bin values; the grid interpolates from them in a codegen'd
      // projection below. This replaces the builtin exact `percentile`
      // aggregate, whose per-group count-map buffer (OpenHashMap partials
      // serialized at every combine) measured ~3× slower than
      // collect_list+sort at the same result bits.
      sort_array(collect_list(col(s))).as(s"__sorted_$s")
    } ++ modeCols.map { m =>
      // per-value count map in the SAME pass (ModeMapAggregate): the
      // two-level groupBy + map_from_entries + join lap this replaces
      // cost a second exchange and a join per mode column
      graft.functions.ModeMapAggregate.modeMap(col(m)).as(modeName(m))
    } ++ Seq(max("timestamp").as("ts"), min("timestamp").as("tsn"))
    val stats = binned
      .groupBy("stream_id", "binstart")
      .agg(statExprs.head, statExprs.tail: _*)
    // interpolate the grid (the weighted form lowerVal·(hi−pos) +
    // higherVal·(pos−lo) that both Spark's percentile and DuckDB's
    // quantile_cont compute — bit-identical operand order), quantize each
    // slot to the cross-engine decimal grid, then weight by the bin's
    // count: Σ(slot·cnt)/Σcnt merges are exact and order-free, so
    // compaction folds and matrix merges can't drift. A `transform` over
    // the percentage literal keeps the expression ONE compact lambda —
    // the 19-slot unrolled form generated a whole-stage-codegen function
    // whose janino compile dominated single-shot runs.
    val withSmoke = smokeCols.foldLeft(stats) { (acc, s) =>
      val cnt = col(statName("cnt", s, primary = cols.head == s))
      val arr = col(s"__sorted_$s")
      val n = size(arr)
      val grid = transform(lit(SmokePercentages.toArray), p => {
        val v =
          if (smokeNearestRank) {
            // Influx percentile() semantics: nearest-rank, 1-based index
            // floor(n·p + 0.5); index 0 means "no value at this
            // percentile" (a 1-sample bin has no 5th percentile) — the
            // slot stays NULL and the serving pack drops it, exactly the
            // reference's non-None filter (influx.py:719-721)
            val idx = floor(p * n.cast("double") + 0.5).cast("int")
            when(idx >= 1, element_at(arr, idx))
          } else {
            // interpolated (the engine default): the weighted form
            // lowerVal·(hi−pos) + higherVal·(pos−lo) that both Spark's
            // percentile and DuckDB's quantile_cont compute
            val h = p * (n - 1).cast("double")
            val lo = floor(h)
            val hi = ceil(h)
            when(lo === hi, element_at(arr, (lo + 1).cast("int")))
              .otherwise(
                element_at(arr, (lo + 1).cast("int")) * (hi.cast("double") - h) +
                  element_at(arr, (hi + 1).cast("int")) * (h - lo.cast("double")))
          }
        (v.cast(OracleParity.Dec) * cnt).cast(SmokeDec)
      })
      val withGrid = acc
        .withColumn(smokeName(s), when(n > 0, grid))
      // nearest-rank tiers persist which slots this bin populated (as the
      // bin's cnt, NULL otherwise): the serving denominator and the
      // compaction fold both need the per-slot counts to survive folding
      // (see smokeNName). Interpolated tiers populate every slot whenever
      // n > 0, so cnt alone suffices there and no extra column is stored.
      val withN =
        if (!smokeNearestRank) withGrid
        else withGrid.withColumn(
          smokeNName(s),
          when(n > 0, transform(lit(SmokePercentages.toArray), p =>
            when(floor(p * n.cast("double") + 0.5) >= 1, cnt))))
      withN.drop(s"__sorted_$s")
    }
    withSmoke
  }

  /** Partial→final merge over [start, stop) per label (matrix semantics:
    * one output row per label). Output column names follow the duplicate-agg
    * convention (`value_avg` etc. for the merged metric named by `outPrefix`).
    */
  def merge(
      rollup: DataFrame,
      labels: Map[String, Seq[Long]],
      start: Long,
      stop: Long,
      outPrefix: String): DataFrame = {
    val tagged = QueryEngine
      .attachLabels(rollup.filter(col("binstart").between(start, stop - 1)), labels)
    // per-bin sample variance from exact partials, in double (identical
    // operands on any engine → identical bits)
    val s1d = col("s1").cast("double")
    val s2d = col("s2").cast("double")
    val varbin = when(
      col("cnt") >= 2,
      (s2d - s1d * s1d / col("cnt")) / (col("cnt") - 1))
    val withVar = tagged.withColumn("__var", varbin)
    val stdNum = sum(when(col("cnt") >= 2, col("__var") * col("cnt")).otherwise(lit(0.0)))
    val stdDen = sum(when(col("cnt") >= 2, col("cnt")).otherwise(lit(0L)))
    withVar
      .groupBy(col(QueryEngine.LabelCol))
      .agg(
        (sum(col("s1")).cast("double") / sum(col("cnt"))).as(s"${outPrefix}_avg"),
        sum(col("s1")).cast("double").as(s"${outPrefix}_sum"),
        min(col("mn")).as(s"${outPrefix}_min"),
        max(col("mx")).as(s"${outPrefix}_max"),
        sum(col("cnt")).as(s"${outPrefix}_count"),
        // reference RMS merge: sqrt(Σ(var_i·n_i)/Σn_i) over bins with n>=2
        when(stdDen > 0, round(sqrt(stdNum / stdDen), 6)).as(s"${outPrefix}_stddev"),
        max(col("ts")).as("timestamp"))
      .orderBy(QueryEngine.LabelCol)
  }

  /** Matrix summary computed FROM a rollup tier, with the exact output
    * shape of `QueryEngine.selectMatrixData` (one row per label: nntsclabel,
    * binstart, requested aggregates under their A11 names, timestamp,
    * min_timestamp) — the reference's dashboard economy (influx.py:384-517):
    * a matrix refresh reads the tiny pre-aggregated tier instead of
    * full-scanning raw history.
    *
    * Works directly on per-epoch partials (`RollupStream.readTier` output,
    * compacted or not): every derivation below is associative over partial
    * rows, so no per-bin fold is needed first. Window semantics are
    * bin-granular — bins with `start <= binstart < stop` contribute; callers
    * route here only when the window aligns to the tier (Service.matrixFrame).
    *
    * stddev is the exact sample stddev from the exact decimal partials
    * ((S2 − S1²/n)/(n−1) over the whole window) — truer to the raw-path
    * `stddev_samp` than the reference's RMS-of-bin-variances merge
    * (influx.py:478-491), which `merge` still provides for A13 parity.
    *
    * Multi-column tiers (`buildMulti`): pass `primaryCol` so each agg's
    * partials resolve to the right name set (primary → unsuffixed, extras
    * → `__<col>`); `most` aggs merge the tier's `modes__<col>` count maps
    * exactly (influx.py:492-511's mode-from-rollup, minus its
    * winning-value approximation).
    */
  def matrixFromTier(
      tier: DataFrame,
      labels: Map[String, Seq[Long]],
      aggs: Seq[graft.query.AggSpec],
      start: Long,
      stop: Long,
      primaryCol: String = "",
      sparseClamp: Boolean = false): DataFrame =
    aggregatedFromTier(tier, labels, aggs, start, stop, binsize = 0, primaryCol,
      sparseClamp)

  /** The reference's sparse-bin smokearray clamp (influx.py:694-712): the
    * percentile positions (in percent, multiples of 5) a bin with `n`
    * samples reports. n >= 20 keeps the full 5..95 grid; 1 < n < 20 steps
    * by `100/n` floored to a multiple of 5 from `100 - step·(n-1)` (never
    * more percentiles than samples); n <= 1 reports none (the window max
    * alone forms the smokearray).
    */
  private[graft] def clampPercents(n: Long): Seq[Int] =
    if (n <= 1) Nil
    else if (n >= 20) 5 until 100 by 5
    else {
      val step = (100 / n.toInt) / 5 * 5
      val bottom = 100 - step * (n.toInt - 1)
      bottom until 100 by step
    }

  /** Binned aggregation served FROM a rollup tier — `matrixFromTier`
    * generalized to the A8 time-bin grid: one output row per (label,
    * binstart) with `QueryEngine.selectAggregatedData`'s column shape.
    * This is the serving economy the reference only gives its matrix —
    * its Influx backend re-aggregates RAW points for graph history
    * (`select_aggregated_data` groups the measurement by time(binsize),
    * influx.py:574-575) because Influx scans are cheap; over a 100 TB
    * parquet fact table the same dashboard graph should fold a few tier
    * partials per bin instead.
    *
    * Requested bins use the absolute grid (`timestamp - timestamp %
    * binsize`, QueryEngine.binstart), so a tier bin nests exactly inside
    * a requested bin when `binsize % tierBin == 0`. The caller owns
    * alignment (Service.aggFrame routes only when `binsize` is a multiple
    * of the tier bin and `start`/`stop` sit on tier-bin edges); this
    * method just folds. `binsize <= 0` (or >= the window) collapses to
    * the single-bin matrix shape, `min_timestamp` included — the same
    * dispatch as selectAggregatedData's `singleBin`.
    *
    * The result comes back as ONE partition sorted by (label, binstart):
    * globally ordered, like selectAggregatedData's orderBy, and drained in
    * one job, where orderBy would add a range-sampling job, a sort
    * exchange and one drain job per partition. One partition is enough
    * because the result is at most labels × requested bins rows, all
    * bound for the driver.
    */
  def aggregatedFromTier(
      tier: DataFrame,
      labels: Map[String, Seq[Long]],
      aggs: Seq[graft.query.AggSpec],
      start: Long,
      stop: Long,
      binsize: Long,
      primaryCol: String = "",
      sparseClamp: Boolean = false): DataFrame = {
    val singleBin = binsize <= 0 || binsize >= (stop - start)
    val names = QueryEngine.outputNames(aggs, Nil)
    def bound(v: Long) = Bound.long(tier, "binstart", v)
    val windowed = QueryEngine.attachLabels(
      tier.filter(col("binstart") >= bound(start) && col("binstart") < bound(stop)), labels)
    // fold key: the label alone (matrix) or label × requested bin (A8 grid)
    val base =
      if (singleBin) windowed
      else windowed.withColumn("__reqbin", col("binstart") - (col("binstart") % bound(binsize)))
    val keys =
      if (singleBin) Seq(QueryEngine.LabelCol)
      else Seq(QueryEngine.LabelCol, "__reqbin")
    // resolve each agg's partials: the primary column's stats are the
    // legacy unsuffixed names, extra columns carry the __<col> suffix.
    // An empty primaryCol (single-column tiers built before multi-column
    // existed) routes every stat agg to the unsuffixed set.
    def nm(base0: String, c: String) =
      statName(base0, c, primary = primaryCol.isEmpty || c == primaryCol)
    def fromPartials(a: graft.query.AggSpec): Column = {
      val n = sum(col(nm("cnt", a.column)))
      val s1d = sum(col(nm("s1", a.column))).cast("double")
      val s2d = sum(col(nm("s2", a.column))).cast("double")
      a.func match {
        case "max"    => max(col(nm("mx", a.column)))
        case "min"    => min(col(nm("mn", a.column)))
        case "count"  => n
        case "sum"    => sum(col(nm("s1", a.column))).cast("double")
        case "avg"    => s1d / n
        // same operation order as OracleParity.exactStddev → identical bits
        case "stddev" =>
          when(n >= 2, sqrt(greatest(s2d - s1d * s1d / n, lit(0.0)) / (n - lit(1))))
        case other =>
          throw new IllegalArgumentException(s"not derivable from rollup partials: $other")
      }
    }
    // nearest-rank is a property of the TIER, detected per smoke column
    // from its schema (the build writes smokeNName counts only in that
    // mode): its sparse bins leave low-percentile slots NULL, so the smoke
    // merge weights each slot by Σ(cnt | slot populated), not Σcnt. Read
    // from the tier, the mode cannot disagree with how the tier was built.
    def nrCol(c: String): Boolean = tier.columns.contains(smokeNName(c))
    val stats = aggs.zip(names).filter { case (a, _) => a.func != "most" && a.func != "smoke" }
    val modes = aggs.zip(names).filter { case (a, _) => a.func == "most" }
    val smokes = aggs.zip(names).filter { case (a, _) => a.func == "smoke" }
    val exprs = stats.map { case (a, out) => fromPartials(a).as(out) } ++
      // `most` merges the per-bin count maps EXACTLY in the same pass
      // (ModeMapAggregate.mostOfMaps: sum counts per value, argmax under
      // the mostByGroup collation count DESC value ASC) — tier-served
      // mode == raw-served mode, no explode/regroup/join lap
      modes.map { case (a, out0) =>
        graft.functions.ModeMapAggregate.mostOfMaps(col(modeName(a.column))).as(out0)
      } ++
      // smoke merges IN the same aggregation pass — the grid width is a
      // constant (19 slots), so per-slot exact-decimal sums are plain agg
      // expressions: no posexplode, no second scan of the tier, no join
      smokes.flatMap { case (a, out) =>
        val sc = col(smokeName(a.column))
        val scn = col(smokeNName(a.column))
        val cnt = col(nm("cnt", a.column))
        // per-slot denominators (nearest-rank tiers only): a sparse bin
        // (n < 10/p) has NULL in its low-percentile slots but still
        // carries cnt samples — dividing a slot's partial sum by the
        // SHARED Σcnt would bias every merged percentile low whenever a
        // multi-bin window contains one such bin. Σ(cnt | slot populated)
        // is the correct weight, summed from the tier's PERSISTED
        // per-slot counts (smokeNName): re-deriving population from the
        // row's cnt breaks on compacted tiers, where a folded row's
        // summed cnt mixes epochs that populated a slot with epochs that
        // did not. Interpolated tiers populate every slot whenever n > 0,
        // so the shared Σcnt is already exact there and the default path
        // keeps the single-denominator shape.
        SmokePercentages.indices.map(i =>
          sum(element_at(sc, i + 1)).cast(SmokeDec).as(s"__s${i}_$out")) ++
          (if (!nrCol(a.column)) Nil
           else SmokePercentages.indices.map(i =>
             sum(element_at(scn, i + 1)).as(s"__sn${i}_$out"))) ++
          Seq(
            sum(cnt).as(s"__n_$out"),
            max(col(nm("mx", a.column))).as(s"__mx_$out"))
      } ++
      Seq(max(col("ts")).as("timestamp")) ++
      // binned output matches selectAggregatedData: min_timestamp is a
      // single-bin (matrix) column only
      (if (singleBin) Seq(min(col("tsn")).as("min_timestamp")) else Nil)
    var out = base
      .groupBy(keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
    // assemble the merged smoke array: Σ(slot·cnt)/Σcnt per grid
    // position (exact decimal sums — order-free), then the exact window
    // max as the 20th slot, the reference's smokearray pack
    // (influx.py:716-722: percentiles 5..95 then max_rtt). A window with
    // no samples (every pinned slot sum NULL) yields NULL, matching the
    // reference's empty-smokearray suppression.
    smokes.foreach { case (a, out0) =>
      val n = col(s"__n_$out0")
      val mx = col(s"__mx_$out0").cast("double")
      val slots = SmokePercentages.indices
        .map(i => col(s"__s${i}_$out0").cast("double") /
          (if (nrCol(a.column)) col(s"__sn${i}_$out0") else n))
      val full = array(slots :+ mx: _*)
      // sparse-bin clamp (opt-in, `clampPercents`): a when-chain over the
      // 18 possible sparse counts picking the percent positions' slots
      // (percent p lives at grid index p/5 - 1) — still plain projection
      // expressions over the same aggregated sums, no extra pass
      val packed =
        if (!sparseClamp) full
        else (2L to 19L).foldLeft(when(n <= 1, array(mx))) { (acc, k) =>
          acc.when(n === k,
            array(clampPercents(k).map(p => slots(p / 5 - 1)) :+ mx: _*))
        }.otherwise(full)
      // drop NULL slots (nearest-rank tiers leave low percentiles empty on
      // sparse bins — the reference packs only non-None values,
      // influx.py:719-721; interpolated tiers never produce a null slot so
      // this is the identity there), then the reference's empty-smokearray
      // suppression: no surviving slots → NULL
      val packedNonNull = filter(packed, x => x.isNotNull)
      out = out.withColumn(out0, when(size(packedNonNull) > 0, packedNonNull))
    }
    out
      .withColumn("binstart",
        if (singleBin) Bound.long(start, LongType) else col("__reqbin"))
      .select((Seq(QueryEngine.LabelCol, "binstart") ++ names ++
        Seq("timestamp") ++ (if (singleBin) Seq("min_timestamp") else Nil))
        .map(col): _*)
      .coalesce(1)
      .sortWithinPartitions(col(QueryEngine.LabelCol), col("binstart"))
  }
}
