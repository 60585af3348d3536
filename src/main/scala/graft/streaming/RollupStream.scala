package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rollup tier maintenance — the Spark-native form of the reference's
  * InfluxDB continuous queries (X4, libnntsc/influx.py:183-195),
  * which recompute 1-min bins every minute over a trailing 15 min and
  * 1-h bins hourly over a trailing 3 h.
  *
  * Here each ingest micro-batch appends its own exact partials per
  * (stream, bin) with [[appendPartials]], so there is no watermark and no
  * recompute horizon: a late row lands another partial row in its bin,
  * whenever it arrives. [[compact]] folds the accumulated partials back
  * to one row per (stream, bin) between triggers.
  *
  * Partials kept are the exact-decimal set of `graft.rollup.Rollup.build`
  * (count, Σv, Σv², min, max), so merged results equal raw aggregation —
  * see Rollup's scaladoc for why this beats the reference's (mean,
  * magiccount) partials.
  */
object RollupStream {

  /** File-backed tier maintenance: each micro-batch appends ITS OWN exact
    * partials per (stream, bin) under an `__epoch` partition (idempotent
    * on replay, same mechanism as IngestStream) — a late row simply lands
    * another partial row in its bin. The exact-partial set (cnt, Σv, Σv²,
    * min, max, ts) is closed under addition, so any number of partial
    * rows per bin folds to the same numbers raw aggregation gives.
    */
  def appendPartials(
      batch: DataFrame,
      binsize: Long,
      valueCol: String,
      path: String,
      epoch: Long,
      extraCols: Seq[String] = Nil,
      modeCols: Seq[String] = Nil,
      smokeCols: Seq[String] = Nil,
      smokeNearestRank: Boolean = false): Unit =
    graft.rollup.Rollup.buildMulti(
      batch, binsize, valueCol +: extraCols, modeCols, smokeCols, smokeNearestRank)
      .withColumn(IngestStream.EpochCol, lit(epoch))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(IngestStream.EpochCol)
      .parquet(path)

  /** Heap-bounded tier build: run [[appendPartials]] once per stream-id
    * hash range, each range under ITS OWN epoch partition. Ranges
    * partition streams disjointly, so across the written epochs every
    * (stream, bin) appears exactly once — the union IS the single-pass
    * build row-for-row (spec-pinned byte-identical through the serve
    * path), no fold needed, and `compact`/`readTier`/`Rollup.merge` work
    * unchanged because the tier contract is already "any number of
    * partial rows per bin".
    *
    * Why: the single-pass build's hash aggregate holds EVERY (stream,
    * bin) group's state concurrently — with smoke columns that includes a
    * collect_list buffer per group, which is what drove a single-JVM
    * sf100 build toward a ~48 GB heap. Each range pass holds 1/ranges of
    * the groups, trading `ranges` extra scans of the source (cheap,
    * embarrassingly parallel, no shuffle) for a proportional cut in peak
    * aggregate state — and on a real cluster the ranges can run as
    * separate jobs. Epochs [baseEpoch, baseEpoch + ranges) must be free
    * (the usual ingest-epoch discipline; replaying a range overwrites
    * only its own partition, so the build is idempotent per range).
    */
  def appendPartialsRanged(
      batch: DataFrame,
      binsize: Long,
      valueCol: String,
      path: String,
      baseEpoch: Long,
      ranges: Int,
      extraCols: Seq[String] = Nil,
      modeCols: Seq[String] = Nil,
      smokeCols: Seq[String] = Nil,
      smokeNearestRank: Boolean = false): Unit = {
    require(ranges >= 1, s"ranges must be >= 1, got $ranges")
    (0 until ranges).foreach { r =>
      appendPartials(
        batch.filter(pmod(col("stream_id"), lit(ranges)) === r),
        binsize, valueCol, path, baseEpoch + r,
        extraCols, modeCols, smokeCols, smokeNearestRank)
    }
  }

  /** Range count for a heap-bounded tier build, from corpus stats and
    * this JVM's heap. Capacity anchor: the measured sf100 point — a
    * 16-range build of a 95.6M-tier-row corpus completed under a 6 GiB
    * heap where the single pass died (ROUND_NOTES, round 12, VERDICT r11
    * item 5 "Heap-bounded tier build"), i.e. ~6M in-flight groups per
    * 6 GiB WITH smoke grids. We size at 1M
    * rows per GiB of heap (that point with no headroom eaten by the
    * caller's other state), using the event count as the upper bound on
    * tier rows (each event lands in exactly one (stream, bin) group).
    * Degenerate heaps still build: at least 1 range, at most 4096 (past
    * that the per-range scan overhead dominates — shrink the batch
    * instead).
    */
  def autoRanges(
      eventRows: Long,
      heapBytes: Long = Runtime.getRuntime.maxMemory): Int = {
    require(eventRows >= 0, s"eventRows must be non-negative, got $eventRows")
    val rowsPerGi = 1_000_000L
    // proportional, not floored to whole GiB: a 1.9 GiB heap holds 1.9M
    // rows, and a sub-GiB heap still gets its pro-rata share instead of
    // collapsing to capacity=1 (which jumps straight to the 4096 clamp).
    // Double math is exact here (heap byte counts are far below 2^53)
    val capacity =
      math.max(1L, (heapBytes.toDouble / (1L << 30) * rowsPerGi).toLong)
    math.min(4096L, math.max(1L, (eventRows + capacity - 1) / capacity)).toInt
  }

  /** [[appendPartialsRanged]] with the range count auto-sized by
    * [[autoRanges]] — the Maintenance-style one-call build. Counts the
    * batch once (a metadata count on an unfiltered parquet scan); pass
    * `rows` when the caller already knows it. One range degenerates to
    * the plain single-pass [[appendPartials]] at `baseEpoch`.
    */
  def appendPartialsAuto(
      batch: DataFrame,
      binsize: Long,
      valueCol: String,
      path: String,
      baseEpoch: Long,
      extraCols: Seq[String] = Nil,
      modeCols: Seq[String] = Nil,
      smokeCols: Seq[String] = Nil,
      smokeNearestRank: Boolean = false,
      rows: Option[Long] = None): Int = {
    val n = rows.getOrElse(batch.count())
    val ranges = autoRanges(n)
    appendPartialsRanged(
      batch, binsize, valueCol, path, baseEpoch, ranges,
      extraCols, modeCols, smokeCols, smokeNearestRank)
    ranges
  }

  /** Fold accumulated per-epoch partials back to ONE row per (stream, bin)
    * — the reference's trailing-window CQ recompute (influx.py:183-195) as
    * a tidy periodic batch job. Readers (`Rollup.merge`) are agnostic: the
    * merge is associative, so querying an uncompacted tier gives identical
    * results; compaction only buys back file count and scan width.
    *
    * Single-writer contract: run between ingest triggers (the reference's
    * CQs are likewise serialized per tier).
    *
    * CRASH-ATOMIC via a commit marker (the old two-rename swap could die
    * mid-swap and leave a mixed tier): fold `k` writes its single-row-per-
    * bin partials under `__epoch=-k`, covering all source epochs below
    * `boundary` plus the previous fold, then atomically creates
    * `_fold_<k>_<boundary>`. `readTier` takes the HIGHEST committed fold
    * and source epochs >= its boundary; an uncommitted fold dir is
    * invisible (deleted on the next run), and after the marker the covered
    * sources are already hidden, so GC is deferrable. `onStep` is the
    * crash-injection seam for the spec.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      onStep: String => Unit = _ => ()): Unit = {
    val dir = new java.io.File(path)
    if (!dir.exists || dir.listFiles == null) return
    val committed = committedFolds(path)
    val committedKs = committed.map(_._1).toSet
    // recovery: fold dirs without markers are dead attempts
    dir.listFiles
      .filter(f => f.isDirectory && f.getName.startsWith(s"${IngestStream.EpochCol}=-"))
      .filter(f => !committedKs(-f.getName.stripPrefix(s"${IngestStream.EpochCol}=").toLong))
      .foreach(deleteRec)
    // GRACE-PERIOD GC (the layout-merge discipline): everything the
    // NEWEST committed fold superseded has been invisible-but-resolvable
    // since that fold's commit — at least one full compaction cycle — so
    // reader plans built before it have had their window. Markers first.
    committed.lastOption.foreach { case (k0, b0) =>
      committed.foreach { case (j, b) =>
        if (j != k0) new java.io.File(dir, s"_fold_${j}_$b").delete()
      }
      dir.listFiles
        .filter { f =>
          f.isDirectory && f.getName.startsWith(s"${IngestStream.EpochCol}=") && {
            val e = f.getName.stripPrefix(s"${IngestStream.EpochCol}=").toLong
            (e < 0 && e != -k0 && committedKs(-e)) || (e >= 0 && e < b0)
          }
        }
        .foreach(deleteRec)
    }
    val (prevK, prevBoundary) = committed.lastOption.getOrElse((0L, 0L))
    val sourceEpochs = dir.listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(s"${IngestStream.EpochCol}="))
      .map(_.getName.stripPrefix(s"${IngestStream.EpochCol}=").toLong)
      .filter(e => e >= prevBoundary && e >= 0)
    if (sourceEpochs.isEmpty) return
    val boundary = sourceEpochs.max + 1
    val k = prevK + 1

    // mergeSchema + per-row coalesce: same pre-tsn handling as readTier
    // (see its scaladoc — a MIXED dir needs both)
    val df0 = spark.read.option("mergeSchema", "true").parquet(path)
    val df = if (df0.columns.contains("tsn"))
      df0.withColumn("tsn", coalesce(col("tsn"), col("ts")))
    else df0.withColumn("tsn", col("ts"))
    val input = df.filter(
      col(IngestStream.EpochCol) === -prevK && lit(prevK > 0) ||
        (col(IngestStream.EpochCol) >= prevBoundary &&
          col(IngestStream.EpochCol) >= 0 &&
          col(IngestStream.EpochCol) < boundary))
    // fold exprs are DERIVED FROM THE SCHEMA so one code path serves
    // single-column tiers (legacy names), multi-column tiers (__<col>
    // suffixes), and mode tiers (modes__<m> count maps): every stat
    // partial is closed under its own fold op, so any mix folds exactly
    val statCols = df.columns.filter(n =>
      n != "stream_id" && n != "binstart" && n != IngestStream.EpochCol &&
        !n.startsWith("modes__") && !n.startsWith("smoke__") &&
        !n.startsWith("smoken__"))
    val foldExprs = statCols.toSeq.map { n =>
      if (n == "ts" || n == "mx" || n.startsWith("mx__")) max(col(n)).as(n)
      else if (n == "tsn" || n == "mn" || n.startsWith("mn__")) min(col(n)).as(n)
      else if (n == "cnt" || n.startsWith("cnt__")) sum(col(n)).as(n)
      else if (n.startsWith("s1") || n.startsWith("s2"))
        sum(col(n)).cast(df.schema(n).dataType).as(n)
      else throw new IllegalArgumentException(s"unknown tier partial column: $n")
    }
    // mode count maps fold by summing counts per value — ModeMapAggregate
    // merges them IN the main fold pass (no explode/regroup/join lap).
    // Smoke slot sums (count-weighted exact decimals) and nearest-rank
    // per-slot population counts (smoken__, long arrays) fold by
    // element-wise addition over a constant-width grid, so they are plain
    // aggregate expressions riding the SAME pass — the pre-r10 shape ran
    // a second full scan plus a shuffle join PER smoke column; the array
    // is reassembled in a post-agg projection instead. (The smoken
    // closure under this fold is exactly why the per-slot counts are
    // persisted — a folded row's summed cnt cannot say which epochs
    // populated which slot.)
    val smokeFoldCols = df.columns.toSeq
      .filter(n => n.startsWith("smoke__") || n.startsWith("smoken__"))
    val slots = graft.rollup.Rollup.SmokePercentages.indices
    def slotElemType(s: String) = df.schema(s).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val slotFolds = smokeFoldCols.flatMap { s =>
      slots.map(i =>
        sum(element_at(col(s), i + 1)).cast(slotElemType(s)).as(s"__f${i}__$s"))
    }
    val allFolds = foldExprs ++ df.columns.filter(_.startsWith("modes__")).toSeq
      .map(m => graft.functions.ModeMapAggregate.mergeMaps(col(m)).as(m)) ++
      slotFolds
    var folded = input
      .groupBy("stream_id", "binstart")
      .agg(allFolds.head, allFolds.tail: _*)
    smokeFoldCols.foreach { s =>
      folded = folded
        .withColumn(s,
          // grid-exists = ANY slot non-null: nearest-rank sparse bins
          // leave slot 1 (5th pctl) NULL while higher slots carry values —
          // keying on slot 0 alone would null those grids entirely
          when(slots.map(i => col(s"__f${i}__$s").isNotNull).reduce(_ || _),
            array(slots.map(i => col(s"__f${i}__$s")): _*)))
        .drop(slots.map(i => s"__f${i}__$s"): _*)
    }
    val foldedOut = folded.withColumn(IngestStream.EpochCol, lit(-k))
    foldedOut.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(IngestStream.EpochCol).parquet(path)
    onStep("fold-written")
    // COMMIT POINT: atomic marker creation flips visibility
    if (!new java.io.File(dir, s"_fold_${k}_$boundary").createNewFile())
      throw new java.io.IOException(s"fold marker $k already exists")
    onStep("committed")
    // NO GC here: the superseded fold and covered sources are invisible
    // from this instant (readTier keys on the highest committed marker)
    // but stay on disk until the NEXT compact run's grace-period GC, so
    // a reader plan listed before this commit keeps resolving its files.
  }

  /** Committed (k, boundary) fold markers, ascending by k. */
  private[streaming] def committedFolds(path: String): Seq[(Long, Long)] = {
    val d = new java.io.File(path)
    if (!d.exists || d.listFiles == null) Nil
    else d.listFiles.toSeq
      .map(_.getName)
      .collect { case n if n.startsWith("_fold_") =>
        val parts = n.stripPrefix("_fold_").split("_")
        (parts(0).toLong, parts(1).toLong)
      }
      .sortBy(_._1)
  }

  /** One listing of a tier directory: the epochs a read would see and the
    * data files under them. `epochs` is None for a plain parquet dir
    * without the epoch layout. `files` holds (path, length) of every
    * visible data file, sorted by path. A new epoch, a committed fold or a
    * rewritten (replayed) epoch changes `files`, so it serves as the cache
    * key for a frame read from this listing (Service's tier-frame cache).
    */
  final case class TierListing(path: String, epochs: Option[Seq[Long]], files: Seq[(String, Long)])

  /** The visibility rules of a crash-consistent tier read, without reading:
    * the highest committed fold plus source epochs at or above its
    * boundary; uncommitted folds and covered-but-not-yet-GC'd sources are
    * left out. With no fold committed, every source epoch is visible. A
    * crashed (uncommitted) fold dir is never visible.
    */
  def listTier(path: String): TierListing = {
    val dir = new java.io.File(path)
    val epochDirs =
      if (!dir.exists || dir.listFiles == null) Seq.empty[Long]
      else dir.listFiles.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith(s"${IngestStream.EpochCol}="))
        .map(_.getName.stripPrefix(s"${IngestStream.EpochCol}=").toLong)
    val epochs = committedFolds(path).lastOption match {
      case Some((k, boundary)) => Some(epochDirs.filter(e => e == -k || e >= boundary))
      case None if epochDirs.exists(_ >= 0) => Some(epochDirs.filter(_ >= 0))
      case None => None
    }
    val roots = epochs.fold(Seq(dir))(
      _.map(e => new java.io.File(dir, s"${IngestStream.EpochCol}=$e")))
    def dataFiles(f: java.io.File): Seq[(String, Long)] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(dataFiles)
      else Seq(f.getPath -> f.length)
    val files = roots.flatMap(r => Option(r.listFiles).toSeq.flatten.flatMap(dataFiles))
    TierListing(path, epochs.map(_.sorted), files.sortBy(_._1))
  }

  /** Crash-consistent tier read of the current listing ([[listTier]]). */
  def readTier(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readTier(spark, listTier(path))

  /** Reads what `listing` names: its visible epoch dirs, or the plain dir. */
  def readTier(spark: org.apache.spark.sql.SparkSession, listing: TierListing): DataFrame = {
    val path = listing.path
    // schema evolution: tiers persisted before the bin-min timestamp was
    // added (tsn) default it to the bin-max. Three dir states to cover:
    // all-old (no tsn column anywhere — add it), MIXED old+new files
    // (mergeSchema surfaces tsn; old files read it as NULL — coalesce to
    // ts per row, else min(tsn) in compactTier/matrixFromTier silently
    // skips the old bins), all-new (coalesce is a no-op). Plain
    // schema-inference would pick ONE file's schema for a mixed dir and
    // either hide tsn entirely or null it for old rows.
    def withTsn(df: DataFrame): DataFrame =
      if (df.columns.contains("tsn"))
        df.withColumn("tsn", coalesce(col("tsn"), col("ts")))
      else df.withColumn("tsn", col("ts"))
    // Read ONLY the visible epoch dirs by explicit path (the readCombined
    // convention): a whole-dir read would also LIST the superseded folds
    // and covered sources pending grace GC — invisible by filter, but
    // mergeSchema's footer pass still touches their files at plan build,
    // and a GC racing that pass crashes the reader (caught by the tier
    // concurrency spec). Visible paths are never GC'd until a NEWER fold
    // has been committed for a full cycle, so this listing is race-free
    // under the grace contract.
    listing.epochs match {
      case Some(visible) =>
        withTsn(spark.read
          .option("mergeSchema", "true")
          .option("basePath", path)
          .parquet(visible.map(e => s"$path/${IngestStream.EpochCol}=$e"): _*)
          .drop(IngestStream.EpochCol))
      case None =>
        // non-epoch layout (plain parquet dir) or nothing readable yet.
        // If partition discovery still surfaces an epoch column (only
        // NEGATIVE epoch dirs exist — a crashed fold attempt after manual
        // cleanup or a partial restore), keep the `epoch >= 0` filter the
        // explicit-path branch applies: an uncommitted fold must never be
        // served as data.
        val plain = spark.read.option("mergeSchema", "true").parquet(path)
        val safe =
          if (plain.columns.contains(IngestStream.EpochCol))
            plain.filter(col(IngestStream.EpochCol) >= 0)
              .drop(IngestStream.EpochCol)
          else plain
        withTsn(safe)
    }
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory && f.listFiles != null) f.listFiles.foreach(deleteRec)
    f.delete()
  }
}
