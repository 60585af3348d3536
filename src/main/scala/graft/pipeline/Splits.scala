package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting for training pipelines: every row's
  * split is a pure function of (salt, id) — no RNG state, no sampling
  * order dependence — so train/val/test assignment is reproducible across
  * runs, engines, and repartitionings, and adding documents never moves
  * existing ones between splits. Map-only (codegen'd hash + CASE chain);
  * at 100 TB the split is a free column, not a shuffle.
  *
  * Two hash families, same arithmetic (u = 60-bit hash / 2^60):
  *   - [[hashSplit]]: xxhash64 — production (one 8-byte hash per row);
  *   - [[hashSplitMd5]]: md5 — the oracle-parity twin, reproducible in
  *     DuckDB as ('0x' || substr(md5(salt || id), 1, 15))::BIGINT (the
  *     same convention as MinHashSignatureMd5). Both engines convert the
  *     60-bit long to double with the same IEEE rounding and divide by a
  *     power of two, so u is bit-identical.
  *
  * [[leakageSafeSplit]] composes with [[Dedup.connectedComponents]]: all
  * members of a near-dup component hash on the component ROOT, so no
  * near-duplicate pair can straddle train and eval — the train/test
  * contamination guard an LLM pipeline needs after any dedup-pairs pass.
  */
object Splits {

  /** Both hash families produce u-longs in [0, 2^60). */
  val HashSpace: Double = 1152921504606846976.0d // 2^60

  /** CASE chain over cumulative weight fractions; the last split absorbs
    * the floating-sum slack so every u is assigned.
    */
  private def assign(u: Column, weights: Seq[(String, Double)]): Column = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.forall(_._2 > 0), "weights must be positive")
    val total = weights.map(_._2).sum
    val cuts = weights
      .map { case (name, w) => (name, w / total) }
      .scanLeft(("", 0.0)) { case ((_, acc), (name, f)) => (name, acc + f) }
      .drop(1)
    if (cuts.size == 1) lit(cuts.head._1)
    else {
      val chained = cuts.init.tail.foldLeft(when(u < cuts.head._2, cuts.head._1)) {
        case (c, (name, cut)) => c.when(u < cut, name)
      }
      chained.otherwise(cuts.last._1)
    }
  }

  /** xxhash64 u: top 60 bits, uniform in [0, 2^60). */
  private def u64(salt: String, key: Column): Column =
    shiftrightunsigned(xxhash64(lit(salt), key), 4).cast("double") / HashSpace

  /** md5 u: first 15 hex chars of md5(salt || key-as-string), [0, 2^60). */
  private def uMd5(salt: String, key: Column): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 15), 16, 10)
      .cast("long").cast("double") / HashSpace

  /** Add a `split` column assigning each row by hash of (salt, id).
    * Weights normalize to fractions; e.g. Seq("train" -> 0.75,
    * "val" -> 0.125, "test" -> 0.125).
    */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      weights: Seq[(String, Double)],
      salt: String = ""): DataFrame =
    df.withColumn("split", assign(u64(salt, col(idCol)), weights))

  /** Oracle-parity twin of [[hashSplit]] (md5 family). */
  def hashSplitMd5(
      df: DataFrame,
      idCol: String,
      weights: Seq[(String, Double)],
      salt: String = ""): DataFrame =
    df.withColumn("split", assign(uMd5(salt, col(idCol)), weights))

  /** Split with near-dup components pinned together: rows hash on their
    * component root (min id of the connected component of `pairs`), so
    * both sides of every near-dup pair land in the SAME split. Rows in no
    * pair hash on their own id — for them this equals [[hashSplit]].
    * The component map is pair-count-sized; AQE broadcasts it when small.
    */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      weights: Seq[(String, Double)],
      salt: String = "",
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame =
    splitByComponent(df, idCol, pairs, weights, salt, aCol, bCol, u64)

  /** Oracle-parity twin of [[leakageSafeSplit]] (md5 family). */
  def leakageSafeSplitMd5(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      weights: Seq[(String, Double)],
      salt: String = "",
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame =
    splitByComponent(df, idCol, pairs, weights, salt, aCol, bCol, uMd5)

  /** Deterministic per-stratum sampling: keep a row iff u(salt, id) <
    * rate(stratum) — the reproducible, engine-portable form of
    * `df.stat.sampleBy` (whose per-partition RNG changes membership under
    * repartitioning). Map-only; strata absent from `rates` use
    * `defaultRate`.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      rates: Seq[(String, Double)],
      defaultRate: Double = 0.0,
      salt: String = ""): DataFrame =
    df.filter(u64(salt, col(idCol)) < rateOf(stratumCol, rates, defaultRate))

  /** Oracle-parity twin of [[stratifiedSample]] (md5 family). */
  def stratifiedSampleMd5(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      rates: Seq[(String, Double)],
      defaultRate: Double = 0.0,
      salt: String = ""): DataFrame =
    df.filter(uMd5(salt, col(idCol)) < rateOf(stratumCol, rates, defaultRate))

  private def rateOf(
      stratumCol: String,
      rates: Seq[(String, Double)],
      defaultRate: Double): Column =
    rates.foldLeft(lit(defaultRate)) { case (e, (s, r)) =>
      when(col(stratumCol) === s, lit(r)).otherwise(e)
    }

  private def splitByComponent(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      weights: Seq[(String, Double)],
      salt: String,
      aCol: String,
      bCol: String,
      u: (String, Column) => Column): DataFrame = {
    val comp = Dedup.connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", "__cc_id")
    df.join(comp, df(idCol) === col("__cc_id"), "left")
      .withColumn("split",
        assign(u(salt, coalesce(col("component"), col(idCol).cast("long"))), weights))
      .drop("__cc_id", "component")
  }

  // ---- data-mixture resampling -----------------------------------------

  /** Resample the corpus to a target source MIXTURE (web 0.6 / books 0.3 /
    * code 0.1 …) by token mass — the data-mixture reweighting step of a
    * pre-training pipeline. Downsampling only (no row is duplicated): the
    * most under-represented-relative-to-target source keeps rate 1 and
    * every other source is cut to match, so the retained corpus hits the
    * target proportions (in expectation over the per-document hash draw)
    * at maximum total size.
    *
    * rate(s) = target(s) * M / tokens(s), with
    * M = min over sources of tokens(u) / target(u).
    *
    * Execution: one map-side-combined aggregate for the per-source token
    * totals (exact LONG sums — cross-engine reproducible), a scalar M, a
    * broadcast rates join, then the same map-only deterministic hash
    * filter as [[stratifiedSample]]. Two corpus scans, no sort, no
    * shuffle of the corpus itself. Sources absent from `targets` are
    * dropped (rate 0).
    */
  def mixtureSample(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      targets: Seq[(String, Double)],
      salt: String = ""): DataFrame =
    mixtureWith(df, idCol, sourceCol, textCol, targets, salt, u64)

  /** Oracle-parity twin of [[mixtureSample]] (md5 family). */
  def mixtureSampleMd5(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      targets: Seq[(String, Double)],
      salt: String = ""): DataFrame =
    mixtureWith(df, idCol, sourceCol, textCol, targets, salt, uMd5)

  private def mixtureWith(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      targets: Seq[(String, Double)],
      salt: String,
      u: (String, Column) => Column): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0), "targets must be positive")
    val spark = df.sparkSession
    val tgt = broadcast(
      spark.createDataFrame(targets).toDF("__src", "__w"))
    // exact per-source token totals; only targeted sources matter
    val totals = df
      .groupBy(col(sourceCol).as("__src"))
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("__t"))
      .join(tgt, "__src")
    // the binding source: smallest tokens/target ratio keeps rate 1
    val m = totals.agg(min(col("__t").cast("double") / col("__w")).as("__m"))
    // rate(s) = least(1, target * M / tokens): the least() only absorbs
    // floating slack on the binding source itself
    val rates = broadcast(
      totals.crossJoin(broadcast(m))
        .select(
          col("__src"),
          least(lit(1.0), col("__w") * col("__m") / col("__t").cast("double"))
            .as("__rate")))
    df.join(rates, df(sourceCol) === col("__src"))
      .filter(u(salt, col(idCol)) < col("__rate"))
      .drop("__src", "__rate")
  }

  // ---- temperature-flattened mixture sampling --------------------------

  /** Temperature-based mixture sampling (the multilingual-pretraining
    * p^α source-flattening of XLM/XLM-R and the mT5 sampling recipe):
    * instead of caller-supplied target proportions, the targets are
    * DERIVED from the per-source token masses as mass^α with α = 1/2 —
    * large sources are down-weighted toward the small ones, so
    * low-resource sources are not drowned without hand-tuning a mixture.
    * Downsampling only (the binding source keeps rate 1), like
    * [[mixtureSample]]:
    *
    *   target(s) = isqrt(tokens(s)),   rate(s) = min(1, target(s) · M / tokens(s))
    *   with M = min over sources of tokens(u) / target(u).
    *
    * α = 1/2 is computed as the EXACT integer square root (floor(√t)
    * corrected by one comparison either side), so the per-source targets
    * are exact BIGINTs on any engine and every rate is the same short
    * IEEE expression the mixture oracle already reproduces bit-for-bit.
    * Arbitrary α uses pow() doubles — cross-engine only to ulp — so the
    * general form ([[temperatureSampleAlpha]]) is spec-pinned instead of
    * oracle-gated. Sources with zero tokens are dropped (their documents
    * are empty; a 0/0 rate is meaningless).
    *
    * Execution (identical shape to [[mixtureSample]]): one
    * map-side-combined aggregate for exact LONG token totals, a scalar
    * M, broadcast rates, then the map-only deterministic (salt, id) hash
    * filter. The corpus itself never shuffles.
    */
  def temperatureSample(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      salt: String = ""): DataFrame =
    temperatureWith(df, idCol, sourceCol, textCol, salt, u64)

  /** Oracle-parity twin of [[temperatureSample]] (md5 family). */
  def temperatureSampleMd5(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      salt: String = ""): DataFrame =
    temperatureWith(df, idCol, sourceCol, textCol, salt, uMd5)

  /** General-α temperature flattening IN EXACT INTEGERS for the
    * quarter-power family α = quarters/4 ∈ {1/4, 1/2, 3/4}: the weight
    * is a product of exact integer square roots —
    *
    *   α = 1/4: w = isqrt(isqrt(t))
    *   α = 2/4: w = isqrt(t)                  (== [[temperatureSample]])
    *   α = 3/4: w = isqrt(t) · isqrt(isqrt(t))
    *
    * Each w is an exact BIGINT both engines reproduce bit-for-bit (a
    * DEFINED floor-quantization of t^α — within one isqrt step of the
    * real power, exactly as [[temperatureSample]]'s isqrt is of √t), so
    * unlike the pow()-double [[temperatureSampleAlpha]] this family is
    * hash-gateable (q_mixture_temp_a25). Rates and the (salt, id) hash
    * filter are the [[temperatureSample]] idiom verbatim; same
    * broadcast-rates map-only execution shape.
    */
  def temperatureSampleQuarters(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      quarters: Int,
      salt: String = "",
      md5Family: Boolean = false): DataFrame = {
    require(quarters >= 1 && quarters <= 3,
      s"quarters must be 1, 2, or 3 (alpha = quarters/4), got $quarters")
    val weight: Column => Column = quarters match {
      case 1 => t => isqrt(isqrt(t))
      case 2 => t => isqrt(t)
      case 3 => t => isqrt(t) * isqrt(isqrt(t))
    }
    temperatureWith(df, idCol, sourceCol, textCol, salt,
      if (md5Family) uMd5 else u64, weight)
  }

  /** Exact integer square root of a non-negative LONG column: floor(√x)
    * via the (correctly-rounded) double sqrt, corrected by one
    * comparison on each side — exact for any x whose √ fits a long, and
    * bit-identical to the same expression in DuckDB. */
  private[graft] def isqrt(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    s0 - when(s0 * s0 > x, lit(1L)).otherwise(lit(0L)) +
      when((s0 + 1) * (s0 + 1) <= x, lit(1L)).otherwise(lit(0L))
  }

  private def temperatureWith(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      salt: String,
      u: (String, Column) => Column,
      weight: Column => Column = isqrt): DataFrame = {
    val totals = df
      .groupBy(col(sourceCol).as("__src"))
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("__t"))
      .filter(col("__t") > 0)
      .withColumn("__w", weight(col("__t")))
    val m = totals.agg(min(col("__t").cast("double") / col("__w").cast("double")).as("__m"))
    val rates = broadcast(
      totals.crossJoin(broadcast(m))
        .select(
          col("__src"),
          least(lit(1.0), col("__w").cast("double") * col("__m") / col("__t").cast("double"))
            .as("__rate")))
    df.join(rates, df(sourceCol) === col("__src"))
      .filter(u(salt, col(idCol)) < col("__rate"))
      .drop("__src", "__rate")
  }

  /** General-α temperature sampling (pow() doubles — spec-pinned twin of
    * [[temperatureSample]]; α = 0.5 reproduces its flattening up to the
    * isqrt quantization). α ∈ (0, 1]: 1 keeps the natural mixture,
    * smaller flattens harder. */
  def temperatureSampleAlpha(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      alpha: Double,
      salt: String = ""): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val totals = df
      .groupBy(col(sourceCol).as("__src"))
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("__t"))
      .filter(col("__t") > 0)
      .withColumn("__w", pow(col("__t").cast("double"), lit(alpha)))
    val m = totals.agg(min(col("__t").cast("double") / col("__w")).as("__m"))
    val rates = broadcast(
      totals.crossJoin(broadcast(m))
        .select(
          col("__src"),
          least(lit(1.0), col("__w") * col("__m") / col("__t").cast("double")).as("__rate")))
    df.join(rates, df(sourceCol) === col("__src"))
      .filter(u64(salt, col(idCol)) < col("__rate"))
      .drop("__src", "__rate")
  }

  // ---- exact-size deterministic sampling -------------------------------

  /** Take EXACTLY `n` rows (or all, if fewer), chosen by (salt, id) hash
    * order — "give me exactly 1M documents, reproducibly". Rate-based
    * samplers ([[stratifiedSample]]) hit a size only in expectation;
    * this nails it: the kept set is the n hash-smallest ids, a pure
    * function of (salt, ids), stable under repartitioning, and shrinks
    * deterministically under appends (a new id displaces the current
    * maximum only). Rides [[shuffleOrder]]'s two-phase distributed
    * prefix scan — never a TakeOrdered driver merge (whose driver
    * memory is O(n): fine for thousands, not for an exact 100M-doc
    * slice) — and the output carries `pos` (0 ≤ pos < n), already a
    * deterministic training order for the sample.
    */
  def sampleExact(df: DataFrame, idCol: String, n: Long, salt: String = ""): DataFrame = {
    require(n >= 0, s"sample size must be non-negative, got $n")
    shuffleOrder(df, idCol, salt).filter(col("pos") < n)
  }

  /** Oracle-parity twin of [[sampleExact]] (md5 family). */
  def sampleExactMd5(df: DataFrame, idCol: String, n: Long, salt: String = ""): DataFrame = {
    require(n >= 0, s"sample size must be non-negative, got $n")
    shuffleOrderMd5(df, idCol, salt).filter(col("pos") < n)
  }

  /** TOKEN-budget sampling per group — "take ~N training tokens from
    * every source, deterministically": documents are taken in (salt, id)
    * hash order within their group until the group's cumulative token
    * count reaches `budgetTokens`. A document is kept iff it STARTS
    * inside the budget (the [[Packing.packSequences]] bin rule: the
    * boundary-straddling document is included, so every group with any
    * tokens reaches its budget; drop-if-overflowing would silently
    * under-fill groups made of large documents). Deterministic under
    * repartitioning and append-stable the way hash-order samples are (a
    * new id displaces only from its insertion point on).
    *
    * Output adds `tokens` (the document's own count) and `tokens_before`
    * (group tokens preceding it in the order — `tokens_before <
    * budgetTokens` IS the kept predicate, and doubles as a per-group
    * training order).
    *
    * Shape at 100 TB: one corpus-wide two-phase prefix scan over the
    * length-prefixed (group, hash, id) key ([[cutByQuantileExactPerGroup]]'s
    * contiguity recipe — groups are contiguous, a big group spans ranges
    * instead of funneling one task), then a groups-sized base-offset
    * aggregate joined back (AQE broadcast / skew-split). The corpus never
    * sorts in one task and never shuffles by group for the scan itself.
    */
  def sampleByTokenBudgetPerGroup(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      textCol: String,
      budgetTokens: Long,
      salt: String = "",
      md5Family: Boolean = false,
      tokensCol: Option[String] = None): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens must be >= 1, got $budgetTokens")
    // tokensCol: budget by a REAL tokenizer's counts (e.g. BpeEncode's
    // n_tokens — the q_token_budget_bpe gate) instead of the whitespace
    // estimate; same null discipline as the estimate path
    val withTokens = df.withColumn("__tk", tokensOrEstimate(textCol, tokensCol))
    groupPrefix(
        withTokens,
        idCol, groupCol, "__tk", orderHash(salt, idCol, md5Family),
        broadcastBases = false)
      // group-local INCLUSIVE cum minus own = tokens strictly before
      .withColumn("tokens_before", col("__gcum") - col("__tk"))
      .filter(col("tokens_before") < budgetTokens)
      .withColumnRenamed("__tk", "tokens")
      .drop("__gcum")
  }

  /** Length-bucketed batching (the `group_by_length` training idiom:
    * batching similar-length documents together bounds padding waste at
    * ~2× worst-case instead of max-doc-length): bucket = floor(log2
    * (tokens)) computed EXACTLY as `length(binary-string) − 1` (no
    * float log; DuckDB `bin`, Spark `conv(…, 10, 2)` — identical), then
    * documents are numbered within their bucket in (salt, id) hash order
    * and grouped `batchSize` at a time:
    *
    *   (idCol, tokens, bucket, batch_pos, batch_id)
    *
    * batch_pos is the 0-based position within the bucket (a within-batch
    * order); batch_id = batch_pos div batchSize (bucket-local — globally
    * unique as the (bucket, batch_id) pair; the last batch of a bucket
    * may be short). Deterministic under repartitioning.
    *
    * Shape at 100 TB: the [[sampleByTokenBudgetPerGroup]] machinery with
    * bucket as the group — ONE corpus prefix scan on the length-prefixed
    * (bucket, hash, id) key, buckets-sized base offsets (≤ ~40 buckets
    * exist for any token count: broadcast), never a per-bucket sort task.
    */
  def lengthBucketBatches(
      df: DataFrame,
      idCol: String,
      textCol: String,
      batchSize: Int,
      salt: String = "",
      md5Family: Boolean = false,
      tokensCol: Option[String] = None): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    // tokensCol: bucket by a REAL tokenizer's counts (the
    // sampleByTokenBudgetPerGroup convention) instead of the estimate
    val keyed = df
      .withColumn("__tk", tokensOrEstimate(textCol, tokensCol))
      .withColumn("__b", (length(conv(col("__tk"), 10, 2)) - 1).cast("int"))
      .withColumn("__one", lit(1L))
    groupPrefix(keyed, idCol, "__b", "__one",
        orderHash(salt, idCol, md5Family), broadcastBases = true)
      // group-local inclusive count = 1-based rank within the bucket
      .withColumn("batch_pos", col("__gcum") - 1L)
      // INTEGER division: exact at any scale (a double floor drifts
      // past 2^53), matching the oracle's `batch_pos // batchSize`
      .withColumn("batch_id", expr(s"batch_pos div $batchSize"))
      .select(
        col(idCol), col("__tk").as("tokens"), col("__b").as("bucket"),
        col("batch_pos"), col("batch_id"))
  }

  /** Token count with an explicit null-text guard: a null would
    * otherwise surface as a baffling "null group key" error (batching)
    * or a silently dropped row (budget sampling), and would diverge from
    * the oracles — refuse loudly instead.
    */
  /** Token counts for the token-based operators: a REAL tokenizer's
    * column when given (the "samplers accept a tokenizer" plug-in
    * point), the whitespace estimate otherwise — one null discipline.
    */
  private def tokensOrEstimate(textCol: String, tokensCol: Option[String]): Column =
    tokensCol match {
      case Some(c) =>
        when(col(c).isNull,
            raise_error(lit(s"null $c — token-based operators need " +
              "non-null token counts; filter or coalesce first")))
          .otherwise(col(c).cast("long"))
      case None => tokenCountGuarded(textCol)
    }

  private def tokenCountGuarded(textCol: String): Column =
    when(col(textCol).isNull,
        raise_error(lit(s"null $textCol — token-based operators need " +
          "non-null text; filter or coalesce first")))
      .otherwise(TextAnalysis.tokenCount(col(textCol)).cast("long"))

  /** The (salt, id) order-hash segment of a composite key — md5 family
    * for oracle-checked paths, hex60/xxhash64 for production.
    */
  private def orderHash(salt: String, idCol: String, md5Family: Boolean): Column =
    if (md5Family)
      substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 15)
    else hex60(salt, col(idCol))

  /** Group-local INCLUSIVE running sum of `valueCol` in (group, hash,
    * id) order, as `__gcum`: ONE corpus-wide two-phase prefix scan over
    * the length-prefixed contiguous key ([[cutByQuantileExactPerGroup]]'s
    * recipe — a big group spans ranges instead of funneling one task) +
    * a groups-sized base-offset aggregate joined back (broadcast when the
    * caller knows the group count is tiny; AQE decides otherwise). The
    * working columns (`__ord`) are dropped; `__gcum` is the only
    * addition.
    *
    * `idCol` must be unique (and non-null) in `df`: the running sum joins
    * back on it, so an id carried by k rows would come back k² times, each
    * copy with one of the k cumulatives.
    */
  private def groupPrefix(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      valueCol: String,
      hashHex: Column,
      broadcastBases: Boolean): DataFrame = {
    // NARROW scan + join-back (r20, guide §2.3 "project before the
    // exchange" / §6): the prefix scan range-shuffles its input and
    // freezes it through a localCheckpoint, which is an optimizer
    // barrier — column pruning cannot pierce it, so running the scan
    // over the caller's full row width materialized every payload column
    // (document text included) through the exchange AND the checkpoint.
    // The scan only ever needs (id, group, value); the cumulative joins
    // back over the unique id, and the payload moves zero extra times
    // (the join side prunes to whatever the caller's output uses). Ids
    // are the operators' documented unique non-null keys.
    val narrow = df.select(col(idCol), col(groupCol), col(valueCol))
      .withColumn("__ord",
        concat(groupOrderKey(groupCol), lit("-"), hashHex, lit("-"),
          idPad(col(idCol))))
    val cum = Packing.withPrefixSum(narrow, "__ord", valueCol, "__cum")
    // the group's base = the cumulative BEFORE its first row: cum - own
    // is the preceding cumulative, minimized at the group's first row
    val bases0 = cum
      .groupBy(col(groupCol).as("__g"))
      .agg(min(col("__cum") - col(valueCol)).as("__base"))
    val bases = if (broadcastBases) broadcast(bases0) else bases0
    val gcum = cum
      .join(bases, col(groupCol) === col("__g"))
      .select(
        col(idCol).as("__gpk"),
        (col("__cum") - col("__base")).as("__gcum"))
    df.join(gcum, col(idCol) === col("__gpk")).drop("__gpk")
  }

  // ---- deterministic per-group caps ------------------------------------

  /** Per-group cap: keep at most `k` rows per group, chosen by the
    * (salt, id) hash order with an id tie-break — the "domain cap" of a
    * web-corpus pipeline (no single site may contribute more than k
    * documents), done deterministically so the kept set is a pure
    * function of (salt, ids) and survives repartitioning and appends
    * (a new arrival displaces the current hash-order maximum only —
    * membership is as stable as hash order allows, unlike "first k seen"
    * which depends on scan order).
    *
    * Shape: a k-bounded per-group threshold aggregate (map-side
    * combined — the shuffle moves at most k keys per group per
    * partition) + a broadcast-joined map-only membership filter; the
    * corpus itself never shuffles, so a Zipf-headed corpus (90% one
    * domain) caps without funneling the hot group through one sort task
    * (see [[capWith]]). Ids must be unique per row — the keys embed them
    * as the uniqueness tie-break.
    */
  def capPerGroupMd5(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      k: Int,
      salt: String = ""): DataFrame = {
    require(k > 0, s"cap must be positive, got $k")
    capWith(df, idCol, groupCol, k,
      substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 15))
  }

  /** xxhash64 production twin of [[capPerGroupMd5]]. */
  def capPerGroup(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      k: Int,
      salt: String = ""): DataFrame = {
    require(k > 0, s"cap must be positive, got $k")
    capWith(df, idCol, groupCol, k, hex60(salt, col(idCol)))
  }

  /** Threshold-join form of the cap: the group's admission cutoff is its
    * k-th smallest key ([[graft.functions.KthSmallestAggregate]] — a
    * k-bounded buffer Spark partial-aggregates MAP-SIDE, so the agg
    * shuffle moves at most k keys per group per partition however skewed
    * the corpus), and membership is then a map-only
    * `key <= threshold` filter behind a broadcast join. The corpus itself
    * NEVER shuffles — where the direct window form funnels every row of a
    * Zipf-hot domain through one sort task, this reads the corpus twice
    * (threshold pass + filter pass), both passes embarrassingly parallel.
    * Over unique ids the kept set is exactly the k key-smallest per group
    * (keys embed the id, so they are unique; a group under the cap keeps
    * everything — its threshold is its max key). Bit-identical to
    * [[capWithReference]], spec-pinned.
    *
    * The broadcast assumes group cardinality ≪ corpus (domains, sources:
    * millions of rows, not billions). For a group dimension too large to
    * broadcast, drop the hint — the threshold join becomes a shuffle join
    * whose PROBE side streams (no sort, no buffering of the hot group).
    */
  private def capWith(
      df: DataFrame, idCol: String, groupCol: String, k: Int, hashHex: Column): DataFrame = {
    // a NULL id nulls the key, which the threshold aggregate SKIPS — the
    // row would silently vanish where the window form (nulls-first order)
    // kept it. Ids are the membership identity; refuse loudly instead.
    val key = when(col(idCol).isNull,
        raise_error(lit(s"capPerGroup: $idCol must be non-null (keys embed the id)")))
      .otherwise(concat(hashHex, lit("-"), idPad(col(idCol))))
    val keyed = df.withColumn("__capkey", key)
    val thr = keyed.groupBy(col(groupCol))
      .agg(graft.functions.KthSmallestAggregate.kthSmallest(col("__capkey"), k).as("__thr"))
      .withColumnRenamed(groupCol, "__capgrp")
    keyed
      .join(broadcast(thr), col(groupCol) <=> col("__capgrp")) // null group = its own group, like the window
      .filter(col("__capkey") <= col("__thr"))
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Spec-only reference form of the cap: the direct group-partitioned
    * window (one shuffle by group + per-group sort). SplitsSpec pins the
    * threshold-join production path bit-identical to this.
    */
  private[pipeline] def capWithReference(
      df: DataFrame, idCol: String, groupCol: String, k: Int, hashHex: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col("__capkey"))
    df.withColumn("__capkey", concat(hashHex, lit("-"), idPad(col(idCol))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn", "__capkey")
  }

  /** Oracle-family reference twin exposed for the bit-identical spec. */
  private[graft] def capPerGroupMd5Reference(
      df: DataFrame, idCol: String, groupCol: String, k: Int, salt: String): DataFrame =
    capWithReference(df, idCol, groupCol, k,
      substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 15))


  // ---- deterministic replication (UP-sampling) -------------------------

  /** Replication sampling — the UP-sampling half of the mixture move.
    * A stratum's rate may be ANY value ≥ 0: each row emits
    * `floor(rate)` copies always, plus one more iff
    * u(salt, id) < rate − floor(rate) — so rate 2.3 means 2 copies for
    * every id and a 3rd for a deterministic 30% of ids. This is the
    * "epochs over a small high-quality source" primitive every real
    * pretraining mixture needs (token-mass targets above a source's
    * mass are unreachable by keep-hash filtering alone). Every emitted
    * copy carries `epoch` (0-based replica index) so a downstream
    * [[shuffleOrder]] can interleave epochs deterministically.
    *
    * Map-only: the rate is a literal when-chain, the replica count one
    * hash compare, and the emission an explode of a sequence column —
    * no shuffle, no aggregation, stable under repartitioning. Rates
    * ≤ 1 degenerate to [[stratifiedSample]] plus `epoch = 0`, and
    * rate 1.0 is the identity (spec-pinned), so up ∘ down composes.
    *
    * `maxRate` is the runaway guard: a rate above it (a mis-typed
    * target, a near-empty source) raises rather than exploding the
    * corpus silently — the same loud-guard convention as
    * [[rankNormalize]]'s metric-domain check.
    */
  def replicateSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      rates: Seq[(String, Double)],
      defaultRate: Double = 0.0,
      salt: String = "",
      maxRate: Double = 1000.0): DataFrame = {
    require(rates.forall(_._2 >= 0), "rates must be non-negative")
    replicateWith(df, rateOf(stratumCol, rates, defaultRate), idCol, salt, maxRate, u64)
  }

  /** Oracle-parity twin of [[replicateSample]] (md5 family). */
  def replicateSampleMd5(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      rates: Seq[(String, Double)],
      defaultRate: Double = 0.0,
      salt: String = "",
      maxRate: Double = 1000.0): DataFrame = {
    require(rates.forall(_._2 >= 0), "rates must be non-negative")
    replicateWith(df, rateOf(stratumCol, rates, defaultRate), idCol, salt, maxRate, uMd5)
  }

  private def replicateWith(
      df: DataFrame,
      rate: Column,
      idCol: String,
      salt: String,
      maxRate: Double,
      u: (String, Column) => Column): DataFrame = {
    val guarded = when(rate > maxRate,
      raise_error(concat(
        lit(s"replicateSample: rate exceeds maxRate $maxRate: "),
        rate.cast("string"))))
      .otherwise(rate)
    // floor(rate) is exact; the frac subtraction is ONE IEEE op on the
    // same two doubles in any engine, so the hash-vs-frac compare (and
    // with it the replica count) is bit-reproducible cross-engine
    val n = floor(guarded).cast("long") +
      when(u(salt, col(idCol)) < guarded - floor(guarded), lit(1L)).otherwise(lit(0L))
    df.withColumn("__n", n)
      .filter(col("__n") > 0L)
      .withColumn("epoch", explode(sequence(lit(0L), col("__n") - 1L, lit(1L))))
      .drop("__n")
  }

  /** Resample to target source proportions at a token budget of
    * `budgetFactor ×` the corpus's targeted-source token mass — the
    * FULL mixture operator: over-represented sources thin (rate < 1,
    * the [[mixtureSample]] keep-hash), under-represented sources
    * replicate (rate > 1, deterministic epochs via
    * [[replicateSample]]'s emission). rate(s) = target(s) ·
    * budgetFactor · T / tokens(s), with T the exact long token total
    * over targeted sources — both engines derive identical rates from
    * identical longs through an identical operation order. Execution:
    * one map-side-combined token aggregate, a broadcast rates join,
    * then the map-only replica explode; the corpus itself never
    * shuffles. Sources absent from `targets` are dropped.
    */
  def mixtureResample(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      targets: Seq[(String, Double)],
      budgetFactor: Double,
      salt: String = "",
      maxRate: Double = 1000.0): DataFrame =
    mixtureResampleWith(df, idCol, sourceCol, textCol, targets, budgetFactor, salt, maxRate, u64)

  /** Oracle-parity twin of [[mixtureResample]] (md5 family). */
  def mixtureResampleMd5(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      targets: Seq[(String, Double)],
      budgetFactor: Double,
      salt: String = "",
      maxRate: Double = 1000.0): DataFrame =
    mixtureResampleWith(df, idCol, sourceCol, textCol, targets, budgetFactor, salt, maxRate, uMd5)

  private def mixtureResampleWith(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      targets: Seq[(String, Double)],
      budgetFactor: Double,
      salt: String,
      maxRate: Double,
      u: (String, Column) => Column): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0), "targets must be positive")
    require(budgetFactor > 0, "budgetFactor must be positive")
    val spark = df.sparkSession
    val tgt = broadcast(spark.createDataFrame(targets).toDF("__src", "__w"))
    // exact per-source token totals over targeted sources only
    val totals = df
      .groupBy(col(sourceCol).as("__src"))
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("__t"))
      .join(tgt, "__src")
    val tot = totals.agg(sum(col("__t")).as("__tot"))
    // ((w * factor) * T) / tokens — fixed left-assoc order, each step a
    // single IEEE op, so the rate doubles match the oracle's bit for bit
    val rates = broadcast(
      totals.crossJoin(broadcast(tot))
        .select(
          col("__src"),
          (col("__w") * lit(budgetFactor) * col("__tot").cast("double")
            / col("__t").cast("double")).as("__rate")))
    replicateWith(
        df.join(rates, df(sourceCol) === col("__src")),
        col("__rate"), idCol, salt, maxRate, u)
      .drop("__src", "__rate")
  }

  // ---- deterministic corpus shuffle ------------------------------------

  /** Global training-order shuffle: add `pos` = the row's 0-based position
    * in hash-of-id order — the reproducible, engine-portable form of
    * "shuffle the corpus once before training". The order key is the same
    * pure (salt, id) hash as [[hashSplit]], so the permutation is stable
    * under repartitioning and appends only displace, never reorder,
    * existing relative positions.
    *
    * A naive `row_number() OVER (ORDER BY hash)` funnels the whole corpus
    * through ONE sort task; this instead rides
    * [[Packing.withPrefixSum]]'s two-phase parallel scan (range-partition
    * on the key, per-partition counts to driver-sized offsets, local
    * window) — every stage distributed, and the output is already
    * range-partitioned by `pos` for a direct sharded write.
    *
    * The key string is `hex-hash ++ '-' ++ zero-padded id`: hex compares
    * like the 60-bit value, and the id suffix makes the key unique (a
    * total order) even on a hash collision.
    */
  def shuffleOrder(df: DataFrame, idCol: String, salt: String = ""): DataFrame =
    shuffled(df, idCol, hex60(salt, col(idCol)))

  /** Oracle-parity twin of [[shuffleOrder]] (md5 family): DuckDB
    * reproduces `pos` as
    * `row_number() OVER (ORDER BY substr(md5(salt || id), 1, 15), id) - 1`.
    */
  def shuffleOrderMd5(df: DataFrame, idCol: String, salt: String = ""): DataFrame =
    shuffled(df, idCol, substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 15))

  /** Epoch-aware corpus shuffle: positions keyed on (id, epoch), for an
    * UP-sampled corpus ([[replicateSample]]'s output). Plain
    * [[shuffleOrder]] keys on id alone, so a document's replicas share
    * an order key and their relative positions are whatever the scan
    * happened to produce — nondeterministic under repartitioning, and
    * the replicas land ADJACENT (same hash), exactly what an epoch
    * shuffle must avoid. Here the hash covers `id ':' epoch`, so
    * replicas scatter independently across the whole training order and
    * the permutation is again a pure function of (salt, id, epoch).
    */
  def shuffleOrderEpochs(
      df: DataFrame, idCol: String, epochCol: String, salt: String = ""): DataFrame =
    shuffledKey(
      df,
      hex60(salt, concat(col(idCol).cast("string"), lit(":"), col(epochCol).cast("string"))),
      idCol, epochCol)

  /** Oracle-parity twin of [[shuffleOrderEpochs]] (md5 family): DuckDB
    * reproduces `pos` as `row_number() OVER (ORDER BY
    * substr(md5(salt || id || ':' || epoch), 1, 15), id, epoch) - 1`.
    */
  def shuffleOrderEpochsMd5(
      df: DataFrame, idCol: String, epochCol: String, salt: String = ""): DataFrame =
    shuffledKey(
      df,
      substring(md5(concat(
        lit(salt), col(idCol).cast("string"), lit(":"), col(epochCol).cast("string"))), 1, 15),
      idCol, epochCol)

  /** LENGTH-PREFIXED group segment of a composite order key: makes every
    * group's rows CONTIGUOUS in one global order (a bare `group || '-'`
    * prefix can interleave when one group name extends another into the
    * next segment's character range — the 'a' vs 'a-05' trap). Null
    * groups and >9999-char names are refused loudly.
    */
  private def groupOrderKey(groupCol: String): Column = {
    val g = col(groupCol).cast("string")
    when(g.isNull,
        raise_error(lit(s"group order key: null $groupCol — " +
          "coalesce groups to a sentinel first")))
      .when(length(g) > 9999,
        raise_error(lit(s"group order key: $groupCol longer than 9999 chars")))
      .otherwise(concat(lpad(length(g).cast("string"), 4, "0"), g))
  }

  /** xxhash64 order key as fixed-width hex (top 60 bits, like [[u64]]). */
  private def hex60(salt: String, key: Column): Column =
    lpad(lower(hex(shiftrightunsigned(xxhash64(lit(salt), key), 4))), 15, "0")

  /** Zero-pad an id into the fixed-width tie-break suffix of an order
    * key, refusing LOUDLY the two inputs `lpad` would garble silently:
    * ids longer than 20 chars (lpad truncates — two distinct long ids
    * could collide and tie-break nondeterministically) and ids with a
    * leading '-' (the sign char sorts BEFORE '0'-padded digits, so
    * negative ids would order above positives, diverging from the
    * oracle's numeric ORDER BY id). One codegen'd compare per row — the
    * same loud-guard convention as rankNormalize's metric-domain check.
    */
  private def idPad(idCol: Column): Column = {
    val s = idCol.cast("string")
    when(length(s) > 20 || substring(s, 1, 1) === "-",
      raise_error(concat(
        lit("Splits: id must be non-negative and at most 20 chars "
          + "as a string (fixed-width order-key suffix), got "), s)))
      .otherwise(lpad(s, 20, "0"))
  }

  /** Rank-normalize an integer metric to [0, 1]: append
    * `pct_rank = pos / (n − 1)` where pos is the row's 0-based position
    * in (metric ASC, id ASC) order — the quantile-normalization step
    * before mixing quality scores from different sources onto one scale
    * (a raw score distribution is source-specific; its rank transform is
    * not). Ties order by id, so the transform is a deterministic total
    * order on any engine (`row_number`, not `percent_rank`'s tie-sharing
    * — which would be engine-stable too, but loses uniqueness).
    *
    * Like [[shuffleOrder]] this is the two-phase distributed scan, not a
    * `row_number() OVER (ORDER BY metric)` single-task sort: metrics are
    * embedded into a fixed-width sortable key (value biased by 2^62 →
    * zero-padded decimal; metrics must exceed −2^62), range-partitioned,
    * and positioned via per-partition offsets. n arrives as a broadcast
    * scalar; the two divisions are single IEEE ops. A single-row corpus
    * normalizes to 0.0.
    */
  /** Quality-weighted sampling: per-decile keep rates over the
    * rank-normalized metric — the "upsample the best, thin the worst"
    * mixture move, here as the DOWN-sampling form (rates ≤ 1; true
    * upsampling is replication, a different operator). Composes
    * [[rankNormalize]] (which decile a doc's metric falls in, by global
    * rank — scale-free across sources) with the [[stratifiedSampleMd5]]
    * keep-hash family: keep iff u(salt, id) < rates(decile). Both
    * pieces are deterministic and engine-reproducible, so the sampled
    * id set is too.
    *
    * `rates` must have exactly 10 entries (decile 0 = lowest metric).
    * pct_rank = 1.0 (the global maximum) folds into the top decile.
    */
  def qualityWeightedSampleMd5(
      df: DataFrame,
      idCol: String,
      metricCol: String,
      rates: Seq[Double],
      salt: String = ""): DataFrame = {
    require(rates.length == 10, s"need 10 decile rates, got ${rates.length}")
    require(rates.forall(r => r >= 0 && r <= 1), "rates must be in [0, 1]")
    val ranked = rankNormalize(df, idCol, metricCol)
    val decile = least(floor(col("pct_rank") * 10).cast("int"), lit(9))
    val rate = rates.zipWithIndex.foldLeft(lit(0.0)) { case (e, (r, i)) =>
      when(decile === i, lit(r)).otherwise(e)
    }
    ranked.filter(uMd5(salt, col(idCol)) < rate)
  }

  /** Fixed-width sortable key over (metric, id): value biased by 2^62 →
    * zero-padded decimal, id tie-break suffix. Shared by [[rankNormalize]]
    * and [[cutByQuantileExact]]; guards the metric domain loudly (outside
    * (−2^62, 2^62) the bias wraps and the zero-padded key inverts the
    * order SILENTLY — 2^62 would become Long.MinValue, whose '-' prefix
    * sorts first). One codegen'd compare per row; real metrics (counts,
    * lengths, scores) sit many orders of magnitude inside the bound.
    */
  private def metricOrderKeyed(df: DataFrame, idCol: String, metricCol: String): DataFrame = {
    val Bias = 4611686018427387904L // 2^62
    val m = col(metricCol).cast("long")
    val guarded = when(m >= Bias || m <= -Bias,
      raise_error(concat(
        lit(s"rankNormalize: $metricCol out of (-2^62, 2^62): "),
        m.cast("string"))))
      .otherwise(m)
    df.withColumn(
        "__ord",
        concat(
          lpad((guarded + Bias).cast("string"), 20, "0"),
          lit("-"),
          idPad(col(idCol))))
      .withColumn("__one", lit(1L))
  }

  def rankNormalize(df: DataFrame, idCol: String, metricCol: String): DataFrame = {
    // n falls out of the prefix scan's per-partition sums — no separate
    // counting pass over the corpus
    val (pos, n) = Packing.withPrefixSumTotal(
      metricOrderKeyed(df, idCol, metricCol), "__ord", "__one", "__pos1")
    pos
      .withColumn(
        "pct_rank",
        if (n == 1L) lit(0.0)
        else (col("__pos1") - 1L).cast("double") / lit((n - 1L).toDouble))
      .drop("__ord", "__one", "__pos1")
  }

  /** EXACT distributed quantile cut: keep the rows whose 0-based position
    * in (metric ASC, id ASC) order is ≥ floor(q·n) — exactly
    * n − floor(q·n) rows, deterministically, on any engine (the oracle
    * reproduces it as `row_number() − 1 >= floor(q·n)`). The exact twin
    * of [[TextAnalysis.cutByQuantileOf]]'s approx-percentile form: where
    * the sketch trades a size-ε rank error for one small aggregate, this
    * nails the boundary — at the cost of the same two-phase distributed
    * prefix scan [[sampleExact]] rides (range-partition on the order key,
    * per-partition offsets, local windows; never a single-task
    * `row_number() OVER (ORDER BY metric)` sort). The id tie-break makes
    * the kept COUNT exact even when the metric plateaus at the boundary —
    * a plain `metric >= threshold` filter would keep every tied row.
    */
  def cutByQuantileExact(
      df: DataFrame, idCol: String, metricCol: String, q: Double): DataFrame = {
    require(q > 0 && q < 1, s"q must be in (0, 1), got $q")
    val (pos, n) = Packing.withPrefixSumTotal(
      metricOrderKeyed(df, idCol, metricCol), "__ord", "__one", "__pos1")
    // one double multiply + floor, identical in both engines
    val cut = math.floor(q * n.toDouble).toLong
    pos.filter(col("__pos1") - 1L >= cut).drop("__ord", "__one", "__pos1")
  }

  /** [[cutByQuantileExact]] PER GROUP: within each group, keep the rows
    * whose 0-based (metric ASC, id ASC) position is ≥ floor(q · n_g) —
    * exactly n_g − floor(q·n_g) rows per group, deterministic, oracle-
    * reproducible (`row_number() OVER (PARTITION BY g ORDER BY metric,
    * id) − 1 >= floor(q·n_g)`). The exact twin of
    * [[TextAnalysis.cutByQuantileOfPerGroup]]'s percentile-sketch form.
    *
    * Shape at 100 TB: the order key is the LENGTH-PREFIXED group, then
    * the biased metric, then the id — length-prefixing makes every
    * group's rows CONTIGUOUS in the one global order (a bare
    * `group || '-'` prefix can interleave when one group name extends
    * another into the metric's digit range), so ONE corpus-wide
    * two-phase prefix scan (range partition + per-partition offsets —
    * never a per-group or global single-task sort; a group larger than
    * a partition simply spans several ranges) yields global positions,
    * and a groups-sized aggregate (min position = the group's start,
    * count = n_g) converts them to per-group ranks. That aggregate's
    * join back onto the corpus is group-keyed: AQE broadcasts it when
    * the group count is small and skew-splits a hot group's probe
    * partition otherwise (one build row per group — the flat-join
    * shape).
    */
  def cutByQuantileExactPerGroup(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      metricCol: String,
      q: Double): DataFrame = {
    require(q > 0 && q < 1, s"q must be in (0, 1), got $q")
    val keyed = metricOrderKeyed(df, idCol, metricCol)
      .withColumn("__ord", concat(groupOrderKey(groupCol), lit("-"), col("__ord")))
    val (pos, _) = Packing.withPrefixSumTotal(keyed, "__ord", "__one", "__pos1")
    val starts = pos
      .groupBy(col(groupCol).as("__g"))
      .agg(min(col("__pos1")).as("__gstart"), count(lit(1)).as("__gn"))
    pos
      .join(starts, col(groupCol) === col("__g"))
      .filter(
        col("__pos1") - col("__gstart") >=
          floor(lit(q) * col("__gn").cast("double")).cast("long"))
      .drop("__ord", "__one", "__pos1", "__g", "__gstart", "__gn")
  }

  private def shuffled(df: DataFrame, idCol: String, hashHex: Column): DataFrame =
    orderedByKey(df, concat(hashHex, lit("-"), idPad(col(idCol))))

  /** (id, epoch) variant: the tie-break suffix carries BOTH fixed-width
    * pads, so the key stays a total order even on a hash collision.
    */
  private def shuffledKey(
      df: DataFrame, hashHex: Column, idCol: String, epochCol: String): DataFrame =
    orderedByKey(
      df,
      concat(hashHex, lit("-"), idPad(col(idCol)), lit("-"), idPad(col(epochCol))))

  // NOTE (r20, measured negative): a narrow (key, __ord) prefix scan with
  // a join-back over the unique key — the groupPrefix economy — was tried
  // here too and REVERTED: q_shuffle_epochs 0.93 → 1.2-1.4 s (the
  // upstream recompute + the extra join shuffle cost more at bench scale
  // than the payload-through-checkpoint it saves, and at 100 TB the
  // payload crosses the network once under either shape: range exchange
  // vs join exchange). groupPrefix keeps the narrow form because there
  // the caller's payload NEVER needs to ride the scan (its output filter
  // keeps a budget-bounded subset and the join side column-prunes).
  private def orderedByKey(df: DataFrame, ord: Column): DataFrame =
    Packing.withPrefixSum(
        df.withColumn("__ord", ord).withColumn("__one", lit(1L)),
        "__ord", "__one", "__pos1")
      .withColumn("pos", col("__pos1") - 1L)
      .drop("__ord", "__one", "__pos1")
}
