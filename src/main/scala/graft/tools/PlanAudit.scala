package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.query.{AggSpec, QueryEngine}
import graft.storage.Layout

/** Plan hygiene audit: asserts the physical-plan properties the 100 TB
  * design depends on — filter pushdown reaching parquet, column-pruned
  * scans, broadcast joins for dimensions, partition pruning under the
  * Layout scheme, whole-stage codegen coverage. Prints AUDIT lines; exits
  * nonzero on violation.
  */
object PlanAudit {
  private var failures = 0

  private def check(name: String, plan: String, mustContain: Seq[String], mustNot: Seq[String] = Nil): Unit = {
    val missing = mustContain.filterNot(plan.contains)
    val illegal = mustNot.filter(plan.contains)
    if (missing.isEmpty && illegal.isEmpty) println(s"AUDIT ok   $name")
    else {
      failures += 1
      println(s"AUDIT FAIL $name missing=$missing illegal=$illegal")
    }
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Run one audit section; a thrown exception becomes ONE failure line
    * instead of aborting the remaining checks (round 8: a single broken
    * table adapter cost 28 of 29 checks their run). */
  private def guarded(name: String)(body: => Unit): Unit =
    try body catch { case e: Throwable =>
      failures += 1
      println(s"AUDIT FAIL $name threw: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the audit pins OPERATOR shapes (map-only, no-exchange contracts);
      // the r19 small-input scan fan-out (Tables.loadFact — a bench-scale
      // input-skew remediation, identity at production scale) would put a
      // repartition Exchange under every such check. Its own gating is
      // pinned in TablesFanoutSpec.
      .config("graft.fanout.maxInputBytes", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // shared inputs: lazy so a broken table throws inside the guarded
    // section that uses it, not at definition
    val labels = Map("g0" -> Seq(0L, 3L), "g1" -> Seq(1L, 2L))
    lazy val docs = Tables.documents(spark, sfDir) // no limit: GlobalLimit would add its own exchange
    lazy val evAll = Tables.tsEvents(spark, sfDir)
    lazy val semEmb = Tables.embeddings(spark, sfDir)

    guarded("lineitem scan") {
      // 1. filter + projection pushdown on a plain parquet scan
      val li = Tables.lineitem(spark, sfDir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .select("l_orderkey", "l_quantity")
      check("lineitem scan: pushed filter + pruned schema", plan(li),
        mustContain = Seq("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
        mustNot = Seq("l_comment", "l_extendedprice"))
    }

    guarded("binned agg") {
      // 2. labels attach with no join at all: a `stream_id IN (…)` pushed
      //    into the parquet scan plus a literal id → label lookup (the
      //    reference's CASE labelling) — no broadcast job, and never a
      //    shuffle of the fact side. tsEvents aliases the file's user_id
      //    as stream_id, so the pushed filter names user_id.
      val agg = QueryEngine.selectAggregatedData(
        evAll, labels,
        Seq(AggSpec("value", "avg")), 0L, 1900000000L, 3600)
      agg.collect() // run once so AQE finalizes the plan (codegen stages appear)
      // whole-stage codegen shows as "*(n) " stage prefixes in the simple
      // plan string
      check("binned agg: label IN pushed to the scan, no join + codegen", plan(agg),
        mustContain = Seq("In(user_id,", "*(1)"),
        mustNot = Seq("Join", "SortMergeJoin"))
    }

    guarded("q3") {
      // 3. TPC-H-style join: dimension broadcast
      val q3 = graft.SparkEntry.queries("q3_shipping")(spark, sfDir)
      check("q3: broadcast dimension join", plan(q3),
        mustContain = Seq("BroadcastHashJoin"))
    }

    guarded("layout scan") {
      // 4. Layout table: partition pruning (sbucket) + timestamp pushdown
      val dir = java.nio.file.Files.createTempDirectory("graftaudit").toString + "/data"
      Layout.writeData(
        evAll.select("stream_id", "timestamp", "value"),
        dir, buckets = 16)
      val pruned = Layout.readData(spark, dir)
        .filter(Layout.streamPredicate(Seq(1L, 2L), buckets = 16))
        .filter(col("timestamp").between(1704067200L, 1704672000L))
      check("layout scan: partition pruning + timestamp pushdown", plan(pruned),
        mustContain = Seq(
          "PartitionFilters",
          "sbucket",
          "GreaterThanOrEqual(timestamp,1704067200)"))
      val nFiles = pruned.select(input_file_name()).distinct().count()
      val totalFiles = Layout.readData(spark, dir).select(input_file_name()).distinct().count()
      println(s"AUDIT info layout files scanned: $nFiles of $totalFiles")
      if (nFiles * 4 > totalFiles) { failures += 1; println("AUDIT FAIL pruning ineffective") }
    }

    guarded("adapter pushdown info") {
      // 5. documented caveat: the events adapter derives epoch seconds, so
      //    its time filter is NOT pushable (engine tables store epoch-s
      //    longs physically — case 4 — so this only affects the test corpus
      //    adapter). The scan still lists the derivation's IsNotNull(ts);
      //    a comparison on ts would mean the bounds do reach the reader.
      val adapterPlan = plan(QueryEngine.filterTime(evAll, 1L, 2L))
      val pushed = """PushedFilters: \[([^\]]*)\]""".r
        .findFirstMatchIn(adapterPlan).map(_.group(1)).getOrElse("?")
      println(s"AUDIT info adapter pushed filters: [$pushed]; time bounds " +
        (if (pushed.contains("(ts,")) "pushed" else "not pushed, as documented"))
    }

    guarded("signature paths") {
      // 6. fused signature paths are MAP-ONLY: no exchange anywhere between
      //    the cached shingle sets / raw text and the signature output
      val sigPlan = plan(graft.pipeline.Dedup.minhashSignatures(docs, "doc_id", "text", 3, 64))
      check("minhash signatures: map-only (no shuffle)", sigPlan,
        mustContain = Seq("minhash_signature"),
        mustNot = Seq("Exchange"))
      val shPlan = plan(graft.pipeline.Dedup.simhash(docs, "doc_id", "text"))
      check("simhash fingerprints: map-only (no shuffle)", shPlan,
        mustContain = Seq("simhash60"),
        mustNot = Seq("Exchange"))
    }

    guarded("ngram pairs") {
      // 6a. ngram Jaccard builds co-occurrence by inverted-list PAIR
      //     GENERATION (posexplode + slice-explode, each unordered pair
      //     emitted once) — NOT an index self-join, which materializes Σdf²
      //     rows and throws half away after the shuffle (2× solo at sf1).
      //     The self-join's signature is a sort-merge join KEYED ON THE
      //     SHINGLE (`__s`) — i.e. the corpus shuffled by shingle. The
      //     post-agg size joins key on doc ids and their sides arrive
      //     pre-partitioned from their groupBys, so an SMJ there is the
      //     correct at-scale plan (AQE broadcasts it at test scale) and is
      //     NOT banned — round 9: the blanket SMJ ban false-alarmed at sf1.
      val ngPlan = plan(graft.pipeline.Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", 3, 0.2, maxDf = Some(500L)))
      check("ngram pairs: inverted-list generation, no index self-join", ngPlan,
        mustContain = Seq("Generate posexplode"),
        mustNot = Seq("SortMergeJoin [__s"))
      // 6a¹. containment rides the SAME shared-count engine — same shape
      //      pins; the directed two-way finisher must stay on the post-agg
      //      pair frame (one extra Generate explode over a 2-element
      //      array, never a second pass over the corpus or a union that
      //      re-runs the pair agg: exactly ONE pair-generation posexplode).
      val ctPlan = plan(graft.pipeline.Dedup.containmentPairs(
        docs, "doc_id", "text", 3, 0.5, maxDf = Some(500L)))
      check("containment pairs: shared engine, single pair pass", ctPlan,
        mustContain = Seq("Generate posexplode"),
        mustNot = Seq("SortMergeJoin [__s"))
      val ctGen = "Generate posexplode".r.findAllIn(ctPlan).size
      if (ctGen == 1) println("AUDIT ok   containment pairs: one generation pass")
      else { failures += 1
        println(s"AUDIT FAIL containment pairs: $ctGen pair-generation passes (want 1)") }
    }

    guarded("filter_lines") {
      // 6a³. the C4 line filter is a fused map-only expression: no
      //      Exchange, no Generate (the compositional form explodes lines
      //      or runs interpreted higher-order lambdas), inside a
      //      whole-stage-codegen span (`*(1)` Project).
      val flPlan = plan(docs.select(
        graft.functions.FilterLines(
          org.apache.spark.sql.functions.col("text"), 3,
          Seq("slow", "dup"), requireTerminalPunct = true).as("r")))
      check("filter_lines: fused map-only codegen", flPlan,
        mustContain = Seq("*(1) Project [filter_lines("),
        mustNot = Seq("Exchange", "Generate", "BatchEvalPython"))
    }

    guarded("dict_scan") {
      // 6a³b. the Aho–Corasick dictionary scan is one fused map-only
      //       reference-object expression: the automaton rides the
      //       closure, the text is scanned ONCE regardless of dictionary
      //       size — no Exchange, no Generate, no per-term join, inside
      //       whole-stage codegen.
      val dsPlan = plan(docs.select(
        graft.functions.DictScan(
          org.apache.spark.sql.functions.col("text"),
          Seq("table", "scan slow", "agg")).as("r")))
      check("dict_scan: fused map-only codegen", dsPlan,
        mustContain = Seq("*(1) Project [dict_scan("),
        mustNot = Seq("Exchange", "Generate", "Join", "BatchEvalPython"))
    }

    guarded("png_decode") {
      // 6a³c. the PNG pixel decode is one fused map-only codegen
      //       expression (Inflater + unfilter ride the static kernel):
      //       no Exchange, no Generate, no Python, inside whole-stage
      //       codegen — payload bytes are read once where they sit.
      val pngPlan = plan(docs.select(
        graft.functions.PngDecode(
          org.apache.spark.sql.functions.encode(
            org.apache.spark.sql.functions.col("text"), "UTF-8")).as("r")))
      check("png_decode: fused map-only codegen", pngPlan,
        mustContain = Seq("*(1) Project [png_decode("),
        mustNot = Seq("Exchange", "Generate", "Join", "BatchEvalPython"))
    }

    guarded("perceptual media kernels") {
      // r19: the round's fused kernels stay map-only inside whole-stage
      // codegen — webp decode, the audio envelope fingerprint and the
      // video frame-signature fold all read payload bytes once in place
      val payload = org.apache.spark.sql.functions.encode(
        org.apache.spark.sql.functions.col("text"), "UTF-8")
      val webpPlan = plan(docs.select(graft.functions.WebpDecode(payload).as("r")))
      check("webp_decode: fused map-only codegen", webpPlan,
        mustContain = Seq("*(1) Project [webp_decode("),
        mustNot = Seq("Exchange", "Generate", "Join", "BatchEvalPython"))
      val afpPlan = plan(docs.select(
        graft.functions.AudioFingerprint(payload, 65).as("r")))
      check("audio_fingerprint: fused map-only codegen", afpPlan,
        mustContain = Seq("*(1) Project [audio_fingerprint("),
        mustNot = Seq("Exchange", "Generate", "Join", "BatchEvalPython"))
      val vfsPlan = plan(docs.select(
        graft.functions.VideoFrameSigs(payload, 2, 9, 8).as("r")))
      check("video_frame_sigs: fused map-only codegen", vfsPlan,
        mustContain = Seq("*(1) Project [video_frame_sigs("),
        mustNot = Seq("Exchange", "Generate", "Join", "BatchEvalPython"))
      // the video pair mine is an equi-join on signature VALUES (the
      // inverted-list shape) — never a cartesian/broadcast-nested-loop
      val vpPlan = plan(graft.pipeline.Dedup.videoFrameSigPairs(
        graft.pipeline.Multimodal.mediaTableVideoPairs(docs),
        "media_id", "payload"))
      check("video sig pairs: signature equi-join, no cartesian", vpPlan,
        mustContain = Seq("Join"),
        mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
    }

    guarded("bpe_encode") {
      // 6a³d. BPE corpus encode is one fused map-only reference-object
      //       expression: the merge table rides the closure — no join
      //       against a vocab table, no Exchange, no Generate; every
      //       text byte touched once inside whole-stage codegen. (The
      //       TRAINING side is one groupBy + a bounded top-K collect —
      //       the Pq codebook pattern, audited by its own gate.)
      val bpePlan = plan(docs.select(
        graft.functions.BpeEncode(
          org.apache.spark.sql.functions.col("text"),
          Seq(("t", "h"), ("th", "e"))).as("r")))
      check("bpe_encode: fused map-only codegen", bpePlan,
        mustContain = Seq("*(1) Project [bpe_encode("),
        mustNot = Seq("Exchange", "Generate", "Join", "BatchEvalPython"))
      // the RANKED (Sennrich priority) production path is the same fused
      // expression — the rank table rides the closure exactly like the
      // replay table; plan shape must not change with the mode
      val bpeRankedPlan = plan(docs.select(
        graft.functions.BpeEncode(
          org.apache.spark.sql.functions.col("text"),
          Seq(("t", "h"), ("th", "e")), ranked = true).as("r")))
      check("bpe_encode ranked: same fused map-only shape", bpeRankedPlan,
        mustContain = Seq("*(1) Project [bpe_encode("),
        mustNot = Seq("Exchange", "Generate", "Join", "BatchEvalPython"))
    }

    guarded("line dedup") {
      // 6a⁴. corpus-global line dedup: verdicts from a map-side-combined
      //      aggregate on the line hash (partial_min of the (id, ord)
      //      struct — NEVER a corpus-wide window over lines, the
      //      single-task funnel for a corpus-hot footer line), and the
      //      rebuild is a per-document ObjectHashAggregate (buffer bounded
      //      by one doc). Boilerplate twin: partial_count verdicts, same
      //      bans.
      import org.apache.spark.sql.functions.{col, lit, replace}
      val multi = docs.select(
        col("doc_id"), replace(col("text"), lit(" merge "), lit("\n")).as("text"))
      val ldPlan = plan(graft.pipeline.Lines.dedupLines(multi, "doc_id", "text"))
      check("line dedup: map-side first-copy agg, no corpus window", ldPlan,
        mustContain = Seq("Generate posexplode", "partial_min", "ObjectHashAggregate"),
        mustNot = Seq("Window", "CartesianProduct"))
      val lbPlan = plan(graft.pipeline.Lines.boilerplateLines(multi, "doc_id", "text", 3))
      check("boilerplate lines: counted verdicts, no corpus window", lbPlan,
        mustContain = Seq("Generate posexplode", "partial_count", "ObjectHashAggregate"),
        mustNot = Seq("Window", "CartesianProduct"))
    }

    guarded("dup span coverage") {
      // 6a². dupSpanCoverage is the LINEAR dup measure: gram df must come
      //      from a map-side-combined count (partial HashAggregate keyed on
      //      the gram hash — a collect_list inverted list would buffer a
      //      hot gram's whole posting list in ONE aggregation buffer), the
      //      duplicated-gram filter joins back as a semi-join (no pair
      //      generation anywhere: posexplode appears ONCE, for the
      //      positional index itself), and the interval union sorts
      //      per-DOCUMENT (window partitioned by __id), never globally.
      val spanPlan = plan(graft.pipeline.Dedup.dupSpanCoverage(
        docs, "doc_id", "text", 3))
      check("dup span: counted grams, semi-join, doc-local window", spanPlan,
        mustContain = Seq("LeftSemi", "partial_count"),
        mustNot = Seq("collect_list", "CartesianProduct"))
      // the positional index is rebuilt once per consumer (the df count
      // and the semi-join left side): recomputing a fused map-only
      // projection is the right 100 TB trade vs materializing a
      // token-scale intermediate. 2 posexplodes = those two branches;
      // a third would mean pair generation crept in.
      val nGen = "Generate posexplode".r.findAllIn(spanPlan).length
      if (nGen == 2) println("AUDIT ok   dup span: posexplode only builds the positional index (2 branches)")
      else {
        failures += 1
        println(s"AUDIT FAIL dup span: expected exactly 2 posexplodes (index branches), found $nGen")
      }
    }

    guarded("covariance") {
      // PCA's distributed half must be ONE fixed-buffer aggregate pass:
      // the TypedImperativeAggregate plans as ObjectHashAggregate with a
      // map-side partial (partial_outer_product), no per-entry aggregate
      // fan-out (2 080 sum() columns), no Expand, no pair explode
      val covPlan = plan(graft.pipeline.Similarity.covStatsFrame(
        semEmb, "embedding", 64, 1e6))
      check("covariance: single fixed-buffer aggregate pass", covPlan,
        mustContain = Seq("ObjectHashAggregate", "partial_outer_product"),
        mustNot = Seq("Expand", "Generate"))
    }

    guarded("lsh pairs hints") {
      // 6b. the LSH signature re-join is UNHINTED: sa/sb are corpus-sized
      //     (one row per document), so a forced broadcast would die at the
      //     8 GB limit at 100 TB — the analyzed plan must carry no broadcast
      //     ResolvedHint anywhere in the minhash pair pipelines (AQE picks
      //     the strategy at runtime instead)
      val lshPairs = graft.pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text")
      check("minhash lsh pairs: no forced broadcast of signatures",
        lshPairs.queryExecution.analyzed.toString,
        mustContain = Seq("Join"),
        mustNot = Seq("ResolvedHint"))
      val lshPairsMd5 = graft.pipeline.Dedup.minhashLshPairsMd5(docs, "doc_id", "text")
      check("minhash lsh pairs (md5 family): no forced broadcast of signatures",
        lshPairsMd5.queryExecution.analyzed.toString,
        mustContain = Seq("Join"),
        mustNot = Seq("ResolvedHint"))
      graft.pipeline.Dedup.unpersistIntermediates()
    }

    guarded("as-of join") {
      // 7. the custom physical as-of join: AsOfJoinExec planned, each side
      //    exchanged+sorted once, and no window machinery
      val ev = QueryEngine.filterTime(evAll, 0L, 1900000000L)
      val clicks = ev.filter(col("event_type") === "click")
        .select("stream_id", "timestamp", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("stream_id", "timestamp", "value")
        .dropDuplicates("stream_id", "timestamp")
      val asofPlan = plan(graft.query.TimeSeriesOps.asofJoinNative(
        clicks, purchases, Seq("stream_id"), "timestamp", Seq("value")))
      check("native as-of join: merge operator, no window", asofPlan,
        mustContain = Seq("AsOfJoin"),
        mustNot = Seq("Window", "SortMergeJoin"))
    }

    guarded("ivf assignment") {
      // 8. IVF assignment: one compact nearest_cells node, no literal
      //    blow-up (the plan string stays small) and no nested-loop join
      val centroids = Seq.fill(16)(Seq.fill(64)(0.5))
      val assignPlan = plan(semEmb.select(
        graft.functions.NearestCells.nearestCells(col("embedding"), centroids, 1)))
      check("ivf assignment: reference-object centroids", assignPlan,
        mustContain = Seq("nearest_cells"),
        mustNot = Seq("BroadcastNestedLoopJoin"))
      if (assignPlan.length > 10000) {
        failures += 1; println("AUDIT FAIL ivf assignment plan bloated")
      }

      //    two-level variant (r10): past TwoLevelCells the dispatch swaps
      //    in the coarse→fine scan — still ONE compact reference-object
      //    node, still map-only (no exchange between scan and assignment),
      //    plan size independent of k·d
      val bigK = Seq.tabulate(64)(i => Seq.fill(64)(i * 0.01))
      val idx = graft.pipeline.Similarity.CellIndex(bigK, twoLevelAt = 2)
      val twoPlan = plan(semEmb.select(idx.nearest(col("embedding"), 1)))
      check("ivf assignment (two-level): compact node, map-only", twoPlan,
        mustContain = Seq("nearest_cells_2l"),
        mustNot = Seq("Exchange", "BroadcastNestedLoopJoin"))
      if (twoPlan.length > 10000) {
        failures += 1; println("AUDIT FAIL two-level assignment plan bloated")
      }
    }

    guarded("q5") {
      // 9a. Q5 shape: lineitem folds to per-order partials BELOW the only
      //     wide join (map-side combined HashAggregate before the orderkey
      //     shuffle); every dimension attach is a broadcast probe — no
      //     item-level SMJ, no cartesian
      val q5 = graft.SparkEntry.queries("q5_region_revenue")(spark, sfDir)
      val p5 = plan(q5)
      check("q5: per-order partial agg below the join, dims broadcast", p5,
        mustContain = Seq("BroadcastHashJoin", "HashAggregate"),
        mustNot = Seq("BroadcastNestedLoopJoin", "CartesianProduct"))
      // the partial aggregate must sit under the orderkey join: the plan
      // has a HashAggregate keyed by l_orderkey (the fold), not just the
      // final region/nation aggregate
      if (p5.contains("HashAggregate(keys=[l_orderkey"))
        println("AUDIT ok   q5: lineitem folded per order before the shuffle")
      else { failures += 1; println("AUDIT FAIL q5 lineitem not pre-aggregated per order") }
    }

    guarded("q18") {
      // 9. Q18 shape: lineitem aggregated ONCE (the HAVING sum doubles as
      //    the output sum), the gated order set broadcasts — every join is
      //    a broadcast hash join, no second lineitem scan, no shuffled join
      val q18 = graft.SparkEntry.queries("q18_big_orders")(spark, sfDir)
      q18.collect() // AQE finalizes join strategies
      check("q18: single lineitem agg + all-broadcast joins", plan(q18),
        mustContain = Seq("BroadcastHashJoin"),
        mustNot = Seq("BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin"))
      // AQE's string repeats the tree under "== Initial Plan ==" — count
      // scans in the final section only
      val q18Final = plan(q18).split("== Initial Plan ==")(0)
      val q18Scans = "Scan parquet".r.findAllIn(q18Final).length
      if (q18Scans == 3) println("AUDIT ok   q18: 3 scans (lineitem once)")
      else { failures += 1; println(s"AUDIT FAIL q18 has $q18Scans scans") }
    }

    guarded("q_freq") {
      // 10. q_freq single-pass: the binned aggregation feeds the whole
      //     inference tree exactly once — the events scan appears ONCE in
      //     the physical plan (round-2 shape recomputed it three times), and
      //     the post-window pipeline needs no further exchange (one window
      //     shuffle by label; byDiff/total/picks cluster on supersets of it)
      val freqPlan = plan(graft.SparkEntry.queries("q_freq")(spark, sfDir))
      val nScans = "Scan parquet".r.findAllIn(freqPlan).length
      if (nScans == 1) println("AUDIT ok   q_freq: single scan of the binned input")
      else { failures += 1; println(s"AUDIT FAIL q_freq scans binned input $nScans times") }
      val nExch = "Exchange".r.findAllIn(freqPlan).length
      // binned agg shuffle + label window shuffle + the final orderBy range
      // exchange = 3 (labels attach without a join); more means a
      // downstream stage (byDiff / total window / final agg) failed to
      // reuse the label partitioning and re-shuffled
      if (nExch <= 3) println(s"AUDIT ok   q_freq: $nExch exchanges (agg, window, sort)")
      else { failures += 1; println(s"AUDIT FAIL q_freq has $nExch exchanges") }
    }

    guarded("tier serving") {
      // 11. matrix serve routing: with rollup tiers configured, the matrix
      //     plan scans the tiny pre-aggregated tier — the raw fact table
      //     (events.parquet) appears NOWHERE in it (influx.py:384-517; a
      //     dashboard refresh must not full-scan raw history)
      val tierDir = java.nio.file.Files.createTempDirectory("graftaudit_tier").toString
      graft.streaming.RollupStream.appendPartials(
        evAll, 3600, "value", s"$tierDir/t3600", epoch = 0L)
      val tierSvc = new graft.serve.Service(
        spark,
        data = Map("ev" -> evAll),
        streams = Map.empty,
        rollups = Map("ev" -> graft.serve.Service.RollupTiers(
          "value", Map(3600L -> s"$tierDir/t3600"))))
      val routedMatrix = tierSvc.matrixFrame(
        "ev", labels,
        Seq(AggSpec("value", "avg"), AggSpec("value", "max"), AggSpec("value", "count")),
        1704067200L, 1704067200L + 14 * 86400)
      check("matrix serve: routed to rollup tier, raw table unscanned",
        plan(routedMatrix),
        mustContain = Seq("t3600"),
        mustNot = Seq("events.parquet"))
      //     the routed window stays pushed into the tier scan: its bounds
      //     are bound parameters of the generated code (graft.query.Bound),
      //     which must keep them visible to parquet pushdown. The plan is
      //     printed with a long metadata limit so the whole PushedFilters
      //     list shows.
      val fullKey = "spark.sql.maxMetadataStringLength"
      spark.conf.set(fullKey, "100000")
      val routedScan =
        try plan(tierSvc.matrixFrame(
          "ev", labels, Seq(AggSpec("value", "avg")),
          1704067200L, 1704067200L + 14 * 86400))
        finally spark.conf.unset(fullKey)
      check("matrix serve: tier window pushed into the tier scan",
        routedScan.linesIterator.filter(_.contains("PushedFilters:"))
          .map(l => l.substring(l.indexOf("PushedFilters:"))).mkString("\n"),
        mustContain = Seq("GreaterThanOrEqual(binstart,", "LessThan(binstart,"))

      //     multi-column + mode variant: a second stat column and a `most`
      //     agg must ALSO route through the tier (the reference's CQs carry
      //     the whole aggcols list, influx.py:158-173, and mode merges from
      //     rollup counts, :492-511) — pre-round-7 these fell back to the
      //     exact raw full scan the tier exists to avoid
      graft.streaming.RollupStream.appendPartials(
        evAll, 3600, "value", s"$tierDir/t3600m", epoch = 0L,
        extraCols = Seq("event_id"), modeCols = Seq("event_type"))
      val tierSvcMulti = new graft.serve.Service(
        spark,
        data = Map("ev" -> evAll),
        streams = Map.empty,
        rollups = Map("ev" -> graft.serve.Service.RollupTiers(
          "value", Map(3600L -> s"$tierDir/t3600m"),
          extraCols = Seq("event_id"), modeCols = Seq("event_type"))))
      val routedMulti = tierSvcMulti.matrixFrame(
        "ev", labels,
        Seq(AggSpec("value", "avg"), AggSpec("event_id", "max"),
          AggSpec("event_type", "most")),
        1704067200L, 1704067200L + 14 * 86400)
      check("matrix serve: multi-column + most routed to tier, raw unscanned",
        plan(routedMulti),
        mustContain = Seq("t3600m"),
        mustNot = Seq("events.parquet"))

      //     smoke variant: the one agg that used to full-scan raw on every
      //     dashboard refresh (the reference's eponymous smokeping matrix)
      //     now serves from the tier's count-weighted percentile grid
      //     (influx.py:663-668 grid, :694-735 packing) — raw unscanned
      graft.streaming.RollupStream.appendPartials(
        evAll, 3600, "value", s"$tierDir/t3600s", epoch = 0L,
        smokeCols = Seq("value"))
      val tierSvcSmoke = new graft.serve.Service(
        spark,
        data = Map("ev" -> evAll),
        streams = Map.empty,
        rollups = Map("ev" -> graft.serve.Service.RollupTiers(
          "value", Map(3600L -> s"$tierDir/t3600s"),
          smokeCols = Seq("value"))))
      val routedSmoke = tierSvcSmoke.matrixFrame(
        "ev", labels,
        Seq(AggSpec("value", "smoke"), AggSpec("value", "count")),
        1704067200L, 1704067200L + 14 * 86400)
      check("matrix serve: smoke routed to percentile-grid tier, raw unscanned",
        plan(routedSmoke),
        mustContain = Seq("t3600s"),
        mustNot = Seq("events.parquet", "ntile"))

      //     binned history (NNTSC_AGGREGATE at a tier-aligned binsize)
      //     folds tier partials per requested bin — the serving economy the
      //     reference reserves for its matrix, extended to graph history;
      //     raw unscanned, no window/explode in the fold
      val routedBinned = tierSvcSmoke.aggFrame(
        "ev", labels,
        Seq(AggSpec("value", "avg"), AggSpec("value", "count"),
          AggSpec("value", "smoke")),
        1704067200L, 1704067200L + 14 * 86400, binsize = 86400)
      check("binned history: tier partials folded per bin, raw unscanned",
        plan(routedBinned),
        mustContain = Seq("t3600s"),
        mustNot = Seq("events.parquet", "ntile", "Generate"))

      //     raw serving orders replies without a range sort: raw history
      //     routes rows to partitions by the request's labels, and the raw
      //     aggregate fallback (a window off the tier's edges) ends as one
      //     sorted partition. A rangepartitioning exchange in either would
      //     bring back the sampling job that re-scans the filtered table.
      //     The history exchange must stay REPARTITION_BY_COL (no fixed
      //     count), the origin AQE merges adjacent partitions of: a fixed
      //     count runs one job per shuffle partition on every request.
      val offEdge = 1704067200L + 30
      val rawHistory = tierSvc.historyFrame(
        "ev", labels, Seq("value"), offEdge, offEdge + 14 * 86400)
      check("raw history: rows routed by label, no range sort",
        plan(rawHistory),
        mustContain = Seq("In(user_id,", "shufflepartitionidpassthrough", "REPARTITION_BY_COL"),
        mustNot = Seq("rangepartitioning"))
      val rawAgg = tierSvc.aggFrame(
        "ev", labels, Seq(AggSpec("value", "avg"), AggSpec("value", "max")),
        offEdge, offEdge + 14 * 86400, binsize = 3600)
      check("raw aggregate fallback: one sorted partition, no range sort",
        plan(rawAgg),
        mustContain = Seq("In(user_id,", "Coalesce 1"),
        mustNot = Seq("t3600", "rangepartitioning"))

      //     mode-map fold: the tier-read mode merge must ride the single
      //     aggregation pass — exactly one shuffle (the group-by), no
      //     second Exchange and no join re-attaching mode columns
      //     (ModeMapAggregate replaced the former groupBy+join lap in r8)
      val routedMode = tierSvcMulti.aggFrame(
        "ev", labels,
        Seq(AggSpec("value", "avg"), AggSpec("event_type", "most")),
        1704067200L, 1704067200L + 14 * 86400, binsize = 86400)
      val modePlan = plan(routedMode)
      check("mode fold: most_of_maps rides the single agg pass", modePlan,
        mustContain = Seq("t3600m", "most_of_maps"),
        mustNot = Seq("events.parquet", "SortMergeJoin", "Generate"))
      // labels attach without a join and the single-partition result
      // needs no range sort, so the group-by shuffle is the only exchange
      // (the pre-r8 shape added an exchange + join per mode column)
      val modeExch = "Exchange".r.findAllIn(modePlan).length
      if (modeExch <= 1) println(s"AUDIT ok   mode fold: $modeExch exchange (agg)")
      else { failures += 1; println(s"AUDIT FAIL mode fold has $modeExch exchanges") }

      //     nearest-rank fold (r10, gated by q_tier_smoke_nr): the
      //     byte-parity mode's per-slot denominators and the sparse clamp
      //     are plain projection/agg expressions riding the SAME single
      //     pass — byte parity must not cost a second scan, an explode, or
      //     an extra exchange over the interpolated default
      graft.streaming.RollupStream.appendPartials(
        evAll, 3600, "value", s"$tierDir/t3600nr", epoch = 0L,
        smokeCols = Seq("value"), smokeNearestRank = true)
      val nrTier = graft.streaming.RollupStream.readTier(spark, s"$tierDir/t3600nr")
      val nrServe = graft.rollup.Rollup.aggregatedFromTier(
        nrTier, labels,
        Seq(AggSpec("value", "avg"), AggSpec("value", "smoke")),
        1704067200L, 1704067200L + 14 * 86400, binsize = 86400,
        primaryCol = "value", sparseClamp = true)
      val nrPlan = plan(nrServe)
      check("nearest-rank fold: clamp + per-slot denominators, one agg pass",
        nrPlan,
        mustContain = Seq("t3600nr"),
        mustNot = Seq("events.parquet", "Generate", "SortMergeJoin"))
      val nrExch = "Exchange".r.findAllIn(nrPlan).length
      if (nrExch <= 1) println(s"AUDIT ok   nr fold: $nrExch exchange (agg)")
      else { failures += 1; println(s"AUDIT FAIL nr fold has $nrExch exchanges") }
    }

    guarded("top terms") {
      // 12. heavy hitters: partial per-partition top-k (TakeOrdered), never
      //     a global sort of the vocabulary
      val tt = graft.pipeline.TextAnalysis.topTerms(docs, "text", 50)
      check("top terms: TakeOrdered partial top-k, no global Sort", plan(tt),
        mustContain = Seq("TakeOrderedAndProject"),
        mustNot = Seq("Sort ["))
    }

    guarded("hash split") {
      // 13. hash split: a map-only projection — no shuffle, no join; the
      //     split column is free at any scale
      val hs = graft.pipeline.Splits.hashSplit(
        docs, "doc_id",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), salt = "s")
      check("hash split: map-only (no exchange)", plan(hs),
        mustContain = Seq("Project"),
        mustNot = Seq("Exchange", "Join"))
    }

    guarded("sequence packing") {
      // 14. sequence packing: the prefix sum range-partitions and windows
      //     per partition — never the single-task global-window funnel
      val ps = graft.pipeline.Packing.packSequences(
        docs, "doc_id", "text", 512L)
      check("sequence packing: range-partitioned scan, no single-task window",
        plan(ps),
        mustContain = Seq("Window"),
        mustNot = Seq("Exchange SinglePartition"))
    }

    guarded("decontaminate") {
      // 15. decontamination: the benchmark n-gram index is the BROADCAST
      //     side; the corpus side reaches the join map-only. A shuffle of
      //     the corpus BY SHINGLE (SMJ keyed on `__s`) is the banned
      //     shape; the final per-doc count join keys on ids, both sides
      //     post-agg and pre-partitioned — SMJ there is fine at scale
      //     (AQE broadcasts it at test scale).
      val deco = graft.pipeline.Dedup.decontaminate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", 3)
      check("decontaminate: bench index broadcast, corpus side unshuffled",
        plan(deco),
        mustContain = Seq("BroadcastHashJoin"),
        mustNot = Seq("SortMergeJoin [__s"))
      graft.pipeline.Dedup.unpersistIntermediates()
    }

    guarded("shuffle order") {
      // 16. corpus shuffle: hash-order positions via the range-partitioned
      //     prefix scan — never a single-task global sort/window
      val so = graft.pipeline.Splits.shuffleOrder(docs, "doc_id", salt = "s")
      check("shuffle order: range-partitioned prefix scan, no single-task window",
        plan(so),
        mustContain = Seq("Window"),
        mustNot = Seq("Exchange SinglePartition"))
    }

    guarded("quantile cut") {
      // 16a. exact quantile cut: the same prefix-scan shape — a naive
      //      row_number() OVER (ORDER BY metric) would be the single-task
      //      sort funnel
      val qc = graft.pipeline.Splits.cutByQuantileExact(
        docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", 0.8)
      check("quantile cut: range-partitioned prefix scan, no single-task window",
        plan(qc),
        mustContain = Seq("Window"),
        mustNot = Seq("Exchange SinglePartition"))

      // 16b. per-GROUP exact cut: same machinery on the length-prefixed
      //      (group, metric, id) key — still no single-task funnel, and
      //      never a per-group row_number window over the corpus sorted
      //      by (group, metric) in one task
      val qg = graft.pipeline.Splits.cutByQuantileExactPerGroup(
        docs.select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "source", "n_chars", 0.8)
      check("per-group quantile cut: prefix scan + group offsets, no single-task window",
        plan(qg),
        mustContain = Seq("Window"),
        mustNot = Seq("Exchange SinglePartition"))

      // 16c. token-budget sampler: the same scan on the (group, hash, id)
      //      key — never a per-group (or global) one-task sort
      val tb = graft.pipeline.Splits.sampleByTokenBudgetPerGroup(
        docs.select(col("doc_id"), col("source"), col("text")),
        "doc_id", "source", "text", budgetTokens = 500L, salt = "a")
      check("token-budget sampler: prefix scan + group offsets, no single-task window",
        plan(tb),
        mustContain = Seq("Window"),
        mustNot = Seq("Exchange SinglePartition"))
    }

    guarded("token_entropy") {
      // 16te. token-distribution entropy: ONE fused map-only expression
      //       (open-addressing count map per doc) — the relational form
      //       would explode the corpus and shuffle it twice. No Exchange,
      //       no Generate, no Join, inside whole-stage codegen.
      val tePlan = plan(docs.select(
        graft.functions.TokenEntropy(
          org.apache.spark.sql.functions.col("text")).as("r")))
      check("token_entropy: fused map-only codegen", tePlan,
        mustContain = Seq("*(1) Project [token_entropy("),
        mustNot = Seq("Exchange", "Generate", "Join", "BatchEvalPython"))
    }

    guarded("html_extract") {
      // 16he. HTML → text extraction: fused map-only pass (compiled-regex
      //       chain rides the static kernel) — no Exchange, no Generate,
      //       whole-stage codegen.
      val hePlan = plan(docs.select(
        graft.functions.HtmlExtract(
          org.apache.spark.sql.functions.col("text")).as("r")))
      check("html_extract: fused map-only codegen", hePlan,
        mustContain = Seq("*(1) Project [html_extract("),
        mustNot = Seq("Exchange", "Generate", "Join", "BatchEvalPython"))
    }

    guarded("url_parts") {
      // 16up. URL parse + canonicalization: one fused map-only expression
      //       — URL-level dedup shuffles only the short canonical string,
      //       never corpus text. No Exchange/Generate/Join, codegen'd.
      val upPlan = plan(docs.select(
        graft.functions.UrlParts(
          org.apache.spark.sql.functions.col("text")).as("r")))
      check("url_parts: fused map-only codegen", upPlan,
        mustContain = Seq("*(1) Project [url_parts("),
        mustNot = Seq("Exchange", "Generate", "Join", "BatchEvalPython"))
    }

    guarded("bmp_decode") {
      // 16bd. BMP pixel decode: fused map-only, the png_decode shape.
      val bmpPlan = plan(docs.select(
        graft.functions.BmpDecode(
          org.apache.spark.sql.functions.encode(
            org.apache.spark.sql.functions.col("text"), "UTF-8")).as("r")))
      check("bmp_decode: fused map-only codegen", bmpPlan,
        mustContain = Seq("*(1) Project [bmp_decode("),
        mustNot = Seq("Exchange", "Generate", "BatchEvalPython"))
    }

    guarded("gif_decode") {
      // 16gd. GIF pixel decode: LZW + container walk ride the static
      //       kernel — one fused map-only codegen expression, same shape
      //       as png_decode. No Exchange/Generate/Python.
      val gifPlan = plan(docs.select(
        graft.functions.GifDecode(
          org.apache.spark.sql.functions.encode(
            org.apache.spark.sql.functions.col("text"), "UTF-8")).as("r")))
      check("gif_decode: fused map-only codegen", gifPlan,
        mustContain = Seq("*(1) Project [gif_decode("),
        mustNot = Seq("Exchange", "Generate", "BatchEvalPython"))
    }

    guarded("gif_encode") {
      // 16ge. GIF encode→decode composition: both kernels fuse into ONE
      //       map-only projection — no Exchange, no intermediate
      //       materialization between write and read paths.
      val gePlan = plan(docs.select(
        graft.functions.GifDecode(graft.functions.GifEncode(
          org.apache.spark.sql.functions.encode(
            org.apache.spark.sql.functions.col("text"), "UTF-8"))).as("r")))
      check("gif_encode∘gif_decode: one fused map-only projection", gePlan,
        mustContain = Seq("*(1) Project [gif_decode(gif_encode("),
        mustNot = Seq("Exchange", "Generate", "BatchEvalPython"))
    }

    guarded("wordpiece_encode") {
      // 16wp. WordPiece encode: the vocab rides the closure as per-length
      //       hash sets — one fused map-only expression, same shape as
      //       bpe_encode. No Exchange/Generate/Join.
      val wpPlan = plan(docs.select(
        graft.functions.WordPieceEncode(
          org.apache.spark.sql.functions.col("text"),
          graft.functions.WordPieceEncode.GateVocab).as("r")))
      check("wordpiece_encode: fused map-only codegen", wpPlan,
        mustContain = Seq("*(1) Project [wordpiece_encode("),
        mustNot = Seq("Exchange", "Generate", "Join", "BatchEvalPython"))
    }

    guarded("unigram_encode") {
      // 16ue. Unigram Viterbi encode: the model rides the closure as
      //       per-length hash maps — one fused map-only expression, the
      //       bpe_encode/wordpiece shape.
      val uePlan = plan(docs.select(
        graft.functions.UnigramEncode(
          org.apache.spark.sql.functions.col("text"),
          graft.functions.UnigramEncode.GateVocab).as("r")))
      check("unigram_encode: fused map-only codegen", uePlan,
        mustContain = Seq("*(1) Project [unigram_encode("),
        mustNot = Seq("Exchange", "Generate", "Join", "BatchEvalPython"))
    }

    guarded("winnow_fingerprint") {
      // 16wn. winnowing fingerprints: hashing + window selection fused in
      //       one map-only monotonic-deque pass — the relational form
      //       explodes grams and joins per window. No Exchange/Generate/
      //       Join/Window.
      val wnPlan = plan(docs.select(
        graft.functions.WinnowFingerprint(
          org.apache.spark.sql.functions.col("text"), 3, 4).as("r")))
      check("winnow_fingerprint: fused map-only codegen", wnPlan,
        mustContain = Seq("*(1) Project [winnow_fingerprint("),
        mustNot = Seq("Exchange", "Generate", "Join", "Window", "BatchEvalPython"))
    }

    guarded("winnow pairs") {
      // 16wnp. winnow pair mining rides the inverted-list engine: the
      //        pair burst is GENERATED map-side (posexplode + slice), not
      //        an index self-join; no cartesian anywhere.
      val wpPairs = graft.pipeline.Dedup.winnowPairs(
        docs, "doc_id", "text", n = 3, w = 4, minShared = 2L, maxDf = Some(500L))
      check("winnow pairs: inverted-list generation (no cartesian)", plan(wpPairs),
        mustContain = Seq("Generate"),
        mustNot = Seq("Cartesian", "BatchEvalPython"))
    }

    guarded("pii scan") {
      // 17. PII scan: codegen'd regexp projection, map-only
      val pii = graft.pipeline.TextAnalysis.piiScan(docs, "doc_id", "text")
      check("pii scan: map-only projection (no exchange)", plan(pii),
        mustContain = Seq("Project"),
        mustNot = Seq("Exchange", "Join"))
    }

    guarded("chunking") {
      // 18. context-window chunking: one generator per document, no shuffle
      val ch = graft.pipeline.Packing.chunkDocs(docs, "doc_id", "text", 32, 24)
      check("chunking: map-only explode (no exchange)", plan(ch),
        mustContain = Seq("Generate"),
        mustNot = Seq("Exchange", "Join"))
    }

    guarded("mixture sample") {
      // 19. mixture resampling: the per-source rates ride back as a
      //     BROADCAST join onto a map-only filter — the corpus itself is
      //     never shuffled or sorted
      val mx = graft.pipeline.Splits.mixtureSample(
        docs, "doc_id", "source", "text",
        Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), salt = "s")
      check("mixture sample: broadcast rates, corpus unshuffled", plan(mx),
        mustContain = Seq("BroadcastHashJoin"),
        mustNot = Seq("SortMergeJoin", "Sort ["))
      // 19t. temperature-flattened mixture: same shape — the isqrt-derived
      //      rates are a per-source scalar frame riding back as a
      //      broadcast; the corpus is never shuffled or sorted
      val tp = graft.pipeline.Splits.temperatureSample(
        docs, "doc_id", "source", "text", salt = "s")
      check("temperature sample: broadcast isqrt rates, corpus unshuffled", plan(tp),
        mustContain = Seq("BroadcastHashJoin"),
        mustNot = Seq("SortMergeJoin", "Sort ["))
    }

    guarded("importance weighting") {
      // 19i. DSIR-style importance: the ≤-B-row bucket model rides back
      //      onto the corpus-sized feature stream as a BROADCAST join —
      //      never a sort-merge; no sort anywhere (the per-doc sum is a
      //      hash aggregate)
      val imp = graft.pipeline.Importance.importanceWeight(
        docs, "doc_id", "text",
        org.apache.spark.sql.functions.col("source") === "src0")
      check("importance: broadcast bucket model, no sort-merge on the feature stream",
        plan(imp),
        mustContain = Seq("BroadcastHashJoin"),
        mustNot = Seq("SortMergeJoin", "Sort ["))
      // 19i2. fused scorer against a standing model: a PURE projection —
      //       the model is a reference-object array in the expression, so
      //       there is no explode, no join, and no aggregate at all
      val model = Array.fill(4096)(0L)
      val sc = graft.pipeline.Importance.scoreWith(docs, "doc_id", "text", model)
      check("importance scoreWith: map-only (no exchange/join/generate)",
        plan(sc),
        mustContain = Seq("importance_score"),
        mustNot = Seq("Exchange", "Join", "Generate", "Sort ["))
    }

    guarded("domain cap") {
      // 19a. per-group cap: k-bounded threshold aggregate (partial
      //      ObjectHashAggregate map-side — the only shuffle input is
      //      ≤ k keys per group per partition) + broadcast membership
      //      filter. The corpus side must reach the join UNSHUFFLED and
      //      UNSORTED — the direct window form (banned here) funnels
      //      every row of a hot group through one sort task.
      val dc = graft.pipeline.Splits.capPerGroup(docs, "doc_id", "source", 10, "s")
      check("domain cap: k-bounded threshold agg + broadcast filter, corpus unshuffled",
        plan(dc),
        mustContain = Seq("ObjectHashAggregate", "BroadcastHashJoin", "partial_kth_smallest"),
        mustNot = Seq("Window", "SortMergeJoin", "Exchange SinglePartition"))
    }

    guarded("replicate sample") {
      // 19b. deterministic replication (UP-sampling): literal rates make
      //      the whole operator one map-only generate — replica count is
      //      a hash compare, epochs explode from a sequence column; no
      //      exchange, no join, no sort at any scale
      val rep = graft.pipeline.Splits.replicateSample(
        docs, "doc_id", "source",
        Seq("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25), salt = "s")
      check("replicate sample: map-only generate (no exchange)", plan(rep),
        mustContain = Seq("Generate explode"),
        mustNot = Seq("Exchange", "Join", "Sort ["))
      // budget-derived rates add only the broadcast rates join (the token
      // totals agg runs on the small per-source side) — the corpus still
      // never shuffles or sorts
      val mup = graft.pipeline.Splits.mixtureResample(
        docs, "doc_id", "source", "text",
        Seq("src0" -> 0.6, "src1" -> 0.3, "src2" -> 0.1),
        budgetFactor = 1.0, salt = "s")
      check("mixture up-sample: broadcast rates + map-only generate", plan(mup),
        mustContain = Seq("Generate explode", "BroadcastHashJoin"),
        mustNot = Seq("SortMergeJoin", "Sort ["))
    }

    guarded("incremental minhash probe") {
      // 19c. incremental near-dup: probe bands equi-join the standing
      //      index's bands — never a cartesian, never an all-pairs; the
      //      signature re-join stays unhinted (corpus-sized at scale)
      val probeS = graft.pipeline.Dedup.minhashSignaturesMd5(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0),
        "doc_id", "text", 3, 64)
      val indexS = graft.pipeline.Dedup.minhashSignaturesMd5(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0),
        "doc_id", "text", 3, 64)
      val inc = graft.pipeline.Dedup.minhashLshPairsAgainst(
        probeS, indexS, "doc_id")
      check("incremental probe: band equi-join, no cartesian, unhinted sig re-join",
        plan(inc),
        mustContain = Seq("Generate posexplode"),
        mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
    }

    guarded("source overlap matrix") {
      // 19d. cross-group overlap: the corpus folds map-side-combined to
      //      groups × numHashes sketch rows; the pairwise comparison is a
      //      broadcast join of the two sketch frames. Nothing corpus-sized
      //      shuffles, pairs, or sorts — the only SMJ-shaped risk would be
      //      the sketch self-join planning wide, which the broadcast hint
      //      forbids.
      val ov = graft.pipeline.Dedup.groupOverlapMatrix(docs, "source", "text")
      check("source overlap: map-side sketch fold + broadcast pair join",
        plan(ov),
        mustContain = Seq("BroadcastHashJoin"),
        mustNot = Seq("SortMergeJoin", "CartesianProduct",
          "BroadcastNestedLoopJoin", "Exchange SinglePartition"))
    }

    guarded("semantic dedup") {
      // 20. semantic dedup: cell-blocked pair generation — the reference-
      //     object cell assignment is a map-only projection and candidates
      //     come from the cell equi-join, never a cartesian product
      val sd = graft.pipeline.Similarity.semanticDupPairsWith(
        semEmb, graft.pipeline.Similarity.ivfCentroids(semEmb, "vec_id", "embedding"),
        "vec_id", "embedding", 0.3)
      check("semantic dedup pairs: cell equi-join, no cartesian", plan(sd),
        mustContain = Seq("nearest_cells"),
        mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
    }

    guarded("exact top-k") {
      // 21. exact top-k search: ranking is the k-bounded hash aggregate
      //     (map-side combine to ≤ k candidates per query per partition),
      //     never a per-query window sort of the full scored corpus
      val tk = graft.pipeline.Similarity.bruteForceTopK(
        semEmb, "vec_id", "embedding", (0L until 10L), 5)
      check("exact top-k: k-bounded aggregate, no per-query window sort",
        plan(tk),
        mustContain = Seq("topk_pairs", "BroadcastNestedLoopJoin"),
        mustNot = Seq("Window", "Exchange SinglePartition"))
    }

    guarded("pq adc") {
      // PQ: encode is a map-only per-block nearest_cells projection (the
      // 16×-smaller code column is the whole persisted index), and the
      // ADC scan is JOIN-FREE — queries ride as literal lookup tables
      // over the codes, ranking through the same k-bounded aggregate as
      // exact top-k. Nothing in either plan grows with query count but
      // the projection width.
      val pqModel = graft.pipeline.Pq.pqTrain(semEmb, "vec_id", "embedding")
      val pqQs = graft.pipeline.Pq.adcQueries(
        semEmb, "vec_id", "embedding", pqModel, (0L until 10L))
      check("pq encode: map-only nearest_cells per block (no exchange/join)",
        plan(graft.pipeline.Pq.pqEncode(semEmb, "vec_id", "embedding", pqModel)),
        mustContain = Seq("nearest_cells"),
        mustNot = Seq("Exchange", "Join", "Sort"))
      val adc = graft.pipeline.Pq.pqTopKAdc(
        graft.pipeline.Pq.pqEncode(semEmb, "vec_id", "embedding", pqModel),
        "vec_id", pqModel, pqQs, 5)
      check("pq adc top-k: join-free fused-kernel scan + k-bounded aggregate",
        plan(adc),
        mustContain = Seq("adc_scores", "topk_pairs", "Generate"),
        mustNot = Seq("Join", "Window", "Exchange SinglePartition"))
    }

    guarded("bloom decontaminate") {
      // 22. bloom decontamination: the bench side folds to ONE bitmap via
      //     an object-hash aggregate (map-side OR partials); the corpus
      //     probe is a stateless projection — no join, no shuffle, no
      //     index anywhere on the 100 TB side
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val buildPlan = plan(bench.agg(
        graft.functions.BitmapOrAggregate.bitmapOr(
          graft.functions.BloomNgramPositions(col("text"), 3, 1 << 16, 4, false),
          1 << 16).as("bm")))
      check("bloom build: object-agg OR fold, no explode/join", buildPlan,
        mustContain = Seq("ObjectHashAggregate"),
        mustNot = Seq("Generate", "Join"))
      val words = graft.pipeline.Dedup.bloomBitmap(bench, "text", 3, 1 << 16, 4)
      val probe = docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"),
          graft.functions.BloomNgramHitCount(
            col("text"), 3, 1 << 16, 4, false, words).as("h"))
        .filter(col("h") > 0)
      check("bloom probe: stateless map-only scan (no join/exchange)",
        plan(probe),
        mustContain = Seq("Project"),
        mustNot = Seq("Exchange", "Join"))
    }

    guarded("bm25") {
      // 23. BM25 retrieval: final ranking is TakeOrderedAndProject
      //     (per-partition top-k + driver merge), never a global sort of
      //     the scored corpus; the corpus-side explode only emits
      //     query-matching tokens
      val bm = graft.pipeline.TextAnalysis.bm25TopK(
        docs, "doc_id", "text", Seq("spark", "join"), topK = 10)
      check("bm25: TakeOrdered top-k, no global corpus sort", plan(bm),
        mustContain = Seq("TakeOrderedAndProject"),
        mustNot = Seq("CartesianProduct"))
    }

    guarded("lm familiarity") {
      // 24. bigram-LM scoring: count tables fold with map-side combine;
      //     the corpus occurrences cross ONE shuffle join (c2 ⋈ c1 folds
      //     at vocabulary size first), with the hotK Zipf-head grams
      //     salted across the shuffle (hot set = broadcast TakeOrdered,
      //     LM side replicated per salt) — no window, no cartesian, no
      //     global sort of the corpus
      val lm = graft.pipeline.TextAnalysis.lmFamiliarity(docs, "doc_id", "text")
      check("lm familiarity: map-side-combined counts, single corpus join",
        plan(lm),
        mustContain = Seq("HashAggregate"),
        mustNot = Seq("Window", "CartesianProduct", "Sort ["))
      // the opt-in Zipf-head hardening: hot set = broadcast TakeOrdered,
      // corpus tag-join broadcast, LM side replicated per salt — the
      // occurrence stream still crosses exactly one shuffle join
      val lmSalted = graft.pipeline.TextAnalysis.lmFamiliarity(
        docs, "doc_id", "text", hotK = 1024)
      check("lm familiarity (salted): hot grams spread across the shuffle",
        plan(lmSalted),
        mustContain = Seq("HashAggregate", "TakeOrderedAndProject", "__salt",
          "BroadcastHashJoin"),
        mustNot = Seq("Window", "CartesianProduct"))
    }

    guarded("series detectors") {
      // 26. rolling z-score + CUSUM: per-series windows — one shuffle by
      //     the series key, per-partition sort, never a single-partition
      //     global window
      val zs = graft.query.TimeSeriesOps.rollingZScore(
        evAll.select("stream_id", "timestamp", "event_id", "value"),
        "stream_id", "timestamp", "event_id", "value", 20, 10, 2.5)
      check("rolling z-score: series-partitioned window, no global sort",
        plan(zs),
        mustContain = Seq("Window"),
        mustNot = Seq("Exchange SinglePartition"))
      val cs = graft.query.TimeSeriesOps.cusum(
        evAll.select("stream_id", "timestamp", "event_id", "value"),
        "stream_id", "timestamp", "event_id", "value", 60.0, 500.0)
      check("cusum: series-partitioned prefix scan, no global sort",
        plan(cs),
        mustContain = Seq("Window"),
        mustNot = Seq("Exchange SinglePartition"))
    }

    guarded("random projection") {
      // 25. JL projection: one map-only reference-object expression —
      //     no exchange, no join (also spec-pinned in SimilaritySpec)
      val rp = graft.pipeline.Similarity.randomProjection(
        Tables.embeddings(spark, sfDir), "vec_id", "embedding", 64, 16)
      check("random projection: map-only (no exchange)", plan(rp),
        mustContain = Seq("Project"),
        mustNot = Seq("Exchange", "Join"))
    }

    spark.stop()
    if (failures > 0) { println(s"AUDIT: $failures failures"); sys.exit(1) }
    println("AUDIT: all checks passed")
  }
}
