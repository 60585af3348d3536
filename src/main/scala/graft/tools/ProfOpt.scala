package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.query.AggSpec
import graft.rollup.Rollup

/** Optimization-round stage decomposition of the bench's hottest query
  * families (r19 opt round): times each sub-stage against the noop sink so
  * the expensive piece is identified by measurement, not guess (guide §1).
  *
  * Usage: runMain graft.tools.ProfOpt [sfDir] [section ...]
  * Sections: tier, importance, pii, dedup (default: all).
  */
object ProfOpt {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sections =
      if (args.length > 1) args.drop(1).toSet else Set("tier", "importance", "pii", "dedup")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shared engine session — profiles must decompose the bench's plans
    val spark = graft.core.Sessions.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String, reps: Int = 3)(f: => Unit): Unit = {
      // min-of-N: first rep absorbs codegen compile; report the floor
      val ts = (1 to reps).map { _ =>
        graft.pipeline.Dedup.unpersistIntermediates()
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROF $name%-44s floor ${ts.min}%7.3f s  (all ${ts.map(t => f"$t%.3f").mkString(" ")})")
    }

    sys.env.get("GRAFT_OBJAGG_FALLBACK").foreach { v =>
      spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", v)
      println(s"PROF objectHashAggregate.sortBased.fallbackThreshold=$v")
    }
    // generic conf override hook for A/B runs: GRAFT_CONF="k=v;k=v"
    sys.env.get("GRAFT_CONF").foreach(_.split(";").filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
      println(s"PROF conf $k=$v")
    })

    val ev = Tables.tsEvents(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val labels = graft.SparkEntry.labelsFor(spark, sfDir)
    val Start = 1704067200L
    val Stop = 1706745600L

    if (sections("tier")) {
      spark.sparkContext.setJobDescription("tier: events scan only")
      time("tier: events scan only")(noop(ev))
      spark.sparkContext.setJobDescription("tier: bin+groupBy stats only (no smoke)")
      time("tier600 stats-only build")(noop(
        Rollup.buildMulti(ev, 600, Seq("value"))))
      spark.sparkContext.setJobDescription("tier600 build nr smoke")
      time("tier600 build (nr smoke)")(noop(
        Rollup.buildMulti(ev, 600, Seq("value"), smokeCols = Seq("value"),
          smokeNearestRank = true)))
      spark.sparkContext.setJobDescription("tier3600 build smoke+mode")
      time("tier3600 build (smoke+mode)")(noop(
        Rollup.buildMulti(ev, 3600, Seq("value"), Seq("event_type"), Seq("value"))))
      // serve fold on a PRE-MATERIALIZED tier (profiling only — the gate
      // builds inline): isolates the fold cost from the build cost
      val tier600 = Rollup.buildMulti(ev, 600, Seq("value"), smokeCols = Seq("value"),
        smokeNearestRank = true)
      tier600.persist().count()
      spark.sparkContext.setJobDescription("tier600 serve fold (cached tier)")
      time("tier600 nr fold from cached tier")(noop(
        Rollup.aggregatedFromTier(tier600, labels,
          Seq(AggSpec("value", "avg"), AggSpec("value", "count"),
            AggSpec("value", "smoke")),
          Start, Stop, binsize = 21600, primaryCol = "value",
          sparseClamp = true)))
      tier600.unpersist()
      val tier3600 = Rollup.buildMulti(ev, 3600, Seq("value"), Seq("event_type"), Seq("value"))
      tier3600.persist().count()
      spark.sparkContext.setJobDescription("tier3600 serve fold (cached tier)")
      time("tier3600 fold from cached tier")(noop(
        Rollup.aggregatedFromTier(tier3600, labels,
          Seq(AggSpec("value", "avg"), AggSpec("value", "count"),
            AggSpec("value", "stddev"), AggSpec("event_type", "most"),
            AggSpec("value", "smoke")),
          Start, Stop, binsize = 21600, primaryCol = "value")))
      tier3600.unpersist()
    }

    if (sections("jobs")) {
      // per-job/stage wall breakdown of single queries (warm 3rd run):
      // distinguishes driver/scheduling gaps from stage compute
      import org.apache.spark.scheduler._
      val names = if (args.length > 2) args.drop(2).toSeq
        else Seq("q_agg_tier_bins", "q_containment", "q_tier_smoke_nr", "q_dedup_minhash")
      names.foreach { qn =>
        val fn = graft.SparkEntry.queries(qn)
        (1 to 2).foreach { _ => // warm codegen
          graft.pipeline.Dedup.unpersistIntermediates(); spark.catalog.clearCache()
          noop(fn(spark, sfDir))
        }
        graft.pipeline.Dedup.unpersistIntermediates(); spark.catalog.clearCache()
        val jobs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
        val stages = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Int)]
        val listener = new SparkListener {
          private val starts = scala.collection.mutable.Map.empty[Int, Long]
          override def onJobStart(j: SparkListenerJobStart): Unit =
            starts(j.jobId) = j.time
          override def onJobEnd(j: SparkListenerJobEnd): Unit =
            jobs += ((j.jobId, starts.getOrElse(j.jobId, 0L), j.time))
          override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
            val si = s.stageInfo
            stages += ((si.stageId, si.name.take(40),
              si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
              si.numTasks))
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        noop(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        val jobSpan = jobs.map { case (_, s, e) => e - s }.sum / 1e3
        println(f"PROFJOB $qn wall=$wall%.3f s, ${jobs.size} jobs (sum ${jobSpan}%.3f s), " +
          f"gaps=${wall - jobSpan}%.3f s")
        jobs.sortBy(_._2).foreach { case (id, s, e) =>
          println(f"PROFJOB   job $id%3d ${(e - s) / 1e3}%7.3f s") }
        stages.sortBy(-_._3).take(8).foreach { case (id, nm, d, nt) =>
          println(f"PROFJOB   stage $id%4d ${d / 1e3}%7.3f s tasks=$nt%3d  $nm") }
      }
    }

    if (sections("fold")) {
      // decompose the serve fold's aggregate: which buffer family costs?
      val tier600 = Rollup.buildMulti(ev, 600, Seq("value"), smokeCols = Seq("value"),
        smokeNearestRank = true)
      tier600.persist().count()
      val windowed = graft.query.QueryEngine.attachLabels(
        tier600.filter(col("binstart") >= Start && col("binstart") < Stop), labels)
        .withColumn("__reqbin", col("binstart") - (col("binstart") % 21600))
      val keys = Seq(graft.query.QueryEngine.LabelCol, "__reqbin").map(col)
      def agg(exprs: Seq[org.apache.spark.sql.Column]): DataFrame =
        windowed.groupBy(keys: _*).agg(exprs.head, exprs.tail: _*)
      val statsOnly = Seq(sum(col("s1")).as("a"), sum(col("cnt")).as("b"),
        max(col("mx")).as("c"), max(col("ts")).as("d"))
      time("fold stats-only agg")(noop(agg(statsOnly)))
      val decSlots = (0 until 19).map(i =>
        sum(element_at(col("smoke__value"), i + 1)).as(s"s$i"))
      time("fold stats+19 decimal slot sums")(noop(agg(statsOnly ++ decSlots)))
      val dblSlots = (0 until 19).map(i =>
        sum(element_at(col("smoke__value"), i + 1).cast("double")).as(s"s$i"))
      time("fold stats+19 DOUBLE slot sums (diag)")(noop(agg(statsOnly ++ dblSlots)))
      val lngSlots = (0 until 19).map(i =>
        sum(element_at(col("smoken__value"), i + 1)).as(s"n$i"))
      time("fold stats+19 long slot sums")(noop(agg(statsOnly ++ lngSlots)))
      time("fold full 38-slot (dec+long)")(noop(
        agg(statsOnly ++ decSlots ++ lngSlots)))
      // The r19 array-summing TypedImperativeAggregate candidate
      // (SlotSums) was re-judged here on a clean window in r20 and
      // DELETED: full 38-slot 1.100 s vs array-sum 1.009 s — a ~0.09 s
      // marginal that would trade the fold's whole-stage-codegen
      // HashAggregate for ObjectHashAggregate (OPTIMIZATION_r20.md).
      tier600.unpersist()
    }

    if (sections("codegen")) {
      // print whole-stage-codegen units + max generated method sizes for
      // the tier fold — checks whether the ~40-buffer decimal aggregate
      // falls off the JIT fast path (8K bytecode) or codegen entirely
      import org.apache.spark.sql.execution.debug._
      val tier600 = Rollup.buildMulti(ev, 600, Seq("value"), smokeCols = Seq("value"),
        smokeNearestRank = true)
      val fold = Rollup.aggregatedFromTier(tier600, labels,
        Seq(AggSpec("value", "avg"), AggSpec("value", "count"),
          AggSpec("value", "smoke")),
        Start, Stop, binsize = 21600, primaryCol = "value",
        sparseClamp = true)
      fold.collect() // materialize THIS QueryExecution so AQE finalizes
      println("=== final plan operators ===")
      println(fold.queryExecution.executedPlan.toString.linesIterator
        .map(_.take(120))
        .filter(l => l.contains("WholeStageCodegen") || l.contains("HashAggregate") ||
          l.contains("Exchange") || l.contains("ObjectHashAggregate") ||
          l.contains("SortAggregate") || l.contains("Scan") || l.contains("Sort") ||
          l.contains("Project") || l.contains("InMemory"))
        .mkString("\n"))
    }

    if (sections("importance")) {
      import graft.pipeline.Importance
      spark.sparkContext.setJobDescription("importance: full relational")
      time("importance full (md5, linear)")(noop(
        Importance.importanceWeight(docs, "doc_id", "text",
          col("source") === "src0", buckets = 4096, md5Family = true)))
      // stage: the exploded+bucketed feature stream alone (evaluated once)
      val bucketOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        g => pmod(conv(substring(md5(g), 1, 15), 16, 10).cast("long"), lit(4096L))
      val feats = docs.select(
        col("doc_id"), (col("source") === "src0").as("__tgt"),
        explode(concat(
          graft.functions.WordNgrams(col("text"), 1),
          graft.functions.WordNgrams(col("text"), 2))).as("__g"))
      spark.sparkContext.setJobDescription("importance: explode grams only")
      time("importance grams explode only")(noop(feats))
      spark.sparkContext.setJobDescription("importance: explode+md5 bucket")
      time("importance grams+md5bucket")(noop(
        feats.select(col("doc_id"), col("__tgt"), bucketOf(col("__g")).as("__f"))))
      spark.sparkContext.setJobDescription("importance: counts agg")
      time("importance counts agg")(noop(
        feats.select(col("doc_id"), col("__tgt"), bucketOf(col("__g")).as("__f"))
          .groupBy("__f")
          .agg(sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"),
            sum(when(!col("__tgt"), 1L).otherwise(0L)).as("__cr"))))
    }

    if (sections("pii")) {
      import graft.pipeline.TextAnalysis
      val line = concat(
        lit("uid "), col("stream_id"),
        lit(" mail u"), col("stream_id"), lit("@example.com ip 10.0."),
        col("stream_id") % 256, lit("."), col("event_id") % 256,
        lit(" tel +64"), lit(4000000) + col("event_id") % 1000000,
        lit(" acct "), lit(9000000) + col("event_id"),
        lit(" "), col("props"))
      val lined = ev.select(col("event_type"), line.as("text"))
      spark.sparkContext.setJobDescription("pii: line concat only")
      time("pii line concat only")(noop(lined))
      spark.sparkContext.setJobDescription("pii: counts only")
      time("pii 4 counts only")(noop(lined.select(
        col("event_type"),
        TextAnalysis.emailCount(col("text")).as("e"),
        TextAnalysis.ipv4Count(col("text")).as("i"),
        TextAnalysis.phoneCount(col("text")).as("p"),
        TextAnalysis.idNumberCount(col("text")).as("d"))))
      spark.sparkContext.setJobDescription("pii: redact only")
      time("pii redact only")(noop(lined.select(
        col("event_type"), TextAnalysis.piiRedact(col("text")).as("r"))))
      spark.sparkContext.setJobDescription("pii: full gate shape")
      time("pii full scan+agg")(noop(
        TextAnalysis.piiScan(lined, "event_type", "text")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), sum("n_emails").as("emails"),
            sum("n_ipv4").as("ipv4s"), sum("n_phones").as("phones"),
            sum("n_idnums").as("idnums"), min("redacted").as("redacted_min"))
          .orderBy("event_type")))
    }

    if (sections("dedupstages")) {
      // manual restatement of pairSharedCountsFrom's stages (diagnostic
      // snapshot — keep in sync with Dedup.scala) to find where the
      // containment/ngram ~2 s floor lives
      import graft.pipeline.Dedup
      val t0 = System.nanoTime()
      val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
      println(f"PROF stage sets pin            ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      val exploded = sets.select(col("__id"), explode(col("__set")).as("__s"))
      val t1 = System.nanoTime()
      val dfs = exploded.groupBy("__s").agg(count(lit(1)).as("__df"))
      dfs.persist().count()
      println(f"PROF stage dfs pin             ${(System.nanoTime() - t1) / 1e9}%7.3f s")
      val t2 = System.nanoTime()
      val est = dfs.filter(col("__df") <= 500)
        .agg(coalesce(sum(col("__df").cast("double") * (col("__df") - 1)), lit(0.0)))
        .collect()(0).getDouble(0) / 2
      println(f"PROF stage budget est collect  ${(System.nanoTime() - t2) / 1e9}%7.3f s (est=$est%.0f)")
      val t3 = System.nanoTime()
      val hot = dfs.filter(col("__df") > 500).select("__s")
      val lost = exploded
        .join(broadcast(hot), Seq("__s"), "left_semi")
        .groupBy("__id").agg(count(lit(1)).as("__lost"))
      lost.persist().count()
      println(f"PROF stage lost pin            ${(System.nanoTime() - t3) / 1e9}%7.3f s")
      val t4 = System.nanoTime()
      val kept = exploded.join(broadcast(hot), Seq("__s"), "left_anti")
      val sizes = sets.select(col("__id"), col("__n"))
        .join(lost, Seq("__id"), "left_outer")
        .select(col("__id"), (col("__n") - coalesce(col("__lost"), lit(0))).as("__n"))
      val inv = kept.groupBy("__s").agg(sort_array(collect_list("__id")).as("__docs"))
      val shared = inv
        .select(posexplode(col("__docs")).as(Seq("__i", "id_a")), col("__docs"))
        .select(col("id_a"),
          explode(expr("slice(__docs, __i + 2, size(__docs))")).as("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("shared"))
      val pairs = shared
        .join(sizes.select(col("__id").as("id_a"), col("__n").as("n_a")), Seq("id_a"))
        .join(sizes.select(col("__id").as("id_b"), col("__n").as("n_b")), Seq("id_b"))
      noop(pairs)
      println(f"PROF stage mining+joins        ${(System.nanoTime() - t4) / 1e9}%7.3f s")
      dfs.unpersist(); lost.unpersist()
      Dedup.unpersistIntermediates()
    }

    if (sections("dedup")) {
      import graft.pipeline.Dedup
      val budget = Some(Dedup.defaultVolumeBudget(spark))
      spark.sparkContext.setJobDescription("dedup: containment full")
      time("containment full")(noop(
        Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.5,
          maxDf = Some(500L), maxCandidates = budget)))
      spark.sparkContext.setJobDescription("dedup: shingle sets pin")
      time("shingle sets pin+count") {
        val s = Dedup.shingleSets(docs, "doc_id", "text", 3)
        ()
      }
      spark.sparkContext.setJobDescription("dedup: ngram full")
      time("ngramJaccard full")(noop(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2,
          maxDf = Some(500L), maxCandidates = budget)))
    }

    spark.stop()
  }
}
