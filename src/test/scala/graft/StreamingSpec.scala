package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.schema.Collections
import graft.streaming.{IngestStream, Maintenance, RollupStream, Subscribe}

// raw amp-external-ish result rows: property tuple + measurement
case class RawResult(
    source: String, destination: String, command: String,
    timestamp: Long, value: Long)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graftstream").toString

  test("ingest: stream registration + data append across batches (X6/X9)") {
    val dir = tmpDir()
    val spec = Collections.ampExternal
    val in = MemoryStream[RawResult](spark)
    val q = IngestStream.start(
      in.toDF(), spec,
      s"$dir/streams", s"$dir/data", s"$dir/ckpt")
    in.addData(
      RawResult("s1", "d1", "ping", 100L, 5L),
      RawResult("s1", "d2", "ping", 100L, 7L))
    q.processAllAvailable()
    q.stop()

    val q2 = IngestStream.start(
      in.toDF(), spec,
      s"$dir/streams", s"$dir/data", s"$dir/ckpt")
    in.addData(
      RawResult("s1", "d1", "ping", 200L, 6L), // existing stream → same id
      RawResult("s9", "d9", "ping", 200L, 9L)) // new stream → new id
    q2.processAllAvailable()
    q2.stop()

    val streams = spark.read.parquet(s"$dir/streams")
    assert(streams.count() === 3)
    assert(
      streams.select(max("stream_id")).collect()(0).getInt(0) === 3)
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() === 4)
    // same property tuple resolved to the same stream id in both batches
    val s1d1 = streams.filter($"source" === "s1" && $"destination" === "d1")
      .select("stream_id").collect()(0).getInt(0)
    assert(data.filter($"stream_id" === s1d1).count() === 2)
  }

  test("ingest: replayed epoch is idempotent, not double-appended (X9)") {
    val dir = tmpDir()
    val spec = Collections.ampExternal
    val b1 = Seq(
      RawResult("s1", "d1", "ping", 100L, 5L),
      RawResult("s1", "d2", "ping", 100L, 7L)).toDF()
    val b2 = Seq(RawResult("s2", "d1", "ping", 160L, 6L)).toDF()

    IngestStream.ingestBatch(
      b1, spec, s"$dir/streams", s"$dir/data", identity, epoch = Some(0L))
    IngestStream.ingestBatch(
      b2, spec, s"$dir/streams", s"$dir/data", identity, epoch = Some(1L))
    // simulate a post-failure redelivery: epoch 1 runs again verbatim
    IngestStream.ingestBatch(
      b2, spec, s"$dir/streams", s"$dir/data", identity, epoch = Some(1L))

    val data = IngestStream.readData(spark, s"$dir/data")
    assert(data.count() === 3) // 2 + 1, NOT 2 + 1 + 1
    // replay registered nothing new either (convergent dimension)
    assert(spark.read.parquet(s"$dir/streams").count() === 3)
    // a replayed epoch resolves to the same stream ids
    assert(data.select("stream_id").distinct().count() === 3)

    // the dimension grew by APPEND (one file per registering batch, none
    // for the no-new-streams replay), not by per-batch rewrite …
    def rootFiles = new java.io.File(s"$dir/streams").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(rootFiles.length === 2, s"expected 2 append files, got ${rootFiles.length}")
    // … and compaction folds them into a committed GENERATION without
    // changing content; the covered append files stay one grace cycle
    // (invisible via the manifest), then the next run retires them
    def dim = IngestStream.readStreams(spark, s"$dir/streams", spec)
    val before = dim.collect().map(_.toSeq).toSet
    IngestStream.compactStreams(spark, s"$dir/streams")
    assert(new java.io.File(s"$dir/streams/_committed_gen_1").exists)
    assert(rootFiles.length === 2, "covered files survive the grace cycle")
    assert(dim.collect().map(_.toSeq).toSet === before)
    IngestStream.compactStreams(spark, s"$dir/streams")
    assert(rootFiles.length === 0, "grace GC retires the covered files")
    assert(dim.collect().map(_.toSeq).toSet === before)
    // ingest keeps working against the compacted dimension
    IngestStream.ingestBatch(
      Seq(RawResult("s3", "d1", "ping", 200L, 8L)).toDF(),
      spec, s"$dir/streams", s"$dir/data", identity, epoch = Some(2L))
    assert(dim.count() === 4)
    assert(dim.select("stream_id").distinct().count() === 4)
  }

  test("epoch landing zone compacts into the Layout table; serving view seamless") {
    val dir = tmpDir()
    val spec = Collections.ampExternal
    def batch(src: String, ts: Long) =
      Seq(RawResult(src, "d1", "ping", ts, 1L)).toDF()
    IngestStream.ingestBatch(batch("s1", 1704067200L), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(0L))
    IngestStream.ingestBatch(batch("s2", 1704153600L), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(1L))
    IngestStream.ingestBatch(batch("s3", 1704240000L), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(2L))

    IngestStream.compactToLayout(spark, s"$dir/data", s"$dir/layout", settledBelow = 2L, buckets = 8)
    // settled epoch dirs SURVIVE one grace cycle (invisible via the
    // cutoff filter, so no reader whose plan listed them crashes mid-scan)
    val left = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("__epoch=")).map(_.getName).toSet
    assert(left === Set("__epoch=0", "__epoch=1", "__epoch=2"))
    // layout holds the settled rows, partition-pruned by day
    val layout = graft.storage.Layout.readData(spark, s"$dir/layout")
    assert(layout.count() === 2)
    assert(layout.columns.contains("sbucket") && layout.columns.contains("day"))
    // the serving view sees everything exactly once
    val all = IngestStream.readCombined(spark, s"$dir/layout", s"$dir/data")
    assert(all.count() === 3)
    assert(all.select("timestamp").distinct().count() === 3)
    // re-running with the same watermark is a no-op for the view AND runs
    // the deferred GC: the settled dirs are retired one cycle later
    IngestStream.compactToLayout(spark, s"$dir/data", s"$dir/layout", settledBelow = 2L, buckets = 8)
    assert(IngestStream.readCombined(spark, s"$dir/layout", s"$dir/data").count() === 3)
    val afterGrace = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("__epoch=")).map(_.getName).toSet
    assert(afterGrace === Set("__epoch=2"))
  }

  test("readCombined serves committed csets from a fully-compacted landing zone") {
    val dir = tmpDir()
    val spec = Collections.ampExternal
    def batch(src: String, ts: Long) =
      Seq(RawResult(src, "d1", "ping", ts, 1L)).toDF()
    IngestStream.ingestBatch(batch("s1", 1704067200L), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(0L))
    IngestStream.ingestBatch(batch("s2", 1704153600L), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(1L))
    // compact EVERY epoch, then run one more maintenance cycle so the
    // grace-period GC empties the landing zone entirely (only the
    // partition-discovery leftovers like _SUCCESS remain) — pre-fix,
    // readCombined threw "Unable to infer schema" here instead of serving
    // the committed csets
    IngestStream.compactToLayout(spark, s"$dir/data", s"$dir/layout",
      settledBelow = 2L, buckets = 8)
    IngestStream.compactToLayout(spark, s"$dir/data", s"$dir/layout",
      settledBelow = 2L, buckets = 8)
    assert(new java.io.File(s"$dir/data").listFiles()
      .forall(!_.getName.startsWith("__epoch=")))
    val all = IngestStream.readCombined(spark, s"$dir/layout", s"$dir/data")
    assert(all.count() === 2)
    assert(all.select("timestamp").distinct().count() === 2)
    // ingest resumes into the drained zone; the view unions both sides again
    IngestStream.ingestBatch(batch("s3", 1704240000L), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(2L))
    assert(IngestStream.readCombined(spark, s"$dir/layout", s"$dir/data").count() === 3)
    // nothing anywhere is a configuration error, reported as such
    intercept[NoSuchElementException] {
      IngestStream.readCombined(spark, s"$dir/nope-layout", s"$dir/nope-data")
    }
  }

  test("compactStreams crash-atomicity: every crash point recovers, ids never lost") {
    val dir = tmpDir()
    val spec = Collections.ampExternal
    IngestStream.ingestBatch(
      Seq(RawResult("s1", "d1", "ping", 100L, 1L)).toDF(), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(0L))
    IngestStream.ingestBatch(
      Seq(RawResult("s2", "d1", "ping", 200L, 2L)).toDF(), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(1L))
    def dim = IngestStream.readStreams(spark, s"$dir/streams", spec)
    val expected = dim.collect().map(_.toSeq).toSet
    assert(expected.size === 2)

    // crash BEFORE the marker (after gen write / after manifest): the
    // attempt is invisible, the dimension unchanged, swept by next run
    Seq("gen-written", "manifest-written").foreach { step =>
      intercept[RuntimeException] {
        IngestStream.compactStreams(spark, s"$dir/streams",
          onStep = s => if (s == step) throw new RuntimeException(s"boom at $s"))
      }
      assert(dim.collect().map(_.toSeq).toSet === expected, s"changed at $step")
      assert(IngestStream.committedStreamGens(s"$dir/streams").isEmpty)
    }

    // crash right AFTER the marker: committed — the generation serves,
    // covered append files linger one grace cycle, content identical
    intercept[RuntimeException] {
      IngestStream.compactStreams(spark, s"$dir/streams",
        onStep = s => if (s == "committed") throw new RuntimeException("boom"))
    }
    assert(IngestStream.committedStreamGens(s"$dir/streams") === Seq(1L))
    assert(dim.collect().map(_.toSeq).toSet === expected)

    // clean run: grace GC retires the covered files; a fresh append then
    // folds into generation 2 and generation 1 retires one cycle later
    IngestStream.compactStreams(spark, s"$dir/streams")
    assert(dim.collect().map(_.toSeq).toSet === expected)
    IngestStream.ingestBatch(
      Seq(RawResult("s3", "d1", "ping", 300L, 3L)).toDF(), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(2L))
    IngestStream.compactStreams(spark, s"$dir/streams")
    assert(IngestStream.committedStreamGens(s"$dir/streams") === Seq(1L, 2L))
    assert(dim.count() === 3)
    IngestStream.compactStreams(spark, s"$dir/streams")
    assert(IngestStream.committedStreamGens(s"$dir/streams") === Seq(2L))
    assert(!new java.io.File(s"$dir/streams/_gen=1").exists)
    assert(dim.count() === 3)
    // id continuity across the whole crash sequence: next registration
    // still allocates the next id (the failure mode generations prevent)
    assert(dim.select(max("stream_id")).collect()(0).getInt(0) === 3)
  }

  test("legacy mid-swap state (.bak, no live dir) fails fast with migration steps") {
    // the pre-generation compactor swapped via renames; a crash between
    // `dir -> .bak` and `.tmp -> dir` left the dimension ONLY in `.bak`.
    // The auto-restore branch is retired (it held the tree's last
    // renameTo): the state must FAIL FAST with instructions — reading it
    // as empty would silently re-allocate stream ids from 1
    val dir = tmpDir()
    val spec = Collections.ampExternal
    IngestStream.ingestBatch(
      Seq(RawResult("s1", "d1", "ping", 100L, 1L)).toDF(), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(0L))
    val live = new java.io.File(s"$dir/streams")
    assert(live.renameTo(new java.io.File(s"$dir/streams.bak"))) // simulate legacy crash
    val e = intercept[IllegalStateException] {
      IngestStream.readStreams(spark, s"$dir/streams", spec).count()
    }
    assert(e.getMessage.contains("pre-generation") && e.getMessage.contains("migrate"))
    // the documented one-time migration: move the files back, read works
    val bakDir = new java.io.File(s"$dir/streams.bak")
    live.mkdirs()
    bakDir.listFiles().foreach { f =>
      java.nio.file.Files.move(f.toPath, new java.io.File(live, f.getName).toPath)
    }
    bakDir.delete()
    def dim = IngestStream.readStreams(spark, s"$dir/streams", spec)
    assert(dim.count() === 1)
    // registration continues from the migrated ids
    IngestStream.ingestBatch(
      Seq(RawResult("s2", "d1", "ping", 200L, 2L)).toDF(), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(1L))
    assert(dim.select(max("stream_id")).collect()(0).getInt(0) === 2)
  }

  test("compactToLayout crash-atomicity: readers never double-count (X9)") {
    val dir = tmpDir()
    val spec = Collections.ampExternal
    def batch(src: String, ts: Long) =
      Seq(RawResult(src, "d1", "ping", ts, 1L)).toDF()
    IngestStream.ingestBatch(batch("s1", 1704067200L), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(0L))
    IngestStream.ingestBatch(batch("s2", 1704153600L), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(1L))
    IngestStream.ingestBatch(batch("s3", 1704240000L), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(2L))
    def total = IngestStream.readCombined(spark, s"$dir/layout", s"$dir/data").count()

    // crash AFTER the layout write, BEFORE the marker: the cset dir exists
    // on disk but is uncommitted → invisible; epochs still serve
    intercept[RuntimeException] {
      IngestStream.compactToLayout(spark, s"$dir/data", s"$dir/layout",
        settledBelow = 2L, buckets = 8,
        onStep = s => if (s == "layout-written") throw new RuntimeException("boom"))
    }
    assert(new java.io.File(s"$dir/layout/cset=2").exists) // orphan present
    assert(total === 3) // ... but never counted twice

    // crash AFTER the marker, BEFORE epoch GC: epochs 0/1 still on disk
    // but hidden by the cutoff
    intercept[RuntimeException] {
      IngestStream.compactToLayout(spark, s"$dir/data", s"$dir/layout",
        settledBelow = 2L, buckets = 8,
        onStep = s => if (s == "committed") throw new RuntimeException("boom"))
    }
    assert(new java.io.File(s"$dir/data/__epoch=0").exists) // GC pending
    assert(total === 3) // cutoff hides them

    // clean re-run: recovery + GC converge to the steady state
    IngestStream.compactToLayout(spark, s"$dir/data", s"$dir/layout",
      settledBelow = 2L, buckets = 8)
    assert(!new java.io.File(s"$dir/data/__epoch=0").exists)
    assert(!new java.io.File(s"$dir/data/__epoch=1").exists)
    assert(total === 3)
  }

  test("mergeCsets folds committed csets into one; every crash point recovers") {
    val dir = tmpDir()
    val spec = Collections.ampExternal
    def batch(src: String, ts: Long) =
      Seq(RawResult(src, "d1", "ping", ts, 1L)).toDF()
    // three minor compactions → csets 1, 2, 3
    (0 to 2).foreach { i =>
      IngestStream.ingestBatch(batch(s"s${i + 1}", 1704067200L + 86400L * i), spec,
        s"$dir/streams", s"$dir/data", identity, epoch = Some(i.toLong))
      IngestStream.compactToLayout(spark, s"$dir/data", s"$dir/layout",
        settledBelow = i + 1L, buckets = 8)
    }
    assert(IngestStream.committedCsets(s"$dir/layout") === Seq(1L, 2L, 3L))
    def view = IngestStream.readCombined(spark, s"$dir/layout", s"$dir/data")
    def stamps = view.select("timestamp").as[Long].collect().sorted.toSeq
    val expected = stamps
    assert(expected.size === 3)

    // crash BEFORE the commit marker: the written generation dir is
    // invisible, the view unchanged, nothing to roll back
    Seq("gc-done", "merged-written").foreach { step =>
      intercept[RuntimeException] {
        IngestStream.mergeCsets(spark, s"$dir/layout", buckets = 8,
          onStep = s => if (s == step) throw new RuntimeException(s"boom at $s"))
      }
      assert(stamps === expected, s"view changed after crash at $step")
      assert(IngestStream.committedMsets(s"$dir/layout").isEmpty)
      assert(IngestStream.committedCsets(s"$dir/layout") === Seq(1L, 2L, 3L))
    }
    // the crashed attempt left a marker-less orphan dir — swept (and the
    // merge redone) by the next clean run
    assert(new java.io.File(s"$dir/layout/mset=1").exists)

    // crash right AFTER the marker: already committed — view identical,
    // merged generation serves, folded csets still on disk (grace)
    intercept[RuntimeException] {
      IngestStream.mergeCsets(spark, s"$dir/layout", buckets = 8,
        onStep = s => if (s == "committed") throw new RuntimeException("boom"))
    }
    assert(stamps === expected)
    assert(IngestStream.committedMsets(s"$dir/layout") === Seq((1L, 3L)))
    // RENAME-FREE grace: the covered cset dirs and markers survive one
    // full cycle so older reader plans keep resolving their file lists
    assert(IngestStream.committedCsets(s"$dir/layout") === Seq(1L, 2L, 3L))
    assert(new java.io.File(s"$dir/layout/cset=1").exists)

    // next run: grace-period GC retires the covered csets; with only the
    // merged generation left there is nothing to fold (idempotent)
    IngestStream.mergeCsets(spark, s"$dir/layout", buckets = 8)
    assert(IngestStream.committedCsets(s"$dir/layout") === Seq())
    assert(!new java.io.File(s"$dir/layout/cset=1").exists)
    assert(IngestStream.committedMsets(s"$dir/layout") === Seq((1L, 3L)))
    assert(stamps === expected)

    // ingest continues after a merge: a new epoch folds into cset 4 above
    // the generation's cutoff, and a fresh merge makes generation 2
    IngestStream.ingestBatch(batch("s4", 1704326400L), spec,
      s"$dir/streams", s"$dir/data", identity, epoch = Some(3L))
    IngestStream.compactToLayout(spark, s"$dir/data", s"$dir/layout",
      settledBelow = 4L, buckets = 8)
    assert(IngestStream.committedCsets(s"$dir/layout") === Seq(4L))
    assert(view.count() === 4)
    IngestStream.mergeCsets(spark, s"$dir/layout", buckets = 8)
    assert(IngestStream.committedMsets(s"$dir/layout").lastOption === Some((2L, 4L)))
    assert(view.count() === 4)
    // one more cycle retires generation 1 and cset 4
    IngestStream.mergeCsets(spark, s"$dir/layout", buckets = 8)
    assert(!new java.io.File(s"$dir/layout/mset=1").exists)
    assert(!new java.io.File(s"$dir/layout/cset=4").exists)
    assert(view.count() === 4)
  }

  test("rename-free merge: concurrent readers never see a torn or partial view") {
    val dir = tmpDir()
    val spec = Collections.ampExternal
    def batch(src: String, ts: Long) =
      Seq(RawResult(src, "d1", "ping", ts, 1L)).toDF()
    (0 to 3).foreach { i =>
      IngestStream.ingestBatch(batch(s"s${i + 1}", 1704067200L + 3600L * i), spec,
        s"$dir/streams", s"$dir/data", identity, epoch = Some(i.toLong))
      IngestStream.compactToLayout(spark, s"$dir/data", s"$dir/layout",
        settledBelow = i + 1L, buckets = 8)
    }
    val expected = 4L
    // readers hammer plan-build + scan while merges (and their
    // grace-period GC) run. The protocol's contract: a plan stays valid
    // for ONE FULL maintenance cycle after it is built, so between the
    // two merges the test waits until every reader has completed a fresh
    // build+scan iteration (in production the cycle is minutes; reads
    // that outlive a whole cycle are out of contract, like readers older
    // than a Delta VACUUM retention).
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val iters = (0 until 3).map(_ => new java.util.concurrent.atomic.AtomicLong(0))
    val readers = iters.map { counter =>
      new Thread(() => {
        while (!stop.get) {
          try {
            val n = IngestStream.readCombined(spark, s"$dir/layout", s"$dir/data").count()
            if (n != expected) errors.add(s"saw $n rows (want $expected)")
          } catch {
            case e: Throwable => errors.add(s"read failed: ${e.getMessage}")
          }
          counter.incrementAndGet()
        }
      })
    }
    def awaitFreshIteration(): Unit = {
      // +2: the current in-flight iteration may have built its plan
      // before the merge committed; the one after is provably fresh
      val target = iters.map(_.get + 2)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (iters.zip(target).exists { case (c, t) => c.get < t }) {
        if (System.nanoTime() > deadline) sys.error("readers stalled")
        Thread.sleep(10)
      }
    }
    readers.foreach(_.start())
    try {
      awaitFreshIteration() // all readers mid-flight before the first merge
      IngestStream.mergeCsets(spark, s"$dir/layout", buckets = 8)
      awaitFreshIteration() // one full cycle's grace before GC runs
      IngestStream.mergeCsets(spark, s"$dir/layout", buckets = 8)
      awaitFreshIteration()
    } finally {
      stop.set(true)
      readers.foreach(_.join(30000))
    }
    assert(errors.isEmpty, s"concurrent readers observed: ${errors.toArray.mkString("; ")}")
    assert(IngestStream.readCombined(spark, s"$dir/layout", s"$dir/data").count() === expected)
  }

  test("Maintenance.run: one cycle folds epochs, merges csets, compacts streams and tiers") {
    val dir = tmpDir()
    val spec = Collections.ampExternal
    val t0 = 1704067200L // 2024-01-01
    def batch(src: String, ts: Long) =
      Seq(RawResult(src, "d1", "ping", ts, 1L)).toDF()
    // three epochs on three days; two already minor-compacted
    (0 to 2).foreach { i =>
      IngestStream.ingestBatch(batch(s"s${i + 1}", t0 + 86400L * i), spec,
        s"$dir/streams", s"$dir/data", identity, epoch = Some(i.toLong))
    }
    IngestStream.compactToLayout(spark, s"$dir/data", s"$dir/layout", 1L, buckets = 8)
    IngestStream.compactToLayout(spark, s"$dir/data", s"$dir/layout", 2L, buckets = 8)
    // one rollup tier with an un-folded partial epoch
    val tier = s"$dir/tier60"
    RollupStream.appendPartials(
      Seq((1L, 30L, 2.0), (1L, 70L, 4.0)).toDF("stream_id", "timestamp", "value"),
      60, "value", tier, epoch = 0L)

    val dropped = Maintenance.run(spark, Maintenance.Config(
      streamsPath = s"$dir/streams",
      dataPath = s"$dir/data",
      layoutPath = s"$dir/layout",
      settledBelow = 3L,
      tierPaths = Seq(tier),
      buckets = 8,
      mergeWhenCsetsExceed = 2,
      retainCutoffEpoch = Some(t0 + 86400L))) // day 1 ages out

    // minor (cset 3) + major (csets 1,2,3 -> generation 1) compaction ran;
    // the covered csets stay on disk for one grace cycle
    assert(IngestStream.committedMsets(s"$dir/layout") === Seq((1L, 3L)))
    assert(IngestStream.visibleSources(s"$dir/layout")._2 === Seq())
    // streams dimension folded into a committed generation; the covered
    // append files linger one grace cycle like every other compactor's
    assert(IngestStream.committedStreamGens(s"$dir/streams") === Seq(1L))
    assert(IngestStream.readStreams(spark, s"$dir/streams", spec).count() === 3)
    // tier partials folded behind a commit marker; the fold still serves
    assert(RollupStream.readTier(spark, tier).count() === 2)
    assert(new java.io.File(tier).listFiles().exists(_.getName.startsWith("_fold_")))
    // retention dropped exactly the aged day; the serving view reflects it
    assert(dropped === Seq("day=20240101"))
    val left = IngestStream.readCombined(spark, s"$dir/layout", s"$dir/data")
      .select("timestamp").as[Long].collect().sorted.toSeq
    assert(left === Seq(t0 + 86400L, t0 + 172800L))
    // idempotent: a second cycle changes nothing
    assert(Maintenance.run(spark, Maintenance.Config(
      s"$dir/streams", s"$dir/data", s"$dir/layout", 3L,
      Seq(tier), 8, 2, Some(t0 + 86400L))).isEmpty)
    assert(IngestStream.readCombined(spark, s"$dir/layout", s"$dir/data").count() === 2)
    // …except the deferred grace GC: the cycle retired the covered
    // streams append files, leaving only the generation
    assert(new java.io.File(s"$dir/streams").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet")) === 0)
    assert(IngestStream.readStreams(spark, s"$dir/streams", spec).count() === 3)
  }

  test("rollup compact crash-atomicity: readTier never double-counts") {
    import graft.rollup.Rollup
    val dir = tmpDir() + "/tier"
    val b1 = Seq((1L, 30L, 2.0), (1L, 45L, 4.0), (1L, 70L, 10.0))
      .toDF("stream_id", "timestamp", "value")
    val b2 = Seq((1L, 50L, 6.0), (2L, 10L, 1.0))
      .toDF("stream_id", "timestamp", "value")
    RollupStream.appendPartials(b1, 60, "value", dir, epoch = 0L)
    RollupStream.appendPartials(b2, 60, "value", dir, epoch = 1L)
    val expected = Rollup.build(b1.unionByName(b2), 60, "value")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("cnt")).toMap
    def got = RollupStream.readTier(spark, dir)
      .groupBy("stream_id", "binstart").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("cnt")).toMap

    // crash after the fold write, before the marker → fold invisible
    intercept[RuntimeException] {
      RollupStream.compact(spark, dir,
        onStep = s => if (s == "fold-written") throw new RuntimeException("boom"))
    }
    assert(new java.io.File(s"$dir/__epoch=-1").exists)
    assert(got === expected)

    // crash after the marker, before GC → sources hidden, fold serves
    intercept[RuntimeException] {
      RollupStream.compact(spark, dir,
        onStep = s => if (s == "committed") throw new RuntimeException("boom"))
    }
    assert(new java.io.File(s"$dir/__epoch=0").exists) // GC pending
    assert(got === expected)

    // clean re-run converges: nothing new to fold, stale dirs vanish on
    // the next real compaction; a further append + compact still folds
    RollupStream.appendPartials(b2, 60, "value", dir, epoch = 2L)
    RollupStream.compact(spark, dir)
    val expected2 = Rollup.build(b1.unionByName(b2).unionByName(b2), 60, "value")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("cnt")).toMap
    assert(got === expected2)
    assert(!new java.io.File(s"$dir/__epoch=0").exists)
    assert(!new java.io.File(s"$dir/__epoch=1").exists)
  }

  test("rollup partial appends are epoch-idempotent; compaction preserves results (X4)") {
    import graft.rollup.Rollup
    val dir = tmpDir() + "/short"
    val b1 = Seq((1L, 30L, 2.0), (1L, 45L, 4.0), (1L, 70L, 10.0))
      .toDF("stream_id", "timestamp", "value")
    val b2 = Seq((1L, 50L, 6.0), (2L, 10L, 1.0)) // late row lands in bin 0
      .toDF("stream_id", "timestamp", "value")

    RollupStream.appendPartials(b1, 60, "value", dir, epoch = 0L)
    RollupStream.appendPartials(b2, 60, "value", dir, epoch = 1L)
    RollupStream.appendPartials(b2, 60, "value", dir, epoch = 1L) // replay
    // bin (1, 0) now holds TWO partial rows (one per epoch), none duplicated
    val partials = graft.streaming.IngestStream.readData(spark, dir)
    assert(partials.filter($"stream_id" === 1 && $"binstart" === 0).count() === 2)

    // folding partials == aggregating all raw rows in one go; the SERVED
    // view (readTier keys on the committed fold) collapses to one row
    // per bin immediately, while the covered source epochs stay on disk
    // one grace cycle for in-flight reader plans
    val expected = Rollup.build(b1.unionByName(b2), 60, "value")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    RollupStream.compact(spark, dir)
    val cols = Seq("stream_id", "binstart", "cnt", "s1", "s2", "mn", "mx", "ts", "tsn")
    val served = RollupStream.readTier(spark, dir).select(cols.map(col): _*)
    assert(served.groupBy("stream_id", "binstart").count()
      .filter($"count" > 1).count() === 0) // one row per bin
    val got = served
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (k, v) =>
      assert(v === expected(k), s"bin $k")
    }
    // the NEXT cycle's grace-period GC retires the covered sources: the
    // raw directory itself then holds only the fold
    RollupStream.compact(spark, dir)
    val physical = graft.streaming.IngestStream.readData(spark, dir)
    assert(physical.groupBy("stream_id", "binstart").count()
      .filter($"count" > 1).count() === 0)
  }

  test("multi-column + mode tier: partials fold exactly; tier matrix == raw matrix (A12/A13)") {
    import graft.query.{AggSpec, QueryEngine}
    import graft.rollup.Rollup
    val dir = tmpDir() + "/multi"
    def mk(rows: Seq[(Long, Long, Double, Long, String)]) =
      rows.toDF("stream_id", "timestamp", "value", "event_id", "event_type")
    val b1 = mk(Seq(
      (1L, 30L, 2.0, 10L, "icmp"), (1L, 45L, 4.0, 30L, "dns"),
      (1L, 70L, 10.0, 20L, "icmp"), (2L, 15L, 7.0, 5L, "http")))
    val b2 = mk(Seq(
      (1L, 50L, 6.0, 40L, "dns"), (2L, 10L, 1.0, 50L, "smtp"),
      (1L, 55L, 8.0, 60L, "dns")))
    val extras = Seq("event_id")
    val modes = Seq("event_type")
    RollupStream.appendPartials(b1, 60, "value", dir, 0L, extras, modes)
    RollupStream.appendPartials(b2, 60, "value", dir, 1L, extras, modes)
    RollupStream.compact(spark, dir)

    // folded tier == whole-corpus buildMulti, suffixed stats AND count
    // maps included (the map fold sums counts per value across epochs)
    val all = b1.unionByName(b2)
    val cols = Seq("stream_id", "binstart", "cnt", "s1", "s2", "mn", "mx",
      "cnt__event_id", "s1__event_id", "s2__event_id",
      "mn__event_id", "mx__event_id", "ts", "tsn", "modes__event_type")
    def snap(df: org.apache.spark.sql.DataFrame) = df.select(cols.map(col): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val expected = snap(Rollup.buildMulti(all, 60, Seq("value", "event_id"), modes))
    val got = snap(RollupStream.readTier(spark, dir))
    assert(got.keySet === expected.keySet)
    got.foreach { case (k, v) => assert(v === expected(k), s"bin $k") }

    // matrix over the tier with a second column + `most` == the raw
    // matrix path (parity aggs are the same exact-decimal partials);
    // l2's window holds an http/smtp TIE — both paths break it the same
    // way (count desc, value asc → http)
    val labels = Map("l1" -> Seq(1L), "l2" -> Seq(2L), "both" -> Seq(1L, 2L))
    val aggs = Seq(
      AggSpec("value", "avg"), AggSpec("event_id", "avg"),
      AggSpec("event_id", "max"), AggSpec("event_type", "most"))
    val outCols = Seq("nntsclabel", "binstart", "value", "event_id_avg",
      "event_id_max", "event_type", "timestamp", "min_timestamp")
    def mat(df: org.apache.spark.sql.DataFrame) =
      df.select(outCols.map(col): _*).collect().map(_.toSeq)
    val fromTier = mat(Rollup.matrixFromTier(
      RollupStream.readTier(spark, dir), labels, aggs, 0L, 120L,
      primaryCol = "value"))
    val fromRaw = mat(QueryEngine.selectMatrixData(
      all, labels, aggs, 0L, 120L, parity = true))
    assert(fromTier.toSeq === fromRaw.toSeq)
    val byLabel = fromTier.map(r => r.head -> r).toMap
    assert(byLabel("l2")(5) === "http") // the tie, broken value-asc
    assert(byLabel("both")(5) === "dns")
  }

  test("ranged tier build: per-stream-range epochs serve byte-identical to the single pass") {
    import graft.query.AggSpec
    import graft.rollup.Rollup
    val dirR = tmpDir() + "/ranged"
    val dirW = tmpDir() + "/whole"
    // enough streams that every range is non-empty, smoke columns ON
    // (the collect_list grid is what the heap bound is about)
    val rows = (0 until 400).map { i =>
      ((i % 13).toLong, (i * 7 % 300).toLong, (i % 29).toDouble)
    }
    val ev = rows.toDF("stream_id", "timestamp", "value")
    RollupStream.appendPartialsRanged(
      ev, 60, "value", dirR, baseEpoch = 0L, ranges = 4, smokeCols = Seq("value"))
    RollupStream.appendPartials(
      ev, 60, "value", dirW, epoch = 0L, smokeCols = Seq("value"))

    // disjoint ranges -> exactly one partial row per (stream, bin), and
    // the row MULTISET equals the single-pass build's (epoch col aside)
    def snap(dir: String) = RollupStream.readTier(spark, dir)
      .drop(graft.streaming.IngestStream.EpochCol)
      .collect().map(_.toSeq).sortBy(_.take(2).mkString(","))
    val ranged = snap(dirR)
    val whole = snap(dirW)
    assert(ranged.length === whole.length)
    assert(ranged.toSeq === whole.toSeq)

    // serve parity (aggregated history incl. smoke) — byte-identical
    val labels = Map("a" -> Seq(1L, 5L, 9L), "b" -> Seq(2L, 3L, 12L))
    def serve(dir: String) = Rollup.aggregatedFromTier(
        RollupStream.readTier(spark, dir), labels,
        Seq(AggSpec("value", "avg"), AggSpec("value", "smoke")),
        0L, 300L, binsize = 120, primaryCol = "value")
      .collect().map(_.toSeq)
    assert(serve(dirR).toSeq === serve(dirW).toSeq)

    // compaction folds the ranged epochs like any other partials
    RollupStream.compact(spark, dirR)
    assert(snap(dirR).toSeq === whole.toSeq)
    assert(serve(dirR).toSeq === serve(dirW).toSeq)
  }

  test("auto-ranged tier build: heap-derived range count, tier equals single pass") {
    // capacity anchor math: 1M tier rows per GiB of heap, ceil, clamped
    assert(RollupStream.autoRanges(0L, 8L << 30) === 1)
    assert(RollupStream.autoRanges(8_000_000L, 8L << 30) === 1)
    assert(RollupStream.autoRanges(8_000_001L, 8L << 30) === 2)
    assert(RollupStream.autoRanges(100_000_000L, 6L << 30) === 17)
    assert(RollupStream.autoRanges(100_000_000L, 128L << 30) === 1)
    assert(RollupStream.autoRanges(Long.MaxValue / 4, 1L << 29) === 4096) // sub-GiB clamp
    // proportional capacity, not floored to whole GiB: a half-GiB heap
    // holds 500k rows (not 1), a 1.9 GiB heap 1.9M
    assert(RollupStream.autoRanges(500_000L, 1L << 29) === 1)
    assert(RollupStream.autoRanges(1_000_001L, 1L << 29) === 3)
    assert(RollupStream.autoRanges(1_899_999L, (19L << 30) / 10) === 1)
    val dirA = tmpDir() + "/auto"
    val dirW = tmpDir() + "/whole2"
    val rows = (0 until 400).map { i =>
      ((i % 13).toLong, (i * 7 % 300).toLong, (i % 29).toDouble)
    }
    val ev = rows.toDF("stream_id", "timestamp", "value")
    // this JVM's heap dwarfs 400 rows -> exactly one range, and the tier
    // equals the plain single-pass build row-for-row
    val n = RollupStream.appendPartialsAuto(
      ev, 60, "value", dirA, baseEpoch = 0L, smokeCols = Seq("value"))
    assert(n === 1)
    RollupStream.appendPartials(
      ev, 60, "value", dirW, epoch = 0L, smokeCols = Seq("value"))
    def snap(dir: String) = RollupStream.readTier(spark, dir)
      .drop(graft.streaming.IngestStream.EpochCol)
      .collect().map(_.toSeq).sortBy(_.take(2).mkString(","))
    assert(snap(dirA).toSeq === snap(dirW).toSeq)
    // forced multi-range via the rows override: 150 claimed rows at a
    // tiny fake heap exercises the ranged dispatch through the same API
    val dirM = tmpDir() + "/auto_multi"
    RollupStream.appendPartialsRanged(
      ev, 60, "value", dirM, baseEpoch = 0L,
      ranges = RollupStream.autoRanges(3_000_000L, 2L << 30),
      smokeCols = Seq("value"))
    assert(snap(dirM).toSeq === snap(dirW).toSeq)
  }

  test("tier compaction: concurrent readers stay consistent across fold cycles") {
    import graft.rollup.Rollup
    val dir = tmpDir() + "/tier"
    val b1 = Seq((1L, 30L, 2.0), (1L, 45L, 4.0), (1L, 70L, 10.0))
      .toDF("stream_id", "timestamp", "value")
    val b2 = Seq((1L, 50L, 6.0), (2L, 10L, 1.0))
      .toDF("stream_id", "timestamp", "value")
    RollupStream.appendPartials(b1, 60, "value", dir, epoch = 0L)
    RollupStream.appendPartials(b2, 60, "value", dir, epoch = 1L)
    val expected = Rollup.build(b1.unionByName(b2), 60, "value")
      .agg(sum("cnt")).as[Long].collect().head
    // two readers: a direct tier read, and a routed matrix through Service
    // (which keeps its tier frame across requests while the files match)
    val svc = new graft.serve.Service(
      spark,
      data = Map("c" -> b1),
      streams = Map.empty,
      rollups = Map("c" -> graft.serve.Service.RollupTiers("value", Map(60L -> dir))))
    val reads: Seq[(String, () => Long)] = Seq(
      "readTier" -> (() => RollupStream.readTier(spark, dir)
        .agg(sum("cnt")).as[Long].collect().head),
      "Service" -> (() => svc.matrix("c", Map("all" -> Seq(1L, 2L)),
        Seq(graft.query.AggSpec("value", "count")), 0L, 120L).head.getAs[Long]("value")))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val iters = reads.map(_ => new java.util.concurrent.atomic.AtomicLong(0))
    val readers = reads.zip(iters).map { case ((name, read), iter) =>
      new Thread(() => {
        while (!stop.get) {
          try {
            val n = read()
            if (n != expected) errors.add(s"$name saw $n (want $expected)")
          } catch { case e: Throwable => errors.add(s"$name read failed: ${e.getMessage}") }
          iter.incrementAndGet()
        }
      })
    }
    def awaitFresh(): Unit = {
      val targets = iters.map(_.get + 2)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (iters.zip(targets).exists { case (i, t) => i.get < t }) {
        if (System.nanoTime() > deadline) sys.error("reader stalled")
        Thread.sleep(10)
      }
    }
    readers.foreach(_.start())
    try {
      awaitFresh()
      RollupStream.compact(spark, dir) // fold 1 commits; sources linger
      awaitFresh() // one full reader cycle of grace
      RollupStream.compact(spark, dir) // grace GC retires covered sources
      awaitFresh()
    } finally { stop.set(true); readers.foreach(_.join(30000)) }
    assert(errors.isEmpty, s"concurrent tier readers observed: ${errors.toArray.mkString("; ")}")
    // steady state: the fold alone serves the same totals
    reads.foreach { case (name, read) => assert(read() === expected, name) }
  }

  test("subscribe: history-before-live with lasthist dedupe (X1)") {
    val sub = Subscribe.Subscription(
      Map("a" -> Seq(1L)), start = 0L, end = 0L, columns = Seq("value"))
    val session = new Subscribe.Session(sub)

    val history = Seq((1L, 10L, 1.0), (1L, 20L, 2.0))
      .toDF("stream_id", "timestamp", "value")
    val liveDuringBackfill = Seq(
      (1L, 20L, 2.0),  // duplicate of the last history row → dropped
      (1L, 30L, 3.0),  // genuinely new → released
      (2L, 40L, 9.0))  // unsubscribed stream → filtered
      .toDF("stream_id", "timestamp", "value")

    assert(session.currentState === Subscribe.Backfilling)
    session.onHistory(history)
    assert(session.onLive(liveDuringBackfill).isEmpty) // buffered
    val released = session.finish().get.collect()
    assert(session.currentState === Subscribe.Live)
    assert(released.length === 1)
    assert(released(0).getAs[Long]("timestamp") === 30L)

    // after backfill completes, live batches flow through directly
    val after = session.onLive(
      Seq((1L, 50L, 5.0)).toDF("stream_id", "timestamp", "value"))
    assert(after.get.collect().map(_.getAs[Long]("timestamp")).toSeq === Seq(50L))
  }

  test("subscribe seam is PER LABEL: early-ending and history-less labels keep their live rows (X1)") {
    import graft.query.QueryEngine
    val sub = Subscribe.Subscription(
      Map("a" -> Seq(1L), "b" -> Seq(2L), "c" -> Seq(3L)),
      start = 0L, end = 0L, columns = Seq("value"))
    val session = new Subscribe.Session(sub)

    // label a's history ends at 1000, b's at 2000, c has NO history —
    // exactly the shape a global gate (max = 2000) gets wrong
    val history = Seq(
      ("a", 1L, 900L, 0.9), ("a", 1L, 1000L, 1.0),
      ("b", 2L, 1000L, 2.0), ("b", 2L, 2000L, 2.2))
      .toDF(QueryEngine.LabelCol, "stream_id", "timestamp", "value")
    session.onHistory(history)

    val liveDuringBackfill = Seq(
      (1L, 900L, 0.9),  // a, <= a's lasthist → dropped
      (1L, 1500L, 1.5), // a, between a's end (1000) and b's end (2000):
                        // the row the old global gate silently dropped
      (2L, 1500L, 2.5), // b, <= b's lasthist → dropped (history served it)
      (2L, 2500L, 2.9), // b, past b's lasthist → released
      (3L, 500L, 3.5))  // c has no history at all → everything released
      .toDF("stream_id", "timestamp", "value")
    assert(session.onLive(liveDuringBackfill).isEmpty) // buffered

    val released = session.finish().get
      .select(QueryEngine.LabelCol, "timestamp")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(released === Seq(("a", 1500L), ("b", 2500L), ("c", 500L)))
  }

  test("multi-label session rejects unlabeled history instead of global-gating (X1 guard)") {
    val multi = new Subscribe.Session(Subscribe.Subscription(
      Map("a" -> Seq(1L), "b" -> Seq(2L)), 0L, 0L, Seq("value")))
    val unlabeled = Seq((1L, 1000L, 1.0), (2L, 2000L, 2.0))
      .toDF("stream_id", "timestamp", "value")
    val e = intercept[IllegalArgumentException](multi.onHistory(unlabeled))
    assert(e.getMessage.contains("nntsclabel"))
    // the single-label fallback keeps working (global max == the label's own)
    val single = new Subscribe.Session(Subscribe.Subscription(
      Map("a" -> Seq(1L)), 0L, 0L, Seq("value")))
    single.onHistory(Seq((1L, 1000L, 1.0)).toDF("stream_id", "timestamp", "value"))
    assert(single.onLive(
      Seq((1L, 900L, 0.5), (1L, 1100L, 1.1)).toDF("stream_id", "timestamp", "value")).isEmpty)
    assert(single.finish().get.collect()
      .map(_.getAs[Long]("timestamp")).toSeq === Seq(1100L))
  }

  test("stateful live fan-out: lasthist seed + cross-batch dedupe (X1 streaming form)") {
    import graft.streaming.LiveFanout
    import graft.streaming.LiveFanout.LiveRow
    val in = MemoryStream[LiveRow](spark)
    val q = LiveFanout.gated(spark, in.toDS(), initialGate = Map(1L -> 100L))
      .writeStream.outputMode("append")
      .format("memory").queryName("fanout_out").start()
    // batch 1: 90 gated out (<= lasthist), 150 admitted, 150 duplicate dropped
    in.addData(LiveRow(1L, 90L, 1.0), LiveRow(1L, 150L, 2.0), LiveRow(1L, 150L, 2.0))
    q.processAllAvailable()
    // batch 2: 150 redelivered (dropped by state), 200 admitted; stream 2
    // has no gate → everything admitted
    in.addData(LiveRow(1L, 150L, 2.0), LiveRow(1L, 200L, 3.0), LiveRow(2L, 10L, 9.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("fanout_out").collect()
      .map(r => (r.getAs[Long]("stream_id"), r.getAs[Long]("timestamp")))
      .sorted.toSeq
    assert(out === Seq((1L, 150L), (1L, 200L), (2L, 10L)))
  }

  test("S1 JSON message decoding: raw schema, dead-letter routing, e2e ingest") {
    val spec = Collections.ampExternal
    val lines = Seq(
      """{"source":"s1","destination":"d1","command":"ping","timestamp":100,"value":5}""",
      """{"source":"s1","destination":"d2","command":"ping","timestamp":100,"value":null}""",
      """this is not json at all""",
      """{"source":"s2""destination":broken}""")
      .toDF("value")
    val (good, dead) = IngestStream.decodeJson(lines, spec)
    assert(dead.count() === 2) // corrupt messages routed, not dropped
    val rows = good.collect()
    assert(rows.length === 2)
    assert(good.columns.contains("source") && good.columns.contains("timestamp"))
    val d2 = rows.find(_.getAs[String]("destination") == "d2").get
    assert(d2.isNullAt(d2.fieldIndex("value"))) // failed measurement stays NULL

    // decoded rows flow straight through the transactional ingest
    val dir = tmpDir()
    IngestStream.ingestBatch(
      good, spec, s"$dir/streams", s"$dir/data", identity, epoch = Some(0L))
    assert(IngestStream.readData(spark, s"$dir/data").count() === 2)
    assert(spark.read.parquet(s"$dir/streams").count() === 2)

    // full chain: JSON-lines files → poller with dead-letter capture
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.FilePoller
    val pd = tmpDir()
    lines.select("value").write.mode("append").text(s"$pd/in")
    val q = FilePoller.start(
      spark, s"$pd/in", Seq.empty[String].toDF("value").schema, spec,
      s"$pd/streams", s"$pd/data", s"$pd/ckpt",
      decode = FilePoller.jsonDecoder(spec, s"$pd/dead"),
      format = "text",
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
    assert(IngestStream.readData(spark, s"$pd/data").count() === 2)
    assert(IngestStream.readData(spark, s"$pd/dead").count() === 2)

    // text-format poller WITHOUT an explicit decode: the JSON decoder and
    // its dead-letter audit table are wired by DEFAULT — a corrupt
    // message must never need opt-in to survive
    val pd2 = tmpDir()
    lines.select("value").write.mode("append").text(s"$pd2/in")
    val q2 = FilePoller.start(
      spark, s"$pd2/in", Seq.empty[String].toDF("value").schema, spec,
      s"$pd2/streams", s"$pd2/data", s"$pd2/ckpt",
      format = "text",
      trigger = Trigger.AvailableNow())
    q2.awaitTermination()
    assert(IngestStream.readData(spark, s"$pd2/data").count() === 2)
    assert(IngestStream.readData(spark, s"$pd2/data_deadletter").count() === 2)
  }

  test("S2 file poller e2e: history-before-live with X3 push markers") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{FilePoller, Markers}
    val dir = tmpDir()
    val spec = Collections.ampExternal
    val schema = Seq.empty[RawResult].toDF().schema

    val bus = new Markers.MarkerBus
    val session = new Subscribe.Session(
      Subscribe.Subscription(Map("a" -> Seq(1L, 2L, 3L)), 0L, 0L, Seq("value")))
    var markers = Vector.empty[Markers.Marker]
    bus.subscribe("amp-external") { m => markers :+= m; session.onMarker(m) }
    bus.subscribe("other-collection") { _ => fail("marker leaked across collections") }
    // NNTSC_LIVE path: committed rows publish on the LiveBus BEFORE the
    // batch's marker (insert → export_live → export_push); record how many
    // markers had arrived when each live batch was published
    val liveBus = new Markers.LiveBus
    var liveBatches = Vector.empty[(Markers.LiveBatch, Int)]
    liveBus.subscribe("amp-external") { b => liveBatches :+= ((b, markers.size)) }

    // live fan-out: materialize the micro-batch (it is only valid during
    // the batch), resolve id type, hand to the session
    val live: org.apache.spark.sql.DataFrame => Unit = df => {
      val rows = df.withColumn("stream_id", col("stream_id").cast("long"))
      val static = spark.createDataFrame(
        java.util.Arrays.asList(rows.collect(): _*), rows.schema)
      session.onLive(static)
    }

    def pollOnce(): Unit = {
      val q = FilePoller.start(
        spark, s"$dir/in", schema, spec,
        s"$dir/streams", s"$dir/data", s"$dir/ckpt",
        trigger = Trigger.AvailableNow(),
        rollupTiers = Seq((60L, s"$dir/rollup60")), // X4 rides the poller
        markers = Some(("amp-external", bus)),
        liveBus = Some(("amp-external", liveBus)),
        onLive = live)
      q.awaitTermination()
    }

    // history lands while the subscriber is backfilling
    Seq(RawResult("s1", "d1", "ping", 100L, 5L), RawResult("s1", "d2", "ping", 200L, 7L))
      .toDF().write.mode("append").parquet(s"$dir/in")
    pollOnce()
    assert(markers.map(_.timestamp) === Vector(200L))

    assert(session.currentState === Subscribe.Backfilling)
    session.onHistory(
      IngestStream.readData(spark, s"$dir/data")
        .withColumn("stream_id", col("stream_id").cast("long"))) // lasthist=200

    // a new file arrives mid-backfill → buffered as live
    Seq(RawResult("s1", "d1", "ping", 300L, 6L))
      .toDF().write.mode("append").parquet(s"$dir/in")
    pollOnce()
    assert(markers.map(_.timestamp) === Vector(200L, 300L))
    assert(session.pushedUpTo === Some(300L))

    // history-before-live seam: only rows past lasthist are released
    val released = session.finish().get.collect()
    assert(session.currentState === Subscribe.Live)
    assert(released.map(_.getAs[Long]("timestamp")).toSeq === Seq(300L))

    // storage agrees with the markers: everything <= pushedUpTo is readable
    val data = IngestStream.readData(spark, s"$dir/data")
    assert(data.count() === 3)
    assert(data.agg(max("timestamp")).collect()(0).getLong(0) === 300L)

    // the LiveBus carried each batch's committed rows, and each batch's
    // rows were published BEFORE its own marker (reference ordering:
    // insert → export_live → export_push)
    assert(liveBatches.map(_._1.rows.size) === Vector(2, 1))
    assert(liveBatches.map(_._2) === Vector(0, 1)) // markers seen at publish
    assert(liveBatches.last._1.rows.map(_.getAs[Long]("timestamp")) === Seq(300L))

    // the rollup tier rode the poller (X4): its folded partials equal
    // aggregating everything ingested so far in one go
    val tier = RollupStream.readTier(spark, s"$dir/rollup60")
      .groupBy("stream_id", "binstart")
      .agg(sum("cnt").as("cnt"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1)) -> r.getAs[Long]("cnt"))
      .toMap
    val expectTier = graft.rollup.Rollup
      .build(
        IngestStream.readData(spark, s"$dir/data")
          .withColumn("stream_id", col("stream_id").cast("long")),
        60, "value")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("cnt")).toMap
    assert(tier === expectTier)
  }

  test("subscribe liveFilter honors window and labels (X2)") {
    val sub = Subscribe.Subscription(Map("a" -> Seq(1L)), 100L, 200L, Seq("value"))
    val live = Seq((1L, 50L, 1.0), (1L, 150L, 2.0), (1L, 250L, 3.0), (2L, 150L, 4.0))
      .toDF("stream_id", "timestamp", "value")
    val out = Subscribe.liveFilter(live, sub).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("timestamp") === 150L)
  }
}
