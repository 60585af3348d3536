package graft.serve

import org.apache.spark.sql.functions._

/** The pump's windowed fetch (k concurrent single-partition jobs,
  * ordered emission — DefaultPumpWindow scaladoc) against a plain
  * `collect`/`toLocalIterator` drain, plus its byte budget and close.
  */
class PrefetchSpec extends graft.SparkSpec {

  test("row sequence equals collect() on a multi-partition sorted frame") {
    val df = spark.range(0, 10000).toDF("id")
      .withColumn("v", col("id") * 3)
      .repartition(7)
      .orderBy("id") // range-partitioned sort: partition order = row order
    val want = df.collect().map(r => (r.getLong(0), r.getLong(1))).toVector
    val got = Prefetch.rows(df, None).map(r => (r.getLong(0), r.getLong(1))).toVector
    assert(got === want)
    assert(got.size === 10000)
  }

  test("windowed rows carry schema and external types like toLocalIterator") {
    // the serve drain resolves columns by name (fieldIndex) and the wire
    // encoder renders external values — the windowed path's RowEncoder
    // deserializer must produce the same shape Spark's own drain does
    val df = spark.range(0, 500).toDF("id")
      .withColumn("s", concat(lit("v"), col("id")))
      .withColumn("d", col("id") * 1.5)
      .withColumn("maybe", when(col("id") % 3 === 0, col("id")).otherwise(lit(null)))
      .repartition(5)
      .orderBy("id")
    val want = {
      val it = df.toLocalIterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toVector
    }
    val got = Prefetch.rows(df, None).toVector
    assert(got.head.schema.fieldIndex("s") === 1)
    (want zip got).foreach { case (a, b) =>
      assert(a === b)
      assert(a.schema === b.schema)
    }
    // null handling is identical
    assert(got.count(_.isNullAt(3)) === want.count(_.isNullAt(3)))
  }

  test("empty frame and zero-partition frame yield empty iterators") {
    val empty = spark.range(0, 100).filter(col("id") < 0).toDF()
    assert(!Prefetch.rows(empty, None).hasNext)
    assert(Prefetch.rows(spark.emptyDataFrame, None).isEmpty)
  }

  test("a failing partition surfaces the original Spark exception, unwrapped") {
    val boom = udf { (i: Long) =>
      if (i == 7777L) throw new IllegalStateException("boom at 7777")
      i
    }
    val df = spark.range(0, 10000).toDF("id")
      .repartition(8)
      .select(boom(col("id")).as("id"))
    val it = Prefetch.rows(df, None)
    val e = intercept[org.apache.spark.SparkException] {
      while (it.hasNext) it.next()
    }
    // unwrapped from the pump's ExecutionException: the consumer sees what
    // a synchronous draw would have thrown (Service.isCancellation relies
    // on this to classify watchdog kills)
    assert(e.getMessage.contains("boom at 7777") ||
      Option(e.getCause).exists(_.getMessage.contains("boom at 7777")))
  }

  test("partition jobs run under the supplied watchdog job group") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = j.properties.getProperty("spark.jobGroup.id")
        if (g != null && g.startsWith("pf-test-")) seen.add(g)
      }
    }
    sc.addSparkListener(listener)
    try {
      val df = spark.range(0, 1000).toDF("id").repartition(4)
      val group = "pf-test-windowed"
      assert(Prefetch.rows(df, Some((group, "prefetch spec"))).size === 1000)
      // listener events are async — poll until the jobs are visible
      val deadline = System.nanoTime() + 10_000_000_000L
      while (seen.asScala.count(_ == group) < 4 && System.nanoTime() < deadline)
        Thread.sleep(50)
      // every partition job carried the group (4 partitions → ≥4 jobs)
      assert(seen.asScala.count(_ == group) >= 4)
    } finally sc.removeSparkListener(listener)
  }

  test("windowed fetch pool threads are reaped after exhaustion and after failure") {
    def poolThreads(): Set[Thread] = {
      val all = new Array[Thread](Thread.activeCount() * 2 + 16)
      val n = Thread.enumerate(all)
      all.take(n).filter(t => t != null && t.getName == "graft-encode-pool").toSet
    }
    val before = poolThreads()
    val df = spark.range(0, 5000).toDF("id").repartition(6).orderBy("id")
    assert(Prefetch.rows(df, None).size === 5000)
    val boom = udf { (i: Long) =>
      if (i == 99L) throw new IllegalStateException("boom"); i
    }
    val bad = spark.range(0, 1000).toDF("id").repartition(4).select(boom(col("id")).as("id"))
    intercept[org.apache.spark.SparkException] { Prefetch.rows(bad, None).size }
    // the pump's finally closes the windowed fetch on both exits
    val deadline = System.nanoTime() + 5_000_000_000L
    while ((poolThreads() -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert((poolThreads() -- before).isEmpty, "windowed fetch pool leaked threads")
  }

  test("byte budget: a zero budget degrades mapOrderedBudgeted to a serial map") {
    // fat-partition OOM guard (VERDICT r16 #4): when completed results'
    // bytes exceed the budget, only one task may be in flight — the
    // windowed pump converges to one partition result at a time
    val maxConcurrent = new java.util.concurrent.atomic.AtomicInteger(0)
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val it = EncodePipeline.mapOrderedBudgeted(
      (0 until 40).iterator, 4, 0L, (_: Int) => 1000L) { i =>
      val c = inFlight.incrementAndGet()
      maxConcurrent.updateAndGet(m => math.max(m, c))
      Thread.sleep(5)
      inFlight.decrementAndGet()
      i * 2
    }
    try {
      assert(it.toVector === (0 until 40).map(_ * 2).toVector)
    } finally it.close()
    assert(maxConcurrent.get() === 1, "zero budget must serialize the pool")
  }

  test("byte budget: a generous budget keeps the window concurrent") {
    val maxConcurrent = new java.util.concurrent.atomic.AtomicInteger(0)
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val it = EncodePipeline.mapOrderedBudgeted(
      (0 until 40).iterator, 4, 1L << 30, (_: Int) => 1000L) { i =>
      val c = inFlight.incrementAndGet()
      maxConcurrent.updateAndGet(m => math.max(m, c))
      Thread.sleep(20)
      inFlight.decrementAndGet()
      i * 2
    }
    try {
      assert(it.toVector === (0 until 40).map(_ * 2).toVector)
    } finally it.close()
    assert(maxConcurrent.get() > 1, "healthy-path budget must not serialize")
  }

  test("byte budget: submission-time estimates gate admissions before results land") {
    // VERDICT r17 #4: once a completion has taught the estimator, each
    // in-flight task RESERVES the estimate — with budget 2500 and
    // ~1000-byte results, at most 3 blocked tasks may be admitted
    // (1000·k < 2500 admits k = 1, 2, then the third saturates), where
    // completed-bytes-only accounting would have admitted the full
    // window of 5 against an empty buffer
    val latch = new java.util.concurrent.CountDownLatch(1)
    val blockedStarted = new java.util.concurrent.atomic.AtomicInteger(0)
    val it = EncodePipeline.mapOrderedBudgeted(
      (0 until 20).iterator, 4, 2500L, (_: Int) => 1000L) { i =>
      if (i >= 5) { blockedStarted.incrementAndGet(); latch.await() }
      i * 2
    }
    try {
      // drain the 5 fast results; blocked items (≥5) admit only behind
      // them (admission is iterator-ordered), each reserving the
      // by-then-learned ~1000-byte estimate
      val first5 = (0 until 5).map(_ => it.next())
      assert(first5 === (0 until 5).map(_ * 2))
      assert(it.hasNext) // buffer is drained; reservations gate admission
      // admission is synchronous in fill(), but task START is not: await
      // the first blocked start (generous bound) before asserting the
      // upper cap, so a loaded CI box can't see 0 (review r18)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (blockedStarted.get() < 1 && System.nanoTime() < deadline)
        Thread.sleep(5)
      Thread.sleep(200)  // no background admission exists; state is stable
      val started = blockedStarted.get()
      assert(started >= 1 && started <= 3,
        s"reservations must cap blocked admissions at 3 (old behavior: 5), got $started")
      latch.countDown()
      assert((5 until 20).map(_ => it.next()) === (5 until 20).map(_ * 2))
      assert(!it.hasNext)
    } finally { latch.countDown(); it.close() }
  }

  test("byte budget: deferred release keeps a TAKEN result inside the budget until drained") {
    // releaseOnTake = false: results the consumer has DEQUEUED but not
    // yet release()d stay inside the budget — after the warm-up window
    // (estimate 0 admits parallelism+1) completes and four results are
    // taken without release, buffered bytes still exceed the budget and
    // no further task may start; release() reopens admission. All
    // assertions wait for COMPLETION visibility first (the r18 de-flake
    // lesson: never assert counts against in-flight pool scheduling).
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val it = EncodePipeline.mapOrderedBudgeted(
      (0 until 10).iterator, 4, 1500L, (_: Int) => 1000L,
      releaseOnTake = false) { i =>
      started.incrementAndGet()
      gate.await() // hold the warm-up open so its width is deterministic
      val r = i * 2
      done.incrementAndGet()
      r
    }
    try {
      val deadline = System.nanoTime() + 10_000_000_000L
      assert(it.hasNext) // warm-up fill: estimate 0, empty buffer → admits 5
      // 4 pool workers START while gated; the 5th admission sits queued
      while (started.get() < 4 && System.nanoTime() < deadline) Thread.sleep(5)
      assert(started.get() === 4, "warm-up starts must fill the pool width")
      gate.countDown()
      while (done.get() < 5 && System.nanoTime() < deadline) Thread.sleep(5)
      assert(done.get() === 5)
      Thread.sleep(100) // completion-side accounting is straight-line code
      // take 4 of the 5 completed results, releasing NOTHING: buffered
      // stays 5000 (4 held by the consumer + 1 still in the deque)
      assert((0 until 4).map(_ => it.next()) === (0 until 4).map(_ * 2))
      assert(it.hasNext) // triggers fill: 5000 >= 1500 must gate
      Thread.sleep(100)
      assert(started.get() === 5,
        s"taken-but-unreleased results must keep gating, started ${started.get()}")
      it.release(4000L) // the consumer drained the four taken results
      assert(it.hasNext) // fill: buffered 1000 < 1500 reopens admission —
      // exactly ONE more (its est-1000 reservation re-closes the gate)
      while (started.get() < 6 && System.nanoTime() < deadline) Thread.sleep(5)
      Thread.sleep(100)
      assert(started.get() === 6,
        s"release must admit exactly one more at est 1000, got ${started.get()}")
      (4 until 10).foreach { i => assert(it.next() === i * 2); it.release(1000L) }
      assert(!it.hasNext)
      assert(started.get() === 10)
    } finally { gate.countDown(); it.close() }
  }

  test("byte budget: a starved pump window still yields the exact row sequence") {
    // budget 1 byte < any partition result: every fetch degrades to
    // serial, output must stay row-identical to the healthy window
    val df = spark.range(0, 8000).toDF("id")
      .withColumn("v", col("id") * 7)
      .repartition(6)
      .orderBy("id")
    val want = df.collect().map(r => (r.getLong(0), r.getLong(1))).toVector
    val got = Prefetch.rows(df, None, maxBufferedBytes = 1L)
      .map(r => (r.getLong(0), r.getLong(1))).toVector
    assert(got === want)
  }

  test("close mid-drain ends the pump thread and reaps the fetch pool") {
    // a consumer that stops early (a client gone mid-backfill) must not
    // leave the pump parked on a full queue until the abandon timeout
    def live(name: String): Set[Thread] = {
      val all = new Array[Thread](Thread.activeCount() * 2 + 16)
      val n = Thread.enumerate(all)
      all.take(n).filter(t => t != null && t.getName == name).toSet
    }
    val pumpsBefore = live("graft-history-prefetch")
    val poolBefore = live("graft-encode-pool")
    // 20 partitions of 2k rows: far more than the queue and window hold,
    // so the pump is still fetching or blocked when the consumer closes
    val df = spark.range(0, 40000).toDF("id").repartition(20).orderBy("id")
    val it = Prefetch.rows(df, None)
    assert(it.next().getLong(0) === 0L)
    it.close()
    assert(!it.hasNext)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (((live("graft-history-prefetch") -- pumpsBefore).nonEmpty ||
        (live("graft-encode-pool") -- poolBefore).nonEmpty) &&
        System.nanoTime() < deadline)
      Thread.sleep(50)
    assert((live("graft-history-prefetch") -- pumpsBefore).isEmpty, "pump thread left parked")
    assert((live("graft-encode-pool") -- poolBefore).isEmpty, "fetch pool leaked threads")
  }

  private implicit class QueueOps(q: java.util.concurrent.ConcurrentLinkedQueue[String]) {
    def asScala: Seq[String] = {
      val b = Vector.newBuilder[String]
      q.forEach(s => b += s)
      b.result()
    }
  }
}
