package graft.serve

/** Ordered parallel map for the serve path's frame ENCODE stage.
  *
  * The prefetch pump ([[Prefetch.rows]]) overlaps partition COMPUTE with
  * the driver-side drain, but the drain itself was still one thread
  * doing [JSON/Arrow encode + zlib/zstd] → [socket write] per chunk —
  * and the r12 sf10 measurement showed encode DOMINATES once the pump
  * hides compute (pump speedup 1.24× at sf1, only 1.06× at sf10). This
  * stage runs the per-chunk encode on a small worker pool while the
  * writer thread emits frames strictly in input order:
  *
  *   [pump: spark fetch] → [pool: encode k chunks in flight] → [writer]
  *
  * Ordering: a bounded deque of Futures, results taken FIFO — the byte
  * stream on the socket is byte-identical to the serial drain's.
  * Memory: at most `parallelism + 1` encoded frames in flight (each a
  * compressed ~10k-row chunk). Failure: the original exception from the
  * encode function rethrows on the consuming thread at the failed
  * chunk's position, like a serial drain. The pool is per-call; the
  * iterator is [[AutoCloseable]] and the consumer MUST close it in a
  * finally when it may abandon the stream mid-drain (client disconnect)
  * — close() reaps the pool immediately. As a second line of defence the
  * pool's core threads time out after 30 s idle, so even an un-closed
  * abandoned pipeline self-reaps instead of accumulating daemon threads
  * under client churn in a long-running server.
  */
object EncodePipeline {

  /** The budgeted pipe's consumer handle: iteration + close, plus the
    * DEFERRED-RELEASE seam — in `releaseOnTake = false` mode the
    * consumer gives result bytes back with [[release]] as it actually
    * drains them (e.g. chunk by chunk within a partition result), so a
    * taken-but-undrained fat result keeps gating admissions instead of
    * silently leaving the budget the moment it is dequeued.
    */
  trait OrderedPipe[B] extends Iterator[B] with AutoCloseable {
    def release(n: Long): Unit
  }

  /** `it.map(f)` with `f` evaluated `parallelism`-wide, results in input
    * order. `parallelism <= 1` degrades to a plain serial map. Always
    * close() in a finally — a no-op after exhaustion or failure, the
    * only reclaim path after mid-stream abandonment.
    */
  def mapOrdered[A, B](it: Iterator[A], parallelism: Int)(f: A => B): Iterator[B] with AutoCloseable =
    mapOrderedBudgeted(it, parallelism, Long.MaxValue, (_: B) => 0L)(f)

  /** [[mapOrdered]] with a BYTE BUDGET on completed-but-unconsumed
    * results: new tasks are submitted only while the bytes of results
    * sitting in the deque (per `sizeOf`, counted when a task completes,
    * released when the consumer takes it) stay under `maxBufferedBytes`
    * — except that ONE task is always allowed in flight, so a budget
    * smaller than any single result degrades to a serial map rather
    * than deadlocking. This is the pump-window OOM guard: a mis-sized
    * partition layout (fat results) shrinks the effective window toward
    * 1 instead of holding `parallelism + 1` fat buffers on the driver.
    *
    * The budget bounds SUBMISSION with a submission-time ESTIMATE
    * (VERDICT r17 #4): each in-flight task RESERVES the running EWMA of
    * completed result sizes, and the gate checks completed + reserved
    * bytes — so once any result has completed, a fat region stops
    * admissions while results are still computing, instead of only
    * after they land. The residual transient is the FIRST window into a
    * fat region (estimates still reflect the healthy sizes), bounded by
    * budget + (parallelism + 1)·(largest single result), converging to
    * ~1 result in flight once one fat completion updates the estimate
    * (spec-pinned in PrefetchSpec; the sf1 A/B in ROUND_NOTES, round 18,
    * item 9 "Pump submission-time estimate", shows the healthy path
    * keeps its pump speedup — estimate 0 until the first completion, so
    * warm-up admission is unchanged). Ordering,
    * failure, and close() semantics are exactly [[mapOrdered]]'s.
    */
  def mapOrderedBudgeted[A, B](
      it: Iterator[A], parallelism: Int,
      maxBufferedBytes: Long, sizeOf: B => Long,
      releaseOnTake: Boolean = true)(f: A => B): OrderedPipe[B] = {
    if (parallelism <= 1) new OrderedPipe[B] {
      private val m = it.map(f)
      def hasNext: Boolean = m.hasNext
      def next(): B = m.next()
      def close(): Unit = ()
      def release(n: Long): Unit = ()
    }
    else new OrderedPipe[B] {
      private val bufferedBytes = new java.util.concurrent.atomic.AtomicLong(0L)
      // submission-time accounting: estimates reserved for in-flight
      // tasks + the EWMA estimator over completed result sizes
      private val reservedBytes = new java.util.concurrent.atomic.AtomicLong(0L)
      private val estSize = new java.util.concurrent.atomic.AtomicLong(0L)
      private val pool = {
        val p = new java.util.concurrent.ThreadPoolExecutor(
          parallelism, parallelism, 30L, java.util.concurrent.TimeUnit.SECONDS,
          new java.util.concurrent.LinkedBlockingQueue[Runnable](),
          (r: Runnable) => {
            val t = new Thread(r, "graft-encode-pool")
            t.setDaemon(true)
            t
          })
        p.allowCoreThreadTimeOut(true) // abandoned-without-close self-reap
        p
      }
      private val inFlight =
        new java.util.ArrayDeque[java.util.concurrent.Future[B]](parallelism + 1)
      private var shut = false

      private def fill(): Unit = {
        if (shut) return // a closed pipeline reports exhaustion, never resubmits
        while (inFlight.size() <= parallelism && it.hasNext &&
            (inFlight.isEmpty ||
              bufferedBytes.get() + reservedBytes.get() < maxBufferedBytes)) {
          val a = it.next()
          val est = estSize.get() // 0 until the first completion: warm-up
          reservedBytes.addAndGet(est)
          inFlight.addLast(pool.submit(() => {
            try {
              val b = f(a)
              val s = sizeOf(b)
              bufferedBytes.addAndGet(s)
              // EWMA(1/2): adapts within one completion in either
              // direction; lost updates under race only stale the
              // ESTIMATE, never the budget's completed-bytes accounting
              val prev = estSize.get()
              estSize.set(if (prev == 0L) s else (prev + s) / 2)
              b
            } finally reservedBytes.addAndGet(-est) // release even when f throws
          }))
        }
      }

      private def shutdown(): Unit = if (!shut) { shut = true; pool.shutdown() }

      def hasNext: Boolean = {
        if (shut) return false
        fill()
        val more = !inFlight.isEmpty
        if (!more) shutdown()
        more
      }

      def next(): B = {
        if (!hasNext) throw new NoSuchElementException
        try {
          val b = inFlight.removeFirst().get()
          // deferred mode (releaseOnTake false): the consumer keeps the
          // result inside the budget until it release()s the bytes it
          // has actually drained — a taken fat result still gates
          if (releaseOnTake) bufferedBytes.addAndGet(-sizeOf(b))
          b
        } catch {
          case e: java.util.concurrent.ExecutionException =>
            shutdown()
            throw e.getCause // the original encode failure, serial-drain style
        }
      }

      def close(): Unit = {
        shut = true
        inFlight.clear()
        pool.shutdownNow() // queued tasks dropped; running encodes finish and the threads exit
      }

      def release(n: Long): Unit = bufferedBytes.addAndGet(-n)
    }
  }
}
