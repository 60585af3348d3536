package graft.serve

import java.util.concurrent.{ArrayBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, Row}

/** Pipelined driver-local row iterator: the chunked-history pump.
  *
  * A pump thread fetches the result's partitions [[DefaultPumpWindow]]
  * wide and hands rows to the consumer through a bounded chunk queue, so
  * the pump is already fetching later partitions while the consumer
  * encodes earlier ones: the backfill's compute and encode phases run
  * concurrently, bounded by the slower of the two instead of their sum.
  *
  * Memory: at most `QueueChunks`·`ChunkRows` rows queued, plus the fetch
  * window's partition results (bounded by [[DefaultMaxBufferedBytes]]).
  *
  * Ordering: single pump thread, partitions emitted in partition order,
  * FIFO queue — the row sequence is the result's (the sorted-output
  * contract history relies on).
  *
  * Cancellation: the pump thread and every fetch thread tag themselves
  * with the caller's watchdog `jobGroup` before they submit a job, so
  * every partition job stays cancellable by the group's timer (the
  * Service watchdog contract). A pump-side failure — including a
  * watchdog kill — is handed through the queue and rethrown on the
  * consuming thread as the ORIGINAL exception, so
  * `Service.isCancellation` classification sees what a synchronous drain
  * would have thrown.
  *
  * A consumer that stops early (client gone mid-backfill) closes the
  * iterator: the pump is interrupted, drops its queued chunks and reaps
  * the fetch window, and the thread exits. A consumer that neither
  * drains nor closes: the queue fills, the pump blocks, and after
  * `AbandonTimeoutSec` without a take it gives up and exits. It leaves an
  * abandoned flag behind, so a consumer that somehow resumes after that
  * gets an accurate "stream abandoned" IllegalStateException rather than
  * the generic died-without-a-marker error.
  */
object Prefetch {

  private[serve] val ChunkRows = 4096
  private[serve] val QueueChunks = 4
  private[serve] val AbandonTimeoutSec = 900L

  /** Partition-window width for the pump's fetch stage. A serial drain
    * runs ONE Spark job per result partition, one after another — and on
    * a sorted history result each of those jobs re-runs that partition's
    * reduce-side shuffle read + sort on a single task thread, so the
    * drain's floor is serialized reduce compute, not bytes (sf10: 12.6 s
    * of a 16.7 s chunk drain was the serial partition-job stream,
    * distributed compute 3.7 s; ROUND_NOTES, round 16, "Drain floor
    * analysis → windowed partition pump"). The pump fetches 4 partitions
    * CONCURRENTLY (one runJob per pool thread, EncodePipeline-ordered)
    * and emits them in partition order — which IS row order for every
    * ordered serve result, whose plans put every row of partition i
    * before every row of partition i+1: raw history routes each label's
    * rows to one partition, in label order, and sorts within each
    * (`Service.historyFrame`); aggregates are one sorted partition.
    *
    * Memory: at most window+1 partition results held on the driver on
    * the healthy path, AND at most [[DefaultMaxBufferedBytes]] of
    * completed results when partitions turn out fat — the byte budget
    * shrinks the effective window toward one partition at a time instead
    * of letting a mis-sized layout OOM the driver
    * (spark.sql.shuffle.partitions governs the healthy sizing).
    *
    * The r12 runJob trap does not apply: that pump java-serialized
    * GenericRow arrays through the task-result channel (1.5× SLOWER);
    * this one ships UnsafeRow copies (Externalizable raw bytes) and
    * converts to external Rows on the pool thread after transfer, with
    * Spark's own RowEncoder deserializer.
    */
  private[serve] val DefaultPumpWindow = 4

  /** Cap on completed-but-unconsumed partition-result bytes held by the
    * pump's fetch window (estimated from UnsafeRow sizes). 256 MiB ≈ 4
    * healthy 64 MiB partitions — far above the healthy serve path (10k-row
    * chunks), so the budget only engages when partition sizing is wrong,
    * where it degrades the window toward one partition at a time.
    */
  private[serve] val DefaultMaxBufferedBytes: Long = 256L << 20

  private case object End
  private final case class Err(t: Throwable)

  /** Rows of `df` in result order, fetched ahead on a pump thread.
    * Close the iterator when abandoning it before exhaustion; close is a
    * no-op after exhaustion or failure.
    *
    * @param jobGroup watchdog (group, description) to tag the pump
    *   thread with; None → the pump's jobs run untagged (no-timeout
    *   services)
    */
  def rows(df: DataFrame, jobGroup: Option[(String, String)]): Iterator[Row] with AutoCloseable =
    rows(df, jobGroup, DefaultMaxBufferedBytes)

  /** [[rows]] with the fetch window's byte budget given explicitly. */
  private[serve] def rows(
      df: DataFrame, jobGroup: Option[(String, String)],
      maxBufferedBytes: Long): Iterator[Row] with AutoCloseable = {
    val sc = df.sparkSession.sparkContext
    val queue = new ArrayBlockingQueue[AnyRef](QueueChunks)
    val abandoned = new AtomicBoolean(false)
    val closed = new AtomicBoolean(false)

    def putOrAbandon(x: AnyRef): Unit = {
      val deadline = System.nanoTime() + AbandonTimeoutSec * 1_000_000_000L
      while (!queue.offer(x, 10, TimeUnit.SECONDS)) {
        if (closed.get()) throw new InterruptedException("prefetch iterator closed")
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(
            s"prefetch consumer idle > ${AbandonTimeoutSec}s — abandoning pump")
      }
    }

    val pump = new Thread(() => {
      var fetched: Iterator[Row] with AutoCloseable = null
      try {
        jobGroup.foreach { case (g, d) =>
          sc.setJobGroup(g, d, interruptOnCancel = true)
        }
        fetched = windowedRows(df, jobGroup, maxBufferedBytes)
        val buf = new scala.collection.mutable.ArrayBuffer[Row](ChunkRows)
        while (!closed.get() && fetched.hasNext) {
          buf += fetched.next()
          if (buf.length >= ChunkRows) {
            putOrAbandon(buf.toArray)
            buf.clear()
          }
        }
        if (buf.nonEmpty) putOrAbandon(buf.toArray)
        putOrAbandon(End)
      } catch {
        // closed by the consumer: nobody reads the queue any more
        case _: Throwable if closed.get() => ()
        case gone: IllegalStateException
            if gone.getMessage != null &&
              gone.getMessage.startsWith("prefetch consumer idle") =>
          // consumer is (we believe) gone — flag it so a consumer that
          // resumes anyway gets the accurate error, not "pump died"
          abandoned.set(true)
        case t: Throwable =>
          // best effort: a full queue with a dead consumer drops the
          // marker after the deadline, which is fine — nobody is reading
          try putOrAbandon(Err(t))
          catch { case _: IllegalStateException | _: InterruptedException => () }
      } finally {
        // reap the fetch pool on every exit path (close, abandon,
        // failure, normal end); a no-op after exhaustion
        if (fetched != null) fetched.close()
        // a chunk put after the consumer's clear would otherwise stay
        // referenced by the queue
        if (closed.get()) queue.clear()
      }
    }, "graft-history-prefetch")
    pump.setDaemon(true)
    pump.start()

    new Iterator[Row] with AutoCloseable {
      private var cur: Array[Row] = null
      private var pos = 0
      private var done = false
      private def advance(): Boolean = {
        while (!done && (cur == null || pos >= cur.length)) {
          val x = queue.poll(10, TimeUnit.SECONDS)
          x match {
            case null =>
              // no deadline here: a 100 TB partition may legitimately
              // compute for a long time (the watchdog, when armed, is the
              // timeout authority) — only a pump that DIED without
              // enqueueing its End/Err marker is an error
              if (!pump.isAlive && queue.isEmpty) {
                done = true
                if (abandoned.get())
                  throw new IllegalStateException(
                    s"prefetch consumer idle > ${AbandonTimeoutSec}s — " +
                      "stream was abandoned by the pump")
                throw new IllegalStateException(
                  "prefetch pump died without a result marker")
              }
            case End => done = true
            case Err(t) => done = true; throw t
            case chunk: Array[Row] @unchecked => cur = chunk; pos = 0
          }
        }
        !done || (cur != null && pos < cur.length)
      }
      def hasNext: Boolean = advance()
      def next(): Row = {
        if (!advance()) throw new NoSuchElementException("empty prefetch iterator")
        val r = cur(pos)
        pos += 1
        r
      }
      def close(): Unit = {
        done = true
        cur = null
        if (closed.compareAndSet(false, true)) {
          pump.interrupt()
          queue.clear()
        }
      }
    }
  }

  /** Rows of `df` in result order, partitions fetched
    * [[DefaultPumpWindow]]-wide (see there for why and for the ordering
    * argument). Each pool call runs ONE single-partition job that
    * collects UnsafeRow copies (compact Externalizable transfer) and
    * converts them with the RowEncoder deserializer, instantiated per
    * call because the generated projection is not thread-safe (codegen
    * cache makes re-creation cheap).
    *
    * Runs on the pump thread; `close()` reaps the fetch pool. In-flight
    * single-partition jobs run to completion after close (at most
    * the window), and remain cancellable through the caller's job group —
    * each pool thread tags itself before submitting.
    */
  private def windowedRows(
      df: DataFrame,
      jobGroup: Option[(String, String)],
      maxBuffered: Long): Iterator[Row] with AutoCloseable = {
    val sc = df.sparkSession.sparkContext
    val internal = df.queryExecution.toRdd
    val n = internal.getNumPartitions
    val schema = df.schema
    val encoder = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema))
      .resolveAndBind()
    // Byte budget on completed-but-unconsumed partition results (the
    // 100× OOM guard): window-k concurrency is the HEALTHY-path default,
    // but a mis-partitioned history (fat partition results) must not pin
    // window+1 fat buffers on the driver. Size is estimated from the
    // UnsafeRow bytes that actually crossed the task-result channel (the
    // external Row conversion adds a proportional constant on top — the
    // budget is a governor, not an accountant). One partition is always
    // allowed in flight, so budget < one partition degrades to a serial
    // drain.
    //
    // INTRA-PARTITION release (r18 builder note / VERDICT r19 brief #7):
    // a taken partition result stays inside the byte budget and is
    // released ROW BY ROW as the drain actually consumes it
    // (proportional integer shares — Σ increments == the exact total),
    // so a fat result being slowly drained keeps gating admissions
    // instead of leaving the budget the moment it is dequeued.
    val parts = EncodePipeline.mapOrderedBudgeted(
      (0 until n).iterator, DefaultPumpWindow, maxBuffered,
      (r: (Array[Row], Long)) => r._2, releaseOnTake = false) { p =>
      jobGroup.foreach { case (g, d) =>
        sc.setJobGroup(g, d, interruptOnCancel = true)
      }
      val raw = sc.runJob(
        internal,
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.catalyst.InternalRow]
          while (it.hasNext) buf += it.next().copy()
          buf.toArray
        },
        Seq(p)).head
      var bytes = 0L
      raw.foreach {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
          bytes += u.getSizeInBytes
        case _ => bytes += 32L + 16L * schema.length // non-Unsafe fallback
      }
      val fromRow = encoder.createDeserializer()
      (raw.map(fromRow): Array[Row], bytes)
    }
    new Iterator[Row] with AutoCloseable {
      private var cur: Array[Row] = null
      private var curBytes = 0L
      private var pos = 0
      def hasNext: Boolean = {
        while ((cur == null || pos >= cur.length) && parts.hasNext) {
          // an empty partition (or a zero-size estimate) releases whole
          val taken = parts.next()
          cur = taken._1; curBytes = taken._2; pos = 0
          if (cur.isEmpty && curBytes > 0) { parts.release(curBytes); curBytes = 0 }
        }
        cur != null && pos < cur.length
      }
      def next(): Row = {
        if (!hasNext) throw new NoSuchElementException
        val r = cur(pos)
        // proportional share: bytes·(pos+1)/len − bytes·pos/len; the
        // increments telescope to exactly curBytes over the partition
        val len = cur.length
        parts.release(
          curBytes * (pos + 1) / len - curBytes * pos.toLong / len)
        pos += 1
        r
      }
      def close(): Unit = parts.close()
    }
  }
}
