package graft.serve

import java.util.concurrent.{ArrayBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row}

/** Pipelined driver-local row iterator — the chunked-history pump's
  * replacement for a directly-drained `Dataset.toLocalIterator`.
  *
  * `toLocalIterator` fetches result partitions strictly on demand: the
  * Spark job for partition i+1 is not submitted until the consumer has
  * drained partition i, so the serve path alternates [compute] →
  * [serialize to socket] → [compute] → … with executors idle while the
  * driver encodes frames, and vice versa. This iterator moves the
  * `toLocalIterator` drain onto its OWN pump thread, handing rows to the
  * consumer through a bounded chunk queue — the pump is already fetching
  * partition i+1 while the consumer encodes partition i, so the
  * backfill's two serial phases run concurrently, bounded by the slower
  * of the two instead of their sum.
  *
  * Staying on `toLocalIterator` (rather than per-partition `runJob`
  * calls collecting `Row` arrays) keeps Spark's compressed byte-batch
  * result channel: a runJob-based pump was measured 1.5× SLOWER than the
  * plain drain at sf1 — java-serializing GenericRow arrays through the
  * task-result channel cost more than the overlap won back.
  *
  * Memory: at most `QueueChunks`·`ChunkRows` rows buffered beyond the
  * partition `toLocalIterator` itself holds — fixed, small, independent
  * of result size.
  *
  * Ordering: single pump thread, FIFO queue — the row sequence is exactly
  * the source iterator's (the sorted-output contract history relies on).
  *
  * Cancellation: the pump thread tags itself with the caller's watchdog
  * `jobGroup` before the first fetch, so every job `toLocalIterator`
  * lazily submits stays cancellable by the group's timer (the Service
  * watchdog contract). A pump-side failure — including a watchdog kill —
  * is handed through the queue and rethrown on the consuming thread as
  * the ORIGINAL exception, so `Service.isCancellation` classification
  * sees what a synchronous drain would have thrown.
  *
  * An abandoned consumer (client gone, iterator dropped mid-stream): the
  * queue fills, the pump blocks, and after `AbandonTimeoutSec` without a
  * take it gives up and exits — no thread parks forever. The pump leaves
  * an abandoned flag behind, so a consumer that somehow resumes after
  * that gets an accurate "stream abandoned" IllegalStateException rather
  * than the generic died-without-a-marker error.
  */
object Prefetch {

  private[serve] val ChunkRows = 4096
  private[serve] val QueueChunks = 4
  private[serve] val AbandonTimeoutSec = 900L

  /** Partition-window width for the pump's fetch stage (config
    * `spark.graft.serve.pump.window`). `toLocalIterator` runs ONE Spark
    * job per result partition, strictly serially — and on a sorted
    * history result each of those jobs re-runs that partition's
    * reduce-side shuffle read + sort on a single task thread, so the
    * drain's floor is serialized reduce compute, not bytes (ProfScale
    * `pumpfloor` at sf10: 12.6 s of a 16.7 s chunk drain is the serial
    * partition-job stream; distributed compute is 3.7 s). With window
    * k > 1 the pump fetches k partitions CONCURRENTLY (one runJob per
    * pool thread, EncodePipeline-ordered) and emits them in partition
    * order — which IS row order for every ordered serve result, whose
    * plans put every row of partition i before every row of partition
    * i+1: raw history routes each label's rows to one partition, in
    * label order, and sorts within each (`Service.historyFrame`);
    * aggregates are one sorted partition.
    * Output is row-identical to the serial drain (spec-pinned).
    *
    * Memory: at most window+1 partition results held on the driver
    * (vs 1 for toLocalIterator) on the healthy path, AND at most
    * [[DefaultMaxBufferedBytes]] of completed results when partitions
    * turn out fat — the byte budget shrinks the effective window toward
    * serial instead of letting a mis-sized layout OOM the driver
    * (spark.sql.shuffle.partitions governs the healthy sizing).
    *
    * The r12 runJob trap does not apply: that pump java-serialized
    * GenericRow arrays through the task-result channel (1.5× SLOWER);
    * this one ships UnsafeRow copies (Externalizable raw bytes) and
    * converts to external Rows on the pool thread after transfer, with
    * the exact toLocalIterator deserializer (RowEncoder) for parity.
    */
  private[serve] val DefaultPumpWindow = 4

  /** Default cap on completed-but-unconsumed partition-result bytes held
    * by the windowed pump (config `spark.graft.serve.pump.maxBufferedBytes`,
    * estimated from UnsafeRow sizes). 256 MiB ≈ 4 healthy 64 MiB
    * partitions — far above the healthy serve path (10k-row chunks), so
    * the budget only engages when partition sizing is wrong, where it
    * degrades the window toward the serial drain's 1-partition residency.
    */
  private[serve] val DefaultMaxBufferedBytes: Long = 256L << 20

  private case object End
  private final case class Err(t: Throwable)

  /** Rows of `df` in result order, fetched one chunk ahead on a pump
    * thread.
    *
    * @param jobGroup watchdog (group, description) to tag the pump
    *   thread with; None → the pump's jobs run untagged (no-timeout
    *   services)
    */
  def rows(df: DataFrame, jobGroup: Option[(String, String)]): Iterator[Row] = {
    val sc = df.sparkSession.sparkContext
    val queue = new ArrayBlockingQueue[AnyRef](QueueChunks)
    val abandoned = new java.util.concurrent.atomic.AtomicBoolean(false)

    def putOrAbandon(x: AnyRef): Unit = {
      val deadline = System.nanoTime() + AbandonTimeoutSec * 1_000_000_000L
      while (!queue.offer(x, 10, TimeUnit.SECONDS))
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(
            s"prefetch consumer idle > ${AbandonTimeoutSec}s — abandoning pump")
    }

    val window = df.sparkSession.conf
      .get("spark.graft.serve.pump.window", DefaultPumpWindow.toString).toInt

    val pump = new Thread(() => {
      var fetched: Iterator[Row] with AutoCloseable = null
      try {
        jobGroup.foreach { case (g, d) =>
          sc.setJobGroup(g, d, interruptOnCancel = true)
        }
        val it: Iterator[Row] =
          if (window <= 1) {
            val j = df.toLocalIterator()
            new Iterator[Row] {
              def hasNext: Boolean = j.hasNext
              def next(): Row = j.next()
            }
          } else {
            fetched = windowedRows(df, window, jobGroup)
            fetched
          }
        val buf = new scala.collection.mutable.ArrayBuffer[Row](ChunkRows)
        while (it.hasNext) {
          buf += it.next()
          if (buf.length >= ChunkRows) {
            putOrAbandon(buf.toArray)
            buf.clear()
          }
        }
        if (buf.nonEmpty) putOrAbandon(buf.toArray)
        putOrAbandon(End)
      } catch {
        case gone: IllegalStateException
            if gone.getMessage != null &&
              gone.getMessage.startsWith("prefetch consumer idle") =>
          // consumer is (we believe) gone — flag it so a consumer that
          // resumes anyway gets the accurate error, not "pump died"
          abandoned.set(true)
        case t: Throwable =>
          // best effort: a full queue with a dead consumer drops the
          // marker after the deadline, which is fine — nobody is reading
          try putOrAbandon(Err(t)) catch { case _: IllegalStateException => () }
      } finally {
        // reap the windowed fetch pool on every exit path (abandon,
        // failure, normal end); a no-op after exhaustion
        if (fetched != null) fetched.close()
      }
    }, "graft-history-prefetch")
    pump.setDaemon(true)
    pump.start()

    new Iterator[Row] {
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
    }
  }

  /** Rows of `df` in result order, partitions fetched `window`-wide
    * (see [[DefaultPumpWindow]] for why and for the ordering argument).
    * Each pool call runs ONE single-partition job that collects UnsafeRow
    * copies (compact Externalizable transfer) and converts them with the
    * RowEncoder deserializer — the same conversion `toLocalIterator`
    * applies, instantiated per call because the generated projection is
    * not thread-safe (codegen cache makes re-creation cheap).
    *
    * Runs on the pump thread; `close()` reaps the fetch pool. In-flight
    * single-partition jobs run to completion after close (at most
    * `window`), and remain cancellable through the caller's job group —
    * each pool thread tags itself before submitting.
    */
  private def windowedRows(
      df: DataFrame, window: Int,
      jobGroup: Option[(String, String)]): Iterator[Row] with AutoCloseable = {
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
    // window+1 fat buffers on the driver where a serial toLocalIterator
    // would have survived with 1. Size is estimated from the UnsafeRow
    // bytes that actually crossed the task-result channel (the external
    // Row conversion adds a proportional constant on top — the budget is
    // a governor, not an accountant). One partition is always allowed in
    // flight, so budget < one partition degrades to the serial drain.
    val maxBuffered = df.sparkSession.conf
      .get("spark.graft.serve.pump.maxBufferedBytes",
        DefaultMaxBufferedBytes.toString).toLong
    // INTRA-PARTITION release (r18 builder note / VERDICT r19 brief #7):
    // a taken partition result stays inside the byte budget and is
    // released ROW BY ROW as the drain actually consumes it
    // (proportional integer shares — Σ increments == the exact total),
    // so a fat result being slowly drained keeps gating admissions
    // instead of leaving the budget the moment it is dequeued.
    val parts = EncodePipeline.mapOrderedBudgeted(
      (0 until n).iterator, window, maxBuffered,
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
