package nntscperf

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Tracing for the per-layer run. Everything here observes the program from
  * outside: session listeners, a counting local file system, and a byte
  * counting relay in front of the wire server.
  */
object Trace {

  /** Session settings of a traced run: local files open through [[TracingFs]]. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.hadoop.fs.file.impl", classOf[TracingFs].getName)
}

/** The local file system, recording the parquet files each traced call
  * opens: in its tasks, through the call's Spark local property, and on the
  * driver, through the thread the call runs on.
  */
class TracingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val call = Option(org.apache.spark.TaskContext.get())
      .flatMap(t => Option(t.getLocalProperty(Tracer.CallKey)))
      .orElse(Option(Tracer.current.get))
    call.foreach(TracingFs.record(_, f.toUri.getPath))
    super.open(f, bufferSize)
  }
}

object TracingFs {
  private val opened = new ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
  def record(call: String, p: String): Unit =
    if (p.endsWith(".parquet")) opened.computeIfAbsent(call, _ => new ConcurrentLinkedQueue()).add(p)
  /** Distinct parquet files call `id` opened. */
  def of(id: String): Seq[String] =
    Option(opened.get(id)).map(_.asScala.toSeq.distinct).getOrElse(Nil)
}

/** Spark and streaming listeners. Spark work is attributed to a request
  * through the local property [[Tracer.CallKey]], which the benchmark sets
  * on its thread around each direct `Service` call; threads the call starts
  * inherit it. Core utilisation counts every task.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._
  @volatile private var on = false
  val jobs = new AtomicLong()
  val tasks = new AtomicLong()
  val taskMs = new AtomicLong()
  val allTaskMs = new AtomicLong()
  val shuffleBytes = new AtomicLong()
  val bytesRead = new AtomicLong()
  val recordsRead = new AtomicLong()
  /** Submission time (epoch ms) of each call's first job. */
  val firstJob = new ConcurrentHashMap[String, java.lang.Long]()
  private val callStages = ConcurrentHashMap.newKeySet[Int]()
  /** Every streaming progress of the run. */
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(CallKey))).filter(_ => on).foreach { c =>
        jobs.incrementAndGet()
        firstJob.merge(c, e.time, (a, b) => math.min(a, b))
        e.stageIds.foreach(callStages.add)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      allTaskMs.addAndGet(m.executorRunTime)
      if (callStages.contains(e.stageId)) {
        tasks.incrementAndGet()
        taskMs.addAndGet(m.executorRunTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        bytesRead.addAndGet(m.inputMetrics.bytesRead)
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })
  spark.sparkContext.addSparkListener(sparkListener)

  def start(): Unit = on = true

  /** Stops counting once the listener bus has delivered the window's events. */
  def stop(): Unit = {
    Thread.sleep(500)
    on = false
  }

  /** Runs `body` as call `id`: its Spark jobs carry the call's property. */
  def call[T](id: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(CallKey, id)
    current.set(id)
    try body finally { sc.setLocalProperty(CallKey, null); current.remove() }
  }
}

object Tracer {
  val CallKey = "nntscperf.call"
  /** The call running on this thread, for file opens outside a task. */
  val current = new ThreadLocal[String]
}

/** A loopback relay in front of the wire server that counts reply bytes. */
final class ByteProxy(targetPort: Int) {
  val replyBytes = new AtomicLong()
  private val server = new java.net.ServerSocket(0)
  def port: Int = server.getLocalPort

  private def pump(in: java.io.InputStream, out: java.io.OutputStream, count: Boolean,
      done: () => Unit): Thread = {
    val t = new Thread(() => {
      val buf = new Array[Byte](65536)
      try {
        var n = in.read(buf)
        while (n >= 0) {
          if (count) replyBytes.addAndGet(n)
          out.write(buf, 0, n)
          out.flush()
          n = in.read(buf)
        }
      } catch { case _: java.io.IOException => () }
      finally done()
    })
    t.setDaemon(true)
    t.start()
    t
  }

  private val acceptor = new Thread(() => {
    try while (true) {
      val c = server.accept()
      val s = new java.net.Socket("127.0.0.1", targetPort)
      pump(c.getInputStream, s.getOutputStream, count = false,
        () => try s.shutdownOutput() catch { case _: java.io.IOException => () })
      pump(s.getInputStream, c.getOutputStream, count = true, () => { c.close(); s.close() })
    } catch { case _: java.io.IOException => () }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = server.close()
}
