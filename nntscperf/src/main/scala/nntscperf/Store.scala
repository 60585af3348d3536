package nntscperf

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.schema.Collections
import graft.serve.Service
import graft.streaming.{FilePoller, IngestStream, Markers}

/** One NNTSC store under `root`, built the way a deployment builds it:
  * result files land in `landing/`, and `FilePoller` ingests them into the
  * catalog, the epoch-partitioned data table and the 300 s and 3600 s
  * rollup tiers.
  */
final class Store(spark: SparkSession, val root: String) {
  import Store._

  val landing = s"$root/landing"
  val staging = s"$root/staging"
  val streamsPath = s"$root/streams"
  val dataPath = s"$root/data"
  val checkpoint = s"$root/checkpoint"
  val tiers: Map[Long, String] = Map(300L -> s"$root/tier300", 3600L -> s"$root/tier3600")

  /** Lands the history and stages the live files: hard links to the inputs. */
  def land(inputs: Inputs): Unit = {
    new File(landing).mkdirs()
    new File(staging).mkdirs()
    inputs.history.foreach(f => link(f, new File(landing, f.getName)))
    inputs.live.foreach(f => link(f, new File(staging, f.getName)))
  }

  private def link(src: File, dst: File): Unit =
    java.nio.file.Files.createLink(dst.toPath, src.toPath)

  /** Lands live file `f` with an atomic rename. */
  def release(f: Int): Unit = {
    val name = Inputs.liveName(f)
    val dst = new File(landing, name)
    java.nio.file.Files.move(new File(staging, name).toPath, dst.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    dst.setLastModified(System.currentTimeMillis())
  }

  /** Starts the poller over `landing/` with the store's tiers, publishing
    * markers and committed rows to the given buses, as a deployment wires it.
    */
  def poll(trigger: Trigger,
      markers: Option[Markers.MarkerBus] = None,
      live: Option[Markers.LiveBus] = None): StreamingQuery =
    FilePoller.start(
      spark, landing, Spec.rawSchema, Spec, streamsPath, dataPath, checkpoint,
      trigger = trigger,
      rollupTiers = tiers.toSeq.sortBy(_._1),
      rollupValueCol = "median",
      rollupExtraCols = Seq("loss"),
      markers = markers.map(Collection -> _),
      liveBus = live.map(Collection -> _))

  def data(): DataFrame = IngestStream.readData(spark, dataPath)

  def service(): Service =
    new Service(spark,
      data = Map(Collection -> data()),
      streams = Map(Collection -> IngestStream.readStreams(spark, streamsPath, Spec)),
      rollups = Map(Collection -> Service.RollupTiers("median", tiers, extraCols = Seq("loss"))))

  /** Stream index -> the catalog's stream id. */
  def streamIds(): Map[Int, Long] = {
    val byKey = IngestStream.readStreams(spark, streamsPath, Spec)
      .select("source", "destination", "stream_id").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Number](2).longValue)
      .toMap
    (0 until Gen.Streams).map(s => s -> byKey((Gen.source(s), Gen.destination(s)))).toMap
  }

  /** Files under a directory tree, ignoring checksums and markers. */
  def files(path: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(path))
  }
}

object Store {
  val Spec = Collections.ampIcmp
  val Collection: String = Spec.name

}
