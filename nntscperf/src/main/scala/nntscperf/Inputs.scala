package nntscperf

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}

/** The seed's result files, written once per run under `dir`: one parquet
  * file per history day and one per live file. Every store build lands
  * hard links to them, so input generation stays out of the set-up time.
  */
final class Inputs(spark: SparkSession, dir: String, seed: Long, liveFiles: Int) {
  import Inputs._

  private def write(out: String, parts: Int)(rows: Int => Iterator[Gen.Result]): Seq[File] = {
    val tmp = s"$dir/tmp-$out"
    spark.createDataFrame(
      spark.sparkContext.parallelize(0 until parts, parts).flatMap(i => rows(i).map(toRow)),
      Store.Spec.rawSchema).write.parquet(tmp)
    new File(s"$dir/$out").mkdirs()
    new File(tmp).listFiles.toSeq.filter(_.getName.startsWith("part-")).map { f =>
      val i = f.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt
      val dst = new File(s"$dir/$out", if (out == "live") liveName(i) else f"history-$i%06d.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst
    }.sortBy(_.getName)
  }

  val history: Seq[File] = write("history", Gen.Days)(historyDay(seed))
  val live: Seq[File] = if (liveFiles == 0) Nil else write("live", liveFiles)(liveFile(seed))
}

object Inputs {
  /** History rows of day `d`, in time order (a closure free of the class). */
  private def historyDay(seed: Long): Int => Iterator[Gen.Result] = d =>
    Iterator.range(d * 1440, (d + 1) * 1440).flatMap(k =>
      Iterator.range(0, Gen.Streams).map(st => Gen.result(seed, st, k)))

  private def liveFile(seed: Long): Int => Iterator[Gen.Result] = f => Gen.liveFile(seed, f).iterator

  def liveName(f: Int): String = f"live-$f%06d.parquet"

  /** A generator result as a raw amp-icmp row (the decoded-message shape). */
  def toRow(r: Gen.Result): Row = Row.fromSeq(RawOrder.map {
    case "source" => Gen.source(r.stream)
    case "destination" => Gen.destination(r.stream)
    case "family" => Gen.Family
    case "packet_size" => Gen.PacketSize
    case "timestamp" => r.ts
    case "median" => r.median.map(Int.box).orNull
    case "loss" => r.loss.toShort
    case "results" => r.results.toShort
    case "lossrate" => r.lossrate
    case "rtts" => r.rtts.toSeq
  })

  private val RawOrder: Seq[String] = Store.Spec.rawSchema.fieldNames.toSeq
}
