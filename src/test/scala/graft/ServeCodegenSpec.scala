package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, GraftShim, Row}
import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression

import graft.query.{AggSpec, BoundInSet, BoundLiteral, QueryEngine}
import graft.serve.Service
import graft.streaming.RollupStream

/** Request values are bound parameters of the generated code: requests
  * that differ only in window and stream ids reuse the compiled classes of
  * the first request of their shape, and answer what the same plan built
  * with plain literals answers.
  */
class ServeCodegenSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1704067200L // hour-aligned
  private val Streams = 512

  // FilePoller's shape: a parquet data table with int stream ids, 6 h at
  // 300 s per stream, and a 300 s tier built from the same rows
  private lazy val store: (DataFrame, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graftcodegen").toString
    val ev = (0 until Streams).flatMap { s =>
      (0 until 72).map(i => (s, t0 + i * 300L + s % 7, (i % 9) * 0.5 + s, Seq("a", "b", "c")(i % 3)))
    }.toDF("stream_id", "timestamp", "value", "kind")
    ev.write.parquet(s"$dir/data")
    val data = spark.read.parquet(s"$dir/data")
    RollupStream.appendPartials(data, 300, "value", s"$dir/t300", epoch = 0L,
      modeCols = Seq("kind"), smokeCols = Seq("value"))
    (data, s"$dir/t300")
  }

  private lazy val svc = new Service(
    spark,
    data = Map("c" -> store._1),
    streams = Map.empty,
    rollups = Map("c" -> Service.RollupTiers(
      "value", Map(300L -> store._2), modeCols = Seq("kind"), smokeCols = Seq("value"))))

  private val aggs = Seq(AggSpec("value", "avg"), AggSpec("value", "max"))
  private val columns = Seq("value")

  /** `df`'s plan with every bound parameter turned back into the plain
    * literal it stands for: the plan the helpers built before request
    * values were bound.
    */
  private def inlined(df: DataFrame): DataFrame =
    GraftShim.ofRows(spark, GraftShim.analyzed(df).transformAllExpressions {
      case b: BoundLiteral => Literal(b.value, b.dataType)
      case s: BoundInSet   => InSet(s.child, s.hset)
    })

  /** Code compiled while `body` runs: the codegen cache's misses. */
  private def compiles[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  private def rows(rs: Seq[Row]): Seq[Seq[Any]] = rs.map(_.toSeq)

  // the four request kinds: (reply rows, the same plan built with literals)
  private def matrix(l: Map[String, Seq[Long]], start: Long, stop: Long) =
    (() => svc.matrix("c", l, aggs, start, stop),
      () => inlined(svc.matrixFrame("c", l, aggs, start, stop)).collect().toSeq)
  private def aggregate(l: Map[String, Seq[Long]], start: Long, stop: Long) =
    (() => svc.aggregate("c", l, aggs, start, stop, 600).flatMap(_.rows).toVector,
      () => inlined(svc.aggFrame("c", l, aggs, start, stop, 600)).collect().toSeq)
  private def history(l: Map[String, Seq[Long]], start: Long, stop: Long) =
    (() => svc.history("c", l, columns, start, stop).flatMap(_.rows).toVector,
      () => inlined(svc.historyFrame("c", l, columns, start, stop)).collect().toSeq)

  /** Runs `warm`, then asserts `next` compiles nothing and answers what
    * its literal-built plan answers.
    */
  private def reusesWarm(
      what: String,
      warm: (() => Seq[Row], () => Seq[Row]),
      next: (() => Seq[Row], () => Seq[Row])): Unit = {
    warm._1()
    val (got, n) = compiles(next._1())
    assert(n === 0, s"$what compiled $n classes")
    assert(got.nonEmpty, what)
    assert(rows(got) === rows(next._2()), what)
  }

  test("requests differing only in window and stream ids compile nothing after one warm request") {
    val a = Map("x" -> Seq(0L, 1L), "y" -> Seq(2L))
    val b = Map("x" -> Seq(9L), "y" -> Seq(4L, 5L, 6L, 7L))
    // tier-routed: windows on 300 s edges
    assert(svc.matrixFrame("c", b, aggs, t0 + 3600, t0 + 9000)
      .queryExecution.executedPlan.toString.contains("t300"))
    reusesWarm("routed matrix", matrix(a, t0, t0 + 3600), matrix(b, t0 + 3600, t0 + 9000))
    reusesWarm("routed aggregate",
      aggregate(a, t0, t0 + 7200), aggregate(b, t0 + 3600, t0 + 14400))
    // raw: a history, and an aggregate whose window is off the tier's edges
    assert(!svc.aggFrame("c", b, aggs, t0 + 31, t0 + 7231, 600)
      .queryExecution.executedPlan.toString.contains("t300"))
    reusesWarm("raw history", history(a, t0 + 100, t0 + 1900), history(b, t0 + 700, t0 + 5000))
    reusesWarm("raw aggregate",
      aggregate(a, t0 + 31, t0 + 7231), aggregate(b, t0 + 1001, t0 + 9001))
  }

  test("500 stream ids: the same compiled plan as 3, a hash probe, literal-built rows") {
    val few = Map("x" -> Seq(1L, 2L, 3L))
    val many = (0 until 500).map(i => s"s$i" -> Seq(i.toLong + 5)).toMap
    // all 500 ids still reach the parquet reader (the plan string lists
    // every pushed id only under a longer metadata limit)
    val key = "spark.sql.maxMetadataStringLength"
    spark.conf.set(key, "100000")
    val scan =
      try svc.historyFrame("c", many, columns, t0, t0 + 3600).queryExecution.executedPlan.toString
      finally spark.conf.unset(key)
    val pushedIds = """In\(stream_id, \[([0-9,]+)\]\)""".r.findFirstMatchIn(scan)
    assert(pushedIds.map(_.group(1).split(",").length) === Some(500), scan)
    reusesWarm("500-id history", history(few, t0, t0 + 3600), history(many, t0, t0 + 3600))
    reusesWarm("500-id matrix", matrix(few, t0, t0 + 3600), matrix(many, t0, t0 + 3600))
    val got = svc.matrix("c", many, aggs, t0, t0 + 3600)
    assert(got.map(_.getString(0)).toSet === many.keySet)
  }

  test("raw history from fewer labels than shuffle partitions to more: the same compiled plan") {
    // 1 label routes to partition 0; 9 labels at 4 partitions spread over all
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    val one = Map("x" -> Seq(3L))
    val nine = (0 until 9).map(i => s"l$i" -> Seq(i * 2L + 40, i * 2L + 41)).toMap
    // the partition-id expression, values blanked: the compiled classes
    // of both sides may already be cached by earlier tests, so the shape
    // is compared directly as well
    def routeShape(l: Map[String, Seq[Long]], start: Long, stop: Long): String =
      svc.historyFrame("c", l, columns, start, stop).queryExecution.optimizedPlan
        .collectFirst { case r: RepartitionByExpression => r.partitionExpressions }.get
        .map(_.transform { case v: Literal => Literal.default(v.dataType) })
        .mkString.replaceAll("#[0-9]+", "")
    assert(routeShape(one, t0, t0 + 3600) === routeShape(nine, t0 + 300, t0 + 7200))
    reusesWarm("1 → 9 label history", history(one, t0, t0 + 3600), history(nine, t0 + 300, t0 + 7200))
  }

  test("a stream under two labels (broadcast-join branch): compiles nothing, literal-built rows") {
    val a = Map("x" -> Seq(1L, 2L), "y" -> Seq(2L, 3L))
    val b = Map("x" -> Seq(5L, 6L, 7L), "y" -> Seq(7L))
    assert(svc.historyFrame("c", b, columns, t0, t0 + 3600)
      .queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    reusesWarm("two-label matrix", matrix(a, t0, t0 + 3600), matrix(b, t0 + 3600, t0 + 9000))
    reusesWarm("two-label history", history(a, t0, t0 + 1800), history(b, t0 + 900, t0 + 4000))
    // stream 7 answers under both labels
    val got = svc.history("c", b, columns, t0 + 900, t0 + 4000).toSeq
    assert(got.map(_.label).distinct.sorted === Seq("x", "y"))
    assert(got.filter(_.label == "y").flatMap(_.rows).forall(_.getAs[Int]("stream_id") == 7))
  }

  test("a routed reply has the raw plan's schema for every tier-derivable func, one bin and binned") {
    val l = Map("x" -> Seq(0L, 1L), "y" -> Seq(2L))
    val funcs = Seq("max", "min", "sum", "avg", "count", "stddev").map(AggSpec("value", _)) ++
      Seq(AggSpec("kind", "most"), AggSpec("value", "smoke"))
    def schema(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    for (as <- funcs.map(Seq(_)) :+ funcs; (binsize, what) <- Seq(0L -> "one bin", 600L -> "binned")) {
      val routed = svc.aggFrame("c", l, as, t0, t0 + 7200, binsize)
      assert(routed.queryExecution.executedPlan.toString.contains("t300"), s"$as $what")
      val raw = QueryEngine.selectAggregatedData(store._1, l, as, t0, t0 + 7200, binsize)
      assert(schema(routed) === schema(raw), s"$as $what")
      if (binsize == 0L)
        assert(schema(svc.matrixFrame("c", l, as, t0, t0 + 7200)) === schema(raw), s"$as matrix")
    }
  }
}
