package graft

import org.apache.spark.sql.Row
import graft.query.{AggSpec, QueryEngine}

class QueryEngineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(rows: (Long, Long, Double)*) =
    rows.toDF("stream_id", "timestamp", "value")

  test("binned aggregation: integer binning, per-bin timestamps, naming") {
    val data = ts(
      (1L, 100L, 1.0), (1L, 150L, 3.0), (1L, 210L, 5.0),
      (2L, 100L, 10.0), (2L, 205L, 20.0))
    val out = QueryEngine
      .selectAggregatedData(
        data, Map("a" -> Seq(1L), "b" -> Seq(2L)),
        Seq(AggSpec("value", "avg"), AggSpec("value", "count")),
        0L, 1000L, binsize = 100L)
      .collect()
    // label a, bin 100: avg(1,3)=2 count 2; bin 200: 5.0; label b bins 100/200
    assert(out.length === 4)
    val a100 = out.find(r => r.getAs[String]("nntsclabel") == "a" && r.getAs[Long]("binstart") == 100L).get
    assert(a100.getAs[Double]("value_avg") === 2.0)
    assert(a100.getAs[Long]("value_count") === 2L)
    assert(a100.getAs[Long]("timestamp") === 150L) // max ts in bin
  }

  test("attachLabels: IN + literal map and broadcast join return the old join's rows") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.broadcast
    // a parquet scan with int stream ids that are not the first column
    val dir = java.nio.file.Files.createTempDirectory("labels").toString + "/d"
    Seq((1, 100L, 1.0), (2, 110L, 2.0), (3, 120L, 3.0), (2, 130L, 4.0), (7, 140L, 5.0))
      .toDF("stream_id", "timestamp", "value")
      .select($"timestamp", $"stream_id", $"value")
      .write.parquet(dir)
    val data = spark.read.parquet(dir)
    def oldJoin(labels: Map[String, Seq[Long]]) =
      data.join(broadcast(QueryEngine.labelFrame(spark, labels)), Seq("stream_id"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def plan(df: DataFrame) = df.queryExecution.executedPlan.toString
    val unique = Map("a" -> Seq(1L, 3L), "b" -> Seq(2L), "c" -> Seq(9L))
    val overlapping = Map("a" -> Seq(1L, 2L), "b" -> Seq(2L, 3L))
    val repeated = Map("a" -> Seq(2L, 2L, 3L))
    for (labels <- Seq(unique, overlapping, repeated, Map.empty[String, Seq[Long]])) {
      val got = QueryEngine.attachLabels(data, labels)
      val want = oldJoin(labels)
      assert(got.schema.map(f => (f.name, f.dataType)) ===
        want.schema.map(f => (f.name, f.dataType)), labels)
      assert(rows(got) === rows(want), labels)
    }
    // unique ids: no join, and the IN is pushed into the parquet scan; a
    // stream listed twice keeps the broadcast join
    val u = QueryEngine.attachLabels(data, unique)
    assert(!plan(u).contains("Join"), plan(u))
    assert(plan(u).contains("In(stream_id,"), plan(u))
    assert(plan(QueryEngine.attachLabels(data, overlapping)).contains("BroadcastHashJoin"))
    assert(plan(QueryEngine.attachLabels(data, repeated)).contains("BroadcastHashJoin"))
    assert(rows(QueryEngine.attachLabels(data, overlapping).filter($"stream_id" === 2))
      .length === 4) // two rows of stream 2, each under both labels
  }

  test("single-bin (matrix) mode adds min_timestamp") {
    val data = ts((1L, 100L, 1.0), (1L, 900L, 3.0))
    val out = QueryEngine
      .selectMatrixData(data, Map("a" -> Seq(1L)), Seq(AggSpec("value", "avg")), 0L, 1000L)
      .collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("min_timestamp") === 100L)
    assert(out(0).getAs[Long]("timestamp") === 900L)
    assert(out(0).getAs[Long]("binstart") === 0L)
  }

  test("duplicate-agg renaming follows dbselect semantics") {
    assert(
      QueryEngine.outputNames(Seq(AggSpec("v", "avg")), Nil) === Seq("v"))
    assert(
      QueryEngine.outputNames(
        Seq(AggSpec("v", "avg"), AggSpec("v", "max")), Nil) === Seq("v_avg", "v_max"))
    assert(
      QueryEngine.outputNames(Seq(AggSpec("g", "count")), Seq("g")) === Seq("g_count"))
  }

  test("most: highest count wins, ties broken by smaller value") {
    val data = Seq(
      (1L, 10L, "x"), (1L, 20L, "x"), (1L, 30L, "y"), (1L, 40L, "y"), (1L, 50L, "z"))
      .toDF("stream_id", "timestamp", "kind")
    val out = QueryEngine
      .selectAggregatedData(
        data, Map("a" -> Seq(1L)), Seq(AggSpec("kind", "most")), 0L, 100L, 0L)
      .collect()
    assert(out(0).getAs[String]("kind") === "x") // tie x/y at 2 → smaller value
  }

  test("smoke: ntile(20) bucket averages, nulls dropped") {
    val vals = (1 to 40).map(_.toDouble)
    val data = vals.zipWithIndex
      .map { case (v, i) => (1L, i.toLong, v: java.lang.Double) }
      .toDF("stream_id", "timestamp", "value")
    val out = QueryEngine
      .selectAggregatedData(
        data, Map("a" -> Seq(1L)), Seq(AggSpec("value", "smoke")), 0L, 100L, 0L)
      .collect()
    val smoke = out(0).getSeq[Double](out(0).fieldIndex("value"))
    // 40 values in 20 buckets → pairs (1,2),(3,4)… → averages 1.5, 3.5, …
    assert(smoke === (0 until 20).map(i => 2 * i + 1.5))
  }

  test("missing labels: anti-join emits only label names with no data") {
    val data = ts((1L, 100L, 1.0))
    val out = QueryEngine
      .missingLabels(data, Map("a" -> Seq(1L), "ghost" -> Seq(99L)), 0L, 1000L)
      .collect()
    assert(out.map(_.getString(0)).toSeq === Seq("ghost"))
  }
}
