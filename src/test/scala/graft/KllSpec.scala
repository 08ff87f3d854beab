package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.analytics.Sketch

/** KLL-style quantile sketch (round 12): order-free determinism,
  * the exact merge law, small-group exactness, sampling accuracy,
  * and the streaming sink twin.
  */
class KllSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  private def stateKey(df: org.apache.spark.sql.DataFrame) =
    df.select("g", "kll_n", "kll_l", "_v", "_h", "_tz").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getLong(5))).toSet

  test("state is a pure function of the row multiset (partition-invariant)") {
    val rows = (1L to 5000L).map(i => (if (i % 3 == 0) "a" else "b", i, i.toDouble))
    val df = rows.toDF("g", "id", "v")
    val s1 = Sketch.kllState(df, Seq("g"), "v", "id", k = 64)
    val s2 = Sketch.kllState(df.repartition(17), Seq("g"), "v", "id", k = 64)
    assert(stateKey(s1) == stateKey(s2))
    assert(s1.count() > 0)
  }

  test("merge law: merge(sketch(A), sketch(B)) == sketch(A ∪ B) exactly") {
    val rows = (1L to 8000L).map(i => ("g1", i, (i * 37 % 1000).toDouble))
    val df = rows.toDF("g", "id", "v")
    val a = Sketch.kllState(df.filter($"id" % 2 === 0), Seq("g"), "v", "id", k = 64)
    val b = Sketch.kllState(df.filter($"id" % 2 === 1), Seq("g"), "v", "id", k = 64)
    val merged = Sketch.kllMerge(Seq(a, b), Seq("g"), k = 64)
    val direct = Sketch.kllState(df, Seq("g"), "v", "id", k = 64)
    assert(stateKey(merged) == stateKey(direct))
    // and the quantile projections agree bit-for-bit
    val qm = Sketch.kllQuantiles(merged, Seq("g")).collect().toSeq.map(_.toSeq)
    val qd = Sketch.kllQuantiles(direct, Seq("g")).collect().toSeq.map(_.toSeq)
    assert(qm == qd)
  }

  test("groups at or under k are EXACT: level 0, true ceil-rank quantiles") {
    val rows = (1L to 50L).map(i => ("s", i, i.toDouble))
    val st = Sketch.kllState(rows.toDF("g", "id", "v"), Seq("g"), "v", "id", k = 64)
    val q = Sketch.kllQuantiles(st, Seq("g")).collect().head
    assert(q.getAs[Long]("n_rows") == 50L)
    assert(q.getAs[Long]("kll_level") == 0L)
    assert(q.getAs[Long]("m_state") == 50L)
    assert(q.getAs[Double]("p50") == 25.0) // ceil(0.5*50) = rank 25
    assert(q.getAs[Double]("p90") == 45.0)
    assert(q.getAs[Double]("p99") == 50.0) // ceil(0.99*50) = rank 50
  }

  test("sampling accuracy: p50/p90 of 1..100000 within the O(1/sqrt k) band") {
    val rows = (1L to 100000L).map(i => ("u", i, i.toDouble))
    val st = Sketch.kllState(rows.toDF("g", "id", "v"), Seq("g"), "v", "id", k = 1024)
    val q = Sketch.kllQuantiles(st, Seq("g")).collect().head
    assert(q.getAs[Long]("n_rows") == 100000L)
    // retained-state budget: at most ~2k rows survive the cut
    assert(q.getAs[Long]("m_state") <= 2048L, q.getAs[Long]("m_state").toString)
    val p50 = q.getAs[Double]("p50")
    val p90 = q.getAs[Double]("p90")
    // 3/sqrt(1024) ≈ 9.4% rank error at 3 sigma — use 10%
    assert(math.abs(p50 - 50000.0) < 10000.0, s"p50=$p50")
    assert(math.abs(p90 - 90000.0) < 10000.0, s"p90=$p90")
  }

  test("null values and null ids are excluded; n counts surviving rows") {
    val rows = Seq[(String, Option[Long], Option[Double])](
      ("n", Some(1L), Some(1.0)), ("n", Some(2L), None),
      ("n", None, Some(3.0)), ("n", Some(4L), Some(4.0)))
    val st = Sketch.kllState(rows.toDF("g", "id", "v"), Seq("g"), "v", "id", k = 64)
    val q = Sketch.kllQuantiles(st, Seq("g")).collect().head
    assert(q.getAs[Long]("n_rows") == 2L)
    assert(q.getAs[Long]("m_state") == 2L)
    assert(q.getAs[Double]("p99") == 4.0)
  }

  test("streaming sink twin: 2-batch state == batch sketch of the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (1L to 4000L).map(i => ("st", i, (i * 13 % 500).toDouble))
    val state = Fences.tempDir("kll_sink")
    val in = MemoryStream[(String, Long, Double)]
    val q = in.toDF().toDF("g", "id", "v")
      .writeStream
      .foreachBatch(graft.streaming.StreamingOps.kllSink(
        state, Seq("g"), "v", "id", k = 64))
      .outputMode("update").start()
    try {
      in.addData(rows.filter(_._2 <= 2000)); q.processAllAvailable()
      in.addData(rows.filter(_._2 > 2000)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$state/batch=1")
    val direct = Sketch.kllState(rows.toDF("g", "id", "v"), Seq("g"), "v", "id", k = 64)
    assert(stateKey(streamed) == stateKey(direct))
  }

  test("empty groupCols: one global sketch via the cross-join path") {
    val rows = (1L to 3000L).map(i => (i, i.toDouble))
    val st = Sketch.kllState(rows.toDF("id", "v"), Seq.empty, "v", "id", k = 64)
    val q = Sketch.kllQuantiles(st, Seq.empty).collect()
    assert(q.length == 1)
    assert(q.head.getAs[Long]("n_rows") == 3000L)
  }
}
