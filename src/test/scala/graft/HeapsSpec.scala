package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.analytics.Text
import graft.model.Cdc
import graft.ops.Registry

/** Heaps' law vocabulary-growth fit: checkpoint accounting, the
  * log-log OLS, sum-merge/one-shot equality (the streaming law), and
  * the `text.heaps` plugin surface.
  */
class HeapsSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  test("checkpoint accounting and the fit on a hand-computed corpus") {
    // bucket 0 (ids 0,1): tokens a b a | b c   → 5 tokens, 3 new types
    // bucket 1 (ids 2,3): tokens c d e | a f   → 5 tokens, 3 new types
    // cumulative points (5,3), (10,6): V doubles when n doubles → β=1
    val docs = Seq(
      (0L, "a b a"), (1L, "b c"), (2L, "c d e"), (3L, "a f"))
      .toDF("doc_id", "text")
    val out = Text.heapsFit(docs, "doc_id", "text", bucketWidth = 2)
      .head()
    assert(out.getAs[Long]("n_points") == 2L)
    assert(out.getAs[Long]("n_tokens") == 10L)
    assert(out.getAs[Long]("n_types") == 6L)
    assert(out.getAs[Double]("beta") == 1.0)
    // V = K·n^β with β=1 through (10, 6) → K = 0.6
    assert(math.abs(math.pow(10,
      out.getAs[Double]("log10_k")) - 0.6) < 1e-6)
  }

  test("first occurrences are MINs: a re-seen type is never re-counted") {
    // 'a' appears in every bucket but only bucket 0 counts it new
    val docs = Seq((0L, "a"), (1L, "a b"), (2L, "a c"), (3L, "a d"))
      .toDF("doc_id", "text")
    val out = Text.heapsFit(docs, "doc_id", "text", bucketWidth = 1)
      .head()
    assert(out.getAs[Long]("n_points") == 4L)
    assert(out.getAs[Long]("n_tokens") == 7L)
    assert(out.getAs[Long]("n_types") == 4L)
  }

  test("sum-merged split state fits identically to the one-shot (stream law)") {
    val docs = (0L until 40L).map(i =>
      (i, s"tok${i % 7} tok${i % 3} tok$i shared")).toDF("doc_id", "text")
    val withB = docs.withColumn("_hb", expr("cast(doc_id as bigint) div 8"))
    val oneShot = Text.heapsFitFromCounts(
      Text.stratumTokenCounts(withB, "_hb", "text")).head()
    val (b1, b2) = (withB.filter(col("doc_id") % 2 === 0),
      withB.filter(col("doc_id") % 2 === 1))
    val merged = Text.stratumTokenCounts(b1, "_hb", "text")
      .unionByName(Text.stratumTokenCounts(b2, "_hb", "text"))
      .groupBy(col("stratum"), col("tok"))
      .agg(sum(col("c")).cast("long").as("c"))
    val fromMerged = Text.heapsFitFromCounts(merged).head()
    assert(oneShot == fromMerged)
  }

  test("text.heaps plugin emits one profile record (batch-only guard)") {
    val docs = Cdc.wrap((0L until 16L).map(i =>
      (i, s"alpha beta w$i")).toDF("doc_id", "text"), "doc_id", "docs")
    val out = Registry.create("text.heaps",
        Map("id" -> ".Payload.After.doc_id",
          "field" -> ".Payload.After.text", "bucketWidth" -> "4"))
      .transform(docs)
    assert(out.count() == 1L)
    val payload = out.select(
      get_json_object(col(Cdc.PayloadAfter), "$.n_points"),
      get_json_object(col(Cdc.PayloadAfter), "$.n_types")).head()
    assert(payload.getString(0) == "4")
    assert(payload.getString(1) == "18") // alpha, beta, w0..w15
    val streaming = spark.readStream
      .format("rate").option("rowsPerSecond", 1).load()
    val e = intercept[IllegalArgumentException] {
      Registry.create("text.heaps",
        Map("id" -> ".Payload.After.doc_id")).transform(streaming)
    }
    assert(e.getMessage.contains("batch-only"))
  }

  test("a one-point fit is NULL on Spark and in the DuckDB oracle (text_heaps, text_zipf)") {
    // one document "a a": one checkpoint (heaps) and one token type
    // with freq >= 2 (zipf), so n = 1 and the OLS denominator is 0
    val dir = Fences.tempDir("onepoint")
    Seq((0L, "a a")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val fits = Seq("text_heaps" -> Seq("beta", "log10_k"),
      "text_zipf" -> Seq("slope", "intercept"))
    fits.foreach { case (q, cols) =>
      val row = SparkEntry.queries(q)(spark, dir).head()
      cols.foreach(c => assert(row.isNullAt(row.fieldIndex(c)), s"Spark $q.$c"))
    }
    // the oracle side, where python3 with duckdb is installed
    val script =
      """import sys, duckdb
        |c = duckdb.connect()
        |c.execute(f"CREATE VIEW documents AS SELECT * FROM '{sys.argv[1]}/documents.parquet/*.parquet'")
        |r = c.execute(sys.stdin.read())
        |names = [d[0] for d in r.description]
        |for row in r.fetchall():
        |    print(" ".join(f"{n}={v!r}" for n, v in zip(names, row)))
        |""".stripMargin
    val hasDuckDb = scala.util.Try(
      scala.sys.process.Process(Seq("python3", "-c", "import duckdb")).! == 0).getOrElse(false)
    assume(hasDuckDb, "python3 with duckdb is not installed")
    fits.foreach { case (q, cols) =>
      val sql = new java.io.ByteArrayInputStream(
        SparkEntry.oracleSql(q).getBytes("UTF-8"))
      val out = (scala.sys.process.Process(Seq("python3", "-c", script, dir)) #< sql).!!
      cols.foreach(c => assert(out.contains(s"$c=None"), s"DuckDB $q: $out"))
    }
  }
}
