package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.analytics.Text
import graft.model.Cdc
import graft.ops.Registry

/** Pairwise Jensen–Shannon divergence between corpus slices (Lin
  * 1991): hand-computed values, the 0 and ln 2 bounds, pair coverage,
  * and the plugin's batch-only guard.
  */
class DivergenceSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  test("jsd: hand-computed value, zero-count terms contribute nothing") {
    // X: "a a b" → p(a)=2/3 p(b)=1/3;  Y: "a c" → q(a)=1/2 q(c)=1/2
    val df = Seq(("x", "a a b"), ("y", "a c")).toDF("s", "text")
    val r = Text.jsDivergence(df, "s", "text").collect()(0)
    def t(p: Double, q: Double): Double = {
      val m = 0.5 * (p + q)
      (if (p > 0) 0.5 * (p * math.log(p / m)) else 0.0) +
        (if (q > 0) 0.5 * (q * math.log(q / m)) else 0.0)
    }
    val want = t(2.0 / 3, 1.0 / 2) + t(1.0 / 3, 0) + t(0, 1.0 / 2)
    assert(r.getAs[String]("stratum_a") == "x")
    assert(r.getAs[String]("stratum_b") == "y")
    assert(r.getAs[Long]("n_common") == 1L)
    assert(math.abs(r.getAs[Double]("jsd") - want) < 1e-12)
  }

  test("jsd: identical slices are exactly 0; disjoint slices are ln 2") {
    val same = Seq(("x", "a b c"), ("y", "a b c")).toDF("s", "text")
    val r0 = Text.jsDivergence(same, "s", "text").collect()(0)
    assert(r0.getAs[Double]("jsd") == 0.0) // ln(p/p) = ln 1 = exact 0
    assert(r0.getAs[Long]("n_common") == 3L)
    val disjoint = Seq(("x", "a b"), ("y", "c d")).toDF("s", "text")
    val r1 = Text.jsDivergence(disjoint, "s", "text").collect()(0)
    assert(r1.getAs[Long]("n_common") == 0L)
    assert(math.abs(r1.getAs[Double]("jsd") - math.log(2.0)) < 1e-12)
  }

  test("jsd: every unordered pair appears exactly once") {
    val df = Seq(("x", "a"), ("y", "b"), ("z", "a b"))
      .toDF("s", "text")
    val pairs = Text.jsDivergence(df, "s", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("x", "y"), ("x", "z"), ("y", "z")))
  }

  test("stratumCountSink: state after any prefix equals the one-shot counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq((1L, "x", "a a b"), (2L, "y", "a c"), (3L, "x", "b c"))
    val state = Fences.tempDir("strat_sink")
    val in = MemoryStream[(Long, String, String)]
    val q = in.toDF().toDF("doc_id", "s", "text").writeStream
      .foreachBatch(
        graft.streaming.StreamingOps.stratumCountSink(state, "s", "text"))
      .outputMode("update").start()
    try {
      in.addData(rows.take(2)); q.processAllAvailable()
      in.addData(rows.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$state/batch=1")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val want = Text.stratumTokenCounts(
        rows.toDF("doc_id", "s", "text"), "s", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == want)
    // and the divergence tail over the state equals the batch operator
    val a = Text.jsDivergenceFromCounts(
      spark.read.parquet(s"$state/batch=1")).collect()(0)
    val b = Text.jsDivergence(
      rows.toDF("doc_id", "s", "text"), "s", "text").collect()(0)
    assert(a.getAs[Double]("jsd") == b.getAs[Double]("jsd"))
    assert(a.getAs[Long]("n_common") == b.getAs[Long]("n_common"))
  }

  test("text.divergence plugin: CDC output rows, batch-only guard") {
    val docs = Cdc.wrapTyped(
      Seq((1L, "en", "a a b"), (2L, "de", "a c")).toDF("doc_id", "lang", "text"),
      "doc_id", "docs")
    val out = Registry.create("text.divergence",
        Map("stratum" -> ".Payload.After.lang",
          "field" -> ".Payload.After.text"))
      .transform(docs)
    val row = out.select(
      get_json_object(col(Cdc.PayloadAfter), "$.stratum_a"),
      get_json_object(col(Cdc.PayloadAfter), "$.n_common").cast("long"))
      .collect()(0)
    assert(row.getString(0) == "de" && row.getLong(1) == 1L)

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val streamDf = Cdc.wrap(in.toDF().toDF("doc_id", "lang", "text"),
      "doc_id", "docs")
    val e = intercept[IllegalArgumentException] {
      Registry.create("text.divergence",
        Map("stratum" -> ".Payload.After.lang")).transform(streamDf)
    }
    assert(e.getMessage.contains("text.divergence is batch-only"))
  }

  test("null strata are dropped from BOTH the map and the pair grid") {
    // pre-fix behavior: a null stratum crashed map_from_entries on one
    // path and silently vanished from the sa < sb grid on the other —
    // now it is excluded at the counts, so the operator degrades
    // predictably to the labelled slices
    val df = Seq((Option("x"), "a b"), (Option.empty[String], "a c"),
      (Option("y"), "a d")).toDF("s", "text")
    val out = Text.jsDivergence(df, "s", "text").collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("stratum_a") == "x")
    assert(out(0).getAs[String]("stratum_b") == "y")
  }

  test("the fold-contract guard trips loudly on an oversized vocabulary") {
    // the per-pair deterministic fold holds O(|vocab|) structs in one
    // task (the published contract) — a vocabulary past maxFoldVocab
    // must fail with instructions, not plan an executor OOM
    val df = Seq(("x", "a b c"), ("y", "a d")).toDF("s", "text")
    val e = intercept[IllegalArgumentException] {
      Text.jsDivergenceFromCounts(
        Text.stratumTokenCounts(df, "s", "text"), maxFoldVocab = 2L)
    }
    assert(e.getMessage.contains("maxFoldVocab"), e.getMessage)
    assert(e.getMessage.contains("minCount"), e.getMessage)
    // at the default bound the same counts fold fine
    assert(Text.jsDivergenceFromCounts(
      Text.stratumTokenCounts(df, "s", "text")).count() == 1L)
  }
}
