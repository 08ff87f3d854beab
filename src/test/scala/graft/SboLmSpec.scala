package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.analytics.Text
import graft.model.Cdc
import graft.ops.Registry

/** Stupid-backoff trigram LM (Brants et al. 2007): model counts and
  * scores on a hand corpus, all four backoff branches, plugin
  * train→apply roundtrip through a CDC-shaped parquet model, and the
  * batch-only guards.
  */
class SboLmSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  // train corpus "a b c a b d": c1 = {a:2,b:2,c:1,d:1}, N=6, V=4;
  // c2 = {ab:2,bc:1,ca:1,bd:1}; c3 = {abc,bca,cab,abd} each 1
  private def model = Text.sboTrain(
    Seq((1L, "a b c a b d")).toDF("doc_id", "text"), "doc_id", "text")

  test("sboTrain: every order's scores are the hand-computed ratios") {
    val m = model.collect().map { r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)) ->
        r.getDouble(4)
    }.toMap
    // trigram branch: c3/c2(u,v)
    assert(m((3L, "a", "b", "c")) == 1.0 / 2.0)
    assert(m((3L, "b", "c", "a")) == 1.0)
    assert(m((3L, "c", "a", "b")) == 1.0)
    assert(m((3L, "a", "b", "d")) == 1.0 / 2.0)
    // bigram backoff: 0.4 * c2(v,w)/c1(v)
    assert(m((2L, null, "a", "b")) == 0.4 * (2.0 / 2.0))
    assert(m((2L, null, "b", "c")) == 0.4 * (1.0 / 2.0))
    // unigram floor: 0.4 * (0.4 * (c1+1)/(N+V))
    assert(m((1L, null, null, "a")) == 0.4 * (0.4 * (3.0 / 10.0)))
    assert(m((1L, null, null, "c")) == 0.4 * (0.4 * (2.0 / 10.0)))
    // OOV floor row
    assert(m((0L, null, null, null)) == 0.4 * (0.4 * (1.0 / 10.0)))
    assert(m.size == 4 + 4 + 4 + 1)
  }

  test("sboScore: all four backoff branches resolve to the right S") {
    val docs = Seq(
      (10L, "c a b"), // trigram hit: S = 1.0
      (20L, "x a b"), // trigram miss, bigram (a,b) hit: S = 0.4
      (30L, "b c d"), // both miss, unigram d: S = 0.4*0.4*(2/10)
      (40L, "a b x"), // token x is OOV: S = the ord-0 floor
      (50L, "a b")    // < 3 tokens: no trigrams, omitted
    ).toDF("doc_id", "text")
    val got = Text.sboScore(docs, model, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(10L, 20L, 30L, 40L))
    // java_ln is correctly-rounded, math.log is 1-ulp — compare loosely
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(got(10L)._1 == 1L && close(got(10L)._2, -math.log(1.0)))
    assert(got(20L)._1 == 1L && close(got(20L)._2, -math.log(0.4)))
    assert(close(got(30L)._2, -math.log(0.4 * (0.4 * (2.0 / 10.0)))))
    assert(close(got(40L)._2, -math.log(0.4 * (0.4 * (1.0 / 10.0)))))
  }

  test("sboScore: per-doc mean is the position-ordered fold") {
    // "c a b x": trigrams (c,a,b)→1.0 then (a,b,x)→floor; the mean is
    // the SEQUENTIAL fold (0 + nl1) + nl2 over positions, halved
    val docs = Seq((7L, "c a b x")).toDF("doc_id", "text")
    val r = Text.sboScore(docs, model, "doc_id", "text").collect()(0)
    val nl1 = -math.log(1.0)
    val nl2 = -math.log(0.4 * (0.4 * (1.0 / 10.0)))
    assert(r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - ((0.0 + nl1) + nl2) / 2.0) < 1e-12)
  }

  test("plugin roundtrip: text.sbo_train parquet feeds text.sbo") {
    val dir = Fences.tempDir("sbo")
    val train = Cdc.wrapTyped(
      Seq((1L, "a b c a b d")).toDF("doc_id", "text"), "doc_id", "docs")
    Registry.create("text.sbo_train",
        Map("id" -> ".Payload.After.doc_id",
          "field" -> ".Payload.After.text"))
      .transform(train)
      .write.mode("overwrite").parquet(s"$dir/model")
    val docs = Cdc.wrapTyped(
      Seq((20L, "x a b")).toDF("doc_id", "text"), "doc_id", "docs")
    val out = Registry.create("text.sbo",
        Map("id" -> ".Payload.After.doc_id",
          "field" -> ".Payload.After.text",
          "modelTable" -> s"$dir/model"))
      .transform(docs)
    val row = out.select(
      get_json_object(col(Cdc.PayloadAfter), "$.doc_id").cast("long"),
      get_json_object(col(Cdc.PayloadAfter), "$.mean_neg_logprob_sbo")
        .cast("double")).collect()(0)
    assert(row.getLong(0) == 20L)
    assert(math.abs(row.getDouble(1) - (-math.log(0.4))) < 1e-12)
  }

  test("batch-only guards name the plugin and the real reason") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val streamDf = Cdc.wrap(in.toDF().toDF("doc_id", "text"), "doc_id", "docs")
    for ((plugin, settings) <- Seq(
        "text.sbo_train" -> Map("id" -> ".Payload.After.doc_id"),
        "text.sbo" -> Map("id" -> ".Payload.After.doc_id",
          "modelTable" -> "/nonexistent"))) {
      val e = intercept[IllegalArgumentException] {
        Registry.create(plugin, settings).transform(streamDf)
      }
      assert(e.getMessage.contains(s"$plugin is batch-only"), plugin)
    }
  }

  test("sboScore: an empty or mis-pointed model fails loudly, never zero rows") {
    // pre-fix behavior: no ord=0 floor row → crossJoin(broadcast(m0))
    // silently emptied the output, the worst failure mode for a
    // quality filter (everything "passes" by absence)
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String, String, String, Double)]
      .toDF("ord", "u", "v", "w", "score")
    val e = intercept[IllegalArgumentException] {
      Text.sboScore(docs, empty, "doc_id", "text")
    }
    assert(e.getMessage.contains("ord=0"), e.getMessage)
  }
}
