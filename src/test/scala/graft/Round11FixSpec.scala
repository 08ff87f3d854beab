package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Cdc
import graft.ops.{BatchFenceRelease, HttpTransport, LlmProcessor}
import graft.analytics.{Graph, Temporal => TOps}
import graft.pipeline.Runner

/** Records each request body by name so request-shape assertions can
  * run after the processor returns (top-level: closure serializes).
  */
object CapturedBodies {
  val map = new java.util.concurrent.ConcurrentHashMap[String, String]()
}

case class CaptureTransport(name: String, response: String) extends HttpTransport {
  override def send(method: String, url: String, headers: Map[String, String],
                    body: Array[Byte]): HttpTransport.Response = {
    CapturedBodies.map.put(name, new String(body, "UTF-8"))
    HttpTransport.Response(200, response.getBytes("UTF-8"))
  }
}

/** Round-11 snapshot changes, specced per the r11 verdict: the four
  * working-tree edits (BatchFenceRelease rotation, jaccardLinks
  * expansion budget, crossCorrelation `scale`, ohlc null filter) had
  * zero coverage, plus the two ADVICE enrichment fixes (ollama
  * blocked-pattern case folding, goSprintf missing-verb marker).
  */
class Round11FixSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  test("BatchFenceRelease: batch n's fences released when batch n+1 builds") {
    val h = new BatchFenceRelease
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")

    var batch1: Seq[DataFrame] = Nil
    val hook1 = h.rotateFences()
    val r1 = Graph.pageRank(edges, "s", "d", iterations = 2, eager = false,
      onFences = fs => { batch1 = fs; hook1(fs) })
    val ranks1 = r1.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(batch1.nonEmpty, "lazy pageRank must hand its fences to the hook")
    assert(batch1.forall(_.storageLevel != StorageLevel.NONE),
      "fences must still be persisted while the batch is live")

    // batch 2 arrives: building its plan rotates batch 1's fences out
    var batch2: Seq[DataFrame] = Nil
    val hook2 = h.rotateFences()
    assert(batch1.forall(_.storageLevel == StorageLevel.NONE),
      "rotate must unpersist the previous batch's fences")
    val r2 = Graph.pageRank(edges, "s", "d", iterations = 2, eager = false,
      onFences = fs => { batch2 = fs; hook2(fs) })
    val ranks2 = r2.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks1 == ranks2, "results must be identical across batches")
    assert(batch2.forall(_.storageLevel != StorageLevel.NONE))
    // hygiene for the rest of the suite
    h.rotateFences()
    assert(batch2.forall(_.storageLevel == StorageLevel.NONE))
  }

  test("jaccardLinks: expansion budget refuses the hub regime loudly") {
    // hub 0 (degree 20 > maxDegree 10) makes (1,2) hub-touching via
    // the side path 1-100-2, so the exact re-count branch is nonempty
    val edges = ((1 to 20).map(i => (0L, i.toLong)) ++
      Seq((1L, 100L), (100L, 2L))).toDF("u", "v")
    val ex = intercept[IllegalArgumentException] {
      Graph.jaccardLinks(edges, "u", "v", minJaccard = 0.0001,
        maxDegree = 10, maxExpansion = 1L)
    }
    assert(ex.getMessage.contains("maxExpansion"), ex.getMessage)
    assert(ex.getMessage.contains("raise minJaccard"), ex.getMessage)
    // a raised budget returns the exact r10 scores (Round9FixSpec's
    // hub case: (1,2) share {hub 0, node 100} -> jaccard 1.0)
    val full = Graph.jaccardLinks(edges, "u", "v", minJaccard = 0.0001,
        maxDegree = 10, maxExpansion = 1000000L)
      .filter(col("node_a") === 1 && col("node_b") === 2).collect().head
    assert(full.getAs[Long]("common") == 2L)
    assert(math.abs(full.getAs[Double]("jaccard") - 1.0) < 1e-15)
    // hub-free graphs never consult the budget
    val plain = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("u", "v")
    assert(Graph.jaccardLinks(plain, "u", "v", minJaccard = 0.1,
      maxExpansion = 1L).count() >= 0)
  }

  test("crossCorrelation: scale handles fractional series exactly") {
    // fractional series = integer series / 4; Pearson r is invariant
    // under positive affine maps, so scale=2 on the fractional data
    // must equal scale=0 on the 100x integer data, lag by lag
    val ai = Seq((0L, 125L), (1L, 250L), (2L, 375L), (3L, 400L))
    val bi = Seq((1L, 130L), (2L, 260L), (3L, 310L), (4L, 470L))
    val af = ai.map { case (d, v) => (d, v / 100.0) }.toDF("day", "v")
    val bf = bi.map { case (d, v) => (d, v / 100.0) }.toDF("day", "v")
    val fromFrac = TOps.crossCorrelation(af, bf, "day", "v", 2, scale = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    val fromInt = TOps.crossCorrelation(
        ai.toDF("day", "v"), bi.toDF("day", "v"), "day", "v", 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(fromFrac == fromInt,
      s"scale=2 fractional must match scale=0 on 100x ints: $fromFrac vs $fromInt")
    // shifted fractional copy still correlates exactly 1.0 at its lag
    val shifted = ai.map { case (d, v) => (d + 1, v / 100.0) }.toDF("day", "v")
    val r1 = TOps.crossCorrelation(af, shifted, "day", "v", 2, scale = 2)
      .filter(col("lag") === 1).collect().head
    assert(r1.getLong(1) == 4L)
    assert(math.abs(r1.getDouble(2) - 1.0) < 1e-15)
  }

  test("ohlc: null ts/id/value rows never form bars or legs") {
    val e = Seq[(String, Option[Long], Option[Long], Option[Double])](
      ("t", Some(100L), Some(1L), Some(5.0)),
      ("t", Some(200L), Some(2L), Some(1.0)),
      ("t", None, Some(3L), Some(99.0)),      // null ts: no null-period bar
      ("t", Some(150L), None, Some(88.0)),    // null id: no null leg
      ("t", Some(170L), Some(4L), None))      // null value
      .toDF("g", "ts", "id", "v")
    val out = TOps.ohlc(e, Seq("g"), "ts", "id", "v", 86400L).collect()
    assert(out.length == 1, s"exactly one bar expected: ${out.toSeq}")
    val bar = out.head
    assert(!bar.isNullAt(bar.fieldIndex("period")), "no null-period bar")
    assert(bar.getAs[Long]("n_events") == 2L)
    assert(bar.getAs[Double]("open") == 5.0)
    assert(bar.getAs[Double]("close") == 1.0)
    assert(bar.getAs[Double]("high") == 5.0, "null-row values must not leak")
    assert(bar.getAs[Double]("low") == 1.0)
  }

  private def genRecords(n: Int) =
    Runner.source(spark, graft.pipeline.ConnectorConfig("g", "builtin:generator",
      Map("format.options.id" -> "int", "recordCount" -> n.toString)),
      streaming = false)

  test("ollama.request: blocked-pattern gate folds case like the reference") {
    // reference ollama.go:267-268 lowercases both sides; 'DROP table'
    // must be caught even though the configured pattern is upper-case
    val proc = LlmProcessor("ollama.request", Map(
      "prompt" -> "please DROP table users",
      "field" -> ".Payload.After.name"), FakeTransport("r11-ollama"))
    val out = proc(genRecords(1)).collect()
    val err = out.head.getAs[String](Cdc.Error)
    assert(err != null && err.contains("blocked pattern"), s"err=$err")
  }

  test("cohere.command: extra %s verbs render as %!s(MISSING) like Go") {
    val resp = """{"message":{"content":[{"type":"text","text":"ok"}]}}"""
    val proc = LlmProcessor("cohere.command", Map(
      "prompt" -> "first %s second %s",
      "request.body" -> ".Payload.After.name",
      "response.body" -> ".Payload.After.answer"), CaptureTransport("r11-cmd", resp))
    val out = proc(genRecords(1)).collect()
    assert(out.head.getAs[String](Cdc.Error) == null)
    val body = CapturedBodies.map.get("r11-cmd")
    assert(body != null && body.contains("%!s(MISSING)"), s"body=$body")
    assert(!body.contains("second %s"), s"second verb left literal: $body")
  }
}
