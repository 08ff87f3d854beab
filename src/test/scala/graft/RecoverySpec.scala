package graft

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.functions.JsonOps
import graft.pipeline.{Pipeline, Runner}

/** Recovery semantics (reference `tests/chaos/` intent): a pipeline
  * stopped mid-stream and restarted from the same checkpoint loses
  * nothing — every record is delivered at least once, duplicates
  * allowed (SURVEY §2.7: conformance accepts no-loss + possible dups).
  */
class RecoverySpec extends AnyFunSuite {
  lazy val spark = Spark.session

  test("restart from checkpoint: no records lost across a mid-stream stop") {
    Runner.memorySinks.clear()
    val ckpt = Fences.tempDir("recover-ckpt")
    val total = 5000
    val p = Pipeline("recover")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> total.toString,
        "maxRecordsPerBatch" -> "500")
      .destination("out", "memory")

    // phase 1: run until some (not all) records are through, then stop
    val q1 = Runner.start(spark, p, ckpt, Trigger.ProcessingTime("50 milliseconds"))
    var waited = 0
    while (Runner.memorySink("out").size < 1000 && waited < 300) {
      Thread.sleep(100); waited += 1
    }
    q1.stop()
    val afterStop = Runner.memorySink("out").size
    assert(afterStop >= 1000, s"phase 1 delivered $afterStop")
    assert(afterStop < total, "stop must interrupt mid-stream for the test to mean anything")

    // phase 2: restart from the same checkpoint, drain to completion
    val q2 = Runner.start(spark, p, ckpt, Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val positions = Runner.memorySink("out")
      .map(l => JsonOps.parse(l).get("position").asText()).toSeq
    val distinct = positions.distinct.size
    assert(distinct == total,
      s"lost ${total - distinct} records (delivered ${positions.size}, distinct $distinct)")
    // at-least-once: duplicates tolerated, but bounded by one batch
    assert(positions.size <= total + 1000,
      s"pathological duplication: ${positions.size} deliveries for $total records")
  }
}
