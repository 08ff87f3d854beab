package graft

import java.sql.DriverManager

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.pipeline.{Pipeline, Supervisor}

/** Supervised restart (reference `pkg/lifecycle/service.go:238` +
  * recovery design doc): a pipeline whose sink fails is restarted from
  * its checkpoint with backoff until it heals — no records lost — and
  * a persistently-failing pipeline lands in DEGRADED, not an infinite
  * crash loop.
  */
class SupervisorSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  private def count(db: String): Int =
    try {
      val conn = DriverManager.getConnection(db)
      try {
        val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM sink_t")
        rs.next(); rs.getInt(1)
      } finally conn.close()
    } catch { case _: Exception => -1 }

  test("chaos: sink failure → backoff restart from checkpoint → heals with no loss") {
    val db = "jdbc:derby:memory:chaos1;create=true"
    DriverManager.getConnection(db).close() // create the db, NOT the table
    val ckpt = Fences.tempDir("sup-ckpt")
    val total = 2000
    val p = Pipeline("sup")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "format.options.name" -> "string",
        "recordCount" -> total.toString, "maxRecordsPerBatch" -> "500")
      .destination("db", "jdbc", "url" -> db, "table" -> "sink_t", "key" -> "id")
    val sup = Supervisor(spark, p, ckpt, Trigger.ProcessingTime("50 milliseconds"),
      maxRetries = 100, backoffMinMs = 50, backoffMaxMs = 200).start()
    // every batch fails (missing table) — the supervisor must be retrying
    var waited = 0
    while (sup.restarts < 2 && waited < 300) { Thread.sleep(100); waited += 1 }
    assert(sup.restarts >= 2, s"expected restarts, got ${sup.restarts}")
    assert(sup.status == sup.Status.Running)
    // heal mid-flight: create the sink table
    val conn = DriverManager.getConnection(db)
    conn.createStatement().execute(
      "CREATE TABLE sink_t (id BIGINT PRIMARY KEY, name VARCHAR(200))")
    conn.close()
    // the upsert keys on the payload's pseudo-random `id` (mod 1e6), so
    // the expected row count is the DISTINCT id count, reproduced here
    // from the generator's deterministic splitmix64 stream
    val expected = (0 until total)
      .map(i => math.abs(graft.analytics.SplitMix64.mix(i.toLong * 1000003L) % 1000000L))
      .distinct.size
    waited = 0
    while (count(db) < expected && waited < 600) { Thread.sleep(100); waited += 1 }
    // keyed upsert → redelivered batches are idempotent: exact count
    assert(count(db) == expected, s"delivered ${count(db)} of $expected distinct keys")
    sup.stop()
    assert(sup.status == sup.Status.Stopped)
  }

  test("persistent failure → DEGRADED after maxRetries, retrying stops") {
    val ckpt = Fences.tempDir("sup-bad-ckpt")
    val p = Pipeline("bad")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "10")
      .destination("db", "jdbc",
        "url" -> "jdbc:derby:memory:nope", "table" -> "t") // db never created
    val sup = Supervisor(spark, p, ckpt, Trigger.ProcessingTime("50 milliseconds"),
      maxRetries = 2, backoffMinMs = 10, backoffMaxMs = 20).start()
    var waited = 0
    while (sup.status != sup.Status.Degraded && waited < 300) {
      Thread.sleep(100); waited += 1
    }
    assert(sup.status == sup.Status.Degraded)
    assert(sup.restarts == 2, s"exactly maxRetries restarts, got ${sup.restarts}")
    assert(sup.lastError.isDefined)
    sup.stop()
  }
}
