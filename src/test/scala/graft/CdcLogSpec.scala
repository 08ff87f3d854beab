package graft

import java.sql.DriverManager

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.functions.JsonOps
import graft.model.Cdc
import graft.pipeline.{Pipeline, Runner}

/** Log-based CDC (the reference's logical-replication mode): LSN
  * offsets, delete capture with before images, snapshot-then-stream,
  * and no-loss restart from the checkpoint.
  */
class CdcLogSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  private def setupDb(name: String): String = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE wal (lsn BIGINT PRIMARY KEY, op VARCHAR(10),
        | k VARCHAR(200), before_img VARCHAR(2000), after_img VARCHAR(2000))"""
        .stripMargin.replace("\n", " "))
    conn.close()
    url
  }

  private def log(url: String, lsn: Long, op: String, k: String,
                  before: String, after: String): Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.prepareStatement("INSERT INTO wal VALUES (?, ?, ?, ?, ?)")
    st.setLong(1, lsn); st.setString(2, op); st.setString(3, k)
    st.setString(4, before); st.setString(5, after)
    st.execute(); conn.close()
  }

  private def options(url: String) = Map(
    "url" -> url, "logTable" -> "wal", "key.column" -> "k",
    "before.column" -> "before_img", "after.column" -> "after_img",
    "collection" -> "users")

  test("log replay: inserts, updates, and DELETES with before images") {
    val url = setupDb("cdclog1")
    log(url, 1, "I", """{"id":1}""", null, """{"id":1,"name":"ann"}""")
    log(url, 2, "U", """{"id":1}""", """{"id":1,"name":"ann"}""", """{"id":1,"name":"anne"}""")
    log(url, 3, "D", """{"id":1}""", """{"id":1,"name":"anne"}""", null)
    Runner.memorySinks.clear()
    val p = Pipeline("cdc1")
      .source("pg", "builtin:postgres", options(url).toSeq: _*)
      .destination("out", "memory")
    val ckpt = Fences.tempDir("cdc1-ckpt")
    val q = Runner.start(spark, p, ckpt, Trigger.AvailableNow())
    q.awaitTermination(120000)
    val recs = Runner.memorySink("out").map(JsonOps.parse).sortBy(_.get("position").asText())
    assert(recs.map(_.get("operation").asText()) == Seq("create", "update", "delete"))
    val del = recs.last
    assert(del.get("payload").get("before").get("name").asText() == "anne",
      "delete must carry the before image — query-based CDC cannot see this")
    assert(del.get("payload").get("after").isNull)
    assert(del.get("key").get("id").asInt() == 1)
  }

  test("snapshot-then-stream: current state first, then the log past the watermark") {
    val url = setupDb("cdclog2")
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE users (id BIGINT PRIMARY KEY, name VARCHAR(100))")
    conn.createStatement().execute("INSERT INTO users VALUES (1, 'ann'), (2, 'bob')")
    conn.close()
    // log entries 1..2 are already reflected in the table (pre-snapshot)
    log(url, 1, "I", """{"id":1}""", null, """{"id":1,"name":"ann"}""")
    log(url, 2, "I", """{"id":2}""", null, """{"id":2,"name":"bob"}""")
    Runner.memorySinks.clear()
    val opts = options(url) ++ Map("snapshot.table" -> "users", "snapshot.key" -> "id")
    val p = Pipeline("cdc2")
      .source("pg", "builtin:postgres", opts.toSeq: _*)
      .destination("out", "memory")
    val ckpt = Fences.tempDir("cdc2-ckpt")
    val q1 = Runner.start(spark, p, ckpt, Trigger.AvailableNow())
    q1.awaitTermination(120000)
    val phase1 = Runner.memorySink("out").map(JsonOps.parse)
    assert(phase1.count(_.get("operation").asText() == "snapshot") == 2,
      "snapshot records for current table state")
    assert(!phase1.exists(_.get("operation").asText() == "create"),
      "log entries at or before the watermark are covered by the snapshot")
    // post-snapshot changes stream from the log (including a delete)
    log(url, 3, "D", """{"id":2}""", """{"id":2,"name":"bob"}""", null)
    val q2 = Runner.start(spark, p, ckpt, Trigger.AvailableNow())
    q2.awaitTermination(120000)
    val phase2 = Runner.memorySink("out").map(JsonOps.parse)
    assert(phase2.size == phase1.size + 1)
    assert(phase2.map(_.get("operation").asText()).contains("delete"))
  }

  test("restart from checkpoint: no LSN lost across a mid-stream stop") {
    val url = setupDb("cdclog3")
    val total = 400
    (1 to total).foreach(i =>
      log(url, i, "I", s"""{"id":$i}""", null, s"""{"id":$i,"v":$i}"""))
    Runner.memorySinks.clear()
    val opts = options(url) + ("maxRowsPerBatch" -> "50")
    val p = Pipeline("cdc3")
      .source("pg", "builtin:postgres", opts.toSeq: _*)
      .destination("out", "memory")
    val ckpt = Fences.tempDir("cdc3-ckpt")
    val q1 = Runner.start(spark, p, ckpt, Trigger.ProcessingTime("50 milliseconds"))
    var waited = 0
    while (Runner.memorySink("out").size < 100 && waited < 300) {
      Thread.sleep(100); waited += 1
    }
    q1.stop()
    val afterStop = Runner.memorySink("out").size
    assert(afterStop >= 100 && afterStop < total, s"stopped mid-stream at $afterStop")
    val q2 = Runner.start(spark, p, ckpt, Trigger.AvailableNow())
    q2.awaitTermination(120000)
    val lsns = Runner.memorySink("out")
      .map(l => JsonOps.parse(l).get("position").asText()).distinct
    assert(lsns.size == total, s"lost ${total - lsns.size} log entries")
  }

  test("materializeLatest: last writer wins, tombstone drops the key, re-insert revives it") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val log = Seq(
      // key 1: insert, update — latest update wins
      (1L, 10L, "update", "a"), (1L, 20L, "update", "b"),
      // key 2: insert then delete — gone
      (2L, 10L, "update", "x"), (2L, 30L, "delete", null),
      // key 3: delete then RE-INSERT at a later position — live again
      (3L, 10L, "delete", null), (3L, 40L, "update", "z"),
      // key 4: out-of-order redelivery — pos 50 wins over late-arriving 5
      (4L, 50L, "update", "new"), (4L, 5L, "update", "old")
    ).toDF("k", "pos", "op", "payload")
    val got = Cdc.materializeLatest(log, Seq("k"),
        Seq(col("pos")), "op")
      .select(col("k"), col("payload")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "b", 3L -> "z", 4L -> "new"), s"got $got")
  }

  test("maintainGroupedAgg: snapshot + random delta == full recompute, at every split point") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    // 80 keys × random op sequences; value drives a CHANGING group
    val log = (for {
      k <- 0 until 80
      i <- 0 until (1 + rnd.nextInt(6))
    } yield (k.toLong, (k * 100 + i).toLong,
        if (rnd.nextInt(5) == 0) "delete" else "update",
        rnd.nextInt(1000) / 10.0)).toDF("k", "pos", "op", "v")
    val bucket = expr("CAST(floor(v / 20) AS BIGINT)")
    def viewOf(df: org.apache.spark.sql.DataFrame) =
      Cdc.materializeLatest(df, Seq("k"), Seq(col("pos")), "op")
        .groupBy(bucket.as("g"))
        .agg(count(lit(1)).as("cnt"), sum(col("v").cast("decimal(18,2)")).as("sv"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).stripTrailingZeros())).toSet
    for (split <- Seq(0L, 150L, 400L, 10000L)) {
      val t0 = Cdc.materializeLatest(log.filter(col("pos") <= split),
        Seq("k"), Seq(col("pos")), "op")
      val v1 = Cdc.maintainGroupedAgg(viewOf(log.filter(col("pos") <= split)),
        t0, log.filter(col("pos") > split), Seq("k"), Seq(col("pos")), "op",
        bucket, col("v").cast("decimal(18,2)"))
      assert(canon(v1) == canon(viewOf(log)), s"split=$split")
    }
  }
}
