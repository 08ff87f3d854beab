package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.streaming.StreamingOps

/** Stateful streaming operators driven through real streaming queries
  * (MemoryStream → watermarked state → memory sink).
  */
class StreamingOpsSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming dedup drops in-watermark duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val out = StreamingOps.dedupStream(
      in.toDF().toDF("content_hash", "ts"), "ts", "10 minutes", Seq("content_hash"))
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    in.addData(("a", ts("2026-01-01 10:00:00")), ("a", ts("2026-01-01 10:00:00")),
      ("b", ts("2026-01-01 10:01:00")), ("a", ts("2026-01-01 10:00:00")))
    q.processAllAvailable()
    val rows = spark.table("dedup_out").collect()
    assert(rows.length == 2, s"expected a,b once each: ${rows.mkString}")
    q.stop()
  }

  test("streaming incremental dedup classifies kept/dup_stream/dup_history") {
    implicit val sqlCtx = spark.sqlContext
    val history = Seq((100L, "old text one"), (101L, "old text two"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val out = StreamingOps.incrementalDedup(
      in.toDF().toDF("doc_id", "text"), history, "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("incr_dedup_out")
      .outputMode("append").start()
    // batch 1: a novel doc, a history dup, and a same-batch repeat
    in.addData((1L, "fresh text"), (2L, "old text one"), (3L, "fresh text"))
    q.processAllAvailable()
    // batch 2: a cross-batch stream dup, another history dup, a new doc
    in.addData((4L, "fresh text"), (5L, "old text two"), (6L, "brand new"))
    q.processAllAvailable()
    val got = spark.table("incr_dedup_out").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "kept", 2L -> "dup_history", 3L -> "dup_stream",
      4L -> "dup_stream", 5L -> "dup_history", 6L -> "kept"), got.toString)
    q.stop()
  }

  test("streaming view maintenance: view == full recompute after every batch, deletes and group moves included") {
    implicit val sqlCtx = spark.sqlContext
    val root = Fences.tempDir("ivm")
    val (viewDir, baseDir) = (s"$root/view", s"$root/base")
    val in = MemoryStream[(Long, Long, String, Double)]
    val sink = StreamingOps.viewMaintenanceSink(viewDir, baseDir,
      keyCols = Seq("k"), orderCols = Seq("pos"), opCol = "op",
      groupExpr = expr("CAST(floor(v / 10) AS BIGINT)"),
      valueExpr = col("v").cast("decimal(18,2)"))
    val q = in.toDF().toDF("k", "pos", "op", "v")
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", s"$root/ckpt").start()
    val all = scala.collection.mutable.ArrayBuffer[(Long, Long, String, Double)]()
    def check(batch: Seq[(Long, Long, String, Double)]): Unit = {
      in.addData(batch: _*); q.processAllAvailable()
      all ++= batch
      // reference: full recompute over everything delivered so far
      val live = all.groupBy(_._1).flatMap { case (_, rows) =>
        val last = rows.maxBy(_._2)
        if (last._3 == "delete") None else Some(last)
      }
      val want = live.groupBy(r => math.floor(r._4 / 10).toLong)
        .map { case (g, rs) =>
          (g, rs.size.toLong,
            rs.map(r => BigDecimal(r._4).setScale(2)).sum) }.toSet
      val latest = new java.io.File(viewDir).listFiles()
        .map(_.getName.stripPrefix("batch=").toLong).max
      val got = spark.read.parquet(s"$viewDir/batch=$latest").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          BigDecimal(r.getDecimal(2)).setScale(2))).toSet
      assert(got == want, s"after ${all.size} rows: got $got want $want")
    }
    // batch 1: three creates across two groups
    check(Seq((1L, 10L, "update", 5.0), (2L, 11L, "update", 15.0),
      (3L, 12L, "update", 16.0)))
    // batch 2: group MOVE (k=1 5.0→25.0), a delete, a new key
    check(Seq((1L, 20L, "update", 25.0), (2L, 21L, "delete", 0.0),
      (4L, 22L, "update", 7.0)))
    // batch 3: stale redelivery (loses to pos 20), re-insert of the
    // deleted key, same-batch churn on a new key
    check(Seq((1L, 5L, "update", 99.0), (2L, 30L, "update", 44.0),
      (5L, 31L, "update", 1.0), (5L, 32L, "update", 2.0)))
    q.stop()
  }

  test("incremental dedup event-time TTL: in-horizon verdicts unchanged, idle digests evicted, state bounded") {
    implicit val sqlCtx = spark.sqlContext
    val history = Seq((100L, "old text one")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingOps.incrementalDedup(
      in.toDF().toDF("doc_id", "text", "ts"), history, "doc_id", "text",
      eventTimeCol = Some("ts"), horizon = "10 minutes")
    val q = out.writeStream.format("memory").queryName("ttl_dedup_out")
      .outputMode("append").start()
    def stateRows: Long = {
      val p = q.lastProgress
      if (p == null || p.stateOperators.isEmpty) -1L
      else p.stateOperators.map(_.numRowsTotal).sum
    }
    // b1 @10:00: novel A kept, history dup classified
    in.addData((1L, "fresh text", ts("2026-01-01 10:00:00")),
      (2L, "old text one", ts("2026-01-01 10:00:30")))
    q.processAllAvailable()
    // b2 @10:05 (inside horizon): A re-arrival is dup_stream —
    // verdicts inside the horizon identical to the unbounded operator
    in.addData((3L, "fresh text", ts("2026-01-01 10:05:00")))
    q.processAllAvailable()
    val stateAfterB2 = stateRows // {A} — one digest live
    // b3 @11:00: pushes the watermark to 10:50, past A's (10:05 +
    // 10 min) timeout — the watermark-advance batch inside this
    // processAllAvailable fires the eviction, so afterwards the store
    // holds ONLY b3's new digest (2 rows here would mean no eviction)
    in.addData((4L, "unrelated body", ts("2026-01-01 11:00:00")))
    q.processAllAvailable()
    val stateAfterB3 = stateRows
    // b4 @11:10: another live digest accumulates normally
    in.addData((5L, "another different doc", ts("2026-01-01 11:10:00")))
    q.processAllAvailable()
    // b5 @11:12: A re-arrives AFTER eviction — classified kept again
    // (the documented finite-horizon semantics)
    in.addData((6L, "fresh text", ts("2026-01-01 11:12:00")))
    q.processAllAvailable()
    val got = spark.table("ttl_dedup_out").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "kept", 2L -> "dup_history", 3L -> "dup_stream",
      4L -> "kept", 5L -> "kept", 6L -> "kept"), got.toString)
    // eviction actually bounded the store: A left as B arrived
    assert(stateAfterB2 == 1 && stateAfterB3 == 1,
      s"expected A evicted as B entered: b2=$stateAfterB2 b3=$stateAfterB3")
    q.stop()
  }

  test("compactLatest event-time TTL evicts quiet keys; post-eviction redelivery re-emits (documented trade)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Array[Byte], String, String, String, java.sql.Timestamp)]
    val cdc = in.toDF().toDF("position", "operation", "key", "payload_after", "ts")
      .select(col("position"), col("operation"),
        map().cast("map<string,string>").as("metadata"),
        lit(null).cast("binary").as("key_raw"),
        col("key"),
        lit(null).cast("string").as("payload_before"),
        col("payload_after"),
        col("ts"))
    val out = StreamingOps.compactLatest(cdc,
      eventTimeCol = Some("ts"), ttl = "10 minutes")
    val q = out.writeStream.format("memory").queryName("compact_ttl_out")
      .outputMode("update").start()
    def stateRows: Long = {
      val p = q.lastProgress
      if (p == null || p.stateOperators.isEmpty) -1L
      else p.stateOperators.map(_.numRowsTotal).sum
    }
    def pos(i: Int) = i.toString.getBytes("UTF-8")
    in.addData((pos(2), "create", "k1", """{"v":2}""", ts("2026-01-01 10:00:00")))
    q.processAllAvailable()
    // in-TTL stale redelivery: suppressed by live state (refreshes TTL)
    in.addData((pos(1), "create", "k1", """{"v":1}""", ts("2026-01-01 10:02:00")))
    q.processAllAvailable()
    assert(spark.table("compact_ttl_out").count() == 1, "stale suppressed while state live")
    val liveBefore = stateRows // {k1} = 1
    // k2 @11:00 pushes the watermark past k1's (10:02 + 10 min)
    // timeout; the watermark-advance batch inside this
    // processAllAvailable fires the eviction — the store then holds
    // ONLY k2 (2 rows here would mean k1 was never evicted)
    in.addData((pos(9), "create", "k2", """{"v":9}""", ts("2026-01-01 11:00:00")))
    q.processAllAvailable()
    assert(liveBefore == 1 && stateRows == 1,
      s"expected k1 evicted as k2 entered: before=$liveBefore after=$stateRows")
    // post-eviction stale redelivery re-emits — proves k1 was evicted
    in.addData((pos(1), "create", "k1", """{"v":1}""", ts("2026-01-01 11:06:00")))
    q.processAllAvailable()
    val k1Emits = spark.table("compact_ttl_out").collect()
      .count(_.getAs[String]("key") == "k1")
    assert(k1Emits == 2,
      s"evicted key's redelivery must re-emit (got $k1Emits emits)")
    q.stop()
  }

  test("view maintenance replay: re-running a batch after a crash does not double-count") {
    // foreachBatch's at-least-once contract: batch n can re-run after a
    // crash anywhere — including BETWEEN the view write and the base
    // write. The sink must read state only from _SUCCESS-committed dirs
    // with id < n, so the replay recomputes from the same pre-n state.
    val root = Fences.tempDir("ivm-replay")
    val (viewDir, baseDir) = (s"$root/view", s"$root/base")
    val sink = StreamingOps.viewMaintenanceSink(viewDir, baseDir,
      keyCols = Seq("k"), orderCols = Seq("pos"), opCol = "op",
      groupExpr = expr("CAST(floor(v / 10) AS BIGINT)"),
      valueExpr = col("v").cast("decimal(18,2)"))
    def df(rows: (Long, Long, String, Double)*) =
      rows.toDF("k", "pos", "op", "v")
    val b0 = df((1L, 10L, "update", 5.0), (2L, 11L, "update", 15.0))
    val b1 = df((1L, 20L, "update", 25.0), (3L, 21L, "update", 16.0))
    sink(b0, 0L)
    sink(b1, 1L)
    def view(id: Long) = spark.read.parquet(s"$viewDir/batch=$id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDecimal(2)).setScale(2))).toSet
    val clean = view(1L)
    // crash-replay of batch 1: the first attempt's outputs for batch=1
    // exist (view written, base written or partial) — the re-run must
    // IGNORE them and read batch=0 state, reproducing the same result
    sink(b1, 1L)
    assert(view(1L) == clean,
      s"replay double-counted: got ${view(1L)} want $clean")
    // the delta must have applied exactly once: k=1 moved bucket 0
    // (5.0) -> bucket 2 (25.0); k3's 16.0 joins k2's 15.0 in bucket 1
    val want = Set((1L, 2L, BigDecimal(31.0).setScale(2)),
      (2L, 1L, BigDecimal(25.0).setScale(2)))
    assert(clean == want, s"got $clean want $want")
    // a marker-less (mid-write-crash) dir is never read as state: plant
    // an empty batch=2 dir and run batch 3 — it must resolve batch=1
    new java.io.File(s"$baseDir/batch=2").mkdirs()
    new java.io.File(s"$viewDir/batch=2").mkdirs()
    sink(df((2L, 30L, "delete", 0.0)), 3L)
    val after = view(3L)
    assert(after == Set((1L, 1L, BigDecimal(16.0).setScale(2)),
      (2L, 1L, BigDecimal(25.0).setScale(2))), s"got $after")
  }

  test("hllRegisterSink: replay-idempotent merge; marker-less dirs never read") {
    val dir = Fences.tempDir("hll-sink")
    val sink = StreamingOps.hllRegisterSink(dir, Seq("g"), "u", p = 12)
    def df(rows: (String, Long)*) = rows.toDF("g", "u")
    sink(df((1 to 300).map(i => ("a", (i % 97).toLong)): _*), 0L)
    sink(df((1 to 300).map(i => ("a", (i % 113 + 50).toLong)): _*), 1L)
    def regs(id: Long) = spark.read.parquet(s"$dir/batch=$id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val clean = regs(1L)
    // crash replay of batch 1 must reproduce identical registers
    sink(df((1 to 300).map(i => ("a", (i % 113 + 50).toLong)): _*), 1L)
    assert(regs(1L) == clean)
    // the merged state equals the direct sketch of the union
    val direct = graft.analytics.Sketch.hllRegisters(
      df(((1 to 300).map(i => ("a", (i % 97).toLong)) ++
        (1 to 300).map(i => ("a", (i % 113 + 50).toLong))): _*),
      Seq("g"), "u").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(clean == direct, "stream-merged registers != direct sketch")
    // marker-less dir is ignored as state
    new java.io.File(s"$dir/batch=2").mkdirs()
    sink(df(("a", 9999L)), 3L)
    assert(regs(3L).size >= clean.size)
  }

  test("urlDedupSink: replay-idempotent min-merge; state equals the batch vote") {
    val base = Fences.tempDir("url-sink")
    val sink = StreamingOps.urlDedupSink(
      s"$base/rows", s"$base/state", "doc_id", "url")
    def df(rows: (Long, String)*) = rows.toDF("doc_id", "url")
    // two URL variants of the same page across two batches; the
    // later batch carries the SMALLER id, so the vote must correct
    sink(df((10L, "HTTP://Site.com/a?utm_x=1&b=2"),
      (11L, "http://other.com/")), 0L)
    sink(df((3L, "http://site.com:80/a?b=2"),
      (12L, "http://third.com/")), 1L)
    def state(id: Long) = spark.read.parquet(s"$base/state/batch=$id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val clean = state(1L)
    assert(clean("http://site.com/a?b=2") == 3L, clean.toString)
    // crash replay of batch 1 reproduces identical state (min is
    // idempotent) — and the appended rows dir just overwrites b1
    sink(df((3L, "http://site.com:80/a?b=2"),
      (12L, "http://third.com/")), 1L)
    assert(state(1L) == clean)
    // state equals the one-shot batch vote over the full stream
    val direct = graft.analytics.Urls.dedupByCanonical(
      df((10L, "HTTP://Site.com/a?utm_x=1&b=2"), (11L, "http://other.com/"),
        (3L, "http://site.com:80/a?b=2"), (12L, "http://third.com/")),
      "doc_id", "url")
      .filter(col("keep"))
      .select(col("canonical_url"), col("doc_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clean == direct, s"$clean vs $direct")
  }

  test("scd2Sink: cross-batch close, delete semantics, stale redelivery dropped") {
    val dir = Fences.tempDir("scd2-sink")
    val sink = StreamingOps.scd2Sink(dir, Seq("k"), Seq("pos", "id"),
      "pos", "op")
    def df(rows: (Long, Long, Long, String)*) = rows.toDF("k", "id", "pos", "op")
    // batch 0: k1 opens v@10; k2 opens v@15
    sink(df((1L, 100L, 10L, "update"), (2L, 200L, 15L, "update")), 0L)
    // batch 1: k1 changes @20 (closes [10,20)), k2 deleted @25,
    // plus a STALE redelivery of k1@10 (must be dropped)
    sink(df((1L, 101L, 20L, "update"), (2L, 201L, 25L, "delete"),
      (1L, 100L, 10L, "update")), 1L)
    def hist(id: Long) = spark.read.parquet(s"$dir/batch=$id").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("id"),
        r.getAs[Long]("valid_from"), Option(r.getAs[Any]("valid_to")),
        r.getAs[Boolean]("is_current"))).toSet
    val got = hist(1L)
    val want = Set(
      (1L, 100L, 10L, Some(20L), false),
      (1L, 101L, 20L, None, true),
      (2L, 200L, 15L, Some(25L), false))
    assert(got == want, s"got $got want $want")
    // replay of batch 1 reproduces the same history
    sink(df((1L, 101L, 20L, "update"), (2L, 201L, 25L, "delete"),
      (1L, 100L, 10L, "update")), 1L)
    assert(hist(1L) == want)
    // streaming result == batch scd2 over the concatenated log
    val full = graft.model.Cdc.scd2(
      df((1L, 100L, 10L, "update"), (2L, 200L, 15L, "update"),
        (1L, 101L, 20L, "update"), (2L, 201L, 25L, "delete")),
      Seq("k"), Seq(col("pos"), col("id")), col("pos"), "op")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("id"),
        r.getAs[Long]("valid_from"), Option(r.getAs[Any]("valid_to")),
        r.getAs[Boolean]("is_current"))).toSet
    assert(got == full, "streaming history != batch scd2")
  }

  test("streaming near-dup against history: LSH candidates, exact verify, every doc classified") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val history = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "completely different historical content describing spark analytics engines")
    ).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val out = StreamingOps.nearDupAgainstHistory(
      in.toDF().toDF("doc_id", "text"), history, "doc_id", "text", threshold = 0.5)
    val q = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    // 1: near-copy of hist 100 (last token dropped, jaccard 7/8);
    // 2: novel; 3: empty text (no shingles — must still classify)
    in.addData(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "utterly novel text never seen before anywhere at all"),
      (3L, ""))
    q.processAllAvailable()
    val got = spark.table("neardup_out").collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)), r.getLong(3))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), s"every arriving doc classified: $got")
    assert(got(1L)._1 == "near_dup_history" && got(1L)._3 == 1L, got.toString)
    assert(got(1L)._2.exists(j => math.abs(j.asInstanceOf[Double] - 7.0 / 8.0) < 1e-12),
      s"exact jaccard verification: ${got(1L)._2}")
    assert(got(2L) == ("kept", None, 0L), got.toString)
    assert(got(3L) == ("kept", None, 0L), got.toString)
    q.stop()
  }

  test("curation expressions run on streaming frames (quality + sample + langid)") {
    // the row-local analytics layer (quality features, hash sampling,
    // language ID, normalization) is expression-only, so ingest-time
    // curation works unchanged under Structured Streaming
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val scored = graft.analytics.Text.qualityScore(docs, "doc_id", "text")
      .join(graft.analytics.Text.langId(docs, "doc_id", "text"), "doc_id")
      .withColumn("keep_sample",
        graft.analytics.HashFunctions.splitmix64_hash(col("doc_id") + 7) % 4 === 0)
    val q = scored.writeStream.format("memory").queryName("cur_out")
      .outputMode("append").start()
    in.addData((1L, "the quick brown fox jumps over the lazy dog."),
      (2L, "der schnelle braune fuchs springt."))
    q.processAllAvailable()
    val rows = spark.table("cur_out").collect()
    assert(rows.length == 2)
    val r1 = rows.find(_.getLong(0) == 1L).get
    assert(r1.getAs[Double]("stopword_ratio") > 0)
    assert(r1.getAs[String]("pred_lang") == "en")
    q.stop()
  }

  test("windowed counts aggregate per tumbling window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val out = StreamingOps.windowedCounts(
      in.toDF().toDF("event_type", "ts"), "ts", "5 minutes", "10 minutes",
      groupCols = Seq("event_type"))
    val q = out.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    in.addData(("click", ts("2026-01-01 10:01:00")), ("click", ts("2026-01-01 10:04:00")),
      ("view", ts("2026-01-01 10:02:00")), ("click", ts("2026-01-01 10:12:00")))
    q.processAllAvailable()
    val rows = spark.table("win_out")
      .select(col("event_type"), col("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("click", 2L), ("view", 1L), ("click", 1L)) ||
      rows.contains(("click", 2L)), s"got $rows")
    q.stop()
  }

  test("compactLatest materializes newest record per key, deletes clear state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Array[Byte], String, String, String)]
    val cdc = in.toDF().toDF("position", "operation", "key", "payload_after")
      .select(col("position"),
        col("operation"),
        map().cast("map<string,string>").as("metadata"),
        lit(null).cast("binary").as("key_raw"),
        col("key"),
        lit(null).cast("string").as("payload_before"),
        col("payload_after"))
    val out = StreamingOps.compactLatest(cdc)
    val q = out.writeStream.format("memory").queryName("compact_out")
      .outputMode("update").start()
    def pos(i: Int) = i.toString.getBytes("UTF-8")
    // batch 1: two keys created, k1 updated in the same batch
    in.addData((pos(1), "create", "k1", """{"v":1}"""),
      (pos(2), "create", "k2", """{"v":2}"""),
      (pos(3), "update", "k1", """{"v":3}"""))
    q.processAllAvailable()
    val b1 = spark.table("compact_out").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("payload_after")).toMap
    assert(b1 == Map("k1" -> """{"v":3}""", "k2" -> """{"v":2}"""),
      s"latest-per-key within the batch, got $b1")
    // batch 2: stale redelivery of k1@1 ignored; k2 deleted (tombstone)
    in.addData((pos(1), "create", "k1", """{"v":1}"""),
      (pos(4), "delete", "k2", null))
    q.processAllAvailable()
    val rows = spark.table("compact_out").collect()
    val k1Rows = rows.filter(_.getAs[String]("key") == "k1")
    assert(k1Rows.length == 1, "stale redelivery must not re-emit k1")
    val tombstone = rows.filter(r => r.getAs[String]("key") == "k2" &&
      r.getAs[String]("operation") == "delete")
    assert(tombstone.length == 1 && tombstone.head.getAs[String]("payload_after") == null)
    // batch 3: k2 recreated after the delete — state was cleared
    in.addData((pos(5), "create", "k2", """{"v":9}"""))
    q.processAllAvailable()
    val k2Latest = spark.table("compact_out").collect()
      .filter(r => r.getAs[String]("key") == "k2" &&
        r.getAs[String]("payload_after") == """{"v":9}""")
    assert(k2Latest.length == 1)
    q.stop()
  }

  test("compactLatest tolerates null positions (wrap/parquet/s3 sources)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, String)] // (operation, key, payload)
    val cdc = in.toDF().toDF("operation", "key", "payload_after")
      .select(lit(null).cast("binary").as("position"),
        col("operation"),
        map().cast("map<string,string>").as("metadata"),
        lit(null).cast("binary").as("key_raw"),
        col("key"),
        lit(null).cast("string").as("payload_before"),
        col("payload_after"))
    val out = StreamingOps.compactLatest(cdc)
    val q = out.writeStream.format("memory").queryName("compact_null_pos")
      .outputMode("update").start()
    in.addData(("create", "k1", """{"v":1}"""))
    q.processAllAvailable() // would NPE before the null guard
    in.addData(("update", "k1", """{"v":2}"""))
    q.processAllAvailable() // null == null position: arrival order wins
    val latest = spark.table("compact_null_pos").collect()
      .map(r => r.getAs[String]("payload_after"))
    assert(latest.contains("""{"v":2}"""),
      s"later arrival must compact over an equal (null) position, got ${latest.toSeq}")
    q.stop()
  }

  test("sessionizeStream: session spanning the micro-batch boundary keeps its ordinal; new session after gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)] // (event_id, user_id, ts)
    val out = StreamingOps.sessionizeStream(
      in.toDF().toDF("event_id", "user_id", "ts"),
      "user_id", "ts", "event_id", gapSeconds = 50L)
    val q = out.writeStream.format("memory").queryName("sess_stream_out")
      .outputMode("append").start()
    // batch 1: u1 session 1 open (events 30s apart); u2 starts its own
    in.addData((1L, 1L, 100L), (2L, 1L, 130L), (3L, 2L, 100L))
    q.processAllAvailable()
    // batch 2: u1's 160 continues session 1 ACROSS the boundary
    // (gap 30 <= 50); 300 opens session 2; u2's 500 opens session 2
    in.addData((4L, 1L, 160L), (5L, 1L, 300L), (6L, 2L, 500L))
    q.processAllAvailable()
    val got = spark.table("sess_stream_out").collect()
      .map(r => r.getLong(2) -> (r.getLong(0), r.getLong(3))).toMap
      // keyed by event_id (3rd col = tieCol) → (user, seq)
    assert(got == Map(1L -> (1L, 1L), 2L -> (1L, 1L), 3L -> (2L, 1L),
      4L -> (1L, 1L), 5L -> (1L, 2L), 6L -> (2L, 2L)), got.toString)
    q.stop()
  }

  test("funnelStepsStream: funnel advances across the micro-batch boundary; final row is the max-struct reduce") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)] // (user, type, ts)
    val out = StreamingOps.funnelStepsStream(
      in.toDF().toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
    val q = out.writeStream.format("memory").queryName("funnel_stream_ut")
      .outputMode("update").start()
    // batch 1: u1 view@10; u2 click@5 (no view yet — must not advance)
    in.addData((1L, "view", 10L), (2L, "click", 5L))
    q.processAllAvailable()
    // batch 2: u1 click@20 then purchase@20 (tie: purchase CAN land at
    // the same instant as the click it follows); u2 view@30 then
    // click@40 — the early click@5 stays consumed-nothing
    in.addData((1L, "click", 20L), (1L, "purchase", 20L),
      (2L, "view", 30L), (2L, "click", 40L))
    q.processAllAvailable()
    val finalRows = spark.table("funnel_stream_ut")
      .groupBy(col("user_id"))
      .agg(max(struct(col("steps_reached"), col("step_times"))).as("p"))
      .select(col("user_id"), col("p.steps_reached"), col("p.step_times"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getSeq[Long](2).toList))).toMap
    assert(finalRows == Map(
      1L -> ((3, List(10L, 20L, 20L))),
      2L -> ((2, List(30L, 40L)))), finalRows.toString)
    q.stop()
  }

  test("randomized: scd2Sink and hllRegisterSink equal their batch operators over any in-order batch split") {
    val rnd = new scala.util.Random(8157)
    // random CDC log: 300 ops over 40 keys, strictly increasing pos
    val log = (1 to 300).map { i =>
      (rnd.nextInt(40).toLong + 1L, i.toLong, i.toLong * 10L,
        if (rnd.nextInt(5) == 0) "delete" else "update")
    } // (k, id, pos, op)
    for (trial <- 1 to 3) {
      val cuts = Seq.fill(2)(rnd.nextInt(300) + 1).sorted
      val parts = Seq(log.filter(_._2 <= cuts(0)),
        log.filter(e => e._2 > cuts(0) && e._2 <= cuts(1)),
        log.filter(_._2 > cuts(1))).filter(_.nonEmpty)
      val dir = Fences.tempDir(s"scd2-prop-$trial")
      val sink = StreamingOps.scd2Sink(dir, Seq("k"), Seq("pos", "id"),
        "pos", "op")
      parts.zipWithIndex.foreach { case (p, i) =>
        sink(p.toDF("k", "id", "pos", "op"), i.toLong) }
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("id"),
          r.getAs[Long]("valid_from"), Option(r.getAs[Any]("valid_to")),
          r.getAs[Boolean]("is_current"))).toSet
      val streamed = canon(spark.read.parquet(
        s"$dir/batch=${parts.length - 1}"))
      val batch = canon(graft.model.Cdc.scd2(
        log.toDF("k", "id", "pos", "op"), Seq("k"),
        Seq(col("pos"), col("id")), col("pos"), "op"))
      assert(streamed == batch,
        s"trial $trial cuts $cuts: stream != batch scd2")

      // HLL register sink over the same splits (values = key stream)
      val hdir = Fences.tempDir(s"hll-prop-$trial")
      val hsink = StreamingOps.hllRegisterSink(hdir, Seq.empty, "k")
      parts.zipWithIndex.foreach { case (p, i) =>
        hsink(p.toDF("k", "id", "pos", "op"), i.toLong) }
      val sregs = spark.read.parquet(s"$hdir/batch=${parts.length - 1}")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dregs = graft.analytics.Sketch.hllRegisters(
        log.toDF("k", "id", "pos", "op"), Seq.empty, "k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(sregs == dregs, s"trial $trial: register state != direct sketch")
    }
  }

  test("randomized: streaming sessionize and funnel equal their batch operators over any in-order batch split") {
    // structurally independent equivalence: 400 random events, 60
    // keys, split into THREE micro-batches at random time cuts — the
    // streaming twins must reproduce the batch operators' output
    // exactly, for any split (cross-batch state is the thing tested)
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(20260814)
    val types = Seq("view", "click", "purchase", "other")
    val events = (1 to 400).map { i =>
      (i.toLong, rnd.nextInt(60).toLong + 1L,
        types(rnd.nextInt(types.length)), rnd.nextInt(5000).toLong)
    } // (event_id, user, type, ts)
    val cut1 = 1500L; val cut2 = 3200L
    val batches = Seq(
      events.filter(_._4 <= cut1),
      events.filter(e => e._4 > cut1 && e._4 <= cut2),
      events.filter(_._4 > cut2))

    // sessionize twin
    val sIn = MemoryStream[(Long, Long, String, Long)]
    val sOut = StreamingOps.sessionizeStream(
      sIn.toDF().toDF("event_id", "user_id", "event_type", "ts"),
      "user_id", "ts", "event_id", gapSeconds = 300L)
    val sq = sOut.writeStream.format("memory").queryName("rand_sess_out")
      .outputMode("append").start()
    batches.foreach { b => sIn.addData(b); sq.processAllAvailable() }
    sq.stop()
    val gotSess = spark.table("rand_sess_out").collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val wantSess = graft.analytics.Temporal.sessionize(
        events.toDF("event_id", "user_id", "event_type", "ts"),
        "user_id", "ts", "event_id", gapSeconds = 300L)
      .select(col("event_id"), col("user_id"), col("ts"), col("session_seq"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotSess == wantSess,
      s"sessionize twin diverged: extra=${gotSess -- wantSess} missing=${wantSess -- gotSess}")

    // funnel twin (max-struct reduce of the update stream)
    val fIn = MemoryStream[(Long, Long, String, Long)]
    val fOut = StreamingOps.funnelStepsStream(
      fIn.toDF().toDF("event_id", "user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
    val fq = fOut.writeStream.format("memory").queryName("rand_funnel_out")
      .outputMode("update").start()
    batches.foreach { b => fIn.addData(b); fq.processAllAvailable() }
    fq.stop()
    val gotFun = spark.table("rand_funnel_out")
      .groupBy(col("user_id"))
      .agg(max(struct(col("steps_reached"), col("step_times"))).as("p"))
      .select(col("user_id"), col("p.steps_reached"), col("p.step_times"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Long](2).toList))).toMap
    val wantFun = graft.analytics.Temporal.funnelSteps(
        events.toDF("event_id", "user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getSeq[Long](2).toList))).toMap
    assert(gotFun == wantFun, {
      val diff = (gotFun.keySet ++ wantFun.keySet)
        .filter(k => gotFun.get(k) != wantFun.get(k)).take(5)
      s"funnel twin diverged on ${diff.map(k => (k, gotFun.get(k), wantFun.get(k)))}"
    })
  }

  test("inspector tap samples a live pipeline") {
    graft.pipeline.Runner.memorySinks.clear()
    val ins = graft.pipeline.Metrics.inspector("p-inspect", capacity = 50)
    val p = graft.pipeline.Pipeline("p-inspect")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "200")
      .destination("out", "memory")
    val q = graft.pipeline.Runner.start(spark, p,
      Fences.tempDir("ckpt-ins"),
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(60000)
    val sampled = ins.drain()
    assert(sampled.nonEmpty && sampled.size <= 50)
    assert(sampled.head.contains("\"operation\""))
  }

}
