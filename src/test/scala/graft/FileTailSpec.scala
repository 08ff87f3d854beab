package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Fences
import graft.functions.JsonOps
import graft.model.Cdc
import graft.pipeline.{Pipeline, Runner}
import graft.sources.{CountOffset, FileTailConfig, FileTailPartition, FileTailReaderFactory, FileTailStream}

/** True file tail (reference `builtin:file` semantics): follow ONE
  * append-only file at byte offsets, consume only complete lines,
  * resume appended data across restarts from the checkpoint.
  */
class FileTailSpec extends AnyFunSuite {
  lazy val spark = Spark.session

  private def append(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  test("tail consumes complete lines only, then picks up appended data") {
    val file = SpecSupport.tempFile("tail", ".log").toString
    append(file, "line-1\nline-2\npartial")
    Runner.memorySinks.clear()
    val p = Pipeline("tail1")
      .source("f", "builtin:file", "path" -> file)
      .destination("out", "memory")
    val ckpt = Fences.tempDir("tail1-ckpt")
    val q1 = Runner.start(spark, p, ckpt, Trigger.AvailableNow())
    q1.awaitTermination(120000)
    val phase1 = Runner.memorySink("out").map(l =>
      JsonOps.parse(l).get("payload").get("after").asText())
    assert(phase1 == Seq("line-1", "line-2"),
      "the unterminated trailing line must NOT be consumed")
    // the writer finishes the partial line and appends another
    append(file, "-done\nline-4\n")
    val q2 = Runner.start(spark, p, ckpt, Trigger.AvailableNow())
    q2.awaitTermination(120000)
    val phase2 = Runner.memorySink("out").map(l =>
      JsonOps.parse(l).get("payload").get("after").asText())
    assert(phase2 == Seq("line-1", "line-2", "partial-done", "line-4"),
      s"resume from the committed byte offset, got $phase2")
  }

  test("ordered delivery: sink sees records in strict position order") {
    Runner.memorySinks.clear()
    val p = Pipeline("ordered1")
      .source("gen", "builtin:generator",
        "format.options.id" -> "int", "recordCount" -> "5000")
      .destination("out", "memory")
      .withOrderedDelivery
    Runner.runBatch(spark, p)
    val positions = Runner.memorySink("out").map(l => new String(
      java.util.Base64.getDecoder.decode(
        JsonOps.parse(l).get("position").asText()), "UTF-8").toLong)
    assert(positions.size == 5000)
    assert(positions == positions.sorted,
      "strict per-source total order (reference §2.7 single-source mode)")
    // control: the default order-narrowed mode interleaves partitions
    Runner.memorySinks.clear()
    Runner.runBatch(spark, p.copy(ordered = ""))
    val unordered = Runner.memorySink("out").map(l => new String(
      java.util.Base64.getDecoder.decode(
        JsonOps.parse(l).get("position").asText()), "UTF-8").toLong)
    assert(unordered.size == 5000)
  }

  test("AvailableNow respects maxBytesPerBatch: bounded batches, full drain") {
    val file = SpecSupport.tempFile("tail3", ".log").toString
    (1 to 10).foreach(i => append(file, f"line-$i%02d\n")) // 8 bytes/line
    Runner.memorySinks.clear()
    val p = Pipeline("tail3")
      .source("f", "builtin:file",
        "path" -> file, "tail" -> "true", "maxBytesPerBatch" -> "20")
      .destination("out", "memory")
    val ckpt = Fences.tempDir("tail3-ckpt")
    val q = Runner.start(spark, p, ckpt, Trigger.AvailableNow())
    q.awaitTermination(120000)
    val got = Runner.memorySink("out").map(l =>
      JsonOps.parse(l).get("payload").get("after").asText())
    assert(got == (1 to 10).map(i => f"line-$i%02d"),
      s"AvailableNow must still drain everything, got $got")
    // 80 bytes at ≤20 bytes/batch (complete-line boundary → 16) = ≥4
    // batches; the unbounded-batch bug drained it all in one
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 4,
      s"maxBytesPerBatch must bound every AvailableNow batch, got $dataBatches batches")
  }

  test("positions are byte offsets and streaming tail follows a live writer") {
    val file = SpecSupport.tempFile("tail2", ".log").toString
    append(file, "a\n")
    Runner.memorySinks.clear()
    val p = Pipeline("tail2")
      .source("f", "builtin:file", "path" -> file, "tail" -> "true")
      .destination("out", "memory")
    val ckpt = Fences.tempDir("tail2-ckpt")
    val q = Runner.start(spark, p, ckpt, Trigger.ProcessingTime("100 milliseconds"))
    try {
      var waited = 0
      while (Runner.memorySink("out").isEmpty && waited < 100) {
        Thread.sleep(100); waited += 1
      }
      append(file, "bb\nccc\n")
      waited = 0
      while (Runner.memorySink("out").size < 3 && waited < 100) {
        Thread.sleep(100); waited += 1
      }
      val recs = Runner.memorySink("out").map(JsonOps.parse)
      assert(recs.size == 3, s"live appends must flow, got ${recs.size}")
      val positions = recs.map(r => new String(
        java.util.Base64.getDecoder.decode(r.get("position").asText()), "UTF-8").toLong)
      assert(positions == Seq(0L, 2L, 5L), s"byte-offset positions, got $positions")
    } finally q.stop()
  }

  private def append(path: String, bytes: Array[Byte]): Unit =
    Files.write(Paths.get(path), bytes, StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** (position, payload) of each record a memory sink received. */
  private def records(sink: String): Seq[(Long, String)] =
    Runner.memorySink(sink).map { l =>
      val r = JsonOps.parse(l)
      (new String(java.util.Base64.getDecoder.decode(r.get("position").asText()), UTF_8).toLong,
        r.get("payload").get("after").asText())
    }

  /** A file of about `size` bytes: lines of 1 byte to 12 KiB with
    * multi-byte characters, every seventh one CRLF-terminated, one
    * invalid-UTF-8 line, and an unterminated line at the end. Returns
    * the file, the (byte offset, text) of each complete line as the
    * reader decoded it before ranges were split, and the length of the
    * complete lines.
    */
  private def bulkFile(size: Int): (String, Seq[(Long, String)], Long) = {
    val rnd = new scala.util.Random(42)
    val out = new java.io.ByteArrayOutputStream()
    val lines = ArrayBuffer.empty[(Long, String)]
    val chars = Seq("a", "b", "c", " ", "é", "€", "𝄞")
    def line(body: Array[Byte], eol: String): Unit = {
      lines += ((out.size.toLong,
        new String(body ++ eol.getBytes(UTF_8), UTF_8).stripSuffix("\n").stripSuffix("\r")))
      out.write(body)
      out.write(eol.getBytes(UTF_8))
    }
    var i = 0
    while (out.size < size) {
      val len = if (i % 50 == 49) 4096 + rnd.nextInt(8192) else 1 + rnd.nextInt(300)
      val body = s"L$i:" + Seq.fill(len)(chars(rnd.nextInt(chars.size))).mkString
      line(body.getBytes(UTF_8), if (i % 7 == 3) "\r\n" else "\n")
      if (i == 1000) // a truncated 2-byte sequence and an encoded surrogate
        line("bad ".getBytes(UTF_8) ++ Array(0xc3, '(', 0xed, 0xa0, 0x80).map(_.toByte), "\r\n")
      i += 1
    }
    val complete = out.size.toLong
    out.write("partial, no newline yet".getBytes(UTF_8))
    val file = SpecSupport.tempFile("tail-bulk", ".log").toString
    Files.write(Paths.get(file), out.toByteArray)
    (file, lines.toSeq, complete)
  }

  test("a bulk batch splits at newlines into ranges that together hold every line once") {
    val (file, lines, complete) = bulkFile(6 << 20)
    val starts = lines.map(_._1).toSet
    val stream = new FileTailStream(FileTailConfig(Map("path" -> file)), 4)
    val parts = stream.planInputPartitions(CountOffset(0), CountOffset(complete))
      .map(_.asInstanceOf[FileTailPartition]).toSeq
    assert(parts.size == 4, s"6 MiB over 4 cores must plan 4 ranges, got $parts")
    assert(parts.head.fromByte == 0 && parts.last.toByte == complete)
    parts.zip(parts.tail).foreach { case (a, b) => assert(a.toByte == b.fromByte) }
    // every nominal cut falls inside a line, which the range before it finishes
    (1 until 4).foreach { k =>
      val nominal = complete * k / 4
      assert(!starts.contains(nominal), s"fixture: cut $k must straddle a line")
      assert(starts.contains(parts(k).fromByte) && parts(k).fromByte > nominal)
    }
    // a trickle batch stays one task
    assert(stream.planInputPartitions(CountOffset(0), CountOffset(lines(10)._1)).length == 1)

    val factory = new FileTailReaderFactory(FileTailConfig(Map("path" -> file)))
    val read = parts.flatMap { part =>
      val r = factory.createReader(part)
      val got = ArrayBuffer.empty[(Long, String)]
      while (r.next()) {
        val row = r.get()
        got += ((new String(row.getBinary(0), UTF_8).toLong, row.getUTF8String(6).toString))
      }
      r.close()
      got
    }
    assert(read.size == lines.size)
    read.zip(lines).foreach { case (g, w) => assert(g == w) }
    assert(read.exists(_._2.startsWith("bad \ufffd(\ufffd")),
      "invalid UTF-8 decodes to U+FFFD exactly as before")
  }

  test("split batches deliver every complete line once; partial lines wait; global order holds") {
    val (file, lines, complete) = bulkFile(5 << 20)
    Runner.memorySinks.clear()
    val p = Pipeline("tail-bulk")
      .source("f", "builtin:file", "path" -> file, "tail" -> "true")
      .destination("bulk-out", "memory")
    val ckpt = Fences.tempDir("tail-bulk-ckpt")
    Runner.start(spark, p, ckpt, Trigger.AvailableNow()).awaitTermination(300000)
    val got = records("bulk-out")
    assert(got.size == lines.size, "each complete line exactly once; the partial one waits")
    assert(got.sortBy(_._1) == lines, "each line at its byte offset with the old decode")
    // the writer finishes the partial line
    append(file, "-done\n")
    Runner.start(spark, p, ckpt, Trigger.AvailableNow()).awaitTermination(120000)
    assert(records("bulk-out").drop(lines.size) ==
      Seq((complete, "partial, no newline yet-done")))

    Runner.memorySinks.clear()
    val ordered = Pipeline("tail-bulk-ordered")
      .source("f", "builtin:file", "path" -> file, "tail" -> "true")
      .destination("bulk-ordered", "memory")
      .withOrderedDelivery
    Runner.start(spark, ordered, Fences.tempDir("tail-ord-ckpt"),
      Trigger.AvailableNow()).awaitTermination(300000)
    assert(records("bulk-ordered") == lines :+ ((complete, "partial, no newline yet-done")),
      "ordered = global: strict position order across the split ranges")
  }

  test("a non-UTF-8 charset decodes each line through the charset") {
    val file = SpecSupport.tempFile("tail-latin1", ".log").toString
    append(file, "café\r\nna\u00efve\n".getBytes("ISO-8859-1"))
    val part = FileTailPartition(file, 0, Files.size(Paths.get(file)))
    val r = new FileTailReaderFactory(
      FileTailConfig(Map("path" -> file, "charset" -> "ISO-8859-1"))).createReader(part)
    val got = ArrayBuffer.empty[String]
    while (r.next()) got += r.get().getUTF8String(6).toString
    assert(got == Seq("café", "naïve"))
  }

  test("maxBytesPerBatch must be a whole number in 1..Int.MaxValue") {
    def cfg(v: String) = FileTailConfig(Map("path" -> "x", "maxBytesPerBatch" -> v))
    assert(cfg("20").maxBytes == 20L)
    assert(cfg(Int.MaxValue.toString).maxBytes == Int.MaxValue.toLong)
    for (bad <- Seq("abc", "1.5", "", "0", "-5", "2147483648", "3000000000")) {
      val e = intercept[IllegalArgumentException](cfg(bad))
      assert(e.getMessage.contains("maxBytesPerBatch"), e.getMessage)
    }
  }
}
