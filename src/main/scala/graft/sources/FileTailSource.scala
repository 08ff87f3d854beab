package graft.sources

import java.nio.charset.{Charset, StandardCharsets}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Cdc

/** True file tail — the reference's `builtin:file` source follows ONE
  * append-only file (`tail -f` semantics); Spark's built-in file
  * stream follows a directory of new files. This DSv2 stream closes
  * that gap: the offset is the BYTE position consumed so far, each
  * micro-batch reads the appended range, and only complete lines are
  * consumed (a partially-written last line stays beyond the offset
  * until its newline arrives — exactly how tail behaves on a writer
  * mid-line). Restart from the checkpoint resumes at the committed
  * byte offset: no loss, no re-read.
  *
  * Parallelism: a micro-batch's range is cut into up to
  * `defaultParallelism` contiguous byte ranges of at least
  * [[FileTailStream.MinSplitBytes]], each ending at a newline (the
  * driver reads forward from each nominal cut to the next `\n`), and
  * each range is one input partition. So a bulk batch runs the
  * processor chain and the sink encoders on every core, while a small
  * trickle batch stays one task. Positions are byte offsets either
  * way, so checkpoints do not depend on the split.
  *
  * Ordering: in the default delivery mode the ranges are processed and
  * written by parallel tasks, so a sink sees the batch's records in no
  * particular order across ranges (within a range, file order).
  * `ordered: global` (one writer, sorted by position) and
  * `ordered: key` (per-key position order) sort after the scan and are
  * unaffected by the split.
  *
  * Truncation (offset > file length) restarts from 0, matching tail's
  * `-F` reopen behavior.
  *
  * Options: `path` (one file), `collection` (metadata), `charset`
  * (default UTF-8), `maxBytesPerBatch` (default 64 MiB, at most
  * `Int.MaxValue`).
  */
class FileTailSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "conduit-file-tail"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Cdc.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FileTailTable(properties.asScala.toMap)
}

case class FileTailConfig(path: String, collection: String, charset: String,
                          maxBytes: Long)

object FileTailConfig {
  def apply(options: Map[String, String]): FileTailConfig = {
    val lower = options.map { case (k, v) => k.toLowerCase -> v }
    FileTailConfig(
      path = lower("path"),
      collection = lower.getOrElse("collection", "file"),
      charset = lower.getOrElse("charset", "UTF-8"),
      maxBytes = lower.get("maxbytesperbatch").fold(64L * 1024 * 1024)(maxBytes))
  }

  /** One reader buffers a whole range, so a batch must fit an array. */
  private def maxBytes(v: String): Long = {
    val n = v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"conduit-file-tail: maxBytesPerBatch must be a whole number of bytes, got '$v'"))
    if (n < 1 || n > Int.MaxValue) throw new IllegalArgumentException(
      s"conduit-file-tail: maxBytesPerBatch must be in 1..${Int.MaxValue}, got $n")
    n
  }
}

class FileTailTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"conduit-file-tail:${options.getOrElse("path", "?")}"
  override def schema(): StructType = Cdc.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = Cdc.schema
        override def toMicroBatchStream(checkpoint: String): MicroBatchStream =
          new FileTailStream(FileTailConfig(options),
            SparkSession.active.sparkContext.defaultParallelism)
      }
    }
}

case class FileTailPartition(path: String, fromByte: Long, toByte: Long)
    extends InputPartition

class FileTailReaderFactory(config: FileTailConfig) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new FileTailReader(p.asInstanceOf[FileTailPartition], config)
}

/** Reads one newline-terminated byte range, one line per `next()`.
  * The scan lives in `next()` rather than in a one-shot bulk loop so
  * the JIT compiles it after a few hundred lines. Valid UTF-8 lines
  * become `UTF8String`s over the range's bytes with no decode; other
  * charsets and invalid UTF-8 go through `String` decoding, which
  * replaces bad bytes with U+FFFD.
  */
class FileTailReader(part: FileTailPartition, config: FileTailConfig)
    extends PartitionReader[InternalRow] {
  private val buf: Array[Byte] = {
    val raf = new java.io.RandomAccessFile(part.path, "r")
    try {
      raf.seek(part.fromByte)
      val b = new Array[Byte]((part.toByte - part.fromByte).toInt)
      raf.readFully(b)
      b
    } finally raf.close()
  }
  private val utf8 =
    Charset.forName(config.charset) == StandardCharsets.UTF_8
  private var cursor = 0
  // columns other than position and payload are the same on every row
  private val row = new GenericInternalRow(Array[Any](
    null,
    UTF8String.fromString("create"),
    ArrayBasedMapData(
      Array[Any](UTF8String.fromString("opencdc.collection")),
      Array[Any](UTF8String.fromString(config.collection))),
    null,
    null,
    null,
    null))

  // the stream only offers ranges that end at a newline; should the
  // file change under the reader, a last unterminated line is dropped
  override def next(): Boolean = {
    val start = cursor
    var nl = start
    while (nl < buf.length && buf(nl) != '\n') nl += 1
    if (nl == buf.length) return false
    cursor = nl + 1
    row.update(0, java.lang.Long.toString(part.fromByte + start)
      .getBytes(StandardCharsets.US_ASCII)) // position = byte offset
    row.update(6, text(start, nl))
    true
  }

  /** The line `[start, nl)` without a trailing `\r`. */
  private def text(start: Int, nl: Int): UTF8String = {
    if (utf8) {
      val end = if (nl > start && buf(nl - 1) == '\r') nl - 1 else nl
      val s = UTF8String.fromBytes(buf, start, end - start)
      if (s.isValid) return s
    }
    UTF8String.fromString(
      new String(buf, start, nl - start, config.charset).stripSuffix("\r"))
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Byte-offset micro-batch stream over one append-only file. */
class FileTailStream(config: FileTailConfig, parallelism: Int) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  /** Last byte (exclusive) of the final COMPLETE line at or below
    * `cap` — a partial trailing line is left for a later batch.
    */
  private def completeUpTo(cap: Long): Long = {
    val f = new java.io.File(config.path)
    if (!f.exists()) return 0L
    val len = math.min(f.length(), cap)
    if (len <= 0) return 0L
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      // scan back from the cap for the last newline
      var pos = len - 1
      val chunk = new Array[Byte](8192)
      while (pos >= 0) {
        val from = math.max(0L, pos - chunk.length + 1)
        val n = (pos - from + 1).toInt
        raf.seek(from)
        raf.readFully(chunk, 0, n)
        var i = n - 1
        while (i >= 0) {
          if (chunk(i) == '\n') return from + i + 1
          i -= 1
        }
        pos = from - 1
      }
      0L
    } finally raf.close()
  }

  private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(completeUpTo(Long.MaxValue))
  override def initialOffset(): Offset = CountOffset(0)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val from = start.asInstanceOf[CountOffset].count
    val fileLen = new java.io.File(config.path).length()
    if (from > fileLen) return CountOffset(0) // truncated: reopen at 0
    // Always respect maxBytesPerBatch — under Trigger.AvailableNow the
    // pinned target is only an upper bound, and the drain spreads over
    // as many batches as needed (a single unbounded batch would
    // allocate the whole appended range in one reader buffer).
    val capped = completeUpTo(from + config.maxBytes)
    val target = availableNowTarget.fold(capped)(t => math.min(t, capped))
    CountOffset(math.max(from, target))
  }
  override def getDefaultReadLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = CountOffset(completeUpTo(Long.MaxValue))
  override def deserializeOffset(json: String): Offset = CountOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CountOffset].count
    val e = end.asInstanceOf[CountOffset].count
    val cuts = splitPoints(s, e)
    cuts.zip(cuts.drop(1)).map { case (from, to) =>
      FileTailPartition(config.path, from, to): InputPartition }.toArray
  }

  /** `s`, then the end of the line that holds each nominal cut of
    * `[s, e)` into `parallelism` equal parts (no more parts than
    * `MinSplitBytes` allows), then `e`; without duplicates, so one long
    * line spanning several nominal cuts makes one range. `e` must end
    * a line.
    */
  private def splitPoints(s: Long, e: Long): Seq[Long] =
    if (e <= s) Nil
    else {
      val parts = math.max(1L, math.min(parallelism.toLong,
        (e - s) / FileTailStream.MinSplitBytes)).toInt
      val raf = new java.io.RandomAccessFile(config.path, "r")
      try {
        val inner = (1 until parts).map(i => lineEndFrom(raf, s + (e - s) * i / parts, e))
        (s +: inner :+ e).distinct
      } finally raf.close()
    }

  /** The position just past the first newline at or after `from - 1`
    * (a cut that already starts a line stays put), at most `e`.
    */
  private def lineEndFrom(raf: java.io.RandomAccessFile, from: Long, e: Long): Long = {
    val chunk = new Array[Byte](8192)
    var pos = from - 1
    while (pos < e) {
      val n = math.min(chunk.length.toLong, e - pos).toInt
      raf.seek(pos)
      raf.readFully(chunk, 0, n)
      var i = 0
      while (i < n) {
        if (chunk(i) == '\n') return pos + i + 1
        i += 1
      }
      pos += n
    }
    e
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FileTailReaderFactory(config)
}

object FileTailStream {
  /** Smallest range worth its own task: a trickle batch stays one. */
  val MinSplitBytes: Long = 1L << 20
}
