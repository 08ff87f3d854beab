package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.analytics.Fences
import graft.pipeline.StreamStarts
import graft.streaming.StreamingOps

/** The harness every streaming-twin gate row runs in. A twin feeds
  * the rows of its batch sibling to a streaming query as two
  * micro-batches; the merged result must equal the batch answer, so
  * the batch oracle checks the streaming operator too.
  *
  * The feed contract ([[twoBatch]]):
  *  - the input is collected to the driver once, with the split
  *    predicate evaluated in the same job;
  *  - rows where the predicate is true form batch 0, rows where it is
  *    false or NULL form batch 1;
  *  - each batch is one `MemoryStream.addData` block, so it arrives
  *    as ONE partition, its rows in collect order (a real source is
  *    partitioned; twins that need source parallelism `repartition`
  *    on the stream side);
  *  - the query is started in [[scope]] and stopped before
  *    [[twoBatch]] returns, also when a batch fails.
  */
private[queries] object Twins {

  /** Runs `body` with `spark.sql.shuffle.partitions` = 4 and with the
    * query's generated code shared across starts
    * ([[StreamStarts.sharingCode]]), then restores both settings. The
    * scope holds that helper's lock, so twins in one JVM run one at a
    * time and cannot see each other's settings.
    *
    * The twins' cost is dominated not by data but by per-micro-batch
    * state-store, shuffle and file-commit machinery proportional to
    * the shuffle partition count (e.g. stream_join: 32 state
    * partitions × 2 sides × 2 batches of store init/commit for 40k fed
    * rows). A real deployment sizes state partitions to key
    * cardinality; for a few-thousand-key harness feed, 4 is the honest
    * setting. The conf is captured when the streaming query starts and
    * the session value is restored before the returned batch frame
    * executes; every sink is a join/fold whose result is
    * partition-count-invariant, so gate hashes are unchanged
    * (stream_join 13.4 → ~4 s).
    */
  def scope[T](s: SparkSession)(body: => T): T = StreamStarts.sharingCode(s) {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "4")
    try body finally s.conf.set(key, prev)
  }

  /** Feeds `input` to the streaming query `query` builds over it, as
    * the two batches the class doc describes: batch 0 = the rows where
    * `first` is true, batch 1 = the rest. The stream has `input`'s
    * schema. The collect runs before [[scope]], under the session's
    * own shuffle partition count.
    */
  def twoBatch(s: SparkSession, input: DataFrame, first: Column)(
      query: DataFrame => DataStreamWriter[Row]): Unit = {
    val n = input.schema.length
    val (b0, b1) = input.select(input.col("*"), first.as("_twin_first"))
      .collect().partition(r => !r.isNullAt(n) && r.getBoolean(n))
    def rows(b: Array[Row]): Seq[Row] = b.toSeq.map(r => Row.fromSeq(r.toSeq.take(n)))
    scope(s) {
      val in = MemoryStream[Row](Encoders.row(input.schema), s)
      val q = query(in.toDF()).start()
      try {
        in.addData(rows(b0)); q.processAllAvailable()
        in.addData(rows(b1)); q.processAllAvailable()
      } finally q.stop()
    }
  }

  /** The `foreachBatch` writer in update mode, the form most twins'
    * state and row sinks use. */
  def sink(f: (DataFrame, Long) => Unit): DataFrame => DataStreamWriter[Row] =
    _.writeStream.foreachBatch(f).outputMode("update")

  /** A row-local twin: `fn` maps each micro-batch on its own
    * ([[StreamingOps.rowLocalSink]]), and the result is every batch's
    * output read back — equal to `fn(input)` when `fn` reads only the
    * row. */
  def rowLocal(s: SparkSession, input: DataFrame, first: Column)(
      fn: DataFrame => DataFrame): DataFrame = {
    val out = Fences.tempDir("twin")
    twoBatch(s, input, first)(sink(StreamingOps.rowLocalSink(out)(fn)))
    s.read.parquet(s"$out/b*")
  }
}
