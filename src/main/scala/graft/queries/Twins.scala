package graft.queries

import org.apache.spark.sql.SparkSession

import graft.pipeline.StreamStarts

/** The scope every streaming-twin gate row drives its harness query
  * in.
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
}
