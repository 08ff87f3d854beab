package graft.analytics

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** The one materialization policy: every fence, lineage cut and
  * result spill in the engine goes through this object.
  *
  * Why fence. Catalyst performs no common-subexpression elimination
  * across join / union inputs: a DataFrame referenced N times in one
  * plan is derived N times, scans and exchanges included
  * (ReuseExchange only fires when the two subtrees stay
  * byte-canonically identical, which projections and alias pruning
  * routinely break). An operator whose derived table feeds 2+
  * consumers fences it once; an iterative operator cuts each round's
  * lineage with the same [[fence]], so round r never replays rounds
  * 0..r-1.
  *
  * Reliable or local. With a session checkpoint dir
  * (`SparkContext.setCheckpointDir`, the cluster deployment) a fence
  * is a reliable `checkpoint`: it survives executor loss (spot nodes,
  * dynamic allocation) instead of failing on a vanished
  * non-replicated block. Without one (local mode, the gate and bench
  * path) it is an executor-local `localCheckpoint`, whose blocks the
  * ContextCleaner frees when the frame is collected, so nothing leaks
  * into the CacheManager. The session's checkpoint dir is the only
  * switch; no operator takes its own.
  *
  * Deployment contract. Spark never deletes reliable-checkpoint files
  * on its own, so a long-lived session with a checkpoint dir must
  * start its context with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a static
  * cleaner conf: it cannot be toggled per job) or point the dir at
  * storage with a TTL policy; otherwise fenced frames and spilled
  * results accumulate unboundedly.
  *
  * Why spill. An eager operator's final result is [[spill]]ed, not
  * fenced: it is written to parquet and read back so the operator can
  * release its loop-invariant caches before returning. A checkpoint
  * would do the same, but `Dataset.localCheckpoint` plans through
  * `.rdd`, which bypasses AQE: measured 8 s of extra sort-merge work
  * on the sf0.1 gate graph in `Graph.pageRank`, where the adaptive
  * plan broadcasts. Each spill gets its own path, so two results of
  * one operator never overwrite each other.
  */
private[graft] object Fences {
  def fence(d: DataFrame): DataFrame =
    if (d.sparkSession.sparkContext.getCheckpointDir.isDefined)
      d.checkpoint(true)
    else d.localCheckpoint(true)

  /** Writes `out` to parquet at a fresh path under [[spillDir]],
    * unpersists `release` (the caches `out` was computed from, which
    * the write has now read for the last time) and returns the
    * written result. */
  def spill(out: DataFrame, op: String, prefix: String,
            release: Seq[DataFrame]): DataFrame = {
    val spark = out.sparkSession
    val path = spillDir(spark.sparkContext, op, prefix) + "/" + prefix + "-" +
      java.util.UUID.randomUUID().toString
    out.write.mode("overwrite").parquet(path)
    release.foreach(_.unpersist(false))
    spark.read.parquet(path)
  }

  /** The session's checkpoint dir (a shared filesystem on clusters),
    * else, in local mode only, a [[tempDir]]. On a cluster a
    * driver-local path is not visible to executors, so it fails
    * loudly instead of writing partial data. */
  private def spillDir(sc: SparkContext, op: String, prefix: String): String =
    sc.getCheckpointDir.getOrElse {
      require(sc.isLocal,
        s"$op on a cluster needs a shared-filesystem spill dir: set " +
          "SparkContext.setCheckpointDir")
      tempDir(prefix)
    }

  private val exitDirs = new ConcurrentLinkedQueue[Path]
  private lazy val exitCleanup = sys.addShutdownHook {
    exitDirs.forEach { d =>
      try {
        val w = Files.walk(d)
        try w.sorted(Comparator.reverseOrder[Path]).forEach(p => Files.deleteIfExists(p))
        finally w.close()
      } catch { // a directory an overwrite removed is already gone
        case _: java.io.IOException | _: java.io.UncheckedIOException =>
      }
    }
  }

  /** A fresh scratch directory, deleted with everything in it when
    * the JVM exits. The frames read from it are lazy, so nothing
    * earlier may delete it. */
  def tempDir(prefix: String): String = {
    exitCleanup
    val d = Files.createTempDirectory(prefix)
    exitDirs.add(d)
    d.toString
  }
}
