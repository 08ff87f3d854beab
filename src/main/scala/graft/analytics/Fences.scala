package graft.analytics

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Shared materialization fence for multiply-referenced intermediates.
  *
  * Catalyst performs no common-subexpression elimination across join /
  * union inputs: a DataFrame referenced N times in one plan is derived
  * N times, scans and exchanges included (ReuseExchange only fires when
  * the two subtrees stay byte-canonically identical, which projections
  * and alias pruning routinely break). Every operator whose derived
  * table feeds 2+ consumers fences it once instead.
  *
  * Same contract as the local fences in [[Text.sboTrain]] /
  * [[Sampling.stratifiedTiles]] / [[Sketch]]: reliable `checkpoint`
  * when the session has a checkpoint dir (cluster deployments — the
  * fence survives executor loss), executor-local `localCheckpoint`
  * otherwise (blocks are freed by the ContextCleaner when the frame is
  * collected, so nothing leaks into the CacheManager).
  */
private[graft] object Fences {
  def fence(d: DataFrame): DataFrame =
    if (d.sparkSession.sparkContext.getCheckpointDir.isDefined)
      d.checkpoint(true)
    else d.localCheckpoint(true)

  /** Where an operator spills a result it reads back: the session's
    * checkpoint dir (a shared filesystem on clusters), else — in local
    * mode only — a [[tempDir]]. On a cluster a driver-local path is not
    * visible to executors, so it fails loudly instead of writing
    * partial data. */
  def spillDir(sc: SparkContext, op: String, prefix: String): String =
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
