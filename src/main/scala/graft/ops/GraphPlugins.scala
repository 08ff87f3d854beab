package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.{Dedup, Graph, Temporal}
import graft.model.Ref
import Plugins._
import Registry.Entry

/** Per-batch cache hygiene for the iterative graph processors: the
  * lazy (`eager=false`) tails keep their final round's frames
  * persisted so the sink write doesn't recompute the loop — but in a
  * recurring pipeline each batch would strand those frames in the
  * CacheManager forever. Batch n's fences are released when batch n+1
  * arrives (n's sink write has materialized and consumed them by
  * then); a one-shot call retains at most one batch's worth, bounded.
  * Each built processor holds its own.
  */
class BatchFenceRelease extends Serializable {
  @transient private var lastFences: Seq[DataFrame] = Nil
  /** Release the previous batch's frames; returns the registrar to
    * pass as `onFences`.
    */
  def rotateFences(): Seq[DataFrame] => Unit = {
    lastFences.foreach(_.unpersist(false))
    lastFences = Nil
    f => lastFences = f
  }
}

/** Graph and time-series plugins. A graph plugin reads one (src, dst)
  * edge per record from payload fields and reshapes the batch into one
  * record per node, pair or partition; the iterative ones run the
  * operator's production mode with a lazy tail, so a pipeline needs no
  * spill dir. A time-series plugin reshapes into one record per series
  * (the groups tuple), ordered by a numeric payload field.
  */
private[ops] object GraphPlugins {

  /** The batch's edges as columns `a`, `b`; a record missing either
    * end is no edge. */
  private def edges(df: DataFrame, src: Ref, dst: Ref, a: String, b: String) =
    flat(df, Seq(src -> a, dst -> b)).filter(col(a).isNotNull && col(b).isNotNull)

  /** The seed table of a seeded walk: its `column`, or all columns. */
  private def seeds(df: DataFrame, table: String, column: String) = {
    val raw = df.sparkSession.read.parquet(table)
    if (column.isEmpty) raw else raw.select(col(column))
  }

  /** The batch as (groups…, `_ord`, `_val`) series points. */
  private def series(df: DataFrame, groups: Seq[(Ref, String)], order: Ref, value: Ref) =
    flat(df, groups, fieldCol(df, order).cast("long").as("_ord"),
      fieldCol(df, value).cast("long").as("_val"))

  private val ends = Seq(req("src", Src), req("dst", Dst))
  private val seriesSettings = Seq(req("groups", ".Payload.After.event_type"),
    req("order", ".Payload.After.day"), req("value", ".Payload.After.cents"))

  val entries: Seq[Entry] = Seq(
    Entry("graph.pagerank", "PageRank over (src, dst) edges.",
      ends ++ Seq(opt("iterations", "5"), opt("damping", "0.85"))) { s =>
      val (src, dst) = (s.ref("src"), s.ref("dst"))
      val iterations = s.int("iterations")
      val damping = s.double("damping")
      val fences = new BatchFenceRelease
      reshape(s.plugin, "node") { df =>
        Graph.pageRank(edges(df, src, dst, "_src", "_dst"), "_src", "_dst",
          iterations, damping, eager = false, onFences = fences.rotateFences())
      }
    },
    Entry("graph.hits", "HITS hub/authority scores.",
      ends :+ opt("iterations", "3")) { s =>
      val (src, dst) = (s.ref("src"), s.ref("dst"))
      val iterations = s.int("iterations")
      val fences = new BatchFenceRelease
      reshape(s.plugin, "node") { df =>
        Graph.hits(edges(df, src, dst, "_src", "_dst"), "_src", "_dst",
          iterations, eager = false, onFences = fences.rotateFences())
      }
    },
    Entry("graph.kcore", "K-core decomposition membership.",
      ends ++ Seq(opt("k", "3"), opt("maxRounds", "10"))) { s =>
      val (src, dst) = (s.ref("src"), s.ref("dst"))
      val k = s.int("k")
      val maxRounds = s.int("maxRounds")
      val fences = new BatchFenceRelease
      reshape(s.plugin, "node") { df =>
        Graph.kCore(edges(df, src, dst, "_src", "_dst"), "_src", "_dst",
          k, maxRounds, eager = false, onFences = fences.rotateFences())
      }
    },
    // count-gated hybrid: driver union-find under the edge cap,
    // distributed min-label propagation above it
    Entry("graph.components", "Connected component labels.",
      ends :+ opt("maxIter", "25")) { s =>
      val (src, dst) = (s.ref("src"), s.ref("dst"))
      val maxIter = s.int("maxIter")
      reshape(s.plugin, "id") { df =>
        Dedup.components(edges(df, src, dst, "id_a", "id_b"), maxIter = maxIter)
      }
    },
    // hub-capped wedge join
    Entry("graph.links", "Jaccard link prediction over shared neighbors.",
      ends ++ Seq(opt("minJaccard", "0.5"), opt("maxDegree", "100000"))) { s =>
      val (src, dst) = (s.ref("src"), s.ref("dst"))
      val minJaccard = s.double("minJaccard")
      val maxDegree = s.int("maxDegree")
      reshape(s.plugin, "_k", "node_a", "node_b") { df =>
        Graph.jaccardLinks(edges(df, src, dst, "_src", "_dst"), "_src", "_dst",
          minJaccard, maxDegree)
      }
    },
    Entry("graph.labelprop", "Label-propagation communities (batch-only).",
      ends :+ opt("iterations", "4")) { s =>
      val (src, dst) = (s.ref("src"), s.ref("dst"))
      val iterations = s.int("iterations")
      reshapeBatch(s.plugin, "iterative propagation over the corpus", "node") { df =>
        Graph.labelPropagation(edges(df, src, dst, "id_a", "id_b"), "id_a", "id_b",
          iterations)
      }
    },
    Entry("graph.modularity",
      "Modularity of the label-propagation partition (batch-only).",
      ends :+ opt("iterations", "4")) { s =>
      val (src, dst) = (s.ref("src"), s.ref("dst"))
      val iterations = s.int("iterations")
      reshapeBatch(s.plugin, "iterative propagation over the corpus", "_k") { df =>
        val e = edges(df, src, dst, "id_a", "id_b")
        Graph.modularity(e, "id_a", "id_b",
          Graph.labelPropagation(e, "id_a", "id_b", iterations))
          .withColumn("_k", lit("modularity"))
      }
    },
    // seeds come from a fixed table: curate once, rank every batch
    Entry("graph.ppr",
      "Personalized PageRank from a seed table (TrustRank, batch-only).",
      ends ++ Seq(req("seedsTable", "/data/seeds"),
        opt("seedColumn", "", "default: first column"),
        opt("iterations", "5"), opt("damping", "0.85"))) { s =>
      val (src, dst) = (s.ref("src"), s.ref("dst"))
      val seedsTable = s.str("seedsTable")
      val seedColumn = s.str("seedColumn")
      val iterations = s.int("iterations")
      val damping = s.double("damping")
      s.check(seedsTable.nonEmpty, "need seedsTable")
      val fences = new BatchFenceRelease
      reshapeBatch(s.plugin, "iterative walk over the corpus", "node") { df =>
        Graph.personalizedPageRank(edges(df, src, dst, "_src", "_dst"),
          "_src", "_dst", seeds(df, seedsTable, seedColumn), iterations, damping,
          eager = false, onFences = fences.rotateFences())
      }
    },
    Entry("graph.seeddist",
      "Hop distance to the nearest seed by multi-source BFS (batch-only).",
      ends ++ Seq(req("seedsTable", "/data/seeds"),
        opt("seedColumn", "", "default: first column"),
        opt("maxHops", "6"))) { s =>
      val (src, dst) = (s.ref("src"), s.ref("dst"))
      val seedsTable = s.str("seedsTable")
      val seedColumn = s.str("seedColumn")
      val maxHops = s.int("maxHops")
      s.check(seedsTable.nonEmpty, "need seedsTable")
      reshapeBatch(s.plugin, "iterative BFS over the corpus", "node") { df =>
        Graph.seedDistance(edges(df, src, dst, "id_a", "id_b"), "id_a", "id_b",
          seeds(df, seedsTable, seedColumn), maxHops)
      }
    },
    Entry("ts.changepoint",
      "Exact single changepoint per series (SSE-reduction argmax, batch-only).",
      seriesSettings) { s =>
      val groups = named(s.refs("groups"), "g")
      val (order, value) = (s.ref("order"), s.ref("value"))
      s.check(groups.nonEmpty, "need groups")
      reshapeBatch(s.plugin, "per-series rank over the corpus", "_k",
          groups.map(_._2): _*) { df =>
        Temporal.changepoint(series(df, groups, order, value), groups.map(_._2),
          "_ord", "_val")
      }
    },
    Entry("ts.hurst",
      "Hurst exponent per series by rescaled-range analysis (batch-only).",
      seriesSettings) { s =>
      val groups = named(s.refs("groups"), "g")
      val (order, value) = (s.ref("order"), s.ref("value"))
      s.check(groups.nonEmpty, "need groups")
      reshapeBatch(s.plugin, "per-series block windows over the corpus", "_k",
          groups.map(_._2): _*) { df =>
        Temporal.hurstRs(series(df, groups, order, value), groups.map(_._2),
          "_ord", "_val")
      }
    }
  )
}
