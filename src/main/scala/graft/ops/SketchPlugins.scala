package graft.ops

import org.apache.spark.sql.functions._

import graft.analytics.HashFunctions.fnv1a_hash
import graft.analytics.{Similarity, Sketch}
import graft.model.Ref
import Plugins._
import Registry.{Entry, Settings}

/** Sketch and embedding-similarity plugins. The sketches reshape the
  * batch into constant-size mergeable state or estimates per group —
  * the cardinality, frequency and quantile monitors a pipeline writes
  * next to its sink. Payload values arrive as strings and pre-hash
  * through fnv1a (injective w.h.p.) where a sketch hashes numerically.
  * The similarity plugins read a JSON-array embedding field.
  */
private[ops] object SketchPlugins {

  /** The field a frequency sketch reads: `value`, else `field`. */
  private def valueRef(s: Settings): Ref =
    s.opt("value").map(Ref.parse).getOrElse(s.ref("field"))

  val entries: Seq[Entry] = Seq(
    // mergeable membership state for cross-run "seen before?" probes
    Entry("sketch.bloom", "Bloom-filter membership state per batch.",
      Seq(opt("value", "", "field to hash; default whole payload"),
        opt("field", After, "read when value is unset"),
        opt("mBits", "65536"), opt("kHashes", "4"), opt("seed", "7"))) { s =>
      val value = valueRef(s)
      val (mBits, kHashes, seed) = (s.int("mBits"), s.int("kHashes"), s.long("seed"))
      reshape(s.plugin, "word_idx")(df =>
        Sketch.bloomWords(df.select(fnv1a_hash(fieldCol(df, value)).as("_value")),
          "_value", mBits, kHashes, seed))
    },
    // depth × width counters, mergeable by addition: the state later
    // Sketch.cmsLookup probes read
    Entry("sketch.cms", "Count-min sketch of value frequencies.",
      Seq(opt("value", "", "field to count; default whole payload"),
        opt("field", After, "read when value is unset"),
        opt("depth", "4"), opt("width", "1024"))) { s =>
      val value = valueRef(s)
      val (depth, width) = (s.int("depth"), s.int("width"))
      reshape(s.plugin, "_k", "_row", "_idx") { df =>
        val counted = df.select(fieldCol(df, value).as("_item"))
          .filter(col("_item").isNotNull)
          .groupBy(col("_item")).agg(count(lit(1)).as("_wt"))
        Sketch.cmsCounters(counted, "_item", "_wt", depth, width)
      }
    },
    Entry("sketch.hll", "HyperLogLog distinct counts per group.",
      Seq(req("groups", Lang), req("value", ".Payload.After.user"),
        opt("p", "12"), opt("seed", "7"))) { s =>
      val (groups, value) = (named(s.refs("groups"), "group"), s.ref("value"))
      val (p, seed) = (s.int("p"), s.long("seed"))
      s.check(groups.nonEmpty, "need groups")
      val names = groups.map(_._2)
      reshape(s.plugin, "_k", names: _*)(df =>
        Sketch.hllDistinct(flat(df, groups, fnv1a_hash(fieldCol(df, value)).as("_value")),
          names, "_value", p, seed))
    },
    Entry("sketch.kmv", "K-minimum-values distinct-count state per group.",
      Seq(req("groups", Lang), req("value", ".Payload.After.user"),
        opt("k", "256"), opt("seed", "7"))) { s =>
      val (groups, value) = (named(s.refs("groups"), "group"), s.ref("value"))
      val (k, seed) = (s.int("k"), s.long("seed"))
      s.check(groups.nonEmpty, "need groups")
      val names = groups.map(_._2)
      reshape(s.plugin, "_k", names: _*)(df =>
        Sketch.kmvEstimate(Sketch.kmvState(flat(df, groups,
          fnv1a_hash(fieldCol(df, value)).as("_value")), names, "_value", k, seed),
          names, k))
    },
    // basis-point quantiles of the value read as a double; ids hash
    // into the sketch's sampling order
    Entry("sketch.kll", "KLL quantile sketch (grouped or global).",
      Seq(req("value", ".Payload.After.amount"), req("id", Id),
        opt("groups", ""), opt("k", "256"), opt("seed", "7"),
        opt("quantiles", "p50:5000,p90:9000,p99:9900"))) { s =>
      val groups = named(s.opt("groups").map(_ => s.refs("groups")).getOrElse(Nil), "group")
      val (value, id) = (s.ref("value"), s.ref("id"))
      val (k, seed) = (s.int("k"), s.long("seed"))
      val quantiles = s.items("quantiles", "name:integer") { spec =>
        val Array(name, bp) = spec.split(":", 2)
        (name.trim, bp.trim.toInt)
      }
      val names = groups.map(_._2)
      reshape(s.plugin, "_k", names: _*) { df =>
        val st = Sketch.kllState(flat(df, groups,
          fieldCol(df, value).cast("double").as("_value"),
          fnv1a_hash(fieldCol(df, id)).as("_rid")), names, "_value", "_rid", k, seed)
        val out = Sketch.kllQuantiles(st, names, quantiles)
        if (names.isEmpty) out.withColumn("_k", lit("all")) else out
      }
    },
    // one integer-count shuffle, ≤ groups × bins state; the quantile is
    // part of each record's identity
    Entry("sketch.hist", "Fixed-bin histogram + quantile estimates.",
      Seq(req("groups", Lang), req("value", ".Payload.After.amount"),
        opt("lo", "0"), opt("width", "1"), opt("bins", "64"),
        opt("quantiles", "0.5,0.9,0.99"))) { s =>
      val (groups, value) = (named(s.refs("groups"), "group"), s.ref("value"))
      val (lo, width, bins) = (s.double("lo"), s.double("width"), s.int("bins"))
      val quantiles = s.items("quantiles", "a number")(_.toDouble)
      s.check(groups.nonEmpty, "need groups")
      val names = groups.map(_._2)
      reshape(s.plugin, "_k", names :+ "q": _*)(df =>
        Sketch.histogramQuantiles(flat(df, groups,
          fieldCol(df, value).cast("double").as("_value")), names, "_value", lo, width,
          bins, quantiles))
    },
    // Misra-Gries with an exact count verify; capacity=0 sizes the
    // summary from the batch count (one extra count action)
    Entry("sketch.topk", "Heavy hitters above a count threshold.",
      Seq(opt("value", "", "field to count; default whole payload"),
        opt("field", After, "read when value is unset"),
        opt("threshold", "2"), opt("capacity", "0"))) { s =>
      val value = valueRef(s)
      val (threshold, capacity) = (s.long("threshold"), s.int("capacity"))
      reshape(s.plugin, "item")(df =>
        Sketch.heavyHitters(df.select(fieldCol(df, value).as("_item")), "_item",
          threshold, capacity))
    },
    // two constant-size KMV states, no exact join: whether exact
    // dedup.incremental verdicts are worth a pass
    Entry("sketch.overlap", "KMV overlap estimate vs a history corpus (batch-only).",
      Seq(req("historyTable", "/data/history"), opt("historyField", "text"),
        opt("k", "256"), opt("field", After))) { s =>
      val field = s.ref("field")
      val (table, tableField) = (s.str("historyTable"), s.str("historyField"))
      val k = s.int("k")
      s.check(k >= 16 && k <= 65536, s"k=$k")
      reshapeBatch(s.plugin, "the KMV state is checkpointed at plan time", "_kk",
          "type_a", "type_b") { df =>
        // both corpora hash identically, so shared values share hashes
        val batch = df.select(lit("batch").as("_corpus"),
          fnv1a_hash(fieldCol(df, field)).as("_v"))
        val hist = df.sparkSession.read.parquet(table)
          .select(lit("history").as("_corpus"),
            fnv1a_hash(col(tableField).cast("string")).as("_v"))
        Sketch.kmvSetOps(Sketch.kmvState(batch.unionByName(hist), Seq("_corpus"), "_v", k),
          "_corpus", k)
      }
    },
    // IVF-bucketed candidate pairs unless nlist = -1
    Entry("sim.topk", "Top-k cosine neighbors (brute force or IVF).",
      Seq(req("id", Id), req("vec", Vec), opt("k", "10"),
        opt("nlist", "-1", "-1 = brute force; >0 = IVF buckets"),
        opt("maxBucket", "4096"))) { s =>
      val (id, vec) = (s.ref("id"), s.ref("vec"))
      val (k, nlist, maxBucket) = (s.int("k"), s.int("nlist"), s.int("maxBucket"))
      reshape(s.plugin, "_kk", "node", "rank")(df =>
        Similarity.knnGraph(vectors(df, id, vec), "_id", "_vec", k, nlist,
          maxBucket = maxBucket))
    },
    // the k lowest-id vectors seed the centroids: one scan, no shuffle
    Entry("sim.cluster", "Spherical k-means topic assignment.",
      Seq(req("id", Id), req("vec", Vec), opt("k", "8"))) { s =>
      val (id, vec) = (s.ref("id"), s.ref("vec"))
      val k = s.int("k")
      s.check(k >= 1, s"k=$k")
      reshape(s.plugin, "vec_id")(df =>
        Similarity.clusterAssign(vectors(df, id, vec), "_id", "_vec", k))
    },
    Entry("sim.quantize", "Scalar int8 quantization of a vector field.",
      Seq(req("id", Id), req("vec", Vec))) { s =>
      val (id, vec) = (s.ref("id"), s.ref("vec"))
      reshape(s.plugin, "vec_id")(df =>
        Similarity.quantizeInt8(vectors(df, id, vec), "_id", "_vec"))
    },
    Entry("sim.pca",
      "Top principal component by exact power iteration (batch-only).",
      Seq(req("id", Id), req("vec", Vec), opt("iterations", "3"),
        opt("output", "loadings", "loadings|project|residual (ABTT)"))) { s =>
      val (id, vec) = (s.ref("id"), s.ref("vec"))
      val (iterations, output) = (s.int("iterations"), s.str("output"))
      s.check(output == "loadings" || output == "project" || output == "residual",
        s"output must be loadings|project|residual, got $output")
      // one record per dimension, per vector, or per (vector, dimension)
      val (key, parts) = output match {
        case "loadings" => ("dim", Nil)
        case "project" => ("_id", Nil)
        case _ => ("_rk", Seq("_id", "dim"))
      }
      reshapeBatch(s.plugin,
          "the power iteration collects the per-dim direction each round", key,
          parts: _*) { df =>
        val v = vectors(df, id, vec)
        output match {
          case "loadings" => Similarity.pcaTopComponent(v, "_id", "_vec", iterations)
          case "project" => Similarity.pcaProject(v, "_id", "_vec", iterations)
          case _ => Similarity.pcaResidual(v, "_id", "_vec", iterations)
        }
      }
    }
  )
}
