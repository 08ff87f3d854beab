package graft.ops

import org.apache.spark.sql.functions._

import graft.analytics.{Dedup, Similarity, Urls}
import graft.model.{Cdc, Ref}
import Plugins._
import Registry.Entry

/** Deduplication plugins: exact and canonical-URL dedup that stream,
  * and batch reshapes that emit near-duplicate pairs, clusters with
  * keep verdicts, or soft weights — never all-pairs: every candidate
  * generator is bucketed and `maxBucket`- or `maxDf`-bounded.
  */
private[ops] object DedupPlugins {

  val entries: Seq[Entry] = Seq(
    Entry("dedup.exact", "Exact dedup on a field (or the whole record).",
      Seq(opt("field", "", "empty = whole payload")))(
      s => DedupExact(s.opt("field").map(Ref.parse))),
    // RFC 3986 syntax-based canonical form, row-local and streamable:
    // feed the key into dedup.exact / dedup.incremental downstream
    Entry("dedup.url", "Canonical-URL dedup (scheme/host/query cleanup).",
      Seq(opt("field", After))) { s =>
      val field = s.ref("field")
      ColumnProcessor(s.plugin) { df =>
        val canon = Urls.canonicalize(fieldCol(df, field))
        // a null url leaves metadata untouched: a null-valued key would
        // weld all such records into one dedup group downstream
        Map(Cdc.Metadata -> when(canon.isNotNull,
          RefCols.metaSet(col(Cdc.Metadata), "url.canonical", canon))
          .otherwise(col(Cdc.Metadata)))
      }
    },
    // banded buckets, exact-Jaccard verify; charGrams=true shingles
    // characters (the dedup.ngram n-gram-Jaccard mode)
    Entry("dedup.minhash", "MinHash-LSH near-dup pairs over shingles.",
      Seq(req("id", Id), opt("field", After), opt("shingleSize", "3"),
        opt("numHashes", "128"), opt("numBands", "16"),
        opt("threshold", "0.8"), opt("charGrams", "false"),
        opt("maxBucket", "4096"))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val (shingleSize, numHashes) = (s.int("shingleSize"), s.int("numHashes"))
      val (numBands, threshold) = (s.int("numBands"), s.double("threshold"))
      val (charGrams, maxBucket) = (s.bool("charGrams"), s.int("maxBucket"))
      reshape(s.plugin, "_k", "id_a", "id_b")(df =>
        Dedup.minhashPairs(docs(df, id, field), "_id", "_text", shingleSize,
          numHashes, numBands, threshold, charGrams, maxBucket))
    },
    Entry("dedup.simhash", "SimHash near-dup pairs within Hamming radius.",
      Seq(req("id", Id), opt("field", After), opt("maxHamming", "3"),
        opt("maxBucket", "4096"))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val (maxHamming, maxBucket) = (s.int("maxHamming"), s.int("maxBucket"))
      reshape(s.plugin, "_k", "id_a", "id_b")(df =>
        Dedup.simhashPairs(docs(df, id, field), "_id", "_text", maxHamming, maxBucket))
    },
    // SimHash pairs → connected components → min-id representative
    Entry("dedup.clusters", "Near-dup connected components + keep verdicts.",
      Seq(req("id", Id), opt("field", After), opt("maxHamming", "3"))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val maxHamming = s.int("maxHamming")
      reshape(s.plugin, "doc_id")(df =>
        Dedup.clusters(docs(df, id, field), "_id", "_text", maxHamming))
    },
    // no document dropped: each cluster's total weight is one document
    Entry("dedup.softweight", "1/cluster_size soft-dedup training weights.",
      Seq(req("id", Id), opt("field", After), opt("maxHamming", "3"))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val maxHamming = s.int("maxHamming")
      s.check(maxHamming >= 0 && maxHamming <= 16, s"maxHamming=$maxHamming")
      reshapeBatch(s.plugin,
          "iterative connected components with per-round checkpoints", "doc_id")(df =>
        Dedup.softWeights(docs(df, id, field), "_id", "_text", maxHamming))
    },
    // seeded spherical k-means partitions, within-cluster bounded pairs
    Entry("dedup.semantic", "Embedding-cosine near-dup (SemDeDup-style).",
      Seq(req("id", Id), req("vec", Vec), opt("k", "16"),
        opt("threshold", "0.95"), opt("maxBucket", "4096"))) { s =>
      val (id, vec) = (s.ref("id"), s.ref("vec"))
      val (k, threshold, maxBucket) = (s.int("k"), s.double("threshold"), s.int("maxBucket"))
      reshape(s.plugin, "vec_id")(df =>
        Similarity.semanticDedup(vectors(df, id, vec), "_id", "_vec", k, threshold,
          maxBucket))
    },
    // the history is a persisted parquet table: digest semi-join, the
    // batch never shuffles its text
    Entry("dedup.incremental", "Batch-vs-history exact dedup verdicts.",
      Seq(req("id", Id), req("historyTable", "/data/history"),
        opt("historyField", "text"), opt("field", After))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val (table, tableField) = (s.str("historyTable"), s.str("historyField"))
      reshape(s.plugin, "doc_id") { df =>
        val hist = df.sparkSession.read.parquet(table)
          .select(col(tableField).cast("string").as("_text"))
        Dedup.incremental(docs(df, id, field), hist, "_id", "_text")
      }
    },
    // Schleimer et al. 2003; fingerprints in more than maxDf docs are
    // boilerplate and capped away
    Entry("dedup.winnow",
      "Winnowing fingerprint match: doc pairs sharing window-min grams (batch-only).",
      Seq(req("id", Id), opt("field", After), opt("k", "4"), opt("w", "8"),
        opt("minShared", "2"), opt("maxDf", "64"))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val (k, w) = (s.int("k"), s.int("w"))
      val (minShared, maxDf) = (s.int("minShared"), s.int("maxDf"))
      s.check(k >= 1 && w >= 1 && minShared >= 1 && maxDf >= 1,
        s"k=$k w=$w minShared=$minShared maxDf=$maxDf")
      reshapeBatch(s.plugin, "cross-document fingerprint posting joins", "pair",
          "doc_a", "doc_b")(df =>
        Dedup.winnowPairs(docs(df, id, field), "_id", "_text", k, w, minShared, maxDf))
    }
  )
}
