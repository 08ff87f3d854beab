package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analytics.HashFunctions.{fnv1a_hash, splitmix64_hash}
import graft.analytics.{DataQuality, Dedup, Fences, Joins, Layout, Linkage, Privacy,
  Retrieval, Sequences, Stats, Temporal}
import graft.model.{Cdc, Ref}
import Plugins._
import Registry.Entry

/** Entity and table plugins: privacy audits and pseudonymization,
  * record linkage and skyline joins, retrieval rankings, event
  * sequences, CDC history, data-quality gates, outlier screens, layout
  * keys, as-of enrichment and the corpus datasheet. The reshapes key
  * each record by the identity of its result row (group tuple, pair,
  * rank); the record-local ones keep the CDC schema.
  */
private[ops] object TablePlugins {

  /** A frame materialized on first use and kept for the life of the
    * processor that holds it. */
  private final class Frozen extends Serializable {
    @transient private var frame: DataFrame = null
    def apply(make: => DataFrame): DataFrame = synchronized {
      if (frame == null) frame = make
      frame
    }
  }

  /** The batch as (`_id`, `_block`, `_text`) records to link. */
  private def blocked(df: DataFrame, id: Ref, block: Ref, field: Ref) =
    flat(df, Seq(id -> "_id", block -> "_block", field -> "_text"))

  /** The batch as (`_e`, `_ord`, `_tie`, `_st`) entity events. */
  private def events(df: DataFrame, entity: Ref, order: Ref, tie: Ref, state: Ref) =
    flat(df, Seq(entity -> "_e"), fieldCol(df, order).cast("long").as("_ord"),
      fieldCol(df, tie).as("_tie"), fieldCol(df, state).as("_st"))

  private val linkSettings = Seq(req("id", Id), req("block", ".Payload.After.zip"),
    req("field", ".Payload.After.name"), opt("minSim", "0.9"), opt("maxBlock", "10000"))
  private val eventSettings = Seq(req("entity", ".Payload.After.user"),
    req("order", ".Payload.After.ts"), req("tie", ".Payload.After.event_id"),
    req("state", ".Payload.After.kind"))

  val entries: Seq[Entry] = Seq(
    // splitmix64(fnv1a(value) + secret): joins still work within a
    // release, unlinkable without the secret; rotate it per release
    Entry("privacy.pseudonymize", "Keyed pseudonymization of id fields.",
      Seq(req("fields", ".Payload.After.user"), opt("secret", "0"))) { s =>
      val (fields, secret) = (s.refs("fields"), s.long("secret"))
      s.check(fields.nonEmpty, "need fields")
      Processor(s.plugin)(df => fields.foldLeft(df) { (d, ref) =>
        writeField(d, ref,
          splitmix64_hash(fnv1a_hash(fieldCol(d, ref)) + lit(secret)).cast("string"))
      })
    },
    // one record per surviving group of the generalization ladder
    Entry("privacy.kanon", "K-anonymity verdicts per quasi-identifier group.",
      Seq(req("fields", ".Payload.After.zip"), opt("k", "2"))) { s =>
      val (fields, minK) = (named(s.refs("fields"), "field"), s.long("k"))
      s.check(fields.nonEmpty, "need fields")
      val names = fields.map(_._2)
      reshape(s.plugin, "_k", "level" +: names: _*)(df =>
        Privacy.kAnonymize(flat(df, fields), names, minK))
    },
    Entry("privacy.ldiv", "L-diversity verdicts for a sensitive field.",
      Seq(req("fields", ".Payload.After.zip"),
        req("sensitive", ".Payload.After.diagnosis"), opt("l", "2"))) { s =>
      val (fields, sensitive) = (named(s.refs("fields"), "qi"), s.ref("sensitive"))
      val minL = s.long("l")
      s.check(fields.nonEmpty, "need fields")
      val names = fields.map(_._2)
      reshape(s.plugin, "_k", names: _*)(df => Privacy.lDiversity(
        flat(df, fields, fieldCol(df, sensitive).as("_sens")), names, "_sens", minL))
    },
    Entry("privacy.tclose", "T-closeness distances for a sensitive field.",
      Seq(req("fields", ".Payload.After.zip"),
        req("sensitive", ".Payload.After.diagnosis"))) { s =>
      val (fields, sensitive) = (named(s.refs("fields"), "qi"), s.ref("sensitive"))
      s.check(fields.nonEmpty, "need fields")
      val names = fields.map(_._2)
      reshape(s.plugin, "_k", names: _*)(df => Privacy.tCloseness(
        flat(df, fields, fieldCol(df, sensitive).as("_sens")), names, "_sens"))
    },
    Entry("privacy.noise", "Laplace-noised counts per group.",
      Seq(req("fields", ".Payload.After.zip"), opt("epsilon", "1.0"),
        opt("seed", "0"))) { s =>
      val fields = named(s.refs("fields"), "field")
      val (epsilon, seed) = (s.double("epsilon"), s.long("seed"))
      s.check(fields.nonEmpty, "need fields")
      val names = fields.map(_._2)
      reshape(s.plugin, "_k", names: _*)(df =>
        Privacy.noisyCount(flat(df, fields), names, epsilon, seed))
    },
    // maxBlock-capped blocked self-join; the kernel bit-matches
    // DuckDB's rapidfuzz Jaro-Winkler
    Entry("linkage.jw", "Jaro-Winkler fuzzy links within blocks.", linkSettings) { s =>
      val (id, block, field) = (s.ref("id"), s.ref("block"), s.ref("field"))
      val (minSim, maxBlock) = (s.double("minSim"), s.int("maxBlock"))
      reshape(s.plugin, "_k", "id_a", "id_b") { df =>
        val b = blocked(df, id, block, field)
        Linkage.fuzzyLinks(b, b, "_id", "_id", "_block", "_text", minSim,
          selfPairs = true, maxBlock = maxBlock)
      }
    },
    Entry("linkage.score", "Fellegi-Sunter linkage scores (m/u weights).",
      Seq(req("id", Id), req("block", ".Payload.After.zip"),
        req("fields", ".Payload.After.name:0.9:0.1"),
        opt("minScore", "0.0"), opt("maxBlock", "10000"))) { s =>
      val (id, block) = (s.ref("id"), s.ref("block"))
      val fields = s.items("fields", "REF:m:u", ";") { spec =>
        val Array(ref, m, u) = spec.split(":")
        (Ref.parse(ref), m.toDouble, u.toDouble)
      }
      val (minScore, maxBlock) = (s.double("minScore"), s.int("maxBlock"))
      s.check(fields.nonEmpty, "need fields")
      val names = fields.indices.map(i => s"f_$i")
      reshape(s.plugin, "_k", "id_a", "id_b") { df =>
        val f = flat(df, Seq(id -> "_id", block -> "_block") ++
          fields.zip(names).map { case ((r, _, _), n) => r -> n })
        Linkage.linkageScore(f, f, "_id", "_id", "_block",
          names.zip(fields).map { case (n, (_, m, u)) => (n, m, u) },
          minScore, selfPairs = true, maxBlock = maxBlock)
      }
    },
    // the link_clusters gate composition: fuzzy pairs within blocks
    // feed connected components, one entity id per matched record
    Entry("link.clusters", "Entity clusters from fuzzy links.", linkSettings) { s =>
      val (id, block, field) = (s.ref("id"), s.ref("block"), s.ref("field"))
      val (minSim, maxBlock) = (s.double("minSim"), s.int("maxBlock"))
      reshape(s.plugin, "record") { df =>
        val b = blocked(df, id, block, field)
        val pairs = Linkage.fuzzyLinks(b, b, "_id", "_id", "_block", "_text", minSim,
          selfPairs = true, maxBlock = maxBlock)
        Dedup.components(pairs, "id_a", "id_b")
          .select(col("id").as("record"), col("label").as("entity"))
      }
    },
    Entry("joins.skyline", "Pareto skyline (maximize x, minimize y) per group.",
      Seq(req("groups", Lang), req("x", ".Payload.After.score"),
        req("y", ".Payload.After.cost"))) { s =>
      val groups = named(s.refs("groups"), "group")
      val (x, y) = (s.ref("x"), s.ref("y"))
      val names = groups.map(_._2)
      reshape(s.plugin, "_k", names ++ Seq("_x", "_y"): _*)(df =>
        Joins.skyline2D(flat(df, groups, asLong(fieldCol(df, x)).as("_x"),
          asLong(fieldCol(df, y)).as("_y")), names, "_x", "_y"))
    },
    Entry("retrieval.tfidf", "TF-IDF term weights per document.",
      Seq(req("id", Id), opt("field", After), opt("minDf", "2"))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val minDf = s.long("minDf")
      reshape(s.plugin, "_k", "doc_id", "term")(df =>
        Retrieval.tfidf(docs(df, id, field), "_id", "_text", minDf))
    },
    Entry("retrieval.rm3",
      "BM25 with RM3 pseudo-relevance feedback (batch-only).",
      Seq(req("id", Id), req("query", "hash join merge"),
        opt("field", After), opt("k1", "1.2"), opt("b", "0.75"),
        opt("fbDocs", "3"), opt("fbTerms", "5"), opt("alpha", "0.6"),
        opt("topK", "10"))) { s =>
      val (id, field, query) = (s.ref("id"), s.ref("field"), s.str("query"))
      val (k1, b) = (s.double("k1"), s.double("b"))
      val (fbDocs, fbTerms) = (s.int("fbDocs"), s.int("fbTerms"))
      val (alpha, topK) = (s.double("alpha"), s.int("topK"))
      s.check(query.trim.nonEmpty, "need query")
      val terms = query.trim.toLowerCase.split("\\s+").toSeq
      reshapeBatch(s.plugin, "two corpus-ranking passes", "_k", "query_id", "rank")(df =>
        Retrieval.rm3(docs(df, id, field), "_id", "_text", Seq("q" -> terms), k1, b,
          fbDocs, fbTerms, alpha, topK))
    },
    Entry("retrieval.bm25", "BM25 ranking against a query string.",
      Seq(req("id", Id), req("query", "spark analytics"), opt("field", After),
        opt("k1", "1.2"), opt("b", "0.75"), opt("topK", "10"))) { s =>
      val (id, field, query) = (s.ref("id"), s.ref("field"), s.str("query"))
      val (k1, b, topK) = (s.double("k1"), s.double("b"), s.int("topK"))
      s.check(query.trim.nonEmpty, "need query")
      val terms = query.trim.toLowerCase.split("\\s+").toSeq
      reshape(s.plugin, "_k", "query_id", "rank")(df =>
        Retrieval.bm25(docs(df, id, field), "_id", "_text", Seq("q" -> terms), k1, b,
          topK))
    },
    Entry("retrieval.keywords", "Top-k TF-IDF keywords per document.",
      Seq(req("id", Id), opt("field", After), opt("k", "10"), opt("minDf", "2"))) { s =>
      val (id, field) = (s.ref("id"), s.ref("field"))
      val (k, minDf) = (s.int("k"), s.long("minDf"))
      reshape(s.plugin, "_k", "doc_id", "kw_rank")(df =>
        Retrieval.keywords(flat(df, Seq(id -> "_doc", field -> "_text")), "_doc",
          "_text", k, minDf))
    },
    Entry("seq.ngrams", "Frequent order-n event sequences per entity.",
      eventSettings ++ Seq(opt("n", "3"), opt("minSupport", "2"))) { s =>
      val (entity, order) = (s.ref("entity"), s.ref("order"))
      val (tie, state) = (s.ref("tie"), s.ref("state"))
      val (n, minSupport) = (s.int("n"), s.long("minSupport"))
      reshape(s.plugin, "gram")(df =>
        Sequences.frequentNgrams(events(df, entity, order, tie, state), Seq("_e"),
          col("_ord"), col("_tie"), col("_st"), n, minSupport))
    },
    Entry("seq.transitions", "Markov transition counts per entity.",
      eventSettings) { s =>
      val (entity, order) = (s.ref("entity"), s.ref("order"))
      val (tie, state) = (s.ref("tie"), s.ref("state"))
      reshape(s.plugin, "_k", "prev", "next")(df =>
        Sequences.transitionMatrix(events(df, entity, order, tie, state), Seq("_e"),
          col("_ord"), col("_tie"), col("_st")))
    },
    // versions of a key order by position within the batch (or by
    // order.field, for positions that don't sort numerically); pair
    // with StreamingOps.scd2Sink for cross-batch history
    Entry("cdc.scd2", "Slowly-changing-dimension type-2 intervals.",
      Seq(opt("order.field", "", "default: record position"),
        opt("deleteOp", "delete"))) { s =>
      val (orderRef, deleteOp) = (s.opt("order.field").map(Ref.parse), s.str("deleteOp"))
      Processor(s.plugin) { df =>
        val ord = orderRef.map(r => asLong(fieldCol(df, r)))
          .getOrElse(asLong(col(Cdc.Position).cast("string")))
        val tie = col(Cdc.Position).cast("string")
        val w = Window.partitionBy(col(Cdc.Key)).orderBy(ord.asc, tie.asc)
        val meta = Seq("scd2.valid_from" -> coalesce(col("_vf").cast("string"), lit("")),
          "scd2.valid_to" -> coalesce(col("_vt").cast("string"), lit("")),
          "scd2.is_current" -> col("_vt").isNull.cast("string"))
          .foldLeft(col(Cdc.Metadata)) { case (m, (k, v)) => RefCols.metaSet(m, k, v) }
        df.withColumn("_vf", ord)
          .withColumn("_vt", lead(col("_vf"), 1).over(w))
          .filter(col(Cdc.Operation) =!= lit(deleteOp))
          .withColumn(Cdc.Metadata, meta)
          .drop("_vf", "_vt")
      }
    },
    // checks: not_null:REF[:maxFrac], in_range:REF:lo:hi,
    // values_in:REF:a|b|c, unique:REF[+REF…], distinct_between:REF:lo:hi
    Entry("dq.validate", "Declarative data-quality checks (; separated).",
      Seq(req("checks", "not_null:.Payload.After.doc_id"))) { s =>
      import DataQuality._
      // one f_<index> column per DISTINCT ref: a readable "f_" + path
      // name collides (refs a.b vs a_b) and would validate the wrong
      // field; check_id is the user-facing name
      val names = scala.collection.mutable.LinkedHashMap.empty[Ref, String]
      def colName(ref: String): String =
        names.getOrElseUpdate(Ref.parse(ref), s"f_${names.size}")
      // each check parsed now, so a malformed one fails the build
      val checks = s.items("checks",
          "not_null|in_range|values_in|unique|distinct_between:REF[:args]", ";") { spec =>
        spec.split(":").toSeq.map(_.trim) match {
          case Seq("not_null", ref, frac @ _*) if frac.size <= 1 =>
            val (c, f) = (colName(ref), frac.headOption.fold(0.0)(_.toDouble))
            NotNull(_: String, c, f)
          case Seq("in_range", ref, lo, hi) =>
            val (c, l, h) = (colName(ref), lo.toDouble, hi.toDouble)
            InRange(_: String, c, l, h)
          case Seq("values_in", ref, values) =>
            val c = colName(ref)
            ValuesIn(_: String, c, values.split("\\|").toSeq)
          case Seq("unique", refs) =>
            val cs = refs.split("\\+").toSeq.map(colName)
            Unique(_: String, cs)
          case Seq("distinct_between", ref, lo, hi) =>
            val (c, l, h) = (colName(ref), lo.toLong, hi.toLong)
            DistinctCountBetween(_: String, c, l, h)
        }
      }.zipWithIndex.map { case (check, i) => check(s"c$i") }
      s.check(checks.nonEmpty, "need checks")
      val fields = names.toSeq
      reshape(s.plugin, "check_id")(df => validate(flat(df, fields), checks))
    },
    // reference columns match each field's LAST path segment
    Entry("dq.reconcile", "Field-level diff against a reference table.",
      Seq(req("key", Id), req("compare", ".Payload.After.amount"),
        req("table", "/data/reference"))) { s =>
      val (keys, compare) = (named(s.refs("key"), "f"), named(s.refs("compare"), "f"))
      val table = s.str("table")
      s.check(keys.nonEmpty && compare.nonEmpty, "need key and compare fields")
      val (kn, cn) = (keys.map(_._2), compare.map(_._2))
      reshape(s.plugin, "_k", kn: _*) { df =>
        val ref = df.sparkSession.read.parquet(table)
          .select((kn ++ cn).map(n => col(n).cast("string").as(n)): _*)
        DataQuality.reconcile(flat(df, keys ++ compare), ref, kn, cn)
      }
    },
    // keeps the outliers (the anomaly read); decimal-integer z-scores
    // are bit-stable under partitioning
    Entry("stats.outliers", "Z-score outlier verdicts per group.",
      Seq(req("groups", Lang), req("value", ".Payload.After.amount"),
        opt("z", "3"), opt("scale", "2"))) { s =>
      val (groups, value) = (s.refs("groups"), s.ref("value"))
      val (z, scale) = (s.int("z"), s.int("scale"))
      s.check(groups.nonEmpty, "need groups")
      val gNames = groups.indices.map(i => s"_g$i")
      Processor(s.plugin) { df =>
        val withCols = groups.zip(gNames).foldLeft(
          df.withColumn("_val", fieldCol(df, value).cast("double"))) {
          case (d, (r, n)) => d.withColumn(n, fieldCol(d, r))
        }
        Stats.zscoreOutliers(withCols, gNames, "_val", z, scale)
          .drop(gNames :+ "_val": _*)
      }
    },
    // a sink range-sorts on the key for min/max file skipping; hilbert
    // has better locality, in 2-D only
    Entry("layout.key", "Z-order / Hilbert interleaved layout key.",
      Seq(req("fields", ".Payload.After.x,.Payload.After.y"),
        opt("bits", "16"), opt("kind", "zorder"))) { s =>
      val (fields, bits, kind) = (s.refs("fields"), s.int("bits"), s.str("kind"))
      s.check(fields.size >= 2, "need >= 2 fields")
      s.check(kind == "zorder" || kind == "hilbert",
        s"kind must be zorder|hilbert, got $kind")
      s.check(kind != "hilbert" || fields.size == 2, "hilbert is 2-D")
      annotate(s.plugin) { df =>
        def num(r: Ref) = asLong(fieldCol(df, r))
        val key =
          if (kind == "hilbert") Layout.hilbertKey(num(fields(0)), num(fields(1)), bits)
          else Layout.zorderKey(fields.map(num), bits)
        Seq("layout.key" -> key.cast("string"))
      }
    },
    // Inclusive as-of (feature-store semantics): values land in metadata
    // as asof.<col>, null-valued ones omitted, and asof.matched carries
    // the join verdict. The reference side broadcasts and each record
    // binary-searches its key's sorted versions, so the record stream is
    // never shuffled or sorted.
    Entry("enrich.asof", "As-of join against a versioned dimension table.",
      Seq(req("key", ".Payload.After.k"), req("time", ".Payload.After.t"),
        req("table", "/data/prices"), req("values", "price"),
        opt("tableKey", "key"), opt("tableTime", "ts"))) { s =>
      val (key, time, table) = (s.ref("key"), s.ref("time"), s.str("table"))
      val (tableKey, tableTime) = (s.str("tableKey"), s.str("tableTime"))
      val values = s.list("values")
      s.check(values.nonEmpty, "values must be non-empty")
      // The dimension is a snapshot, static for the processor's lifetime:
      // its packed version-array table is materialized once, by
      // Fences.fence, the first time this processor transforms a frame,
      // and every micro-batch's stream-static join re-reads those blocks
      // instead of re-scanning the parquet dim and re-running the dedup
      // + pack aggregations (two shuffles) per batch. Versions added to
      // `table` later are not seen until the processor is re-created.
      val dim = new Frozen
      Processor(s.plugin) { df =>
        val withKt = df
          .withColumn("_ak", fieldCol(df, key))
          .withColumn("_at", fieldCol(df, time).cast("long"))
        val packed = dim(Fences.fence(Temporal.packAsOfRight(
          df.sparkSession.read.parquet(table).select(Seq(
            col(tableKey).cast("string").as("_rk"), col(tableTime).cast("long").as("_rt"),
            lit(1L).as("_asof_hit")) ++ values.map(col): _*),
          "_rk", "_rt", values :+ "_asof_hit", dedupRight = true)))
        // a constant marker rides the join, so the JOIN decides match /
        // no match: a matched version may carry NULL values
        val joined = Temporal.joinPackedAsOf(withKt, packed, "_ak", "_at",
          values :+ "_asof_hit")
        val meta = values.foldLeft(RefCols.metaSet(col(Cdc.Metadata), "asof.matched",
          col("_asof_hit").isNotNull.cast("string"))) { (m, c) =>
          when(col(c).isNotNull,
            RefCols.metaSet(m, s"asof.$c", col(c).cast("string"))).otherwise(m)
        }
        joined.withColumn(Cdc.Metadata, meta)
          .drop("_ak" +: "_at" +: "_asof_hit" +: values: _*)
      }
    },
    // every metric is a bounded aggregate (one-row, per-stratum or
    // pair-grid): no document is collected, so the card runs at any size
    Entry("report.datacard",
      "Corpus datasheet as ONE terminal record; optional md+json files (batch-only).",
      Seq(req("id", Id), req("lang", Lang), opt("field", After),
        opt("path", "", "directory for the md+json files; none written when unset"))) { s =>
      val (id, field, lang) = (s.ref("id"), s.ref("field"), s.ref("lang"))
      val path = s.opt("path")
      reshapeBatch(s.plugin, "corpus-level aggregation", "_kk") { df =>
        val card = graft.tools.DataCard.buildFrom(
          flat(df, Seq(id -> "doc_id", field -> "text", lang -> "lang")))
        path.foreach { p =>
          val dir = java.nio.file.Paths.get(p)
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.writeString(dir.resolve("datacard.md"), card.markdown)
          java.nio.file.Files.writeString(dir.resolve("datacard.json"), card.json)
        }
        val spark = df.sparkSession
        import spark.implicits._
        spark.read.json(Seq(card.json).toDS()).withColumn("_kk", lit("datacard"))
      }
    }
  )
}
