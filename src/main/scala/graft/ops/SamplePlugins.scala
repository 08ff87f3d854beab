package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analytics.HashFunctions.{fnv1a_hash, splitmix64_hash}
import graft.analytics.{HashFunctions, Sampling}
import graft.model.{Cdc, Ref}
import Plugins._
import Registry.{Entry, Settings}

/** Sampling and mixing plugins. Every random choice is a seeded hash of
  * the record's id, so each picks the same records on every run and
  * any partitioning. Payload ids of any type hash through fnv1a first,
  * so a STRING id's bucket is stable but not the library operator's
  * numeric-id bucket. The filters and annotators keep the CDC schema
  * and compose mid-chain; the plan reshapes need the whole batch.
  */
private[ops] object SamplePlugins {

  /** Keep the records whose seeded id bucket (of 4096) falls under
    * their stratum's cut; a stratum without a cut drops. There are few
    * strata (languages, domains), so the cut table rides as a literal
    * when-chain: no join, and data rows never shuffle. */
  private def cutFilter(df: DataFrame, stratum: Column, id: Ref, seed: Long,
                        cuts: Map[String, Long]): DataFrame = {
    val cutExpr = cuts.foldLeft(lit(null).cast("long")) { case (acc, (k, cut)) =>
      when(col("_stratum") === lit(k), lit(cut)).otherwise(acc)
    }
    val bucket = Sampling.bucketOf(fnv1a_hash(fieldCol(df, id)), seed)
    df.withColumn("_stratum", stratum)
      .withColumn("_cut", cutExpr)
      .filter(col("_cut").isNotNull && bucket < col("_cut"))
      .drop("_stratum", "_cut")
  }

  /** The cuts of the largest downsample-only mix meeting `targets`,
    * given each target stratum's measured size. */
  private def mixtureCuts(plugin: String, sizes: Array[(String, Long)],
                          targets: Seq[(String, Double)]): Map[String, Long] = {
    val tmap = targets.toMap
    val missing = tmap.keySet -- sizes.map(_._1)
    require(missing.isEmpty,
      s"$plugin: target strata with no rows: ${missing.toSeq.sorted.mkString(", ")}")
    require(sizes.forall(_._2 > 0),
      s"$plugin: target strata with zero tokens: ${sizes.filter(_._2 <= 0).map(_._1).sorted.mkString(", ")}")
    val budget = sizes.map { case (k, c) => c.toDouble / tmap(k) }.min
    sizes.map { case (k, c) =>
      (k, math.floor(math.min(1.0, tmap(k) * budget / c.toDouble) * 4096.0).toLong)
    }.toMap
  }

  /** Mixture targets: named, positive, and summing to 1. */
  private def checkTargets(s: Settings, targets: Seq[(String, Double)]): Unit = {
    s.check(targets.nonEmpty && targets.forall(_._2 > 0),
      "targets must be non-empty with positive proportions")
    s.check(targets.map(_._1).distinct.size == targets.size,
      "duplicate target stratum")
    s.check(math.abs(targets.map(_._2).sum - 1.0) < 1e-9,
      "target proportions must sum to 1")
  }

  val entries: Seq[Entry] = Seq(
    Entry("sample.hash", "Deterministic hash sampling by fraction.",
      Seq(opt("field", "", "empty = whole payload"), opt("fraction", "0.1"),
        opt("seed", "0")))(
      s => SampleHash(s.opt("field").map(Ref.parse), s.double("fraction"),
        s.long("seed"))),
    // exactly min(k, |group|) per group, ranked inline on the CDC frame:
    // no self-join, so batches without positions work too
    Entry("sample.fixed", "Exactly-k per group (deterministic).",
      Seq(req("groups", Lang), req("id", Id),
        opt("k", "1000"), opt("seed", "0"))) { s =>
      val (groups, id) = (s.refs("groups"), s.ref("id"))
      val (k, seed) = (s.int("k"), s.long("seed"))
      s.check(groups.nonEmpty, "need groups")
      Processor(s.plugin) { df =>
        val idc = fieldCol(df, id)
        val w = Window.partitionBy(groups.map(r => fieldCol(df, r)): _*)
          .orderBy(splitmix64_hash(fnv1a_hash(idc) + lit(seed)), idc)
        df.withColumn("_sfr", row_number().over(w))
          .filter(col("_sfr") <= k)
          .drop("_sfr")
      }
    },
    // Efraimidis-Spirakis keys from the seeded hash, one global LIMIT k;
    // the weight is floored at 1 like the operator's
    Entry("sample.weighted", "Weighted k-sample (Efraimidis-Spirakis).",
      Seq(req("id", Id), req("weight", ".Payload.After.weight"),
        opt("k", "1000"), opt("seed", "0"))) { s =>
      val (id, weight) = (s.ref("id"), s.ref("weight"))
      val (k, seed) = (s.int("k"), s.long("seed"))
      Processor(s.plugin) { df =>
        val h = fnv1a_hash(fieldCol(df, id))
        val u = (shiftrightunsigned(splitmix64_hash(h + lit(seed)), 11)
          .cast("double") + lit(0.5)) / lit(9007199254740992.0)
        df.withColumn("_samp_key", HashFunctions.java_ln(u) /
            greatest(fieldCol(df, weight).cast("double"), lit(1.0)))
          .orderBy(col("_samp_key").desc, h.asc)
          .limit(k)
          .drop("_samp_key")
      }
    },
    // every row of a group lands in the same split: i.i.d. row splits
    // leak group signal into eval when a group's rows are correlated
    Entry("sample.split", "Deterministic train/val/test splits.",
      Seq(req("group", Id), req("fractions", "train:0.8,val:0.1,test:0.1"),
        opt("seed", "0"))) { s =>
      val group = s.ref("group")
      val (fractions, seed) = (s.weights("fractions"), s.long("seed"))
      s.check(fractions.map(_._1).distinct.size == fractions.size,
        "duplicate split name")
      annotate(s.plugin)(df => Seq("split" -> Sampling.splitColumn(
        fnv1a_hash(fieldCol(df, group)), fractions, seed)))
    },
    Entry("sample.kfold", "Deterministic k-fold assignment.",
      Seq(req("id", Id), opt("k", "5"), opt("seed", "0"))) { s =>
      val id = s.ref("id")
      val (k, seed) = (s.int("k"), s.long("seed"))
      s.check(k >= 2 && k <= 1000, s"k=$k")
      annotate(s.plugin)(df => Seq("fold" -> pmod(splitmix64_hash(
        fnv1a_hash(fieldCol(df, id)) + lit(seed)), lit(k.toLong)).cast("string")))
    },
    // budget B = min cₛ/pₛ, per-stratum cut pₛ·B/cₛ; unnamed strata drop
    Entry("sample.mixture", "Doc-count mixture toward target proportions.",
      Seq(req("stratum", Lang), req("id", Id),
        req("targets", "en:0.8,de:0.2"), opt("seed", "0"))) { s =>
      val (stratum, id) = (s.ref("stratum"), s.ref("id"))
      val (targets, seed) = (s.weights("targets"), s.long("seed"))
      checkTargets(s, targets)
      val plugin = s.plugin
      Processor(plugin) { df =>
        val st = fieldCol(df, stratum)
        val sizes = df.select(st.as("_stratum"))
          .filter(col("_stratum").isin(targets.map(_._1): _*))
          .groupBy(col("_stratum")).agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
        cutFilter(df, st, id, seed, mixtureCuts(plugin, sizes, targets))
      }
    },
    // each record is emitted floor(e) times plus a hash-gated extra for
    // the fraction; copies carry `epoch.index`; e=0 is an explicit drop
    Entry("sample.epochs",
      "Fractional-epoch up-sampling: emit floor(e) copies + hash-gated extra.",
      Seq(req("stratum", Lang), req("id", Id),
        req("epochs", "en:1.0,de:2.3"), opt("seed", "0"))) { s =>
      val (stratum, id) = (s.ref("stratum"), s.ref("id"))
      val (epochs, seed) = (s.weights("epochs"), s.long("seed"))
      s.check(epochs.nonEmpty, "epochs must be non-empty")
      s.check(epochs.forall { case (_, e) => e >= 0 && e <= 64 },
        "epochs must be in [0, 64]")
      s.check(epochs.map(_._1).distinct.size == epochs.size,
        "duplicate epochs stratum")
      Processor(s.plugin) { df =>
        val st = fieldCol(df, stratum)
        def byStratum(f: Double => Long) =
          epochs.foldLeft(lit(null).cast("long")) { case (acc, (k, e)) =>
            when(st === lit(k), lit(f(e))).otherwise(acc)
          }
        val whole = byStratum(e => math.floor(e).toLong)
        val cut = byStratum(e => math.floor((e - math.floor(e)) * 4096.0).toLong)
        val bucket = Sampling.bucketOf(fnv1a_hash(fieldCol(df, id)), seed)
        df.withColumn("_reps", whole + when(bucket < cut, lit(1L)).otherwise(lit(0L)))
          .filter(col("_reps") > 0)
          .withColumn("_epoch", explode(sequence(lit(0L), col("_reps") - 1)))
          .withColumn(Cdc.Metadata, RefCols.metaSet(col(Cdc.Metadata),
            "epoch.index", col("_epoch").cast("string")))
          .drop("_reps", "_epoch")
      }
    },
    // sample.mixture with the shares measured in TOKENS: 50% of the
    // tokens, not of the documents
    Entry("sample.token_mixture",
      "Token-weighted mixture toward target proportions (batch-only).",
      Seq(req("stratum", Lang), req("id", Id), req("tokens", Tokens),
        req("targets", "en:0.8,de:0.2"), opt("seed", "0"))) { s =>
      val (stratum, id, tokens) = (s.ref("stratum"), s.ref("id"), s.ref("tokens"))
      val (targets, seed) = (s.weights("targets"), s.long("seed"))
      checkTargets(s, targets)
      val plugin = s.plugin
      Processor(plugin, "per-stratum token totals are collected at plan time") { df =>
        val st = fieldCol(df, stratum)
        val sizes = df.select(st.as("_stratum"), fieldCol(df, tokens).cast("long").as("_tk"))
          .filter(col("_stratum").isin(targets.map(_._1): _*))
          .groupBy(col("_stratum")).agg(sum(col("_tk")).cast("long").as("c"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
        cutFilter(df, st, id, seed, mixtureCuts(plugin, sizes, targets))
      }
    },
    // KL(realized‖target) per stratum, read before and after a
    // sample.token_mixture run
    Entry("sample.mixture_kl",
      "KL divergence of realized token shares vs a target mix (batch-only).",
      Seq(req("stratum", Lang), req("tokens", Tokens),
        req("targets", "en:0.8,de:0.2"))) { s =>
      val (stratum, tokens) = (s.ref("stratum"), s.ref("tokens"))
      val targets = s.weights("targets")
      reshapeBatch(s.plugin, "corpus-level share aggregation", "stratum")(df =>
        Sampling.mixtureKl(flat(df, Seq(stratum -> "_stratum"),
            fieldCol(df, tokens).cast("long").as("_tk")), "_stratum", "_tk", targets)
          .withColumnRenamed("_stratum", "stratum"))
    },
    // feed the planned epochs into sample.epochs to realize the plan
    Entry("sample.unimax",
      "UniMax budget split (Chung et al. 2023): uniform under an epoch cap (batch-only).",
      Seq(req("stratum", Lang), req("tokens", Tokens),
        req("budget", "1000000"), opt("maxEpochs", "4.0"))) { s =>
      val (stratum, tokens) = (s.ref("stratum"), s.ref("tokens"))
      val (budget, maxEpochs) = (s.long("budget"), s.double("maxEpochs"))
      reshapeBatch(s.plugin, "corpus-level token aggregation", "stratum")(df =>
        Sampling.unimaxAllocation(flat(df, Seq(stratum -> "_stratum"),
            fieldCol(df, tokens).cast("long").as("_tk")), "_stratum", "_tk",
          budget, maxEpochs))
    },
    // the c=0 closed form; sample.mixture / sample.epochs realize it
    Entry("sample.doremi",
      "DoReMi EG mixture weights from per-domain excess losses (batch-only).",
      Seq(req("domain", Lang), req("step", ".Payload.After.step"),
        req("loss", ".Payload.After.loss"), opt("eta", "1.0"))) { s =>
      val (domain, step, loss) = (s.ref("domain"), s.ref("step"), s.ref("loss"))
      val eta = s.double("eta")
      reshapeBatch(s.plugin, "corpus-level loss aggregation", "domain")(df =>
        Sampling.doremiWeights(flat(df, Seq(domain -> "_domain"),
            fieldCol(df, step).cast("long").as("_step"),
            fieldCol(df, loss).cast("double").as("_loss")), "_domain", "_step", "_loss",
          eta))
    },
    // the exact NTILE of each record's (score, id) order, from the
    // plan-time score histogram's prefix sums: no single-task window
    Entry("sample.curriculum",
      "Exact-NTILE curriculum phase by difficulty score (batch-only).",
      Seq(req("id", Id), req("score", Tokens), opt("phases", "4"))) { s =>
      val (id, score) = (s.ref("id"), s.ref("score"))
      val phases = s.int("phases")
      s.check(phases >= 2, s"phases=$phases")
      val plugin = s.plugin
      Processor(plugin, "the score histogram is collected at plan time") { df =>
        val base = df
          .withColumn("_s", asLong(fieldCol(df, score)))
          .withColumn("_ord", fieldCol(df, id))
        val scored = base.filter(col("_s").isNotNull)
        require(!scored.isEmpty, s"$plugin: no records with a numeric score")
        // records without a numeric score pass through unannotated
        Sampling.withCurriculumPhase(scored, "_ord", phases)
          .withColumn(Cdc.Metadata, RefCols.metaSet(col(Cdc.Metadata),
            "curriculum.phase", col("phase").cast("string")))
          .drop("_s", "_ord", "phase")
          .unionByName(base.filter(col("_s").isNull).drop("_s", "_ord"))
      }
    },
    // the CCNet head/middle/tail gate: stratum = language, score =
    // text.sbo fluency; ids tie-break as strings
    Entry("sample.tiles",
      "Exact per-stratum NTILE into metadata `tile` — CCNet head/middle/tail gate (batch-only; null scores drop).",
      Seq(req("stratum", Lang), req("score", ".Metadata.sbo.score"), req("id", Id),
        opt("tiles", "3"), opt("binWidth", "0.01"))) { s =>
      val (stratum, score, id) = (s.ref("stratum"), s.ref("score"), s.ref("id"))
      val (tiles, binWidth) = (s.int("tiles"), s.double("binWidth"))
      Processor(s.plugin, "per-stratum rank over the corpus") { df =>
        val staged = df
          .withColumn("_tst", fieldCol(df, stratum))
          .withColumn("_tsc", fieldCol(df, score).cast("double"))
          .withColumn("_tid", fieldCol(df, id))
        Sampling.stratifiedTiles(staged, "_tst", "_tsc", "_tid", tiles, binWidth)
          .withColumn(Cdc.Metadata,
            RefCols.metaSet(col(Cdc.Metadata), "tile", col("tile").cast("string")))
          .drop("_tst", "_tsc", "_tid", "tile")
      }
    },
    // per-stratum counts come to the driver; records with a null
    // stratum drop (they can match no cut)
    Entry("sample.temperature", "Temperature-scaled stratum rebalancing.",
      Seq(req("stratum", Lang), req("id", Id),
        opt("temperature", "2.0"), opt("seed", "0"))) { s =>
      val (stratum, id) = (s.ref("stratum"), s.ref("id"))
      val (temperature, seed) = (s.double("temperature"), s.long("seed"))
      s.check(temperature >= 1.0, "temperature < 1 would upsample; this is a filter")
      Processor(s.plugin) { df =>
        val exp = 1.0 / temperature
        def w(c: Long): Double =
          if (exp == 0.5) math.sqrt(c.toDouble) else math.pow(c.toDouble, exp)
        val st = fieldCol(df, stratum)
        val counts = df.select(st.as("_stratum"))
          .filter(col("_stratum").isNotNull)
          .groupBy(col("_stratum")).agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
          .sortBy(_._1)
        if (counts.isEmpty) df.filter(lit(false))
        else {
          val total = counts.iterator.map(_._2).sum
          val sumW = counts.foldLeft(0.0)((acc, kv) => acc + w(kv._2))
          cutFilter(df, st, id, seed, counts.map { case (k, c) =>
            val target = total.toDouble * w(c) / sumW
            (k, math.floor(math.min(1.0, target / c.toDouble) * 4096.0).toLong)
          }.toMap)
        }
      }
    },
    // numeric ids (the draw re-hash is arithmetic on them); a draw
    // landing on the row itself drops — raise k or bucketBits for exactly-k
    Entry("sample.negatives", "Deterministic negative sampling for pairs.",
      Seq(req("id", Id), opt("k", "2"), opt("bucketBits", "6"),
        opt("seed", "7"))) { s =>
      val id = s.ref("id")
      val (k, bucketBits, seed) = (s.int("k"), s.int("bucketBits"), s.long("seed"))
      reshape(s.plugin, "_kk", "_id", "draw")(df =>
        Sampling.negativeSample(df.select(fieldCol(df, id).cast("long").as("_id")),
          "_id", k, bucketBits, seed))
    },
    // numeric ids; the training-order shuffle identical on any layout
    Entry("sample.interleave", "Deterministic global training-order shuffle (batch-only).",
      Seq(req("id", Id), opt("seed", "0"))) { s =>
      val id = s.ref("id")
      val seed = s.long("seed")
      reshapeBatch(s.plugin, "global shuffle-rank window", "_id")(df =>
        Sampling.interleave(df.select(fieldCol(df, id).cast("long").as("_id")), "_id",
          seed))
    },
    // numeric ids and token counts: the packing key is arithmetic on them
    Entry("sample.pack", "Greedy sequence packing into token budgets (batch-only).",
      Seq(req("id", Id), req("tokens", Tokens),
        req("budget", "512"), opt("streams", "8"), opt("seed", "0"))) { s =>
      val (id, tokens) = (s.ref("id"), s.ref("tokens"))
      val (budget, streams, seed) = (s.long("budget"), s.int("streams"), s.long("seed"))
      s.check(budget > 0 && streams > 0, "budget and streams must be positive")
      reshapeBatch(s.plugin, "global interleave rank + per-stream scan", "_id")(df =>
        Sampling.packSequences(df.select(fieldCol(df, id).cast("long").as("_id"),
          fieldCol(df, tokens).cast("long").as("_tokens")), "_id", "_tokens", budget,
          streams, seed))
    }
  )
}
