package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.JsonExpressions
import graft.model.Cdc
import graft.ops.{RefCols, Registry}

/** `builtin:s3` connector config mapping (reference
  * `pkg/plugin/connector/builtin/registry.go:47`,
  * conduit-connector-s3 settings: `aws.accessKeyId`,
  * `aws.secretAccessKey`, `aws.region`, `aws.bucket`, `prefix`).
  * Object storage is a Hadoop FileSystem in Spark — the mapping is
  * credentials → `fs.s3a.*` conf + an `s3a://bucket/prefix` path; the
  * file read/write machinery is then identical to `builtin:file`.
  * `aws.url` points at MinIO/localstack-style endpoints; `scheme`
  * overrides `s3a` so tests (and any other Hadoop FS) can run the
  * same path without AWS.
  */
object S3Config {
  def configure(spark: SparkSession, settings: Map[String, String]): String = {
    val bucket = settings.getOrElse("aws.bucket",
      throw new IllegalArgumentException("builtin:s3: missing aws.bucket"))
    val conf = spark.sparkContext.hadoopConfiguration
    settings.get("aws.accessKeyId").foreach(conf.set("fs.s3a.access.key", _))
    settings.get("aws.secretAccessKey").foreach(conf.set("fs.s3a.secret.key", _))
    settings.get("aws.sessionToken").foreach(conf.set("fs.s3a.session.token", _))
    settings.get("aws.region").foreach(conf.set("fs.s3a.endpoint.region", _))
    settings.get("aws.url").foreach { u =>
      conf.set("fs.s3a.endpoint", u)
      conf.set("fs.s3a.path.style.access", "true")
    }
    val scheme = settings.getOrElse("scheme", "s3a")
    val prefix = settings.get("prefix").filter(_.nonEmpty).map("/" + _).getOrElse("")
    s"$scheme://$bucket$prefix"
  }
}

/** Pipeline execution on Structured Streaming (SURVEY §2.4/§2.7).
  *
  * Topology mapping (reference `pkg/lifecycle/service.go:493-534`):
  * each source (`readStream`) runs its per-connector processor chain,
  * fan-in is a streaming `unionByName`, pipeline processors follow,
  * and fan-out + DLQ happen in `foreachBatch`: the batch is persisted
  * once, every destination writes it (the all-sinks-ack barrier of
  * `stream/fanout.go:70-110` becomes batch atomicity), `_error`
  * records go to the DLQ sink, and the DLQ window circuit breaker
  * (`stream/dlq.go:41-52`) is evaluated on the driver.
  *
  * Delivery: checkpointed offsets + idempotent sinks give
  * at-least-once, upgraded to effectively-once for file/parquet sinks
  * (SURVEY §2.7 — strictly stronger than the reference's guarantee).
  *
  * Restarts (control-plane stop/start, supervisor recovery) reuse the
  * code an earlier start compiled: queries start through
  * [[StreamStarts.sharingCode]].
  */
object Runner {

  /** Thrown when the DLQ nack window trips
    * (reference `pipeline is stopped` semantics).
    */
  final class DlqThresholdExceeded(nacks: Long, window: Long, threshold: Long)
      extends RuntimeException(
        s"DLQ circuit breaker: $nacks nacks in last $window records exceeds $threshold")

  /** Build the source DataFrame for a connector config. */
  def source(spark: SparkSession, cfg: ConnectorConfig, streaming: Boolean): DataFrame = {
    val df = cfg.plugin match {
      case "builtin:generator" | "generator" =>
        if (streaming)
          spark.readStream.format("conduit-generator").options(cfg.settings).load()
        else spark.read.format("conduit-generator").options(cfg.settings).load()
      case "builtin:file" | "file" =>
        // reference semantics: tail ONE append-only file. When the
        // path is a single file (or tail=true) the conduit-file-tail
        // stream follows appended lines at byte offsets; a directory
        // streams whole new files (the Spark-native extension).
        val path = cfg.settings("path")
        val tailMode = streaming && (cfg.settings.get("tail").contains("true") ||
          new java.io.File(path).isFile)
        if (tailMode)
          spark.readStream.format("conduit-file-tail").options(cfg.settings).load()
        else {
          val lines =
            if (streaming) spark.readStream.format("text").load(path)
            else spark.read.format("text").load(path)
          lines.select(
            lit(null).cast("binary").as(Cdc.Position),
            lit("create").as(Cdc.Operation),
            map(lit("opencdc.collection"), lit(cfg.id)).as(Cdc.Metadata),
            lit(null).cast("binary").as(Cdc.KeyRaw),
            lit(null).cast("string").as(Cdc.Key),
            lit(null).cast("string").as(Cdc.PayloadBefore),
            col("value").as(Cdc.PayloadAfter))
        }
      case "builtin:kafka" | "kafka" =>
        val opts = KafkaMapping.sourceOptions(cfg.settings)
        val reader =
          if (streaming) spark.readStream.format("kafka").options(opts).load()
          else spark.read.format("kafka").options(opts).load()
        KafkaMapping.fromKafka(reader)
      case "parquet" =>
        val path = cfg.settings("path")
        val df =
          if (streaming) spark.readStream.format("parquet").load(path)
          else spark.read.parquet(path)
        Cdc.wrap(df, cfg.settings.getOrElse("key", df.columns.head), cfg.id)
      case "builtin:postgres" | "jdbc" =>
        // three CDC modes, like the reference connector: true logical
        // replication (pgoutput slot — LSN offsets, live-server
        // verified) when a slot/publication is configured, log-based
        // (LSN-offset change log) when a logTable is, else query-based
        val walBased = cfg.settings.contains("slot") ||
          cfg.settings.contains("publication") ||
          cfg.settings.contains("psql.opts")
        val logBased = cfg.settings.contains("logTable") ||
          cfg.settings.get("cdc.mode").contains("log")
        if (walBased) {
          require(streaming, "logical-replication CDC is a streaming source")
          spark.readStream.format("conduit-pgoutput").options(cfg.settings).load()
        } else if (logBased) {
          require(streaming, "log-based CDC is a streaming source")
          spark.readStream.format("conduit-cdc-log").options(cfg.settings).load()
        } else if (streaming)
          spark.readStream.format("conduit-jdbc").options(cfg.settings).load()
        else spark.read.format("conduit-jdbc").options(cfg.settings).load()
      case "builtin:s3" | "s3" =>
        // reference semantics: one record per object — raw content as
        // the payload, the object key as the record key
        val path = S3Config.configure(spark, cfg.settings)
        cfg.settings.get("format") match {
          case Some("parquet") =>
            val df =
              if (streaming) spark.readStream.format("parquet").load(path)
              else spark.read.parquet(path)
            Cdc.wrap(df, cfg.settings.getOrElse("key", df.columns.head), cfg.id)
          case _ =>
            val objects =
              if (streaming) spark.readStream.format("text")
                .option("wholetext", "true").load(path)
              else spark.read.option("wholetext", "true").text(path)
            objects.select(
              lit(null).cast("binary").as(Cdc.Position),
              lit("create").as(Cdc.Operation),
              map(lit("opencdc.collection"), lit(cfg.id)).as(Cdc.Metadata),
              lit(null).cast("binary").as(Cdc.KeyRaw),
              input_file_name().as(Cdc.Key),
              lit(null).cast("string").as(Cdc.PayloadBefore),
              col("value").as(Cdc.PayloadAfter))
        }
      case other =>
        throw new IllegalArgumentException(s"unknown source plugin: $other")
    }
    cfg.processors.foldLeft(df)((acc, p) =>
      Registry.create(p.plugin, p.settings)(acc, p.condition))
  }

  /** Source chains + fan-in + pipeline processors (everything before
    * the fan-out). The returned frame carries the `_error` channel.
    */
  def build(spark: SparkSession, pipeline: PipelineConfig,
            streaming: Boolean = true): DataFrame = {
    require(pipeline.sources.nonEmpty, s"pipeline ${pipeline.id}: no sources")
    val sources = pipeline.sources.map(s =>
      Cdc.withErrorChannel(source(spark, s, streaming)))
    val fanin = sources.reduce(_.unionByName(_))
    Cdc.withErrorChannel(
      pipeline.processors.foldLeft(fanin)((acc, p) =>
        Registry.create(p.plugin, p.settings)(acc, p.condition)))
  }

  /** OpenCDC wire-JSON rendering of a CDC frame (one line per record). */
  def renderJson(df: DataFrame): DataFrame =
    df.select(JsonExpressions.cdcToJson(
      Cdc.columns.map(col)).as("value"))

  /** In-memory sink buffers for tests/inspection (keyed by sink id). */
  val memorySinks = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
  def memorySink(id: String): Seq[String] =
    Option(memorySinks.get(id)).map(_.asScala.toSeq).getOrElse(Nil)

  /** Strict delivery order (PipelineConfig.ordered): one writer task,
    * rows sorted by position. Sorting by (length, bytes) gives numeric
    * order for the monotonic digit-string positions every builtin
    * source emits (generator index, JDBC incrementing column, CDC-log
    * LSN, file-tail byte offset) without requiring padded offsets.
    */
  private def ordered(df: DataFrame, pipeline: PipelineConfig): DataFrame =
    pipeline.ordered match {
      case "global" =>
        df.repartition(1)
          .sortWithinPartitions(length(col(Cdc.Position)).asc, col(Cdc.Position).asc)
      case "key" =>
        // Per-key order at full sink parallelism: hash-shuffle on the
        // record key co-locates each key, the within-partition sort
        // puts its records in position order, and the sink's
        // sequential per-partition iteration preserves that order.
        // Distinct keys interleave freely — the per-entity guarantee
        // CDC consumers need, without the global mode's 1-task funnel.
        df.repartition(col(Cdc.Key))
          .sortWithinPartitions(col(Cdc.Key).asc,
            length(col(Cdc.Position)).asc, col(Cdc.Position).asc)
      case _ => df
    }

  /** Write one (batch-of-a-)DataFrame to a destination connector.
    * Destination-level processors may fail records; those are NOT
    * written — they are returned so the caller routes them to the DLQ
    * (the reference's destination-nack semantics).
    */
  def writeBatch(df: DataFrame, cfg: ConnectorConfig): DataFrame = {
    val chained = Cdc.withErrorChannel(
      cfg.processors.foldLeft(df)((acc, p) =>
        Registry.create(p.plugin, p.settings)(acc, p.condition)))
    // destination-specific record validation: a record the sink cannot
    // accept (e.g. a payload field name that is not a legal SQL
    // identifier) nacks to the DLQ instead of failing the write task
    val processed = if (isJdbc(cfg)) JdbcWriter.validate(chained) else chained
    val out = Cdc.ok(processed)
    val failed = Cdc.failed(processed)
    write(out, cfg)
    failed
  }

  private def isJdbc(cfg: ConnectorConfig): Boolean =
    cfg.plugin == "builtin:postgres" || cfg.plugin == "jdbc"

  /** Whether a destination can nack records: it runs processors, or
    * validates records before writing (JDBC).
    */
  private def canNack(cfg: ConnectorConfig): Boolean = cfg.processors.nonEmpty || isJdbc(cfg)

  /** Failed records as the DLQ receives them: each carries its error in
    * the reference's DLQ metadata key, which every sink renders.
    */
  private def dlqRecords(failed: DataFrame): DataFrame =
    Cdc.withErrorChannel(failed).withColumn(Cdc.Metadata,
      RefCols.metaSet(col(Cdc.Metadata), DlqErrorKey, col(Cdc.Error)))

  /** Metadata key of a DLQ record's error, the reference's. */
  val DlqErrorKey = "conduit.dlq.nack.error"

  /** Per-record wire size (payload-after + key bytes) for the
    * Prometheus byte counters — string payloads (the wire-JSON
    * sources emit) measure directly, typed struct payloads measure
    * their JSON rendering (what a sink would serialize).
    */
  private def wireBytes(df: DataFrame): org.apache.spark.sql.Column = {
    val payload = df.schema(Cdc.PayloadAfter).dataType match {
      case org.apache.spark.sql.types.StringType => col(Cdc.PayloadAfter)
      case _ => to_json(col(Cdc.PayloadAfter))
    }
    coalesce(octet_length(payload), lit(0)).cast("long") +
      coalesce(octet_length(col(Cdc.Key)), lit(0)).cast("long")
  }

  private def write(out: DataFrame, cfg: ConnectorConfig): Unit = {
    cfg.plugin match {
      case "builtin:file" | "file" =>
        renderJson(out).write.mode("append").text(cfg.settings("path"))
      case "parquet" =>
        out.drop(Cdc.Error).write.mode("append").parquet(cfg.settings("path"))
      case "builtin:log" | "log" | "console" =>
        // bounded sample only — never collect a whole batch driver-side
        renderJson(out.limit(20)).collect()
          .foreach(r => println(s"[${cfg.id}] ${r.getString(0)}"))
      case "null" | "/dev/null" | "noop" =>
        out.write.format("noop").mode("overwrite").save()
      case "memory" =>
        // test-only sink; row cap guards a misconfigured prod pipeline
        // from collecting an unbounded batch onto the driver
        val cap = cfg.settings.getOrElse("maxRows", "100000").toInt
        val buf = memorySinks.computeIfAbsent(cfg.id,
          _ => new ConcurrentLinkedQueue[String]())
        renderJson(out.limit(cap)).collect().foreach(r => buf.add(r.getString(0)))
      case "builtin:postgres" | "jdbc" =>
        // keyed upsert per record (update-then-insert — portable where
        // MERGE isn't), the reference's destination semantics: `create/
        // update/snapshot` upsert, `delete` deletes by key
        JdbcWriter.write(out, cfg.settings)
      case "builtin:kafka" | "kafka" =>
        // per-record topic from the reference's Go-template setting
        // (default: the opencdc.collection metadata field)
        KafkaMapping.toKafka(out,
            cfg.settings.getOrElse("topic", KafkaMapping.DefaultTopicTemplate))
          .write.format("kafka")
          .options(KafkaMapping.sinkOptions(cfg.settings)).save()
      case "builtin:s3" | "s3" =>
        val path = S3Config.configure(out.sparkSession, cfg.settings)
        cfg.settings.get("format") match {
          case Some("parquet") =>
            out.drop(Cdc.Error).write.mode("append").parquet(path)
          case _ => // reference default: JSON objects
            renderJson(out).write.mode("append").text(path)
        }
      case other =>
        throw new IllegalArgumentException(s"unknown destination plugin: $other")
    }
  }

  /** Driver-side sliding nack window (reference `stream/dlq.go:41-52`:
    * a window of the last `windowSize` end-to-end results; more than
    * `threshold` nacks → pipeline failure).
    */
  private final class NackWindow(windowSize: Long, threshold: Long) {
    private val window = scala.collection.mutable.ArrayDeque.empty[(Long, Long)] // (acks, nacks)
    private var total = 0L
    def observe(acks: Long, nacks: Long): Unit = if (windowSize > 0) synchronized {
      window.append((acks, nacks)); total += acks + nacks
      while (total - (window.headOption.map(h => h._1 + h._2).getOrElse(0L)) >= windowSize
        && window.size > 1) {
        val h = window.removeHead(); total -= h._1 + h._2
      }
      val nackCount = window.iterator.map(_._2).sum
      if (nackCount > threshold)
        throw new DlqThresholdExceeded(nackCount, windowSize, threshold)
    }
  }

  /** Start the pipeline as a streaming query (fan-out in foreachBatch). */
  def start(spark: SparkSession, pipeline: PipelineConfig,
            checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    Metrics.attach(spark)
    val stream = build(spark, pipeline, streaming = true)
    val nackWindow = pipeline.dlq.map(d =>
      new NackWindow(d.windowSize.toLong, d.windowNackThreshold.toLong))
    val dlqSink = pipeline.dlq.map(d =>
      ConnectorConfig(s"${pipeline.id}-dlq", d.plugin, d.settings))

    val writer = stream.writeStream
      .queryName(pipeline.id)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val t0 = System.nanoTime()
        batch.persist()
        try {
          // inspector tap: bounded sample of the live stream
          Metrics.inspectorFor(pipeline.id).foreach { ins =>
            ins.offer(renderJson(batch.limit(100)).collect().map(_.getString(0)).toSeq)
          }
          val ok = ordered(Cdc.ok(batch), pipeline)
          // fan-out barrier: every destination writes before the batch
          // (and so its offsets) commits — all-or-nothing ack.
          // Destination-level failures nack too; only destinations
          // that can fail a record are counted (one job each).
          val destFailed = pipeline.destinations.map(d => d -> writeBatch(ok, d))
            .collect { case (d, f) if canNack(d) => f }
          val failed = (Cdc.failed(batch) +: destFailed).reduce(_.unionByName(_))
          // records, source nacks and wire bytes in ONE aggregate over
          // the persisted batch — feeds the Prometheus per-pipeline totals
          val statsRow = batch.agg(count(lit(1)).cast("long").as("c"),
            count(col(Cdc.Error)).cast("long").as("n"),
            coalesce(sum(wireBytes(batch)), lit(0L)).cast("long").as("b")).head()
          val total = statsRow.getLong(0)
          val nacks = statsRow.getLong(1) + destFailed.map(_.count()).sum
          val acks = math.max(0L, total - nacks)
          if (nacks > 0) dlqSink match {
            case Some(sink) => write(dlqRecords(failed), sink)
            case None => throw new IllegalStateException(
              s"pipeline ${pipeline.id}: $nacks failed records and no DLQ configured")
          }
          nackWindow.foreach(_.observe(acks, nacks))
          Metrics.observeBatch(pipeline.id, total, statsRow.getLong(2),
            nacks, System.nanoTime() - t0)
        } finally batch.unpersist()
      }
    StreamStarts.sharingCode(spark)(writer.start())
  }

  /** Run a bounded pipeline to completion (batch semantics): same
    * topology, one pass, returns per-destination record counts.
    */
  def runBatch(spark: SparkSession, pipeline: PipelineConfig): Map[String, Long] = {
    val df = build(spark, pipeline, streaming = false)
    df.persist()
    try {
      val ok = ordered(Cdc.ok(df), pipeline)
      val srcFailed = Cdc.failed(df)
      val destFailed = pipeline.destinations.map(d => writeBatch(ok, d))
      val failed = (srcFailed +: destFailed).reduce(_.unionByName(_))
      val dlqCount = failed.count()
      pipeline.dlq.foreach(d =>
        if (dlqCount > 0)
          write(dlqRecords(failed),
            ConnectorConfig(s"${pipeline.id}-dlq", d.plugin, d.settings)))
      Map("ok" -> (ok.count() - destFailed.map(_.count()).sum), "dlq" -> dlqCount)
    } finally df.unpersist()
  }
}
