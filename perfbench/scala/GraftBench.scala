package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.model.Cdc
import graft.ops.Registry
import graft.pipeline.{ConnectorConfig, DlqConfig, PipelineConfig, ProcessorConfig, Runner}

/** JVM side of the benchmark. Every call goes through the engine's public
  * entry points (`Runner.start` / `Runner.build` / `Runner.writeBatch`,
  * `Registry.create`, `SparkEntry.queries`); layer timings come from
  * Spark's public listeners and from timing those calls.
  *
  * Usage: GraftBench <params.properties>
  *
  * Builds the session and the workload (the pipeline frame, or the query
  * table) and prints `READY`: the harness times set-up from process
  * launch to there. Then runs the workload, writes `result.json` into the
  * work directory, prints `DONE` and waits to be killed.
  */
object GraftBench {
  type Result = java.util.Map[String, Any]

  def main(args: Array[String]): Unit = {
    val Array(paramsPath) = args
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(paramsPath))
    try props.load(in) finally in.close()
    val params = props.asScala.toMap
    val spark = session(params)
    val result = new java.util.LinkedHashMap[String, Any]()
    val run = params("workload") match {
      case "cdc_bulk" => prepareCdc(spark, params)
      case "analytics_suite" => prepareAnalytics(spark, params)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println("READY")
    System.out.flush()
    run(result)
    result.put("peak_rss_mb", peakRssMb())
    Files.writeString(Paths.get(params("workdir"), "result.json"),
      new ObjectMapper().writeValueAsString(result))
    println("DONE")
    System.out.flush()
    // the harness kills the JVM: nothing after this point is measured
    Thread.sleep(Long.MaxValue)
  }

  private def session(params: Map[String, String]): SparkSession = {
    val cores = params("cores")
    val work = params("workdir")
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def jmap(entries: Iterable[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    entries.foreach { case (k, v) => m.put(k, v) }
    m
  }

  // -------------------------------------------------------------- traces

  private val Marker = "perfbench-marker"

  private def isMarker(props: java.util.Properties): Boolean =
    props != null && props.getProperty("spark.jobGroup.id") == Marker

  /** Wait until every listener has seen the events posted so far: a
    * marker job runs, and the shared listener queue delivers its end
    * only after everything queued before it.
    */
  private def drainListeners(spark: SparkSession): Unit = {
    @volatile var markerJob = -1
    @volatile var seen = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isMarker(e.properties)) markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) seen = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setJobGroup(Marker, Marker)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(5)
    sc.removeSparkListener(l)
  }

  /** From its creation until `close`: jobs, stages and task metrics of
    * the jobs that start (a SparkListener), Catalyst phase time of the
    * query executions that start (a QueryExecutionListener), and jobs
    * plus first-stage tasks per streaming micro-batch.
    */
  final class Trace(spark: SparkSession) extends SparkListener {
    private val from = System.currentTimeMillis()
    private val stages = ConcurrentHashMap.newKeySet[Integer]()
    private val c = new ConcurrentHashMap[String, AtomicLong]()
    private def add(k: String, v: Long): Unit =
      c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
    /** micro-batch (query id, batch id) → (jobs, tasks of its first stage) */
    val perBatch = new ConcurrentHashMap[String, (Int, Int)]()

    private val plans = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty && phases.map(_.startTimeMs).min >= from)
          add("planning_ms", phases.map(_.durationMs).sum)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(plans)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.time >= from && !isMarker(e.properties)) {
        add("jobs", 1)
        e.stageInfos.foreach(s => stages.add(s.stageId))
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))
            .map(p.getProperty("sql.streaming.queryId") + "/" + _))
          .foreach { b =>
            val first = if (e.stageInfos.isEmpty) 0 else e.stageInfos.minBy(_.stageId).numTasks
            perBatch.merge(b, (1, first), (a, n) => (a._1 + n._1, a._2))
          }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stages.contains(e.stageInfo.stageId)) add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        add("tasks", 1)
        add("executor_run_ms", m.executorRunTime)
        add("executor_cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("records_read", m.inputMetrics.recordsRead)
      }

    /** Stop listening; the totals divided by `per` (rounds of work). */
    def close(per: Double): java.util.Map[String, Any] = {
      drainListeners(spark)
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(plans)
      def get(k: String) = Option(c.get(k)).map(_.get).getOrElse(0L).toDouble
      jmap(Seq("planning_ms", "jobs", "stages", "tasks", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "executor_run_ms", "gc_ms", "records_read")
        .map(k => k -> get(k) / per) :+ ("executor_cpu_ms" -> get("executor_cpu_ns") / 1e6 / per))
    }
  }

  // ----------------------------------------------------------------- CDC

  /** Debezium unwrap, a templated metadata tag, a conditional drop, a
    * conditional reject to the DLQ and a rename.
    */
  val chain: Seq[ProcessorConfig] = Seq(
    ProcessorConfig("unwrap", "unwrap.debezium"),
    ProcessorConfig("tag", "field.set",
      Map("field" -> ".Metadata.bench.tag", "value" -> "graft-{{ .Operation }}")),
    ProcessorConfig("drop", "filter",
      condition = Some("""{{ eq .Payload.After.status "void" }}""")),
    ProcessorConfig("reject", "error",
      Map("message" -> "rejected {{ .Payload.After.id }}"),
      condition = Some("""{{ eq .Payload.After.status "held" }}""")),
    ProcessorConfig("rename", "field.rename",
      Map("mapping" -> ".Payload.After.cust:customer_id")))

  /** The chain between a tailed file and parquet + JSON destinations,
    * with a JSON DLQ.
    */
  def pipeline(input: String, out: String, batchBytes: String): PipelineConfig =
    PipelineConfig(
      id = "perfbench",
      sources = Seq(ConnectorConfig("src", "builtin:file", Map(
        "path" -> input, "tail" -> "true", "collection" -> "orders",
        "maxBytesPerBatch" -> batchBytes))),
      processors = chain,
      destinations = Seq(
        ConnectorConfig("pq", "parquet", Map("path" -> s"$out/parquet")),
        ConnectorConfig("js", "builtin:file", Map("path" -> s"$out/json"))),
      dlq = Some(DlqConfig("builtin:file", Map("path" -> s"$out/dlq"))))

  private def progressJson(p: StreamingQueryProgress): java.util.Map[String, Any] = jmap(Seq(
    "timestamp_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
    "rows" -> p.numInputRows,
    "end_offset" -> p.sources.headOption.map(_.endOffset).orNull,
    "duration_ms" -> jmap(p.durationMs.asScala.map { case (k, v) => k -> v.longValue() })))

  /** Rounds until `seconds` have passed, and at least `minRounds`. */
  private def rounds[T](params: Map[String, String])(round: Int => T): Seq[T] = {
    val minRounds = params("min_rounds").toInt
    val limit = System.nanoTime() + (params("seconds").toDouble * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[T]
    while (out.size < minRounds || System.nanoTime() < limit) out += round(out.size)
    out.toSeq
  }

  private def prepareCdc(spark: SparkSession, params: Map[String, String]): Result => Unit = {
    val work = params("workdir")
    val batchBytes = params("batch_bytes")
    def roundPipeline(r: Int) = pipeline(params("input"), s"$work/out/$r", batchBytes)
    Runner.build(spark, roundPipeline(0), streaming = true)
    result => {
      // warm-up: one untimed round of the same pipeline over a staged
      // input as large as the measured one (after a smaller warm-up the
      // first measured round still ran about 25 % slower than the rest)
      val warm = pipeline(params("warm_input"), s"$work/warm_out", batchBytes)
      Runner.start(spark, warm, s"$work/warm_ckpt", Trigger.AvailableNow()).awaitTermination()

      val trace = if (params("trace") == "1") Some(new Trace(spark)) else None
      val gc0 = gcMs()
      // each round runs the pipeline over the input into fresh outputs
      val done = rounds(params) { r =>
        val t0 = System.currentTimeMillis()
        val q = Runner.start(spark, roundPipeline(r), s"$work/ckpt/$r", Trigger.AvailableNow())
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        jmap(Seq("query_start_ms" -> t0, "progress" ->
          q.recentProgress.filter(_.numInputRows > 0).map(progressJson).toSeq.asJava))
      }
      result.put("rounds", done.asJava)
      result.put("gc_ms", gcMs() - gc0)
      trace.foreach { t =>
        result.put("spark", t.close(done.size.toDouble))
        val per = t.perBatch.asScala.values.toSeq
        result.put("jobs_per_batch", median(per.map(_._1.toDouble)))
        result.put("tasks_per_batch", median(per.map(_._2.toDouble)))
        layerProbes(spark, roundPipeline(0), s"$work/probe_out", result)
      }
    }
  }

  /** Batch-mode timings of each layer over the staged input: the scan
    * alone, prefix chains of the processors (Registry.create), the whole
    * chain (Runner.build), and each destination write (Runner.writeBatch)
    * of a cached batch. Each is the median of three timed passes; the
    * measured streaming run before them has already warmed the JIT.
    */
  private def layerProbes(spark: SparkSession, p: PipelineConfig, out: String,
                          result: Result): Unit = {
    def timed(f: => Unit): Double =
      median((1 to 3).map { _ => val t0 = System.nanoTime(); f; ms(t0) })
    val scan = Runner.source(spark, p.sources.head, streaming = false)
    val prefix = (0 to chain.size).map { k =>
      val df = chain.take(k).foldLeft(scan)((acc, c) =>
        Registry.create(c.plugin, c.settings)(acc, c.condition))
      timed(noop(df))
    }
    result.put("scan_ms", prefix.head)
    result.put("processor_ms", jmap(chain.indices.map(i =>
      chain(i).plugin -> (prefix(i + 1) - prefix(i)))))
    val built = Runner.build(spark, p, streaming = false)
    result.put("chain_ms", timed(noop(built)) - prefix.head)
    result.put("records_in", scan.count())
    val cached = built.persist()
    val ok = Cdc.ok(cached)
    result.put("records_out", ok.count())
    val failed = Cdc.failed(cached).drop(Cdc.Error)
    var n = 0
    def sink(plugin: String): ConnectorConfig = {
      n += 1
      ConnectorConfig(s"probe$n", plugin, Map("path" -> s"$out/$n"))
    }
    result.put("write_parquet_ms", timed(Runner.writeBatch(ok, sink("parquet"))))
    result.put("write_file_ms", timed(Runner.writeBatch(ok, sink("builtin:file"))))
    result.put("dlq_ms", timed(Runner.writeBatch(failed, sink("builtin:file"))))
    cached.unpersist()
  }

  // ----------------------------------------------------------- analytics

  private def prepareAnalytics(spark: SparkSession, params: Map[String, String]): Result => Unit = {
    val work = params("workdir")
    val data = params("data")
    val names = params("queries").split(",").toSeq
    val all = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val fns = names.map(n => n -> all.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))
    result => {
      result.put("oracle_sql", jmap(names.map(n => n -> oracles.getOrElse(n, null))))
      val errors = new java.util.LinkedHashMap[String, Any]()
      def attempt(n: String)(f: => Unit): Unit =
        try f catch { case e: Exception => errors.put(n, String.valueOf(e.getMessage)) }

      // untimed warm-up pass; its results are the ones checked
      val reads = new Trace(spark)
      result.put("cold_ms", jmap(fns.map { case (n, f) =>
        val t0 = System.nanoTime()
        attempt(n)(f(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$work/out/$n"))
        n -> ms(t0)
      }))
      result.put("rows_read_per_round", reads.close(1.0).get("records_read"))

      val trace = if (params("trace") == "1") Some(new Trace(spark)) else None
      val gc0 = gcMs()
      val done = rounds(params) { _ =>
        fns.map { case (n, f) =>
          val t0 = System.nanoTime()
          attempt(n)(noop(f(spark, data)))
          ms(t0)
        }
      }
      result.put("gc_ms", gcMs() - gc0)
      result.put("rounds", done.size)
      result.put("wall_ms", jmap(names.indices.map(i => names(i) -> done.map(_(i)).asJava)))
      result.put("errors", errors)
      trace.foreach(t => result.put("spark", t.close(done.size.toDouble)))
    }
  }
}
