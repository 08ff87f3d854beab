package graft.pipeline

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Pipeline observability (reference §2.4):
  *
  *  - MetricsNode (`pkg/lifecycle/stream/metrics.go:24` — per-pipeline
  *    record/byte throughput) → a `StreamingQueryListener` fed by
  *    Spark's own progress events: no extra pass over the data.
  *  - Inspector (`pkg/inspector/inspector.go:28,33,55` — live tap with
  *    a bounded ring buffer, dropping when full) → a driver-side ring
  *    fed from `foreachBatch` with a bounded `limit` collect per batch.
  */
object Metrics {

  final case class QuerySnapshot(batches: Long, inputRows: Long,
                                 lastRowsPerSecond: Double)

  private val counters = new ConcurrentHashMap[String, (AtomicLong, AtomicLong)]()
  @volatile private var lastRate = Map.empty[String, Double]

  private def of(name: String) =
    counters.computeIfAbsent(name, _ => (new AtomicLong, new AtomicLong))

  private val attached =
    java.util.Collections.newSetFromMap(
      new ConcurrentHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** Attach the listener once per session (idempotent). */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit =
    if (attached.add(spark)) spark.streams.addListener(listener)

  /** Attach once per SparkSession. */
  def listener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val name = Option(e.progress.name).getOrElse(e.progress.id.toString)
      val (batches, rows) = of(name)
      batches.incrementAndGet()
      rows.addAndGet(e.progress.numInputRows)
      lastRate += name -> e.progress.processedRowsPerSecond
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def snapshot(pipelineId: String): QuerySnapshot = {
    val (batches, rows) = of(pipelineId)
    QuerySnapshot(batches.get(), rows.get(), lastRate.getOrElse(pipelineId, 0.0))
  }

  /** Per-pipeline throughput totals + a micro-batch duration histogram,
    * fed by the Runner's foreachBatch (one extra aggregate column on a
    * pass the batch loop already makes — no separate scan). The
    * reference's Prometheus vocabulary (`pkg/foundation/metrics/measure/
    * measure.go:38-110`: records/bytes counters + execution-duration
    * timers per pipeline) rendered without a client library — the text
    * exposition format is plain lines.
    */
  final class PipelineStats {
    val records = new AtomicLong
    val bytes = new AtomicLong
    val batches = new AtomicLong
    val nacks = new AtomicLong
    val durationSumNanos = new AtomicLong
    val bucketCounts = new java.util.concurrent.atomic.AtomicLongArray(
      Metrics.DurationBuckets.length + 1) // + the +Inf bucket
  }

  /** Histogram bucket upper bounds (seconds) for micro-batch duration —
    * the reference's execution-duration timer range widened upward,
    * since a Spark micro-batch has a ~1 s planning/commit floor. */
  val DurationBuckets: Array[Double] =
    Array(0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1, 2.5, 5, 10, 30, 60)

  private val stats = new ConcurrentHashMap[String, PipelineStats]()
  def statsFor(id: String): PipelineStats =
    stats.computeIfAbsent(id, _ => new PipelineStats)

  /** Record one completed micro-batch (or bounded-run pass). */
  def observeBatch(id: String, records: Long, bytes: Long, nacks: Long,
                   durationNanos: Long): Unit = {
    val s = statsFor(id)
    s.records.addAndGet(records)
    s.bytes.addAndGet(bytes)
    s.nacks.addAndGet(nacks)
    s.batches.incrementAndGet()
    s.durationSumNanos.addAndGet(durationNanos)
    val sec = durationNanos / 1e9
    val i = DurationBuckets.indexWhere(sec <= _)
    s.bucketCounts.incrementAndGet(if (i < 0) DurationBuckets.length else i)
  }

  private def esc(v: String): String =
    v.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case '\n' => "\\n"
      case c    => c.toString
    }

  private def fmt(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString

  /** Render every pipeline's metrics in Prometheus text exposition
    * format (version 0.0.4 — `# HELP`/`# TYPE` headers, one sample per
    * line). `pipelines` supplies the registered ids and their status
    * string so status gauges cover pipelines that have not produced a
    * batch yet.
    */
  def prometheus(pipelines: Seq[(String, String)]): String = {
    val sb = new StringBuilder
    def header(name: String, help: String, kind: String): Unit =
      sb.append(s"# HELP $name $help\n# TYPE $name $kind\n")

    header("graft_info", "Information about the engine.", "gauge")
    sb.append("graft_info{version=\"").append(esc(graft.ops.PluginCatalog.Version))
      .append("\"} 1\n")

    header("graft_pipelines", "Number of pipelines by status.", "gauge")
    pipelines.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (st, ps) =>
      sb.append("graft_pipelines{status=\"").append(esc(st)).append("\"} ")
        .append(ps.size).append('\n')
    }

    header("graft_pipeline_status",
      "A pipeline's status (1 running, 0 otherwise).", "gauge")
    pipelines.sortBy(_._1).foreach { case (id, st) =>
      sb.append("graft_pipeline_status{pipeline_name=\"").append(esc(id))
        .append("\"} ").append(if (st == "running") 1 else 0).append('\n')
    }

    val ids = pipelines.map(_._1).sorted
    def counter(name: String, help: String)(v: String => Long): Unit = {
      header(name, help, "counter")
      ids.foreach { id =>
        sb.append(name).append("{pipeline_name=\"").append(esc(id))
          .append("\"} ").append(v(id)).append('\n')
      }
    }
    counter("graft_pipeline_records_total",
      "Number of records a pipeline processed.")(statsFor(_).records.get())
    counter("graft_pipeline_bytes_total",
      "Number of wire-format payload bytes a pipeline processed.")(
      statsFor(_).bytes.get())
    counter("graft_pipeline_nacks_total",
      "Number of records a pipeline nacked to the DLQ.")(
      statsFor(_).nacks.get())
    counter("graft_pipeline_batches_total",
      "Number of micro-batches a pipeline completed.")(
      statsFor(_).batches.get())

    header("graft_pipeline_last_rows_per_second",
      "Processing rate Spark reported for the pipeline's last micro-batch.",
      "gauge")
    ids.foreach { id =>
      sb.append("graft_pipeline_last_rows_per_second{pipeline_name=\"")
        .append(esc(id)).append("\"} ")
        .append(fmt(lastRate.getOrElse(id, 0.0))).append('\n')
    }

    header("graft_pipeline_batch_duration_seconds",
      "Wall-clock duration of a pipeline's micro-batches.", "histogram")
    ids.foreach { id =>
      val s = statsFor(id)
      var cum = 0L
      DurationBuckets.zipWithIndex.foreach { case (ub, i) =>
        cum += s.bucketCounts.get(i)
        sb.append("graft_pipeline_batch_duration_seconds_bucket{pipeline_name=\"")
          .append(esc(id)).append("\",le=\"").append(fmt(ub)).append("\"} ")
          .append(cum).append('\n')
      }
      cum += s.bucketCounts.get(DurationBuckets.length)
      sb.append("graft_pipeline_batch_duration_seconds_bucket{pipeline_name=\"")
        .append(esc(id)).append("\",le=\"+Inf\"} ").append(cum).append('\n')
      sb.append("graft_pipeline_batch_duration_seconds_sum{pipeline_name=\"")
        .append(esc(id)).append("\"} ")
        .append(fmt(s.durationSumNanos.get() / 1e9)).append('\n')
      sb.append("graft_pipeline_batch_duration_seconds_count{pipeline_name=\"")
        .append(esc(id)).append("\"} ").append(cum).append('\n')
    }

    header("graft_inspector_sessions",
      "Number of open inspector sessions by pipeline.", "gauge")
    val insIds = scala.jdk.CollectionConverters
      .EnumerationHasAsScala(inspectors.keys()).asScala.toSeq.sorted
    insIds.foreach { id =>
      sb.append("graft_inspector_sessions{component_id=\"").append(esc(id))
        .append("\"} ").append(inspectors.get(id).sessionCount).append('\n')
    }
    sb.result()
  }

  /** Inspector ring buffer: last `capacity` wire-JSON records per tap
    * session; excess records in a batch are dropped (reference
    * drop-on-full semantics, buffer default 1000).
    */
  final class Inspector(val id: String, capacity: Int = 1000,
                        maxSessions: Int = 64, idleTimeoutMs: Long = 60000L) {
    private val ring = new java.util.concurrent.ArrayBlockingQueue[String](capacity)
    private final class Session(cap: Int) {
      val q = new java.util.concurrent.ArrayBlockingQueue[String](cap)
      val lastDrain = new AtomicLong(System.currentTimeMillis())
    }
    private val sessions = new ConcurrentHashMap[String, Session]()
    private val sessionSeq = new AtomicLong()

    /** Drop sessions nobody has drained within the idle timeout: a
      * caller that died between openSession and its finally (or forgot
      * closeSession) must not pin a buffer that offer() fills on the
      * streaming hot path forever (the reference closes sessions on
      * context cancel — wall-clock idleness is the facade-agnostic
      * equivalent). */
    private def expireIdle(now: Long): Unit =
      sessions.forEach { (k, s) =>
        if (now - s.lastDrain.get() > idleTimeoutMs) sessions.remove(k)
      }

    private[pipeline] def offer(records: Seq[String]): Unit = {
      records.foreach { r => if (!ring.offer(r)) () } // drop when full
      if (!sessions.isEmpty) {
        expireIdle(System.currentTimeMillis())
        sessions.forEach { (_, s) =>
          records.foreach { r => if (!s.q.offer(r)) () }
        }
      }
    }
    def drain(): Seq[String] = {
      val out = new java.util.ArrayList[String]()
      ring.drainTo(out)
      scala.jdk.CollectionConverters.ListHasAsScala(out).asScala.toSeq
    }

    /** Open a private tap session (reference `inspector.go:33` — each
      * Inspect call gets its own bounded buffer, so concurrent
      * inspectors never steal each other's records). Close it when the
      * stream ends; abandoned sessions expire after `idleTimeoutMs`
      * without a drain, and concurrent sessions are capped. */
    def openSession(capacity: Int = 1000): String = {
      expireIdle(System.currentTimeMillis()) // dead callers don't pin the cap
      if (sessions.size >= maxSessions) throw new IllegalStateException(
        s"inspector $id: $maxSessions concurrent sessions already open")
      val key = s"$id-session-${sessionSeq.incrementAndGet()}"
      sessions.put(key, new Session(capacity))
      key
    }
    /** Drain a session's buffered records. Returns `None` for an
      * unknown or idle-expired key — distinct from `Some(Nil)` ("no
      * records yet") so a caller polling slower than `idleTimeoutMs`
      * sees its tap died and can reopen, instead of polling a dead
      * key forever. */
    def drainSession(key: String): Option[Seq[String]] =
      Option(sessions.get(key)).map { s =>
        s.lastDrain.set(System.currentTimeMillis())
        val out = new java.util.ArrayList[String]()
        s.q.drainTo(out)
        scala.jdk.CollectionConverters.ListHasAsScala(out).asScala.toSeq
      }
    def sessionExists(key: String): Boolean = sessions.containsKey(key)
    def closeSession(key: String): Unit = sessions.remove(key)
    def sessionCount: Int = sessions.size
  }

  private val inspectors = new ConcurrentHashMap[String, Inspector]()
  def inspector(id: String, capacity: Int = 1000): Inspector =
    inspectors.computeIfAbsent(id, _ => new Inspector(id, capacity))
  def inspectorFor(id: String): Option[Inspector] = Option(inspectors.get(id))
}
