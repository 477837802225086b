package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so the
  * benchmark's own spans line up with the millisecond timestamps Spark
  * puts on its listener events. */
object Clock {
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** One timed interval. `op` is the operation it belongs to (empty when a
  * listener could not tell; the analysis attributes those by time).
  * `parent` is a span id or -1. */
final case class Span(id: Int, op: String, parent: Int, name: String,
                      startMs: Double, endMs: Double, attrs: Map[String, String])

/** The traced run's recorder: the benchmark's own spans around each call
  * into a layer, plus three listeners (Spark scheduler, query execution,
  * streaming progress) whose events become spans and per-operation
  * counters; `Main` adds CodegenMetrics snapshots around the measured
  * window. Everything stays in memory until [[json]]. */
final class Trace(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(0)
  private val counters = new ConcurrentHashMap[String, ConcurrentHashMap[String, Double]]()
  /** Nanoseconds spent inside listener callbacks: the tracing cost. */
  val listenerNs = new AtomicLong(0)
  @volatile var rawDataPrefix: String = ""

  private def newId(): Int = nextId.incrementAndGet().toInt

  def add(op: String, parent: Int, name: String, startMs: Double, endMs: Double,
          attrs: Map[String, String] = Map.empty): Unit =
    if (enabled) spans.synchronized {
      spans += Span(newId(), op, parent, name, startMs, endMs, attrs)
    }

  /** Time `f` as a span named `name` under `parent`; `f` gets the span's
    * id, to hang child spans under it. */
  def span[A](op: String, parent: Int, name: String)(f: Int => A): A = {
    val id = newId()
    val t0 = Clock.nowMs
    try f(id)
    finally if (enabled) spans.synchronized {
      spans += Span(id, op, parent, name, t0, Clock.nowMs, Map.empty)
    }
  }

  def count(op: String, key: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(op, _ => new ConcurrentHashMap[String, Double]())
      .merge(key, v, (a: Double, b: Double) => a + b)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally listenerNs.addAndGet(System.nanoTime() - t0)
  }

  // ——— listeners ———

  private val jobStarts = new ConcurrentHashMap[Int, (String, String, Long)]()
  private val stageOp = new ConcurrentHashMap[Int, String]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(Trace.OpProperty))).getOrElse("")
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobStarts.put(e.jobId, (op, desc, e.time))
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStarts.remove(e.jobId)).foreach { case (op, desc, t0) =>
        add(op, -1, "exec.job", t0.toDouble, e.time.toDouble,
          if (desc.isEmpty) Map.empty else Map("desc" -> desc))
        count(op, "exec.jobs", 1)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      count(stageOp.getOrDefault(e.stageInfo.stageId, ""), "exec.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val op = stageOp.getOrDefault(e.stageId, "")
      val m = e.taskMetrics
      count(op, "exec.tasks", 1)
      if (m != null) {
        count(op, "exec.task_s", m.executorRunTime / 1e3)
        count(op, "exec.cpu_s", m.executorCpuTime / 1e9)
        count(op, "exec.gc_s", m.jvmGCTime / 1e3)
        count(op, "exec.shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        count(op, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        count(op, "exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        count(op, "exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        count(op, "exec.input_records", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed { record(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      timed { record(qe) }
  }

  /** Catalyst phase spans, the routing rule's time, and whether the
    * executed plan scanned raw input files or only materialized views. */
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    phases.foreach { case (name, p) =>
      if (name != "parsing")
        add("", -1, s"catalyst.$name", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    val at = phases.values.map(_.endTimeMs).maxOption.getOrElse(System.currentTimeMillis())
    val ruleNs = qe.tracker.rules.collect {
      case (n, r) if n.contains("RollupRouting") => r.totalTimeNs
    }.sum
    val roots = scans(qe.executedPlan)
    val raw = roots.count(_.startsWith(rawDataPrefix))
    add("", -1, "event.query", at.toDouble, at.toDouble, Map(
      "rule_s" -> (ruleNs / 1e9).toString,
      "scans" -> roots.size.toString,
      "raw_scans" -> raw.toString))
  }

  private def scans(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.toUri.getPath)
    case other => other.children.flatMap(scans)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      add("", -1, "stream.trigger", t0, t0 + d.getOrElse("triggerExecution", 0L), Map(
        "rows" -> p.numInputRows.toString,
        "add_batch_s" -> (d.getOrElse("addBatch", 0L) / 1e3).toString,
        "wal_commit_s" -> (d.getOrElse("walCommit", 0L) / 1e3).toString,
        "planning_s" -> (d.getOrElse("queryPlanning", 0L) / 1e3).toString))
    }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Let every posted event reach the listeners before reading them. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def json: String = {
    val ss = spans.synchronized(spans.toList)
    val spanJs = ss.map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "op" -> Json.str(s.op),
        "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
        "start" -> Json.num(s.startMs), "end" -> Json.num(s.endMs),
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.str(v) })))
    }
    val ctrJs = counters.asScala.toSeq.map { case (op, m) =>
      op -> Json.obj(m.asScala.toSeq.map { case (k, v) => k -> Json.num(v) })
    }
    Json.obj(Seq("spans" -> Json.arr(spanJs), "counters" -> Json.obj(ctrJs),
      "listener_s" -> Json.num(listenerNs.get / 1e9)))
  }
}

object Trace {
  /** Local property that tags every Spark job with its operation id
    * (inherited by the threads a streaming drain starts). */
  val OpProperty = "perfbench.op"
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def num(i: Int): String = i.toString
  def num(l: Long): String = l.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
