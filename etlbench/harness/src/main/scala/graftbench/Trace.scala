package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A wall-clock interval (epoch milliseconds) attributed to one layer. */
final case class Span(startMs: Double, endMs: Double, layer: Int)

/** The layers of the additive self-time split, in precedence order: an
  * instant covered by several spans belongs to the first layer listed.
  * `sql` is driver time inside a SQL execution that no job or planning
  * phase covers; `exec` is the rest of the benchmark's action span.
  */
object Layer {
  val Jobs = 0
  val Catalyst = 1
  val Sinks = 2
  val Sql = 3
  val Streaming = 4
  val Build = 5
  val Exec = 6
  val names: Vector[String] =
    Vector("jobs", "catalyst", "sinks", "sql", "streaming", "build", "exec")

  /** Split `[fromMs, toMs]` among the layers: each instant goes to the
    * highest-precedence span covering it, so the result sums to the
    * window's length exactly (the benchmark's own build and action
    * spans cover the whole window).
    */
  def selfTimes(fromMs: Double, toMs: Double, spans: Iterable[Span]): Array[Double] = {
    val out = Array.fill(names.size)(0.0)
    val events = spans.iterator
      .map(s => Span(math.max(s.startMs, fromMs), math.min(s.endMs, toMs), s.layer))
      .filter(s => s.endMs > s.startMs)
      .flatMap(s => Iterator((s.startMs, +1, s.layer), (s.endMs, -1, s.layer)))
      .toArray.sortBy(_._1)
    val active = Array.fill(names.size)(0)
    var prev = fromMs
    events.foreach { case (t, delta, layer) =>
      val top = active.indexWhere(_ > 0)
      if (top >= 0 && t > prev) out(top) += t - prev
      prev = t
      active(layer) += delta
    }
    out.map(_ / 1000.0)
  }
}

/** Listener-side recording for the traced run. Every number comes from
  * Spark's public listener interfaces (scheduler, SQL execution, query
  * execution and streaming progress events) or from the JVM's codegen
  * counters; nothing in the engine is modified.
  */
final class Tracer(spark: SparkSession, resultDir: String) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  val triggersMs = new ConcurrentLinkedQueue[java.lang.Double]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val sqlStart = new ConcurrentHashMap[Long, (Long, Boolean)]()

  private def add(key: String, v: Double): Unit =
    counters.computeIfAbsent(key, _ => new DoubleAdder).add(v)

  def snapshot(): Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum }.toMap

  /** A file write by the engine; the benchmark's own dump of cold-pass
    * results under `resultDir` is execution, not a sink.
    */
  private def isSinkWrite(p: SparkPlanInfo): Boolean =
    (p.nodeName.contains("InsertIntoHadoopFsRelationCommand") &&
      !p.simpleString.contains(resultDir)) || p.children.exists(isSinkWrite)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { t0 =>
        spans.add(Span(t0.toDouble, e.time.toDouble, Layer.Jobs))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(e.stageInfo.taskMetrics).foreach { m =>
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.spill_bytes", m.diskBytesSpilled.toDouble)
        add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart.put(s.executionId, (s.time, isSinkWrite(s.sparkPlanInfo)))
      case end: SparkListenerSQLExecutionEnd =>
        Option(sqlStart.remove(end.executionId)).foreach { case (t0, write) =>
          spans.add(Span(t0.toDouble, end.time.toDouble,
            if (write) Layer.Sinks else Layer.Sql))
          if (write) add("sinks.write_s", (end.time - t0) / 1e3)
        }
      case _ =>
    }
  }

  private def writeCommands(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Seq(w)
    case c: CommandResultExec => writeCommands(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writeCommands(a.executedPlan)
    case other => other.children.flatMap(writeCommands)
  }

  private val executions = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      add("catalyst.executions", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        spans.add(Span(p.startTimeMs.toDouble, p.endTimeMs.toDouble, Layer.Catalyst))
        val key = phase match {
          case "optimization" => "catalyst.optimizer_s"
          case other => s"catalyst.${other}_s"
        }
        add(key, p.durationMs / 1e3)
      }
      writeCommands(qe.executedPlan)
        .filterNot(_.cmd.simpleString(100).contains(resultDir)).foreach { w =>
        w.cmd.metrics.get("numFiles").foreach(m => add("sinks.files_written", m.value.toDouble))
        w.cmd.metrics.get("numOutputBytes").foreach(m => add("sinks.bytes_written", m.value.toDouble))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      // only triggers that ran a batch carry addBatch; idle reports do not
      if (d.contains("addBatch")) {
        val trigger = d.getOrElse("triggerExecution", 0.0)
        val start = java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble
        spans.add(Span(start, start + trigger, Layer.Streaming))
        triggersMs.add(trigger)
        add("streaming.batches", 1)
        add("streaming.plan_s", d.getOrElse("queryPlanning", 0.0) / 1e3)
        add("streaming.addbatch_s", d("addBatch") / 1e3)
        add("streaming.wal_s",
          (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)) / 1e3)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(executions)
    spark.streams.addListener(streaming)
  }

  /** Deliver every queued event, then stop listening. */
  def detach(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(executions)
    spark.streams.removeListener(streaming)
  }

  /** Forget everything recorded so far, before a traced pass. */
  def clear(): Unit = { spans.clear(); triggersMs.clear(); counters.clear() }
}
