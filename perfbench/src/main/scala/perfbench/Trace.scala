package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span on the wall clock (epoch ms). */
final case class Span(kind: String, name: String, start: Long, end: Long,
                      attrs: Map[String, Double] = Map.empty)

/** The benchmark's own listeners, registered only in a traced run. Every
  * event becomes a [[Span]] kept in memory; [[Layers]] attributes them to
  * ops by time window afterwards (ops never overlap).
  *
  *   - `SparkListener`: one span per job, per stage and per task, with
  *     the task metrics the shuffle/GC/input layers read;
  *   - `QueryExecutionListener`: the Catalyst phases of each action, from
  *     `qe.tracker.phases`;
  *   - `StreamingQueryListener`: each trigger's `durationMs` phases, query
  *     start and termination;
  *   - codegen: the compile count from `CodegenMetrics` and each compile's
  *     time from the code generator's own log line.
  */
final class Trace(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private def add(s: Span): Unit = spans.add(s)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (e.time, e.stageIds.size))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, nStages) =>
        add(Span("job", e.jobId.toString, t0, e.time, Map("stages" -> nStages.toDouble)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add(Span("stage", i.stageId.toString, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) add(Span("task", e.stageId.toString, e.taskInfo.launchTime,
        e.taskInfo.finishTime, Map(
          "run_ms" -> m.executorRunTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "input" -> m.inputMetrics.bytesRead.toDouble)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        add(Span("catalyst", phase, s.startTimeMs, s.endTimeMs))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val t = epochMs(e.timestamp)
      add(Span("stream_start", e.id.toString, t, t))
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      val t0 = epochMs(p.timestamp)
      add(Span("trigger", p.id.toString, t0, t0 + d.getOrElse("triggerExecution", 0.0).toLong,
        d + ("input_rows" -> p.numInputRows.toDouble)))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      val t = System.currentTimeMillis()
      add(Span("stream_end", e.id.toString, t, t,
        Map("failed" -> (if (e.exception.isDefined) 1.0 else 0.0))))
    }
  }

  private val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored

  private val codegenAppender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case Generated(ms) =>
        val t = e.getTimeMillis
        add(Span("compile", "", t - ms.toDouble.toLong, t, Map("ms" -> ms.toDouble)))
      case _ => ()
    }
  }

  private def logContext = LogManager.getContext(false).asInstanceOf[LoggerContext]

  /** The codegen compile counter, read around each op. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    codegenAppender.start()
    val conf = logContext.getConfiguration
    conf.addAppender(codegenAppender)
    val lc = new LoggerConfig(CodegenLogger, Level.INFO, false)
    lc.addAppender(codegenAppender, Level.INFO, null)
    conf.addLogger(CodegenLogger, lc)
    logContext.updateLoggers()
  }

  /** Unregister everything; waits until the listener buses have gone quiet
    * so events of the last op are in. */
  def stop(): Unit = {
    var last = -1
    while (spans.size != last) { last = spans.size; Thread.sleep(300) }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val conf = logContext.getConfiguration
    conf.removeLogger(CodegenLogger)
    logContext.updateLoggers()
    codegenAppender.stop()
  }
}
