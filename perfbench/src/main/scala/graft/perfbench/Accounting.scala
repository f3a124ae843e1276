package graft.perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-wide counters at one instant. Differences of two snapshots
  * attribute the work done between them. */
final case class Snapshot(
    jobs: Long, tasks: Long, taskMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, peakExecMem: Long,
    codegenFallbacks: Long, exchanges: Long, sorts: Long, windows: Long) {
  /** Work done since `o`; the peak is this window's (see resetPeak). */
  def -(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs, tasks - o.tasks,
    taskMs - o.taskMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    peakExecMem, codegenFallbacks - o.codegenFallbacks,
    exchanges - o.exchanges, sorts - o.sorts, windows - o.windows)
}

/** Engine accounting attached from outside the program: a SparkListener
  * (jobs, tasks, task and GC time, shuffle, spill, peak execution memory),
  * a QueryExecutionListener (Exchange/Sort/Window nodes of each final
  * adaptive plan) and a log appender counting codegen fallbacks. Installed
  * only in the traced run, so the timed run carries none of it. */
final class Accounting(spark: SparkSession) {
  private val jobs, tasks, taskMs, gcMs = new AtomicLong
  private val shWrite, spill, codegen = new AtomicLong
  private val exchanges, sorts, windows = new AtomicLong
  // peak execution memory is a maximum, so it is reset per window
  private val peakMem = new AtomicLong
  // (start, end) wall intervals of finished Spark jobs, epoch ms
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val intervals = new AtomicReference(Vector.empty[(Long, Long)])

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.synchronized { jobStarts(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.incrementAndGet()
      jobStarts.synchronized(jobStarts.remove(e.jobId)).foreach { s =>
        intervals.updateAndGet(_ :+ (s -> e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
        peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val names = Accounting.finalPlanNodes(qe.executedPlan)
      exchanges.addAndGet(names.count(_ == "exchange"))
      sorts.addAndGet(names.count(_ == "sort"))
      windows.addAndGet(names.count(_ == "window"))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  // Codegen fallbacks are only visible in the log: whole-stage codegen
  // that fails to compile (e.g. "Code grows beyond 64 KB") logs and
  // re-executes the plan without codegen.
  private val appender = new AbstractAppender("perfbench-codegen", null,
      null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      if (Accounting.isCodegenFallback(msg)) codegen.incrementAndGet()
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getRootLogger.addAppender(appender)
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Snapshot = {
    ListenerShim.drain(spark.sparkContext)
    Snapshot(jobs.get, tasks.get, taskMs.get, gcMs.get, shWrite.get,
      spill.get, peakMem.get, codegen.get, exchanges.get, sorts.get,
      windows.get)
  }

  /** Start a fresh peak-memory window. */
  def resetPeak(): Unit = peakMem.set(0L)

  /** Wall milliseconds within [from, to] covered by at least one Spark
    * job; the rest of the interval is driver time between jobs. */
  def jobCoveredMs(from: Long, to: Long): Long = {
    val clipped = intervals.get.map { case (s, e) => (s max from, e min to) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

object Accounting {
  /** One fallback logs several lines (compile error, stack, notice);
    * only the notice that execution continues without codegen counts. */
  def isCodegenFallback(msg: String): Boolean =
    msg.contains("codegen disabled") ||
      msg.contains("falling back to interpreter")

  /** Kinds ("exchange", "sort", "window", "other") of every node of the
    * final physical plan, looking through adaptive wrappers, query stages
    * and cached relations, and into command children. */
  def finalPlanNodes(plan: SparkPlan): Seq[String] = {
    def go(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case s: QueryStageExec => go(s.plan)
      // a reused exchange re-reads an existing stage; it runs nothing
      case _: ReusedExchangeExec => Seq("other")
      // a cached frame's plan runs inside the first query that scans it
      case m: InMemoryTableScanExec => "other" +: go(m.relation.cachedPlan)
      case other =>
        val kind = other match {
          case _: Exchange => "exchange"
          case _ if other.nodeName == "Sort" => "sort"
          case _ if other.nodeName.startsWith("Window") => "window"
          case _ => "other"
        }
        kind +: other.children.flatMap(go)
    }
    go(plan)
  }
}
