package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._

/** Attribution profiler for a registered query: how much of its wall
  * time is Spark JOBS (executor work + per-job scheduling) versus
  * DRIVER GAPS (planning, codegen, action-to-action driver logic)?
  * At sf0.1 many heavy rows are suspected to be action-count-bound
  * (each localCheckpoint / count / convergence check pays planning +
  * job latency on tiny data) — this measures that directly instead of
  * arguing it from code shape.
  *
  * Per query prints ONE line:
  *   JOBPROFILE <name> wall=<s> jobs=<n> job_time=<s> gap_time=<s>
  *     task_time=<s> stages=<n> tasks=<n>
  * where job_time = Σ (jobEnd − jobStart) wall under jobs, gap_time =
  * wall − job_time (driver-side), task_time = Σ executor task run time
  * (parallel work; >> job_time means good parallelism, << job_time
  * means tiny tasks riding scheduling latency).
  *
  * Usage: runMain graft.JobProfile <sfDir> <query> [query...] */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = LocalSession.build()
    object L extends SparkListener {
      val jobStart = new ConcurrentHashMap[Int, Long]()
      @volatile var jobs = 0
      @volatile var jobNanos = 0L
      @volatile var stages = 0
      @volatile var tasks = 0
      @volatile var taskNanos = 0L
      def reset(): Unit = {
        jobStart.clear(); jobs = 0; jobNanos = 0L
        stages = 0; tasks = 0; taskNanos = 0L
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = jobStart.remove(e.jobId)
        if (s != null) { jobs += 1; jobNanos += (e.time - s) * 1000000L }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages += 1
        val m = e.stageInfo.taskMetrics
        if (m != null) taskNanos += m.executorRunTime * 1000000L
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks += 1
    }
    spark.sparkContext.addSparkListener(L)
    // one warmup of the first query so JIT/codegen cold cost doesn't
    // pollute the first row's attribution
    val names = args.drop(1).toSeq
    try SparkEntry.queries(names.head)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    for (n <- names) {
      System.gc()
      org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
      L.reset()
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
        val jt = L.jobNanos / 1e9
        println(f"JOBPROFILE $n wall=$wall%.3f jobs=${L.jobs}" +
          f" job_time=$jt%.3f gap_time=${math.max(0.0, wall - jt)}%.3f" +
          f" task_time=${L.taskNanos / 1e9}%.3f stages=${L.stages}" +
          f" tasks=${L.tasks}")
      } catch { case e: Throwable =>
        System.err.println(s"[jobprofile] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
