package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The JVM side of the benchmark (perfbench/run.py drives it).
  *
  *   --mode setup   build the session and parse the workload's artifacts,
  *                  print `PB_READY <epoch µs>` and exit;
  *   --mode run     then run the cold job and warm jobs for `--seconds`,
  *                  untraced (`--trace 0`) or alternating untraced and
  *                  traced jobs (`--trace 1`), and write record.json,
  *                  spans.json and the outputs to check under `--out`.
  */
object Harness {
  private val MinJobs = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("scratch"))
      .config("spark.sql.warehouse.dir", s"${opt("scratch")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val workload = Workload(opt("workload"), spark, opt("input"),
      opt.getOrElse("model", ""),
      opt.getOrElse("rows", "").split(",").filter(_.nonEmpty).toSeq)
    println(s"PB_READY ${epochMicros()}")
    System.out.flush()
    if (opt("mode") == "run")
      new Run(spark, workload, opt("out"), opt("seconds").toDouble,
        opt("trace") == "1", cpus).apply()
    spark.stop()
  }

  private def epochMicros(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000L + now.getNano / 1000L
  }

  private final class Run(spark: SparkSession, workload: Workload,
                          out: String, seconds: Double, trace: Boolean,
                          cpus: Int) {
    private val threads = ManagementFactory.getThreadMXBean

    /** CPU time of the JVM's Java threads: driver, scheduler and task
      * threads. JIT compiler and GC threads are not Java threads here, so
      * warm-up compilation does not count; GC time is spark.gc_s. */
    private def cpuNs(): Long =
      threads.getAllThreadIds.map(threads.getThreadCpuTime).filter(_ > 0).sum
    private var attempted = 0
    private var failed = 0
    private val errors = ArrayBuffer.empty[String]

    /** Runs one job; returns (wall s, thread CPU s), or None if it threw.
      * Frames an earlier job cached are dropped first (untimed), so every
      * job does a whole submission's work, as a fresh CLI process does;
      * a full GC then starts each job from the same heap state. */
    private def timed(body: => Unit): Option[(Double, Double)] = {
      spark.catalog.clearCache()
      System.gc()
      attempted += 1
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      try {
        body
        Some(((System.nanoTime() - t0) / 1e9,
          (cpuNs() - c0) / 1e9))
      } catch {
        case e: Exception =>
          failed += 1
          errors += e.toString
          None
      }
    }

    /** Counts registry rows as the attempted unit. */
    private def registryJob(r: RegistryHeavy, body: => Unit)
    : Option[(Double, Double)] = {
      val t = timed(body)
      attempted += r.rows.length - 1
      failed += r.failures.length
      errors ++= r.failures.map { case (id, e) => s"$id: $e" }
      t
    }

    private def untraced(dir: String): Option[(Double, Double)] =
      workload match {
        case r: RegistryHeavy => registryJob(r, r.job(dir))
        case w => timed(w.job(dir))
      }

    private def cold(dir: String): Option[(Double, Double)] =
      workload match {
        case r: RegistryHeavy => registryJob(r, r.coldJob(dir))
        case w => timed(w.coldJob(dir))
      }

    /** Fixed CPU-bound calibration work (graft.Bench's probe, scaled to a
      * few hundred ms here): a record of machine speed, not a gate. */
    private def probe(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 100000000L, 1L, cpus)
          .selectExpr("sum(id * 3 % 7)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      (0 until 3).map(_ => once()).min
    }

    def apply(): Unit = {
      val acct = new Accounting(spark)
      if (trace) acct.install()
      // the cold job is the process's first Spark job; the start probe
      // therefore runs after it
      val coldRun = cold(s"$out/cold")
      val probeStart = probe()
      val warm = ArrayBuffer.empty[(Double, Double)]
      val tracedWall = ArrayBuffer.empty[Double]
      val engine = ArrayBuffer.empty[Map[String, Double]]
      val blocks = ArrayBuffer.empty[Double]
      val tracer = new Tracer(acct)
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var n = 0
      while (n < MinJobs || elapsed < seconds) {
        val before = if (trace) acct.snapshot() else null
        if (trace) acct.resetPeak()
        val wallMs0 = System.currentTimeMillis()
        untraced(s"$out/warm").foreach { case (wall, cpu) =>
          warm += wall -> cpu
          if (trace) {
            val d = acct.snapshot() - before
            val gap = wall -
              acct.jobCoveredMs(wallMs0, System.currentTimeMillis()) / 1e3
            engine += Map(
              "spark.jobs" -> d.jobs.toDouble,
              "spark.driver_gap_s" -> gap,
              "spark.gc_s" -> d.gcMs / 1e3,
              "spark.core_util" -> d.taskMs / 1e3 / (wall * cpus),
              "spark.peak_exec_mem_bytes" -> d.peakExecMem.toDouble,
              "spark.codegen_fallbacks" -> d.codegenFallbacks.toDouble,
              "plan.exchanges" -> d.exchanges.toDouble,
              "plan.sorts" -> d.sorts.toDouble,
              "plan.windows" -> d.windows.toDouble)
          }
        }
        workload match {
          case r: RegistryHeavy => blocks += r.leftBlocks.toDouble
          case _ =>
        }
        if (trace) {
          spark.catalog.clearCache()
          System.gc()
          val tt0 = System.nanoTime()
          try workload.tracedJob(s"$out/traced", tracer)
          catch { case e: Exception =>
            attempted += 1; failed += 1; errors += s"traced: $e" }
          tracedWall += (System.nanoTime() - tt0) / 1e9
        }
        n += 1
      }
      val probeEnd = probe()
      val peakRssMb = vmHwmMb()
      workload match {
        case r: RegistryHeavy =>
          writeJson(s"$out/cold/oracle_sql.json", Json.obj(r.oracleSql.toSeq
            .map { case (k, v) => k -> Json.str(v) }))
        case t: SubmitTree =>
          Files.write(Paths.get(s"$out/tree_replay.sql"),
            t.replaySql.getBytes(StandardCharsets.UTF_8))
        case _ =>
      }

      val fields = mutable.LinkedHashMap[String, String](
        "cold_job_s" -> Json.num(coldRun.map(_._1).getOrElse(Double.NaN)),
        "job_s" -> Json.num(median(warm.map(_._1).toSeq)),
        "job_cpu_s" -> Json.num(median(warm.map(_._2).toSeq)),
        "peak_rss_mb" -> Json.num(peakRssMb),
        "warm_jobs" -> Json.arr(warm.map(w => Json.num(w._1)).toSeq),
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "errors" -> Json.arr(errors.take(20).map(Json.str).toSeq),
        "probe_start_s" -> Json.num(probeStart),
        "probe_end_s" -> Json.num(probeEnd),
        "cpus" -> cpus.toString)
      if (trace) {
        val layers = layerMetrics(tracer)
        val eng = engine.flatMap(_.keys).distinct.map { k =>
          k -> median(engine.map(_(k)).toSeq)
        }
        val extra = Seq(
          // negative: the boundaries materialized a subtree that the
          // lazy untraced plan computes more than once
          "trace.overhead_s" -> (median(tracedWall.toSeq) -
            median(warm.map(_._1).toSeq)),
          "trace.job_s" -> median(tracedWall.toSeq)) ++
          (if (blocks.isEmpty) Nil
           else Seq("registry.materialized_blocks" -> median(blocks.toSeq)))
        fields("per_layer") = Json.obj((layers ++ eng ++ extra).map {
          case (k, v) => k -> Json.num(v) })
        writeJson(s"$out/spans.json", Json.arr(tracer.spans.map { s =>
          Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
            "job" -> s.job.toString, "name" -> Json.str(s.name),
            "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
            "self_s" -> Json.num(tracer.selfSeconds(s)),
            "rows_out" -> s.rowsOut.toString,
            "tasks" -> s.work.tasks.toString,
            "task_s" -> Json.num(s.work.taskMs / 1e3),
            "shuffle_bytes" -> s.work.shuffleWriteBytes.toString,
            "spill_bytes" -> s.work.spillBytes.toString))
        }.toSeq))
      }
      writeJson(s"$out/record.json", Json.obj(fields.toSeq))
    }

    /** Median over traced jobs of each layer's span metrics. */
    private def layerMetrics(tr: Tracer): Seq[(String, Double)] = {
      val byName = tr.spans.filter(_.parent >= 0).groupBy(_.name)
      byName.toSeq.sortBy(_._1).flatMap { case (name, ss) =>
        def m(f: Span => Double) = median(ss.map(f).toSeq)
        Seq(s"$name.s" -> m(tr.selfSeconds),
          s"$name.rows_out" -> m(_.rowsOut.toDouble),
          s"$name.tasks" -> m(_.work.tasks.toDouble),
          s"$name.task_s" -> m(_.work.taskMs / 1e3),
          s"$name.shuffle_bytes" -> m(_.work.shuffleWriteBytes.toDouble),
          s"$name.spill_bytes" -> m(_.work.spillBytes.toDouble))
      }
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def writeJson(path: String, json: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
  }
}

/** Just enough JSON writing for the record files. */
private object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
