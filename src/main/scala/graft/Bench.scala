package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{GraftSession, PhaseMeter}

/** Benchmark main (driver contract): one JSON line with per-query seconds.
  *
  * Timing forces FULL materialization through the `noop` sink — every
  * output column is computed and serialized, so Catalyst cannot prune the
  * projections a query claims to measure (a bare `.count()` would drop
  * e.g. simhash/fingerprint columns entirely and under-report). Failures
  * are reported explicitly in a `failed` array, never silently timed.
  *
  * Methodology — the canonical number is the ISOLATED-REP MEDIAN, and
  * [[measure]] is the one function that takes it (ScaleBench and Profile
  * call it too): per query, isolation from the previous query's cached
  * and pinned frames, a CONVERGED untimed warm-up (up to 3 runs, stopping
  * once a run is no longer >25% faster than its predecessor — so the
  * timed window always sits past the JIT decay knee), then `reps`
  * (default 3) timed runs, each after a GC; the reported per-query second
  * is the MEDIAN of those reps, the total their sum.
  * Why: a query's first execution in a JVM spends 3-10x its steady-state
  * cost in executor-side warm-up, and the decay curve EXTENDS THROUGH ~5
  * EXECUTIONS for codegen-heavy queries (q186: 4.56 → 1.92 → 1.90 → 1.86
  * → 1.37 s across executions on an idle box). A single timed execution
  * sits at an arbitrary point on that curve; with the rep median as THE
  * number, a single slow rep (GC pause, box noise) moves the min/max
  * window, not the median. The engine's target deployment is long-lived
  * executors serving repeated query shapes, so steady-state remains the
  * representative number; one-shot cold-process cost is a JVM property,
  * not a plan property. Warm-up failures are recorded in `failed` exactly
  * like timed-run failures (nothing is hidden).
  *
  * Output: the final stdout line is a bounded-length JSON summary (total,
  * failures, the slowest queries that fit a ~1.1 KB budget) so a collector
  * that keeps only a tail of the output still gets a parseable record; the
  * complete per-query map, rep windows, spill and per-rep [[Rep]] ledger
  * are written to `BENCH_FULL.json` AND `BENCH_FULL_c<cpus>.json` (the
  * per-core-count name survives a second run at another core count) in
  * the working directory.
  *
  * Next to the median, each query reports `cold_s`: one extra timed
  * execution after isolation, i.e. the WHOLE query with pin
  * materialization inside the timed window. SPARK_GRAFT_BENCH_ONLY is a
  * dev-only subset filter that loudly marks its artifact
  * `"filtered":true`.
  */
object Bench {
  private[graft] def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Session warm-up before any timed query: count every table (loads
    * the relation memo and the parquet footers) and run q01 once (JIT,
    * codegen, the noop sink). Failures are ignored: a missing table only
    * matters to the queries that read it, and those report it. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    for (t <- graft.core.Tables.all)
      try graft.core.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => }
    try materialize(SparkEntry.queries("q01_pricing_summary")(spark, sfDir))
    catch { case _: Throwable => }
  }

  /** Drop every cached and pinned frame the previous query left behind,
    * so a heavy predecessor's resident blocks cannot tax this query (10x
    * measured on q158@sf1 right after q181's quadratic audit query). The
    * JVM-global PlanCache is reset together with the CacheManager:
    * `clearCache` alone leaves registry keys whose storage is gone, and a
    * later query registering the same canonical fragment hits the stale
    * key and runs silently unpinned. */
  private[graft] def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.core.Stats.PlanCache.reset()
  }

  /** One timed rep. `wallS` = `constructS + planS + execS`:
    *  - `constructS`: the catalog function call, eager jobs included;
    *  - `planS`: analysis + optimization + planning of the executed
    *    (noop-write) query, from its `QueryPlanningTracker`;
    *  - `execS`: the rest of the write, i.e. running the physical plan,
    *    split into `stageWallS` (the union of the stages' run intervals
    *    after construction) and `driverGapS` = exec − that union: time
    *    with no stage running.
    * So construct + plan + stage wall + driver gap is the wall, the four
    * layers a catalog total splits into. Job, stage and task counts and
    * the task metrics cover the whole rep. */
  final case class Rep(query: String, rep: Int, wallS: Double,
      constructS: Double, planS: Double, execS: Double,
      phasesMs: Seq[(String, Long)], jobs: Int, stages: Int, tasks: Long,
      stageWallS: Double, driverGapS: Double, taskRunS: Double,
      taskCpuS: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillMemBytes: Long, spillDiskBytes: Long) {
    def json: String = {
      def s(v: Double) = f"$v%.3f"
      val phases = phasesMs.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      s"""{"query":"$query","rep":$rep,"wall_s":${s(wallS)},""" +
        s""""construct_s":${s(constructS)},"plan_s":${s(planS)},""" +
        s""""exec_s":${s(execS)},"phases_ms":$phases,"jobs":$jobs,""" +
        s""""stages":$stages,"tasks":$tasks,"stage_wall_s":${s(stageWallS)},""" +
        s""""driver_gap_s":${s(driverGapS)},"task_run_s":${s(taskRunS)},""" +
        s""""task_cpu_s":${s(taskCpuS)},"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""spill_mem_bytes":$spillMemBytes,"spill_disk_bytes":$spillDiskBytes}"""
    }
  }

  /** The timed reps of one query, plus the last rep's completed stages
    * and executed query (for the plan, the stage table and the operator
    * tree). */
  final case class Ledger(reps: Seq[Rep], stages: Seq[StageInfo],
      executed: QueryExecution)

  /** Jobs started and stages completed since the last `clear()`. */
  private final class StageLog extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Int]()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo)
    def clear(): Unit = { jobs.clear(); stages.clear() }
  }

  /** Executions whose action was the noop write ("overwrite"). */
  private final class WriteLog extends QueryExecutionListener {
    val done = new ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      if (f == "overwrite") done.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Length of the union of `[start, end)` intervals, each clipped to
    * `[lo, hi]` (milliseconds). */
  private[graft] def unionMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    for ((a, b) <- clipped) {
      val from = math.max(a, end)
      if (b > from) total += b - from
      end = math.max(end, b)
    }
    total
  }

  /** True median: the mean of the middle pair for an even count — the
    * upper-middle element would hand a single GC pause the canonical
    * number at reps=2, exactly what the median exists to resist. */
  private[graft] def median(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** The one measurement of a catalog query: [[isolate]], the converged
    * untimed warm-up, then `reps` timed reps, each after a GC, recording
    * one [[Rep]] apiece. A run is the catalog function call
    * (construction, eager jobs included), then a full materialization
    * into the noop sink. The listeners it adds are removed again, so a
    * shared session stays as it was. Throws what the query throws. */
  def measure(spark: SparkSession, name: String, dir: String,
      reps: Int): Ledger = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val fn = SparkEntry.queries(name)
    val meter = new PhaseMeter
    val stageLog = new StageLog
    val writeLog = new WriteLog
    val sc = spark.sparkContext

    def run(r: Int): (Rep, Seq[StageInfo], QueryExecution) = {
      meter.reset(); stageLog.clear(); writeLog.done.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      val msBuilt = System.currentTimeMillis()
      materialize(df)
      val t2 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      // the write's execution-end event follows every job, stage and
      // task event of the run on the same listener queue, so once it has
      // arrived the meter and the stage log are complete, and nothing of
      // this run can leak into the next one
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (writeLog.done.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10L)
      val qe = writeLog.done.asScala.lastOption.getOrElse(
        sys.error(s"$name rep $r: no execution event for the noop write"))
      val phases = qe.tracker.phases.toSeq.sortBy(_._1)
        .map { case (k, p) => k -> p.durationMs }
      val wall = (t2 - t0) / 1e9
      val construct = (t1 - t0) / 1e9
      // phases and stage times are whole milliseconds, the wall is ns:
      // the clamps keep rounding from pushing exec or the gap below 0
      val plan = math.min(phases.map(_._2).sum / 1e3, wall - construct)
      val stages = stageLog.stages.asScala.toSeq.sortBy(_.stageId)
      val exec = wall - construct - plan
      val stageWall = math.min(exec, unionMs(stages.map(s => (
        s.submissionTime.getOrElse(ms1), s.completionTime.getOrElse(ms1))),
        msBuilt, ms1) / 1e3)
      val t = meter.total()
      (Rep(name, r, wall, construct, plan, exec, phases,
        stageLog.jobs.size, stages.size, t.tasks,
        stageWall, exec - stageWall, t.runMs / 1e3,
        t.cpuMs / 1e3, t.shufRead, t.shufWrite, t.memSpill, t.diskSpill),
        stages, qe)
    }

    isolate(spark)
    sc.addSparkListener(meter)
    sc.addSparkListener(stageLog)
    spark.listenerManager.register(writeLog)
    try {
      // warm-up: stop once a run is no longer >25% faster than its
      // predecessor. One fixed warm-up put the timed reps on the JIT
      // decay curve's KNEE for codegen-heavy queries (q186 executions:
      // 4.87, 2.15, 1.98, 1.29, then flat ~1.3); steady queries converge
      // after the second run, so the common cost is one extra run.
      var wPrev = Double.MaxValue
      var warmups = 0
      var converged = false
      while (warmups < 3 && !converged) {
        val w = run(0)._1.wallS
        converged = w >= wPrev * 0.75
        wPrev = w
        warmups += 1
      }
      val runs = (1 to reps).map { r =>
        // the previous run's garbage is collected first, or a heavy
        // predecessor's heap debt lands in this rep's pause time (3x
        // inflation of sub-2 s queries mid-suite vs steady state)
        System.gc()
        run(r)
      }
      Ledger(runs.map(_._1), runs.last._2, runs.last._3)
    } finally {
      spark.listenerManager.unregister(writeLog)
      sc.removeSparkListener(stageLog)
      sc.removeSparkListener(meter)
    }
  }

  /** Anchor-hygiene preflight: stale `/tmp/graft-*` dirs from
    * accumulated test runs once inflated a same-code bench anchor by 15%
    * (1115 dirs, ~16 GB: wall up, task CPU flat, the environmental
    * signature). Counts and sizes the stale `graft-*`/`demo-*` entries
    * under java.io.tmpdir, warns LOUDLY above 64 dirs or 2 GB, and
    * refuses outright when SPARK_GRAFT_TMP_STRICT=1 (anchor runs). The
    * count is also emitted in the summary JSON (`tmp_stale_dirs`) so a
    * drifted anchor's environment is visible in the run's own artifact.
    * (Specs clean their dirs via SparkSpec.tempDir's shutdown hook; this
    * guard catches killed JVMs and anything else that leaks.) */
  private[graft] def tmpPreflight(): Int = {
    try {
      val tmp = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir", "/tmp"))
      val listing = java.nio.file.Files.list(tmp)
      var count = 0
      var bytes = 0L
      try {
        val stale = listing.iterator()
        while (stale.hasNext) {
          val p = stale.next()
          val n = p.getFileName.toString
          if ((n.startsWith("graft-") || n.startsWith("demo-")) &&
              java.nio.file.Files.isDirectory(p)) {
            count += 1
            try {
              val w = java.nio.file.Files.walk(p)
              try {
                val it = w.iterator()
                while (it.hasNext) {
                  val f = it.next()
                  if (java.nio.file.Files.isRegularFile(f))
                    bytes += java.nio.file.Files.size(f)
                }
              } finally w.close()
            } catch { case _: Throwable => () }
          }
        }
      } finally listing.close()
      if (count > 64 || bytes > (2L << 30)) {
        val msg = s"[bench] TMP HYGIENE: $count stale graft-*/demo-* dirs " +
          f"(${bytes / 1e9}%.1f GB) under ${tmp.toString} — bench walls " +
          "are NOT anchor-grade on a dirty box (+15% wall measured from " +
          "exactly this); clean with: rm -rf " +
          s"${tmp.toString}/graft-* ${tmp.toString}/demo-*"
        System.err.println(msg)
        if (sys.env.get("SPARK_GRAFT_TMP_STRICT").contains("1")) {
          System.err.println("[bench] SPARK_GRAFT_TMP_STRICT=1: refusing " +
            "to run an anchor on a dirty box")
          sys.exit(3)
        }
      }
      count
    } catch { case _: Throwable => -1 }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val staleDirs = tmpPreflight()
    val cpus = GraftSession.defaultCores
    val spark = GraftSession.local(cpus)
    warmUp(spark, sfDir)

    // Per-query wall AND task-CPU travel as (median, min, max) windows —
    // wall on sub-0.5 s queries churns with the box, and POINT cpu isn't
    // enough either (spill-heavy queries' stall cycles swing 1.5-2.6x
    // between runs; sub-100ms readings jitter ±50%), so the windows are
    // the machine-checkable record that separates a real regression from
    // noise; totals alone make every ±8% drift a judgment call.
    val repsPerQuery = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // wall budget for the WHOLE run (warm-ups included): once elapsed
    // time exceeds it, every remaining query — in suite (alphabetical)
    // order, a conscious single-pass trade — runs 1 timed rep instead of
    // `repsPerQuery`, LOUDLY (stderr + `reps_degraded` + per-entry `n`
    // in the artifact, so a degraded tail can never read as a
    // three-rep median in a round-over-round diff)
    val repBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REP_BUDGET", "2400").toDouble
    // dev-only subset filter (comma-separated query names). NEVER set by
    // the driver; a filtered run is loudly marked in both artifacts so it
    // can never masquerade as a full catalog run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach(s => System.err.println(
      s"[bench] FILTERED RUN (SPARK_GRAFT_BENCH_ONLY): ${s.size} queries"))
    val benchStart = System.nanoTime()
    def overBudget: Boolean = (System.nanoTime() - benchStart) / 1e9 > repBudgetSec
    var repsDegraded = 0
    var failed = List.empty[String]
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val measured = selected.map { case (name, fn) =>
      try {
        val degraded = overBudget
        val l = measure(spark, name, sfDir, if (degraded) 1 else repsPerQuery)
        if (degraded) repsDegraded += 1
        // `cold_s`: the timed reps run post-pin (multi-consumer frames
        // were materialized by the warm-up), so their median measures the
        // post-pin suffix; this one execution after isolation measures
        // the WHOLE query — pins re-materialize inside the timed window
        // exactly once and are then consumed 2-4×, the single-execution
        // production shape. Skipped once the rep budget is exhausted (it
        // is auxiliary — the median is the canonical number) and never
        // marks the query failed.
        val cold: Option[Double] =
          if (overBudget) None
          else try {
            isolate(spark)
            System.gc()
            val t0 = System.nanoTime()
            materialize(fn(spark, sfDir))
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case _: Throwable => None }
        name -> Some((l.reps, cold))
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        name -> None
      }
    }
    if (repsDegraded > 0) System.err.println(
      s"[bench] rep budget (${repBudgetSec}s) exhausted: $repsDegraded " +
        "queries ran a single timed rep (median == that rep)")
    val fj = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the canonical per-query number IS the rep median; failed queries
    // report 0.0 (and are named in `failed` — never silently timed)
    val ok = measured.collect { case (k, Some(v)) => k -> v }
    val results = measured.map { case (k, v) =>
      k -> v.map(r => median(r._1.map(_.wallS))).getOrElse(0.0) }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    def sec(v: Double): String = f"$v%.3f"
    val repsJson = ok.map { case (k, (rs, cold)) =>
      val (ts, cs) = (rs.map(_.wallS), rs.map(_.taskCpuS))
      "\"" + k + s"""":{"median":${sec(median(ts))},"min":${sec(ts.min)},"max":${sec(ts.max)},""" +
        s""""cpu_s":${sec(median(cs))},"cpu_min":${sec(cs.min)},"cpu_max":${sec(cs.max)},""" +
        cold.map(c => s""""cold_s":${sec(c)},""").getOrElse("") +
        s""""n":${rs.size}}"""
    }.mkString("{", ",", "}")
    val coldTotal = ok.flatMap(_._2._2).sum
    val nCold = ok.count(_._2._2.isDefined)
    val cpuTotal = ok.map(q => median(q._2._1.map(_.taskCpuS))).sum

    // Full per-query detail goes to a file: the harness that collects the
    // bench keeps only a bounded tail of stdout, and a 130+-entry map does
    // not fit in it. Anyone (or any tool) wanting every number reads the
    // file; the stdout line stays the machine-readable summary.
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    // per-query spill (max over the timed reps; omitted when zero) and
    // the per-rep ledger are SEPARATE maps: the flat `queries`
    // name:seconds shape is parsed by regex in ScaleBench/scale_report
    // and must stay scalar.
    val spillJson = ok.map { case (k, (rs, _)) =>
      (k, rs.map(_.spillMemBytes).max, rs.map(_.spillDiskBytes).max)
    }.filter(s => s._2 > 0 || s._3 > 0).map { case (k, sm, sd) =>
      "\"" + k + s"""":{"mem":$sm,"disk":$sd}"""
    }.mkString("{", ",", "}")
    val ledgerJson = ok.map { case (k, (rs, _)) =>
      "\"" + k + "\":" + rs.map(_.json).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val filteredTag = if (only.isDefined) """"filtered":true,""" else ""
    val fullJson =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","methodology":"isolated_rep_median","n_reps":$repsPerQuery,"reps_degraded":$repsDegraded,$filteredTag"n_queries":${results.size},"tmp_stale_dirs":$staleDirs,"cpu_total":${sec(cpuTotal)},"cold_total":${sec(coldTotal)},"n_cold":$nCold,"queries":$fullQs,"reps":$repsJson,"spill":$spillJson,"ledger":$ledgerJson,"failed":$fj,"sf":"$sfDir"}"""
    // one name per core count, so a second run at another core count
    // cannot overwrite the first run's per-query record; the plain name
    // stays for existing tooling
    for (p <- Seq("BENCH_FULL.json", s"BENCH_FULL_c$cpus.json"))
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(p),
        (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] $p write failed: ${e.getMessage}") }

    // Final stdout line: summary + as many of the slowest queries as fit a
    // conservative length budget (the collector's tail window is ~2000
    // chars and other lines follow ours). Slowest-first is the subset a
    // reader acts on; the complete map is in BENCH_FULL.json.
    val budget = 1100
    val slowest = results.sortBy(-_._2)
    val picked = scala.collection.mutable.ListBuffer.empty[String]
    var used = 0
    slowest.foreach { case (k, v) =>
      val entry = "\"" + k + "\":" + sec(v)
      if (used + entry.length + 1 <= budget) { picked += entry; used += entry.length + 1 }
    }
    val qs = picked.mkString("{", ",", "}")
    // Stop Spark (logs silenced) BEFORE the summary line so it is the
    // genuinely last stdout output — shutdown-time WARNs (e.g. local-
    // checkpoint unpersist notices) otherwise land after the JSON and a
    // tail-reading collector parses a log line instead.
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop() catch { case _: Throwable => }
    println(
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","methodology":"isolated_rep_median","reps_degraded":$repsDegraded,$filteredTag"n_queries":${results.size},"tmp_stale_dirs":$staleDirs,"cpu_total":${sec(cpuTotal)},"cold_total":${sec(coldTotal)},"n_cold":$nCold,"queries":$qs,"queries_truncated":${picked.size < results.size},"detail":"BENCH_FULL_c$cpus.json","failed":$fj,"sf":"$sfDir"}""")
  }
}
