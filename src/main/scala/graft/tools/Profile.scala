package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, SparkEntry}
import graft.core.{GraftSession, PhaseMeter}

/** Per-query profile of catalog queries: where the time went, layer by
  * layer. After Bench's session warm-up, for each query it prints
  *
  *  1. the formatted physical plan the last rep executed (AQE's final
  *     plan);
  *  2. one JSON ledger line per rep (see [[Rep]]);
  *  3. for the last rep: the per-stage table (tasks, run/CPU time,
  *     records, shuffle bytes, and the graft call site that built the
  *     stage), the planner's top rules by time, and the executed plan
  *     tree with each operator's non-zero SQL metrics.
  *
  * A rep runs the query the way Bench times it: the catalog function
  * (construction, eager jobs included), then a full materialization into
  * the noop sink.
  *
  * `runMain graft.tools.Profile <q1,q2,...|all> [sfDir] [reps]`
  */
object Profile {

  /** One timed rep. `wallS` = `constructS + planS + execS`:
    *  - `constructS`: the catalog function call, eager jobs included;
    *  - `planS`: analysis + optimization + planning of the executed
    *    (noop-write) query, from its `QueryPlanningTracker`;
    *  - `execS`: the rest of the write, i.e. running the physical plan.
    * Job, stage and task counts and the task metrics cover the whole rep.
    * `stageWallS` is the union of the stages' run intervals;
    * `driverGapS` = wall − that union: time with no stage running. */
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

  /** The reps of one query, plus the last rep's completed stages and
    * executed query (for the plan, the stage table and the operator tree). */
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

  /** Run `name` `reps` times on `spark` and record one [[Rep]] each. The
    * listeners it adds are removed again, so a shared session stays as
    * it was. */
  def ledger(spark: SparkSession, name: String, dir: String,
      reps: Int): Ledger = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val fn = SparkEntry.queries(name)
    val meter = new PhaseMeter
    val stageLog = new StageLog
    val writeLog = new WriteLog
    val sc = spark.sparkContext
    sc.addSparkListener(meter)
    sc.addSparkListener(stageLog)
    spark.listenerManager.register(writeLog)
    try {
      val runs = (1 to reps).map { r =>
        meter.reset(); stageLog.clear(); writeLog.done.clear()
        val ms0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        Bench.materialize(df)
        val t2 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        // the write's execution-end event follows every job, stage and
        // task event of the rep on the listener bus; wait for it, then
        // for the meter to go quiet
        val deadline = System.nanoTime() + 10L * 1000000000L
        while (writeLog.done.isEmpty && System.nanoTime() < deadline)
          Thread.sleep(10L)
        meter.settle()
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
        val stageWall = unionMs(stages.map(s => (
          s.submissionTime.getOrElse(ms1), s.completionTime.getOrElse(ms1))),
          ms0, ms1) / 1e3
        val t = meter.total()
        (Rep(name, r, wall, construct, plan, wall - construct - plan, phases,
          stageLog.jobs.size, stages.size, t.tasks,
          stageWall, math.max(0.0, wall - stageWall), t.runMs / 1e3,
          t.cpuMs / 1e3, t.shufRead, t.shufWrite, t.memSpill, t.diskSpill),
          stages, qe)
      }
      Ledger(runs.map(_._1), runs.last._2, runs.last._3)
    } finally {
      spark.listenerManager.unregister(writeLog)
      sc.removeSparkListener(stageLog)
      sc.removeSparkListener(meter)
    }
  }

  /** One row per completed stage, with the first graft frame of the
    * stage's call site so a stage maps back to the operator that built it. */
  def stageTable(stages: Seq[StageInfo]): String = {
    val head = "stage tasks   run_ms   cpu_ms    in_rec  shuf_r_rec  " +
      "shuf_w_rec  shuf_w_MB  site"
    val rows = stages.map { si =>
      val m = si.taskMetrics
      val site = si.details.linesIterator
        .find(l => l.contains("graft") && !l.contains("graft.tools.Profile"))
        .getOrElse(si.name).trim.take(90)
      f"${si.stageId}%5d ${si.numTasks}%5d ${m.executorRunTime}%8d " +
        f"${m.executorCpuTime / 1000000}%8d ${m.inputMetrics.recordsRead}%9d " +
        f"${m.shuffleReadMetrics.recordsRead}%11d " +
        f"${m.shuffleWriteMetrics.recordsWritten}%11d " +
        f"${m.shuffleWriteMetrics.bytesWritten / 1e6}%10.2f  $site"
    }
    (head +: rows).mkString("\n")
  }

  /** The planner's slowest rules, then the executed plan tree with every
    * operator's non-zero SQL metrics (rows, time, sizes). */
  def operatorTree(qe: QueryExecution): String = {
    val out = new StringBuilder
    val rules = qe.tracker.topRulesByTime(8).map { case (r, s) =>
      f"${r.split('.').last}=${s.totalTimeNs / 1e6}%.0f" }.mkString(" ")
    out ++= s"top rules (ms): $rules\n"
    def walk(p: SparkPlan, depth: Int): Unit = {
      val metrics = p.metrics.toSeq
        .filter { case (_, m) => m.value > 0 }
        .sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }
        .mkString(" ")
      out ++= ("  " * depth) + p.nodeName + "  " + metrics.take(220) + "\n"
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
      p.subqueries.foreach { sq =>
        out ++= ("  " * depth) + "SUBQUERY:\n"
        walk(sq, depth + 1)
      }
    }
    walk(qe.executedPlan, 0)
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val sel = args.headOption.getOrElse(
      sys.error("usage: Profile <q1,q2,...|all> [sfDir] [reps]"))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val names =
      if (sel == "all") SparkEntry.queries.keys.toSeq.sorted
      else sel.split(",").toSeq
    val spark = GraftSession.local()
    Bench.warmUp(spark, dir)
    for (name <- names) {
      try {
        val l = ledger(spark, name, dir, reps)
        println(s"========== $name ==========")
        println(l.executed.explainString(FormattedMode))
        l.reps.foreach(r => println(r.json))
        println(s"-- stages (rep $reps)")
        println(stageTable(l.stages))
        println(s"-- operators (rep $reps)")
        print(operatorTree(l.executed))
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
