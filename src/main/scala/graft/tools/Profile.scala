package graft.tools

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.{Bench, SparkEntry}
import graft.core.GraftSession

/** Per-query profile of catalog queries: where the time went, layer by
  * layer. After Bench's session warm-up, for each query it prints
  *
  *  1. the formatted physical plan the last rep executed (AQE's final
  *     plan);
  *  2. one JSON ledger line per rep (see [[graft.Bench.Rep]]);
  *  3. for the last rep: the per-stage table (tasks, run/CPU time,
  *     records, shuffle bytes, and the graft call site that built the
  *     stage), the planner's top rules by time, and the executed plan
  *     tree with each operator's non-zero SQL metrics.
  *
  * The reps come from [[graft.Bench.measure]], so they are exactly the
  * reps Bench times.
  *
  * `runMain graft.tools.Profile <q1,q2,...|all> [sfDir] [reps]`
  */
object Profile {

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
        val l = Bench.measure(spark, name, dir, reps)
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
