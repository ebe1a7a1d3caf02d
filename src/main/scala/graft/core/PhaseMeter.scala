package graft.core

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-PHASE task-metric attribution, keyed by Spark job description,
  * and the one task-metric listener of the measurement tools: Bench's
  * per-rep ledger reads [[total]], WriteBench the per-phase rows. Whole-run
  * task CPU alone cannot say which stage of a multi-stage operation grew
  * (the digest's repartition shuffle, post-write stats rescan, read-back
  * scan); guessing it from wall fails on a disk whose wall swings 4×.
  *
  * [[graft.sources.GraftTable]] tags each internal Spark action with
  * `sc.setJobDescription("graft.digest.write")` etc. (job descriptions
  * are Spark's own attribution channel — they propagate to every job the
  * action spawns); this listener folds task metrics into one row per
  * description. Tasks from untagged jobs land under `"(untagged)"` so
  * the total stays a checksum of the whole run.
  *
  * Metrics per phase: task executorCpuTime (actual CPU cycles, the one
  * number neither idle cores nor GC/memory-bandwidth stalls distort: a
  * quadratic pair blow-up can read as wall exponent 1.2 while CPU grows
  * at 2.2), task wall (executorRunTime: includes stalls, so cpu/run is a
  * memory-pressure signal), spills, input/output/shuffle volumes, and
  * task count (a scheduler-overhead signal).
  */
class PhaseMeter extends SparkListener {
  final class Acc {
    var cpuMs = 0L
    var runMs = 0L
    var memSpill = 0L
    var diskSpill = 0L
    var inBytes = 0L
    var inRecords = 0L
    var outBytes = 0L
    var outRecords = 0L
    var shufWrite = 0L
    var shufRead = 0L
    var tasks = 0L
    var jobWallMs = 0L

    def add(o: Acc): Unit = {
      cpuMs += o.cpuMs; runMs += o.runMs
      memSpill += o.memSpill; diskSpill += o.diskSpill
      inBytes += o.inBytes; inRecords += o.inRecords
      outBytes += o.outBytes; outRecords += o.outRecords
      shufWrite += o.shufWrite; shufRead += o.shufRead
      tasks += o.tasks; jobWallMs += o.jobWallMs
    }
  }

  private val stageToPhase = mutable.Map.empty[Int, String]
  private val jobToPhase = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val acc = mutable.LinkedHashMap.empty[String, Acc]

  private def of(phase: String): Acc =
    acc.getOrElseUpdate(phase, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("(untagged)")
    jobToPhase(e.jobId) = desc
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageToPhase(_) = desc)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (p <- jobToPhase.get(e.jobId); t0 <- jobStart.get(e.jobId))
      of(p).jobWallMs += e.time - t0
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = of(stageToPhase.getOrElse(e.stageId, "(untagged)"))
      a.cpuMs += m.executorCpuTime / 1000000L
      a.runMs += m.executorRunTime
      a.memSpill += m.memoryBytesSpilled
      a.diskSpill += m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
      a.shufWrite += m.shuffleWriteMetrics.bytesWritten
      a.shufRead += m.shuffleReadMetrics.totalBytesRead
      a.tasks += 1
    }
  }

  def reset(): Unit = synchronized {
    stageToPhase.clear(); jobToPhase.clear(); jobStart.clear(); acc.clear()
  }

  /** Wait (bounded) for the async listener bus to drain — two agreeing
    * 50 ms-apart snapshots, or ~2 s. */
  def settle(): Unit = {
    def snap: Seq[(String, Long, Long)] = synchronized {
      acc.toSeq.map { case (k, a) => (k, a.cpuMs, a.tasks) }
    }
    var prev = snap
    var i = 0
    while (i < 40) {
      Thread.sleep(50L)
      val cur = snap
      if (cur == prev) return
      prev = cur
      i += 1
    }
  }

  /** One JSON object per phase (insertion order), ready to embed. */
  def phasesJson(): String = synchronized {
    def mb(v: Long): String = f"${v / 1048576.0}%.1f"
    acc.map { case (k, a) =>
      s""""$k":{"cpu_s":${a.cpuMs / 1e3},"run_s":${a.runMs / 1e3},""" +
        s""""wall_s":${a.jobWallMs / 1e3},"tasks":${a.tasks},""" +
        s""""in_mb":${mb(a.inBytes)},"in_rows":${a.inRecords},""" +
        s""""out_mb":${mb(a.outBytes)},"out_rows":${a.outRecords},""" +
        s""""shuf_w_mb":${mb(a.shufWrite)},"shuf_r_mb":${mb(a.shufRead)},""" +
        s""""spill_mem_mb":${mb(a.memSpill)},"spill_disk_mb":${mb(a.diskSpill)}}"""
    }.mkString("{", ",", "}")
  }

  /** Every phase folded into one row: the whole run's totals. */
  def total(): Acc = synchronized {
    val t = new Acc
    acc.values.foreach(t.add)
    t
  }

  /** (cpuMs, tasks) for one phase — spec hook. */
  def phase(name: String): Option[(Long, Long)] = synchronized {
    acc.get(name).map(a => (a.cpuMs, a.tasks))
  }
}
