package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the epoch-nanosecond clock. `op` groups every
  * span of one benchmark operation; `parent` is 0 for an operation's root.
  * `layer` names the module the time is charged to when self times are
  * summed (client, sources, dsl, catalog, driver, catalyst, stages). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Listener counters of one finished stage, charged to the benchmark span
  * that was open on the client thread when its job was submitted. */
final case class StageRec(stageId: Int, span: Int, submitMs: Long, endMs: Long,
    tasks: Int, cpuNs: Long, runMs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long,
    memSpill: Long, diskSpill: Long, inBytes: Long, inRows: Long,
    outBytes: Long)

/** Spans around the engine's public calls, plus Spark's own counters
  * attached at the same boundaries.
  *
  * The benchmark runs one client thread. Each span sets a local property
  * naming itself, so every job Spark starts inside it carries that id;
  * the [[SparkListener]] side maps job → span and stage → job, and the
  * [[QueryExecutionListener]] side hands over the `QueryPlanningTracker`
  * phases, which are charged to the innermost span that contains them in
  * time. Everything stays in memory until [[spans]]/[[stages]] are read
  * at the end of the run. Outside [[start]]/[[stop]] no listener is
  * registered and each body runs with no bookkeeping at all. */
final class Tracer(val enabled: Boolean) {
  private val anchorEpochNs = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  def now(): Long = anchorEpochNs + (System.nanoTime() - anchorNano)

  private val PropKey = "perfbench.span"
  private var spark: SparkSession = _
  private var nextId = 0
  private var nextOp = 0
  private var currentOp = 0
  private val open = mutable.ArrayBuffer.empty[Int]
  private val done = mutable.ArrayBuffer.empty[Span]

  // listener state, written on Spark's listener-bus thread
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageRecs = mutable.ArrayBuffer.empty[StageRec]
  private val phaseRecs = mutable.LinkedHashSet.empty[(String, Long, Long)]
  private var jobsOpen = 0
  private var events = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      events += 1
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
      s.foreach { id =>
        jobSpan(e.jobId) = id.toInt
        jobsOpen += 1
        e.stageIds.foreach(st => if (!stageSpan.contains(st)) stageSpan(st) = id.toInt)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      events += 1
      if (jobSpan.contains(e.jobId)) jobsOpen -= 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      events += 1
      val i = e.stageInfo
      for (span <- stageSpan.get(i.stageId)) {
        val m = i.taskMetrics
        val sr = m.shuffleReadMetrics
        stageRecs += StageRec(i.stageId, span,
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          i.numTasks, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
          m.memoryBytesSpilled, m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Keep the planning phases of `qe` (each phase once, however often
    * it is reported). */
  def phases(qe: QueryExecution): Unit = if (recording) synchronized {
    events += 1
    qe.tracker.phases.foreach { case (name, p) =>
      phaseRecs += ((name, p.startTimeMs, p.endTimeMs))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private var recording = false
  def active: Boolean = recording
  private var gcAtStart = 0L
  /** JVM garbage-collection time while recording, in milliseconds. */
  var gcMs = 0L

  private def gcTotal: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  def attach(s: SparkSession): Unit = spark = s

  /** Register the listeners and record spans until [[stop]]. */
  def start(): Unit = if (enabled && !recording) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    gcAtStart = gcTotal
    recording = true
  }

  /** Drain late listener events, then unregister. */
  def stop(): Unit = if (recording) {
    settle()
    gcMs += gcTotal - gcAtStart
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    recording = false
  }

  /** Root span of one operation; returns the body's value. */
  def op[A](name: String)(f: => A): A =
    if (!recording) f
    else {
      nextOp += 1
      currentOp = nextOp
      try span(name, "client")(f) finally currentOp = 0
    }

  def span[A](name: String, layer: String)(f: => A): A =
    if (!recording || currentOp == 0) f
    else {
      nextId += 1
      val id = nextId
      val parent = open.lastOption.getOrElse(0)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(PropKey)
      open += id
      sc.setLocalProperty(PropKey, id.toString)
      val t0 = now()
      try f
      finally {
        val t1 = now()
        sc.setLocalProperty(PropKey, prev)
        open.remove(open.length - 1)
        done += Span(id, parent, currentOp, name, layer, t0, t1)
      }
    }

  /** Wait (bounded) until every traced job has ended and the listener
    * bus has been quiet for a while, so late events are not lost. */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    var i = 0
    while (quiet < 3 && i < 200) {
      Thread.sleep(20)
      val (ev, jo) = synchronized((events, jobsOpen))
      if (ev == last && jo <= 0) quiet += 1 else quiet = 0
      last = ev
      i += 1
    }
  }

  def jobsBySpan: Map[Int, Int] = synchronized {
    jobSpan.values.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** Benchmark spans, one synthetic span per stage (child of the span
    * that submitted it) and one per planning phase (child of the
    * innermost benchmark span containing it). */
  def spans: Seq[Span] = synchronized {
    val byId = done.map(s => s.id -> s).toMap
    var id = nextId
    val stageSpans = stageRecs.flatMap { r =>
      byId.get(r.span).filter(_ => r.endMs > 0).map { p =>
        id += 1
        Span(id, p.id, p.op, "stage", "stages",
          r.submitMs * 1000000L, r.endMs * 1000000L)
      }
    }
    // phases carry millisecond stamps: widen each benchmark span by one
    // millisecond on either side when matching, then pick the innermost
    val phaseSpans = phaseRecs.flatMap { case (name, s, e) =>
      val sNs = s * 1000000L
      val eNs = e * 1000000L
      done.filter(b => b.startNs - 1000000L <= sNs && eNs <= b.endNs + 1000000L)
        .sortBy(b => -b.startNs).headOption.map { p =>
          id += 1
          Span(id, p.id, p.op, s"catalyst.$name", "catalyst", sNs, eNs)
        }
    }
    done.toSeq ++ stageSpans ++ phaseSpans
  }

  def stages: Seq[StageRec] = synchronized(stageRecs.toSeq)
}

object Tracer {
  /** Length of the union of intervals, clipped to [lo, hi). */
  def unionNs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover. */
  def selfNs(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - unionNs(c, s.startNs, s.endNs))
    }.toMap
  }
}
