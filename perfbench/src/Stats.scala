package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** The highest sample with at least ten samples above it, with its
    * percentile rank and the sample count; the maximum when there are
    * ten samples or fewer. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (0.0, 0.0, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  /** Regular files and their bytes under `root`, skipping `skip`. */
  def du(root: Path, skip: Set[String] = Set.empty): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val w = Files.walk(root)
      try w.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !skip.exists(d => root.relativize(p).toString.startsWith(d + "/")))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally w.close()
    }

  def dirs(p: Path): Int =
    if (!Files.exists(p)) 0
    else {
      val l = Files.list(p)
      try l.iterator().asScala.count(d => Files.isDirectory(d) && !d.getFileName.toString.startsWith("."))
      finally l.close()
    }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.util.Try {
      Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    }.getOrElse(0.0)

  /** Per-layer metrics over the traced spans and the stages charged to
    * them. */
  def layers(in: Seq[Span], stages: Seq[StageRec],
      jobs: Map[Int, Int]): mutable.LinkedHashMap[String, Double] = {
    val ids = in.map(_.id).toSet
    val st = stages.filter(r => ids(r.span))
    val byName = in.groupBy(_.name)
    val self = Tracer.selfNs(in)
    def total(name: String): Double = byName.getOrElse(name, Nil).map(_.durNs).sum / 1e9
    def perCall(name: String): Double = {
      val xs = byName.getOrElse(name, Nil)
      if (xs.isEmpty) 0.0 else xs.map(_.durNs).sum / 1e9 / xs.size
    }
    def jobsIn(name: String): Double = byName.getOrElse(name, Nil).map(s => jobs.getOrElse(s.id, 0)).sum
    def outIn(name: String): Double = {
      val sp = byName.getOrElse(name, Nil).map(_.id).toSet
      st.filter(r => sp(r.span)).map(_.outBytes).sum.toDouble
    }
    // stages overlap, so their layer time is the union per parent span
    val stageSelf = in.filter(_.layer == "stages").groupBy(_.parent).values.map { ks =>
      Tracer.unionNs(ks.map(k => (k.startNs, k.endNs)), Long.MinValue, Long.MaxValue)
    }.sum
    val selfBy = in.filterNot(_.layer == "stages").groupBy(_.layer)
      .map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("ingest.parse_s") = total("Ingest.readJson")
    m("ingest.parse_jobs") = jobsIn("Ingest.readJson")
    m("ingest.append_s") = total("GraftTable.ingest")
    m("ingest.bytes_written") = outIn("GraftTable.ingest")
    m("digest.s") = total("GraftTable.digest")
    m("digest.bytes_written") = outIn("GraftTable.digest")
    m("table.info_s") = perCall("GraftTable.info")
    m("table.read_s") = perCall("GraftTable.read")
    m("dsl.build_s") = total("GraftTable.query")
    m("cache.run_s") = total("QueryCache.run")
    m("construct.s") = total("SparkEntry.queries")
    m("construct.jobs") = jobsIn("SparkEntry.queries")
    for (p <- Seq("analysis", "optimization", "planning"))
      m(s"catalyst.${p}_s") = total(s"catalyst.$p")
    m("scheduler.jobs") = in.map(s => jobs.getOrElse(s.id, 0)).sum
    m("scheduler.stages") = st.size
    m("scheduler.tasks") = st.map(_.tasks.toLong).sum.toDouble
    // time inside the spans that started jobs, outside planning and stages
    m("scheduler.driver_gap_s") =
      in.filter(s => jobs.getOrElse(s.id, 0) > 0).map(s => self(s.id)).sum / 1e9
    m("executor.task_cpu_s") = st.map(_.cpuNs).sum / 1e9
    m("executor.task_run_s") = st.map(_.runMs).sum / 1e3
    m("executor.gc_s") = st.map(_.gcMs).sum / 1e3
    m("shuffle.write_bytes") = st.map(_.shuffleWrite).sum.toDouble
    m("shuffle.read_bytes") = st.map(_.shuffleRead).sum.toDouble
    m("shuffle.fetch_wait_s") = st.map(_.fetchWaitMs).sum / 1e3
    m("spill.mem_bytes") = st.map(_.memSpill).sum.toDouble
    m("spill.disk_bytes") = st.map(_.diskSpill).sum.toDouble
    m("scan.input_rows") = st.map(_.inRows).sum.toDouble
    m("scan.input_bytes") = st.map(_.inBytes).sum.toDouble
    for (l <- Seq("client", "sources", "dsl", "catalog", "driver", "catalyst"))
      m(s"selftime.${l}_s") = selfBy.getOrElse(l, 0L) / 1e9
    m("selftime.stages_s") = stageSelf / 1e9
    m("trace.spans") = in.size
    m
  }
}
