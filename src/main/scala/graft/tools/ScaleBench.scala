package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Bench

/** Multi-rep per-query bench for the decade files: each query is measured
  * by [[graft.Bench.measure]] (Bench's own isolation, converged warm-up,
  * GC'd timed reps and true median), reporting median/min/max — the
  * machine-checkable form of "is this drift real or machine load". Used
  * both for the sf0.1 variance anchor and the sf-scaling curve.
  *
  * `runMain graft.tools.ScaleBench <sfDir> <reps> <q1,q2,...|topN>`
  * `topN` (e.g. `top30`) picks the N slowest from BENCH_FULL.json.
  * Output: the [[run]] JSON line (also written to the path in
  * SPARK_GRAFT_SCALEBENCH_OUT if set).
  */
object ScaleBench {

  /** Measure `names` and render one JSON line `{"sf":dir,"reps":n,
    * "queries":{name:{"median":s,"min":s,"max":s,"spill_mem":b,
    * "spill_disk":b,"cpu_ms":ms}}}`: wall seconds over the reps, spill
    * bytes per rep (the mean — a sum beside a per-rep median would
    * overstate it by the rep count), and the median rep's task CPU.
    * Task CPU is the number scale verdicts use: idle cores absorb a
    * quadratic blow-up in wall, and thread wall over-reads scan-heavy
    * queries on a fuller machine. A failing query is reported on stderr
    * and left out. */
  def run(spark: SparkSession, dir: String, reps: Int,
      names: Seq[String]): String = {
    def s(v: Double) = f"$v%.3f"
    val qs = names.flatMap { name =>
      try {
        val rs = Bench.measure(spark, name, dir, reps).reps
        val ts = rs.map(_.wallS)
        val med = Bench.median(ts)
        val cpuMs = Bench.median(rs.map(_.taskCpuS)) * 1e3
        val sm = rs.map(_.spillMemBytes).sum / rs.size
        val sd = rs.map(_.spillDiskBytes).sum / rs.size
        System.err.println(f"[scalebench] $name med=$med%.3f " +
          f"min=${ts.min}%.3f max=${ts.max}%.3f " +
          f"spillMB=${(sm + sd) / 1e6}%.0f cpuS=${cpuMs / 1e3}%.1f")
        Some("\"" + name + s"""":{"median":${s(med)},"min":${s(ts.min)},""" +
          s""""max":${s(ts.max)},"spill_mem":$sm,"spill_disk":$sd,""" +
          f""""cpu_ms":$cpuMs%.0f}""")
      } catch { case e: Throwable =>
        System.err.println(s"[scalebench] $name FAILED: ${e.getMessage}")
        None
      }
    }.mkString("{", ",", "}")
    s"""{"sf":"$dir","reps":$reps,"queries":$qs}"""
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sel = args.lift(2).getOrElse("top30")
    val names: Seq[String] =
      if (sel.startsWith("top")) {
        // dispositioned quadratics (ScaleGate.allowlist — q197's fixture
        // hit 1162 CPU-s at sf3 and would DOMINATE an sf10 sweep) are
        // excluded from topN by default; `topN+allow` opts them back in
        val withAllow = sel.endsWith("+allow")
        val n = sel.drop(3).takeWhile(_.isDigit).toInt
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_FULL.json")))
        // minimal parse of the flat {"qname":sec,...} map
        val re = """"(q[0-9]+_[a-z0-9_]+)":([0-9.]+)""".r
        val ranked = re.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .toSeq.sortBy(-_._2)
        val (skip, keep) =
          ranked.partition(q => !withAllow && ScaleGate.allowlist.contains(q._1))
        if (skip.nonEmpty) System.err.println(
          "[scalebench] excluded dispositioned-quadratic fixtures (use " +
            s"top$n+allow to include): ${skip.map(_._1).mkString(", ")}")
        keep.take(n).map(_._1)
      } else sel.split(",").toSeq
    val spark = graft.core.GraftSession.local()
    Bench.warmUp(spark, dir)
    val json = run(spark, dir, reps, names)
    sys.env.get("SPARK_GRAFT_SCALEBENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    println(json)
    spark.stop()
  }
}
