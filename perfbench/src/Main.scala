package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM.
  *
  * {{{
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --work DIR --out FILE --data DIR --catalog FILE
  * }}}
  *
  * Writes every measured figure to `--out` as JSON; `perfbench/run.py`
  * adds the DuckDB oracle check and prints the result line. `--work` holds
  * the run's tables, caches, Spark scratch and temp files. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val staleTmp = graft.Bench.tmpPreflight()

    val t0 = System.nanoTime()
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.local.dir", work.resolve("spark").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(trace)
    tracer.attach(spark)
    val c = new Ctx(spark, tracer, work, seed, opt("seconds").toDouble)
    val mapper = new ObjectMapper()
    val catalog = mapper.readTree(Files.readString(Paths.get(opt("catalog"))))
    val stratum = workload.stripPrefix("catalog_")
    val names = Option(catalog.get(stratum)).toSeq.flatMap(_.elements().asScala.map(_.get("name").asText))
    workload match {
      case "sybil_query" => Sybil.sybilQuery(c, rows = 240000)
      case "catalog_light" | "catalog_heavy" =>
        Catalog.run(c, Paths.get(opt("data")).toAbsolutePath.toString,
          catalog.get("inputs").elements().asScala.map(_.asText).toSeq, stratum, names,
          c.tmp("oracle"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val out = mapper.createObjectNode()
    out.put("workload", workload)
    out.put("attempted", c.attempted)
    out.put("failed", c.failed)
    val errs = out.putArray("errors")
    c.errors.foreach(errs.add)
    val env = out.putObject("env")
    env.put("nproc", cpus)
    env.put("driver_heap_mb", Runtime.getRuntime.maxMemory / (1L << 20))
    env.put("seed", seed)
    env.put("stale_tmp_dirs", staleTmp)
    env.put("java", System.getProperty("java.version"))
    env.put("spark", spark.version)

    val (tail, pct, n) = Stats.tail(c.latencies.toSeq)
    val e2e = out.putObject("end_to_end")
    // the wall before timing: session start and every set-up step
    e2e.put("setup_s", sessionS + c.setupReps.sum)
    e2e.put("query_p50_s", Stats.median(c.latencies.toSeq))
    e2e.put("query_tail_s", tail)
    e2e.put("queries_per_s", c.latencies.size / math.max(c.timedWall, 1e-9))
    e2e.put("peak_rss_mb", Stats.peakRssMb())
    val tl = out.putObject("tail")
    tl.put("percentile", pct)
    tl.put("n", n)

    val d = out.putObject("detail")
    d.put("session_start_s", sessionS)
    val reps = d.putArray("setup_reps_s")
    c.setupReps.foreach(reps.add(_))
    d.put("timed_wall_s", c.timedWall)
    d.put("error_rate", c.failed.toDouble / math.max(1L, c.attempted))
    c.table.foreach { root =>
      val (_, bytes) = Stats.du(root, skip = Set("cache"))
      d.put("space_amp", if (c.jsonBytes > 0) bytes.toDouble / c.jsonBytes else 0.0)
    }
    c.detail.foreach { case (k, v) => d.put(k, v) }
    if (workload.startsWith("catalog_")) {
      val o = out.putObject("oracle_sql")
      names.foreach(n => graft.SparkEntry.oracleSql.get(n).foreach(o.put(n, _)))
    }

    if (trace) {
      val spans = tracer.spans
      val stages = tracer.stages
      val jobs = tracer.jobsBySpan
      val layers = Stats.layers(spans, stages, jobs)
      c.layer.foreach { case (k, v) => layers(k) = v }
      val hits = layers.getOrElse("cache.hits", 0.0)
      val misses = layers.getOrElse("cache.misses", 0.0)
      layers("cache.hit_ratio") = if (hits + misses > 0) hits / (hits + misses) else 0.0
      for (k <- Seq("cache.hits", "cache.misses", "cache.skipped", "digest.files_written"))
        layers.getOrElseUpdate(k, 0.0)
      val root = c.table
      layers("table.block_dirs") = root.map(r => Stats.dirs(r.resolve("blocks"))).getOrElse(0).toDouble
      layers("table.log_dirs") = root.map(r => Stats.dirs(r.resolve("ingest"))).getOrElse(0).toDouble
      layers("table.bytes_on_disk") = root.map(r => Stats.du(r, Set("cache"))._2).getOrElse(0L).toDouble
      layers("cache.bytes") = root.map(r => Stats.du(r.resolve("cache"))._2).getOrElse(0L).toDouble
      layers("scan.rows_per_result") =
        layers("scan.input_rows") / math.max(1L, c.tracedResultRows)
      layers("jvm.gc_s") = tracer.gcMs / 1e3
      layers("jvm.rss_peak_mb") = Stats.peakRssMb()
      layers("error_rate") = c.failed.toDouble / math.max(1L, c.attempted)
      // the latency quantiles of the untraced timed part of this run: too
      // unsteady between runs on a shared 4-core box to carry a bound
      layers("query_p50_s") = e2e.get("query_p50_s").asDouble
      layers("query_tail_s") = e2e.get("query_tail_s").asDouble
      layers("space_amp") = d.path("space_amp").asDouble(0.0)
      layers("ingest_rows_per_s") = c.detail.getOrElse("ingest_rows_per_s", 0.0)
      layers("trace.overhead_ratio") = c.tracedRound / c.untracedRound - 1.0
      val pl = out.putObject("per_layer")
      layers.foreach { case (k, v) => pl.put(k, v) }
      writeSpans(mapper, spans, stages, Paths.get(opt("out") + ".spans.json"))
    }
    Files.writeString(Paths.get(opt("out")), mapper.writerWithDefaultPrettyPrinter().writeValueAsString(out))
    System.err.println(f"[perfbench] result written at ${(System.nanoTime() - t0) / 1e9}%.3f s")
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    System.err.println(f"[perfbench] session stopped at ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  private def writeSpans(mapper: ObjectMapper, spans: Seq[Span], stages: Seq[StageRec],
      path: java.nio.file.Path): Unit = {
    val root = mapper.createObjectNode()
    val a = root.putArray("spans")
    spans.sortBy(s => (s.startNs, s.id)).foreach { s =>
      val o: ObjectNode = a.addObject()
      o.put("id", s.id); o.put("parent", s.parent); o.put("op", s.op)
      o.put("name", s.name); o.put("layer", s.layer)
      o.put("start_ns", s.startNs); o.put("end_ns", s.endNs)
    }
    val b = root.putArray("stages")
    stages.foreach { r =>
      val o = b.addObject()
      o.put("stage", r.stageId); o.put("span", r.span); o.put("tasks", r.tasks)
      o.put("cpu_ns", r.cpuNs); o.put("run_ms", r.runMs); o.put("gc_ms", r.gcMs)
      o.put("shuffle_write", r.shuffleWrite); o.put("shuffle_read", r.shuffleRead)
      o.put("spill_mem", r.memSpill); o.put("spill_disk", r.diskSpill)
      o.put("in_bytes", r.inBytes); o.put("in_rows", r.inRows); o.put("out_bytes", r.outBytes)
    }
    Files.writeString(path, mapper.writeValueAsString(root))
  }
}
