package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.tools.{ScaleBench, ScaleGate}

/** ScaleBench's decade file: what it writes is what ScaleGate and
  * scripts/scale_report.py read. */
class ScaleBenchSpec extends SparkSpec {

  test("a decade file rendered by ScaleBench.run parses with ScaleGate.parse " +
      "and keeps every per-query field") {
    val json = ScaleBench.run(spark, sfDir, 2, Seq("q02_group_count"))
    val f = SparkSpec.tempDir("graft-scalebench").resolve("decade.json")
    java.nio.file.Files.write(f, json.getBytes("UTF-8"))
    val m = ScaleGate.parse(f.toString)
    assert(m.keySet === Set("q02_group_count"), json)
    assert(m("q02_group_count").wall > 0 &&
      m("q02_group_count").cpuMs.exists(_ >= 0), json)
    val root = new ObjectMapper().readTree(json)
    assert(root.get("reps").asInt === 2)
    val q = root.get("queries").get("q02_group_count")
    for (k <- Seq("median", "min", "max", "cpu_ms", "spill_mem", "spill_disk"))
      assert(q.has(k), s"$k in $json")
    assert(q.get("min").asDouble <= q.get("median").asDouble &&
      q.get("median").asDouble <= q.get("max").asDouble, json)
  }

  test("the rep median averages the middle pair for an even rep count") {
    assert(Bench.median(Seq(3.0, 1.0)) === 2.0)
    assert(Bench.median(Seq(1.0, 9.0, 2.0)) === 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
  }
}
