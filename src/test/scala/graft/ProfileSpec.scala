package graft

import graft.tools.Profile

/** The per-query ledger `Bench.measure` records and `graft.tools.Profile`
  * prints: every field present, the time split adds up to the wall, and
  * the scheduler counts are non-trivial for a query that shuffles. */
class ProfileSpec extends SparkSpec {

  test("ledger: q02_group_count at sf0.001 records every field, and the " +
      "construct/plan/exec split and driver gap fit inside the wall") {
    val l = Bench.measure(spark, "q02_group_count", sfDir, reps = 2)
    assert(l.reps.map(_.rep) === Seq(1, 2))
    val fields = Seq("query", "rep", "wall_s", "construct_s", "plan_s",
      "exec_s", "phases_ms", "jobs", "stages", "tasks", "stage_wall_s",
      "driver_gap_s", "task_run_s", "task_cpu_s", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_mem_bytes", "spill_disk_bytes")
    for (r <- l.reps) {
      val json = r.json
      for (f <- fields) assert(json.contains("\"" + f + "\":"), s"$f in $json")
      assert(Seq("analysis", "optimization", "planning")
        .forall(p => r.phasesMs.exists(_._1 == p)), json)
      assert(r.constructS >= 0 && r.planS >= 0 && r.execS >= 0, json)
      assert(r.constructS + r.planS + r.execS <= r.wallS + 1e-3, json)
      assert(r.stages >= 1 && r.tasks >= 1 && r.jobs >= 1, json)
      assert(r.stageWallS <= r.wallS + 1e-3, json)
      assert(r.driverGapS >= 0 && r.driverGapS <= r.wallS, json)
      assert(math.abs(r.constructS + r.planS + r.stageWallS + r.driverGapS -
        r.wallS) <= 1e-6, json)
      assert(r.taskCpuS >= 0 && r.taskRunS >= 0, json)
    }
    assert(l.stages.size === l.reps.last.stages)
    assert(Profile.stageTable(l.stages).linesIterator.size === l.stages.size + 1)
    assert(Profile.operatorTree(l.executed).contains("top rules (ms):"))
  }

  test("stage-wall union merges overlaps and clips to the rep window") {
    assert(Bench.unionMs(Nil, 0, 100) === 0)
    assert(Bench.unionMs(Seq((10, 20), (15, 30), (40, 50)), 0, 100) === 30)
    assert(Bench.unionMs(Seq((10, 20), (12, 18)), 0, 100) === 10)
    assert(Bench.unionMs(Seq((-5, 5), (95, 120)), 0, 100) === 10)
    assert(Bench.unionMs(Seq((30, 20)), 0, 100) === 0)
  }
}
