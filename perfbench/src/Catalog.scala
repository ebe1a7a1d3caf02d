package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

/** The north-star surface: one stratum of a committed list of
  * `SparkEntry.queries` entries over read-only parquet inputs. Timing
  * uses the noop sink, as `graft.Bench` does. */
object Catalog {
  /** Timed warm executions of each query, per stratum. */
  val Reps = Map("light" -> 4, "heavy" -> 3)

  def run(c: Ctx, dir: String, inputs: Seq[String], stratum: String, names: Seq[String],
      oracleDir: Path): Unit = {
    val calls = new Calls(c)
    // set-up: list and count every input through a fresh relation
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      inputs.foreach(n => c.attempt(s"load $n")(c.spark.read.parquet(s"$dir/$n.parquet").count()))
      c.setupReps += c.secs(t0)
    }
    // per query, in the listed order (a query's cost depends on what ran
    // before it, so the order is fixed): after the pin registry and storage
    // are reset, as for Bench's cold_s, one cold execution; then one warm
    // execution, untimed, whose result is kept for the oracle: it runs on
    // the plans and data the cold one pinned, as the timed ones after it
    // do, and takes the slow first warm run while the JIT still compiles
    // (q186's first warm run takes half again as long as its next); then
    // the timed warm executions, the run's query latencies
    def exec(name: String): Option[Double] = {
      // as in Bench: the previous execution's garbage is collected before
      // the next is timed, so it does not land in its pauses
      System.gc()
      val t0 = System.nanoTime()
      c.attempt(s"catalog $name")(calls.noop(calls.construct(name, dir))).map(_ => c.secs(t0))
    }
    val cold = mutable.Map.empty[String, Double]
    val warm = mutable.Map.empty[String, Seq[Double]]
    for (name <- names) {
      graft.core.Stats.PlanCache.reset()
      c.spark.catalog.clearCache()
      exec(name).foreach(cold(name) = _)
      c.attempt(s"catalog $name") {
        calls.construct(name, dir).write.mode("overwrite").parquet(oracleDir.resolve(name).toString)
      }
      val walls = (0 until Reps(stratum)).flatMap(_ => exec(name))
      if (walls.nonEmpty) warm(name) = walls
      c.latencies ++= walls
      c.timedWall += walls.sum
    }
    c.detail(s"catalog_${stratum}_s") = names.map(n => warm.get(n).map(Stats.median).getOrElse(0.0)).sum
    c.detail("catalog_cold_s") = cold.values.sum
    names.foreach { n =>
      warm.get(n).foreach(w => c.detail(s"median.$n") = Stats.median(w))
      cold.get(n).foreach(v => c.detail(s"cold.$n") = v)
    }
    if (c.tracer.enabled) {
      c.tracedResultRows = names.map { name =>
        scala.util.Try(c.spark.read.parquet(oracleDir.resolve(name).toString).count()).getOrElse(0L)
      }.sum
      def round(): Double = {
        val r0 = System.nanoTime()
        for (name <- names) c.attempt(s"catalog $name") {
          c.tracer.op(name)(calls.noop(calls.construct(name, dir)))
        }
        c.secs(r0)
      }
      c.untracedRound = round()
      c.tracer.start()
      c.tracedRound = round()
      c.tracer.stop()
    }
  }
}
