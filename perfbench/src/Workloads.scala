package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.dsl.{AggOp, SybilQuery}
import graft.sources.{CacheOutcome, GraftTable, Ingest, QueryCache}

/** State shared by one benchmark run: the session, the tracer, the seeded
  * random source, and everything the run measured. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val seed: Long, val seconds: Double) {
  val rnd = new java.util.Random(seed * 31L + 7L)
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Latency of every timed query (seconds). */
  val latencies = mutable.ArrayBuffer.empty[Double]
  var timedWall = 0.0
  val setupReps = mutable.ArrayBuffer.empty[Double]
  /** Workload figures that are not in the end-to-end set. */
  val detail = mutable.LinkedHashMap.empty[String, Double]
  /** Layer figures taken directly from the engine's return values. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Wall of the untraced round run just before the traced one, and of
    * the traced round: their ratio is the tracing overhead. */
  var untracedRound = 0.0
  var tracedRound = 0.0
  /** Result rows of the traced operations, for scan.rows_per_result. */
  var tracedResultRows = 0L
  /** Table directories, for the on-disk layer counts. */
  var table: Option[Path] = None
  var jsonBytes = 0L

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run one operation; a throw counts as a failed operation. */
  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch { case e: Throwable =>
      failed += 1
      if (errors.size < 20) errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      None
    }
  }

  /** A correctness check on an operation already attempted: a mismatch
    * turns that operation into a failed one. */
  def verify(what: String)(ok: => Boolean): Unit = {
    val good = try ok catch { case e: Throwable =>
      if (errors.size < 20) errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      false
    }
    if (!good) {
      failed += 1
      if (errors.size < 20) errors += s"$what: wrong result"
    }
  }

  def tmp(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** The engine's public calls, each wrapped in its span. */
final class Calls(c: Ctx) {
  import c.tracer.span
  def readJson(path: String): DataFrame =
    span("Ingest.readJson", "sources")(Ingest.readJson(c.spark, path))
  def ingest(t: GraftTable, df: DataFrame): Unit =
    span("GraftTable.ingest", "sources")(t.ingest(df))
  def digest(t: GraftTable): Unit = {
    val before = if (c.tracer.active) t.blockIds.toSet else Set.empty[String]
    span("GraftTable.digest", "sources")(t.digest())
    if (c.tracer.active) {
      val files = t.blockIds.filterNot(before).map { id =>
        Files.list(c.table.get.resolve("blocks").resolve(id))
          .filter(_.getFileName.toString.endsWith(".parquet")).count()
      }.sum
      c.layer("digest.files_written") = c.layer.getOrElse("digest.files_written", 0.0) + files
    }
  }
  /** A built DataFrame was analysed eagerly; its analysis phase belongs
    * to the call that built it. */
  private def built(df: DataFrame): DataFrame = { c.tracer.phases(df.queryExecution); df }
  def query(t: GraftTable, q: SybilQuery): DataFrame =
    built(span("GraftTable.query", "dsl")(t.query(q)))
  def info(t: GraftTable) = span("GraftTable.info", "sources")(t.info())
  def read(t: GraftTable): DataFrame = span("GraftTable.read", "sources")(t.read())
  def cached(qc: QueryCache, q: SybilQuery): (DataFrame, CacheOutcome) =
    span("QueryCache.run", "sources")(qc.run(q))
  def construct(name: String, dir: String): DataFrame =
    built(span("SparkEntry.queries", "catalog")(graft.SparkEntry.queries(name)(c.spark, dir)))
  def collect(df: DataFrame): Array[Row] = {
    val rows = span("collect", "driver")(df.collect())
    if (c.tracer.active) c.tracedResultRows += rows.length
    rows
  }
  def noop(df: DataFrame): Unit =
    span("noop", "driver")(df.write.format("noop").mode("overwrite").save())
}

/** The sybil workload: a table built by ingest + digest, then a stream of
  * uncached DSL queries over it. */
object Sybil {
  val T0 = 1700000000L
  import Uptime.{Day, Week}

  /** Wall seconds of one [[build]]. */
  final case class Built(parse: Double, append: Double, digest: Double) {
    def ingestS: Double = parse + append
  }

  /** Write `rows` rows with `time` in [lo, hi) as one JSON batch, ingest it
    * and digest. A failed step counts as a failed operation and 0 s. */
  private def build(c: Ctx, calls: Calls, gen: Uptime, t: GraftTable, tag: String,
      rows: Int, lo: Long, hi: Long): Built = {
    val path = c.tmp("json").resolve(s"$tag.json")
    c.jsonBytes += gen.writeBatch(path.toString, rows, lo, hi)
    val (parse, append) = c.attempt(s"ingest $tag") {
      c.tracer.op("ingest-batch") {
        val t0 = System.nanoTime()
        val df = calls.readJson(path.toString)
        val t1 = System.nanoTime()
        calls.ingest(t, df)
        ((t1 - t0) / 1e9, c.secs(t1))
      }
    }.getOrElse((0.0, 0.0))
    Files.deleteIfExists(path)
    val digest = c.attempt(s"digest $tag")(c.tracer.op("digest")(wall(calls.digest(t)))).getOrElse(0.0)
    Built(parse, append, digest)
  }

  private def pick[A](c: Ctx, xs: Seq[A]): A = xs(c.rnd.nextInt(xs.length))

  /** The read-path query surface, parameters drawn from the seed:
    * count/sum/avg, the four hist flavors, HLL distinct, time series,
    * int/str/regex/set filters, weights, str-replace, samples and
    * sort/limit. */
  def querySet(c: Ctx): Seq[(String, SybilQuery)] = {
    val q = SybilQuery()
    // parameters move which rows pass, not how many: every seed costs the
    // engine about the same work
    val pingCut = 55L + c.rnd.nextInt(10)
    val lo = T0 - 4 * Week + c.rnd.nextInt(28) * Day
    val hi = lo + 14 * Day
    val set = pick(c, Seq("mod2", "mod3"))
    Seq(
      "count_by_status" -> q.groupBy("status"),
      "count_ping_gt_host_re" -> q.groupBy("host", "status").intFilterGt("ping", pingCut)
        .strFilterRe("host", pick(c, Seq("^web", "example\\.(org|net)$"))),
      "sum_weighted_window_set_nin" -> q.groupBy("status").aggregate("ping").withOp(AggOp.SumOp)
        .weighted("weight").intFilterGt("time", lo).intFilterLt("time", hi).setFilterNin("groups", "none"),
      "avg_str_replace" -> q.replace("host", "^[a-z0-9]+\\.", "").groupBy("host")
        .aggregate("ping").withOp(AggOp.AvgOp),
      "avg_weighted_sort_asc_limit" -> q.groupBy("host", "status").aggregate("ping").withOp(AggOp.AvgOp)
        .weighted("weight").sort("ping").ascending.limitTo(5),
      "hist_set_in" -> q.groupBy("status").aggregate("ping").withOp(AggOp.HistOp)
        .setFilterIn("groups", set),
      "loghist_by_host" -> q.groupBy("host").aggregate("ping").logHistogram,
      "nestedhist_by_status" -> q.groupBy("status").aggregate("ping").nestedHistogram,
      "tdigest_neq_nre" -> q.groupBy("host").aggregate("ping").tDigestHistogram
        .strFilterNeq("status", pick(c, Seq("403", "503"))).strFilterNre("host", "^db"),
      "hll_weight_eq" -> q.groupBy("host").distinct("index_str")
        .intFilterEq("weight", pick(c, Uptime.Weights.toSeq).toLong),
      "timeseries_day_window" -> q.timeSeries("time", Day).intFilterGt("time", lo).intFilterLt("time", hi),
      "samples_newest" -> q.takeSamples("host", "status", "ping", "time").limitTo(5)
        .intFilterGt("ping", pingCut))
  }

  /** Compare a DSL result with the generator's own tallies. Count, Samples
    * and sums/averages must match exactly; an HLL estimate must be within
    * a tenth of the exact distinct count; each hist must summarise its
    * group's values by the rules of [[Uptime.histMatches]]. */
  def matches(gen: Uptime, q: SybilQuery, rows: Array[Row]): Boolean =
    if (q.samples) {
      rows.toSeq.map(r => Uptime.rowValues(r, q.sampleCols)) == gen.expectedSamples(q)
    } else {
      val keys = q.timeBucket.map(_ => "time_bucket").toSeq ++ q.groups
      val aggs = q.op match {
        case AggOp.SumOp => q.aggCols.map(_ + "_sum")
        case AggOp.AvgOp => q.aggCols.map(_ + "_avg")
        case _ => Nil
      }
      val got = rows.toSeq.map(r => Uptime.rowValues(r, keys ++ Seq("Count", "Samples") ++ aggs))
      val hllOk = q.op match {
        case AggOp.DistinctOp(_) => rows.forall { r =>
          // index_str is unique per row, so the exact distinct count is Samples
          val s = r.getAs[Long]("Samples").toDouble
          math.abs(r.getAs[Long]("Distinct") - s) <= 0.1 * s
        }
        case _ => true
      }
      val histOk = q.op != AggOp.HistOp || q.aggCols.forall { col =>
        val want = gen.values(q, col)
        val extent = gen.extent(col)
        rows.forall(r => want.get(Uptime.rowValues(r, keys)).exists(
          Uptime.histMatches(q, r.getAs[Row](s"${col}_hist"), _, extent)))
      }
      hllOk && histOk && got == gen.expected(q)
    }

  /** The row count seen by the sidecar and by a full read equals the rows
    * generated. */
  private def checkRows(c: Ctx, calls: Calls, t: GraftTable, gen: Uptime): Unit =
    c.attempt("row count") {
      val i = calls.info(t)
      val n = calls.read(t).count()
      c.verify(s"row count info=${i.rowCount} read=$n generated=${gen.rows}")(
        i.rowCount == gen.rows && n == gen.rows)
    }

  /** Repeated sidecar and listing calls, so their per-call cost shows in
    * the trace on its own. */
  private def probeTable(c: Ctx, calls: Calls, t: GraftTable): Unit =
    for (_ <- 0 until 10) c.tracer.op("table-probe") { calls.info(t); calls.read(t) }

  def sybilQuery(c: Ctx, rows: Int): Unit = {
    val calls = new Calls(c)
    val gen = new Uptime(c.seed)
    val root = c.tmp("uptime")
    val t = new GraftTable(c.spark, root.toString)
    c.table = Some(root)
    val reps = 3
    c.tracer.start()
    val built = (0 until reps).map { rep =>
      val t0 = System.nanoTime()
      val b = build(c, calls, gen, t, s"setup$rep", rows / reps, T0 - 4 * Week, T0 + 4 * Week)
      c.setupReps += c.secs(t0)
      b
    }
    c.tracer.stop()
    checkRows(c, calls, t, gen)
    c.detail("ingest_rows_per_s") = gen.rows / built.map(_.ingestS).sum
    c.detail("digest_p50_s") = Stats.median(built.map(_.digest))

    val qs = querySet(c)
    val results = mutable.ArrayBuffer.empty[(String, SybilQuery, Array[Row])]
    def exec(i: Int): Option[Double] = {
      val (name, q) = qs(i)
      val t0 = System.nanoTime()
      c.attempt(s"query $name") {
        val rows = c.tracer.op(s"query:$name")(calls.collect(calls.query(t, q)))
        results += ((name, q, rows))
        c.secs(t0)
      }
    }
    val w0 = System.nanoTime()
    qs.indices.foreach(exec) // warm-up
    c.detail("warmup_s") = c.secs(w0)
    // timed rounds over the set in its fixed order: a query's cost depends
    // on what ran before it
    val rounds = math.max(1, math.round(c.seconds / RoundS).toInt)
    for (_ <- 0 until rounds; i <- qs.indices) exec(i).foreach(c.latencies += _)
    // one client, so the timed wall is the queries' own time: the
    // collections between them stay out
    c.timedWall = c.latencies.sum
    if (c.tracer.enabled) {
      c.untracedRound = wall(qs.indices.foreach(exec))
      c.tracer.start()
      c.tracedRound = wall(qs.indices.foreach(exec))
      probeTable(c, calls, t)
      c.tracer.stop()
    }
    // correctness, outside the timed window: one tally per distinct answer
    val v0 = System.nanoTime()
    val verdicts = mutable.Map.empty[(String, Seq[Row]), Boolean]
    results.foreach { case (name, q, rows) =>
      c.verify(s"query $name")(verdicts.getOrElseUpdate((name, rows.toSeq), matches(gen, q, rows)))
    }
    c.detail("verify_s") = c.secs(v0)
    if (c.tracer.enabled) {
      c.tracer.start()
      cachePhase(c, calls, gen, t, qs.collect { case (n, q) if Cacheable(n) => q }, rows / reps)
      c.tracer.stop()
    }
  }

  /** Queries of the set that `QueryCache.run` takes and whose blocks it
    * can cache: no samples or time series, and no time filter (every block
    * of this table spans the whole time range, so a time filter leaves
    * each block only partly covered). */
  val Cacheable = Set("avg_weighted_sort_asc_limit", "hist_set_in", "tdigest_neq_nre", "hll_weight_eq")

  /** The sybil store's write path beside its query cache, traced runs
    * only (outside any timed window): the cacheable queries through
    * `QueryCache.run` cold (misses), again (hits), then after one more
    * batch is ingested and digested (hits on the old blocks, a miss on
    * the new one). Every cached result must equal the uncached
    * `GraftTable.query` on the same table state, and the tallies. */
  private def cachePhase(c: Ctx, calls: Calls, gen: Uptime, t: GraftTable,
      qs: Seq[SybilQuery], rows: Int): Unit = {
    val qc = new QueryCache(c.spark, t)
    val outcomes = mutable.ArrayBuffer.empty[CacheOutcome]
    def pass(tag: String): Unit = qs.zipWithIndex.foreach { case (q, i) =>
      c.attempt(s"cached $tag $i") {
        val rows = c.tracer.op(s"cached:$i") {
          val (df, o) = calls.cached(qc, q)
          outcomes += o
          calls.collect(df)
        }
        c.verify(s"cached $tag $i") {
          val plain = c.tracer.op(s"uncached:$i")(calls.collect(calls.query(t, q)))
          plain.toSeq == rows.toSeq && matches(gen, q, rows)
        }
      }
    }
    pass("cold")
    pass("warm")
    build(c, calls, gen, t, "after-cache", rows, T0 - 4 * Week, T0 + 4 * Week)
    pass("after-write")
    c.layer("cache.hits") = outcomes.map(_.hits).sum
    c.layer("cache.misses") = outcomes.map(_.misses).sum
    c.layer("cache.skipped") = outcomes.map(_.skipped).sum
    checkRows(c, calls, t, gen)
  }

  private def wall(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  /** Nominal seconds of one timed round: `--seconds` buys a fixed number
    * of rounds, so every run does the same work. */
  val RoundS = 4.0
}
