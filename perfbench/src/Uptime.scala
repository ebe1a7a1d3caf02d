package graft.perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.regex.Pattern

import org.apache.spark.sql.Row

import graft.dsl.{AggOp, IntFilter, SetFilter, StrFilter, SybilQuery}

/** Seeded rows shaped like the reference's `uptime` fixture (FIXTURES.md
  * §2: host, status, ping, weight, time, index_int/index_str, groups).
  *
  * Every generated row is also kept column-wise in memory, so the
  * benchmark can tally any count/sum/avg query itself and compare the
  * engine's answer with it exactly. `ping` is written with three decimals
  * and truncated at ingest, the reference's float → int rule. */
final class Uptime(seed: Long) {
  import Uptime._

  private val rnd = new java.util.Random(seed)
  private var n = 0
  private var host = new Array[Byte](1 << 16)
  private var status = new Array[Byte](1 << 16)
  private var pingMilli = new Array[Int](1 << 16)
  private var weight = new Array[Int](1 << 16)
  private var time = new Array[Long](1 << 16)

  def rows: Int = n

  private def grow(need: Int): Unit = if (need > host.length) {
    val c = math.max(need, host.length * 2)
    host = java.util.Arrays.copyOf(host, c)
    status = java.util.Arrays.copyOf(status, c)
    pingMilli = java.util.Arrays.copyOf(pingMilli, c)
    weight = java.util.Arrays.copyOf(weight, c)
    time = java.util.Arrays.copyOf(time, c)
  }

  /** Append `count` rows with `time` uniform in [tLo, tHi) and write them
    * as JSON lines to `path`. Returns the bytes written. */
  def writeBatch(path: String, count: Int, tLo: Long, tHi: Long): Long = {
    grow(n + count)
    val out = new BufferedWriter(new FileWriter(path), 1 << 16)
    val sb = new java.lang.StringBuilder(256)
    var bytes = 0L
    try {
      var i = 0
      while (i < count) {
        val r = n + i
        host(r) = rnd.nextInt(Hosts.length).toByte
        val s = rnd.nextInt(100)
        status(r) = StatusCut.indexWhere(s < _).toByte
        pingMilli(r) = math.round(math.abs(rnd.nextGaussian() * 20.0 + 60.0) * 1000.0).toInt
        weight(r) = Weights(rnd.nextInt(Weights.length))
        time(r) = tLo + (rnd.nextDouble() * (tHi - tLo)).toLong
        sb.setLength(0)
        sb.append("{\"host\":\"").append(Hosts(host(r)))
          .append("\",\"status\":\"").append(Statuses(status(r)))
          .append("\",\"ping\":").append(pingMilli(r) / 1000).append('.')
        val frac = pingMilli(r) % 1000
        if (frac < 100) sb.append('0')
        if (frac < 10) sb.append('0')
        sb.append(frac)
          .append(",\"weight\":").append(weight(r))
          .append(",\"time\":").append(time(r))
          .append(",\"index_int\":").append(r)
          .append(",\"index_str\":\"").append(r)
          .append("\",\"groups\":[")
        sb.append(groupsOf(r).map("\"" + _ + "\"").mkString(","))
        sb.append("]}\n")
        out.append(sb)
        bytes += sb.length // ASCII only
        i += 1
      }
    } finally out.close()
    n += count
    bytes
  }

  /** Newest `time` among the rows so far. */
  def maxTime: Long = { var m = Long.MinValue; var i = 0; while (i < n) { if (time(i) > m) m = time(i); i += 1 }; m }

  private def intCol(c: String, r: Int): Long = c match {
    case "ping" => pingMilli(r) / 1000
    case "weight" => weight(r)
    case "time" => time(r)
    case "index_int" => r
    case other => throw new IllegalArgumentException(s"not an int column: $other")
  }

  private def strCol(c: String, r: Int): String = c match {
    case "host" => Hosts(host(r))
    case "status" => Statuses(status(r))
    case "index_str" => r.toString
    case other => throw new IllegalArgumentException(s"not a str column: $other")
  }

  /** Values of a host/status column as a small code per row, with the
    * DSL's str-replace applied to the decoded strings. */
  private def coded(q: SybilQuery, c: String): (Int => Int, Array[String]) = {
    val (codes, names): (Int => Int, Array[String]) = c match {
      case "host" => (r => host(r), Hosts)
      case "status" => (r => status(r), Statuses)
      case other => throw new IllegalArgumentException(s"not a coded column: $other")
    }
    val shown = q.strReplace.get(c) match {
      case Some((p, rep)) => names.map(Pattern.compile(p).matcher(_).replaceAll(rep))
      case None => names
    }
    (codes, shown)
  }

  /** Compiled row predicate for the DSL's filters, with the DSL's time
    * bucket alignment applied to filters on the time column. */
  private def predicate(q: SybilQuery): Int => Boolean = {
    val tests: Seq[Int => Boolean] = q.filters.map {
      case IntFilter(c, o, v0) =>
        val v = q.timeBucket.filter(_ => c == q.timeCol).map(b => v0 / b * b).getOrElse(v0)
        o match {
          case "gt" => (r: Int) => intCol(c, r) > v
          case "lt" => (r: Int) => intCol(c, r) < v
          case "eq" => (r: Int) => intCol(c, r) == v
          case "neq" => (r: Int) => intCol(c, r) != v
        }
      case StrFilter(c, o, v) =>
        // one verdict per distinct value of the column
        val (code, shown) = coded(q, c)
        val p = Pattern.compile(v)
        val hit = shown.map(s => o match {
          case "eq" => s == v
          case "neq" => s != v
          case "re" => p.matcher(s).find()
          case "nre" => !p.matcher(s).find()
        })
        (r: Int) => hit(code(r))
      case SetFilter(_, o, v) =>
        o match {
          case "in" => (r: Int) => inGroup(r, v)
          case "nin" => (r: Int) => !inGroup(r, v)
        }
    }
    (r: Int) => tests.forall(_(r))
  }

  /** Expected result rows of a count/sum/avg/hist/distinct query, in the
    * DSL's output order: key columns (`time_bucket` first), then Count,
    * Samples, then one exact `<col>_sum`/`<col>_avg` per agg column for
    * those ops. Hist and distinct rows stop at Samples — their sketch
    * columns are compared by other rules. Group columns may be host and
    * status. */
  def expected(q: SybilQuery): Seq[Seq[Any]] = {
    val keep = predicate(q)
    val (key, unpack) = keys(q)
    final class Acc(k: Int) { var count = 0L; var samples = 0L; val vw = new Array[Long](k); val w = new Array[Long](k) }
    val accs = scala.collection.mutable.HashMap.empty[Long, Acc]
    val w: Int => Long = q.weightCol.map(c => (r: Int) => intCol(c, r)).getOrElse((_: Int) => 1L)
    var r = 0
    while (r < n) {
      if (keep(r)) {
        val a = accs.getOrElseUpdate(key(r), new Acc(q.aggCols.length))
        val wr = w(r)
        a.count += wr
        a.samples += 1
        var j = 0
        while (j < q.aggCols.length) { a.vw(j) += intCol(q.aggCols(j), r) * wr; a.w(j) += wr; j += 1 }
      }
      r += 1
    }
    // str-replace can merge groups: fold packed keys by their shown values
    val merged = accs.toSeq.groupBy { case (k, _) => unpack(k) }.map { case (k, as) =>
      val a = new Acc(q.aggCols.length)
      as.foreach { case (_, b) =>
        a.count += b.count; a.samples += b.samples
        b.vw.indices.foreach { j => a.vw(j) += b.vw(j); a.w(j) += b.w(j) }
      }
      k -> a
    }
    val rowsOut = merged.toSeq.map { case (k, a) =>
      val aggs: Seq[Any] = q.op match {
        case AggOp.SumOp => a.vw.toSeq.map(_.toDouble)
        case AggOp.AvgOp => a.vw.indices.map(j => a.vw(j).toDouble / a.w(j).toDouble)
        case _ => Nil
      }
      k ++ Seq(a.count, a.samples) ++ aggs
    }
    val nKeys = q.timeBucket.size + q.groups.size
    val sortIdx = q.sortBy match {
      case None | Some("$COUNT") => nKeys
      case Some(c) => nKeys + 2 + q.aggCols.indexOf(c)
    }
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case _ => throw new IllegalStateException(s"compare $a $b")
    }
    val ordered = rowsOut.sortWith { (a, b) =>
      val s = cmp(a(sortIdx), b(sortIdx)) * (if (q.sortAsc) 1 else -1)
      if (s != 0) s < 0
      else (0 until nKeys).map(i => cmp(a(i), b(i))).find(_ != 0).exists(_ < 0)
    }
    q.limit.map(ordered.take).getOrElse(ordered)
  }

  /** A packed group key per row (time bucket, then one 4-bit code per
    * host/status group column) and its decoding into the shown key
    * values, `time_bucket` first. */
  private def keys(q: SybilQuery): (Int => Long, Long => Seq[Any]) = {
    val keyCols = q.groups.map(coded(q, _))
    def key(r: Int): Long = {
      var k = q.timeBucket.map(b => time(r) / b).getOrElse(0L)
      keyCols.foreach { case (code, _) => k = (k << 4) | code(r) }
      k
    }
    def unpack(k0: Long): Seq[Any] = {
      var k = k0
      val codes = keyCols.reverse.map { case (_, names) => val v = names((k & 15).toInt); k >>= 4; v }.reverse
      q.timeBucket.map(b => k * b: Any).toSeq ++ codes
    }
    (key, unpack)
  }

  /** The values of int column `c` over the rows a query keeps, sorted,
    * by shown group key: what a hist of `c` summarises. */
  def values(q: SybilQuery, c: String): Map[Seq[Any], Array[Long]] = {
    val keep = predicate(q)
    val (key, unpack) = keys(q)
    val by = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuilder.ofLong]
    var r = 0
    while (r < n) {
      if (keep(r)) by.getOrElseUpdate(key(r), new scala.collection.mutable.ArrayBuilder.ofLong) += intCol(c, r)
      r += 1
    }
    by.toSeq.groupBy { case (k, _) => unpack(k) }.map { case (k, bs) =>
      val vs = bs.flatMap(_._2.result()).toArray
      java.util.Arrays.sort(vs)
      k -> vs
    }
  }

  /** Smallest and largest value of int column `c` over all rows. */
  def extent(c: String): (Long, Long) = {
    var lo = Long.MaxValue; var hi = Long.MinValue; var r = 0
    while (r < n) { val v = intCol(c, r); if (v < lo) lo = v; if (v > hi) hi = v; r += 1 }
    (lo, hi)
  }

  /** Expected `-samples` rows: the selected columns of the newest rows
    * (time descending, then the other columns ascending). */
  def expectedSamples(q: SybilQuery): Seq[Seq[Any]] = {
    val keep = predicate(q)
    val k = q.limit.getOrElse(100)
    val cols = q.sampleCols
    def v(c: String, r: Int): Any =
      if (Set("host", "status", "index_str")(c)) strCol(c, r) else intCol(c, r)
    // the k-th newest time among kept rows bounds the candidates
    val heap = new java.util.PriorityQueue[java.lang.Long]()
    var r = 0
    while (r < n) {
      if (keep(r)) {
        if (heap.size < k) heap.add(time(r))
        else if (time(r) > heap.peek) { heap.poll(); heap.add(time(r)) }
      }
      r += 1
    }
    if (heap.isEmpty) return Nil
    val floor = heap.peek.longValue
    val rowsOut = (0 until n).filter(r => time(r) >= floor && keep(r)).map(r => cols.map(v(_, r)))
    val ti = cols.indexOf(q.timeCol)
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case _ => throw new IllegalStateException(s"compare $a $b")
    }
    rowsOut.sortWith { (a, b) =>
      val s = -cmp(a(ti), b(ti))
      if (s != 0) s < 0
      else cols.indices.filter(_ != ti).map(i => cmp(a(i), b(i))).find(_ != 0).exists(_ < 0)
    }.take(k)
  }
}

object Uptime {
  val Hosts: Array[String] = Array(
    "web01.example.com", "web02.example.com", "api.example.org",
    "cdn.example.net", "db.internal.io")
  val Statuses: Array[String] = Array("200", "403", "404", "500", "503")
  /** Cumulative status shares in percent: 70/5/10/10/5. */
  private val StatusCut = Array(70, 75, 85, 95, 100)
  val Weights: Array[Int] = Array(1, 10, 100)
  val Day = 86400L
  val Week: Long = 7 * Day

  def inGroup(r: Int, g: String): Boolean = g match {
    case "mod2" => r % 2 == 0
    case "mod3" => r % 3 == 0
    case "mod5" => r % 5 == 0
    case "none" => r % 2 != 0 && r % 3 != 0 && r % 5 != 0
    case _ => false
  }

  def groupsOf(r: Int): Seq[String] = {
    val g = Seq(2 -> "mod2", 3 -> "mod3", 5 -> "mod5").collect { case (m, s) if r % m == 0 => s }
    if (g.isEmpty) Seq("none") else g
  }

  /** Does one group's `<col>_hist` struct summarise `vs`, the group's
    * sorted (unweighted) values? `extent` is the column's extent over the
    * table, from which the engine sizes its buckets.
    *
    *  - every flavor: count, samples, min and max exact;
    *  - flat and nested hists: while the extent spans at most
    *    `histBuckets` values every bucket is one value wide, so mean,
    *    percentiles and bucket counts are exact; wider, the bucket counts
    *    must still add up to the count;
    *  - log hist: exact mean, bucket counts adding up to the count, and
    *    each percentile within `(t + 1) / 20 + 1` of the exact one `t`
    *    (one bucket at 16 buckets per doubling is under 4.5 % wide);
    *  - tdigest: each percentile, and the mean (its median), within one
    *    percentile rank of the exact one.
    *
    * The exact percentile p is the value at rank max(1, ceil(p·n/100)):
    * the hist's cumulative walk and the tdigest's rank rule agree on it. */
  def histMatches(q: SybilQuery, h: Row, vs: Array[Long], extent: (Long, Long)): Boolean = {
    val n = vs.length
    def pct(p: Int): Long = vs(math.max(1, math.min(n, (p * n + 99) / 100)) - 1)
    val pcts = h.getAs[scala.collection.Seq[Long]]("percentiles").toIndexedSeq
    val base = n > 0 && h.getAs[Long]("count") == n && h.getAs[Long]("samples") == n &&
      h.getAs[Long]("min") == vs.head && h.getAs[Long]("max") == vs.last && pcts.length == 100
    def exactMean = h.getAs[Double]("mean") == vs.sum.toDouble / n
    def buckets(exact: Boolean): Boolean = {
      val lows = h.getAs[scala.collection.Seq[Long]]("bucketLows").toIndexedSeq
      val cnts = h.getAs[scala.collection.Seq[Long]]("bucketCounts").toIndexedSeq
      if (!exact) cnts.sum == n
      else {
        val want = vs.toSeq.groupBy(identity).toSeq.sortBy(_._1)
        lows == want.map(_._1) && cnts == want.map(_._2.size.toLong)
      }
    }
    base && (
      if (q.useTDigest) {
        def within(v: Double, p: Int) = pct(math.max(0, p - 1)) <= v && v <= pct(math.min(100, p + 1))
        within(h.getAs[Double]("mean"), 50) && (0 until 100).forall(p => within(pcts(p).toDouble, p))
      } else if (q.useLogHist) {
        exactMean && buckets(exact = false) &&
          (0 until 100).forall(p => math.abs(pcts(p) - pct(p)) <= (pct(p) + 1) / 20.0 + 1)
      } else {
        val narrow = extent._2 - extent._1 <= q.histBuckets
        exactMean && buckets(narrow) && (!narrow || (0 until 100).forall(p => pcts(p) == pct(p)))
      })
  }

  /** A result row as a comparable sequence over the given columns. */
  def rowValues(row: Row, cols: Seq[String]): Seq[Any] =
    cols.map(c => row.getAs[Any](c) match {
      case i: java.lang.Integer => i.longValue
      case other => other
    })
}
