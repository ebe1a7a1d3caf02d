package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Stats
import graft.operators.{Dedup, Joins, Ranking, TextAnalysis}

/** Round-8 additions: salted join, BM25, inverted index, MAD outliers,
  * distributed global rank, sorted-neighborhood dedup, MinHash estimator
  * calibration.
  */
class Round8OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- saltedJoin --------------------------------------------------------

  test("saltedJoin equals the plain join for every salt count (incl. skew)") {
    // skewed fact: one hot key with 500 rows, plus a uniform tail
    val fact = ((1 to 500).map(i => (7L, i)) ++ (1 to 100).map(i => (i.toLong, i)))
      .toDF("fk", "payload")
    val dim = (1 to 120).map(i => (i.toLong, s"d$i")).toDF("dk", "attr")
    val plain = fact.join(dim, col("fk") === col("dk"))
      .select("fk", "payload", "attr")
      .collect().map(_.toSeq).sortBy(_.toString)
    for (salts <- Seq(1, 3, 8)) {
      val salted = Joins.saltedJoin(fact, dim, "fk", "dk", salts)
        .select("fk", "payload", "attr")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(salted.toSeq == plain.toSeq, s"salts=$salts")
      // the salt column never escapes
      assert(!Joins.saltedJoin(fact, dim, "fk", "dk", salts)
        .columns.contains("__salt"))
    }
  }

  test("saltedJoin drops unmatched keys on both sides (inner-join semantics)") {
    val fact = Seq((1L, "a"), (2L, "b"), (99L, "nomatch")).toDF("fk", "v")
    val dim = Seq((1L, "x"), (2L, "y"), (50L, "orphan")).toDF("dk", "w")
    val out = Joins.saltedJoin(fact, dim, "fk", "dk", salts = 4)
      .select("fk", "v", "w").as[(Long, String, String)].collect().toSet
    assert(out == Set((1L, "a", "x"), (2L, "b", "y")))
  }

  // ---- bm25 --------------------------------------------------------------

  test("bm25 matches a hand-rolled reference on a tiny corpus") {
    val docs = Seq(
      (1L, "spark join spark"),
      (2L, "spark filter scan"),
      (3L, "table scan merge"),
      (4L, "join join join window")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(docs, "doc_id", "text", Seq("spark", "join"))
      .as[(Long, Double)].collect().toMap
    // reference: N=4, avgdl=13/4; df(spark)=2, df(join)=2
    val n = 4.0; val avgdl = 13.0 / 4.0; val k1 = 1.2; val b = 0.75
    def idf(df: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def term(tf: Double, dl: Double, df: Double) =
      idf(df) * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.keySet == Set(1L, 2L, 4L)) // doc 3 has no query term
    assert(out(1L) == r6(term(2, 3, 2) + term(1, 3, 2))) // spark tf=2, join tf=1
    assert(out(2L) == r6(term(1, 3, 2)))
    assert(out(4L) == r6(term(3, 4, 2)))
  }

  test("bm25 rewards tf, penalizes long docs, weights rare terms higher") {
    val docs = Seq(
      (1L, "rare common common common"),
      (2L, "common common common common"),
      (3L, "rare " + Seq.fill(40)("filler").mkString(" ")),
      (4L, "common other words here"),
      (5L, "other things entirely now")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(docs, "doc_id", "text", Seq("rare", "common"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) > out(2L)) // rare term beats one more common occurrence
    assert(out(1L) > out(3L)) // same rare tf, shorter doc wins
  }

  // ---- invertedIndex -----------------------------------------------------

  test("invertedIndex: df/tf exact, postings sorted+capped, minDf filters") {
    val docs = Seq(
      (30L, "alpha beta alpha"),
      (10L, "alpha gamma"),
      (20L, "alpha beta"),
      (40L, "delta")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(docs, "doc_id", "text",
        minDf = 2, postingsCap = 2)
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.keySet == Set("alpha", "beta")) // gamma/delta: df=1 < minDf
    assert(out("alpha") == ((3L, 4L, "10,20"))) // cap=2 of 10,20,30; tf 4
    assert(out("beta") == ((2L, 2L, "20,30")))
  }

  // ---- madOutliers -------------------------------------------------------

  test("madOutliers: hand-checked lower medians and outlier count") {
    // group g: values 1..9 plus a 100.0 outlier (n=10)
    // lower median (cum*2>=n at the 5th value) = 5; deviations from 5:
    // 4,3,2,1,0,1,2,3,4,95 -> sorted 0,1,1,2,2,3,3,4,4,95 -> lower mad = 2
    // outliers: |x-5| > 3*2=6 -> only 100 (dev 95). n_outliers=1
    val df = ((1 to 9).map(i => ("g", i.toDouble)) :+ ("g", 100.0))
      .toDF("grp", "v")
    val out = Stats.madOutliers(df, "grp", "v", k = 3.0)
      .as[(String, Long, Double, Double, Long)].collect()
    assert(out.toSeq == Seq(("g", 10L, 5.0, 2.0, 1L)))
  }

  test("madOutliers is robust where stddev-based outliers are not") {
    // the outlier drags the mean/stddev enough that 2-sigma misses it on
    // tiny n; MAD flags it regardless
    val df = (Seq.fill(20)(10.0) ++ Seq(10.5, 9.5, 1000.0)).zipWithIndex
      .map { case (v, i) => ("g", v) }.toDF("grp", "v")
    val Array((_, n, med, mad, out)) =
      Stats.madOutliers(df, "grp", "v", k = 3.0)
        .as[(String, Long, Double, Double, Long)].collect()
    assert(n == 23 && med == 10.0)
    assert(mad == 0.0 && out == 3) // mad 0: any deviation is an outlier
  }

  // ---- lowerQuantiles / winsorize / equidepthHist ------------------------

  test("lowerQuantiles: crossing rule on a hand-checked distribution") {
    // 1..100: lower p05 = 5, p50 = 50, p95 = 95 (cum*den >= n*num)
    val df = (1 to 100).map(i => ("g", i)).toDF("grp", "v")
    val Array((g, n, p5, p50, p95)) =
      Stats.lowerQuantiles(df, "grp", "v",
        Seq(("p5", 5, 100), ("p50", 1, 2), ("p95", 95, 100)))
        .as[(String, Long, Int, Int, Int)].collect()
    assert((g, n, p5, p50, p95) == (("g", 100L, 5, 50, 95)))
  }

  test("lowerQuantiles handles ties and multiple groups") {
    // group a: 1,1,1,9 -> p50: cum(1)=3, 3*2>=4 -> 1; p100 = 9
    // group b: 2,4 -> p50: cum(2)=1, 1*2>=2 -> 2
    val df = Seq(("a", 1), ("a", 1), ("a", 1), ("a", 9), ("b", 2), ("b", 4))
      .toDF("grp", "v")
    val out = Stats.lowerQuantiles(df, "grp", "v",
        Seq(("p50", 1, 2), ("p100", 1, 1)))
      .as[(String, Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("a") == ((4L, 1, 9)))
    assert(out("b") == ((2L, 2, 4)))
  }

  test("winsorize clips the tails and leaves the bulk mean intact") {
    val df = ((1 to 98).map(_ => ("g", 10.0)) ++ Seq(("g", -1000.0), ("g", 5000.0)))
      .toDF("grp", "v")
    val Array((_, n, lo, hi, raw, win)) = Stats.winsorize(df, "grp", "v")
      .as[(String, Long, Double, Double, Double, Double)].collect()
    assert(n == 100 && lo == 10.0 && hi == 10.0)
    assert(win == 10.0) // clipped to [10,10]
    assert(math.abs(raw - 49.8) < 1e-9) // (98*10 - 1000 + 5000)/100
  }

  test("equidepthHist: near-equal counts on continuous, tie mass on discrete") {
    val rnd = new scala.util.Random(3)
    val cont = (1 to 800).map(_ => ("g", rnd.nextDouble())).toDF("grp", "v")
    val h = Stats.equidepthHist(cont, "grp", "v", 8)
      .as[(String, Long, Double, Long)].collect().sortBy(_._2)
    assert(h.length == 8)
    assert(h.forall(b => b._4 == 100)) // 800 distinct doubles / 8
    assert(h.map(_._3).sliding(2).forall(p => p(0) < p(1))) // edges ascend
    // heavy tie: one value is 90% of the mass -> it owns one bucket,
    // intermediate buckets are skipped
    val tied = ((1 to 900).map(_ => ("g", 5)) ++ (1 to 100).map(i => ("g", 1000 + i)))
      .toDF("grp", "v")
    val ht = Stats.equidepthHist(tied, "grp", "v", 8)
      .as[(String, Long, Int, Long)].collect().sortBy(_._2)
    val five = ht.find(_._3 == 5).get
    assert(five._4 == 900 && five._2 == 1) // starts at rank 0 -> bucket 1
    assert(ht.find(_._2 == 8).exists(_._4 == 100)) // tail lands in bucket 8
    assert(ht.length == 2) // buckets 2..7 overflowed through, absent
    assert(ht.map(_._4).sum == 1000)
  }

  test("distributed prefix-sum path equals the serial group window exactly") {
    val rnd = new scala.util.Random(21)
    val df = (1 to 3000).map(_ => (s"g${rnd.nextInt(4)}",
      (rnd.nextInt(200) + rnd.nextInt(3) * 1000).toDouble)).toDF("grp", "v")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    assert(canon(Stats.madOutliers(df, "grp", "v", 3.0, distributedCum = Some(true))) ==
      canon(Stats.madOutliers(df, "grp", "v", 3.0, distributedCum = Some(false))))
    assert(canon(Stats.equidepthHist(df, "grp", "v", 8, distributedCum = Some(true))) ==
      canon(Stats.equidepthHist(df, "grp", "v", 8, distributedCum = Some(false))))
    assert(canon(Stats.lowerQuantiles(df, "grp", "v",
        Seq(("p25", 1, 4), ("p50", 1, 2), ("p99", 99, 100)), distributedCum = Some(true))) ==
      canon(Stats.lowerQuantiles(df, "grp", "v",
        Seq(("p25", 1, 4), ("p50", 1, 2), ("p99", 99, 100)), distributedCum = Some(false))))
    assert(canon(Stats.groupedMedian(df, "grp", "v", distributedCum = Some(true))) ==
      canon(Stats.groupedMedian(df, "grp", "v", distributedCum = Some(false))))
  }

  test("auto cum strategy probes distinct counts and both regimes agree") {
    val rnd = new scala.util.Random(33)
    // skewed fixture: one group holds most of the distinct values
    val df = ((1 to 4000).map(_ => ("heavy", rnd.nextInt(2000).toDouble)) ++
      (1 to 500).map(_ => ("light", rnd.nextInt(20).toDouble))).toDF("grp", "v")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    val serial = canon(Stats.madOutliers(df, "grp", "v", 3.0,
      distributedCum = Some(false)))
    // auto under a tiny threshold must take the DISTRIBUTED path and
    // still match; under the default thresholds it takes the serial path
    spark.conf.set("spark.graft.cum.probeMinInputBytes", "0")
    spark.conf.set("spark.graft.cum.serialMaxDistinct", "100")
    try assert(canon(Stats.madOutliers(df, "grp", "v", 3.0)) == serial)
    finally {
      spark.conf.unset("spark.graft.cum.serialMaxDistinct")
      spark.conf.unset("spark.graft.cum.probeMinInputBytes")
    }
    assert(canon(Stats.madOutliers(df, "grp", "v", 3.0)) == serial)
    val rollup = df.groupBy($"grp", $"v")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("__c"))
    // tiny input skips the probe entirely -> serial, regardless of the
    // distinct threshold
    spark.conf.set("spark.graft.cum.serialMaxDistinct", "100")
    try assert(!Stats.resolveCum(rollup, "grp", None)._2)
    finally spark.conf.unset("spark.graft.cum.serialMaxDistinct")
    // probe forced on: ~2000 distinct values in the heavy group flips to
    // distributed only under the lowered threshold
    spark.conf.set("spark.graft.cum.probeMinInputBytes", "0")
    try {
      assert(!Stats.resolveCum(rollup, "grp", None)._2)
      spark.conf.set("spark.graft.cum.serialMaxDistinct", "100")
      try assert(Stats.resolveCum(rollup, "grp", None)._2)
      finally spark.conf.unset("spark.graft.cum.serialMaxDistinct")
    } finally spark.conf.unset("spark.graft.cum.probeMinInputBytes")
  }

  // ---- globalRowNumber ---------------------------------------------------

  test("globalRowNumber equals the single-partition window rank") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 500).map(_ => (rnd.nextInt(50), rnd.nextLong()))
      .toDF("k", "id").distinct()
    val expected = df.withColumn("rn",
        row_number().over(Window.orderBy(col("k"), col("id"))))
      .as[(Int, Long, Int)].collect().toSet
    for (parts <- Seq(0, 1, 7)) {
      val got = Ranking.globalRowNumber(df, Seq(col("k"), col("id")), "rn", parts)
        .select(col("k"), col("id"), col("rn").cast("int"))
        .as[(Int, Long, Int)].collect().toSet
      assert(got == expected, s"parts=$parts")
    }
  }

  test("globalRowNumber ranks are a contiguous 1..n permutation") {
    val df = (1 to 1000).map(i => i % 97).toDF("k")
    val rns = Ranking.globalRowNumber(df, Seq(col("k"), monotonically_increasing_id()), "rn", 13)
      .select("rn").as[Long].collect().sorted
    assert(rns.toSeq == (1L to 1000L).toSeq)
  }

  // ---- sortedNeighborhood ------------------------------------------------

  test("sortedNeighborhood finds prefix-anchored near-dups within the window") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"), // near-dup of 1, adjacent sort
      (3L, "omega psi chi phi upsilon tau"),
      (4L, "zeta eta theta iota kappa lambda"),
      (5L, "alpha beta gamma delta epsilon zeta") // exact dup of 1
    ).toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhood(docs, "doc_id", "text",
        window = 2, threshold = 0.3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 5L))) // exact dup: jaccard 1
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 5L))) // near-dup in window
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc pairs with nothing
  }

  test("sortedNeighborhood candidate set is exactly the rank-window pairs") {
    val docs = (1 to 40).map(i => (i.toLong, s"tok${i % 7} tok${i % 5} tok${i % 3} filler$i x y"))
      .toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhood(docs, "doc_id", "text", window = 3,
        threshold = 0.0)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    // oracle: single-partition rank
    val ranked = docs.withColumn("rn",
      row_number().over(Window.orderBy(col("text"), col("doc_id"))))
    val a = ranked.select(col("doc_id").as("i1"), col("rn").as("r1"))
    val b = ranked.select(col("doc_id").as("i2"), col("rn").as("r2"))
    val want = a.join(b, col("r2") > col("r1") && col("r2") <= col("r1") + 3)
      .select(least(col("i1"), col("i2")), greatest(col("i1"), col("i2")))
      .as[(Long, Long)].collect().toSet
    assert(got == want)
  }

  // ---- hist-vs-exact calibration -----------------------------------------

  test("hist p50 stays within one bucket width of the exact median") {
    import graft.dsl.{AggOp, SybilQuery}
    val rnd = new scala.util.Random(5)
    // wide value range -> coarse buckets (bw ~ 1000): the hist p50 is a
    // bucket LOWER EDGE at most bw below/at the exact median's bucket
    val df = (1 to 4000).map(_ => ("g" + rnd.nextInt(3),
      rnd.nextInt(1000000).toLong)).toDF("grp", "v")
    val hist = SybilQuery().groupBy("grp").aggregate("v")
      .withOp(AggOp.HistOp).limitTo(10).run(df)
      .selectExpr("grp", "v_hist.percentiles[50] AS hp50")
      .as[(String, Long)].collect().toMap
    val exact = Stats.groupedMedian(df, "grp", "v")
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val bw = math.max(1L, (999999L - 0L + 999) / 1000)
    for ((g, e) <- exact) {
      assert(math.abs(hist(g) - e) <= bw,
        s"$g: hist ${hist(g)} vs exact $e exceeds bucket width $bw")
    }
  }

  // ---- groupedTrend ------------------------------------------------------

  test("groupedTrend: exact rationals on a perfect line, rounded mode sane") {
    // y = 3x + 7 exactly for x=0..9  ->  slope_num/denom = 3, inter/denom = 7
    val df = (0 to 9).map(i => ("g", i.toDouble, (3 * i + 7).toDouble))
      .toDF("grp", "x", "y")
    val Array((_, n, sn, in_, den)) =
      Stats.groupedTrend(df, "grp", "x", "y", exact = true)
        .as[(String, Long, Double, Double, Double)].collect()
    assert(n == 10 && den != 0.0)
    assert(sn / den == 3.0 && in_ / den == 7.0)
    assert(sn == 3.0 * den && in_ == 7.0 * den) // exact integers, no residue
    val Array((_, _, slope, inter)) = Stats.groupedTrend(df, "grp", "x", "y")
      .as[(String, Long, Double, Double)].collect()
    assert(slope == 3.0 && inter == 7.0)
  }

  test("groupedTrend: exact mode rejects fractional inputs loudly") {
    // scale-0 sums would silently truncate 0.5 -> wrong moments; the
    // guard must fail the job instead
    val frac = Seq(("g", 1.0, 2.5), ("g", 2.0, 3.0)).toDF("grp", "x", "y")
    val ex = intercept[Exception] {
      Stats.groupedTrend(frac, "grp", "x", "y", exact = true).collect()
    }
    assert(ex.getMessage.contains("integer-valued") ||
      Option(ex.getCause).exists(_.getMessage.contains("integer-valued")))
    // rounded mode accepts the same input
    assert(Stats.groupedTrend(frac, "grp", "x", "y").count() == 1)
  }

  test("groupedTrend: exact mode rejects NULL inputs loudly too") {
    // a NULL y is NULL in `y =!= floor(y)` and would slip past a
    // fraction-only guard into otherwise(0); but n = count(*) counts the
    // row while the sums skip it -> silently wrong exact numerators
    val rows = Seq(("g", Some(1.0), Some(2.0)), ("g", Some(2.0), None))
    val withNull = rows.toDF("grp", "x", "y")
    val ex = intercept[Exception] {
      Stats.groupedTrend(withNull, "grp", "x", "y", exact = true).collect()
    }
    assert(ex.getMessage.contains("non-null") ||
      Option(ex.getCause).exists(_.getMessage.contains("non-null")))
  }

  // ---- topPaths ----------------------------------------------------------

  test("topPaths: k-step runs stay within a user and count exactly") {
    // u1: a b a b a -> trigrams a>b>a, b>a>b, a>b>a; u2: a b c -> a>b>c
    val ev = Seq(
      ("u1", 1L, 1L, "a"), ("u1", 2L, 2L, "b"), ("u1", 3L, 3L, "a"),
      ("u1", 4L, 4L, "b"), ("u1", 5L, 5L, "a"),
      ("u2", 1L, 6L, "a"), ("u2", 2L, 7L, "b"), ("u2", 3L, 8L, "c")
    ).toDF("user", "s", "eid", "t")
    val out = graft.operators.Events.topPaths(ev, "user", "s", "t", "eid",
        k = 3, topN = 10)
      .as[(String, Long)].collect().toMap
    assert(out == Map("a>b>a" -> 2L, "b>a>b" -> 1L, "a>b>c" -> 1L))
    // k=2 must reduce to the transition pairs
    val out2 = graft.operators.Events.topPaths(ev, "user", "s", "t", "eid",
        k = 2, topN = 10).as[(String, Long)].collect().toMap
    assert(out2 == Map("a>b" -> 3L, "b>a" -> 2L, "b>c" -> 1L))
  }

  // ---- ngramNovelty ------------------------------------------------------

  test("ngramNovelty: templated docs score high, unique docs zero") {
    // 8 docs share one exact trigram chain; 2 docs are entirely unique
    val docs = ((1 to 8).map(i => (i.toLong, s"the common shared chain tail$i")) ++
      Seq((9L, "wholly unique text alpha beta"), (10L, "another nothing shared here at all")))
      .toDF("doc_id", "text")
    val out = graft.operators.Decontam
      .ngramNovelty(docs, "doc_id", "text", n = 3, commonDf = 5L)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // "the common shared" and "common shared chain" appear in 8 docs (df=8>5)
    for (i <- 1L to 8L) {
      val (_, nGrams, nCommon, frac) = out(i)
      assert(nGrams == 3 && nCommon == 2 && frac == 2.0 / 3.0, s"doc $i")
    }
    for (i <- Seq(9L, 10L)) assert(out(i)._3 == 0 && out(i)._4 == 0.0)
  }

  // ---- slidingDistinct ---------------------------------------------------

  test("slidingDistinct: trailing-window distinct counts, hand-checked") {
    // buckets of 10s, window 2: user u1 at t=5,15; u2 at t=5; u3 at t=25
    // bucket 0: {u1,u2}=2; bucket 10: window {0,10} -> {u1,u2}=2;
    // bucket 20: window {10,20} -> {u1,u3}=2... wait u1 at 15 -> bucket 10
    // bucket 20 window covers buckets 10,20: users {u1(15), u3(25)? no -
    // u3 at 25 is bucket 20} -> {u1,u3}=2; bucket 30 would be {u3} but
    // 30 > max bucket 20 -> dropped
    val df = Seq(("u1", 5L), ("u1", 15L), ("u2", 5L), ("u3", 25L))
      .toDF("user", "s")
    val out = graft.operators.Events.slidingDistinct(df, "user", "s", 10L, 2)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 2L, 10L -> 2L, 20L -> 2L))
  }

  test("slidingDistinct counts a user once per window regardless of activity") {
    val df = (1 to 50).map(i => ("solo", i.toLong)).toDF("user", "s")
    val out = graft.operators.Events.slidingDistinct(df, "user", "s", 10L, 3)
      .as[(Long, Long)].collect()
    assert(out.forall(_._2 == 1L))
    assert(out.map(_._1).sorted.toSeq == Seq(0L, 10L, 20L, 30L, 40L, 50L))
  }

  // ---- dedupAwareSplit ---------------------------------------------------

  test("dedupAwareSplit co-assigns exact duplicates and covers all docs") {
    val docs = ((1 to 200).map(i => (i.toLong, s"unique doc number $i body")) ++
      (201 to 260).map(i => (i.toLong, "the shared duplicate body")))
      .toDF("doc_id", "text")
    val out = graft.operators.Sampling
      .dedupAwareSplit(docs, "doc_id", "text")
      .as[(Long, String, String)].collect()
    assert(out.length == 260)
    // all 60 duplicates in one split
    assert(out.filter(_._1 > 200).map(_._3).distinct.length == 1)
    // same content hash -> same split, always
    val byHash = out.groupBy(_._2)
    assert(byHash.values.forall(_.map(_._3).distinct.length == 1))
    // all three splits populated on 201 distinct contents, roughly 80/10/10
    val bySplit = out.filter(_._1 <= 200).groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > 140 && bySplit("train") < 180)
  }

  test("clusterAwareSplit: near-dup clusters never straddle splits") {
    // three near-dup families (token-level mutations) + unique docs +
    // a SHORT exact-dup family (< 3 tokens: below the minhash shingle
    // floor, so it can never band-collide — must co-assign via the
    // content-hash fallback key)
    val docs = ((1 to 6).map(i => (i.toLong, s"alpha beta gamma delta epsilon tail$i")) ++
      (11 to 15).map(i => (i.toLong, s"one two three four five six seven$i")) ++
      (21 to 24).map(i => (i.toLong, "exact duplicate family body text here")) ++
      (31 to 40).map(i => (i.toLong, s"unique$i standalone document number $i with filler")) ++
      (41 to 43).map(i => (i.toLong, "tiny dup")))
      .toDF("doc_id", "text")
    val out = graft.operators.Sampling
      .clusterAwareSplit(docs, "doc_id", "text")
      .as[(Long, String, String)].collect()
    assert(out.length == 28)
    // every doc sharing a cluster_key shares a split (trivially true by
    // construction) AND every connected pair shares a cluster_key
    val byKey = out.groupBy(_._2)
    assert(byKey.values.forall(_.map(_._3).distinct.length == 1))
    val split = out.map(r => r._1 -> r._3).toMap
    assert((21 to 24).map(i => split(i.toLong)).distinct.length == 1,
      "exact-dup family must co-assign")
    val key = out.map(r => r._1 -> r._2).toMap
    assert((41 to 43).map(i => key(i.toLong)).distinct.length == 1,
      "short exact dups must share the content-hash fallback key")
    assert((41 to 43).map(i => split(i.toLong)).distinct.length == 1,
      "short exact dups must co-assign despite having no minhash bands")
  }

  // ---- columnProfile -----------------------------------------------------

  test("columnProfile: counts, distincts, and extents with nulls") {
    val df = Seq(
      (Some(1.0), Some("a")), (Some(2.0), None),
      (None, Some("b")), (Some(2.0), Some("a"))
    ).toDF("x", "s")
    val out = Stats.columnProfile(df, Seq("x"), Seq("s"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)), Option(r.get(5)), Option(r.get(6)), Option(r.get(7)))))
      .toMap
    assert(out("x") == ((4L, 3L, 2L, Some(1.0), Some(2.0), None, None)))
    assert(out("s") == ((4L, 3L, 2L, None, None, Some("a"), Some("b"))))
  }

  test("columnProfile: approx mode tracks exact within the sketch bound") {
    val rnd = new scala.util.Random(42)
    val df = (1 to 20000).map { i =>
      (rnd.nextInt(5000).toDouble, s"s${rnd.nextInt(800)}", i.toLong)
    }.toDF("x", "s", "id")
    def byCol(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)), Option(r.get(5)), Option(r.get(6)), Option(r.get(7)))))
        .toMap
    val exact = byCol(Stats.columnProfile(df, Seq("x", "id"), Seq("s")))
    val approx = byCol(
      Stats.columnProfile(df, Seq("x", "id"), Seq("s"), approxDistinct = true))
    assert(approx.keySet == exact.keySet)
    for (c <- exact.keys) {
      val (en, enn, ed, emin, emax, emins, emaxs) = exact(c)
      val (an, ann, ad, amin, amax, amins, amaxs) = approx(c)
      // counts and extents are exact in both modes
      assert((an, ann, amin, amax, amins, amaxs) ==
        ((en, enn, emin, emax, emins, emaxs)))
      // distinct estimate within 4x the 2% rsd requested
      assert(math.abs(ad - ed).toDouble / ed <= 0.08,
        s"$c: approx distinct $ad vs exact $ed")
    }
  }

  // ---- CmsSketch ---------------------------------------------------------

  test("cms: one-sided error (est >= exact), exact when collision-free") {
    val items = (1 to 50).flatMap(i => Seq.fill(i % 5 + 1)(s"item$i"))
    val df = items.toDF("x")
    val depth = 3; val width = 1024
    val m = df.agg(graft.functions.CmsSketch.sketch(col("x"), depth, width).as("m"))
    val exact = items.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val est = df.distinct().crossJoin(m)
      .select(col("x"), graft.functions.CmsSketch.estimateExpr(col("m"), col("x"),
        depth, width).as("e"))
      .as[(String, Long)].collect().toMap
    for ((k, c) <- exact) assert(est(k) >= c, k)
    // 50 items in 1024 buckets x 3 rows: expect at least SOME exact rows
    assert(exact.count { case (k, c) => est(k) == c } > 40)
  }

  test("cms merge law: sketch(a ++ b) == sketch(a) + sketch(b), any split") {
    val agg = new graft.functions.CmsAggregator(2, 64)
    val rnd = new scala.util.Random(7)
    val xs = (1 to 300).map(_ => s"w${rnd.nextInt(40)}")
    for (cut <- Seq(0, 77, 150, 300)) {
      val (a, b) = xs.splitAt(cut)
      val ba = a.foldLeft(agg.zero)(agg.reduce)
      val bb = b.foldLeft(agg.zero)(agg.reduce)
      val whole = xs.foldLeft(agg.zero)(agg.reduce)
      assert(agg.merge(ba, bb).counters.toSeq == whole.counters.toSeq, s"cut=$cut")
    }
  }

  test("cms under forced collisions stays a sum upper bound") {
    // width 2: everything collides; est(item) <= total adds, >= exact
    val df = (Seq.fill(30)("a") ++ Seq.fill(10)("b") ++ Seq.fill(5)("c")).toDF("x")
    val m = df.agg(graft.functions.CmsSketch.sketch(col("x"), 3, 2).as("m"))
    val est = df.distinct().crossJoin(m)
      .select(col("x"), graft.functions.CmsSketch.estimateExpr(col("m"), col("x"), 3, 2).as("e"))
      .as[(String, Long)].collect().toMap
    assert(est("a") >= 30 && est("a") <= 45)
    assert(est("b") >= 10 && est("b") <= 45)
    assert(est("c") >= 5 && est("c") <= 45)
  }

  // ---- minhashEstimateVsExact --------------------------------------------

  test("minhash estimate is a plausible, k-quantized estimate of exact jaccard") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g i"),
      (3L, "a b c d e f g h"), // exact dup of 1
      (4L, "q r s t u v w x"),
      (5L, "a b c d e zz f g")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashEstimateVsExact(docs, "doc_id", "text", 2, 2)
      .as[(Long, Long, Double, Double)].collect()
    assert(out.nonEmpty)
    val byPair = out.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // exact dup pair must surface with est 1.0 and jaccard 1.0
    assert(byPair((1L, 3L)) == ((1.0, 1.0)))
    for (((_, _), (est, ex)) <- byPair) {
      assert(est >= 0.0 && est <= 1.0 && (est * 4).isWhole)
      assert(ex > 0.0 && ex <= 1.0) // candidates share a band -> share a shingle
    }
  }
}
