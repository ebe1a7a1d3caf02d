package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Stats

/** The bounded, JVM-global plan registry `Stats.PlanCache`: FIFO bound,
  * cross-session hits, conf validation, and keeping it in step with the
  * CacheManager between measured queries. */
class PlanCacheSpec extends SparkSpec {
  import spark.implicits._

  private def inCacheManager(df: DataFrame): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isDefined

  test("isolation between queries: a fragment an earlier query registered " +
      "is pinned again when a later query registers it") {
    // fragment F: the same canonical plan, built afresh by each query
    def fragment(): DataFrame =
      (0 until 60).map(i => (s"plancache_k${i % 4}", i.toLong))
        .toDF("plancache_k", "plancache_v")
        .groupBy("plancache_k").agg(sum("plancache_v"))
    assert(inCacheManager(Stats.PlanCache.register(fragment()))) // query A
    // precondition — the hazard the shared step exists for: clearCache
    // alone leaves F's key in the registry, so a re-registration hits the
    // stale key and F runs uncached
    spark.catalog.clearCache()
    assert(!inCacheManager(Stats.PlanCache.register(fragment())))
    Bench.isolate(spark)
    val b = Stats.PlanCache.register(fragment()) // query B
    assert(inCacheManager(b), "F must be in the CacheManager after B registers it")
  }

  test("probe/deviation cache entries are bounded, not per-query leaks") {
    // every distinct auto-mode query persists its rollup (and madOutliers
    // its deviation rollup); the PlanCache FIFO must rotate old entries
    // out instead of accumulating MEMORY_AND_DISK entries for the
    // session's lifetime
    spark.conf.set("spark.graft.cum.probeMinInputBytes", "0")
    spark.conf.set("spark.graft.cache.maxPlans", "4")
    try {
      for (i <- 0 until 10) { // 10 distinct plans -> 20 registrations
        val df = (0 until 200).map(j => (s"g${j % 3}", (j % (17 + i)).toDouble))
          .toDF("grp", "v")
        Stats.madOutliers(df, "grp", "v").collect()
      }
      assert(Stats.PlanCache.size <= 4,
        s"plan cache must stay bounded (got ${Stats.PlanCache.size})")
    } finally {
      spark.conf.unset("spark.graft.cum.probeMinInputBytes")
      spark.conf.unset("spark.graft.cache.maxPlans")
    }
  }

  test("PlanCache: an identical plan from a sibling session HITS one entry") {
    // sessions of one context share SharedState's CacheManager, so one
    // persist serves every session — a second registry entry would alias
    // the same cache entry and eviction of either would silently
    // un-cache the survivor
    val data = (0 until 50).map(i => (s"g${i % 3}", i.toLong))
    val df1 = data.toDF("grp", "v").groupBy("grp").count()
    val s2 = spark.newSession()
    val df2 = { import s2.implicits._
      data.toDF("grp", "v").groupBy("grp").count() }
    // precondition: the two plans canonicalize identically — otherwise
    // this test would pass vacuously without exercising the hit path
    assert(df1.queryExecution.logical.canonicalized ==
      df2.queryExecution.logical.canonicalized)
    Stats.PlanCache.register(df1)
    val before = Stats.PlanCache.size
    Stats.PlanCache.register(df2)
    assert(Stats.PlanCache.size === before,
      "a sibling session's identical plan must reuse the live entry")
  }

  test("malformed spark.graft.cache.maxPlans fails naming the key") {
    val df = ((1 to 50).map(i => ("g", i.toDouble))).toDF("grp", "v")
    spark.conf.set("spark.graft.cache.maxPlans", "many")
    try {
      val e = intercept[IllegalArgumentException] {
        Stats.PlanCache.register(df.groupBy($"grp").agg(sum($"v")))
      }
      assert(e.getMessage.contains("spark.graft.cache.maxPlans"))
    } finally spark.conf.unset("spark.graft.cache.maxPlans")
  }
}
