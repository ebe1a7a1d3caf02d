package graft

import org.apache.spark.sql.functions._

import graft.core.Stats
import graft.operators.Sampling

/** Round-10 hardening: loud degenerate-input failures, named-key conf
  * errors, and the resolveCum probe skipping stat-less (sentinel-sized)
  * in-memory inputs. */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- mixtureWeights degenerate corpus ----------------------------------

  test("mixtureWeights fails loudly when total corpus weight is zero") {
    val docs = Seq(("a", 0L), ("a", 0L), ("b", 0L)).toDF("source", "tok")
    val e = intercept[Exception] {
      Sampling.mixtureWeights(docs, "source", col("tok"), 1000L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("total corpus weight")),
      s"expected the zero-weight assertion, got: $e")
  }

  test("mixtureWeights still sums to one on a live corpus") {
    val docs = Seq(("a", 10L), ("b", 40L), ("b", 50L)).toDF("source", "tok")
    val w = Sampling.mixtureWeights(docs, "source", col("tok"), 1000L)
      .agg(sum("weight")).collect()(0).getDouble(0)
    // the denominator accumulates at decimal scale 9 (chosen so the
    // scaled sum stays below 2^53 for exact cross-engine conversion), so
    // Σweight deviates from 1 by at most ~grain/den — assert at that
    // grain, not at double epsilon
    assert(math.abs(w - 1.0) < 1e-8)
  }

  // ---- named-key conf errors ---------------------------------------------

  test("malformed spark.graft.cum conf fails naming the key") {
    val df = ((1 to 50).map(i => ("g", i.toDouble))).toDF("grp", "v")
    val rollup = df.groupBy($"grp", $"v").agg(count(lit(1)).as("__c"))
    spark.conf.set("spark.graft.cum.probeMinInputBytes", "0")
    spark.conf.set("spark.graft.cum.serialMaxDistinct", "lots")
    try {
      val e = intercept[IllegalArgumentException] {
        Stats.resolveCum(rollup, "grp", None)
      }
      assert(e.getMessage.contains("spark.graft.cum.serialMaxDistinct"))
    } finally {
      spark.conf.unset("spark.graft.cum.serialMaxDistinct")
      spark.conf.unset("spark.graft.cum.probeMinInputBytes")
    }
  }

  // ---- resolveCum sentinel-size skip -------------------------------------

  test("resolveCum skips the probe for sentinel-sized (RDD-backed) input") {
    // an RDD-backed frame's leaf reports defaultSizeInBytes, not a
    // measurement; the auto path must go serial WITHOUT paying the
    // persist + max-distinct probe jobs
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    val rdd = spark.sparkContext.parallelize(
      (1 to 100).map(i => org.apache.spark.sql.Row("g", i.toDouble)))
    val df = spark.createDataFrame(rdd, schema)
    val rollup = df.groupBy($"grp", $"v").agg(count(lit(1)).as("__c"))
    val leaf = rollup.queryExecution.optimizedPlan.collectLeaves().head
    assert(leaf.stats.sizeInBytes ===
      BigInt(spark.sessionState.conf.defaultSizeInBytes),
      "fixture must actually be sentinel-sized")
    val before = Stats.PlanCache.size
    // even with thresholds that would force a probe on measured input
    spark.conf.set("spark.graft.cum.probeMinInputBytes", "0")
    spark.conf.set("spark.graft.cum.serialMaxDistinct", "1")
    try {
      val (_, distributed) = Stats.resolveCum(rollup, "grp", None)
      assert(!distributed, "sentinel-sized input must resolve serial")
      assert(Stats.PlanCache.size === before,
        "the probe's persist must not have run")
    } finally {
      spark.conf.unset("spark.graft.cum.serialMaxDistinct")
      spark.conf.unset("spark.graft.cum.probeMinInputBytes")
    }
  }
}
