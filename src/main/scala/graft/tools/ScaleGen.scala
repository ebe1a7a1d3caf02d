package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up fixture generator: replicate the driver's sf0.1 tables
  * `copies`-fold into an sf1-equivalent dataset, with every copy an
  * INDEPENDENT shard whose internal statistics equal the original's —
  * the shape that makes a scaling exponent meaningful (each operator's
  * work should grow ~linearly in shards; superlinear growth is then a
  * real plan defect, not a fixture artifact).
  *
  *  - Join keys remap consistently (`id + k·10⁷` on every fact/dim key),
  *    so the star schema holds across copies; nation/region stay single
  *    (bounded dims, exactly like a real 100 TB layout).
  *  - Document text gets a per-copy token suffix (`tok` → `tok_k`,
  *    k > 0): vocabularies are disjoint across copies, so dedup/pair
  *    operators see 10× the docs with the ORIGINAL pair structure per
  *    shard — verbatim replication would instead hand every doc 9 exact
  *    twins and inflate pair counts quadratically (a fixture artifact,
  *    not scale).
  *  - Embeddings flip signs per (copy, dim) from a deterministic hash:
  *    within-copy dot products (hence all distances/top-k structure) are
  *    EXACTLY preserved, cross-copy similarities decorrelate.
  *  - Events keep their timestamps (time-bucket rollups grow counts, not
  *    buckets — how real traffic scales) and remap user/event ids.
  *
  * `runMain graft.tools.ScaleGen <srcDir> <outDir> <copies>`
  */
object ScaleGen {
  private val Off = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.GraftSession.local()

    def rep(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val all = (0 until copies).map(k => f(base, k)).reduce(_ unionAll _)
      all.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"$t: ${all.count()} rows (${copies}x)")
    }
    def shift(c: String, k: Int) = col(c) + lit(k * Off)

    rep("customer")((d, k) => d.withColumn("c_custkey", shift("c_custkey", k)))
    rep("orders")((d, k) => d
      .withColumn("o_orderkey", shift("o_orderkey", k))
      .withColumn("o_custkey", shift("o_custkey", k)))
    rep("lineitem")((d, k) => d
      .withColumn("l_orderkey", shift("l_orderkey", k))
      .withColumn("l_partkey", shift("l_partkey", k))
      .withColumn("l_suppkey", shift("l_suppkey", k)))
    rep("part")((d, k) => d.withColumn("p_partkey", shift("p_partkey", k)))
    rep("supplier")((d, k) => d.withColumn("s_suppkey", shift("s_suppkey", k)))
    rep("documents") { (d, k) =>
      val txt =
        if (k == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          x => concat(x, lit(s"_$k"))), " ")
      d.withColumn("doc_id", shift("doc_id", k))
        .withColumn("text", txt)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    rep("embeddings") { (d, k) =>
      val emb =
        if (k == 0) col("embedding")
        else transform(col("embedding"), (x, i) =>
          x * when(pmod(xxhash64(lit(k), i), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f)))
      d.withColumn("vec_id", shift("vec_id", k)).withColumn("embedding", emb)
    }
    rep("events")((d, k) => d
      .withColumn("event_id", shift("event_id", k))
      // same 10^7 stride as every other key: a 10^4 stride would merge
      // users across shards once the source's user space reaches 10000
      // (e.g. re-replicating a ScaleGen output), corrupting the event
      // family's independent-shard property
      .withColumn("user_id", col("user_id") + lit(k * 10000000L)))
    for (t <- Seq("nation", "region"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    println(s"done -> $out")
    spark.stop()
  }
}
