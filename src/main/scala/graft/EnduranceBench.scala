package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 endurance bench: scales the sf0.1 fixtures 10× into a scratch
  * directory, then runs every SparkEntry query there — one order of
  * magnitude past the driver's per-round bench, to surface the
  * memory-pressure cliffs (spills, straggling partitions, cache
  * thrash) a 600k-row set hides.
  *
  * Scaling preserves query SHAPE instead of degenerating it:
  *
  *  - dimension tables (region/nation/part/supplier) stay 1× — TPC-H
  *    dims grow sub-linearly, and 10× fact rows per dim key is the
  *    realistic join fan-in;
  *  - fact keys (custkey/orderkey/user_id/doc_id/vec_id) shift by a
  *    per-copy offset, so joins and windows get 10× the keys, not 10×
  *    duplicates of each key (which would inflate join outputs 100×);
  *  - document TEXT is re-tokenized per copy (every token prefixed with
  *    the copy tag), so near-dup structure replicates per copy — pair
  *    counts scale linearly — instead of every document gaining 9
  *    bit-identical twins (quadratic pair blowup, a different benchmark);
  *  - embeddings replicate as-is: the blocked cosine scan's work is
  *    O(N²/blocks), which is exactly the scaling under test.
  *
  * Prints ONE JSON line like Bench, metric "endurance_total".
  */
object EnduranceBench {

  private val Copies = 10
  private val KeyOff = 1000000000L

  /** Scale `base` by `nCopies` into `out` with the shape-preserving rules
    * above. `keyOff` must exceed every key already in `base` — rescaling
    * an ALREADY-scaled scratch (sf1 → sf10 for the scale-shape audit)
    * needs a larger stride than the first pass or copy j of key i*off+k
    * would collide with copy i+j of k.
    */
  def generate(spark: SparkSession, base: String, out: String,
      nCopies: Int = Copies, keyOff: Long = KeyOff): Unit = {
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until nCopies).map(i => f(df, i)).reduce(_ unionByName _)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val done = new org.apache.hadoop.fs.Path(s"$out/_DONE")
    if (fs.exists(done)) return
    def shift(df: DataFrame, i: Int, cols: String*): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * keyOff)))

    Seq("region", "nation", "part", "supplier").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    copies(spark.read.parquet(s"$base/customer.parquet"))(shift(_, _, "c_custkey"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    copies(spark.read.parquet(s"$base/orders.parquet"))(
      shift(_, _, "o_orderkey", "o_custkey"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    copies(spark.read.parquet(s"$base/lineitem.parquet"))(shift(_, _, "l_orderkey"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // events.ts encoding varies by vintage — TIMESTAMP(NANOS) reads as a
    // nanos long under this setting (round-tripped as INT64), the current
    // TIMESTAMP(MICROS, NTZ) reads/writes as NTZ; Tables.events
    // normalizes either on the query side
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try copies(spark.read.parquet(s"$base/events.parquet"))(
      shift(_, _, "event_id", "user_id"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    finally spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    copies(spark.read.parquet(s"$base/documents.parquet")) { (df, i) =>
      val shifted = shift(df, i, "doc_id")
      if (i == 0) shifted
      else shifted.withColumn("text",
        array_join(transform(split(col("text"), "\\s+"),
          t => concat(lit(s"c${i}x"), t)), " "))
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")
    copies(spark.read.parquet(s"$base/embeddings.parquet"))(shift(_, _, "vec_id"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    fs.create(done, true).close()
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(
      sys.props("java.io.tmpdir") + "/graft-sf1")
    val base = sys.env.getOrElse("SPARK_GRAFT_SF1_BASE", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val g0 = System.nanoTime()
    generate(spark, base, out)
    val genSec = (System.nanoTime() - g0) / 1e9
    // seeded shuffle of run order: alphabetical order pinned the JVM
    // warm-up cost onto whatever ran first (q1_agg measured 14x its
    // sf0.1 time in round 5 purely by position); a recorded seed keeps
    // runs reproducible while decorrelating position from query identity
    val seed = sys.env.getOrElse("SPARK_GRAFT_ENDURANCE_SEED", "6").toLong
    val names = new scala.util.Random(seed)
      .shuffle(SparkEntry.queries.keys.toSeq.sorted)
    // untimed warm-up pass over the TIMED dir: the seeded shuffle
    // decorrelates position from identity, but whatever ran at positions
    // 0-3 still absorbed first-query JVM/codegen warmup and read as a
    // fake sf1/sf0.1 ratio outlier (q_ann_lsh_pairs 13.1x under seed 6 in
    // r11), and whichever SHARER of a StagedLogs fixture ran first paid
    // its one-time staging (q_cached_view 8.8 vs 3.5 s across two seeds).
    // One untimed pass at `out` absorbs both plus the page cache, so the
    // timed loop measures warm steady state — the 100 TB-relevant number
    // — and per-query ratios are order-independent.
    val (results, _) = Bench.measure(spark, names, out, warmupDir = out)
    val qs = results.map { case (k, v, _) =>
      JsonLine.str(k) + ":" + JsonLine.num(v) }.mkString("{", ",", "}")
    // successes only: a -1 failure sentinel must never subtract from the
    // headline number (it still shows per-query and in `failures`)
    val total = results.collect { case (_, v, None) => v }.sum
    val failures = results.count(_._3.isDefined)
    println(s"""{"metric":"endurance_total","value":$total,"unit":"sec",""" +
      s""""gen_sec":${JsonLine.num(genSec, 1)},"failures":$failures,"order_seed":$seed,""" +
      s""""queries":$qs,"sf":"sf1 (10x sf0.1)"}""")
    spark.stop()
    // the sf1 endurance BUDGET GATE (on unless explicitly disabled —
    // this main exists to catch scale regressions): heavy-block
    // ceilings + suite total from resources/graft/sf1_budgets.properties
    Bench.exitGate(results,
      Some(sys.env.getOrElse("SPARK_GRAFT_BUDGETS", "sf1")), failedRc = 1)
  }
}
