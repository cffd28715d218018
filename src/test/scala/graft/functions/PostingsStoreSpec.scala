package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PostingsStoreSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  // every doc mixes the query terms with filler at id-derived rates, so
  // tf/df/dl vary and more than k docs match
  private def corpus = (0L until 80L).map { i =>
    val words = (0 until (5 + (i % 7)).toInt).flatMap { j =>
      val w = (i * 3 + j) % 5 match {
        case 0 => "dup"
        case 1 => "vector"
        case 2 => if (i % 3 == 0) "scan" else "filler"
        case _ => s"w${(i + j) % 11}"
      }
      Seq(w)
    }
    (i, words.mkString(" "))
  }.toDF("doc_id", "text")

  private val terms = Seq("dup", "vector", "scan")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("index topK is bit-identical to the two-scan Bm25.topK") {
    val docs = corpus
    val ix = new PostingsStore(spark,
      tempDir("postings-").toString + "/ix", buckets = 8)
    ix.write(docs)
    val got = canon(ix.topK(terms, 10))
    val twoScan = canon(Bm25.topK(docs, "doc_id", "text", terms, 10))
    assert(got == twoScan && got.size == 10,
      s"index: $got\ntwo-scan: $twoScan")
  }

  test("appendIdempotent drops re-offered docs; full replay converges") {
    val docs = corpus
    val ix = new PostingsStore(spark,
      tempDir("postings-idem-").toString + "/ix", buckets = 8)
    ix.write(docs.filter($"doc_id" < 40))
    val handle = PostingsStore.open(spark, ix.path)
    handle.appendIdempotent(docs.filter($"doc_id" >= 20)) // overlap 20-39
    handle.appendIdempotent(docs)                          // full replay
    // a double-indexed doc would double its tf and its membership row
    val members = spark.read.parquet(ix.path).filter(col("term").isNull)
      .select("doc_id").as[Long].collect()
    assert(members.length == 80 && members.toSet.size == 80)
    val rebuilt = new PostingsStore(spark,
      tempDir("postings-rebuilt-").toString + "/ix",
      buckets = 8)
    rebuilt.write(docs)
    assert(canon(handle.topK(terms, 10)) == canon(rebuilt.topK(terms, 10)))
  }

  test("streamed replication converges under fresh-checkpoint replay") {
    val docs = corpus
    val tmp = tempDir("postings-repl-").toString
    val ix = new PostingsStore(spark, tmp + "/ix", buckets = 8)
    ix.write(docs.filter($"doc_id" < 10))
    docs.write.parquet(tmp + "/feed")
    def run(cp: String): Unit = {
      val q = ix.replicate(
          spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2).parquet(tmp + "/feed"), cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run(tmp + "/cp1")
    run(tmp + "/cp2") // full replay
    val members = spark.read.parquet(ix.path).filter(col("term").isNull).count()
    assert(members == 80, s"replay duplicated membership rows: $members")
  }

  test("data errors and layout drift refuse loudly") {
    val docs = corpus
    val ix = new PostingsStore(spark,
      tempDir("postings-guard-").toString + "/ix", buckets = 8)
    ix.write(docs)
    val dup = docs.filter($"doc_id" === 0L).unionByName(docs.filter($"doc_id" === 0L))
    val e1 = intercept[IllegalArgumentException] { ix.appendIdempotent(dup) }
    assert(e1.getMessage.contains("duplicate doc_ids"))
    val e2 = intercept[IllegalArgumentException] { ix.topK(Seq("dup", "dup"), 5) }
    assert(e2.getMessage.contains("duplicate query terms"))
    val drifted = new PostingsStore(spark, ix.path, buckets = 16)
    val e3 = intercept[IllegalArgumentException] { drifted.topK(terms, 5) }
    assert(e3.getMessage.contains("buckets"))
    assert(PostingsStore.open(spark, ix.path).buckets == 8)
  }

  test("query reads only the query terms' buckets (partition pruning)") {
    val docs = corpus
    val ix = new PostingsStore(spark,
      tempDir("postings-prune-").toString + "/ix",
      buckets = 32)
    ix.write(docs)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the pruned read behind topK: term-bucket + term predicates
      val pruned = spark.read.parquet(ix.path)
        .filter(col("pb").isin(
          terms.map(t => ((Hash60.digest60(t.getBytes("UTF-8")) % 32) + 32) % 32)
            .distinct: _*) && col("term").isin(terms: _*))
      pruned.collect()
      val plan = pruned.queryExecution.executedPlan
      assert(plan.toString.contains("PartitionFilters"), plan.toString.take(1200))
      val scan = plan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
      }.head
      val total = spark.read.parquet(ix.path).inputFiles.length
      assert(scan.metrics("numFiles").value < total,
        s"${scan.metrics("numFiles").value}/$total files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("a non-integral or null doc id refuses IN-PLAN with the value — " +
      "a bare cast would null every string id and collapse the corpus " +
      "onto one NULL key") {
    val ix = new PostingsStore(spark,
      tempDir("postings-ids-").toString + "/ix", buckets = 8)
    def messageChain(t: Throwable): String = {
      val sb = new StringBuilder
      var e = t
      while (e != null) { sb.append(e.getMessage).append(" | "); e = e.getCause }
      sb.toString
    }
    val strs = Seq(("doc-1", "alpha beta"), ("doc-2", "beta gamma"))
      .toDF("doc_id", "text")
    val e1 = intercept[Throwable] { ix.write(strs) }
    assert(messageChain(e1).contains("not a non-null integral id"),
      messageChain(e1).take(400))
    val nulls = Seq((java.lang.Long.valueOf(1L), "alpha"), (null, "beta"))
      .toDF("doc_id", "text")
    val e2 = intercept[Throwable] { ix.write(nulls) }
    assert(messageChain(e2).contains("not a non-null integral id"),
      messageChain(e2).take(400))
  }

  test("readers scan the MANIFEST's file list, not the directory: an " +
      "unpublished stray file (a torn append's debris) is invisible to " +
      "stats and topK") {
    val docs = corpus
    val ix = new PostingsStore(spark,
      tempDir("postings-stray-").toString + "/ix",
      buckets = 8)
    ix.write(docs)
    val (n0, sum0) = ix.stats()
    val before = canon(ix.topK(terms, 10))
    // a crashed mutation's moved-but-unpublished file: real parquet
    // bytes with valid rows, sitting in a live bucket dir with NO
    // manifest referencing it — the pre-manifest reader would have
    // silently served it (phantom docs, inflated N)
    val stray = Seq(9999L).toDF("doc_id")
      .select(lit(null).cast("string").as("term"), col("doc_id"),
        lit(0L).as("tf"), lit(5L).as("dl"))
    val bucketDir = new java.io.File(ix.path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("pb=")).head
    stray.coalesce(1).write.mode("append")
      .parquet(bucketDir.getAbsolutePath + "/_stray_tmp")
    // move the part file up into the live dir under a plausible name
    val part = new java.io.File(bucketDir, "_stray_tmp").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val landed = new java.io.File(bucketDir, "part-stray.parquet")
    assert(part.renameTo(landed))
    assert(ix.stats() == ((n0, sum0)),
      "stats must not count an unpublished file's rows")
    assert(canon(ix.topK(terms, 10)) == before,
      "topK must not serve an unpublished file's rows")
  }
}
