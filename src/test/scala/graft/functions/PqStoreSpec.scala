package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PqStoreSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  // 4 well-separated clusters in 8-d (the IvfStoreSpec corpus)
  private def corpus = (0L until 200L).map { i =>
    val c = (i % 4).toInt
    val v = Array.tabulate(8)(j =>
      (if (j == c * 2) 10f else 0f) + ((i * 7 + j) % 5) * 0.1f)
    (i, v)
  }.toDF("vec_id", "embedding")

  private def quantizers(emb: org.apache.spark.sql.DataFrame) = (
    Pq.train(emb, m = 4, k = 16, maxIter = 20),
    Ivf.train(emb, nCentroids = 4, maxIter = 10))

  private def topk(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
    df.select("q_id", "rk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("full probe over the persisted store == in-memory IVF-PQ") {
    val emb = corpus
    val (cb, coarse) = quantizers(emb)
    val s = new PqStore(spark,
      tempDir("pqstore-").toString + "/v", cb, coarse)
    s.write(emb)
    val got = topk(s.searchTopK(emb.filter($"vec_id" < 6), 5, nProbe = 4))
    val mem = topk(Pq.searchTopKIvf(emb, $"vec_id" < 6, 5, cb, coarse,
      nProbe = 4))
    assert(got == mem && got.nonEmpty)
  }

  test("partial probe prunes at the MANIFEST layer: the code scan's " +
      "input files are exactly the probed cells'") {
    val emb = corpus
    val (cb, coarse) = quantizers(emb)
    val s = new PqStore(spark,
      tempDir("pqstore-prune-").toString + "/v", cb, coarse)
    s.write(emb)
    val probed = s.probedCodes(Set(0))
    val files = probed.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/cell=0/")),
      files.take(5).mkString(", "))
    val total = s.contents().inputFiles.length
    assert(files.length < total, s"${files.length}/$total files")
    assert(probed.select("cell").distinct().collect()
      .map(_.get(0).toString.toInt).toSet == Set(0))
  }

  test("removeMatching rewrites only matched cells; removed codes leave " +
      "the serving layout") {
    val emb = corpus
    val (cb, coarse) = quantizers(emb)
    val s = new PqStore(spark,
      tempDir("pqstore-rm-").toString + "/v", cb, coarse)
    s.write(emb)
    // take down cluster-2's vectors (ids with i % 4 == 2)
    val takedown = emb.filter($"vec_id" % 4 === 2).select("vec_id")
    s.removeMatching(takedown)
    val left = s.contents().select("vec_id").as[Long].collect()
    assert(!left.exists(_ % 4 == 2) && left.length == 150)
    // searches can never return a removed vector again
    val got = s.searchTopK(emb.filter($"vec_id" === 2L), 10, nProbe = 4)
      .select("neighbor_id").as[Long].collect()
    assert(got.nonEmpty && !got.exists(_ % 4 == 2))
    // equal to a store rebuilt without them
    val rebuilt = new PqStore(spark,
      tempDir("pqstore-rm-rebuilt-").toString + "/v",
      cb, coarse)
    rebuilt.write(emb.filter($"vec_id" % 4 =!= 2))
    assert(topk(s.searchTopK(emb.filter($"vec_id" < 6), 5, nProbe = 4)) ==
      topk(rebuilt.searchTopK(emb.filter($"vec_id" < 6), 5, nProbe = 4)))
  }

  test("corrupt persisted quantizer files refuse loudly with provenance") {
    val emb = corpus
    val (cb, coarse) = quantizers(emb)
    val s = new PqStore(spark,
      tempDir("pqstore-corrupt-").toString + "/v", cb, coarse)
    s.write(emb)
    def corrupt(name: String, body: String): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(s.path, name),
        body.getBytes("UTF-8"))
      // the out-of-band write leaves a stale Hadoop checksum sidecar; the
      // scenario under test is a corrupt FILE, not a torn write
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s.path, s".$name.crc"))
    }
    corrupt("_codebooks", "not a codebook\ngarbage;;;")
    val e1 = intercept[IllegalStateException] { PqStore.open(spark, s.path) }
    assert(e1.getMessage.contains("corrupt persisted codebooks"), e1.getMessage)
    corrupt("_quantizer", "zzzz,not-hex")
    val e2 = intercept[IllegalStateException] { PqStore.open(spark, s.path) }
    assert(e2.getMessage.contains("corrupt persisted quantizer"), e2.getMessage)
    // ragged centroid rows are corruption too, not a shorter quantizer
    corrupt("_quantizer", "3ff0000000000000,3ff0000000000000\n3ff0000000000000")
    val e3 = intercept[IllegalArgumentException] { IvfStore.open(spark, s.path) }
    assert(e3.getMessage.contains("ragged"), e3.getMessage)
  }

  test("open round-trips both quantizers; append == full rebuild; " +
      "drifted handles refused") {
    val emb = corpus
    val (cb, coarse) = quantizers(emb)
    val maintained = new PqStore(spark,
      tempDir("pqstore-maint-").toString + "/v", cb, coarse)
    maintained.write(emb.filter($"vec_id" % 2 === 0))
    val handle = PqStore.open(spark, maintained.path)
    handle.append(emb.filter($"vec_id" % 2 === 1))

    val rebuilt = new PqStore(spark,
      tempDir("pqstore-rebuilt-").toString + "/v", cb, coarse)
    rebuilt.write(emb)
    val q = emb.filter($"vec_id" < 6)
    val got = topk(handle.searchTopK(q, 5, nProbe = 4))
    assert(got == topk(rebuilt.searchTopK(q, 5, nProbe = 4)) && got.nonEmpty)

    // a retrained codebook is a different meaning for every stored byte
    val (cb2, _) = quantizers(emb.filter($"vec_id" < 64))
    val bad = new PqStore(spark, maintained.path, cb2, coarse)
    val e = intercept[IllegalArgumentException] { bad.append(emb.limit(1)) }
    assert(e.getMessage.contains("persisted"))
  }

  test("appendIdempotent drops re-offered ids; replicate replay converges " +
      "(the IvfStore maintenance laws on the compressed copy)") {
    val emb = corpus
    val (cb, coarse) = quantizers(emb)
    val tmp = tempDir("pqstore-idem-").toString
    val s = new PqStore(spark, tmp + "/v", cb, coarse)
    s.write(emb.filter($"vec_id" < 80))
    // overlap with the seed: only the 120 new ids may land
    s.appendIdempotent(emb.filter($"vec_id" >= 40))
    val ids = s.contents().select("vec_id").as[Long].collect()
    assert(ids.length == 200 && ids.toSet.size == 200,
      s"each code exactly once; got ${ids.length} rows")

    // intra-batch duplicates refuse loudly
    val dup = emb.filter($"vec_id" === 0L).unionByName(emb.filter($"vec_id" === 0L))
    val e = intercept[IllegalArgumentException] { s.appendIdempotent(dup) }
    assert(e.getMessage.contains("duplicate vec_ids"))

    // a re-offered id that would now encode into a DIFFERENT cell is
    // still a replayed identity: the store-wide anti-join drops it
    val moved = Seq((0L, Array.tabulate(8)(j => if (j == 6) 10f else 0f)))
      .toDF("vec_id", "embedding")
    s.appendIdempotent(moved)
    assert(s.contents().filter($"vec_id" === 0L).count() == 1)

    // streamed replication with a FRESH checkpoint (full replay) is a fold
    emb.write.parquet(tmp + "/feed")
    def replayOnce(cp: String): Unit = {
      val q = s.replicate(
          spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 2).parquet(tmp + "/feed"), cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    replayOnce(tmp + "/cp1")
    replayOnce(tmp + "/cp2")
    val after = s.contents().select("vec_id").as[Long].collect()
    assert(after.length == 200 && after.toSet.size == 200,
      s"replayed replication duplicated codes: ${after.length} rows")
  }

  test("upsert re-encodes matched ids (codes AND cells follow the new " +
      "embedding); compactCells defragments without changing answers") {
    val emb = corpus
    val (cb, coarse) = quantizers(emb)
    val s = new PqStore(spark,
      tempDir("pqstore-upsert-").toString + "/v", cb, coarse)
    s.write(emb.filter($"vec_id" < 150))
    // re-embed ids 0-19 into cluster-((id+1)%4) directions, add 150-199
    val delta = (0L until 20L).map { i =>
      val c = ((i + 1) % 4).toInt
      (i, Array.tabulate(8)(j => if (j == c * 2) 10f else 0.5f))
    }.toDF("vec_id", "embedding")
      .unionByName(emb.filter($"vec_id" >= 150))
    val genBefore = graft.sources.StoreManifest
      .resolve(spark, s.path, "spec").gen
    s.upsert(delta)
    // remove + re-encode land as ONE published generation (the
    // IvfStore.upsert atomicity contract)
    assert(graft.sources.StoreManifest.resolve(spark, s.path, "spec").gen
      == genBefore + 1, "upsert must be a single atomic publish")
    val store = s.contents()
    assert(store.count() == 200 &&
      store.select("vec_id").distinct().count() == 200)
    // the re-embedded ids must now answer from their NEW direction: a
    // store rebuilt from scratch over the same post-upsert corpus agrees
    val postCorpus = delta
      .unionByName(emb.filter($"vec_id" >= 20 && $"vec_id" < 150))
    val rebuilt = new PqStore(spark,
      tempDir("pqstore-upsert-rebuilt-").toString + "/v",
      cb, coarse)
    rebuilt.write(postCorpus)
    val q = postCorpus.filter($"vec_id" < 6)
    assert(topk(s.searchTopK(q, 5, nProbe = 4)) ==
      topk(rebuilt.searchTopK(q, 5, nProbe = 4)))

    // upsert also refuses duplicate-id deltas BEFORE touching the store
    val dup = delta.limit(1).unionByName(delta.limit(1))
    val e = intercept[IllegalArgumentException] { s.upsert(dup) }
    assert(e.getMessage.contains("duplicate vec_ids"))
    assert(s.contents().count() == 200, "refused upsert left the store untouched")

    // and a delta that cannot be ENCODED (wrong dimension) refuses before
    // the removal leg too — a post-removal encode failure would leave the
    // matched ids silently deleted and never re-added
    val wrongDim = Seq((0L, Array.tabulate(5)(_.toFloat)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[Exception] { s.upsert(wrongDim) }
    def msgs(t: Throwable) = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).take(10).flatMap(c => Option(c.getMessage)).toSeq
    assert(msgs(e2).exists(_.contains("dimension must match")), e2.toString)
    assert(s.contents().filter($"vec_id" === 0L).count() == 1,
      "refused upsert must not have removed the matched id")

    // fragmentation: several appends, then compact — answers unchanged
    val frag = new PqStore(spark,
      tempDir("pqstore-frag-").toString + "/v", cb, coarse)
    frag.write(emb.filter($"vec_id" < 100))
    (0 until 3).foreach(i =>
      frag.append(emb.filter($"vec_id" >= 100 + i * 30 && $"vec_id" < 130 + i * 30)))
    val expected = topk(frag.searchTopK(emb.filter($"vec_id" < 6), 5, nProbe = 4))
    val before = frag.contents().inputFiles.length
    frag.compactCells(maxFilesPerCell = 1)
    val afterN = frag.contents().inputFiles.length
    assert(afterN < before, s"$afterN vs $before files")
    assert(topk(frag.searchTopK(emb.filter($"vec_id" < 6), 5, nProbe = 4)) ==
      expected)
  }

  test("a delta with duplicate vec_ids files INTACT rows, never " +
      "cross-product hybrids (code and cell computed from the same " +
      "embedding in one fused pass)") {
    val emb = corpus
    val (cb, coarse) = quantizers(emb)
    val s = new PqStore(spark,
      tempDir("pqstore-dup-").toString + "/v", cb, coarse)
    s.write(emb.filter($"vec_id" < 100))
    // id 900 twice with embeddings from DIFFERENT clusters: the old
    // vec_id self-join paired one duplicate's code with the other's
    // cell (4 rows, 2 of them hybrids filed where their code's
    // embedding never lived); append() has no dup guard by contract
    val c0 = Array.tabulate(8)(j => if (j == 0) 10f else 0.1f)
    val c1 = Array.tabulate(8)(j => if (j == 2) 10f else 0.1f)
    val dup = Seq((900L, c0), (900L, c1)).toDF("vec_id", "embedding")
    s.append(dup)
    val got = s.contents().filter($"vec_id" === 900L)
      .select("cell").collect().map(_.get(0).toString.toInt).sorted.toSeq
    val expected = Ivf.assign(dup, coarse)
      .select("cell").collect().map(_.getInt(0)).sorted.toSeq
    assert(got == expected,
      s"two intact rows with their OWN cells expected ($expected), got $got")
  }

  test("a mis-dimensioned query refuses loudly before ADC tables are " +
      "built from a prefix") {
    val emb = corpus
    val (cb, coarse) = quantizers(emb)
    val s = new PqStore(spark,
      tempDir("pqstore-dim-").toString + "/v", cb, coarse)
    s.write(emb)
    val long = Seq((901L, Array.fill(16)(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      s.searchTopK(long, k = 3, nProbe = 2)
    }
    assert(e.getMessage.contains("16-d query"))
  }
}
