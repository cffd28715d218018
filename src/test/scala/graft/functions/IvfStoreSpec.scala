package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IvfStoreSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  // 4 well-separated clusters in 8-d so cells are meaningful
  private def corpus = (0L until 200L).map { i =>
    val c = (i % 4).toInt
    val v = Array.tabulate(8)(j =>
      (if (j == c * 2) 10f else 0f) + ((i * 7 + j) % 5) * 0.1f)
    (i, v)
  }.toDF("vec_id", "embedding")

  private def newStore() = {
    val emb = corpus
    val centroids = Ivf.train(emb, nCentroids = 4, maxIter = 10)
    val s = new IvfStore(spark,
      tempDir("graft-ivfstore-").toString + "/v", centroids)
    s.write(emb)
    (s, emb)
  }

  test("full probe over the store == brute force (exactness anchor)") {
    val (s, emb) = newStore()
    val queries = emb.filter($"vec_id" < 6)
    val got = s.searchTopK(queries, k = 5, nProbe = 4)
      .select("q_id", "rk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(emb, $"vec_id" < 6, 5)
      .select("q_id", "rk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == brute && got.nonEmpty)
  }

  test("partial probe prunes at the MANIFEST layer: the scan's input " +
      "files are exactly the probed cells'") {
    val (s, _) = newStore()
    val probed = s.probedCorpus(Set(0))
    val files = probed.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/cell=0/")),
      files.take(5).mkString(", "))
    val total = s.contents().inputFiles.length
    assert(files.length < total, s"${files.length}/$total files")
    // and the pruned scan still carries the partition value as a column
    assert(probed.select("cell").distinct().collect()
      .map(_.get(0).toString.toInt).toSet == Set(0))
  }

  private def topk(s: IvfStore, emb: org.apache.spark.sql.DataFrame,
      pred: org.apache.spark.sql.Column): Set[(Long, Int, Long)] =
    s.searchTopK(emb.filter(pred), k = 5, nProbe = 4)
      .select("q_id", "rk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("append files a delta into touched cells; search == full rebuild") {
    val emb = corpus
    val centroids = Ivf.train(emb, nCentroids = 4, maxIter = 10)
    val base = emb.filter($"vec_id" % 3 =!= 0)
    val delta = emb.filter($"vec_id" % 3 === 0)

    val maintained = new IvfStore(spark,
      tempDir("ivf-maint-").toString + "/v", centroids)
    maintained.write(base)
    // maintenance goes through the persisted-quantizer handle
    val handle = IvfStore.open(spark, maintained.path)
    handle.append(delta)

    val rebuilt = new IvfStore(spark,
      tempDir("ivf-rebuilt-").toString + "/v", centroids)
    rebuilt.write(emb)

    val got = topk(handle, emb, $"vec_id" < 6)
    assert(got == topk(rebuilt, emb, $"vec_id" < 6) && got.nonEmpty)
  }

  test("open round-trips the persisted quantizer bit-exactly; append " +
      "refuses a drifted handle") {
    val (s, emb) = newStore()
    val reopened = IvfStore.open(spark, s.path)
    // exercise the reopened handle end-to-end
    assert(topk(reopened, emb, $"vec_id" < 6) == topk(s, emb, $"vec_id" < 6))
    // a retrained quantizer is a DIFFERENT layout: mutating through it
    // would file vectors into cells the stored layout never probes
    val drifted = Ivf.train(emb.filter($"vec_id" % 2 === 0L),
      nCentroids = 4, maxIter = 3)
    val bad = new IvfStore(spark, s.path, drifted)
    val e = intercept[IllegalArgumentException] {
      bad.append(emb.limit(1))
    }
    assert(e.getMessage.contains("persisted quantizer"))
  }

  test("removeWhere rewrites only touched cells and empties cells out of " +
      "the manifest") {
    val (s, emb) = newStore()
    val handle = IvfStore.open(spark, s.path)
    def cellFiles(c: Int): Set[String] =
      handle.probedCorpus(Set(c)).inputFiles.toSet
    // which cell holds cluster 3? (vec_id % 4 == 3 by construction)
    val cellOf3 = handle.contents()
      .filter($"vec_id" === 3L).select("cell")
      .collect().head.get(0).toString.toInt
    val untouched = (0 until 4).filterNot(_ == cellOf3)
    val before = untouched.map(c => c -> cellFiles(c)).toMap

    // remove PART of cluster 3: its cell is rewritten, others untouched
    handle.removeWhere($"vec_id" % 4 === 3 && $"vec_id" < 100)
    val live = handle.contents().select("vec_id").as[Long].collect().toSet
    assert(!live.exists(id => id % 4 == 3 && id < 100))
    assert(live.exists(id => id % 4 == 3 && id >= 100), "kept the rest of the cell")
    untouched.foreach(c =>
      assert(cellFiles(c) == before(c), s"untouched cell $c was rewritten"))

    // remove the REST of cluster 3: the emptied cell leaves the manifest
    handle.removeWhere($"vec_id" % 4 === 3)
    assert(cellFiles(cellOf3).isEmpty, "emptied cell must leave the manifest")
    val after = handle.contents().select("vec_id").as[Long].collect().toSet
    assert(!after.exists(_ % 4 == 3) && after.nonEmpty)
  }

  test("removeWhere under three-valued logic: NULL-pred rows survive " +
      "symmetrically, touched cell or not") {
    val emb = corpus
    val centroids = Ivf.train(emb, nCentroids = 4, maxIter = 10)
    val s = new IvfStore(spark,
      tempDir("ivf-nullpred-").toString + "/v", centroids)
    s.write(emb)
    // pred is NULL exactly on even ids, TRUE on id 3 (cluster 3's cell is
    // touched), FALSE elsewhere: a keep-filter of bare !pred would drop
    // every even id sharing cluster-3's cell while identical even ids in
    // other cells survived — layout-dependent loss
    val pred = when($"vec_id" % 2 === 0, lit(null).cast("boolean"))
      .otherwise($"vec_id" === 3)
    s.removeWhere(pred)
    val live = s.contents().select("vec_id").as[Long].collect().toSet
    assert(!live.contains(3L), "the TRUE row is removed")
    assert((0L until 200L).filter(_ % 2 == 0).forall(live.contains),
      "every NULL-pred row survives, regardless of cell")
    assert(live.size == 199)
  }

  test("compactCells defragments appended cells without changing results") {
    val emb = corpus
    val centroids = Ivf.train(emb, nCentroids = 4, maxIter = 10)
    val s = new IvfStore(spark,
      tempDir("ivf-compact-").toString + "/v", centroids)
    s.write(emb.filter($"vec_id" < 100))
    (0 until 3).foreach(i =>
      s.append(emb.filter($"vec_id" >= 100 + i * 30 && $"vec_id" < 130 + i * 30)))
    val expected = topk(s, emb, $"vec_id" < 6)
    val filesBefore = s.contents().inputFiles.length
    s.compactCells(maxFilesPerCell = 1)
    val filesAfter = s.contents().inputFiles.length
    assert(filesAfter < filesBefore, s"$filesAfter vs $filesBefore files")
    assert(topk(s, emb, $"vec_id" < 6) == expected)
  }

  test("appendIdempotent drops re-offered vectors; replicate replay converges") {
    val emb = corpus
    val centroids = Ivf.train(emb, nCentroids = 4, maxIter = 10)
    val tmp = tempDir("ivf-idem-").toString
    val s = new IvfStore(spark, tmp + "/v", centroids)
    s.write(emb.filter($"vec_id" < 80))
    // the delta overlaps the seed: only the 120 new ids may land
    s.appendIdempotent(emb.filter($"vec_id" >= 40))
    val ids = s.contents().select("vec_id").as[Long].collect()
    assert(ids.length == 200 && ids.toSet.size == 200, "store must hold " +
      s"each vector exactly once; got ${ids.length} rows")

    // intra-batch duplicate ids are a data error, refused loudly
    val dup = emb.filter($"vec_id" === 0L)
      .unionByName(emb.filter($"vec_id" === 0L))
    val e = intercept[IllegalArgumentException] { s.appendIdempotent(dup) }
    assert(e.getMessage.contains("duplicate vec_ids"))

    // a re-offered id whose NEW embedding assigns to a DIFFERENT cell is
    // still a replay of an existing identity: the store-wide anti-join
    // drops it (a touched-cells-only check would re-insert it and leave
    // two rows for one vec_id — the streaming-replay-with-changed-
    // embeddings hazard)
    val moved = Seq((0L, Array.tabulate(8)(j => if (j == 6) 10f else 0f)))
      .toDF("vec_id", "embedding")
    s.appendIdempotent(moved)
    val zeroRows = s.contents().filter($"vec_id" === 0L)
    assert(zeroRows.count() == 1, "re-embedded replay must not duplicate")
    val storedZero = Similarity.vecRows(
      zeroRows.select("vec_id", "embedding")).collect().head._2
    assert(storedZero(0) == 10.0 && storedZero(6) < 1.0,
      s"the STORED vector wins on idempotent replay: ${storedZero.mkString(",")}")

    // streamed replication: full-feed replay with a FRESH checkpoint
    // (the worst restart: every batch re-offered) leaves the store as-is
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
    replayOnce(tmp + "/cp2") // fresh checkpoint: full replay
    val after = s.contents().select("vec_id").as[Long].collect()
    assert(after.length == 200 && after.toSet.size == 200,
      s"replayed replication duplicated vectors: ${after.length} rows")
  }

  test("upsert re-embeds: matched ids replaced (cell moves follow the " +
      "new embedding), unmatched ids appended") {
    val emb = corpus
    val centroids = Ivf.train(emb, nCentroids = 4, maxIter = 10)
    val s = new IvfStore(spark,
      tempDir("ivf-upsert-").toString + "/v", centroids)
    s.write(emb.filter($"vec_id" < 150))
    // re-embed ids 0-49 with cluster-((id+1)%4) vectors (cells MOVE) and
    // introduce 150-199 as new
    val delta = (0L until 50L).map { i =>
      val c = ((i + 1) % 4).toInt
      (i, Array.tabulate(8)(j => if (j == c * 2) 10f else 0.5f))
    }.toDF("vec_id", "embedding")
      .unionByName(emb.filter($"vec_id" >= 150))
    val genBefore = graft.sources.StoreManifest
      .resolve(spark, s.path, "spec").gen
    s.upsert(delta)
    // remove + re-add land as ONE published generation: no intermediate
    // version with the ids deleted can ever be a crash survivor
    assert(graft.sources.StoreManifest.resolve(spark, s.path, "spec").gen
      == genBefore + 1, "upsert must be a single atomic publish")
    val store = s.contents()
    assert(store.count() == 200 &&
      store.select("vec_id").distinct().count() == 200)
    // the re-embedded vectors answer from their NEW cluster
    val got = s.searchTopK(
        Seq((0L, Array.tabulate(8)(j => if (j == 2) 10f else 0.5f)))
          .toDF("vec_id", "embedding"), k = 1, nProbe = 4)
      .select("neighbor_id").as[Long].collect()
    assert(got.length == 1 && got.head < 50,
      s"nearest to the re-embedded direction should be a re-embedded id: ${got.toSeq}")
    // upsert == removeMatching + append: replaced embeddings really moved
    val stored0 = Similarity.vecRows(store.filter($"vec_id" === 0L)
      .select("vec_id", "embedding")).collect().head._2
    assert(stored0(2) == 10.0 && stored0(0) == 0.5, stored0.mkString(","))
  }

  test("distributed ANN join at full probe == brute force for every " +
      "query; salt lanes don't change the answer") {
    val (s, emb) = newStore()
    val brute = Similarity.bruteForceTopK(emb, lit(true), 5)
      .select("q_id", "rk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def joined(salt: Int) = s.searchTopKJoin(emb, 5, nProbe = 4, salt = salt)
      .select("q_id", "rk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = joined(4)
    assert(got == brute && got.nonEmpty)
    assert(joined(1) == got, "salting is a parallelism knob, not semantics")
  }

  test("crashed-mutation debris is invisible to reads; vacuum reclaims it") {
    val (s, _) = newStore()
    val before = s.contents().select("vec_id").as[Long].collect().toSet
    // simulate a maintainer that died mid-mutation: a leftover staging
    // dir AND an orphan file already moved into a live cell dir — neither
    // is in any manifest, so reads serve the published version unchanged
    // (the r13 design REFUSED here; availability now survives the crash)
    val staging = new java.io.File(s"${s.path}/_staging_dead")
    assert(staging.mkdirs())
    java.nio.file.Files.write(staging.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    val orphan = new java.io.File(s"${s.path}/cell=0/part-orphan-x.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](9, 9))
    assert(s.contents().select("vec_id").as[Long].collect().toSet == before)
    assert(s.probedCorpus(Set(0)).inputFiles.forall(!_.contains("orphan")))
    val removed = s.vacuum()
    assert(removed.exists(_.contains("part-orphan-x")) &&
      removed.exists(_.contains("_staging_dead")), removed.mkString(", "))
    assert(!orphan.exists && !staging.exists)
    assert(s.contents().select("vec_id").as[Long].collect().toSet == before)
  }

  test("reader isolation: a scan resolved before one maintenance batch " +
      "reads its complete version; beyond retention it fails LOUDLY") {
    val (s, _) = newStore()
    val handle = IvfStore.open(spark, s.path)
    val oldScan = handle.contents() // resolves the gen-1 manifest NOW
    // one mutation later (gen 2): gen-1 files are retained — the old
    // reader still materializes its COMPLETE version, never a silently
    // shorter one (the r13 in-place swap's silent-miss window)
    handle.removeWhere($"vec_id" % 4 === 3 && $"vec_id" < 100)
    assert(oldScan.select("vec_id").as[Long].collect().toSet ==
      (0L until 200L).toSet)
    // a second mutation retires gen 1 and reclaims its replaced files:
    // the stale reader now fails loudly (FileNotFound), never short
    handle.removeWhere($"vec_id" % 4 === 3)
    val stale = intercept[Exception] {
      oldScan.select("vec_id").as[Long].collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(stale).exists(c =>
        c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(_.toLowerCase.contains("file"))),
      s"expected a loud missing-file failure, got: $stale")
  }

  test("a reader RACING live maintenance never sees a torn version: " +
      "every observed count is a published generation's count, or the " +
      "read fails loudly") {
    // the r13 staged swap's failure mode was a reader listing files
    // BETWEEN a cell's two renames — a silently SHORT scan. Under the
    // manifest protocol a racing reader resolves some generation and
    // reads it completely (files outlive their manifest one retained
    // generation) or throws FileNotFound once it is staler than
    // retention. This test races a real reader thread against a live
    // mutation loop and asserts every successful read returns EXACTLY a
    // published generation's cardinality — never anything in between.
    val emb = corpus
    val centroids = Ivf.train(emb, nCentroids = 4, maxIter = 10)
    val s = new IvfStore(spark,
      tempDir("ivf-race-").toString + "/v", centroids)
    s.write(emb) // gen 1: 200 rows
    // mutation plan with deterministic per-generation counts: remove a
    // 10-id slab then append it back, so EVERY published generation
    // holds exactly 190 or 200 rows — a torn read (a missing cell is
    // ~50 rows here) can never alias a legitimate count. The set is
    // complete up front: a reader can resolve a just-published
    // generation before the mutation call even returns
    val legit = Set(190L, 200L)
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong
    val loudFailures = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val c = s.contents().count()
          reads.incrementAndGet()
          if (!legit.contains(c)) { torn.add(c); () }
        } catch {
          case _: Throwable => loudFailures.incrementAndGet()
        }
      }
    })
    reader.start()
    try {
      (0 until 6).foreach { k =>
        val lo = (k % 3) * 10L
        s.removeWhere($"vec_id" >= lo && $"vec_id" < lo + 10)
        s.append(emb.filter($"vec_id" >= lo && $"vec_id" < lo + 10))
      }
    } finally {
      stop.set(true)
      reader.join(30000)
    }
    assert(torn.isEmpty,
      s"reader observed counts outside the published generations: " +
        s"${torn.toArray.mkString(", ")} (legit: ${legit.mkString(", ")})")
    assert(reads.get() > 0, "the reader never completed a read — vacuous")
    assert(s.contents().count() == 200)
  }

  test("partial probe finds in-cluster neighbors (subset relaxation)") {
    val (s, emb) = newStore()
    val queries = emb.filter($"vec_id" === 0L) // cluster 0
    val got = s.searchTopK(queries, k = 3, nProbe = 1)
      .select("neighbor_id").as[Long].collect()
    assert(got.length == 3)
    // nearest neighbors of a cluster-0 point are cluster-0 points
    got.foreach(n => assert(n % 4 == 0, s"neighbor $n not in cluster 0"))
    // and the 1-probe answer is contained in the full-probe answer's cells
    val full = s.searchTopK(queries, k = 3, nProbe = 4)
      .select("neighbor_id").as[Long].collect()
    assert(got.toSet == full.toSet, "separated clusters: 1 probe suffices")
  }

  test("a mis-dimensioned query refuses loudly: truncated dots would " +
      "rank plausibly and wrongly") {
    val (s, _) = newStore()
    val short = Seq((900L, Array.fill(4)(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      s.searchTopK(short, k = 3, nProbe = 2)
    }
    assert(e.getMessage.contains("4-d query") &&
      e.getMessage.contains("8-d store"))
  }

  test("searchTopKJoin at PARTIAL probe reads only the probed cells' " +
      "files and agrees with the broadcast query path") {
    val (s, emb) = newStore()
    val queries = emb.filter($"vec_id" < 8)
    val join2 = s.searchTopKJoin(queries, k = 3, nProbe = 2)
      .select("q_id", "rk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val bcast2 = s.searchTopK(queries, k = 3, nProbe = 2)
      .select("q_id", "rk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(join2 == bcast2 && join2.nonEmpty,
      "both query paths share the probe-set semantics at partial probe")
  }

  test("rebuild under a session's dynamic partitionOverwriteMode stays " +
      "a full rebuild: no stale cells, no orphaned manifests") {
    val conf = spark.conf
    val key = "spark.sql.sources.partitionOverwriteMode"
    val old = conf.getOption(key)
    conf.set(key, "dynamic")
    try {
      val emb = corpus
      val centroids = Ivf.train(emb, nCentroids = 4, maxIter = 10)
      val s = new IvfStore(spark,
        tempDir("graft-ivfdyn-").toString + "/v", centroids)
      s.write(emb) // all 4 cells populated
      // rebuild with ONLY cluster 0: under dynamic overwrite the other
      // cells' old files (and the previous manifests) would survive —
      // readers FileNotFound or a silently merged corpus
      val only0 = emb.filter($"vec_id" % 4 === 0)
      s.write(only0)
      assert(s.contents().count() == only0.count(),
        "the rebuilt store holds exactly the new corpus")
      assert(s.contents().select("vec_id").as[Long].collect()
        .forall(_ % 4 == 0), "no stale cells from the previous build")
    } finally {
      old match { case Some(v) => conf.set(key, v); case None => conf.unset(key) }
    }
  }
}
