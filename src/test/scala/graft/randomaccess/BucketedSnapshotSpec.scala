package graft.randomaccess

import java.nio.file.Files

import graft.SparkSpec
import graft.core.StreamElement
import graft.operators.LatestWithTombstones

class BucketedSnapshotSpec extends SparkSpec {

  private def up(key: String, attr: String, stamp: Long, v: String) =
    StreamElement("e", key, attr, s"u-$key-$attr-$stamp", 0, stamp,
      v.getBytes("UTF-8"), delete = false, deleteWildcard = false)

  private def del(key: String, attr: String, stamp: Long) =
    StreamElement("e", key, attr, s"d-$key-$attr-$stamp", 0, stamp,
      null, delete = true, deleteWildcard = false)

  private def log(xs: Seq[StreamElement]) =
    spark.createDataset(xs)(StreamElement.encoder)

  private def store(b: Int = 8) = new BucketedSnapshotStore(spark,
    tempDir("graft-bss-").toString + "/store", buckets = b)

  private val hist = (1 to 50).map(i => up(s"k$i", "status", i.toLong, s"v$i"))

  test("get/multiFetch/scan read back the compacted snapshot") {
    val s = store()
    s.write(LatestWithTombstones.snapshot(log(
      hist ++ Seq(up("k7", "status", 100, "newer"), up("k7", "extra", 101, "x")))))
    assert(s.get("k7", "status").map(e => new String(e.value)) == Some("newer"))
    assert(s.get("missing", "status").isEmpty)
    assert(s.multiFetch(Seq("k1", "k2", "missing"), "status")
      .view.mapValues(e => new String(e.value)).toMap ==
      Map("k1" -> "v1", "k2" -> "v2"))
    assert(s.scan("k7").map(_.attribute) == Seq("extra", "status"))
  }

  test("point lookup prunes to one bucket's files at the manifest layer") {
    val s = store()
    s.write(LatestWithTombstones.snapshot(log(hist)))
    // the exact pruned scan get() performs: its input files come straight
    // off the manifest's kb=N entries — no directory listing, no other
    // bucket's files even enter the plan
    val scan = s.lookupScan("k13")
    val files = scan.inputFiles
    val touchedDir = s"kb=${s.bucketOf("k13")}"
    assert(files.nonEmpty && files.forall(_.contains(touchedDir)),
      files.take(5).mkString(", "))
    val total = s.contents().inputFiles.length
    assert(files.length < total,
      s"bucket pruning must skip files: ${files.length}/$total")
    assert(s.get("k13", "status").isDefined)
  }

  test("refresh rewrites only affected buckets and matches full compaction") {
    val s = store()
    s.write(LatestWithTombstones.snapshot(log(hist)))
    val delta = Seq(up("k3", "status", 200, "fresh"), del("k5", "status", 201),
      up("k99", "status", 202, "new-key"))
    s.refresh(log(delta))

    val got = s.snapshot().collect()
      .map(e => (e.key, e.attribute) -> new String(e.value)).toMap
    val full = LatestWithTombstones.snapshot(log(hist ++ delta)).collect()
      .map(e => (e.key, e.attribute) -> new String(e.value)).toMap
    assert(got == full)
    assert(got(("k3", "status")) == "fresh")
    assert(!got.contains(("k5", "status")))
    assert(got(("k99", "status")) == "new-key")
  }

  test("refresh leaves untouched bucket files physically unmodified") {
    val s = store(b = 16)
    s.write(LatestWithTombstones.snapshot(log(hist)))
    val dir = s.snapshot().inputFiles.map(f =>
      f.substring(0, f.lastIndexOf('/'))).distinct
    val before = s.snapshot().inputFiles.toSet
    val deltaKey = "k1"
    s.refresh(log(Seq(up(deltaKey, "status", 300, "touched"))))
    val after = s.snapshot().inputFiles.toSet
    val touchedDir = s"kb=${s.bucketOf(deltaKey)}"
    val (changedB, keptB) = before.partition(_.contains(touchedDir))
    val (changedA, keptA) = after.partition(_.contains(touchedDir))
    assert(keptA == keptB, "untouched bucket files must be byte-identical paths")
    assert(changedA != changedB, "the touched bucket must be rewritten")
    assert(dir.nonEmpty)
  }

  test("deleted cells stay as tombstones until expiry reclaims the bucket") {
    val s = store(b = 4)
    val keys = ('a' to 'j').map(_.toString)
    s.write(LatestWithTombstones.snapshot(log(keys.map(up(_, "x", 1, "v")))))
    // delete every key living in a's bucket; other buckets stay live
    val sameBucket = keys.filter(k => s.bucketOf(k) == s.bucketOf("a"))
    val remaining = keys.diff(sameBucket)
    assert(remaining.nonEmpty, "fixture must span more than one bucket")
    s.refresh(log(sameBucket.map(k => del(k, "x", 10))))
    sameBucket.foreach(k => assert(s.get(k, "x").isEmpty))
    remaining.foreach(k => assert(s.get(k, "x").nonEmpty))
    // tombstones are RETAINED (late-data safety) until expiry...
    assert(s.contents().filter(_.delete).count() == sameBucket.size)
    // ...which removes the now-empty bucket directory entirely
    s.expireTombstones(horizonUs = 11)
    assert(s.contents().filter(_.delete).count() == 0)
    assert(!s.contents().inputFiles
      .exists(_.contains(s"kb=${s.bucketOf("a")}")))
    remaining.foreach(k => assert(s.get(k, "x").nonEmpty))
  }

  test("late upsert under an already-applied newer delete stays dead " +
      "(the case watermark-ordered merge cannot handle)") {
    val s = store(b = 4)
    s.write(LatestWithTombstones.compactRetaining(log(Seq(
      up("k", "x", 1, "v1"), del("k", "x", 10)))))
    assert(s.get("k", "x").isEmpty)
    s.refresh(log(Seq(up("k", "x", 5, "late")))) // older than the delete
    assert(s.get("k", "x").isEmpty, "retained tombstone must veto late data")
    s.refresh(log(Seq(up("k", "x", 20, "fresh")))) // genuinely newer
    assert(s.get("k", "x").map(e => new String(e.value)) == Some("fresh"))
    // but after expiry the same late element WOULD resurrect — contract
    s.expireTombstones(horizonUs = 100)
    s.refresh(log(Seq(del("k", "x", 30))))
    s.expireTombstones(horizonUs = 100)
    s.refresh(log(Seq(up("k", "x", 25, "zombie"))))
    assert(s.get("k", "x").map(e => new String(e.value)) == Some("zombie"))
  }

  test("a crashed refresh is invisible: reads keep serving the last " +
      "published version; vacuum reclaims the debris") {
    // the r13 design REFUSED reads after a crashed swap; the manifest
    // path makes the crash a non-event — nothing before the publish
    // rename is reader-visible, so availability survives a dead maintainer
    val s = store()
    s.write(LatestWithTombstones.snapshot(log(hist.take(5))))
    val before = s.snapshot().collect()
      .map(e => (e.key, new String(e.value))).toSet
    // debris of a maintainer that died mid-mutation: a staging dir and a
    // moved-but-never-published orphan file inside a live bucket dir
    val staging = new java.io.File(s"${s.path}/_staging_dead")
    assert(staging.mkdirs())
    val bucketDir = new java.io.File(
      s"${s.path}/kb=${s.bucketOf("k1")}")
    val orphan = new java.io.File(bucketDir, "part-orphan-x.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    assert(s.snapshot().collect()
      .map(e => (e.key, new String(e.value))).toSet == before)
    assert(s.get("k1", "status").isDefined)
    val removed = s.vacuum()
    assert(removed.exists(_.contains("part-orphan-x")) &&
      removed.exists(_.contains("_staging_dead")), removed.mkString(", "))
    assert(!orphan.exists && !staging.exists)
    // and the store still mutates + serves normally afterwards
    s.refresh(log(Seq(up("k1", "status", 100, "x"))))
    assert(s.get("k1", "status").map(e2 => new String(e2.value)) == Some("x"))
  }

  test("reader isolation across refresh: a scan resolved before one " +
      "maintenance batch reads its complete version; beyond retention " +
      "it fails LOUDLY, never silently short") {
    val s = store(b = 4)
    s.write(LatestWithTombstones.snapshot(log(hist.take(10))))
    val oldScan = s.snapshot() // resolves the gen-1 manifest NOW
    // one refresh later: gen-1's replaced files are retained, so the old
    // reader still materializes the COMPLETE pre-refresh view (the r13
    // in-place swap could silently lose a bucket mid-listing here)
    s.refresh(log(Seq(up("k1", "status", 100, "newer"))))
    assert(oldScan.collect().map(e => (e.key, new String(e.value))).toSet ==
      hist.take(10).map(e => (e.key, new String(e.value))).toSet)
    // a second refresh on the same bucket retires gen 1 and reclaims its
    // replaced files: the stale reader now fails loudly
    s.refresh(log(Seq(up("k1", "status", 101, "newest"))))
    val stale = intercept[Exception] { oldScan.collect() }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(stale).exists(c =>
        c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(_.toLowerCase.contains("file"))),
      s"expected a loud missing-file failure, got: $stale")
  }

  test("replicate restart from checkpoint converges (idempotent refresh)") {
    implicit val sq = spark.sqlContext
    implicit val enc = StreamElement.encoder
    val ckpt = tempDir("graft-bss-ckpt2-").toString
    val s = store(b = 4)
    s.write(log(Nil))

    val in1 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamElement]
    val q1 = s.replicate(in1.toDS(), ckpt).start()
    try {
      in1.addData(up("k1", "x", 1, "v1"), up("k2", "x", 2, "v2"))
      q1.processAllAvailable()
    } finally q1.stop()

    // re-apply batch 1 manually: a restart that replays the last batch
    // must not change the store (refresh is idempotent)
    val before = s.contents().collect()
      .map(e => (e.key, e.attribute, e.stamp, e.uuid)).toSet
    s.refresh(log(Seq(up("k1", "x", 1, "v1"), up("k2", "x", 2, "v2"))))
    val after = s.contents().collect()
      .map(e => (e.key, e.attribute, e.stamp, e.uuid)).toSet
    assert(after == before, "replayed batch must be a no-op")

    // and replaying batch 1 INTERLEAVED with newer data still converges
    // (the restart-with-replay schedule): delete k1 then re-play batch 1
    s.refresh(log(Seq(del("k1", "x", 10))))
    s.refresh(log(Seq(up("k1", "x", 1, "v1"), up("k2", "x", 2, "v2"))))
    assert(s.get("k1", "x").isEmpty, "replay must not resurrect k1")
    assert(s.get("k2", "x").map(e => new String(e.value)) == Some("v2"))
  }

  test("replicate folds a streaming changelog, out-of-order micro-batches") {
    implicit val sq = spark.sqlContext
    implicit val enc = StreamElement.encoder
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamElement]
    val s = store(b = 4)
    s.write(log(Nil)) // empty store
    val q = s.replicate(input.toDS(),
      tempDir("graft-bss-ckpt-").toString).start()
    try {
      input.addData(up("k1", "x", 10, "v10"), up("k2", "x", 11, "v11"))
      q.processAllAvailable()
      input.addData(del("k1", "x", 15), up("k1", "x", 12, "mid"))
      q.processAllAvailable()
      input.addData(up("k1", "x", 13, "late")) // still under the delete
      q.processAllAvailable()
    } finally q.stop()
    assert(s.get("k1", "x").isEmpty)
    assert(s.get("k2", "x").map(e => new String(e.value)) == Some("v11"))
    // store == full compaction of everything that ever streamed in
    val full = LatestWithTombstones.snapshot(log(Seq(
      up("k1", "x", 10, "v10"), up("k2", "x", 11, "v11"),
      del("k1", "x", 15), up("k1", "x", 12, "mid"),
      up("k1", "x", 13, "late")))).collect()
      .map(e => (e.key, e.attribute, e.stamp)).toSet
    assert(s.snapshot().collect()
      .map(e => (e.key, e.attribute, e.stamp)).toSet == full)
  }
}
