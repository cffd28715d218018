package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The manifest protocol itself — the store-shared invariants the
  * IvfStore/PqStore/BucketedSnapshot specs exercise end-to-end:
  * generation numbering, atomic single-writer publish, retention-bounded
  * file reclamation, and precise vacuum.
  */
class ManifestStoreSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def freshStore(): String = {
    val path = tempDir("graft-manifest-").toString + "/v"
    (0L until 40L).map(i => (i, (i % 4).toInt))
      .toDF("id", "cell")
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(path)
    path
  }

  private def schemaOf(path: String) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.IntegerType)))

  test("publishInitial adopts a bulk write as gen 1; resolve refuses a " +
      "manifest-less path") {
    val path = freshStore()
    val e = intercept[IllegalStateException] {
      StoreManifest.resolve(spark, path, "read")
    }
    assert(e.getMessage.contains("no published manifest"))
    val m = StoreManifest.publishInitial(spark, path, schemaOf(path))
    assert(m.gen == 1L && m.files.nonEmpty)
    assert(m.files.forall(f => f.startsWith("cell=") && f.endsWith(".parquet")))
    val got = StoreManifest.read(spark, path, m, m.files)
    assert(got.count() == 40 &&
      got.select("cell").distinct().count() == 4)
  }

  test("publish is optimistic single-writer: a stale expectedGen loses " +
      "loudly, never overwrites") {
    val path = freshStore()
    val m1 = StoreManifest.publishInitial(spark, path, schemaOf(path))
    val m2 = StoreManifest.publish(spark, path, m1.schema, m1.files, m1.gen)
    assert(m2.gen == 2L)
    // a second maintainer that resolved gen 1 and tries to publish gen 2
    val e = intercept[IllegalStateException] {
      StoreManifest.publish(spark, path, m1.schema, Seq.empty, m1.gen)
    }
    assert(e.getMessage.contains("concurrent maintenance"))
    // the loser changed nothing: gen 2 still lists the real files
    assert(StoreManifest.resolve(spark, path, "read").files == m2.files)
  }

  test("retention: files replaced N gens ago are reclaimed exactly when " +
      "their last referencing manifest retires") {
    val path = freshStore()
    val m1 = StoreManifest.publishInitial(spark, path, schemaOf(path))
    val cell0 = m1.filesUnder(Set("cell=0"))
    assert(cell0.nonEmpty)
    def exists(rel: String) =
      new java.io.File(s"$path/$rel").exists()
    // gen 2 drops cell=0 (two generations retained): its files must
    // SURVIVE — a reader that resolved gen 1 mid-flight still reads them
    val m2 = StoreManifest.Handle(spark, path, "cell", Seq("id")).commitSwap(m1,
      StoreManifest.read(spark, path, m1, cell0).filter(lit(false)), Seq(0))
    assert(m2.gen == 2L && m2.filesUnder(Set("cell=0")).isEmpty)
    assert(cell0.forall(exists), "replaced files survive one generation")
    // gen 3 retires gen 1 -> cell0's replaced files are reclaimed
    val m3 = StoreManifest.publish(spark, path, m2.schema, m2.files, m2.gen)
    assert(m3.gen == 3L)
    assert(cell0.forall(f => !exists(f)), "retired files are reclaimed")
    // files still referenced were never touched
    assert(m3.files.forall(exists))
  }

  test("a failed staged move starts no further renames, and says where " +
      "the already-moved files are and what reclaims them") {
    val root = tempDir("graft-manifest-moves-")
    val staging = root.resolve("_staging_x")
    val moves = (0 until 40).map { i =>
      val rel = s"cell=$i/part-$i.parquet"
      val from = staging.resolve(rel)
      Files.createDirectories(from.getParent)
      Files.write(from, Array[Byte](1))
      Files.createDirectories(root.resolve(s"cell=$i"))
      (new Path(from.toUri), new Path(root.resolve(rel).toUri), rel)
    }
    val failing = moves.head._2
    val calls = new java.util.concurrent.atomic.AtomicInteger
    // successful moves are slow, so every move still queued behind the
    // pool's first wave starts after the failure
    val fs = new FilterFileSystem(
        FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)) {
      override def rename(src: Path, dst: Path): Boolean = {
        calls.incrementAndGet()
        dst != failing && { Thread.sleep(100); super.rename(src, dst) }
      }
    }
    val e = intercept[IllegalStateException] {
      StoreManifest.parallelRename(fs, moves, staging.toString)
    }
    assert(calls.get < moves.size,
      s"${calls.get} of ${moves.size} renames ran despite the failure")
    assert(e.getMessage.contains(staging.toString) &&
      e.getMessage.contains("unpublished in live partition dirs") &&
      e.getMessage.contains("vacuum"), e.getMessage)
  }

  test("vacuum deletes only unreferenced debris, never live or retained " +
      "files") {
    val path = freshStore()
    val m1 = StoreManifest.publishInitial(spark, path, schemaOf(path))
    // debris: a staging dir and an orphan in a live cell dir
    val staging = new java.io.File(s"$path/_staging_dead")
    assert(staging.mkdirs())
    val orphan = new java.io.File(s"$path/cell=1/part-orphan.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](7))
    val removed = StoreManifest.vacuum(spark, path)
    assert(removed.exists(_.contains("part-orphan")) &&
      removed.exists(_.contains("_staging_dead")))
    assert(m1.files.forall(f => new java.io.File(s"$path/$f").exists()),
      "every referenced file survives vacuum")
    assert(StoreManifest.read(spark, path, m1, m1.files).count() == 40)
  }

  test("an empty file selection reads as an empty frame with the " +
      "manifest schema (empty store / empty partition subset)") {
    val path = freshStore()
    val m = StoreManifest.publishInitial(spark, path, schemaOf(path))
    val empty = StoreManifest.read(spark, path, m, Seq.empty)
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "cell"))
  }

  test("a TRUNCATED manifest refuses loudly — the footer guards the " +
      "file list, not just the schema line") {
    val path = freshStore()
    val m = StoreManifest.publishInitial(spark, path, schemaOf(path))
    // simulate an out-of-band restore / non-atomic copy losing the tail:
    // schema line intact, file list cut short, footer gone
    val gen1 = new java.io.File(path, f"_manifest.${1L}%020d")
    val lines = new String(java.nio.file.Files.readAllBytes(gen1.toPath),
      "UTF-8").split("\n")
    java.nio.file.Files.write(gen1.toPath,
      lines.take(2).mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(path, f"._manifest.${1L}%020d.crc"))
    val e = intercept[IllegalStateException] {
      StoreManifest.resolve(spark, path, "read")
    }
    assert(e.getMessage.contains("corrupt manifest") &&
      (e.getMessage.contains("footer") || e.getMessage.contains("truncated")),
      e.getMessage)
    assert(m.files.size > 2, "fixture must actually truncate something")
  }

  test("two RACING publishers of the same generation: exactly one wins, " +
      "the loser fails loudly (atomic-link commit, no TOCTOU window)") {
    val path = freshStore()
    val m1 = StoreManifest.publishInitial(spark, path, schemaOf(path))
    val wins = new java.util.concurrent.atomic.AtomicInteger
    val losses = new java.util.concurrent.atomic.AtomicInteger
    val others = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        gate.await()
        try {
          StoreManifest.publish(spark, path, m1.schema, m1.files, m1.gen)
          wins.incrementAndGet(); ()
        } catch {
          case e: IllegalStateException
              if e.getMessage.contains("concurrent maintenance") =>
            losses.incrementAndGet(); ()
          case t: Throwable => others.add(t); ()
        }
      })
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join(30000))
    assert(others.isEmpty, s"unexpected failures: ${others.toArray.mkString(", ")}")
    assert(wins.get() == 1 && losses.get() == 3,
      s"wins=${wins.get()} losses=${losses.get()} — the commit must be " +
        "atomically exclusive")
    // the surviving manifest is intact (footer verifies) and complete
    assert(StoreManifest.resolve(spark, path, "read").files == m1.files)
  }

  test("vacuum reclaims a crashed publish's stranded _manifest_tmp_ file") {
    val path = freshStore()
    StoreManifest.publishInitial(spark, path, schemaOf(path))
    val tmp = new java.io.File(path, "_manifest_tmp_deadbeef")
    java.nio.file.Files.write(tmp.toPath, "half a manifest".getBytes("UTF-8"))
    val removed = StoreManifest.vacuum(spark, path)
    assert(removed.exists(_.contains("_manifest_tmp_deadbeef")),
      removed.mkString(", "))
    assert(!tmp.exists)
  }

  test("age-gated vacuum spares FRESH unreferenced files (a raced-and-" +
      "retrying mutator's in-flight staging) and reclaims old debris") {
    val path = freshStore()
    StoreManifest.publishInitial(spark, path, schemaOf(path))
    val fresh = new java.io.File(s"$path/cell=1/part-inflight.parquet")
    java.nio.file.Files.write(fresh.toPath, Array[Byte](1))
    val old = new java.io.File(s"$path/cell=2/part-crashed.parquet")
    java.nio.file.Files.write(old.toPath, Array[Byte](2))
    assert(old.setLastModified(System.currentTimeMillis() - 3600L * 1000))
    val removed = StoreManifest.vacuum(spark, path, minAgeMs = 15L * 60 * 1000)
    assert(removed.exists(_.contains("part-crashed")) &&
      !removed.exists(_.contains("part-inflight")), removed.mkString(", "))
    assert(fresh.exists && !old.exists)
    // the default (age 0, caller guarantees no concurrent mutation)
    // still reclaims everything
    assert(StoreManifest.vacuum(spark, path)
      .exists(_.contains("part-inflight")))
  }

  test("age-gated vacuum judges a staging dir by its NEWEST CONTENT, not " +
      "the dir's own mtime: a slow staged write older than the gate but " +
      "still producing files is spared") {
    val path = freshStore()
    StoreManifest.publishInitial(spark, path, schemaOf(path))
    val hourAgo = System.currentTimeMillis() - 3600L * 1000
    // a staging dir created an hour ago (dir mtime reflects only its
    // immediate children's creation) whose write is STILL producing:
    // the newest file inside is seconds old
    val slow = new java.io.File(s"$path/_staging_slow/cell=0")
    assert(slow.mkdirs())
    val freshPart = new java.io.File(slow, "part-000.parquet")
    java.nio.file.Files.write(freshPart.toPath, Array[Byte](1))
    assert(slow.setLastModified(hourAgo) &&
      slow.getParentFile.setLastModified(hourAgo))
    // a genuinely crashed staging: dir AND contents old
    val dead = new java.io.File(s"$path/_staging_dead2/cell=0")
    assert(dead.mkdirs())
    val deadPart = new java.io.File(dead, "part-000.parquet")
    java.nio.file.Files.write(deadPart.toPath, Array[Byte](2))
    assert(deadPart.setLastModified(hourAgo) &&
      dead.setLastModified(hourAgo) &&
      dead.getParentFile.setLastModified(hourAgo))
    val removed = StoreManifest.vacuum(spark, path, minAgeMs = 15L * 60 * 1000)
    assert(removed.exists(_.contains("_staging_dead2")) &&
      !removed.exists(_.contains("_staging_slow")), removed.mkString(", "))
    assert(freshPart.exists && !deadPart.exists)
  }

  test("vacuum's listing tolerates a directory deleted MID-listing by a " +
      "concurrent sweep: FileNotFound re-lists (the post-delete tree is " +
      "the truth); persistent racing degrades to an empty sweep, never a " +
      "failure of the caller's committed mutation") {
    val dir = tempDir("tolerant").toFile
    java.nio.file.Files.write(
      new java.io.File(dir, "a.parquet").toPath, Array[Byte](1))
    val conf = new org.apache.hadoop.conf.Configuration()
    // a filesystem whose recursive listing races away `failures` times —
    // the mid-iteration FileNotFoundException a concurrent sweep's
    // directory delete produces
    class RacingFs(var failures: Int)
        extends org.apache.hadoop.fs.RawLocalFileSystem {
      override def listFiles(p: org.apache.hadoop.fs.Path,
          recursive: Boolean): org.apache.hadoop.fs.RemoteIterator[
            org.apache.hadoop.fs.LocatedFileStatus] = {
        if (failures > 0) {
          failures -= 1
          throw new java.io.FileNotFoundException(s"raced away: $p")
        }
        super.listFiles(p, recursive)
      }
    }
    def fs(failures: Int): RacingFs = {
      val f = new RacingFs(failures)
      f.initialize(new java.net.URI("file:///"), conf)
      f
    }
    val root = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
    assert(StoreManifest.collectDataFileStatusesTolerant(fs(1), root, root)
      .map(_._1) == Seq("a.parquet"), "one race: the re-list sees the file")
    assert(StoreManifest.collectDataFileStatusesTolerant(fs(2), root, root)
      .map(_._1) == Seq("a.parquet"), "two races: the third attempt lands")
    assert(StoreManifest.collectDataFileStatusesTolerant(fs(99), root, root)
      .isEmpty, "persistent racing degrades to empty, never throws")
  }

  test("vacuum on a never-written store is a graceful no-op (maintenance " +
      "scheduled alongside replicate must not crash pre-first-batch)") {
    val path = tempDir("graft-manifest-empty-").toString + "/v"
    assert(StoreManifest.vacuum(spark, path) == Seq.empty)
    // and with the directory existing but manifest-less, still a no-op
    assert(new java.io.File(path).mkdirs())
    assert(StoreManifest.vacuum(spark, path) == Seq.empty)
  }

  test("publish refuses a filesystem whose rename cannot carry the " +
      "single-writer commit (overwriting POSIX rename / object stores)") {
    // RawLocalFileSystem is exactly the hazard class: rename(2) silently
    // overwrites an existing destination. Register it under a scheme the
    // allowlist does not know and the commit must refuse LOUDLY.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftraw.impl", classOf[GraftRawTestFs].getName)
    val local = freshStore()
    val path = s"graftraw://$local"
    val e = intercept[UnsupportedOperationException] {
      StoreManifest.publish(spark, path, schemaOf(local), Seq.empty, 0L)
    }
    assert(e.getMessage.contains("not a supported commit backend"),
      e.getMessage)
    // and no half-published artifact survives the refusal
    assert(!new java.io.File(local).listFiles()
      .exists(_.getName.startsWith("_manifest")), "refusal left no debris")
  }

  test("a corrupt manifest refuses loudly with provenance") {
    val path = freshStore()
    StoreManifest.publishInitial(spark, path, schemaOf(path))
    val gen2 = new java.io.File(path,
      f"_manifest.${2L}%020d")
    java.nio.file.Files.write(gen2.toPath,
      "not-a-schema-json\ncell=0/zzz.parquet".getBytes("UTF-8"))
    // the out-of-band write leaves no checksum; resolve must still refuse
    val e = intercept[IllegalStateException] {
      StoreManifest.resolve(spark, path, "read")
    }
    assert(e.getMessage.contains("corrupt manifest"), e.getMessage)
  }
}

/** RawLocalFileSystem re-registered under a scheme the publish allowlist
  * does not know — the stand-in for any backend whose rename silently
  * overwrites (POSIX local, object-store connectors).
  */
class GraftRawTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftraw:///")
}
