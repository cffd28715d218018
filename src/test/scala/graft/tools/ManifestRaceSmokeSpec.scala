package graft.tools

import java.nio.file.Files

import scala.sys.process.{Process, ProcessLogger}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.StoreManifest

/** Drives [[ManifestRaceSmoke]] across CHILD JVMs — the cross-process
  * proof of the manifest layer's single-writer discipline. The in-JVM
  * races (ManifestStoreSpec) pin the protocol; these pin the COMMIT
  * PRIMITIVE: hard-link EEXIST exclusivity and rename visibility across
  * separate processes, which is what "two maintenance jobs on one store"
  * actually looks like in a deployment.
  */
@org.scalatest.tags.Slow
class ManifestRaceSmokeSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private val SeedRows = 40L

  private def freshStore(): String = {
    val path = Files.createTempDirectory("graft-manifrace-").toString + "/v"
    (0L until SeedRows).map(i => (i, (i % 4).toInt))
      .toDF("id", "cell")
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(path)
    StoreManifest.publishInitial(spark, path,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType))))
    path
  }

  private def child(args: String*): (Process, StringBuilder) = {
    val out = new StringBuilder
    val cmd = Seq(ChildJvm.javaBin) ++ ChildJvm.addOpens ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.ManifestRaceSmoke") ++ args
    val p = Process(cmd).run(ProcessLogger(
      l => out.synchronized { out.append(l).append('\n') }, _ => ()))
    (p, out)
  }

  private def lines(out: StringBuilder): Seq[String] =
    out.synchronized { out.toString }.linesIterator
      .filter(_.startsWith("MANIF")).toSeq

  test("two PROCESSES racing publish of the same generation: exactly one " +
      "wins per lap, the loser fails loudly (cross-JVM link exclusivity)") {
    val path = freshStore()
    val coord = Files.createTempDirectory("graft-manifrace-coord-").toString
    val laps = 4
    val (pa, oa) = child("racer", path, coord, "A", laps.toString)
    val (pb, ob) = child("racer", path, coord, "B", laps.toString)
    assert(pa.exitValue() == 0, s"racer A failed:\n$oa")
    assert(pb.exitValue() == 0, s"racer B failed:\n$ob")
    val all = lines(oa) ++ lines(ob)
    (0 until laps).foreach { lap =>
      val ofLap = all.filter(_.contains(s"lap=$lap "))
      assert(ofLap.count(_.endsWith("WIN")) == 1 &&
        ofLap.count(_.endsWith("LOSS")) == 1,
        s"lap $lap must have exactly one winner across processes: $ofLap")
    }
    val m = StoreManifest.resolve(spark, path, "spec")
    assert(m.gen == 1L + laps, s"gen ${m.gen}")
    assert(StoreManifest.read(spark, path, m, m.files).count() == SeedRows,
      "the surviving manifest chain serves the full corpus")
  }

  test("two PROCESSES racing commitSwap: loser's moved files are never " +
      "readable, vacuum reclaims them, re-running the loser converges") {
    val path = freshStore()
    val coord = Files.createTempDirectory("graft-manifrace-coord-").toString
    val (pa, oa) = child("swapracer", path, coord, "A", "1000")
    val (pb, ob) = child("swapracer", path, coord, "B", "2000")
    assert(pa.exitValue() == 0, s"swapracer A failed:\n$oa")
    assert(pb.exitValue() == 0, s"swapracer B failed:\n$ob")
    val all = lines(oa) ++ lines(ob)
    assert(all.count(_.endsWith("WIN")) == 1 &&
      all.count(_.endsWith("LOSS")) == 1,
      s"exactly one commitSwap may win: $all")
    val winnerBase =
      if (lines(oa).exists(_.endsWith("WIN"))) 1000L else 2000L
    val loserBase = 3000L - winnerBase
    val h = StoreManifest.Handle(spark, path, "cell", Seq("id"))
    val m = h.resolve("spec")
    val ids = h.scan(m).select("id").as[Long].collect().toSet
    assert(ids.size == SeedRows + 10 &&
      (winnerBase until winnerBase + 10).forall(ids) &&
      !(loserBase until loserBase + 10).exists(ids),
      "only the winner's batch is readable")
    // the loser moved staged files into live dirs before losing the
    // publish — invisible garbage that vacuum must reclaim precisely
    val removed = StoreManifest.vacuum(spark, path)
    assert(removed.exists(_.endsWith(".parquet")),
      s"vacuum must reclaim the loser's moved files: $removed")
    val m2 = h.resolve("spec")
    assert(h.scan(m2).select("id").as[Long].collect().toSet == ids,
      "vacuum never touches readable rows")
    // documented recovery: re-run the loser's swap — now it wins
    h.commitSwap(m2, (loserBase until loserBase + 10L).toDF("id")
      .withColumn("cell", (col("id") % 4).cast("int")), Seq.empty)
    val after = h.scan(h.resolve("spec")).select("id").as[Long].collect().toSet
    assert(after.size == SeedRows + 20 &&
      (loserBase until loserBase + 10).forall(after))
  }

  test("two PROCESSES racing appendIdempotent on one IvfStore: losses " +
      "are loud, the documented retry converges to every batch exactly " +
      "once, vacuum reclaims any raced debris") {
    import org.apache.spark.sql.functions.col
    import SparkSpec.spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val path = Files.createTempDirectory("graft-manifrace-ivf-")
      .toString + "/v"
    val seed = (0L until 100L).map(id =>
      (id, Array.tabulate(8)(j => ((id * (j + 3) + j) % 7).toFloat)))
      .toDF("vec_id", "embedding")
    val centroids = graft.functions.Ivf.train(seed, nCentroids = 4,
      maxIter = 5)
    new graft.functions.IvfStore(spark, path, centroids).write(seed)
    val batches = 8
    val (pa, oa) = child("ivfappender", path, "A", batches.toString, "1000")
    val (pb, ob) = child("ivfappender", path, "B", batches.toString, "5000")
    assert(pa.exitValue() == 0, s"ivfappender A failed:\n$oa")
    assert(pb.exitValue() == 0, s"ivfappender B failed:\n$ob")
    val all = lines(oa) ++ lines(ob)
    assert(all.count(_.contains(s"appended=$batches")) == 2, all.mkString("\n"))
    val losses = all.flatMap(_.split(' ').find(_.startsWith("losses="))
      .map(_.stripPrefix("losses=").toInt)).sum
    info(s"raced publish losses across the two processes: $losses")
    // convergence: every batch of both children present exactly once,
    // no matter how many publish races were lost and retried
    val store = graft.functions.IvfStore.open(spark, path)
    val ids = store.contents().select("vec_id").as[Long].collect().toSeq
    assert(ids.size == ids.distinct.size, "no vector may appear twice")
    assert(ids.size == 100 + 2 * 10 * batches,
      s"expected all batches exactly once, got ${ids.size} rows")
    (0 until batches).foreach { k =>
      assert((0 until 10).forall(i => ids.contains(1000L + 10 * k + i)) &&
        (0 until 10).forall(i => ids.contains(5000L + 10 * k + i)),
        s"batch $k incomplete")
    }
    // raced losers moved files into live dirs before losing — reclaim
    // them (parent is now the only mutator, so age 0 is legitimate)
    store.vacuum()
    val after = store.contents()
    assert(after.count() == 100 + 2 * 10 * batches,
      "vacuum never touches readable rows")
    // and the store still answers correctly after the melee
    val got = store.searchTopK(
      seed.filter(col("vec_id") === 0L), k = 1, nProbe = 4)
    assert(got.collect().length == 1)
  }

  test("two PROCESSES racing refresh folds on one BucketedSnapshotStore: " +
      "retries converge to the last-writer state, vacuum is safe after") {
    val path = Files.createTempDirectory("graft-manifrace-bucket-")
      .toString + "/v"
    val store = new graft.randomaccess.BucketedSnapshotStore(spark, path,
      buckets = 4) // tiny bucket space => the two processes MUST collide
    val seed = (1 to 5).map(i =>
      graft.core.StreamElement("gw", s"seed-$i", "status", s"u-seed-$i",
        0L, 1L, s"s$i".getBytes("UTF-8"),
        delete = false, deleteWildcard = false))
    store.write(spark.createDataset(seed)(graft.core.StreamElement.encoder))
    val batches = 8
    val (pa, oa) = child("bucketrefresher", path, "A", batches.toString, "4")
    val (pb, ob) = child("bucketrefresher", path, "B", batches.toString, "4")
    assert(pa.exitValue() == 0, s"bucketrefresher A failed:\n$oa")
    assert(pb.exitValue() == 0, s"bucketrefresher B failed:\n$ob")
    val all = lines(oa) ++ lines(ob)
    assert(all.count(_.contains(s"refreshed=$batches")) == 2,
      all.mkString("\n"))
    val losses = all.flatMap(_.split(' ').find(_.startsWith("losses="))
      .map(_.stripPrefix("losses=").toInt)).sum
    info(s"raced refresh losses across the two processes: $losses")
    // last-writer convergence: each key's final cell is its LAST batch's
    // value, no matter which process's publishes got raced and retried
    Seq("A", "B").foreach { tag =>
      (0 until 10).foreach { i =>
        val got = store.get(s"$tag-k$i", "status")
          .getOrElse(fail(s"$tag-k$i missing"))
        assert(new String(got.value, "UTF-8") == s"$tag-v${batches - 1}" &&
          got.stamp == 1000L + batches - 1, s"$tag-k$i: $got")
      }
    }
    assert(store.contents().count() == 5 + 20,
      "seed cells + one live cell per key, nothing duplicated")
    store.vacuum()
    assert(store.contents().count() == 5 + 20,
      "vacuum never touches readable cells")
  }

  test("a reading PROCESS under live maintenance by another process " +
      "never sees a torn version (complete batches only)") {
    val path = freshStore()
    val batches = 12
    val (ps, os) = child("scanner", path, SeedRows.toString, "6000")
    val (pa, oa) = child("appender", path, batches.toString, "1000")
    assert(pa.exitValue() == 0, s"appender failed:\n$oa")
    assert(ps.exitValue() == 0, s"scanner failed:\n$os")
    assert(lines(oa).exists(_.contains(s"appended=$batches")), oa.toString)
    val scanLine = lines(os).find(_.startsWith("MANIF scans="))
      .getOrElse(fail(s"no scan summary:\n$os"))
    val scans = scanLine.stripPrefix("MANIF scans=").stripSuffix(" OK").toInt
    assert(scanLine.endsWith("OK") && scans >= 3,
      s"scanner must complete several clean scans: $scanLine")
    val m = StoreManifest.resolve(spark, path, "spec")
    assert(StoreManifest.read(spark, path, m, m.files).count() ==
      SeedRows + 10L * batches)
  }
}
