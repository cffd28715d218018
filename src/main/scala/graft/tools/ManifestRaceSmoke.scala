package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.sources.StoreManifest

/** Cross-PROCESS single-writer smoke for [[graft.sources.StoreManifest]].
  *
  * The manifest layer's race discipline (exactly one publisher wins a
  * generation, the loser fails loudly, a racing reader never sees a torn
  * version) was proven by racing THREADS in one JVM
  * (ManifestStoreSpec) — but the claim is about FILESYSTEM atomicity
  * (hard-link EEXIST on local, rename-refusal on HDFS), which only a
  * multi-process race actually exercises: one JVM's file-handle cache
  * and memory model can mask a broken commit primitive. This smoke runs
  * each scenario across separate JVMs, the deployment shape of "two
  * maintenance jobs misconfigured onto one store" and "a reader fleet
  * under live maintenance":
  *
  *   - `racer`: two processes barrier on a marker file per lap, then
  *     race `publish` of the SAME next generation — exactly one WIN and
  *     one loud LOSS per lap, across several laps.
  *   - `swapracer`: two processes race full `commitSwap` appends (stage,
  *     move into live dirs, publish). The loser's already-moved files
  *     are invisible garbage: a reader must never see its rows, and
  *     `vacuum` must reclaim exactly them; re-running the loser's swap
  *     afterwards must succeed (the documented recovery).
  *   - `appender`/`scanner`: one process folds append batches while
  *     another scans the store's contents in a loop — every scan must
  *     see complete batches only (seed rows all present, every delta
  *     batch all-or-nothing), the torn-version check cross-process.
  *
  * The store under race is a bare `Handle` (id/cell layout) — the exact
  * seam IvfStore/PqStore/BucketedSnapshotStore share, per the
  * StoreManifest.Handle dedup.
  *
  * Child modes (invoked by ManifestRaceSmokeSpec in child JVMs):
  * `racer path coord tag laps` / `swapracer path coord tag idBase` /
  * `appender path batches idBase` / `scanner path seedRows millis`.
  */
object ManifestRaceSmoke {

  private val Cell = "cell"

  private def session(): SparkSession = {
    val s = GraftSession.builder("4")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def handle(spark: SparkSession, path: String) =
    StoreManifest.Handle(spark, path, Cell, Seq("id"))

  /** A 10-row delta batch `idBase..idBase+9`, cells spread 0-3. */
  private def batch(spark: SparkSession, idBase: Long): DataFrame = {
    import spark.implicits._
    (idBase until idBase + 10L).map(i => (i, (i % 4).toInt))
      .toDF("id", Cell)
  }

  private def awaitBarrier(coord: String, name: String, expect: Int): Unit = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (Option(new java.io.File(coord).list()).getOrElse(Array.empty)
        .count(_.startsWith(name)) < expect) {
      if (System.nanoTime() > deadline)
        sys.error(s"barrier $name never completed in $coord")
      Thread.sleep(10)
    }
  }

  private def mark(coord: String, name: String, tag: String): Unit =
    Files.write(Paths.get(coord, s"$name-$tag"), Array.emptyByteArray)

  private def isLoudLoss(e: Throwable): Boolean =
    e.isInstanceOf[IllegalStateException] &&
      e.getMessage.contains("concurrent maintenance")

  /** Reader staleness under racing maintenance: a scan resolved at gen N
    * whose files a CONCURRENT mutator retired (> retainGens publishes
    * advanced mid-scan) dies with FileNotFound somewhere in the Spark
    * exception chain — loud by design; the recovery is re-resolve+retry.
    */
  private def isStaleRead(e: Throwable): Boolean = {
    var t = e
    var depth = 0
    while (t != null && depth < 12) {
      if (t.isInstanceOf[java.io.FileNotFoundException]) return true
      if (t.getMessage != null && t.getMessage.contains("FileNotFound"))
        return true
      t = t.getCause
      depth += 1
    }
    false
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val path = args(1)
    val spark = session()
    mode match {
      case "racer" =>
        val (coord, tag, laps) = (args(2), args(3), args(4).toInt)
        (0 until laps).foreach { lap =>
          // wait for this lap's base generation, then barrier so both
          // processes attempt the SAME next generation
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (StoreManifest.current(spark, path)
              .map(_.gen).getOrElse(0L) < 1L + lap) {
            if (System.nanoTime() > deadline) sys.error(s"lap $lap never opened")
            Thread.sleep(10)
          }
          val m = StoreManifest.resolve(spark, path, "racer")
          require(m.gen == 1L + lap, s"lap $lap raced ahead: gen ${m.gen}")
          mark(coord, s"ready-$lap", tag)
          awaitBarrier(coord, s"ready-$lap", 2)
          try {
            StoreManifest.publish(spark, path, m.schema, m.files, m.gen)
            println(s"MANIF lap=$lap $tag WIN")
          } catch {
            case e: Throwable if isLoudLoss(e) =>
              println(s"MANIF lap=$lap $tag LOSS")
          }
        }
      case "swapracer" =>
        val (coord, tag, idBase) = (args(2), args(3), args(4).toLong)
        val h = handle(spark, path)
        val m = h.resolve("swapracer")
        mark(coord, "swapready", tag)
        awaitBarrier(coord, "swapready", 2)
        try {
          h.commitSwap(m, batch(spark, idBase), Seq.empty)
          println(s"MANIF swap $tag WIN")
        } catch {
          case e: Throwable if isLoudLoss(e) =>
            println(s"MANIF swap $tag LOSS")
        }
      case "appender" =>
        val (batches, idBase) = (args(2).toInt, args(3).toLong)
        val h = handle(spark, path)
        (0 until batches).foreach { k =>
          val m = h.resolve("appender")
          h.commitSwap(m, batch(spark, idBase + 10L * k), Seq.empty)
          Thread.sleep(100)
        }
        println(s"MANIF appended=$batches")
      case "ivfappender" =>
        // TWO of these run concurrently on one IvfStore: every publish
        // race must be lost LOUDLY, and the documented recovery
        // (re-resolve and retry — appendIdempotent makes the retry safe
        // even against an attempt that actually won) must converge to
        // every batch present exactly once.
        val (tag, batches, idBase) = (args(2), args(3).toInt, args(4).toLong)
        val store = graft.functions.IvfStore.open(spark, path)
        var losses = 0
        (0 until batches).foreach { k =>
          import spark.implicits._
          val delta = (0 until 10).map { i =>
            val id = idBase + 10L * k + i
            (id, Array.tabulate(8)(j => ((id * (j + 3) + j) % 7).toFloat))
          }.toDF("vec_id", "embedding")
          var done = false
          while (!done) {
            try { store.appendIdempotent(delta); done = true }
            catch {
              case e: Throwable if isLoudLoss(e) || isStaleRead(e) =>
                losses += 1
                Thread.sleep(25)
            }
          }
        }
        println(s"MANIF ivf $tag appended=$batches losses=$losses")
      case "bucketrefresher" =>
        // the BucketedSnapshotStore twin of ivfappender: racing refresh
        // folds. Refresh is a semigroup fold (existing ∪ delta,
        // compacted), so the documented retry is idempotent even against
        // an attempt that actually published before dying.
        val (tag, batches, buckets) = (args(2), args(3).toInt, args(4).toInt)
        val store = new graft.randomaccess.BucketedSnapshotStore(
          spark, path, buckets)
        var losses = 0
        (0 until batches).foreach { k =>
          val delta = (0 until 10).map { i =>
            graft.core.StreamElement("gw", s"$tag-k$i", "status",
              s"u-$tag-$k-$i", 0L, 1000L + k,
              s"$tag-v$k".getBytes("UTF-8"),
              delete = false, deleteWildcard = false)
          }
          val ds = spark.createDataset(delta)(
            graft.core.StreamElement.encoder)
          var done = false
          while (!done) {
            try { store.refresh(ds); done = true }
            catch {
              case e: Throwable if isLoudLoss(e) || isStaleRead(e) =>
                losses += 1
                Thread.sleep(25)
            }
          }
        }
        println(s"MANIF bucket $tag refreshed=$batches losses=$losses")
      case "scanner" =>
        val (seedRows, millis) = (args(2).toLong, args(3).toLong)
        val h = handle(spark, path)
        val until = System.nanoTime() + millis * 1000 * 1000
        var scans = 0
        while (System.nanoTime() < until) {
          val m = h.resolve("scanner")
          val ids = h.scan(m).select("id").collect().map(_.getLong(0)).sorted
          val (seed, deltas) = ids.partition(_ < 1000L)
          // completeness: the seed corpus is indivisible, and every delta
          // batch is all-or-nothing — a torn version would show here
          if (seed.toSeq != (0L until seedRows))
            sys.error(s"MANIF scan FAIL gen=${m.gen}: seed rows torn " +
              s"(${seed.length}/$seedRows)")
          deltas.groupBy(i => i / 10 * 10).foreach { case (base, g) =>
            if (g.length != 10)
              sys.error(s"MANIF scan FAIL gen=${m.gen}: batch $base torn " +
                s"(${g.length}/10)")
          }
          scans += 1
        }
        println(s"MANIF scans=$scans OK")
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
