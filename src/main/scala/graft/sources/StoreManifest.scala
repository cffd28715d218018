package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{DataType, StructType}

/** Generation-numbered file manifests for the partition-directory serving
  * stores ([[graft.functions.IvfStore]], [[graft.functions.PqStore]],
  * [[graft.functions.PostingsStore]],
  * [[graft.randomaccess.BucketedSnapshotStore]]) — the version-pointer
  * read path that makes staged maintenance safe under concurrent reads,
  * and the one mutation protocol those stores share ([[Handle]]).
  *
  * The r13 staged swap renamed live directories in place, which left a
  * window where a reader listing files BETWEEN a cell's two renames
  * silently missed that cell's rows. Here the manifest is the single
  * source of truth: readers never list directories at all — they resolve
  * the highest `_manifest.N` once per query and scan exactly its file
  * list. A mutation stages new files, MOVES them into the live layout
  * under their (job-unique) names, then publishes manifest N+1 in one
  * atomic rename; until that instant every reader resolves N and sees the
  * complete old version. Replaced files outlive their manifest by
  * [[RetainGens]] generations, so a reader racing one maintenance batch
  * still reads its resolved version COMPLETELY; a reader older than the
  * retention window fails LOUDLY (FileNotFound) — never silently short.
  *
  * Crash safety is free: nothing a mutation does before its publish
  * rename is visible to any reader (staging dirs are `_`-prefixed,
  * moved-but-unpublished files are not in any manifest), so a crash at
  * ANY point leaves the store serving its last published version with
  * some unreferenced garbage — reclaimed by [[vacuum]], never by a
  * reader-visible repair step. There is no "interrupted swap" refusal
  * state anymore; availability survives a dead maintainer.
  *
  * The mutation protocol ([[Handle]]): a store binds its path, partition
  * column and within-partition sort, and every mutation it runs is one
  * of the Handle's sequences on top of ONE resolved version `m`:
  *   - `write`: forced-static bulk overwrite, side files, generation 1;
  *   - `appendNew`: pin the delta, refuse duplicate keys, anti-join
  *     against the keys the store already holds, one pure-append swap —
  *     the idempotent sink a replayed micro-batch converges through;
  *   - `upsert`: the same guard, then swap the partitions that hold a
  *     delta key or receive a delta row, replacement = survivors + delta;
  *   - `rewrite`: swap only the partitions holding a matched row;
  *   - `compact`: swap only partitions fragmented past a file count.
  * Each ends in `commitSwap`, which lays the rows out (cluster by the
  * partition column, sort within), stages, moves and publishes. A store
  * keeps only its own projection, validation and query path, and
  * [[replicate]] turns any of these folds into an epoch-replayable
  * streaming sink.
  *
  * Supported commit backends: LocalFileSystem (commit = hard link —
  * atomic EEXIST refusal) and the HDFS rename-refuses-destination family
  * (`hdfs`/`viewfs`/`webhdfs`/`swebhdfs`/`ofs`/`o3fs`). Any other scheme
  * — RawLocalFileSystem's overwriting POSIX rename, object-store
  * connectors whose rename is copy+delete — is REFUSED at publish time:
  * on those a racing pair of publishers could both "succeed" and
  * silently lose a manifest. An S3-class backend needs a
  * conditional-put commit primitive before it can be added to the list.
  *
  * Scale: a manifest is one line per data file — metadata-proportional,
  * O(corpus files) text once per mutation, while the data moved stays
  * O(delta). At 100 TB / 128 MB files that is ~1M lines (~65 MB), the
  * same order as the file listing any engine must hold to plan a scan.
  * MEASURED at exactly that shape (ManifestScaleSpec, r16): resolve
  * ~0.26 s, partition pruning ~0.1 s, republish ~0.2 s — driver-local
  * text I/O, far below the distributed LIST job it replaces, so the
  * manifest stays unsharded; the per-partition sharding escape hatch
  * remains the fallback if a deployment's mutation cadence ever makes
  * the O(files) rewrite dominate.
  */
private[graft] object StoreManifest {

  /** One published store version: its generation, the read schema
    * (partition column included — empty stores stay readable), and the
    * data files as store-relative paths (`cell=3/part-...parquet`).
    */
  final case class Manifest(gen: Long, schema: StructType, files: Seq[String]) {
    def filesUnder(dirs: Set[String]): Seq[String] =
      files.filter(f => dirs.contains(dirOf(f)))
  }

  private def dirOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  private val ManifestPrefix = "_manifest."

  /** Filesystems whose `rename` atomically REFUSES an existing
    * destination (returns false) — the HDFS family contract
    * (FileSystem.rename's documented semantics there). POSIX rename
    * (RawLocalFileSystem) silently overwrites, and most object-store
    * connectors emulate rename as copy+delete — neither can carry the
    * single-writer commit, so [[publish]] refuses schemes outside this
    * list (LocalFileSystem commits via hard link instead).
    */
  private val RenameRefusingSchemes =
    Set("hdfs", "viewfs", "webhdfs", "swebhdfs", "ofs", "o3fs")

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(path: String, gen: Long): Path =
    new Path(path, f"$ManifestPrefix$gen%020d")

  private def listGens(fs: FileSystem, path: String): Seq[Long] = {
    val p = new Path(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(ManifestPrefix))
      .map(_.stripPrefix(ManifestPrefix).toLong)
      .sorted
  }

  /** The store's current version, if any manifest was ever published. */
  def current(spark: SparkSession, path: String): Option[Manifest] = {
    val fs = fsOf(spark, path)
    listGens(fs, path).lastOption.map(g => load(fs, path, g))
  }

  /** [[current]] or a loud refusal naming the fix — maintenance and reads
    * of a manifest-less path must not guess at a directory listing.
    */
  def resolve(spark: SparkSession, path: String, op: String): Manifest =
    current(spark, path).getOrElse(throw new IllegalStateException(
      s"$op: no published manifest at $path — not a manifest store " +
        "(or written by a pre-manifest version); rebuild with write()"))

  /** Footer sentinel: `#end <count>` as the manifest's last line. A file
    * list with no integrity mark would accept a TRUNCATED manifest (an
    * out-of-band restore, a non-atomic copy on a checksum-less
    * filesystem) and silently serve a partial corpus — the exact failure
    * mode this layer exists to make impossible.
    */
  private def footer(n: Int): String = s"#end $n"

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def writeText(fs: FileSystem, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def load(fs: FileSystem, path: String, gen: Long): Manifest = {
    val lines = readText(fs, manifestPath(path, gen)).split("\n")
    // the manifest IS the store's read path: corrupt metadata must refuse
    // with provenance, not serve a partial file list
    def corrupt(why: String, cause: Exception = null) =
      throw new IllegalStateException(
        s"corrupt manifest ${manifestPath(path, gen)} ($why) — the file is " +
          "the store's read path; restore it or rebuild with write()", cause)
    val schema =
      try DataType.fromJson(lines.head).asInstanceOf[StructType]
      catch { case e: Exception => corrupt("unparseable schema line", e) }
    val files = lines.tail.filter(_.nonEmpty).toSeq
    if (files.isEmpty || !files.last.startsWith("#end "))
      corrupt("missing integrity footer — truncated file list")
    val body = files.dropRight(1)
    if (files.last != footer(body.size))
      corrupt(s"footer ${files.last} does not match ${body.size} listed files")
    Manifest(gen, schema, body)
  }

  /** Generations a replaced file outlives the manifest that dropped it. */
  private val RetainGens = 2

  /** Publish `files` as generation `expectedGen + 1` — one atomic commit
    * flips every future reader to the new version, and two concurrent
    * maintainers cannot both succeed: the loser fails LOUDLY here
    * (single-writer is ENFORCED, not assumed). Old manifests beyond
    * [[RetainGens]] are retired and the data files only they referenced
    * are deleted — which is what bounds how stale a still-running reader
    * can be before failing loudly.
    *
    * Commit mechanics by filesystem: a bare rename cannot enforce the
    * exclusivity — POSIX rename(2) (Hadoop RawLocalFileSystem) silently
    * OVERWRITES an existing destination, so an exists-check + rename is
    * a TOCTOU hole where the second of two racing publishers replaces
    * the first's manifest. On local paths the commit is therefore a
    * HARD LINK of the fully-written temp file to the final name —
    * link(2) fails atomically with EEXIST if the target appeared in
    * between. On HDFS-like filesystems rename itself refuses an
    * existing destination (returns false), which the boolean check
    * turns into the same loud refusal.
    */
  def publish(spark: SparkSession, path: String, schema: StructType,
      files: Seq[String], expectedGen: Long): Manifest = {
    val fs = fsOf(spark, path)
    val gen = expectedGen + 1
    val target = manifestPath(path, gen)
    def lost(how: String) = throw new IllegalStateException(
      s"concurrent maintenance detected at $path: publishing manifest " +
        s"gen $gen $how — this store is single-writer; re-resolve and retry")
    if (fs.exists(target)) lost("found the generation already published")
    val tmp = new Path(path, s"_manifest_tmp_${UUID.randomUUID()}")
    val sorted = files.sorted
    val body = ((schema.json +: sorted) :+ footer(sorted.size)).mkString("\n")
    writeText(fs, tmp, body, overwrite = false)
    val scheme = Option(target.toUri.getScheme).getOrElse("file")
    val isLocal = scheme == "file" &&
      fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem]
    // the commit primitive is only exclusive on backends we can name: a
    // silently-overwriting rename (RawLocalFileSystem, most object
    // stores) would let two racing publishers both "succeed" and lose a
    // manifest — refuse such a backend LOUDLY instead of publishing on it
    if (!isLocal && !RenameRefusingSchemes.contains(scheme)) {
      fs.delete(tmp, false)
      throw new UnsupportedOperationException(
        s"StoreManifest.publish: filesystem scheme '$scheme' " +
          s"(${fs.getClass.getName}) is not a supported commit backend — " +
          "single-writer publish needs an atomic no-overwrite commit " +
          "(hard link on LocalFileSystem; rename-refuses-destination on " +
          s"${RenameRefusingSchemes.mkString("/")}). Object stores need a " +
          "conditional-put commit primitive this layer does not implement.")
    }
    if (isLocal) {
      val raw = fs.asInstanceOf[org.apache.hadoop.fs.LocalFileSystem]
        .pathToFile _
      try java.nio.file.Files.createLink(raw(target).toPath, raw(tmp).toPath)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false)
          lost("lost the atomic-link race")
      }
      fs.delete(tmp, false)
    } else if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      lost("lost the rename race (filesystem refused the destination)")
    }
    // retire generations beyond the retention window and reclaim the data
    // files ONLY they referenced (precise set difference — no directory
    // listing, so unrelated garbage is never touched here; see vacuum).
    // The just-published gen's files are already in hand — never re-read
    val gens = listGens(fs, path)
    val (retire, keep) = gens.partition(_ <= gen - RetainGens)
    if (retire.nonEmpty) {
      val kept = (keep.filterNot(_ == gen).map(g => load(fs, path, g).files)
        :+ sorted).flatten.toSet
      retire.foreach { g =>
        val m = load(fs, path, g)
        m.files.filterNot(kept).foreach(f =>
          fs.delete(new Path(path, f), false))
        fs.delete(manifestPath(path, g), false)
      }
    }
    Manifest(gen, schema, sorted)
  }

  /** Scan exactly `files` (store-relative) with the manifest's schema —
    * partition-column values come from the `cell=N`/`kb=N` path segments
    * via basePath. An empty selection is a legitimately empty store (or
    * an empty partition subset) and yields an empty frame, schema intact.
    */
  def read(spark: SparkSession, path: String, m: Manifest,
      files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else
      spark.read.schema(m.schema).option("basePath", path)
        .parquet(files.map(f => s"$path/$f"): _*)

  /** Staged-move fan-out: renames run on a bounded per-call pool (the
    * moves are independent and invisible until the publish). FAIL-FAST:
    * after the first failed move no further rename starts — the commit is
    * already lost, and every later move would only strand one more file.
    * The store still serves its previous version; the files moved before
    * the failure sit unpublished in live partition dirs until [[vacuum]]
    * reclaims them (with the staging dir). Pool size caps driver-side FS
    * concurrency; object-store connectors throttle well above 16
    * concurrent metadata calls.
    */
  private[sources] def parallelRename(fs: FileSystem,
      moves: Seq[(Path, Path, String)], staging: String): Seq[String] = {
    if (moves.isEmpty) return Seq.empty
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def fail(from: Path, to: Path, why: String, cause: Throwable): Nothing = {
      failed.set(true)
      throw new IllegalStateException(
        s"staging move $from -> $to failed ($why); no further moves were " +
          "started and the store still serves its previous version. Files " +
          s"already moved out of $staging sit unpublished in live " +
          "partition dirs — vacuum() reclaims them and the staging dir; " +
          "then retry", cause)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, moves.size))
    try {
      import scala.jdk.CollectionConverters._
      val tasks = moves.map { case (from, to, rel) =>
        new java.util.concurrent.Callable[String] {
          override def call(): String =
            if (failed.get) null
            else {
              val ok =
                try fs.rename(from, to)
                catch { case e: Exception => fail(from, to, e.toString, e) }
              if (!ok) fail(from, to, "filesystem returned false", null)
              rel
            }
        }
      }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally pool.shutdown()
  }

  /** Generation cadence of [[Handle.commitSwap]]'s opportunistic [[vacuum]]. */
  private val VacuumEvery = 16L

  /** Age gate of the opportunistic vacuum — older than any sane
    * staging-to-publish window, far younger than a forgotten crash.
    */
  private val AutoVacuumMinAgeMs = 15L * 60 * 1000

  /** Adopt the files a fresh bulk `write` (mode=overwrite) just produced
    * as generation 1 — the only place a directory listing decides a
    * manifest, valid exactly because overwrite emptied the directory
    * first.
    */
  def publishInitial(spark: SparkSession, path: String,
      schema: StructType): Manifest = {
    val fs = fsOf(spark, path)
    val files = collectDataFiles(fs, new Path(path), new Path(path))
    publish(spark, path, schema, files, expectedGen = 0L)
  }

  private def collectDataFiles(fs: FileSystem, root: Path,
      base: Path): Seq[String] =
    collectDataFileStatuses(fs, root, base).map(_._1)

  /** Race-tolerant listing for [[vacuum]] ONLY: the recursive listing's
    * iterator throws FileNotFoundException when a CONCURRENT sweep
    * deletes a directory it queued but hasn't expanded — for vacuum
    * that must read as "those files are already gone", so re-list (the
    * post-delete tree is the truth) and, if the race persists, degrade
    * to an empty sweep rather than fail the caller's already-committed
    * mutation. Never use this for publish listings: an incomplete
    * publish listing would silently drop live files from the manifest.
    */
  private[sources] def collectDataFileStatusesTolerant(fs: FileSystem, root: Path,
      base: Path, attempts: Int = 3): Seq[(String, org.apache.hadoop.fs.FileStatus)] =
    try collectDataFileStatuses(fs, root, base)
    catch {
      case _: java.io.FileNotFoundException =>
        if (attempts > 1) collectDataFileStatusesTolerant(fs, root, base, attempts - 1)
        else Seq.empty
    }

  /** Relative path + the listing's own [[FileStatus]] per data file —
    * vacuum filters ages off THESE instead of re-statting per file,
    * because a file another sweep reclaimed between list and stat must
    * read as already-gone, not throw.
    */
  private def collectDataFileStatuses(fs: FileSystem, root: Path,
      base: Path): Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    if (!fs.exists(root)) return Seq.empty
    val out = Seq.newBuilder[(String, org.apache.hadoop.fs.FileStatus)]
    val it = fs.listFiles(root, true)
    val baseUri = base.toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val s = it.next()
      val p = s.getPath.toUri.getPath
      val name = s.getPath.getName
      if (s.isFile && name.endsWith(".parquet") && !name.startsWith("_") &&
          !name.startsWith("."))
        out += ((p.stripPrefix(baseUri + "/"), s))
    }
    out.result().filterNot(_._1.split('/').exists(seg =>
      seg.startsWith("_") || seg.startsWith(".")))
  }

  /** Per-store binding of (path, partition column, within-partition
    * sort): the read path and the ONE mutation protocol every manifest
    * store shares (see the object doc). A protocol fix lands here once;
    * the stores keep only their projection, validation and queries.
    */
  final case class Handle(spark: SparkSession, path: String,
      partitionCol: String, sortBy: Seq[String]) {
    import org.apache.spark.sql.functions._

    def current(): Option[Manifest] = StoreManifest.current(spark, path)

    def resolve(op: String): Manifest = StoreManifest.resolve(spark, path, op)

    /** `cell=3`-style directory names for a partition-value subset. */
    private def dirs(values: Seq[Any]): Set[String] =
      values.map(v => s"$partitionCol=$v").toSet

    /** Scan of version `m`, optionally pruned to a partition-value
      * subset at the manifest (file-list) layer.
      */
    def scan(m: Manifest, parts: Option[Seq[Any]] = None): DataFrame = {
      val files = parts match {
        case Some(vs) => m.filesUnder(dirs(vs))
        case None => m.files
      }
      StoreManifest.read(spark, path, m, files)
    }

    /** The store's physical layout: one shuffle clusters each partition
      * value into one task, sorted within by (partition, sortBy), so a
      * partition dir gains one file per write, row groups prunable on
      * the sort key.
      */
    private def laidOut(rows: DataFrame): DataFrame =
      rows.repartition(col(partitionCol))
        .sortWithinPartitions((partitionCol +: sortBy).map(col): _*)

    private def partValues(rows: DataFrame): Seq[String] =
      rows.select(partitionCol).distinct().collect()
        .map(_.get(0).toString).toSeq

    /** Build (or fully rebuild) the store from `rows`, write the side
      * files, and publish generation 1 with the read schema's partition
      * column typed as its path segment parses back (`partitionType`).
      * The overwrite is FORCED static: under a session's dynamic
      * partitionOverwriteMode a rebuild would keep untouched partitions'
      * old files AND old manifests whose files the overwrite deleted —
      * two corpora merged, readers FileNotFound mid-scan, and a
      * generation collision at publish. Side files land before the
      * publish, so a published store always has them.
      */
    def write(rows: DataFrame, partitionType: DataType,
        sideFiles: (String, String)*): Unit = {
      laidOut(rows).write.partitionBy(partitionCol).mode("overwrite")
        .option("partitionOverwriteMode", "static").parquet(path)
      sideFiles.foreach { case (name, text) =>
        writeText(fsOf(spark, path), new Path(path, name), text, overwrite = true)
      }
      publishInitial(StructType(rows.schema.fields.map { f =>
        if (f.name == partitionCol) f.copy(dataType = partitionType) else f
      }))
      ()
    }

    /** A side file's text (`_quantizer`, `_codebooks`, `_layout`), or None
      * when absent. The caller owns its format and its loud refusal.
      */
    def readSide(name: String): Option[String] = {
      val p = new Path(path, name)
      val fs = fsOf(spark, path)
      if (fs.exists(p)) Some(readText(fs, p)) else None
    }

    /** `rows` must carry each `key` at most once; returns the row count.
      * Two rows for one key is a data error, and silently keeping one
      * would be layout-dependent.
      */
    private def requireUniqueKeys(op: String, key: String,
        rows: DataFrame): Long = {
      val Array(n, d) = rows.agg(count(lit(1)), countDistinct(col(key)))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      require(n == d, s"$op: delta carries ${n - d} duplicate ${key}s — " +
        s"two rows for one $key is a data error")
      n
    }

    /** Idempotent append: file the rows of `pinned` whose `key` the store
      * does not hold yet (`existing(pinned)` lists the held keys), as
      * `build(fresh)`, in one pure-append swap. `pinned` is persisted for
      * the whole mutation, so the guard and the committed write see ONE
      * row set (a non-deterministic source re-evaluated per action could
      * pass the guard with one set and commit another) and its
      * projection runs once. A replayed delta converges: its keys are
      * dropped even when a re-offered row would land in another
      * partition. A fully-replayed delta publishes an identical file
      * list — cheaper than an emptiness check on every append.
      */
    def appendNew(m: Manifest, op: String, key: String, pinned: DataFrame,
        existing: DataFrame => DataFrame,
        build: DataFrame => DataFrame): Unit = {
      val rows = pinned.persist()
      try {
        if (requireUniqueKeys(op, key, rows) > 0) {
          val fresh = rows.join(existing(rows), Seq(key), "left_anti")
          commitSwap(m, build(fresh), Seq.empty)
        }
      } finally { rows.unpersist(); () }
    }

    /** Replace every stored row whose `key` appears in `projected` and
      * file the rest as new, in ONE generation: the swap set is the
      * partitions holding a matched key plus those the delta files into,
      * the replacement their survivors plus the delta. A crash leaves the
      * full old version or the full new one — never "keys removed,
      * replacements not yet filed". The guard runs over the persisted
      * projection first, so every refusal fires before anything is
      * staged.
      */
    def upsert(m: Manifest, op: String, key: String,
        projected: DataFrame): Unit = {
      val rows = projected.persist()
      try {
        if (requireUniqueKeys(op, key, rows) > 0) {
          val keys = rows.select(key)
          val touched = (partValues(scan(m).join(keys, Seq(key), "left_semi"))
            ++ partValues(rows)).distinct
          commitSwap(m, scan(m, Some(touched))
            .join(keys, Seq(key), "left_anti").unionByName(rows), touched)
        }
      } finally { rows.unpersist(); () }
    }

    /** Rewrite only the partitions where `matched(scan)` has a row,
      * replacing each with `keep(its rows)`; partitions left empty
      * disappear from the manifest.
      */
    def rewrite(m: Manifest, matched: DataFrame => DataFrame,
        keep: DataFrame => DataFrame): Unit = {
      val touched = partValues(matched(scan(m)))
      if (touched.nonEmpty) commitSwap(m, keep(scan(m, Some(touched))), touched)
    }

    /** Rewrite every partition holding more than `maxFilesPerDir` files
      * into a fresh file set — read off the manifest, contents unchanged.
      */
    def compact(m: Manifest, maxFilesPerDir: Int): Unit = {
      val frag = fragmented(m, maxFilesPerDir)
      if (frag.nonEmpty) commitSwap(m, scan(m, Some(frag)), frag)
    }

    /** Replace `swapParts`' contents with `replacement` (empty = pure
      * append) on top of version `m`: lay the rows out, stage them, move
      * the files into the live layout and publish new manifest = `m` −
      * swapParts' files + staged files. `m` is the version the caller
      * resolved for this mutation — a manifest parse is O(files) text,
      * the dominant metadata cost of a small mutation at serving scale.
      */
    def commitSwap(m: Manifest, replacement: DataFrame,
        swapParts: Seq[Any]): Manifest = {
      val fs = fsOf(spark, path)
      val staging = s"${path}/_staging_${UUID.randomUUID()}"
      laidOut(replacement).write.partitionBy(partitionCol).mode("overwrite")
        .parquet(staging)
      // move the staged data files into their live partition dirs under
      // their job-unique names; nothing here is reader-visible until the
      // publish. BATCHED (optimization r17, guide §6 I/O): one mkdirs per
      // distinct partition dir instead of one per file, and the renames —
      // independent of each other by construction (job-unique names, all
      // invisible until the publish) — fan out over a bounded driver pool.
      // Each Hadoop-FS metadata call costs ~10 ms even on a local
      // filesystem (and far more on an object store), so the serial
      // per-file mkdirs+rename loop was 2 × files × RPC on the driver
      // critical path of every store commit.
      val staged = collectDataFiles(fs, new Path(staging), new Path(staging))
      staged.map(dirOf).distinct.foreach(d => fs.mkdirs(new Path(s"$path/$d")))
      val moved = parallelRename(fs, staged.map(rel =>
        (new Path(s"$staging/$rel"), new Path(s"$path/$rel"), rel)), staging)
      fs.delete(new Path(staging), true)
      val swapDirs = dirs(swapParts)
      val kept = m.files.filterNot(f => swapDirs.contains(dirOf(f)))
      val published = publish(spark, path, m.schema, kept ++ moved, m.gen)
      // opportunistic debris reclamation: a mutation that crashed after its
      // staging moves strands files no manifest references, and nothing
      // else in the maintenance flow would ever delete them — so the
      // writer sweeps on a fixed generation cadence. AGE-GATED: the
      // single-writer discipline is enforced by the PUBLISH, which means a
      // raced loser legitimately retries — for a short window two mutators
      // run concurrently, and an age-0 sweep here could reclaim the
      // other's moved-but-not-yet-published files out from under its
      // publish. Minutes-old unreferenced files are crash debris; seconds-
      // old ones may be an in-flight retry. (The manual [[vacuum]] keeps
      // age 0 under its stronger "never concurrent with any mutation"
      // contract.)
      if (published.gen % VacuumEvery == 0)
        StoreManifest.vacuum(spark, path, minAgeMs = AutoVacuumMinAgeMs)
      published
    }

    /** Partition values whose directories hold more than
      * `maxFilesPerDir` files — read straight off the manifest.
      */
    private def fragmented(m: Manifest, maxFilesPerDir: Int): Seq[String] =
      m.files.groupBy(dirOf)
        .collect { case (d, fs) if d.startsWith(partitionCol + "=") &&
            fs.size > maxFilesPerDir =>
          d.stripPrefix(partitionCol + "=") }
        .toSeq.sorted

    def publishInitial(schema: StructType): Manifest =
      StoreManifest.publishInitial(spark, path, schema)

    def vacuum(): Seq[String] = StoreManifest.vacuum(spark, path)
  }

  /** Maintain a store from a stream: every micro-batch is one `fold`
    * (an idempotent append or an order-insensitive refresh), so replay
    * of an epoch after a checkpoint restart converges instead of
    * duplicating. The caller `.start()`s the returned writer.
    */
  def replicate[T](stream: Dataset[T], checkpoint: String)(
      fold: Dataset[T] => Unit): DataStreamWriter[T] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[T], _: Long) => fold(batch) }

  /** Reclaim files no retained manifest references — the garbage a
    * CRASHED mutation strands (staging dirs, moved-but-unpublished
    * files, a publish's orphaned `_manifest_tmp_*`). At `minAgeMs = 0`
    * (the default) the caller asserts NO mutation is concurrently in
    * flight; a positive `minAgeMs` spares unreferenced files younger
    * than the gate, which is what lets [[Handle.commitSwap]]'s opportunistic
    * sweep coexist with a raced-and-retrying second mutator. Returns
    * the deleted paths.
    */
  def vacuum(spark: SparkSession, path: String,
      minAgeMs: Long = 0L): Seq[String] = {
    val fs = fsOf(spark, path)
    val gens = listGens(fs, path)
    // a never-written store is a graceful no-op (matching
    // expireTombstones in the periodic-maintenance flow): nothing is
    // provably garbage before the first publish, and a maintenance job
    // scheduled alongside replicate must not crash before the first
    // micro-batch lands
    if (gens.isEmpty) return Seq.empty
    val live = gens.flatMap(g => load(fs, path, g).files).toSet
    val p = new Path(path)
    val cutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(st: org.apache.hadoop.fs.FileStatus): Boolean =
      st.getModificationTime <= cutoff
    val rootEntries = fs.listStatus(p).toSeq
    // a staging dir's own mtime reflects only its immediate children's
    // CREATION — a staged parquet write still running past the age gate
    // keeps producing fresh files inside while the dir mtime goes stale.
    // Gate on the newest mtime anywhere inside (dir itself included) so
    // an in-flight slow write is never reclaimed out from under its
    // mutator.
    def newestInside(st: org.apache.hadoop.fs.FileStatus): Long = {
      var newest = st.getModificationTime
      try {
        val it = fs.listFiles(st.getPath, true)
        while (it.hasNext)
          newest = math.max(newest, it.next().getModificationTime)
      } catch {
        case _: java.io.FileNotFoundException => // raced away: stays old
      }
      newest
    }
    val stagings = rootEntries.filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("_staging_") &&
        newestInside(s) <= cutoff)
    // a maintainer that died between writing its manifest temp and the
    // commit link/rename strands one immortal root file per crash —
    // exactly the debris class vacuum exists for (the `.crc` sidecar a
    // checksum filesystem writes alongside rides the same delete)
    val manifestTmps = rootEntries.filter(s =>
      s.isFile && s.getPath.getName.startsWith("_manifest_tmp_") &&
        oldEnough(s))
    // ages come from the listing's FileStatus objects, NOT a per-file
    // re-stat: a file a concurrent sweep reclaimed between list and stat
    // is already-gone (skip), and throwing here would fail the CALLER's
    // mutation after its generation successfully committed (the
    // opportunistic sweep runs inside commitSwap post-publish); the
    // TOLERANT listing covers the same race one level up — a directory
    // deleted mid-listing by a concurrent sweep
    val onDisk = collectDataFileStatusesTolerant(fs, p, p)
    val garbage = onDisk.collect {
      case (f, st) if !live(f) && oldEnough(st) => f
    }
    garbage.foreach(f => fs.delete(new Path(path, f), false))
    stagings.foreach(s => fs.delete(s.getPath, true))
    manifestTmps.foreach(s => fs.delete(s.getPath, false))
    garbage ++ (stagings ++ manifestTmps).map(_.getPath.getName)
  }
}
