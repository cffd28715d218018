package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.StoreManifest

/** Persisted IVF-PQ serving store — the compressed twin of [[IvfStore]]
  * and the true 100 TB ANN serving layout: PQ CODES (m bytes + one
  * reconstruction norm per vector, a 32x-64x compression of a float
  * corpus) persisted hive-partitioned by coarse IVF cell. A query batch
  * then pays:
  *   - manifest-side pruning to its nProbe cells' files (the
  *     [[StoreManifest]] read path shared with [[IvfStore]] — no
  *     directory listing, atomic version flips under maintenance),
  *   - an ADC scan of the pruned codes — m one-byte table lookups per
  *     scored vector, never a float-vector read.
  * The float corpus is read exactly once per vector, at ingest time.
  *
  * Maintenance parity with [[IvfStore]]: [[append]] files deltas
  * O(delta) with the FROZEN quantizers, [[appendIdempotent]] +
  * [[replicate]] make streaming replay converge instead of duplicating,
  * [[upsert]] re-encodes changed vectors, [[removeMatching]] serves
  * takedowns, [[compactCells]] defragments — a compressed serving copy
  * needs the same restart-safe convergence story as the exact one, or
  * replication to it becomes the pipeline's weak link.
  *
  * Every mutation is one [[StoreManifest.Handle]] sequence over the
  * [[IvfStore]] cell layout. Both quantizers persist WITH the store as
  * exact binary64 bit patterns: the coarse centroids ARE the directory
  * layout and the codebooks ARE the meaning of every stored byte, so a
  * maintainer must use [[PqStore.open]] — a drifted handle would file
  * vectors into cells the probe logic never visits, or decode bytes
  * against the wrong centroid tables. Same exactness anchor as [[Pq]]:
  * at full probe the store answers exactly like [[Pq.searchTopK]] over
  * the same codebooks (spec-enforced + oracles q_pq_store_topk /
  * q_pq_store_stream on the exact-reconstruction corpus).
  */
final class PqStore(spark: SparkSession, val path: String,
    cb: Pq.Codebooks, coarse: Array[Array[Double]]) {

  import spark.implicits._

  /** The shared manifest-store protocol, bound to the cell layout. */
  private val store = IvfStore.handle(spark, path)

  private def manifest(op: String): StoreManifest.Manifest = store.resolve(op)

  private def storeDf(m: StoreManifest.Manifest,
      cells: Option[Seq[Int]] = None): DataFrame = store.scan(m, cells)

  /** The encode + coarse-assign projection every ingest path shares:
    * codes from the frozen codebooks, cell from the frozen coarse
    * quantizer. ONE fused map-only pass ([[Pq.encodeAssigned]]) — no
    * vec_id self-join, so a delta that slips duplicate ids past a caller
    * produces two intact rows (like [[IvfStore]]), never cross-product
    * hybrids pairing one duplicate's code with the other's cell.
    */
  private def encoded(delta: DataFrame): DataFrame =
    Pq.encodeAssigned(delta, cb, coarse)

  /** Encode + assign + persist, and save both quantizers alongside. */
  def write(emb: DataFrame): Unit =
    store.write(encoded(emb), org.apache.spark.sql.types.IntegerType,
      IvfStore.centroidsFile(coarse), PqStore.codebooksFile(cb))

  /** Incremental fold: encode a DELTA with the persisted (frozen)
    * quantizers and append into its touched cells — O(delta), no
    * rebuild; retraining is a deliberate [[write]].
    */
  def append(delta: DataFrame): Unit = {
    requireQuantizerMatch("append")
    val m = manifest("append")
    store.commitSwap(m, encoded(delta), Seq.empty)
    ()
  }

  /** Restart-safe delta fold — [[append]] minus rows whose vec_id the
    * store already holds (the [[IvfStore.appendIdempotent]] contract):
    * the existence check anti-joins the STORE-WIDE vec_id column
    * (column-pruned — ids are a sliver of even the compressed store's
    * bytes), so a replayed vec_id is dropped even when its re-offered
    * embedding would encode into a different cell. Idempotence of vector
    * IDENTITY, not upsert; duplicate ids within one delta refuse loudly.
    */
  def appendIdempotent(delta: DataFrame): Unit = {
    requireQuantizerMatch("appendIdempotent")
    val m = manifest("appendIdempotent")
    // pins the RAW delta and encodes only the fresh rows: a replayed
    // batch pays no PQ encode for the vectors the store already holds
    store.appendNew(m, "appendIdempotent", "vec_id", delta,
      _ => storeDf(m).select("vec_id"), encoded)
  }

  /** Maintain the compressed copy from a streaming embedding feed — each
    * micro-batch one [[appendIdempotent]] (see
    * [[StoreManifest.replicate]]). Caller `.start()`s the writer.
    */
  def replicate(stream: DataFrame, checkpoint: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StoreManifest.replicate(stream, checkpoint)(appendIdempotent)

  /** Re-embedding fold: re-encode the delta with the frozen quantizers
    * and replace any stored code whose vec_id it carries, in one
    * generation ([[StoreManifest.Handle.upsert]]) — the delta's NEW
    * embeddings decide both the new codes and the new cells. The guard
    * runs over the ENCODED projection, which forces [[Pq.encode]]
    * (schema resolution + the dimension guard) over every row, so a
    * delta that cannot be encoded refuses before anything is staged; the
    * pin keeps the full PQ encode to one pass over the delta.
    */
  def upsert(delta: DataFrame): Unit = {
    requireQuantizerMatch("upsert")
    store.upsert(manifest("upsert"), "upsert", "vec_id", encoded(delta))
  }

  /** Takedown on the COMPRESSED copy: a removed vector must leave every
    * serving layout, not just the exact store. Same shape as
    * [[IvfStore.removeMatching]]: the id set stays a Dataset (semi/anti
    * joins, never through the driver), only the matched cells' code
    * files are replaced (manifest swap — atomic version flip), and
    * cells left empty disappear.
    */
  def removeMatching(ids: DataFrame): Unit = {
    requireQuantizerMatch("removeMatching")
    store.rewrite(manifest("removeMatching"),
      _.join(ids.select("vec_id"), Seq("vec_id"), "left_semi"),
      _.join(ids.select("vec_id"), Seq("vec_id"), "left_anti"))
  }

  /** Defragmentation after many [[append]]s — fragmentation read off the
    * MANIFEST, only fragmented cells rewritten; contents preserved
    * exactly ([[IvfStore.compactCells]] twin).
    */
  def compactCells(maxFilesPerCell: Int = 4): Unit = {
    requireQuantizerMatch("compactCells")
    store.compact(manifest("compactCells"), maxFilesPerCell)
  }

  /** Reclaim files no retained manifest references (crashed-mutation
    * garbage). Run from the (single) maintainer only.
    */
  def vacuum(): Seq[String] = store.vacuum()

  /** The current version's full contents (codes + norms + cells) — see
    * [[IvfStore.contents]] for why a raw directory read is wrong.
    */
  def contents(): DataFrame = storeDf(manifest("contents"))

  /** The cell-pruned code scan a query batch performs — files selected
    * from the current manifest, no directory listing.
    */
  def probedCodes(probeCells: Set[Int]): DataFrame = {
    val m = manifest("probedCodes")
    storeDf(m, Some(probeCells.toSeq))
  }

  /** ADC cosine top-k per query vector over the probed cells only —
    * the [[Pq.searchTopKIvf]] semantics served from the persisted
    * layout (same output schema: q_id, rk, neighbor_id, cos).
    */
  def searchTopK(queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val qVecs = Similarity.toVecs(queries).collect()
    // loud dimension contract (the ingest side's Pq.encode guard,
    // mirrored): a long query would build ADC tables from a PREFIX
    // while its norm spans all dims — silently deflated cosines; a
    // short one would AIOOBE deep in adcTables with no mention of why
    qVecs.foreach(q => require(q.v.length == cb.m * cb.dsub,
      s"searchTopK: a ${q.v.length}-d query cannot probe a " +
        s"${cb.m}x${cb.dsub}-d store — embedding dimension must match " +
        "the quantizer's"))
    val probes = Ivf.probeSets(qVecs, coarse, nProbe)
    val tables = Pq.adcTables(qVecs, cb)
    val allCells = probes.values.flatten.toSet
    val tb = spark.sparkContext.broadcast(tables)
    val pb = spark.sparkContext.broadcast(probes)
    val scored = probedCodes(allCells)
      .select(col("vec_id"), col("code"), col("recon_norm"),
        col("cell").cast("int"))
      .as[(Long, Array[Byte], Double, Int)]
      .mapPartitions { it =>
        val ts = tb.value
        val pr = pb.value
        it.flatMap { case (id, code, rnorm, cell) =>
          ts.iterator
            .filter { case (qid, _, _) => qid != id && pr(qid).contains(cell) }
            .map { case (qid, qnorm, t) =>
              var j = 0; var s = 0.0
              while (j < code.length) { s += t(j)(code(j) & 0xff); j += 1 }
              (qid, id, Similarity.cosine(s, qnorm, rnorm))
            }
        }
      }.toDF("q_id", "neighbor_id", "cos")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("neighbor_id"), col("cos"))
  }

  private def requireQuantizerMatch(op: String): Unit = {
    val storedCoarse = IvfStore.loadCentroids(store).getOrElse(
      throw new IllegalStateException(
        s"$op: no persisted coarse quantizer at $path — write() first"))
    val storedCb = PqStore.loadCodebooks(store).getOrElse(
      throw new IllegalStateException(
        s"$op: no persisted codebooks at $path — write() first"))
    require(storedCoarse.length == coarse.length &&
        storedCoarse.zip(coarse).forall { case (a, b) =>
          java.util.Arrays.equals(a, b) } &&
        storedCb.m == cb.m && storedCb.dsub == cb.dsub &&
        storedCb.centroids.length == cb.centroids.length &&
        storedCb.centroids.zip(cb.centroids).forall { case (sj, j) =>
          sj.length == j.length &&
            sj.zip(j).forall { case (a, b) => java.util.Arrays.equals(a, b) } },
      s"$op: this handle's quantizers differ from the store's persisted " +
        "set — use PqStore.open for maintenance; rebuild with write() to " +
        "retrain.")
  }
}

object PqStore {

  /** Open an existing store from its persisted quantizers — the only
    * safe maintenance/serving handle across sessions.
    */
  def open(spark: SparkSession, path: String): PqStore = {
    val store = IvfStore.handle(spark, path)
    val coarse = IvfStore.loadCentroids(store).getOrElse(
      throw new IllegalStateException(
        s"no persisted coarse quantizer at $path — not a PqStore"))
    val cb = loadCodebooks(store).getOrElse(
      throw new IllegalStateException(
        s"no persisted codebooks at $path — not a PqStore"))
    new PqStore(spark, path, cb, coarse)
  }

  private val CodebooksFile = "_codebooks"

  /** Codebooks as text: header `m dsub`, then one line per subspace,
    * centroids ';'-separated, dimensions as exact binary64 bits in hex
    * (the [[IvfStore]] bit-exactness rationale, doubled: the codebooks
    * are the meaning of every stored byte).
    */
  private def codebooksFile(cb: Pq.Codebooks): (String, String) =
    CodebooksFile -> (s"${cb.m} ${cb.dsub}" +:
      cb.centroids.toSeq.map(_.map(_.map(d =>
          java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d)))
        .mkString(",")).mkString(";"))).mkString("\n")

  private def loadCodebooks(
      store: StoreManifest.Handle): Option[Pq.Codebooks] =
    store.readSide(CodebooksFile).map { text =>
      // same loud-refusal contract as IvfStore.loadCentroids: the
      // codebooks are the meaning of every stored byte, so corrupt
      // metadata must name itself instead of decoding garbage
      try {
        val lines = text.split("\n")
        val Array(m, dsub) = lines.head.split(" ").map(_.toInt)
        val cents = lines.tail.map(_.split(";").map(_.split(",").map(h =>
          java.lang.Double.longBitsToDouble(
            java.lang.Long.parseUnsignedLong(h, 16)))))
        require(m > 0 && dsub > 0 && cents.length == m &&
          cents.forall(_.forall(_.length == dsub)))
        Pq.Codebooks(m, dsub, cents)
      } catch { case e: Exception =>
        throw new IllegalStateException(
          s"corrupt persisted codebooks at ${store.path}/$CodebooksFile — " +
            "the file is the meaning of every stored code byte; restore it " +
            "or rebuild with write()", e)
      }
    }
}
