package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.StoreManifest

/** IVF-partitioned vector store: the PHYSICAL-layout half of [[Ivf]] —
  * embeddings persisted hive-partitioned by their coarse cell, norms
  * precomputed at write time. An ANN query then prunes at the STORAGE
  * layer: its nProbe cells select their `cell=N` directories' files out
  * of the store MANIFEST (gated in IvfStoreSpec via inputFiles), so the
  * scan lists and reads only nProbe/nCentroids of the corpus files — the
  * DiskANN/IVF-on-object-storage serving shape. At 100 TB with 1024
  * cells and nProbe=8, a query batch touches <1% of the bytes, with the
  * manifest as the only index structure beyond the directory layout.
  *
  * Reads resolve the store's version ONCE per query through
  * [[graft.sources.StoreManifest]]: maintenance publishes a new
  * generation atomically, a racing reader sees either the complete old
  * version or the complete new one, and a reader staler than the
  * retention window fails LOUDLY — never a silently-short scan
  * (ManifestStoreSpec pins all three).
  *
  * Same exactness anchor as [[Ivf]]: at full probe the cell predicate
  * admits everything and results equal [[Similarity.bruteForceTopK]]
  * (spec-enforced + oracle q_ivf_store_topk) — partial probe is a pure
  * subset relaxation.
  */
object IvfStore {
  // static kernels: executor closures must not capture the (non-
  // serializable) store instance
  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var i = 0; var s = 0.0
    while (i < b.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var i = 0; var s = 0.0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Open an existing store from its persisted quantizer. The centroids
    * ARE the store's physical layout (they decide which directory holds a
    * vector), so a maintainer must use the persisted set — this is the
    * only safe way to get a handle for [[IvfStore.append]]/
    * [[IvfStore.removeWhere]] from a different session than the writer's.
    */
  def open(spark: SparkSession, path: String): IvfStore =
    new IvfStore(spark, path, loadCentroids(handle(spark, path)).getOrElse(
      throw new IllegalStateException(
        s"no persisted quantizer at $path/$CentroidsFile — not an IvfStore " +
          "(or written by a pre-quantizer-persistence version)")))

  /** The cell layout [[IvfStore]] and [[PqStore]] share: partitioned by
    * coarse cell, vec_id-sorted within.
    */
  private[functions] def handle(spark: SparkSession,
      path: String): StoreManifest.Handle =
    StoreManifest.Handle(spark, path, "cell", Seq("vec_id"))

  private[functions] val CentroidsFile = "_quantizer"

  /** Exact binary64 round-trip: one centroid per line, dimensions as the
    * raw IEEE-754 bit patterns in hex. Bit-exactness matters — an
    * assignment replay with centroids off by one ulp could route a
    * boundary vector to a different cell than the stored layout.
    */
  private[functions] def centroidsFile(
      centroids: Array[Array[Double]]): (String, String) =
    CentroidsFile -> centroids.map(_.map(d =>
        java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d)))
      .mkString(",")).mkString("\n")

  private[functions] def loadCentroids(
      store: StoreManifest.Handle): Option[Array[Array[Double]]] =
    store.readSide(CentroidsFile).map { text =>
      val p = s"${store.path}/$CentroidsFile"
      // a corrupt quantizer must refuse LOUDLY with its provenance: the
      // centroids are the store's layout, and serving through garbage
      // would probe the wrong directories silently (a raw
      // NumberFormatException names neither the file nor the stakes)
      val parsed =
        try text.split("\n").map(_.split(",").map(h =>
          java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(h, 16))))
        catch { case e: Exception =>
          throw new IllegalStateException(
            s"corrupt persisted quantizer at $p — the file is the store's " +
              "cell layout; restore it or rebuild with write()", e)
        }
      require(parsed.nonEmpty && parsed.forall(c =>
          c.nonEmpty && c.length == parsed.head.length),
        s"corrupt persisted quantizer at $p: ragged or empty centroid " +
          "rows — restore the file or rebuild with write()")
      parsed
    }
}

final class IvfStore(spark: SparkSession, val path: String,
    centroids: Array[Array[Double]]) {

  import IvfStore.{dot, sqDist}
  import Similarity.Vec
  import spark.implicits._

  /** The assignment + norm projection shared by [[write]] and [[append]]:
    * nearest-centroid cell via one broadcast + map-only scan (the
    * [[Ivf.assign]] pass), norms precomputed — query time pays neither.
    */
  private def indexed(emb: DataFrame): DataFrame = {
    val cb = spark.sparkContext.broadcast(centroids)
    // cell/norm computed on exact double widenings, but the STORED
    // embedding keeps the source's element type — persisting the cast
    // would double the index's footprint and every probed scan's bytes
    // for a FLOAT[] corpus, for identical search results (the score
    // path widens on read)
    val cellUdf = udf { (v: Seq[Double]) =>
      val a = v.toArray
      val cs = cb.value
      // a vector that does not share the quantizer's dimension cannot be
      // FILED: shorter would crash in sqDist, but LONGER would silently
      // assign on a truncated prefix — both are data errors
      require(a.length == cs(0).length,
        s"cannot assign a ${a.length}-d vector with a ${cs(0).length}-d " +
          "quantizer — embedding dimension must match the store's")
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val d = sqDist(cs(c), a)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    val normUdf = udf { (v: Seq[Double]) =>
      var n = 0.0
      v.foreach(x => n += x * x)
      math.sqrt(n)
    }
    val d = col("embedding").cast("array<double>")
    emb.select(col("vec_id"), col("embedding"),
        normUdf(d).as("norm"), cellUdf(d).as("cell"))
  }

  /** The shared manifest-store protocol, bound to this store's layout. */
  private val store = IvfStore.handle(spark, path)

  private def manifest(op: String): StoreManifest.Manifest = store.resolve(op)

  private def storeDf(m: StoreManifest.Manifest,
      cells: Option[Seq[Int]] = None): DataFrame = store.scan(m, cells)

  /** Build (or fully rebuild) the store and persist the quantizer
    * alongside it — the centroids ARE the layout, and a later maintainer
    * appending with retrained centroids would file vectors into cells
    * the probe logic never visits. [[append]]/[[removeWhere]] refuse a
    * handle whose centroids drifted from the persisted set.
    */
  def write(emb: DataFrame): Unit =
    store.write(indexed(emb), org.apache.spark.sql.types.IntegerType,
      IvfStore.centroidsFile(centroids))

  /** Drift guard for every incremental mutation: the handle's centroids
    * must be bit-identical to the persisted quantizer.
    */
  private def requireQuantizerMatch(op: String): Unit = {
    val stored = IvfStore.loadCentroids(store).getOrElse(
      throw new IllegalStateException(
        s"$op: no persisted quantizer at $path — write() the store first"))
    require(stored.length == centroids.length &&
        stored.zip(centroids).forall { case (a, b) =>
          java.util.Arrays.equals(a, b) },
      s"$op: this handle's centroids differ from the store's persisted " +
        s"quantizer — appending with a retrained quantizer would file " +
        s"vectors into cells the stored layout never probes. Use " +
        s"IvfStore.open($path) for maintenance; rebuild with write() to " +
        "retrain.")
  }

  /** Delta schema guard shared by every ingest path: parquet refuses
    * mixed element types across files in one store, and [[upsert]] must
    * fail BEFORE its removal leg, so the check cannot live inside the
    * write. (Nullability is a metadata detail the parquet round-trip
    * rewrites; only the ELEMENT type decides file compatibility.)
    */
  private def requireDeltaCompatible(op: String,
      m: StoreManifest.Manifest, delta: DataFrame): Unit = {
    def elem(t: org.apache.spark.sql.types.DataType) = t match {
      case a: org.apache.spark.sql.types.ArrayType => a.elementType
      case other => other
    }
    val storedType = elem(m.schema("embedding").dataType)
    val deltaType = elem(delta.schema("embedding").dataType)
    require(deltaType == storedType,
      s"$op: delta embedding element type $deltaType != store's " +
        s"$storedType — cast the delta to the store's element type " +
        "before appending (float->double widens exactly; a " +
        "double-element store cannot accept float deltas implicitly)")
  }

  /** Incremental maintenance: file a DELTA of new vectors into their
    * cells — touched cell directories gain one file set, untouched cells
    * are never read or written, and the store is never rebuilt. At 100 TB
    * a daily embedding batch appends O(delta) bytes instead of the
    * O(corpus) rewrite [[write]] performs; vectors are assigned with the
    * PERSISTED quantizer (frozen-centroid IVF maintenance — the standard
    * serving discipline; retraining is a deliberate [[write]] rebuild).
    * Many small appends fragment cells — see [[compactCells]].
    */
  def append(delta: DataFrame): Unit = {
    requireQuantizerMatch("append")
    val m = manifest("append")
    requireDeltaCompatible("append", m, delta)
    store.commitSwap(m, indexed(delta), Seq.empty)
    ()
  }

  /** Restart-safe delta fold: [[append]] minus rows whose vec_id the
    * store already holds — a replayed micro-batch (streaming restart
    * before the offset commit) re-offers vectors the previous run
    * already filed, and a plain append would double them. The existence
    * check is an anti-join against the STORE-WIDE vec_id column (column-
    * pruned: O(corpus ids) bytes, never O(corpus) — ids are ~1% of a
    * float-embedding store's bytes): a replayed vec_id must be dropped
    * even when its RE-OFFERED embedding drifted into a different cell
    * than the stored row, or the replay would leave two rows for one id.
    * This is idempotence of vector IDENTITY, not upsert: a re-embedded
    * vec_id keeps its STORED vector ([[upsert]] to re-embed). A delta
    * carrying the same vec_id twice is refused loudly — two embeddings
    * for one id is a data error, and silently picking one would be
    * layout-dependent.
    */
  def appendIdempotent(delta: DataFrame): Unit = {
    requireQuantizerMatch("appendIdempotent")
    val m = manifest("appendIdempotent")
    requireDeltaCompatible("appendIdempotent", m, delta)
    // the pinned rows are the ASSIGNED projection: the cell UDF runs once
    // per row, not once per action
    store.appendNew(m, "appendIdempotent", "vec_id", indexed(delta),
      _ => storeDf(m).select("vec_id"), identity)
  }

  /** Maintain the store from a streaming embedding feed — each
    * micro-batch is one [[appendIdempotent]] (see
    * [[StoreManifest.replicate]]). Caller `.start()`s the returned writer.
    */
  def replicate(stream: DataFrame, checkpoint: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StoreManifest.replicate(stream, checkpoint)(appendIdempotent)

  /** Incremental removal: drop every stored vector where `pred` is TRUE,
    * rewriting ONLY the cell directories that hold a match. Under SQL
    * three-valued logic a predicate can evaluate to NULL on a row;
    * removal treats NULL as "not matched" SYMMETRICALLY — discovery and
    * rewrite both go through `coalesce(pred, false)`, so a NULL-pred row
    * survives whether or not it shares a cell with a TRUE-pred row (a
    * bare `!pred` keep-filter would silently drop NULL rows in touched
    * cells while identical rows in untouched cells survived —
    * layout-dependent data loss). The discovery pass is column-pruned;
    * cells left empty simply disappear from the manifest.
    */
  def removeWhere(pred: org.apache.spark.sql.Column): Unit = {
    requireQuantizerMatch("removeWhere")
    val matched = coalesce(pred, lit(false))
    store.rewrite(manifest("removeWhere"), _.filter(matched), _.filter(!matched))
  }

  /** Set-removal twin of [[removeWhere]] for an id SET that lives in a
    * Dataset (a takedown batch, the vec_ids of a re-embedding delta):
    * semi/anti joins instead of a predicate, so the id set never rides
    * through the driver. Discovery and rewrite both touch only the
    * matched cells.
    */
  def removeMatching(ids: DataFrame): Unit = {
    requireQuantizerMatch("removeMatching")
    store.rewrite(manifest("removeMatching"),
      _.join(ids.select("vec_id"), Seq("vec_id"), "left_semi"),
      _.join(ids.select("vec_id"), Seq("vec_id"), "left_anti"))
  }

  /** Re-embedding fold: replace any stored vector whose vec_id appears in
    * `delta` and file the rest as new. Cost is O(delta + touched cells),
    * and the delta's NEW embeddings decide the new cell assignments (a
    * vector may move cells when its embedding moved).
    *
    * Both legs land in ONE manifest generation
    * ([[StoreManifest.Handle.upsert]]). The delta is VALIDATED FIRST
    * (element type, duplicate ids), so every refusal an upsert can raise
    * fires before anything is staged.
    */
  def upsert(delta: DataFrame): Unit = {
    requireQuantizerMatch("upsert")
    val m = manifest("upsert")
    requireDeltaCompatible("upsert", m, delta)
    // the guard runs over the ASSIGNED projection, not the raw delta:
    // that forces the cell UDF (and its dimension guard) over every row,
    // so a delta that cannot be filed refuses before anything is staged
    store.upsert(m, "upsert", "vec_id", indexed(delta))
  }

  /** Defragmentation after many [[append]]s: rewrite every cell holding
    * more than `maxFilesPerCell` parquet files into a fresh file set —
    * fragmentation is read straight off the MANIFEST (no directory
    * listing), and only fragmented cells are read or written. Contents
    * are preserved exactly; only the file layout changes.
    */
  def compactCells(maxFilesPerCell: Int = 4): Unit = {
    requireQuantizerMatch("compactCells")
    store.compact(manifest("compactCells"), maxFilesPerCell)
  }

  /** Reclaim files no retained manifest references — garbage stranded by
    * a CRASHED mutation. Run from the (single) maintainer only.
    */
  def vacuum(): Seq[String] = store.vacuum()

  /** The current version's full contents — the ONLY correct way to scan
    * the store outside a probe: a raw `spark.read.parquet(path)` would
    * also pick up the previous generation's retained files (reader
    * isolation) and any crashed-mutation garbage.
    */
  def contents(): DataFrame = storeDf(manifest("contents"))

  /** DISTRIBUTED ANN join — cosine top-k for a query set too large to
    * collect ([[searchTopK]] broadcasts the batch; this is the
    * corpus×corpus shape: semantic dedup between two snapshots, "k
    * neighbors for EVERY document"). Map-only probe assignment (each
    * query row explodes to its nProbe nearest cells with the broadcast
    * centroids), then a shuffle join against the store ON THE CELL —
    * never all-pairs: the scored pair count is Σ_cells |Q_c|·|V_c|, the
    * IVF candidate volume. The cell key's cardinality is only
    * nCentroids, so the store side is SALTED into `salt` lanes (query
    * probes replicate ×salt, store rows hash into one lane) — a hot
    * cell splits across its salt lanes instead of serializing one
    * reducer, the replicated-fragment discipline of [[Skew]]. Full
    * probe == brute force for every query row (oracle q_ann_join);
    * partial probe is the usual subset relaxation.
    */
  def searchTopKJoin(queries: DataFrame, k: Int, nProbe: Int,
      salt: Int = 4): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val m = manifest("searchTopKJoin")
    import spark.implicits._
    val cb = spark.sparkContext.broadcast(centroids)
    val nP = math.min(nProbe, centroids.length)
    val probedBase = Similarity.toVecs(queries)
      .mapPartitions { it =>
        val cs = cb.value
        it.flatMap { q =>
          cs.indices.sortBy(c => sqDist(cs(c), q.v)).take(nP)
            .iterator.map(c => (q.id, q.v, q.norm, c))
        }
      }.toDF("q_id", "q_vec", "q_norm", "cell")
    val probed = probedBase
      .withColumn("s", explode(lit((0 until salt).toArray)))
    // PARTIAL probe prunes the corpus read to the cells ANY query
    // probes — at the manifest (file-list) layer, restoring the
    // nProbe/nCentroids byte fraction the class doc promises for the
    // join path too. The distinct-cells pass re-runs the map-only probe
    // assignment over the query set: tiny next to the corpus bytes it
    // avoids reading. Full probe reads every cell anyway — skip the
    // extra pass (and keep the plan byte-identical for the exactness
    // oracle and its goldens).
    val cand0 =
      if (nP >= centroids.length) storeDf(m)
      else storeDf(m,
        Some(probedBase.select("cell").distinct().as[Int].collect().toSeq))
    val cand = cand0
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
        col("norm"), col("cell").cast("int").as("cell"))
      .withColumn("s", pmod(hash(col("vec_id")), lit(salt)))
    // score with the NATIVE dot expression: a typed mapPartitions here
    // deserializes two 64-element arrays per candidate pair through the
    // encoder (measured 10x the whole join's cost at 250k pairs), and
    // the zip_with/aggregate higher-order form pays an interpreted
    // lambda per ELEMENT (measured 3x worse still). The codegen'd
    // kernel adds left-to-right exactly like the while-loop dot, and
    // the zero-norm guard mirrors Similarity.cosine
    val dotCol = DotProduct.column(col("q_vec"), col("emb"))
    val denom = col("q_norm") * col("norm")
    val scored = probed.join(cand, Seq("cell", "s"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        when(denom === 0.0, 0.0).otherwise(dotCol / denom).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("neighbor_id"), col("cos"))
  }

  /** The cell-pruned read an nProbe query batch performs — files selected
    * from the current manifest, no directory listing.
    */
  def probedCorpus(probeCells: Set[Int]): DataFrame = {
    val m = manifest("probedCorpus")
    storeDf(m, Some(probeCells.toSeq))
  }

  /** Cosine top-k per query vector, probing each query's nProbe nearest
    * cells. `queries` is a (vec_id, embedding) batch — collected to the
    * driver (query batches are small; the corpus never is).
    */
  def searchTopK(queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val dim = centroids.headOption.map(_.length).getOrElse(0)
    val qVecs = Similarity.toVecs(queries).collect()
    // loud dimension contract: dot() and the probe distances iterate
    // the QUERY's length, so a short query would silently score every
    // corpus vector on a prefix (ingest already refuses mis-dimensioned
    // vectors; the query path must too)
    qVecs.foreach(q => require(q.v.length == dim,
      s"searchTopK: a ${q.v.length}-d query cannot probe a $dim-d store " +
        "— truncated dots would rank plausibly and wrongly"))
    // the SAME probe-set helper the PQ store's query path uses — two
    // drifting copies of the nProbe selection would desync the stores
    val probes: Map[Long, Set[Int]] = Ivf.probeSets(qVecs, centroids, nProbe)
    val allCells = probes.values.flatten.toSet
    val qb = spark.sparkContext.broadcast(qVecs)
    val pb = spark.sparkContext.broadcast(probes)
    val scored = probedCorpus(allCells)
      .select(col("vec_id"), col("embedding").cast("array<double>"),
        col("norm"), col("cell").cast("int"))
      .as[(Long, Array[Double], Double, Int)]
      .mapPartitions { it =>
        val qs = qb.value
        val pr = pb.value
        it.flatMap { case (id, v, norm, cell) =>
          qs.iterator
            .filter(q => q.id != id && pr(q.id).contains(cell))
            .map(q => (q.id, id, Similarity.cosine(dot(q.v, v), q.norm, norm)))
        }
      }.toDF("q_id", "neighbor_id", "cos")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("neighbor_id"), col("cos"))
  }
}
