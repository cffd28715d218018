package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing fingerprints and exact-substring overlap pairs — the
  * span-level dedup signal (Schleimer/Wilkerson/Aiken winnowing, the
  * MOSS scheme; the training-data use is Lee et al. 2022's exact
  * substring deduplication). Complements the token-SET sketches
  * ([[MinHashLsh]] Jaccard/SimHash): two documents share a winnowing
  * fingerprint iff they share an exact character span of at least
  * k + w − 1 characters (k-gram length + window size), so shared
  * fingerprint COUNT measures verbatim overlap — boilerplate headers,
  * quoted passages, copy-paste — that token-set similarity dilutes on
  * long documents.
  *
  * Algorithm (per document): hash every k-char window (the same
  * md5-60-bit kernel as `q_winnow_fingerprint` — DuckDB-replicable
  * bit-exactly); slide a w-hash window and keep each window's MINIMUM;
  * the distinct kept values are the document's fingerprints. Guarantee:
  * any shared substring of length ≥ k + w − 1 yields ≥ 1 shared
  * fingerprint (both documents select the same minimum inside the
  * shared span); selection density is ~2/(w+1), so the index is ~2/(w+1)
  * of the gram count.
  *
  * Scale shape: selection is a PURE MAP — the gram-hash array, the
  * sliding minima and the distinct all happen inside each document's
  * own row in the native [[Winnow60]] expression (one byte pass, inside
  * whole-stage codegen), so the per-document work never leaves its input
  * partition and the only output is the ~2/(w+1)-dense fingerprint
  * explode. The higher-order-function spelling (`transform` / `slice` /
  * `array_min` / `array_distinct`, [[fingerprintsFormula]]) remains only
  * as the oracle's shape and the parity surface for [[Winnow60]]. No
  * window shuffle, no doc-wide sort: at 100 TB the selection cost is
  * one scan. The pair join is an inverted index on fingerprint value
  * with hot buckets CAPPED (a fingerprint shared
  * by > maxBucket documents is ecosystem boilerplate — a license
  * header — whose O(n²) pair explosion drowns the signal; same policy
  * as [[MinHashLsh]] LSH buckets and [[Jaccard]]). Nothing is
  * quadratic in the corpus.
  */
object Winnow {

  /** Distinct selected fingerprints per document: (idCol, fp BIGINT).
    * Documents shorter than k + w − 1 characters select nothing (no
    * full hash window exists).
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    // all per-document, no shuffle: gram hashes, sliding minima and the
    // distinct happen inside the row via the NATIVE [[Winnow60]]
    // expression (optimization r17) — one byte pass with a monotone-
    // deque sliding min, replacing the functions-only spelling whose
    // substr-per-gram seek is O(L) each (O(L²) per document) and whose
    // slice-per-window allocates. Bit-equality with that spelling
    // ([[fingerprintsFormula]], still the oracle's shape) is
    // WinnowNativeSpec-pinned.
    // Small-input guard: selection is compute-bound, so it wants one
    // task per core; a source offering fewer splits than cores is a
    // small-file artifact (impossible at corpus scale, where input
    // splits vastly outnumber cores — the guard then never fires and
    // nothing is shuffled). The shuffled payload when it does fire is
    // by definition tiny.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // project BEFORE the spread: the guard's round-robin exchange must
    // carry only the two columns the kernel reads, not the caller's
    // full row (guide §2.3 — project before the exchange)
    val slim = docs.select(col(idCol), col(textCol))
    val src = if (slim.rdd.getNumPartitions < par) slim.repartition(par) else slim
    src.select(col(idCol), explode(Winnow60.column(col(textCol), k, w)).as("fp"))
  }

  /** The functions-only spelling of [[fingerprints]]'s per-document
    * selection — the formula the DuckDB oracle replays and the parity
    * surface WinnowNativeSpec proves [[Winnow60]] against. The 1-based
    * positions match SQL substring on both engines; the empty cases are
    * explicit CASEs because `sequence(1, 0)` is a DESCENDING [1, 0] in
    * Spark, not an empty array.
    */
  private[functions] def fingerprintsFormula(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    val hs =
      s"""case when length($textCol) >= $k then
         |  transform(sequence(1, length($textCol) - ${k - 1}),
         |    i -> graft_hash60(substr($textCol, i, $k)))
         |else cast(array() as array<bigint>) end""".stripMargin
    val sel =
      s"""case when size(__graft_hs) >= $w then
         |  array_distinct(transform(
         |    sequence(1, size(__graft_hs) - ${w - 1}),
         |    j -> array_min(slice(__graft_hs, j, $w))))
         |else cast(array() as array<bigint>) end""".stripMargin
    GraftExtensions.ensureRegistered()
    docs
      .withColumn("__graft_hs", expr(hs))
      .select(col(idCol), explode(expr(sel)).as("fp"))
  }

  /** Document pairs sharing ≥ minShared fingerprints, with hot
    * fingerprints (> maxBucket documents) dropped before pairing:
    * (a_id, b_id, n_shared), a_id < b_id.
    *
    * The fingerprint index appears three times in the plan (the cap
    * aggregate and both join sides), so it is persisted — one
    * gram-explode + window pass, not three (same policy as
    * [[DedupPipeline]]'s shared shingle pass). The pin is on a DERIVED
    * frame the caller never holds, so it is registered with
    * [[graft.core.CachePins]]: each call releases the previous call's
    * index (bounding a per-batch caller to one live pin), and
    * `CachePins.release("winnow.substringPairs")` frees it explicitly.
    */
  def substringPairs(fps: DataFrame, idCol: String,
      minShared: Int = 2, maxBucket: Int = 50): DataFrame = {
    // defensive dedup: the cap and n_shared both count ROWS, which is
    // only correct when each (doc, fp) appears once — true of
    // [[fingerprints]] output, but this is a public entry point and a
    // unioned/raw index would otherwise over-count buckets past the cap
    // and inflate n_shared. One aggregation-shaped shuffle, collapsed
    // into work the pairing pipeline does anyway.
    val pinned = graft.core.CachePins.swap("winnow.substringPairs",
      fps.dropDuplicates(idCol, "fp"))
    // materialize the pin EAGERLY (one tiny count job): the index
    // appears three times in the one downstream plan, and a lazily-
    // filled cache lets those scans race — concurrent stages each
    // recompute the gram-explode pass into the same cache slots
    // (measured: 66 taskSec ≈ 2.5 fingerprint passes for
    // q_substring_pairs). Filled first, all three consumers read cache.
    pinned.count()
    val perFp = pinned.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") <= maxBucket)
      .select(col("fp"))
    val ok = pinned.join(perFp, "fp")
    ok.as("a").join(ok.as("b"),
        col("a.fp") === col("b.fp") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
