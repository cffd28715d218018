package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted incremental TEXT-retrieval index — the keyword twin of the
  * ANN stores: term-bucketed postings on disk, so a BM25 query reads only
  * its query terms' buckets instead of re-scanning the corpus twice (the
  * [[Bm25.topK]] two-scan form is right for one ad-hoc query; a serving
  * system answering many queries builds the index once — that documented
  * trade, made real).
  *
  * ONE table, hive-partitioned by `pb`:
  *   - posting rows: pb = hash60(term) % buckets, (term, doc_id, tf, dl)
  *     — tf and the document length denormalized so scoring never joins
  *     a doc table;
  *   - doc-membership rows: term NULL, pb = hash60("doc:" + doc_id) %
  *     buckets, (doc_id, dl) — the idempotence claim AND the corpus
  *     statistics source (N, Σdl).
  * A batch lands through the same [[graft.sources.StoreManifest.Handle]]
  * protocol as the ANN stores, in ONE atomic manifest publish over both
  * row kinds — membership without postings, or the inverse, can never
  * be half-visible. [[appendIdempotent]] re-offered after a crash or a
  * streaming replay converges (membership anti-join, pruned to the
  * delta's doc buckets).
  *
  * Doc ids are the index's key contract: `idCol` must be integral
  * (long-castable) and non-null — a null or non-castable id is refused
  * IN-PLAN with provenance ([[org.apache.spark.sql.functions.raise_error]]
  * inside the single indexing pass; a silent `cast` would null every
  * string id and collapse the corpus onto one NULL key).
  *
  * Determinism: scoring reproduces [[Bm25.topK]] BIT-FOR-BIT — same
  * tokenization, tf/df/dl/N as exact integers from the index, the same
  * score expression in the same association order (per-term contributions
  * added in query-term order, absent terms contributing exact 0.0), idf
  * computed on the same binary64 values. The one semantic difference is
  * documented: the index serves MATCHED documents only (an index never
  * returns score-0 fillers), so with fewer than k matches the result is
  * shorter than [[Bm25.topK]]'s.
  *
  * At 100 TB: stats (N, Σdl) aggregate the slim doc-membership rows —
  * a serving deployment computes them once per index version and caches
  * (pass `stats`), not per query.
  */
final class PostingsStore(spark: SparkSession, val path: String,
    val buckets: Int = 64) {
  require(buckets > 0)

  import spark.implicits._

  private val store = PostingsStore.handle(spark, path)

  private def termBucket(term: Column): Column =
    pmod(Hash60.column(term), lit(buckets.toLong))

  private def docBucket(docId: Column): Column =
    pmod(Hash60.column(concat(lit("doc:"), docId.cast("string"))),
      lit(buckets.toLong))

  private def bucketOfTerm(t: String): Long = {
    val h = Hash60.digest60(t.getBytes("UTF-8"))
    ((h % buckets) + buckets) % buckets
  }

  /** [[Bm25.topK]]'s exact tokenization — the index must index what the
    * two-scan form scores. The id cast is GUARDED: a null or
    * non-integral id raises in-plan with the offending value (a bare
    * cast nulls silently, collapsing every string id onto one NULL key
    * with no error anywhere).
    */
  private def tokenized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // try_cast: malformed ids become NULL in BOTH ANSI and legacy
    // sessions, so the guard below owns the error uniformly (a bare
    // cast throws Spark's generic CAST_INVALID_INPUT under ANSI and
    // silently nulls under legacy — the worst of each)
    val id = col(idCol).try_cast("long")
    val guarded = when(id.isNull,
      raise_error(concat(
        lit(s"PostingsStore: $idCol value '"),
        coalesce(col(idCol).cast("string"), lit("NULL")),
        lit("' is not a non-null integral id — the index keys on " +
          "long doc ids (map string ids to longs upstream)")))
      .cast("long")).otherwise(id)
    docs.select(guarded.as("doc_id"),
      split(trim(lower(col(textCol))), "\\s+").as("__ts"))
  }

  /** Both row kinds of a document batch (see class doc). */
  private def rows(tok: DataFrame): DataFrame = {
    val posts = tok
      .select(col("doc_id"), size(col("__ts")).cast("long").as("dl"),
        explode(col("__ts")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(termBucket(col("term")).as("pb"), col("term"), col("doc_id"),
        col("tf"), col("dl"))
    val members = tok
      .select(docBucket(col("doc_id")).as("pb"),
        lit(null).cast("string").as("term"), col("doc_id"),
        lit(0L).as("tf"), size(col("__ts")).cast("long").as("dl"))
    posts.unionByName(members)
  }

  /** Build (or fully rebuild) the index; persists the bucket layout and
    * publishes manifest generation 1 ([[graft.sources.StoreManifest.Handle.write]]).
    */
  def write(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    store.write(rows(tokenized(docs, idCol, textCol)),
      org.apache.spark.sql.types.LongType,
      PostingsStore.LayoutFile -> buckets.toString)

  private def requireLayoutMatch(op: String): Unit = {
    val stored = PostingsStore.storedBuckets(store, op)
    require(stored == buckets,
      s"$op: this handle says $buckets buckets but the index was built " +
        s"with $stored — a mismatched bucket count probes the wrong " +
        "directories. Use PostingsStore.open; rebuild with write() to " +
        "re-bucket.")
  }

  /** Restart-safe delta fold: index only the docs the index doesn't
    * already hold ([[graft.sources.StoreManifest.Handle.appendNew]]; the
    * membership anti-join is pruned to the delta's doc buckets —
    * O(delta + touched-bucket members), never O(corpus)). A delta
    * carrying the same doc_id twice is refused loudly. Re-indexing a
    * CHANGED document is a deliberate rebuild concern, not a silent
    * overwrite.
    */
  def appendIdempotent(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    requireLayoutMatch("appendIdempotent")
    val m = store.resolve("appendIdempotent")
    // pinned: the tokenize+guard scan runs once for the guard, the
    // touched-bucket distinct and the staged write
    store.appendNew(m, "appendIdempotent", "doc_id",
      tokenized(docs, idCol, textCol),
      tok => {
        val touched = tok.select(docBucket(col("doc_id"))).distinct()
          .collect().map(_.getLong(0)).toSeq
        store.scan(m, Some(touched)).filter(col("term").isNull)
          .select("doc_id")
      },
      rows)
  }

  /** Maintain the index from a streaming document feed; replay after a
    * checkpoint restart converges (each micro-batch is one
    * [[appendIdempotent]]).
    */
  def replicate(stream: DataFrame, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text"):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.sources.StoreManifest.replicate(stream, checkpoint)(
      appendIdempotent(_, idCol, textCol))

  /** Corpus statistics (N, Σdl) from the membership rows — compute once
    * per index version and cache in a serving deployment.
    */
  def stats(): (Long, Long) = {
    val r = store.scan(store.resolve("stats")).filter(col("term").isNull)
      .agg(count(lit(1)), sum(col("dl"))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** BM25 top-k over the index: reads ONLY the query terms' buckets
    * (partition-pruned), one tiny df aggregate, then a per-term scoring
    * join whose contributions add in query-term order — bit-identical to
    * [[Bm25.topK]] for every matched document (see class doc).
    */
  def topK(terms: Seq[String], k: Int,
      k1: Double = Bm25.DefaultK1, b: Double = Bm25.DefaultB,
      precomputedStats: Option[(Long, Long)] = None): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    requireLayoutMatch("topK")
    val qTerms = terms.map(_.toLowerCase(java.util.Locale.ROOT))
    require(qTerms == qTerms.distinct,
      "duplicate query terms — dedupe the query (the two-scan form would " +
        "double-count them; refusing keeps the parity contract explicit)")
    val (n, sumdl) = precomputedStats.getOrElse(stats())
    require(n > 0, "empty index")
    val avgdl = sumdl.toDouble / n.toDouble

    val tbs = qTerms.map(bucketOfTerm).distinct
    // pruning happens at the MANIFEST (file-list) layer: the scan plans
    // only the query terms' bucket directories, no directory listing
    val pruned = store.scan(store.resolve("topK"), Some(tbs))
      .filter(col("term").isin(qTerms: _*))
    // exact df per term: posting rows exist iff the doc contains the term
    val dfs: Map[String, Long] = pruned.groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // one leg per term; contributions join full-outer in TERM ORDER so
    // the double additions associate exactly as Bm25.topK's reduce
    val legs = qTerms.zipWithIndex.map { case (t, i) =>
      pruned.filter(col("term") === t)
        .select(col("doc_id"), col("tf").cast("double").as(s"__tf$i"),
          col("dl").cast("double").as(s"__dl$i"))
    }
    val joined = legs.reduce((a, q) => a.join(q, Seq("doc_id"), "full_outer"))
    val dl = coalesce(qTerms.indices.map(i => col(s"__dl$i")): _*)
    val contribs = qTerms.zipWithIndex.map { case (t, i) =>
      val dfD = dfs.getOrElse(t, 0L).toDouble
      // identical binary64 pipeline to Bm25.topK's in-plan idf — Spark's
      // log expression evaluates StrictMath.log, so the driver-side twin
      // must too (Math.log may differ in the last bit via intrinsics)
      val idf = StrictMath.log((n.toDouble - dfD + 0.5) / (dfD + 0.5) + 1.0)
      val tf = coalesce(col(s"__tf$i"), lit(0.0))
      // absent term => tf 0.0 => exact 0.0 contribution, as in the
      // two-scan form (idf * 0 / positive-denominator)
      lit(idf) * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / lit(avgdl)))
    }
    val raw = contribs.reduce(_ + _)
    joined.select(col("doc_id"), raw.as("__raw"))
      .orderBy(col("__raw").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), round(col("__raw"), 4).as("score"))
  }
}

object PostingsStore {

  private val LayoutFile = "_layout"

  private def handle(spark: SparkSession,
      path: String): graft.sources.StoreManifest.Handle =
    graft.sources.StoreManifest.Handle(spark, path, "pb", Seq("term", "doc_id"))

  /** The bucket count the index was built with, from its `_layout`. */
  private def storedBuckets(store: graft.sources.StoreManifest.Handle,
      op: String): Int =
    store.readSide(LayoutFile).getOrElse(throw new IllegalStateException(
      s"$op: no persisted layout at ${store.path}/$LayoutFile — not a " +
        "PostingsStore; write() the index first")).trim.toInt

  /** Open an existing index with its persisted bucket layout. */
  def open(spark: SparkSession, path: String): PostingsStore =
    new PostingsStore(spark, path, storedBuckets(handle(spark, path), "open"))
}
