package graftbench

import org.apache.spark.sql.DataFrame

import graft.queries._

/** Closed-loop analytics: one client running `SparkEntry.queries` rows
  * one at a time over the seeded tables.
  */
object Analytics {

  /** One row from each of the eleven QuerySets, the cheapest that exercises
    * the set's operators: a streaming replay (`q_cached_view`) and kernels
    * whose cost `count()` would hide (`q_simhash`, `q_pii_redact`,
    * `q_embed_gram`).
    */
  val Rows: Seq[(String, QuerySet)] = Seq(
    "q1_agg" -> RelationalQueries,
    "q_window_tumbling" -> WindowQueries,
    "q_get" -> AccessQueries,
    "q_cached_view" -> StatefulQueries,
    "q_token_count" -> TextQueries,
    "q_embed_gram" -> SimilarityQueries,
    "q_simhash" -> DedupQueries,
    "q_inverted_index" -> RankingQueries,
    "q_pii_redact" -> CurationQueries,
    "q_media_ahash" -> MultimodalQueries,
    "q_txn_commits" -> ChangelogQueries)
  Rows.foreach { case (row, set) => require(set.queries.contains(row), s"$row is not in $set") }

  def setName(row: String): String =
    Rows.toMap.apply(row).getClass.getSimpleName.stripSuffix("$")

  /** The rows whose oracle (`SparkEntry.oracleSql`) Spark SQL can run; the
    * other rows' oracles are written in DuckDB's dialect.
    */
  val OracleRows: Seq[String] = Seq("q1_agg", "q_get")

  /** The rows that replay a commit log through a streaming query. */
  val Streaming: Set[String] = Set("q_cached_view")

  /** Runs one row and reduces its output to an order-free fingerprint: the
    * sum and count of a hash over every output column, so no projected
    * kernel can be pruned away as it can under `count()`. Columns are hashed
    * by sorted name as strings, doubles rounded to 9 decimals, so a result
    * and an equivalent oracle result give the same fingerprint.
    */
  def fingerprint(df: DataFrame): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 9).cast(StringType)
        case _: MapType => to_json(c)
        case _ => c.cast(StringType)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    val r = df.agg(coalesce(sum(pmod(h, lit(2147483647L))), lit(0L)), count(lit(1))).head()
    s"${r.getLong(1)}:${r.getLong(0)}"
  }
}
