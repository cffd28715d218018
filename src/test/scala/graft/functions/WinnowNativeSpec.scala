package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec
import graft.SparkSpec.spark.implicits._

/** Pins [[Winnow60Expr]] (single-byte-scan winnowing selection with a
  * monotone-deque sliding min) bit-equal — values AND first-occurrence
  * order — to the functions-only formula it replaces
  * ([[Winnow.fingerprintsFormula]]: transform/substr gram hashes,
  * slice/array_min window minima, array_distinct), over ASCII, unicode,
  * repetition-heavy, under-k/under-w and null-text edge documents.
  */
final class WinnowNativeSpec extends SparkSpec {

  private def ordered(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Long])] = {
    // per-doc fingerprints IN EMISSION ORDER — proves the native dedup
    // preserves array_distinct's first-occurrence order, not just the set
    val withPos = df.withColumn("pos", monotonically_increasing_id())
    withPos.orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toSeq.sortBy(_._1)
  }

  private def check(docs: org.apache.spark.sql.DataFrame, k: Int, w: Int): Unit = {
    val native = ordered(Winnow.fingerprints(docs, "doc_id", "text", k, w))
    val formula = ordered(
      Winnow.fingerprintsFormula(docs, "doc_id", "text", k, w))
    assert(native == formula, s"k=$k w=$w")
  }

  private val edgeDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
    (2L, "short"),                        // under k
    (3L, ""),                             // empty
    (4L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaa"), // all ties: one distinct min
    (5L, "élève 中文 😀 multibyte content stretching past the gram size"),
    (6L, "exactly-k-plus-w-minus-one!"),  // boundary-length doc
    (7L, "ab ab ab ab ab ab ab ab ab ab ab ab ab ab"), // periodic
    (8L, (1 to 40).map(i => s"w$i").mkString(" ")),
    // null text: native gives a NULL array, the formula an empty one;
    // after explode both select no rows
    (9L, null: String)
  ).toDF("doc_id", "text")

  test("native winnowing equals the formula on edge documents (k/w grid)") {
    for ((k, w) <- Seq((8, 4), (20, 8), (1, 1), (5, 2)))
      check(edgeDocs, k, w)
  }

  test("native winnowing equals the formula on random strings") {
    val genText = for {
      n <- Gen.chooseNum(0, 120)
      cs <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.alphaNumChar, 3 -> Gen.const(' '),
        1 -> Gen.oneOf('é', '中', 'ß')))
    } yield cs.mkString
    val rng = new scala.util.Random(17)
    val texts = Gen.listOfN(96, genText)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(rng.nextLong()))
      .getOrElse(sys.error("gen failed"))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    check(docs, 8, 4)
    check(docs, 20, 8)
  }

  test("a null text selects no fingerprints, and fp is never null") {
    val native = Winnow.fingerprints(edgeDocs, "doc_id", "text", 8, 4)
    assert(native.filter(col("doc_id") === 9L).isEmpty)
    // the expression's array is declared containsNull = false, so the
    // exploded fp is non-nullable and a join on fp infers no
    // isnotnull(fp) filter (the q_substring_pairs plan golden relies on it)
    assert(!native.schema("fp").nullable, native.schema.treeString)
  }

  test("the native expression participates in whole-stage codegen") {
    val plan = Winnow.fingerprints(edgeDocs, "doc_id", "text", 8, 4)
      .queryExecution.executedPlan.toString
    // the *(n) operator prefix marks whole-stage-codegen membership
    assert(plan.contains("*(1) Generate explode(graft_winnow60"),
      plan.take(1200))
  }
}
