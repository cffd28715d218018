package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the winnowing selection — the cost
  * center of the exact-substring dedup family ([[Winnow.fingerprints]]).
  *
  * Semantically identical, up to NULL input (below), to the
  * functions-only spelling
  * {{{
  *   hs  = transform(sequence(1, length(t) - k + 1),
  *                   i -> graft_hash60(substr(t, i, k)))          // if length >= k
  *   sel = array_distinct(transform(sequence(1, size(hs) - w + 1),
  *                   j -> array_min(slice(hs, j, w))))            // if size >= w
  * }}}
  * but computed in ONE pass over the UTF-8 bytes. The formula is
  * quadratic in practice: every `substr(t, i, k)` seeks code point `i`
  * from the start of the string (O(L) per gram ⇒ O(L²) per document)
  * and materializes a k-char slice, and every window pays an O(w)
  * `slice` allocation + `array_min` scan. Here the code-point starts
  * are indexed once (O(L)), each gram's md5 is fed the SHARED byte
  * array directly (no slice strings), and the sliding minima come from
  * a monotone deque (O(g) amortized, no allocation per window). Dedup
  * preserves first-occurrence order exactly like `array_distinct`.
  *
  * One difference: a NULL text gives a NULL array here, where the
  * formula's CASE guards give an empty array. The two agree after
  * `explode` (no rows either way), and [[Winnow.fingerprints]] only
  * ever explodes the result. The array is declared
  * `containsNull = false`, so the exploded `fp` column is non-nullable.
  *
  * Bit-equality with the formula (including multi-byte code points,
  * under-k, under-w and null-text edge cases) is pinned by
  * `WinnowNativeSpec`.
  * Registered as SQL function `graft_winnow60(text, k, w)` via
  * [[GraftExtensions]]; `k` and `w` must be literals.
  */
final case class Winnow60Expr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow60"

  override protected def nullSafeEval(input: Any): Any =
    Winnow60.fingerprints(input.asInstanceOf[UTF8String].getBytes, k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Winnow60.fingerprints($c.getBytes(), $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Winnow60Expr =
    copy(child = newChild)
}

object Winnow60 {

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Selected distinct winnowing fingerprints of the UTF-8 bytes:
    * 60-bit md5 hashes of all code-point k-grams, sliding-window (w)
    * minima, first-occurrence-order distinct. Empty when the text is
    * shorter than k code points or has fewer than w grams — matching
    * the formula's CASE guards. Called from generated code — keep the
    * signature Java-primitive.
    */
  def fingerprints(bytes: Array[Byte], k: Int, w: Int): ArrayData = {
    // code-point start offsets (UTF-8 continuation bytes have 10xxxxxx);
    // offs(L) = bytes.length sentinel so gram i spans offs(i)..offs(i+k)
    val n = bytes.length
    var cps = 0
    var i = 0
    while (i < n) { if ((bytes(i) & 0xc0) != 0x80) cps += 1; i += 1 }
    val g = cps - k + 1
    if (g < w) return Empty // covers length < k (g <= 0) and size(hs) < w
    val offs = new Array[Int](cps + 1)
    var c = 0
    i = 0
    while (i < n) { if ((bytes(i) & 0xc0) != 0x80) { offs(c) = i; c += 1 }; i += 1 }
    offs(cps) = n
    val md = digests.get()
    val hs = new Array[Long](g)
    i = 0
    while (i < g) {
      md.reset()
      md.update(bytes, offs(i), offs(i + k) - offs(i))
      val d = md.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      hs(i) = v >>> 4
      i += 1
    }
    // monotone deque sliding min: deque holds indices of a strictly
    // increasing value run; popping >= on entry keeps the window min at
    // the head (ties collapse to the same value either way)
    val deque = new Array[Int](g)
    var head = 0
    var tail = 0
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new java.util.ArrayList[java.lang.Long]()
    var j = 0
    while (j < g) {
      while (tail > head && hs(deque(tail - 1)) >= hs(j)) tail -= 1
      deque(tail) = j; tail += 1
      if (deque(head) <= j - w) head += 1
      if (j >= w - 1) {
        val m = hs(deque(head))
        if (seen.add(m)) { out.add(m); () }
      }
      j += 1
    }
    val res = new Array[Long](out.size())
    i = 0
    while (i < res.length) { res(i) = out.get(i); i += 1 }
    new GenericArrayData(res)
  }

  private val Empty = new GenericArrayData(Array.empty[Long])

  /** Column wrapper; self-registers on vanilla sessions like the other
    * graft expressions.
    */
  def column(c: Column, k: Int, w: Int): Column = {
    GraftExtensions.ensureRegistered()
    call_function("graft_winnow60", c, lit(k), lit(w))
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other =>
      throw new IllegalArgumentException(s"$what must be a literal int, got $other")
  }

  val functionDescription: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_winnow60"),
    new ExpressionInfo(classOf[Winnow60Expr].getName, "graft_winnow60"),
    (children: Seq[Expression]) => {
      require(children.length == 3, "graft_winnow60 takes (text, k, w)")
      Winnow60Expr(Cast(children.head, StringType),
        litInt(children(1), "gram length k"), litInt(children(2), "window w"))
    })
}
