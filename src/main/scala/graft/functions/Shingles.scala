package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the per-document n-gram shingle pass
  * ([[graft.operators.Dedup.shingles]]), in one compiled pass per row.
  * The builtin chain it replaces runs a regex `split` plus an interpreted
  * `transform` lambda that allocates a `slice` array and an `array_join`
  * string per token position, an `array_distinct` over the n-gram
  * strings, and one md5 per exploded row.
  *
  * BIT-IDENTICAL to the legacy chain (pinned by ShinglesSpec):
  *
  *   transform(array_distinct(
  *     CASE WHEN size(tk) >= n
  *          THEN transform(sequence(1, size(tk)-n+1),
  *                         i -> array_join(slice(tk, i, n), ' '))
  *          ELSE [] END),
  *     g -> CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT))
  *   where tk = split(text, '\\s+')
  *
  * Semantics replicated exactly:
  *  - the tokens are the [[TokenWalk]] parts; boundary empties
  *    PARTICIPATE in n-grams, e.g. " a b" 3-shingles to " a b" (empty +
  *    'a' + 'b' joined by spaces), exactly as array_join did;
  *  - distinctness is on the n-gram STRING value in first-occurrence
  *    order (so an h60 collision between two distinct n-grams still
  *    yields two array entries, as the legacy explode did);
  *  - the emitted long is [[Hashing.h60]] of the n-gram.
  */
case class ShinglesExpr(child: Expression, n: Int)
    extends TextKernelExpr("shingle_hashes", "ShinglesHelper") {
  require(n >= 1, s"shingle_hashes needs n >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def args: Seq[Any] = Seq(n)

  override protected def compute(s: UTF8String): Any = ShinglesHelper.compute(s, n)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShinglesExpr {
  /** Array of h60 hashes of the doc's distinct n-gram shingles. */
  def hashes(text: Column, n: Int): Column =
    SqlBridge.column(ShinglesExpr(SqlBridge.expression(text), n))
}

/** The single-pass scan, Java-callable from generated code. */
object ShinglesHelper {

  def compute(s: UTF8String, n: Int): ArrayData = {
    val tok = new TokenOffsets(s.getBytes).walk()
    val t = tok.count
    if (t < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val seen = new java.util.HashSet[UTF8String]()
    val out = new Array[Long](t - n + 1)
    var nOut = 0
    val digest = Hashing.md5Digest()
    var g = 0
    while (g <= t - n) {
      val gram = tok.join(g, n)
      if (seen.add(UTF8String.fromBytes(gram))) {
        out(nOut) = Hashing.h60(digest, gram, 0, gram.length)
        nOut += 1
      }
      g += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut))
  }
}
