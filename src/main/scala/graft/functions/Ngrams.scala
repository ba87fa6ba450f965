package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram extraction as STRINGS — the sibling of
  * [[ShinglesExpr]] for consumers that need the gram text itself
  * (top-bigram and boilerplate reports), replacing the interpreted
  * `transform(sequence(...), i -> array_join(slice(tk, i, n), ' '))`
  * lambda (plus `array_distinct` when `distinct`).
  *
  * Exact-equality contract (pinned by NgramsSpec against the legacy
  * builtin chain): the tokens are the [[TokenWalk]] parts, boundary
  * empties included, grams are the n consecutive tokens joined by one
  * space, order is positional (or first-occurrence when `distinct`), and
  * docs with fewer than n tokens yield an empty array.
  */
case class NgramsExpr(child: Expression, n: Int, distinct: Boolean)
    extends TextKernelExpr("ngrams", "NgramsHelper") {
  require(n >= 1, s"ngrams needs n >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def args: Seq[Any] = Seq(n, distinct)

  override protected def compute(s: UTF8String): Any = NgramsHelper.compute(s, n, distinct)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramsExpr {
  def grams(text: Column, n: Int, distinct: Boolean): Column =
    SqlBridge.column(NgramsExpr(SqlBridge.expression(text), n, distinct))
}

/** The single-pass scan, Java-callable from generated code. */
object NgramsHelper {

  def compute(s: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val tok = new TokenOffsets(s.getBytes).walk()
    val t = tok.count
    if (t < n) return new GenericArrayData(Array.empty[Any])
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    val out = new java.util.ArrayList[AnyRef](t - n + 1)
    var g = 0
    while (g <= t - n) {
      val u = UTF8String.fromBytes(tok.join(g, n))
      if (seen == null || seen.add(u)) out.add(u)
      g += 1
    }
    new GenericArrayData(out.toArray)
  }
}
