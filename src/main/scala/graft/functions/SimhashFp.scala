package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the 60-bit SimHash fingerprint fold
  * ([[graft.operators.Dedup.simhashFingerprints]]), in one compiled pass
  * per row. The builtin formulation evaluates, per DISTINCT token, a
  * `zip_with` lambda over a 60-element accumulator array — interpreted
  * (~1µs per element, no codegen), so every token pays ~60 closure
  * dispatches plus two 60-element array allocations.
  *
  * BIT-IDENTICAL to the legacy builtin formula (pinned by SimhashFpSpec
  * against the original expression tree):
  *
  *   aggregate(
  *     transform(array_distinct(split(text, '\\s+')),
  *               t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)),
  *     array_repeat(0L, 60),
  *     (acc, h) -> zip_with(acc, sequence(0, 59),
  *                   (a, i) -> a + IF((h div 2^i) % 2 = 1, 1, -1)),
  *     acc -> SUM over i of IF(acc[i] > 0, 2^i, 0))
  *
  * Semantics replicated exactly:
  *  - the tokens are the [[TokenWalk]] parts; distinctness is on token
  *    VALUE (byte equality), not on the hash, so the two boundary empties
  *    of " x " vote once, as after array_distinct;
  *  - the 60-bit hash is [[Hashing.h60]] of the token;
  *  - bit i of the fingerprint is set iff the ±1 vote sum over distinct
  *    tokens is strictly positive.
  */
case class SimhashFpExpr(child: Expression)
    extends TextKernelExpr("simhash_fp", "SimhashFpHelper") {

  override def dataType: DataType = LongType

  override protected def compute(s: UTF8String): Any = SimhashFpHelper.compute(s)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimhashFpExpr {
  /** The fingerprint column: one fused compiled pass over `text`. */
  def fp(text: Column): Column =
    SqlBridge.column(SimhashFpExpr(SqlBridge.expression(text)))
}

/** The single-pass fold, Java-callable from generated code. */
object SimhashFpHelper {

  val Bits = 60

  private final class Votes(text: Array[Byte]) extends TokenWalk(text) {
    val acc = new Array[Int](Bits)
    private val seen = new java.util.HashSet[UTF8String]()
    private val digest = Hashing.md5Digest()

    protected def token(start: Int, end: Int): Unit =
      if (seen.add(UTF8String.fromBytes(bytes, start, end - start))) {
        val h = Hashing.h60(digest, bytes, start, end - start)
        var i = 0
        while (i < Bits) {
          acc(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
          i += 1
        }
      }
  }

  def compute(s: UTF8String): Long = {
    val acc = new Votes(s.getBytes).walk().acc
    var fp = 0L
    var b = 0
    while (b < Bits) {
      if (acc(b) > 0) fp |= 1L << b
      b += 1
    }
    fp
  }
}
