package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the rolling document-fingerprint fold
  * ([[graft.operators.TextAnalysis.fingerprint]]), in one compiled pass
  * per row. The builtin formulation it replaces is
  *
  *   aggregate(
  *     transform(split(text, '\\s+'),
  *               x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)
  *                    % 1000003),
  *     0L, (acc, x) -> (acc * 31 + x) % 2147483647)
  *
  * whose `transform`/`aggregate` lambdas run INTERPRETED (~1µs/element,
  * no codegen) over a materialized token array plus a transformed copy
  * per row. Unlike the SimHash/Shingles folds this one is ORDER- and
  * MULTIPLICITY-sensitive (a sequential hash chain).
  *
  * Semantics replicated exactly (pinned by FingerprintSpec against the
  * original expression tree on the real corpus + boundary cases):
  *  - every [[TokenWalk]] part, boundary empties included (" " yields
  *    two), contributes one fold step, in document order, with
  *    multiplicity;
  *  - the per-token value is [[Hashing.h60]] of the token reduced mod
  *    1000003;
  *  - the fold is exact long arithmetic: acc = (acc*31 + x) % 2147483647,
  *    every operand non-negative and far below overflow.
  */
case class FingerprintExpr(child: Expression)
    extends TextKernelExpr("doc_fingerprint", "FingerprintHelper") {

  override def dataType: DataType = LongType

  override protected def compute(s: UTF8String): Any = FingerprintHelper.compute(s)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FingerprintExpr {
  /** The rolling-hash fingerprint column: one fused compiled pass. */
  def fp(text: Column): Column =
    SqlBridge.column(FingerprintExpr(SqlBridge.expression(text)))
}

/** The single-pass ordered fold, Java-callable from generated code. */
object FingerprintHelper {

  private final class Fold(text: Array[Byte]) extends TokenWalk(text) {
    var acc = 0L
    private val digest = Hashing.md5Digest()
    protected def token(start: Int, end: Int): Unit =
      acc = (acc * 31L + Hashing.h60(digest, bytes, start, end - start) % 1000003L) %
        2147483647L
  }

  def compute(s: UTF8String): Long = new Fold(s.getBytes).walk().acc
}
