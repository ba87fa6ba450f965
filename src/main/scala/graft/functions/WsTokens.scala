package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native whitespace tokenizer: `split(text, '\\s+')` with Java
  * `String.split(regex, -1)` semantics, as one compiled byte scan.
  *
  * The builtin StringSplit evaluates through `UTF8String.split`, which
  * (as of Spark 4.x) compiles the regex pattern and round-trips the
  * UTF-8 payload through java.lang.String ON EVERY ROW — the tokenize
  * is the scan-stage cost of every text operator (LM scores, tf-idf,
  * DSIR, entropy, vocabulary, BM25, packing). This expression walks the
  * UTF-8 bytes once and emits ZERO-COPY token slices over the same
  * backing array.
  *
  * Exact-equality contract (pinned by WsTokensSpec against
  * `split(text, '\\s+')` on real testdata + edge cases): the tokens are
  * the [[TokenWalk]] parts, boundary empties included.
  */
case class WsTokensExpr(child: Expression)
    extends TextKernelExpr("ws_tokens", "WsTokensHelper") {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def compute(s: UTF8String): Any = WsTokensHelper.compute(s)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WsTokensExpr {
  /** The token array column: one fused compiled pass over `text`. */
  def tokens(text: Column): Column =
    SqlBridge.column(WsTokensExpr(SqlBridge.expression(text)))
}

/** The single-pass scan, Java-callable from generated code. */
object WsTokensHelper {

  private final class Tokens(text: Array[Byte]) extends TokenWalk(text) {
    val out = new java.util.ArrayList[AnyRef](8)
    protected def token(start: Int, end: Int): Unit =
      out.add(UTF8String.fromBytes(bytes, start, end - start)) // zero-copy slice
  }

  def compute(s: UTF8String): ArrayData =
    new GenericArrayData(new Tokens(s.getBytes).walk().out.toArray)
}
