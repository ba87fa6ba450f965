package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The Catalyst shell shared by the text kernels: one STRING child (any
  * other type fails analysis with an error naming `kernel`, and is never
  * implicitly cast), null in gives null out, the interpreted path calls
  * [[compute]] and generated code calls the static
  * `graft.functions.<helper>.compute(child, args...)`. Serializable, as
  * the kernels ship to tasks by Java serialization, which needs every
  * class between a case class and `UnaryExpression` to be.
  */
private[functions] abstract class TextKernelExpr(kernel: String, helper: String)
    extends UnaryExpression with Serializable {

  /** Constant trailing arguments of `compute`, spliced into the generated
    * call as Java literals.
    */
  protected def args: Seq[Any] = Nil

  protected def compute(s: UTF8String): Any

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$kernel expects a STRING child, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.$helper.compute(${(c +: args).mkString(", ")});")
}

/** The token rule of every text kernel: the parts of Java
  * `text.split("\\s+", -1)`, walked once over the text's UTF-8 `bytes`.
  * Separators are runs of Java-regex `\s` = ASCII [ \t\n\x0B\f\r]
  * (multi-byte whitespace codepoints are token bytes). A leading
  * separator run, or an empty text, gives an empty first part at (0, 0);
  * a trailing run gives an empty last part at (n, n); so " " has two
  * empty parts and "" one. A kernel subclasses the walk and receives
  * each part, in document order, through [[token]].
  */
private[functions] abstract class TokenWalk(protected val bytes: Array[Byte]) {

  /** One part: `bytes` `[start, end)`. */
  protected def token(start: Int, end: Int): Unit

  final def walk(): this.type = {
    val n = bytes.length
    if (n == 0 || TokenWalk.isWs(bytes(0))) token(0, 0)
    var i = 0
    while (i < n) {
      if (!TokenWalk.isWs(bytes(i))) {
        val start = i
        i += 1
        while (i < n && !TokenWalk.isWs(bytes(i))) i += 1
        token(start, i)
      } else i += 1
    }
    if (n > 0 && TokenWalk.isWs(bytes(n - 1))) token(n, n)
    this
  }
}

private[functions] object TokenWalk {
  def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 11 || b == '\f' || b == '\r'
}

/** The walk's parts as offsets in growable `int[]` buffers (no per-token
  * boxing), with the n-gram join the gram and phrase kernels build from.
  */
private[functions] class TokenOffsets(text: Array[Byte]) extends TokenWalk(text) {
  var starts: Array[Int] = new Array[Int](16)
  var ends: Array[Int] = new Array[Int](16)
  var count: Int = 0

  protected def token(start: Int, end: Int): Unit = {
    if (count == starts.length) {
      starts = java.util.Arrays.copyOf(starts, count * 2)
      ends = java.util.Arrays.copyOf(ends, count * 2)
    }
    starts(count) = start
    ends(count) = end
    count += 1
  }

  /** Tokens `from` until `from + n` joined by single spaces:
    * `array_join(slice(tk, from + 1, n), ' ')`.
    */
  def join(from: Int, n: Int): Array[Byte] = {
    // buffers in locals: the copy loop then keeps them in registers
    val st = starts
    val en = ends
    val until = from + n
    var len = n - 1
    var j = from
    while (j < until) { len += en(j) - st(j); j += 1 }
    val out = new Array[Byte](len)
    var p = 0
    j = from
    while (j < until) {
      if (j > from) { out(p) = ' '; p += 1 }
      val l = en(j) - st(j)
      System.arraycopy(bytes, st(j), out, p, l)
      p += l
      j += 1
    }
    out
  }
}
