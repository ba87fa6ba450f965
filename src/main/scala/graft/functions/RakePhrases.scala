package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native RAKE candidate-phrase segmentation: the maximal stopword-free
  * token runs of a document, each joined by single spaces, in document
  * order — one compiled byte scan.
  *
  * Replaces the interpreted chain in
  * [[graft.operators.TextAnalysis.rakeKeyphrases]]:
  *
  *   flag   = transform(tk, t -> array_contains(stops, t))        // HOF
  *   starts = filter(sequence(1, size(tk)), i -> ...)             // HOF
  *   stops  = filter(sequence(1, size(tk)), i -> element_at(...)) // HOF
  *   explode(transform(starts, s -> array_join(slice(tk, s, ...)))) // HOF
  *
  * Each of those lambdas runs INTERPRETED per token (guide §4), and the
  * chain materializes the token array plus three derived arrays per row.
  *
  * Exact-equality contract (pinned by RakePhrasesSpec against the legacy
  * expression tree): tokens are the [[TokenWalk]] parts (boundary
  * empties included — the empty token is in the stop set, so it only ever
  * acts as a run boundary), the stop set is the fixed RAKE list
  * ('the','a','of','and','to','in','is',''), a phrase is a maximal run of
  * consecutive non-stop tokens joined by ' ', and phrases emit in
  * positional order with multiplicity. Docs with no non-stop token yield
  * an empty array.
  */
case class RakePhrasesExpr(child: Expression)
    extends TextKernelExpr("rake_phrases", "RakePhrasesHelper") {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def compute(s: UTF8String): Any = RakePhrasesHelper.compute(s)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RakePhrasesExpr {
  /** The phrase array column: one fused compiled pass over `text`. */
  def phrases(text: Column): Column =
    SqlBridge.column(RakePhrasesExpr(SqlBridge.expression(text)))
}

/** The single-pass scan, Java-callable from generated code. */
object RakePhrasesHelper {

  /** The fixed RAKE stop list (the '' entry is subsumed by the run
    * logic: an empty boundary token never extends a run).
    */
  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  private val stopBytes: Array[Array[Byte]] =
    StopWords.map(_.getBytes(StandardCharsets.UTF_8)).toArray

  private def isStop(bytes: Array[Byte], start: Int, len: Int): Boolean = {
    if (len == 0) return true
    var w = 0
    while (w < stopBytes.length) {
      val sw = stopBytes(w)
      if (sw.length == len) {
        var k = 0
        while (k < len && bytes(start + k) == sw(k)) k += 1
        if (k == len) return true
      }
      w += 1
    }
    false
  }

  /** The offsets of the current run of non-stop tokens; a stop token
    * (boundary empties included) flushes the run as one phrase.
    */
  private final class Phrases(text: Array[Byte]) extends TokenOffsets(text) {
    val out = new java.util.ArrayList[AnyRef](4)

    override protected def token(start: Int, end: Int): Unit =
      if (isStop(bytes, start, end - start)) flush() else super.token(start, end)

    def flush(): Unit =
      if (count > 0) {
        // a single-token phrase is a zero-copy slice of the backing array
        out.add(
          if (count == 1) UTF8String.fromBytes(bytes, starts(0), ends(0) - starts(0))
          else UTF8String.fromBytes(join(0, count)))
        count = 0
      }
  }

  def compute(s: UTF8String): ArrayData = {
    val p = new Phrases(s.getBytes).walk()
    p.flush()
    new GenericArrayData(p.out.toArray)
  }
}
