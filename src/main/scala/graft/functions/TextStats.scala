package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the per-document text-screen hot path.
  *
  * Every text-quality screen (quality composite, Gopher rules, the linear
  * quality model, lang-id marker voting) derives from the same handful of
  * whitespace-token statistics. Computing them with builtins costs one
  * regex `split` (array allocation) plus one INTERPRETED higher-order
  * lambda (~1µs/token — `filter`/`aggregate` have no codegen) per
  * statistic per row; profiled on the documents corpus the screen stack
  * paid 2-4 split()+lambda evaluations per row even after manual
  * projection-level CSE.
  *
  * TextStats replaces all of it with ONE [[TokenWalk]] over the UTF-8
  * bytes — no regex, no token array, no lambda dispatch — and a scan of
  * each token's bytes as the walk hands it over, returning a struct of
  * counters that are BIT-IDENTICAL to the builtin formulas they replace
  * (pinned by TextStatsSpec against the legacy expressions):
  *
  *  - `n_tokens`      = size(split(text, '\\s+'))              (the
  *    walk's part count, boundary empties included: separator runs + 1)
  *  - `sum_tok_chars` = aggregate(tk, 0L, (a,x) -> a + length(x))
  *  - `n_alpha`       = size(filter(tk, x -> x rlike '[a-z]'))
  *  - `n_stops`       = size(filter(tk, x -> x IN ('the','a','of','and',
  *    'to','in','is')))
  *  - `n_symbol`      = regexp_count(text, '[^a-z0-9\\s]')     (one count
  *    per non-matching CODEPOINT — multi-byte lead bytes count once)
  *  - `c_the/c_der/c_el/c_le` = size(filter(tk, x -> x = '<marker>')) —
  *    the lang-id marker votes.
  *
  * `\s` here is the walk's Java-regex ASCII whitespace — the same
  * class `split(text, '\\s+')` used, so non-ASCII spaces are token chars
  * (and symbols), exactly as before. DuckDB oracle twins keep using the
  * regex formulas; equality holds because the counters are integers.
  */
case class TextStatsExpr(child: Expression)
    extends TextKernelExpr("text_stats", "TextStatsHelper") {

  override def dataType: DataType = TextStatsExpr.schema

  override protected def compute(s: UTF8String): Any = TextStatsHelper.compute(s)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextStatsExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_tok_chars", LongType, nullable = false),
    StructField("n_alpha", LongType, nullable = false),
    StructField("n_stops", LongType, nullable = false),
    StructField("n_symbol", LongType, nullable = false),
    StructField("c_the", LongType, nullable = false),
    StructField("c_der", LongType, nullable = false),
    StructField("c_el", LongType, nullable = false),
    StructField("c_le", LongType, nullable = false)))

  /** The struct column: one fused pass over `text`. */
  def stats(text: Column): Column =
    SqlBridge.column(TextStatsExpr(SqlBridge.expression(text)))
}

/** The single-pass scan, Java-callable from generated code (static
  * forwarder). Reads the row's UTF-8 bytes: ASCII classes
  * ([a-z], [0-9]) are single-byte tests; multi-byte codepoints are
  * counted at their lead byte ((b & 0xC0) != 0x80) so char counts match
  * UTF8String.numChars and per-codepoint regex match counts.
  */
object TextStatsHelper {

  private final class Counts(text: Array[Byte]) extends TokenWalk(text) {
    var nTokens, sumLen, nAlpha, nStops, nSym, cThe, cDer, cEl, cLe = 0L

    // every non-separator byte lies in a token, so the per-token scan
    // also covers n_symbol; the stop/marker words are all ≤ 3 ASCII
    // bytes, so a byte-length switch + direct byte compares suffice
    protected def token(start: Int, end: Int): Unit = {
      nTokens += 1
      var hasAlpha = false
      var i = start
      while (i < end) {
        val b = bytes(i)
        if ((b & 0xC0) != 0x80) { // non-continuation: one codepoint
          sumLen += 1
          if (b >= 'a' && b <= 'z') hasAlpha = true
          else if (!(b >= '0' && b <= '9')) nSym += 1
        }
        i += 1
      }
      if (hasAlpha) nAlpha += 1
      val len = end - start
      if (len >= 1 && len <= 3) {
        val b0 = bytes(start)
        if (len == 1) {
          if (b0 == 'a') nStops += 1
        } else {
          val b1 = bytes(start + 1)
          if (len == 2) {
            if (b0 == 'o' && b1 == 'f') nStops += 1
            else if (b0 == 't' && b1 == 'o') nStops += 1
            else if (b0 == 'i' && (b1 == 'n' || b1 == 's')) nStops += 1
            else if (b0 == 'e' && b1 == 'l') cEl += 1
            else if (b0 == 'l' && b1 == 'e') cLe += 1
          } else {
            val b2 = bytes(start + 2)
            if (b0 == 't' && b1 == 'h' && b2 == 'e') { nStops += 1; cThe += 1 }
            else if (b0 == 'a' && b1 == 'n' && b2 == 'd') nStops += 1
            else if (b0 == 'd' && b1 == 'e' && b2 == 'r') cDer += 1
          }
        }
      }
    }
  }

  def compute(s: UTF8String): InternalRow = {
    val c = new Counts(s.getBytes).walk()
    new GenericInternalRow(Array[Any](
      c.nTokens, c.sumLen, c.nAlpha, c.nStops, c.nSym, c.cThe, c.cDer, c.cEl, c.cLe))
  }
}
