package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The q35/q74/q85 list-item field captures in ONE pass —
  * `list_item_fields(html)` returns
  * struct<h3, meta: array<string>, rc, metascore, description, href>,
  * each field exactly what the matching regex call of the DuckDB oracle
  * SQL returns on the same row:
  *
  * | field | regex (group 1) |
  * | --- | --- |
  * | h3 | `<h3 class="ipc-title__text">([^<]*)</h3>` |
  * | meta | all of `<span class="[^"]*dli-title-metadata-item[^"]*">([^<]*)</span>` |
  * | rc | `<div class="[^"]*dli-ratings-container[^"]*">([^<]*)</div>` |
  * | metascore | `<span class="[^"]*metacritic-score-box[^"]*">([^<]*)</span>` |
  * | description | `<div class="[^"]*title-description-plot-container[^"]*">([^<]*)</div>` |
  * | href | `dli-title with-margin"><a href="([^"]*)"` |
  *
  * `regexp_extract` returns `''` when nothing matches, and so does each
  * scalar field; `meta` is `regexp_extract_all`'s array, `[]` when
  * nothing matches.
  *
  * Exists because the six regex calls decode the UTF-8 `html` six times
  * and rescan it six times per row; this walks the bytes once inside
  * codegen. Every delimiter is ASCII, and in UTF-8 an ASCII byte only
  * ever encodes that ASCII character, so matching on bytes matches the
  * decoded string. Each regex starts with a literal and its rest can
  * match in at most one way (a `[^x]*` run must stop at the first `x`,
  * since the next pattern character is `x`). A regex therefore matches
  * at a position iff its literal starts there and that single
  * continuation succeeds; the scan tries every position left to right,
  * so each field takes the leftmost such position, retrying past a
  * failed candidate as `Matcher.find` does, and `meta` resumes after
  * the end of its previous match as `regexp_extract_all` does.
  *
  * A capture holding malformed UTF-8 is returned as the regex returns
  * it, decoded with replacement characters. Null html → null
  * (UnaryExpression's null-safe path), so every field reads null, as
  * each regex call returns null. ListItemFieldsSpec pins the
  * equivalence against the regex form. */
case class ListItemFields(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ListItemFields.Schema

  override def prettyName: String = "list_item_fields"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"list_item_fields expects string, got ${other.simpleString}")
    }

  override protected def nullSafeEval(a: Any): Any =
    ListItemFields.parse(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ListItemFields.parse($a);")

  override protected def withNewChildInternal(newChild: Expression): ListItemFields =
    copy(child = newChild)
}

object ListItemFields {
  private val Schema: StructType = new StructType()
    .add("h3", StringType, nullable = false)
    .add("meta", ArrayType(StringType, containsNull = false), nullable = false)
    .add("rc", StringType, nullable = false)
    .add("metascore", StringType, nullable = false)
    .add("description", StringType, nullable = false)
    .add("href", StringType, nullable = false)

  private def ascii(s: String): Array[Byte] = s.getBytes(US_ASCII)
  private val Lt = '<'.toByte
  private val Gt = '>'.toByte
  private val Quote = '"'.toByte
  private val H3Open = ascii("<h3 class=\"ipc-title__text\">")
  private val H3Close = ascii("</h3>")
  private val SpanOpen = ascii("<span class=\"")
  private val SpanClose = ascii("</span>")
  private val DivOpen = ascii("<div class=\"")
  private val DivClose = ascii("</div>")
  private val MetaClass = ascii("dli-title-metadata-item")
  private val RatingsClass = ascii("dli-ratings-container")
  private val ScoreClass = ascii("metacritic-score-box")
  private val PlotClass = ascii("title-description-plot-container")
  private val HrefOpen = ascii("dli-title with-margin\"><a href=\"")

  /** A capture as `start << 32 | end` (byte offsets, end exclusive), or
    * [[NoMatch]]. */
  private final val NoMatch = -1L
  private def span(start: Int, end: Int): Long = (start.toLong << 32) | end
  private def startOf(s: Long): Int = (s >>> 32).toInt
  private def endOf(s: Long): Int = s.toInt

  private def at(b: Array[Byte], i: Int, lit: Array[Byte]): Boolean =
    i + lit.length <= b.length && {
      var k = 0
      while (k < lit.length && b(i + k) == lit(k)) k += 1
      k == lit.length
    }

  /** First index of byte `c` in `b` at or after `from`, or `b.length`. */
  private def next(b: Array[Byte], from: Int, c: Byte): Int = {
    var j = from
    while (j < b.length && b(j) != c) j += 1
    j
  }

  private def contains(b: Array[Byte], from: Int, until: Int, lit: Array[Byte]): Boolean = {
    var j = from
    while (j + lit.length <= until) {
      if (at(b, j, lit)) return true
      j += 1
    }
    false
  }

  /** `([^<]*)` then `close`, starting at `from`. */
  private def textAt(b: Array[Byte], from: Int, close: Array[Byte]): Long = {
    val e = next(b, from, Lt)
    if (at(b, e, close)) span(from, e) else NoMatch
  }

  /** `[^"]*cls[^"]*">([^<]*)` then `close`, where `from` is just past
    * the class attribute's opening quote. */
  private def classedTextAt(b: Array[Byte], from: Int, cls: Array[Byte], close: Array[Byte]): Long = {
    val q = next(b, from, Quote)
    if (q + 1 < b.length && b(q + 1) == Gt && contains(b, from, q, cls)) textAt(b, q + 2, close)
    else NoMatch
  }

  /** `([^"]*)"`, starting at `from`. */
  private def quotedAt(b: Array[Byte], from: Int): Long = {
    val q = next(b, from, Quote)
    if (q < b.length) span(from, q) else NoMatch
  }

  private def str(b: Array[Byte], s: Long): UTF8String =
    if (s == NoMatch) UTF8String.EMPTY_UTF8
    else {
      val u = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, startOf(s), endOf(s)))
      if (u.isValid) u else UTF8String.fromString(u.toString)
    }

  /** Shared by interpreted eval and generated code. */
  def parse(html: UTF8String): InternalRow = {
    val b = html.getBytes
    var h3, rc, score, plot, href = NoMatch
    val meta = new scala.collection.mutable.ArrayBuffer[Any](4)
    var metaFrom = 0 // regexp_extract_all resumes at the previous match's end
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c == Lt) {
        if (h3 == NoMatch && at(b, i, H3Open)) h3 = textAt(b, i + H3Open.length, H3Close)
        else if (at(b, i, SpanOpen)) {
          val v = i + SpanOpen.length
          if (i >= metaFrom) {
            val m = classedTextAt(b, v, MetaClass, SpanClose)
            if (m != NoMatch) { meta += str(b, m); metaFrom = endOf(m) + SpanClose.length }
          }
          if (score == NoMatch) score = classedTextAt(b, v, ScoreClass, SpanClose)
        } else if (at(b, i, DivOpen)) {
          val v = i + DivOpen.length
          if (rc == NoMatch) rc = classedTextAt(b, v, RatingsClass, DivClose)
          if (plot == NoMatch) plot = classedTextAt(b, v, PlotClass, DivClose)
        }
      } else if (c == HrefOpen(0) && href == NoMatch && at(b, i, HrefOpen)) {
        href = quotedAt(b, i + HrefOpen.length)
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](str(b, h3), new GenericArrayData(meta.toArray),
      str(b, rc), str(b, score), str(b, plot), str(b, href)))
  }
}
