package graft

import graft.etl.Extract
import graft.sources.{FetchSource, StubListPageFetcher}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `list_item_fields` ([[graft.functions.ListItemFields]]) against the
  * six regex calls it replaced in `Extract.parseListItem`, which the
  * DuckDB oracle SQL still runs: every field must equal its regex call
  * on every row — the corpus rows q35 and q74 parse, and inputs built to
  * break a scanner that does not retry, decode or delimit the way
  * `Matcher.find` does. */
class ListItemFieldsSpec extends SparkSpec {
  import spark.implicits._

  /** The retired regex spelling of the six captures — the differential
    * reference, field for field in the kernel's struct order. */
  private val regexFields: String =
    """named_struct(
      |  'h3', regexp_extract(html, '<h3 class="ipc-title__text">([^<]*)</h3>', 1),
      |  'meta', regexp_extract_all(html, '<span class="[^"]*dli-title-metadata-item[^"]*">([^<]*)</span>', 1),
      |  'rc', regexp_extract(html, '<div class="[^"]*dli-ratings-container[^"]*">([^<]*)</div>', 1),
      |  'metascore', regexp_extract(html, '<span class="[^"]*metacritic-score-box[^"]*">([^<]*)</span>', 1),
      |  'description', regexp_extract(html, '<div class="[^"]*title-description-plot-container[^"]*">([^<]*)</div>', 1),
      |  'href', regexp_extract(html, 'dli-title with-margin"><a href="([^"]*)"', 1))""".stripMargin

  /** (html, kernel struct, regex struct) per row of `df`'s `html`. */
  private def both(df: DataFrame): Seq[Row] = {
    graft.functions.VectorExprs.register(spark)
    df.select(col("html"), expr("list_item_fields(html)"), expr(regexFields)).collect().toSeq
  }

  /** The six field values; a null struct reads as six nulls, as a
    * field of a null struct does. */
  private def fields(r: Row, i: Int): Seq[Any] =
    if (r.isNullAt(i)) Seq.fill(6)(null) else r.getStruct(i).toSeq

  private def assertSameFields(df: DataFrame, minRows: Int): Unit = {
    val rows = both(df)
    assert(rows.size >= minRows, s"only ${rows.size} rows")
    val diffs = rows.filter(r => fields(r, 1) != fields(r, 2))
    assert(diffs.isEmpty, s"${diffs.size} of ${rows.size} rows differ, e.g.:\n" +
      diffs.take(3).map(r => s"html=${r.get(0)}\n  kernel=${r.get(1)}\n  regex =${r.get(2)}").mkString("\n"))
  }

  test("every q35 and q74 list item of the corpus parses as the regexes do") {
    val q35 = Tables.part(spark, sf).select(expr(Extract.listItemSynthSql).as("html"))
    val urls = Tables.part(spark, sf).select(
      concat(lit("https://fixture.local/title/tt"), col("p_partkey"), lit("/")).as("url"))
    val q74 = FetchSource.fetchHtml(urls, "url", () => new StubListPageFetcher).select("html")
    val parts = Tables.part(spark, sf).count().toInt
    assertSameFields(q35, parts)
    assertSameFields(q74, parts)
    // the corpus reaches every field, so the equality is not all-empty
    def captured(v: Any): Boolean = v match {
      case s: String => s.nonEmpty
      case a: scala.collection.Seq[_] => a.nonEmpty
    }
    val got = both(q35).map(_.getStruct(1))
    (0 until 6).foreach(i => assert(got.exists(s => captured(s.get(i))), s"field $i never captured"))
  }

  test("adversarial list items parse as the regexes do") {
    val h3 = """<h3 class="ipc-title__text">"""
    def span(cls: String, body: String) = s"""<span class="$cls">$body</span>"""
    def div(cls: String, body: String) = s"""<div class="$cls">$body</div>"""
    val meta = "m dli-title-metadata-item"
    val nbsp = 160.toChar
    val href = """<div class="ipc-title dli-title with-margin"><a href="/title/tt1/">x</a></div>"""
    val cases = Seq(
      // an unclosed attribute quote: the value runs to the next quote
      s"""<span class="$meta>1994</span>${span(meta, "142m")}""",
      s"""<div class="r dli-ratings-container>9.3""",
      """<div class="ipc-title dli-title with-margin"><a href="/title/tt1/>x</a>""",
      // the class token after the attribute's closing quote
      s"""<span class="m" data-c="dli-title-metadata-item">1994</span>""",
      s"""<div class="r" id="dli-ratings-container">9.3</div>${div("p", "plot")}""",
      // a wrong close tag, then a good element: the next candidate wins
      s"""${h3}1. Wrong</h2>${h3}2. Right</h3>""",
      s"""<span class="$meta"><span class="$meta">nested</span>${span(meta, "b")}""",
      s"""<div class="r dli-ratings-container">8.1</span>${div("r dli-ratings-container", "9.0 (1K)")}""",
      s"""${span("s metacritic-score-box", "77</b>")}${span("s metacritic-score-box", "78")}""",
      s"""<div class="p title-description-plot-container">a<br>b</div>${div("title-description-plot-container", "c")}""",
      s"""<div class="<div class="r dli-ratings-container">9.1</div>""",
      s"""${h3}<h3 class="ipc-title__text">3. Inner</h3>""",
      // empty captures
      s"""$h3</h3>${span(meta, "")}${span(meta, "")}${div("r dli-ratings-container", "")}""" +
        """<div class="x dli-title with-margin"><a href="">x</a></div>""",
      s"""<span class="">${span("metacritic-score-box", "")}</span>""",
      // CR/LF inside captures and class values
      s"""${h3}4.\r\nTitle\nTwo</h3>${span("a\r\ndli-title-metadata-item\n", "1\r\n2")}""" +
        div("title-description-plot-container\r\n", "line1\r\nline2\n"),
      // multi-byte text: two-, three- and four-byte UTF-8, and chr(160)
      s"""${h3}5. Café 汉字 😀</h3>${span("é dli-title-metadata-item 汉", "😀 1994")}""" +
        s"""${div("😀 dli-ratings-container", s"9.3${nbsp}(2.9M)")}${div("汉 title-description-plot-container", "é 汉😀")}""" +
        """<div class="ipc-title dli-title with-margin"><a href="/title/é汉😀/">x</a></div>""",
      // one span carrying two tokens feeds both fields; four spans, four items
      s"""${span("dli-title-metadata-item metacritic-score-box", "66")}${span(meta, "a")}${span(meta, "b")}${span(meta, "c")}""",
      // truncated inputs
      s"""${span(meta, "1994")}<span class="$meta">1995</spa""",
      s"""$href<h3 class="ipc-title__text">6. Cut""",
      "<", "<span class=\"", "dli-title with-margin\"><a href=\"",
      "", "<html>nothing relevant</html>", "not html at all")
    assertSameFields((cases.map(Option(_)) :+ None).toDF("html"), cases.size + 1)
  }

  test("malformed UTF-8 inside a capture decodes as the regex path decodes it") {
    // 0xC3 0x28 and a lone 0xFF are invalid sequences; the regex path
    // replaces them with U+FFFD
    val bytes = """<h3 class="ipc-title__text">a""".getBytes("UTF-8") ++
      Array(0xC3, 0x28, 0xFF).map(_.toByte) ++ "b</h3>".getBytes("UTF-8")
    val df = Seq(Tuple1(bytes)).toDF("b").select(col("b").cast("string").as("html"))
    assertSameFields(df, 1)
    assert(both(df).head.getStruct(1).getString(0).contains("�"))
  }

  test("null html nulls the struct and every field") {
    val r = both(Seq(Option.empty[String]).toDF("html")).head
    assert(r.isNullAt(1) && fields(r, 2).forall(_ == null))
    val parsed = Extract.parseListItem(Seq(Option.empty[String]).toDF("html"), "html")
      .drop("html").head
    assert((0 until parsed.length).forall(parsed.isNullAt), s"non-null field in $parsed")
  }
}
