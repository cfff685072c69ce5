package graft.etl

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** The reference's extraction front door (SURVEY.md §2.1 S1/S2, §2.2 P1–P5)
  * re-expressed Spark-first: HTML arrives as rows of text (fixture files,
  * or at scale a `mapPartitions` fetch over a URL column feeding the same
  * parse), and every field extraction is a native Catalyst expression
  * with the reference's per-field null-on-malformed semantics
  * (`webscraper-postgres.py:36–70,81–95`: every `try/except → np.nan`
  * branch becomes a null, never an error).
  *
  * No jsoup/UDF: the structures are class-marked, so each CSS-class
  * selector is a literal tag prefix plus a class-token test. The list
  * item's six selectors run as one native byte scan
  * ([[graft.functions.ListItemFields]]), the detail page's as anchored
  * regexes; everything stays inside whole-stage codegen. Correctness
  * gate: q35/q36 synthesize item HTML from parquet rows (with a
  * deterministic malformed-variant per row exercising every null branch)
  * and DuckDB runs the identical synthesis + the regex parse — plus
  * fixture files under src/test/resources/html exercised by ExtractSpec.
  */
object Extract {

  // ---------------------------------------------------------------- S1/P1
  /** List-item parse (`get_element_data`, webscraper-postgres.py:36–70).
    * Input column `html` holds one `li.ipc-metadata-list-summary-item`
    * fragment per row; output columns are the reference's 10 fields, all
    * strings, null on the branch's try/except. One
    * [[graft.functions.ListItemFields]] pass over the html bytes (`_f`,
    * evaluated once per row) yields the six CSS-class captures, each
    * equal to the oracle's `regexp_extract`; the nullif/split/
    * try_element_at steps below turn them into the ten fields. */
  def parseListItem(df: DataFrame, htmlCol: String): DataFrame = {
    graft.functions.VectorExprs.register(df.sparkSession)
    val h3 = "nullif(_f.h3, '')"
    val rc = "nullif(_f.rc, '')"
    df.withColumn("_f", expr(s"list_item_fields($htmlCol)"))
      .withColumns(ListMap(
        "rank" -> s"try_element_at(split($h3, '\\\\.'), 1)",
        "title" -> s"try_element_at(split($h3, '\\\\.'), 2)",
        "year" -> "try_element_at(_f.meta, 1)",
        "duration" -> "try_element_at(_f.meta, 2)",
        "rating" -> "try_element_at(_f.meta, 3)",
        "metascore" -> "nullif(_f.metascore, '')",
        "imdb_score" -> s"try_element_at(split($rc, chr(160)), 1)",
        "views" -> s"replace(try_element_at(split(try_element_at(split($rc, chr(160)), 2), '\\\\)'), 1), '(', '')",
        "description" -> "nullif(_f.description, '')",
        "details_url" -> "'https://www.imdb.com' || nullif(_f.href, '')",
      ).map { case (name, e) => name -> expr(e) })
      .drop("_f")
  }

  // ---------------------------------------------------------------- S2/P1
  /** Detail-page parse (`data_details`, webscraper-postgres.py:81–95).
    * Faithful to the reference's *positional* writers selection
    * (`find_all("ul")[1]` — the second <ul> in document order, whatever it
    * is), including its failure mode when an earlier <ul> is missing.
    * writers/stars surface as '|'-joined strings (arrays crash the
    * driver compare); absent → '' per safe_list (C3). */
  def parseDetailPage(df: DataFrame, htmlCol: String): DataFrame =
    df
      .withColumn("description", expr(
        s"""nullif(regexp_extract($htmlCol, '<span class="sc-plot">([^<]*)</span>', 1), '')"""))
      .withColumn("director", expr(
        s"""nullif(regexp_extract($htmlCol, '<ul class="[^"]*title-pc-list[^"]*"><li><a>([^<]*)</a>', 1), '')"""))
      .withColumn("_uls", expr(s"regexp_extract_all($htmlCol, '(?s)<ul[^>]*>(.*?)</ul>', 1)"))
      .withColumn("writers", expr(
        "array_join(coalesce(regexp_extract_all(try_element_at(_uls, 2), '<li[^>]*>([^<]*)</li>', 1), array()), '|')"))
      .withColumn("stars", expr(
        s"""array_join(coalesce(regexp_extract_all($htmlCol, '<li class="ipc-inline-list__item">([^<]*)</li>', 1), array()), '|')"""))
      .drop("_uls")

  /** Fixture-file source for tests: one row per HTML file, whitespace
    * between tags normalized away (S1's offline form — SURVEY.md §5.4,
    * no network ever). */
  def readHtmlFixtures(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      .withColumn("html", regexp_replace(regexp_replace(col("value"), ">\\s+<", "><"), "\\s+$", ""))
      .withColumn("file", element_at(split(input_file_name(), "/"), -1))
      .drop("value")

  // -------------------------------------------------------- oracle queries
  /** Shared synthesis SQL (valid in BOTH Spark SQL and DuckDB): builds a
    * list-item fragment from a `part` row, with p_partkey % 7 selecting a
    * malformed variant — 1: no h3, 2: title without '.', 3: no metadata
    * spans, 4: no metascore, 5: empty ratings container, 6: no title
    * link. Integer arithmetic + || only, so both engines produce
    * byte-identical HTML. */
  private[graft] val listItemSynthSql =
    """'<li class="ipc-metadata-list-summary-item">'
      | || CASE WHEN p_partkey % 7 <> 6 THEN '<div class="ipc-title dli-title with-margin"><a href="/title/tt' || p_partkey || '/">x</a></div>' ELSE '' END
      | || CASE WHEN p_partkey % 7 <> 1 THEN '<h3 class="ipc-title__text">' || CASE WHEN p_partkey % 7 = 2 THEN replace(p_name, '.', '') ELSE p_partkey || '. ' || p_name END || '</h3>' ELSE '' END
      | || CASE WHEN p_partkey % 7 <> 3 THEN '<span class="m dli-title-metadata-item">' || (1970 + p_size % 40) || '</span><span class="m dli-title-metadata-item">' || (90 + p_size) || 'm</span><span class="m dli-title-metadata-item">' || p_brand || '</span>' ELSE '' END
      | || CASE WHEN p_partkey % 7 <> 4 THEN '<span class="s metacritic-score-box">' || (50 + p_size % 50) || '</span>' ELSE '' END
      | || '<div class="r dli-ratings-container">' || CASE WHEN p_partkey % 7 <> 5 THEN ((p_size % 9) + 1) || '.' || (p_partkey % 10) || chr(160) || '(' || p_size || 'K)' ELSE '' END || '</div>'
      | || '<div class="p title-description-plot-container">' || p_type || '</div>'
      | || '</li>'""".stripMargin.replace("\n", "")

  /** Detail-page synthesis from a `customer` row; c_custkey % 5 selects —
    * 1: no plot span, 2: no credits ul (the reference's positional
    * `find_all("ul")[1]` then reads the WRONG ul: writers become stars —
    * reproduced faithfully), 3: no writers ul, 4: no stars list. */
  private val detailSynthSql =
    """'<div class="detail">'
      | || CASE WHEN c_custkey % 5 <> 1 THEN '<p class="pl"><span class="sc-plot">' || c_name || ' plot</span></p>' ELSE '' END
      | || CASE WHEN c_custkey % 5 <> 2 THEN '<ul class="title-pc-list"><li><a>DIR ' || c_name || '</a></li><li><a>co-dir</a></li></ul>' ELSE '' END
      | || CASE WHEN c_custkey % 5 <> 3 THEN '<ul class="writers"><li>W1 ' || c_mktsegment || '</li><li>W2 ' || c_custkey || '</li></ul>' ELSE '' END
      | || CASE WHEN c_custkey % 5 <> 4 THEN '<ul class="cast"><li class="ipc-inline-list__item">S1 ' || c_name || '</li><li class="ipc-inline-list__item">S2</li></ul>' ELSE '' END
      | || '</div>'""".stripMargin.replace("\n", "")

  /** q35: S1+P1–P5 end-to-end — synthesize one list item per part row,
    * parse all 10 fields, with every malformed branch exercised. */
  def htmlListExtract(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .withColumn("html", expr(listItemSynthSql))
    parseListItem(p, "html")
      .select("p_partkey", "rank", "title", "year", "duration", "rating",
        "metascore", "imdb_score", "views", "description", "details_url")
  }

  /** q36: S2 fan-out + detail parse per customer row. */
  def htmlDetailExtract(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .withColumn("html", expr(detailSynthSql))
    parseDetailPage(c, "html")
      .select("c_custkey", "description", "director", "writers", "stars")
  }

  val oracle: Map[String, String] = Map(
    "q35_html_extract" ->
      s"""WITH h AS (SELECT p_partkey, $listItemSynthSql AS html FROM part),
         |p AS (SELECT p_partkey, html,
         |  nullif(regexp_extract(html, '<h3 class="ipc-title__text">([^<]*)</h3>', 1), '') AS h3,
         |  regexp_extract_all(html, '<span class="[^"]*dli-title-metadata-item[^"]*">([^<]*)</span>', 1) AS meta,
         |  nullif(regexp_extract(html, '<div class="[^"]*dli-ratings-container[^"]*">([^<]*)</div>', 1), '') AS rc
         |FROM h)
         |SELECT p_partkey,
         |  string_split(h3, '.')[1] AS rank,
         |  string_split(h3, '.')[2] AS title,
         |  meta[1] AS year,
         |  meta[2] AS duration,
         |  meta[3] AS rating,
         |  nullif(regexp_extract(html, '<span class="[^"]*metacritic-score-box[^"]*">([^<]*)</span>', 1), '') AS metascore,
         |  string_split(rc, chr(160))[1] AS imdb_score,
         |  replace(string_split(string_split(rc, chr(160))[2], ')')[1], '(', '') AS views,
         |  nullif(regexp_extract(html, '<div class="[^"]*title-description-plot-container[^"]*">([^<]*)</div>', 1), '') AS description,
         |  'https://www.imdb.com' || nullif(regexp_extract(html, 'dli-title with-margin"><a href="([^"]*)"', 1), '') AS details_url
         |FROM p""".stripMargin,
    "q36_html_details" ->
      s"""WITH h AS (SELECT c_custkey, $detailSynthSql AS html FROM customer),
         |p AS (SELECT c_custkey, html,
         |  regexp_extract_all(html, '(?s)<ul[^>]*>(.*?)</ul>', 1) AS uls
         |FROM h)
         |SELECT c_custkey,
         |  nullif(regexp_extract(html, '<span class="sc-plot">([^<]*)</span>', 1), '') AS description,
         |  nullif(regexp_extract(html, '<ul class="[^"]*title-pc-list[^"]*"><li><a>([^<]*)</a>', 1), '') AS director,
         |  coalesce(array_to_string(regexp_extract_all(uls[2], '<li[^>]*>([^<]*)</li>', 1), '|'), '') AS writers,
         |  coalesce(array_to_string(regexp_extract_all(html, '<li class="ipc-inline-list__item">([^<]*)</li>', 1), '|'), '') AS stars
         |FROM p""".stripMargin,
  )
}
