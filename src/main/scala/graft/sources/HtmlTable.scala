package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HTML-table source (reference S2/S6: `html_table()` over the RCA
  * search grid and per-certificate chronology pages,
  * R/functions.R:23-75,251-268). No jsoup on the classpath, so a
  * regex-based extractor handles the constrained, machine-generated
  * table HTML the reference consumes (ASP.NET grids).
  *
  * Distributed shape mirrors the KML source: [[WholeText]] reads the
  * files whole (driver-side listing, about `defaultParallelism`
  * partitions), the parser explodes rows map-side. Header
  * normalization (lowercase, spaces→underscores) matches
  * R/functions.R:52-54.
  */
object HtmlTable {

  private val rowRe = "(?is)<tr[^>]*>(.*?)</tr>".r
  private val cellRe = "(?is)<t[dh][^>]*>(.*?)</t[dh]>".r
  private val tagRe = "(?s)<[^>]*>".r
  private val hrefRe = """(?is)<a\s[^>]*href\s*=\s*["']([^"']*)["']""".r

  def unescape(s: String): String = s
    .replace("&lt;", "<").replace("&gt;", ">")
    .replace("&quot;", "\"").replace("&#39;", "'")
    .replace("&nbsp;", " ").replace("&amp;", "&")

  /** Extract the first table with the given class (or the first table
    * if no class given) as rows of cell texts.
    */
  def parseTable(html: String, tableClass: Option[String] = None)
      : Seq[Seq[String]] = {
    val tableRe = tableClass match {
      case Some(c) =>
        ("(?is)<table[^>]*class\\s*=\\s*[\"'][^\"']*" +
          java.util.regex.Pattern.quote(c) +
          "[^\"']*[\"'][^>]*>(.*?)</table>").r
      case None => "(?is)<table[^>]*>(.*?)</table>".r
    }
    tableRe.findFirstMatchIn(html).map(_.group(1)) match {
      case None => Seq.empty
      case Some(body) =>
        rowRe.findAllMatchIn(body).map { m =>
          cellRe.findAllMatchIn(m.group(1)).map { c =>
            unescape(tagRe.replaceAllIn(c.group(1), " "))
              .replaceAll("\\s+", " ").trim
          }.toSeq
        }.toSeq.filter(_.nonEmpty)
    }
  }

  /** First href per row (reference pulls detail-page links from the
    * grid's anchor cells, R/functions.R:44-51).
    */
  def rowLinks(html: String, tableClass: Option[String] = None)
      : Seq[Option[String]] = {
    val tableRe = tableClass match {
      case Some(c) =>
        ("(?is)<table[^>]*class\\s*=\\s*[\"'][^\"']*" +
          java.util.regex.Pattern.quote(c) +
          "[^\"']*[\"'][^>]*>(.*?)</table>").r
      case None => "(?is)<table[^>]*>(.*?)</table>".r
    }
    tableRe.findFirstMatchIn(html).map(_.group(1)) match {
      case None => Seq.empty
      case Some(body) =>
        rowRe.findAllMatchIn(body)
          .map(m => hrefRe.findFirstMatchIn(m.group(1)).map(_.group(1)))
          .toSeq
    }
  }

  /** Normalize a scraped header cell to a column name
    * (R/functions.R:52-54: lowercase, spaces → underscores).
    */
  def normalizeHeader(h: String): String =
    h.trim.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")

  /** Read files of table HTML into a DataFrame: `headerRow`-th row
    * (0-based) provides column names; earlier rows and any trailing
    * `dropTrailing` rows are sliced off (reference P8:
    * `slice(-(1:2), -nrow(table))`).
    */
  def read(spark: SparkSession, glob: String,
      tableClass: Option[String] = None, headerRow: Int = 0,
      dropTrailing: Int = 0): DataFrame = {
    val files = WholeText.read(spark, Seq(glob))
    val parse = udf { (html: String) => parseTable(html, tableClass) }
    val rows = files
      .select(col("path"), parse(col("value")).as("rows"))
      .select(col("path"), col("rows"),
        element_at(col("rows"), headerRow + 1).as("header"),
        posexplode(col("rows")).as(Seq("idx", "cells")))
      .filter(col("idx") > headerRow &&
        col("idx") < size(col("rows")) - dropTrailing)
    // header is per-file; for a uniform schema take the first file's
    // header on the driver (schemas must agree across files, as in the
    // reference's paged grid)
    val headerCells = rows.select("header").limit(1).collect()
      .headOption.map(_.getSeq[String](0)).getOrElse(Seq.empty)
    val cols = headerCells.map(normalizeHeader)
    // Guard the uniform-schema assumption: a file whose header row
    // deviates would silently mis-map cells to columns — fail loudly
    // instead. Lives in the row filter (not an unused projection) so
    // column pruning can't eliminate the check; the OR short-circuits
    // for matching headers.
    val expectedHeader = array(headerCells.map(lit): _*)
    val checked = rows.filter(col("header") === expectedHeader ||
      isnull(raise_error(concat(
        lit("HtmlTable: header mismatch across files; expected "),
        lit(headerCells.mkString("|")), lit(" but "), col("path"),
        lit(" has "), concat_ws("|", col("header"))))))
    cols.zipWithIndex.foldLeft(
      checked.select(col("path") +: cols.indices.map(i =>
        element_at(col("cells"), i + 1).as(s"c$i")): _*)) {
      case (df, (name, i)) => df.withColumnRenamed(s"c$i", name)
    }
  }
}
