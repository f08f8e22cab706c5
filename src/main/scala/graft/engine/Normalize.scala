package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** §2.7 scalar-function surface — every reference string/number helper as a
  * pure (codegen'd) Column expression builder; no UDFs anywhere
  * (SURVEY.md §2.9: `Series.apply(normalize_name)` → chained regexp_replace).
  */
object Normalize {

  /** `normalize_name`: strip a list of literal/regex patterns, collapse all
    * whitespace, lowercase (reference: fetch_data/pv/nambu_merge_pv_data.py:16-31
    * — 6 fixed Korean patterns — and pv_test/init_db.py:75-81). */
  def normalizeName(c: Column, patterns: Seq[String]): Column = {
    val stripped = patterns.foldLeft(c)((acc, p) => regexp_replace(acc, p, ""))
    lower(regexp_replace(stripped, "\\s+", ""))
  }

  /** `clean_spec`: first numeric token out of free text, as double
    * (initial_db_ingestion.py:57-62, pattern r'(\d+\.?\d*)'). */
  def cleanSpec(c: Column): Column =
    regexp_extract(c, "(\\d+\\.?\\d*)", 1).cast("double")

  /** Digit extraction (`str.extract(r'(\d+)')` — utils.py:18-24 et al.). */
  def extractDigits(c: Column): Column = regexp_extract(c, "(\\d+)", 1)

  /** Zero-pad to 2 ("{:02d}".format — namdong_wind_collect.py:129). */
  def zeroPad2(c: Column): Column = lpad(c.cast("string"), 2, "0")

  /** Dash/slash-strip for yyyymmdd compare (`normalize_date_format`,
    * prefect_pipeline.py:101-108; nambu_bulk_sync.py:35). */
  def stripSeparators(c: Column): Column = regexp_replace(c, "[-/]", "")

  /** Previous-month [start, end] (`prev_month_range`,
    * fetch_data/common/date_utils.py:27-34). */
  def prevMonthStart(d: Column): Column = trunc(add_months(d, -1), "MM")
  def prevMonthEnd(d: Column): Column = last_day(add_months(d, -1))

  /** City/region extraction via an alternation regex over an address-ish
    * string (pv_test/init_db.py:84-96). First match wins; empty when none. */
  def extractCity(c: Column, cities: Seq[String]): Column =
    regexp_extract(c, "(" + cities.map(java.util.regex.Pattern.quote)
      .mkString("|") + ")", 1)

  /** Filename sanitize: strip everything outside word chars, dash, dot,
    * space and Hangul (namdong_collect_pv.py:42-46). */
  def sanitizeFilename(c: Column): Column =
    regexp_replace(c, "[^\\w\\-.가-힣 ]+", "")
}
