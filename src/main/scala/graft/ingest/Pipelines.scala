package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.HttpSink

/** End-to-end orchestrations of the reference's three entry points
  * (SURVEY.md §3) — what a user of the reference actually runs, composed
  * from the operator layer so each piece stays individually testable.
  */
object Pipelines {

  /** Driver-side page fetch — the first line of EP1
    * (`read_html(url)`, `scrape_newest_baci_data.R:20`), with the
    * reference's HTTP discipline (`scrape_newest_baci_data.R:63-67`):
    * 60 s timeout and a custom User-Agent. One page, driver-side by
    * design; the Spark chain starts at the returned text.
    */
  def fetch(url: String, timeoutMs: Long = 60000,
            userAgent: String = "graft-ingest/1.0"): String = {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val client = HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()
    val req = HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
      .header("User-Agent", userAgent)
      .GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() >= 400)
      throw new java.io.IOException(
        s"fetch $url failed: HTTP ${resp.statusCode()}")
    resp.body()
  }

  /** EP1 from the URL itself: fetch the page, then run `scrape`. */
  def scrapeUrl(spark: SparkSession, url: String, baseUrl: String,
                outDir: String, workers: Int = 4, retries: Int = 3,
                backoffMs: Long = 2000): DataFrame =
    scrape(spark, fetch(url), baseUrl, outDir, workers = workers,
      retries = retries, backoffMs = backoffMs)

  /** EP1 — the scrape pipeline (`scrape_newest_baci_data.R` top-to-bottom):
    * XPath link extraction from a fetched page → NA filter → regex keep →
    * absolutize → dedup → parallel retrying download. Returns the per-url
    * status frame (the reference's silent-failure bug,
    * `scrape_newest_baci_data.R:6-7`, cannot recur unnoticed).
    *
    * `html` is the fetched page text: the fetch itself is driver-side
    * (one page), everything after is the Spark chain.
    */
  def scrape(spark: SparkSession, html: String, baseUrl: String,
             outDir: String,
             linkXpath: String = "//div[@class='content_box']//a/@href",
             keepPattern: String = "(?i)\\.(zip|pdf)$",
             workers: Int = 4, retries: Int = 3,
             backoffMs: Long = 2000): DataFrame = {
    import spark.implicits._
    val urls = Seq(html).toDF("html")
      .select(explode(expr(
        s"""xpath(html, "$linkXpath")""")).as("href"))
      .filter(col("href").isNotNull && col("href") =!= "")
      .filter(col("href").rlike(keepPattern))
      // scheme-aware absolutization (the reference's grepl("^http"),
      // widened to any URI scheme so file: fixtures drive the same path)
      .select(when(col("href").rlike("^[a-z][a-z0-9+.-]*:"), col("href"))
        .otherwise(concat(lit(baseUrl), col("href"))).as("url"))
      .distinct()
    // metadata-scale collect: a download page has tens of links
    val dests = urls.as[String].collect().toSeq
      .map(u => (u, s"$outDir/${u.split('/').last}"))
    HttpSink.download(spark, dests, workers, retries, backoffMs)
  }

  /** EP2 — the changelog report (`assess_changes.qmd:47-188`): manifest
    * both version trees, file-level drift, then per-matched-pair row/
    * schema drift for pairs whose extensions agree (csv-csv or
    * xlsx-xlsx, `:120-122`). Returns (file_diff, pair_report).
    *
    * The pairs are compared concurrently (see [[SchemaDiff.pairCompare]]):
    * `readFn` is called from several threads at once and must be
    * thread-safe, as `spark.read` and [[graft.sources.Xlsx.read]] are.
    */
  def assessChanges(spark: SparkSession, oldDir: String, newDir: String,
                    readFn: String => DataFrame): (DataFrame, DataFrame) = {
    val o = FileManifest.list(spark, oldDir, "old")
    val n = FileManifest.list(spark, newDir, "new")
    (FileManifest.fileDiff(o, n),
      SchemaDiff.pairCompare(spark, matchedPairs(o, n), readFn))
  }

  /** The (std_name, old_path, new_path) pairs [[assessChanges]] compares:
    * matched on both sides, with agreeing extensions.
    */
  private[graft] def matchedPairs(oldM: DataFrame,
                                  newM: DataFrame): Seq[(String, String, String)] = {
    val csv = "(?i).*\\.csv$"
    val xlsx = "(?i).*\\.xlsx$"
    FileManifest.joinVersions(oldM, newM)
      .filter(col("old_path").isNotNull && col("new_path").isNotNull)
      .filter(
        (col("old_path").rlike(csv) && col("new_path").rlike(csv)) ||
          (col("old_path").rlike(xlsx) && col("new_path").rlike(xlsx)))
      .select("std_name", "old_path", "new_path")
      .collect() // metadata-scale: one row per matched FILE, not per record
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
  }

  /** EP3 — the country/species diff (`assess_changes.qmd:265-353`):
    * clean both production frames, then distinct-set diffs in both
    * directions. Returns a long frame (entity, direction, value) —
    * `direction` = "removed" (old-only) / "added" (new-only), sorted,
    * matching the report's `setdiff` + `sort` (`:335-338,348-351,366,375`).
    *
    * One grouped aggregate instead of four `except`s: each side explodes
    * into (entity, value, side) rows, the union groups on (entity, value),
    * and a group seen on one side only is a diff row. Grouping keys compare
    * null-safely, so a null value diffs exactly as `except` does.
    */
  def countrySpeciesDiff(spark: SparkSession, oldProd: DataFrame,
                         newProd: DataFrame): DataFrame = {
    def sides(prod: DataFrame, side: Int): DataFrame =
      CleanProd.clean(prod).select(lit(side).as("side"), explode(array(
        struct(lit("country").as("entity"), col("country_iso3_alpha").as("value")),
        struct(lit("species").as("entity"), col("SciName").as("value"))))
        .as("e"))
        .select(col("e.entity").as("entity"), col("e.value").as("value"),
          col("side"))
    sides(oldProd, 0).unionByName(sides(newProd, 1))
      .groupBy("entity", "value")
      .agg(min("side").as("lo"), max("side").as("hi"))
      .filter(col("lo") === col("hi"))
      .select(col("entity"),
        when(col("lo") === 0, lit("removed")).otherwise(lit("added"))
          .as("direction"),
        col("value"))
      .orderBy("entity", "direction", "value")
  }
}
