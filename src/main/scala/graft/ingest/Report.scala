package graft.ingest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.unsafe.types.UTF8String

/** `sink_report` — the reference renders its changelog as kable tables
  * in a Quarto PDF (`assess_changes.qmd:249-258` and siblings). The
  * engine-side equivalent is a markdown report over the same frames:
  * file drift (new/removed files, size changes), column drift, and the
  * country/species diff — one section per table the reference prints.
  *
  * Rendering is driver-side by design: every input frame is
  * metadata-scale (one row per FILE or per diff entry, never per
  * record). A `maxRows` guard caps pathological inputs and says so in
  * the output — no silent truncation.
  */
object Report {

  private val MaxRows = 1000

  /** Collected rows → one markdown table (at most `MaxRows` rows, then a
    * truncation note), or "None." when empty.
    */
  private def table(cols: Seq[String], rows: Seq[Row]): String = {
    def cell(v: Any): String = v match {
      case null => ""
      case s: scala.collection.Seq[_] => s.mkString(", ")
      case a: Array[_] => a.mkString(", ")
      case x => x.toString
    }
    if (rows.isEmpty) "None.\n"
    else {
      val sb = new StringBuilder
      sb.append(cols.mkString("| ", " | ", " |\n"))
      sb.append(cols.map(_ => "---").mkString("| ", " | ", " |\n"))
      rows.take(MaxRows).foreach { r: Row =>
        sb.append(cols.indices.map(i => cell(r.get(i)))
          .mkString("| ", " | ", " |\n"))
      }
      if (rows.length > MaxRows)
        sb.append(s"\n*(truncated at $MaxRows rows)*\n")
      sb.toString
    }
  }

  /** The full changelog report. Mirrors the reference's section order:
    * new files, removed files, size changes, column changes
    * (`tab:added_removed_columns`), country and species changes.
    *
    * Three collects: `fileDiff` and `pairReport` once each (both
    * metadata-scale, one row per FILE), every file and column section
    * filtered and sorted from those rows on the driver; `countrySpecies`
    * rendered as given, under the `MaxRows` guard. Rows sort by
    * `std_name` in Spark's order (UTF-8 bytes, nulls first), so the
    * tables read as an `orderBy("std_name")` would.
    */
  def changelog(fileDiff: DataFrame, pairReport: DataFrame,
                countrySpecies: DataFrame, title: String = "Data changelog"): String = {
    def byName(df: DataFrame, cols: String*): Seq[Row] =
      df.select(cols.head, cols.tail: _*).collect().toSeq
        .sortBy(r => Option(r.getString(0)).map(UTF8String.fromString))
    def section(rows: Seq[Row], cols: String*): String =
      table(cols, rows.map(r => Row.fromSeq(cols.map(r.getAs[Any]))))
    // a null flag or count fails the filter, as it would in SQL
    def is(r: Row, c: String, v: Boolean) = r.getAs[Any](c) == v
    val files = byName(fileDiff,
      "std_name", "exists_in_old", "exists_in_new", "size_change_mb")
    val pairs = byName(pairReport,
      "std_name", "added_cols", "removed_cols", "old_rows", "new_rows", "row_change")

    val sb = new StringBuilder
    sb.append(s"# $title\n\n")

    sb.append("## New files\n\n")
    sb.append(section(files.filter(r =>
      is(r, "exists_in_old", false) && is(r, "exists_in_new", true)), "std_name"))

    sb.append("\n## Removed files\n\n")
    sb.append(section(files.filter(r =>
      is(r, "exists_in_old", true) && is(r, "exists_in_new", false)), "std_name"))

    sb.append("\n## Size changes\n\n")
    sb.append(section(files.filter(r =>
      is(r, "exists_in_old", true) && is(r, "exists_in_new", true)),
      "std_name", "size_change_mb"))

    sb.append("\n## Column changes\n\n")
    sb.append("Only matching .csv and .xlsx files were compared.\n\n")
    sb.append(section(pairs.filter(r =>
      r.getAs[Any]("added_cols") != null || r.getAs[Any]("removed_cols") != null),
      "std_name", "added_cols", "removed_cols"))

    sb.append("\n## Row-count changes\n\n")
    sb.append(section(pairs.filter(r =>
      Option(r.getAs[Any]("row_change")).exists(_ != 0L)),
      "std_name", "old_rows", "new_rows", "row_change"))

    sb.append("\n## Country and species changes\n\n")
    sb.append(table(countrySpecies.columns.toSeq,
      countrySpecies.limit(MaxRows + 1).collect().toSeq))
    sb.toString
  }

  /** Render and write to a local path (`sink_report`). */
  def write(dest: java.nio.file.Path, fileDiff: DataFrame,
            pairReport: DataFrame, countrySpecies: DataFrame,
            title: String = "Data changelog"): java.nio.file.Path = {
    java.nio.file.Files.createDirectories(dest.getParent)
    java.nio.file.Files.writeString(dest,
      changelog(fileDiff, pairReport, countrySpecies, title))
    dest
  }
}
