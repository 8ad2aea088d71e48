package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_block_start,
  input_file_name}

/** Excel source (SURVEY.md §2.1 `src_xlsx`; the reference reads
  * `read_xlsx(skip = 1)`, `assess_changes.qmd:132,138`).
  *
  * Two implementations of one contract: `XlsxNativeReader` parses real
  * .xlsx workbooks with the dependency-free OOXML reader (graft.sources.
  * Xlsx — executor-parallel via binaryFile, no POI); `CsvTwinReader`
  * implements the identical contract (including the skip-N-leading-rows
  * semantics) over CSV twins, kept because the reference's sibling
  * inputs are CSV and the two paths must agree.
  */
trait SpreadsheetReader {
  /** Read one spreadsheet; `skip` leading rows are discarded BEFORE the
    * header row is taken (read_xlsx(skip=1) semantics).
    */
  def read(spark: SparkSession, path: String, skip: Int): DataFrame
}

/** CSV-backed reader honoring the skip-then-header contract. */
object CsvTwinReader extends SpreadsheetReader {
  def read(spark: SparkSession, path: String, skip: Int): DataFrame = {
    import spark.implicits._
    // Skip the first `skip` lines of each FILE, not of each partition: a
    // large file is split across partitions, and only its split at
    // offset 0 holds its first lines (in file order). The skipped lines
    // must fall in that split, which holds at least
    // min(maxPartitionBytes, openCostInBytes) bytes of the file.
    val lines = spark.read.text(path).select(col("value"),
      input_file_name(), input_file_block_start()).as[(String, String, Long)]
    val kept = lines.mapPartitions { it =>
      val seen = scala.collection.mutable.Map.empty[String, Int]
        .withDefaultValue(0)
      it.filter { case (_, file, start) =>
        start != 0L || { seen(file) += 1; seen(file) > skip }
      }.map(_._1)
    }
    spark.read.option("header", "true").option("inferSchema", "true")
      .csv(kept)
  }
}

/** Real .xlsx parse via the dependency-free OOXML reader. */
object XlsxNativeReader extends SpreadsheetReader {
  def read(spark: SparkSession, path: String, skip: Int): DataFrame =
    Xlsx.read(spark, path, skip)
}

object Spreadsheet {
  /** Entry point: native OOXML parse for .xlsx, CSV twin otherwise. */
  def read(spark: SparkSession, path: String, skip: Int = 0): DataFrame =
    if (path.toLowerCase.endsWith(".xlsx"))
      XlsxNativeReader.read(spark, path, skip)
    else CsvTwinReader.read(spark, path, skip)
}
