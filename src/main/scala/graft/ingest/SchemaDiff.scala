package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Schema-introspection operators — the reference's signature capability
  * (SURVEY.md §2.8): reify a StructType into data, diff two schemas, diff
  * row counts, and orchestrate the per-pair compare of
  * `assess_changes.qmd:127-188`.
  */
object SchemaDiff {

  /** `colnames(df)`-as-data (`assess_changes.qmd:148-149`): reify a schema
    * into a (column, dtype) DataFrame.
    */
  def reify(spark: SparkSession, schema: StructType): DataFrame = {
    import spark.implicits._
    schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq
      .toDF("column", "dtype")
  }

  /** Column-level drift: full-outer join of two reified schemas on column
    * name; `type_changed` uses null-propagating inequality, matching R
    * `old != new` with NA → NA (`assess_changes.qmd:160-174`).
    * Output: (column, old_type, new_type, added, removed, type_changed).
    */
  def schemaDiff(spark: SparkSession, oldS: StructType, newS: StructType): DataFrame = {
    val o = reify(spark, oldS).select(col("column"), col("dtype").as("old_type"))
    val n = reify(spark, newS).select(col("column"), col("dtype").as("new_type"))
    o.join(n, Seq("column"), "full_outer").select(
      col("column"), col("old_type"), col("new_type"),
      col("old_type").isNull.as("added"),
      col("new_type").isNull.as("removed"),
      (col("old_type") =!= col("new_type")).as("type_changed"))
  }

  /** Added/removed column lists as nullable arrays — NA-when-empty, never
    * empty array, matching `assess_changes.qmd:150-158`.
    */
  def colSetDiff(spark: SparkSession, oldS: StructType, newS: StructType): DataFrame = {
    val d = schemaDiff(spark, oldS, newS)
    val added = d.filter(col("added")).agg(sort_array(collect_list("column")).as("a"))
    val removed = d.filter(col("removed")).agg(sort_array(collect_list("column")).as("r"))
    added.crossJoin(removed).select(
      when(size(col("a")) > 0, col("a")).as("added_cols"),
      when(size(col("r")) > 0, col("r")).as("removed_cols"))
  }

  /** Row-count drift for one matched pair (`assess_changes.qmd:145-147`). */
  def rowDiff(oldDf: DataFrame, newDf: DataFrame): (Long, Long, Long) = {
    val (o, n) = (oldDf.count(), newDf.count())
    (o, n, n - o)
  }

  /** One [[pairCompare]] row. */
  private type PairRow = (String, Long, Long, Long, Array[String],
    Array[String], Array[String])

  /** Per-pair compare orchestration (`pair_compare`,
    * `assess_changes.qmd:127-179`): metadata-scale by design (the loop
    * iterates matched file pairs, each launches distributed reads, no
    * data is collected). `readFn` opens a path as a DataFrame
    * (csv/parquet/...).
    *
    * Schema drift is computed directly on the driver-side StructTypes —
    * schemas are metadata already resident on the driver. The only
    * cluster work per pair is the two row counts (plus whatever jobs
    * `readFn` runs, e.g. `inferSchema`).
    *
    * Pairs run CONCURRENTLY on a pool of `min(pairs, defaultParallelism)`
    * threads created for this call and shut down before it returns: each
    * pair's jobs are small, so run one at a time the driver sat idle
    * between them. The pool threads inherit the caller's Spark local
    * properties (job group, scheduler pool) and active session. Rows come
    * back in input-pair order; a failing pair rethrows its error wrapped
    * with that pair's paths, and the pairs not yet started are dropped.
    *
    * Concurrency contract: `readFn` is called from several threads at
    * once and must be thread-safe. `spark.read` and
    * [[graft.sources.Xlsx.read]] are.
    */
  def pairCompare(spark: SparkSession, pairs: Seq[(String, String, String)],
                  readFn: String => DataFrame): DataFrame = {
    import spark.implicits._
    def compare(stdName: String, oldPath: String, newPath: String): PairRow = {
      val (oldDf, newDf) = (readFn(oldPath), readFn(newPath))
      val (oc, nc, delta) = rowDiff(oldDf, newDf)
      def types(s: StructType) =
        s.fields.map(f => f.name -> f.dataType.simpleString).toMap
      val (o, n) = (types(oldDf.schema), types(newDf.schema))
      val added = (n.keySet -- o.keySet).toArray.sorted
      val removed = (o.keySet -- n.keySet).toArray.sorted
      val typeChanged = o.keySet.intersect(n.keySet)
        .filter(c => o(c) != n(c)).toArray.sorted
      (stdName, oc, nc, delta,
        if (added.isEmpty) null else added,
        if (removed.isEmpty) null else removed,
        if (typeChanged.isEmpty) null else typeChanged)
    }
    val rows = if (pairs.isEmpty) Seq.empty else {
      val threads = new java.util.concurrent.atomic.AtomicInteger()
      // pool threads are created by submit() on THIS thread, so they
      // inherit its InheritableThreadLocals (Spark local properties and
      // active session); the global ExecutionContext's threads would not
      val pool = Executors.newFixedThreadPool(
        math.min(pairs.size, spark.sparkContext.defaultParallelism),
        (r: Runnable) => {
          val t = new Thread(r, s"graft-pair-compare-${threads.incrementAndGet()}")
          t.setDaemon(true)
          t
        })
      try {
        val futures = pairs.map { case (s, o, n) =>
          pool.submit(new Callable[PairRow] { def call(): PairRow = compare(s, o, n) })
        }
        futures.zip(pairs).map { case (f, (s, o, n)) =>
          try f.get() catch {
            case e: ExecutionException =>
              throw new RuntimeException(
                s"pairCompare failed on '$s' ($o vs $n): ${e.getCause}", e.getCause)
          }
        }
      } finally pool.shutdownNow()
    }
    rows.toDF("std_name", "old_rows", "new_rows", "row_change",
      "added_cols", "removed_cols", "type_changed_cols")
  }
}
