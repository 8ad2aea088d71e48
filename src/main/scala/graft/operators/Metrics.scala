package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed evaluation metrics.
  *
  * The textbook AUC is a global rank over scores — a single-partition
  * sort at scale. Here it reduces to grouped score counts plus ONE
  * running total of negatives over the distinct-score groups
  * (GlobalRank's two-phase range ranking: the exchange is bounded by
  * |distinct scores|, never |rows|), with the standard ½-tie
  * correction carried as INTEGERS — 2U = Σ p·(2·neg_below + neg_tied)
  * — so the only float operation is the final division and the value
  * is bit-identical across engines and partitionings. The ScaleQ
  * class_auc gate replays the identical integer walk in DuckDB;
  * R8FuzzSpec pins randomized parity against the O(n²) pair-counting
  * definition (ties at ½ credit).
  */
object Metrics {

  /** @param scored frame with an integral `score` column and a `pos`
    *               column in {0, 1}
    * @return one row: (n_pos, n_neg, auc); auc is null when either
    *         class is empty
    */
  def exactAuc(scored: DataFrame): DataFrame = {
    // stage the grouped counts once: GlobalRank's bucketed ranking
    // re-evaluates its input lineage for the boundary/counts passes,
    // and this input is a full-corpus aggregate — stage the (tiny,
    // |distinct scores|-row) result so each pass is a cheap scan
    val g = Stage.materialize(
      scored.groupBy("score")
        .agg(sum(col("pos")).as("p"),
          sum(lit(1L) - col("pos")).as("ng")),
      "auc_groups")
    GlobalRank
      .withRunningTotal(g, Seq(col("score")), col("ng"),
        rankCol = "r", totalCol = "cum_ng")
      .agg(sum("p").as("n_pos"), sum("ng").as("n_neg"),
        sum(col("p") * (lit(2L) * (col("cum_ng") - col("ng"))
          + col("ng"))).as("u2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("u2").cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
          .as("auc"))
  }

  /** Key-cardinality bound for [[theilSen]]'s aggregate-only median
    * path (count-then-choose, the PageRank/CC convention): the
    * vectorized iterative-histogram selection collects
    * activeKeys × 2048 constant-size partials per pass, so the driver
    * cost is bounded by this limit × a few hundred bytes. Above it the
    * windowed form runs instead — its per-key exchange is spread
    * across keys, which is exactly the regime where many keys exist.
    */
  val groupedKeyLimit: Long = 256L

  /** Theil-Sen robust slope per series — the median of all pairwise
    * slopes with distinct x (29% breakdown point). Pairs are bounded
    * by series LENGTH², not row count; for series beyond ~10⁴ points
    * use [[theilSenSampled]] (same shape, deterministic pair cap).
    *
    * Median = the aggregate-only iterative-histogram selection
    * ([[RobustStats.groupedMedianExact]], vectorized across keys):
    * pair ENUMERATION stays O(len²) codegen'd compute per pass
    * (2-4 passes), but no pair row ever shuffles or sorts — each pass
    * feeds a map-side partial aggregate and only keys × 2048
    * constant-size partials cross the wire, where the previous form
    * exchanged and sorted the full O(len²) pair stream under a
    * key-partitioned window. Selection is by rank over the slope
    * VALUES (two-middle-rank average), so the result is bit-identical
    * to the windowed form regardless of rank-tie ordering; each slope
    * is one integer-diff IEEE division and the two-middle mean is the
    * same (a + b) / 2 either way. Key cardinality is gated at
    * [[groupedKeyLimit]] (count-then-choose — one countDistinct over
    * the series); above it the windowed form runs unchanged.
    *
    * Lineage caveat (the GlobalRank convention): the selection
    * re-enumerates the pair stream per pass, so `series` should be
    * cheap to recompute — a staged scan (the registered caller feeds
    * the staged type_hourly_dense frame) or a raw scan. Stage
    * expensive lineages first ([[Stage.materialize]]).
    *
    * Duplicate-x contract: pairs with EQUAL x are excluded (the
    * `x2 > x1` pair condition — a vertical slope is undefined), and
    * `n_pairs` counts only the retained pairs. On a regular grid (one
    * row per x, the typeHourly gate shape) that IS "all pairs"; a
    * series with repeated x values gets the median over its
    * distinct-x pairs only — callers whose series carry duplicate
    * timestamps should pre-aggregate per x (e.g. per-x mean) if they
    * want every observation weighted. Pairs whose y is null are
    * excluded on both paths' defined inputs (integral non-null y by
    * contract).
    *
    * @param series frame with `key`, integral `x`, integral `y`
    * @return (key, n_pairs, slope); series with < 2 distinct x yield
    *         no row
    */
  def theilSen(series: DataFrame): DataFrame = {
    val nKeys = series.agg(
      org.apache.spark.sql.functions.countDistinct(col("key")))
      .head().getLong(0)
    if (nKeys > groupedKeyLimit) theilSenWindowed(series)
    else {
      val spark = series.sparkSession
      val keyField = series.schema.apply(
        series.schema.fieldIndex("key"))
      val pairs = series.select(col("key"), col("x").as("x1"),
          col("y").as("y1"))
        .join(series.select(col("key"), col("x").as("x2"),
          col("y").as("y2")), Seq("key"))
        .filter(col("x2") > col("x1"))
        .select(col("key").as("__rs_k"),
          ((col("y2") - col("y1")).cast("double") /
            (col("x2") - col("x1")).cast("double")).as("__rs_x"))
        .filter(col("__rs_x").isNotNull)
      val med = RobustStats.groupedMedianExact(pairs)
      import scala.jdk.CollectionConverters._
      val rows: java.util.List[org.apache.spark.sql.Row] =
        med.map { case (ky, n, m) =>
          org.apache.spark.sql.Row(ky, n, m)
        }.asJava
      spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          keyField.copy(name = "key"),
          org.apache.spark.sql.types.StructField("n_pairs",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("slope",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
    }
  }

  /** The key-partitioned-window form of [[theilSen]] — the fallback
    * past [[groupedKeyLimit]] keys, where the O(len²) pair exchange
    * spreads across many keys and the driver must not hold
    * keys × 2048 histogram partials. Bit-identical output (the
    * two-middle-rank selection averages VALUES).
    */
  private[graft] def theilSenWindowed(series: DataFrame): DataFrame = {
    val pairs = series.select(col("key"), col("x").as("x1"),
        col("y").as("y1"))
      .join(series.select(col("key"), col("x").as("x2"),
        col("y").as("y2")), Seq("key"))
      .filter(col("x2") > col("x1"))
      .select(col("key"),
        ((col("y2") - col("y1")).cast("double") /
          (col("x2") - col("x1")).cast("double")).as("sl"))
      // a null y gives a null slope: drop it, as the histogram path does,
      // so both sides of the key gate agree on n_pairs and the median
      .filter(col("sl").isNotNull)
    val w = Window.partitionBy("key").orderBy("sl")
    pairs.withColumn("rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy("key")))
      .filter(col("rn") === expr("(n_pairs + 1) div 2") ||
        col("rn") === expr("n_pairs div 2 + 1"))
      .groupBy("key", "n_pairs")
      .agg(avg("sl").as("slope"))
      .select(col("key"), col("n_pairs"), col("slope"))
  }

  /** [[theilSen]] with a deterministic per-key PAIR budget — the
    * documented "sample pairs upstream" form for long series, where
    * the exact estimator's O(len²) pairs per key stop being payable
    * (10⁵-point series = 5×10⁹ pairs).
    *
    * Each pair keeps iff a content hash of (key, x1, x2, seed) lands
    * under the key's sampling fraction `min(1, maxPairsPerKey /
    * totalPairs)` — content-addressed, so the SAME pairs are kept
    * across runs, retries, cluster sizes (a `rand()` sample is none of
    * those), and a fresh seed draws an independent sample. The hash
    * predicate rides the self-join condition itself, so unsampled
    * pairs never reach the slope-median exchange: the window sort is
    * O(sampled) even though pair ENUMERATION stays O(len²) compute
    * (cheap codegen'd hash per candidate, no shuffle, no sort).
    *
    * Series at or under the budget take frac = 1 and return the exact
    * [[theilSen]] answer bit-for-bit (TimeSeriesSpec asserts both the
    * under-budget identity and sampled-vs-exact slope convergence on
    * long series). `n_pairs` reports the SAMPLED pair count — the
    * denominator the median was actually taken over. Same duplicate-x
    * contract as [[theilSen]]; the sampling unit is the (x1, x2) CELL,
    * so when x values repeat, all row pairs of one x-pair share fate.
    */
  def theilSenSampled(series: DataFrame, maxPairsPerKey: Long = 100000L,
                      seed: Long = 42L): DataFrame = {
    require(maxPairsPerKey >= 1, s"need a positive budget, got $maxPairsPerKey")
    // the cut is budget * 2^32 on a Long: past this bound the product
    // overflows (silently negative with ANSI off -> empty result). The
    // exact branch below compares the UNCLAMPED budget against the pair
    // count first, so a key within the requested budget always takes
    // the exact path even when both exceed 2^31; only the sampled
    // branch's fraction uses the clamped value (where budget < np, so
    // clamping can only occur when np > 2^31 pairs on ONE key — and
    // then it samples slightly under the astronomical request).
    val budget = math.min(maxPairsPerKey, Long.MaxValue >> 32)
    // distinct-x pair count per key: with c_i rows at each distinct x,
    // retained pairs = (n² - Σc_i²) / 2 — the exact denominator the
    // x2 > x1 condition keeps (NOT n·(n-1)/2 when x values repeat)
    val lens = series.groupBy("key", "x").agg(count(lit(1)).as("__ts_cx"))
      .groupBy("key")
      .agg(((sum("__ts_cx") * sum("__ts_cx") -
        sum(col("__ts_cx") * col("__ts_cx"))) / lit(2L)).cast("long")
        .as("__ts_np"))
    val M = 1L << 32
    val left = series.join(lens, "key")
      .select(col("key"), col("x").as("x1"), col("y").as("y1"),
        when(col("__ts_np") <= lit(maxPairsPerKey), lit(M))
          .otherwise(least(lit(M),
            (lit(budget) * lit(M) /
              greatest(col("__ts_np"), lit(1L))).cast("long")))
          .as("__ts_cut"))
    val pairs = left
      .join(series.select(col("key"), col("x").as("x2"),
          col("y").as("y2")),
        Seq("key"))
      .filter(col("x2") > col("x1") &&
        pmod(xxhash64(col("key"), col("x1"), col("x2"), lit(seed)),
          lit(M)) < col("__ts_cut"))
      .select(col("key"),
        ((col("y2") - col("y1")).cast("double") /
          (col("x2") - col("x1")).cast("double")).as("sl"))
    val w = Window.partitionBy("key").orderBy("sl")
    pairs.withColumn("rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy("key")))
      .filter(col("rn") === expr("(n_pairs + 1) div 2") ||
        col("rn") === expr("n_pairs div 2 + 1"))
      .groupBy("key", "n_pairs")
      .agg(avg("sl").as("slope"))
      .select(col("key"), col("n_pairs"), col("slope"))
  }
}
