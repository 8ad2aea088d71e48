package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{BooleanType, DateType, NumericType,
  TimestampNTZType, TimestampType}

/** Exact global rank / ntile WITHOUT a global window.
  *
  * `row_number().over(Window.orderBy(...))` — an empty partition spec —
  * plans a single-partition WindowExec: one task sorts the entire
  * input, which is the canonical 100 TB scale-killer (and the warning
  * Spark prints as "No Partition Defined ... serious performance
  * degradation"). But exact global ranking doesn't need a global sort
  * in one task. The distributed shape here is VALUE-DETERMINISTIC
  * range bucketing:
  *
  *  1. sample B-1 quantile boundaries of the LEADING sort key (one
  *     bounded `approxQuantile` pass over that single column) and
  *     freeze them as literals;
  *  2. assign each row a bucket by binary-searching the literal
  *     boundaries (a log₂B-deep codegen'd `when` tree) — the bucket is
  *     a pure function of the ROW VALUES, so every plan branch and
  *     every re-evaluation agrees on it by construction (no partition
  *     ids pinned as data, no staged copy of the frame);
  *  3. per-bucket row counts → prefix-sum offsets → broadcast back.
  *     Callers that need n on the driver (ntile/topFraction) collect
  *     the ≤ B count rows (metadata-scale, the same posture as AQE's
  *     per-partition stats); the rank/running-total callers keep the
  *     offsets IN-PLAN (bucket b's counts explode to every bucket
  *     after it — ≤ B²/2 metadata rows — and a grouped sum is the
  *     prefix), so those calls run zero driver actions beyond the
  *     boundary sample;
  *  4. `row_number()` over a window PARTITIONED by the bucket
  *     (parallel, one key range per bucket) + the bucket's offset
  *     = the exact global rank.
  *
  * The result is identical to the global-window answer for any TOTAL
  * ordering (pass a tiebreak column — ranks among exact duplicates are
  * otherwise tie-broken by bucket placement), but the only full-width
  * data movement is the ONE hash exchange the bucketed window needs:
  * no range shuffle, no materialized staged copy of the frame, and the
  * only single-point work is the ≤B-row offset scan. Boundary QUALITY
  * affects only balance, never correctness — the offsets and in-bucket
  * ranks are exact whatever the sample said.
  *
  * Applicability: the fast path needs a leading sort key with a
  * monotone embedding into DOUBLE (numeric, date, timestamp, boolean)
  * AND a deterministic input lineage — the fast path re-evaluates the
  * input per pass, so a non-deterministic source (rand()-derived
  * columns, samples, monotonically_increasing_id) could disagree
  * between passes; such lineages are detected and routed to the staged
  * fallback, which pins the frame once and is immune.
  * Anything else (string/binary/struct leads) falls back to the
  * pinned-partition-id form: range-shuffle, stage the frame once
  * ([[Stage.materialize]] — boundaries come from sampling, so ids must
  * be pinned before two downstream jobs read them), offsets from the
  * staged counts. Same output, heavier I/O.
  *
  * Balance caveat, now two-level (r18): buckets split on the leading
  * key first; a lead VALUE hot enough to be sampled for ≥ 2 quantile
  * cuts gets its own sub-buckets on the SECOND sort key's quantiles
  * (order-safe — equal-lead rows are ordered by the tiebreak), so a
  * dominant value no longer funnels through one bucket's sort (the
  * measured probe: 80%-hot 4M rows ran 1.5× slower single-level,
  * ≈ balanced two-level). The split needs a numeric-embeddable second
  * sort column and a lead type whose double equality is exact at the
  * hot value (not a > 2^53 long hash, not decimal/timestamp); inputs
  * without one keep the single-bucket straggler, documented above.
  *
  * Lineage caveat: the fast path evaluates the input lineage up to
  * three times (boundary sample over the lead column, per-bucket
  * counts, final ranking) instead of staging it — column pruning makes
  * the first two narrow. A caller whose input is EXPENSIVE to
  * recompute (a corpus-wide join/aggregate) should stage it once
  * itself ([[Stage.materialize]]) and rank the staged scan, which is
  * still strictly cheaper than the old always-staged form (that staged
  * the frame AFTER a full range shuffle).
  */
object GlobalRank {

  /** Cap on the sampled bucket count (and so on the ranking stage's
    * parallelism). The bucket expression is a binary-search `when`
    * tree — log₂B comparisons evaluated per row, B literal nodes in
    * the plan — so the cap keeps codegen method sizes sane when a
    * deployment runs tens of thousands of shuffle partitions.
    */
  val MaxBucketsKey = "spark.graft.globalrank.maxBuckets"
  val DefaultMaxBuckets = 1024

  /** Cap on the number of hot lead-key VALUES that get their own
    * second-key sub-buckets per call (each costs one bounded filtered
    * quantile pass at plan-build time; a corpus with more than this
    * many ≥2-quantile-wide values keeps single buckets for the rest).
    */
  val MaxHotSplits = 8

  /** [[withGroupedRank]] engages its bucket split only when the
    * hottest group's row share exceeds this many bucket-widths
    * (share > factor / B): below that the plain partitioned window's
    * largest task is already within a few bucket-widths of ideal and
    * the split's extra lineage passes are pure overhead. B grows with
    * the session's partition count, so the threshold tightens
    * automatically at scale.
    */
  val HotGroupFactor = 4.0

  /** The hottest group's share of rows — ONE narrow map-side-partial
    * aggregate (the count-then-choose detection pass).
    */
  private def hotGroupShare(df: DataFrame,
                            groupCols: Seq[String]): Double = {
    val r = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__gr_c"))
      .agg(max("__gr_c"), sum("__gr_c")).head()
    if (r.isNullAt(0) || r.getLong(1) == 0L) 0.0
    else r.getLong(0).toDouble / r.getLong(1)
  }

  /** `df` plus a `rankCol` (1-based, long) giving each row's exact
    * global rank under `sortCols`. See object doc for the plan shape.
    *
    * @param sortCols total ordering (include a tiebreak column);
    *                 `.desc` columns are honored
    * @param numPartitions range buckets; <= 0 uses
    *                      `spark.sql.shuffle.partitions`
    */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column],
                     rankCol: String = "rank",
                     numPartitions: Int = 0): DataFrame =
    ranked(df, sortCols, rankCol, numPartitions, None, "__gr_unused")._1

  /** `df` plus a `bucketCol` (1-based, long) replaying EXACT
    * `ntile(buckets)` semantics over the global `sortCols` order: with
    * n rows, the first n % buckets buckets hold n/buckets + 1 rows,
    * the rest n/buckets — bit-identical to the window function, minus
    * its single-partition sort. Bucket assignment is pure integer
    * arithmetic over the global rank (`div`, no doubles — safe past
    * 2^53 rows).
    */
  def withNtile(df: DataFrame, sortCols: Seq[Column], buckets: Int,
                bucketCol: String = "bucket",
                numPartitions: Int = 0): DataFrame = {
    require(buckets >= 1, s"ntile needs >= 1 bucket, got $buckets")
    require(!df.columns.contains(bucketCol),
      s"input already has a '$bucketCol' column")
    val (rankedDf, n) =
      ranked(df, sortCols, "__gr_rank", numPartitions, None, "__gr_unused",
        needCount = true)
    val q = n / buckets
    val rem = n % buckets
    val cut = rem * (q + 1) // ranks 1..cut land in the q+1-sized buckets
    val bucket = when(col("__gr_rank") <= cut,
        expr(s"(__gr_rank - 1) div ${q + 1} + 1"))
      .otherwise( // q = 0 only when n < buckets, where every rank <= cut
        expr(s"$rem + (__gr_rank - 1 - $cut) div ${math.max(q, 1L)} + 1"))
    rankedDf.withColumn(bucketCol, bucket.cast("long")).drop("__gr_rank")
  }

  /** EXACT top-fraction selection — the "keep the best p% by score"
    * curation cut (quality-percentile corpus filtering): rows whose
    * global rank under `sortCols` is <= round(frac * n). Exact where
    * an `approxQuantile` threshold is fuzzy at the boundary, and still
    * fully distributed (the only extra work over [[withGlobalRank]] is
    * a codegen'd filter). `round` (not ceil) on the boundary: IEEE
    * makes 0.1 * 500 land at 50.000000000000003, which `ceil` turns
    * into an off-by-one surprise on BOTH engines.
    */
  def topFraction(df: DataFrame, sortCols: Seq[Column], frac: Double,
                  rankCol: String = "rank",
                  numPartitions: Int = 0): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"need 0 < frac <= 1, got $frac")
    val (rankedDf, n) =
      ranked(df, sortCols, rankCol, numPartitions, None, "__gr_unused",
        needCount = true)
    rankedDf.filter(col(rankCol) <= math.round(frac * n))
  }

  /** Exact PER-GROUP rank — `row_number()` over a window partitioned
    * by `groupCols` and ordered by `sortCols` — without funneling a
    * hot group through one task's sort. A plain partitioned window
    * co-locates EVERY row of a group in one task (the r18 skew sweep
    * measured a 90%-hot group at 3.7× the uniform cost, and AQE cannot
    * split a window partition); here rows bucket on GLOBAL quantile
    * boundaries of the leading sort key (the same value-deterministic
    * literal tree as the global rank), the window partitions by
    * (groupCols…, bucket) — a hot group's sort splits across all B
    * buckets — and each group's per-bucket counts prefix-sum IN-PLAN
    * (the bounded explode-to-later-buckets trick, keyed by group) into
    * the offsets that linearize in-bucket row numbers to the exact
    * per-group rank. Bit-identical to the window for any per-group
    * total ordering (include a tiebreak), by the same argument as the
    * global fast path: equal lead values share a bucket, the in-bucket
    * window re-sorts the full tuple, offsets are exact counts.
    *
    * Count-then-choose (the PageRank/CC/theilSen convention): one
    * narrow aggregate measures the hottest group's share first, and
    * the split machinery only engages when that share exceeds
    * [[HotGroupFactor]] bucket-widths (share > factor / B) — balanced
    * groups keep the plain window and pay only the one detection pass
    * (the bucketing adds ~3 narrow lineage evaluations that are pure
    * overhead when no group funnels; the threshold is bucket-relative,
    * so it tightens automatically as partition counts grow at scale).
    *
    * Applicability mirrors the global fast path (numeric-embeddable
    * lead key, deterministic lineage); anything else falls back to the
    * plain partitioned window unchanged. The offsets side is
    * groups × B metadata rows and is BROADCAST — `groupCols` must be
    * dimension-bounded (the broadcast is the caller's smallness
    * assertion, the ScaleGuard convention). Group columns join
    * null-safely, so a null group ranks exactly as the window's
    * null partition does.
    */
  def withGroupedRank(df: DataFrame, groupCols: Seq[String],
                      sortCols: Seq[Column], rankCol: String = "rank",
                      numPartitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "withGroupedRank needs group columns")
    val taken = df.columns.toSet
    require(!taken(rankCol), s"input already has a '$rankCol' column")
    require((Seq("__gr_d", "__gr_b", "__gr_b2", "__gr_c", "__gr_off") ++
      groupCols.map(g => s"__gr_g_$g")).forall(!taken(_)),
      "input uses GlobalRank's reserved __gr_* names")
    val spark = df.sparkSession
    val p =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val plainWindow = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(sortCols: _*)
    embedKey(df, sortCols.head) match {
      case Some((keyed, nullsFirst, desc)) if deterministicLineage(df) &&
          hotGroupShare(df, groupCols) * math.max(1,
            math.min(p, maxBuckets(spark))) > HotGroupFactor =>
        val b = math.max(1, math.min(p, maxBuckets(spark)))
        val keyedDf = df.withColumn("__gr_d", keyed)
        val bs: Array[Double] =
          if (b <= 1) Array.empty
          else keyedDf.select(col("__gr_d"))
            .stat.approxQuantile("__gr_d",
              (1 until b).map(_.toDouble / b).toArray,
              1.0 / math.max(1000, 4 * b))
            .distinct.sorted
        val k = bs.length
        def tree(lo: Int, hi: Int): Column =
          if (lo == hi) lit(lo)
          else {
            val mid = (lo + hi) / 2
            when(col("__gr_d") > lit(bs(mid)), tree(mid + 1, hi))
              .otherwise(tree(lo, mid))
          }
        val bucket =
          when(col("__gr_d").isNull, lit(if (nullsFirst) 0 else k))
            .when(isnan(col("__gr_d")), lit(if (desc) 0 else k))
            .otherwise(if (k == 0) lit(0) else tree(0, k))
        val bdf = keyedDf.withColumn("__gr_b", bucket).drop("__gr_d")
        val wr = Window
          .partitionBy(groupCols.map(col) :+ col("__gr_b"): _*)
          .orderBy(sortCols: _*)
        val inBucket =
          bdf.withColumn(rankCol, row_number().over(wr).cast("long"))
        val gCols = groupCols.map(col)
        val counts = bdf
          .groupBy(gCols :+ col("__gr_b"): _*)
          .agg(count(lit(1)).as("__gr_c"))
        // per-group prefix offsets, in-plan (groups × B metadata rows):
        // bucket b's count contributes to every later bucket of ITS
        // group; missing (group, bucket) offsets coalesce to 0
        val offDf = counts.filter(col("__gr_b") < lit(k))
          .select(gCols :+
            explode(sequence(col("__gr_b") + lit(1), lit(k)))
              .as("__gr_b") :+ col("__gr_c"): _*)
          .groupBy(gCols :+ col("__gr_b"): _*)
          .agg(sum("__gr_c").as("__gr_off"))
          .withColumnsRenamed(
            (groupCols.map(g => g -> s"__gr_g_$g") :+
              ("__gr_b" -> "__gr_b2")).toMap)
        val cond = groupCols.map(g => col(g) <=> col(s"__gr_g_$g"))
          .reduce(_ && _) && col("__gr_b") === col("__gr_b2")
        inBucket.join(broadcast(offDf), cond, "left")
          .withColumn(rankCol,
            col(rankCol) + coalesce(col("__gr_off"), lit(0L)))
          .drop("__gr_b" +: "__gr_b2" +: "__gr_off" +:
            groupCols.map(g => s"__gr_g_$g"): _*)
      case _ =>
        df.withColumn(rankCol,
          row_number().over(plainWindow).cast("long"))
    }
  }

  /** Deterministic epoch shuffle — the training-order permutation of a
    * corpus for one epoch, as an explicit `pos` (1..n): order by the
    * content hash of (id, epoch seed). Content-addressed, so the
    * permutation is reproducible across runs, retries, cluster sizes,
    * and (with `portable = true`, the md5 path the oracle replays)
    * engines — a `rand()` shuffle is none of those. A new seed per
    * epoch gives independent permutations without materializing any
    * shuffle state.
    */
  def epochShuffle(df: DataFrame, idCol: String, seed: Long,
                   posCol: String = "pos", portable: Boolean = false,
                   numPartitions: Int = 0): DataFrame =
    withGlobalRank(df,
      Seq(Sampling.contentHash(col(idCol), seed, portable), col(idCol)),
      posCol, numPartitions)

  /** `df` plus the exact global rank AND the exact global RUNNING
    * TOTAL of `valueCol` under `sortCols` (inclusive prefix sum in
    * rank order) — the primitive behind budgeted selection ("take
    * documents by descending quality until the token budget is
    * spent"). Same bucketed shape as [[withGlobalRank]]: the counts
    * pass carries a per-bucket SUM next to the count, the driver
    * prefix-sums both (≤ B rows), and the in-bucket window carries
    * the value sum alongside row_number — still no global window, one
    * extra long per offset row.
    *
    * `valueCol` must be integral (LONG) — integer prefix sums are
    * order-free and bit-identical cross-engine, where a double's
    * accumulation order would not be.
    *
    * Null contract: a null `valueCol` counts as 0 toward the running
    * total (it is coalesced at ingestion, so the per-bucket sums,
    * the driver prefix-sum, and the in-bucket window all see the
    * same non-null longs — a bucket of all-null values can no
    * longer NPE the driver's `getLong`, and rank/total cannot
    * desynchronize on null-skipping window sums).
    */
  def withRunningTotal(df: DataFrame, sortCols: Seq[Column],
                       valueCol: Column, rankCol: String = "rank",
                       totalCol: String = "running_total",
                       numPartitions: Int = 0): DataFrame =
    ranked(df, sortCols, rankCol, numPartitions, Some(valueCol), totalCol)._1

  // ---- shared machinery --------------------------------------------

  /** Rank (and optionally running-total) `df`; returns the augmented
    * frame and the exact total row count when `needCount` (known from
    * the offsets pass — `withNtile`/`topFraction` need it on the
    * driver; -1 otherwise, where the offsets stay in-plan and no
    * driver action runs at build time).
    */
  private def ranked(df: DataFrame, sortCols: Seq[Column], rankCol: String,
                     numPartitions: Int, value: Option[Column],
                     totalCol: String,
                     needCount: Boolean = false): (DataFrame, Long) = {
    // withColumn REPLACES silently — a caller column named like the
    // rank output or the internal bucket/offset scratch would corrupt
    // the result without a trace
    val taken = df.columns.toSet
    require(!taken(rankCol), s"input already has a '$rankCol' column")
    require(value.isEmpty || !taken(totalCol),
      s"input already has a '$totalCol' column")
    require(Seq("__gr_pid", "__gr_off", "__gr_voff", "__gr_v", "__gr_d",
        "__gr_d2", "__gr_b", "__gr_c", "__gr_s").forall(!taken(_)),
      "input uses GlobalRank's reserved __gr_* names")
    val spark = df.sparkSession
    val p =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    embedKey(df, sortCols.head) match {
      // determinism gate (r18, advisor item): the bucketed fast path
      // evaluates the input lineage up to three times (boundary sample,
      // counts, ranking) — a non-deterministic input (rand(), sample,
      // monotonically_increasing_id, order-dependent first()) could
      // disagree across those passes and silently duplicate/skip ranks.
      // The staged fallback pins the frame once and is immune, so
      // non-deterministic lineage routes there. Every registered caller
      // is deterministic (PlanGuardSpec bans the rand() family
      // repo-wide), so this is a latent-hazard gate, not a plan change.
      case Some(key) if deterministicLineage(df) =>
        rankedBucketed(df, sortCols, key, rankCol, p, value, totalCol,
          needCount)
      case _ =>
        rankedStaged(df, sortCols, rankCol, p, value, totalCol)
    }
  }

  /** The parsed [[MaxBucketsKey]] (with the conf key named in the
    * error when the value fails to parse — ADVICE r17).
    */
  private def maxBuckets(spark: SparkSession): Int = {
    val raw = spark.conf.get(MaxBucketsKey, DefaultMaxBuckets.toString)
    try raw.toInt
    catch { case e: NumberFormatException =>
      throw new IllegalArgumentException(
        s"$MaxBucketsKey must be an integer, got '$raw'", e)
    }
  }

  /** Does every expression in `df`'s analyzed plan claim determinism?
    * (Catalyst's `Expression.deterministic` already folds children, so
    * a single sweep over node expressions suffices.)
    */
  private def deterministicLineage(df: DataFrame): Boolean =
    df.queryExecution.analyzed
      .find(p => p.expressions.exists(e => !e.deterministic))
      .isEmpty

  /** Monotone DOUBLE embedding of the leading sort key, pre-negated
    * for descending order so downstream bucketing is always
    * "ascending": (embedded key, nulls-first?, descending?). None when
    * the key's type has no monotone numeric embedding (string/binary/
    * complex) — those take the staged fallback. Non-strict
    * monotonicity (e.g. distinct longs past 2^53 collapsing to one
    * double) is fine: equal embedded values share a bucket, and the
    * in-bucket window re-sorts by the ORIGINAL columns.
    */
  private def embedKey(df: DataFrame,
                      c: Column): Option[(Column, Boolean, Boolean)] = {
    val (child, desc, nullsFirst) = Shim.sortOrder(c)
    // schema triggers analysis only (no job); the sort key must already
    // resolve against df for the ranking itself to be well-formed
    val dt = df.select(child.as("__gr_d")).schema.head.dataType
    val embedded: Option[Column] = dt match {
      case _: NumericType => Some(child.cast("double"))
      case TimestampType | TimestampNTZType => Some(child.cast("double"))
      case DateType => Some(child.cast("timestamp").cast("double"))
      case BooleanType => Some(child.cast("int").cast("double"))
      case _ => None
    }
    embedded.map(d => (if (desc) negate(d) else d, nullsFirst, desc))
  }

  /** The sampled-boundary bucket path — see the object doc. */
  private def rankedBucketed(df: DataFrame, sortCols: Seq[Column],
                             key: (Column, Boolean, Boolean),
                             rankCol: String, p: Int, value: Option[Column],
                             totalCol: String,
                             needCount: Boolean): (DataFrame, Long) = {
    val (keyed, nullsFirst, desc) = key
    val spark = df.sparkSession
    import spark.implicits._
    val b = math.max(1, math.min(p, maxBuckets(spark)))
    val withV = value match {
      case Some(v) =>
        df.withColumn("__gr_v", coalesce(v.cast("long"), lit(0L)))
      case None => df
    }
    val keyedDf0 = withV.withColumn("__gr_d", keyed)
    // bounded action 1: sample the boundaries (narrow, column-pruned
    // scan of the lead key; nulls and NaNs bucket by rule, not sample)
    // approxQuantile drops null and NaN itself — no pre-filter (a
    // Filter here measurably breaks codegen fusion with the summary
    // aggregate); nulls and NaNs bucket by the explicit rules below.
    // Duplicates are KEPT here: a value drawn for d of the B-1
    // quantiles carries ≈ d/B of all rows — the hot-lead detector.
    val bsRaw: Array[Double] =
      if (b <= 1) Array.empty
      else keyedDf0.select(col("__gr_d"))
        .stat.approxQuantile("__gr_d",
          (1 until b).map(_.toDouble / b).toArray,
          1.0 / math.max(1000, 4 * b))
        .sorted
    val bs = bsRaw.distinct
    val k = bs.length // base buckets 0..k: bucket(d) = #[ boundaries < d ]
    // Two-level hot-value split (r18, skew×fat sweep): a lead value
    // sampled for m ≥ 2 quantiles owns ≈ m/B of ALL rows — single-level
    // bucketing would funnel that mass through one bucket's sort (the
    // measured 4M-row probe: 1.5× at 80% hot locally, a true straggler
    // at scale). Such values get their own m sub-buckets cut on the
    // SECOND sort key's quantiles (one bounded filtered approxQuantile
    // per hot value, at most MaxHotSplits of them) — order-safe because
    // rows equal on the lead are ordered by the second key, and the
    // in-bucket window still sorts the full tuple. Requires (a) a
    // second sort column with a monotone double embedding, and (b) a
    // lead type whose double equality implies ORIGINAL-value equality
    // at the hot value (always for int/float/double/bool/date leads;
    // for longs only below 2^53 — a long lead past 2^53, e.g. a 64-bit
    // content hash, collapses distinct values onto one double, where
    // sub-bucketing by the second key would break the total order, so
    // those values keep the single-bucket behavior).
    val hotCandidates: Seq[(Double, Int)] =
      if (k == 0 || sortCols.size < 2) Seq.empty
      else bsRaw.groupBy(identity).iterator
        .collect { case (v, a) if a.length >= 2 => (v, a.length) }
        .toSeq.sortBy { case (v, m) => (-m, v) }.take(MaxHotSplits)
        .sortBy(_._1)
    val secondKey: Option[(Column, Boolean, Boolean)] =
      if (hotCandidates.isEmpty) None else embedKey(df, sortCols(1))
    val strictAt: Option[Double => Boolean] =
      if (hotCandidates.isEmpty || secondKey.isEmpty) None
      else {
        import org.apache.spark.sql.types._
        val (child, _, _) = Shim.sortOrder(sortCols.head)
        df.select(child.as("__gr_t")).schema.head.dataType match {
          case ByteType | ShortType | IntegerType | FloatType |
               DoubleType | BooleanType | DateType => Some(_ => true)
          case LongType => Some(v => math.abs(v) < 9007199254740992.0)
          case _ => None // decimal/timestamp embeddings can round-collide
        }
      }
    val hots: Seq[(Double, Array[Double])] = strictAt match {
      case Some(strict) =>
        val (k2, _, _) = secondKey.get
        hotCandidates.filter(vc => strict(vc._1)).map { case (v, m) =>
          // bounded action per hot value: sub-boundaries of the second
          // key among this value's rows (narrow, filtered, ≤ m cuts)
          val subBs = keyedDf0.filter(col("__gr_d") === lit(v))
            .select(k2.as("__gr_d2"))
            .stat.approxQuantile("__gr_d2",
              (1 until math.max(m, 2)).map(_.toDouble / m).toArray,
              1.0 / math.max(1000, 4 * m))
            .distinct.sorted
          (v, subBs)
        }
      case None => Seq.empty
    }
    // dense bucket ids in total-order position: base bucket i's non-hot
    // rows first, then (when boundary bs(i) is a split value) that
    // value's sub-buckets — rows == v land in base bucket #[bs < v],
    // whose non-hot residents all sort strictly below v
    val hotByValue = hots.toMap
    val baseId = new Array[Int](k + 1)
    val hotStart = scala.collection.mutable.Map.empty[Double, Int]
    var nextId = 0
    (0 to k).foreach { i =>
      baseId(i) = nextId; nextId += 1
      if (i < k) hotByValue.get(bs(i)).foreach { subBs =>
        hotStart(bs(i)) = nextId; nextId += subBs.length + 1
      }
    }
    val maxId = nextId - 1
    def tree(lo: Int, hi: Int): Column =
      if (lo == hi) lit(baseId(lo))
      else {
        val mid = (lo + hi) / 2
        when(col("__gr_d") > lit(bs(mid)), tree(mid + 1, hi))
          .otherwise(tree(lo, mid))
      }
    def subTree(subBs: Array[Double], start: Int, lo: Int,
                hi: Int): Column =
      if (lo == hi) lit(start + lo)
      else {
        val mid = (lo + hi) / 2
        when(col("__gr_d2") > lit(subBs(mid)),
          subTree(subBs, start, mid + 1, hi))
          .otherwise(subTree(subBs, start, lo, mid))
      }
    val baseExpr = if (k == 0) lit(0) else tree(0, k)
    val withHot = hots.foldLeft(baseExpr) { case (acc, (v, subBs)) =>
      val start = hotStart(v)
      val (_, nf2, desc2) = secondKey.get
      val last = start + subBs.length
      val sub = when(col("__gr_d2").isNull, lit(if (nf2) start else last))
        .when(isnan(col("__gr_d2")), lit(if (desc2) start else last))
        .otherwise(
          if (subBs.isEmpty) lit(start)
          else subTree(subBs, start, 0, subBs.length))
      when(col("__gr_d") === lit(v), sub).otherwise(acc)
    }
    // null placement per the sort order's null ordering; NaN sorts
    // LARGEST in Spark, so it lands last ascending / first descending
    // (the embedding negates for desc but NaN survives negation)
    val bucket =
      when(col("__gr_d").isNull, lit(if (nullsFirst) 0 else maxId))
        .when(isnan(col("__gr_d")), lit(if (desc) 0 else maxId))
        .otherwise(withHot)
    val keyedDf =
      if (hots.nonEmpty) keyedDf0.withColumn("__gr_d2", secondKey.get._1)
      else keyedDf0
    val bdf = keyedDf.withColumn("__gr_b", bucket)
      .drop("__gr_d", "__gr_d2")
    val wr = Window.partitionBy("__gr_b").orderBy(sortCols: _*)
    val inBucket = value match {
      case Some(_) =>
        bdf.withColumn(rankCol, row_number().over(wr).cast("long"))
          .withColumn(totalCol, sum("__gr_v")
            .over(wr.rowsBetween(Window.unboundedPreceding, 0)))
      case None =>
        bdf.withColumn(rankCol, row_number().over(wr).cast("long"))
    }
    if (needCount) {
      // bounded action 2: per-bucket counts (and value sums) -> driver
      // (≤ b rows — metadata-scale, the AQE-stats posture). Only for
      // callers that need n on the driver (ntile/topFraction).
      val counts = (value match {
        case Some(_) => bdf.groupBy("__gr_b")
          .agg(count(lit(1)).as("c"), sum("__gr_v").as("s"))
        case None => bdf.groupBy("__gr_b").agg(count(lit(1)).as("c"))
      }).collect()
      val cs = Array.fill(maxId + 1)(0L)
      val ss = Array.fill(maxId + 1)(0L)
      counts.foreach { r =>
        cs(r.getInt(0)) = r.getLong(1)
        if (value.isDefined) ss(r.getInt(0)) = r.getLong(2)
      }
      var accC = 0L
      var accS = 0L
      val offsets = (0 to maxId).map { i =>
        val o = (i, accC, accS); accC += cs(i); accS += ss(i); o
      }
      val offDf = offsets.toDF("__gr_b", "__gr_off", "__gr_voff")
      // offsets join AFTER the window: the bucketed exchange moves only
      // the caller's columns + one int, not the offset longs
      val joined = inBucket.join(broadcast(offDf), "__gr_b")
        .withColumn(rankCol, col(rankCol) + col("__gr_off"))
      val out = value match {
        case Some(_) =>
          joined.withColumn(totalCol, col(totalCol) + col("__gr_voff"))
        case None => joined
      }
      (out.drop("__gr_b", "__gr_off", "__gr_voff", "__gr_v"), accC)
    } else {
      // offsets folded INTO the main query (r18, VERDICT item 6): when
      // the caller does not need n on the driver, the per-bucket
      // aggregate stays a plan subtree — each non-empty bucket b
      // contributes its (count, sum) to every bucket AFTER it via a
      // bounded explode(sequence(b+1, k)) (≤ B²/2 metadata rows), and
      // one tiny grouped sum yields exactly the prefix offsets the
      // collect computed. The broadcast LEFT join coalesces missing
      // offsets (no non-empty predecessor) to 0. One driver round-trip
      // fewer per call; the input-lineage pass count is unchanged.
      val counts = value match {
        case Some(_) => bdf.groupBy("__gr_b")
          .agg(count(lit(1)).as("__gr_c"), sum("__gr_v").as("__gr_s"))
        case None => bdf.groupBy("__gr_b")
          .agg(count(lit(1)).as("__gr_c"), lit(0L).as("__gr_s"))
      }
      val offDf = counts.filter(col("__gr_b") < lit(maxId))
        .select(explode(sequence(col("__gr_b") + lit(1), lit(maxId)))
          .as("__gr_b"), col("__gr_c"), col("__gr_s"))
        .groupBy("__gr_b")
        .agg(sum("__gr_c").as("__gr_off"), sum("__gr_s").as("__gr_voff"))
      val joined = inBucket.join(broadcast(offDf), Seq("__gr_b"), "left")
        .withColumn(rankCol,
          col(rankCol) + coalesce(col("__gr_off"), lit(0L)))
      val out = value match {
        case Some(_) => joined.withColumn(totalCol,
          col(totalCol) + coalesce(col("__gr_voff"), lit(0L)))
        case None => joined
      }
      (out.drop("__gr_b", "__gr_off", "__gr_voff", "__gr_v"), -1L)
    }
  }

  /** Pinned-partition-id fallback for lead keys with no monotone
    * numeric embedding: range-shuffle on the full sort tuple, freeze
    * each row's range-partition id AS DATA (`spark_partition_id()` +
    * [[Stage.materialize]] — boundaries come from sampling, so the id
    * must be pinned before two downstream jobs read the frame), then
    * the same offsets + partitioned-window arithmetic over the pid.
    */
  private def rankedStaged(df: DataFrame, sortCols: Seq[Column],
                           rankCol: String, p: Int, value: Option[Column],
                           totalCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = value match {
      case Some(v) =>
        df.withColumn("__gr_v", coalesce(v.cast("long"), lit(0L)))
      case None => df
    }
    val ranged = Stage.materialize(
      base.repartitionByRange(p, sortCols: _*)
        .withColumn("__gr_pid", spark_partition_id()),
      if (value.isDefined) "global_running_total" else "global_rank")
    val parts = (value match {
      case Some(_) => ranged.groupBy("__gr_pid")
        .agg(count(lit(1)).as("c"), sum("__gr_v").as("s"))
      case None => ranged.groupBy("__gr_pid").agg(count(lit(1)).as("c"))
    }).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (value.isDefined) r.getLong(2) else 0L))
      .sortBy(_._1)
    var accC = 0L
    var accS = 0L
    val offsets = parts.map { case (pid, c, s) =>
      val o = (pid, accC, accS); accC += c; accS += s; o
    }.toSeq
    val offDf = offsets.toDF("__gr_pid", "__gr_off", "__gr_voff")
    val wr = Window.partitionBy("__gr_pid").orderBy(sortCols: _*)
    val withRank = ranged.join(broadcast(offDf), "__gr_pid")
      .withColumn(rankCol,
        row_number().over(wr).cast("long") + col("__gr_off"))
    val out = value match {
      case Some(_) =>
        withRank.withColumn(totalCol, sum("__gr_v")
          .over(wr.rowsBetween(Window.unboundedPreceding, 0))
          + col("__gr_voff"))
      case None => withRank
    }
    (out.drop("__gr_pid", "__gr_off", "__gr_voff", "__gr_v"), accC)
  }
}
