package graft

import org.apache.spark.sql.functions._
import graft.operators.TimeSeries

/** EWMA semantics: seeded-left-fold recurrence, (ts, seq) ordering,
  * null handling, and the binary-exact-α requirement.
  */
class TimeSeriesSpec extends SparkFunSuite {
  import spark.implicits._

  private def run(rows: Seq[(Long, Long, Long, java.lang.Double)],
                  alpha: Double = 0.25): Map[Long, (Long, Double)] =
    TimeSeries.ewma(
        rows.toDF("user_id", "ts_us", "event_id", "value"),
        "user_id", col("ts_us"), col("event_id"), col("value"), alpha)
      .as[(Long, Long, Double)].collect()
      .map { case (u, n, e) => u -> (n, e) }.toMap

  test("recurrence matches the hand-computed seeded left fold") {
    // e1 = 8, e2 = .25*4 + .75*8 = 7, e3 = .25*16 + .75*7 = 9.25
    val got = run(Seq(
      (1L, 10L, 1L, 8.0), (1L, 20L, 2L, 4.0), (1L, 30L, 3L, 16.0)))
    assert(got === Map(1L -> ((3L, 9.25))))
  }

  test("fold order is (ts, seq), not arrival order") {
    // same multiset, shuffled input rows; ties on ts break by event_id
    val got = run(Seq(
      (1L, 30L, 3L, 16.0), (1L, 10L, 1L, 8.0), (1L, 20L, 2L, 4.0),
      (2L, 10L, 2L, 4.0), (2L, 10L, 1L, 8.0))) // tied ts → id order
    assert(got(1L) === ((3L, 9.25)))
    // u2: e1 = 8 (id 1 first), e2 = .25*4 + .75*8 = 7
    assert(got(2L) === ((2L, 7.0)))
  }

  test("single observation returns itself; null values are skipped") {
    val got = run(Seq(
      (1L, 10L, 1L, 5.5),
      (2L, 10L, 1L, null), (2L, 20L, 2L, 8.0)))
    assert(got === Map(1L -> ((1L, 5.5)), 2L -> ((1L, 8.0))))
  }

  test("users with only null observations are absent") {
    val got = run(Seq((1L, 10L, 1L, null)))
    assert(got.isEmpty)
  }

  test("alpha outside (0,1) is rejected") {
    val one = Seq((1L, 1L, 1L, java.lang.Double.valueOf(1.0)))
    intercept[IllegalArgumentException](run(one, 1.0))
    intercept[IllegalArgumentException](run(one, 0.0))
  }

  private def bar(rows: Seq[(Long, String, Long, java.lang.Double)]) =
    TimeSeries.resample(
        rows.map { case (u, s, i, v) =>
          (u, java.sql.Timestamp.valueOf(s), i, v)
        }.toDF("user_id", "ts", "event_id", "value"),
        "user_id", col("ts"), col("event_id"), col("value"))
      .select(col("user_id"), col("bucket").cast("string"),
        col("open"), col("high"), col("low"), col("close"),
        col("vol"), col("n"))
      .as[(Long, String, Double, Double, Double, Double, Double, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap

  test("resample picks open/close by (ts, event_id) with tie-break") {
    val got = bar(Seq(
      (1L, "2024-01-01 09:00:00", 5L, 10.0),
      (1L, "2024-01-01 15:00:00", 1L, 40.0),
      (1L, "2024-01-01 09:00:00", 2L, 30.0),
      (1L, "2024-01-02 10:00:00", 9L, 7.5)))
    // day 1: open ties on ts 09:00 → event_id 2 < 5 wins → 30.0;
    // close = latest ts 15:00 → 40.0
    assert(got.size === 2)
    assert(got((1L, "2024-01-01")) ===
      ((1L, "2024-01-01", 30.0, 40.0, 10.0, 40.0, 80.0, 3L)))
    assert(got((1L, "2024-01-02")) ===
      ((1L, "2024-01-02", 7.5, 7.5, 7.5, 7.5, 7.5, 1L)))
  }

  test("resample drops null observations; all-null bucket is absent") {
    val got = bar(Seq(
      (1L, "2024-01-01 09:00:00", 1L, null),
      (2L, "2024-01-01 09:00:00", 1L, 3.0),
      (2L, "2024-01-01 10:00:00", 2L, null)))
    assert(got.keySet === Set((2L, "2024-01-01")))
    assert(got((2L, "2024-01-01")) ===
      ((2L, "2024-01-01", 3.0, 3.0, 3.0, 3.0, 3.0, 1L)))
  }

  test("events fixture satisfies the (ts, event_id) uniqueness contract") {
    // holt/cusum/ewma pack (ts, seq, x) structs and sort_array them, so
    // on a (ts, seq) tie the VALUE becomes a third sort key and the fold
    // order diverges from an oracle's tie-unstable ORDER BY. The ts_*
    // gate queries rely on the fixture honoring the documented contract
    // — pin it here so a future data generation that breaks it fails
    // with one clear message instead of a hash mismatch.
    val dupes = graft.queries.t(spark, sfDir, "events")
      .groupBy(col("user_id"), col("ts"), col("event_id"))
      .count().filter(col("count") > 1).count()
    assert(dupes === 0L,
      "events has (user_id, ts, event_id) duplicates — the per-entity " +
        "sequence ops' ordering contract no longer holds")
  }

  test("theilSenSampled: under-budget series equal theilSen exactly") {
    import spark.implicits._
    val series = (0 until 3).flatMap { k =>
      (0 until 40).map(x => (k.toLong, x.toLong, (3L * x + (x % 7))))
    }.toDF("key", "x", "y")
    val exact = graft.operators.Metrics.theilSen(series)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    // 40 points = 780 pairs, under any reasonable budget -> frac = 1
    // and the content-hash predicate keeps every pair: bit-identical
    val sampled = graft.operators.Metrics
      .theilSenSampled(series, maxPairsPerKey = 1000L)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(sampled === exact)
  }

  test("theilSen: histogram selection is bit-identical to the windowed form") {
    import spark.implicits._
    // r18: theilSen's median moved from a key-partitioned window sort
    // over the O(len²) pair stream to the aggregate-only iterative-
    // histogram selection (RobustStats.groupedMedianExact). Pin exact
    // parity on shapes that stress every branch: even and odd pair
    // counts, heavy slope ties (constant + step series), duplicate x
    // values (excluded-pair contract), a key with a single distinct x
    // (no row), and a long series that needs real narrowing passes.
    val series = (
      // k=0: 41 points, linear + perturbation (odd/even rank mix)
      (0 until 41).map(x => (0L, x.toLong, 5L * x + (x % 3))) ++
      // k=1: constant y — every slope 0.0, maximal ties
      (0 until 30).map(x => (1L, x.toLong, 7L)) ++
      // k=2: two-level step — slope ties at 0 and a few jumps
      (0 until 24).map(x => (2L, x.toLong, if (x < 12) 1L else 9L)) ++
      // k=3: duplicate x values (3 rows per x) — equal-x pairs excluded
      (0 until 12).flatMap(x => Seq((3L, x.toLong, 2L * x),
        (3L, x.toLong, 2L * x + 1), (3L, x.toLong, 2L * x + 2))) ++
      // k=4: single distinct x — no pairs, no output row
      Seq((4L, 1L, 10L), (4L, 1L, 20L)) ++
      // k=5: 600 points = 179,700 pairs > the 65,536 slice bound —
      // forces at least one histogram narrowing pass
      (0 until 600).map(x =>
        (5L, x.toLong, 3L * x + (x * 2654435761L % 13) - 6))
    ).toDF("key", "x", "y")
    val got = graft.operators.Metrics.theilSen(series)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val want = graft.operators.Metrics.theilSenWindowed(series)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === want)
    assert(got.map(_._1) === Seq(0L, 1L, 2L, 3L, 5L)) // k=4 absent
  }

  test("theilSen: a null y drops its pairs on both sides of the key gate") {
    import spark.implicits._
    // off-contract input: a null y gives null slopes. The histogram path
    // filters them; the windowed fallback (past the key gate) must too,
    // or n_pairs and the median flip with the number of keys
    val series = (
      (0 until 9).map(x => (0L, x.toLong, Option(2L * x + (x % 2)))) ++
      (0 until 6).map(x => (1L, x.toLong, if (x == 3) None else Some(x * x.toLong))) ++
      Seq((2L, 0L, None), (2L, 1L, Some(4L)))
    ).toDF("key", "x", "y")
    val got = graft.operators.Metrics.theilSen(series)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val want = graft.operators.Metrics.theilSenWindowed(series)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === want)
    // key 1: 15 pairs, 5 touch x = 3; key 2's only pair is null
    assert(got.map(r => r._1 -> r._2) === Seq(0L -> 36L, 1L -> 10L))
  }

  test("theilSenSampled: long-series slope converges to the exact slope") {
    import spark.implicits._
    // 3000 points/key = ~4.5M exact pairs; slope 2 plus a bounded
    // deterministic perturbation. 20k sampled pairs must land within
    // the perturbation scale of the exact median slope.
    val series = (0 until 2).flatMap { k =>
      (0 until 3000).map(x =>
        (k.toLong, x.toLong, 2L * x + (x * 2654435761L % 11) - 5))
    }.toDF("key", "x", "y")
    val exact = graft.operators.Metrics.theilSen(series)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val sampled = graft.operators.Metrics
      .theilSenSampled(series, maxPairsPerKey = 20000L)
      .as[(Long, Long, Double)].collect()
    assert(sampled.length === 2)
    sampled.foreach { case (k, np, sl) =>
      // binomial sampling: expect ~20k of ~4.5M pairs, wide tolerance
      assert(np > 15000L && np < 25000L, s"key $k sampled $np pairs")
      assert(math.abs(sl - exact(k)) < 0.01,
        s"key $k sampled slope $sl vs exact ${exact(k)}")
    }
  }
}
