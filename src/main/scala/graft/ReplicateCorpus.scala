package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus replication for next-decade scale sweeps:
  * `runMain graft.ReplicateCorpus <srcSfDir> <dstDir> [mult]` writes a
  * mult× copy of every driver table, suitable for running the FULL
  * CORRECTNESS gate (graft.Verify + the DuckDB oracle) at a scale the
  * per-round driver gate never reaches — the round-8 sf0.1 sweep
  * caught two real scale-dependent gate weaknesses; this tool makes
  * the next decade (sf0.1 × 10 ≈ sf1) a one-command sweep.
  *
  * Replication contract (everything below is deterministic — no
  * rand(), no timestamps of "now"):
  *
  *  - **Key offsets, not row copies.** Replica m adds `m × 10^9` to
  *    every entity key (customer/supplier/part/order/lineitem-FK/
  *    event/user/doc/vec). Foreign keys offset together, so each
  *    replica is internally join-consistent and the corpus-wide graph
  *    is `mult` disjoint copies — row-scale tables grow mult×, while
  *    per-key series, per-order baskets, and per-node degrees keep
  *    their sf-calibrated shape (the property that makes gate
  *    thresholds meaningful at the bigger scale). Replica 0 is the
  *    source verbatim, so oracle literals (specific keys/dates) still
  *    match.
  *  - **Dimensions stay.** region/nation copy once — customers and
  *    suppliers of every replica reference the original 25 nations,
  *    so dimension-grouped aggregates see mult× fan-in (the realistic
  *    growth mode: data grows, the world's regions don't).
  *  - **Embeddings nudge.** Replica m shifts `embedding[0]` by
  *    `0.001 × m` (float) — replicas stay near-duplicates (stressing
  *    ANN candidate generation like ScaleProbe's cosine probe) but
  *    exact score TIES across replicas are broken, so top-k orderings
  *    remain totally determined on both engines.
  *  - **Documents clone verbatim** (new ids, same text): every doc
  *    gains mult-1 exact duplicates — dedup/near-dup operators face
  *    mult× clusters, the honest adversarial shape for them.
  *
  * Output layout is partition-capable (round-11, for the 30-100×
  * decade): with `files` = 1 (default) each table lands as a SINGLE
  * parquet file `<dstDir>/<table>.parquet` (µs timestamps),
  * byte-compatible with the driver layout; with `files` > 1 the same
  * path is a DIRECTORY of that many part files — `spark.read.parquet`
  * (graft.queries.t) reads either shape unchanged, and the sharded
  * checker (tools/scale_check.py) globs directories. A single-file
  * write funnels the whole replicated table through one task
  * (coalesce(1)) — exactly the non-scalable shape this tool exists to
  * audit against — so past ~10× pass `files` ≈ the core count.
  *
  * The replica fan-out itself is ONE scan per table: a broadcast
  * cross join against a `mult`-row replica-index frame (not a
  * `mult`-way self-union, whose plan re-reads the source per branch).
  *
  * **Skew mode** (round 12, 5th arg `skew` = divisor d, 0 = off):
  * uniform replication is gentle on hot-key handling — every replica
  * is disjoint, so NO key's group grows with mult and a straggler-prone
  * plan still looks flat. With `skew=d`, the GROUPING keys (events
  * `user_id`, orders `o_custkey`, lineitem `l_suppkey` — not the row
  * ids, which stay unique) FOLD back to their original value on every
  * replica for the ~1/d of keys with `xxhash64(key) % d == 0`:
  *   - a hot user/customer/supplier carries mult× its sf-calibrated
  *     row count in ONE group (per-key windows, sessions, stateful
  *     streams, per-key series all see a true straggler group);
  *   - self-joins keyed on a hot key (join_overlap's per-user
  *     time-window pairs) grow ~mult² for that key — the genuine
  *     power-law shape;
  *   - the co-purchase graph gains hub vertices (a hot supplier ships
  *     into every replica's orders), stressing degree-orientation and
  *     per-round PageRank fan-in.
  * Folding preserves referential integrity — the folded value is the
  * ORIGINAL key, present in replica 0 of the dimension — and
  * determinism (xxhash64, no rand()). Oracles are unaffected: the
  * checker replays whatever parquet says.
  *
  * **Fat mode** (round 13, 6th arg `fat` = 0/1): volume (10-100×),
  * hot KEYS (skew) and hot VALUES are independent failure axes, and a
  * 100-TB web corpus always has the third — a power-law record-size
  * tail. `fat=1` appends the [[fatDocs]] rows to `documents` after
  * replication: one 64 MB giant document plus a 100-document band at
  * 1 MB whose first 15 rows form 5 exact-clone triples (the clone
  * collapse under fat values). Ids sit far above every replica range;
  * text is deterministic, token-namespaced away from the corpus (no
  * cross shingles), newline-structured for line operators; two band
  * ids ≡ 0 (mod 50) intentionally pick up plantedDocs' perturbed
  * copies so the near-dup family verifies a megabyte-record pair.
  */
object ReplicateCorpus {
  val Off = 1000000000L // > any source key at any shipped SF

  /** Value columns nulled under NULL mode (round 15, 7th arg
    * `nulls` = pct 0-100): the shipped corpus contains ZERO nulls in
    * any table, so six audit dimensions exercised the registry's
    * null contracts only through spec-injected rows — a 100 TB web
    * corpus is never that clean. With `nulls` = p, each listed VALUE
    * cell goes NULL deterministically when
    * `xxhash64(anchor-keys…, colName) % 100 < p` — per (row, column),
    * so rows lose different column subsets (the realistic shape:
    * partial records, not missing records). Entity/row keys are NEVER
    * nulled (id uniqueness and the replication contract stay intact;
    * the doc_id-uniqueness assumption several oracles key on is part
    * of the table contract) — but FK columns (c_nationkey,
    * s_nationkey) ARE in the list: null FKs are the canonical
    * referential-quality defect, inner joins drop them identically on
    * both engines, and dq_referential counts them identically from
    * the same parquet. Dimensions (region/nation) stay verbatim, and
    * fat-mode docs are appended AFTER nulling (the fat contract's
    * planted clone triples must stay intact).
    */
  private[graft] val NullableCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment"),
    "supplier" -> Seq("s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_name", "p_brand", "p_type", "p_size",
      "p_retailprice"),
    "orders" -> Seq("o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority"),
    "lineitem" -> Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("ts", "event_type", "value", "props"),
    "documents" -> Seq("text", "lang", "source"),
    "embeddings" -> Seq("embedding", "label"))

  /** Apply NULL mode to one fanned table (factored for spec
    * coverage). `anchor` must be non-nullable key columns — the hash
    * is keyed on the POST-offset keys, so each replica draws an
    * independent null pattern.
    */
  def withNulls(df: DataFrame, table: String, anchor: Seq[String],
                pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, s"nulls pct must be 0-100, got $pct")
    val cols = NullableCols.getOrElse(table, Nil)
    cols.filter(df.columns.contains).foldLeft(df) { (d, c) =>
      val h = pmod(xxhash64(anchor.map(col) :+ lit(c): _*), lit(100L))
      d.withColumn(c, when(h < pct,
          lit(null).cast(d.schema(c).dataType))
        .otherwise(col(c)))
    }
  }

  /** Grouping keys that fold under skew mode: hot-key pressure wants
    * the key that DEFINES groups/joins, never the row identity (ids
    * must stay corpus-unique or dedup/count semantics change).
    */
  private val SkewFoldCols = Set("user_id", "o_custkey", "l_suppkey")

  /** The per-table replica fan-out (factored from main for spec
    * coverage): mult copies via one broadcast cross join, entity keys
    * offset per replica — except, under `skew` = d > 0, fold-eligible
    * grouping keys keep their ORIGINAL value when
    * `xxhash64(key) % d == 0` (see the skew-mode contract above).
    */
  def fanOut(spark: SparkSession, base: DataFrame, table: String,
      keys: Seq[String], mult: Int, skew: Int): DataFrame = {
    if (keys.isEmpty) return base
    keys.foreach { k =>
      // offset keys must be 64-bit: an int key would overflow at
      // m >= 3 and silently corrupt the join graph. Every shipped
      // key column is bigint; fail loudly if a future data
      // generation changes that.
      require(base.schema(k).dataType ==
        org.apache.spark.sql.types.LongType,
        s"$table.$k is ${base.schema(k).dataType}, expected bigint")
    }
    val replicas = spark.range(mult).toDF("__m")
    val fanned = base.crossJoin(broadcast(replicas))
    val shifted = keys.foldLeft(fanned) { (df, k) =>
      val offset = col(k) + col("__m") * lit(Off)
      df.withColumn(k,
        if (skew > 0 && SkewFoldCols(k))
          when(pmod(xxhash64(col(k)), lit(skew.toLong)) === 0L, col(k))
            .otherwise(offset)
        else offset)
    }
    val nudged =
      if (table == "embeddings")
        // same float math as replica-loop Scala (0.001f * m):
        // FLOAT multiply then FLOAT add, replica 0 exactly verbatim
        shifted.withColumn("embedding",
          when(col("__m") === 0L, col("embedding"))
            .otherwise(transform(col("embedding"),
              (x, i) => when(i === 0,
                x + lit(0.001f) * col("__m").cast("float"))
                .otherwise(x))))
      else shifted
    nudged.drop("__m")
  }

  /** Fat-mode document ids live far above every replicated key range
    * (mult ≤ 800 at Off = 1e9) and are chosen ≠ 0 (mod 50) for the
    * 64 MB giant so plantedDocs does not double IT — the two band ids
    * that ARE ≡ 0 (mod 50) deliberately pick up a planted perturbed
    * copy, giving the near-dup family a 1 MB-record pair to verify.
    */
  val FatGiantId = 900000000001L
  val FatBandBase = 900000001001L
  val FatBandCount = 100
  val FatCloneGroups = 5 // first 15 band docs = 5 exact-clone triples

  /** Deterministic fat-record text: space-separated `f<tag>w<i%999983>`
    * tokens (own namespace — shares no shingle with the TPC-H-ish
    * corpus text), a newline every 64 tokens so line-oriented operators
    * see real lines, until `targetBytes` is reached. The 999983 token
    * period keeps the distinct-shingle set ~1M for the 64 MB giant
    * (boilerplate-like internal repetition — the realistic shape) while
    * every byte stays a pure function of (tag, targetBytes).
    */
  def fatText(tag: Long, targetBytes: Long): String = {
    require(targetBytes <= Int.MaxValue - 64,
      s"fatText bounded by one JVM string ($targetBytes)")
    val sb = new java.lang.StringBuilder(targetBytes.toInt + 64)
    var i = 0L
    while (sb.length < targetBytes) {
      sb.append('f').append(tag).append('w').append(i % 999983L)
      sb.append(if (i % 64L == 63L) '\n' else ' ')
      i += 1
    }
    sb.toString
  }

  /** The fat-mode (hot-VALUE) document rows: one 64 MB giant, plus a
    * 100-doc band at 1 MB of which the first 15 form 5 exact-clone
    * triples (clone collapse under fat values) — appended ONCE, after
    * replication, as (doc_id, tag, bytes) specs expanded to text ON THE
    * EXECUTORS (spark.range + per-row generation, no driver-side
    * 164 MB string batch — the shape that still works when a future
    * sweep wants a 10 GB fat band).
    */
  def fatDocs(spark: SparkSession): DataFrame = {
    val specs =
      (FatGiantId, 0L, 64L * 1024 * 1024) +:
      (0 until FatBandCount).map { i =>
        val tag = if (i < 3 * FatCloneGroups) 1L + i / 3 else 100L + i
        (FatBandBase + i, tag, 1L * 1024 * 1024)
      }
    val gen = udf((tag: Long, bytes: Long) => fatText(tag, bytes))
    spark.createDataFrame(specs).toDF("doc_id", "tag", "bytes")
      .repartition(specs.size) // one giant string per task, not 101 in one
      .select(col("doc_id"),
        gen(col("tag"), col("bytes")).as("text"),
        lit("zz").as("lang"), lit("fat").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ReplicateCorpus <srcSfDir> <dstDir> [mult=10] [files=1] " +
        "[skew=0] [fat=0] [nulls=0]")
    val (src, dst) = (args(0), args(1))
    val mult = if (args.length > 2) args(2).toInt else 10
    val files = if (args.length > 3) args(3).toInt else 1
    val skew = if (args.length > 4) args(4).toInt else 0
    val fat = if (args.length > 5) args(5).toInt else 0
    val nulls = if (args.length > 6) args(6).toInt else 0
    require(mult >= 1, s"mult must be >= 1, got $mult")
    require(files >= 1, s"files must be >= 1, got $files")
    require(skew >= 0, s"skew must be >= 0, got $skew")
    require(fat == 0 || fat == 1, s"fat must be 0 or 1, got $fat")
    require(nulls >= 0 && nulls <= 100,
      s"nulls must be 0-100 (a pct), got $nulls")
    // fat-doc ids start at FatGiantId > 800 * ReplicaOffset; a larger
    // mult would collide replica doc_ids with fat-doc ids and silently
    // corrupt the corpus (duplicate keys, double-counted planted pairs)
    require(fat == 0 || mult <= 800,
      s"fat mode supports mult <= 800 (got $mult): replica ids would " +
        "collide with the fat-doc id range")
    val spark = LocalSession.getOrCreate("ReplicateCorpus")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    Files.createDirectories(Paths.get(dst))

    // key columns to offset per table; everything else passes through
    val keyCols: Map[String, Seq[String]] = Map(
      "region" -> Nil,
      "nation" -> Nil,
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(q => Files.deleteIfExists(q))

    def write(df: DataFrame, table: String): Unit = {
      val tmp = Paths.get(s"$dst/__tmp_$table")
      val target = Paths.get(s"$dst/$table.parquet")
      if (files == 1) {
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).toArray.map(_.toString)
          .filter(_.endsWith(".parquet"))
        require(part.length == 1, s"expected 1 part file for $table")
        rmTree(target)
        Files.move(Paths.get(part.head), target,
          StandardCopyOption.REPLACE_EXISTING)
        rmTree(tmp)
      } else {
        // multi-file: the whole directory becomes <table>.parquet —
        // `files` parallel writer tasks, no single-task bottleneck
        df.repartition(files).write.mode("overwrite").parquet(tmp.toString)
        rmTree(target)
        Files.move(tmp, target)
      }
    }

    // ADVICE r15 (other half of the loud-skip guard below): a table
    // listed in NullableCols but absent from keyCols would never enter
    // this loop at all — its null dimension would silently not exist.
    if (nulls > 0) {
      val orphans = NullableCols.keySet -- keyCols.keySet
      require(orphans.isEmpty,
        s"nulls=$nulls requested but NullableCols tables ${orphans
          .toSeq.sorted.mkString(",")} are not in keyCols — " +
          "their null dimension would be silently skipped")
    }

    keyCols.foreach { case (table, keys) =>
      val base = queries.t(spark, src, table)
      val fanned = fanOut(spark, base, table, keys, mult, skew)
      // per-row null anchor: the table's entity keys, plus the line
      // number for lineitem (its keyCols triple repeats across rows)
      val anchor =
        if (table == "lineitem") keys :+ "l_linenumber" else keys
      // ADVICE r15: a silently-skipped nulling makes the sweep report
      // clean results for a dimension that was never exercised — fail
      // loudly if a table that DECLARES nullable columns can't be
      // nulled (no anchor keys to hash the pattern on).
      if (nulls > 0 && keys.isEmpty &&
          NullableCols.getOrElse(table, Nil).nonEmpty)
        throw new IllegalStateException(
          s"nulls=$nulls requested but table '$table' has NullableCols " +
            "and no keyCols anchor — the null dimension would be " +
            "silently skipped for it")
      val nulled =
        if (nulls > 0 && keys.nonEmpty) withNulls(fanned, table, anchor,
          nulls)
        else fanned
      val out =
        if (fat == 1 && table == "documents")
          nulled.unionByName(fatDocs(spark))
        else nulled
      val t0 = System.nanoTime()
      write(out, table)
      println(f"[replicate] $table%-10s x$mult files=$files skew=$skew " +
        f"fat=$fat nulls=$nulls -> $dst/$table.parquet " +
        f"(${(System.nanoTime() - t0) / 1e9}%.1fs)")
    }
    spark.stop()
  }
}
