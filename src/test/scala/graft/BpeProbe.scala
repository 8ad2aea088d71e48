package graft
import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** BPE trainer scale probe: a synthetic vocabulary far above the
  * local fast-path limit forces the distributed loop, and the same
  * corpus trained through the forced-local path checks equality —
  * the spec-level parity assertion at a scale where the plans
  * actually diverge (staged rounds + TakeOrdered argmax vs an
  * in-memory fold). Run: `sbt "test:runMain graft.BpeProbe"`.
  */
object BpeProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.getOrCreate("BpeProbe")
    import spark.implicits._
    // ~1M distinct words, zipf-ish frequencies via repetition of the
    // hot head: "docs" of deterministic pseudo-words
    val docs = spark.range(0, 1000000L).select(
      concat_ws(" ",
        // hot head word (1k distinct, high freq)
        concat(lit("w"), pmod(col("id"), lit(1000))),
        // warm middle (100k distinct)
        concat(lit("m"), pmod(col("id") * 31, lit(100000))),
        // cold tail (unique per row)
        concat(lit("t"), col("id"))).as("text"))
    docs.persist().count()

    var t0 = System.nanoTime()
    val dist = Bpe.trainMerges(docs, "text", numMerges = 6,
      localVocabLimit = 0L).collect().sortBy(_.getInt(0)).toSeq
    val tDist = (System.nanoTime() - t0) / 1e9

    t0 = System.nanoTime()
    val local = Bpe.trainMerges(docs, "text", numMerges = 6,
      localVocabLimit = Long.MaxValue).collect().sortBy(_.getInt(0)).toSeq
    val tLocal = (System.nanoTime() - t0) / 1e9

    val same = dist.map(_.toSeq) == local.map(_.toSeq)
    println(f"BPE-PROBE vocab~1.1M merges=6 distributed=$tDist%6.1fs " +
      f"local=$tLocal%6.1fs identical=$same")
    dist.foreach(r => println(s"  merge ${r.toSeq.mkString(" ")}"))
    require(same, "distributed and local paths diverged at probe scale")
    spark.stop()
  }
}
