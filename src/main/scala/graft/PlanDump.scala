package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for declared queries to text files —
  * the optimization-round evidence artifacts (plans/rNN/<q>_before.txt /
  * _after.txt). Uses the Bench session config ([[LocalSession]]) so the
  * captured plans are the ones the bench runs.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [q1,q2,...]
  *   outDir  — directory for the .txt files (created if missing)
  *   suffix  — appended to the query name, e.g. "before" / "after"
  *   queries — optional comma list; default = every declared query
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only = if (args.length > 2)
      Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.getOrCreate("PlanDump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_(kv._1)))
    qs.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] $name ok")
      } catch {
        case e: Throwable => println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
