package graft

import org.apache.spark.sql.SparkSession

/** The one session config for every standalone main (Bench, Verify,
  * PlanDump, ScaleGate, ReplicateCorpus and the test-scope probes), so
  * timings, plan dumps and oracle dumps all come from the same session
  * shape: `local[cores]`, shuffle partitions = cores, UTC session time
  * zone, no UI, WARN logging.
  *
  * Cores come from `SPARK_GRAFT_CPUS`, or every processor the JVM sees
  * when it is unset. Over an already-running session (e.g. a pyspark
  * process calling `graft.Verify.main`) `getOrCreate` returns that
  * session and only the runtime SQL confs above take effect.
  */
object LocalSession {
  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(v) =>
      val n = v.trim.toIntOption.getOrElse(0)
      require(n >= 1, s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      n
    case None => Runtime.getRuntime.availableProcessors
  }

  def getOrCreate(appName: String): SparkSession = {
    val n = cores
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
