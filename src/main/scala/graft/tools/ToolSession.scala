package graft.tools

import org.apache.spark.sql.SparkSession

/** The ONE session builder in the program: Bench, Verify, Smoke and every
  * graft/tools main open their session here, so the oracle checks the
  * same adaptive plans the bench times. SPARK_GRAFT_CPUS (default 32) is
  * the one deployment setting. Test specs keep their own small local
  * session (SparkSpec).
  */
object ToolSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // spill-safe large shuffles: start every shuffle at 512 partitions
      // and let AQE coalesce small stages back to the 64 MB advisory
      // target. At sf0.1 plans land where they always did, while a ×1000
      // wedge join's per-task sort shrinks 16×, so 32 concurrent tasks
      // stop holding multi-GB page sets that OOM the default 8 GiB heap.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // engine-level per-action summary log (reference logging parity —
    // see EngineLog): opt-in via env so bench/verify stdout contracts
    // and driver runs are unaffected
    sys.env.get("GRAFT_LOG_DIR").foreach(graft.core.EngineLog.install(spark, _))
    spark
  }
}
