package graft.tools

/** Plan probe over the registered queries, on the shared tool session.
  *
  *   sbt "runMain graft.tools.Probe explain q119_waterfill q121_shard_stitch"
  *     formatted physical plan for each named query
  *   sbt "runMain graft.tools.Probe digests"
  *     plan digest (exN/cgM/md5) for every registered query
  *
  * Reads the scale-factor directory from SPARK_GRAFT_SF_DIR.
  */
object Probe {
  private val usage = "usage: Probe explain <query...> | Probe digests"

  def main(args: Array[String]): Unit = {
    require(args.headOption.contains("digests") ||
      (args.headOption.contains("explain") && args.length > 1), usage)
    val spark = ToolSession.local()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try args.head match {
      case "explain" =>
        args.drop(1).foreach { n =>
          println(s"=== $n ===")
          graft.SparkEntry.queries(n)(spark, d).explain("formatted")
        }
      case "digests" =>
        // exchange / codegen counts for an operator-coverage sweep
        // without dumping 231 full plans
        graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, q) =>
          val dig = try {
            graft.Bench.planDigest(
              q(spark, d).queryExecution.executedPlan.toString)
          } catch { case e: Throwable => s"failed:${e.getClass.getSimpleName}" }
          println(s"[digest] $n $dig")
        }
    } finally spark.stop()
  }
}
