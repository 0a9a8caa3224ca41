package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  test("spans charge jobs to their layer, probes and untraced jobs apart") {
    // no static broadcast, adaptive broadcast allowed: the join is planned
    // as a sort-merge join and replaced once the small side is measured
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
      .getOrCreate()
    try {
      val t = new Tracer(spark)
      t.op = 1
      t.enabled = true
      val big = spark.range(0, 100000).withColumnRenamed("id", "k")
      val small = spark.range(0, 10).withColumnRenamed("id", "k").groupBy("k").count()
      t.span("queries.action") {
        big.join(small, "k").write.format("noop").mode("overwrite").save()
      }
      t.span("storage.read")(spark.range(10).count())
      t.probe("storage.read")(spark.range(10).toDF())
      t.enabled = false
      // an untraced call under `counted` is counted for the op, charged to no span
      t.counted(spark.range(5).count())
      // plain untraced work is charged to nothing
      spark.range(5).count()
      val spans = t.allSpans
      assert(spans.map(_.name).toSet === Set("queries.action", "storage.read"))
      assert(spans.map(_.kind).toSet === Set("real", "probe"))
      assert(spans.forall(_.op == 1))
      val c = t.layerCounters(spans)
      assert(c.keySet === Set("queries", "storage"))
      assert(c("queries").jobs >= 1 && c("storage").jobs >= 1)
      assert(c("queries").tasks >= c("queries").stages)
      assert(c("queries").aqeJoinChanges === 1)
      assert(c("storage").aqeJoinChanges === 0)
      val probes = t.layerCounters(spans, probes = true)
      assert(probes.keySet === Set("storage") && probes("storage").jobs >= 1)
      assert(t.realJobsOf(spans, 1) === c("queries").jobs + c("storage").jobs)
      assert(t.countedJobsOf(1) >= 1)
      assert(t.countedJobsOf(2) === 0)
      t.close()
    } finally spark.stop()
  }
}
