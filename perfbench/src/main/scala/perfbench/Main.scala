package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One round of a workload's fixed work: the op latency samples it
  * yielded, the seconds spent inside the program's calls (staging and
  * output checks excluded), and how many calls were made and failed. */
final case class Round(ops: Seq[Double], seconds: Double, attempted: Int, failed: Int)

/** One benchmark workload. A workload built with a tracer runs its traced
  * rounds inside spans and its untraced rounds under `Tracer.counted`. */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def runRound(traced: Boolean): Round
  /** Bytes at rest per stored cell after the run. */
  def bytesPerCell: Double
  /** Workload-specific per-layer counts, per traced round. */
  def layerCounts(spans: Seq[Span], tracer: Tracer, tracedRounds: Int): Map[String, Double]
}

object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, cpus: Int, fingerprints: Path, record: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      Paths.get(m.getOrElse("fingerprints", "perfbench/fingerprints.tsv")).toAbsolutePath,
      m.get("record").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val realOut = System.out
    // the tick CLIs print progress lines; keep stdout for the result line
    System.setOut(System.err)
    val result = Console.withOut(System.err) {
      val spark = graft.tools.ToolSession.local()
      try Harness.run(spark, opts)
      finally spark.stop()
    }
    realOut.println(result)
    realOut.flush()
  }
}

/** Loads the classes a run needs, so the build can archive them for JVM
  * class-data sharing and every run starts its JVM and session faster
  * (on 4 cores: about 2.5 s instead of 6). Measures nothing.
  *
  * Usage: ClassTrain <scratchDir>
  */
object ClassTrain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.tools.ToolSession.local()
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val df = spark.range(0, 1000)
        .selectExpr("id % 7 AS k", "CAST(id AS DOUBLE) AS v", "CAST(id AS STRING) AS s")
      df.write.partitionBy("k").mode("overwrite").parquet(s"$dir/p")
      df.write.mode("overwrite").option("header", "true").csv(s"$dir/c")
      val p = spark.read.parquet(s"$dir/p")
      val c = spark.read.option("header", "true").csv(s"$dir/c").select("s")
      p.join(c, "s").groupBy("k").agg(sum("v")).write.format("noop").mode("overwrite").save()
      p.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("v")))
        .filter(col("r") === 1).collect()
    } finally spark.stop()
  }
}

/** Heap left live after each op of the measured rounds: a full collection
  * after the op, outside its timing; the largest value is reported.
  * Spark drops unreferenced checkpoint blocks, broadcasts and shuffles on
  * its cleaner thread only after a collection has queued them, so a second
  * collection follows a pause in which that thread runs; a single one
  * reads whatever the cleaner had not dropped yet, which varies run to run.
  */
object Heap {
  @volatile var on = false
  private var peak = 0L

  def sample(): Unit = if (on) {
    System.gc()
    Thread.sleep(250)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

object Harness {

  /** Measured rounds an untraced run makes at least, however slow. */
  val MinRounds = 3

  val Layers: Seq[String] = Seq("ingest", "storage", "pipeline", "formula", "export", "queries")

  /** Timed spans reported as `<name>_s`, median per traced round. */
  val SpanMetrics: Seq[String] = Seq(
    "ingest.wsc", "ingest.provincial", "ingest.usgs", "ingest.swob",
    "storage.months_of", "storage.merge_upsert", "storage.read", "storage.grid_rewrite",
    "pipeline.hourly_rollup", "pipeline.daily_rollup", "pipeline.coffee",
    "pipeline.model_input", "pipeline.eccc_pending", "pipeline.eccc_export",
    "formula.apply", "export.csv", "export.collect", "export.xlsx", "export.xls",
    "queries.build", "queries.action")

  val CountMetrics: Seq[String] = Seq(
    "ingest.files_read", "ingest.rows_in", "ingest.rows_out", "ingest.dedup_drop_ratio",
    "storage.rows_staged", "storage.rows_rewritten", "storage.partitions_rewritten",
    "storage.files_written", "storage.bytes_written", "storage.write_amp",
    "storage.useful_write_ratio", "formula.cells_estimated",
    "export.rows_collected", "export.bytes_out",
    "queries.build_jobs", "queries.action_jobs", "queries.build_dominated")

  val CounterMetrics: Seq[String] = Seq("jobs", "stages", "tasks", "task_wait_s",
    "executor_cpu_s", "cpu_util", "shuffle_write_bytes", "spill_bytes", "aqe_join_changes")

  val TraceMetrics: Seq[String] = Seq("trace.untraced_round_s", "trace.traced_round_s",
    "trace.overhead_s", "trace.real_span_s", "trace.reconcile_gap_s",
    "trace.untraced_jobs", "trace.real_jobs", "trace.probe_jobs", "trace.probe_s", "jvm.gc_s")

  /** Every per-layer metric name with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    SpanMetrics.map(n => s"${n}_s" -> "s") ++
      CountMetrics.map(n => n -> unitOf(n)) ++
      Layers.flatMap(l => CounterMetrics.map(c => s"$l.$c" -> unitOf(c))) ++
      TraceMetrics.map(n => n -> unitOf(n))

  private def unitOf(n: String): String =
    if (n.endsWith("_s")) "s"
    else if (n.endsWith("bytes") || n.endsWith("bytes_written") || n.endsWith("bytes_out")) "bytes"
    else if (n.endsWith("ratio") || n.endsWith("amp") || n.endsWith("cpu_util")) "ratio"
    else "count"

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(spark: SparkSession, opts: Main.Opts): String = {
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    Files.createDirectories(opts.work)
    val tracer = if (opts.trace) Some(new Tracer(spark)) else None
    val wl: Workload = opts.workload match {
      case "cron_cycle"       => new CronCycle(spark, opts.work, opts.seed, tracer)
      case "training_queries" => new TrainingQueries(spark, opts.work, opts.seed,
        opts.fingerprints, opts.record, tracer)
      case other              => sys.error(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    wl.setup()
    val t1 = System.nanoTime()
    wl.warmup()
    val t2 = System.nanoTime()
    val setupS = sessionS + (t2 - t0) / 1e9
    System.err.println(f"[perfbench] session $sessionS%.2fs, setup ${(t1 - t0) / 1e9}%.2fs, " +
      f"warm-up ${(t2 - t1) / 1e9}%.2fs")

    var attempted = 0
    var failed = 0
    val ops = mutable.ArrayBuffer.empty[Double]
    val rounds = mutable.ArrayBuffer.empty[Double]
    val tracedRounds = mutable.ArrayBuffer.empty[Double]
    def attempt(traced: Boolean): Option[Round] = {
      val r = try wl.runRound(traced) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] round failed: $e")
          e.printStackTrace()
          Round(Nil, Double.NaN, 1, 1)
      }
      attempted += r.attempted
      failed += r.failed
      if (r.failed == 0) Some(r) else None
    }

    Heap.on = true
    val gc0 = gcMillis
    val deadline = System.nanoTime() + opts.seconds * 1000000000L
    var done = 0
    val minRounds = if (tracer.isDefined) 1 else MinRounds
    while (System.nanoTime() < deadline || done < minRounds) {
      done += 1
      // one op id per iteration: the untraced round's job count and the
      // traced round's spans
      tracer.foreach(_.op += 1)
      attempt(false).foreach { r =>
        ops ++= r.ops
        rounds += r.seconds
        System.err.println(f"[perfbench] round $done: ${r.seconds}%.3fs, ops " +
          r.ops.map(o => f"$o%.3f").mkString(","))
      }

      // a traced run alternates untraced and traced rounds, so both see
      // the same state and the difference is the tracing overhead
      tracer.foreach { t =>
        t.enabled = true
        try attempt(true).foreach(r => tracedRounds += r.seconds)
        finally t.enabled = false
      }
    }

    // reconciliation: per iteration, the traced copy must fire exactly the
    // jobs the program's entry points fired untraced (probes excluded); a
    // mismatch means the copy no longer follows the program's path
    val spans = tracer.map(_.allSpans).getOrElse(Nil)
    tracer.foreach { t =>
      for (op <- 1 to done) {
        val (untracedJobs, realJobs) = (t.countedJobsOf(op), t.realJobsOf(spans, op))
        attempted += 1
        if (untracedJobs != realJobs) {
          failed += 1
          System.err.println(s"[perfbench] CHECK FAILED: round $op fired $untracedJobs jobs " +
            s"untraced but $realJobs in the traced copy's real spans")
        }
      }
    }
    val gcS = (gcMillis - gc0) / 1000.0
    Heap.on = false

    System.err.println(f"[perfbench] ${opts.workload}: ${rounds.size} rounds, " +
      f"${tracedRounds.size} traced rounds, ${ops.size} op samples, $failed failed of $attempted")
    if (ops.nonEmpty) {
      val tail = Stats.tail(ops.toSeq)
      System.err.println(f"[perfbench] op_p50_s=${Stats.median(ops.toSeq)}%.4f (n=${ops.size}) " +
        tail.map { case (p, v) => f"op_tail_s=p$p%.1f:$v%.4f" }
          .getOrElse(s"op_tail_s=n/a (fewer than 10 samples beyond the median)") +
        f" failed_frac=${failed.toDouble / attempted}%.3f")
    }

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", med(rounds.toSeq), "s"),
          ("op_p50_s", med(ops.toSeq), "s"),
          ("heap_peak_mb", Heap.peakMb, "MB"),
          ("store_bytes_per_cell", wl.bytesPerCell, "bytes"))
      case Some(t) =>
        t.write(opts.work.resolve(s"spans-${opts.workload}-${opts.seed}.jsonl").toString, spans)
        layerMetrics(spans, t, tracedRounds.size, opts.cpus, wl, rounds.toSeq,
          tracedRounds.toSeq, gcS / math.max(1, done))
    }
    tracer.foreach(_.close())
    val body = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }

  private def layerMetrics(spans: Seq[Span], t: Tracer, tracedRounds: Int, cpus: Int,
                           wl: Workload, untraced: Seq[Double], traced: Seq[Double],
                           gcPerRound: Double): Seq[(String, Double, String)] = {
    val self = t.selfTimes(spans)
    val n = math.max(1, tracedRounds)
    val real = spans.filter(_.kind == "real")
    val probes = spans.filter(_.kind == "probe")
    val ops = spans.filter(_.op > 0).groupBy(_.op)
    def perRoundMedian(f: Seq[Span] => Double): Double =
      if (ops.isEmpty) 0.0 else Stats.median(ops.values.map(f).toSeq)
    val spanS = SpanMetrics.map { name =>
      s"${name}_s" -> perRoundMedian(ss => ss.filter(_.name == name).map(self(_)).sum / 1e9)
    }.toMap
    val counters = t.layerCounters(spans)
    val probeJobs = t.layerCounters(spans, probes = true).values.map(_.jobs).sum
    val layerSelfS = Layers.map { l =>
      l -> real.filter(_.layer == l).map(self(_)).sum / 1e9
    }.toMap
    val counterM = Layers.flatMap { l =>
      val c = counters.getOrElse(l, new Counters)
      val cpuS = c.cpuNs / 1e9
      val wall = layerSelfS(l)
      Seq(
        s"$l.jobs" -> c.jobs.toDouble / n,
        s"$l.stages" -> c.stages.toDouble / n,
        s"$l.tasks" -> c.tasks.toDouble / n,
        s"$l.task_wait_s" -> c.taskWaitMs / 1000.0 / n,
        s"$l.executor_cpu_s" -> cpuS / n,
        s"$l.cpu_util" -> (if (wall > 0) cpuS / (wall * cpus) else 0.0),
        s"$l.shuffle_write_bytes" -> c.shuffleWrite.toDouble / n,
        s"$l.spill_bytes" -> c.spill.toDouble / n,
        s"$l.aqe_join_changes" -> c.aqeJoinChanges.toDouble / n)
    }.toMap
    val realS = perRoundMedian(ss => ss.filter(s => s.kind == "real" && s.parent < 0)
      .map(_.dur).sum / 1e9)
    val tracedOps = real.map(_.op).distinct
    val untracedS = if (untraced.isEmpty) 0.0 else Stats.median(untraced)
    val tracedS = if (traced.isEmpty) 0.0 else Stats.median(traced)
    val traceM = Map(
      "trace.untraced_round_s" -> untracedS,
      "trace.traced_round_s" -> tracedS,
      "trace.overhead_s" -> (tracedS - untracedS),
      "trace.real_span_s" -> realS,
      "trace.reconcile_gap_s" -> math.abs(realS - untracedS),
      "trace.untraced_jobs" -> tracedOps.map(t.countedJobsOf).sum.toDouble / n,
      "trace.real_jobs" -> tracedOps.map(op => t.realJobsOf(spans, op)).sum.toDouble / n,
      "trace.probe_jobs" -> probeJobs.toDouble / n,
      "trace.probe_s" -> probes.map(_.dur).sum / 1e9 / n,
      "jvm.gc_s" -> gcPerRound)
    val all = spanS ++ wl.layerCounts(spans, t, n) ++ counterM ++ traceM
    PerLayer.map { case (name, unit) => (name, all.getOrElse(name, 0.0), unit) }
  }
}
