package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One traced interval. `kind` is "real" for a call the program itself
  * makes on this path, "probe" for an extra materialization the traced run
  * adds to time a lazy layer, and "job" for a Spark job the listener
  * attributed to a named inner call of its enclosing span.
  */
final case class Span(id: Int, name: String, kind: String, start: Long,
                      end: Long, parent: Int, op: Int) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** Spark-side counters of the jobs run under one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskWaitMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var aqeJoinChanges = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskWaitMs += o.taskWaitMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    aqeJoinChanges += o.aqeJoinChanges
  }
}

/** Spans recorded around the harness's calls into the program, and the
  * Spark work attributed to them. Each span runs under its own job group,
  * so a SparkListener can charge every job, stage and task to the span
  * that caused it. Nothing is installed inside the program: the listener
  * is registered here and everything stays in memory until `write`.
  *
  * Untraced calls can run under `counted`, which only counts their jobs
  * per op: the traced copy of a round must fire as many jobs outside its
  * probes as the program's own entry points fire untraced.
  *
  * Timestamps are nanoseconds on the `System.nanoTime` clock; listener
  * events (epoch milliseconds) are mapped onto it with a fixed offset.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def fromMs(ms: Long): Long = ms * 1000000L + offsetNs

  @volatile var enabled = false
  var op = 0

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  // listener-side state; events arrive on the listener bus thread
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  // sort-merge joins per SQL execution: as first planned, as last re-planned
  private val smjInitial = new ConcurrentHashMap[Long, Long]()
  private val smjFinal = new ConcurrentHashMap[Long, Long]()
  private val jobSpans = mutable.ArrayBuffer.empty[Span]
  private val countedJobs = new ConcurrentHashMap[Int, java.lang.Long]()

  /** Inner calls worth their own span, recognized by the method on the
    * job's call stack (the program's own frames, not line numbers). */
  private val jobRules: Seq[(String, String)] = Seq(
    "graft.storage.ObsStore.monthsOf" -> "storage.months_of")

  private def spanOfGroup(group: Option[String]): Option[Int] =
    group.filter(_.startsWith("pb-")).map(_.drop(3).toInt)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def ctr(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      groupOf(e.properties).filter(_.startsWith("pbc-")).foreach { g =>
        countedJobs.merge(g.drop(4).toInt, 1L, (a, b) => a + b)
      }
      spanOfGroup(groupOf(e.properties)).foreach { s =>
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(st => stageSpan.put(st, s))
        val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
          .map(_.toLong).getOrElse(-1L)
        jobStart.put(e.jobId, (e.time, exec))
        ctr(s).synchronized { ctr(s).jobs += 1 }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      for (s <- Option(jobSpan.get(e.jobId)); (t0, exec) <- Option(jobStart.get(e.jobId));
           site <- Option(execSite.get(exec));
           (_, name) <- jobRules.find(r => site.contains(r._1)))
        jobSpans.synchronized {
          jobSpans += Span(-1, name, "job", fromMs(t0), fromMs(e.time), s, -1)
        }

    // a SQL execution's long call site is the calling thread's stack;
    // its plan as first planned and as adaptive execution last re-planned it
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        execSite.put(x.executionId, x.details)
        spanOfGroup(x.jobGroupId).foreach { s =>
          execSpan.put(x.executionId, s)
          smjInitial.put(x.executionId, Tracer.sortMergeJoins(x.sparkPlanInfo))
        }
      case x: SparkListenerSQLAdaptiveExecutionUpdate =>
        smjFinal.put(x.executionId, Tracer.sortMergeJoins(x.sparkPlanInfo))
      case _ =>
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        ctr(s).synchronized { ctr(s).stages += 1 }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = ctr(s)
        c.synchronized {
          c.tasks += 1
          Option(stageSubmitted.get(e.stageId)).foreach { sub =>
            c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
          }
          Option(e.taskMetrics).foreach { m =>
            c.cpuNs += m.executorCpuTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  sc.addSparkListener(listener)

  /** Run `f` as a span; a no-op wrapper while tracing is disabled. */
  def span[A](name: String, kind: String = "real")(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-$p", name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
        spans += Span(id, name, kind, t0, t1, parent, op)
      }
    }

  /** Run untraced `f` under the current op's counting job group. */
  def counted[A](f: => A): A = {
    sc.setJobGroup(s"pbc-$op", "untraced", interruptOnCancel = false)
    try f
    finally sc.clearJobGroup()
  }

  /** Jobs the untraced calls of op `op` fired. */
  def countedJobsOf(op: Int): Long = Option(countedJobs.get(op)).map(_.longValue).getOrElse(0L)

  /** Jobs fired inside the real (non-probe) spans of op `op`. */
  def realJobsOf(all: Seq[Span], op: Int): Long =
    all.filter(s => s.op == op && s.kind == "real").map(s => jobsOf(s.id)).sum

  /** Time a lazy layer by materializing its frame into the noop sink. */
  def probe(name: String)(df: => DataFrame): Unit =
    if (enabled) span(name, "probe") {
      df.write.format("noop").mode("overwrite").save()
    }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def allSpans: Seq[Span] = {
    drain()
    spans.toSeq ++ jobSpans.synchronized(jobSpans.toSeq).map { j =>
      val parent = spans.find(_.id == j.parent)
      j.copy(op = parent.map(_.op).getOrElse(-1))
    }
  }

  /** Self time of every span, in nanoseconds. */
  def selfTimes(all: Seq[Span]): Map[Span, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = if (s.kind == "job") Nil
        else byParent.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s -> Stats.selfTime(s.start, s.end, kids)
    }.toMap
  }

  /** Spark counters summed by layer (span name prefix), over the real
    * spans only; `probes` sums the probe spans' extra work. */
  def layerCounters(all: Seq[Span], probes: Boolean = false): Map[String, Counters] = {
    drain()
    smjInitial.asScala.foreach { case (exec, n) =>
      val replaced = math.max(0L, n - Option(smjFinal.get(exec)).map(_.longValue).getOrElse(n))
      Option(execSpan.get(exec)).foreach(s => ctr(s).synchronized { ctr(s).aqeJoinChanges += replaced })
    }
    smjInitial.clear()
    val kind = if (probes) "probe" else "real"
    val layerOf = all.filter(_.kind == kind).map(s => s.id -> s.layer).toMap
    val out = mutable.Map.empty[String, Counters]
    counters.asScala.foreach { case (s, c) =>
      layerOf.get(s).foreach(l => out.getOrElseUpdate(l, new Counters).add(c))
    }
    out.toMap
  }

  /** Jobs run under one span. */
  def jobsOf(spanId: Int): Long = Option(counters.get(spanId)).map(_.jobs).getOrElse(0L)

  def write(path: String, all: Seq[Span]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","kind":"${s.kind}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""")
    } finally w.close()
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
  }
}

object Tracer {

  /** Sort-merge joins in a plan as the SQL listener events describe it
    * (query stages and adaptive plans appear as their children). */
  def sortMergeJoins(p: SparkPlanInfo): Long =
    (if (p.nodeName == "SortMergeJoin") 1L else 0L) + p.children.map(sortMergeJoins).sum
}
