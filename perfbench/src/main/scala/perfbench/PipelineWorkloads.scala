package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.TimeUtil
import graft.export.{Exports, Xls, Xlsx}
import graft.ingest.{EcccSwob, Provincial, Usgs, Wsc}
import graft.pipeline.Pipelines
import graft.storage.ObsStore
import graft.tools.{EcccTick, ExportDaily, IngestTick}

/** Per-layer counts accumulated over the traced rounds of a run. */
final class LayerTally {
  var files = 0L
  var rowsIn = 0L
  var rowsOut = 0L
  var rowsRewritten = 0L
  var partitions = 0L
  var filesWritten = 0L
  var bytesWritten = 0L
  var newCells = 0L
  var cellsEstimated = 0L
  var rowsCollected = 0L
  var bytesOut = 0L
}

/** `cron_cycle`: each round is one hourly cron tick over a freshly staged
  * 48-hour batch (`IngestTick.run` then `EcccTick.run`), then the daily
  * products over the store the ticks grew (`ExportDaily.run`, plus the
  * model-input frame with seeded station-estimate formulas, which
  * `ExportDaily` itself builds without). The op latency sample is the tick.
  */
final class CronCycle(spark: SparkSession, work: Path, seed: Long,
                      tracer: Option[Tracer]) extends Workload {
  private val gen = new PipelineGen(Envelope(), seed)
  private val storeDir: String = work.resolve("store").toString
  private val gridDir: String = work.resolve("eccc_grid").toString
  /** Next tick index; ticks before it are stored. */
  private var nextTick = 0
  private val ecccOut = work.resolve("eccc_out").toString
  private val outDir = work.resolve("exports").toString
  private val estimates: Seq[(String, String, Boolean)] = Estimates.make(gen.qStations, seed)
  private val tally = new LayerTally

  /** An untraced call into the program, its jobs counted when traced. */
  private def plain[A](f: => A): A = tracer.fold(f)(_.counted(f))

  /** Write hours [0, storeHours) with one `ObsStore.write` of the frame
    * the ingest would have normalized from them; the warm-up tick then
    * takes the `mergeUpsert` path every later tick takes, and its checks
    * cover the whole store. */
  private def bootstrapStore(): Unit = {
    val frame = PipelineGen.storeFrame(spark, gen.env, seed, gen.env.storeHours * 12L)
    new ObsStore(spark, storeDir).write(frame)
  }

  private def bootstrapGrid(): Unit = {
    val schema = StructType(Seq(
      StructField("station", StringType), StructField("ts", TimestampType),
      StructField("param", StringType), StructField("value", DoubleType),
      StructField("f_read", BooleanType)))
    val rows = gen.gridRows.map { case (s, ts, p, v, f) => Row(s, ts, p, v, f) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(gridDir)
  }

  /** Stored cells / values / checksum over all rows and over [lo, hi). */
  private def storeAgg(path: String, lo: java.time.LocalDateTime,
                       hi: java.time.LocalDateTime): (Sums, Sums) = {
    val inWin = col("ts") >= lit(gen.timestamp(lo)).cast("timestamp") &&
      col("ts") < lit(gen.timestamp(hi)).cast("timestamp")
    val milli = round(col("value") * 1000).cast("long")
    val r = spark.read.parquet(path).agg(
      count(lit(1)), count(col("value")), coalesce(sum(milli), lit(0L)),
      count(when(inWin, 1)), count(when(inWin, col("value"))),
      coalesce(sum(when(inWin, milli)), lit(0L))).head()
    (Sums(r.getLong(0), r.getLong(1), r.getLong(2)), Sums(r.getLong(3), r.getLong(4), r.getLong(5)))
  }

  private var problems = Vector.empty[String]
  private def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      problems :+= what
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
    ok
  }

  def bytesPerCell: Double = {
    val rows = spark.read.parquet(storeDir).count()
    Fs.bytes(java.nio.file.Paths.get(storeDir)).toDouble / rows
  }

  /** Run one ingest tick from staged files, as `IngestTick.run` does it,
    * with spans around each call and probes timing the lazy normalizers. */
  private def tracedIngest(t: Tracer, staging: String, storeDir: String): Long = {
    val stList = s"$staging/provincial/provincial_station_list.csv"
    val stations = t.span("ingest.provincial")(Provincial.stationList(spark, stList))
    val wsc = t.span("ingest.wsc")(Wsc.readObs(spark, s"$staging/wsc"))
    t.probe("ingest.wsc")(wsc)
    val prov = Seq("Discharge" -> "Q", "Stage" -> "H").map { case (f, p) =>
      t.span("ingest.provincial")(
        Provincial.readObs(spark, s"$staging/provincial/$f.csv", stations, p))
    }
    prov.foreach(df => t.probe("ingest.provincial")(df))
    val usgs = t.span("ingest.usgs")(Usgs.readObs(spark, s"$staging/usgs"))
    t.probe("ingest.usgs")(usgs)
    val staged = wsc +: prov :+ usgs
    tally.rowsOut += staged.map(_.count()).sum

    val store = new ObsStore(spark, storeDir)
    val before = Fs.files(java.nio.file.Paths.get(storeDir))
    val rowsBefore = store.read().count()
    t.span("storage.merge_upsert")(Pipelines.ingestInstantaneous(store, staged))
    val n = t.span("storage.read")(store.read().count())
    val after = Fs.files(java.nio.file.Paths.get(storeDir))
    val written = after.filter { case (p, stamp) => !before.get(p).contains(stamp) }
      .keys.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    tally.filesWritten += written.size
    tally.bytesWritten += written.map(p => Files.size(p)).sum
    tally.partitions += written.map(_.getParent).distinct.size
    val rewritten = if (written.isEmpty) 0L
      else spark.read.parquet(written.map(_.toString): _*).count()
    tally.rowsRewritten += rewritten
    tally.newCells += n - rowsBefore
    n
  }

  /** One ECCC tick, as `EcccTick.run` does it, with spans and probes. */
  private def tracedEccc(t: Tracer, swobDir: String): (Long, Long) = {
    val freshObs = t.span("ingest.swob")(
      EcccSwob.readObs(spark, swobDir).withColumn("f_read", lit(true)))
    t.probe("ingest.swob")(freshObs)
    tally.rowsOut += freshObs.count()
    t.span("storage.grid_rewrite") {
      val prior =
        if (Files.exists(java.nio.file.Paths.get(gridDir))) spark.read.parquet(gridDir)
        else freshObs.limit(0)
      val merged = prior.withColumn("__src", lit(0))
        .unionByName(freshObs.withColumn("__src", lit(1)))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("station", "ts", "param").orderBy(col("__src").asc)))
        .filter(col("__rn") === 1).drop("__rn", "__src")
        .localCheckpoint(true)
      merged.write.mode("overwrite").parquet(gridDir)
      spark.catalog.refreshByPath(gridDir)
    }
    val grid = t.span("storage.read")(spark.read.parquet(gridDir))
    val nPending = t.span("pipeline.eccc_pending") {
      val stations = grid.select("station").distinct()
      val hours = TimeUtil.spineOver(grid, "ts", "hour", "1 hour")
      val done = grid.select(col("station"), col("ts"), col("f_read"))
      EcccSwob.pendingWork(stations, hours, done).count()
    }
    for (param <- Seq("TA", "PC")) {
      val st = t.span("pipeline.eccc_export")(
        grid.filter(col("param") === param).select("station")
          .distinct().collect().map(_.getString(0)).sorted.toSeq)
      if (st.nonEmpty) {
        val pivot = Pipelines.ecccVariableExport(grid, param, st)
          .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        t.probe("pipeline.eccc_export")(pivot)
        t.span("export.csv")(Exports.writeCsv(pivot, s"$ecccOut/$param"))
      }
    }
    val nGrid = t.span("storage.read")(grid.count())
    (nGrid, nPending)
  }

  def layerCounts(spans: Seq[Span], tracer: Tracer, n: Int): Map[String, Double] = {
    val staged = tally.rowsOut.toDouble
    Map(
      "ingest.files_read" -> tally.files.toDouble / n,
      "ingest.rows_in" -> tally.rowsIn.toDouble / n,
      "ingest.rows_out" -> tally.rowsOut.toDouble / n,
      "ingest.dedup_drop_ratio" ->
        (if (tally.rowsIn > 0) 1.0 - tally.rowsOut.toDouble / tally.rowsIn else 0.0),
      "storage.rows_staged" -> staged / n,
      "storage.rows_rewritten" -> tally.rowsRewritten.toDouble / n,
      "storage.partitions_rewritten" -> tally.partitions.toDouble / n,
      "storage.files_written" -> tally.filesWritten.toDouble / n,
      "storage.bytes_written" -> tally.bytesWritten.toDouble / n,
      "storage.write_amp" ->
        (if (staged > 0) tally.rowsRewritten / staged else 0.0),
      "storage.useful_write_ratio" ->
        (if (tally.rowsRewritten > 0) tally.newCells.toDouble / tally.rowsRewritten else 0.0),
      "formula.cells_estimated" -> tally.cellsEstimated.toDouble / n,
      "export.rows_collected" -> tally.rowsCollected.toDouble / n,
      "export.bytes_out" -> tally.bytesOut.toDouble / n)
  }

  def setup(): Unit = {
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    bootstrapStore()
    val t1 = System.nanoTime()
    bootstrapGrid()
    System.err.println(f"[perfbench] store bootstrap ${(t1 - t0) / 1e9}%.2fs, " +
      f"ECCC grid ${(System.nanoTime() - t1) / 1e9}%.2fs")
  }

  /** One round: every code path of a round, once. */
  def warmup(): Unit =
    require(runRound(traced = false).failed == 0,
      s"warm-up cycle failed: ${problems.mkString("; ")}")

  def runRound(traced: Boolean): Round = {
    val (tickS, tickOk) = runTick(traced)
    val (exportS, exportOk) = runExport(traced)
    Round(if (tickOk) Seq(tickS) else Nil, tickS + exportS, 2, Seq(tickOk, exportOk).count(!_))
  }

  private def runTick(traced: Boolean): (Double, Boolean) = {
    val k = nextTick
    val staging = work.resolve(s"staging/t$k")
    val (files, recordCells) = gen.stageTick(staging, k)
    val t0 = System.nanoTime()
    val (nStore, (nGrid, nPending)) = tracer.filter(_ => traced) match {
      case None =>
        (plain(IngestTick.run(spark, staging.toString, storeDir)),
          plain(EcccTick.run(spark, staging.resolve("swob").toString, gridDir, ecccOut)))
      case Some(t) =>
        tally.files += files
        tally.rowsIn += recordCells
        (tracedIngest(t, staging.toString, storeDir),
          tracedEccc(t, staging.resolve("swob").toString))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    Heap.sample()
    Fs.delete(staging)
    nextTick += 1
    (secs, verifyTick(k, nStore, nGrid, nPending))
  }

  private def verifyTick(k: Int, nStore: Long, nGrid: Long, nPending: Long): Boolean = {
    val endHour = gen.env.storeHours + k + 1
    val want = gen.storedSums(endHour)
    val (lo, hi) = gen.overlapHours(k)
    val wantWin = gen.storeSums(lo * 12, hi * 12)
    val (got, gotWin) = storeAgg(storeDir, gen.hourTime(lo), gen.hourTime(hi))
    val latest = gen.storeSums(lo * 12, hi * 12, _ => k + 1)
    val wantGrid = gen.gridSums(0, endHour, s => gen.firstRev(s))
    val (gotGrid, gotGridWin) = storeAgg(gridDir, gen.hourTime(lo), gen.hourTime(hi))
    val wantGridWin = gen.gridSums(lo, hi, s => gen.firstRev(s))
    Seq(
      check(nStore == want.rows, s"tick $k: store rows $nStore, expected ${want.rows}"),
      check(got == want, s"tick $k: store $got, expected $want"),
      check(gotWin == wantWin && wantWin != latest,
        s"tick $k: re-merged hours $gotWin, first-written $wantWin, latest $latest"),
      check(nGrid == wantGrid.rows && gotGrid == wantGrid,
        s"tick $k: grid $gotGrid ($nGrid rows), expected $wantGrid"),
      check(gotGridWin == wantGridWin, s"tick $k: grid re-merged hours $gotGridWin, expected $wantGridWin"),
      check(nPending == gen.ecccPending(endHour),
        s"tick $k: pending $nPending, expected ${gen.ecccPending(endHour)}")
    ).forall(identity)
  }

  /** The export's `now`: the last stored 5-minute slot. */
  private def nowIso: String =
    gen.timestamp(gen.slotTime((gen.env.storeHours + nextTick) * 12L - 1))

  private def runExport(traced: Boolean): (Double, Boolean) = {
    val now = nowIso
    val t0 = System.nanoTime()
    val (counts, model) = tracer.filter(_ => traced) match {
      case None =>
        val c = plain(ExportDaily.run(spark, storeDir, outDir, Some(now), Nil))
        (c, plain(Pipelines.modelInput(spark.read.parquet(s"$outDir/daily"), gen.qStations,
          estimates).collect()))
      case Some(t) =>
        val c = tracedExport(t, now)
        (c, t.span("formula.apply")(Pipelines.modelInput(
          spark.read.parquet(s"$outDir/daily"), gen.qStations, estimates).collect()))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    Heap.sample()
    (secs, verifyExport(counts, model, traced))
  }

  /** `ExportDaily.run` with spans, `now` given; the workbook writes are
    * split into their public parts (`sheetRows`, then the codec). */
  private def tracedExport(t: Tracer, nowIso: String): (Long, Long) = {
    val inst = t.span("storage.read")(new ObsStore(spark, storeDir).read())
    val now = lit(nowIso).cast("timestamp")
    val hourly = Pipelines.hourlyRollup(inst, now)
    t.span("pipeline.hourly_rollup")(hourly.write.mode("overwrite").parquet(s"$outDir/hourly"))
    spark.catalog.refreshByPath(s"$outDir/hourly")
    val daily = t.span("pipeline.daily_rollup")(
      Pipelines.dailyRollup(spark.read.parquet(s"$outDir/hourly")))
    t.span("pipeline.daily_rollup")(daily.write.mode("overwrite").parquet(s"$outDir/daily"))
    spark.catalog.refreshByPath(s"$outDir/daily")
    val coffee = Pipelines.coffeeProduct(spark, inst)
      .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss"))
    t.probe("pipeline.coffee")(coffee)
    t.span("export.csv")(Exports.writeCsv(coffee, s"$outDir/coffee"))
    val stations = t.span("pipeline.station_list")(
      daily.filter(col("param") === "Q").select("station").distinct()
        .collect().map(_.getString(0)).sorted.toSeq)
    val model = t.span("pipeline.model_input")(
      Pipelines.modelInput(spark.read.parquet(s"$outDir/daily"), stations, estimates = Nil)
        .withColumn("date", date_format(col("date"), "yyyy-MM-dd")))
    t.probe("pipeline.model_input")(model)
    val year = nowIso.take(4)
    val g1 = t.span("export.collect")(Exports.sheetRows(model, "date"))
    t.span("export.xlsx")(Xlsx.upsertSheet(s"$outDir/model.xlsx", year, g1))
    val g2 = t.span("export.collect")(Exports.sheetRows(model, "date"))
    t.span("export.xls")(Xls.upsertSheet(s"$outDir/obsflows.xls", year, g2))
    tally.rowsCollected += g1._2.length + g2._2.length
    t.span("pipeline.result_count")((hourly.count(), daily.count()))
  }

  private def verifyExport(counts: (Long, Long), model: Array[Row], traced: Boolean): Boolean = {
    val env = gen.env
    val hours = env.storeHours + nextTick
    val days = (hours - 1) / 24 + 1
    val keys = 2L * (env.wscStations + env.provStations + env.usgsStations)
    val xlsx = Xlsx.read(s"$outDir/model.xlsx")
    val xls = Xls.read(s"$outDir/obsflows.xls")
    val coffeeRows = spark.read.option("header", "true").csv(s"$outDir/coffee").count()
    val wantCols = 1 + gen.qStations.size
    def shape(wb: Seq[(String, Xlsx.Grid)]) =
      wb.map { case (n, (hdr, rows)) => (n, hdr.length, rows.length, rows.forall(_.length == hdr.length)) }
    val (estOk, cells) = Estimates.verify(model, gen.qStations, estimates)
    if (traced) {
      tally.cellsEstimated += cells
      tally.bytesOut += Seq("model.xlsx", "obsflows.xls").map(f =>
        Files.size(java.nio.file.Paths.get(outDir, f))).sum +
        Fs.bytes(java.nio.file.Paths.get(outDir, "coffee"))
    }
    val year = gen.T0.getYear.toString
    Seq(
      check(counts == (keys * hours, keys * days),
        s"export counts $counts, expected ${(keys * hours, keys * days)}"),
      check(shape(xlsx) == Seq((year, wantCols, days, true)), s"xlsx shape ${shape(xlsx)}"),
      check(shape(xls) == Seq((year, wantCols, days, true)), s"xls shape ${shape(xls)}"),
      check(xlsx.head._2._2.map(_.toSeq).toSeq == xls.head._2._2.map(_.toSeq).toSeq,
        "xlsx and xls sheets differ"),
      check(coffeeRows == (gen.qStations.size.toLong * hours),
        s"coffee rows $coffeeRows, expected ${gen.qStations.size.toLong * hours}"),
      check(model.length == days && estOk, s"model input: ${model.length} rows, formulas ok=$estOk")
    ).forall(identity)
  }

}

/** Seeded station-estimate formulas in the reference's Station_Estimates
  * grammar, and an independent evaluator to check what `Formula` made. */
object Estimates {

  def make(stations: Seq[String], seed: Long): Seq[(String, String, Boolean)] = {
    val r = new scala.util.Random(seed)
    val s = r.shuffle(stations).toIndexedSeq
    def c() = BigDecimal(0.1 + r.nextDouble() * 2).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    Seq(
      ("EST_A", s"(${c()}*{${s(0)}}+${c()}*{${s(1)}}).clip(lower=0.001)", false),
      ("EST_B", s"0.0006*{${s(2)}}^2+${c()}*{${s(3)}}-0.5642", false),
      ("EST_C", s"({${s(4)}}+{${s(5)}})/2", false),
      (s(6), s"${c()}*{${s(7)}}", true))
  }

  /** Evaluate the formula subset `make` emits over one row's inputs. */
  private def eval(f: String, v: String => Option[Double]): Option[Double] = {
    val ast = graft.formula.Formula.parse(f)
    import graft.formula.Formula._
    def go(a: Ast): Option[Double] = a match {
      case Num(x)        => Some(x)
      case Ref(n)        => v(n)
      case Neg(e)        => go(e).map(-_)
      case Clip(e, lo)   => go(e).map(math.max(_, lo))
      case Bin(op, l, r) =>
        for (x <- go(l); y <- go(r)) yield op match {
          case '+' => x + y
          case '-' => x - y
          case '*' => x * y
          case '/' => x / y
          case '^' => math.pow(x, y)
        }
    }
    go(ast)
  }

  /** True when every estimate column matches; also the estimated cells. */
  def verify(rows: Array[Row], stations: Seq[String],
             est: Seq[(String, String, Boolean)]): (Boolean, Long) = {
    var ok = rows.nonEmpty
    var cells = 0L
    for (row <- rows) {
      val names = row.schema.fieldNames
      def in(n: String): Option[Double] = {
        val i = names.indexOf(n)
        if (i < 0 || row.isNullAt(i)) None else Some(row.getDouble(i))
      }
      // inputs are the pivoted values before any estimate overwrote them
      val inputs = stations.map(s => s -> in(s)).toMap
      for ((out, f, onlyIfMissing) <- est) {
        val e = eval(f, n => inputs.getOrElse(n, None))
        val want = if (onlyIfMissing) inputs.getOrElse(out, None).orElse(e) else e
        val got = in(out)
        if (onlyIfMissing && inputs.getOrElse(out, None).isEmpty && got.isDefined) cells += 1
        if (!onlyIfMissing && got.isDefined) cells += 1
        val same = (want, got) match {
          case (Some(a), Some(b)) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))
          case (None, None)       => true
          case _                  => false
        }
        ok &&= same
      }
    }
    (ok, cells)
  }
}

/** Small filesystem helpers (the harness's own files only). */
object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Regular files under `p` with a (size, mtime) stamp. */
  def files(p: Path): Map[Path, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        f -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap
      finally s.close()
    }
}
