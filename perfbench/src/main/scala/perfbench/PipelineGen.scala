package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Size of the reduced reference envelope the pipeline workloads run on:
  * the reference's shape (5-minute cadence, 2-day lookback, 48-hour SWOB
  * batch, one workbook column per discharge station) at a few dozen
  * stations, so a tick takes seconds. The store holds 45 days from the
  * first of a month: one full month partition the ticks never touch and
  * half of the month they land in, so each merge rewrites about 7.5 times
  * the rows it stages (the reference rewrites a month partition of about
  * 9 M rows for 1.07 M staged).
  */
final case class Envelope(
    wscStations: Int = 6,
    provStations: Int = 2,
    usgsStations: Int = 2,
    ecccStations: Int = 6,
    storeDays: Int = 45) {
  val storeHours: Int = storeDays * 24
  val lookbackHours: Int = 48
}

/** Seeded generator of staged source batches for the tick CLIs, and the
  * oracle that says what the store, the ECCC grid and the exports must
  * hold afterwards. Every value is a pure function of (seed, station,
  * slot, revision), so the oracle needs no copy of the data.
  *
  * Time model (store wall clock): slot `s` is the 5-minute instant
  * `T0 + 5s min`; hour `h` holds slots 12h..12h+11. The bootstrap writes
  * hours [0, storeHours) at revision 0 as the normalized frame the ingest
  * would make of them (`storeFrame`). Tick `k` stages the 48-hour
  * lookback [storeHours+k-47, storeHours+k] at revision k+1: one new hour,
  * 47 hours already stored. Re-staged cells carry different values, so
  * old-wins merging is visible. Null readings depend on (station, slot)
  * only, so a re-staged null stays null and a stored value never meets a
  * null from a later revision.
  *
  * Source quirks copied from the bundled fixtures: WSC dates carry mixed
  * UTC offsets and sub-slot jitter, files hold within-file duplicates
  * (first line wins), provincial rows are UTC, re-keyed through the
  * station list (an unlisted station is dropped, one listed station
  * re-keys onto a WSC station so the two sources collide and WSC wins),
  * USGS rows are UTC in cfs/ft, SWOB is one XML file per (station, UTC
  * hour) with "MSNG" markers.
  */
final class PipelineGen(val env: Envelope, seed: Long) {
  import PipelineGen._

  val T0: LocalDateTime = LocalDateTime.of(2025, 6, 1, 0, 0)
  private val Pacific = ZoneId.of("America/Vancouver")

  val wscIds: IndexedSeq[String] = (0 until env.wscStations).map(i => f"08GA$i%03d")
  val provIds: IndexedSeq[String] = (0 until env.provStations).map(j => f"PRV$j%04d")
  val provKeyed: IndexedSeq[String] = (0 until env.provStations).map(j => f"08PR$j%03d")
  val usgsIds: IndexedSeq[String] = (0 until env.usgsStations).map(u => f"124$u%05d")
  val ecccIds: IndexedSeq[String] = (0 until env.ecccStations).map(e => f"WX$e%02d")
  /** The provincial station re-keyed onto a WSC station id. */
  val crossProvId = "PRVX0001"
  val crossTarget: String = wscIds(1 % env.wscStations)

  /** Stations with discharge, i.e. the model-input workbook columns. */
  val qStations: Seq[String] = (wscIds ++ provKeyed ++ usgsIds).sorted

  private def h(key: Long, slot: Long): Long = mix(seed * 0x632BE59BD9B4E019L + key, slot)

  def slotTime(s: Long): LocalDateTime = T0.plusMinutes(5 * s)
  def hourTime(hr: Long): LocalDateTime = T0.plusHours(hr)

  // ---- value functions: one place, used by the stager and the oracle ----

  private def wscQ(i: Int, s: Long, rev: Int): Option[Double] = {
    val x = h(1000 + i, s)
    if (x % 101 == 0) None else Some(((x + rev * 7919L) % 100000) / 100.0)
  }
  private def wscH(i: Int, s: Long, rev: Int): Option[Double] = {
    val x = h(1500 + i, s)
    if (i % 2 == 1 || x % 37 == 0) None else Some(((x + rev * 7919L) % 100000) / 1000.0)
  }
  private def provV(key: Int, s: Long, rev: Int, scale: Double): Option[Double] = {
    val x = h(key, s)
    if (x % 53 == 0) None else Some(((x + rev * 7919L) % 100000) / scale)
  }
  private def usgsCfs(u: Int, s: Long, rev: Int): Option[Double] =
    Some(((h(3000 + u, s) + rev * 7919L) % 100000) / 10.0)
  private def usgsFt(u: Int, s: Long, rev: Int): Option[Double] = {
    val x = h(3500 + u, s)
    if (x % 29 == 0) None else Some(((x + rev * 7919L) % 10000) / 100.0)
  }
  private def ecccTa(e: Int, g: Long, rev: Int): Option[Double] =
    Some(((h(4000 + e, g) + rev * 7919L) % 600) / 10.0 - 30.0)
  private def ecccPc(e: Int, g: Long, rev: Int): Option[Double] = {
    val x = h(4500 + e, g)
    if (x % 23 == 0) None else Some(((x + rev * 7919L) % 100) / 10.0)
  }
  /** (station, hour) cells never delivered: the ECCC resume work-list. */
  def ecccHole(e: Int, g: Long): Boolean = h(4900 + e, g) % 53 == 0

  // ---- oracle ----

  /** Store rows (station, param, value) of one slot at revision `rev`, as
    * the ingest normalizes them: the cross-keyed provincial station loses
    * to WSC and the unlisted one is dropped, so neither adds a row. */
  def storeRows(s: Long, rev: Int): Iterator[(String, String, Option[Double])] = {
    val wsc = (0 until env.wscStations).iterator.flatMap(i =>
      Iterator((wscIds(i), "Q", wscQ(i, s, rev)), (wscIds(i), "H", wscH(i, s, rev))))
    val prov = (0 until env.provStations).iterator.flatMap(j => Iterator(
      (provKeyed(j), "Q", provV(2000 + j, s, rev, 100.0)),
      (provKeyed(j), "H", provV(2500 + j, s, rev, 1000.0))))
    val usgs =
      if (s % 3 != 0) Iterator.empty
      else (0 until env.usgsStations).iterator.flatMap(u => Iterator(
        (usgsIds(u), "Q", usgsCfs(u, s, rev).map(v => sparkRound(v / 35.3147, 3))),
        (usgsIds(u), "H", usgsFt(u, s, rev).map(v => sparkRound(v / 3.28084, 3)))))
    wsc ++ prov ++ usgs
  }

  /** Store cells of one slot at the revision that first wrote them. */
  def storeCells(s: Long, rev: Int): Iterator[Option[Double]] = storeRows(s, rev).map(_._3)

  /** Revision that first stored slot `s` after the bootstrap and ticks. */
  def firstRev(s: Long): Int = {
    val hr = s / 12
    if (hr < env.storeHours) 0 else (hr - env.storeHours).toInt + 1
  }

  /** Expected (rows, non-null values, checksum) of the store for slots in
    * [from, until) as first written. */
  def storeSums(from: Long, until: Long, rev: Long => Int = firstRev): Sums = {
    var acc = Sums.zero
    var s = from
    while (s < until) {
      storeCells(s, rev(s)).foreach(v => acc = acc.add(v))
      s += 1
    }
    acc
  }

  private val hourSums = mutable.HashMap.empty[Long, Sums]

  /** `storeSums` of hours [0, untilHour) as first written, memoized per
    * hour: a stored hour never changes, and the store holds many. */
  def storedSums(untilHour: Long): Sums =
    (0L until untilHour).foldLeft(Sums.zero) { (acc, hr) =>
      acc + hourSums.getOrElseUpdate(hr, storeSums(hr * 12, hr * 12 + 12))
    }

  def ecccCells(e: Int, g: Long, rev: Int): Seq[(String, Option[Double])] =
    Seq("TA" -> ecccTa(e, g, rev), "PC" -> ecccPc(e, g, rev))

  def gridSums(fromHour: Long, untilHour: Long, rev: Long => Int): Sums = {
    var acc = Sums.zero
    for (e <- 0 until env.ecccStations; g <- fromHour until untilHour if !ecccHole(e, g))
      ecccCells(e, g, rev(g * 12)).foreach { case (_, v) => acc = acc.add(v) }
    acc
  }

  /** Expected ECCC pending cells once hours [0, untilHour) were offered. */
  def ecccPending(untilHour: Long): Long = {
    val present = for (e <- 0 until env.ecccStations; g <- 0L until untilHour
                       if !ecccHole(e, g)) yield g
    (present.max - present.min + 1) * env.ecccStations - present.size
  }

  // ---- staging ----

  private val isoLocal = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val plain = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val swobHour = DateTimeFormatter.ofPattern("yyyyMMddHH")
  private val Offsets = IndexedSeq("-07:00", "-08:00", "Z", "+00:00", "-0700")

  private def utc(local: LocalDateTime): LocalDateTime =
    local.atZone(Pacific).withZoneSameInstant(ZoneOffset.UTC).toLocalDateTime

  private def fmt(v: Option[Double]): String = v.map(_.toString).getOrElse("")

  /** Write the WSC, provincial and USGS CSVs for slots [from, until) at
    * revision `rev` under `dir`; returns (files, cells staged). WSC and
    * USGS records carry two values (Q, H), provincial records one. */
  def stageHydro(dir: Path, from: Long, until: Long, rev: Int): (Int, Long) = {
    var cells = 0L
    val wscDir = Files.createDirectories(dir.resolve("wsc"))
    val groups = (0 until env.wscStations).groupBy(_ % 4).toSeq.sortBy(_._1)
    for ((g, stations) <- groups) {
      val sb = new StringBuilder
      val dups = new StringBuilder
      sb.append(" ID,Date,Water Level / Niveau d'eau (m),Grade,Symbol / Symbole,QA/QC," +
        "Discharge / Débit (cms),Grade,Symbol / Symbole,QA/QC\n")
      def line(out: StringBuilder, i: Int, s: Long, r: Int, jitterKey: Long): Unit = {
        val x = h(7000 + i, jitterKey)
        val t = slotTime(s).plusSeconds(x % 221 - 110)
        out.append(wscIds(i)).append(',').append(t.format(isoLocal))
          .append(Offsets((x % Offsets.size).toInt)).append(',')
          .append(fmt(wscH(i, s, r))).append(",,,1,")
          .append(fmt(wscQ(i, s, r))).append(",,,1\n")
        cells += 2
      }
      for (i <- stations; s <- from until until) {
        line(sb, i, s, rev, s)
        if (h(7500 + i, s) % 41 == 0) line(dups, i, s, rev + 17, s + 1000003L)
      }
      sb.append(dups)
      Files.write(wscDir.resolve(s"BC_${('A' + g).toChar}_hourly.csv"),
        sb.toString.getBytes(UTF_8))
    }

    val provDir = Files.createDirectories(dir.resolve("provincial"))
    Files.write(provDir.resolve("provincial_station_list.csv"),
      (("ID,ID2" +: provIds.zip(provKeyed).map { case (a, b) => s"$a,$b" }) :+
        s"$crossProvId,$crossTarget").mkString("", "\n", "\n").getBytes(UTF_8))
    for ((file, param, keyBase, scale) <- Seq(("Discharge", "Discharge", 2000, 100.0),
                                              ("Stage", "Stage", 2500, 1000.0))) {
      val sb = new StringBuilder
      val dups = new StringBuilder
      sb.append("Location ID,Location Name,Parameter,Unit,Grade, Date/Time(UTC),Approval, Value\n")
      def line(out: StringBuilder, id: String, s: Long, v: Option[Double]): Unit = {
        out.append(id).append(",SOME CREEK,").append(param).append(",m,C, ")
          .append(utc(slotTime(s)).format(plain)).append(",Preliminary,")
          .append(v.map(x => s" $x").getOrElse("")).append('\n')
        cells += 1
      }
      for (s <- from until until) {
        for (j <- 0 until env.provStations) {
          line(sb, provIds(j), s, provV(keyBase + j, s, rev, scale))
          if (h(8000 + j, s) % 43 == 0)
            line(dups, provIds(j), s, provV(keyBase + j, s, rev + 17, scale))
        }
        line(sb, crossProvId, s, provV(keyBase + 900, s, rev, scale))
        if (s % 12 == 0) line(sb, "UNLISTED1", s, Some(1.0))
      }
      sb.append(dups)
      Files.write(provDir.resolve(s"$file.csv"), sb.toString.getBytes(UTF_8))
    }

    val usgsDir = Files.createDirectories(dir.resolve("usgs"))
    val sb = new StringBuilder("site_no,datetime,00060,00065\n")
    val dups = new StringBuilder
    def uline(out: StringBuilder, u: Int, s: Long, r: Int): Unit = {
      out.append(usgsIds(u)).append(',').append(utc(slotTime(s)).format(plain))
        .append("+00:00,").append(fmt(usgsCfs(u, s, r))).append(',')
        .append(fmt(usgsFt(u, s, r))).append('\n')
      cells += 2
    }
    for (u <- 0 until env.usgsStations; s <- from until until if s % 3 == 0) {
      uline(sb, u, s, rev)
      if (h(8500 + u, s) % 47 == 0) uline(dups, u, s, rev + 17)
    }
    sb.append(dups)
    Files.write(usgsDir.resolve("usgs_iv.csv"), sb.toString.getBytes(UTF_8))
    (4 + 3 + 1, cells)
  }

  /** One SWOB-ML file per (station, hour) for hours [fromHour, untilHour). */
  def stageSwob(dir: Path, fromHour: Long, untilHour: Long, rev: Int): Int = {
    val d = Files.createDirectories(dir)
    var n = 0
    for (e <- 0 until env.ecccStations; g <- fromHour until untilHour if !ecccHole(e, g)) {
      // SWOB file names carry the UTC hour; ECCC time is a fixed UTC-8
      val name = s"${ecccIds(e)}_${hourTime(g).plusHours(8).format(swobHour)}.xml"
      val ta = ecccTa(e, g, rev).map(_.toString).getOrElse("MSNG")
      val pc = ecccPc(e, g, rev).map(_.toString).getOrElse("MSNG")
      val xml =
        s"""<om:ObservationCollection xmlns:om="http://dms.ec.gc.ca/schema/point-observation/2.0">
           |  <elements>
           |    <element name="air_temp" uom="degC" value="$ta"/>
           |    <element name="avg_air_temp_pst1hr" uom="degC" value="$ta"/>
           |    <element name="pcpn_amt_pst1hr" uom="mm" value="$pc"/>
           |  </elements>
           |</om:ObservationCollection>
           |""".stripMargin
      Files.write(d.resolve(name), xml.getBytes(UTF_8))
      n += 1
    }
    n
  }

  /** Rows of the prior ECCC grid for hours [0, storeHours), in the layout
    * EcccTick persists: (station, ts, param, value, f_read). */
  def gridRows: Seq[(String, java.sql.Timestamp, String, java.lang.Double, Boolean)] =
    for {
      e <- 0 until env.ecccStations
      g <- 0L until env.storeHours
      if !ecccHole(e, g)
      (param, v) <- ecccCells(e, g, 0)
    } yield (ecccIds(e), java.sql.Timestamp.valueOf(hourTime(g)), param,
      v.map(java.lang.Double.valueOf).orNull, true)

  /** Stage tick `k` (the 48-hour lookback ending at hour storeHours+k);
    * returns (files, cells staged), each SWOB file carrying TA and PC. */
  def stageTick(dir: Path, k: Int): (Int, Long) = {
    val last = env.storeHours + k
    val first = last - env.lookbackHours + 1
    val (files, cells) = stageHydro(dir, first * 12L, (last + 1) * 12L, k + 1)
    val swob = stageSwob(dir.resolve("swob"), first, last + 1, k + 1)
    (files + swob, cells + 2L * swob)
  }

  /** Hours re-merged by tick `k`: stored before it, staged again by it. */
  def overlapHours(k: Int): (Long, Long) = {
    val last = env.storeHours + k
    (last - env.lookbackHours + 1, last)
  }

  def timestamp(t: LocalDateTime): String = t.format(plain)
}

/** (rows, non-null values, sum of round(value * 1000)). */
final case class Sums(rows: Long, nonNull: Long, milli: Long) {
  def add(v: Option[Double]): Sums = v match {
    case Some(x) => Sums(rows + 1, nonNull + 1, milli + PipelineGen.milli(x))
    case None    => Sums(rows + 1, nonNull, milli)
  }
  def +(o: Sums): Sums = Sums(rows + o.rows, nonNull + o.nonNull, milli + o.milli)
}
object Sums { val zero: Sums = Sums(0, 0, 0) }

object PipelineGen {

  /** The store's bootstrap as one normalized frame (station, ts, param,
    * value): every store row of slots [0, untilSlot) at revision 0,
    * generated in parallel on the executors. */
  def storeFrame(spark: SparkSession, env: Envelope, seed: Long, untilSlot: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, untilSlot, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions { slots =>
        val g = new PipelineGen(env, seed)
        slots.flatMap { s =>
          val ts = java.sql.Timestamp.valueOf(g.slotTime(s))
          g.storeRows(s, 0).map { case (st, p, v) => (st, ts, p, v) }
        }
      }.toDF("station", "ts", "param", "value")
  }

  /** splitmix64 finalizer over a (key, slot) pair; non-negative. */
  def mix(key: Long, slot: Long): Long = {
    var x = key * 0x9E3779B97F4A7C15L + slot * 0xBF58476D1CE4E5B9L
    x ^= x >>> 31
    x *= 0x94D049BB133111EBL
    x ^= x >>> 29
    x & Long.MaxValue
  }

  /** Spark's `round(double, scale)`: HALF_UP on the decimal rendering. */
  def sparkRound(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `round(x * 1000)` as Spark computes it: half away from zero. */
  def milli(x: Double): Long = {
    val y = x * 1000
    if (y >= 0) math.floor(y + 0.5).toLong else -math.floor(0.5 - y).toLong
  }
}
