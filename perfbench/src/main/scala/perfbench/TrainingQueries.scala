package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `training_queries`: each op builds one registered query with
  * `graft.SparkEntry.queries(name)(spark, dir)` and materializes it into the
  * noop sink. One round is one pass over a fixed mix, in an order shuffled
  * by the seed. The tables are generated once per setup from a fixed data
  * seed, so the stored output fingerprints hold for every run seed.
  */
final class TrainingQueries(spark: SparkSession, work: Path, seed: Long,
                            fingerprints: Path, record: Boolean,
                            tracer: Option[Tracer]) extends Workload {
  import TrainingQueries._

  private val order: IndexedSeq[String] = new Random(seed).shuffle(Mix.map(_._1)).toIndexedSeq
  private val dataDir: Path = work.resolve("data")
  private var next = 0
  private val known: Map[String, String] =
    if (record || !Files.exists(fingerprints)) Map.empty
    else new String(Files.readAllBytes(fingerprints), UTF_8).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
  private val seen = scala.collection.mutable.Map.empty[String, String]
  private var opBuild = Vector.empty[(Double, Double)]

  def setup(): Unit = TrainingData.write(spark, dataDir.toString)

  /** Two passes: after one, each pass still runs about 10 % faster than
    * the one before (JIT), so a single warm-up pass leaves the measured
    * rounds on that slope. */
  def warmup(): Unit = {
    val ok = (1 to 2).map(_ => runRound(traced = false).failed == 0).forall(identity)
    if (record) {
      val lines = seen.toSeq.sortBy(_._1).map { case (q, fp) => s"$q\t$fp" }
      Files.write(fingerprints, ("# query\trows:content-hash over the generated tables\n" +
        lines.mkString("", "\n", "\n")).getBytes(UTF_8))
      System.err.println(s"[perfbench] recorded ${lines.size} fingerprints to $fingerprints")
    }
    require(ok, "warm-up pass failed its output checks")
  }

  def runRound(traced: Boolean): Round = {
    val rs = order.map(runQuery(_, traced))
    val ok = rs.filter(_._2).map(_._1)
    Round(ok, ok.sum, rs.size, rs.count(!_._2))
  }

  private def runQuery(name: String, traced: Boolean): (Double, Boolean) = {
    next += 1
    val obs = Observation(s"fp$next")
    val t0 = System.nanoTime()
    val (secs, build, action) = tracer.filter(_ => traced) match {
      case None =>
        def run(): Unit = {
          val df = graft.SparkEntry.queries(name)(spark, dataDir.toString)
          fingerprinted(df, obs).write.format("noop").mode("overwrite").save()
        }
        tracer.fold(run())(_.counted(run()))
        ((System.nanoTime() - t0) / 1e9, 0.0, 0.0)
      case Some(t) =>
        val df = t.span("queries.build")(graft.SparkEntry.queries(name)(spark, dataDir.toString))
        val t1 = System.nanoTime()
        t.span("queries.action")(
          fingerprinted(df, obs).write.format("noop").mode("overwrite").save())
        val t2 = System.nanoTime()
        ((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    Heap.sample()
    if (traced) opBuild :+= ((build, action))
    val m = obs.get
    val fp = s"${m("n")}:${m("h")}"
    seen(name) = fp
    System.err.println(f"[perfbench] $name%-28s $secs%.3fs")
    val ok = record || known.get(name).contains(fp)
    if (!ok) System.err.println(
      s"[perfbench] CHECK FAILED: $name fingerprint $fp, expected ${known.getOrElse(name, "none")}")
    (secs, ok)
  }

  def bytesPerCell: Double = {
    val cells = Tables.map { t =>
      val df = spark.read.parquet(dataDir.resolve(s"$t.parquet").toString)
      df.count() * df.columns.length
    }.sum
    Fs.bytes(dataDir).toDouble / cells
  }

  def layerCounts(spans: Seq[Span], tracer: Tracer, n: Int): Map[String, Double] = {
    // per traced round, i.e. per pass over the mix
    def jobs(name: String) =
      spans.filter(s => s.name == name && s.kind == "real").map(s => tracer.jobsOf(s.id)).sum
    val dominated = opBuild.count { case (b, a) => b > a }
    Map(
      "queries.build_jobs" -> jobs("queries.build").toDouble / n,
      "queries.action_jobs" -> jobs("queries.action").toDouble / n,
      "queries.build_dominated" -> dominated.toDouble / n)
  }
}

object TrainingQueries {

  /** The fixed mix: (query, group). Build-dominated queries spend their
    * time in eager sizing jobs while the query is being built; job-heavy
    * ones fire dozens of small jobs; the scan/shuffle group's time is in
    * the timed action. */
  val Mix: Seq[(String, String)] = Seq(
    "q226_crawl_pipeline" -> "build",
    "q223_bpe_fertility" -> "jobs",
    "q03_segment_revenue" -> "action")

  val Tables: Seq[String] = Seq("region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Order-insensitive output fingerprint, observed during the action:
    * row count and the sum of per-row hashes. Doubles are compared at
    * float precision so last-bit differences of reordered arithmetic do
    * not count as a changed result. */
  def fingerprinted(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(h.cast(DecimalType(38, 0))), lit(BigDecimal(0))).as("h"))
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType          => c.cast(FloatType)
    case ArrayType(et, _)    => transform(c, x => norm(x, et))
    case StructType(fs)      =>
      when(c.isNotNull, struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _)  =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _                   => c
  }
}

/** Deterministic synthetic tables in the shape of the query suite's inputs
  * (a TPC-H-like star schema, an `events` stream, a text corpus and an
  * embedding set), at about a hundredth of TPC-H scale factor 1. */
object TrainingData {
  private val DataSeed = 42L
  private val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val PartTypes = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = IndexedSeq("blue", "hot", "small", "old", "new", "red", "big", "cold")
  private val Nouns = IndexedSeq("bolt", "gear", "anvil", "ring", "widget", "nut", "spring", "valve")
  private val EventTypes = IndexedSeq("click", "view", "purchase", "signup", "error")
  private val Langs = IndexedSeq("en", "en", "en", "es", "zh", "de", "fr")
  private val Vocab = ("key agg row scan slow fast table value part hash a the batch window " +
    "spark order data column join small line customer query merge big filter sort stream " +
    "vector index shard token model train eval score rank dedup crawl page text").split(" ").toIndexedSeq

  private def ts(epochSec: Long): Timestamp = new Timestamp(epochSec * 1000L)
  private def price(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  def write(spark: SparkSession, dir: String): Unit = {
    val r = new Random(DataSeed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until 100).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), price(r, -999, 9999))))
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until 1500).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        price(r, -999, 9999), Segments(r.nextInt(5)))))
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until 2000).map(i => Row(i.toLong,
        s"${Adjectives(r.nextInt(8))} ${Nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
        PartTypes(r.nextInt(6)), 1 + r.nextInt(50), price(r, 900, 999.9))))

    val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * 86400L
    val orders = (0 until 15000).map { i =>
      Row(i.toLong, r.nextInt(1500).toLong, Seq("O", "F", "P")(r.nextInt(3)),
        price(r, 1000, 500000), ts(day0 + r.nextInt(2400) * 86400L), Priorities(r.nextInt(5)))
    }
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))), orders)
    val lineitem = (0 until 60000).map { i =>
      val qty = 1 + r.nextInt(50)
      Row(r.nextInt(15000).toLong, r.nextInt(2000).toLong, r.nextInt(100).toLong,
        1 + i % 7, qty.toDouble, price(r, 900, 105000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
        ts(day0 + r.nextInt(2400) * 86400L))
    }
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))), lineitem)

    val ev0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L * 1000000L
    val span = 30L * 86400L * 1000000L
    val evTimes = Seq.fill(10000)((r.nextDouble() * span).toLong).sorted
    val events = evTimes.zipWithIndex.map { case (us, i) =>
      val t = new Timestamp((ev0 + us) / 1000L)
      t.setNanos(((ev0 + us) % 1000000L).toInt * 1000)
      Row(i.toLong, t, r.nextInt(150).toLong, EventTypes(r.nextInt(5)),
        r.nextInt(5000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))), events)

    val docs = (0 until 500).map { i =>
      val text = Seq.fill(20 + r.nextInt(60))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      Row(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${i % 20}", text.length.toLong)
    }
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))), docs)

    val centers = IndexedSeq.fill(10)(IndexedSeq.fill(64)(r.nextGaussian()))
    val embs = (0 until 500).map { i =>
      val label = r.nextInt(10)
      val v = centers(label).map(c => c + 0.6 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat), label)
    }
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType))), embs)
  }
}
