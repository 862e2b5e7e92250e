package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.{DriverManager, SQLException, Timestamp}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.domain.{Klines, SymbolDim}
import graft.sources.{JdbcSink, PartitionedStore}
import graft.streaming.IncrementalIngest

/** The reference's batch ETL as two workloads, a cold backfill and the
  * hourly update cycle, over one chain: fetch → normalize → per-symbol
  * parquet cache → keep-last upsert into the month-partitioned table →
  * read-back as 1h bars with funding rates → JDBC sink (in-memory Derby
  * standing in for ClickHouse) of the pass's 1m rows and its bars.
  */
object Etl {
  val Keys = Seq("symbol", "interval", "timestamp")
  val Version = Seq("ingest_seq")
  val TableSchema = StructType(Klines.schema.fields :+ StructField("ingest_seq", LongType))
  val PageLimit = 1000
  private val DerbyDriver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
  private val HourMs = 3600L * 1000
  private val DayMs = 24 * HourMs

  def sinkConfig(db: String, table: String): JdbcSink.Config = JdbcSink.Config(
    url = s"jdbc:derby:memory:$db;create=true", table = table,
    isolationLevel = "READ_COMMITTED", driver = Some(DerbyDriver))

  def dropDerby(db: String): Unit =
    try {
      Class.forName(DerbyDriver)
      DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    } catch { case _: SQLException => () } // Derby reports a drop as an exception

  private val priceCols = Seq("open", "high", "low", "close", "volume",
    "quote_volume", "taker_buy_volume", "taker_buy_quote_volume")

  /** Count and order-independent hash of 1m table rows, in one Spark
    * aggregate. Each row renders as [[KlineFeed#Bar.line]] does (prices as
    * integer units of 1e-8), so the sum equals the feed's expected digest.
    */
  def storeDigest(df: DataFrame): Stats.Digest = {
    val fields = Seq(col("symbol"), col("exchange"), col("type"), col("interval"),
      unix_millis(col("timestamp")), unix_millis(col("close_time"))) ++
      priceCols.map(c => (col(c) * 100000000).cast("long")) ++
      Seq(col("trades_count"), col("ingest_seq"))
    val line = concat_ws("|", fields.map(_.cast("string")): _*)
    val r = df.agg(count(lit(1)), sum(xxhash64(line).cast("decimal(38,0)"))).head()
    Stats.Digest(r.getLong(0),
      if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger))
  }

  private def units(d: java.math.BigDecimal): Long = d.movePointRight(8).longValueExact()
  private def ms(t: Timestamp): Long = t.getTime

  /** A collected 1h bar with its funding columns, as [[Workload.expectedBars]] renders it. */
  def barLine(r: Row): String = (Seq[Any](
    r.getAs[String]("symbol"), ms(r.getAs[Timestamp]("timestamp")),
    ms(r.getAs[Timestamp]("close_time"))) ++
    priceCols.map(c => units(r.getAs[java.math.BigDecimal](c))) ++
    Seq[Any](r.getAs[Long]("trades_count"), r.getAs[Double]("fundingRate"),
      r.getAs[Double]("markPrice"))).mkString("|")

  private def dayOf(ts: Long): Long = Math.floorDiv(ts, DayMs) * DayMs

  val names: Seq[String] = Seq("etl_backfill", "etl_update")

  def make(name: String, spark: SparkSession, work: File, seed: Long): Workload =
    name match {
      case "etl_backfill" => new Backfill(spark, work, seed)
      case "etl_update" => new Update(spark, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def copyRecursively(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(f => copyRecursively(f, new File(to, f.getName))))
    } else Files.copy(from.toPath, to.toPath)

  /** One workload: a set-up that can be repeated, and ops run in a closed
    * loop by one client over the chain below. An op either returns normally
    * and passes [[check]], or it counts as failed and contributes no time.
    */
  abstract class Workload(spark: SparkSession, work: File, seed: Long) {
    def name: String

    /** Build the inputs and the starting state. Called several times; the
      * state of the last call is the one the ops run against.
      */
    def setup(): Unit

    /** Untimed preparation of op `i`'s starting state. */
    def before(i: Int): Unit = ()

    /** One op, with its layer calls wrapped in `tr` spans. */
    def op(i: Int, tr: Tracer): Unit

    /** Untimed validation of op `i`'s outputs: None when they are right. */
    def check(i: Int): Option[String]

    protected var feed: KlineFeed = _
    protected def symbols: Int
    /** The table, cache, checkpoint and sink database the current op uses. */
    protected def table: File
    protected def cache: File
    protected def checkpoint: File
    protected def db: String
    /** Bars `[from, to]` the sink's 1m table holds, for the sink gate. */
    protected def sinkRange: (Int, Int)

    private var listed: IndexedSeq[Int] = IndexedSeq.empty
    private var funding: DataFrame = _
    private var barsSchema: StructType = _
    private var fetchMark = (0L, 0L, 0L)
    private var lastCounts = Map.empty[String, Double]
    private var lastRows: IndexedSeq[Vector[Row]] = IndexedSeq.empty
    private var lastBars: Array[Row] = Array.empty
    private var lastVersion = 0L
    private var lastDays: Seq[Long] = Nil
    protected var tableBefore = Map.empty[String, Set[String]]
    private val fetched = mutable.HashMap.empty[Int, Long]
    private val touchedDays = mutable.SortedSet.empty[Long]

    /** Source rows op `i` fetched. */
    def opRows(i: Int): Long = fetched.getOrElse(i, 0L)

    /** Layer counts of the last checked op that the program does not report to Spark. */
    def opCounts: Map[String, Double] = lastCounts

    /** A fresh seeded feed and its funding-rate frame. */
    protected def newFeed(bars: Int, startMs: Long): Unit = {
      feed = new KlineFeed(seed, symbols, bars, startMs)
      listed = listSymbols()
      funding = spark.createDataFrame(feed.fundingRows)
        .toDF("symbol", "ft", "fundingRate", "markPrice")
        .withColumn("fundingTime", timestamp_millis(col("ft"))).drop("ft")
      touchedDays.clear()
    }

    /** The symbols to load, as the reference picks them before fetching
      * klines: the trading spot symbols of the exchange-info document,
      * through `SymbolDim.spotSymbols`.
      */
    private def listSymbols(): IndexedSeq[Int] = {
      import spark.implicits._
      val info = spark.read.json(Seq(feed.exchangeInfo).toDS())
      val names = SymbolDim.spotSymbols(info).filter(col("is_trading"))
        .select("symbol").as[String].collect().sorted.toIndexedSeq
      require(names == feed.names, s"listed symbols ${names.mkString(",")}, expected ${feed.names.mkString(",")}")
      names.map(feed.names.indexOf(_))
    }

    /** Fetch bars `[from, to]` of every listed symbol through the paginator. */
    private def fetchAll(from: Int, to: Int): IndexedSeq[Vector[Row]] =
      listed.map(s => feed.fetch(s, feed.tsOf(from), feed.tsOf(to), PageLimit))

    /** Normalize each symbol's rows and append them to the cache directory
      * as one parquet file per symbol, the reference's per-symbol cache.
      * The write is the action that runs `Klines.normalize`.
      */
    private def land(rows: IndexedSeq[Vector[Row]], version: Long, tag: String): Unit = {
      cache.mkdirs()
      rows.zip(listed).foreach { case (rs, s) =>
        val raw = spark.createDataFrame(rs.asJava, Klines.rawSchema)
        val df = Klines.normalize(raw, feed.names(s), KlineFeed.Exchange,
          KlineFeed.MarketType, KlineFeed.Interval).withColumn("ingest_seq", lit(version))
        val stage = new File(work, s"stage/$tag-$s")
        df.coalesce(1).write.parquet(stage.getPath)
        // the file source lists the cache directory flat: move the part file up
        stage.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          Files.move(f.toPath, new File(cache, s"${feed.names(s)}-$tag.parquet").toPath,
            StandardCopyOption.ATOMIC_MOVE)
        }
        deleteRecursively(stage)
      }
    }

    private def upsert(): Unit =
      IncrementalIngest.runOnce(spark, cache.getPath, TableSchema, Keys, Version,
        "timestamp", table.getPath, checkpoint.getPath)

    private def between(df: DataFrame, loMs: Long, hiMs: Long): DataFrame =
      df.filter(col("timestamp") >= timestamp_millis(lit(loMs)) &&
        col("timestamp") <= timestamp_millis(lit(hiMs)))

    /** One pass of the chain over bars `[from, to]`, landed as `version`. */
    protected def pass(i: Int, tr: Tracer, from: Int, to: Int, version: Long): Unit = {
      fetchMark = (feed.pageCalls, feed.pageRows, feed.retries)
      val rows = tr.span("fetch")(fetchAll(from, to))
      fetched(i) = rows.map(_.size.toLong).sum
      tr.span("normalize+cache")(land(rows, version, s"o$i"))
      tr.span("upsert")(upsert())
      val days = Seq(from, to).map(b => dayOf(feed.tsOf(b))).distinct
      val bars = tr.span("serve") {
        val touched = between(PartitionedStore.read(spark, table.getPath),
          days.head, days.last + DayMs - 1)
        val df = Klines.withFundingRate(Klines.resample(touched, "1 hour", "1h"), funding)
        barsSchema = df.schema
        df.collect()
      }
      tr.span("sink") {
        val window = between(PartitionedStore.read(spark, table.getPath),
          feed.tsOf(from), feed.tsOf(to)).drop("ym")
        JdbcSink.write(window, sinkConfig(db, "klines_1m"), SaveMode.Append)
        JdbcSink.write(spark.createDataFrame(bars.toSeq.asJava, barsSchema)
          .withColumn("pass", lit(i)), sinkConfig(db, "bars_1h"), SaveMode.Append)
      }
      lastRows = rows
      lastBars = bars
      lastVersion = version
      lastDays = days
    }

    /** Check the last pass; the caller has recorded what it landed. */
    protected def checkPass(i: Int): Option[String] = {
      touchedDays ++= lastDays
      val after = partitions(table)
      lastCounts = Map(
        "fetch.pages" -> (feed.pageCalls - fetchMark._1).toDouble,
        "fetch.rows" -> (feed.pageRows - fetchMark._2).toDouble,
        "fetch.retries" -> (feed.retries - fetchMark._3).toDouble,
        "upsert.rows_in" -> opRows(i).toDouble,
        "upsert.partitions_rewritten" -> after.count { case (k, v) => !tableBefore.get(k).contains(v) }.toDouble)
      val gotBars = Stats.Digest.of(lastBars.map(barLine))
      val wantBars = Stats.Digest.of(expectedBars(lastDays))
      storeCheck(s"op $i").orElse(
        if (gotBars == wantBars) None else Some(s"op $i: 1h bars $gotBars, expected $wantBars"))
    }

    /** Data files per month partition, to see which ones an upsert rewrote. */
    protected def partitions(table: File): Map[String, Set[String]] =
      Option(table.listFiles()).toSeq.flatten.filter(_.getName.startsWith("ym="))
        .map(p => p.getName -> Option(p.listFiles()).toSeq.flatten
          .map(_.getName).filter(_.endsWith(".parquet")).toSet).toMap

    /** The 1h bars of days `ds` from the expected 1m state, as [[barLine]] lines. */
    private def expectedBars(ds: Iterable[Long]): Seq[String] =
      for {
        s <- 0 until symbols
        d <- ds.toSeq
        h <- 0 until 24
        hourMs = d + h * HourMs
        bs = (0 until 60).flatMap(m => feed.expectedBar(s, feed.barOf(hourMs + m * KlineFeed.MinuteMs)))
        if bs.nonEmpty
      } yield Seq[Any](feed.names(s), hourMs, bs.last.ts + KlineFeed.MinuteMs - 1,
        bs.head.o, bs.map(_.h).max, bs.map(_.l).min, bs.last.c,
        bs.map(_.v).sum, bs.map(_.qv).sum, bs.map(_.tbv).sum, bs.map(_.tbqv).sum,
        bs.map(_.n).sum, feed.fundingRate(s, feed.fundingTimeAt(hourMs)), feed.markPrice(s)).mkString("|")

    private def dataFiles: Seq[File] =
      Option(table.listFiles()).toSeq.flatten.flatMap(p => Option(p.listFiles()).toSeq.flatten)
        .filter(_.getName.endsWith(".parquet"))

    /** Bytes at rest per live row of the table. */
    def storeBytesPerRow(): Double =
      dataFiles.map(_.length).sum.toDouble / math.max(1L, feed.expectedDigest.rows)

    /** Store-layer state counts of the table. */
    def storeCounts(): Map[String, Double] = {
      val conf = new Configuration()
      val fs = dataFiles
      val groups = fs.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.getPath), conf))
        try r.getFooter.getBlocks.size finally r.close()
      }.sum
      Map("store.files" -> fs.size.toDouble, "store.row_groups" -> groups.toDouble,
        "store.bytes" -> fs.map(_.length).sum.toDouble)
    }

    private def storeCheck(what: String): Option[String] = {
      val got = storeDigest(PartitionedStore.read(spark, table.getPath))
      val want = feed.expectedDigest
      if (got == want) None else Some(s"$what: table $got, expected $want")
    }

    /** End-of-run gates, as (name, passed, detail): the sink agrees with
      * the store and the expected bars; re-landing the last pass's pages
      * leaves the table unchanged.
      */
    def finish(): Seq[(String, Boolean, String)] = {
      val (lo, hi) = sinkRange
      val sunk = storeDigest(JdbcSink.readDeduped(spark, sinkConfig(db, "klines_1m"), Keys, Version))
      val stored = storeDigest(between(PartitionedStore.read(spark, table.getPath),
        feed.tsOf(lo), feed.tsOf(hi)))
      val barsBack = Stats.Digest.of(JdbcSink.readDeduped(spark, sinkConfig(db, "bars_1h"),
        Seq("symbol", "timestamp"), Seq("pass")).collect().map(barLine))
      val barsWant = Stats.Digest.of(expectedBars(touchedDays))
      land(lastRows, lastVersion, "again")
      upsert()
      val again = storeCheck("re-landed pages")
      dropDerby(db)
      Seq(
        ("etl.sink_matches_store", sunk == stored, s"sink $sunk, store $stored"),
        ("etl.sink_bars_match_expected", barsBack == barsWant, s"sink $barsBack, expected $barsWant"),
        ("etl.idempotent_reland", again.isEmpty, again.getOrElse("count and hash unchanged")))
    }
  }

  /** Cold historical load: each op is one pass over every bar into an
    * empty table and cache of its own, and into the sink's tables emptied
    * untimed before it. The sink database and its tables outlive the ops,
    * as the warehouse's do.
    */
  final class Backfill(spark: SparkSession, work: File, seed: Long)
      extends Workload(spark, work, seed) {
    val name = "etl_backfill"
    protected val symbols = 4
    private val bars = 1440
    private var current = 0

    private def opDir(i: Int) = new File(work, s"bf/$i")
    protected def table: File = new File(opDir(current), "table")
    protected def cache: File = new File(opDir(current), "cache")
    protected def checkpoint: File = new File(opDir(current), "ck")
    protected val db = "perfbench_bf"
    protected def sinkRange: (Int, Int) = (0, bars - 1)

    def setup(): Unit = {
      deleteRecursively(new File(work, "bf"))
      dropDerby(db)
      newFeed(bars, KlineFeed.MonthEdgeMs - (bars / 2) * KlineFeed.MinuteMs)
      for (s <- 0 until symbols) {
        val bs = (0 until bars).map(b => feed.Bar(s, b, 0))
        feed.publish(s, bs.map(_.raw).toArray)
        bs.foreach(feed.expect(_, 1L))
      }
    }

    override def before(i: Int): Unit = {
      if (i > 0) { // the previous op's state is no longer needed
        deleteRecursively(new File(work, "bf"))
        emptySink()
      }
      current = i
      tableBefore = Map.empty // every pass starts from an empty table
    }

    def op(i: Int, tr: Tracer): Unit = pass(i, tr, 0, bars - 1, 1L)

    private def emptySink(): Unit = {
      val c = DriverManager.getConnection(s"jdbc:derby:memory:$db;create=true")
      try Seq("klines_1m", "bars_1h").foreach { t =>
        try c.createStatement().executeUpdate(s"DELETE FROM $t")
        catch { case e: SQLException if e.getSQLState == "42X05" => () } // not created yet
      } finally c.close()
    }

    def check(i: Int): Option[String] = checkPass(i)
  }

  /** The hourly update cycle against a seeded table: re-fetch the last 60
    * bars per symbol (about 1 in 10 restated), fetch 60 new ones, upsert,
    * read back the touched days as 1h bars, ship the window and the bars.
    *
    * Every cycle starts from the seeded table, restored untimed before it,
    * so every cycle does the same amount of work whatever its index: the
    * month partition it rewrites never grows. Cycles differ in which bars
    * the exchange restated (one of `Variants` seeded patterns) and in the
    * version they land, which rises with the cycle so the sink keeps the
    * last one.
    */
  final class Update(spark: SparkSession, work: File, seed: Long)
      extends Workload(spark, work, seed) {
    val name = "etl_update"
    protected val symbols = 4
    private val seedBars = 2880
    private val Step = 60
    private val Variants = 16
    private def dir(n: String) = new File(work, s"upd/$n")
    private val seedTable = dir("seed")
    protected val table: File = dir("table")
    protected val cache: File = dir("cache")
    protected val checkpoint: File = dir("ck")
    protected val db = "perfbench_upd"
    private var windows: Array[Array[Array[Row]]] = _

    /** A cycle fetches bars `[lo, hi]`: the last Step seeded ones again, and Step new ones. */
    private val (lo, hi) = (seedBars - Step, seedBars + Step - 1)
    protected def sinkRange: (Int, Int) = (lo, hi)

    private def revision(s: Int, bar: Int, c: Int): Int = {
      val r = c % Variants + 1
      if (bar < seedBars && feed.restated(s, bar, r)) r else 0
    }

    def setup(): Unit = {
      deleteRecursively(new File(work, "upd"))
      dropDerby(db)
      newFeed(seedBars + Step, KlineFeed.MonthEdgeMs - (seedBars / 2) * KlineFeed.MinuteMs)
      // every page any cycle can serve, built now
      windows = Array.tabulate(Variants, symbols) { (v, s) =>
        (lo to hi).map(b => feed.Bar(s, b, revision(s, b, v)).raw).toArray
      }
      val seeded = (0 until symbols).map { s =>
        val bs = (0 until seedBars).map(b => feed.Bar(s, b, 0))
        bs.foreach(feed.expect(_, 1L))
        Klines.normalize(spark.createDataFrame(bs.map(_.raw).asJava, Klines.rawSchema),
          feed.names(s), KlineFeed.Exchange, KlineFeed.MarketType, KlineFeed.Interval)
      }.reduce(_ unionByName _).withColumn("ingest_seq", lit(1L))
      PartitionedStore.write(seeded, "timestamp", Keys, seedTable.getPath)
    }

    override def before(c: Int): Unit = {
      Seq(table, cache, checkpoint).foreach(deleteRecursively)
      copyRecursively(seedTable, table)
      tableBefore = partitions(table)
      for (s <- 0 until symbols; b <- lo to hi)
        if (b < seedBars) feed.expect(feed.Bar(s, b, 0), 1L) else feed.forget(s, b)
    }

    def op(c: Int, tr: Tracer): Unit = {
      for (s <- 0 until symbols) feed.publish(s, windows(c % Variants)(s))
      pass(c, tr, lo, hi, c + 2L)
    }

    def check(c: Int): Option[String] = {
      for (s <- 0 until symbols; b <- lo to hi)
        feed.expect(feed.Bar(s, b, revision(s, b, c)), c + 2L)
      checkPass(c)
    }
  }
}
