package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRow

import graft.sources.Paginator

/** A seeded stand-in for the exchange's kline endpoint.
  *
  * Every bar the run can ask for is built up front, as raw API rows (epoch
  * milliseconds and numbers as 8-decimal strings, [[graft.domain.Klines.rawSchema]]),
  * so a fetch only slices prepared arrays: generating rows inside the fetch
  * would charge the generator's cost to the fetch layer.
  *
  * Bars are 1-minute, `symbols` series of `bars` bars each starting at
  * `startMs`. Revision 0 of a [[Bar]] is its base value; a later revision is
  * the value a re-fetch serves after the exchange restated the bar.
  * The feed also keeps the expected keep-last table state, so the store
  * can be checked against it after every op.
  */
final class KlineFeed(val seed: Long, val symbols: Int, val bars: Int, val startMs: Long) {
  import KlineFeed._

  val names: IndexedSeq[String] = (0 until symbols).map(i => f"S$i%03dUSDT")

  // base series, prices and volumes in units of 1e-8
  private val open, high, low, close, volume, quoteVolume, takerVolume, takerQuote =
    Array.ofDim[Long](symbols, bars)
  private val trades = Array.ofDim[Long](symbols, bars)

  locally {
    for (s <- 0 until symbols) {
      val rnd = new java.util.SplittableRandom(seed * 1000003L + s)
      var px = (10L + rnd.nextLong(9000L)) * Unit
      for (b <- 0 until bars) {
        val o = px
        val c = math.max(Unit, o + (rnd.nextLong(2001L) - 1000L) * (o / 100000L))
        val h = math.max(o, c) + rnd.nextLong(o / 1000L + 1)
        val l = math.max(Unit / 2, math.min(o, c) - rnd.nextLong(o / 1000L + 1))
        val v = (1L + rnd.nextLong(1000L)) * Unit / 100L + rnd.nextLong(Unit)
        open(s)(b) = o; high(s)(b) = h; low(s)(b) = l; close(s)(b) = c
        volume(s)(b) = v
        quoteVolume(s)(b) = mulUnits(v, (o + c) / 2)
        takerVolume(s)(b) = v / 2 + rnd.nextLong(v / 2 + 1)
        takerQuote(s)(b) = mulUnits(takerVolume(s)(b), (o + c) / 2)
        trades(s)(b) = 1L + rnd.nextLong(900L)
        px = c
      }
    }
  }

  /** The exchange-info document listing the symbols: every served symbol
    * trading, plus two halted ones that a backfill must skip.
    */
  def exchangeInfo: String = {
    def entry(name: String, status: String) =
      s"""{"symbol":"$name","baseAsset":"${name.stripSuffix("USDT")}","quoteAsset":"USDT",""" +
        s""""status":"$status","isMarginTradingAllowed":false,"filters":[""" +
        """{"filterType":"PRICE_FILTER","minPrice":"0.00000100","tickSize":"0.00000100"},""" +
        """{"filterType":"LOT_SIZE","stepSize":"0.00100000"}]}"""
    (names.map(entry(_, "TRADING")) ++ Seq("H000USDT", "H001USDT").map(entry(_, "BREAK")))
      .mkString("""{"timezone":"UTC","symbols":[""", ",", "]}")
  }

  def tsOf(bar: Int): Long = startMs + bar * MinuteMs
  def barOf(ts: Long): Int = ((ts - startMs) / MinuteMs).toInt

  /** The bar's values as served at `revision` (0 = base, otherwise the
    * revision number of the restatement).
    */
  final case class Bar(symbol: Int, bar: Int, revision: Int) {
    val o: Long = open(symbol)(bar)
    val c: Long = if (revision == 0) close(symbol)(bar)
      else close(symbol)(bar) + (1 + mix(seed, symbol, bar, revision) % 50) * (o / 10000L + 1)
    val h: Long = math.max(high(symbol)(bar), c)
    val l: Long = math.min(low(symbol)(bar), c)
    def v: Long = volume(symbol)(bar)
    def qv: Long = quoteVolume(symbol)(bar)
    def tbv: Long = takerVolume(symbol)(bar)
    def tbqv: Long = takerQuote(symbol)(bar)
    def n: Long = trades(symbol)(bar)
    def ts: Long = tsOf(bar)

    def raw: Row = new GenericRow(Array[Any](
      ts, dec(o), dec(h), dec(l), dec(c), dec(v), ts + MinuteMs - 1,
      dec(qv), n, dec(tbv), dec(tbqv), "0"))

    /** The row's canonical line in the table, as [[Etl.storeDigest]] renders it. */
    def line(version: Long): String =
      Seq(names(symbol), Exchange, MarketType, Interval, ts, ts + MinuteMs - 1,
        o, h, l, c, v, qv, tbv, tbqv, n, version).mkString("|")
  }

  /** Whether the re-fetch in `revision` restates this bar: about 1 in 10. */
  def restated(symbol: Int, bar: Int, revision: Int): Boolean =
    mix(seed ^ 0x5bd1e995L, symbol, bar, revision) % 10 == 0

  // ---- the served pages and the fetch stub -------------------------------

  /** Per-symbol raw rows in time order, as the exchange serves them now. */
  private val served: Array[Array[Row]] = Array.fill(symbols)(Array.empty[Row])

  /** Publish `rows` (one symbol, ascending, contiguous) as the served range. */
  def publish(symbol: Int, rows: Array[Row]): Unit = served(symbol) = rows

  // fetch-layer counters, read by the trace
  var pageCalls = 0L
  var pageRows = 0L
  var retries = 0L
  private var calls = 0L
  /** One call in this many (by a hash of the seed and the call's sequence
    * number) throws once; its retry is a new call.
    */
  private val FailEvery = 64

  // A request budget on an injected clock that each call advances by a
  // nominal 25 ms: 5 calls a second, scaled down from the exchange's 1200 a
  // minute so that an op's few calls do hit it. Waiting only moves the clock.
  private var clockMs = 0L
  private val gate = new Paginator.RateGate(maxCalls = 5, periodMs = 1000L,
    clock = () => clockMs, sleep = ms => clockMs += ms)

  private def page(symbol: Int, cursor: Long, end: Long, limit: Int): Seq[Row] =
    gate.throttled {
      clockMs += 25
      calls += 1
      if (mix(seed, calls, 0, 7) % FailEvery == 0)
        throw new java.io.IOException(s"HTTP 503 (injected) symbol=$symbol cursor=$cursor")
      val rows = served(symbol)
      val from = lowerBound(rows, cursor)
      var to = from
      while (to < rows.length && to - from < limit && rows(to).getLong(0) <= end) to += 1
      pageCalls += 1
      pageRows += to - from
      scala.collection.immutable.ArraySeq.unsafeWrapArray(rows.slice(from, to))
    }

  /** Fetch `[fromMs, toMs]` of one symbol through the program's paginator,
    * bounded retry with zero-sleep backoff.
    */
  def fetch(symbol: Int, fromMs: Long, toMs: Long, pageLimit: Int): Vector[Row] =
    Paginator.fetchRange(fromMs, toMs, pageLimit) { (cursor, end, limit) =>
      Paginator.retry(attempts = 3, backoffMs = 0L, maxBackoffMs = 0L,
        sleep = _ => ()) { () =>
        try page(symbol, cursor, end, limit)
        catch { case e: java.io.IOException => retries += 1; throw e }
      }
    }(_.getLong(0))

  private def lowerBound(rows: Array[Row], ts: Long): Int = {
    var lo = 0; var hi = rows.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (rows(mid).getLong(0) < ts) lo = mid + 1 else hi = mid
    }
    lo
  }

  // ---- expected keep-last state -----------------------------------------

  private val expected = mutable.HashMap.empty[(Int, Int), (KlineFeed#Bar, Long)]
  private var digest = Stats.Digest.empty

  /** Record that bar `b` was landed with `version`. */
  def expect(b: KlineFeed#Bar, version: Long): Unit = {
    expected.put((b.symbol, b.bar), (b, version))
      .foreach { case (old, v) => digest -= old.line(v) }
    digest += b.line(version)
  }

  /** Record that bar `bar` of `symbol` is no longer in the table. */
  def forget(symbol: Int, bar: Int): Unit =
    expected.remove((symbol, bar)).foreach { case (old, v) => digest -= old.line(v) }

  def expectedDigest: Stats.Digest = digest

  /** The latest landed value of a key. */
  def expectedBar(symbol: Int, bar: Int): Option[KlineFeed#Bar] =
    expected.get((symbol, bar)).map(_._1)

  // ---- funding rates ------------------------------------------------------

  /** Funding every 8 h from 8 h before the first bar to past the last. */
  def fundingRows: Seq[(String, Long, Double, Double)] = {
    val first = Math.floorDiv(startMs, FundingMs) * FundingMs - FundingMs
    val last = tsOf(bars) + FundingMs
    for {
      s <- 0 until symbols
      t <- first to last by FundingMs
    } yield (names(s), t, fundingRate(s, t), markPrice(s))
  }

  def markPrice(symbol: Int): Double = (open(symbol)(0) / Unit).toDouble + 0.5

  def fundingRate(symbol: Int, t: Long): Double =
    (mix(seed, symbol, t, 3) % 41 - 20) * 1e-6

  /** The funding time in force at `ts` (latest at or before it). */
  def fundingTimeAt(ts: Long): Long = Math.floorDiv(ts, FundingMs) * FundingMs
}

object KlineFeed {
  val Unit = 100000000L
  val MinuteMs = 60000L
  val FundingMs: Long = 8L * 3600 * 1000
  val Exchange = "binance"
  val MarketType = "spot"
  val Interval = "1m"

  /** 2024-02-01T00:00Z: runs centre on it, so the table has two months. */
  val MonthEdgeMs = 1706745600000L

  /** Units of 1e-8 as the API's 8-decimal string (non-negative values). */
  def dec(units: Long): String = {
    val frac = (units % Unit).toString
    val b = new java.lang.StringBuilder(24).append(units / Unit).append('.')
    var pad = 8 - frac.length
    while (pad > 0) { b.append('0'); pad -= 1 }
    b.append(frac).toString
  }

  private def mulUnits(a: Long, b: Long): Long =
    (BigInt(a) * BigInt(b) / BigInt(Unit)).toLong

  /** A stable non-negative mix of a few keys (splitmix64 finaliser). */
  def mix(seed: Long, a: Long, b: Long, c: Long): Long = {
    var z = seed + a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL + c * 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }
}
