package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** Draws from {0, …, n-1} with P(k) proportional to 1/(k+1)^s. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def draw(rnd: SplittableRandom): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** A generated trade as the program should store it: the values the
  * reference computation works from. */
final case class GenTrade(pair: Int, timeMs: Long, sellMicros: Long, buyMicros: Long) {
  /** The ingest chain's derived rate (buy micros / sell micros). */
  def rate: Double = buyMicros.toDouble / sellMicros.toDouble
}

/** A generated wire message and what ingest must make of it. */
final case class Msg(json: String, user: String, trade: GenTrade /* null = invalid */) {
  def valid: Boolean = trade != null
}

/** Seeded inputs for the pipeline workloads: currency pairs, users, wire
  * JSON trades (with a share of invalid messages) and stored trades. */
object Gen {
  val currencies: Array[String] =
    Array("USD", "EUR", "GBP", "JPY", "CHF", "AUD", "CAD", "CNY", "SEK", "NZD")
  private val usdValue: Array[Double] =
    Array(1.0, 1.09, 1.27, 0.0067, 1.12, 0.66, 0.73, 0.14, 0.095, 0.61)
  /** The 90 ordered pairs of distinct currencies. */
  val pairs: Array[(String, String)] =
    for (a <- currencies; b <- currencies if a != b) yield (a, b)
  private val pairRate: Array[Double] = pairs.map { case (a, b) =>
    usdValue(currencies.indexOf(a)) / usdValue(currencies.indexOf(b)) }
  val countries: Array[String] =
    Array("US", "GB", "DE", "FR", "JP", "CH", "AU", "CA", "CN", "SE")

  /** Logical epoch of the pipeline workloads' trade times. */
  val base: Long = LocalDateTime.of(2024, 8, 12, 0, 0).toInstant(ZoneOffset.UTC).toEpochMilli

  private val wireTime = DateTimeFormatter.ofPattern("dd-MMM-yy HH:mm:ss", Locale.ENGLISH)
  def wireTimeOf(ms: Long): String =
    wireTime.format(LocalDateTime.ofInstant(Instant.ofEpochMilli(ms), ZoneOffset.UTC))
      .toUpperCase(Locale.ROOT)

  private def amountText(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  /** The ingest chain's arithmetic: micros = trunc(amount * 1e6). */
  def micros(amountText: String): Long = (amountText.toDouble * 1e6).toLong

  /** Amount texts for one trade of `pair`. */
  def amounts(rnd: SplittableRandom, pair: Int): (String, String) = {
    val sell = 100L + rnd.nextLong(1000000L)
    val noise = 1.0 + (rnd.nextDouble() - 0.5) * 0.02
    val buy = math.max(1L, math.round(sell * pairRate(pair) * noise))
    (amountText(sell), amountText(buy))
  }

  /** Message stream: users are mostly a long uniform tail, plus `hot`
    * users with `hotShare` of the traffic each (the rate limiter's
    * deniers). Pairs are Zipf-distributed. `next(timeMs)` makes the next
    * message, trading at `timeMs` cut to whole seconds (the wire format
    * carries seconds). */
  final class Messages(seed: Long, hot: Int = 3, hotShare: Double = 0.03,
      invalidShare: Double = 0.02) {
    private val rnd = new SplittableRandom(seed)
    private val pairZipf = new Zipf(pairs.length, 1.0)
    def next(timeMs: Long): Msg = {
      val u = rnd.nextDouble()
      val user =
        if (u < hot * hotShare) s"hot${(u / hotShare).toInt}"
        else s"u${rnd.nextInt(20000)}"
      val pair = pairZipf.draw(rnd)
      val (cf, ct) = pairs(pair)
      val (sell, buy) = amounts(rnd, pair)
      val t = timeMs / 1000 * 1000
      val country = countries(rnd.nextInt(countries.length))
      def json(sellField: String, time: String, withTo: Boolean): String =
        s"""{"userId":"$user","currencyFrom":"$cf",""" +
          (if (withTo) s""""currencyTo":"$ct",""" else "") +
          s""""amountSell":$sellField,"amountBuy":$buy,"timePlaced":"$time",""" +
          s""""originatingCountry":"$country"}"""
      if (rnd.nextDouble() < invalidShare) {
        // the 400 path: each kind is one the reference rejects
        val bad = rnd.nextInt(4) match {
          case 0 => json(sell, wireTimeOf(t).replaceFirst("-[A-Z]{3}-", "-XYZ-"), true)
          case 1 => json(sell, wireTimeOf(t), withTo = false)
          case 2 => json("\"" + sell + "\"", wireTimeOf(t), true)
          case _ => json(sell, wireTimeOf(t), true).dropRight(7)
        }
        Msg(bad, user, null)
      } else Msg(json(sell, wireTimeOf(t), true), user, GenTrade(pair, t, micros(sell), micros(buy)))
    }
  }

  /** Stored trades over `days` days from `startMs`: pairs Zipf-distributed,
    * times uniform at ms resolution. */
  def trades(seed: Long, n: Int, startMs: Long, days: Int): Array[GenTrade] = {
    val rnd = new SplittableRandom(seed)
    val z = new Zipf(pairs.length, 1.0)
    val span = days * 86400000L
    Array.fill(n) {
      val p = z.draw(rnd)
      val (sell, buy) = amounts(rnd, p)
      GenTrade(p, startMs + rnd.nextLong(span), micros(sell), micros(buy))
    }
  }
}
