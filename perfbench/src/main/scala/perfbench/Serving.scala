package perfbench

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.model.{Statistic, Trade}
import graft.operators.Trends
import graft.serving.{TrendsCache, TrendsPage}
import graft.store.TradeStore

/** One request's key: pair and inclusive [from, to]. */
final case class Key(pair: Int, fromMs: Long, toMs: Long)

/** One served request: its key, the statistics it got, and its timings. */
final case class Req(key: Key, stats: Array[Statistic], ms: Double, miss: Boolean,
    computeMs: Double, pageUs: Double)

/** `trends_serving`: reads only. Set-up writes a compacted store with
  * `TradeStore.write` from seeded trades over 30 days and 90 pairs; then
  * 4 closed-loop clients ask for 10-minute trends through the 60 s result
  * cache and encode each page. Keys: Zipf pairs, ranges of 1 h, 1 d, 7 d
  * and 30 d in fixed shares with aligned starts, Zipf over recency —
  * popular keys repeat within the TTL and the long tail misses. */
final class Serving(spark: SparkSession, o: Opts, r: Report, counters: SparkCounters) {
  import spark.implicits._

  private val n = math.max(5000, (60000 * o.scale).toInt)
  private val days = 30
  private val clients = 4
  private val setups = 3
  private val startMs = LocalDateTime.of(2024, 7, 1, 0, 0).toInstant(ZoneOffset.UTC).toEpochMilli
  private val endMs = startMs + days * 86400000L
  private val hourMs = 3600000L
  private val dayMs = 86400000L
  private val lens = Array(hourMs, dayMs, 7 * dayMs, 30 * dayMs)
  // aligned starts inside the data: whole hours for 1 h ranges, whole days
  // for the others
  private val steps = Array(hourMs, dayMs, dayMs, dayMs)
  private val recency = lens.indices.map(t =>
    new Zipf(((days * dayMs - lens(t)) / steps(t) + 1).toInt, 1.0))
  private val pairZipf = new Zipf(Gen.pairs.length, 1.0)
  /** Range length of a client's requests in turn: 1 h, 1 d, 7 d and 30 d
    * in shares 3:4:2:1, so every run asks the same mix. */
  private val rangeOf = Array(0, 1, 1, 2, 0, 1, 0, 1, 2, 3)
  private val asked = java.util.concurrent.ConcurrentHashMap.newKeySet[Key]()

  /** A key with range length `lens(t)`: a Zipf pair and a Zipf-recent start. */
  private def draw(rnd: SplittableRandom, t: Int): Key = {
    val from = endMs - lens(t) - recency(t).draw(rnd) * steps(t)
    Key(pairZipf.draw(rnd), from, from + lens(t))
  }

  /** Request i of client c: two keys no client has asked for yet, then one
    * key some client has asked for (in flight or answered), each drawn by
    * popularity. The share of repeats and the range mix are fixed, while
    * which keys repeat follows the Zipf laws. Misses stay the majority, so
    * the median and p90 both time the engine path; the hits show in
    * throughput. */
  private def nextKey(rnd: SplittableRandom, c: Int, i: Long): Key = {
    val t = rangeOf(((c + i) % rangeOf.length).toInt)
    val fresh = i % 3 != 2
    var k = draw(rnd, t)
    var tries = 0
    while (asked.contains(k) == fresh && tries < 1000) { k = draw(rnd, t); tries += 1 }
    asked.add(k)
    k
  }

  def run(): Double = {
    // inputs, untimed
    val gen = Gen.trades(o.seed, n, startMs, days)
    val trades = spark.sparkContext.broadcast(gen)
    val input = spark.range(n).map { i =>
      val k = i.toInt
      val g = trades.value(k)
      val (cf, ct) = Gen.pairs(g.pair)
      Trade(s"u${k % 20000}", cf, ct, g.sellMicros, g.buyMicros, g.rate,
        Gen.countries(k % Gen.countries.length), new Timestamp(g.timeMs))
    }.toDF().cache()
    input.count()
    Main.log("inputs ready")
    val byPair = gen.groupBy(_.pair).map { case (p, ts) =>
      p -> (ts.map(_.timeMs), ts.map(_.rate)) }

    val store = Main.timeSetup(r, setups) { i =>
      val path = s"${o.work}/store$i"
      TradeStore.write(input, path)
      // the first queries on a fresh store pay planning, code generation
      // and JIT: every client thread runs one, without the cache
      val warm = (0 until clients).map { c =>
        val t = new Thread(s"warm-$c") {
          override def run(): Unit = {
            val key = draw(new SplittableRandom(o.seed + c), rangeOf(c))
            val (cf, ct) = Gen.pairs(key.pair)
            val (from, to) = (new Timestamp(key.fromMs), new Timestamp(key.toMs))
            Trends.trends(TradeStore.readRange(spark, path, from, to), from, to, cf, ct).collect()
          }
        }
        t.start(); t
      }
      warm.foreach(_.join())
      path
    }
    input.unpersist()

    val cache = new TrendsCache()
    val computes = new AtomicLong
    val computedKeys = java.util.concurrent.ConcurrentHashMap.newKeySet[Key]()
    val out = new ConcurrentLinkedQueue[Req]()
    if (o.trace) Listeners.drain(spark)
    val before = (counters.filesScanned.get, counters.rowsScanned.get, counters.jobs.get)
    val t0 = System.nanoTime()
    val endNs = t0 + o.seconds * 1000000000L
    val threads = (0 until clients).map { id =>
      val t = new Thread(s"client-$id") {
        override def run(): Unit = {
          val rnd = new SplittableRandom(o.seed * 1000003L + id)
          var i = 0L
          while (System.nanoTime() < endNs) {
            val key = nextKey(rnd, id, i)
            i += 1
            val (cf, ct) = Gen.pairs(key.pair)
            val from = new Timestamp(key.fromMs)
            val to = new Timestamp(key.toMs)
            val req = Trace.newRequest()
            var miss = false
            var computeMs = 0.0
            val s0 = System.nanoTime()
            try {
              val stats = Trace.span("serving", "get", req) {
                cache.get(from, to, cf, ct) {
                  miss = true
                  computes.incrementAndGet()
                  computedKeys.add(key)
                  val c0 = System.nanoTime()
                  val df = Trace.span("store", "read_range")(TradeStore.readRange(spark, store, from, to))
                  val res = Trace.span("operators", "trends")(Trends.trends(df, from, to, cf, ct).collect())
                  computeMs = (System.nanoTime() - c0) / 1e6
                  res
                }
              }
              val p0 = System.nanoTime()
              Trace.span("serving", "page", req) {
                TrendsPage.toJson(from.toString, to.toString, cf, ct, stats.toSeq)
              }
              val end = System.nanoTime()
              out.add(Req(key, stats, (end - s0) / 1e6, miss, computeMs, (end - p0) / 1e3))
            } catch {
              case e: Exception => r.attempted.incrementAndGet(); r.fail(s"request failed: $e")
            }
          }
        }
      }
      t.start(); t
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    r.put("_wall_ms", wallS * 1000, "ms")
    Main.log(s"measured ${out.size} requests")

    // every response, hit or miss, against the reference
    val reqs = out.asScala.toSeq
    val want = mutable.Map.empty[Key, Seq[Ref.Win]]
    reqs.foreach { q =>
      val w = want.getOrElseUpdate(q.key, {
        val (ts, rs) = byPair.getOrElse(q.key.pair, (Array.empty[Long], Array.empty[Double]))
        Ref.trends(ts, rs, q.key.fromMs, q.key.toMs)
      })
      r.check(Ref.same(q.stats, w), s"trends ${q.key} differs from the reference")
    }

    val lat = reqs.map(_.ms)
    r.put("latency_p50_ms", Stats.median(lat), "ms")
    r.put("latency_p90_ms", Stats.quantile(lat, 0.9), "ms")
    r.put("throughput_per_s", reqs.size / wallS, "1/s")
    if (o.trace) {
      Listeners.drain(spark)
      // the drain ran one job
      r.put("spark.jobs_per_op", (counters.jobs.get - before._3 - 1).toDouble / math.max(1, reqs.size), "count")
      val (misses, hits) = reqs.partition(_.miss)
      r.put("serving.hit_ratio", hits.size.toDouble / math.max(1, reqs.size), "share")
      r.put("serving.hit_us_p50", Stats.median(hits.map(_.ms * 1000)), "us")
      r.put("serving.miss_ms_p50", Stats.median(misses.map(_.ms)), "ms")
      r.put("serving.computes_per_missed_key", computes.get.toDouble / math.max(1, computedKeys.size), "ratio")
      r.put("serving.page_us_p50", Stats.median(reqs.map(_.pageUs)), "us")
      r.put("operators.trends_ms_p50", Stats.median(misses.map(_.computeMs)), "ms")
      r.put("operators.trends_ms_p90", Stats.quantile(misses.map(_.computeMs), 0.9), "ms")
      r.put("operators.windows_per_query", misses.map(_.stats.length.toDouble).sum / math.max(1, misses.size), "count")
      val m = math.max(1L, computes.get)
      r.put("store.files_scanned_per_query", (counters.filesScanned.get - before._1).toDouble / m, "count")
      val matched = misses.map(q => want.get(q.key).map(_.map(_.n.toLong).sum).getOrElse(0L)).sum
      r.put("store.rows_scanned_per_row_returned",
        (counters.rowsScanned.get - before._2).toDouble / math.max(1L, matched), "ratio")
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(store)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      r.put("store.files", files.size.toDouble, "count")
      r.put("store.bytes_per_row", files.map(java.nio.file.Files.size(_)).sum.toDouble / n, "B")
    }
    reqs.size.toDouble
  }
}
