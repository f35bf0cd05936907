package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.TradeIngest
import graft.store.TradeStore
import graft.streaming.{RateLimiter, TradeStream}

/** `ingest_stream`: wire JSON from an open-loop generator into
  * `TradeStream.start` on the append path (1 s trigger): a steady phase,
  * then six burst backlogs a second apart. The same requests feed a
  * `RateLimiter` query (100 per 1 s). Latency is the ingest lag of the
  * steady messages; throughput is the median over the batches that drained
  * the bursts of valid rows stored per second. */
final class Pipeline(spark: SparkSession, o: Opts, r: Report,
    progress: ProgressLog, counters: SparkCounters) {
  import spark.implicits._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val rate = math.max(100, (5000 * o.scale).toInt)   // steady msg/s
  private val tickMs = 10
  private val perTick = rate * tickMs / 1000
  private val burst = math.max(1000, (40000 * o.scale).toInt)
  private val bursts = 6
  private val steadyMs = o.seconds * 600L
  private val setups = 3
  private val warmBatches = 1
  private val gen = new Gen.Messages(o.seed)
  // trade times trail the logical clock by up to 2 h (late data, ST3)
  private val lateRnd = new SplittableRandom(o.seed ^ 0x5DEECE66DL)

  /** Messages sent in one `addData` call, with the offsets the two
    * sources gave them. */
  final class Chunk(val msgs: Array[Msg], val firstReq: Long) {
    var schedMs = 0L
    var msgOff = -1L
    var reqOff = -1L
    var burst = false
    var measured = false
  }

  /** Prebuilt ticks: message i of the run trades at Gen.base + its
    * schedule offset minus a seeded lateness. */
  private var reqIds = 0L
  private def chunk(n: Int, logicalMs: Long): Chunk = {
    val c = new Chunk(Array.fill(n)(gen.next(Gen.base + logicalMs - lateRnd.nextLong(7200000L))), reqIds)
    reqIds += n
    c
  }

  /** One running pipeline: sources, the ingest query and the rate limiter
    * query, plus every chunk sent to them. */
  final class Rig(dir: String) {
    val msgs = MemoryStream[String](4)
    val reqs = MemoryStream[RateLimiter.Request](4)
    val store = s"$dir/store"
    val sent = new ConcurrentLinkedQueue[Chunk]()
    val denied = new AtomicLong
    val ingest: StreamingQuery = TradeStream.start(msgs.toDF(), "value", store,
      s"$dir/ckpt", Trigger.ProcessingTime("1 second"), idempotent = false)
    val limiter: StreamingQuery = RateLimiter(reqs.toDS()).writeStream
      .trigger(Trigger.ProcessingTime("1 second"))
      .option("checkpointLocation", s"$dir/rl_ckpt")
      .foreachBatch { (ds: Dataset[RateLimiter.Verdict], _: Long) =>
        denied.addAndGet(ds.filter(!col("allowed")).count())
        ()
      }.start()

    def send(c: Chunk, schedMs: Long): Unit = {
      c.schedMs = schedMs
      c.msgOff = msgs.addData(c.msgs.iterator.map(_.json).toSeq).json().toLong
      c.reqOff = reqs.addData(c.msgs.iterator.zipWithIndex.map { case (m, i) =>
        RateLimiter.Request(m.user, c.firstReq + i, schedMs * 1000L)
      }.toSeq).json().toLong
      sent.add(c)
    }

    def lastOffsets: (Long, Long) =
      sent.asScala.foldLeft((-1L, -1L)) { case ((a, b), c) =>
        (math.max(a, c.msgOff), math.max(b, c.reqOff)) }

    def drained(mo: Long, ro: Long): Boolean =
      progress.committed(ingest.id.toString) >= mo &&
        progress.committed(limiter.id.toString) >= ro

    def awaitDrain(timeoutMs: Long): Boolean = {
      val (mo, ro) = lastOffsets
      val end = System.currentTimeMillis() + timeoutMs
      while (!drained(mo, ro) && System.currentTimeMillis() < end) {
        failIfDead()
        Thread.sleep(20)
      }
      drained(mo, ro)
    }

    def failIfDead(): Unit = Seq(ingest, limiter).foreach { q =>
      q.exception.foreach(e => throw new IllegalStateException("stream failed", e))
    }

    def batches(q: StreamingQuery): Seq[BatchProgress] = progress.batches(q.id.toString)

    def stop(): Unit = Seq(ingest, limiter).foreach(_.stop())
  }

  /** Sends ticks at the steady rate until both queries have committed
    * `warmBatches` batches that carried data. */
  private def warm(rig: Rig): Unit = {
    val t0 = System.currentTimeMillis()
    var k = 0
    def done = Seq(rig.ingest, rig.limiter).forall(q =>
      rig.batches(q).count(_.rows > 0) >= warmBatches)
    while (!done) {
      rig.failIfDead()
      if (System.currentTimeMillis() - t0 > 120000) sys.error("warm-up did not settle")
      rig.send(chunk(perTick, -60000L + k * tickMs), t0 + k * tickMs)
      k += 1
      val due = t0 + k * tickMs
      while (System.currentTimeMillis() < due) Thread.sleep(1)
    }
    rig.awaitDrain(60000)
  }

  def run(): Double = {
    // inputs first, untimed: the steady schedule and the bursts
    val steady = Array.tabulate((steadyMs / tickMs).toInt)(k => chunk(perTick, k.toLong * tickMs))
    steady.foreach(_.measured = true)
    val burstChunks = (0 until bursts).map(j => chunk(burst, steadyMs + j * 1000L))
    burstChunks.foreach { c => c.measured = true; c.burst = true }
    val rig = Main.timeSetup(r, setups) { i =>
      val rg = new Rig(s"${o.work}/rig$i")
      Trace.span("streaming", "warm")(warm(rg))
      if (i < setups - 1) rg.stop()
      rg
    }
    val warmIngest = rig.batches(rig.ingest).map(_.batchId).maxOption.getOrElse(-1L)
    val warmLimiter = rig.batches(rig.limiter).map(_.batchId).maxOption.getOrElse(-1L)
    if (o.trace) Listeners.drain(spark)
    val jobs0 = counters.jobs.get

    // the measured window: the generator thread, then the drain
    val late = new ConcurrentLinkedQueue[java.lang.Long]()
    val t0Ms = System.currentTimeMillis()
    val t0Ns = System.nanoTime()
    val generator = new Thread("generator") {
      override def run(): Unit = {
        steady.zipWithIndex.foreach { case (c, k) =>
          val dueNs = t0Ns + k.toLong * tickMs * 1000000L
          var now = System.nanoTime()
          while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
          Trace.span("streaming", "send")(rig.send(c, t0Ms + k * tickMs))
          late.add((System.nanoTime() - dueNs) / 1000000L)
        }
        burstChunks.zipWithIndex.foreach { case (c, j) =>
          val dueMs = steadyMs + j * 1000L
          val dueNs = t0Ns + dueMs * 1000000L
          var now = System.nanoTime()
          while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
          Trace.span("streaming", "send_burst")(rig.send(c, t0Ms + dueMs))
        }
      }
    }
    generator.start()
    generator.join()
    val drainedOk = rig.awaitDrain(120000)
    val windowMs = (System.nanoTime() - t0Ns) / 1e6
    r.put("_wall_ms", windowMs, "ms")
    Main.log(s"measured window drained: $drainedOk")
    rig.stop()
    if (o.trace) Listeners.drain(spark)
    // the drain ran one job
    val windowJobs = counters.jobs.get - jobs0 - 1

    // outputs: batches of the measured window, stored rows, denials
    val chunks = rig.sent.asScala.toSeq
    val ingestBatches = rig.batches(rig.ingest).filter(b => b.batchId > warmIngest && b.rows > 0)
    def batchOf(off: Long, bs: Seq[BatchProgress]): Option[BatchProgress] =
      bs.find(b => b.startOffset < off && off <= b.endOffset)
    val allIngest = rig.batches(rig.ingest)
    val validByBatch = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    chunks.foreach { c =>
      batchOf(c.msgOff, allIngest).foreach(b => validByBatch(b.batchId) += c.msgs.count(_.valid))
    }
    val measuredChunks = chunks.filter(_.measured)
    val lags = measuredChunks.filterNot(_.burst).flatMap { c =>
      batchOf(c.msgOff, allIngest).map(b => (b.commitMs - c.schedMs).toDouble)
    }
    val validSent = chunks.map(_.msgs.count(_.valid).toLong).sum
    val allSent = chunks.map(_.msgs.length.toLong).sum

    r.check(drainedOk, "stream did not drain within 120 s")
    val stored = TradeStore.read(spark, rig.store).count()
    r.tally(allSent, math.min(allSent, math.abs(stored - validSent)),
      s"stored $stored rows, expected $validSent valid messages")

    val streamMs = ingestBatches.map(_.triggerMs.toDouble)
    val burstBatches = burstChunks.flatMap(c => batchOf(c.msgOff, allIngest)).distinct
    r.put("latency_p50_ms", Stats.median(lags), "ms")
    r.put("latency_p90_ms", Stats.quantile(lags, 0.9), "ms")
    r.put("throughput_per_s", Stats.median(burstBatches.filter(_.triggerMs > 0)
      .map(b => validByBatch(b.batchId) * 1000.0 / b.triggerMs)), "1/s")
    // denials against the plain-Scala sliding window over the same requests
    val reqsSent = chunks.flatMap(c => c.msgs.iterator.zipWithIndex.map { case (m, i) =>
      (m.user, c.firstReq + i, c.schedMs * 1000L) })
    val want = Ref.denied(reqsSent, 1000000L, 100)
    r.tally(reqsSent.size, math.min(reqsSent.size.toLong, math.abs(rig.denied.get - want)),
      s"rate limiter denied ${rig.denied.get}, reference $want")

    if (o.trace) {
      val rlb = rig.batches(rig.limiter).filter(b => b.batchId > warmLimiter && b.rows > 0)
      r.put("streaming.ratelimit_batch_ms_p50", Stats.median(rlb.map(_.triggerMs.toDouble)), "ms")
      r.put("streaming.ratelimit_denied", rig.denied.get.toDouble, "count")
      ingestBatches.foreach { b =>
        val s = Trace.record("streaming", "microbatch", b.startMs * 1000000L, b.triggerMs * 1000000L)
        // addBatch runs the parse and the store write (foreachBatch)
        Trace.record("store", "add_batch", b.startMs * 1000000L, b.addBatchMs * 1000000L, Some(s))
      }
      r.put("spark.jobs_per_op", windowJobs.toDouble / math.max(1, measuredChunks.map(_.msgs.length).sum), "count")
      val parse = parseRate(chunks)
      r.put("ingest.parse_rows_per_s", parse._1, "1/s")
      r.put("ingest.parse_rows_per_s_1task", parse._2, "1/s")
      r.put("ingest.reject_share", (allSent - validSent).toDouble / allSent, "share")
      r.put("streaming.batches", ingestBatches.size.toDouble, "count")
      r.put("streaming.batch_ms_p50", Stats.median(streamMs), "ms")
      r.put("streaming.batch_ms_max", streamMs.maxOption.getOrElse(0.0), "ms")
      r.put("streaming.add_batch_ms_p50", Stats.median(ingestBatches.map(_.addBatchMs.toDouble)), "ms")
      r.put("streaming.commit_overhead_ms_p50",
        Stats.median(ingestBatches.map(b => (b.triggerMs - b.addBatchMs).toDouble)), "ms")
      r.put("streaming.backlog_rows_max",
        ingestBatches.map(b => validByBatch(b.batchId).toDouble).maxOption.getOrElse(0.0), "count")
      r.put("streaming.source_reads_per_stored_row",
        ingestBatches.map(_.rows).sum.toDouble / math.max(1L, ingestBatches.map(b => validByBatch(b.batchId)).sum), "ratio")
      r.put("streaming.lag_ms_p50", Stats.median(lags), "ms")
      r.put("streaming.lag_ms_p99", Stats.quantile(lags, 0.99), "ms")
      r.put("gen.late_ms_p99", Stats.quantile(late.asScala.toSeq.map(_.toDouble), 0.99), "ms")
      val files = storeFiles(rig.store)
      r.put("store.files", files._1.toDouble, "count")
      r.put("store.files_per_batch", files._1.toDouble / math.max(1, allIngest.count(_.rows > 0)), "count")
      r.put("store.bytes_per_row", files._2.toDouble / math.max(1L, stored), "B")
    }
    measuredChunks.map(_.msgs.length).sum.toDouble
  }

  /** Files and bytes of the store's parquet data. */
  private def storeFiles(path: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq
    (files.size.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
  }

  /** Parse rate of `TradeIngest.parseTrades` on the run's messages, on all
    * tasks and on one task (the single-threaded baseline); the faster of
    * two runs each. */
  private def parseRate(chunks: Seq[Chunk]): (Double, Double) = {
    val all = chunks.flatMap(_.msgs.iterator.map(_.json))
    val df = spark.createDataset(all).toDF("json").cache()
    df.count()
    def rate(parts: Int): Double = {
      val in = df.repartition(parts).cache()
      in.count()
      val s = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        Trace.span("ingest", s"parse_$parts") {
          TradeIngest.parseTrades(in).write.format("noop").mode("overwrite").save()
        }
        (System.nanoTime() - t0) / 1e9
      }.min
      in.unpersist()
      all.size / s
    }
    val res = (rate(spark.sparkContext.defaultParallelism), rate(1))
    df.unpersist()
    res
  }
}
