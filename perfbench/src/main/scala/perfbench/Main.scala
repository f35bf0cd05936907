package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Options of one run. `seconds` is the measured window; `scale` shrinks
  * every input for the self-check. */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, out: String, scale: Double)

/** What a run reports: metrics with units, and the operations it attempted
  * and saw fail (a failed or wrong output counts as failed). */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val notes = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Counts one checked operation; a false check is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(what)
  }
  /** Counts `n` operations of which `bad` failed. */
  def tally(n: Long, bad: Long, what: => String): Unit = {
    attempted.addAndGet(n)
    if (bad > 0) { failed.addAndGet(bad - 1); fail(what) }
  }
  def fail(what: String): Unit = {
    failed.incrementAndGet()
    notes.synchronized { if (notes.size < 20) notes += what }
  }

  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    def str(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }.mkString(",")
    val ns = notes.synchronized(notes.map(str).mkString(","))
    s"""{"correct":${failed.get == 0},"attempted":${attempted.get},""" +
      s""""failed":${failed.get},"metrics":{$ms},"notes":[$ns]}"""
  }
}

/** Benchmark entry: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE [--scale X]`. Writes the report as JSON to FILE. */
object Main {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("work"), m("out"),
      m.getOrElse("scale", "1").toDouble)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().min(4).toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val born = System.nanoTime()
  /** Progress line on standard error, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2fs] $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    new File(o.work).mkdirs()
    val spark = session(o.work)
    log("session up")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val counters = new SparkCounters
    if (o.trace) { Trace.on = true; counters.register(spark) }
    val r = new Report
    val gc0 = gcMs()
    val heap = new HeapWatch
    heap.start()
    val ops: Double = o.workload match {
      case "ingest_stream" => new Pipeline(spark, o, r, progress, counters).run()
      case "trends_serving" => new Serving(spark, o, r, counters).run()
      case "query_board" => new Board(spark, o, r, counters).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    heap.finish()
    log("workload done")
    if (o.trace) {
      Listeners.drain(spark)
      val opsN = math.max(1.0, ops)
      r.put("jvm.heap_peak_mb", heap.peakMb, "MB")
      r.put("jvm.gc_ms", (gcMs() - gc0).toDouble, "ms")
      val self = Trace.selfMsByLayer
      Seq("ingest", "streaming", "store", "operators", "serving", "registry")
        .foreach(l => r.put(s"$l.self_ms_per_op", self.getOrElse(l, 0.0) / opsN, "ms"))
      val traceNs = Trace.bookkeepingNs.get + counters.listenerNs.get
      val wallMs = r.metrics.get("_wall_ms").map(_._1).getOrElse(1.0)
      r.put("trace.spans", Trace.spans.size.toDouble, "count")
      r.put("trace.overhead_pct", 100.0 * traceNs / 1e6 / wallMs, "%")
      Trace.write(s"${o.work}/spans.jsonl")
    }
    r.metrics.remove("_wall_ms")
    spark.streams.active.foreach(_.stop())
    spark.stop()
    log("session stopped")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), r.json + "\n")
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Samples used heap every 50 ms on a daemon thread. */
  final class HeapWatch extends Thread("heap-watch") {
    setDaemon(true)
    @volatile private var running = true
    @volatile var peakMb = 0.0
    override def run(): Unit = while (running) {
      val rt = Runtime.getRuntime
      peakMb = math.max(peakMb, (rt.totalMemory - rt.freeMemory) / 1048576.0)
      Thread.sleep(50)
    }
    def finish(): Unit = { running = false; join() }
  }

  /** Set-up time of a run: the median of `reps` timed set-ups. */
  def timeSetup[T](r: Report, reps: Int)(setup: Int => T): T = {
    val secs = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (0 until reps).foreach { i =>
      val t0 = System.nanoTime()
      last = Some(setup(i))
      secs += (System.nanoTime() - t0) / 1e9
      log(f"set-up ${i + 1}/$reps: ${secs.last}%.2fs")
    }
    r.put("setup_s", Stats.median(secs.toSeq), "s")
    last.get
  }
}
