package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. `req` ties the spans of one request
  * together; `parent` is the enclosing span (0 for a root). Self time is
  * the duration minus the time covered by child spans. */
final class Span(val id: Long, val parent: Long, val req: Long,
    val layer: String, val name: String) {
  var startNs = 0L
  var endNs = 0L
  var childNs = 0L
  def durNs: Long = endNs - startNs
  def selfNs: Long = durNs - childNs
  def json: String =
    s"""{"id":$id,"parent":$parent,"req":$req,"layer":"$layer","name":"$name",""" +
      s""""start_ns":$startNs,"dur_ns":$durNs,"self_ns":$selfNs}"""
}

/** In-memory span recorder. Off (the untraced run), `span` only runs its
  * body. On, it records a span per call; the spans stay in memory and are
  * written out once when the run ends. The time spent in the recorder's
  * own bookkeeping is summed so the run can report its overhead. */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val reqIds = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val bookkeepingNs = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  def newRequest(): Long = reqIds.incrementAndGet()

  def span[T](layer: String, name: String, req: Long = 0L)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      val outer = stack.get()
      val parent = outer.headOption
      val s = new Span(ids.incrementAndGet(), parent.fold(0L)(_.id),
        if (req != 0L) req else parent.fold(0L)(_.req), layer, name)
      stack.set(s :: outer)
      s.startNs = System.nanoTime()
      bookkeepingNs.addAndGet(s.startNs - t0)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(outer)
        parent.foreach(_.childNs += s.durNs)
        spans.add(s)
        bookkeepingNs.addAndGet(System.nanoTime() - s.endNs)
      }
    }

  /** A span whose interval was measured elsewhere (a micro-batch, from
    * Spark's progress event). */
  def record(layer: String, name: String, startNs: Long, durNs: Long,
      parent: Option[Span] = None): Span = {
    val s = new Span(ids.incrementAndGet(), parent.fold(0L)(_.id), 0L,
      layer, name)
    s.startNs = startNs
    s.endNs = startNs + durNs
    parent.foreach(_.childNs += durNs)
    if (on) spans.add(s)
    s
  }

  /** Self milliseconds per layer over all recorded spans. */
  def selfMsByLayer: Map[String, Double] =
    spans.asScala.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.iterator.map(_.selfNs).sum / 1e6 }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach(s => w.println(s.json))
    finally w.close()
  }
}

/** One micro-batch as Spark's StreamingQueryListener reports it. */
final case class BatchProgress(batchId: Long, rows: Long, startMs: Long,
    triggerMs: Long, addBatchMs: Long, startOffset: Long, endOffset: Long) {
  def commitMs: Long = startMs + triggerMs
}

/** Progress of every streaming query, by query id. Registered in both
  * runs: the ingest lag needs each batch's commit time. */
class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  private val byQuery = new ConcurrentHashMap[String, ConcurrentLinkedQueue[BatchProgress]]()
  private def off(s: String): Long =
    if (s == null || s == "null" || s.isEmpty) -1L else s.trim.toLong

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    if (p.sources.nonEmpty && d.containsKey("addBatch")) {
      val b = BatchProgress(p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.getOrDefault("triggerExecution", 0L), d.get("addBatch"),
        off(p.sources.head.startOffset), off(p.sources.head.endOffset))
      byQuery.computeIfAbsent(p.id.toString, _ => new ConcurrentLinkedQueue()).add(b)
    }
  }

  def batches(query: String): Seq[BatchProgress] =
    Option(byQuery.get(query)).map(_.asScala.toSeq.sortBy(_.batchId))
      .getOrElse(Nil)

  /** Highest source offset the query has committed, as far as the
    * listener has been told. */
  def committed(query: String): Long =
    Option(byQuery.get(query)).map(_.asScala.map(_.endOffset).maxOption
      .getOrElse(-1L)).getOrElse(-1L)
}

/** Spark's own counters, read through its public listeners during the
  * traced run: jobs, stages, tasks and shuffle bytes from the scheduler,
  * and files and rows read by each parquet scan of a `collect`. */
class SparkCounters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val filesScanned = new AtomicLong
  val rowsScanned = new AtomicLong
  val listenerNs = new AtomicLong(0)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    listenerNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    timed(jobs.incrementAndGet())
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed { stages.incrementAndGet(); tasks.addAndGet(e.stageInfo.numTasks) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    if (e.taskMetrics != null)
      shuffleWriteBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = timed {
    if (funcName == "collect") {
      val found = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
      }
      found.foreach { s =>
        s.metrics.get("numFiles").foreach(m => filesScanned.addAndGet(m.value))
        s.metrics.get("numOutputRows").foreach(m => rowsScanned.addAndGet(m.value))
      }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

object Listeners {
  /** Waits until Spark's listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit = {
    // an empty job's events travel the same bus; once its end has been
    // seen, everything posted before it has been delivered too
    val seen = new java.util.concurrent.CountDownLatch(1)
    val mark = new SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        seen.countDown()
    }
    spark.sparkContext.addSparkListener(mark)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    seen.await(10, java.util.concurrent.TimeUnit.SECONDS)
    spark.sparkContext.removeSparkListener(mark)
  }
}
