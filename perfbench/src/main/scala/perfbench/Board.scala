package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `query_board`: the batch analytics engine through its registry
  * (`SparkEntry.queries`), sequentially, each query materialized through
  * the noop sink. Inputs are the seeded tables perfbench/boarddata.py
  * writes to `<work>/data` before the run. Set-up runs every query once — that
  * pass builds the `Memo` entries the timed pass reuses. After the timed
  * pass, each query runs once more through the same warm session and its
  * result is written, so the DuckDB oracles can check it after the run. */
final class Board(spark: SparkSession, o: Opts, r: Report, counters: SparkCounters) {

  def run(): Double = {
    val data = s"${o.work}/data"
    val results = s"${o.work}/results"
    val names = Board.queries

    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!SparkEntry.pinnedRddIds.contains(id)) rdd.unpersist(blocking = false)
      }

    // set-up runs the queries from a pool as wide as the machine (at most
    // 4 threads); the sweep waits until the pool has drained, so no query
    // loses a checkpoint another is still reading
    Main.timeSetup(r, 1) { _ =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        spark.sparkContext.defaultParallelism.min(4))
      val done = names.map { q =>
        pool.submit(new Runnable {
          def run(): Unit =
            try SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
            catch { case e: Exception => r.fail(s"$q failed in set-up: $e") }
        })
      }
      done.foreach(_.get())
      pool.shutdown()
      sweep()
    }
    val oracles = SparkEntry.oracleSql
    val used = names.flatMap(oracles.get).mkString("\n")
    SparkEntry.auxTables.foreach { case (t, fn) =>
      if (used.contains(s"__AUX__/$t/"))
        fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$results/_aux/$t")
    }
    val aux = new java.io.File(s"$results/_aux").getAbsolutePath
    val sql = names.map { q =>
      q -> oracles.get(q).map(_.replace("__AUX__", aux)).getOrElse("") }
    Board.writeJson(s"$results/oracle_sql.json", sql)

    // the measured window: one pass over the board, the operation a user
    // of the board waits for. Each query runs three times back to back and
    // counts its fastest run: a pause of the shared host lands on one of
    // them, and the later ones find the first one's generated code cached.
    val runs = 3
    val secs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val jobs = scala.collection.mutable.Map.empty[String, Long]
    if (o.trace) Listeners.drain(spark)
    val c0 = (counters.stages.get, counters.tasks.get, counters.shuffleWriteBytes.get)
    val t0 = System.nanoTime()
    names.foreach { q =>
      val j0 = counters.jobs.get
      secs(q) = (0 until runs).map { _ =>
        val s0 = System.nanoTime()
        try Trace.span("registry", q) {
          SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
          sweep()
        } catch { case e: Exception => r.fail(s"$q failed: $e") }
        (System.nanoTime() - s0) / 1e9
      }.min
      jobs(q) = (counters.jobs.get - j0) / runs
    }
    val boardS = secs.values.sum
    r.put("_wall_ms", (System.nanoTime() - t0) / 1e6, "ms")
    Main.log(f"measured one pass: $boardS%.2fs")
    r.attempted.addAndGet(names.size.toLong * runs)

    // untimed: the warm path the pass timed, written for the oracles
    names.foreach { q =>
      try {
        SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(s"$results/$q")
        sweep()
      } catch { case e: Exception => r.fail(s"$q failed after the pass: $e") }
    }

    // one pass is one sample: its median and p90 are the pass time
    r.put("latency_p50_ms", boardS * 1000, "ms")
    r.put("latency_p90_ms", boardS * 1000, "ms")
    r.put("throughput_per_s", names.size / boardS, "1/s")
    if (o.trace) {
      Listeners.drain(spark)
      r.put("registry.board_s", boardS, "s")
      r.put("registry.jobs", jobs.values.sum.toDouble, "count")
      r.put("spark.jobs_per_op", jobs.values.sum.toDouble / names.size, "count")
      r.put("registry.stages", (counters.stages.get - c0._1).toDouble / runs, "count")
      r.put("registry.tasks", (counters.tasks.get - c0._2).toDouble / runs, "count")
      r.put("registry.shuffle_write_bytes", (counters.shuffleWriteBytes.get - c0._3).toDouble / runs, "B")
      names.foreach { q => r.put(s"registry.jobs.$q", jobs(q).toDouble, "count") }
      secs.foreach { case (q, t) => r.put(s"registry.query_s.$q", t, "s") }
    }
    names.size.toDouble * runs
  }
}

object Board {
  /** The job-bound subset: the three queries with the most Spark jobs
    * per run in three families (relational audits, vector index, text),
    * the key-uniqueness audit, one of the pairs family and one
    * connected-components consumer. */
  val queries: Seq[String] = Seq(
    "fk_orphans_curated", "ivf_probe_sweep", "source_confusion",
    "key_uniqueness", "tfidf_cosine_pairs", "user_communities")

  def writeJson(path: String, kv: Seq[(String, String)]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
  }
}
