package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Enrich
import graft.streaming.EventPipeline

/** Open-loop stream: one generator thread drops the pre-written
  * parquet files of `stage`, 10 000 events each, one every 4 s into the directory
  * `EventPipeline.readEventStream` reads (2 500 events/s), and the
  * files flow through `EventPipeline.startEnrichment` with its default
  * 2 s trigger into the history and keyed-view sinks.
  *
  * Drops land `PhaseMs` after a tick of Spark's epoch-aligned trigger
  * grid. The first `warmupFiles` files are warm-up, committed before
  * the timed window starts. After the window the query is stopped and
  * both sinks are checked against the dropped files.
  */
object StreamRun {
  val PeriodMs = 4000L
  val TriggerMs = 2000L
  val PhaseMs = 1500L

  def run(spark: SparkSession, probe: Probe, data: String, stage: String, work: String,
      warmupFiles: Int, injectFault: Boolean): Map[String, Any] = {
    val root = s"$work/stream"
    val (in, history, view, ckpt) = (s"$root/in", s"$root/history", s"$root/view", s"$root/checkpoint")
    new File(in).mkdirs()
    val files = new File(stage).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(files.length > warmupFiles, s"need more than $warmupFiles staged files")

    val drops = mutable.ArrayBuffer[Map[String, Any]]()
    def committed(): Int =
      Option(new File(s"$ckpt/commits").list()).map(_.count(_.forall(_.isDigit))).getOrElse(0)
    def drop(f: File, timed: Boolean, scheduledMs: Long): Unit = {
      val stamp = System.currentTimeMillis()
      Files.setLastModifiedTime(f.toPath, FileTime.fromMillis(stamp))
      Files.move(f.toPath, Paths.get(in, f.getName), StandardCopyOption.ATOMIC_MOVE)
      drops.synchronized {
        drops += Map("file" -> f.getName, "timed" -> timed, "scheduled_ms" -> scheduledMs,
          "stamp_ms" -> stamp, "backlog_files" -> (drops.size + 1 - committed()))
      }
    }
    def awaitCommits(n: Int, timeoutMs: Long): Boolean = {
      val end = System.currentTimeMillis() + timeoutMs
      while (committed() < n && System.currentTimeMillis() < end) Thread.sleep(10)
      committed() >= n
    }

    val w0 = System.nanoTime()
    val query = EventPipeline.startEnrichment(
      EventPipeline.readEventStream(spark, in), Enrich.customerDim(spark, data), history, view, ckpt)
    val startS = (System.nanoTime() - w0) / 1e9
    var watch: Option[HeapWatch] = None
    try {
      // one generator thread drops every file on the same cadence, so
      // the first timed file follows the warm-up without an idle gap;
      // the timed window opens once the warm-up files are committed
      val t = System.currentTimeMillis() + 500
      var slot = t - Math.floorMod(t, TriggerMs) + TriggerMs + PhaseMs
      val generator = new Thread(() => files.zipWithIndex.foreach { case (f, i) =>
        val timed = i >= warmupFiles
        def sleepTo(at: Long): Unit = {
          val wait = at - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
        }
        sleepTo(slot)
        if (i == warmupFiles) {
          val deadline = slot + 120000
          while (committed() < warmupFiles && slot < deadline) { slot += PeriodMs; sleepTo(slot) }
          watch = Some(new HeapWatch)
        }
        drop(f, timed, slot)
        slot += PeriodMs
      }, "perfbench-generator")
      generator.start()
      generator.join()
      awaitCommits(files.length, 60000)
    } finally {
      query.stop()
    }
    val (peakHeap, liveHeap) = watch.map(_.stop()).getOrElse((0.0, 0.0))
    probe.drain()
    if (query.exception.isDefined) System.err.println(s"[perfbench] stream failed: ${query.exception.get}")

    val offered = files.map(f => s"$in/${f.getName}").toSeq
    val failedFiles = check(spark, data, offered, history, view, injectFault)
    val progress = probe.batchProgress
    Map(
      "start_s" -> startS, "drops" -> drops.toSeq,
      "checkpoint" -> ckpt, "peak_heap_mb" -> peakHeap, "live_heap_mb" -> liveHeap,
      "failed_files" -> failedFiles,
      "progress" -> progress.map(p => Map(
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)),
      "batch_jobs" -> probe.batchJobs.map { case (b, n) => b.toString -> n }.toMap,
      "batch_shuffle_bytes" -> probe.batchShuffleBytes.map { case (b, n) => b.toString -> n }.toMap,
      "sink_execs" -> sinkExecs(probe, progress, history, view))
  }

  /** The sink's SQL executions per micro-batch, also recorded as spans
    * under their batch: is_empty, history_append and upsert (from the
    * end of the history append to the end of the view write, so it
    * covers the view read as well). */
  private def sinkExecs(probe: Probe, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      history: String, view: String): Seq[Map[String, Any]] = {
    def kind(x: SqlExec): String =
      if (x.plan.contains("InsertIntoHadoopFsRelationCommand") && x.plan.contains(view)) "upsert_write"
      else if (x.plan.contains("InsertIntoHadoopFsRelationCommand") && x.plan.contains(history)) "history_append"
      else if (x.action == "isEmpty") "is_empty"
      else "other"
    val execs = probe.streamExecs.filter(x => x.batch >= 0 && x.endMs >= 0)
    val byBatch = execs.groupBy(_.batch)
    for (p <- progress) {
      val start = Instant.parse(p.timestamp).toEpochMilli
      val b = probe.span(-1, s"batch${p.batchId}", start, start + p.durationMs.get("triggerExecution"))
      val xs = byBatch.getOrElse(p.batchId, Nil).sortBy(_.startMs)
      xs.filter(x => kind(x) != "upsert_write").foreach(x => probe.span(b, kind(x), x.startMs, x.endMs))
      for (h <- xs.find(x => kind(x) == "history_append"); v <- xs.find(x => kind(x) == "upsert_write"))
        probe.span(b, "upsert", h.endMs, v.endMs)
    }
    execs.map(x => Map("batch" -> x.batch, "kind" -> kind(x), "action" -> x.action,
      "start_ms" -> x.startMs, "end_ms" -> x.endMs, "rows_written" -> x.rowsWritten))
  }

  /** The history must hold each offered event exactly once, and the
    * keyed view one row per event, equal to `Enrich.transform` applied
    * in batch to the dropped files. Returns the files whose events
    * break either rule. With `injectFault` the expected side loses one
    * event, so the check must fail. */
  def check(spark: SparkSession, data: String, offered: Seq[String], history: String,
      view: String, injectFault: Boolean): Seq[String] = {
    val events = spark.read.schema(EventPipeline.eventSchema).parquet(offered: _*)
    val fileOf = events.select(col("event_id"), input_file_name().as("file"))
    val expected0 = Enrich.transform(events, Enrich.customerDim(spark, data))
    val expected = if (!injectFault) expected0
      else expected0.filter(col("event_id") =!= lit(fileOf.agg(min("event_id")).first().getLong(0)))
    def read(dir: String): DataFrame =
      if (new File(dir).exists()) spark.read.parquet(dir).select(expected.columns.map(col).toSeq: _*)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], expected.schema)
    val hist = read(history)
    val keyed = read(view)
    def notOnce(df: DataFrame) = df.groupBy("event_id").count().filter(col("count") =!= 1).select("event_id")
    val bad = Seq(
      notOnce(hist),
      fileOf.select("event_id").exceptAll(hist.select("event_id")),
      notOnce(keyed),
      expected.exceptAll(keyed).select("event_id"),
      keyed.exceptAll(expected).select("event_id")
    ).reduce(_ union _).distinct()
    bad.join(fileOf, Seq("event_id"), "left").select(coalesce(col("file"), lit("unknown")))
      .distinct().collect().map(r => new File(r.getString(0)).getName).toSeq.sorted
  }
}
