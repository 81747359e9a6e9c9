package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reports for the jobs and query executions of one label. */
final class Totals {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var planMs = 0L

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "task_run_ms" -> taskRunMs,
    "task_cpu_ns" -> taskCpuNs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "plan_ms" -> planMs)
}

/** One SQL execution seen on the listener bus. */
final case class SqlExec(id: Long, plan: String, startMs: Long, batch: Long = -1L,
    var endMs: Long = -1L, var action: String = "", var rowsWritten: Long = -1L)

/** One traced span; `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, var endMs: Long)

/** Observes the program from outside, through listeners it registers
  * itself. Jobs are attributed through the job tag the harness sets
  * on its own thread (`SparkSession.addTag` plus the SparkContext's
  * thread-local job tag), query executions through the label that is
  * current when the listener bus delivers them; [[enter]] drains the
  * bus before it switches labels, so no event is attributed to the
  * next label.
  */
final class Probe(spark: SparkSession, traced: Boolean) {
  private val tagPrefix = "perfbench-"
  private val sc = spark.sparkContext
  private val lock = new Object
  @volatile private var label = "setup"
  private var tag: Option[String] = None

  val totals = mutable.LinkedHashMap[String, Totals]()
  private val stageLabel = mutable.Map[Int, String]()
  private val stageBatch = mutable.Map[Int, Long]()
  private val execBatch = mutable.Map[Long, Long]()
  val batchJobs = mutable.Map[Long, Long]()
  val batchShuffleBytes = mutable.Map[Long, Long]()
  val sqlExecs = mutable.LinkedHashMap[Long, SqlExec]()
  private val planHelper = new AdaptiveSparkPlanHelper {}
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  val spans = mutable.ArrayBuffer[Span]()

  private def totalsOf(l: String): Totals = totals.getOrElseUpdate(l, new Totals)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val l = prop("spark.job.tags").toSeq.flatMap(_.split(","))
        .collectFirst { case t if t.contains(tagPrefix) => t.substring(t.indexOf(tagPrefix) + tagPrefix.length) }
      val batch = prop("streaming.sql.batchId").map(_.toLong)
      l.foreach { x => totalsOf(x).jobs += 1; e.stageIds.foreach(stageLabel(_) = x) }
      batch.foreach { b =>
        batchJobs(b) = batchJobs.getOrElse(b, 0L) + 1
        e.stageIds.foreach(stageBatch(_) = b)
        prop("spark.sql.execution.id").foreach(id => execBatch(id.toLong) = b)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        stageLabel.get(e.stageId).foreach { l =>
          val t = totalsOf(l)
          t.tasks += 1
          t.taskRunMs += m.executorRunTime
          t.taskCpuNs += m.executorCpuTime
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
        stageBatch.get(e.stageId).foreach { b =>
          batchShuffleBytes(b) = batchShuffleBytes.getOrElse(b, 0L) + m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        sqlExecs(s.executionId) = SqlExec(s.executionId, s.physicalPlanDescription, s.time)
      }
      case s: SparkListenerSQLExecutionEnd =>
        val action = PerfbenchSql.action(s)
        val rows = PerfbenchSql.queryExecution(s).map(writtenRows).getOrElse(-1L)
        lock.synchronized {
          sqlExecs.get(s.executionId).foreach { x => x.endMs = s.time; x.action = action; x.rowsWritten = rows }
        }
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      lock.synchronized { totalsOf(label).planMs += planMs }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Rows a file write reported, or -1 when `qe` wrote no files. */
  private def writtenRows(qe: QueryExecution): Long = {
    val plans = Seq(qe.executedPlan) ++ (qe.commandExecuted match {
      case c: CommandResult => Seq(c.commandPhysicalPlan)
      case _ => Nil
    })
    plans.flatMap(p => planHelper.collect(p) { case d: DataWritingCommandExec => d.cmd }).collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.metrics.get("numOutputRows").map(_.value)
    }.flatten.getOrElse(-1L)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.streams.addListener(streamListener)
  if (traced) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Attributes the jobs and executions that follow to `l`. */
  def enter(l: String): Unit = if (traced) {
    drain()
    tag.foreach { t => spark.removeTag(t); sc.removeJobTag(t) }
    val t = tagPrefix + l.replaceAll("[^A-Za-z0-9_./-]", "_")
    spark.addTag(t)
    sc.addJobTag(t)
    tag = Some(t)
    label = l
  }

  /** Records a span; one still open takes its end from [[close]]. */
  def span(parent: Int, name: String, startMs: Long, endMs: Long = -1L): Int =
    if (!traced) -1 else lock.synchronized {
      val id = spans.size
      spans += Span(id, parent, name, startMs, endMs)
      id
    }

  def close(id: Int, endMs: Long): Unit =
    if (id >= 0) lock.synchronized { spans(id).endMs = endMs }

  /** Progress of the micro-batches that ran, in order. */
  def batchProgress: Seq[StreamingQueryProgress] = lock.synchronized {
    progress.filter(_.durationMs.containsKey("addBatch")).toList
  }

  /** SQL executions with the micro-batch that ran them. */
  def streamExecs: Seq[SqlExec] = lock.synchronized {
    sqlExecs.values.toSeq.map(x => x.copy(batch = execBatch.getOrElse(x.id, -1L)))
  }
}

/** Process-wide counters read as deltas around a timed region. */
final case class Counters(gcMs: Long, compiles: Long, compileNs: Long)

object Counters {
  def now(): Counters = Counters(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime)

  def delta(a: Counters, b: Counters): Map[String, Any] = Map(
    "gc_s" -> (b.gcMs - a.gcMs) / 1e3,
    "codegen_compiles" -> (b.compiles - a.compiles),
    "codegen_ms" -> (b.compileNs - a.compileNs) / 1e6)
}

/** Heap over a window: the peak is the largest heap left after any
  * collection inside the window, the live heap what is left at its end
  * after a full collection, a pause for Spark's ContextCleaner to drop
  * what the collection released, and a second collection. Both follow
  * the live set, unlike the pools' raw peaks, which track the heap's
  * size. */
final class HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak = math.max(peak, used)
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Ends the window; returns (peak, live) in MB. */
  def stop(): (Double, Double) = {
    emitters.foreach(_.removeNotificationListener(listener))
    System.gc()
    Thread.sleep(300)
    System.gc()
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (math.max(peak, live) / 1048576.0, live / 1048576.0)
  }
}
