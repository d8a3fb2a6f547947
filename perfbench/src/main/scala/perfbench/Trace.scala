package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.ExecutionEndQuery
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call the benchmark made into the library. Spans nest as
  * pass -> op (a medallion stage call or one query) -> build/action, and
  * every span carries the pass it belongs to.
  */
final case class Span(id: Int, name: String, kind: String, parent: Int,
                      pass: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory on the single client thread. While `sc` is
  * set, the innermost open span is also attached to every Spark job the
  * call submits (as a job tag), which is how [[SparkCounts]] attributes
  * jobs, stages, tasks and SQL executions to spans.
  */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)]
  private var nextId = 1
  var sc: Option[SparkContext] = None

  def all: Seq[Span] = done.toSeq

  def apply[T](name: String, kind: String, pass: Int)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0)
    val tag = Spans.tag(id)
    sc.foreach { c =>
      open.headOption.foreach(p => c.removeJobTag(p._2))
      c.addJobTag(tag)
    }
    open = (id, tag) :: open
    val t0 = System.nanoTime()
    try f
    finally {
      done += Span(id, name, kind, parent, pass, t0, System.nanoTime())
      open = open.tail
      sc.foreach { c =>
        c.removeJobTag(tag)
        open.headOption.foreach(p => c.addJobTag(p._2))
      }
    }
  }
}

object Spans {
  private val Prefix = "perfbench-span-"
  def tag(id: Int): String = Prefix + id
  def idOf(tags: Iterable[String]): Option[Int] =
    tags.collectFirst { case t if t.startsWith(Prefix) => t.stripPrefix(Prefix).toInt }
}

/** Spark work attributed to one span (or summed over several). */
final case class Counts(
    jobs: Long = 0, stagesDeclared: Long = 0, stagesRun: Long = 0,
    tasks: Long = 0, taskFailures: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
    gcMs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, inputBytes: Long = 0, planMs: Long = 0,
    broadcastJoins: Long = 0, sortMergeJoins: Long = 0) {
  def +(o: Counts): Counts = Counts(
    jobs + o.jobs, stagesDeclared + o.stagesDeclared, stagesRun + o.stagesRun,
    tasks + o.tasks, taskFailures + o.taskFailures, runMs + o.runMs,
    cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, inputBytes + o.inputBytes,
    planMs + o.planMs, broadcastJoins + o.broadcastJoins,
    sortMergeJoins + o.sortMergeJoins)
}

/** A write command seen by the query-execution listener. */
final case class Write(path: String, seconds: Double, bytes: Long, files: Long)

/** Counts from the scheduler and SQL listener buses, keyed by span id. The
  * benchmark registers it only for traced passes and drains the bus before
  * reading it, so a pass's events are all in when its numbers are taken.
  */
final class SparkCounts extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val bySpan = mutable.HashMap.empty[Int, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  private val queryExec = mutable.HashMap.empty[Long, Long]
  private val queries = mutable.ArrayBuffer.empty[(Long, Counts, Option[Write])]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached = 0L
  private var cachedPeak = 0L

  private def add(span: Int, c: Counts): Unit =
    bySpan(span) = bySpan.getOrElse(span, Counts()) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(',').toSeq).getOrElse(Nil)
    Spans.idOf(tags).foreach { span =>
      e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
      add(span, Counts(jobs = 1, stagesDeclared = e.stageInfos.size.toLong))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(add(_, Counts(stagesRun = 1)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val failed = if (e.reason == Success) 0L else 1L
      val m = Option(e.taskMetrics)
      add(span, Counts(
        tasks = 1, taskFailures = failed,
        runMs = m.map(_.executorRunTime).getOrElse(0L),
        cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
        gcMs = m.map(_.jvmGCTime).getOrElse(0L),
        shuffleRead = m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        shuffleWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        spill = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        inputBytes = m.map(_.inputMetrics.bytesRead).getOrElse(0L)))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(Spans.idOf(s.jobTags).foreach(execSpan(s.executionId) = _))
    case e: SparkListenerSQLExecutionEnd =>
      synchronized(ExecutionEndQuery.id(e).foreach(queryExec(_) = e.executionId))
    case _ =>
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      cached -= blocks.remove(id).getOrElse(0L)
      if (info.storageLevel.isValid) {
        val size = info.memSize + info.diskSize
        blocks(id) = size
        cached += size
      }
      cachedPeak = math.max(cachedPeak, cached)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }.size
    val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }.size
    val write = collect(plan) {
      case d @ DataWritingCommandExec(cmd: InsertIntoHadoopFsRelationCommand, _) =>
        def metric(n: String) = d.metrics.get(n).map(_.value).getOrElse(0L)
        Write(cmd.outputPath.toString, durationNs / 1e9, metric("numOutputBytes"),
          metric("numFiles"))
    }.headOption
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized {
      queries += ((qe.id, Counts(planMs = planMs, broadcastJoins = bhj.toLong,
        sortMergeJoins = smj.toLong), write))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Starts cache accounting for a traced pass. Block updates are not seen
    * between traced passes, and none should be cached then (scopes and
    * stages unpersist what they cache), so the count restarts from zero.
    */
  def resetCache(): Unit = synchronized {
    blocks.clear()
    cached = 0L
    cachedPeak = 0L
  }

  /** Peak bytes of cached RDD blocks since [[resetCache]]. */
  def cachePeak: Long = synchronized(cachedPeak)

  private def spanOfQuery(id: Long): Option[Int] =
    queryExec.get(id).flatMap(execSpan.get)

  /** Counts per span, with SQL executions folded into their spans. */
  def perSpan: Map[Int, Counts] = synchronized {
    val out = mutable.HashMap.empty[Int, Counts] ++ bySpan
    queries.foreach { case (id, c, _) =>
      spanOfQuery(id).foreach(s => out(s) = out.getOrElse(s, Counts()) + c)
    }
    out.toMap
  }

  /** Write commands per span. */
  def writes: Map[Int, Seq[Write]] = synchronized {
    queries.toSeq.flatMap { case (id, _, w) => w.flatMap(x => spanOfQuery(id).map(_ -> x)) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  /** Query executions whose span could not be found (should stay 0). */
  def unattributed: Int = synchronized(queries.count(q => spanOfQuery(q._1).isEmpty))
}

/** Peak heap in use right after a garbage collection, from the JVM's GC
  * notifications (so it measures retained data, not allocation churn).
  */
object HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc
        var used = 0L
        heapPools.foreach(p => Option(after.get(p)).foreach(u => used += u.getUsed))
        synchronized { if (used > peak) peak = used }
      }
  }

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _                      =>
    }

  def reset(): Unit = synchronized { peak = 0L }
  def bytes: Long = synchronized(peak)
}
