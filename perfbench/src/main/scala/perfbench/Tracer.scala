package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark's own code. Times are epoch ms so
  * they line up with Spark's listener event times. */
final case class Span(id: Long, name: String, parent: Long, start: Long, var end: Long = 0L)

/** What Spark's listeners report for one job, summed over its tasks. */
final class JobRec(val group: String, val execId: Long, val batchId: Long, val start: Long) {
  var end = 0L
  var stages, tasks = 0
  var runMs, gcMs, fetchWaitMs, mapRunMs, reduceRunMs = 0L
  var shuffleBytes, shuffleRecords, diskSpill, memSpill, inBytes, outBytes = 0L
}

/** Spans from the benchmark's code plus Spark's public listeners.
  *
  * Every span sets the thread's job group to `pb-<span id>`; Spark copies
  * local properties into threads the engine starts (`Par.jobs`), so each
  * job is attributed to the innermost span that caused it. Listeners are
  * attached only around traced operations (`attach`/`detach`); spans are
  * kept in memory and written out by the harness when the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(1)
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** SQL execution id → files written by the execution's write commands. */
  val filesWritten = new ConcurrentHashMap[Long, Long]()
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  @volatile private var flushSeen = -1
  @volatile private var pendingFiles = 0L
  private var attached = false

  def span[T](name: String)(body: => T): (T, Span) = {
    val s = Span(ids.getAndIncrement(), name, stack.headOption.map(_.id).getOrElse(0L),
      System.currentTimeMillis())
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    stack = s :: stack
    sc.setJobGroup(s"pb-${s.id}", name)
    try (body, s)
    finally {
      s.end = System.currentTimeMillis()
      stack = stack.tail
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
      spans.synchronized(spans += s)
    }
  }

  def spanOf[T](name: String)(body: => T): T = span(name)(body)._1

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val group = prop("spark.jobGroup.id").orNull
      if (group == "pb-flush") return
      jobs.put(e.jobId, new JobRec(group,
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), e.time))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time else flushSeen = e.jobId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      rec(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      rec(e.stageId).foreach { j =>
        val sr = m.shuffleReadMetrics
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.fetchWaitMs += sr.fetchWaitTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        j.diskSpill += m.diskBytesSpilled
        j.memSpill += m.memoryBytesSpilled
        j.inBytes += m.inputMetrics.bytesRead
        j.outBytes += m.outputMetrics.bytesWritten
        // a task that reads no shuffle sits on the map side of every exchange
        if (sr.recordsRead > 0 || sr.totalBlocksFetched > 0) j.reduceRunMs += m.executorRunTime
        else j.mapRunMs += m.executorRunTime
      }
    }
    // The execution-end event reaches the query listener first (it was
    // registered when the session was built) and then this listener,
    // on the same bus thread, so the files counted there belong to it.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        if (pendingFiles > 0) filesWritten.put(end.executionId, pendingFiles)
        pendingFiles = 0
      case _ =>
    }
    private def rec(stageId: Int): Option[JobRec] =
      Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val n = planNodes(qe.executedPlan)
        .filter(_.nodeName.startsWith("Execute "))
        .flatMap(_.metrics.get("numFiles")).map(_.value).sum
      pendingFiles += n
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Wait until the listener bus has delivered everything posted so far:
    * a one-task sentinel job goes through the same queue, after every
    * earlier job, stage, task and SQL-execution event. */
  def flush(): Unit = if (attached) {
    sc.setJobGroup("pb-flush", "flush")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    val before = sc.statusTracker.getJobIdsForGroup("pb-flush").max
    while (flushSeen < before && System.currentTimeMillis() < deadline) Thread.sleep(2)
  }

  def detach(): Unit = if (attached) {
    flush()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Jobs caused by `root` or any span under it. */
  def jobsUnder(root: Span): Seq[JobRec] = {
    val parent = spans.synchronized(spans.map(s => s.id -> s.parent).toMap)
    def under(id: Long): Boolean = id == root.id || (id != 0L && parent.get(id).exists(under))
    jobs.values.asScala.toSeq.filter { j =>
      j.group != null && j.group.startsWith("pb-") &&
        j.group.drop(3).toLongOption.exists(under)
    }
  }

  def jobsOfBatch(batchId: Long): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(_.batchId == batchId)

  /** Spans as JSON lines, for the trace file written at the end of a run. */
  def spanLines: Seq[String] = spans.synchronized(spans.toList).map { s =>
    Json.render(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.start, "end_ms" -> s.end))
  }
}

/** Driver heap in use after each garbage collection, from the JVM's GC
  * notifications, tagged with the run phase at the time: 0 set-up,
  * 1 untraced measurement, 2 traced measurement. */
final class HeapMonitor {
  private val samples = mutable.ArrayBuffer.empty[(Double, Int)]
  @volatile var phase = 0

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        samples.synchronized(samples += ((used / 1048576.0, phase)))
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Collect once so a run with no collection of its own still has one
    * after-GC reading, then give the peak in MB over the whole run, and
    * the mean after-GC heap during untraced and during traced
    * measurement (the two interleave, so old-generation growth weighs on
    * both alike). */
  def peaks(): (Double, Double, Double) = {
    System.gc()
    Thread.sleep(200)
    samples.synchronized {
      def mean(p: Int) = Stats.mean(samples.filter(_._2 == p).map(_._1).toSeq)
      (samples.map(_._1).maxOption.getOrElse(0.0), mean(1), mean(2))
    }
  }
}
