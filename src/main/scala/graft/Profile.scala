package graft

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd,
  SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Per-slot profile of a Bench run: where a slot's wall time went, split
  * into framework overhead (planning, jobs, stages, tasks) and operator
  * volume (shuffle, spill), plus the JVM's GC and JIT time.
  *
  * Attribution is by TAG, not by time window: [[slot]] adds the Spark
  * job tag `graft-slot:<name>` on the calling thread for the duration of
  * its body. Spark stamps the thread's job tags onto every job and every
  * SQL execution that body starts (broadcast and subquery threads
  * inherit them), so the listener charges each job, its stages, their
  * tasks and each SQL execution's planning phases to the slot that ran
  * it, however late the event is delivered. Listener events arrive
  * asynchronously: call [[drain]] once before reading [[record]].
  *
  * One listener per SparkContext ([[install]] is idempotent); it is
  * dropped when the context stops. Slots must not nest. */
final class Profile private (sc: SparkContext) extends SparkListener {
  import Profile._

  private val slots = mutable.HashMap.empty[String, Record]
  private val stageSlot = mutable.HashMap.empty[Int, String]
  private val executionSlot = mutable.HashMap.empty[Long, String]
  private var started = false
  private var unattributed = 0L

  private def update(name: String)(f: Record => Record): Unit =
    slots(name) = f(slots.getOrElse(name, Record()))

  private def slotOf(tags: Iterable[String]): Option[String] =
    tags.collectFirst { case t if t.startsWith(TagPrefix) =>
      t.stripPrefix(TagPrefix) }

  /** Run `body` as slot `name`: every job it starts is tagged with the
    * slot, and the JVM's GC and JIT time across it are charged to the
    * slot. `body` returns the slot's row count when it has one. */
  def slot(name: String)(body: => Option[Long]): Unit = {
    val tag = TagPrefix + name
    val (gc0, jit0) = (gcMs, jitMs)
    sc.addJobTag(tag)
    try {
      val rows = body
      synchronized(update(name)(_.copy(rows = rows)))
    } finally {
      sc.removeJobTag(tag)
      val (gc1, jit1) = (gcMs, jitMs)
      synchronized(update(name)(r => r.copy(gcMs = r.gcMs + gc1 - gc0,
        jitMs = r.jitMs + jit1 - jit0)))
    }
  }

  /** Block until every event posted so far has reached the listener. */
  def drain(): Unit = GraftSqlBridge.drainListenerBus(sc, DrainTimeoutMs)

  /** The slot's profile so far; all zeros if no slot by that name ran. */
  def record(name: String): Record =
    synchronized(slots.getOrElse(name, Record()))

  /** Untagged jobs started after the first slot's work reached the bus —
    * work a slot ran on a thread that did not inherit its tag. Jobs from
    * before the first slot (session warm-up) are not counted. */
  def unattributedJobs: Long = synchronized(unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobTagsProperty)))
      .map(_.split(',').toSeq).getOrElse(Nil)
    slotOf(tags) match {
      case Some(name) =>
        started = true
        update(name)(r => r.copy(jobs = r.jobs + 1))
        e.stageIds.foreach(stageSlot(_) = name)
      case None => if (started) unattributed += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stageSlot.get(info.stageId).foreach(update(_) { r0 =>
        val r = r0.copy(stages = r0.stages + 1,
          tasks = r0.tasks + info.numTasks)
        Option(info.taskMetrics).fold(r) { m =>
          val (rd, w) = (m.shuffleReadMetrics, m.shuffleWriteMetrics)
          r.copy(shuffleReadBytes = r.shuffleReadBytes + rd.totalBytesRead,
            shuffleReadRecords = r.shuffleReadRecords + rd.recordsRead,
            shuffleWriteBytes = r.shuffleWriteBytes + w.bytesWritten,
            shuffleWriteRecords = r.shuffleWriteRecords + w.recordsWritten,
            peakStageWriteRecords =
              r.peakStageWriteRecords.max(w.recordsWritten),
            spillBytes = r.spillBytes + m.diskBytesSpilled)
        }
      })
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      slotOf(s.jobTags).foreach { name =>
        started = true
        executionSlot(s.executionId) = name
      }
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      executionSlot.remove(end.executionId).foreach { name =>
        GraftSqlBridge.queryExecution(end).foreach { qe =>
          val ms = qe.tracker.phases.values.map(_.durationMs).sum
          update(name)(r => r.copy(planMs = r.planMs + ms))
        }
      }
    }
    case _ => ()
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    installed.remove(sc)
}

object Profile {

  private val TagPrefix = "graft-slot:"
  // SparkContext.SPARK_JOB_TAGS: the job property carrying the thread's
  // job tags, comma-joined
  private val JobTagsProperty = "spark.job.tags"
  private val DrainTimeoutMs = 120000L

  private val installed =
    new java.util.concurrent.ConcurrentHashMap[SparkContext, Profile]()

  /** The context's profile listener, registered on first call. */
  def install(spark: SparkSession): Profile =
    installed.computeIfAbsent(spark.sparkContext, sc => {
      val p = new Profile(sc)
      sc.addSparkListener(p)
      p
    })

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMs: Long = {
    val jit = ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported)
      jit.getTotalCompilationTime
    else 0L
  }

  /** One slot's profile. `rows` is None for a slot that returns no row
    * count (a memo build) or that failed; `planMs` sums the parsing,
    * analysis, optimization and planning phases of every SQL execution
    * the slot ran; `spillBytes` is what its tasks spilled to disk. */
  final case class Record(rows: Option[Long] = None, planMs: Long = 0,
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      shuffleReadBytes: Long = 0, shuffleReadRecords: Long = 0,
      shuffleWriteBytes: Long = 0, shuffleWriteRecords: Long = 0,
      peakStageWriteRecords: Long = 0, spillBytes: Long = 0, gcMs: Long = 0,
      jitMs: Long = 0) {
    def json: String =
      s"""{"rows":${rows.fold("null")(_.toString)},"plan_ms":$planMs,""" +
        s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_read_records":$shuffleReadRecords,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""shuffle_write_records":$shuffleWriteRecords,""" +
        s""""peak_stage_write_records":$peakStageWriteRecords,""" +
        s""""spill_bytes":$spillBytes,"gc_ms":$gcMs,"jit_ms":$jitMs}"""
  }
}
