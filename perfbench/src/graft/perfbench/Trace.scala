package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sink.GraphSink
import graft.state.SnapshotStore

/** One traced interval. `op` is the timed operation (pass, cycle pass,
  * query or memo build) it belongs to; `parent` is -1 for an op's root. */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val start: Double) {
  var end: Double = Double.NaN
  def dur: Double = end - start
  /** The module a span times: `sink.detach` → sink, `fn:buckets` and
    * `pass` → pipeline, `query:q1` and `memo:x` → analytics. */
  def layer: String = name.takeWhile(c => c != '.' && c != ':') match {
    case "pass" | "fn" => "pipeline"
    case "query" | "memo" => "analytics"
    case l => l
  }
}

/** Records spans in memory from the benchmark's own wrappers around the
  * engine's entry points. All times are epoch milliseconds as doubles, the
  * clock Spark's listener events use.
  *
  * Every span that opens sets the SparkContext local property
  * [[Tracer.SpanKey]] on the calling thread, so each Spark job records at
  * submission the span that was innermost when it was submitted.
  *
  * A sync pass is traced as `pass` → `fn:<function>` (opened when the
  * driver calls the function's transform; functions run one at a time) →
  * a reconcile phase and the call spans of the wrapped store and sink. The
  * phases of a node function come from the order of its calls: the first
  * `state.read` opens `reconcile.diff`, which the first sink or commit call
  * closes; the second `state.read` (the convergence check) opens
  * `reconcile.verify`, which lasts until the function ends. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def now(): Double = System.nanoTime() / 1e6 + epochOffsetMs

  val spans = ArrayBuffer.empty[Span]
  private var op: Option[Span] = None
  private var fn: Option[Span] = None
  private var phase: Option[Span] = None
  private var calls: List[Span] = Nil
  private var reads = 0

  private def current: Option[Span] =
    calls.headOption.orElse(phase).orElse(fn).orElse(op)

  private def publish(): Unit =
    sc.setLocalProperty(SpanKey, current.map(_.id.toString).orNull)

  private def open(name: String): Span = {
    val p = current
    val s = new Span(spans.size, name, p.map(_.id).getOrElse(-1),
      op.map(_.id).getOrElse(spans.size), now())
    spans += s
    s
  }

  /** Run `body` as a timed operation, the root of its spans. */
  def operation[T](name: String)(body: => T): T = {
    val s = open(name)
    op = Some(s)
    publish()
    try body
    finally {
      endFunction()
      s.end = now()
      op = None
      publish()
    }
  }

  /** Run `body` as a call span under the innermost open span. */
  def call[T](name: String)(body: => T): T = {
    val s = open(name)
    calls ::= s
    publish()
    try body
    finally {
      s.end = now()
      calls = calls.tail
      publish()
    }
  }

  private def endPhase(): Unit = phase.foreach { p =>
    p.end = now(); phase = None; publish()
  }

  private def startPhase(name: String): Unit = {
    endPhase()
    phase = Some(open(name))
    publish()
  }

  /** A function's transform was called: the previous function ended. */
  def enterFunction(name: String): Unit = {
    endFunction()
    fn = Some(open(s"fn:$name"))
    reads = 0
    publish()
  }

  private def endFunction(): Unit = {
    endPhase()
    fn.foreach { f => f.end = now(); fn = None; publish() }
  }

  def stateRead[T](body: => T): T = {
    if (calls.isEmpty) endPhase()
    val r = call("state.read")(body)
    reads += 1
    if (fn.isDefined && calls.isEmpty)
      startPhase(if (reads == 1) "reconcile.diff" else "reconcile.verify")
    r
  }

  /** The sink or the store is about to write: the diff phase is over. */
  def write[T](name: String)(body: => T): T = {
    if (calls.isEmpty && phase.exists(_.name == "reconcile.diff")) endPhase()
    call(name)(body)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** `SnapshotStore` whose public methods record a span, then call super. */
final class TracedStore(spark: SparkSession, root: String, tr: Tracer)
    extends SnapshotStore(spark, root) {
  override def read(integration: String, function: String): DataFrame =
    tr.stateRead(super.read(integration, function))
  override def commit(integration: String, function: String,
      postImage: DataFrame, partitions: Int): Unit =
    tr.write("state.commit")(
      super.commit(integration, function, postImage, partitions))
}

/** `GraphSink` whose write and resolve methods record a span, then call
  * super. `readNodes`/`readEdges` are not traced: the sink calls them
  * internally and the benchmark's graph check calls them outside passes. */
final class TracedSink(spark: SparkSession, root: String, tr: Tracer)
    extends GraphSink(spark, root) {
  override def applyNodeDelta(label: String, toCreate: DataFrame,
      toDelete: DataFrame): Unit =
    tr.write("sink.node_apply")(super.applyNodeDelta(label, toCreate, toDelete))
  override def resolveEndpoints(edges: DataFrame, labelA: String,
      labelB: String): DataFrame =
    tr.write("sink.resolve")(super.resolveEndpoints(edges, labelA, labelB))
  override def mergeEdges(relType: String, edges: DataFrame, labelA: String,
      labelB: String): Unit =
    tr.write("sink.edge_apply")(super.mergeEdges(relType, edges, labelA, labelB))
  override def applyEdgeDelta(relType: String, toCreate: DataFrame,
      deletePairs: DataFrame, labelA: String, labelB: String,
      alreadyResolved: Boolean): Unit =
    tr.write("sink.edge_apply")(super.applyEdgeDelta(relType, toCreate,
      deletePairs, labelA, labelB, alreadyResolved))
  override def detachEdges(relType: String, deletedA: DataFrame,
      deletedB: DataFrame): Unit =
    tr.write("sink.detach")(super.detachEdges(relType, deletedA, deletedB))
}

/** What the listener keeps of one job and of one task. */
final case class JobRec(id: Int, span: Int, start: Double, stages: Seq[Int]) {
  var end: Double = Double.NaN
}
final case class TaskRec(stage: Int, launch: Double, finish: Double,
    shuffleWrite: Long, spill: Long, outBytes: Long, outRecords: Long)

/** Attributes Spark jobs to spans by the local property each job carries,
  * and keeps every finished task's interval and byte counts. */
final class JobListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  private val byId = scala.collection.mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(-1)
    val j = JobRec(e.jobId, span, e.time.toDouble, e.stageIds)
    jobs += j
    byId(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime.toDouble,
      e.taskInfo.finishTime.toDouble,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
  }
}
