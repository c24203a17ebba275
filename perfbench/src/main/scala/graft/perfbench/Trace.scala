package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the traced run saw during one driver operation. `jobMs` is the
  * part of the operation's wall time covered by at least one of its Spark
  * jobs; the rest ran on the driver alone. */
final case class OpTrace(
    jobs: Int,
    jobMs: Long,
    planMs: Long,      // analysis + optimization + planning, summed over its queries
    scanFiles: Long,   // scan-node numFiles, summed
    scanRows: Long,    // scan-node numOutputRows, summed
    bytesWritten: Long,
    fsOps: Long)       // file-system calls on the driver thread

/** One progress report of the serving query (a micro-batch with input). */
final case class ServeBatch(rows: Long, planMs: Long, mergeMs: Long)

/** A span: name, start and end in epoch milliseconds, and its parent's id
  * (-1 for none). Driver operations are spans; their Spark jobs are child
  * spans. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double, parent: Int)

/** Tracing for the traced run: a SparkListener (jobs, stages, bytes), a
  * QueryExecutionListener (planning phases, scan metrics), the serving
  * query's progress events, Hadoop FileSystem statistics and the spans.
  *
  * Jobs are attributed to the driver operation through a local property
  * set on the driver thread; the serving query's jobs carry its
  * `sql.streaming.queryId` instead and are counted as serve work. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  val OpProp = "perfbench.op"
  private val sc = spark.sparkContext

  private final case class Job(op: String, start: Long, var end: Long, stages: Seq[Int])
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageBytes = mutable.HashMap.empty[Int, Long]
  private val execOp = mutable.HashMap.empty[Long, String]
  // (execution id, operation current when the event arrived, plan ms, files, rows)
  private val queries = mutable.ArrayBuffer.empty[(Long, String, Long, Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[ServeBatch]
  @volatile private var currentOp = ""

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        Tracer.this.synchronized {
          progress += ServeBatch(p.numInputRows,
            Seq("latestOffset", "getBatch", "queryPlanning").map(d.getOrElse(_, 0L)).sum,
            d.getOrElse("addBatch", 0L))
        }
      }
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(progressListener)
  }

  def detach(): Unit = {
    spark.streams.removeListener(progressListener)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op =
      if (props.exists(_.getProperty("sql.streaming.queryId") != null)) Tracer.ServeOp
      else props.flatMap(p => Option(p.getProperty(OpProp))).getOrElse(currentOp)
    synchronized {
      jobs(e.jobId) = Job(op, e.time, -1L, e.stageIds)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execOp(id.toLong) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobs.get(e.jobId).foreach(_.end = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) synchronized {
      stageBytes(e.stageInfo.stageId) =
        stageBytes.getOrElse(e.stageInfo.stageId, 0L) + m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.tracker.phases.values.map(_.durationMs).sum
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, n: String) = s.metrics.get(n).fold(0L)(_.value)
    val files = scans.map(metric(_, "numFiles")).sum
    val rows = scans.map(metric(_, "numOutputRows")).sum
    val op = currentOp
    synchronized(queries += ((qe.id, op, plan, files, rows)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def fsOps(): Long = CountingLocalFileSystem.ops.get()

  /** Run `body` as operation `op` (unique per call) under the open span
    * `span`, close the span, and return the body's wall milliseconds and
    * its trace. The bus is drained afterwards, outside the timed part, so
    * every event of the operation has been seen before the next one
    * starts. */
  def traced[T](op: String, span: Int)(body: => T): (T, Double, OpTrace) = {
    currentOp = op
    sc.setLocalProperty(OpProp, op)
    val fs0 = fsOps()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out =
      try body
      catch { case e: Throwable => end(span); currentOp = ""; throw e }
      finally sc.setLocalProperty(OpProp, null)
    val ms = (System.nanoTime() - n0) / 1e6
    end(span)
    val t1 = System.currentTimeMillis()
    val fs = fsOps() - fs0
    org.apache.spark.perfbench.BusDrain.drain(sc)
    val trace = synchronized {
      val mine = jobs.valuesIterator.filter(_.op == op).toSeq
      mine.foreach(j => addSpan("job", j.start.toDouble, (if (j.end < 0) t1 else j.end).toDouble, span))
      val covered = Tracer.covered(mine.map(j => (j.start, if (j.end < 0) t1 else j.end)), t0, t1)
      val qs = queries.filter { case (id, cur, _, _, _) => execOp.getOrElse(id, cur) == op }
      OpTrace(mine.size, covered, qs.map(_._3).sum, qs.map(_._4).sum, qs.map(_._5).sum,
        mine.flatMap(_.stages).map(stageBytes.getOrElse(_, 0L)).sum, fs)
    }
    currentOp = ""
    (out, ms, trace)
  }

  /** Serve-side jobs and progress reports since the last call. */
  def takeServe(): (Int, Long, Seq[ServeBatch]) = synchronized {
    val mine = jobs.valuesIterator.filter(_.op == Tracer.ServeOp).toSeq
    val bytes = mine.flatMap(_.stages).map(stageBytes.getOrElse(_, 0L)).sum
    val p = progress.toList
    progress.clear()
    jobs.filterInPlace((_, j) => j.op != Tracer.ServeOp)
    (mine.size, bytes, p)
  }

  /** Forget per-operation records (they are folded into OpTraces). */
  def clear(): Unit = synchronized {
    jobs.filterInPlace((_, j) => j.op == Tracer.ServeOp)
    queries.clear(); execOp.clear()
  }

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def addSpan(name: String, start: Double, end: Double, parent: Int): Int = synchronized {
    val id = nextSpan; nextSpan += 1
    spans += Span(id, name, start, end, parent)
    id
  }

  /** Open a span; returns its id. Close it with [[end]]. */
  def begin(name: String, parent: Int): Int = addSpan(name, nowMs(), -1.0, parent)

  def end(id: Int): Unit = synchronized {
    val i = spans.lastIndexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(endMs = nowMs())
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    synchronized(spans.toList).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= f"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f,"parent":${s.parent}}"""
    }
    sb ++= "\n]\n"
    java.nio.file.Files.write(path, sb.toString.getBytes(Generator.Utf8))
  }
}

object Tracer {
  val ServeOp = "serve"

  /** Milliseconds of [t0, t1] covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var total = 0L
    var reach = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}
