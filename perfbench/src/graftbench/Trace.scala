package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.TransferControl

/** One traced interval: a call the benchmark made into a layer, or an
  * interval reconstructed from the engine's control hooks. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startMs: Double, endMs: Double, thread: String) {
  def durMs: Double = endMs - startMs
  def durS: Double = durMs / 1000.0
  def covers(tMs: Double): Boolean = tMs >= startMs && tMs <= endMs
}

/** In-memory span recorder. Spans are recorded only while `on`; times
  * are epoch milliseconds derived from one monotonic anchor, so they
  * line up with the timestamps Spark's listener events carry. */
final class Tracer(val runId: String, val tracedRun: Boolean = false) {
  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val current = ThreadLocal.withInitial[Integer](() => 0)
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  def msOf(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
  def currentSpan: Int = current.get

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent: Int = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, runId, msOf(t0), msOf(System.nanoTime()),
          Thread.currentThread().getName))
        current.set(parent)
      }
    }

  /** A span reconstructed after the fact (engine hook intervals). */
  def record(name: String, parent: Int, startNs: Long, endNs: Long, thread: String): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), name, parent, runId,
      msOf(startNs), msOf(endNs), thread))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "run_id" -> Json.str(s.runId), "start_ms" -> f"${s.startMs}%.3f",
      "end_ms" -> f"${s.endMs}%.3f", "thread" -> Json.str(s.thread))))
    Files.write(path, lines.asJava)
  }
}

/** Task-level counters of one finished Spark task. */
final case class TaskRec(launchMs: Long, runMs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         inBytes: Long, inRecords: Long,
                         outBytes: Long, outRecords: Long)

/** SparkListener + QueryExecutionListener that keep every job, stage and
  * task event and every `ids_over_cap` observation in memory. Events are
  * attributed to spans by their own timestamps (job submission, stage
  * submission, task launch). */
final class SparkRecorder extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[Long]()
  val stages = new ConcurrentLinkedQueue[Long]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val overCap = new ConcurrentLinkedQueue[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.submissionTime.getOrElse(0L))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.launchTime, m.executorRunTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith("minhash_lsh_buckets")) {
        val i = row.fieldIndex("ids_over_cap")
        overCap.add(if (row.isNullAt(i)) 0L else row.getLong(i))
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobsIn(s: Span): Int = jobs.asScala.count(t => s.covers(t.toDouble))
  def stagesIn(s: Span): Int = stages.asScala.count(t => s.covers(t.toDouble))
  def tasksIn(s: Span): Seq[TaskRec] = tasks.asScala.filter(t => s.covers(t.launchMs.toDouble)).toSeq

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  /** Wait until every event posted so far has reached this recorder
    * (the traced run does so after each cycle). */
  def drain(spark: SparkSession): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}

/** The engine's cooperative-cancel hook, recorded: `jobStarted`,
  * `isCancelled` (one call per chunk boundary) and `jobFinished`, with
  * the calling thread and a monotonic timestamp. `cancelAfter` wraps
  * [[TransferControl.cancelAfterChecks]] for the simulated kill. */
final class RecordingControl(cancelAfter: Option[Int] = None) extends TransferControl {
  private val inner = cancelAfter.map(TransferControl.cancelAfterChecks)
  /** (thread name, event kind S/C/F, nanoTime) */
  val events = new ConcurrentLinkedQueue[(String, Char, Long)]()
  private def mark(k: Char): Unit =
    events.add((Thread.currentThread().getName, k, System.nanoTime()))

  override def jobStarted(): Unit = { mark('S'); super.jobStarted() }
  override def jobFinished(): Unit = { mark('F'); super.jobFinished() }
  override def isCancelled: Boolean = {
    mark('C')
    inner.map(_.isCancelled).getOrElse(super.isCancelled)
  }
  def checks: Int = events.asScala.count(_._2 == 'C')

  /** Per-table sequences: each S…F run on one thread, with its boundary
    * timestamps in between. */
  def tables: Seq[TableHooks] =
    events.asScala.toSeq.groupBy(_._1).toSeq.flatMap { case (thread, evs) =>
      val out = Seq.newBuilder[TableHooks]
      var start = -1L
      val checks = Seq.newBuilder[Long]
      evs.sortBy(_._3).foreach {
        case (_, 'S', t) => start = t; checks.clear()
        case (_, 'C', t) => checks += t
        case (_, 'F', t) if start >= 0 =>
          out += TableHooks(thread, start, checks.result(), t); start = -1
        case _ => ()
      }
      out.result()
    }
}

final case class TableHooks(thread: String, startNs: Long, checkNs: Seq[Long], endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
  def planS: Option[Double] = checkNs.headOption.map(c => (c - startNs) / 1e9)
  def finishS: Option[Double] = checkNs.lastOption.map(c => (endNs - c) / 1e9)
  def gapsMs: Seq[Double] = checkNs.sliding(2).collect { case Seq(a, b) => (b - a) / 1e6 }.toSeq
}
