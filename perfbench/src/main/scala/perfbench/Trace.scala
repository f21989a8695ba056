package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory span recorder plus a Spark listener for the traced run.
  *
  * Spans carry name, start, end, parent and run id; they stay in memory and
  * are written out once, when the run ends. Listener events are attributed
  * to spans by TIME, not by job group: a job belongs to the innermost span
  * that was open when the job was submitted. Thread-local job properties
  * would miss the lake commit, whose writes are submitted from its own
  * pool threads. */
final class Trace(spark: SparkSession, val runId: String) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  private val jobs = new ConcurrentLinkedQueue[JobEv]
  private val stages = new ConcurrentLinkedQueue[StageEv]
  private val tasks = new ConcurrentLinkedQueue[TaskEv]
  private val jobsEnded = new AtomicLong
  private val lastEventMs = new AtomicLong(System.currentTimeMillis())

  private val listener = new SparkListener {
    private def seen(): Unit = lastEventMs.set(System.currentTimeMillis())
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.add(JobEv(e.jobId, e.time, e.stageIds)); seen()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded.incrementAndGet(); seen() }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(i.taskMetrics).foreach { m =>
        stages.add(StageEv(i.stageId, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
      }
      seen()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.add(TaskEv(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime)); seen()
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Run `body` inside a span named `name` (nested under the open span). */
  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Wait until the listener bus has delivered every job end and gone quiet. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    while (System.currentTimeMillis() < deadline &&
      (jobsEnded.get() < jobs.size || System.currentTimeMillis() - lastEventMs.get() < 300L))
      Thread.sleep(50L)
  }

  /** Spark-side totals of one span and its descendants. Call after [[settle]]. */
  def stats(s: Span): SpanStats = {
    val inside = descendants(s)
    val jobOf = jobSpan()
    val myJobs = jobs.asScala.filter(j => jobOf.get(j.jobId).exists(inside.contains)).toSeq
    val myStages = myJobs.flatMap(_.stageIds).toSet
    val st = stages.asScala.filter(x => myStages.contains(x.stageId)).toSeq
    val tk = tasks.asScala.filter(t => myStages.contains(t.stageId)).toSeq
    val busyMs = tk.map(t => t.finishMs - t.launchMs).sum
    SpanStats(s.seconds, myJobs.size, st.size, tk.size,
      st.map(_.shuffleWriteBytes).sum, st.map(_.spillBytes).sum, st.map(_.gcMs).sum / 1e3,
      busyMs / 1e3,
      unionMs(tk.map(t => (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs)))) / 1e3)
  }

  private def descendants(s: Span): Set[Int] = {
    val out = mutable.Set(s.id)
    spans.foreach(x => if (out.contains(x.parent)) out += x.id) // parents precede children
    out.toSet
  }

  /** job id -> innermost span open at its submission time. */
  private def jobSpan(): Map[Int, Int] =
    jobs.asScala.flatMap { j =>
      spans.filter(x => x.startMs <= j.timeMs && j.timeMs <= x.endMs)
        .maxByOption(x => (x.startNs, x.id)).map(x => j.jobId -> x.id)
    }.toMap

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Detach the listener and write every span as one JSON line. */
  def close(out: java.nio.file.Path): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    java.nio.file.Files.createDirectories(out.getParent)
    val lines = spans.map { s =>
      Json(Map("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds))
    }
    java.nio.file.Files.write(out, lines.asJava)
  }
}

object Trace {
  final class Span(val id: Int, val name: String, val parent: Int, val startMs: Long, val startNs: Long) {
    var endMs: Long = Long.MaxValue
    var endNs: Long = startNs
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class JobEv(jobId: Int, timeMs: Long, stageIds: Seq[Int])
  final case class StageEv(stageId: Int, shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long)
  final case class TaskEv(stageId: Int, launchMs: Long, finishMs: Long)

  /** `busyS` sums task run time; `taskUnionS` is wall time with at least
    * one task running, so `wallS - taskUnionS` is driver-only time. */
  final case class SpanStats(
      wallS: Double, jobs: Int, stages: Int, tasks: Int,
      shuffleWriteBytes: Long, spillBytes: Long, gcS: Double, busyS: Double, taskUnionS: Double)
}
