package graftbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What one call caused in Spark, read at the call's boundary: jobs and
  * the wall time their intervals cover, task run time, shuffle bytes
  * written, input bytes read, output records, and the files and rows the
  * executed plans' file scans reported. */
final case class Counts(jobs: Int, jobMs: Double, taskMs: Double,
    shuffleBytes: Double, inputBytes: Double, recordsWritten: Double,
    filesScanned: Double, rowsScanned: Double)

/** One timed call into the program. `counts` is present in traced runs
  * only; `out` carries call-specific figures (bytes written, rows
  * returned, ...) the workload attaches. `ms` is the wall time less the
  * share of it the hypervisor stole ([[Steal]]); without steal it is the
  * wall time. */
final class Call(val name: String, val wallMs: Double, val counts: Option[Counts],
    val stealShare: Double = 0.0) {
  val out: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = wallMs * (1 - stealShare)
}

/** CPU time the hypervisor stole from this machine, from the first line of
  * /proc/stat. On a shared virtual machine other guests' load shows up
  * as steal and stretches every wall time by the stolen share; timings
  * leave that share out so they measure the program, not its neighbours.
  * Where /proc/stat is absent the share is 0. */
object Steal {
  /** (stolen, idle and iowait, total) CPU ticks summed over all CPUs. */
  def sample(): (Long, Long, Long) =
    try {
      val r = new java.io.BufferedReader(new java.io.FileReader("/proc/stat"))
      val f = try r.readLine().trim.split("\\s+").drop(1).take(8).map(_.toLong) finally r.close()
      if (f.length == 8) (f(7), f(3) + f(4), f.sum) else (0L, 0L, 0L)
    } catch { case _: java.io.IOException | _: NumberFormatException => (0L, 0L, 0L) }

  /** Stolen ticks over the ticks in which a CPU wanted to run (all but
    * idle and iowait). Idle ticks are left out of the base because a CPU
    * that does not want to run loses nothing to steal: a driver-bound
    * call on one of four CPUs loses the same share as a call that keeps
    * all four busy. */
  def share(a: (Long, Long, Long), b: (Long, Long, Long)): Double = {
    val busy = (b._3 - a._3) - (b._2 - a._2)
    if (busy <= 0) 0.0 else (b._1 - a._1).toDouble / busy
  }

  /** Seconds `f` takes, less the stolen share. */
  def seconds(f: => Unit): Double = {
    val s0 = sample()
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9 * (1 - share(s0, sample()))
  }
}

/** In-memory spans plus the listeners that count Spark work per call.
  * Registered only in traced runs, so untraced runs pay nothing. Calls
  * are made one at a time; at each boundary the listener bus is drained,
  * so every event a call caused is counted for that call. */
final class Tracer(spark: SparkSession, originNs: Long) {
  final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double)

  private val lock = new Object
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private var taskMs, shuffle, input, records, files, rows = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lock.synchronized { jobStarts(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        taskMs += m.executorRunTime
        shuffle += m.shuffleWriteMetrics.bytesWritten
        input += m.inputMetrics.bytesRead
        records += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val (f, r) = Tracer.scanCounts(qe.executedPlan)
      lock.synchronized { files += f; rows += r }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  private def nowMs: Double = (System.nanoTime() - originNs) / 1e6

  def span[T](name: String)(f: => T): T = {
    val id = spans.size + stack.size
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = nowMs
    try f
    finally {
      stack = stack.tail
      spans += Span(id, name, parent, start, nowMs)
    }
  }

  private def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  private def reset(): Unit = lock.synchronized {
    jobStarts.clear(); jobIntervals.clear()
    taskMs = 0; shuffle = 0; input = 0; records = 0; files = 0; rows = 0
  }

  /** Run `f` as one counted call: returns its result, wall ms and counts. */
  def call[T](name: String)(f: => T): (T, Double, Counts) = {
    drain(); reset()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = span(name)(f)
    val ms = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    drain()
    val c = lock.synchronized {
      val open = jobStarts.values.map(s => (s, w1))
      val ivs = (jobIntervals ++ open).map { case (a, b) =>
        (math.max(a, w0), math.min(b, w1)) }.filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      Counts(jobIntervals.size + jobStarts.size, covered.toDouble, taskMs.toDouble,
        shuffle.toDouble, input.toDouble, records.toDouble, files.toDouble, rows.toDouble)
    }
    (r, ms, c)
  }

  def writeSpans(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(s"""{"id": ${s.id}, "name": ${Util.jsonStr(s.name)}, "parent": ${s.parent}, """ +
        s""""start_ms": ${Util.jsonNum(s.startMs)}, "end_ms": ${Util.jsonNum(s.endMs)}}""")
    } finally w.close()
  }
}

object Tracer {
  /** Files and rows reported by the file scans of an executed plan. */
  def scanCounts(plan: SparkPlan): (Long, Long) = {
    var files = 0L
    var rows = 0L
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case s: FileSourceScanExec =>
        files += metric(s, "numFiles")
        rows += metric(s, "numOutputRows")
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (files, rows)
  }
}

/** Run-wide state: the session, the run's own work directory, the
  * operation counts, the check results and every timed call. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
    val size: Size, val tracer: Option[Tracer]) {
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]
  val calls = ArrayBuffer.empty[Call]

  /** Record a correctness check; a failed one makes the run incorrect. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) problems += what
    ok
  }

  def dir(name: String): File = {
    val d = new File(work, name)
    Util.deleteRecursively(d)
    d
  }

  /** Time one call into the program. In traced runs the call also gets
    * its Spark counts and, for `roots`, the files it wrote and removed. */
  def op[T](name: String, roots: Seq[File] = Nil)(f: => T): (T, Call) = tracer match {
    case None =>
      val s0 = Steal.sample()
      val t0 = System.nanoTime()
      val r = f
      val ms = (System.nanoTime() - t0) / 1e6
      val c = new Call(name, ms, None, Steal.share(s0, Steal.sample()))
      calls += c
      (r, c)
    case Some(tr) =>
      val before = if (roots.isEmpty) Map.empty[String, Long] else Util.filesUnder(roots)
      val s0 = Steal.sample()
      val (r, ms, counts) = tr.call(name)(f)
      val c = new Call(name, ms, Some(counts), Steal.share(s0, Steal.sample()))
      if (roots.nonEmpty) {
        val after = Util.filesUnder(roots)
        val added = after.keySet -- before.keySet
        c.out("files_written") = added.size.toDouble
        c.out("bytes_written") = added.toSeq.map(after).sum.toDouble
        c.out("files_removed") = (before.keySet -- after.keySet).size.toDouble
      }
      calls += c
      (r, c)
  }

  def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))

  /** A full collection before a batch operation, outside its timing, so
    * each one starts from the same heap state and the heap peak is not
    * inflated by earlier operations' garbage. */
  def settle(): Unit = System.gc()

  def named(name: String): Seq[Call] = calls.filter(_.name == name).toSeq
}
