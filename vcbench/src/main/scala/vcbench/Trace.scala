package vcbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced interval: a call into a layer, made by request `req`.
  * `parent` is the index of the enclosing span, -1 at the top. Wall-clock
  * milliseconds sit beside the nanosecond clock because Spark stamps its
  * job events in wall-clock milliseconds. */
final case class Span(name: String, req: Long, parent: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What one Spark job did, summed over its tasks. */
final class JobRecord(val span: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var schedulerDelayMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
}

/** Attributes every Spark job to the span that launched it, through the
  * job group the tracer sets on the calling thread. */
final class JobListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val span = group.filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toInt).getOrElse(-1)
    jobs.put(e.jobId, new JobRecord(span, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    val m = e.taskMetrics
    job.foreach { r =>
      r.synchronized {
        r.tasks += 1
        if (m != null) {
          r.runMs += m.executorRunTime
          r.bytesRead += m.inputMetrics.bytesRead
          r.recordsRead += m.inputMetrics.recordsRead
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          // the delay Spark's UI reports: task wall time not spent running,
          // deserializing, serializing or fetching the result
          val info = e.taskInfo
          r.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        }
      }
    }
  }
}

/** Spans recorded in the benchmark's own code around each public call.
  * Off, `span` runs its body and records nothing. Spans stay in memory
  * until the run writes them out. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val listener = new JobListener
  private var recording = false
  def on: Boolean = recording

  /** Starts (or resumes) recording spans and attributing jobs to them. */
  def enable(): Unit = if (!recording) {
    sc.addSparkListener(listener)
    recording = true
  }

  /** Stops recording; spans and jobs recorded so far stay. */
  def disable(): Unit = if (recording) {
    org.apache.spark.vcbench.ListenerBridge.drain(sc)
    sc.removeSparkListener(listener)
    recording = false
  }

  def span[T](name: String, req: Long)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.length
      spans += Span(name, req, open.headOption.getOrElse(-1), System.nanoTime(), -1L,
        System.currentTimeMillis(), -1L)
      open = idx :: open
      sc.setJobGroup(Tracer.GroupPrefix + idx, name)
      try body
      finally {
        spans(idx) = spans(idx).copy(endNs = System.nanoTime(), endMs = System.currentTimeMillis())
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p, spans(p).name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Jobs grouped by the span that launched them, once every event of the
    * finished jobs has reached the listener. */
  def jobsBySpan(): Map[Int, Seq[JobRecord]] = {
    org.apache.spark.vcbench.ListenerBridge.drain(sc)
    import scala.jdk.CollectionConverters._
    listener.jobs.values.asScala.toSeq.filter(_.span >= 0).groupBy(_.span)
  }

  /** Spans as JSON lines (name, start, end, parent, request). */
  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.zipWithIndex.map { case (s, i) =>
      s"""{"id":$i,"name":"${s.name}","req":${s.req},"parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val GroupPrefix = "vcbench-span-"
}

/** Per-layer figures computed from the spans and the jobs attributed to
  * them. A span's driver gap is its duration minus the part of it that
  * its jobs cover: planning, waiting and driver-side work. */
final class SpanStats(t: Tracer) {
  private val jobs = t.jobsBySpan()
  private def named(name: String): Seq[(Span, Seq[JobRecord])] =
    t.spans.iterator.zipWithIndex.collect {
      case (s, i) if s.name == name => (s, jobs.getOrElse(i, Nil))
    }.toSeq

  def count(name: String): Int = named(name).length
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def meanMs(name: String): Double = mean(named(name).map(_._1.ms))

  /** Mean duration minus the part the span's direct children cover. */
  def selfMs(name: String): Double = {
    val idx = t.spans.indices.filter(i => t.spans(i).name == name).toSet
    val childMs = t.spans.iterator.filter(s => idx(s.parent)).map(s => s.parent -> s.ms)
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
    mean(idx.toSeq.map(i => t.spans(i).ms - childMs.getOrElse(i, 0.0)))
  }
  def jobsPer(name: String): Double = mean(named(name).map(_._2.length.toDouble))
  def jobMsPer(name: String): Double =
    mean(named(name).map(_._2.map(j => math.max(0L, j.endMs - j.startMs)).sum.toDouble))
  def sumPer(name: String)(f: JobRecord => Long): Double =
    mean(named(name).map(_._2.map(f).sum.toDouble))
  def sum(name: String)(f: JobRecord => Long): Long =
    named(name).iterator.flatMap(_._2).map(f).sum

  def driverGapMs(name: String): Double = mean(named(name).map { case (s, js) =>
    val ivs = js.map(j => (math.max(j.startMs, s.startMs), math.min(math.max(j.endMs, j.startMs), s.endMs)))
      .filter(iv => iv._2 > iv._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    ivs.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    math.max(0.0, s.ms - covered)
  })

  /** plans.* and exec.* over the spans named "plans" and "exec": Catalyst
    * planning (with the candidate jobs the planner rule runs) and the jobs
    * that run the planned query. */
  def sqlLayers(resultRows: Long): Map[String, Double] = Map(
    "plans.plan_ms" -> meanMs("plans"),
    "plans.jobs_per_query" -> jobsPer("plans"),
    "plans.job_ms" -> jobMsPer("plans"),
    "plans.driver_gap_ms" -> driverGapMs("plans"),
    "exec.exec_ms" -> meanMs("exec"),
    "exec.jobs_per_query" -> jobsPer("exec"),
    "exec.tasks_per_query" -> sumPer("exec")(_.tasks),
    "exec.task_run_ms" -> sumPer("exec")(_.runMs),
    "exec.scheduler_delay_ms" -> sumPer("exec")(_.schedulerDelayMs),
    "exec.driver_gap_ms" -> driverGapMs("exec"),
    "exec.input_records_per_result" ->
      (if (resultRows == 0) 0.0 else sum("exec")(_.recordsRead).toDouble / resultRows))
}
