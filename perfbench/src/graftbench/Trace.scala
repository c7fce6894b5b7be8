package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed span: a call into a layer, made by the benchmark. `trace`
  * is the workload pass the call belongs to. Times are kept twice: the
  * monotonic clock for durations and self time, the wall clock for
  * lining spans up against Spark's job events. */
final case class SpanRec(id: Int, parent: Int, trace: String, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

/** Engine counters summed over the jobs of a span (and its children). */
final case class Counters(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    tasksFailed: Int = 0, runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    schedDelayMs: Long = 0, shuffleReadB: Long = 0, shuffleWriteB: Long = 0,
    spillB: Long = 0, skew: Double = 0, jobWallMs: Long = 0)

/** Span recorder. Spans stay in memory until the run ends. Off, it only
  * runs the body: the untraced run pays nothing for it. */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var trace = ""

  def spans: Seq[SpanRec] = done.toSeq

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    // jobs submitted from this thread carry the innermost open span
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val (n0, m0) = (System.nanoTime, System.currentTimeMillis)
    try body
    finally {
      val (n1, m1) = (System.nanoTime, System.currentTimeMillis)
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      done += SpanRec(id, parent, trace, name, n0, n1, m0, m1)
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  @volatile var current: Option[Tracer] = None
  def span[T](name: String)(body: => T): T = current match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
}

/** Benchmark-registered listener: maps stages to jobs through
  * `SparkListenerJobStart.stageIds` and jobs to the span that submitted
  * them, and keeps per-stage task totals. */
final class EngineLedger extends SparkListener {
  final class Job(val span: Int, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = startMs
  }
  final class Stage {
    var tasks, failed = 0
    var runMs, cpuNs, gcMs, schedMs, readB, writeB, spillB = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(0)
    jobs(e.jobId) = new Job(span, e.time, e.stageIds)
    // a stage shared by several jobs runs once, for the first of them
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, new Stage)
    st.tasks += 1
    if (e.taskInfo.failed) st.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.readB += m.shuffleReadMetrics.totalBytesRead
      st.writeB += m.shuffleWriteMetrics.bytesWritten
      st.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      // Spark UI's scheduler delay: task wall not spent deserializing,
      // running or serializing the result
      st.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
    }
    st.durations += e.taskInfo.duration
  }

  /** Counters of the jobs submitted under any span in `ids`, with their
    * job walls unioned inside [lo, hi) (wall-clock ms). */
  def counters(ids: Set[Int], lo: Long, hi: Long): Counters = synchronized {
    val js = jobs.filter { case (_, j) => ids.contains(j.span) }
    val sts = js.keys.toSet.flatMap { (jid: Int) =>
      jobs(jid).stageIds.filter(s => stageJob.get(s).contains(jid))
    }.flatMap(s => stages.get(s))
    val skew = sts.filter(_.durations.nonEmpty).map { s =>
      val med = Stats.median(s.durations.map(_.toDouble).toSeq)
      if (med > 0) s.durations.max / med else 1.0
    }
    Counters(js.size, sts.size, sts.toSeq.map(_.tasks).sum,
      sts.toSeq.map(_.failed).sum, sts.toSeq.map(_.runMs).sum,
      sts.toSeq.map(_.cpuNs).sum, sts.toSeq.map(_.gcMs).sum,
      sts.toSeq.map(_.schedMs).sum, sts.toSeq.map(_.readB).sum,
      sts.toSeq.map(_.writeB).sum, sts.toSeq.map(_.spillB).sum,
      if (skew.isEmpty) 0.0 else skew.max,
      Stats.unionLength(js.values.map(j => (j.startMs, j.endMs)).toSeq, lo, hi))
  }
}
