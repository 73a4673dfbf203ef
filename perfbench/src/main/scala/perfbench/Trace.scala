package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Long, var end: Long = -1L)

/** Per-stage counters from the listener. */
final case class StageStats(job: Option[JobRec], tasks: Int, runNs: Long,
    cpuNs: Long, gcNs: Long, shuffleWrite: Long, shuffleRead: Long,
    input: Long, output: Long, spill: Long, taskSkew: Double) {
  def jobSpan: Long = job.map(_.span).getOrElse(-1L)
}

final case class JobRec(id: Int, var span: Long, start: Long, var end: Long = -1L)

/** In-memory tracing: spans recorded around the benchmark's calls into each
  * layer, and Spark jobs and stages seen by a listener. A job is attributed
  * to the span named in the `perfbench.span` local property of the thread
  * that submitted it; jobs from threads the engine starts itself (the
  * snapshot store's staging pool) carry no property and fall back to the
  * innermost span open at the job's start. With tracing off, `span` only
  * runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  private val Prop = "perfbench.span"
  private var nextId = 1L
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.ArrayBuffer[StageStats]()
  private val jobOfStage = mutable.Map[Int, JobRec]()
  private val taskTimes = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  // listener-clock offset: SparkListener events carry wall-clock millis
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  if (enabled) sc.addSparkListener(this)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0L), layer,
        name, System.nanoTime())
      nextId += 1
      spans.synchronized(spans += s)
      stack.push(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Prop,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  def stop(): Unit = if (enabled) sc.removeSparkListener(this)

  private def nanos(millis: Long): Long = millis * 1000000L + wallToNano

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toLong).getOrElse(-1L)
    val j = JobRec(e.jobId, span, nanos(e.time))
    jobs += j
    e.stageIds.foreach(jobOfStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = nanos(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val times = taskTimes.remove((i.stageId, i.attemptNumber()))
        .map(_.sorted).getOrElse(mutable.ArrayBuffer[Long]())
      val skew =
        if (times.size < 2) 1.0
        else {
          val med = times(times.size / 2).toDouble
          if (med <= 0) 1.0 else times.last / med
        }
      if (m != null) stages += StageStats(jobOfStage.get(i.stageId), i.numTasks,
        m.executorRunTime * 1000000L, m.executorCpuTime,
        m.jvmGCTime * 1000000L, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        skew)
    }

  /** Attribute jobs without a span property to the innermost span open at
    * their start; call once the traced loop has ended. Returns the number
    * of jobs no span covers. */
  def attribute(): Int = synchronized {
    jobs.filter(_.span < 0).foreach { j =>
      val open = spans.filter(s => s.start <= j.start &&
        (s.end < 0 || s.end >= j.start))
      if (open.nonEmpty) j.span = open.maxBy(_.start).id
    }
    jobs.count(_.span < 0)
  }

  private var byIdCache: (Int, Map[Long, Span]) = (-1, Map.empty)
  private def byId: Map[Long, Span] = {
    if (byIdCache._1 != spans.size) byIdCache = (spans.size, spans.map(s => s.id -> s).toMap)
    byIdCache._2
  }

  /** Whether span `id` is `root` or lies under it. */
  def under(id: Long, root: Long): Boolean = {
    var cur = id
    while (cur > 0 && cur != root) cur = byId.get(cur).map(_.parent).getOrElse(0L)
    cur == root
  }

  def jobsUnder(root: Long): Seq[JobRec] =
    synchronized(jobs.filter(j => j.span > 0 && under(j.span, root)).toSeq)

  def stagesUnder(root: Long): Seq[StageStats] =
    synchronized(stages.filter(s => s.jobSpan > 0 && under(s.jobSpan, root)).toSeq)

  /** Span wall time not covered by any of its Spark jobs: planning,
    * listing and metadata I/O on the driver. */
  def driverGapNs(s: Span): Long = {
    val iv = jobsUnder(s.id).filter(_.end > 0)
      .map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    (s.end - s.start) - covered
  }

  /** Self time per layer: each span's duration minus the part its child
    * spans cover. */
  def selfTimeByLayer: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val childNs = kids.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
      s.layer -> (s.end - s.start - childNs) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
