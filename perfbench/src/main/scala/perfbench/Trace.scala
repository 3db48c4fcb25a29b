package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One layer call, timed from the benchmark's call site. `parent` is the
  * enclosing span's id (-1 at the top), `op` the id of the op it ran in
  * (-1 during set-up). The epoch-millisecond bounds place Spark jobs, which
  * the listener stamps in epoch milliseconds, inside the span.
  */
final case class Span(id: Int, parent: Int, op: Long, name: String,
                      startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the whole run. With tracing off `span` only
  * runs its body, so the untraced window pays nothing but a branch.
  *
  * Every span also sets the `perfbench.span` local property, so a Spark job
  * that the client thread submits inside it carries the innermost span's id
  * in its properties. Jobs that pool threads submit carry the properties
  * those threads inherited when they were created; `Attribution` places
  * them by time instead.
  */
final class Tracer(sc: SparkContext) {
  @volatile var on: Boolean = false
  var op: Long = -1L
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), op, name,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.fold(null: String)(_.id.toString))
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Duration minus the part of the interval its direct children cover
    * (children of one parent run on one thread, so they never overlap).
    */
  def selfSeconds: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum)
    }.toMap
  }

  /** Span id → the ids of itself and every descendant. */
  def subtree: Map[Int, Set[Int]] = {
    val kids = spans.groupBy(_.parent).map { case (p, ss) => p -> ss.map(_.id) }
    def walk(id: Int): Set[Int] = kids.getOrElse(id, Nil).toSet.flatMap(walk) + id
    spans.map(s => s.id -> walk(s.id)).toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** One Spark job as the listener saw it; stage totals fold in as stages
  * complete. Times are epoch milliseconds (the listener's clock).
  */
final class JobRec(val id: Int, val group: String, val span: Int, val startMs: Long) {
  var endMs: Long = -1L
  var tasks: Long = 0L
  var execRunMs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
}

/** Engine counts per job: jobs, stages, tasks, executor run time, shuffle
  * write and spill, each tagged with the job group (one per op) and the
  * innermost span open when the job was submitted.
  */
final class JobListener extends SparkListener {
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val span  = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).fold(-1)(_.toInt)
    jobs(e.jobId) = new JobRec(e.jobId, group, span, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (jid <- stageJob.get(info.stageId); j <- jobs.get(jid)) {
      j.tasks += info.numTasks
      Option(info.taskMetrics).foreach { m =>
        j.execRunMs += m.executorRunTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot: Seq[JobRec] = synchronized(jobs.values.toSeq)
}

/** A job's place in the trace: the op it ran in (if any), the span it is
  * counted in (-1 if none), and whether it was forked, i.e. submitted
  * during the op by a thread that does not carry the op's job group.
  */
final case class Placed(job: JobRec, op: Option[OpRec], span: Int, forked: Boolean)

object Attribution {
  /** A job that starts inside an op's window under that op's own group
    * belongs to the op and to the span its properties name: the client
    * thread, or a thread created during the op, submitted it. Any other job
    * that starts inside an op's window came from a thread created earlier
    * (the engine's forks on the global pool, the registry's warm builds),
    * whose inherited group and span are stale. It belongs to that op, and
    * to the innermost of the op's spans open when it started. A job outside
    * every op window keeps the span its properties name (set-up).
    */
  def place(jobs: Seq[JobRec], spans: Seq[Span], ops: Seq[OpRec]): Seq[Placed] = {
    val sorted = ops.sortBy(_.startMs).toIndexedSeq
    val starts = sorted.map(_.startMs).toArray
    val spansOf = spans.groupBy(_.op)
    def during(t: Long): Option[OpRec] = {
      val i = java.util.Arrays.binarySearch(starts, t) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && t <= sorted(i).endMs) Some(sorted(i)) else None
    }
    jobs.map { j =>
      during(j.startMs) match {
        case Some(o) if j.group == s"op-${o.id}" => Placed(j, Some(o), j.span, forked = false)
        case Some(o) =>
          val open = spansOf.getOrElse(o.id, Nil)
            .filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
          Placed(j, Some(o), if (open.isEmpty) -1 else open.maxBy(_.startNs).id, forked = true)
        case None => Placed(j, None, j.span, forked = false)
      }
    }
  }
}
