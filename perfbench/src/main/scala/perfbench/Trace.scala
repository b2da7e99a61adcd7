package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `req` is the operation it belongs to,
  * `n` an optional count of rows the layer produced (-1 when none).
  */
final case class Span(id: Int, parent: Int, req: Int, name: String,
                      startNs: Long, endNs: Long, n: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are recorded from the client thread
  * and from the server's handler thread; the closed loop never runs two
  * operations at once, so one shared stack gives every span its parent.
  */
final class Tracer {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val counts = scala.collection.mutable.Map.empty[Int, Long]
  @volatile var req = 0

  def span[T](name: String)(f: => T): T = {
    val (id, parent) = synchronized {
      nextId += 1
      val p = stack.headOption.getOrElse(0)
      stack = nextId :: stack
      (nextId, p)
    }
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      synchronized {
        stack = stack.tail
        done += Span(id, parent, req, name, t0, t1, counts.remove(id).getOrElse(-1L))
      }
    }
  }

  /** Attaches a row count to the innermost open span. */
  def count(n: Long): Unit = synchronized { stack.headOption.foreach(counts(_) = n) }

  def spans: Seq[Span] = synchronized(done.toList)
}

/** Spark work done during one operation, from [[SparkCounts]]. */
final case class OpCounts(jobs: Int, stages: Int, tasks: Int, taskS: Double,
                          maxTaskMs: Double, shuffleBytes: Long,
                          spillBytes: Long, sqlExecutions: Int,
                          inJobMs: Double)

/** A listener the benchmark registers itself. The listener bus delivers
  * events late and on its own thread, so events are kept with their own
  * timestamps and attributed afterwards to the operation whose wall-clock
  * interval contains the job start.
  */
final class SparkCounts extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  private case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  private case class Task(stage: Int, ms: Long, shuffle: Long, spill: Long)

  private val jobs = ArrayBuffer.empty[Job]
  private val stagesDone = ArrayBuffer.empty[Int]
  private val tasks = ArrayBuffer.empty[Task]
  private val sqlStarts = ArrayBuffer.empty[Long]
  @volatile private var seen = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageIds); seen += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time); seen += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stagesDone += e.stageInfo.stageId; seen += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    tasks += Task(e.stageId, e.taskInfo.duration,
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.diskBytesSpilled + x.memoryBytesSpilled).getOrElse(0L))
    seen += 1
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlStarts += s.time; seen += 1 }
    case _ =>
  }

  /** Blocks until no event has arrived for a while, so the counts are
    * complete before they are attributed.
    */
  def settle(): Unit = {
    var last = -1L
    while (last != seen) { last = seen; Thread.sleep(300) }
  }

  /** Spark work whose job started within [startMs, endMs]. */
  def during(startMs: Long, endMs: Long): OpCounts = synchronized {
    val js = jobs.filter(j => j.start >= startMs && j.start <= endMs)
    val stageIds = js.flatMap(_.stages).toSet
    val ts = tasks.filter(t => stageIds(t.stage))
    // union of job intervals: broadcast jobs overlap the job that uses them
    val spans = js.map(j => (j.start, if (j.end < 0) endMs else j.end)).sortBy(_._1)
    var inJob = 0L; var curS = -1L; var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { inJob += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    inJob += curE - curS
    OpCounts(js.size, stagesDone.count(stageIds), ts.size,
      ts.map(_.ms).sum / 1e3, if (ts.isEmpty) 0.0 else ts.map(_.ms).max.toDouble,
      ts.map(_.shuffle).sum, ts.map(_.spill).sum,
      sqlStarts.count(t => t >= startMs && t <= endMs), inJob.toDouble)
  }
}
