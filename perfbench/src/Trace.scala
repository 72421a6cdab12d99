package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}

/** One timed call into a public function: `parent` is the enclosing
  * span's id (-1 at the top), `req` the search or increment it serves. */
final case class Span(id: Int, name: String, parent: Int, req: String,
    startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory while tracing is on; a no-op otherwise, so the
  * untraced run pays one boolean test per call. */
final class Tracer {
  var on = false
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()

  def apply[T](name: String, req: String = "")(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1),
        if (req.nonEmpty) req else stack.headOption.map(spans(_).req).getOrElse(""),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack.push(s.id)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack.pop()
      }
    }

  /** Duration minus the part covered by direct children. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum
}

/** What Spark did for one job (or a sum of jobs). */
final class Work {
  var jobs = 0L; var tasks = 0L; var runMs = 0L; var gcMs = 0L
  var schedMs = 0L; var shuffleWrite = 0L; var spill = 0L
  var failures = 0L; var records = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    schedMs += o.schedMs; shuffleWrite += o.shuffleWrite; spill += o.spill
    failures += o.failures; records += o.records
  }
}

/** A Spark job and when it ran. */
final case class Job(id: Int, startMs: Long, var endMs: Long = -1L) {
  val work = new Work
}

/** Work counts per Spark job, registered by the benchmark on the
  * session. A job belongs to the innermost span open when it was
  * submitted: the client is single-threaded, so time decides, also for
  * jobs that graft or Spark submit from their own threads. */
final class Ledger extends SparkListener {
  @volatile var on = false

  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  // SQL execution id -> (start time, ids of its scans' file-count metrics)
  private val execs = mutable.Map[Long, (Long, Set[Long])]()
  val execFiles = mutable.Map[Long, (Long, Long)]()
  private val blocks = mutable.Map[String, Long]()
  private var pinnedNow = 0L
  var pinnedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) {
      jobs(e.jobId) = Job(e.jobId, e.time)
      jobs(e.jobId).work.jobs = 1
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      val w = j.work
      w.tasks += 1
      if (!e.taskInfo.successful) w.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        w.runMs += m.executorRunTime; w.gcMs += m.jvmGCTime
        w.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.diskBytesSpilled
        w.records += m.inputMetrics.recordsRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      if (info.storageLevel.isValid) blocks(id) = info.memSize + info.diskSize
      else blocks.remove(id)
      pinnedNow = blocks.values.sum
      if (on) pinnedPeak = math.max(pinnedPeak, pinnedNow)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart if on =>
        def fileMetrics(p: SparkPlanInfo): Seq[Long] =
          (if (p.nodeName.startsWith("Scan"))
            p.metrics.filter(_.name == "number of files read").map(_.accumulatorId)
          else Nil) ++ p.children.flatMap(fileMetrics)
        execs(s.executionId) = (s.time, fileMetrics(s.sparkPlanInfo).toSet)
      case u: SparkListenerDriverAccumUpdates =>
        for ((t, ids) <- execs.get(u.executionId)) {
          val n = u.accumUpdates.collect { case (id, v) if ids(id) => v }.sum
          val prev = execFiles.get(u.executionId).map(_._2).getOrElse(0L)
          execFiles(u.executionId) = (t, prev + n)
        }
      case _ =>
    }
  }
}
