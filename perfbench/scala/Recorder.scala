package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** The `driver` layer: Spark's job scheduling as seen by one listener.
  *
  * Completion is tracked per job id. [[settle]] submits a marker job and
  * waits until the marker's end event has arrived and every job that
  * started has ended. The shared listener queue delivers events in posting
  * order, so by then every earlier stage and task event has arrived too.
  * There is no fixed sleep anywhere; the wait is a bounded condition wait.
  * Jobs the benchmark runs for itself (see [[DriverRecorder.aside]]) are
  * left out of every metric.
  */
final class DriverRecorder(sc: SparkContext) extends SparkListener {
  private final case class StageRow(id: Int, attempt: Int, submitted: Long, completed: Long)

  private val lock = new Object
  private val started = mutable.HashSet.empty[Int]
  private val ended = mutable.HashSet.empty[Int]
  private val stages = mutable.ArrayBuffer.empty[StageRow]
  private val taskDurations = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var taskMs = 0L
  private var gcMs = 0L
  private var shuffleRead = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private val blocks = mutable.HashMap.empty[String, Long]
  private var storage = 0L
  private var peakStorage = 0L
  private val MarkerDescription = DriverRecorder.Prefix + "settle-marker"
  private var markerEnded = false
  private val asideStages = mutable.HashSet.empty[Int]
  private val markerJobs = mutable.HashSet.empty[Int]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val description = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    if (description == MarkerDescription) markerJobs += e.jobId
    if (description != null && description.startsWith(DriverRecorder.Prefix))
      asideStages ++= e.stageIds
    else started += e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    if (markerJobs.contains(e.jobId)) markerEnded = true
    ended += e.jobId
    lock.notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    if (!asideStages.contains(i.stageId))
      stages += StageRow(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(-1L),
        i.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (!asideStages.contains(e.stageId)) recordTask(e)
  }

  private def recordTask(e: SparkListenerTaskEnd): Unit = {
    taskDurations.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      storage += now - blocks.getOrElse(b.blockId.name, 0L)
      if (now == 0L) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = now
      peakStorage = math.max(peakStorage, storage)
    }
  }

  /** Forget everything recorded so far (call between settled windows). */
  def reset(): Unit = lock.synchronized {
    started.clear(); ended.clear(); stages.clear(); taskDurations.clear()
    taskMs = 0L; gcMs = 0L; shuffleRead = 0L; shuffleWrite = 0L; spill = 0L
    peakStorage = storage
  }

  /** Block until every event of every job started so far has arrived. */
  def settle(timeoutMs: Long = 60000L): Unit = {
    lock.synchronized { markerEnded = false }
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(MarkerDescription)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(prev)
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized {
      while (!(markerEnded && started.subsetOf(ended))) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0L)
          throw new IllegalStateException(
            s"listener did not deliver end events for jobs ${started.diff(ended)}")
        lock.wait(left)
      }
    }
  }

  /** Wall milliseconds inside [from, to] covered by at least one stage. */
  def stageCoveredMs(from: Long, to: Long): Long = lock.synchronized {
    Spans.unionMs(stages.iterator.filter(s => s.submitted > 0 && s.completed > 0)
      .map(s => (math.max(s.submitted, from), math.min(s.completed, to)))
      .filter { case (a, b) => b > a }.toSeq)
  }

  /** The driver metrics over everything recorded since the last reset. */
  def metrics(wallMs: Long, from: Long, to: Long, rounds: Int): Map[String, Double] =
    lock.synchronized {
      val covered = stageCoveredMs(from, to)
      val skews = stages.flatMap { s =>
        taskDurations.get((s.id, s.attempt)).filter(_.size >= 4).map { ds =>
          val sorted = ds.sorted
          sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
        }
      }
      val mb = 1024.0 * 1024.0
      Map(
        "driver.jobs" -> started.size.toDouble,
        "driver.jobs_per_round" -> (if (rounds > 0) started.size.toDouble / rounds else 0.0),
        "driver.stages" -> stages.size.toDouble,
        "driver.task_s" -> taskMs / 1e3,
        "driver.stage_wall_s" -> stages.iterator
          .map(s => math.max(s.completed - s.submitted, 0L)).sum / 1e3,
        "driver.gap_s" -> math.max(wallMs - covered, 0L) / 1e3,
        "driver.shuffle_read_mb" -> shuffleRead / mb,
        "driver.shuffle_write_mb" -> shuffleWrite / mb,
        "driver.spill_mb" -> spill / mb,
        "driver.gc_s" -> gcMs / 1e3,
        "driver.peak_storage_mb" -> peakStorage / mb,
        "driver.stage_skew" -> (if (skews.isEmpty) 1.0 else skews.max))
    }
}

object DriverRecorder {
  /** Job-description prefix of the benchmark's own jobs. */
  val Prefix = "perfbench-"

  /** Run the benchmark's own work (checks) outside the traced layers: its
    * jobs carry the aside description and, when traced, it is one
    * top-level `bench.aside` span that [[Traced.finish]] takes out of the
    * traced wall time.
    */
  def aside[T](sc: SparkContext, spans: Option[Spans])(body: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Prefix + "aside")
    try spans.fold(body)(_("bench.aside")(body))
    finally sc.setJobDescription(prev)
  }
}

/** In-memory spans (name, start, end, parent, run id), written out once
  * when the run ends. Times are epoch milliseconds so they line up with
  * the listener's stage intervals.
  */
final class Spans(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double) {
    def ms: Double = end - start
  }

  private val done = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** The span enclosing the calling thread (0 = none). */
  def currentId: Int = current.get()

  /** Time `body` as a span. `parent` defaults to the calling thread's
    * enclosing span; pass it explicitly from another thread.
    */
  def apply[T](name: String, parent: Int = -1)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val p = if (parent >= 0) parent else current.get().intValue
    val outer = current.get()
    current.set(id)
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      current.set(outer)
      done.synchronized { done += Span(id, name, p, t0, t1) }
    }
  }

  def all: Seq[Span] = done.synchronized(done.toVector)

  private val counters = mutable.LinkedHashMap.empty[String, Double]

  /** Add to a named count recorded at a layer boundary. */
  def add(name: String, v: Double): Unit = counters.synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }

  def set(name: String, v: Double): Unit = counters.synchronized { counters(name) = v }

  def counter(name: String): Double = counters.synchronized(counters.getOrElse(name, 0.0))

  def seconds(name: String): Double = all.filter(_.name == name).map(_.ms).sum / 1e3

  def count(name: String): Int = all.count(_.name == name)

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(f"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
    } finally w.close()
  }
}

object Spans {
  /** Total length of the union of [start, end) intervals. */
  def unionMs(ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { covered += math.max(curE - curS, 0L); curS = s; curE = e }
      else if (e > curE) curE = e
    }
    covered + math.max(curE - curS, 0L)
  }
}
