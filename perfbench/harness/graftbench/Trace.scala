package graftbench

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One node of the span tree: workload → pass → key or refresh half →
  * plan/exec or pipeline phase → Spark job → stage. Times are epoch
  * milliseconds, the clock Spark's listener events carry. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Double, end: Double) {
  def duration: Double = math.max(0.0, end - start)
}

object Span {
  /** Self time of every span: its duration minus the part of it that its
    * children cover (children may overlap each other, e.g. concurrent
    * jobs of a threaded refresh, so the covered part is an interval
    * union, clipped to the parent). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) covered += curB - curA
      s.id -> math.max(0.0, s.duration - covered)
    }.toMap
  }
}

/** The harness's own spans, kept in memory and written when the run
  * ends. Spark job and stage spans are added from the listener's
  * records after each pass. */
final class SpanTree {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Map.empty[Int, (Int, String, String, Double)]
  private var next = 1
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()

  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def begin(kind: String, name: String, parent: Int): Int = synchronized {
    val id = next
    next += 1
    open(id) = (parent, kind, name, nowMs)
    id
  }

  def end(id: Int): Span = synchronized {
    val (parent, kind, name, start) = open.remove(id).get
    val s = Span(id, parent, kind, name, start, nowMs)
    done += s
    s
  }

  def add(parent: Int, kind: String, name: String, start: Double,
          end: Double): Int = synchronized {
    val id = next
    next += 1
    done += Span(id, parent, kind, name, start, end)
    id
  }

  def spans: Seq[Span] = synchronized(done.toList)
}

/** Sums over a set of Spark jobs. */
final case class JobCounts(
    jobs: Int, stages: Int, tasks: Int, failedTasks: Int,
    runMs: Long, cpuNs: Long, inBytes: Long, inRecords: Long,
    outRecords: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    jobMs: Long, worstSkew: Double)

/** Aggregates listener events per job. Every callback only records; the
  * harness reads after draining the bus. The callbacks' own time is kept
  * in `busyNanos`: the work tracing adds to the listener bus. */
final class LayerListener extends SparkListener {
  final class StageRec(val stageId: Int) {
    var attempts = 0
    var tasks = 0
    var failedTasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var inBytes = 0L
    var inRecords = 0L
    var outRecords = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var submitted = Double.NaN
    var completed = Double.NaN
    val durations = mutable.ArrayBuffer.empty[Long]

    def skew: Double =
      if (durations.size < 2) 1.0
      else {
        val med = Stats.median(durations.map(_.toDouble).toSeq)
        if (med <= 0) 1.0 else durations.max / med
      }
  }

  final class JobRec(val jobId: Int, val group: Option[String],
                     val start: Double, val stageIds: Seq[Int]) {
    var end: Double = Double.NaN
  }

  private val jobRecs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageRecs = mutable.Map.empty[Int, StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L

  private var busyNs = 0L

  private def stage(id: Int) = stageRecs.getOrElseUpdate(id, new StageRec(id))

  private def record(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  def busyNanos: Long = synchronized(busyNs)

  override def onJobStart(e: SparkListenerJobStart): Unit = record {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobRecs(e.jobId) = new JobRec(e.jobId, group, e.time.toDouble, e.stageIds)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = record {
    jobRecs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    record {
      val s = stage(e.stageInfo.stageId)
      s.attempts += 1
      e.stageInfo.submissionTime.foreach(t =>
        if (s.submitted.isNaN) s.submitted = t.toDouble)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    record {
      val s = stage(e.stageInfo.stageId)
      if (s.attempts == 0) s.attempts = 1
      e.stageInfo.submissionTime.foreach(t =>
        if (s.submitted.isNaN) s.submitted = t.toDouble)
      e.stageInfo.completionTime.foreach(t => s.completed = t.toDouble)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record {
    val s = stage(e.stageId)
    s.tasks += 1
    if (e.reason != TaskSuccess) s.failedTasks += 1
    if (e.taskInfo != null) s.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outRecords += m.outputMetrics.recordsWritten
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    record {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val now =
          if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        blockBytes += now - rddBlocks.getOrElse(key, 0L)
        if (now == 0L) rddBlocks.remove(key) else rddBlocks(key) = now
        blockPeak = math.max(blockPeak, blockBytes)
      }
    }

  /** Forget block bookkeeping: while detached the listener misses
    * block removals, so it restarts from zero when it is attached. */
  def resetBlocks(): Unit = synchronized {
    rddBlocks.clear(); blockBytes = 0L; blockPeak = 0L
  }

  /** Restart the persisted-bytes peak from what is persisted now. */
  def resetBlockPeak(): Unit = synchronized { blockPeak = blockBytes }
  def blockPeakBytes: Long = synchronized(blockPeak)

  def jobs: Seq[JobRec] = synchronized(jobRecs.values.toList)

  /** Sums over the given jobs. A stage counts once, under the job that
    * first listed it; stages a job listed but never ran (skipped
    * because their shuffle output was reused) count nowhere. */
  def counts(selected: Seq[JobRec]): JobCounts = synchronized {
    val ids = selected.map(_.jobId).toSet
    val ran = stageRecs.values.filter(s =>
      stageJob.get(s.stageId).exists(ids) && s.attempts > 0).toSeq
    JobCounts(
      jobs = selected.size,
      stages = ran.map(_.attempts).sum,
      tasks = ran.map(_.tasks).sum,
      failedTasks = ran.map(_.failedTasks).sum,
      runMs = ran.map(_.runMs).sum,
      cpuNs = ran.map(_.cpuNs).sum,
      inBytes = ran.map(_.inBytes).sum,
      inRecords = ran.map(_.inRecords).sum,
      outRecords = ran.map(_.outRecords).sum,
      shuffleWrite = ran.map(_.shuffleWrite).sum,
      shuffleRead = ran.map(_.shuffleRead).sum,
      spill = ran.map(_.spill).sum,
      jobMs = selected.filter(!_.end.isNaN)
        .map(j => (j.end - j.start).toLong).sum,
      worstSkew = if (ran.isEmpty) 1.0 else ran.map(_.skew).max)
  }

  /** Job and stage spans for the given jobs, parented by `parentOf`. */
  def addSpans(tree: SpanTree, selected: Seq[JobRec],
               parentOf: JobRec => Int): Unit = synchronized {
    selected.foreach { j =>
      val end = if (j.end.isNaN) j.start else j.end
      val jid = tree.add(parentOf(j), "job", s"job ${j.jobId}", j.start, end)
      j.stageIds.flatMap(stageRecs.get)
        .filter(s => stageJob.get(s.stageId).contains(j.jobId))
        .filter(s => !s.submitted.isNaN && !s.completed.isNaN)
        .foreach(s => tree.add(jid, "stage", s"stage ${s.stageId}",
          s.submitted, s.completed))
    }
  }

  /** Forget every job seen so far (block bookkeeping is kept: persisted
    * blocks outlive jobs). */
  def clearJobs(): Unit = synchronized {
    jobRecs.clear(); stageRecs.clear(); stageJob.clear()
  }
}
