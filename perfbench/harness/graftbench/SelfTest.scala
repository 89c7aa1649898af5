package graftbench

import org.apache.spark.{Success => TaskSuccess, TaskResultLost}
import org.apache.spark.graftbench.SparkAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.util.Properties

/** The harness's own tests: order statistics, listener aggregation over a
  * recorded event sequence, span self time, and failure accounting with
  * an injected failing key. Prints one `[selftest]` line per check and
  * exits non-zero on the first failure.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var checks = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += 1
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) sys.exit(1)
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  private val InjectedKey = "x00_injected_failure"

  /** A key that does some Spark work, then throws. */
  private val failingKey: (SparkSession, String) => org.apache.spark.sql.DataFrame =
    (s, _) => {
      s.range(1000).selectExpr("sum(id)").collect()
      Thread.sleep(20)
      throw new IllegalStateException("injected failure")
    }

  def stats(): Unit = {
    // values from Python: statistics.quantiles(xs, n=4)
    check("quartiles 1..10", Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    check("quartiles 1..4", Stats.quartiles(Seq(4.0, 1.0, 3.0, 2.0)) == ((1.25, 2.5, 3.75)))
    check("quartiles two samples", Stats.quartiles(Seq(1.0, 2.0)) == ((0.75, 1.5, 2.25)))
    check("quartiles one sample", Stats.quartiles(Seq(7.0)) == ((7.0, 7.0, 7.0)))
    val q5 = Stats.quartiles(Seq(10.0, 11.0, 12.0, 13.0, 30.0))
    check("quartiles 5 samples", q5 == ((10.5, 12.0, 21.5)), q5.toString)
    check("median odd", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  private def stage(id: Int, submitted: Long, completed: Long): StageInfo = {
    val s = new StageInfo(id, 0, s"stage $id", 4, Nil, Nil, "", null, Nil, None,
      0, false, 0)
    s.submissionTime = Some(submitted)
    s.completionTime = Some(completed)
    s
  }

  private def task(stageId: Int, id: Long, launch: Long, finish: Long,
                   ok: Boolean, inBytes: Long): SparkListenerTaskEnd = {
    val info = new TaskInfo(id, id.toInt, 0, id.toInt, launch, "driver", "localhost",
      TaskLocality.PROCESS_LOCAL, false)
    info.finishTime = finish
    val m = SparkAccess.taskMetrics(runMs = finish - launch, cpuNs = 1000000L,
      gcMs = 0L, inBytes = inBytes, inRecords = inBytes / 10, shuffleWrite = 7L,
      shuffleRead = 5L, spill = 0L)
    SparkListenerTaskEnd(stageId, 0, "ResultTask",
      if (ok) TaskSuccess else TaskResultLost, info, null, m)
  }

  private def block(part: Int, bytes: Long): SparkListenerBlockUpdated =
    SparkListenerBlockUpdated(SparkAccess.rddBlockUpdate(1, part, bytes))

  def listenerAggregation(): Unit = {
    val l = new LayerListener
    val props = new Properties()
    props.setProperty("spark.jobGroup.id", "3:7")
    // job 1 lists stages 1 and 2; stage 2 is skipped (its shuffle output
    // is reused), stage 1 runs three tasks, one of which fails
    val s1 = stage(1, 1100L, 1900L)
    val s2 = stage(2, 0L, 0L)
    l.onJobStart(SparkListenerJobStart(1, 1000L, Seq(s1, s2), props))
    l.onStageSubmitted(SparkListenerStageSubmitted(s1))
    l.onTaskEnd(task(1, 0L, 1100L, 1200L, ok = true, inBytes = 1000L))
    l.onTaskEnd(task(1, 1L, 1100L, 1200L, ok = true, inBytes = 2000L))
    l.onTaskEnd(task(1, 2L, 1100L, 1500L, ok = false, inBytes = 0L))
    l.onStageCompleted(SparkListenerStageCompleted(s1))
    l.onJobEnd(SparkListenerJobEnd(1, 2000L, JobSucceeded))
    // job 2 has no group and lists stage 1 again (already counted)
    val s3 = stage(3, 2100L, 2200L)
    l.onJobStart(SparkListenerJobStart(2, 2050L, Seq(s1, s3), new Properties()))
    l.onStageSubmitted(SparkListenerStageSubmitted(s3))
    l.onTaskEnd(task(3, 3L, 2100L, 2150L, ok = true, inBytes = 500L))
    l.onStageCompleted(SparkListenerStageCompleted(s3))
    l.onJobEnd(SparkListenerJobEnd(2, 2250L, JobSucceeded))
    Seq(block(0, 100L), block(1, 200L), block(0, 0L)).foreach(l.onBlockUpdated)

    val jobs = l.jobs
    check("jobs recorded in order", jobs.map(_.jobId) == Seq(1, 2))
    check("job group read from properties", jobs.head.group.contains("3:7") &&
      jobs(1).group.isEmpty)
    val c1 = l.counts(jobs.take(1))
    check("job 1: skipped stage not counted", c1.stages == 1, c1.toString)
    check("job 1: tasks and failed tasks", c1.tasks == 3 && c1.failedTasks == 1, c1.toString)
    check("job 1: run time and input", c1.runMs == 600L && c1.inBytes == 3000L &&
      c1.inRecords == 300L, c1.toString)
    check("job 1: shuffle sums", c1.shuffleWrite == 21L && c1.shuffleRead == 15L, c1.toString)
    check("job 1: duration", c1.jobMs == 1000L, c1.toString)
    check("job 1: stage skew max/median", close(c1.worstSkew, 4.0), c1.toString)
    val c2 = l.counts(jobs.drop(1))
    check("job 2: reused stage counts under job 1 only", c2.stages == 1 && c2.tasks == 1, c2.toString)
    val all = l.counts(jobs)
    check("both jobs", all.jobs == 2 && all.stages == 2 && all.tasks == 4, all.toString)
    check("persisted block peak", l.blockPeakBytes == 300L, l.blockPeakBytes.toString)
    l.resetBlockPeak()
    check("block peak restarts from what is held", l.blockPeakBytes == 200L)

    val tree = new SpanTree
    val parent = tree.add(0, "exec", "k", 900.0, 2300.0)
    l.addSpans(tree, jobs, _ => parent)
    val spans = tree.spans
    check("job and stage spans", spans.count(_.kind == "job") == 2 &&
      spans.count(_.kind == "stage") == 2, spans.toString)
  }

  def selfTimes(): Unit = {
    val spans = Seq(Span(1, 0, "plan", "p", 0.0, 10.0),
      Span(2, 1, "job", "a", 1.0, 4.0), Span(3, 1, "job", "b", 3.0, 5.0),
      Span(4, 1, "job", "c", 8.0, 12.0))
    val self = Span.selfTimes(spans)
    check("self time subtracts the union of children", close(self(1), 4.0), self.toString)
    check("leaf self time is its duration", close(self(2), 3.0))
  }

  def injectedFailure(work: String): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val ok: (SparkSession, String) => org.apache.spark.sql.DataFrame =
        (s, _) => s.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
      val keys = Seq("k01_ok" -> ok, InjectedKey -> failingKey)
      val o = Opts(workload = "marts", data = work, work = work, cores = 2,
        expected = s"$work/none.tsv")
      val r = new Runner(o, spark, Some(keys))
      val traced = r.pass(1, traced = true)
      val plain = r.pass(2, traced = false)
      for (p <- Seq(traced, plain)) {
        val bad = p.ops.find(_.name == InjectedKey).get
        check(s"pass ${p.index}: failing key is named with its error",
          bad.error.exists(_.contains("injected failure")), bad.toString)
        check(s"pass ${p.index}: failing key keeps its time",
          bad.seconds >= 0.02 && p.seconds >= bad.seconds, bad.toString)
        check(s"pass ${p.index}: good key unaffected",
          p.ops.find(_.name == "k01_ok").exists(_.error.isEmpty))
      }
      check("failures counted and named", r.attempted == 4 && r.failures.size == 2 &&
        r.failures.forall(_._1.endsWith(InjectedKey)), r.failures.toString)
      check("traced pass attributes jobs to plan and exec",
        traced.layers("spark.jobs") >= 2 && traced.layers("operators.eager_jobs") >= 1,
        traced.layers.toString)
      check("untraced pass carries no layer metrics", plain.layers.isEmpty)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(sys.props("java.io.tmpdir"))
    stats()
    listenerAggregation()
    selfTimes()
    injectedFailure(work)
    println(s"[selftest] $checks checks passed")
  }
}
