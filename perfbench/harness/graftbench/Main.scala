package graftbench

import graft.SparkEntry
import graft.catalog.Catalog
import graft.models.CurationModels
import graft.pipeline.{DataTests, Pipeline, ProductionRun}
import graft.pipeline.Pipeline.RunConfig
import graft.functions.GraftFunctions.{emailRe, patternCount}
import org.apache.spark.graftbench.SparkAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line options. `perfbench/run.py` builds the classpath and
  * passes these; see perfbench/README.md. */
final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    data: String = "",
    work: String = "",
    out: String = "",
    spansOut: Option[String] = None,
    cores: Int = 4,
    launchedEpochNs: Option[Long] = None,
    expected: String = "")

object Opts {
  def parse(args: Seq[String]): Opts = args match {
    case Seq() => Opts()
    case flag +: value +: rest =>
      val o = parse(rest)
      flag match {
        case "--workload" => o.copy(workload = value)
        case "--seed" => o.copy(seed = value.toLong)
        case "--seconds" => o.copy(seconds = value.toDouble)
        case "--trace" => o.copy(trace = value == "1")
        case "--data" => o.copy(data = value)
        case "--work" => o.copy(work = value)
        case "--out" => o.copy(out = value)
        case "--spans-out" => o.copy(spansOut = Some(value))
        case "--cores" => o.copy(cores = value.toInt)
        case "--launched-epoch-ns" => o.copy(launchedEpochNs = Some(value.toLong))
        case "--expected" => o.copy(expected = value)
        case other => throw new IllegalArgumentException(s"unknown option $other")
      }
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }
}

/** One timed operation: a query key (plan + `noop` write) or one
  * `ProductionRun.run`. A failed operation keeps the time it ran
  * before it failed. */
final case class Op(
    name: String, seconds: Double, planS: Double, execS: Double,
    error: Option[String], persistedRdds: Int = 0, persistPeak: Long = 0L,
    gcS: Double = 0.0, heapMb: Double = 0.0, extra: Map[String, Double] = Map.empty)

final case class Pass(index: Int, traced: Boolean, ops: Seq[Op],
                      layers: Map[String, Double]) {
  def seconds: Double = ops.map(_.seconds).sum
  /** Largest heap in use right after a between-key full GC. */
  def heapPeakMb: Double = ops.map(_.heapMb).foldLeft(0.0)(math.max)
}

object Workloads {
  val queryKeys: Map[String, Seq[String]] = Map(
    "marts" -> Seq("q01", "q03", "q07", "q13", "q28"),
    "curation" -> Seq("d04", "d25", "t08"),
    "vectors" -> Seq("e11", "e19"))

  val tables: Map[String, Seq[String]] = Map(
    "marts" -> Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events"),
    "curation" -> Seq("documents"),
    "vectors" -> Seq("embeddings", "documents"),
    "refresh" -> Seq("documents"))

  val names: Seq[String] = Seq("marts", "curation", "vectors", "refresh")

  /** Full SparkEntry key for a short id such as `q01`. */
  def resolveKey(id: String): String = {
    val hits = SparkEntry.queries.keys.filter(_.startsWith(id + "_")).toSeq
    require(hits.size == 1, s"key id $id matches ${hits.sorted.mkString(",")}")
    hits.head
  }
}

object Jvm {
  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
}

/** Runs one workload in one process: set-up, a cold pass, warm passes for
  * the requested time, then the untimed output check. */
final class Runner(o: Opts, val spark: SparkSession,
                   keys: Option[Seq[(String, (SparkSession, String) => DataFrame)]] = None) {
  val tree = new SpanTree
  val listener = new LayerListener
  private var attached = false
  private val rootSpan = tree.begin("workload", o.workload, 0)
  private val expected = Fingerprint.load(Paths.get(o.expected))
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0

  private def sc = spark.sparkContext

  private def attach(on: Boolean): Unit = {
    if (on && !attached) {
      SparkAccess.drainListenerBus(sc)
      listener.resetBlocks()
      sc.addSparkListener(listener)
    }
    if (!on && attached) {
      SparkAccess.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    attached = on
  }

  private def tally(op: String, pass: String, error: Option[String],
                    seconds: Double = 0.0): Unit = {
    System.err.println(f"[perfbench] $pass%s/$op%s $seconds%.3fs ${error.getOrElse("ok")}%s")
    attempted += 1
    error.foreach(e => failures += (s"$pass/$op" -> e))
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.toSeq.headOption.getOrElse("").take(300)

  /** Bench's between-key hygiene: free cached intermediates and park the
    * full GC outside the timed section. Returns the heap in use after
    * that GC. */
  private def clearCaches(): Double = {
    spark.catalog.clearCache()
    System.gc()
    Jvm.heapUsedMb
  }

  // ---------------------------------------------------------------- queries

  private lazy val keyFns: Seq[(String, (SparkSession, String) => DataFrame)] = keys.getOrElse(
    Workloads.queryKeys(o.workload).map(Workloads.resolveKey).map(k => k -> SparkEntry.queries(k)))

  def runKey(key: String, fn: (SparkSession, String) => DataFrame,
             pass: Int, parent: Int, traced: Boolean): Op = {
    val keySpan = if (traced) tree.begin("key", key, parent) else 0
    if (traced) {
      SparkAccess.drainListenerBus(sc)
      listener.resetBlockPeak()
    }
    def group(kind: String): Int = {
      val id = tree.begin(kind, key, keySpan)
      sc.setJobGroup(s"$pass:$id", s"$key $kind")
      id
    }
    val gc0 = Jvm.gcMillis
    val t0 = System.nanoTime()
    var t1 = -1L
    var error: Option[String] = None
    var span = 0
    try {
      if (traced) span = group("plan")
      val df = fn(spark, o.data)
      t1 = System.nanoTime()
      if (traced) { tree.end(span); span = group("exec") }
      df.write.format("noop").mode("overwrite").save()
    } catch {
      case e: Throwable => error = Some(describe(e))
    } finally {
      if (traced) { tree.end(span); sc.clearJobGroup() }
    }
    val t2 = System.nanoTime()
    val gcS = (Jvm.gcMillis - gc0) / 1000.0
    if (t1 < 0) t1 = t2
    if (traced) tree.end(keySpan)
    val persisted = sc.getPersistentRDDs.size
    val peak = if (traced) {
      SparkAccess.drainListenerBus(sc); listener.blockPeakBytes
    } else 0L
    val heap = clearCaches()
    Op(key, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, error,
      persisted, peak, gcS, heap)
  }

  /** The cold pass runs the keys in the workload's listed order, as a
    * scheduled refresh would, so which key pays the process's one-time
    * costs does not depend on the seed; warm passes are seed-permuted. */
  private def order(pass: Int): Seq[(String, (SparkSession, String) => DataFrame)] =
    if (pass == 0) keyFns
    else new scala.util.Random(o.seed * 1000003L + pass).shuffle(keyFns)

  def queryPass(index: Int, traced: Boolean): Pass = {
    attach(traced)
    val passSpan = if (traced) tree.begin("pass", s"pass $index", rootSpan) else 0
    val ops = order(index).map { case (k, fn) =>
      val op = runKey(k, fn, index, passSpan, traced)
      tally(k, s"pass$index", op.error, op.seconds)
      op
    }
    if (traced) tree.end(passSpan)
    val layers = if (traced) traceLayers(index, passSpan, ops) else Map.empty[String, Double]
    Pass(index, traced, ops, layers)
  }

  def checkQueries(): Unit = {
    keyFns.sortBy(_._1).foreach { case (k, fn) =>
      val error =
        try {
          val fp = Fingerprint.of(fn(spark, o.data))
          expected.get(k) match {
            case None => Some("no expected fingerprint")
            case Some(want) if want != fp =>
              Some(s"fingerprint mismatch: got ${fp.rows} rows ${fp.hash}, " +
                s"expected ${want.rows} rows ${want.hash}")
            case _ => None
          }
        } catch { case e: Throwable => Some(describe(e)) }
      clearCaches()
      tally(k, "check", error)
    }
  }

  // ---------------------------------------------------------------- refresh

  private lazy val documents = Catalog(spark, o.data).documents
  private lazy val nDocs = documents.count()
  private def slice(salt: Long, mod: Int) =
    pmod(xxhash64(col("doc_id"), lit(o.seed * 31L + salt)), lit(mod))
  /** 90% of the documents for the full refresh; the seed picks the 10%
    * that arrive as the incremental delta. */
  private lazy val baseDocs = documents.filter(slice(1L, 10) =!= 0)
  /** The decontamination benchmark: the texts of a seed-picked 2%. */
  private lazy val benchDocs =
    documents.filter(slice(2L, 50) === 0).select(col("doc_id"), col("text"))
  private val threads = math.min(4, o.cores)
  // count the documents now, so the count job is not timed in the cold pass
  if (o.workload == "refresh") nDocs
  private def warehouse(name: String): Path =
    Paths.get(o.work, "warehouse", name).toAbsolutePath

  private def checksFor(frames: Map[String, DataFrame]): Seq[DataTests.Check] = {
    import DataTests._
    Seq(
      Check("DOCS_FILTERED", "doc_id_not_null", notNull(frames("DOCS_FILTERED"), "doc_id")),
      Check("DOCS_FILTERED", "text_not_null", notNull(frames("DOCS_FILTERED"), "text")),
      Check("DOCS_DEDUPED", "doc_id_unique", unique(frames("DOCS_DEDUPED"), Seq("doc_id"))),
      Check("DOCS_PACKED", "seq_id_not_null", notNull(frames("DOCS_PACKED"), "seq_id")),
      Check("DOCS_SHARDED", "shard_pos_unique",
        unique(frames("DOCS_SHARDED"), Seq("shard", "pos"))),
      Check("DOCS_CLEAN", "no_email_pii",
        frames("DOCS_CLEAN").filter(patternCount(col("text"), emailRe) > 0)))
  }

  private def refresh(name: String, docs: DataFrame, root: Path, pass: Int,
                      parent: Int, traced: Boolean): (Op, Option[ProductionRun.Report]) = {
    val span = if (traced) tree.begin("refresh", name, parent) else 0
    if (traced) sc.setJobGroup(s"$pass:$span", s"refresh $name")
    val gc0 = Jvm.gcMillis
    val t0 = System.nanoTime()
    val result =
      try {
        val reg = CurationModels.registry(spark, docs, benchDocs,
          incrementalFilter = true, exportBudget = Some(nDocs * 3 / 5))
        Right(ProductionRun.run(spark, reg, root.toString, checksFor, threads = threads))
      } catch { case e: Throwable => Left(describe(e)) }
    val secs = (System.nanoTime() - t0) / 1e9
    val gcS = (Jvm.gcMillis - gc0) / 1000.0
    if (traced) {
      val s = tree.end(span)
      sc.clearJobGroup()
      // ProductionRun's phases run back to back from the call's start
      result.foreach { rep =>
        var at = s.start
        rep.phases.foreach { p =>
          tree.add(span, "phase", p.phase, at, at + p.millis)
          at += p.millis
        }
      }
    }
    val report = result.toOption
    val error = result match {
      case Left(e) => Some(e)
      case Right(rep) if !rep.ok =>
        Some((rep.phases.filterNot(_.ok).map(p => s"${p.phase}: ${p.detail}") ++
          rep.failedChecks.map(c => s"${c.model}.${c.name}=${c.nViolations}"))
          .mkString("; ").take(300))
      case Right(rep) if rep.tests.isEmpty => Some("no data tests ran")
      case _ => None
    }
    def phase(n: String): Double =
      report.toSeq.flatMap(_.phases).filter(_.phase.startsWith(n))
        .map(_.millis / 1000.0).sum
    val extra = Map(
      "run_s" -> phase("run prod"), "test_s" -> phase("test dev"),
      "debug_s" -> phase("debug"),
      "test_violations" -> report.toSeq.flatMap(_.tests).map(_.nViolations.toDouble).sum)
    report.foreach(rep => System.err.println(s"[perfbench] refresh $name phases " +
      rep.phases.map(p => s"${p.phase}=${p.millis}ms").mkString(" ")))
    val persisted = sc.getPersistentRDDs.size
    val heap = clearCaches()
    (Op(name, secs, 0.0, 0.0, error, persisted, 0L, gcS, heap, extra), report)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally all.close()
    }

  private def treeStats(p: Path): (Long, Long, Long) = {
    val all = Files.walk(p)
    try {
      val files = all.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val versions = files.count(f =>
        f.getParent.getFileName.toString == "_manifests" &&
          f.getFileName.toString.matches("v\\d+"))
      (files.map(Files.size).sum, files.size.toLong, versions.toLong)
    } finally all.close()
  }

  private lazy val inputBytes: Double = treeStats(Paths.get(o.data, "documents.parquet"))._1.toDouble

  private var lastRoot: Option[Path] = None

  def refreshPass(index: Int, traced: Boolean): Pass = {
    attach(traced)
    val busy0 = listener.busyNanos
    lastRoot.foreach(deleteTree)
    val wh = warehouse(s"pass$index")
    deleteTree(wh)
    lastRoot = Some(wh)
    val passSpan = if (traced) tree.begin("pass", s"pass $index", rootSpan) else 0
    val (full, _) = refresh("full", baseDocs, wh, index, passSpan, traced)
    tally("full", s"pass$index", full.error, full.seconds)
    val (incr, _) = refresh("incr", documents, wh, index, passSpan, traced)
    tally("incr", s"pass$index", incr.error, incr.seconds)
    if (traced) tree.end(passSpan)
    val (bytes, files, versions) = treeStats(wh)
    val stats = Map("bytes_written" -> bytes.toDouble, "files_written" -> files.toDouble,
      "versions_retained" -> versions.toDouble, "write_amp" -> bytes / inputBytes)
    val ops = Seq(full, incr.copy(extra = incr.extra ++ stats))
    val layers = if (traced) {
      val l = traceLayers(index, passSpan, ops)
      l + ("trace.listener_s" -> (listener.busyNanos - busy0) / 1e9)
    } else Map.empty[String, Double]
    Pass(index, traced, ops, layers)
  }

  /** The incremental warehouse must hold what a from-scratch computation
    * over all documents gives: the registry resolved against an empty
    * warehouse recomputes every model's lineage without writing. */
  def checkRefresh(): Unit = {
    val scratch = warehouse("from_scratch")
    deleteTree(scratch)
    val fresh = CurationModels.registry(spark, documents, benchDocs,
        incrementalFilter = true, exportBudget = Some(nDocs * 3 / 5))
      .resolve(RunConfig(env = Pipeline.Dev, warehouseRoot = scratch.toString))
    for (model <- Seq("DOCS_FILTERED", "DOCS_SHARDED")) {
      val error =
        try {
          val incremental = Fingerprint.of(spark.read.parquet(
            lastRoot.get.resolve(s"CORE/3_MART___CURATION/$model").toString))
          val rebuilt = Fingerprint.of(fresh(model))
          if (incremental == rebuilt) None
          else Some(s"incremental $incremental != from scratch $rebuilt")
        } catch { case e: Throwable => Some(describe(e)) }
      clearCaches()
      tally(model, "check", error)
    }
    lastRoot.foreach(deleteTree)
  }

  // ---------------------------------------------------------------- layers

  private def traceLayers(index: Int, passSpan: Int, ops: Seq[Op]): Map[String, Double] = {
    SparkAccess.drainListenerBus(sc)
    val passSpans = {
      val all = tree.spans
      val inPass = mutable.Set(passSpan)
      all.sortBy(_.id).foreach(s => if (inPass(s.parent)) inPass += s.id)
      all.filter(s => inPass(s.id))
    }
    val pass = passSpans.find(_.id == passSpan).get
    val byId = passSpans.map(s => s.id -> s).toMap
    val leaves = passSpans.filter(s => s.kind == "plan" || s.kind == "exec" || s.kind == "phase")
    val jobs = listener.jobs.filter { j =>
      j.group.exists(_.startsWith(s"$index:")) ||
        (j.start >= pass.start && j.start <= pass.end)
    }
    // a job belongs to the innermost harness span open when it started;
    // its job group names that span unless Spark replaced the group
    // (broadcast exchanges run under their own)
    def parentOf(j: listener.JobRec): Int = {
      val byTime = leaves.filter(s => j.start >= s.start && j.start <= s.end)
        .sortBy(_.start).lastOption.map(_.id)
      val byGroup = j.group.filter(_.startsWith(s"$index:"))
        .map(_.drop(s"$index:".length).toInt).filter(byId.contains)
      byGroup.filter(id => byId(id).kind != "refresh").orElse(byTime)
        .orElse(byGroup).getOrElse(passSpan)
    }
    val parent = jobs.map(j => j -> parentOf(j)).toMap
    listener.addSpans(tree, jobs, parent)
    def kindOf(j: listener.JobRec) = byId.get(parent(j)).map(_.kind).getOrElse("pass")
    def nameOf(j: listener.JobRec) = byId.get(parent(j)).map(_.name).getOrElse("")
    val all = listener.counts(jobs)
    val eager = listener.counts(jobs.filter(kindOf(_) == "plan"))
    val testJobs = jobs.filter(j => kindOf(j) == "phase" && nameOf(j) == "test dev")
    val tests = listener.counts(testJobs)
    val self = Span.selfTimes(tree.spans.filter(s => s.start >= pass.start))
    val planSelf = tree.spans.filter(s => s.kind == "plan" && s.start >= pass.start &&
      s.end <= pass.end).map(s => self(s.id)).sum / 1000.0
    listener.clearJobs()
    val seconds = ops.map(_.seconds).sum
    val rowsOut = ops.flatMap(op => expected.get(op.name)).map(_.rows).sum match {
      case 0L => all.outRecords
      case n => n
    }
    def extra(k: String) = ops.flatMap(_.extra.get(k)).sum
    def op(n: String) = ops.find(_.name == n)
    Map(
      "queries.plan_s" -> ops.map(_.planS).sum,
      "queries.plan_self_s" -> planSelf,
      "queries.exec_s" -> ops.map(_.execS).sum,
      "operators.eager_jobs" -> eager.jobs.toDouble,
      "operators.eager_tasks" -> eager.tasks.toDouble,
      "operators.eager_job_s" -> eager.jobMs / 1000.0,
      "operators.persisted_rdds" -> ops.map(_.persistedRdds).sum.toDouble,
      "operators.persist_peak_bytes" -> ops.map(_.persistPeak).foldLeft(0L)(math.max).toDouble,
      "catalog.scan_bytes" -> all.inBytes.toDouble,
      "catalog.scan_rows" -> all.inRecords.toDouble,
      "catalog.rows_scanned_per_row_out" ->
        (if (rowsOut > 0) all.inRecords.toDouble / rowsOut else 0.0),
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> all.shuffleRead.toDouble,
      "spark.spill_bytes" -> all.spill.toDouble,
      "spark.executor_cpu_s" -> all.cpuNs / 1e9,
      "spark.executor_run_s" -> all.runMs / 1000.0,
      "spark.core_busy_frac" ->
        (if (seconds > 0) all.runMs / 1000.0 / (seconds * o.cores) else 0.0),
      "spark.gc_s" -> ops.map(_.gcS).sum,
      "spark.stage_skew" -> all.worstSkew,
      "spark.failed_tasks" -> all.failedTasks.toDouble,
      "pipeline.full_run_s" -> op("full").map(_.extra("run_s")).getOrElse(0.0),
      "pipeline.full_test_s" -> op("full").map(_.extra("test_s")).getOrElse(0.0),
      "pipeline.incr_run_s" -> op("incr").map(_.extra("run_s")).getOrElse(0.0),
      "pipeline.incr_test_s" -> op("incr").map(_.extra("test_s")).getOrElse(0.0),
      "pipeline.debug_s" -> extra("debug_s"),
      "pipeline.test_jobs" -> tests.jobs.toDouble,
      "pipeline.test_scan_bytes" -> tests.inBytes.toDouble,
      "pipeline.incr_refresh_s" -> op("incr").map(_.seconds).getOrElse(0.0),
      "pipeline.bytes_written" -> extra("bytes_written"),
      "pipeline.files_written" -> extra("files_written"),
      "pipeline.versions_retained" -> extra("versions_retained"),
      "pipeline.write_amp" -> extra("write_amp"))
  }

  def pass(index: Int, traced: Boolean): Pass =
    if (o.workload == "refresh") refreshPass(index, traced) else queryPass(index, traced)

  def check(): Unit =
    if (o.workload == "refresh") checkRefresh() else checkQueries()

  def spansJson: String = {
    attach(false)
    tree.end(rootSpan)
    val self = Span.selfTimes(tree.spans)
    tree.spans.map(s => Json(mutable.LinkedHashMap(
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id))))
      .mkString("[\n", ",\n", "\n]\n")
  }
}

object Main {
  private def session(o: Opts): SparkSession = SparkSession.builder()
    .master(s"local[${o.cores}]")
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", o.cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.files.maxPartitionBytes", "8m")
    .config("spark.sql.files.openCostInBytes", "1m")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", Paths.get(o.work, "spark-local").toString)
    .config("spark.sql.warehouse.dir", Paths.get(o.work, "spark-warehouse").toString)
    .getOrCreate()

  private def epochNs: Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  /** Build the session and resolve the workload's input tables (schema
    * and footers read, the read-schema contract applied). No key runs. */
  private def setUp(o: Opts): SparkSession = {
    val spark = session(o)
    spark.sparkContext.setLogLevel("WARN")
    val cat = Catalog(spark, o.data)
    Workloads.tables(o.workload).foreach(t => cat.table(t).schema)
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args.toSeq)
    require(Workloads.names.contains(o.workload), s"unknown workload '${o.workload}'")
    require(Files.isDirectory(Paths.get(o.data)), s"no input directory ${o.data}")

    // set-up is measured from process launch, so it pays what a
    // cron-started run pays: JVM start, class loading, first SQL use
    val launched = o.launchedEpochNs.getOrElse(epochNs)
    val spark = setUp(o)
    val setupS = (epochNs - launched) / 1e9

    val r = new Runner(o, spark)
    if (o.workload == "refresh") r.spark.sparkContext.setLogLevel("ERROR")
    val cold = r.pass(0, o.trace)
    val refresh = o.workload == "refresh"
    // Query workloads: the JIT keeps speeding passes up for several passes
    // after the cold one, so two untimed warm-up passes precede the warm
    // passes measured for --seconds. A cron-started refresh runs one pass
    // per process, so a refresh run measures that cold pass only.
    val (warmups, minPasses, warmSeconds) =
      if (refresh) (0, 0, 0.0) else (2, if (o.trace) 4 else 3, o.seconds)
    val warmupPasses = (1 to warmups).map(i => r.pass(i, traced = false))
    val warm = mutable.ArrayBuffer.empty[Pass]
    val warmStart = System.nanoTime()
    while (warm.size < minPasses || (System.nanoTime() - warmStart) / 1e9 < warmSeconds) {
      // traced runs alternate untraced and traced passes, so the cost of
      // tracing is measured in the same process
      warm += r.pass(warmups + warm.size + 1, o.trace && warm.size % 2 == 1)
    }
    val warmWall = (System.nanoTime() - warmStart) / 1e9
    r.check()

    val untraced = warm.filterNot(_.traced).map(_.seconds).toSeq
    val traced = warm.filter(_.traced).toSeq
    // the passes the end-to-end metrics are taken from, and the traced
    // passes the per-layer metrics are taken from
    val measured = if (refresh) Seq(cold) else warm.filterNot(_.traced).toSeq
    val layered = if (refresh) Seq(cold) else traced
    val (q1, passMed, q3) = Stats.quartiles(measured.map(_.seconds))
    val keyNames = (cold.ops.map(_.name) ++ warm.flatMap(_.ops.map(_.name))).distinct
    def keyTimes(n: String) = warm.filterNot(_.traced).flatMap(_.ops.find(_.name == n)).toSeq
    // over the keys that ran warm too (none in a refresh run)
    val coldExtra = keyNames.map { n =>
      val ws = keyTimes(n).map(_.seconds)
      if (ws.isEmpty) 0.0
      else cold.ops.find(_.name == n).map(_.seconds).getOrElse(0.0) - Stats.median(ws)
    }.sum
    def measuredMedian(f: Pass => Double): Double = Stats.median(measured.map(f))
    def opExtra(p: Pass, op: String, k: String): Double =
      p.ops.find(_.name == op).flatMap(_.extra.get(k)).getOrElse(0.0)

    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "cold_pass_s" -> (cold.seconds, "s"),
      "pass_s" -> (passMed, "s"),
      "heap_peak_mb" -> (measuredMedian(_.heapPeakMb), "MB"),
      "incr_refresh_s" -> (measuredMedian(p => p.ops.find(_.name == "incr").map(_.seconds).getOrElse(0.0)), "s"),
      "write_amp" -> (measuredMedian(p => opExtra(p, "incr", "write_amp")), "ratio"),
      "fail_frac" -> (r.failures.size.toDouble / math.max(1, r.attempted), "ratio"))

    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (o.trace) {
      layered.flatMap(_.layers.keys).distinct.foreach { n =>
        perLayer(n) = (Stats.median(layered.flatMap(_.layers.get(n))), unitOf(n))
      }
      perLayer("queries.cold_pass_s") = (cold.seconds, "s")
      perLayer("queries.cold_extra_s") = (coldExtra, "s")
      // a refresh run has no warm passes to compare (each would add ~35 s
      // to every refresh run, more than the run budget allows), so there
      // the overhead is the time the listener's callbacks took during the
      // traced pass
      perLayer("trace.overhead_s") =
        if (refresh) (Stats.median(layered.flatMap(_.layers.get("trace.listener_s"))), "s")
        else (Stats.median(traced.map(_.seconds)) - Stats.median(untraced), "s")
    }

    val detail = mutable.LinkedHashMap[String, Any](
      "cold_pass_s" -> cold.seconds,
      "warmup_pass_s" -> warmupPasses.map(_.seconds),
      "warm_untraced_pass_s" -> untraced,
      "warm_traced_pass_s" -> traced.map(_.seconds),
      "pass_s_quartiles" -> Seq(q1, passMed, q3),
      "measured_pass_s" -> measured.map(_.seconds),
      "heap_peak_mb_per_pass" -> (cold +: warm).map(_.heapPeakMb),
      "n_warm_passes" -> warm.size,
      "warm_wall_s" -> warmWall,
      "cold_extra_s" -> coldExtra,
      "per_key" -> mutable.LinkedHashMap(keyNames.sorted.map { n =>
        val ws = keyTimes(n).map(_.seconds)
        val (a, m, b) = if (ws.isEmpty) (0.0, 0.0, 0.0) else Stats.quartiles(ws)
        n -> mutable.LinkedHashMap(
          "cold_s" -> cold.ops.find(_.name == n).map(_.seconds).getOrElse(0.0),
          "warm_q1_s" -> a, "warm_median_s" -> m, "warm_q3_s" -> b,
          "warm_plan_median_s" -> (if (ws.isEmpty) 0.0
            else Stats.median(keyTimes(n).map(_.planS))),
          "persisted_rdds" -> cold.ops.find(_.name == n).map(_.persistedRdds).getOrElse(0))
      }: _*),
      "layers_per_traced_pass" -> (cold +: traced).map(p =>
        mutable.LinkedHashMap("pass" -> p.index) ++ p.layers))

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "trace" -> (if (o.trace) 1 else 0), "seconds" -> o.seconds,
      "correct" -> r.failures.isEmpty,
      "attempted" -> r.attempted,
      "failed" -> r.failures.size,
      "failures" -> r.failures.map { case (op, e) => mutable.LinkedHashMap("op" -> op, "error" -> e) },
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "detail" -> detail)
    o.spansOut.foreach(p => write(Paths.get(p), r.spansJson))
    write(Paths.get(o.out), Json(result) + "\n")
    spark.stop()
  }

  def unitOf(metric: String): String = metric match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_bytes") || m.endsWith("bytes_written") => "bytes"
    case m if m.endsWith("_frac") || m.endsWith("_amp") || m.endsWith("_skew") ||
      m.endsWith("per_row_out") => "ratio"
    case _ => "count"
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}
