package graft.perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** Traced-run instrumentation, all from outside the engine: a
  * `SparkListener` for jobs, stages and tasks (attributed to a query
  * through the job group the harness sets), a `QueryExecutionListener` that
  * inspects every executed plan, the codegen counters, and Hadoop
  * `FileSystem` statistics. Spans `pass → query → build/plan/exec → job →
  * stage` stay in memory and are written once, at the end.
  *
  * The listener bus is asynchronous, so every traced pass ends with a drain:
  * a one-task marker job whose end event proves that every earlier event on
  * the shared queue has been delivered. Marker jobs are not counted. */
final class Tracer {
  import Tracer._

  final class Job(val id: Int, val group: String, val start: Long, val pass: Int) {
    var end: Long = -1L
  }
  final class Stage(val id: Int, val attempt: Int, val job: Int, val pass: Int) {
    var start, end = -1L
    var tasks = 0
  }
  /** Per-pass engine counters. */
  final class Acc {
    val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = synchronized { c(k) = c(k) + v }
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val accs = mutable.Map.empty[Int, Acc]
  private val cachedAtEnd = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val codegen0 = mutable.Map.empty[Int, (Long, Long)]
  private val codegen = mutable.Map.empty[Int, (Long, Long)]
  private val fsOps0 = mutable.Map.empty[Int, Map[String, Long]]
  private val fsOps = mutable.Map.empty[Int, Map[String, Long]]
  @volatile private var pass = 0
  @volatile private var active = false
  private val drainJob = new AtomicLong(-1L)
  @volatile private var drainDone = false

  private def acc: Acc = accs.synchronized(accs.getOrElseUpdate(pass, new Acc))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == DrainGroup) { drainJob.set(e.jobId); return }
      jobs.synchronized {
        jobs(e.jobId) = new Job(e.jobId, group, e.time, pass)
        e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      if (e.jobId == drainJob.get()) drainDone = true
      jobs.synchronized(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (active) {
      val i = e.stageInfo
      jobs.synchronized(stageJob.get(i.stageId)).foreach { job =>
        val s = new Stage(i.stageId, i.attemptNumber(), job, pass)
        s.start = i.submissionTime.getOrElse(System.currentTimeMillis())
        jobs.synchronized(stages((i.stageId, i.attemptNumber())) = s)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      jobs.synchronized(stages.get((i.stageId, i.attemptNumber()))).foreach { s =>
        s.end = i.completionTime.getOrElse(System.currentTimeMillis())
        s.tasks = i.numTasks
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      val group = jobs.synchronized {
        stages.get((e.stageId, e.stageAttemptId)).map(s => jobs.get(s.job).map(_.group).orNull)
      }
      if (group.isEmpty) return
      val a = acc
      val info = e.taskInfo
      if (e.reason != Success) a.add("tasks.failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        val dur = info.finishTime - info.launchTime
        a.add("exec.run_s", m.executorRunTime / 1e3)
        a.add("exec.cpu_s", m.executorCpuTime / 1e9)
        group.filter(_ != null).foreach(g => a.add(s"query.$g.cpu_s", m.executorCpuTime / 1e9))
        a.add("exec.gc_s", m.jvmGCTime / 1e3)
        a.add("sched.task_delay_s", math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
        a.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        a.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        a.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        a.add("mem.spill_bytes", m.diskBytesSpilled.toDouble)
        a.add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) {
        val a = acc
        a.add("codegen.interpreted_exprs", interpretedExprs(qe.executedPlan).toDouble)
        a.add("scan.input_bytes", scanBytes(qe.executedPlan).toDouble)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def passStart(p: Int): Unit = {
    pass = p
    active = true
    codegen0(p) = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    fsOps0(p) = CountingLocalFileSystem.snapshot()
  }

  def passEnd(spark: SparkSession, p: Int): Unit = {
    codegen(p) = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    fsOps(p) = diff(CountingLocalFileSystem.snapshot(), fsOps0(p))
    drain(spark)
    active = false
  }

  /** Cached RDD partitions left when a query returns (before the harness
    * clears the cache for the next call). */
  def afterQuery(spark: SparkSession): Unit = {
    val n = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    cachedAtEnd.synchronized(cachedAtEnd(pass) = cachedAtEnd(pass) + n)
  }

  private def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    drainJob.set(-1)
    drainDone = false
    sc.setJobGroup(DrainGroup, DrainGroup, false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000
    while (!drainDone && System.currentTimeMillis() < deadline) Thread.sleep(2)
    require(drainDone, "the listener bus did not drain within 60 s")
  }

  /** Per-layer metrics, and per-query traffic under `query.<name>.*`:
    * per-pass values, median over the traced passes. */
  def layerMetrics(passes: Seq[Harness.Pass], owners: Map[String, String]): Map[String, Double] = {
    val perPass = passes.map(p => passMetrics(p, owners))
    val keys = perPass.flatMap(_.keys).distinct
    keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap
  }

  private def passMetrics(p: Harness.Pass, owners: Map[String, String]): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val pj = jobs.synchronized(jobs.values.filter(_.pass == p.index).toSeq)
    val ps = jobs.synchronized(stages.values.filter(_.pass == p.index).toSeq)
    // each job belongs to the call of its group whose interval holds its start
    def callOf(j: Job): Option[Harness.Call] =
      p.calls.find(c => c.name == j.group && j.start >= c.t0 && j.start <= c.tEnd)
    val byCall = pj.groupBy(callOf)
    for (c <- p.calls) {
      val mod = owners.getOrElse(c.name, "other")
      m(s"$mod.build_s") += c.build
      m(s"$mod.plan_s") += c.plan
      m(s"$mod.exec_s") += c.exec
      val cj = byCall.getOrElse(Some(c), Nil)
      m(s"$mod.jobs") += cj.size
      val busy = unionLength(cj.map(j => (j.start, endOf(j.end, c.tEnd))), c.t0, c.tEnd)
      m("sched.driver_gap_s") += ((c.tEnd - c.t0) - busy) / 1e3
      // per-query traffic, to show what kind of work each query is
      m(s"query.${c.name}.jobs") += cj.size
      m(s"query.${c.name}.driver_gap_s") += ((c.tEnd - c.t0) - busy) / 1e3
      m(s"query.${c.name}.wall_s") += (c.tEnd - c.t0) / 1e3
    }
    m("sched.jobs") = pj.size
    m("sched.unattributed_jobs") = byCall.getOrElse(None, Nil).size
    m("sched.stages") = ps.size
    m("sched.tasks") = ps.map(_.tasks).sum
    accs.synchronized(accs.get(p.index)).foreach(a => a.c.foreach { case (k, v) => m(k) = v })
    m("mem.cached_blocks_end") = cachedAtEnd.synchronized(cachedAtEnd(p.index)).toDouble
    val rows = p.calls.map(_.rows).sum
    m("scan.rows_per_result") = m("scan.input_rows") / math.max(1L, rows)
    m("fs.bytes_read") = p.fs.getOrElse("bytesRead", 0L).toDouble
    m("fs.bytes_written") = p.fs.getOrElse("bytesWritten", 0L).toDouble
    fsOps.get(p.index).foreach(o => o.foreach { case (k, v) => m(s"fs.$k") = v.toDouble })
    for ((t0, n0) <- codegen0.get(p.index); (t1, n1) <- codegen.get(p.index)) {
      m("codegen.compile_s") = (t1 - t0) / 1e9
      m("codegen.classes") = (n1 - n0).toDouble
    }
    // self time per span level: a span's duration minus the union of its
    // children's intervals inside it
    m("span.pass.self_s") = (p.t1 - p.t0 - unionLength(p.calls.map(c => (c.t0, c.tEnd)), p.t0, p.t1)) / 1e3
    for (c <- p.calls) {
      val cj = byCall.getOrElse(Some(c), Nil)
      m("span.query.self_s") += (c.tEnd - c.t0 -
        unionLength(Seq((c.t0, c.tBuilt), (c.tBuilt, c.tPlanned), (c.tPlanned, c.tEnd)), c.t0, c.tEnd)) / 1e3
      for ((lvl, a, b) <- Seq(("build", c.t0, c.tBuilt), ("plan", c.tBuilt, c.tPlanned), ("exec", c.tPlanned, c.tEnd))) {
        val inside = cj.filter(j => j.start >= a && j.start <= b)
        m(s"span.$lvl.self_s") += (b - a - unionLength(inside.map(j => (j.start, endOf(j.end, b))), a, b)) / 1e3
      }
    }
    for (j <- pj) {
      val js = ps.filter(_.job == j.id)
      val end = endOf(j.end, j.start)
      m("span.job.self_s") += (end - j.start - unionLength(js.map(s => (s.start, endOf(s.end, end))), j.start, end)) / 1e3
    }
    m("span.stage.self_s") = ps.map(s => endOf(s.end, s.start) - s.start).sum / 1e3
    m.toMap
  }

  /** Spans of the traced passes, written once as JSON. */
  def writeSpans(f: File, passes: Seq[Harness.Pass]): Unit = {
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    def span(kind: String, name: String, pass: Int, parent: String, id: String, a: Long, b: Long): Unit =
      out += Map("kind" -> kind, "name" -> name, "pass" -> pass, "parent" -> parent, "id" -> id,
        "start_ms" -> a, "end_ms" -> b)
    if (passes.nonEmpty) span("run", "traced", 0, null, "run", passes.head.t0, passes.last.t1)
    for (p <- passes) {
      val pid = s"pass${p.index}"
      span("pass", pid, p.index, "run", pid, p.t0, p.t1)
      for ((c, i) <- p.calls.zipWithIndex) {
        val qid = s"$pid.q$i"
        span("query", c.name, p.index, pid, qid, c.t0, c.tEnd)
        span("build", c.name, p.index, qid, s"$qid.build", c.t0, c.tBuilt)
        span("plan", c.name, p.index, qid, s"$qid.plan", c.tBuilt, c.tPlanned)
        span("exec", c.name, p.index, qid, s"$qid.exec", c.tPlanned, c.tEnd)
      }
      val pj = jobs.synchronized(jobs.values.filter(_.pass == p.index).toSeq)
      for (j <- pj) {
        val i = p.calls.indexWhere(c => c.name == j.group && j.start >= c.t0 && j.start <= c.tEnd)
        val parent = if (i < 0) pid else {
          val c = p.calls(i)
          val lvl = if (j.start < c.tBuilt) "build" else if (j.start < c.tPlanned) "plan" else "exec"
          s"$pid.q$i.$lvl"
        }
        span("job", String.valueOf(j.group), p.index, parent, s"job${j.id}", j.start, j.end)
      }
      for (s <- jobs.synchronized(stages.values.filter(_.pass == p.index).toSeq))
        span("stage", s"stage${s.id}.${s.attempt}", p.index, s"job${s.job}", s"stage${s.id}.${s.attempt}", s.start, s.end)
    }
    Files.write(f.toPath, Json.write(out.toSeq).getBytes("UTF-8"))
  }
}

object Tracer {
  val DrainGroup = "__perfbench_drain__"

  /** Hadoop FileSystem statistics of the local file system, summed over
    * every registered implementation class. */
  def fsStats(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (s <- it if s.getScheme == "file"; k <- Seq("bytesRead", "bytesWritten")) {
      val v = s.getLong(k)
      if (v != null) out(k) += v
    }
    out.toMap
  }

  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) - b.getOrElse(k, 0L))).toMap

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def endOf(end: Long, fallback: Long): Long = if (end < 0) fallback else end

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Executed-plan nodes, through adaptive stages and subqueries. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case p => p +: (p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
  }

  /** Bytes of the files the plan's file scans read ("size of files read").
    * The task input metrics miss them: parquet's vectored reads of local
    * files bypass the Hadoop stream statistics. */
  def scanBytes(plan: SparkPlan): Long =
    nodes(plan).collect { case f: FileSourceScanExec => f.metrics.get("filesSize").map(_.value).getOrElse(0L) }.sum

  /** Expressions evaluated without generated code (CodegenFallback) in an
    * executed plan, through adaptive stages and subqueries. */
  def interpretedExprs(plan: SparkPlan): Int =
    nodes(plan).map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum).sum
}

/** The local file system with operation counters: opens and status calls
  * (read ops), creates, renames, deletes and mkdirs (write ops), and
  * directory listings (list ops). Installed as `fs.file.impl` in traced
  * runs only. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { readOps.incrementAndGet(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { readOps.incrementAndGet(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writeOps.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writeOps.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { writeOps.incrementAndGet(); super.mkdirs(f, permission) }
  override def listStatus(f: Path): Array[FileStatus] = { listOps.incrementAndGet(); super.listStatus(f) }
}

object CountingLocalFileSystem {
  val readOps = new AtomicLong
  val writeOps = new AtomicLong
  val listOps = new AtomicLong
  def snapshot(): Map[String, Long] =
    Map("read_ops" -> readOps.get, "write_ops" -> writeOps.get, "list_ops" -> listOps.get)
}
