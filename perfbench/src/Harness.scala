package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Benchmark driver for the registered queries of [[graft.SparkEntry]].
  *
  * One JVM, one closed-loop client: the queries of a workload run back to
  * back in a fixed order, each through its public query function. Every
  * call is split into build (the function until it returns a DataFrame),
  * plan (forcing `executedPlan`) and exec (the `collect` action).
  *
  * Modes (`key=value` arguments, see `perfbench/run.py`):
  *  - `list`: write the registered query names and their owning modules.
  *  - `run`: set up (build the session, run one cold pass; the set-up time
  *    runs from JVM launch to the end of the cold pass), keeping the cold
  *    pass's answers; write them as parquet with each query's oracle SQL for
  *    the DuckDB compare; then run timed passes for `seconds`. With
  *    `trace=1` every second pass runs under the [[Tracer]].
  */
object Harness {

  final case class Call(name: String, build: Double, plan: Double, exec: Double,
      rows: Long, t0: Long, tBuilt: Long, tPlanned: Long, tEnd: Long, ok: Boolean)

  final case class Pass(index: Int, traced: Boolean, t0: Long, t1: Long,
      calls: Seq[Call], fs: Map[String, Long]) {
    def wall: Double = (t1 - t0) / 1e3
  }

  type Query = (SparkSession, String) => DataFrame
  type Answers = mutable.Map[String, (StructType, Array[Row])]

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = new File(args("out"))
    if (args("mode") == "list") {
      val names = graft.SparkEntry.queries.keys.toSeq.sorted
      writeJson(out, Map("registered" -> names, "owners" -> owners(names)))
      return
    }
    val data = args("data")
    val work = new File(args("work")).getAbsoluteFile
    val queries = args("queries").split(',').toSeq.filter(_.nonEmpty)
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val launchMs = args("launch_ms").toLong

    val registry = graft.SparkEntry.queries
    val missing = queries.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not registered in SparkEntry.queries: ${missing.mkString(",")}")
    val fns = queries.map(q => q -> registry(q))

    val tracer = if (trace) Some(new Tracer) else None
    val spark = session(work, tracer.isDefined)
    spark.sparkContext.setLogLevel("ERROR")
    var passNo = 0

    def runPass(traced: Boolean, answers: Option[Answers] = None): Pass = {
      passNo += 1
      val t = tracer.filter(_ => traced)
      val fs0 = Tracer.fsStats()
      val t0 = System.currentTimeMillis()
      t.foreach(_.passStart(passNo))
      val calls = fns.map { case (q, fn) => call(spark, q, fn, data, t, answers) }
      val t1 = System.currentTimeMillis()
      val fs = Tracer.diff(Tracer.fsStats(), fs0)
      t.foreach(_.passEnd(spark, passNo))
      Pass(passNo, traced, t0, t1, calls, fs)
    }

    val answers: Answers = mutable.Map.empty
    val cold = runPass(traced = false, Some(answers))
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    val result = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS, "cold" -> passJson(cold))
    result("check") = writeAnswers(spark, queries, answers, new File(work, "check"))
    answers.clear()

    val heap = new HeapPeak
    val passes = mutable.ArrayBuffer.empty[Pass]
    // traced runs alternate untraced and traced passes, so both kinds see
    // the same JIT and cache state and their ratio is the tracing overhead
    val start = System.nanoTime()
    do {
      val t = tracer.filter(_ => passes.size % 2 == 1)
      t.foreach(_.attach(spark))
      passes += runPass(traced = t.isDefined)
      t.foreach(_.detach(spark))
      heap.sample(spark)
    } while ((System.nanoTime() - start) / 1e9 < seconds || (tracer.isDefined && passes.size < 2))
    result("passes") = passes.map(passJson).toSeq
    result("heap_peak_mb") = heap.peakMb
    tracer.foreach { t =>
      val tracedPasses = passes.filter(_.traced).toSeq
      result("layers") = t.layerMetrics(tracedPasses, owners(queries))
      t.writeSpans(new File(work, "trace.json"), tracedPasses)
    }
    spark.stop()
    writeJson(out, result)
  }

  def writeJson(out: File, v: Any): Unit = {
    val tmp = new File(out.getPath + ".tmp")
    Files.write(tmp.toPath, Json.write(v).getBytes("UTF-8"))
    Files.move(tmp.toPath, out.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The session the project's own mains use (graft.Bench): local[4], four
    * shuffle partitions, UTC, a codegen cache that holds a multi-query
    * suite, driver-side listing of explicit file lists. Spark's own
    * scratch space stays inside the work directory. */
  def session(work: File, countingFs: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    if (countingFs) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    b.getOrCreate()
  }

  /** One query call under its own job group, after clearing the cache as
    * graft.Bench does. A throw is caught and recorded as a failed call. */
  def call(spark: SparkSession, q: String, fn: Query, data: String, tracer: Option[Tracer],
      answers: Option[Answers]): Call = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup(q, q, false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val df = fn(spark, data)
      val n1 = System.nanoTime(); val t1 = System.currentTimeMillis()
      df.queryExecution.executedPlan
      val n2 = System.nanoTime(); val t2 = System.currentTimeMillis()
      val rows = df.collect()
      val n3 = System.nanoTime(); val t3 = System.currentTimeMillis()
      tracer.foreach(_.afterQuery(spark))
      answers.foreach(_(q) = (df.schema, rows))
      Call(q, (n1 - n0) / 1e9, (n2 - n1) / 1e9, (n3 - n2) / 1e9, rows.length.toLong,
        t0, t1, t2, t3, ok = true)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $q failed: ${e.getClass.getName}: ${e.getMessage}")
        val t3 = System.currentTimeMillis()
        Call(q, (System.nanoTime() - n0) / 1e9, 0, 0, 0, t0, t3, t3, t3, ok = false)
    } finally sc.clearJobGroup()
  }

  /** The cold pass's answers as parquet, one directory per query, with the
    * query's oracle SQL (null when it has none), for the DuckDB compare.
    * Written outside every timed pass. */
  def writeAnswers(spark: SparkSession, queries: Seq[String], answers: Answers,
      dir: File): Map[String, Any] = {
    val oracles = graft.SparkEntry.oracleSql
    val outputs = queries.map { q =>
      val target = new File(dir, q).getPath
      val ok = answers.get(q).exists { case (schema, rows) =>
        try {
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(target)
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] writing the answer of $q failed: ${e.getMessage}")
            false
        }
      }
      Map("query" -> q, "path" -> target, "ok" -> ok, "oracle" -> oracles.getOrElse(q, null))
    }
    Map("outputs" -> outputs)
  }

  /** The module that owns each query: the first of the named modules whose
    * `queries` map registers it. */
  def owners(queries: Seq[String]): Map[String, String] = {
    val modules: Seq[(String, Map[String, _])] = Seq(
      "ops.Relational" -> graft.ops.Relational.queries,
      "ops.Olap" -> graft.ops.Olap.queries,
      "ops.DecisionSupport" -> graft.ops.DecisionSupport.queries,
      "ops.SensorPipeline" -> graft.ops.SensorPipeline.queries,
      "ops.Analytics" -> graft.ops.Analytics.queries,
      "ext.Dedup" -> graft.ext.Dedup.queries,
      "ext.Curation" -> graft.ext.Curation.queries,
      "ext.Linkage" -> graft.ext.Linkage.queries,
      "ext.Similarity" -> graft.ext.Similarity.queries,
      "ext.TextAnalysis" -> graft.ext.TextAnalysis.queries,
      "ext.Layout" -> graft.ext.Layout.queries,
      "streaming.LakeIngestStream" -> graft.streaming.LakeIngestStream.queries,
      "streaming.LakeCdfStream" -> graft.streaming.LakeCdfStream.queries)
    queries.map(q => q -> modules.collectFirst { case (m, qs) if qs.contains(q) => m }
      .getOrElse("other")).toMap
  }

  def passJson(p: Pass): Map[String, Any] = Map(
    "index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wall, "fs" -> p.fs,
    "calls" -> p.calls.size, "failed" -> p.calls.count(!_.ok),
    "failed_queries" -> p.calls.filterNot(_.ok).map(_.name),
    "query_s" -> p.calls.map(c => (c.tEnd - c.t0) / 1e3),
    "query_rows" -> p.calls.map(_.rows))
}

/** Heap in use after a pass, taken outside its wall time: with the cache
  * cleared and two full collections apart, so that what Spark's context
  * cleaner releases after the first one is gone too. What remains is what
  * the engine keeps across passes. The peak is the largest of these. */
final class HeapPeak {
  private var peak = 0L
  def sample(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak / 1048576.0
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }
}
