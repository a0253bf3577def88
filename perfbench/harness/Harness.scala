package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry
import graft.functions.TextHashOps

/** One benchmark run in one JVM: set-up rounds, a cold pass, warm passes
  * in a seeded order, then an untimed check pass that writes every query's
  * output as parquet for the fingerprint compare. Raw measurements go to
  * `out` as JSON; `perfbench/run.py` turns them into metrics.
  *
  * Arguments are `key=value`: data, queries and preconditions (comma
  * lists), seed, seconds, trace (0|1), cores, setups, min_passes, out,
  * check. A precondition is a query whose first call builds on-disk state
  * its later calls reuse (llm_dedup_incremental's corpus state); set-up
  * runs it once, as `graft.Bench`'s warm-up does. The JVM's
  * `java.io.tmpdir` must be a private empty directory: it holds
  * graft_warehouse, graft_sink and graft_dedup_state. */
object Harness {
  val stateDirs = Seq("graft_warehouse", "graft_sink", "graft_dedup_state")

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val data = a("data")
    val names = a("queries").split(",").toSeq
    val preconditions = a("preconditions").split(",").toSeq.filter(_.nonEmpty)
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val setups = a("setups").toInt
    val minPasses = a("min_passes").toInt
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap

    // --- set-up: session, table registration, precondition builds ---
    val setupS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (round <- 1 to setups) {
      val t0 = if (round == 1) jvmStartMs else System.currentTimeMillis()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        stateDirs.foreach(d => deleteTree(new File(tmp, d)))
      }
      spark = session(cores, tmp)
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(t)
      }
      preconditions.foreach { n =>
        SparkEntry.queries(n)(spark, data).write.format("noop").mode("overwrite").save()
        cleanup(spark)
      }
      setupS += (System.currentTimeMillis() - t0) / 1e3
    }
    val sc = spark.sparkContext

    val tracer = new Tracer
    if (trace) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer.qeListener)
    }

    // --- timed region: the cold pass, then at least `min_passes` warm
    // passes and at least `seconds` in all, each pass in its own seeded order ---
    val execs = ArrayBuffer[Exec]()
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val hostBusy0 = hostBusyJiffies()
    val cpu0 = osBean.getProcessCpuTime
    val region0 = System.nanoTime()
    var warmCpuNs = 0L
    var pass = 0
    var id = 0
    def elapsed = (System.nanoTime() - region0) / 1e9
    while (pass == 0 || pass <= minPasses || elapsed < seconds) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      // A traced run mutes the tracer on odd passes, so the same run also
      // gives the untraced wall for the overhead ratio.
      val traced = trace && pass % 2 == 0
      if (tracer.on && !traced) Thread.sleep(200) // let the last query's events arrive
      tracer.on = traced
      val passCpu0 = osBean.getProcessCpuTime
      order.foreach { n =>
        id += 1
        execs += runOnce(spark, fns(n), n, data, id, pass, traced)
      }
      if (pass > 0) warmCpuNs += osBean.getProcessCpuTime - passCpu0
      pass += 1
    }
    val regionS = elapsed
    if (tracer.on) Thread.sleep(200)
    tracer.on = false
    val cpuRegionS = (osBean.getProcessCpuTime - cpu0) / 1e9
    val hostBusyS = (hostBusyJiffies() - hostBusy0) / 100.0
    val storedBytes = stateDirs.map(d => treeBytes(new File(tmp, d))).sum

    val kernels = if (trace) kernelNs(spark, data) else Map.empty[String, Double]

    // --- untimed output check: every query's result as parquet ---
    val checkDir = a("check")
    val checkFailed = names.filterNot { n =>
      try {
        fns(n)(spark, data).write.mode("overwrite").parquet(s"$checkDir/$n")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] check $n failed: ${e.getMessage}"); false
      } finally cleanup(spark)
    }
    spark.stop()

    val w = new PrintWriter(a("out"))
    try w.print(Json.obj(
      "setup_s" -> setupS.toSeq,
      "passes" -> (pass - 1),
      "region_s" -> regionS,
      "cpu_region_s" -> cpuRegionS,
      "cpu_warm_s" -> warmCpuNs / 1e9,
      "host_busy_s" -> hostBusyS,
      "peak_rss_kb" -> procStatusKb("VmHWM"),
      "stored_bytes" -> storedBytes,
      "check_failed" -> checkFailed,
      "execs" -> execs.map(_.json).toSeq,
      "kernels_ns" -> kernels,
      "trace" -> (if (trace) tracer.json else Json.obj())).s)
    finally w.close()
  }

  def session(cores: Int, tmp: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", s"${tmp.getPath}/graft_warehouse")
      .config("spark.local.dir", s"${tmp.getPath}/spark_local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${tmp.getPath}/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One query execution: the builder call, then the noop write. Jobs are
    * tagged with a job group naming the span that starts them. */
  def runOnce(spark: SparkSession, fn: (SparkSession, String) => DataFrame, name: String,
              data: String, id: Int, pass: Int, traced: Boolean): Exec = {
    val sc = spark.sparkContext
    val e = new Exec(id, name, pass, traced)
    val cg0 = CodeGenerator.compileTime; val cc0 = compiles()
    e.start = Clock.nowMs()
    try {
      sc.setJobGroup(s"q$id.build", name)
      val df = fn(spark, data)
      e.buildEnd = Clock.nowMs()
      e.codegenBuildNs = CodeGenerator.compileTime - cg0
      sc.setJobGroup(s"q$id.write", name)
      df.write.format("noop").mode("overwrite").save()
    } catch { case t: Throwable =>
      e.failed = true
      System.err.println(s"[perfbench] $name failed: ${t.getMessage}")
    }
    e.end = Clock.nowMs()
    if (e.buildEnd == 0) e.buildEnd = e.end
    e.codegenNs = CodeGenerator.compileTime - cg0
    e.compiles = compiles() - cc0
    sc.clearJobGroup()
    cleanup(spark)
    if (traced) {
      val tmp = new File(System.getProperty("java.io.tmpdir"))
      stateDirs.map(d => treeFiles(new File(tmp, d), e.start.toLong)).foreach { case (n, b) =>
        e.files += n; e.fileBytes += b
      }
    }
    e.blocksLeft = sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    if (e.blocksLeft != 0) {
      e.failed = true
      System.err.println(s"[perfbench] $name left ${e.blocksLeft} cached blocks")
    }
    e
  }

  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Drop everything a query persisted (Dataset cache and RDD-level
    * persists such as localCheckpoint), blocking, as graft.Bench does. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Median ns per document of each public TextHashOps kernel, called
    * directly on the workload's documents: 10 sweeps after 10 that let
    * the JIT compile the kernel. */
  def kernelNs(spark: SparkSession, data: String): Map[String, Double] = {
    val texts = spark.read.parquet(s"$data/documents.parquet").select("text")
      .collect().map(r => UTF8String.fromString(r.getString(0)))
    val words = texts.map(t => new org.apache.spark.sql.catalyst.util.GenericArrayData(
      t.toString.split(" ", -1).map(UTF8String.fromString(_): Any)))
    val hs = texts.map(TextHashOps.wordHashesFromText)
    val grams = hs.map(TextHashOps.hashGrams(_, 2, true))
    val sep = UTF8String.fromString(" ")
    def time[A](xs: Array[A])(f: A => Any): Double = {
      val samples = (1 to 20).map { _ =>
        val t0 = System.nanoTime(); var i = 0
        while (i < xs.length) { f(xs(i)); i += 1 }
        (System.nanoTime() - t0).toDouble / xs.length
      }.drop(10).sorted
      (samples(4) + samples(5)) / 2
    }
    Map(
      "word_hashes_text_ns" -> time(texts)(TextHashOps.wordHashesFromText),
      "hash_grams_ns" -> time(hs)(TextHashOps.hashGrams(_, 2, true)),
      "minhash_sig_ns" -> time(grams)(TextHashOps.minHashSig),
      "sliding_min_ns" -> time(grams)(TextHashOps.slidingMin(_, 4)),
      "cdc_flags_ns" -> time(hs)(TextHashOps.cdcFlags),
      "char_trigrams_ns" -> time(texts)(TextHashOps.charTrigrams),
      "slice_join_grams_ns" -> time(words)(TextHashOps.sliceJoinGrams(_, 3, sep)))
  }

  /** user+nice+system+irq+softirq jiffies of the whole host. */
  def hostBusyJiffies(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      f(0) + f(1) + f(2) + f(5) + f(6)
    } finally src.close()
  }

  def procStatusKb(key: String): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)

  def treeFiles(f: File, sinceMs: Long): (Long, Long) =
    if (f.isFile) { if (f.lastModified() >= sinceMs) (1L, f.length()) else (0L, 0L) }
    else Option(f.listFiles()).map(_.map(treeFiles(_, sinceMs))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }).getOrElse((0L, 0L))
}

/** Epoch milliseconds with sub-millisecond resolution, on the same scale
  * as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final class Exec(val id: Int, val name: String, val pass: Int, val traced: Boolean) {
  var start, buildEnd, end = 0.0
  var codegenNs, codegenBuildNs, compiles, blocksLeft, files, fileBytes = 0L
  var failed = false
  def json: Json.Raw = Json.obj("id" -> id, "query" -> name, "pass" -> pass,
    "traced" -> traced, "failed" -> failed, "start" -> start, "build_end" -> buildEnd,
    "end" -> end, "codegen_ns" -> codegenNs, "codegen_build_ns" -> codegenBuildNs,
    "compiles" -> compiles, "blocks_left" -> blocksLeft, "files" -> files,
    "file_bytes" -> fileBytes)
}

/** Records jobs, stages, tasks, cached-block sizes and per-QueryExecution
  * planning phases and plan shape while `on`. Stages and tasks are kept
  * when their job started while `on`. Everything stays in memory and is
  * written out once at the end of the run. */
final class Tracer extends SparkListener {
  @volatile var on = false
  private val jobs = new ConcurrentLinkedQueue[Json.Raw]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
  private val stages = new ConcurrentLinkedQueue[Json.Raw]()
  private val tasks = new ConcurrentLinkedQueue[Json.Raw]()
  private val blocks = new ConcurrentLinkedQueue[Json.Raw]()
  private val qes = new ConcurrentLinkedQueue[Json.Raw]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobStart.put(e.jobId, (e.time.toDouble, group))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStart.remove(e.jobId)).foreach {
    case (t0, group) => jobs.add(Json.obj("job" -> e.jobId, "group" -> group,
      "start" -> t0, "end" -> e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    if (stageJob.containsKey(s.stageId))
      stages.add(Json.obj("stage" -> s.stageId, "job" -> stageJob.get(s.stageId),
        "tasks" -> s.numTasks, "start" -> s.submissionTime.getOrElse(0L).toDouble,
        "end" -> s.completionTime.getOrElse(0L).toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (stageJob.containsKey(e.stageId) && m != null)
      tasks.add(Json.obj("stage" -> e.stageId,
        "start" -> e.taskInfo.launchTime.toDouble, "end" -> e.taskInfo.finishTime.toDouble,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
        "in_bytes" -> m.inputMetrics.bytesRead, "in_rows" -> m.inputMetrics.recordsRead,
        "out_bytes" -> m.outputMetrics.bytesWritten, "out_rows" -> m.outputMetrics.recordsWritten,
        "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "sr_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "sr_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> (m.diskBytesSpilled + m.memoryBytesSpilled)))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (on) {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) blocks.add(Json.obj("t" -> Clock.nowMs(), "block" -> b.blockId.name,
      "bytes" -> (b.memSize + b.diskSize)))
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (on) record(funcName, qe)
  }

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def phase(k: String) = ph.get(k).map(p => Json.obj(
      "start" -> p.startTimeMs.toDouble, "ms" -> p.durationMs)).getOrElse(Json.obj())
    val nodes = scala.util.Try(qe.executedPlan).toOption.map(PlanShape.nodes).getOrElse(Nil)
    qes.add(Json.obj("func" -> funcName,
      "analysis" -> phase("analysis"), "optimization" -> phase("optimization"),
      "planning" -> phase("planning"), "shape" -> PlanShape.counts(nodes)))
  }

  def json: Json.Raw = Json.obj(
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq,
    "blocks" -> blocks.asScala.toSeq,
    "qes" -> qes.asScala.toSeq)
}

/** Counts of the plan shapes the per-layer `plans.*` metrics report, over
  * the final (post-AQE) physical plan including subqueries. */
object PlanShape {
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = ArrayBuffer[SparkPlan]()
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  def counts(ns: Seq[SparkPlan]): Json.Raw = {
    val exprs: Seq[Expression] = ns.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    Json.obj(
      "scans" -> ns.count(n => n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec]),
      "exchanges" -> ns.count(n => n.isInstanceOf[ShuffleExchangeExec] ||
        n.isInstanceOf[BroadcastExchangeExec]),
      "global_windows" -> ns.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      },
      "lambdas" -> exprs.count(_.isInstanceOf[HigherOrderFunction]),
      "codegen_fallbacks" -> exprs.count(_.isInstanceOf[CodegenFallback]),
      "topk_nodes" -> ns.count(_.getClass.getSimpleName.startsWith("TopKPerKey")))
  }
}

/** Minimal JSON writer for the run's raw record. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => q(k) + ":" + value(v) }
    .mkString("{", ",", "}"))
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => q(other.toString)
  }
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Writes `SparkEntry.oracleSql` as one JSON object to the file `argv(0)`. */
object OracleSql {
  def main(argv: Array[String]): Unit = {
    val w = new PrintWriter(argv(0))
    try w.print(Json.obj(SparkEntry.oracleSql.toSeq.sortBy(_._1): _*).s) finally w.close()
  }
}
