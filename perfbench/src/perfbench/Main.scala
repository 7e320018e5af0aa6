package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.EngineDefaults

/** What every workload can use: arguments, data dirs, logging and the
  * storage samples taken after each traced operation. */
final class Ctx(val args: Map[String, String]) {
  def arg(k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  val seed: Long = arg("seed").toLong
  val dataDir: String = arg("data")
  val workDir: String = arg("work")
  val slots: Int = args.get("slots").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  var maxLiveRdds = 0
  var maxCachedMb = 0.0
  def sampleStorage(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    maxLiveRdds = math.max(maxLiveRdds, sc.getPersistentRDDs.size)
    maxCachedMb = math.max(maxCachedMb, sc.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }
}

/** A named list of operations, run as passes. */
trait Workload {
  def name: String
  /** Timed passes a run makes at least (twice that when traced). */
  def minPasses: Int = 2
  /** Set-up after the session build: source registration and one
    * untimed warm-up pass over the timed inputs, which is also the
    * output check (it records [[observed]]). */
  def setup(spark: SparkSession): Unit
  /** Fingerprints of the outputs that do not depend on the seed. */
  def observed: Map[String, Either[String, Fingerprint.Value]]
  def pass(spark: SparkSession, p: Int, tracer: Tracer): Seq[Timed]
  /** Wrong results found by checks inside a pass: (pass, unit) -> why. */
  def passFailures: Map[(Int, String), String] = Map.empty
  /** Workload-specific metrics: `traced` = for the per-layer set. */
  def extraMetrics(traced: Boolean): Map[String, Double] = Map.empty
}

object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def newSession(ctx: Ctx): SparkSession = {
    val n = ctx.slots
    EngineDefaults.tune(SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        EngineDefaults.initialPartitionNum(n, n).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.workDir}/spark-warehouse"))
      .getOrCreate()
  }

  def parseArgs(a: Array[String]): Map[String, String] =
    a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap

  def workload(ctx: Ctx): Workload = ctx.arg("workload") match {
    case "sql_analytics" => new QueryWorkload("sql_analytics", Ops.sqlAnalytics, ctx)
    case "llm_ops" => new QueryWorkload("llm_ops", Ops.llmOps, ctx)
    case "dbt_run" => new DbtRun(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def unitOf(metric: String): String =
    metric.split("[._]").last match {
      case "ms" => "ms"
      case "s" => "s"
      case "mb" => "MB"
      case "kb" => "KB"
      case "bytes" => "bytes"
      case "ratio" | "amp" => "ratio"
      case _ => "count"
    }

  def main(argv: Array[String]): Unit = {
    val ctx = new Ctx(parseArgs(argv))
    val code =
      try {
        ctx.args.get("mode") match {
          case Some("selftest") => SelfTest.run(ctx)
          case _ => run(ctx)
        }
      } catch { case e: Throwable =>
        e.printStackTrace()
        2
      }
    System.exit(code)
  }

  /** What one run produced; `line` is the benchmark's result line. */
  final case class Outcome(line: String, ok: Boolean, summary: Summary,
      untraced: Summary, units: Seq[Timed], metrics: Map[String, Double])

  def run(ctx: Ctx): Int = {
    println(execute(ctx, workload(ctx)).line)
    0
  }

  def execute(ctx: Ctx, wl: Workload,
      expectedOverride: Option[Map[String, String]] = None): Outcome = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val seconds = ctx.arg("seconds").toDouble
    val traced = ctx.args.get("trace").contains("1")
    val record = ctx.args.get("record").contains("1")

    // set-up: JVM start to the first timed operation (session build,
    // source registration, the warm-up / check pass). Once per run: a
    // second set-up in the same JVM starts warm, which no deployment
    // gets, and costs as much as the timed passes.
    val spark = newSession(ctx)
    wl.setup(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    ctx.log(f"${wl.name}: set-up $setupS%.2f s")

    val expectedPath = Paths.get(ctx.arg("expected"))
    val expected: Map[String, String] = expectedOverride.getOrElse(
      if (record || !Files.exists(expectedPath)) Map.empty
      else {
        val n = mapper.readTree(expectedPath.toFile).path("fingerprints")
        val it = n.fieldNames()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val k = it.next(); b += k -> n.path(k).asText() }
        b.result()
      })

    // timed passes: the workload's minimum, then more while another
    // pass fits in the time budget. A traced run interleaves untraced and
    // traced passes as U T T U U T T U ..., so a warming trend cancels
    // out of the tracing overhead it states.
    val minPasses = if (traced) 2 * wl.minPasses else wl.minPasses
    val events = new SparkEvents
    val allSpans = mutable.ArrayBuffer[Span]()
    var codegenMs, codegenCount = 0.0 // compile totals of traced passes
    val units = mutable.ArrayBuffer[Timed]()
    val tracedPasses = mutable.Set[Int]()
    val steal0 = Host.stealMs()
    val tStart = System.nanoTime()
    var p = 0
    var lastPassS = 0.0
    while (p < minPasses ||
        (System.nanoTime() - tStart) / 1e9 + lastPassS <= seconds) {
      val tp = System.nanoTime()
      val tracePass = traced && (p % 4 == 1 || p % 4 == 2)
      val tracer = new Tracer(tracePass)
      if (tracePass) { tracedPasses += p; events.attach(spark) }
      tracer.pass = p
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      units ++= wl.pass(spark, p, tracer)
      if (tracePass) {
        events.detach(spark)
        allSpans ++= tracer.spans
        codegenMs += (CodeGenerator.compileTime - cg0) / 1e6
        codegenCount += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
      }
      lastPassS = (System.nanoTime() - tp) / 1e9
      p += 1
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    val stealMs = Host.stealMs() - steal0

    // wrong results: seed-independent fingerprints against the stored
    // ones (every pass of that operation fails), plus in-pass checks
    val observed = wl.observed
    val mismatched: Map[String, String] = observed.flatMap {
      case (n, Left(err)) => Some(n -> s"check failed: $err")
      case (n, Right(v)) =>
        expected.get(n) match {
          case Some(e) if e == v.toString => None
          case Some(e) => Some(n -> s"fingerprint $v, expected $e")
          case None if record => None
          case None => Some(n -> "no expected fingerprint")
        }
    }
    val inPass = wl.passFailures
    val summary = Accounting.summarize(units.toSeq,
      (pass, n) => mismatched.contains(n) || inPass.contains((pass, n)))
    val untracedUnits = units.filterNot(u => tracedPasses(u.pass)).toSeq
    val untraced = Accounting.summarize(untracedUnits,
      (pass, n) => mismatched.contains(n) || inPass.contains((pass, n)))
    (mismatched.toSeq.sorted.map { case (n, w) => s"$n: $w" } ++
      inPass.toSeq.map { case ((pp, n), w) => s"pass $pp $n: $w" } ++
      summary.failures).distinct.foreach(f => ctx.log(s"FAILED $f"))

    if (record) {
      val fp = observed.collect { case (n, Right(v)) => n -> v.toString }
      val doc = Map("workload" -> wl.name, "data" -> ctx.args.getOrElse("scale", ""),
        "fingerprints" -> scala.collection.immutable.TreeMap(fp.toSeq: _*))
      Files.createDirectories(expectedPath.getParent)
      mapper.writerWithDefaultPrettyPrinter().writeValue(expectedPath.toFile, doc)
      ctx.log(s"recorded ${fp.size} fingerprints to $expectedPath")
    }

    val peakRss = Host.peakRssMb()
    val ok = summary.failed == 0 && mismatched.isEmpty && inPass.isEmpty &&
      untraced.passS.nonEmpty && untraced.opS.nonEmpty
    val e2e: Map[String, Double] =
      if (untraced.passS.isEmpty || untraced.opS.isEmpty) Map.empty
      else Map(
        "setup_s" -> setupS,
        "pass_s" -> Accounting.median(untraced.passS),
        "op_p50_s" -> Accounting.quantile(untraced.opS, 0.5),
        "op_p90_s" -> Accounting.quantile(untraced.opS, 0.9),
        "cpu_s" -> Accounting.median(untraced.cpuS))
    val layer: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val tracedSummary = Accounting.summarize(
          units.filter(u => tracedPasses(u.pass)).toSeq)
        val overhead =
          if (tracedSummary.passS.isEmpty || untraced.passS.isEmpty) 0.0
          else Accounting.median(tracedSummary.passS) -
            Accounting.median(untraced.passS)
        val extra = DbtRun.zeroMetrics ++
          wl.extraMetrics(traced = true) ++ Map(
          "codegen.compile_ms" -> codegenMs / tracedPasses.size,
          "codegen.compiles" -> codegenCount / tracedPasses.size,
          "storage.live_rdds" -> ctx.maxLiveRdds.toDouble,
          "storage.cached_mb" -> ctx.maxCachedMb,
          "mem.peak_rss_mb" -> peakRss,
          "host.steal_ms" -> stealMs.toDouble / p,
          "trace.overhead_s" -> overhead)
        val res = Layers.compute(allSpans.toSeq, events, tracedPasses.size, extra)
        writeTrace(ctx, wl.name, res, overhead)
        res.metrics
      }

    val metrics = if (traced) layer else e2e
    val recordDoc = Map(
      "workload" -> wl.name, "seed" -> ctx.seed,
      "commit" -> ctx.args.getOrElse("commit", "unknown"),
      "task_slots" -> ctx.slots,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "warm_up" -> true, "trace" -> traced,
      "data" -> ctx.dataDir,
      "host.steal_ms" -> stealMs, "peak_rss_mb" -> peakRss,
      "setup_s" -> setupS, "timed_s" -> timedS,
      "passes" -> p, "traced_passes" -> tracedPasses.toSeq.sorted,
      "pass_s" -> untraced.passS, "cpu_s" -> untraced.cpuS,
      "op_samples" -> untraced.opS.size,
      "attempted" -> summary.attempted, "failed" -> summary.failed,
      "fail_ratio" -> summary.failRatio,
      "failures" -> (mismatched.toSeq.map(_.toString) ++ summary.failures),
      "workload_metrics" -> wl.extraMetrics(traced = false),
      "metrics" -> metrics)
    val recDir = Paths.get(ctx.workDir, "records")
    Files.createDirectories(recDir)
    mapper.writerWithDefaultPrettyPrinter().writeValue(
      recDir.resolve(s"${wl.name}-seed${ctx.seed}-trace${if (traced) 1 else 0}.json").toFile,
      recordDoc)

    spark.stop()
    val line = Map(
      "correct" -> ok, "attempted" -> summary.attempted,
      "failed" -> summary.failed,
      "metrics" -> scala.collection.immutable.TreeMap(metrics.toSeq.map {
        case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) }: _*))
    Outcome(mapper.writeValueAsString(line), ok, summary, untraced,
      units.toSeq, metrics)
  }

  private def writeTrace(ctx: Ctx, wl: String, res: Layers.Result,
      overhead: Double): Unit = {
    val dir = Paths.get(ctx.workDir, "traces")
    Files.createDirectories(dir)
    val f = dir.resolve(s"$wl-seed${ctx.seed}.json")
    mapper.writerWithDefaultPrettyPrinter().writeValue(f.toFile, Map(
      "workload" -> wl, "seed" -> ctx.seed,
      "tracing_overhead_s" -> overhead,
      "self_times" -> res.selfTimes, "layers" -> res.metrics,
      "executions_by_action" -> res.executions,
      "spans" -> res.spanRows))
    ctx.log(s"trace written to $f")
  }
}
