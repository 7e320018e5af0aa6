package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark's own code: a call into a layer
  * (`op` → `op.build` / `op.write`; dbt's `run` → `model` → `route` /
  * `model.build` / `materialize.<kind>`, then `sync`, `compact`,
  * `ledger`). Times are wall-clock millis (to line up with Spark's event
  * times) plus nanos (for durations). */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: String, val pass: Int, val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Disabled, every call is a no-op that runs its body, so
  * untimed-path code can call it unconditionally. Spans nest by a
  * stack: the benchmark runs one operation at a time on one thread. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  var pass = -1

  def open(name: String, op: String = ""): Option[Span] =
    if (!enabled) None
    else {
      val s = new Span(Tracer.ids.getAndIncrement(), name,
        stack.headOption.map(_.id).getOrElse(-1),
        if (op.nonEmpty) op else stack.headOption.map(_.op).getOrElse(""),
        pass, System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      Some(s)
    }

  /** Close the innermost open span named `name` and any span still open
    * inside it (a throw can leave children open). */
  def close(name: String): Unit =
    if (enabled && stack.exists(_.name == name)) {
      val now = System.currentTimeMillis(); val nowNs = System.nanoTime()
      var done = false
      while (!done) {
        val s = stack.head
        s.endMs = now; s.endNs = nowNs
        stack = stack.tail
        done = s.name == name
      }
    }

  def isOpen(name: String): Boolean = stack.exists(_.name == name)

  def span[T](name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      open(name, op)
      try body finally close(name)
    }
}

object Tracer {
  /** Span ids are unique across the tracers of one run. */
  private[perfbench] val ids = new java.util.concurrent.atomic.AtomicInteger()
}

/** Raw Spark events, collected in memory by a [[SparkListener]] and a
  * [[QueryExecutionListener]] that exist only in traced passes. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long,
      stages: Seq[Int])
  final class StageAgg {
    var submittedMs = -1L
    var tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, queueMs = 0L
    var inputBytes, shuffleWrite, shuffleRead, spill, output = 0L
  }
  final case class Exec(func: String, endMs: Long, durNs: Long,
      phases: Map[String, Long], failed: Boolean)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.HashMap[Int, StageAgg]()
  val execs = mutable.ArrayBuffer[Exec]()

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stage(e.stageInfo.stageId).submittedMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (!e.taskInfo.successful) s.failedTasks += 1
    if (s.submittedMs > 0)
      s.queueMs += math.max(0L, e.taskInfo.launchTime - s.submittedMs)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.output += m.outputMetrics.bytesWritten
    }
  }

  private def record(func: String, qe: QueryExecution, durNs: Long,
      failed: Boolean): Unit = synchronized {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    execs += Exec(func, System.currentTimeMillis(), durNs, phases, failed)
  }
  override def onSuccess(func: String, qe: QueryExecution, durNs: Long): Unit =
    record(func, qe, durNs, failed = false)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe, 0L, failed = true)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Turns spans plus Spark events into the per-layer metrics and the
  * per-span self times. Spark jobs are attributed to the innermost span
  * open at the job's start; task metrics follow their job's stages. */
object Layers {
  /** QueryExecutionListener action names of writes: V1 `save` /
    * `saveAsTable` / `insertInto`, and V2 writes (the noop sink), which
    * report their save mode. */
  val writeFuncs = Set("save", "saveAsTable", "insertInto", "command",
    "overwrite", "append", "errorifexists", "ignore")

  final case class Result(metrics: Map[String, Double],
      selfTimes: Seq[Map[String, Any]], spanRows: Seq[Map[String, Any]],
      executions: Map[String, Int])

  def compute(spans: Seq[Span], ev: SparkEvents, passes: Int,
      extra: Map[String, Double]): Result = {
    val closed = spans.filter(_.endMs >= 0)
    val byId = closed.map(s => s.id -> s).toMap
    def chain(s: Span): List[Span] =
      s :: byId.get(s.parent).map(chain).getOrElse(Nil)
    val byStart = closed.sortBy(_.startMs)
    // innermost span containing t: the latest-starting span whose
    // interval holds t (spans nest, so this is the deepest one)
    def spanAt(t: Long): Option[Span] =
      byStart.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => (s.startMs, chain(s).size)).lastOption

    val jobs = ev.jobs.values.toSeq
    val jobSpan: Map[Int, Option[Span]] =
      jobs.map(j => j.id -> spanAt(j.startMs)).toMap
    def jobsUnder(names: String => Boolean): Seq[ev.Job] =
      jobs.filter(j => jobSpan(j.id).exists(s => chain(s).exists(c =>
        names(c.name))))
    def stageAggs(js: Seq[ev.Job]) =
      js.flatMap(_.stages).distinct.flatMap(ev.stages.get)
    val traced = jobsUnder(_ => true)
    val st = stageAggs(traced)
    val p = math.max(1, passes).toDouble
    def total(names: String => Boolean): Double =
      closed.filter(s => names(s.name)).map(_.ms).sum / p
    def count(names: String => Boolean): Double =
      closed.count(s => names(s.name)) / p

    // op wall not covered by any running job
    val opSpans = closed.filter(s => s.name == "op" || s.name == "model")
    val gapMs = opSpans.map { s =>
      val iv = jobs.filter(j => j.endMs >= s.startMs && j.startMs <= s.endMs)
        .map(j => (math.max(j.startMs, s.startMs), math.min(
          if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
        .sortBy(_._1)
      var covered = 0L; var cur = Long.MinValue
      iv.foreach { case (a, b) =>
        val a1 = math.max(a, cur)
        if (b > a1) { covered += b - a1; cur = b }
      }
      math.max(0.0, s.ms - covered)
    }.sum / p

    val tracedExecs = ev.execs.toSeq.filter(e => spanAt(e.endMs).isDefined)
    val writes = tracedExecs.filter(e => writeFuncs(e.func) && !e.failed)
    val writeJobs = jobs.count(j => writes.exists(w =>
      j.startMs >= w.endMs - w.durNs / 1000000 - 1 && j.startMs <= w.endMs))
    def phase(k: String) = tracedExecs.map(_.phases.getOrElse(k, 0L)).sum / p
    val mb = 1024.0 * 1024.0

    // self time per span: its wall minus its child spans
    val childMs = closed.groupBy(_.parent).map { case (k, v) =>
      k -> v.map(_.ms).sum }
    def selfMs(name: String): Double = closed.filter(_.name == name)
      .map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum / p

    val metrics = Map(
      "ops.build_ms" -> total(_ == "op.build"),
      "ops.build_jobs" -> jobsUnder(_ == "op.build").size / p,
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "catalyst.executions" -> tracedExecs.size / p,
      "spark.jobs" -> traced.size / p,
      "spark.stages" -> st.size / p,
      "spark.tasks" -> st.map(_.tasks).sum / p,
      "spark.job_ms" -> traced.filter(_.endMs >= 0)
        .map(j => j.endMs - j.startMs).sum / p,
      "spark.driver_gap_ms" -> gapMs,
      "spark.task_queue_ms" -> st.map(_.queueMs).sum / p,
      "spark.executor_run_ms" -> st.map(_.runMs).sum / p,
      "spark.executor_cpu_ms" -> st.map(_.cpuNs).sum / 1e6 / p,
      "spark.gc_ms" -> st.map(_.gcMs).sum / p,
      "spark.failed_tasks" -> st.map(_.failedTasks).sum / p,
      "spark.input_bytes" -> st.map(_.inputBytes).sum / p,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum / p,
      "spark.shuffle_read_bytes" -> st.map(_.shuffleRead).sum / p,
      "spark.spill_bytes" -> st.map(_.spill).sum / p,
      "spark.output_bytes" -> st.map(_.output).sum / p,
      "spark.write_ms" -> writes.map(_.durNs / 1e6).sum / p,
      "spark.write_jobs" -> writeJobs / p,
      "transpile.ms" -> total(_ == "transpile"),
      "transpile.calls" -> count(_ == "transpile"),
      "planner.route_ms" -> total(_ == "route"),
      "model.build_ms" -> total(_ == "model.build"),
      "model.build_jobs" -> jobsUnder(_ == "model.build").size / p,
      "materialize.view_ms" -> total(_ == "materialize.view"),
      "materialize.table_ms" -> total(_ == "materialize.table"),
      "materialize.incremental_ms" -> total(_ == "materialize.incremental"),
      "materialize.snapshot_ms" -> total(_ == "materialize.snapshot"),
      "materialize.iceberg_ms" -> total(_ == "materialize.iceberg"),
      "iceberg.compact_ms" -> total(_ == "compact"),
      "cache.fetch_ms" -> total(_ == "cache.fetch"),
      "sync.ms" -> total(_ == "sync"),
      "telemetry.ledger_ms" -> total(_ == "ledger"),
      "self.op_ms" -> selfMs("op"),
      "self.run_ms" -> selfMs("run"),
      "self.model_ms" -> selfMs("model"),
      "self.model.build_ms" -> selfMs("model.build")
    ) ++ extra

    val self = closed.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      Map[String, Any]("span" -> n, "count" -> ss.size,
        "total_ms" -> ss.map(_.ms).sum,
        "self_ms" -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum)
    }
    val jobsBySpan = jobs.groupBy(j => jobSpan(j.id).map(_.id).getOrElse(-1))
    val rows = closed.map { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil)
      val sa = stageAggs(js)
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "pass" -> s.pass, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "ms" -> s.ms,
        "self_ms" -> (s.ms - childMs.getOrElse(s.id, 0.0)),
        "jobs" -> js.size, "tasks" -> sa.map(_.tasks).sum,
        "executor_cpu_ms" -> sa.map(_.cpuNs).sum / 1e6)
    }
    Result(metrics, self, rows,
      tracedExecs.groupBy(_.func).map { case (k, v) => k -> v.size })
  }
}
