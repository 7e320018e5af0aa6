package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.materialize.{IcebergTable, IcebergWriter}
import graft.model.{ContractColumn, ModelConfig, ModelNode}
import graft.sync.{SyncConfig, SyncManager, SyncResult}
import graft.telemetry.{Console, Verbosity}
import graft.transpile.SnowflakeSql
import graft.warehouse.Warehouse

/** A day in the life of a dbt project on a fresh warehouse root: one
  * full build of a 7-model DAG, then `increments` incremental runs,
  * each on a batch generated from the seed (the next date window of
  * orders and events plus ~1% updated customers and orders).
  * Every invocation is a new [[GraftSession]] (a new `dbt run`); each is
  * followed by a verified [[SyncManager.syncAll]] of two parquet models to
  * a second warehouse, and the pass ends with [[IcebergWriter.compact]]
  * on the incremental Iceberg models.
  *
  * Sources (`raw.*`) resolve through `sourceFetch` into the session's
  * source cache; SQL models are Snowflake dialect. Batches are named per
  * invocation (`raw.orders_b2`), so they miss the cache while the static
  * dimensions hit it after the first invocation.
  *
  * Checks, all outside the timed interval: after the full build of the
  * warm-up pass every model's fingerprint is compared to the stored one
  * (the base data does not depend on the seed); after the last
  * invocation of each timed pass the incremental models are compared to
  * a reference computed with plain Spark over the base data plus every
  * batch, the snapshot must have exactly one current row per key
  * carrying the latest values, and every synced table must have
  * verified equal row counts. */
final class DbtRun(ctx: Ctx) extends Workload {
  def name = "dbt_run"
  // a pass is as long as the other workloads' whole timed interval
  override def minPasses = 1
  private val schema = "main"
  private val increments = ctx.arg("increments").toInt

  // ------------------------------------------------------------ models

  private final case class Model(name: String, config: ModelConfig,
      refs: Seq[String], sql: Int => String) {
    def kind: String =
      if (config.tableFormat == "iceberg") "iceberg" else config.materialized
  }

  private def inc(strategy: String, key: Seq[String],
      format: String = "parquet") =
    ModelConfig("incremental", uniqueKey = key,
      incrementalStrategy = strategy, tableFormat = format)

  private val models: Seq[Model] = Seq(
    Model("stg_orders", ModelConfig("view"), Nil, k =>
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
        "TO_DATE(o_orderdate) AS order_date, o_orderpriority " +
        s"FROM raw.orders_b$k"),
    Model("dim_customer", ModelConfig("table", contract = Seq(
        ContractColumn("c_custkey", "bigint", notNull = true),
        ContractColumn("c_name", "string"),
        ContractColumn("c_mktsegment", "string"),
        ContractColumn("nation", "string", notNull = true),
        ContractColumn("region", "string"),
        ContractColumn("acctbal", "decimal(12,2)"))),
      Nil, k =>
      "SELECT c.c_custkey, c.c_name, c.c_mktsegment, n.n_name AS nation, " +
        "r.r_name AS region, CAST(c.c_acctbal AS DECIMAL(12,2)) AS acctbal " +
        s"FROM raw.customer_v$k c JOIN raw.nation n ON c.c_nationkey = n.n_nationkey " +
        "JOIN raw.region r ON n.n_regionkey = r.r_regionkey"),
    Model("fct_orders", inc("merge", Seq("o_orderkey")), Seq("stg_orders"),
      _ => "SELECT * FROM stg_orders"),
    Model("fct_orders_ice", inc("merge", Seq("o_orderkey"), "iceberg"),
      Seq("stg_orders"), _ => "SELECT * FROM stg_orders"),
    Model("fct_events", inc("append", Nil), Nil, k =>
      "SELECT event_id, user_id, event_type, value, " +
        "TO_DATE(ts) AS event_date, props:k::int AS k " +
        s"FROM raw.events_b$k"),
    Model("agg_events_daily",
      inc("delete+insert", Seq("event_date", "event_type"), "iceberg"),
      Seq("fct_events"), k =>
      "SELECT event_date, event_type, COUNT(*) AS events, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(24,2)) AS total_value " +
        "FROM fct_events " +
        "WHERE event_date IN " +
        s"(SELECT DISTINCT TO_DATE(ts) FROM raw.events_b$k) " +
        "GROUP BY event_date, event_type"),
    Model("snap_customers", ModelConfig("snapshot", uniqueKey = Seq("c_custkey"),
        snapshotCheckCols = Seq("c_acctbal", "c_mktsegment")),
      Nil, k => "SELECT c_custkey, c_name, c_nationkey, c_acctbal, " +
        s"c_mktsegment FROM raw.customer_v$k")
  )
  private val byName = models.map(m => m.name -> m).toMap
  private val synced = Seq("dim_customer", "fct_orders")
  private val compacted = models.filter(m =>
    m.kind == "iceberg" && m.config.materialized == "incremental").map(_.name)

  // ------------------------------------------------------------ inputs

  /** Raw inputs of invocation k: k = 0 is the base data, k >= 1 the
    * batch generated for this run's seed (`gendata.py batches`). */
  private object inputs {
    private val base = Map("nation" -> "nation", "region" -> "region",
      "customer_v0" -> "customer", "orders_b0" -> "orders",
      "events_b0" -> "events")
    def path(t: String): String = base.get(t) match {
      case Some(b) => s"${ctx.dataDir}/$b.parquet"
      case None => s"${ctx.arg("batches")}/$t.parquet"
    }
    def read(spark: SparkSession, t: String): DataFrame =
      spark.read.parquet(path(t))
    def batchBytes(k: Int): Long =
      Seq(s"customer_v$k", s"orders_b$k", s"events_b$k")
        .map(t => Host.bytesUnder(path(t))).sum
  }

  // --------------------------------------------------------- one pass

  private final class PassState(val root: String) {
    val wh = s"$root/wh"
    val twin = s"$root/twin"
    var fetches = 0
    var sourceRefs = 0
    val units = mutable.ArrayBuffer[Timed]()
    var bytesWritten = 0L
    var filesWritten = 0L
    var incWritten = 0L
    var incInput = 0L
    var syncRows = 0L
    var syncRetries = 0
    var syncFailures = 0
  }

  private val failures = mutable.Map[(Int, String), String]()
  private val observedFp = mutable.Map[String, Either[String, Fingerprint.Value]]()
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var lastWarehouseMb = 0.0

  override def passFailures: Map[(Int, String), String] = failures.toMap

  private def readModel(spark: SparkSession, wh: Warehouse,
      name: String): DataFrame =
    if (byName(name).kind == "iceberg")
      IcebergTable.read(spark, wh.tablePath(schema, name))
    else wh.read(schema, name)

  private def now(k: Int): Column =
    lit(java.sql.Timestamp.valueOf(s"2024-02-0${k + 1} 00:00:00"))

  /** One `dbt run`: a new GraftSession over the warehouse root. */
  private def invoke(spark: SparkSession, st: PassState, k: Int,
      p: Int, tracer: Tracer): Unit = {
    var done = 0
    val console = new Console(Verbosity.Normal, line => {
      val t = line.trim
      if (t.startsWith("+ Cached ")) tracer.close("cache.fetch")
      else if (t.startsWith("+ ") && tracer.isOpen("model")) {
        tracer.close("model")
        done += 1
        if (done == models.size) tracer.open("ledger")
      }
    })
    val before = if (tracer.enabled) Host.files(st.root) else Map.empty[String, (Long, Long)]
    // a `dbt run`'s wall: session construction, the run, the ledger
    val c0 = Host.cpuNs(); val t0 = System.nanoTime()
    val gs = new GraftSession(spark, st.wh, targetSchema = schema,
      sourceFetch = (s, t) =>
        if (s != "raw" || !new java.io.File(inputs.path(t)).exists()) None
        else {
          st.fetches += 1
          tracer.open("cache.fetch")
          Some(inputs.read(spark, t))
        },
      console = console)
    val nodes = models.map { m =>
      ModelNode(m.name, m.config, m.refs.map(r => s"model.graft.$r")) { s =>
        tracer.close("route")
        val df = tracer.span("model.build") {
          m.refs.foreach(r => readModel(s, gs.warehouse, r)
            .createOrReplaceTempView(r))
          gs.sql(m.sql(k))
        }
        tracer.open(s"materialize.${m.kind}")
        df
      }
    }
    st.sourceRefs += models.flatMap(m =>
      "raw\\.(\\w+)".r.findAllMatchIn(m.sql(k)).map(_.group(1))).distinct.size
    val sqlOf: ModelNode => String = n => {
      tracer.open("model", n.name)
      tracer.open("route")
      byName(n.name).sql(k)
    }
    val results = try {
      tracer.span("run", s"invocation$k") {
        try gs.run(nodes, now = now(k), sqlOf = sqlOf)
        finally tracer.close("ledger")
      }
    } catch { case e: Throwable =>
      st.units += Timed(p, s"invocation$k", 0, 0, latency = false,
        wall = true, counted = false, ok = false, error = e.getMessage)
      Nil
    }
    if (results.nonEmpty)
      st.units += Timed(p, s"invocation$k", (System.nanoTime() - t0) / 1e9,
        Host.cpuNs() - c0, latency = false, wall = true, counted = false,
        ok = true)
    val okNames = results.map(_.name).toSet
    results.foreach(r => st.units += Timed(p, r.name, r.durationSeconds, 0L,
      latency = true, wall = false, counted = true, ok = true))
    models.filterNot(m => okNames(m.name)).foreach(m => st.units +=
      Timed(p, m.name, 0, 0, latency = true, wall = false, counted = true,
        ok = false, error = "model did not complete"))

    // verified sync to the twin warehouse
    val twin = new Warehouse(spark, st.twin)
    val sync = new SyncManager(SyncConfig(backoffMillis = 100))
    val s0 = Host.cpuNs(); val ts0 = System.nanoTime()
    val syncResults = try tracer.span("sync") {
      sync.syncAll(gs.warehouse, twin, schema,
        nodes.filter(n => synced.contains(n.name)))
    } catch { case e: Throwable =>
      Seq(SyncResult("sync", "failed", 1, -1, -1, Some(e.getMessage)))
    }
    val syncOk = syncResults.size == synced.size && syncResults.forall(r =>
      r.status == "synced" && r.sourceRows == r.targetRows)
    st.units += Timed(p, s"sync$k", (System.nanoTime() - ts0) / 1e9,
      Host.cpuNs() - s0, latency = false, wall = true, counted = false,
      ok = syncOk)
    syncResults.foreach { r =>
      st.units += Timed(p, s"sync:${r.table}", 0, 0, latency = false,
        wall = false, counted = true,
        ok = r.status == "synced" && r.sourceRows == r.targetRows,
        error = r.error.getOrElse(""))
      if (r.status == "synced") st.syncRows += r.sourceRows
      st.syncRetries += r.attempts - 1
      if (r.status != "synced") st.syncFailures += 1
    }
    synced.filterNot(m => syncResults.exists(_.table == m)).foreach(m =>
      st.units += Timed(p, s"sync:$m", 0, 0, latency = false, wall = false,
        counted = true, ok = false, error = "not synced"))

    if (tracer.enabled) {
      val after = Host.files(st.root)
      val written = after.filter { case (f, v) => !before.get(f).contains(v) }
        .filterNot(_._1.contains("/_graft/cache/"))
      val bytes = written.values.map(_._1).sum
      st.bytesWritten += bytes
      st.filesWritten += written.size
      if (k > 0) { st.incWritten += bytes; st.incInput += inputs.batchBytes(k) }
      // the transpiler on every model text of this invocation
      models.foreach(m => tracer.span("transpile", m.name) {
        SnowflakeSql.transpile(m.sql(k))
      })
    }

    // seed-independent check: every model after the full build
    if (k == 0 && p < 0)
      models.foreach { m =>
        observedFp(m.name) =
          try Right(Fingerprint.of(readModel(spark, gs.warehouse, m.name)))
          catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }
      }
    if (k == increments && p >= 0)
      finalChecks(spark, gs.warehouse, twin, p)
  }

  private def compact(spark: SparkSession, st: PassState, p: Int,
      tracer: Tracer): Unit = {
    val wh = new Warehouse(spark, st.wh)
    compacted.foreach { m =>
      val c0 = Host.cpuNs(); val t0 = System.nanoTime()
      val err = try {
        tracer.span("compact", m) {
          IcebergWriter.compact(spark, wh.tablePath(schema, m))
        }
        ""
      } catch { case e: Throwable => String.valueOf(e.getMessage) }
      st.units += Timed(p, s"compact:$m", (System.nanoTime() - t0) / 1e9,
        Host.cpuNs() - c0, latency = false, wall = true, counted = true,
        ok = err.isEmpty, error = err)
    }
  }

  private def passRoot(p: Int) = s"${ctx.workDir}/dbt/pass$p"

  /** A new deployment: a fresh warehouse root, and no source registered
    * by the previous pass (whose files go now, outside any timing). */
  private def runPass(spark: SparkSession, p: Int,
      tracer: Tracer): PassState = {
    spark.sql("DROP DATABASE IF EXISTS raw CASCADE")
    Host.deleteTree(passRoot(p - 1))
    val st = new PassState(passRoot(p))
    (0 to increments).foreach(k => invoke(spark, st, k, p, tracer))
    compact(spark, st, p, tracer)
    st
  }

  // ----------------------------------------------------- the workload

  /** One untimed pass: the warm-up, and the run's check of the full
    * build (pass -1). The final-state checks run on every timed pass. */
  def setup(spark: SparkSession): Unit =
    runPass(spark, -1, new Tracer(false))

  def observed: Map[String, Either[String, Fingerprint.Value]] =
    observedFp.toMap

  def pass(spark: SparkSession, p: Int, tracer: Tracer): Seq[Timed] = {
    val st = runPass(spark, p, tracer)
    // the transpiler on the project's Snowflake corpus as well
    if (tracer.enabled) graft.queries.SqlCorpus.cases.foreach(c =>
      tracer.span("transpile", "q_sql_corpus") { SnowflakeSql.transpile(c.sf) })
    lastWarehouseMb = (Host.bytesUnder(st.wh) + Host.bytesUnder(st.twin)) / 1048576.0
    if (tracer.enabled) {
      val meta = compacted.flatMap(m => Host.files(s"${st.wh}/$schema/$m/metadata").keys)
      Seq(
        "warehouse.bytes_written_mb" -> st.bytesWritten / 1048576.0,
        "warehouse.files_written" -> st.filesWritten.toDouble,
        "warehouse.write_amp" ->
          (if (st.incInput == 0) 0.0 else st.incWritten.toDouble / st.incInput),
        "warehouse.mb" -> lastWarehouseMb,
        "iceberg.commits" -> meta.count(_.endsWith(".metadata.json")).toDouble,
        "iceberg.metadata_files" -> meta.size.toDouble,
        "cache.misses" -> st.fetches.toDouble,
        "cache.hits" -> (st.sourceRefs - st.fetches).toDouble,
        "sync.rows_verified" -> st.syncRows.toDouble,
        "sync.retries" -> st.syncRetries.toDouble,
        "sync.failures" -> st.syncFailures.toDouble,
        "telemetry.ledger_kb" ->
          Host.bytesUnder(s"${st.wh}/_graft/run_summary.json") / 1024.0
      ).foreach { case (k, v) => counters(k) += v }
      counters("traced_passes") += 1
    }
    st.units.toSeq
  }

  override def extraMetrics(traced: Boolean): Map[String, Double] =
    if (!traced) Map("warehouse_mb" -> lastWarehouseMb)
    else {
      val n = math.max(1.0, counters("traced_passes"))
      val m = DbtRun.zeroMetrics.keys.map(k => k -> counters(k) / n).toMap
      val refs = m("cache.hits") + m("cache.misses")
      m + ("cache.hit_ratio" -> (if (refs == 0) 0.0 else m("cache.hits") / refs))
    }

  // --------------------------------------------------------- checks

  private def finalChecks(spark: SparkSession, wh: Warehouse, twin: Warehouse,
      p: Int): Unit = {
    def fail(model: String, why: String): Unit = failures((p, model)) = why
    def same(model: String, actual: => DataFrame, expected: DataFrame): Unit =
      try {
        val a = Fingerprint.of(actual); val e = Fingerprint.of(expected)
        if (a != e) fail(model, s"fingerprint $a, reference $e")
      } catch { case e: Throwable => fail(model, s"check failed: ${e.getMessage}") }
    val ks = 0 to increments
    def all(t: Int => String) =
      ks.map(k => inputs.read(spark, t(k)).withColumn("_batch", lit(k)))
        .reduce(_ unionByName _)
    val orders = all(k => s"orders_b$k")
    val latest = orders.withColumn("_rn", row_number().over(
        Window.partitionBy("o_orderkey").orderBy(col("_batch").desc)))
      .filter(col("_rn") === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), to_date(col("o_orderdate")).as("order_date"),
        col("o_orderpriority"))
    same("fct_orders", readModel(spark, wh, "fct_orders"), latest)
    same("fct_orders_ice", readModel(spark, wh, "fct_orders_ice"), latest)
    val events = all(k => s"events_b$k").select(col("event_id"),
      col("user_id"), col("event_type"), col("value"),
      to_date(col("ts")).as("event_date"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))
    same("fct_events", readModel(spark, wh, "fct_events"), events)
    same("agg_events_daily", readModel(spark, wh, "agg_events_daily"),
      events.groupBy("event_date", "event_type").agg(
        count(lit(1)).as("events"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(24,2)")
          .as("total_value")))
    // snapshot: one current row per key, carrying the latest values
    try {
      val snap = readModel(spark, wh, "snap_customers")
      val cur = snap.filter(col("dbt_valid_to").isNull)
      val stats = cur.agg(count(lit(1)), countDistinct("c_custkey")).head()
      val last = inputs.read(spark, s"customer_v$increments")
      val n = last.count()
      if (stats.getLong(0) != n || stats.getLong(1) != n)
        fail("snap_customers", s"${stats.getLong(0)} current rows for " +
          s"${stats.getLong(1)} keys, expected $n")
      else same("snap_customers",
        cur.select("c_custkey", "c_acctbal", "c_mktsegment"),
        last.select("c_custkey", "c_acctbal", "c_mktsegment"))
    } catch { case e: Throwable => fail("snap_customers", String.valueOf(e.getMessage)) }
    // every synced mart: the twin holds exactly the source rows
    synced.foreach { m =>
      try {
        val (a, b) = (wh.rowCount(schema, m), twin.rowCount(schema, m))
        if (a != b) fail(s"sync:$m", s"source $a rows, twin $b rows")
      } catch { case e: Throwable => fail(s"sync:$m", String.valueOf(e.getMessage)) }
    }
  }
}

object DbtRun {
  /** Per-layer counters only dbt_run moves (0 on the other workloads). */
  val zeroMetrics: Map[String, Double] = Seq(
    "warehouse.bytes_written_mb", "warehouse.files_written",
    "warehouse.write_amp", "warehouse.mb", "iceberg.commits",
    "iceberg.metadata_files", "cache.misses", "cache.hits",
    "cache.hit_ratio", "sync.rows_verified", "sync.retries",
    "sync.failures", "telemetry.ledger_kb").map(_ -> 0.0).toMap
}
