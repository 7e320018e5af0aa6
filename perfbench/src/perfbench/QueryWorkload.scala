package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** The two inventory workloads: entries of `SparkEntry.queries`, each
  * run as one operation = DataFrame construction (`op.build`, where the
  * iterative operators run their eager jobs) plus a noop write
  * (`op.write`, which materializes every output column). */
final class QueryWorkload(val name: String, opNames: Seq[String],
    ctx: Ctx,
    fns: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries)
    extends Workload {

  private val ops = opNames
  require(ops.forall(fns.contains), s"$name: unknown entries " +
    ops.filterNot(fns.contains).mkString(", "))

  private var fingerprints = Map.empty[String, Either[String, Fingerprint.Value]]
  def observed: Map[String, Either[String, Fingerprint.Value]] = fingerprints

  /** Register the tables, then every operation once, fingerprinted:
    * the warm-up (JIT, Janino, footers) and the output check in one. */
  def setup(spark: SparkSession): Unit = {
    Tables.registerAll(spark, ctx.dataDir)
    fingerprints = ops.map { n =>
      n -> (try Right(Fingerprint.of(fns(n)(spark, ctx.dataDir)))
      catch { case e: Throwable => Left(String.valueOf(e.getMessage)) })
    }.toMap
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def pass(spark: SparkSession, p: Int, tracer: Tracer): Seq[Timed] = {
    val order = new scala.util.Random(ctx.seed * 7919L + p).shuffle(ops)
    order.map { n =>
      val c0 = Host.cpuNs(); val t0 = System.nanoTime()
      val err = try {
        tracer.span("op", n) {
          val df = tracer.span("op.build") { fns(n)(spark, ctx.dataDir) }
          tracer.span("op.write") { noop(df) }
        }
        ""
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      val t = Timed.op(p, n, (System.nanoTime() - t0) / 1e9,
        Host.cpuNs() - c0, ok = err.isEmpty, error = err)
      if (tracer.enabled) ctx.sampleStorage(spark)
      t
    }
  }
}
