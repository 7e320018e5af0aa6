package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Failure accounting self-test: a three-operation workload run through
  * the real pass loop and accounting, where one operation throws and one
  * returns a wrong result (its output differs from the stored
  * fingerprint by one row). Both must count as failed in every pass,
  * and neither may add a sample to the latency percentiles or a second
  * to `pass_s`. Exit code 0 = pass. */
object SelfTest {
  private def good(s: SparkSession): DataFrame =
    s.range(20000).select((col("id") % 13).as("k")).groupBy("k").count()

  def run(ctx: Ctx): Int = {
    val fns: Map[String, (SparkSession, String) => DataFrame] = Map(
      "good" -> ((s, _) => good(s)),
      "throws" -> ((_, _) => throw new IllegalStateException("injected")),
      "wrong" -> ((s, _) => good(s).filter(col("k") =!= 5)))
    val wl = new QueryWorkload("selftest", Seq("good", "throws", "wrong"),
      ctx, fns)
    // the expected fingerprints: "wrong" should have produced good's rows
    val spark = Main.newSession(ctx)
    val right = Fingerprint.of(good(spark)).toString
    val expected = Map("good" -> right, "wrong" -> right)
    val o = Main.execute(ctx, wl, Some(expected))
    val passes = o.units.map(_.pass).distinct.size
    val goodUnits = o.units.filter(_.name == "good")
    val perPass = goodUnits.groupBy(_.pass).map { case (p, us) =>
      p -> us.map(_.seconds).sum }
    val checks = Seq(
      "every operation is attempted in every pass" ->
        (o.summary.attempted == 3 * passes),
      "the throw and the wrong result fail in every pass" ->
        (o.summary.failed == 2 * passes),
      "fail_ratio is 2/3" -> (math.abs(o.summary.failRatio - 2.0 / 3) < 1e-9),
      "only the good operation gives latency samples" ->
        (o.summary.opS.sorted == goodUnits.map(_.seconds).sorted),
      "pass_s is the good operation's wall alone" ->
        (o.summary.passS.sorted == perPass.values.toSeq.sorted),
      "the result line says not correct" -> !o.ok)
    checks.foreach { case (what, ok) =>
      println(s"${if (ok) "ok  " else "FAIL"} $what") }
    println(s"passes=$passes attempted=${o.summary.attempted} " +
      s"failed=${o.summary.failed} samples=${o.summary.opS.size}")
    if (checks.forall(_._2)) 0 else 1
  }
}
