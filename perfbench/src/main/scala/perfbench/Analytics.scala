package perfbench

import org.apache.spark.sql.SparkSession

/** The analytics workload: in each pass the data engineer's medallion
  * pipeline (bronze JSON to silver, gold and SQL reports) runs first, then
  * the analysts' and curation users' SparkEntry queries. Nothing writes a
  * transactional table, so tx changes must not move it.
  */
final class Analytics(opts: Map[String, String]) extends Workload {
  private val f1 = new F1Medallion(opts)
  private val mix = new QueryMix(opts)

  def register(spark: SparkSession): Unit = {
    f1.register(spark)
    mix.register(spark)
  }

  def pass(ctx: Ctx): Unit = {
    f1.pass(ctx)
    mix.pass(ctx)
  }

  override def check(ctx: Ctx): Unit = {
    f1.check(ctx)
    mix.check(ctx)
  }

  override def finish(ctx: Ctx): Unit = {
    f1.finish(ctx)
    mix.finish(ctx)
  }

  override def layers(ctx: Ctx, perSpan: Map[Int, Counters]): Map[String, Double] =
    f1.layers(ctx, perSpan) ++ mix.layers(ctx, perSpan)

  override def extra(ctx: Ctx): Map[String, Any] = f1.extra(ctx) ++ mix.extra(ctx)
}
