package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{TxChangeFeed, TxTable}

/** A seeded verb sequence over one transactional table. Each round
  * appends, merges, deletes (merge-on-read) and updates, then runs
  * optimize or compactSmall in turn; the run ends with vacuum. After each
  * verb one pruned range read and one bloom IN lookup run; at the end of
  * each round a change-feed consumer polls once and applies the round's
  * versions to its silver table. One pass is one round; a run times two.
  *
  * Freshness is taken per version as its verb's latency plus the latency
  * of the poll that applied it, so it leaves out the time the version
  * waits for the rest of the round's verbs and reads. (A poll after every
  * verb would measure freshness directly, but adds about eight seconds to
  * a run, which the benchmark's time budget lacks.)
  */
final class TxChurn(opts: Map[String, String]) extends Workload {
  private val in = opts("inputs")
  private val bronze = s"${opts("work")}/tables/bronze"
  private val silver = s"${opts("work")}/tables/silver"
  private val plan: JsonNode = new ObjectMapper().readTree(Paths.get(in, "plan.json").toFile)
    .get("rounds")
  private var round = 0
  private var step = 0
  private var prevHead = -1L

  /** Per-verb records for the result file and the DuckDB replay. */
  private val verbs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val snapshotS = mutable.ArrayBuffer.empty[Double]
  private val filesAdded = mutable.ArrayBuffer.empty[Double]
  private val writtenB = mutable.ArrayBuffer.empty[Double]
  private val versionsPerPoll = mutable.ArrayBuffer.empty[Double]
  private val scanned = mutable.ArrayBuffer.empty[(Int, Int, Int, Long, Long)] // scanned, useful, total, rows scanned, rows returned
  private var timedWritten = 0L
  private var timedUser = 0L
  private var final_ = Map.empty[String, Any]

  def register(spark: SparkSession): Unit =
    spark.read.parquet(s"$in/base.parquet").createOrReplaceTempView("tx_base")

  override def hasMore(ctx: Ctx): Boolean = round < plan.size

  /** Two rounds, so the op median and tail pool 32 latencies, not 16. */
  override def passes: Int = 2

  private def src(kind: String, r: Int): DataFrame =
    SparkSession.active.read.parquet(f"$in/$kind/$r%05d.parquet")

  private def bytesUnder(root: String): Long =
    if (!Files.exists(Paths.get(root))) 0L
    else Files.walk(Paths.get(root)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum

  private val commitOpts = (df: DataFrame, mode: TxTable.Mode, s: SparkSession) =>
    TxTable.commit(s, bronze, df, mode, clusterBy = Some("k"), statsCols = Seq("qty"),
      bloomCols = Seq("sku"), sumCols = Seq("qty"))

  private def fold(feed: DataFrame): DataFrame = {
    val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L).otherwise(-1L)
    feed.select(col("grp"), sign.as("sg"), col("qty"), col("price"))
      .groupBy("grp")
      .agg(sum(col("sg")).as("n"), sum(col("qty") * col("sg")).as("qty"),
        sum((col("price").cast(DecimalType(18, 2)) * col("sg")).cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("price"))
  }

  private def txRow(r: Row): String =
    Seq(r.getAs[Long]("k"), r.getAs[Long]("grp"), r.getAs[Long]("qty"),
      r.getAs[java.math.BigDecimal]("price").setScale(2).toPlainString,
      r.getAs[String]("sku"), r.getAs[String]("flag")).mkString("|")

  /** Files the executed scans planned, after pruning: the scan's
    * `FileScanRDD` partitions (a scan's numFiles metric reads 0 on the driver).
    */
  private def scannedFiles(df: DataFrame): Seq[String] = {
    object H extends AdaptiveSparkPlanHelper
    H.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .flatMap(_.inputRDDs().collect { case r: FileScanRDD => r })
      .flatMap(_.filePartitions.flatMap(_.files.map(_.filePath.toString)))
      .filter(_.contains("/data/")).distinct
  }

  /** One verb, then the poll and the two reads that follow every verb. */
  private def verb(ctx: Ctx, name: String, r: Int)(f: SparkSession => Long): Unit = {
    val spark = ctx.spark
    val before = ctx.harness(bytesUnder(bronze))
    ctx.op("verb", name, "tx")(f(spark))
    val verbS = ctx.ops.last.latS
    step += 1
    verbs += Map("kind" -> name, "round" -> r, "step" -> (step - 1))
    val snap = ctx.harness {
      val s0 = System.nanoTime()
      val s = TxTable.currentSnapshot(bronze).get
      snapshotS += (System.nanoTime() - s0) / 1e9
      val written = bytesUnder(bronze) - before
      writtenB += written
      if (ctx.pass > 0) timedWritten += written
      s
    }
    if (snap.version > pending.lastOption.map(_._1).getOrElse(prevHead))
      pending += ((snap.version, verbS))
    val p = plan.get(math.max(r, 0)).get("read")
    val (lo, hi) = (p.get("lo").asLong, p.get("hi").asLong)
    val skus = plan.get(math.max(r, 0)).get("skus").elements().asScala.map(_.asText).toSeq
    val range = spark.read.format("tx").load(bronze).filter(col("k") >= lo && col("k") < hi)
    val rangeRows = ctx.op("read", "range", "src")(range.collect())
    val lookup = spark.read.format("tx").load(bronze).filter(col("sku").isin(skus: _*))
    val lookupRows = ctx.op("lookup", "bloom_in", "src")(lookup.collect())
    ctx.harness {
      def account(df: DataFrame, rows: Array[Row], useful: String => Boolean): Unit = {
        val files = scannedFiles(df).map(f => f.substring(f.indexOf("/data/") + 1))
        val rowsScanned = files.map(f => snap.rowCounts.getOrElse(f, 0L)).sum
        scanned += ((files.size, files.count(useful), snap.files.size, rowsScanned, rows.length.toLong))
      }
      val keys = rangeRows.map(_.map(_.getAs[Long]("k").toDouble)).getOrElse(Array.empty[Double])
      rangeRows.foreach(rows => account(range, rows, f =>
        snap.stats.getOrElse(f, Nil).find(_._1 == "k")
          .forall { case (_, mn, mx, _) => keys.exists(k => k >= mn && k <= mx) }))
      lookupRows.foreach(rows => account(lookup, rows, _ => true))
      filesAdded += snap.files.count(f => !lastFiles.contains(f)).toDouble
      lastFiles = snap.files.toSet
      reads += Map("step" -> (step - 1), "lo" -> lo, "hi" -> hi, "skus" -> skus,
        "range_fp" -> rangeRows.map(rs => Main.fingerprint(rs.map(txRow))).getOrElse("failed"),
        "bloom_fp" -> lookupRows.map(rs => Main.fingerprint(rs.map(txRow))).getOrElse("failed"))
    }
  }
  private var lastFiles = Set.empty[String]
  /** Versions not yet applied by the consumer, with their verb's latency. */
  private val pending = mutable.ArrayBuffer.empty[(Long, Double)]
  private val lags = mutable.ArrayBuffer.empty[(Int, Double)] // (pass, seconds)

  /** The consumer's poll: freshness is measured for every version it applies. */
  private def poll(ctx: Ctx): Unit = {
    val applied = ctx.op("poll", "consume", "cdf") {
      TxChangeFeed.consume(ctx.spark, bronze, silver, "perfbench", "k", "grp")(fold)
    }
    if (applied.exists(_.isDefined)) {
      val pollS = ctx.ops.last.latS
      pending.foreach { case (_, verbS) => lags += ((ctx.pass, verbS + pollS)) }
      versionsPerPoll += pending.size.toDouble
      prevHead = pending.last._1
      pending.clear()
    }
  }

  private def runRound(ctx: Ctx, r: Int): Unit = {
    val p = plan.get(r)
    val bytes = (k: String) => Files.size(Paths.get(f"$in/$k/$r%05d.parquet"))
    verb(ctx, "commit", r)(s => commitOpts(src("append", r), TxTable.Append, s))
    verb(ctx, "merge", r)(s => TxTable.mergeByKeyPruned(s, bronze, src("merge", r), "k"))
    val d = p.get("delete")
    val (dlo, dhi) = (d.get("lo").asLong, d.get("hi").asLong)
    verb(ctx, "delete", r)(s => TxTable.deleteWhere(s, bronze,
      col("k") >= dlo && col("k") < dhi && col("qty") < d.get("qty_below").asLong,
      prune = Seq(("k", dlo.toDouble, dhi.toDouble))))
    val u = p.get("update")
    val (ulo, uhi) = (u.get("lo").asLong, u.get("hi").asLong)
    verb(ctx, "update", r)(s => TxTable.updateWhere(s, bronze,
      col("k") >= ulo && col("k") < uhi && col("flag") === u.get("flag").asText,
      Seq("qty" -> (col("qty") + u.get("add").asLong)),
      prune = Seq(("k", ulo.toDouble, uhi.toDouble))))
    if (r % 2 == 0) verb(ctx, "optimize", r)(s => TxTable.optimize(s, bronze, 4, Seq("k")))
    else verb(ctx, "compact", r)(s => TxTable.compactSmall(s, bronze, 64L << 10, 1L << 20))
    poll(ctx)
    val user = bytes("append") + bytes("merge")
    if (ctx.pass > 0) timedUser += user
  }

  def pass(ctx: Ctx): Unit = {
    if (ctx.pass == 0) {
      verb(ctx, "overwrite", -1)(s => commitOpts(s.table("tx_base"), TxTable.Overwrite, s))
      poll(ctx)
    }
    runRound(ctx, round)
    round += 1
  }

  override def finish(ctx: Ctx): Unit = {
    ctx.op("verb", "vacuum", "tx")(TxTable.vacuum(bronze, 2))
    verbs += Map("kind" -> "vacuum", "round" -> -1, "step" -> step)
    val spark = ctx.spark
    val live = TxTable.read(spark, bronze)
    val rows = live.collect()
    live.coalesce(1).write.mode("overwrite").parquet(s"${ctx.work}/live_copy")
    val snap = TxTable.currentSnapshot(bronze).get
    val silverRows = TxTable.read(spark, silver).collect().filter(_.getAs[Long]("n") != 0L)
    val manifest = Paths.get(bronze, "_manifests", f"v${snap.version}%09d.txt")
    final_ = Map(
      "final_fp" -> Main.fingerprint(rows.map(txRow)),
      "silver_fp" -> Main.fingerprint(silverRows.map(r => Seq(r.getAs[Long]("grp"),
        r.getAs[Long]("n"), r.getAs[Long]("qty"),
        new java.math.BigDecimal(r.getAs[Any]("price").toString).setScale(2).toPlainString)
        .mkString("|"))),
      "stored_b" -> (bytesUnder(bronze) + bytesUnder(silver)),
      "live_user_b" -> bytesUnder(s"${ctx.work}/live_copy"),
      "written_b" -> timedWritten, "user_b" -> timedUser,
      "live_files" -> snap.files.size,
      "live_b" -> snap.files.map(f => Files.size(Paths.get(bronze, f))).sum,
      "manifest_b" -> Files.size(manifest))
  }

  override def extra(ctx: Ctx): Map[String, Any] =
    Map("verbs" -> verbs, "reads" -> reads,
      "cdf_lags" -> lags.map { case (p, l) => Map("pass" -> p, "lag_s" -> l) }) ++ final_

  override def layers(ctx: Ctx, perSpan: Map[Int, Counters]): Map[String, Double] = {
    val timed = ctx.ops.filter(o => o.pass > 0 && o.ok)
    def med(kind: String, names: String*) =
      Layers.median(timed.filter(o => o.kind == kind && names.contains(o.name)).map(_.latS).toSeq)
    def n(kind: String, names: String*) =
      timed.count(o => o.kind == kind && names.contains(o.name)).toDouble
    val verbSpans = ctx.trace.spans.filter(_.layer == "tx")
    val jg = verbSpans.map(s => Layers.jobsAndGap(s, perSpan.get(s.id)))
    val pollSpans = ctx.trace.spans.filter(_.layer == "cdf")
    val tot = scanned.map(_._1).sum.toDouble
    val rangeScans = scanned.zipWithIndex.filter(_._2 % 2 == 0).map(_._1)
    val verbNames = Seq("commit", "merge", "delete", "update", "optimize", "vacuum")
    verbNames.flatMap { v =>
      val names = if (v == "optimize") Seq("optimize", "compact") else Seq(v)
      Seq(s"tx.${v}_s" -> med("verb", names: _*), s"tx.${v}_n" -> n("verb", names: _*))
    }.toMap ++ Map(
      "tx.jobs_per_verb" -> jg.map(_._1.toDouble).sum / jg.size.max(1),
      "tx.gap_per_verb_s" -> jg.map(_._2).sum / jg.size.max(1),
      "tx.snapshot_s" -> Layers.median(snapshotS.toSeq),
      "tx.manifest_b" -> final_("manifest_b").toString.toDouble,
      "tx.files_per_commit" -> filesAdded.sum / filesAdded.size.max(1),
      "tx.written_b" -> writtenB.sum / writtenB.size.max(1),
      "tx.live_files" -> final_("live_files").toString.toDouble,
      "tx.live_b" -> final_("live_b").toString.toDouble,
      "tx.stored_b" -> final_("stored_b").toString.toDouble,
      "cdf.consume_s" -> med("poll", "consume"),
      "cdf.rows_applied" -> pollSpans.map(s => perSpan.get(s.id).map(_.outputRows).getOrElse(0L))
        .sum.toDouble / pollSpans.size.max(1),
      "cdf.versions_per_poll" -> versionsPerPoll.sum / versionsPerPoll.size.max(1),
      "src.read_s" -> med("read", "range"),
      "src.bloom_lookup_s" -> med("lookup", "bloom_in"),
      "src.files_scanned" -> tot / scanned.size.max(1),
      "src.files_total" -> scanned.map(_._3).sum.toDouble / scanned.size.max(1),
      "src.prune_ratio" -> rangeScans.map(_._2).sum.toDouble / rangeScans.map(_._1).sum.max(1),
      "src.rows_scanned_per_row_returned" ->
        scanned.map(_._4).sum.toDouble / scanned.map(_._5).sum.max(1L))
  }
}
