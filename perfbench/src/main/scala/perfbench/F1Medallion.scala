package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.types.StructType

import graft.f1.{CleanBronze, Lake, SqlReports, TransformSilver}

/** End times of the file writes a pipeline stage makes. `CleanBronze.run`
  * and `TransformSilver.run` write one output per dataset in turn, so
  * the time between consecutive write ends is what each dataset cost.
  * Only writes that start after `reset` count, so a late event from an
  * earlier write (an answer dump between passes) cannot shift the clock.
  */
final class WriteClock extends SparkListener {
  private val writes = mutable.Set.empty[Long]
  @volatile private var sinceMs = Long.MaxValue
  val ends = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  /** Start counting the writes that start from `startMs` on. */
  def reset(startMs: Long): Unit = {
    sinceMs = startMs
    writes.synchronized(writes.clear())
    ends.clear()
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.time >= sinceMs &&
        s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
      writes.synchronized(writes += s.executionId)
    case x: SparkListenerSQLExecutionEnd if writes.synchronized(writes.contains(x.executionId)) =>
      ends.add(x.time)
    case _ =>
  }
  /** The next `n` write end times (epoch ms), waiting for late events. */
  def take(n: Int): Seq[Long] = {
    val deadline = System.currentTimeMillis() + 10000
    while (ends.size < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
    Seq.fill(n)(Option(ends.poll())).flatten
  }
}

/** The paper's pipeline: bronze JSON → silver parquet → gold → reports.
  * Ops are the cleaned datasets, the gold outputs and the reports.
  */
final class F1Medallion(opts: Map[String, String]) extends Workload {
  private val lake = Lake(opts("lake"))
  private val silverRows: Map[String, Long] = opts("silver_rows").split(',').map { kv =>
    val Array(k, v) = kv.split('=')
    k -> v.toLong
  }.toMap
  private val gold = Seq("raceResults", "driverStandings", "constructorStandings")
  private val clock = new WriteClock
  private var clockOn: Option[org.apache.spark.SparkContext] = None
  private val reports = mutable.Map.empty[Int, (Array[Row], StructType)]
  private val reference = mutable.Map.empty[String, String]
  private val stageS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  /** Inputs: the lake's bronze run, discovered as the pipeline does. */
  def register(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val run = Lake.newestFolder(s"${lake.root}/bronze", conf).get
    require(Lake.childFolders(lake.bronzeRun(run), conf).size == silverRows.size)
  }

  /** Time one pipeline stage as one call, and its outputs as ops. */
  private def stage(ctx: Ctx, name: String, kind: String, outputs: => Seq[String])(
      f: => Seq[String]): Unit = {
    if (!clockOn.contains(ctx.spark.sparkContext)) {
      ctx.spark.sparkContext.addSparkListener(clock)
      clockOn = Some(ctx.spark.sparkContext)
    }
    val startMs = System.currentTimeMillis()
    clock.reset(startMs)
    val t0 = System.nanoTime()
    val got = try Right(ctx.trace.span("f1", name)(f)) catch {
      case e: Throwable if scala.util.control.NonFatal(e) => Left(e)
    }
    stageS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    val names = got.getOrElse(outputs)
    val ends = ctx.harness(clock.take(names.size))
    var prev = startMs
    names.zipWithIndex.foreach { case (n, i) =>
      val end = ends.lift(i).getOrElse(prev)
      ctx.ops += Op(kind, n, ctx.pass, ctx.trace.enabled, (end - prev) / 1000.0,
        ok = got.isRight && ends.size == names.size,
        err = got.left.toOption.map(_.toString).getOrElse(""))
      prev = end
    }
    got.left.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
  }

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    stage(ctx, "clean_bronze", "dataset", silverRows.keys.toSeq.sorted) {
      CleanBronze.run(spark, lake)
    }
    stage(ctx, "transform_silver", "gold", gold) {
      TransformSilver.run(spark, lake)
      gold
    }
    val t0 = System.nanoTime()
    val dfs = ctx.trace.span("f1", "sql_reports")(SqlReports.run(spark))
    dfs.toSeq.sortBy(_._1).foreach { case (name, df) =>
      ctx.op("report", name, "f1")((df.collect(), df.schema))
        .foreach(reports(ctx.ops.size - 1) = _)
    }
    stageS.getOrElseUpdate("sql_reports", mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
  }

  private def silverRun: String = Lake.newestFolder(s"${lake.root}/silver").get
  private def silverDir(ds: String): String = lake.silver(silverRun, ds)
  private def goldDir(ds: String): String = lake.gold(silverRun, ds)

  private def parquetFiles(dir: String): Seq[Path] =
    if (!Files.isDirectory(Paths.get(dir))) Nil
    else Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  /** Row count of a parquet directory from its footers alone. */
  private def footerRows(ctx: Ctx, dir: String): Long = {
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    parquetFiles(dir).map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toString), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  override def check(ctx: Ctx): Unit = {
    val pass = ctx.ops.filter(_.pass == ctx.pass)
    pass.filter(o => o.kind == "dataset" && o.ok).foreach { o =>
      val n = footerRows(ctx, silverDir(o.name))
      if (n != silverRows(o.name)) {
        o.ok = false
        o.err = s"silver ${o.name} has $n rows, want ${silverRows(o.name)}"
      }
    }
    pass.filter(o => o.kind == "gold" && o.ok).foreach { o =>
      o.fp = Main.rowFingerprint(ctx.spark.read.parquet(goldDir(o.name)).collect())
      verify(o)
    }
    Main.dumpAnswers(ctx.spark, s"${ctx.work}/answers", reports.toSeq.collect {
      case (i, (rows, schema)) if ctx.ops(i).pass == 0 => (ctx.ops(i).name, rows, schema)
    })
    reports.foreach { case (i, (rows, _)) =>
      val o = ctx.ops(i)
      o.fp = Main.rowFingerprint(rows)
      verify(o)
    }
    reports.clear()
  }

  private def verify(o: Op): Unit =
    if (o.pass == 0) reference(o.name) = o.fp
    else if (!reference.get(o.name).contains(o.fp)) {
      o.ok = false
      o.err = s"answer ${o.fp} differs from the warm pass ${reference.get(o.name)}"
    }

  override def layers(ctx: Ctx, perSpan: Map[Int, Counters]): Map[String, Double] = {
    def dirBytes(dir: String): Double = parquetFiles(dir).map(p => Files.size(p).toDouble).sum
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    val run = Lake.newestFolder(s"${lake.root}/bronze", conf).get
    val bronzeFiles = Files.walk(Paths.get(lake.bronzeRun(run))).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    val cleanSpans = ctx.trace.spans.filter(s => s.layer == "f1" && s.name == "clean_bronze")
    val cleanJobs = cleanSpans.map(s => perSpan.get(s.id).map(_.jobs).getOrElse(0L)).sum
    def timed(n: String) = Layers.median(stageS.getOrElse(n, Nil).drop(1).toSeq)
    Map(
      "f1.clean_bronze_s" -> timed("clean_bronze"),
      "f1.transform_silver_s" -> timed("transform_silver"),
      "f1.sql_reports_s" -> timed("sql_reports"),
      "f1.jobs_per_dataset" -> cleanJobs.toDouble / (cleanSpans.size.max(1) * silverRows.size),
      "f1.bronze_files" -> bronzeFiles.size.toDouble,
      "f1.bronze_b" -> bronzeFiles.map(Files.size(_).toDouble).sum,
      "f1.silver_rows" -> silverRows.keys.toSeq.map(ds => footerRows(ctx, silverDir(ds))).sum.toDouble,
      "f1.silver_b" -> silverRows.keys.toSeq.map(ds => dirBytes(silverDir(ds))).sum,
      "f1.gold_rows" -> gold.map(g => footerRows(ctx, goldDir(g))).sum.toDouble)
  }
}
