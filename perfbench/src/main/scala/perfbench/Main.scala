package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One timed unit of work, as the user sees it. */
final case class Op(kind: String, name: String, pass: Int, traced: Boolean,
    latS: Double, var ok: Boolean, var err: String = "", var fp: String = "")

/** What a run shares with its workload: the session, the trace, options
  * and the records the benchmark reports.
  */
final class Ctx(val spark: SparkSession, val trace: Trace, val opts: Map[String, String]) {
  val ops = ArrayBuffer.empty[Op]
  var pass = 0
  /** Harness time inside a pass (cleanup between queries), excluded from the pass wall. */
  var harnessNs = 0L
  val inputs: String = opts("inputs")
  val work: String = opts("work")
  def seed: Long = opts("seed").toLong

  /** Time one op: a closed-loop call made by the single client thread. */
  def op[T](kind: String, name: String, layer: String)(f: => T): Option[T] = {
    trace.op += 1
    val t0 = System.nanoTime()
    try {
      val r = trace.span(layer, name)(f)
      val lat = (System.nanoTime() - t0) / 1e9
      ops += Op(kind, name, pass, trace.enabled, lat, ok = true)
      System.err.println(f"[perfbench] pass $pass $kind $name $lat%.3f s")
      Some(r)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        ops += Op(kind, name, pass, trace.enabled, (System.nanoTime() - t0) / 1e9,
          ok = false, err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        System.err.println(s"[perfbench] $kind $name failed: $e")
        None
    }
  }

  /** Run `f` as harness work: its time does not count towards the pass. */
  def harness[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally harnessNs += System.nanoTime() - t0
  }
}

/** A workload: fixed work per pass, repeated for the run's seconds. */
trait Workload {
  /** Register the input tables (part of set-up). */
  def register(spark: SparkSession): Unit
  /** One pass of the workload's fixed work; records its ops in `ctx`. */
  def pass(ctx: Ctx): Unit
  /** Untimed checks after a pass (answers against the warm pass). */
  def check(ctx: Ctx): Unit = ()
  /** Untraced timed passes a run takes at least, whatever its seconds, so
    * that the pass count does not depend on how fast the machine is.
    */
  def passes: Int = 1
  /** False when the generated inputs are used up. */
  def hasMore(ctx: Ctx): Boolean = true
  /** Untimed work after the last pass: final ops and answer dumps. */
  def finish(ctx: Ctx): Unit = ()
  /** Workload-specific layer metrics, from spans and counters. */
  def layers(ctx: Ctx, perSpan: Map[Int, Counters]): Map[String, Double] = Map.empty
  /** Extra records for the result file. */
  def extra(ctx: Ctx): Map[String, Any] = Map.empty
}

object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 5

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  /** The benchmark's session: graft.Bench's settings at `cpus` cores. */
  def session(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()

  /** Fixed single-thread ALU loop (graft.Bench's calib_cpu, shorter). */
  def calibCpu(): Double = {
    val t0 = System.nanoTime()
    var acc = 0L
    var x = 88172645463325252L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1
    }
    if (acc == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Order-invariant answer fingerprint: row count and the sum of the
    * first eight MD5 bytes of each row's canonical string.
    */
  def fingerprint(rows: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      sum += java.nio.ByteBuffer.wrap(md.digest(r.getBytes(StandardCharsets.UTF_8))).getLong
      n += 1
    }
    s"$n:${java.lang.Long.toUnsignedString(sum, 16)}"
  }

  def rowFingerprint(rows: Array[Row]): String = fingerprint(rows.map(_.toString))

  /** Write warm-pass answers as parquet under `dir` for the DuckDB oracle,
    * four at a time: each answer is small, so its write is mostly fixed
    * per-job cost, which overlaps.
    */
  def dumpAnswers(spark: SparkSession, dir: String,
      answers: Seq[(String, Array[Row], StructType)]): Unit = {
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(answers) { case (name, rows, schema) =>
      Future(spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name"))
    }, Duration.Inf)
    finally pool.shutdown()
  }

  private def procStatusKb(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Load the classes every workload needs, for the class-data-sharing
    * archive run.py records after a build: a session, a JSON read, a
    * shuffle, a parquet write and read.
    */
  private def loadClasses(work: String): Unit = {
    val spark = session(2, work)
    import spark.implicits._
    Seq("{\"a\": {\"b\": [1, 2]}}").toDS().write.mode("overwrite").text(s"$work/cls/json")
    spark.read.json(s"$work/cls/json").selectExpr("explode(a.b) AS b")
      .groupBy("b").count().write.mode("overwrite").parquet(s"$work/cls/parquet")
    spark.read.parquet(s"$work/cls/parquet").collect()
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    if (opts("workload") == "classes") return loadClasses(opts("work"))
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val work = opts("work")
    val traceOn = opts("trace") == "1"
    val seconds = opts("seconds").toDouble
    val calib = calibCpu()
    val workload: Workload = opts("workload") match {
      case "analytics" => new Analytics(opts)
      case "tx_churn" => new TxChurn(opts)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // set-up, several times: build the session, register the inputs
    val setups = (1 to Setups).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      val s = session(cpus, work)
      s.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      workload.register(s)
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    val spark = SparkSession.active
    val trace = new Trace(spark)
    val ctx = new Ctx(spark, trace, opts)

    // untimed warm pass: JIT, codegen and caches fill here
    val tw = System.nanoTime()
    workload.pass(ctx)
    val warmS = (System.nanoTime() - tw) / 1e9
    workload.check(ctx)

    // timed region: closed loop, one client, whole passes until the
    // seconds are used and the workload's passes are done; a traced run
    // alternates untraced and traced passes so the tracing overhead can
    // be read off
    val passes = ArrayBuffer.empty[(Double, Boolean)]
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    def need = (System.nanoTime() - t0) / 1e9 < seconds ||
      passes.count(!_._2) < workload.passes ||
      (traceOn && !passes.exists(_._2))
    while (need && workload.hasMore(ctx)) {
      ctx.pass += 1
      val traced = traceOn && passes.size % 2 == 1
      trace.setEnabled(traced)
      ctx.harnessNs = 0L
      val p0 = System.nanoTime()
      workload.pass(ctx)
      passes += (((System.nanoTime() - p0 - ctx.harnessNs) / 1e9, traced))
      trace.setEnabled(false)
      workload.check(ctx)
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val gcS = gcSeconds() - gc0
    ctx.pass += 1
    workload.finish(ctx)

    val perSpan = if (traceOn) trace.spanCounters() else Map.empty[Int, Counters]
    val layers = if (traceOn) workload.layers(ctx, perSpan) ++ Layers.spark(ctx, perSpan, passes.toSeq, cpus)
      else Map.empty[String, Double]
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val out = Map[String, Any](
      "workload" -> opts("workload"),
      "cpus" -> cpus,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "calib_cpu_s" -> calib,
      "setup_s" -> setups.map(x => x._1 + x._2),
      "session_s" -> setups.map(_._1),
      "inputs_s" -> setups.map(_._2),
      "warm_pass_s" -> warmS,
      "timed_s" -> timedS,
      "passes" -> passes.map { case (w, t) => Map("wall_s" -> w, "traced" -> t) },
      "ops" -> ctx.ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "pass" -> o.pass,
        "traced" -> o.traced, "lat_s" -> o.latS, "ok" -> o.ok, "err" -> o.err, "fp" -> o.fp)),
      "peak_rss_mb" -> procStatusKb("VmHWM") / 1024.0,
      "jvm_gc_s" -> gcS,
      "heap_peak_mb" -> heapPeakMb,
      "layers" -> layers,
      "extra" -> workload.extra(ctx))
    Files.write(Paths.get(opts("out")), Json.render(out).getBytes(StandardCharsets.UTF_8))
    if (traceOn) Files.write(Paths.get(work, "spans.json"),
      Json.render(Layers.spanRecords(trace, perSpan)).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
