package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Read-only SparkEntry queries, one client, seed-shuffled order per pass;
  * the analysts' and curation users' half of the analytics workload.
  * The warm pass's answers are dumped for the DuckDB oracle; every later
  * answer must have the warm answer's fingerprint.
  */
final class QueryMix(opts: Map[String, String]) extends Workload {

  /** family -> query ids, from `--queries fam:q01,q05;fam2:...`. */
  val families: Seq[(String, Seq[String])] = opts("queries").split(';').toSeq.map { f =>
    val Array(fam, ids) = f.split(':')
    fam -> ids.split(',').toSeq
  }

  private val entries = graft.SparkEntry.queries
  /** (family, full query name) in a fixed order. */
  val queries: Seq[(String, String)] = families.flatMap { case (fam, ids) =>
    ids.map { id =>
      val hits = entries.keys.filter(_.startsWith(id + "_")).toSeq
      require(hits.size == 1, s"query $id resolves to ${hits.mkString(",")}")
      fam -> hits.head
    }
  }
  private val answers = mutable.Map.empty[Int, (Array[Row], StructType)] // by op index
  private val reference = mutable.Map.empty[String, String]

  /** Nothing to register: each SparkEntry query loads the tables it reads
    * from the input directory itself, so set-up is the session alone.
    */
  def register(spark: SparkSession): Unit = ()

  def pass(ctx: Ctx): Unit = {
    val rnd = new scala.util.Random(ctx.seed * 1000003L + ctx.pass)
    rnd.shuffle(queries).foreach { case (fam, name) =>
      val fn = entries(name)
      ctx.op("query", name, fam) {
        val df = fn(ctx.spark, ctx.inputs)
        (df.collect(), df.schema)
      }.foreach(answers(ctx.ops.size - 1) = _)
      ctx.harness(cleanup(ctx.spark))
    }
  }

  /** graft.Bench's between-query cleanup.
    * Unlike graft.Bench it forces no full GC: the heap has a fixed size and
    * fixed generations (run.py), and a forced collection of it costs more
    * per query than the run budget allows.
    */
  private def cleanup(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => q.stop())
    spark.catalog.listTables().collect()
      .filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  override def check(ctx: Ctx): Unit = {
    Main.dumpAnswers(ctx.spark, s"${ctx.work}/answers", answers.toSeq.collect {
      case (i, (rows, schema)) if ctx.ops(i).pass == 0 => (ctx.ops(i).name, rows, schema)
    })
    answers.foreach { case (i, (rows, _)) =>
      val op = ctx.ops(i)
      op.fp = Main.rowFingerprint(rows)
      if (op.pass == 0) reference(op.name) = op.fp
      else if (!reference.get(op.name).contains(op.fp)) {
        op.ok = false
        op.err = s"answer ${op.fp} differs from the warm pass ${reference.get(op.name)}"
      }
    }
    answers.clear()
  }

  override def finish(ctx: Ctx): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val json = Json.render(queries.map(_._2).map(n => n -> sql(n)).toMap)
    Files.write(Paths.get(s"${ctx.work}/oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  override def layers(ctx: Ctx, perSpan: Map[Int, Counters]): Map[String, Double] = {
    val timed = ctx.ops.filter(o => o.pass > 0 && o.kind == "query")
    val nPasses = timed.map(_.pass).distinct.size.max(1).toDouble
    val famOf = queries.map(_.swap).toMap
    val byFam = families.map { case (fam, _) =>
      s"mix.${fam}_s" -> timed.filter(o => famOf(o.name) == fam).map(_.latS).sum / nPasses
    }
    val perQuery = queries.map { case (_, name) =>
      s"q.${name.takeWhile(_ != '_')}_s" ->
        Layers.median(timed.filter(_.name == name).map(_.latS).toSeq)
    }
    val nTraced = timed.filter(_.traced).map(_.pass).distinct.size.max(1).toDouble
    val batches = ctx.trace.streamBatches.get.toDouble
    (byFam ++ perQuery).toMap ++ Map(
      "streaming.batches" -> batches / nTraced,
      "streaming.batch_s" -> (if (batches > 0) ctx.trace.streamBatchMs.get / 1000.0 / batches else 0.0))
  }
}
