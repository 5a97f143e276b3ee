package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxTable

/** TYPE WIDENING on Append (Delta 3.x parity, backed by Spark 4's
  * widening parquet readers): an append whose shared column is WIDER
  * along byte<short<int<long / float<double widens the table schema
  * metadata-only — old narrow files stay on disk and every read seam
  * pins the snapshot's (vintage-expanded) schema so the vectorized
  * reader upcasts them. Pins the lattice, both directions (wide-in
  * widens the schema; narrow-in keeps it and the file reads up), the
  * refusals (non-lattice pairs, bucket and partition columns — murmur3
  * hashes int and long differently), time-travel narrowness, rename
  * composition, MoR interaction, the connector read, and the
  * mid-stream widening refusal.
  */
class TxWidenSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def withRoot(f: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_txwiden_")
    try f(s"$tmp/t") finally graft.streaming.Replay.deleteRecursively(tmp)
  }

  import scala.jdk.CollectionConverters._
  private def intDf(rows: Seq[(Int, Float)], s: SparkSession = spark) =
    s.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava,
      StructType(Seq(StructField("k", IntegerType),
        StructField("v", FloatType))))
  private def longDf(rows: Seq[(Long, Double)], s: SparkSession = spark) =
    s.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava,
      StructType(Seq(StructField("k", LongType),
        StructField("v", DoubleType))))

  test("wide append widens the schema; old int32/float files read at " +
      "the widened types, exactly; time travel stays narrow") {
    withRoot { root =>
      TxTable.commit(spark, root, intDf(Seq((1, 1.5f), (2, 2.5f))))
      TxTable.commit(spark, root,
        longDf(Seq((3000000000L, 3.25))), TxTable.Append)
      val df = TxTable.read(spark, root)
      assert(df.schema("k").dataType == LongType)
      assert(df.schema("v").dataType == DoubleType)
      val got = df.orderBy("k").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == Seq((1L, 1.5), (2L, 2.5), (3000000000L, 3.25)))
      // the old version still answers in its own (narrow) schema
      val v0 = TxTable.readVersion(spark, root, 0L)
      assert(v0.schema("k").dataType == IntegerType)
      assert(v0.schema("v").dataType == FloatType)
    }
  }

  test("narrow append into a widened column keeps the wide schema; the " +
      "int32 file reads up") {
    withRoot { root =>
      TxTable.commit(spark, root, longDf(Seq((10L, 1.0))))
      TxTable.commit(spark, root, intDf(Seq((11, 2.5f))), TxTable.Append)
      val df = TxTable.read(spark, root)
      assert(df.schema("k").dataType == LongType)
      assert(df.orderBy("k").collect().map(_.getLong(0)).toSeq ==
        Seq(10L, 11L))
    }
  }

  test("non-lattice pairs still refuse; bucket and partition columns " +
      "refuse widening outright") {
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root, Seq((1, "a")).toDF("k", "s"))
      val e1 = intercept[IllegalArgumentException] {
        TxTable.commit(spark, root,
          Seq((2L, 3L)).toDF("k", "s"), TxTable.Append) // string -> long
      }
      assert(e1.getMessage.contains("schema conflict"))
      val e2 = intercept[IllegalArgumentException] {
        TxTable.commit(spark, root,
          Seq((1.5, "b")).toDF("k", "s"), TxTable.Append) // int -> double
      }
      assert(e2.getMessage.contains("schema conflict"))
    }
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        (1 to 40).map(i => (i, i.toLong)).toDF("k", "v"),
        bucketBy = Some(("k", 4)))
      val e = intercept[IllegalArgumentException] {
        TxTable.commit(spark, root,
          Seq((99L, 99L)).toDF("k", "v"), TxTable.Append)
      }
      assert(e.getMessage.contains("bucket"))
    }
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        (1 to 20).map(i => (i, s"p${i % 2}")).toDF("k", "p"),
        partitionBy = Some("p"))
      // partition VALUES stay aligned (strings); widening the non-part
      // k is fine, widening the recorded part column is not testable
      // here (string part col) — use an int part column
      ()
    }
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        (1 to 20).map(i => (i.toLong, i % 2)).toDF("k", "p"),
        partitionBy = Some("p"))
      val e = intercept[IllegalArgumentException] {
        TxTable.commit(spark, root,
          Seq((100L, 5L)).toDF("k", "p"), TxTable.Append)
      }
      assert(e.getMessage.contains("partition"))
    }
  }

  test("widening composes with RENAME: vintage names coalesce at the " +
      "widened type; stat pruning still consults old-name lines") {
    withRoot { root =>
      TxTable.commit(spark, root, intDf(Seq((1, 1.0f), (2, 2.0f))),
        statsCols = Seq("k"))
      TxTable.renameColumn(spark, root, "k", "key")
      import spark.implicits._
      val wide = spark.createDataFrame(
        Seq(org.apache.spark.sql.Row(7000000000L, 7.0)).asJava,
        StructType(Seq(StructField("key", LongType),
          StructField("v", DoubleType))))
      TxTable.commit(spark, root, wide, TxTable.Append,
        statsCols = Seq("key"))
      val df = TxTable.read(spark, root)
      assert(df.schema("key").dataType == LongType)
      assert(df.orderBy("key").collect().map(_.getLong(0)).toSeq ==
        Seq(1L, 2L, 7000000000L))
      // pruned read by the NEW name over the OLD files' stat lines
      val pruned = TxPrune.files(spark, root, col("key") === 1L)
      assert(pruned.size < TxTable.currentSnapshot(root).get.files.size)
    }
  }

  test("MoR delete and CHECK constraints work across the widening") {
    withRoot { root =>
      TxTable.commit(spark, root, intDf(Seq((1, 1.0f), (2, 2.0f))))
      TxTable.addCheck(spark, root, "k_pos", "k > 0")
      TxTable.commit(spark, root, longDf(Seq((5L, 5.0))), TxTable.Append)
      val e = intercept[IllegalArgumentException] {
        TxTable.commit(spark, root, longDf(Seq((-1L, 0.0))),
          TxTable.Append)
      }
      assert(e.getMessage.contains("k_pos"))
      TxTable.deleteWhere(spark, root, col("k") === 2L)
      assert(TxTable.read(spark, root).orderBy("k").collect()
        .map(_.getLong(0)).toSeq == Seq(1L, 5L))
    }
  }

  test("the connector reads a widened table at the widened schema and " +
      "filters exactly") {
    withRoot { root =>
      TxTable.commit(spark, root, intDf(Seq((1, 1.0f), (2, 2.0f))))
      TxTable.commit(spark, root,
        longDf(Seq((3000000000L, 3.0))), TxTable.Append)
      val df = spark.read.format("tx").load(root)
      assert(df.schema("k").dataType == LongType)
      assert(df.filter(col("k") > 1000L).collect()
        .map(_.getLong(0)).toSeq == Seq(3000000000L))
      assert(df.filter(col("k") === 2L).count() == 1L)
    }
  }

  test("explicit tx_widen_column: metadata-only, carries everything, " +
      "refuses non-lattice and bucket columns, streams classify it " +
      "metadata-only") {
    withRoot { root =>
      TxTable.commit(spark, root, intDf(Seq((1, 1.0f), (2, 2.0f))),
        statsCols = Seq("k"))
      val filesBefore = TxTable.currentSnapshot(root).get.files
      // SQL TVF receipt
      val r = spark.sql(
        s"SELECT * FROM tx_widen_column('$root', 'k', 'bigint')")
        .collect().head
      assert(r.getString(0).startsWith("widen_column"))
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.files == filesBefore, "widen moved data files")
      val df = TxTable.read(spark, root)
      assert(df.schema("k").dataType == LongType)
      assert(df.orderBy("k").collect().map(_.getLong(0)).toSeq ==
        Seq(1L, 2L))
      // stat pruning survives (stat lines were always doubles)
      assert(TxPrune.files(spark, root, col("k") === 1L).nonEmpty)
      // time travel still narrow
      assert(TxTable.readVersion(spark, root, 0L)
        .schema("k").dataType == IntegerType)
      // refusals
      val e1 = intercept[IllegalArgumentException](
        TxTable.widenColumn(spark, root, "k", "int")) // narrowing
      assert(e1.getMessage.contains("not a widening pair"))
      val e2 = intercept[IllegalArgumentException](
        TxTable.widenColumn(spark, root, "v", "string"))
      assert(e2.getMessage.contains("not a widening pair"))
      // a stream pinned to the PRE-widen schema: the widen commit
      // itself emits nothing (metadata-only), but align refuses the
      // narrowed representation loudly
      val narrowDeclared = TxTable.readVersion(spark, root, 0L).schema
      val src = new graft.sources.TxStreamSource(spark, root,
        narrowDeclared, ignoreChanges = false)
      import org.apache.spark.sql.execution.streaming.runtime.LongOffset
      val e3 = intercept[java.io.IOException](
        src.getBatch(None, LongOffset(1L)))
      assert(e3.getMessage.contains("widened"))
      // restarted (re-resolved schema): the widen version contributes
      // no rows; the snapshot flows at the wide type
      val src2 = new graft.sources.TxStreamSource(spark, root,
        TxTable.read(spark, root).schema, ignoreChanges = false)
      import org.apache.spark.sql.execution.streaming.GraftStreamShim
      assert(GraftStreamShim.asBatchFrame(
        src2.getBatch(None, LongOffset(1L))).count() == 2L)
      // and a window CROSSING the widen version emits nothing: the op
      // classifies metadata-only, not data-changing
      assert(GraftStreamShim.asBatchFrame(
        src2.getBatch(Some(LongOffset(0L)), LongOffset(1L))).count() == 0L)
    }
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        (1 to 40).map(i => (i, i.toLong)).toDF("k", "v"),
        bucketBy = Some(("k", 4)))
      val e = intercept[IllegalArgumentException](
        TxTable.widenColumn(spark, root, "k", "bigint"))
      assert(e.getMessage.contains("bucket"))
    }
  }

  test("widening mid-stream fails loudly; a restarted stream adopts " +
      "the widened schema over the same window") {
    withRoot { root =>
      TxTable.commit(spark, root, intDf(Seq((1, 1.0f))))
      val declared = TxTable.read(spark, root).schema
      val src = new graft.sources.TxStreamSource(spark, root, declared,
        ignoreChanges = false)
      import org.apache.spark.sql.execution.streaming.GraftStreamShim
      val o1 = src.getOffset.get
      assert(GraftStreamShim.asBatchFrame(src.getBatch(None, o1))
        .count() == 1L)
      TxTable.commit(spark, root, longDf(Seq((3000000000L, 2.0))),
        TxTable.Append)
      val o2 = src.getOffset.get
      val e = intercept[java.io.IOException](src.getBatch(Some(o1), o2))
      assert(e.getMessage.contains("widened"))
      // restart: re-resolved declared schema carries the wide types and
      // the same window now flows
      val redeclared = TxTable.read(spark, root).schema
      val src2 = new graft.sources.TxStreamSource(spark, root, redeclared,
        ignoreChanges = false)
      val got = GraftStreamShim.asBatchFrame(src2.getBatch(Some(o1), o2))
        .select("k").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(3000000000L))
    }
  }
}
