package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxTable

/** [[graft.plans.TxMetadataAgg]]: an unfiltered global COUNT(*) over
  * a clean tx snapshot optimizes to a LocalRelation fed by manifest
  * `rows` lines (zero scans); every soundness gate degrades to the
  * real scan — never to a wrong number.
  */
class TxMetadataAggSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def withRoot(f: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_txmeta_")
    try f(s"$tmp/t") finally graft.streaming.Replay.deleteRecursively(tmp)
  }

  private def isMetadataAnswered(df: DataFrame): Boolean = {
    val opt = df.queryExecution.optimizedPlan
    opt.collect { case lr: LogicalRelation => lr }.isEmpty &&
      opt.collect { case l: LocalRelation => l }.nonEmpty
  }

  test("unfiltered COUNT(*) answers from the manifest — no relation in the optimized plan") {
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        spark.range(0, 123L).selectExpr("id", "id % 5 AS g"))
      TxTable.commit(spark, root,
        spark.range(200, 277L).selectExpr("id", "id % 5 AS g"),
        TxTable.Append)
      val cnt = spark.read.format("tx").load(root)
        .agg(count(lit(1)).as("n"))
      assert(isMetadataAnswered(cnt), s"still scans:\n${cnt.queryExecution}")
      assert(cnt.collect().head.getLong(0) == 200L)
      // df.count() rides the same plan shape
      assert(spark.read.format("tx").load(root).count() == 200L)
      // and a time-traveled version counts ITS OWN manifest
      val v0 = spark.read.format("tx").option("versionAsOf", "0").load(root)
        .agg(count(lit(1)).as("n"))
      assert(isMetadataAnswered(v0))
      assert(v0.collect().head.getLong(0) == 123L)
    }
  }

  test("SUM from recorded per-file sums: zero-scan global, filtered, grouped; degrades honestly") {
    withRoot { root =>
      import spark.implicits._
      // planted nulls in v; two commits so append-side line merging shows
      def slice(m: Long) = spark.range(0, 200L)
        .filter(pmod(col("id"), lit(2)) === m)
        .selectExpr("id", "CASE WHEN id % 5 = 0 THEN 'en' ELSE 'de' END AS lang",
          "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 3 END AS v",
          "CAST(id AS DOUBLE) AS dv")
      TxTable.commit(spark, root, slice(0L),
        partitionBy = Some("lang"), sumCols = Seq("v", "id"))
      TxTable.commit(spark, root, slice(1L), TxTable.Append,
        partitionBy = Some("lang"), sumCols = Seq("v", "id"))
      def t = spark.read.format("tx").load(root)
      val expectV = (0L until 200L).filter(_ % 7 != 0).map(_ * 3).sum
      val g = t.agg(sum("v").as("s"), sum("id").as("si"))
      assert(isMetadataAnswered(g), s"still scans:\n${g.queryExecution}")
      val gr = g.collect().head
      assert(gr.getLong(0) == expectV && gr.getLong(1) == (0L until 200L).sum)
      // partition-filtered + grouped compose
      val f = t.filter(col("lang") === "en").agg(sum("v").as("s"))
      assert(isMetadataAnswered(f))
      assert(f.collect().head.getLong(0) ==
        (0L until 200L).filter(i => i % 5 == 0 && i % 7 != 0).map(_ * 3).sum)
      val grp = t.groupBy("lang").agg(sum("id").as("s")).orderBy("lang")
      assert(isMetadataAnswered(grp))
      assert(grp.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("en" -> (0L until 200L).filter(_ % 5 == 0).sum,
          "de" -> (0L until 200L).filterNot(_ % 5 == 0).sum))
      // a double column is refused at commit (order-dependent sums)
      val e = intercept[IllegalArgumentException](
        TxTable.commit(spark, root, slice(0L), TxTable.Append,
          partitionBy = Some("lang"), sumCols = Seq("dv")))
      assert(e.getMessage.contains("integral"))
      // no recorded line (plain table) degrades to the scan, same value
      val plain = s"${root}_plain"
      TxTable.commit(spark, plain, slice(0L).unionAll(slice(1L)))
      val p = spark.read.format("tx").load(plain).agg(sum("v").as("s"))
      assert(!isMetadataAnswered(p))
      assert(p.collect().head.getLong(0) == expectV)
      // AVG never rewrites (double accumulation is the scan's business)
      val a = t.agg(avg("v").as("a"))
      assert(!isMetadataAnswered(a))
    }
  }

  test("SUM metadata answers: all-null is NULL, MoR delete degrades, append without sumCols degrades") {
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        spark.range(0, 50L).selectExpr("id", "CAST(NULL AS BIGINT) AS v"),
        sumCols = Seq("v"))
      val z = spark.read.format("tx").load(root).agg(sum("v").as("s"))
      assert(isMetadataAnswered(z))
      assert(z.collect().head.isNullAt(0), "SUM of all-null must be NULL")
      // live DVs: as-written sums no longer describe live rows - degrade
      TxTable.commit(spark, root,
        spark.range(50L, 60L).selectExpr("id", "id AS v"),
        TxTable.Append, sumCols = Seq("v"))
      TxTable.deleteWhere(spark, root, col("id") === 55L)
      val m = spark.read.format("tx").load(root).agg(sum("v").as("s"))
      assert(!isMetadataAnswered(m))
      assert(m.collect().head.getLong(0) ==
        (50L until 60L).filter(_ != 55L).sum)
    }
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        spark.range(0, 10L).selectExpr("id", "id AS v"), sumCols = Seq("v"))
      TxTable.commit(spark, root,
        spark.range(10L, 20L).selectExpr("id", "id AS v"), TxTable.Append)
      val g = spark.read.format("tx").load(root).agg(sum("v").as("s"))
      assert(!isMetadataAnswered(g), "a file without a sum line must scan")
      assert(g.collect().head.getLong(0) == (0L until 20L).sum)
    }
  }

  test("maintenance preserves the zero-scan SUM path: optimize, compactSmall, delete->purge") {
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        spark.range(0, 100L).selectExpr("id", "id * 2 AS v"),
        sumCols = Seq("v"))
      TxTable.commit(spark, root,
        spark.range(100L, 150L).selectExpr("id", "id * 2 AS v"),
        TxTable.Append, sumCols = Seq("v"))
      def sumQ = spark.read.format("tx").load(root).agg(sum("v").as("s"))
      TxTable.optimize(spark, root, targetFiles = 1)
      assert(isMetadataAnswered(sumQ), "optimize dropped the sum lines")
      assert(sumQ.collect().head.getLong(0) == (0L until 150L).map(_ * 2).sum)
      TxTable.commit(spark, root,
        spark.range(150L, 160L).selectExpr("id", "id * 2 AS v"),
        TxTable.Append, sumCols = Seq("v"))
      TxTable.compactSmall(spark, root, minBytes = Long.MaxValue / 2)
      assert(isMetadataAnswered(sumQ), "compactSmall dropped the sum lines")
      assert(sumQ.collect().head.getLong(0) == (0L until 160L).map(_ * 2).sum)
      // the delete->purge cycle: refused while DVs live, zero-scan after
      TxTable.deleteWhere(spark, root, col("id") >= 140L)
      assert(!isMetadataAnswered(sumQ))
      TxTable.purgeDeletes(spark, root)
      assert(isMetadataAnswered(sumQ), "purge dropped the sum lines")
      assert(sumQ.collect().head.getLong(0) == (0L until 140L).map(_ * 2).sum)
    }
  }

  test("RENAME keeps the zero-scan SUM across a DML rewrite (r19: sums " +
      "re-derive under the LOGICAL name)") {
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        spark.range(0, 100L).selectExpr("id", "id * 2 AS v"),
        sumCols = Seq("v"))
      TxTable.renameColumn(spark, root, "v", "val")
      def sumQ = spark.read.format("tx").load(root).agg(sum("val").as("s"))
      assert(isMetadataAnswered(sumQ), "rename alone must not demote")
      assert(sumQ.collect().head.getLong(0) == (0L until 100L).map(_ * 2).sum)
      // a CoW merge rewrites every file: the write-time sum-line name
      // 'v' maps through its rename class to 'val' before the schema
      // filter, so the re-derived sums record under the logical name
      // (before r19 this silently demoted the zero-scan SUM to a scan)
      TxTable.mergeByKey(spark, root,
        Seq((5L, 555L), (200L, 400L)).toDF("id", "val"), Seq("id"))
      assert(isMetadataAnswered(sumQ),
        "merge after rename demoted the zero-scan SUM path")
      assert(sumQ.collect().head.getLong(0) ==
        (0L until 100L).filter(_ != 5L).map(_ * 2).sum + 555L + 400L)
    }
  }

  test("MIN/MAX of a stats column answer from the manifest; exactness gates degrade") {
    withRoot { root =>
      TxTable.commit(spark, root,
        spark.range(0, 100L).selectExpr("id", "CAST(id AS DOUBLE) AS d",
          "id * 3 AS v"),
        statsCols = Seq("v", "d"))
      TxTable.commit(spark, root,
        spark.range(100, 150L).selectExpr("id", "CAST(id AS DOUBLE) AS d",
          "id * 3 AS v"),
        TxTable.Append, statsCols = Seq("v", "d"))
      def t = spark.read.format("tx").load(root)
      val mm = t.agg(min("v").as("lo"), max("v").as("hi"),
        count(lit(1)).as("n"))
      assert(isMetadataAnswered(mm), s"still scans:\n${mm.queryExecution}")
      assert(mm.collect().head.toSeq == Seq(0L, 447L, 150L))
      // a DOUBLE column is not exact-in-double-foldable by type gate
      val dbl = t.agg(min("d").as("lo"))
      assert(!isMetadataAnswered(dbl))
      assert(dbl.collect().head.getDouble(0) == 0.0)
      // a column without stat lines degrades (id was never recorded)
      val nostats = t.agg(max("id").as("hi"))
      assert(!isMetadataAnswered(nostats))
      assert(nostats.collect().head.getLong(0) == 149L)
    }
    withRoot { root =>
      // a file whose column lacks a stat line (one commit recorded no
      // stats) breaks coverage: the whole rewrite degrades
      TxTable.commit(spark, root,
        spark.range(0, 10L).selectExpr("id", "id AS v"),
        statsCols = Seq("v"))
      TxTable.commit(spark, root,
        spark.range(10, 20L).selectExpr("id", "id AS v"), TxTable.Append)
      val mm = spark.read.format("tx").load(root).agg(min("v").as("lo"))
      assert(!isMetadataAnswered(mm))
      assert(mm.collect().head.getLong(0) == 0L)
    }
  }

  test("gates: filters, count(col), grouping, MoR deletes all degrade to the scan") {
    withRoot { root =>
      TxTable.commit(spark, root,
        spark.range(0, 100L).selectExpr("id",
          "IF(id % 10 = 0, NULL, id % 5) AS g"))
      def t = spark.read.format("tx").load(root)
      // a filter must see rows
      val filtered = t.filter(col("id") >= 50L).agg(count(lit(1)).as("n"))
      assert(!isMetadataAnswered(filtered))
      assert(filtered.collect().head.getLong(0) == 50L)
      // count(col) must see nulls
      val countCol = t.agg(count(col("g")).as("n"))
      assert(!isMetadataAnswered(countCol))
      assert(countCol.collect().head.getLong(0) == 90L)
      // grouped counts must see values
      val grouped = t.groupBy("g").agg(count(lit(1)).as("n"))
      assert(!isMetadataAnswered(grouped))
      assert(grouped.count() == 6L)
      // a MoR delete keeps the TxBatchRelation shape (DVs applied in its
      // parquet reader) — COUNT(*) still answers, from LIVE counts: rows
      // lines minus the disjoint per-file DV counts, never the stale
      // as-written number
      TxTable.deleteWhere(spark, root, col("id") < 10L)
      val afterDelete = t.agg(count(lit(1)).as("n"))
      assert(isMetadataAnswered(afterDelete),
        s"still scans:\n${afterDelete.queryExecution}")
      assert(afterDelete.collect().head.getLong(0) == 90L)
    }
  }

  test("DV-only format(tx) read: COUNT(*) answers live counts, SUM over " +
      "recorded sums refuses and scans DV-exact") {
    withRoot { root =>
      TxTable.commit(spark, root,
        spark.range(0, 100L).selectExpr("id", "id % 7 AS v"),
        sumCols = Seq("v"))
      TxTable.deleteWhere(spark, root, col("id") < 30L)
      val t = spark.read.format("tx").load(root)
      assert(t.queryExecution.analyzed.collectFirst {
        case lr: LogicalRelation => lr.relation
      }.exists(_.isInstanceOf[graft.sources.TxBatchRelation]),
        "premise: a DV-only snapshot reads as TxBatchRelation")
      val n = t.agg(count(lit(1)).as("n"))
      assert(isMetadataAnswered(n), s"still scans:\n${n.queryExecution}")
      assert(n.collect().head.getLong(0) == 70L)
      assert(t.count() == 70L)
      // sum lines describe the files as written: the rule refuses, and
      // the scan's reader drops the deleted rows
      val sm = t.agg(sum(col("v")).as("s"))
      assert(!isMetadataAnswered(sm))
      assert(sm.collect().head.getLong(0) == (30L until 100L).map(_ % 7).sum)
    }
  }

  test("MoR snapshots answer live counts and part-value folds; stat-derived answers degrade") {
    withRoot { root =>
      TxTable.commit(spark, root,
        spark.range(0, 100L).selectExpr("id",
          "CASE WHEN id < 40 THEN 'a' WHEN id < 80 THEN 'b' ELSE 'c' END AS g",
          "id * 2 AS v"),
        partitionBy = Some("g"), statsCols = Seq("v"))
      // kill ALL of partition c, plus a sprinkle of a/b
      TxTable.deleteWhere(spark, root,
        col("g") === "c" || pmod(col("id"), lit(10)) === 0L)
      assert(TxTable.currentSnapshot(root).get.dvs.nonEmpty)
      def t = spark.read.format("tx").load(root)
      // live COUNT(*): 100 - 20 (c) - 8 (a/b multiples of 10) = 72
      val cnt = t.agg(count(lit(1)).as("n"))
      assert(isMetadataAnswered(cnt), s"still scans:\n${cnt.queryExecution}")
      assert(cnt.collect().head.getLong(0) == 72L)
      // grouped: the fully-deleted c group emits NOTHING (a real scan
      // has no row to group); a/b report live counts
      val grouped = t.groupBy("g").agg(count(lit(1)).as("n")).orderBy("g")
      assert(isMetadataAnswered(grouped))
      assert(grouped.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSeq == Seq(("a", 36L), ("b", 36L)))
      // part-value folds exclude dead files: MAX(g) is b, not c; the
      // distinct value set shrinks the same way; count(g) = live rows
      val folds = t.agg(min("g").as("lo"), max("g").as("hi"),
        countDistinct(col("g")).as("nd"), count(col("g")).as("nn"))
      assert(isMetadataAnswered(folds))
      assert(folds.collect().head.toSeq == Seq("a", "b", 2L, 72L))
      // filtered by the partition column still answers, on live counts
      val filtered = t.filter(col("g") =!= "a").agg(count(lit(1)).as("n"))
      assert(isMetadataAnswered(filtered))
      assert(filtered.collect().head.getLong(0) == 36L)
      // stat-derived answers must SEE the deleted rows: both degrade to
      // the scan (the extreme/null rows may be among the deleted)
      val statMm = t.agg(max("v").as("hi"))
      assert(!isMetadataAnswered(statMm))
      assert(statMm.collect().head.getLong(0) == 158L) // max LIVE id is 79
    }
  }

  test("a column-mapped MoR snapshot answers metadata counts (r18: alias-aware lookups)") {
    withRoot { root =>
      TxTable.commit(spark, root,
        spark.range(0, 50L).selectExpr("id", "id % 5 AS g"))
      TxTable.deleteWhere(spark, root, col("id") < 5L)
      TxTable.renameColumn(spark, root, "g", "h")
      // pre-r18 this refused (purge-first); the rename is metadata-only,
      // so the live-count fold is exactly as sound as the unmapped case
      val cnt = spark.read.format("tx").load(root)
        .agg(count(lit(1)).as("n"))
      assert(isMetadataAnswered(cnt))
      assert(cnt.collect().head.getLong(0) == 45L)
    }
  }

  test("a clean column-mapped snapshot answers stat/sum folds through the alias chain") {
    withRoot { root =>
      val df = spark.range(0, 90L).selectExpr("id",
        "CASE WHEN id % 3 = 0 THEN 'de' WHEN id % 3 = 1 THEN 'en' " +
          "ELSE 'zh' END AS lang", "id * 2 AS v")
      TxTable.commit(spark, root, df, TxTable.Overwrite,
        partitionBy = Some("lang"), statsCols = Seq("v"),
        sumCols = Seq("v"))
      TxTable.renameColumn(spark, root, "v", "w")
      // stat lines carry 'v'; the logical column is 'w' — every fold
      // (count(col) via stat nulls, MIN/MAX via stat ranges, SUM via
      // format-8 sum lines, GROUP BY via part lines) resolves through
      // the rename class
      val out = spark.read.format("tx").load(root)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), count(col("w")).as("nw"),
          min("w").as("mn"), max("w").as("mx"), sum("w").as("sm"))
        .orderBy("lang")
      assert(isMetadataAnswered(out))
      val got = out.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      val expect = Seq("de", "en", "zh").map { lang =>
        val ids = (0L until 90L).filter(i => Seq("de", "en", "zh")(
          (i % 3).toInt) == lang)
        (lang, ids.size.toLong, ids.size.toLong,
          ids.map(_ * 2).min, ids.map(_ * 2).max, ids.map(_ * 2).sum)
      }
      assert(got == expect, s"got $got")
    }
  }

  test("a manifest without rows lines degrades to the scan") {
    withRoot { root =>
      // craft a pre-rows-era manifest by hand: one real parquet file,
      // no `rows` line
      spark.range(0, 42L).toDF("id").coalesce(1)
        .write.parquet(s"$root/data/w-manual")
      val file = Files.list(Paths.get(root, "data", "w-manual"))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get().getFileName.toString
      Files.createDirectories(Paths.get(root, "_manifests"))
      Files.write(Paths.get(root, "_manifests", "v000000000.txt"),
        java.util.Arrays.asList("graft-txtable-v1",
          s"data/w-manual/$file", "COMMIT"))
      val cnt = spark.read.format("tx").load(root)
        .agg(count(lit(1)).as("n"))
      assert(!isMetadataAnswered(cnt))
      assert(cnt.collect().head.getLong(0) == 42L)
    }
  }

  test("GROUP BY a partition column answers from part x rows lines — zero scans") {
    withRoot { root =>
      val df = spark.range(0, 300L).selectExpr("id",
        "CASE WHEN id % 3 = 0 THEN 'de' WHEN id % 3 = 1 THEN 'en' " +
          "ELSE NULL END AS lang", "id * 2 AS v")
      TxTable.commit(spark, root, df, TxTable.Overwrite,
        partitionBy = Some("lang"), statsCols = Seq("v"))
      TxTable.commit(spark, root,
        spark.range(300, 400L).selectExpr("id", "'zh' AS lang",
          "id * 2 AS v"),
        TxTable.Append, partitionBy = Some("lang"), statsCols = Seq("v"))
      def t = spark.read.format("tx").load(root)
      val grouped = t.groupBy("lang")
        .agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
      assert(isMetadataAnswered(grouped),
        s"still scans:\n${grouped.queryExecution}")
      val got = grouped.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      // the oracle: the same aggregate through a real scan (fresh read,
      // grouped by a non-answerable expression to force the scan path)
      val want = t.withColumn("lang2", col("lang")).groupBy("lang2")
        .agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == want && got.size == 4, s"got $got") // de/en/zh/null
      // grouping by a NON-partition column degrades to the scan
      val byV = t.groupBy("v").agg(count(lit(1)).as("n"))
      assert(!isMetadataAnswered(byV))
      assert(byV.count() == 400L)
    }
  }

  test("string MIN/MAX from part values; a partial stat surface falls back, never lies") {
    withRoot { root =>
      TxTable.commit(spark, root,
        spark.range(0, 90L).selectExpr("id",
          "CASE WHEN id % 3 = 0 THEN 'alpha' WHEN id % 3 = 1 THEN 'beta' " +
            "ELSE NULL END AS tag"),
        TxTable.Overwrite, partitionBy = Some("tag"))
      def t = spark.read.format("tx").load(root)
      // stat lines cannot express string extremes; part values can
      val mm = t.agg(min("tag").as("lo"), max("tag").as("hi"),
        count(lit(1)).as("n"))
      assert(isMetadataAnswered(mm), s"still scans:\n${mm.queryExecution}")
      assert(mm.collect().head.toSeq == Seq("alpha", "beta", 90L))
      // MIN/MAX ignore nulls: a table whose column is all-null answers
      // null (the sentinel means null and only null — '' refuses at
      // commit)
      val root2 = s"$root-allnull"
      TxTable.commit(spark, root2,
        spark.range(0, 10L).selectExpr("id",
          "CAST(NULL AS STRING) AS tag"),
        TxTable.Overwrite, partitionBy = Some("tag"))
      val nn = spark.read.format("tx").load(root2)
        .agg(max("tag").as("hi"))
      assert(isMetadataAnswered(nn))
      assert(nn.collect().head.isNullAt(0))
      // a non-partition string column has no metadata surface: scan
      val root3 = s"$root-plain"
      TxTable.commit(spark, root3,
        spark.range(0, 10L).selectExpr("id", "'x' AS tag"))
      val plain = spark.read.format("tx").load(root3)
        .agg(max("tag").as("hi"))
      assert(!isMetadataAnswered(plain))
      assert(plain.collect().head.getString(0) == "x")
    }
  }

  test("partition-filtered aggregates and count(col) answer from metadata") {
    withRoot { root =>
      TxTable.commit(spark, root,
        spark.range(0, 300L).selectExpr("id",
          "CASE WHEN id % 3 = 0 THEN 'de' WHEN id % 3 = 1 THEN 'en' " +
            "ELSE NULL END AS lang",
          "IF(id % 10 = 0, NULL, id * 2) AS v"),
        TxTable.Overwrite, partitionBy = Some("lang"),
        statsCols = Seq("v"))
      def t = spark.read.format("tx").load(root)
      // WHERE over the partition column: constant within each file, so
      // the filter keeps/drops whole files exactly — zero scans
      val filtered = t.filter(col("lang") === "en")
        .agg(count(lit(1)).as("n"))
      assert(isMetadataAnswered(filtered),
        s"still scans:\n${filtered.queryExecution}")
      assert(filtered.collect().head.getLong(0) == 100L)
      // filter + grouping compose; IS NULL keeps the sentinel group
      val nullGroup = t.filter(col("lang").isNull)
        .groupBy("lang").agg(count(lit(1)).as("n"))
      assert(isMetadataAnswered(nullGroup))
      assert(nullGroup.collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq == Seq((null, 100L)))
      // count(col) from trusted stat null counts (v: every 10th null)
      val cv = t.agg(count(col("v")).as("n"))
      assert(isMetadataAnswered(cv), s"still scans:\n${cv.queryExecution}")
      assert(cv.collect().head.getLong(0) == 270L)
      // count(partition col): Some => rows, null sentinel => 0
      val cl = t.agg(count(col("lang")).as("n"))
      assert(isMetadataAnswered(cl))
      assert(cl.collect().head.getLong(0) == 200L)
      // a filter over a NON-partition column still degrades to the scan
      val nonPart = t.filter(col("v") > 100L).agg(count(lit(1)).as("n"))
      assert(!isMetadataAnswered(nonPart))
      assert(nonPart.collect().head.getLong(0) ==
        t.collect().count(r => !r.isNullAt(2) && r.getLong(2) > 100L))
      // COUNT(DISTINCT partCol): the distinct values ARE the part
      // values; nulls excluded; composes with the partition filter
      val cd = t.agg(countDistinct(col("lang")).as("n"))
      assert(isMetadataAnswered(cd), s"still scans:\n${cd.queryExecution}")
      assert(cd.collect().head.getLong(0) == 2L) // de, en (null excluded)
      val cdf = t.filter(col("lang") === "en")
        .agg(countDistinct(col("lang")).as("n"))
      assert(isMetadataAnswered(cdf))
      assert(cdf.collect().head.getLong(0) == 1L)
      // DISTINCT over a non-partition column must see values
      val cdv = t.agg(countDistinct(col("v")).as("n"))
      assert(!isMetadataAnswered(cdv))
      assert(cdv.collect().head.getLong(0) == 270L)
      // count(col) without any metadata surface degrades (u: no stats,
      // no part lines)
      val root2 = s"$root-nostats"
      TxTable.commit(spark, root2,
        spark.range(0, 50L).selectExpr("id", "IF(id % 5 = 0, NULL, id) AS u"))
      val cu = spark.read.format("tx").load(root2)
        .agg(count(col("u")).as("n"))
      assert(!isMetadataAnswered(cu))
      assert(cu.collect().head.getLong(0) == 40L)
    }
  }

  test("concurrent enable() never loses or double-adds a rule") {
    // the three self-attaching rules share one session's
    // extraOptimizations; the attach must be a synchronized
    // check-and-append or parallel suites race (lost update)
    val ss = spark.newSession()
    val rules = Seq(graft.plans.TxMetadataAgg, graft.plans.MatViewRouting,
      graft.plans.JaroWinklerPruning)
    val threads = (0 until 24).map { i =>
      new Thread(() => rules(i % 3) match {
        case r: graft.plans.TxMetadataAgg.type => r.enable(ss)
        case r: graft.plans.MatViewRouting.type => r.enable(ss)
        case r: graft.plans.JaroWinklerPruning.type => r.enable(ss)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val attached = ss.experimental.extraOptimizations
    rules.foreach(r => assert(attached.count(_ == r) == 1,
      s"$r attached ${attached.count(_ == r)} times"))
  }
}
