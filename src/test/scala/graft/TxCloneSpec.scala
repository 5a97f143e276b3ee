package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxTable

/** Zero-copy CLONE (Delta's SHALLOW CLONE shape): `TxTable.clone`
  * publishes version 0 of a fresh root whose manifest references the
  * source's data files ABSOLUTELY (format 7) — no data bytes move. The
  * clone answers every read posture exactly like the source version
  * (stats/blooms/parts/DVs/bucket layout carried), evolves fully
  * independently afterward, and any rewrite progressively materializes
  * foreign bytes into its own root, ratcheting the format back down.
  */
class TxCloneSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def withRoots(f: (String, String) => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_txclone_")
    try f(s"$tmp/src", s"$tmp/clone")
    finally graft.streaming.Replay.deleteRecursively(tmp)
  }

  private def df(s: SparkSession, from: Long, until: Long): DataFrame =
    s.range(from, until).selectExpr("id AS k", "id % 7 AS v",
      "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'de' END AS lang")

  private def rows(d: DataFrame): Set[(Long, Long)] =
    d.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def manifestText(root: String, v: Long): String =
    new String(Files.readAllBytes(
      Paths.get(root, "_manifests", f"v$v%09d.txt")),
      java.nio.charset.StandardCharsets.UTF_8)

  test("clone == source at the cloned version; format 7; txn lines dropped") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 100),
        txn = Some(("writer-a", 3L)))
      TxTable.commit(spark, src, df(spark, 100, 150), TxTable.Append)
      assert(TxTable.clone(spark, src, tgt) == 0L)
      assert(rows(TxTable.read(spark, tgt)) == rows(TxTable.read(spark, src)))
      val snap = TxTable.currentSnapshot(tgt).get
      assert(snap.files.nonEmpty && snap.files.forall(_.startsWith("/")),
        "clone entries must be absolute (foreign)")
      assert(snap.txns.isEmpty, "writer idempotence must NOT carry")
      assert(manifestText(tgt, 0L).contains("format 7"))
      assert(snap.op.exists(_.startsWith("clone ")))
      // rows lines carried: history-grade metadata without reopening footers
      assert(snap.rowCounts.values.sum == 150L)
    }
  }

  test("streamed rewrite == parse-and-absolutize, field by field (grammar pin)") {
    // the r18 clone never builds a Snapshot — it rewrites manifest lines
    // in a stream. This pin holds the OTHER grammar site (parse, then
    // absolutize every map like the r17 clone did) against it over a
    // maximal-feature manifest: stats, exact sums, rows, blooms, CHECK,
    // column mapping, partition values WITH SPACES (the right-parse
    // hazard), bucket layout, and live DVs. If the streamed rewrite's
    // per-type field counts ever drift from the parser's, this fails.
    withRoots { (src, tgt) =>
      val d = spark.range(0, 60).selectExpr("id AS k", "id % 5 AS v",
        "CASE WHEN id % 2 = 0 THEN 'north america' " +
          "ELSE 'old world' END AS region",
        "concat('tag-', lpad(CAST(id % 7 AS STRING), 2, '0')) AS tag")
      TxTable.commit(spark, src, d, TxTable.Overwrite,
        partitionBy = Some("region"), statsCols = Seq("v", "tag"),
        bloomCols = Seq("k"), sumCols = Seq("v"),
        bucketBy = Some(("k", 4)))
      TxTable.addCheck(spark, src, "k_nonneg", "k >= 0")
      TxTable.renameColumn(spark, src, "v", "w")
      TxTable.deleteWhere(spark, src, col("k") === 3L)
      TxTable.clone(spark, src, tgt)
      val srcAbs = Paths.get(src).toAbsolutePath.normalize.toString
      def abs(f: String) = if (f.startsWith("/")) f else s"$srcAbs/$f"
      val s0 = TxTable.currentSnapshot(src).get
      val c = TxTable.currentSnapshot(tgt).get
      assert(c.files == s0.files.map(abs))
      assert(c.txns.isEmpty)
      assert(c.stats == s0.stats.map { case (k, e) => abs(k) -> e })
      assert(c.schema == s0.schema)
      assert(c.rowCounts == s0.rowCounts.map { case (k, n) => abs(k) -> n })
      assert(c.dvs == s0.dvs.map { case (k, es) =>
        abs(k) -> es.map { case (b, n) => (abs(b), n) } })
      assert(c.blooms == s0.blooms.map { case (k, e) => abs(k) -> e })
      assert(c.checks == s0.checks)
      assert(c.parts == s0.parts.map { case (k, e) => abs(k) -> e })
      assert(c.renames == s0.renames && c.deadCols == s0.deadCols)
      assert(c.bucketSpec == s0.bucketSpec)
      assert(c.sums == s0.sums.map { case (k, e) => abs(k) -> e })
      assert(c.strStats == s0.strStats.map { case (k, e) => abs(k) -> e })
      assert(s0.strStats.nonEmpty, "fixture must exercise sstat lines")
      assert(c.op.exists(_.startsWith("clone ")))
      // format ratchet: string stats present -> the renderer says 9; the
      // streamed rewrite keeps max(srcFmt, 7) = 9 here
      assert(manifestText(tgt, 0L).contains("format 9"))
      // and the clone READS exactly like the source under the mapping
      assert(rows(TxTable.read(spark, tgt).select(col("k"), col("w").as("v"))) ==
        rows(TxTable.read(spark, src).select(col("k"), col("w").as("v"))))
    }
  }

  test("clone at versionAsOf pins the old snapshot") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 60))
      val v0 = rows(TxTable.read(spark, src))
      TxTable.commit(spark, src, df(spark, 60, 90), TxTable.Append)
      TxTable.clone(spark, src, tgt, versionAsOf = Some(0L))
      assert(rows(TxTable.read(spark, tgt)) == v0)
    }
  }

  test("histories are independent: appends and MoR deletes on either side") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 100))
      TxTable.clone(spark, src, tgt)
      // append lands relative in the clone's own root; source unchanged
      TxTable.commit(spark, tgt, df(spark, 1000, 1010), TxTable.Append)
      assert(TxTable.read(spark, tgt).count() == 110L)
      assert(TxTable.read(spark, src).count() == 100L)
      val head = TxTable.currentSnapshot(tgt).get
      assert(head.files.exists(_.startsWith("data/")) &&
        head.files.exists(_.startsWith("/")), "spellings mix freely")
      // MoR delete on the CLONE DVs a FOREIGN file (identity mapping):
      // rows vanish from the clone only, and the dv line keys the
      // absolute entry (a dropped line would resurrect the rows)
      TxTable.deleteWhere(spark, tgt, col("k") < 10)
      assert(TxTable.read(spark, tgt).count() == 100L)
      assert(TxTable.read(spark, src).count() == 100L)
      val snap = TxTable.currentSnapshot(tgt).get
      assert(snap.dvs.keys.forall(_.startsWith("/")),
        "dv lines must key the foreign (absolute) entries")
      // source-side delete after the clone: clone pinned, unaffected
      TxTable.deleteWhere(spark, src, col("k") >= 90)
      assert(TxTable.read(spark, src).count() == 90L)
      assert(TxTable.read(spark, tgt).count() == 100L)
    }
  }

  test("live source DVs carry: a clone of a MoR snapshot excludes deleted rows") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 100))
      TxTable.deleteWhere(spark, src, col("k") >= 80)
      TxTable.clone(spark, src, tgt)
      assert(rows(TxTable.read(spark, tgt)) == rows(TxTable.read(spark, src)))
      assert(TxTable.read(spark, tgt).count() == 80L)
      // purge on the clone materializes: self-contained, format drops
      TxTable.purgeDeletes(spark, tgt)
      assert(TxTable.read(spark, tgt).count() == 80L)
      val head = TxTable.currentSnapshot(tgt).get
      assert(head.dvs.isEmpty)
    }
  }

  test("optimize self-contains the clone and ratchets the format back down") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 100))
      TxTable.clone(spark, src, tgt)
      TxTable.optimize(spark, tgt, targetFiles = 2)
      val head = TxTable.currentSnapshot(tgt).get
      assert(head.files.forall(_.startsWith("data/")), "fully materialized")
      assert(!manifestText(tgt, head.version).contains("format 7"))
      assert(TxTable.read(spark, tgt).count() == 100L)
      // and the materialized clone survives the SOURCE vanishing
      graft.streaming.Replay.deleteRecursively(Paths.get(src))
      assert(TxTable.read(spark, tgt).count() == 100L)
    }
  }

  test("carried stats prune on the clone; fsck is clean; sizes resolve") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 1000), clusterBy = Some("k"))
      TxTable.clone(spark, src, tgt)
      val pruned = TxPrune.files(spark, tgt, col("k").between(0, 10))
      val all = TxTable.currentSnapshot(tgt).get.files
      assert(pruned.size < all.size, "carried stat lines must prune")
      assert(TxTable.fsck(spark, tgt).isEmpty)
      // compactSmall sizes foreign entries through dataPath (a root-join
      // of an absolute path would throw NoSuchFile)
      TxTable.compactSmall(spark, tgt, minBytes = 1L)
      assert(TxTable.read(spark, tgt).count() == 1000L)
    }
  }

  test("bucket layout carries: clone joins the source's sibling with zero exchanges") {
    withRoots { (src, tgt) =>
      val ss = spark.newSession()
      ss.conf.set("spark.sql.adaptive.enabled", "false")
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      TxTable.commit(ss, src, df(ss, 0, 500), bucketBy = Some(("k", 4)))
      TxTable.clone(ss, src, tgt)
      assert(TxTable.currentSnapshot(tgt).get.bucketSpec
        .contains((4, Seq("k"))))
      val a = ss.read.format("tx").load(tgt).select("k", "v")
      val b = ss.read.format("tx").load(src)
        .select(col("k").as("k2"), col("v").as("v2"))
      val j = a.join(b, a("k") === b("k2")).groupBy("k").count()
      val plan = j.queryExecution.executedPlan
      assert(plan.collect { case s: SortMergeJoinExec => s }.nonEmpty)
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "bucketed clone ⋈ bucketed source must plan no exchange")
      assert(j.count() == 500L)
    }
  }

  test("partition surface + metadata-only aggregates answer on the clone") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 200),
        partitionBy = Some("lang"))
      TxTable.clone(spark, src, tgt)
      // surfaced posture: real partitionSchema over FOREIGN files
      val surf = spark.read.format("tx")
        .option("partitionedRead", "true").load(tgt)
      assert(surf.filter(col("lang") === "en").count() ==
        TxTable.read(spark, src).filter(col("lang") === "en").count())
      // metadata-only grouped count: no relation left in the plan
      val agg = spark.read.format("tx").load(tgt)
        .groupBy("lang").agg(count(lit(1)).as("n"))
      val opt = agg.queryExecution.optimizedPlan
      assert(opt.collect { case lr: LogicalRelation => lr }.isEmpty &&
        opt.collect { case l: LocalRelation => l }.nonEmpty,
        "grouped count must answer from the carried manifest lines")
      val n = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(n("en") == 67L && n("de") == 133L)
    }
  }

  test("CDF on the clone: v0 is opaque, appends and MoR deletes read as changes") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 50))
      TxTable.clone(spark, src, tgt)
      TxTable.commit(spark, tgt, df(spark, 50, 60), TxTable.Append)
      TxTable.deleteWhere(spark, tgt, col("k") === 3L)
      val cdf = graft.operators.TxChangeFeed
        .readChangeFeed(spark, tgt, 0L, 2L, "k")
      val byType = cdf.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType.get("insert").contains(10L), s"got $byType")
      // the deleted row materializes by reading the FOREIGN file back
      assert(byType.get("delete").contains(1L), s"got $byType")
    }
  }

  test("clone vacuum never touches foreign files; source vacuum is the documented hazard") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 100))
      TxTable.clone(spark, src, tgt)
      TxTable.commit(spark, tgt, df(spark, 100, 110), TxTable.Append)
      TxTable.vacuum(tgt, keepVersions = 1)
      assert(TxTable.read(spark, src).count() == 100L)
      assert(TxTable.read(spark, tgt).count() == 110L)
      // the hazard, pinned as a loud failure not silent wrong answers:
      // source OVERWRITES then vacuums the cloned version's files away
      TxTable.commit(spark, src, df(spark, 0, 5), TxTable.Overwrite)
      TxTable.vacuum(src, keepVersions = 1)
      val broken = intercept[Exception](TxTable.read(spark, tgt).count())
      assert(broken != null)
    }
  }

  test("column mapping carries: renamed logical names read on the clone") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 40))
      TxTable.renameColumn(spark, src, "v", "val")
      TxTable.clone(spark, src, tgt)
      val d = TxTable.read(spark, tgt)
      assert(d.columns.contains("val") && !d.columns.contains("v"))
      assert(d.agg(sum("val")).head.getLong(0) ==
        (0L until 40L).map(_ % 7).sum)
    }
  }

  test("clone of a clone: foreign entries stay pinned to the ORIGINAL files") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 50))
      TxTable.clone(spark, src, tgt)
      TxTable.commit(spark, tgt, df(spark, 50, 60), TxTable.Append)
      val tgt2 = s"${tgt}_2"
      TxTable.clone(spark, tgt, tgt2)
      // the grand-clone reads the union; its foreign entries point at
      // BOTH roots (original absolute entries carried verbatim, the
      // mid-clone's own relative appends absolutized against ITS root)
      assert(rows(TxTable.read(spark, tgt2)) == rows(TxTable.read(spark, tgt)))
      val snap = TxTable.currentSnapshot(tgt2).get
      assert(snap.files.forall(_.startsWith("/")))
      assert(snap.files.exists(_.contains("/src/")) &&
        snap.files.exists(_.contains("/clone/")))
      // and it evolves independently of both ancestors
      TxTable.deleteWhere(spark, tgt2, col("k") < 5)
      assert(TxTable.read(spark, tgt2).count() == 55L)
      assert(TxTable.read(spark, tgt).count() == 60L)
      assert(TxTable.read(spark, src).count() == 50L)
    }
  }

  test("tx_clone TVF performs the clone and reports the receipt") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 30))
      val r = spark.sql(s"SELECT * FROM tx_clone('$src', '$tgt')").head()
      assert(r.getString(0).startsWith("clone:") && r.getLong(1) == 0L)
      assert(spark.sql(s"SELECT count(*) FROM tx_read('$tgt')")
        .head().getLong(0) == 30L)
    }
  }

  test("refusals: non-empty target, self-clone") {
    withRoots { (src, tgt) =>
      TxTable.commit(spark, src, df(spark, 0, 10))
      TxTable.commit(spark, tgt, df(spark, 0, 10))
      intercept[IllegalArgumentException](TxTable.clone(spark, src, tgt))
      intercept[IllegalArgumentException](TxTable.clone(spark, src, src))
    }
  }
}
