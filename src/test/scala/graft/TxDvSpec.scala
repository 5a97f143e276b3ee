package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TxTable

/** Merge-on-read DELETE via deletion vectors ([[TxTable.deleteWhere]] /
  * [[TxTable.purgeDeletes]]): position-level deletes that rewrite no data
  * file, applied on the read side inside the parquet reader by (file,
  * physical row index).
  * Pins the contracts result-identity alone can't see: file lists
  * untouched by a delete, DV accumulation across deletes, materialization
  * on purge AND on every copy-on-write path (merge/deleteRange/optimize),
  * time-travel isolation, vacuum keeping DV blobs alive, and live-row
  * history accounting.
  */
class TxDvSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def withRoot(f: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_txdv_")
    try f(s"$tmp/t") finally graft.streaming.Replay.deleteRecursively(tmp)
  }

  private def ids(root: String): Set[Long] =
    TxTable.read(spark, root).select("id").collect().map(_.getLong(0)).toSet

  private def seed(root: String, n: Int = 40): Long = {
    import spark.implicits._
    TxTable.commit(spark, root,
      (1 to n).map(i => (i.toLong, s"s$i", i % 4)).toDF("id", "s", "grp"),
      clusterBy = Some("id"))
  }

  test("updateWhere: one atomic MoR commit — originals DV out, images append, " +
      "no original file touched") {
    withRoot { root =>
      seed(root)
      val before = TxTable.currentSnapshot(root).get
      val v = TxTable.updateWhere(spark, root, col("grp") === 1,
        Seq("s" -> concat(lit("u-"), col("s"))))
      assert(v == 1L, "one version for the whole update")
      val snap = TxTable.currentSnapshot(root).get
      assert(before.files.toSet.subsetOf(snap.files.toSet),
        "original files must be untouched")
      assert(snap.files.size > before.files.size, "images appended")
      assert(snap.dvs.nonEmpty)
      val rows = TxTable.read(spark, root).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.size == 40)
      (1 to 40).foreach { i =>
        val want = if (i % 4 == 1) s"u-s$i" else s"s$i"
        assert(rows(i.toLong) == want, s"row $i")
      }
      // a second update sees post-update values and never resurrects:
      // match the updated rows again, tweak grp
      TxTable.updateWhere(spark, root, col("s").startsWith("u-"),
        Seq("grp" -> lit(9)))
      val g = TxTable.read(spark, root)
        .groupBy("grp").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(g(9) == 10L && !g.contains(1))
      assert(TxTable.read(spark, root).count() == 40L)
      // time travel: v0 is the pre-update content
      assert(TxTable.readVersion(spark, root, 0L)
        .filter(col("s").startsWith("u-")).count() == 0L)
      // purge materializes both updates; content unchanged
      TxTable.purgeDeletes(spark, root)
      assert(TxTable.read(spark, root).count() == 40L)
      assert(TxTable.currentSnapshot(root).get.dvs.isEmpty)
    }
  }

  test("updateWhere refusals and layout contracts") {
    withRoot { root =>
      seed(root)
      // schema may not change: type-altering set refuses pre-publish
      val before = TxTable.versions(root).size
      intercept[IllegalArgumentException](
        TxTable.updateWhere(spark, root, col("grp") === 1,
          Seq("s" -> col("id"))))
      intercept[IllegalArgumentException](
        TxTable.updateWhere(spark, root, col("grp") === 1,
          Seq("nope" -> lit(1))))
      assert(TxTable.versions(root).size == before, "nothing published")
      // matching nothing: no new version
      assert(TxTable.updateWhere(spark, root, col("id") > 999L,
        Seq("grp" -> lit(7))) == TxTable.currentVersion(root).get)
    }
    withRoot { root =>
      import spark.implicits._
      // bucketed parent: the update's image files re-bucket through the
      // same pmod(murmur3) (r19) — the declaration CARRIES and the read
      // stays exact
      TxTable.commit(spark, root,
        (1 to 40).map(i => (i.toLong, i % 4)).toDF("id", "grp"),
        bucketBy = Some(("id", 4)))
      TxTable.updateWhere(spark, root, col("grp") === 0,
        Seq("grp" -> lit(5)))
      assert(TxTable.currentSnapshot(root).get.bucketSpec
        .contains((4, Seq("id"))))
      assert(TxTable.read(spark, root)
        .filter(col("grp") === 5).count() == 10L)
    }
    withRoot { root =>
      import spark.implicits._
      // partitioned parent: images re-land with part lines — the
      // surfaced posture survives the update
      TxTable.commit(spark, root,
        (1 to 30).map(i => (i.toLong, Seq("a", "b", "c")(i % 3)))
          .toDF("id", "lang"),
        partitionBy = Some("lang"))
      TxTable.updateWhere(spark, root, col("id") <= 6L,
        Seq("id" -> (col("id") + 100L)))
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.files.forall(f =>
        snap.parts.getOrElse(f, Seq.empty).exists(_._1 == "lang")))
      val surf = spark.read.format("tx")
        .option("partitionedRead", "true").load(root)
      assert(surf.filter(col("lang") === "a").count() == 10L)
      assert(surf.filter(col("id") > 100L).count() == 6L)
    }
  }

  test("change feed reads update_mor as pre/post image pairs; SQL tx_update routes") {
    withRoot { root =>
      seed(root)
      spark.sql(s"SELECT * FROM tx_update('$root', 'grp = 2', 's', " +
        "'concat(s, chr(33))')").head()
      val cdf = graft.operators.TxChangeFeed
        .readChangeFeed(spark, root, 0L, 1L, "id")
      val byType = cdf.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType == Map("update_preimage" -> 10L,
        "update_postimage" -> 10L), s"got $byType")
      // pre/post pair up by key with the expected values
      val posts = cdf.filter(col("_change_type") === "update_postimage")
        .select("id", "s").collect().map(r => r.getLong(0) -> r.getString(1))
      assert(posts.forall { case (i, v) => v == s"s$i!" })
    }
  }

  test("deleteWhere removes matched rows without touching any data file") {
    withRoot { root =>
      seed(root)
      val before = TxTable.currentSnapshot(root).get
      val v = TxTable.deleteWhere(spark, root, col("grp") === 1)
      assert(v == 1L)
      val after = TxTable.currentSnapshot(root).get
      // merge-on-read: identical data-file list, only dv lines added
      assert(after.files == before.files)
      assert(after.dvs.nonEmpty)
      assert(ids(root) == (1L to 40L).filterNot(_ % 4 == 1).toSet)
      // pinned time travel: v0 still reads the full table
      assert(TxTable.readVersion(spark, root, 0L).count() == 40L)
    }
  }

  test("deletes accumulate across commits; already-deleted positions are " +
      "not re-recorded (history live-row counts stay exact)") {
    withRoot { root =>
      seed(root)
      TxTable.deleteWhere(spark, root, col("grp") === 1) // 10 rows
      // overlaps the first delete: grp=1 rows are already gone
      TxTable.deleteWhere(spark, root, col("id") <= 20) // 15 fresh
      assert(ids(root) ==
        (21L to 40L).filterNot(_ % 4 == 1).toSet)
      val h = TxTable.history(spark, root).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(h(0L) == 40L && h(1L) == 30L && h(2L) == 15L)
      // disjointness: total dv-recorded positions equal rows removed
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.dvs.values.flatten.map(_._2).sum == 25L)
    }
  }

  test("deleteWhere matching nothing is a no-op (no new version)") {
    withRoot { root =>
      seed(root)
      assert(TxTable.deleteWhere(spark, root, col("id") > 999) == 0L)
      assert(TxTable.versions(root) == Seq(0L))
    }
  }

  /** The head's files whose recorded id range meets [lo, hi] — the
    * ground truth a `prune = Seq(("id", lo, hi))` scan must plan.
    */
  private def idRangeFiles(root: String, lo: Double,
      hi: Double): Set[String] = {
    val snap = TxTable.currentSnapshot(root).get
    snap.files.filter { f =>
      snap.stats(f).find(_._1 == "id").exists { case (_, mn, mx, _) =>
        mx >= lo && mn <= hi }
    }.toSet
  }

  /** Which of `root`'s snapshot files the queries run by `body` actually
    * scanned, read off every executed plan's file scans — a silently
    * lost prune shows up here as extra files even when answers stay
    * right.
    */
  private def scannedFiles(root: String)(body: => Unit): Set[String] = {
    val snapFiles = TxTable.currentSnapshot(root).get.files
    val byPath = snapFiles.map(f =>
      new Path(TxTable.absFile(root, f)).toUri.getPath -> f).toMap
    val seen = ConcurrentHashMap.newKeySet[String]()
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(fn: String, qe: QueryExecution,
          ns: Long): Unit =
        collect(qe.executedPlan) { case f: FileSourceScanExec => f }
          .foreach(_.relation.location.inputFiles.foreach(seen.add))
      override def onFailure(fn: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.flatMap(p => byPath.get(new Path(p).toUri.getPath)).toSet
  }

  test("prune conjuncts narrow the delete scan to stat-intersecting files") {
    withRoot { root =>
      seed(root)
      val snap = TxTable.currentSnapshot(root).get
      // clusterBy id wrote 8 range-tight files; a delete pruned to a
      // narrow id range must scan, and record DVs against, only the
      // files whose stats meet the range
      val inRange = idRangeFiles(root, 1.0, 5.0)
      assert(inRange.nonEmpty && inRange.size < snap.files.size)
      val scanned = scannedFiles(root) {
        TxTable.deleteWhere(spark, root, col("id").between(1, 5),
          prune = Seq(("id", 1.0, 5.0)))
      }
      assert(scanned == inRange)
      val touched = TxTable.currentSnapshot(root).get.dvs.keySet
      assert(touched.subsetOf(inRange) && touched.nonEmpty)
      assert(ids(root) == (6L to 40L).toSet)
    }
  }

  test("prune conjuncts narrow the update scan to stat-intersecting files") {
    withRoot { root =>
      seed(root)
      val snap = TxTable.currentSnapshot(root).get
      val inRange = idRangeFiles(root, 12.0, 22.0)
      assert(inRange.size > 1 && inRange.size < snap.files.size)
      val scanned = scannedFiles(root) {
        TxTable.updateWhere(spark, root, col("id").between(12, 22),
          Seq("s" -> lit("u")), prune = Seq(("id", 12.0, 22.0)))
      }
      assert(scanned == inRange)
      assert(TxTable.currentSnapshot(root).get.dvs.keySet.subsetOf(inRange))
      val rows = TxTable.read(spark, root).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.size == 40 && (1L to 40L).forall(i =>
        rows(i) == (if (i >= 12 && i <= 22) "u" else s"s$i")))
    }
  }

  test("purgeDeletes materializes DVs: dv lines gone, untouched files " +
      "carried, content identical, table re-skippable") {
    withRoot { root =>
      seed(root)
      TxTable.deleteWhere(spark, root, col("id").between(1, 5),
        prune = Seq(("id", 1.0, 5.0)))
      val withDv = TxTable.currentSnapshot(root).get
      val expected = ids(root)
      TxTable.purgeDeletes(spark, root)
      val purged = TxTable.currentSnapshot(root).get
      assert(purged.dvs.isEmpty)
      assert(ids(root) == expected)
      // files the delete never touched are carried forward byte-identical
      val untouched = withDv.files.filterNot(withDv.dvs.contains).toSet
      assert(untouched.subsetOf(purged.files.toSet))
      // stats re-recorded on the rewritten files: pruning still works
      assert(purged.files.forall(f => purged.stats.contains(f)))
      // purge on a DV-free table is a no-op
      assert(TxTable.purgeDeletes(spark, root) == purged.version)
    }
  }

  test("copy-on-write paths materialize DVs instead of resurrecting: " +
      "mergeByKeyPruned, deleteRange, optimize") {
    import spark.implicits._
    withRoot { root =>
      seed(root)
      TxTable.deleteWhere(spark, root, col("id") === 7)
      // a merge touching id=7's file must NOT bring the row back
      TxTable.mergeByKeyPruned(spark, root,
        Seq((8L, "updated", 0)).toDF("id", "s", "grp"), "id")
      assert(!ids(root).contains(7L))
      assert(TxTable.read(spark, root).filter(col("id") === 8)
        .select("s").head().getString(0) == "updated")
      // deleteRange over a straddling file with a DV keeps both contracts
      TxTable.deleteWhere(spark, root, col("id") === 22)
      TxTable.deleteRange(spark, root, "id", 20.0, 21.0)
      assert(!ids(root).contains(22L) && !ids(root).contains(20L))
      // optimize is a full rewrite: all DV lines disappear, content kept
      val expected = ids(root)
      TxTable.optimize(spark, root, 4, clusterBy = Seq("id"))
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.dvs.isEmpty && ids(root) == expected)
    }
  }

  test("vacuum keeps DV blobs referenced by retained manifests readable") {
    withRoot { root =>
      seed(root)
      TxTable.deleteWhere(spark, root, col("grp") === 2)
      val expected = ids(root)
      TxTable.vacuum(root, keepVersions = 1)
      assert(ids(root) == expected) // dv blob survived the orphan sweep
    }
  }

  test("pruned format(tx) read applies DVs on the pruned subset") {
    withRoot { root =>
      seed(root)
      TxTable.deleteWhere(spark, root, col("id") === 3)
      val got = spark.read.format("tx").load(root)
        .filter(col("id").between(1, 10))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == (1L to 10L).toSet - 3L)
    }
  }

  test("in-reader DVs: a pushed filter skips early row groups, the deleted " +
      "positions sit in a later one") {
    withRoot { root =>
      val ss = spark.newSession()
      // small row groups, so the one data file holds several, and small
      // pages, so column-index filtering can skip pages inside a group
      ss.conf.set("parquet.block.size", "4096")
      ss.conf.set("parquet.block.size.row.check.min", "50")
      ss.conf.set("parquet.block.size.row.check.max", "50")
      ss.conf.set("parquet.page.row.count.limit", "20")
      TxTable.commit(ss, root,
        ss.range(0, 3000).selectExpr("id", "id * 3 AS v").coalesce(1))
      val file = TxTable.currentSnapshot(root).get.files match {
        case Seq(one) => one
        case many => fail(s"premise: one data file, got ${many.size}")
      }
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(TxTable.absFile(root, file)),
          ss.sessionState.newHadoopConf()))
      val groups = try reader.getFooter.getBlocks.size finally reader.close()
      assert(groups >= 4, s"premise: several row groups, got $groups")
      val deleted = Set(2503L, 2600L, 2750L, 2999L)
      TxTable.deleteWhere(ss, root, col("id").isin(deleted.toSeq: _*))
      val df = ss.read.format("tx").load(root).filter(col("id") >= 2500L)
      assert(df.select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        (2500L until 3000L).filterNot(deleted).map(i => i -> i * 3).toMap)
      // row groups below 2500 were skipped, so the in-reader row index
      // had to stay physical for the later group's positions to match
      object H extends AdaptiveSparkPlanHelper
      val emitted = H.collect(df.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f.metrics("numOutputRows").value
      }.sum
      assert(emitted < 3000L - deleted.size,
        s"no row group was skipped ($emitted rows emitted)")
    }
  }

  test("a clone carries its source's DVs; a delete on the clone adds its own") {
    withRoot { root =>
      seed(root)
      TxTable.deleteWhere(spark, root, col("id") <= 5L)
      val tgt = s"${root}_clone"
      TxTable.clone(spark, root, tgt)
      val snap = TxTable.currentSnapshot(tgt).get
      assert(snap.files.forall(_.startsWith("/")) && TxTable.hasLiveDvs(snap),
        "premise: foreign entries carrying the source's DVs")
      def txIds(r: String): Set[Long] = spark.read.format("tx").load(r)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(txIds(tgt) == (6L to 40L).toSet)
      assert(ids(tgt) == (6L to 40L).toSet)
      TxTable.deleteWhere(spark, tgt, col("id") === 7L)
      assert(txIds(tgt) == (6L to 40L).toSet - 7L)
      assert(txIds(root) == (6L to 40L).toSet, "the source is untouched")
    }
  }

  test("deleteWhere racing concurrent appends: claim-retry serializes, " +
      "no lost append, no resurrected row, versions dense") {
    import spark.implicits._
    withRoot { root =>
      seed(root)
      val threads = (1 to 3).map { i =>
        new Thread(() => {
          TxTable.commit(spark, root,
            Seq((100L + i, s"a$i", 9)).toDF("id", "s", "grp"),
            TxTable.Append)
        })
      } :+ new Thread(() => {
        TxTable.deleteWhere(spark, root, col("id") <= 10L)
        ()
      })
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(TxTable.versions(root) == (0L to 4L))
      // appended ids don't match the predicate, so every serialization
      // yields the same final content
      assert(ids(root) == ((11L to 40L).toSet ++ Set(101L, 102L, 103L)))
    }
  }

  test("two racing overlapping deleteWhere commits keep dv counts " +
      "disjoint (history live-rows stay exact)") {
    withRoot { root =>
      seed(root)
      val ts = Seq(
        new Thread(() => { TxTable.deleteWhere(spark, root,
          col("id") <= 20L); () }),
        new Thread(() => { TxTable.deleteWhere(spark, root,
          col("id").between(11L, 30L)); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(ids(root) == (31L to 40L).toSet)
      val snap = TxTable.currentSnapshot(root).get
      // 30 rows deleted once each, never double-recorded
      assert(snap.dvs.values.flatten.map(_._2).sum == 30L)
      val h = TxTable.history(spark, root).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(h(2L) == 10L)
    }
  }

  test("append after a MoR delete carries the parent's DVs forward") {
    import spark.implicits._
    withRoot { root =>
      seed(root)
      TxTable.deleteWhere(spark, root, col("id") === 1)
      TxTable.commit(spark, root,
        Seq((41L, "s41", 1)).toDF("id", "s", "grp"), TxTable.Append)
      assert(ids(root) == ((2L to 41L).toSet))
    }
  }
}
