package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{TxTable, Upsert}

class TxTableSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def withRoot(f: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_txspec_")
    try f(s"$tmp/t") finally graft.streaming.Replay.deleteRecursively(tmp)
  }

  private def rows(root: String): Set[(Long, String)] =
    TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("commit/read round trip, dense versions, pinned snapshot read") {
    import spark.implicits._
    withRoot { root =>
      assert(TxTable.currentVersion(root).isEmpty)
      intercept[java.io.IOException](TxTable.read(spark, root))
      val v0 = TxTable.commit(spark, root,
        Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
      assert(v0 == 0L)
      assert(rows(root) == Set((1L, "a"), (2L, "b")))
      // a snapshot DataFrame resolved BEFORE a later commit still reads
      // the old version (explicit file list, not directory listing)
      val pinned = TxTable.read(spark, root)
      TxTable.commit(spark, root, Seq((9L, "z")).toDF("id", "s"))
      assert(pinned.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      assert(TxTable.versions(root) == Seq(0L, 1L))
    }
  }

  test("overwrite advances the head; time travel reads any retained version") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "old")).toDF("id", "s"))
      TxTable.commit(spark, root, Seq((2L, "new")).toDF("id", "s"))
      assert(rows(root) == Set((2L, "new")))
      assert(TxTable.readVersion(spark, root, 0L).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "old")))
    }
  }

  test("append references the parent's files — no data rewrite") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
      val parentFiles = TxTable.currentSnapshot(root).get.files.toSet
      TxTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"),
        TxTable.Append)
      val head = TxTable.currentSnapshot(root).get.files.toSet
      assert(parentFiles.subsetOf(head), "append dropped parent files")
      assert(head.size > parentFiles.size)
      assert(rows(root) == Set((1L, "a"), (2L, "b")))
    }
  }

  test("mergeByKey publishes exactly Upsert.mergeByKey of the head") {
    import spark.implicits._
    withRoot { root =>
      val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
      val upd = Seq((2L, "B"), (4L, "D")).toDF("id", "s")
      TxTable.commit(spark, root, base)
      TxTable.mergeByKey(spark, root, upd, Seq("id"))
      val expect = Upsert.mergeByKey(base, upd, Seq("id")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows(root) == expect)
      assert(rows(root) == Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
    }
  }

  test("a crashed writer's data dir is invisible; vacuum reclaims it") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
      // simulate a writer that died before publishing its manifest
      Seq((99L, "dead")).toDF("id", "s")
        .write.parquet(s"$root/data/w-crashed")
      assert(rows(root) == Set((1L, "a")))
      TxTable.vacuum(root)
      assert(!Files.exists(Paths.get(root, "data", "w-crashed")))
      assert(rows(root) == Set((1L, "a")))
    }
  }

  test("vacuum drops old versions but keeps retained ones readable") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "v0")).toDF("id", "s"))
      TxTable.commit(spark, root, Seq((2L, "v1")).toDF("id", "s"))
      TxTable.commit(spark, root, Seq((3L, "v2")).toDF("id", "s"))
      TxTable.vacuum(root, keepVersions = 2)
      assert(TxTable.versions(root) == Seq(1L, 2L))
      assert(TxTable.readVersion(spark, root, 1L).collect()
        .map(_.getLong(0)).toSet == Set(2L))
      assert(rows(root) == Set((3L, "v2")))
      intercept[Exception](TxTable.readVersion(spark, root, 0L).collect())
    }
  }

  test("corrupt manifest fails loudly, never silently skips") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
      Files.write(Paths.get(root, "_manifests", "v000000001.txt"),
        java.util.Arrays.asList("graft-txtable-v1", "data/w-x/p.parquet"))
      val ex = intercept[java.io.IOException](TxTable.read(spark, root))
      assert(ex.getMessage.contains("corrupt"))
    }
  }

  test("protocol versioning: a newer-format manifest is refused, an " +
      "unrecognized line type is never misread as a file path, and " +
      "pre-format manifests still parse") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
      val rel = TxTable.currentSnapshot(root).get.files.head
      // a hypothetical future-format writer's manifest: reader must
      // refuse (format 10 = delta manifests is now real, so the
      // future is 11)
      Files.write(Paths.get(root, "_manifests", "v000000001.txt"),
        java.util.Arrays.asList("graft-txtable-v1", "format 11",
          "futurefeature xyz", rel, "COMMIT"))
      val ex = intercept[java.io.IOException](TxTable.read(spark, root))
      assert(ex.getMessage.contains("format 11"))
      // same unknown line WITHOUT the format bump: rejected as corrupt,
      // not opened as a parquet path
      Files.write(Paths.get(root, "_manifests", "v000000001.txt"),
        java.util.Arrays.asList("graft-txtable-v1", "format 2",
          "futurefeature xyz", rel, "COMMIT"))
      val ex2 = intercept[java.io.IOException](TxTable.read(spark, root))
      assert(ex2.getMessage.contains("unrecognized line"))
      // a pre-format (round-11-era) manifest: no format line, parses as 1
      Files.write(Paths.get(root, "_manifests", "v000000001.txt"),
        java.util.Arrays.asList("graft-txtable-v1", rel, "COMMIT"))
      assert(TxTable.read(spark, root).count() == 1L)
    }
  }

  test("concurrent append committers all land; no lost update") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((0L, "base")).toDF("id", "s"))
      val threads = (1 to 4).map { i =>
        new Thread(() => {
          TxTable.commit(spark, root, Seq((i.toLong, s"t$i")).toDF("id", "s"),
            TxTable.Append)
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(TxTable.versions(root) == (0L to 4L))
      assert(rows(root) ==
        Set((0L, "base")) ++ (1 to 4).map(i => (i.toLong, s"t$i")))
    }
  }

  test("txn commit is idempotent per (appId, batchId) — replayed batch no-ops") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((0L, "base")).toDF("id", "s"))
      val v1 = TxTable.commit(spark, root, Seq((1L, "b0")).toDF("id", "s"),
        TxTable.Append, Some(("app", 0L)))
      // at-least-once replay of the same batch: same app, same batch id
      val v1r = TxTable.commit(spark, root, Seq((1L, "b0")).toDF("id", "s"),
        TxTable.Append, Some(("app", 0L)))
      assert(v1 == 1L && v1r == 1L, s"replay minted a new version: $v1r")
      assert(TxTable.versions(root) == Seq(0L, 1L))
      assert(rows(root) == Set((0L, "base"), (1L, "b0")))
      // the NEXT batch still commits
      val v2 = TxTable.commit(spark, root, Seq((2L, "b1")).toDF("id", "s"),
        TxTable.Append, Some(("app", 1L)))
      assert(v2 == 2L)
      assert(rows(root) ==
        Set((0L, "base"), (1L, "b0"), (2L, "b1")))
      // a DIFFERENT app's batch 0 is not confused with ours
      val v3 = TxTable.commit(spark, root, Seq((3L, "x0")).toDF("id", "s"),
        TxTable.Append, Some(("other", 0L)))
      assert(v3 == 3L)
      assert(TxTable.currentSnapshot(root).get.txns ==
        Map("app" -> 1L, "other" -> 0L))
    }
  }

  test("streamAppend double-fold: state and answer unchanged on replay") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, spark.emptyDataset[(Long, String)]
        .toDF("id", "s"))
      val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      val b1 = Seq((3L, "c")).toDF("id", "s")
      TxTable.streamAppend(root, "q")(b0, 0L)
      TxTable.streamAppend(root, "q")(b0, 0L) // crash-replay of batch 0
      TxTable.streamAppend(root, "q")(b1, 1L)
      TxTable.streamAppend(root, "q")(b1, 1L) // and of batch 1
      assert(TxTable.versions(root) == Seq(0L, 1L, 2L),
        "a replayed batch minted an extra version")
      assert(rows(root) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    }
  }

  test("clustered commit records footer stats; pruning drops dead files only") {
    import spark.implicits._
    withRoot { root =>
      val df = (1 to 800).map(i => (i.toLong, i * 10.0)).toDF("id", "v")
      TxTable.commit(spark, root, df, TxTable.Overwrite,
        clusterBy = Some("v"))
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.files.size > 1, "need multiple files to prove pruning")
      assert(snap.stats.keySet == snap.files.toSet,
        "every clustered file should carry stats")
      // a selective range must prune most range-clustered files...
      val pruned = TxPrune.files(spark, root, col("v").between(100.0, 200.0))
      assert(pruned.size < snap.files.size,
        s"no pruning: ${pruned.size} of ${snap.files.size}")
      // ...and the pruned read must equal the full filtered read exactly
      val got = spark.read.format("tx").load(root)
        .filter(col("v").between(100.0, 200.0))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val full = TxTable.read(spark, root)
        .filter(col("v") >= 100.0 && col("v") <= 200.0)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == full && got.size == 11)
      // stats on an unrelated column never prune
      assert(TxPrune.files(spark, root, col("id").between(100, 200)).size
        == snap.files.size)
      // append WITHOUT clustering: new files carry no stats, survive all
      // pruning, parent stats persist
      TxTable.commit(spark, root, Seq((9001L, 150.0)).toDF("id", "v"),
        TxTable.Append)
      val got2 = spark.read.format("tx").load(root)
        .filter(col("v").between(100.0, 200.0))
        .collect().map(_.getLong(0)).toSet
      assert(got2 == full.map(_._1) + 9001L)
    }
  }

  test("mergeByKeyPruned: untouched files carried forward byte-identical; " +
      "result equals full mergeByKey") {
    import spark.implicits._
    withRoot { root =>
      val base = (1 to 800).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      TxTable.commit(spark, root, base, TxTable.Overwrite,
        clusterBy = Some("id"))
      val v0 = TxTable.currentSnapshot(root).get
      assert(v0.files.size > 2, "need several files to prove carry-forward")
      // narrow-key updates: keys 100..140 updated, 9001 inserted
      val upd = ((100 to 140).map(i => (i.toLong, s"U$i")) :+
        (9001L, "NEW")).toDF("id", "s")
      TxTable.mergeByKeyPruned(spark, root, upd, "id")
      val v1 = TxTable.currentSnapshot(root).get
      val carried = v0.files.toSet.intersect(v1.files.toSet)
      assert(carried.nonEmpty,
        "pruned merge rewrote every file — no carry-forward happened")
      assert(carried.size < v0.files.size,
        "pruned merge touched nothing — the update range matched no file")
      // carried files keep their stats (the table stays skippable)
      carried.foreach(f => assert(v1.stats.contains(f),
        s"carried file $f lost its stats"))
      // and the visible result is exactly the unpruned merge's
      val expect = Upsert.mergeByKey(base, upd, Seq("id")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows(root) == expect)
    }
  }

  test("optimize: committed compaction — bounded files, stats appear, " +
      "content identical, pinned version untouched") {
    import spark.implicits._
    withRoot { root =>
      // CDC-style history: 4 unclustered appends, no stats anywhere
      val src = (1 to 400).map(i => (i.toLong, i * 10.0))
      (0 until 4).foreach { b =>
        TxTable.commit(spark, root,
          src.filter(_._1 % 4 == b).toDF("id", "v"),
          if (b == 0) TxTable.Overwrite else TxTable.Append)
      }
      val pre = TxTable.currentSnapshot(root).get
      assert(pre.stats.isEmpty)
      val preRows = TxTable.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val vOpt = TxTable.optimize(spark, root, targetFiles = 2,
        clusterBy = Seq("v"))
      val post = TxTable.currentSnapshot(root).get
      assert(vOpt == pre.version + 1)
      assert(post.files.size <= 2,
        s"optimize left ${post.files.size} files for target 2")
      assert(post.stats.keySet == post.files.toSet,
        "optimize should make every file skippable")
      // content identical; the pre-optimize version still time-travels
      assert(rows2(root) == preRows)
      assert(TxTable.readVersion(spark, root, pre.version).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet == preRows)
      // and the re-clustered layout actually prunes now: v spans 10..4000,
      // so a [0, 100] probe can only live in the low file
      assert(TxPrune.files(spark, root, col("v").between(0.0, 100.0)).size == 1)
    }
  }

  private def rows2(root: String): Set[(Long, Double)] =
    TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet

  test("additive schema evolution: appended new column reads as null " +
      "from older files") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
      TxTable.commit(spark, root,
        Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "s", "extra"),
        TxTable.Append)
      val got = TxTable.read(spark, root)
        .select("id", "s", "extra").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(got == Set((1L, "a", -1L), (2L, "b", -1L),
        (3L, "c", 30L), (4L, "d", 40L)))
    }
  }

  test("commitZOrdered: 2-D stats prune on EITHER dimension; conjunction " +
      "beats both 1-D prunings; pruned read exact") {
    import spark.implicits._
    withRoot { root =>
      // uniform 64x64 grid — Morton order tiles it into clean rectangles
      val grid = (for (x <- 0 until 64; y <- 0 until 64)
        yield (x.toLong, y.toLong, (x * 64 + y).toLong)).toDF("x", "y", "id")
      TxTable.commitZOrdered(spark, root, grid, "x", "y", targetFiles = 16)
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.files.size > 4)
      assert(snap.stats.values.forall(_.map(_._1).toSet == Set("x", "y")),
        "every file should carry stats on BOTH dimensions")
      val all = snap.files.size
      val px = TxPrune.files(spark, root, col("x").between(0, 15)).size
      val py = TxPrune.files(spark, root, col("y").between(0, 15)).size
      val pxy = TxPrune.files(spark, root,
        col("x").between(0, 15) && col("y").between(0, 15)).size
      assert(px < all, "x-range pruned nothing — not a 2-D layout")
      assert(py < all, "y-range pruned nothing — a 1-D sort would fail this")
      assert(pxy <= math.min(px, py),
        s"conjunction ($pxy) should not exceed either 1-D pruning ($px, $py)")
      val got = spark.read.format("tx").load(root)
        .filter(col("x").between(0, 15) && col("y").between(0, 15))
        .collect().map(_.getAs[Long]("id")).toSet
      val full = TxTable.read(spark, root)
        .filter(col("x") <= 15 && col("y") <= 15)
        .collect().map(_.getAs[Long]("id")).toSet
      assert(got == full && got.size == 256)
    }
  }

  test("commitZOrderedMulti: 3-D stats prune on EVERY axis; conjunction " +
      "<= each 1-D pruning; pruned read exact") {
    import spark.implicits._
    withRoot { root =>
      // uniform 16^3 grid — the 3-D Morton order tiles it into boxes
      val grid = (for (x <- 0 until 16; y <- 0 until 16; z <- 0 until 16)
        yield (x.toLong, y.toLong, z.toLong,
          (x * 256 + y * 16 + z).toLong)).toDF("x", "y", "z", "id")
      TxTable.commitZOrderedMulti(spark, root, grid, Seq("x", "y", "z"),
        targetFiles = 16)
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.files.size > 4)
      assert(snap.stats.values.forall(_.map(_._1).toSet == Set("x", "y", "z")),
        "every file should carry stats on ALL THREE dimensions")
      val all = snap.files.size
      val px = TxPrune.files(spark, root, col("x").between(0, 3)).size
      val py = TxPrune.files(spark, root, col("y").between(0, 3)).size
      val pz = TxPrune.files(spark, root, col("z").between(0, 3)).size
      val pxyz = TxPrune.files(spark, root, col("x").between(0, 3) &&
        col("y").between(0, 3) && col("z").between(0, 3)).size
      assert(px < all, "x-range pruned nothing — not a multi-D layout")
      assert(py < all, "y-range pruned nothing — a 1-D sort would fail this")
      assert(pz < all, "z-range pruned nothing — 2-D zorder would fail this")
      assert(pxyz <= Seq(px, py, pz).min,
        s"conjunction ($pxyz) should not exceed any 1-D pruning " +
          s"($px, $py, $pz)")
      val got = spark.read.format("tx").load(root)
        .filter(col("x").between(0, 3) && col("y").between(0, 3) &&
          col("z").between(0, 3))
        .collect().map(_.getAs[Long]("id")).toSet
      val full = TxTable.read(spark, root)
        .filter(col("x") <= 3 && col("y") <= 3 && col("z") <= 3)
        .collect().map(_.getAs[Long]("id")).toSet
      assert(got == full && got.size == 64)
    }
  }

  test("deleteRange: contained files drop metadata-only, disjoint carry " +
      "forward, only straddlers rewrite; null keys survive the rewrite") {
    import spark.implicits._
    withRoot { root =>
      val df = (1 to 800).map(i => (i.toLong, i * 10.0)).toDF("id", "v")
      TxTable.commit(spark, root, df, TxTable.Overwrite,
        clusterBy = Some("v"))
      val v0 = TxTable.currentSnapshot(root).get
      assert(v0.files.size >= 4)
      // delete a wide interior range: some files are wholly contained
      TxTable.deleteRange(spark, root, "v", 2005.0, 6005.0)
      val v1 = TxTable.currentSnapshot(root).get
      val carried = v0.files.toSet.intersect(v1.files.toSet)
      val written = v1.files.toSet.diff(v0.files.toSet)
      val vanished = v0.files.toSet.diff(v1.files.toSet)
      // the boundary straddlers are the ONLY rewrites (≤ 2 boundaries)
      assert(written.size <= 2,
        s"${written.size} files rewritten — more than the 2 boundaries")
      // at least one interior file left the manifest with no replacement
      // data write: the metadata-only delete fast path
      assert(vanished.size > written.size,
        "no file was dropped metadata-only — every delete was a rewrite")
      assert(carried.nonEmpty, "disjoint files should carry forward")
      carried.foreach(f => assert(v1.stats.contains(f)))
      val got = rows2(root)
      val expect = df.filter(col("v") < 2005.0 || col("v") > 6005.0)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == expect)
      // null keys never match a range delete: statless commit, null row
      TxTable.commit(spark, root,
        Seq((9001L, Option(150.0)), (9002L, Option.empty[Double]))
          .toDF("id", "v"), TxTable.Append)
      TxTable.deleteRange(spark, root, "v", 100.0, 200.0)
      val ids = TxTable.read(spark, root).select("id")
        .collect().map(_.getLong(0)).toSet
      assert(!ids.contains(9001L), "in-range row should be deleted")
      assert(ids.contains(9002L), "null-key row must survive the rewrite")
    }
  }

  test("mergeAdditive: deltas combine exactly; txn replay no-ops; the " +
      "same replay WITHOUT txn double-counts (why the sink passes one)") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    withRoot { root =>
      def deltas(rows: (Long, Long, String)*) =
        rows.toDF("id", "n", "tp_s")
          .select(col("id"), col("n"),
            col("tp_s").cast(DecimalType(18, 2)).as("tp"))
      val b0 = deltas((1L, 2L, "10.50"), (2L, 1L, "5.25"))
      val b1 = deltas((2L, 1L, "4.75"), (3L, 1L, "1.00"))
      TxTable.mergeAdditive(spark, root, b0, "id", Some(("a", 0L)))
      TxTable.mergeAdditive(spark, root, b1, "id", Some(("a", 1L)))
      def state(): Set[(Long, Long, String)] =
        TxTable.read(spark, root).collect()
          .map(r => (r.getLong(0), r.getLong(1),
            r.getDecimal(2).toPlainString)).toSet
      val converged = Set((1L, 2L, "10.50"), (2L, 2L, "10.00"),
        (3L, 1L, "1.00"))
      assert(state() == converged)
      val vHead = TxTable.currentVersion(root).get
      // at-least-once replay of batch 1 under the txn: publish no-ops
      TxTable.mergeAdditive(spark, root, b1, "id", Some(("a", 1L)))
      assert(TxTable.currentVersion(root).get == vHead)
      assert(state() == converged)
      // the SAME replay without a txn re-adds the delta — the corruption
      // the (appId, batchId) contract exists to prevent
      TxTable.mergeAdditive(spark, root, b1, "id", None)
      assert(state() == Set((1L, 2L, "10.50"), (2L, 3L, "14.75"),
        (3L, 2L, "2.00")))
    }
  }

  test("deleteRange: a contained-range file that ALSO holds null-key rows " +
      "is demoted to rewrite — null rows survive; null-free contained " +
      "files still drop metadata-only") {
    import spark.implicits._
    withRoot { root =>
      // 400 non-null values 10..4000 plus 3 null-key rows; cluster into 4
      // files — range partitioning sorts nulls into the LOWEST file, so
      // the null rows SHARE a file with in-range values (exactly the
      // layout where min/max-only classification silently deletes them)
      val df = ((1 to 400).map(i => (i.toLong, Option(i * 10.0))) ++
        Seq((9001L, Option.empty[Double]), (9002L, Option.empty[Double]),
          (9003L, Option.empty[Double]))).toDF("id", "v")
      TxTable.commit(spark, root, df)
      TxTable.optimize(spark, root, targetFiles = 4, clusterBy = Seq("v"))
      val v0 = TxTable.currentSnapshot(root).get
      assert(v0.files.size == 4)
      // the null-bearing file's stat line must record its null count
      assert(v0.stats.values.flatten.exists { case (_, _, _, nn) => nn > 0L },
        "footer null count not recorded — the demotion has nothing to act on")
      TxTable.deleteRange(spark, root, "v", 0.0, 3500.0)
      val v1 = TxTable.currentSnapshot(root).get
      val written = v1.files.toSet.diff(v0.files.toSet)
      val vanished = v0.files.toSet.diff(v1.files.toSet)
      // interior null-free contained files keep the metadata-only fast
      // path: dropped from the manifest with no replacement write
      assert(vanished.size > written.size,
        "no metadata-only drop happened — the fast path regressed")
      val got = TxTable.read(spark, root).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
      val expect = df.filter(col("v").isNull || col("v") > 3500.0)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
      assert(Set(9001L, 9002L, 9003L).subsetOf(got.map(_._1)),
        "null-key rows were deleted — the contained-file drop ignored nulls")
      assert(got == expect)
    }
  }

  test("mergeByKeyPruned past the exact-key limit: envelope fallback is " +
      "sound — result still equals full mergeByKey") {
    import spark.implicits._
    withRoot { root =>
      val base = (1 to 800).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      TxTable.commit(spark, root, base, TxTable.Overwrite,
        clusterBy = Some("id"))
      // 3 distinct keys > limit 2 forces the [uLo, uHi] envelope; the
      // outlier insert key 9001 widens it across the whole table — the
      // envelope may over-touch but must never change the answer
      val upd = Seq((100L, "U100"), (400L, "U400"), (9001L, "NEW"))
        .toDF("id", "s")
      TxTable.mergeByKeyPruned(spark, root, upd, "id", exactKeyLimit = 2L)
      val expect = Upsert.mergeByKey(base, upd, Seq("id")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows(root) == expect)
    }
  }

  test("mergeAdditive fails fast on a batch narrower than the table " +
      "instead of silently discarding the missing columns") {
    import spark.implicits._
    withRoot { root =>
      TxTable.mergeAdditive(spark, root,
        Seq((1L, 10L, 5L)).toDF("id", "n", "extra"), "id")
      val ex = intercept[IllegalArgumentException] {
        TxTable.mergeAdditive(spark, root, Seq((1L, 7L)).toDF("id", "n"), "id")
      }
      assert(ex.getMessage.contains("extra"))
      // the table is untouched by the failed merge
      assert(TxTable.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet == Set((1L, 10L, 5L)))
    }
  }

  test("mergeAdditive combines null-key groups across batches — the " +
      "null-bearing file is pulled into the rewrite via its null count") {
    import spark.implicits._
    withRoot { root =>
      def b(rows: (Option[Long], Long)*) = rows.toDF("id", "n")
      TxTable.mergeAdditive(spark, root,
        b((Some(1L), 10L), (None, 5L)), "id", Some(("a", 0L)))
      TxTable.mergeAdditive(spark, root,
        b((Some(2L), 1L), (None, 3L)), "id", Some(("a", 1L)))
      val got = TxTable.read(spark, root).collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getLong(1))).toSet
      assert(got == Set((Some(1L), 10L), (Some(2L), 1L), (None, 8L)),
        s"null group split or lost: $got")
    }
  }

  test("maintenance rewrites keep the parent's full stat-column set: a " +
      "z-ordered table stays 2-D skippable after a pruned merge") {
    import spark.implicits._
    withRoot { root =>
      val grid = (for (x <- 0 until 64; y <- 0 until 64)
        yield (x.toLong, y.toLong, (x * 64 + y).toLong)).toDF("x", "y", "id")
      TxTable.commitZOrdered(spark, root, grid, "x", "y", targetFiles = 16)
      val upd = Seq((3L, 3L, 99999L)).toDF("x", "y", "id")
      TxTable.mergeByKeyPruned(spark, root, upd, "x")
      val v1 = TxTable.currentSnapshot(root).get
      assert(v1.stats.keySet == v1.files.toSet,
        "a rewritten file lost its stats line entirely")
      assert(v1.stats.values.forall(_.map(_._1).toSet == Set("x", "y")),
        "rewritten files carry key-only stats — the y dimension degraded")
      val all = v1.files.size
      assert(TxPrune.files(spark, root, col("y").between(0, 15)).size < all,
        "y-pruning no longer works after the merge")
    }
  }

  test("vacuum vs pinned reader: a snapshot DataFrame holding a dropped " +
      "version's file list fails LOUDLY at scan time, never silently " +
      "returns partial rows") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "v0")).toDF("id", "s"))
      val pinned = TxTable.read(spark, root) // resolves v0's file list
      TxTable.commit(spark, root, Seq((2L, "v1")).toDF("id", "s"))
      TxTable.vacuum(root, keepVersions = 1) // drops v0 and its data
      // the retention contract (scaladoc'd on vacuum): readers must
      // complete within the retention horizon; past it the explicit file
      // list turns into a missing-file error — Spark's default
      // ignoreMissingFiles=false makes that loud, which is the contract
      val ex = intercept[Exception](pinned.collect())
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
      assert(chain(ex).exists(c =>
        c.isInstanceOf[java.io.FileNotFoundException] ||
          String.valueOf(c.getMessage).toLowerCase.contains("not exist") ||
          String.valueOf(c.getMessage).toLowerCase.contains("missing")),
        s"expected a missing-file failure, got: $ex")
      // the retained head is unaffected
      assert(rows(root) == Set((2L, "v1")))
    }
  }

  test("commit-time schema enforcement: additive append OK, type " +
      "conflict fails BEFORE publish, table stays readable") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
      // additive evolution still works — and the merged schema is
      // RECORDED in the manifest
      TxTable.commit(spark, root,
        Seq((2L, "b", 20L)).toDF("id", "s", "extra"), TxTable.Append)
      val rec = TxTable.currentSnapshot(root).get.schema.get
      assert(rec.fieldNames.toSeq == Seq("id", "s", "extra"))
      // a type conflict on an existing column is rejected at COMMIT time
      val ex = intercept[IllegalArgumentException] {
        TxTable.commit(spark, root,
          Seq(("3", "c")).toDF("id", "s"), TxTable.Append)
      }
      assert(ex.getMessage.contains("schema conflict") &&
        ex.getMessage.contains("id"))
      // nothing was published: head unchanged, table readable
      assert(TxTable.versions(root) == Seq(0L, 1L))
      assert(TxTable.read(spark, root).select("id").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L))
      // the failed writer's data dir is an orphan; vacuum reclaims it
      TxTable.vacuum(root, keepVersions = 2)
      assert(TxTable.read(spark, root).select("id").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L))
    }
  }

  test("readChanges: version-window delta = exactly the appended rows; " +
      "history counts per version from footers") {
    import spark.implicits._
    withRoot { root =>
      (0L until 4L).foreach { k =>
        TxTable.commit(spark, root,
          Seq((k * 10L, s"b$k"), (k * 10L + 1L, s"b$k")).toDF("id", "s"),
          TxTable.Append, txn = Some(("app", k)))
      }
      val delta = TxTable.readChanges(spark, root, 1L, 3L).collect()
        .map(_.getLong(0)).toSet
      assert(delta == Set(20L, 21L, 30L, 31L),
        s"changes (1,3] should be batches 2 and 3, got $delta")
      // empty window → schema-preserving empty
      assert(TxTable.readChanges(spark, root, 2L, 2L).collect().isEmpty)
      val h = TxTable.history(spark, root).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
      assert(h.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
      assert(h.map(_._2).toSeq == Seq(2L, 4L, 6L, 8L),
        "footer-derived row counts should accumulate 2 per version")
      assert(h.last._3 == "app=3")
    }
  }

  test("incremental hop: the consumer cursor IS the txn high-water — " +
      "data merge and cursor advance commit atomically, replays no-op") {
    import spark.implicits._
    withRoot { root =>
      val bronze = s"$root/bronze"
      val silver = s"$root/silver"
      (0L until 4L).foreach { k =>
        TxTable.commit(spark, bronze,
          Seq((k, 1L)).toDF("k", "n"), TxTable.Append)
      }
      def cursor(): Long = TxTable.currentSnapshot(silver)
        .flatMap(_.txns.get("hop")).getOrElse(-1L)
      def poll(head: Long): Unit = {
        val delta = TxTable.readChanges(spark, bronze, cursor(), head)
          .groupBy("k").agg(org.apache.spark.sql.functions.sum("n").as("n"))
        TxTable.mergeAdditive(spark, silver, delta, "k",
          Some(("hop", head)))
        ()
      }
      poll(1L) // catch-up window (-1, 1]: versions 0 and 1
      assert(cursor() == 1L)
      poll(1L) // replayed poll: cursor == head → manifest no-op
      val vAfterReplay = TxTable.currentVersion(silver).get
      poll(3L)
      assert(cursor() == 3L)
      // the replay minted no silver version; the two real polls did
      assert(TxTable.versions(silver).size == 2)
      assert(TxTable.currentVersion(silver).get == vAfterReplay + 1)
      val got = TxTable.read(spark, silver).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((0L, 1L), (1L, 1L), (2L, 1L), (3L, 1L)))
    }
  }

  test("concurrent serializable merges: both key updates survive") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
      val t1 = new Thread(() => {
        TxTable.mergeByKey(spark, root,
          Seq((1L, "A")).toDF("id", "s"), Seq("id"))
      })
      val t2 = new Thread(() => {
        TxTable.mergeByKey(spark, root,
          Seq((2L, "B")).toDF("id", "s"), Seq("id"))
      })
      t1.start(); t2.start(); t1.join(); t2.join()
      // serializable: the loser recomputed on the winner's output, so
      // BOTH updates are in the final head regardless of commit order
      assert(rows(root) == Set((1L, "A"), (2L, "B")))
    }
  }

  // ------------------------------------------------ partitioned tables

  private def manifestText(root: String, v: Long): String =
    new String(Files.readAllBytes(
      Paths.get(root, "_manifests", f"v$v%09d.txt")))

  test("partitioned commit+append: per-file part lines, prune selects " +
      "exactly the matching files, read equals plain filter") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        Seq((1L, "en", 10L), (2L, "fr", 20L), (3L, "de", 30L))
          .toDF("id", "lang", "n"),
        partitionBy = Some("lang"))
      TxTable.commit(spark, root,
        Seq((4L, "en", 40L), (5L, "zh", 50L)).toDF("id", "lang", "n"),
        TxTable.Append, partitionBy = Some("lang"))
      val snap = TxTable.currentSnapshot(root).get
      // every file carries exactly one recorded lang value
      assert(snap.files.nonEmpty)
      assert(snap.files.forall(f =>
        snap.parts.get(f).exists(_.count(_._1 == "lang") == 1)))
      val en = TxPrune.files(spark, root, col("lang") === "en")
      assert(en.nonEmpty && en.size < snap.files.size)
      assert(en.forall(f =>
        snap.parts(f).exists(p => p._1 == "lang" && p._2.contains("en"))))
      // the partition column is still IN the data (reader-visible)
      assert(TxTable.read(spark, root).columns.toSeq ==
        Seq("id", "lang", "n"))
      val got = spark.read.format("tx").load(root)
        .filter(col("lang").isin("en", "fr"))
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L, 4L))
    }
  }

  test("partitioned-UNBUCKETED DML rewrites re-land the hive layout: " +
      "merge/pruned-merge/deleteRange keep every file part-covered") {
    import spark.implicits._
    withRoot { root =>
      def src(ids: Seq[Long]) = ids
        .map(i => (i, if (i % 2 == 0) "en" else "fr", i * 10L))
        .toDF("id", "lang", "n")
      TxTable.commit(spark, root, src(0L until 20L),
        partitionBy = Some("lang"))
      def allPartCovered(tag: String): Unit = {
        val snap = TxTable.currentSnapshot(root).get
        assert(snap.files.forall(f =>
          snap.parts.get(f).exists(_.count(_._1 == "lang") == 1)),
          s"$tag published files without part lines — the table fell " +
            "out of the surfaced/partitionRowCounts/DPP postures")
      }
      // r19: before the partitioned-unbucketed branch in
      // rewriteDataInLayout, each of these verbs knocked the table out
      // of the partitioned posture while updateWhere kept it
      TxTable.mergeByKey(spark, root,
        Seq((3L, "fr", 999L), (40L, "en", 400L)).toDF("id", "lang", "n"),
        Seq("id"))
      allPartCovered("mergeByKey")
      TxTable.mergeByKeyPruned(spark, root,
        Seq((5L, "fr", 555L)).toDF("id", "lang", "n"), "id")
      allPartCovered("mergeByKeyPruned")
      TxTable.deleteRange(spark, root, "id", 18.0, 19.0)
      allPartCovered("deleteRange")
      // the hive posture still answers: per-partition counts zero-scan,
      // pruned read exact
      val counts = TxTable.partitionRowCounts(spark, root, "lang")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(counts == Map("en" -> 10L, "fr" -> 9L), counts.toString)
      val fr = spark.read.format("tx").load(root).filter(col("lang") === "fr")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(fr == (1L until 18L by 2).map(i =>
        (i, if (i == 3L) 999L else if (i == 5L) 555L else i * 10L)).toSet)
    }
  }

  test("null partition values: hive sentinel round-trips, matched only " +
      "via includeNull; escaped values round-trip") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        Seq((1L, "web data", 1L), (2L, null, 2L), (3L, "a=b/c", 3L))
          .toDF("id", "src", "n"),
        partitionBy = Some("src"))
      val snap = TxTable.currentSnapshot(root).get
      val vals = snap.parts.values.flatten
        .collect { case ("src", v) => v }.toSet
      // space, '=', '/' survive the hive path escape round-trip
      assert(vals == Set(Some("web data"), Some("a=b/c"), None))
      assert(TxPrune.files(spark, root, col("src") === "web data")
        .size == 1)
      val withNull = TxPrune.files(spark, root,
        col("src") === "web data" || col("src").isNull)
      assert(withNull.size == 2)
      // exact read re-applies the predicate (null never matches IN)
      assert(spark.read.format("tx").load(root)
        .filter(col("src") === "a=b/c").collect().map(_.getLong(0)).toSet
        == Set(3L))
    }
  }

  test("format ratchet: every r13+ manifest declares 4 (in-manifest " +
      "commit ts) and carries a ts line; maintenance keeps part lines " +
      "for untouched files") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "en", 1L)).toDF("id", "lang", "n"))
      assert(manifestText(root, 0L).contains("format 4"))
      assert(TxTable.currentSnapshot(root).get.tsMillis.exists(t =>
        math.abs(t - System.currentTimeMillis()) < 60000L))
      TxTable.commit(spark, root,
        Seq((2L, "fr", 2L)).toDF("id", "lang", "n"),
        TxTable.Append, partitionBy = Some("lang"))
      assert(manifestText(root, 1L).contains("format 4"))
      // a DV delete (no rewrite) keeps every part line
      val before = TxTable.currentSnapshot(root).get.parts
      TxTable.deleteWhere(spark, root, col("id") === 2L)
      assert(TxTable.currentSnapshot(root).get.parts == before)
      assert(TxTable.read(spark, root).collect()
        .map(_.getLong(0)).toSet == Set(1L))
    }
  }

  test("vacuum preserves live nested partitioned files and removes " +
      "orphaned partitioned write dirs") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        Seq((1L, "en", 1L), (2L, "fr", 2L)).toDF("id", "lang", "n"),
        partitionBy = Some("lang"))
      // overwrite orphans v0's (nested) data dir
      TxTable.commit(spark, root,
        Seq((3L, "de", 3L)).toDF("id", "lang", "n"),
        partitionBy = Some("lang"))
      val v0Files = TxTable.snapshotAt(root, 0L).files
      TxTable.vacuum(root, keepVersions = 1)
      // live head still reads; orphaned v0 leaves are gone
      assert(TxTable.read(spark, root).collect()
        .map(_.getLong(0)).toSet == Set(3L))
      assert(v0Files.forall(f => !Files.exists(Paths.get(root, f))))
    }
  }

  test("partitionRowCounts: exact under MoR deletes, zero data scan, " +
      "loud on missing metadata") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        (1L to 40L).map(i => (i, s"g${i % 3}", i * 10L))
          .toDF("id", "grp", "n"),
        partitionBy = Some("grp"))
      TxTable.deleteWhere(spark, root, col("n") <= 100L)
      val stats = TxTable.partitionRowCounts(spark, root, "grp")
      // metadata-only: the plan holds NO file scan at all
      assert(stats.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr
      }.isEmpty, "partitionRowCounts scanned data")
      val got = stats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = TxTable.read(spark, root).groupBy("grp").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want)
      // an unpartitioned append makes metadata counting impossible —
      // it must refuse, not undercount
      TxTable.commit(spark, root,
        Seq((99L, "g0", 990L)).toDF("id", "grp", "n"), TxTable.Append)
      val ex = intercept[java.io.IOException](
        TxTable.partitionRowCounts(spark, root, "grp"))
      assert(ex.getMessage.contains("no recorded partition value"))
    }
  }

  test("overwritePartitions swaps only incoming partitions, keeps " +
      "other files verbatim, time-travels, and refuses unclassifiable " +
      "parent files") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        Seq((1L, "en", 1L), (2L, "fr", 2L), (3L, "de", 3L))
          .toDF("id", "lang", "n"),
        partitionBy = Some("lang"))
      val parent = TxTable.currentSnapshot(root).get
      val deFiles = TxPrune.files(spark, root, col("lang") === "de").toSet
      TxTable.overwritePartitions(spark, root,
        Seq((10L, "en", 10L), (20L, "fr", 20L)).toDF("id", "lang", "n"),
        "lang", txn = Some(("dpo", 1L)))
      val head = TxTable.currentSnapshot(root).get
      // de carried through with the exact same file paths
      assert(deFiles.subsetOf(head.files.toSet))
      // en/fr replaced: none of their old files referenced
      val oldEnFr = parent.files.toSet -- deFiles
      assert(oldEnFr.intersect(head.files.toSet).isEmpty)
      assert(TxTable.read(spark, root).collect()
        .map(_.getLong(0)).toSet == Set(3L, 10L, 20L))
      // old version still time-travels (metadata-only removal)
      assert(TxTable.readVersion(spark, root, 0L).collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
      // idempotent replay no-ops
      val vr = TxTable.overwritePartitions(spark, root,
        Seq((10L, "en", 10L)).toDF("id", "lang", "n"), "lang",
        txn = Some(("dpo", 1L)))
      assert(vr == head.version)
      // an unpartitioned append poisons classification: loud refusal
      TxTable.commit(spark, root, Seq((99L, "en", 99L))
        .toDF("id", "lang", "n"), TxTable.Append)
      val ex = intercept[java.io.IOException](
        TxTable.overwritePartitions(spark, root,
          Seq((11L, "en", 11L)).toDF("id", "lang", "n"), "lang"))
      assert(ex.getMessage.contains("no recorded partition value"))
    }
  }

  test("partition x range pruning multiplies: fewer files than either " +
      "dimension alone, answer equals the plain filter") {
    import spark.implicits._
    withRoot { root =>
      val rows = (1L to 400L).map(i =>
        (i, s"g${i % 4}", (i % 100).toDouble)).toDF("id", "grp", "x")
      TxTable.commit(spark, root,
        rows.repartitionByRange(8, col("grp"), col("x")),
        partitionBy = Some("grp"), statsCols = Seq("x"))
      val snap = TxTable.currentSnapshot(root).get
      val partOnly = TxPrune.files(spark, root, col("grp") === "g1")
      val rangeOnly = TxPrune.files(spark, root, col("x").between(10.0, 20.0))
      val both = {
        val df = spark.read.format("tx").load(root)
          .filter(col("grp") === "g1" && col("x").between(10.0, 20.0))
        df.collect() // force
        df
      }
      // structural prune evidence: recompute the combined file list the
      // way the reader does and compare cardinalities
      val combined = partOnly.toSet.intersect(rangeOnly.toSet)
      assert(combined.size < partOnly.size,
        s"range dimension pruned nothing: ${combined.size}/${partOnly.size}")
      assert(combined.size < rangeOnly.size,
        s"partition dimension pruned nothing: ${combined.size}/${rangeOnly.size}")
      assert(combined.size < snap.files.size)
      val got = both.collect().map(_.getLong(0)).toSet
      val want = rows.filter(col("grp") === "g1" &&
        col("x") >= 10.0 && col("x") <= 20.0)
        .collect().map(_.getLong(0)).toSet
      assert(got == want)
    }
  }

  test("readChangesPartitioned: only the cursor window's matching " +
      "partition files are planned") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "en", 1L), (2L, "fr", 2L))
        .toDF("id", "lang", "n"), partitionBy = Some("lang"))
      TxTable.commit(spark, root, Seq((3L, "en", 3L), (4L, "de", 4L))
        .toDF("id", "lang", "n"), TxTable.Append, partitionBy = Some("lang"))
      val delta = TxTable.readChangesPartitioned(spark, root, 0L, 1L,
        "lang", Seq("en"))
      assert(delta.collect().map(_.getLong(0)).toSet == Set(3L))
      // plan evidence: exactly one file (v1's en file), not v0's en or
      // v1's de
      val scans = delta.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.size
            case _ => 0
          }
      }.sum
      assert(scans == 1, s"planned $scans files, expected 1")
    }
  }

  test("fsck reports missing files, row drift, and missing dv blobs; " +
      "healthy table reports nothing") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        (1L to 30L).map(i => (i, s"s$i")).toDF("id", "s"))
      TxTable.deleteWhere(spark, root, col("id") <= 3L)
      assert(TxTable.fsck(spark, root).isEmpty)
      // delete a data file out-of-band
      val victim = TxTable.currentSnapshot(root).get.files.head
      Files.delete(Paths.get(root, victim))
      val problems = TxTable.fsck(spark, root)
      assert(problems.exists(_.contains(s"missing data file: $victim")))
      // delete a dv blob out-of-band
      val dvf = TxTable.currentSnapshot(root).get.dvs.values
        .flatten.map(_._1).head
      Files.delete(Paths.get(root, dvf))
      assert(TxTable.fsck(spark, root)
        .exists(_.contains(s"missing dv blob: $dvf")))
    }
  }

  test("concurrent overwritePartitions on disjoint partitions: both " +
      "swaps land, no lost update") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        Seq((1L, "en", 1L), (2L, "fr", 2L), (3L, "de", 3L))
          .toDF("id", "lang", "n"),
        partitionBy = Some("lang"))
      val t1 = new Thread(() => {
        TxTable.overwritePartitions(spark, root,
          Seq((10L, "en", 10L)).toDF("id", "lang", "n"), "lang")
      })
      val t2 = new Thread(() => {
        TxTable.overwritePartitions(spark, root,
          Seq((20L, "fr", 20L)).toDF("id", "lang", "n"), "lang")
      })
      t1.start(); t2.start(); t1.join(); t2.join()
      // serializable: the loser recomputed its keep-list on the
      // winner's manifest, so BOTH swaps and the untouched partition
      // survive whatever the commit order
      assert(TxTable.read(spark, root).collect()
        .map(_.getLong(0)).toSet == Set(3L, 10L, 20L))
      assert(TxTable.versions(root) == Seq(0L, 1L, 2L))
    }
  }

  test("restore racing an append: both commit; the final head is one " +
      "of the two serializable orders") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
      TxTable.commit(spark, root, Seq((9L, "bad")).toDF("id", "s"))
      val t1 = new Thread(() => { TxTable.restore(spark, root, 0L); () })
      val t2 = new Thread(() => {
        TxTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"),
          TxTable.Append)
      })
      t1.start(); t2.start(); t1.join(); t2.join()
      assert(TxTable.versions(root).size == 4)
      val head = rows(root)
      // restore-then-append => {a, b}; append(-to-bad)-then-restore =>
      // {a} (restore targets v0's content). Both are serializable; what
      // is NOT allowed is a mix that loses one commit entirely from
      // history.
      assert(head == Set((1L, "a"), (2L, "b")) || head == Set((1L, "a")),
        s"unexpected head $head")
      val ops = TxTable.versions(root)
        .map(v => TxTable.snapshotAt(root, v).op.getOrElse(""))
      assert(ops.count(_.startsWith("restore")) == 1)
      assert(ops.count(_ == "append") == 1)
    }
  }

  test("SQL table functions: tx_read / tx_read-at-version / " +
      "tx_history / tx_changes match the DataFrame API") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
      TxTable.commit(spark, root, Seq((3L, "c")).toDF("id", "s"),
        TxTable.Append)
      assert(spark.sql(s"SELECT * FROM tx_read('$root') ORDER BY id")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(spark.sql(s"SELECT * FROM tx_read('$root', 0) ORDER BY id")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
      assert(spark.sql(s"SELECT count(*) FROM tx_history('$root')")
        .head().getLong(0) == 2L)
      assert(spark.sql(
          s"SELECT * FROM tx_changes('$root', 0, 1) ORDER BY id")
        .collect().map(_.getLong(0)).toSeq == Seq(3L))
      // DV semantics identical across surfaces: delete, then both reads
      TxTable.deleteWhere(spark, root, col("id") === 2L)
      assert(spark.sql(s"SELECT * FROM tx_read('$root') ORDER BY id")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    }
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        Seq((1L, "en"), (2L, "fr"), (3L, "en")).toDF("id", "lang"),
        partitionBy = Some("lang"))
      assert(spark.sql(
          s"SELECT * FROM tx_partition_stats('$root', 'lang') ORDER BY lang")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("en", 2L), ("fr", 1L)))
    }
  }

  test("SQL DML procedures: tx_delete_where / tx_optimize / tx_vacuum / " +
      "tx_restore perform the write and report the committed version") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        (1 to 8).map(i => (i.toLong, i * 10L)).toDF("id", "x"))
      TxTable.commit(spark, root,
        (9 to 12).map(i => (i.toLong, i * 10L)).toDF("id", "x"),
        TxTable.Append)
      // SQL delete: a MoR commit, visible to the very next SQL read
      val del = spark.sql(
        s"SELECT * FROM tx_delete_where('$root', 'id % 3 = 0')").head()
      assert(del.getString(0) == "delete_where" && del.getLong(1) == 2L)
      assert(TxTable.snapshotAt(root, 2L).op.contains("delete_mor"))
      assert(spark.sql(s"SELECT count(*) FROM tx_read('$root')")
        .head().getLong(0) == 8L)
      // SQL optimize: content unchanged, dataChange=false op recorded
      val opt = spark.sql(
        s"SELECT * FROM tx_optimize('$root', 1)").head()
      assert(opt.getLong(1) == 3L)
      assert(TxTable.snapshotAt(root, 3L).op.contains("optimize"))
      assert(spark.sql(s"SELECT count(*) FROM tx_read('$root')")
        .head().getLong(0) == 8L)
      // SQL restore: back to the pre-delete content as a new version
      val res = spark.sql(s"SELECT * FROM tx_restore('$root', 1)").head()
      assert(res.getLong(1) == 4L)
      assert(spark.sql(s"SELECT count(*) FROM tx_read('$root')")
        .head().getLong(0) == 12L)
      // SQL vacuum: the retention write; dropped versions are gone
      val vac = spark.sql(s"SELECT * FROM tx_vacuum('$root', 2)").head()
      assert(vac.getString(0) == "vacuum" && vac.getLong(1) == 4L)
      assert(TxTable.versions(root) == Seq(3L, 4L))
      assert(spark.sql(s"SELECT count(*) FROM tx_read('$root')")
        .head().getLong(0) == 12L)
    }
  }

  test("tx_zorder procedure: in-place re-cluster makes BOTH axes prune, " +
      "content identical, DVs purged, receipt carries the version") {
    import spark.implicits._
    withRoot { root =>
      // row-major commit order: a 1-D layout where y never prunes
      val grid = (for (x <- 0 until 32; y <- 0 until 32)
        yield (x.toLong, y.toLong, (x * 32 + y).toLong)).toDF("x", "y", "id")
      TxTable.commit(spark, root,
        grid.repartitionByRange(16, col("id")).sortWithinPartitions("id"),
        statsCols = Seq("x", "y"))
      val before = TxTable.currentSnapshot(root).get
      assert(TxPrune.files(spark, root, col("y").between(0, 7)).size
        == before.files.size, "row-major layout should NOT prune on y")
      spark.sql(s"SELECT * FROM tx_delete_where('$root', 'id = 1000')")
      val r = spark.sql(s"SELECT * FROM tx_zorder('$root', 'x,y', 16)").head()
      assert(r.getString(0) == "zorder:x,y" && r.getLong(1) == 2L)
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.op.contains("zorder") && snap.dvs.isEmpty,
        "zorder rewrite applies DVs (doubles as purge)")
      val all = snap.files.size
      val px = TxPrune.files(spark, root, col("x").between(0, 7)).size
      val py = TxPrune.files(spark, root, col("y").between(0, 7)).size
      assert(px < all && py < all,
        s"both axes must prune after tx_zorder ($px, $py of $all)")
      val got = TxTable.read(spark, root)
        .collect().map(_.getAs[Long]("id")).toSet
      assert(got == (0 until 1024).map(_.toLong).toSet - 1000L)
      // hilbert curve option: same verb, same pruning property, same rows
      val h = spark.sql(
        s"SELECT * FROM tx_zorder('$root', 'x,y', 16, 'hilbert')").head()
      assert(h.getLong(1) == 3L)
      val hsnap = TxTable.currentSnapshot(root).get
      val hx = TxPrune.files(spark, root, col("x").between(0, 7)).size
      val hy = TxPrune.files(spark, root, col("y").between(0, 7)).size
      assert(hx < hsnap.files.size && hy < hsnap.files.size,
        s"both axes must prune under hilbert ($hx, $hy of ${hsnap.files.size})")
      assert(TxTable.read(spark, root)
        .collect().map(_.getAs[Long]("id")).toSet == got)
      intercept[Exception] {
        TxTable.zorderTable(spark, root, Seq("x", "y"), 4, curve = "peano")
      }
    }
  }

  test("zorderTable on a hive-partitioned parent: curve clusters WITHIN " +
      "partitions, part lines re-land, stats/sums/sstat coverage carries") {
    import spark.implicits._
    withRoot { root =>
      // each partition value holds the FULL 32x32 grid (g decoupled from
      // x/y so per-partition Morton boxes stay square)
      val df = (0 until 2048).map { i =>
        val j = i / 2
        (if (i % 2 == 0) "a" else "b", (j % 32).toLong, (j / 32).toLong,
          i.toLong, if (i % 3 == 0) "en" else "fr")
      }.toDF("g", "x", "y", "id", "lang")
      TxTable.commit(spark, root, df, partitionCols = Seq("g"),
        statsCols = Seq("x", "lang"), sumCols = Seq("id"))
      TxTable.zorderTable(spark, root, Seq("x", "y"), targetFiles = 8)
      val snap = TxTable.currentSnapshot(root).get
      // hive layout re-landed: every file carries its g value
      assert(snap.files.forall(f => snap.parts.get(f)
        .exists(_.exists(_._1 == "g"))),
        "zorder on a partitioned parent must keep every file part-covered")
      // partition pruning still answers from metadata
      val aFiles = TxPrune.files(spark, root, col("g") === "a")
      assert(aFiles.nonEmpty && aFiles.size < snap.files.size)
      // parent's stat coverage carried AND clustering cols added
      assert(snap.stats.values.forall(sts =>
        Set("x", "y").subsetOf(sts.map(_._1).toSet)),
        "numeric stats must cover parent's set plus the clustering cols")
      assert(snap.strStats.nonEmpty,
        "string sstat lines must re-record through the rewrite")
      assert(snap.sums.nonEmpty,
        "exact sum lines must re-record through the rewrite")
      // both curve axes prune within the kept layout
      val all = snap.files.size
      assert(TxPrune.files(spark, root, col("x").between(0, 7)).size < all)
      assert(TxPrune.files(spark, root, col("y").between(0, 7)).size < all)
      // content identical
      assert(TxTable.read(spark, root).collect()
        .map(_.getAs[Long]("id")).toSet ==
        (0 until 2048).map(_.toLong).toSet)
    }
  }

  test("SQL DML procedures: tx_merge upserts a registered view's rows, " +
      "tx_purge materializes deletion vectors") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        (1 to 6).map(i => (i.toLong, i * 10L)).toDF("id", "x"))
      Seq((2L, 999L), (7L, 70L)).toDF("id", "x")
        .createOrReplaceTempView("merge_src")
      val m = spark.sql(
        s"SELECT * FROM tx_merge('$root', 'merge_src', 'id')").head()
      assert(m.getString(0) == "merge:merge_src" && m.getLong(1) == 1L)
      val after = TxTable.read(spark, root).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(after(2L) == 999L && after(7L) == 70L && after.size == 7)
      spark.sql(s"SELECT * FROM tx_delete_where('$root', 'id = 7')")
      val p = spark.sql(s"SELECT * FROM tx_purge('$root')").head()
      assert(p.getString(0) == "purge" && p.getLong(1) == 3L)
      assert(TxTable.currentSnapshot(root).get.dvs.isEmpty)
      assert(TxTable.read(spark, root).count() == 6L)
      spark.catalog.dropTempView("merge_src")
    }
  }

  test("restore is metadata-only, keeps txn high-water, and vacuum " +
      "retains head-referenced restored files") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
      TxTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"),
        TxTable.Append, txn = Some(("app", 5L)))
      TxTable.commit(spark, root, Seq((9L, "bad")).toDF("id", "s"))
      val v3 = TxTable.restore(spark, root, 1L)
      assert(v3 == 3L)
      assert(rows(root) == Set((1L, "a"), (2L, "b")))
      // metadata-only: the restored head references v1's files verbatim
      assert(TxTable.currentSnapshot(root).get.files ==
        TxTable.snapshotAt(root, 1L).files)
      // idempotence not reset: a replay of batch 5 still no-ops
      val vr = TxTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"),
        TxTable.Append, txn = Some(("app", 5L)))
      assert(vr == 3L)
      // vacuum to the head only: restored files survive (referenced by
      // the head manifest even though their minting version is dropped)
      TxTable.vacuum(root, keepVersions = 1)
      assert(rows(root) == Set((1L, "a"), (2L, "b")))
      assert(TxTable.versions(root) == Seq(3L))
    }
  }

  // ------------------------------------------ two-axis retention (r13)

  test("vacuum retainMs: versions inside the time window survive past " +
      "the version count; outside it the version axis decides; restore " +
      "to a vacuumed version fails loudly") {
    import spark.implicits._
    withRoot { root =>
      (0 to 3).foreach(i => TxTable.commit(spark, root,
        Seq((i.toLong, s"v$i")).toDF("id", "s"), TxTable.Append))
      // age v0/v1 artificially via the IN-MANIFEST ts line — and prove
      // the line (not the file mtime) is the time axis: mtimes stay
      // fresh, the recorded ts alone decides
      val oldMs = System.currentTimeMillis() - 48L * 3600 * 1000
      Seq(0L, 1L).foreach(v =>
        TxTable.setCommitTimeForTest(root, v, oldMs))
      assert(TxTable.commitTimeMillis(root, 0L) == oldMs)
      // version axis alone would keep only v3; the time window rescues
      // the young v2
      TxTable.vacuum(root, keepVersions = 1, retainMs = 3600L * 1000)
      assert(TxTable.versions(root) == Seq(2L, 3L))
      assert(TxTable.readVersion(spark, root, 2L).count() == 3L)
      val e = intercept[java.io.IOException](TxTable.restore(spark, root, 0L))
      assert(e.getMessage.contains("vacuumed"))
      // a version ABOVE the head was never committed — a typo'd number
      // must not be misdiagnosed as a retention problem
      val e2 = intercept[java.io.IOException](TxTable.restore(spark, root, 99L))
      assert(e2.getMessage.contains("never committed"))
      assert(!e2.getMessage.contains("vacuumed"))
      // both axes satisfied: beyond keepVersions AND beyond the window
      TxTable.setCommitTimeForTest(root, 2L, oldMs)
      TxTable.vacuum(root, keepVersions = 1, retainMs = 3600L * 1000)
      assert(TxTable.versions(root) == Seq(3L))
      assert(rows(root).map(_._1) == Set(0L, 1L, 2L, 3L))
    }
  }

  // ------------------------------------ multi-column partitioning (r13)

  private def twoColDf(spark: SparkSession) = {
    import spark.implicits._
    (0 until 24).map { i =>
      (i.toLong, s"g${i % 2}", s"h${i % 3}", i * 10L)
    }.toDF("id", "g", "h", "x")
  }

  test("two-column partitioned commit: every file carries part lines " +
      "for both columns; conjunctive pruning selects exactly the " +
      "matching cell and composes with stat ranges") {
    withRoot { root =>
      TxTable.commit(spark, root,
        twoColDf(spark).repartitionByRange(4, col("g"), col("h"), col("x")),
        partitionCols = Seq("g", "h"), statsCols = Seq("x"))
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.files.nonEmpty)
      snap.files.foreach { f =>
        val cols = snap.parts.getOrElse(f, Seq.empty).map(_._1)
        assert(cols == Seq("g", "h"), s"$f part lines: $cols")
      }
      // the pruned set IS the set whose recorded pairs match — pinned
      // exactly, not just counted
      val want = snap.files.filter { f =>
        val m = snap.parts(f).toMap
        m("g").contains("g1") && m("h").contains("h2")
      }.toSet
      val got = TxPrune.files(spark, root,
        col("g") === "g1" && col("h") === "h2").toSet
      assert(got == want)
      // conjunction is strictly tighter than either dimension alone
      assert(got.size < TxPrune.files(spark, root, col("g") === "g1").size)
      assert(got.size < TxPrune.files(spark, root, col("h") === "h2").size)
      // three pruning dimensions, same answer as the plain filter
      val pruned = spark.read.format("tx").load(root)
        .filter(col("g") === "g1" && col("h").isin("h0", "h2") &&
          col("x").between(50, 180))
        .select("id").collect().map(_.getLong(0)).toSet
      val plain = TxTable.read(spark, root)
        .filter(col("g") === "g1" && col("h").isin("h0", "h2") &&
          col("x") >= 50 && col("x") <= 180)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(pruned == plain && plain.nonEmpty)
    }
  }

  test("overwritePartitionsMulti: full spec replaces exactly the " +
      "batch's (g,h) cells; a PARTIAL prefix spec replaces the whole " +
      "prefix slice and deeper-column pruning degrades to keep") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, twoColDf(spark),
        partitionCols = Seq("g", "h"))
      // full spec: replace cell (g0, h1) with a single recomputed row
      TxTable.overwritePartitionsMulti(spark, root,
        Seq((100L, "g0", "h1", 999L)).toDF("id", "g", "h", "x"),
        Seq("g", "h"))
      val afterFull = TxTable.read(spark, root)
        .select("id", "g", "h").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val untouched = (0 until 24)
        .filterNot(i => i % 2 == 0 && i % 3 == 1)
        .map(i => (i.toLong, s"g${i % 2}", s"h${i % 3}")).toSet
      assert(afterFull == untouched + ((100L, "g0", "h1")))
      // partial prefix spec: replace ALL of g1 (every h under it)
      TxTable.overwritePartitionsMulti(spark, root,
        Seq((200L, "g1", "h0", 111L), (201L, "g1", "h2", 222L))
          .toDF("id", "g", "h", "x"), Seq("g"))
      val afterPartial = TxTable.read(spark, root)
        .select("id").collect().map(_.getLong(0)).toSet
      val keptG0 = (0 until 24)
        .filter(i => i % 2 == 0 && !(i % 3 == 1)).map(_.toLong).toSet
      assert(afterPartial == keptG0 + 100L + 200L + 201L)
      // the partial-spec files carry a part line for g only, so an h
      // prune KEEPS them (degrades, never lies) and the re-applied
      // predicate still gives the exact answer
      val snap = TxTable.currentSnapshot(root).get
      val partialFiles = snap.files.filter { f =>
        snap.parts.getOrElse(f, Seq.empty).map(_._1) == Seq("g")
      }
      assert(partialFiles.nonEmpty)
      val hPruned = TxPrune.files(spark, root, col("h") === "h2").toSet
      assert(partialFiles.forall(hPruned.contains))
      val viaPrune = spark.read.format("tx").load(root)
        .filter(col("h") === "h2")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(viaPrune ==
        TxTable.read(spark, root).filter(col("h") === "h2")
          .select("id").collect().map(_.getLong(0)).toSet)
    }
  }

  test("timestamp time travel: versionAtTime monotone lookup, loud below horizon") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
      TxTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"),
        TxTable.Append)
      TxTable.commit(spark, root, Seq((3L, "c")).toDF("id", "s"),
        TxTable.Append)
      // pin deterministic commit times via the retention test seam
      Seq(0L, 1L, 2L).foreach(v =>
        TxTable.setCommitTimeForTest(root, v, 1000L * (v + 1)))
      assert(TxTable.versionAtTime(root, 1000L) == 0L)
      assert(TxTable.versionAtTime(root, 2999L) == 1L)
      assert(TxTable.versionAtTime(root, 999999L) == 2L)
      assert(TxTable.readAtTime(spark, root, 2500L)
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      // before the oldest retained commit: loud, names the horizon
      val e = intercept[java.io.IOException](
        TxTable.versionAtTime(root, 999L))
      assert(e.getMessage.contains("no retained version at or before"))
      // SQL surfaces: tx_read_at + tx_detail
      Engine.registerTableFunctions(spark)
      assert(spark.sql(s"SELECT count(*) AS n FROM tx_read_at('$root', 2500)")
        .collect()(0).getLong(0) == 2L)
      val det = spark.sql(s"SELECT * FROM tx_detail('$root')").collect()(0)
      assert(det.getAs[Long]("version") == 2L)
      assert(det.getAs[Long]("n_files") == 3L)
      assert(det.getAs[Long]("n_live_rows") == 3L)
      assert(det.getAs[String]("last_op") == "append")
      // detail's live rows subtract MoR deletion vectors, scan-free
      TxTable.deleteWhere(spark, root, col("id") === 2L)
      val det2 = TxTable.detail(spark, root).collect()(0)
      assert(det2.getAs[Long]("n_live_rows") == 2L)
      assert(det2.getAs[String]("last_op") == "delete_mor")
      // connector option: timestampAsOf (millis), exclusive with versionAsOf
      intercept[java.io.IOException](spark.read.format("tx")
        .option("timestampAsOf", "999").load(root))
      assert(spark.read.format("tx").option("timestampAsOf", "2500")
        .load(root).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      intercept[IllegalArgumentException](spark.read.format("tx")
        .option("timestampAsOf", "2500").option("versionAsOf", "1")
        .load(root))
    }
  }
}
