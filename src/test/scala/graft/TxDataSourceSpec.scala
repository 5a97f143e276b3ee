package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxTable
import graft.sources.TxFileIndex

/** The `format("tx")` connector: planning-time manifest pruning (stat
  * ranges × recorded partition values × blooms) driven by PUSHED
  * Catalyst filters, exactness vs the TxTable API read, time travel,
  * the MoR refusal, SQL `USING tx`, and the streaming source's offset/
  * classification/replay semantics.
  */
class TxDataSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def withRoot(f: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_txdsspec_")
    try f(s"$tmp/t") finally graft.streaming.Replay.deleteRecursively(tmp)
  }

  /** The TxFileIndex the planned scan actually used, plus its pruned
    * file set after forcing one execution of `df`.
    */
  private def scanIndex(df: DataFrame): TxFileIndex = {
    val idx = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec
          if f.relation.location.isInstanceOf[TxFileIndex] =>
        f.relation.location.asInstanceOf[TxFileIndex]
    }
    assert(idx.nonEmpty, "no FileSourceScan over TxFileIndex in the plan")
    idx.get
  }

  private def docsDf(s: SparkSession) = {
    import s.implicits._
    // 12 docs, 3 langs; n_chars strictly increasing per lang so the
    // range layout gives each file a tight range
    (0 until 12).map { i =>
      val lang = Seq("de", "en", "zh")(i % 3)
      (i.toLong, lang, s"src${i % 2}", 100L + 50L * i)
    }.toDF("doc_id", "lang", "source", "n_chars")
  }

  test("filter-driven pruning: partition values x stat ranges, exact answer") {
    withRoot { root =>
      TxTable.commit(spark, root,
        docsDf(spark).repartitionByRange(6, col("lang"), col("n_chars")),
        TxTable.Overwrite, partitionBy = Some("lang"),
        statsCols = Seq("n_chars"))
      val snap = TxTable.currentSnapshot(root).get
      val all = snap.files
      assert(all.size > 2)

      val df = spark.read.format("tx").load(root)
        .filter(col("lang") === "en" && col("n_chars") <= 400)
      val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // exactness: identical to the API read + filter
      val want = TxTable.read(spark, root)
        .filter(col("lang") === "en" && col("n_chars") <= 400)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want && got.nonEmpty)

      // the planned scan pruned to exactly the manifest's own answer:
      // lang part lines ∩ n_chars stat ranges
      val idx = scanIndex(df)
      val pruned = idx.lastPruned.get
      val expected = all.filter { f =>
        val partOk = snap.parts.getOrElse(f, Seq.empty)
          .find(_._1 == "lang").forall(_._2.contains("en"))
        val statOk = snap.stats.getOrElse(f, Seq.empty)
          .find(_._1 == "n_chars").forall { case (_, mn, _, _) => mn <= 400.0 }
        partOk && statOk
      }
      assert(pruned == expected)
      assert(pruned.size < all.size, "filter should have pruned files")
    }
  }

  test("bloom pruning from an IN predicate; no false negatives") {
    withRoot { root =>
      // cluster on n_chars so doc_id ranges are wide in every file:
      // only the bloom can prune a point lookup
      TxTable.commit(spark, root, docsDf(spark),
        TxTable.Overwrite, clusterBy = Some("n_chars"),
        bloomCols = Seq("doc_id"))
      val df = spark.read.format("tx").load(root)
        .filter(col("doc_id").isInCollection(Seq(3L, 7L)))
      val got = df.collect().map(_.getLong(0)).toSet
      assert(got == Set(3L, 7L))
      val kept = scanIndex(df).lastPruned.get
      // ground truth: every file that really holds doc_id 3 or 7 is kept
      val snap = TxTable.currentSnapshot(root).get
      val holders = snap.files.filter(f =>
        !spark.read.parquet(TxTable.absFile(root, f))
          .filter(col("doc_id").isin(3L, 7L)).isEmpty)
      assert(holders.nonEmpty && holders.toSet.subsetOf(kept.toSet))
      // and the bloom skipped the rest (pinned: the probe is deterministic)
      assert(kept.size == 2 && kept.size < snap.files.size,
        s"kept ${kept.size} of ${snap.files.size} files")
    }
  }

  test("versionAsOf time travel; USING tx SQL surface") {
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
      TxTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"),
        TxTable.Append)
      assert(spark.read.format("tx").load(root).count() == 2L)
      assert(spark.read.format("tx").option("versionAsOf", "0")
        .load(root).collect().map(_.getLong(0)).toSeq == Seq(1L))
      spark.sql("DROP VIEW IF EXISTS tx_spec_v")
      spark.sql(
        s"CREATE TEMPORARY VIEW tx_spec_v USING tx OPTIONS (path '$root')")
      assert(spark.sql("SELECT sum(id) AS s FROM tx_spec_v")
        .collect()(0).getLong(0) == 3L)
      spark.sql("DROP VIEW tx_spec_v")
    }
  }

  /** The TxMorRelation a planned scan ran through — the column-mapped
    * sibling of [[scanIndex]] (the plan leaf is a RowDataSourceScan).
    */
  private def morRelation(df: DataFrame): graft.sources.TxMorRelation = {
    val rel = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case r: org.apache.spark.sql.execution.RowDataSourceScanExec
          if r.relation.isInstanceOf[graft.sources.TxMorRelation] =>
        r.relation.asInstanceOf[graft.sources.TxMorRelation]
    }
    assert(rel.nonEmpty, "no RowDataSourceScan over TxMorRelation in plan")
    rel.get
  }

  test("MoR deletion vectors read exactly through the relation (no refusal)") {
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        (1L to 10L).map(i => (i, s"s$i")).toDF("id", "s"))
      TxTable.deleteWhere(spark, root, col("id") === 3L)
      // live DVs: the relation keeps the file-granular shape, its
      // parquet reader drops the deleted row — it never resurrects
      val df = spark.read.format("tx").load(root)
      assert(df.collect().map(_.getLong(0)).toSet ==
        (1L to 10L).toSet - 3L)
      // pins the shape actually planned: one FileSourceScan over the
      // DV-carrying snapshot's TxFileIndex, and no join above it
      assert(TxTable.hasLiveDvs(scanIndex(df).snap))
      assert(df.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.isEmpty, s"DVs planned as a join:\n${df.queryExecution.sparkPlan}")
      // after a purge the table is clean again
      TxTable.purgeDeletes(spark, root)
      val clean = spark.read.format("tx").load(root)
      assert(clean.count() == 9L)
      assert(!TxTable.hasLiveDvs(scanIndex(clean).snap))
    }
  }

  test("a DV read serves _metadata.row_index and file_path: physical " +
      "coordinates, deleted rows absent") {
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        (1L to 30L).map(i => (i, s"s$i")).toDF("id", "s").repartition(3))
      def coords(df: DataFrame): Map[Long, (Long, String)] =
        df.select(col("id"), col("_metadata.row_index"),
          col("_metadata.file_path")).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      val before = coords(spark.read.format("tx").load(root))
      TxTable.deleteWhere(spark, root, col("id") % 4 === 0)
      val t = spark.read.format("tx").load(root)
      assert(coords(t) == before.filter(_._1 % 4 != 0))
      // the row index alone, no data column
      assert(t.select(col("_metadata.row_index")).count() == 23L)
      assert(t.select(col("_metadata.row_index")).collect().map(_.getLong(0))
        .sorted.toSeq == before.filter(_._1 % 4 != 0).values.map(_._1)
          .toSeq.sorted)
    }
  }

  test("DVs apply under partition values holding a space and a '+', " +
      "flat and partitionedRead") {
    withRoot { root =>
      import spark.implicits._
      val rows = (0L until 24L).map(i =>
        (i, Seq("old world", "a+b", "plain")((i % 3).toInt)))
      TxTable.commit(spark, root, rows.toDF("id", "p"), TxTable.Overwrite,
        partitionBy = Some("p"))
      TxTable.deleteWhere(spark, root, col("id") % 4 === 1)
      // every partition lost rows, so every path spelling is exercised
      assert(rows.filter(_._1 % 4 == 1).map(_._2).toSet ==
        Set("old world", "a+b", "plain"))
      val want = rows.filter(_._1 % 4 != 1).toSet
      def got(df: DataFrame): Set[(Long, String)] = df.select("id", "p")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got(spark.read.format("tx").load(root)) == want)
      val surf = spark.read.format("tx").option("partitionedRead", "true")
        .load(root)
      assert(surf.queryExecution.sparkPlan.collectLeaves().exists {
        case f: FileSourceScanExec => f.relation.partitionSchema.nonEmpty
        case _ => false
      }, "premise: the surfaced posture")
      assert(got(surf) == want)
    }
  }

  test("a USING tx view INSERTed into after another writer's deleteWhere " +
      "applies the new head's DVs") {
    withRoot { root =>
      import spark.implicits._
      (1L to 6L).map(i => (i, s"s$i")).toDF("id", "s")
        .write.format("tx").save(root)
      val view = s"tx_dvins_${System.nanoTime()}"
      spark.sql(
        s"CREATE TEMPORARY VIEW $view USING tx OPTIONS (path '$root')")
      try {
        // the view's relation is pinned to the clean v0
        assert(spark.sql(s"SELECT id FROM $view").count() == 6L)
        TxTable.deleteWhere(spark, root, col("id") === 2L)
        spark.sql(s"INSERT INTO $view VALUES (7, 's7')")
        // the insert repinned the view to a head that carries the DVs
        assert(TxTable.hasLiveDvs(TxTable.currentSnapshot(root).get))
        assert(spark.sql(s"SELECT id FROM $view").collect()
          .map(_.getLong(0)).toSet == (1L to 7L).toSet - 2L)
      } finally spark.catalog.dropTempView(view)
    }
  }

  test("column-mapped table reads through the relation; pruning follows the alias chain") {
    withRoot { root =>
      import spark.implicits._
      def b(lo: Long, hi: Long) =
        (lo to hi).map(i => (i, s"s$i")).toDF("id", "s")
      TxTable.commit(spark, root, b(1, 4), TxTable.Overwrite,
        clusterBy = Some("id"), statsCols = Seq("id"))
      TxTable.commit(spark, root, b(5, 8), TxTable.Append,
        clusterBy = Some("id"), statsCols = Seq("id"))
      TxTable.renameColumn(spark, root, "id", "doc_id")
      // post-rename vintage + a MoR delete on top of the mapping
      TxTable.commit(spark, root,
        (9L to 12L).map(i => (i, s"s$i")).toDF("doc_id", "s"),
        TxTable.Append, clusterBy = Some("doc_id"), statsCols = Seq("doc_id"))
      TxTable.deleteWhere(spark, root, col("doc_id") === 6L)
      val df = spark.read.format("tx").load(root)
        .filter(col("doc_id") >= 5L)
      assert(df.collect().map(_.getLong(0)).toSet ==
        (5L to 12L).toSet - 6L)
      // stat pruning fired across vintages: old files record stats under
      // "id", the new one under "doc_id"; the >= 5 predicate must drop
      // the (1..4) file via the ALIAS lookup
      val rel = morRelation(df)
      val pruned = rel.index.lastPruned.get
      val all = TxTable.currentSnapshot(root).get.files
      assert(pruned.size < all.size,
        s"alias-chain pruning did not fire: kept $pruned of $all")
      // identical to the API read
      assert(df.collect().toSet ==
        TxTable.read(spark, root).filter(col("doc_id") >= 5L)
          .collect().toSet)
    }
  }

  test("INSERT INTO a USING tx view commits through the manifest; the view reads its own write") {
    withRoot { root =>
      import spark.implicits._
      (1L to 4L).map(i => (i, s"s$i")).toDF("id", "s")
        .write.format("tx").option("statsCols", "id").save(root)
      val view = s"tx_ins_${System.nanoTime()}"
      spark.sql(
        s"CREATE TEMPORARY VIEW $view USING tx OPTIONS (path '$root', statsCols 'id')")
      try {
        spark.range(5, 7).selectExpr("id", "concat('s', id) AS s")
          .createOrReplaceTempView(s"${view}_src")
        spark.sql(s"INSERT INTO $view SELECT * FROM ${view}_src")
        // the insert is a real manifest commit with the declared stats
        val snap = TxTable.currentSnapshot(root).get
        assert(snap.version == 1L)
        assert(snap.files.exists(f => snap.stats.getOrElse(f, Seq.empty)
          .exists(_._1 == "id")), "insert lost the statsCols option")
        // the SAME view sees the insert (relation repins to the new head)
        assert(spark.sql(s"SELECT * FROM $view").collect()
          .map(_.getLong(0)).toSet == (1L to 6L).toSet)
        // INSERT INTO also lands on the MoR relation shape
        TxTable.deleteWhere(spark, root, col("id") === 2L)
        val view2 = s"${view}_mor"
        spark.sql(
          s"CREATE TEMPORARY VIEW $view2 USING tx OPTIONS (path '$root')")
        spark.sql(s"INSERT INTO $view2 VALUES (7, 's7')")
        assert(spark.sql(s"SELECT * FROM $view2").collect()
          .map(_.getLong(0)).toSet == ((1L to 7L).toSet - 2L))
        spark.catalog.dropTempView(view2)
      } finally {
        spark.catalog.dropTempView(view)
        spark.catalog.dropTempView(s"${view}_src")
      }
    }
  }

  test("INSERT INTO a time-travel relation refuses") {
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
      TxTable.commit(spark, root, Seq((2L, "b")).toDF("id", "s"),
        TxTable.Append)
      val view = s"tx_tt_${System.nanoTime()}"
      spark.sql(s"CREATE TEMPORARY VIEW $view USING tx " +
        s"OPTIONS (path '$root', versionAsOf '0')")
      try {
        val e = intercept[Exception](
          spark.sql(s"INSERT INTO $view VALUES (9, 'z')"))
        def all(t: Throwable): Seq[String] =
          if (t == null) Seq.empty else t.getMessage +: all(t.getCause)
        assert(all(e).exists(m => m != null && m.contains("time-travel")))
        assert(TxTable.currentVersion(root).get == 1L)
      } finally spark.catalog.dropTempView(view)
    }
  }

  test("connector works against a file:-scheme Hadoop root") {
    withRoot { plain =>
      val root = s"file:$plain"
      import spark.implicits._
      (1L to 6L).map(i => (i, i * 10L)).toDF("id", "v")
        .write.format("tx").option("clusterBy", "id")
        .option("statsCols", "id").save(root)
      val df = spark.read.format("tx").load(root).filter(col("id") >= 4L)
      assert(df.collect().map(_.getLong(0)).toSet == Set(4L, 5L, 6L))
      // pruning and the plan shape survive the scheme-qualified root
      val idx = scanIndex(df)
      assert(idx.lastPruned.nonEmpty)
      // MoR path too
      TxTable.deleteWhere(spark, root, col("id") === 5L)
      assert(spark.read.format("tx").load(root).collect()
        .map(_.getLong(0)).toSet == (1L to 6L).toSet - 5L)
    }
  }

  test("unknown predicate shapes degrade to keep-all, never lie") {
    withRoot { root =>
      TxTable.commit(spark, root, docsDf(spark),
        TxTable.Overwrite, clusterBy = Some("n_chars"))
      // a non-translatable predicate (expression over two columns)
      val df = spark.read.format("tx").load(root)
        .filter(col("n_chars") + col("doc_id") > 200L)
      val got = df.count()
      val want = TxTable.read(spark, root)
        .filter(col("n_chars") + col("doc_id") > 200L).count()
      assert(got == want)
    }
  }

  test("streaming source: snapshot, tail, optimize skipped, restart replay") {
    withRoot { root =>
      import spark.implicits._
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      def batch(lo: Long, hi: Long) =
        (lo to hi).map(i => (i, s"s$i")).toDF("id", "s")
      TxTable.commit(ss, root, batch(1, 4))
      val tmp = Files.createTempDirectory("graft_txds_stream_")
      // the memory sink cannot recover from a checkpoint, so the
      // restart half of this test writes to a FILE sink
      def start() = ss.readStream.format("tx").load(root)
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      val q1 = start()
      try {
        q1.processAllAvailable() // initial snapshot v0
        TxTable.commit(ss, root, batch(5, 6), TxTable.Append)
        q1.processAllAvailable() // (v0, v1]
      } finally q1.stop()
      assert(ss.read.parquet(s"$tmp/out").collect()
        .map(_.getLong(0)).toSet == (1L to 6L).toSet)

      // while the stream is DOWN: an optimize (must not re-emit) and
      // another append (must arrive on restart from the checkpoint)
      TxTable.optimize(ss, root, targetFiles = 1)
      TxTable.commit(ss, root, batch(7, 8), TxTable.Append)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val rows = ss.read.parquet(s"$tmp/out").collect()
        .map(_.getLong(0)).toSeq
      assert(rows.toSet == (1L to 8L).toSet)
      assert(rows.size == 8, s"re-delivery detected: $rows")
      graft.streaming.Replay.deleteRecursively(tmp)
    }
  }

  test("startingVersion/endingVersion window read, pruned, refusing in-window DVs") {
    withRoot { root =>
      import spark.implicits._
      def b(lo: Long, hi: Long) =
        (lo to hi).map(i => (i, s"s$i")).toDF("id", "s")
      TxTable.commit(spark, root, b(1, 4), TxTable.Overwrite,
        clusterBy = Some("id"))
      TxTable.commit(spark, root, b(5, 8), TxTable.Append,
        clusterBy = Some("id"))
      TxTable.commit(spark, root, b(9, 12), TxTable.Append,
        clusterBy = Some("id"))
      // the (0, 2] window = versions 1 and 2's arrivals only
      val win = spark.read.format("tx")
        .option("startingVersion", "0").load(root)
      assert(win.collect().map(_.getLong(0)).toSet == (5L to 12L).toSet)
      assert(spark.read.format("tx").option("startingVersion", "0")
        .option("endingVersion", "1").load(root)
        .collect().map(_.getLong(0)).toSet == (5L to 8L).toSet)
      // stat pruning applies INSIDE the window (id ranges are tight)
      val filtered = spark.read.format("tx")
        .option("startingVersion", "0").load(root)
        .filter(col("id") >= 9L)
      assert(filtered.collect().map(_.getLong(0)).toSet == (9L to 12L).toSet)
      val idx = scanIndex(filtered)
      assert(idx.lastPruned.get.nonEmpty &&
        idx.lastPruned.get.size < win.inputFiles.length)
      // empty window: schema-preserving empty result
      assert(spark.read.format("tx").option("startingVersion", "2")
        .load(root).count() == 0L)
      // a delete INSIDE the window puts DVs on a window file — the
      // relation's reader drops it: rows added in the window AND still
      // live at the ending version
      TxTable.commit(spark, root, b(13, 16), TxTable.Append)
      TxTable.deleteWhere(spark, root, col("id") === 14L)
      assert(spark.read.format("tx").option("startingVersion", "2")
        .load(root).collect().map(_.getLong(0)).toSet ==
        Set(13L, 15L, 16L))
    }
  }

  test("streaming source: in-place zorderTable emits nothing; an INGEST " +
      "zorder (content replacement) fails loudly, never silently skips") {
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        (1L to 8L).map(i => (i, i * 10L)).toDF("id", "v"))
      val src = new graft.sources.TxStreamSource(spark, root,
        TxTable.read(spark, root).schema, ignoreChanges = false)
      import org.apache.spark.sql.execution.streaming.GraftStreamShim
      import org.apache.spark.sql.execution.streaming.runtime.LongOffset
      def n(df: org.apache.spark.sql.DataFrame): Long =
        GraftStreamShim.asBatchFrame(df).count()
      val o1 = src.getOffset.get.asInstanceOf[LongOffset]
      assert(n(src.getBatch(None, o1)) == 8L)
      // in-place rewrite: op=zorder, true dataChange=false — no re-emit
      TxTable.zorderTable(spark, root, Seq("id", "v"), targetFiles = 4)
      val o2 = src.getOffset.get.asInstanceOf[LongOffset]
      assert(o2.offset == o1.offset + 1)
      assert(n(src.getBatch(Some(o1), o2)) == 0L,
        "a pure re-layout must not re-deliver rows")
      // ingest zorder REPLACES content: op=zorder_ingest, data-changing —
      // the walk must refuse, not classify it as maintenance and skip
      TxTable.commitZOrderedMulti(spark, root,
        (100L to 104L).map(i => (i, i)).toDF("id", "v"),
        Seq("id", "v"), targetFiles = 2)
      val o3 = src.getOffset.get.asInstanceOf[LongOffset]
      val e = intercept[java.io.IOException](src.getBatch(Some(o2), o3))
      assert(e.getMessage.contains("zorder_ingest"))
    }
  }

  test("streaming source: maxVersionsPerTrigger paces the tail") {
    withRoot { root =>
      import spark.implicits._
      def b(lo: Long, hi: Long) =
        (lo to hi).map(i => (i, s"s$i")).toDF("id", "s")
      TxTable.commit(spark, root, b(1, 2))
      TxTable.commit(spark, root, b(3, 4), TxTable.Append)
      TxTable.commit(spark, root, b(5, 6), TxTable.Append)
      TxTable.commit(spark, root, b(7, 8), TxTable.Append)
      val src = new graft.sources.TxStreamSource(spark, root,
        TxTable.read(spark, root).schema, ignoreChanges = false,
        maxVersionsPerTrigger = Some(1L))
      import org.apache.spark.sql.execution.streaming.GraftStreamShim
      import org.apache.spark.sql.execution.streaming.runtime.LongOffset
      // getBatch frames are isStreaming=true by contract — re-root to
      // count them outside a streaming query
      def n(df: org.apache.spark.sql.DataFrame): Long =
        GraftStreamShim.asBatchFrame(df).count()
      // initial batch: uncapped — the snapshot at the offered head
      val o1 = src.getOffset.get.asInstanceOf[LongOffset]
      assert(o1.offset == 3L)
      assert(n(src.getBatch(None, o1)) == 8L)
      // tail: one version per trigger from the delivered base
      TxTable.commit(spark, root, b(9, 10), TxTable.Append)
      TxTable.commit(spark, root, b(11, 12), TxTable.Append)
      val o2 = src.getOffset.get.asInstanceOf[LongOffset]
      assert(o2.offset == 4L, "tail not paced to delivered + 1")
      assert(n(src.getBatch(Some(o1), o2)) == 2L)
      val o3 = src.getOffset.get.asInstanceOf[LongOffset]
      assert(o3.offset == 5L)
      assert(n(src.getBatch(Some(o2), o3)) == 2L)
      assert(src.getOffset.get.asInstanceOf[LongOffset].offset == 5L)
    }
  }

  test("maxVersionsPerTrigger paces the FIRST post-restart batch (seeded from source metadata)") {
    withRoot { root =>
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.LongOffset
      def b(lo: Long, hi: Long) =
        (lo to hi).map(i => (i, s"s$i")).toDF("id", "s")
      TxTable.commit(spark, root, b(1, 2))
      // an explicitly scheme'd Hadoop path: the cursor must resolve
      // through the checkpoint's FileSystem, not java.nio — a remote
      // checkpoint would otherwise silently lose restart pacing
      val metaDir = Files.createTempDirectory("graft_txds_meta_")
      val meta = s"file:$metaDir"
      val schema = TxTable.read(spark, root).schema
      val s1 = new graft.sources.TxStreamSource(spark, root, schema,
        ignoreChanges = false, maxVersionsPerTrigger = Some(2L),
        metadataPath = Some(meta))
      val o1 = s1.getOffset.get.asInstanceOf[LongOffset]
      s1.getBatch(None, o1) // snapshot at v0; persists delivered=0
      // source goes DOWN; 5 more versions land (backlog > m)
      (1 to 5).foreach(k =>
        TxTable.commit(spark, root, b(10L * k, 10L * k + 1), TxTable.Append))
      // restart with no pending batch: a FRESH source instance must cap
      // its first offered offset at delivered + m, not the head
      val s2 = new graft.sources.TxStreamSource(spark, root, schema,
        ignoreChanges = false, maxVersionsPerTrigger = Some(2L),
        metadataPath = Some(meta))
      val o2 = s2.getOffset.get.asInstanceOf[LongOffset]
      assert(o2.offset == 2L,
        s"first post-restart batch uncapped: offered v${o2.offset}, head v5")
      // same contract for the CDF source
      val c2 = new graft.sources.TxCdfStreamSource(spark, root,
        StructType(schema.fields :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType, nullable = false) :+
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false)),
        keyCol = "id", startingVersion = None,
        maxVersionsPerTrigger = Some(2L), metadataPath = Some(meta))
      val co = c2.getOffset.get.asInstanceOf[LongOffset]
      assert(co.offset == 2L,
        s"CDF first post-restart batch uncapped: offered v${co.offset}")
      // without a persisted cursor the old behavior stands (one catch-up)
      val s3 = new graft.sources.TxStreamSource(spark, root, schema,
        ignoreChanges = false, maxVersionsPerTrigger = Some(2L))
      assert(s3.getOffset.get.asInstanceOf[LongOffset].offset == 5L)
      // the cursor file actually lives under the scheme'd dir
      assert(Files.exists(metaDir.resolve("graft-delivered")))
      graft.streaming.Replay.deleteRecursively(metaDir)
    }
  }

  test("two-level pushdown composes: manifest prune AND parquet PushedFilters") {
    withRoot { root =>
      TxTable.commit(spark, root,
        docsDf(spark).repartitionByRange(6, col("n_chars")),
        TxTable.Overwrite, clusterBy = Some("n_chars"))
      val df = spark.read.format("tx").load(root)
        .filter(col("n_chars") >= 300L)
      val plan = df.queryExecution.executedPlan.toString
      // level 2: the predicate ALSO reaches the parquet reader for
      // row-group skipping inside the surviving files
      assert(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual(n_chars,300)"),
        s"parquet pushdown missing:\n$plan")
      // level 1: the manifest prune already dropped dead files
      df.collect()
      val idx = scanIndex(df)
      assert(idx.lastPruned.get.size <
        TxTable.currentSnapshot(root).get.files.size)
    }
  }

  test("manifest-derived sizeInBytes drives auto-broadcast of small tx tables") {
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root, docsDf(spark))
      val big = spark.range(0, 100000L).selectExpr("id % 12 AS doc_id",
        "id AS payload")
      val joined = big.join(spark.read.format("tx").load(root), "doc_id")
      // no explicit broadcast(): the relation's manifest-stat size is
      // what lets Spark pick the broadcast join on its own
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"small tx side not auto-broadcast:\n$plan")
      assert(joined.count() == 100000L)
    }
  }

  test("streaming source: startingVersion tails without the initial snapshot") {
    withRoot { root =>
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.GraftStreamShim
      import org.apache.spark.sql.execution.streaming.runtime.LongOffset
      def b(lo: Long, hi: Long) =
        (lo to hi).map(i => (i, s"s$i")).toDF("id", "s")
      TxTable.commit(spark, root, b(1, 4))
      TxTable.commit(spark, root, b(5, 6), TxTable.Append)
      TxTable.commit(spark, root, b(7, 8), TxTable.Append)
      val src = new graft.sources.TxStreamSource(spark, root,
        TxTable.read(spark, root).schema, ignoreChanges = false,
        startingVersion = Some(1L))
      def n(df: org.apache.spark.sql.DataFrame) =
        GraftStreamShim.asBatchFrame(df).collect().map(_.getLong(0)).toSet
      // first batch = (1, head] window only — v0's snapshot and v1's
      // append are both before the cursor
      val o = src.getOffset.get.asInstanceOf[LongOffset]
      assert(o.offset == 2L)
      assert(n(src.getBatch(None, o)) == Set(7L, 8L))

      // startingTimestamp resolves through commit times: at-or-before
      // v1's time → tail above v1; before the first commit → everything
      Seq(0L, 1L, 2L).foreach(v =>
        TxTable.setCommitTimeForTest(root, v, 1000L * (v + 1)))
      assert(graft.sources.TxDataSource.startCursor(root,
        Map("startingtimestamp" -> "2500")).contains(1L))
      assert(graft.sources.TxDataSource.startCursor(root,
        Map("startingtimestamp" -> "500")).contains(-1L))
      intercept[IllegalArgumentException](
        graft.sources.TxDataSource.startCursor(root,
          Map("startingtimestamp" -> "500", "startingversion" -> "1")))
    }
  }

  test("batch writer: SaveMode matrix, options flow to manifest metadata") {
    withRoot { root =>
      val d = docsDf(spark)
      d.write.format("tx").mode("overwrite")
        .option("partitionBy", "lang").option("statsCols", "n_chars")
        .save(root)
      val snap0 = TxTable.currentSnapshot(root).get
      assert(snap0.files.forall(f => snap0.parts(f).exists(_._1 == "lang")))
      assert(snap0.files.forall(f => snap0.stats.getOrElse(f, Seq.empty)
        .exists(_._1 == "n_chars")))
      // append via writer; idempotent txn options no-op on replay
      val extra = docsDf(spark).withColumn("doc_id", col("doc_id") + 100L)
      extra.write.format("tx").mode("append")
        .option("txnAppId", "w1").option("txnVersion", "1").save(root)
      val vAfter = TxTable.currentVersion(root).get
      extra.write.format("tx").mode("append")
        .option("txnAppId", "w1").option("txnVersion", "1").save(root)
      assert(TxTable.currentVersion(root).get == vAfter,
        "replayed (txnAppId, txnVersion) write committed a new version")
      assert(spark.read.format("tx").load(root).count() == 24L)
      // ErrorIfExists refuses, Ignore no-ops
      intercept[java.io.IOException](
        d.write.format("tx").mode("errorifexists").save(root))
      d.write.format("tx").mode("ignore").save(root)
      assert(TxTable.currentVersion(root).get == vAfter)
    }
  }

  test("streaming sink: one version per batch, replayed batch no-ops, partitionBy recorded") {
    withRoot { root =>
      import spark.implicits._
      val sink = new graft.sources.TxSink(root, appId = "sinkspec",
        partitionCols = Seq("lang"), statsCols = Seq("n_chars"),
        bloomCols = Nil)
      def df(lo: Int, hi: Int) = (lo to hi)
        .map(i => (i.toLong, Seq("de", "en")(i % 2), 100L + i))
        .toDF("doc_id", "lang", "n_chars")
      sink.addBatch(0L, df(0, 5))
      sink.addBatch(1L, df(6, 9))
      val v = TxTable.currentVersion(root).get
      assert(v == 1L)
      sink.addBatch(1L, df(6, 9)) // at-least-once replay
      sink.addBatch(0L, df(0, 5)) // stale replay below high-water
      assert(TxTable.currentVersion(root).get == v,
        "replayed micro-batch committed — exactly-once contract broken")
      assert(TxTable.read(spark, root).count() == 10L)
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.files.forall(f => snap.parts(f).exists(_._1 == "lang")))
      // the sink's layout serves the reader's pruning (count() alone
      // would now answer from metadata with zero scans — probe with a
      // sum so the partition prune actually runs)
      val read = spark.read.format("tx").load(root)
        .filter(col("lang") === "de")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("s"))
      assert(read.collect().head.getLong(0) == 5L)
      assert(scanIndex(read).lastPruned.get.size < snap.files.size)
    }
  }

  test("CDF streaming source: deletes arrive as rows, restart replays exactly once") {
    withRoot { root =>
      import spark.implicits._
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      def b(lo: Long, hi: Long) =
        (lo to hi).map(i => (i, 100L * i)).toDF("id", "v")
      TxTable.commit(ss, root, b(1, 6), TxTable.Overwrite,
        clusterBy = Some("id"))
      val tmp = Files.createTempDirectory("graft_txds_cdf_")
      def start() = ss.readStream.format("tx")
        .option("readChangeFeed", "true").option("keyColumn", "id")
        .load(root)
        .writeStream.format("parquet").option("path", s"$tmp/out")
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // while down: a MoR delete and an append — the plain source would
      // refuse the delete; the CDF source must deliver it as rows
      TxTable.deleteWhere(ss, root, col("id") <= 2L)
      TxTable.commit(ss, root, b(7, 8), TxTable.Append)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val rows = ss.read.parquet(s"$tmp/out")
        .select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      // v0: 6 inserts; v1: exactly the 2 deleted rows; v2: 2 inserts —
      // and nothing twice across the restart
      assert(rows.count(t => t._2 == "insert" && t._3 == 0L) == 6)
      assert(rows.filter(_._2 == "delete").map(_._1).sorted.toSeq ==
        Seq(1L, 2L))
      assert(rows.count(t => t._2 == "insert" && t._3 == 2L) == 2)
      assert(rows.length == 10, s"re-delivery/loss: ${rows.toSeq}")
      graft.streaming.Replay.deleteRecursively(tmp)
    }
  }

  test("CDF streaming source: a mid-stream rename keeps the declared schema, values exact") {
    withRoot { root =>
      import spark.implicits._
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      TxTable.commit(ss, root,
        (1L to 4L).map(i => (i, 10L * i)).toDF("id", "v"))
      val tmp = Files.createTempDirectory("graft_txds_cdfren_")
      val q = ss.readStream.format("tx")
        .option("readChangeFeed", "true").option("keyColumn", "id")
        .load(root)
        .writeStream.format("parquet").option("path", s"$tmp/out")
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try {
        q.processAllAvailable()
        // metadata-only rename, then post-rename arrivals under the NEW
        // name: the running stream's declared column is still "v" — the
        // vintage coalesce must land the values there, never null
        TxTable.renameColumn(ss, root, "v", "val")
        TxTable.commit(ss, root, (5L to 6L).map(i => (i, 10L * i))
          .toDF("id", "val"), TxTable.Append)
        q.processAllAvailable()
      } finally q.stop()
      val rows = ss.read.parquet(s"$tmp/out")
        .select("id", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(rows == (1L to 6L).map(i => (i, 10L * i, "insert")).toSet,
        s"mid-stream rename corrupted the feed: $rows")
      graft.streaming.Replay.deleteRecursively(tmp)
    }
  }

  test("plain streaming source: a mid-stream rename keeps flowing under the declared name") {
    withRoot { root =>
      import spark.implicits._
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      TxTable.commit(ss, root,
        (1L to 3L).map(i => (i, 10L * i)).toDF("id", "v"))
      val tmp = Files.createTempDirectory("graft_txds_ren_")
      val q = ss.readStream.format("tx").load(root)
        .writeStream.format("parquet").option("path", s"$tmp/out")
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try {
        q.processAllAvailable()
        TxTable.renameColumn(ss, root, "v", "val")
        TxTable.commit(ss, root, (4L to 5L).map(i => (i, 10L * i))
          .toDF("id", "val"), TxTable.Append)
        q.processAllAvailable()
      } finally q.stop()
      val rows = ss.read.parquet(s"$tmp/out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == (1L to 5L).map(i => (i, 10L * i)).toSet,
        s"rename broke the stream's schema contract: $rows")
      graft.streaming.Replay.deleteRecursively(tmp)
    }
  }

  test("restart adopts an added column, losing no rows across the boundary") {
    withRoot { root =>
      import spark.implicits._
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      TxTable.commit(ss, root,
        (1L to 2L).map(i => (i, s"s$i")).toDF("id", "s"))
      val tmp = Files.createTempDirectory("graft_txds_adopt_")
      def start() = ss.readStream.format("tx").load(root)
        .writeStream.format("parquet").option("path", s"$tmp/out")
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // while down: additive evolution — new arrivals carry `extra`,
      // which a RUNNING stream would (by contract) not emit
      TxTable.commit(ss, root,
        (3L to 4L).map(i => (i, s"s$i", i * 100L)).toDF("id", "s", "extra"),
        TxTable.Append)
      // restart on the SAME checkpoint: declared schema re-resolves to
      // the current snapshot (incl. `extra`), offsets resume exactly
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val out = ss.read.option("mergeSchema", "true").parquet(s"$tmp/out")
      val rows = out.select("id", "extra").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      // no loss, no re-delivery; pre-restart rows null in the new column
      assert(rows == Set((1L, -1L), (2L, -1L), (3L, 300L), (4L, 400L)),
        s"schema adoption across restart broken: $rows")
      graft.streaming.Replay.deleteRecursively(tmp)
    }
  }

  test("streaming source: data-changing commits fail loudly without ignoreChanges") {
    withRoot { root =>
      import spark.implicits._
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      TxTable.commit(ss, root, (1L to 6L).map(i => (i, s"s$i")).toDF("id", "s"))
      val tmp = Files.createTempDirectory("graft_txds_refuse_")
      val sink = s"txds_refuse_${System.nanoTime()}"
      val q = ss.readStream.format("tx").load(root)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try {
        q.processAllAvailable()
        TxTable.deleteWhere(ss, root, col("id") === 2L)
        TxTable.purgeDeletes(ss, root) // materialize: a rewrite commit
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          q.processAllAvailable())
        assert(e.getMessage.contains("delete_mor") ||
          e.getCause.getMessage.contains("delete_mor"))
      } finally q.stop()
      ss.catalog.dropTempView(sink)
      graft.streaming.Replay.deleteRecursively(tmp)
    }
  }

  test("partitionedRead surfaces the layout: same answer, same prune, real partitionSchema") {
    withRoot { root =>
      TxTable.commit(spark, root,
        docsDf(spark).repartitionByRange(6, col("lang"), col("n_chars")),
        TxTable.Overwrite, partitionBy = Some("lang"),
        statsCols = Seq("n_chars"))
      val total = TxTable.currentSnapshot(root).get.files.size
      def read(surfaced: Boolean) = {
        val r = spark.read.format("tx")
        (if (surfaced) r.option("partitionedRead", "true") else r).load(root)
          .filter(col("lang") === "en" && col("n_chars") >= 300L)
      }
      val flat = read(surfaced = false)
      val part = read(surfaced = true)
      // the surfaced relation plans a NON-empty partitionSchema
      val scan = part.queryExecution.sparkPlan.collectLeaves().collectFirst {
        case f: FileSourceScanExec => f }.get
      assert(scan.relation.partitionSchema.fieldNames.toSeq == Seq("lang"))
      // identical rows either way (partition values come from the
      // manifest under the surfaced posture, from the files under flat)
      val a = flat.collect().map(_.toSeq).toSet
      val b = part.collect().map(_.toSeq).toSet
      assert(a == b && a.nonEmpty)
      // identical prune: the lang filter travels as a partitionFilter
      // in the surfaced plan but keeps the same file-dropping power,
      // and the n_chars stat prune (a data filter) still multiplies in
      val keptFlat = scanIndex(flat).lastPruned.get.toSet
      val keptPart = scanIndex(part).lastPruned.get.toSet
      assert(keptPart == keptFlat && keptPart.size < total)
    }
  }

  test("partitionedRead enables dynamic partition pruning in a star join") {
    withRoot { root =>
      val ss = spark.newSession()
      ss.conf.set("spark.sql.adaptive.enabled", "false")
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      import ss.implicits._
      TxTable.commit(ss, root,
        docsDf(ss).repartitionByRange(6, col("lang"), col("n_chars")),
        TxTable.Overwrite, partitionBy = Some("lang"),
        statsCols = Seq("n_chars"))
      val total = TxTable.currentSnapshot(root).get.files.size
      // dim must be a real scan: a local Seq would constant-fold its
      // filter away (ConvertToLocalRelation) and DPP needs a selective
      // predicate node on the build side
      Seq(("de", "eu"), ("en", "eu"), ("zh", "asia"))
        .toDF("lang", "region")
        .write.mode("overwrite").parquet(s"$root-dim")
      val dim = ss.read.parquet(s"$root-dim")
      val fact = ss.read.format("tx")
        .option("partitionedRead", "true").load(root)
      val joined = fact.join(dim.filter(col("region") === "asia"), "lang")
        .groupBy("lang").agg(count(lit(1)).as("n"))
      val rows = joined.collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toSeq == Seq(("zh", 4L)))
      // the fact scan carries a runtime partition filter fed by the
      // dim-side broadcast — the plan-level win the flat posture
      // structurally cannot express
      val plan = joined.queryExecution.executedPlan
      val scan = plan.collectLeaves().collectFirst {
        case f: FileSourceScanExec
            if f.relation.location.isInstanceOf[TxFileIndex] => f }.get
      assert(scan.toString.contains("dynamicpruning"),
        s"no dynamic pruning filter on the tx scan:\n$scan")
      // post-dynamic-pruning planned file set (the numFiles SQLMetric
      // only feeds the UI store, not the local object)
      val scanned = scan.inputRDDs().head
        .asInstanceOf[org.apache.spark.sql.execution.datasources.FileScanRDD]
        .filePartitions.iterator.flatMap(_.files)
        .map(_.filePath.toString).distinct.size
      assert(scanned > 0 && scanned < total,
        s"DPP did not drop files: $scanned/$total")
    }
  }

  test("partitionedRead refuses unpartitioned tables loudly") {
    withRoot { root =>
      TxTable.commit(spark, root, docsDf(spark)) // no partitionBy
      val e1 = intercept[IllegalArgumentException](
        spark.read.format("tx").option("partitionedRead", "true")
          .load(root).collect())
      assert(e1.getMessage.contains("no surfaceable partition column"))
    }
  }

  test("partitionedRead composes with column mappings: coalesced vintages, pruning and DPP intact") {
    withRoot { root =>
      val ss = spark.newSession()
      ss.conf.set("spark.sql.adaptive.enabled", "false")
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      import ss.implicits._
      TxTable.commit(ss, root, docsDf(ss),
        TxTable.Overwrite, partitionBy = Some("lang"))
      // rename a DATA column, then append a post-rename vintage —
      // files now genuinely mix n_chars/len bytes
      TxTable.renameColumn(ss, root, "n_chars", "len")
      TxTable.commit(ss, root,
        Seq((100L, "zh", "src0", 990L)).toDF("doc_id", "lang", "source", "len"),
        TxTable.Append, partitionBy = Some("lang"))
      // and rename the PARTITION column itself (r18: part lines keep
      // the write-time name; the alias-aware index resolves it)
      TxTable.renameColumn(ss, root, "lang", "language")
      val surf = ss.read.format("tx").option("partitionedRead", "true")
        .load(root)
      val flat = ss.read.format("tx").load(root)
      // r18: the mapped surfaced read answers EXACTLY like the MoR
      // relation — every vintage coalesced, both column generations
      // (pre-r18 this refused with "needs an unmapped snapshot")
      assert(surf.collect().map(_.toSeq).toSet ==
        flat.collect().map(_.toSeq).toSet)
      assert(surf.count() == 13L)
      assert(surf.filter(col("len") === 990L).count() == 1L)
      // the pre-rename vintage reads through the coalesce too
      assert(surf.filter(col("doc_id") === 0L).select("len")
        .collect().head.getLong(0) == 100L)
      // static partition pruning prunes THROUGH the renamed column
      val probe = surf.filter(col("language") === "zh")
      assert(probe.collect().length == 5)
      val total = TxTable.currentSnapshot(root).get.files.size
      val kept = scanIndex(probe).lastPruned.get.size
      assert(kept < total,
        s"partition pruning under the mapping pruned nothing ($kept/$total)")
      // and DPP: a dim-side filter dynamically prunes the mapped fact
      // scan at runtime, keyed on the RENAMED partition column
      Seq(("de", "eu"), ("en", "eu"), ("zh", "asia"))
        .toDF("language", "region")
        .write.mode("overwrite").parquet(s"$root-dim")
      val dim = ss.read.parquet(s"$root-dim")
        .filter(col("region") === "asia")
      val joined = surf.join(dim, "language").groupBy("language")
        .agg(count(lit(1)).as("n"))
      assert(joined.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSeq == Seq(("zh", 5L)))
      val scan = joined.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: FileSourceScanExec
            if f.relation.location.isInstanceOf[TxFileIndex] => f }.get
      assert(scan.toString.contains("dynamicpruning"),
        s"no dynamic pruning filter on the mapped tx scan:\n$scan")
    }
  }

  test("partitionedRead composes with live deletion vectors: exact rows, DPP still fires") {
    withRoot { root =>
      val ss = spark.newSession()
      ss.conf.set("spark.sql.adaptive.enabled", "false")
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      import ss.implicits._
      TxTable.commit(ss, root,
        docsDf(ss).repartitionByRange(6, col("lang"), col("n_chars")),
        TxTable.Overwrite, partitionBy = Some("lang"))
      TxTable.deleteWhere(ss, root, col("doc_id") % 4 === 0)
      val surf = ss.read.format("tx").option("partitionedRead", "true")
        .load(root)
      // the reader applied the DVs exactly: identical to the flat
      // posture on the same snapshot
      val flat = ss.read.format("tx").load(root)
      assert(surf.collect().map(_.toSeq).toSet ==
        flat.collect().map(_.toSeq).toSet)
      assert(surf.count() == 9L) // 12 - 3 deleted (0,4,8)
      // and the posture's point: a dim-side filter still dynamically
      // prunes the fact scan whose reader applies the DVs
      Seq(("de", "eu"), ("en", "eu"), ("zh", "asia")).toDF("lang", "region")
        .write.mode("overwrite").parquet(s"$root-dim")
      val dim = ss.read.parquet(s"$root-dim")
        .filter(col("region") === "asia")
      val joined = surf.join(dim, "lang").groupBy("lang")
        .agg(count(lit(1)).as("n"))
      assert(joined.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSeq == Seq(("zh", 3L))) // doc 8 (zh) deleted
      val scan = joined.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: FileSourceScanExec
              if f.relation.location.isInstanceOf[TxFileIndex] => f }.get
      assert(scan.toString.contains("dynamicpruning"),
        s"no dynamic pruning on the MoR fact scan:\n$scan")
      val scanned = scan.inputRDDs().head
        .asInstanceOf[org.apache.spark.sql.execution.datasources.FileScanRDD]
        .filePartitions.iterator.flatMap(_.files)
        .map(_.filePath.toString).distinct.size
      val total = TxTable.currentSnapshot(root).get.files.size
      assert(scanned < total, s"DPP dropped nothing ($scanned/$total)")
    }
  }

  test("partitioned commit refuses empty-string partition values (''/null conflation)") {
    withRoot { root =>
      import spark.implicits._
      // hive path rendering maps both null and "" to the default-
      // partition sentinel; recording "" as a null part value would make
      // the flat and surfaced postures answer differently
      val df = Seq((1L, ""), (2L, "en"), (3L, null.asInstanceOf[String]))
        .toDF("id", "lang")
      val e = intercept[IllegalArgumentException](
        TxTable.commit(spark, root, df, TxTable.Overwrite,
          partitionBy = Some("lang")))
      assert(e.getMessage.contains("empty-string"))
      assert(TxTable.currentVersion(root).isEmpty,
        "refusal must land before any manifest publishes")
      // true nulls alone are fine: the sentinel means null and only null
      TxTable.commit(spark, root,
        Seq((1L, null.asInstanceOf[String]), (2L, "en")).toDF("id", "lang"),
        TxTable.Overwrite, partitionBy = Some("lang"))
      val got = spark.read.format("tx").option("partitionedRead", "true")
        .load(root).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, null), (2L, "en")))
    }
  }

  test("INSERT INTO a partitionedRead relation keeps part-line coverage") {
    withRoot { root =>
      import spark.implicits._
      TxTable.commit(spark, root,
        docsDf(spark), TxTable.Overwrite, partitionBy = Some("lang"))
      spark.sql("DROP VIEW IF EXISTS tx_spec_surf")
      spark.sql(s"CREATE TEMPORARY VIEW tx_spec_surf USING tx OPTIONS " +
        s"(path '$root', partitionedRead 'true')")
      // an insert with NO declared layout inherits the surfaced columns:
      // the commit writes part lines and later surfaced reads keep working
      spark.sql("INSERT INTO tx_spec_surf VALUES (100, 'fr', 'src9', 990)")
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.files.forall(f =>
        snap.parts.getOrElse(f, Seq.empty).exists(_._1 == "lang")),
        "inserted files must carry lang part lines")
      val again = spark.read.format("tx").option("partitionedRead", "true")
        .load(root)
      assert(again.filter(col("lang") === "fr").count() == 1L)
      assert(again.count() == 13L)
      spark.catalog.dropTempView("tx_spec_surf")
      // a declared layout that MISSES the surfaced column refuses on the
      // write (not on some later read)
      val rel = new graft.sources.TxDataSource().createRelation(
        spark.sqlContext, Map("path" -> root, "partitionedread" -> "true",
          "partitionby" -> "source"))
      val e = intercept[IllegalArgumentException](
        rel.asInstanceOf[org.apache.spark.sql.sources.InsertableRelation]
          .insert(docsDf(spark).limit(1), false))
      assert(e.getMessage.contains("surfaced partition column"))
      // defense-in-depth for sessions WITHOUT the TxInsertRouting rule:
      // the raw InsertIntoHadoopFsRelationCommand path dies at
      // prepareWrite, before one byte lands in the table root
      val e2 = intercept[UnsupportedOperationException](
        new graft.sources.TxParquetFileFormat().prepareWrite(spark,
          org.apache.hadoop.mapreduce.Job.getInstance(),
          Map.empty, again.schema))
      assert(e2.getMessage.contains("manifest protocol"))
    }
  }
}
