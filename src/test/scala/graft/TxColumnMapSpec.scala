package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxTable

/** Column mapping (RENAME / DROP COLUMN as metadata-only commits):
  * alias-chain resolution at the read seam, vintage mixing, name
  * reservation, refusals, pruning through renamed stats, CDF and MoR
  * interplay, optimize as the mapping's materializer, and the
  * format-5 protocol ratchet.
  */
class TxColumnMapSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def withRoot(f: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_txcmspec_")
    try f(s"$tmp/t") finally graft.streaming.Replay.deleteRecursively(tmp)
  }

  private def manifestText(root: String, v: Long): String =
    new String(Files.readAllBytes(
      Paths.get(root, "_manifests", f"v$v%09d.txt")),
      java.nio.charset.StandardCharsets.UTF_8)

  test("rename: vintage mixing reads exactly, time travel keeps old name, format ratchets") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "x"))
      TxTable.commit(spark, root,
        Seq((3L, "c", 30L)).toDF("id", "s", "x"), TxTable.Append)
      // unmapped table stays format 4
      assert(manifestText(root, 1L).contains("format 4"))
      val v2 = TxTable.renameColumn(spark, root, "s", "t")
      assert(v2 == 2L)
      assert(manifestText(root, 2L).contains("format 5"))
      assert(manifestText(root, 2L).contains("colrename "))
      // metadata-only: same files
      assert(TxTable.snapshotAt(root, 2L).files ==
        TxTable.snapshotAt(root, 1L).files)
      // post-rename append writes the NEW name
      TxTable.commit(spark, root,
        Seq((4L, "d", 40L)).toDF("id", "t", "x"), TxTable.Append)
      val got = TxTable.read(spark, root)
        .select("id", "t", "x").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
        (4L, "d", 40L)))
      // null values in old vintages stay null (coalesce is exact)
      assert(!TxTable.read(spark, root).columns.contains("s"))
      // time travel: the pre-rename snapshot still reads under 's'
      val old = TxTable.readVersion(spark, root, 1L)
      assert(old.columns.toSeq == Seq("id", "s", "x"))
      assert(old.count() == 3L)
    }
  }

  test("renamed stat column still prunes; exact answers through every read path") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        (1L to 40L).map(i => (i, s"s$i", i * 10L)).toDF("id", "s", "x"),
        TxTable.Overwrite, clusterBy = Some("x"))
      TxTable.renameColumn(spark, root, "x", "chars")
      // pruning by the NEW name consults the OLD name's stat lines
      val pruned = TxPrune.files(spark, root, col("chars").between(10, 60))
      assert(pruned.nonEmpty &&
        pruned.size < TxTable.currentSnapshot(root).get.files.size)
      val got = spark.read.format("tx").load(root)
        .filter(col("chars").between(10, 60))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == (1L to 6L).toSet)
      // MoR delete by the new name, then CDF classification
      TxTable.deleteWhere(spark, root, col("chars") === 30L)
      assert(TxTable.read(spark, root).count() == 39L)
      val feed = graft.operators.TxChangeFeed.readChangeFeed(spark, root,
        1L, TxTable.currentVersion(root).get, "id")
      val deleted = feed.filter(col("_change_type") === "delete")
        .select("id", "chars").collect()
      assert(deleted.map(_.getLong(0)).toSeq == Seq(3L))
      assert(deleted.head.getLong(1) == 30L) // logical name in the feed
    }
  }

  test("name reservation: re-adding retired names refused on every path") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        Seq((1L, "a", 1.0)).toDF("id", "s", "score"))
      TxTable.renameColumn(spark, root, "s", "t")
      TxTable.dropColumn(spark, root, "score")
      assert(TxTable.read(spark, root).columns.toSeq == Seq("id", "t"))
      // rename target may not be a live name, an alias, or a dead name
      intercept[IllegalArgumentException](
        TxTable.renameColumn(spark, root, "t", "id"))
      intercept[IllegalArgumentException](
        TxTable.renameColumn(spark, root, "t", "s"))
      intercept[IllegalArgumentException](
        TxTable.renameColumn(spark, root, "t", "score"))
      // append may not resurrect an alias or tombstone
      intercept[IllegalArgumentException](TxTable.commit(spark, root,
        Seq((9L, "z", "boom")).toDF("id", "t", "s"), TxTable.Append))
      intercept[IllegalArgumentException](TxTable.commit(spark, root,
        Seq((9L, "z", 2.0)).toDF("id", "t", "score"), TxTable.Append))
      // a fresh name is fine
      TxTable.commit(spark, root,
        Seq((9L, "z", 2.0)).toDF("id", "t", "quality"), TxTable.Append)
      assert(TxTable.read(spark, root).count() == 2L)
      // Overwrite resets the reservations (no old files remain)
      TxTable.commit(spark, root, Seq((1L, "fresh")).toDF("id", "s"))
      assert(TxTable.currentSnapshot(root).get.deadCols.isEmpty)
      assert(TxTable.read(spark, root).columns.toSeq == Seq("id", "s"))
    }
  }

  test("refusals: CHECK-referenced columns stay rename/drop-proof; partition drop refuses through the alias") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        Seq((1L, "en", 5L)).toDF("id", "lang", "n"),
        TxTable.Overwrite, partitionBy = Some("lang"))
      TxTable.addCheck(spark, root, "pos_n", "n > 0")
      val e1 = intercept[IllegalArgumentException](
        TxTable.renameColumn(spark, root, "n", "m"))
      assert(e1.getMessage.contains("pos_n"))
      intercept[IllegalArgumentException](
        TxTable.dropColumn(spark, root, "n"))
      // partition columns rename freely since r18 — and the DROP
      // refusal follows the column through its alias chain (the part
      // lines still carry the old name)
      TxTable.renameColumn(spark, root, "lang", "language")
      val e2 = intercept[IllegalArgumentException](
        TxTable.dropColumn(spark, root, "language"))
      assert(e2.getMessage.contains("partition column"))
      // 'id' is mentioned by neither — renames fine
      TxTable.renameColumn(spark, root, "id", "doc_id")
      assert(TxTable.read(spark, root).columns.contains("doc_id"))
    }
  }

  test("optimize materializes the mapping: format drops to 4, connector goes file-granular again") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
      TxTable.renameColumn(spark, root, "s", "t")
      // the connector no longer refuses a mapped table (r15: it takes
      // the MoR-aware relation, vintage-coalesced) — but the scan shape
      // is the composed RowDataSourceScan, not the file-granular path
      def planOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.sparkPlan.toString
      val mapped = spark.read.format("tx").load(root)
      assert(planOf(mapped).contains("TxMorRelation"),
        s"mapped snapshot should plan the MoR-aware relation:\n${planOf(mapped)}")
      assert(mapped.select("id", "t").collect().map(r =>
        (r.getLong(0), r.getString(1))).toSet == Set((1L, "a"), (2L, "b")))
      val vOpt = TxTable.optimize(spark, root, targetFiles = 1)
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.renames.isEmpty && snap.deadCols.isEmpty)
      assert(manifestText(root, vOpt).contains("format 4"))
      // and now the FILE-GRANULAR connector path works, with the new name
      val clean = spark.read.format("tx").load(root)
      assert(planOf(clean).contains("FileScan"),
        s"materialized table should plan the file-granular scan:\n${planOf(clean)}")
      val rows = clean
        .select("id", "t").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(rows.toSet == Set((1L, "a"), (2L, "b")))
      // the retired name is free again after the full rewrite
      TxTable.commit(spark, root,
        Seq((3L, "c", "extra")).toDF("id", "t", "s"), TxTable.Append)
      assert(TxTable.read(spark, root).count() == 3L)
    }
  }

  test("restore to a pre-rename version brings that schema and mapping back") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
      TxTable.renameColumn(spark, root, "s", "t")
      TxTable.commit(spark, root, Seq((2L, "b")).toDF("id", "t"),
        TxTable.Append)
      TxTable.restore(spark, root, 0L)
      val head = TxTable.read(spark, root)
      assert(head.columns.toSeq == Seq("id", "s"))
      assert(head.collect().map(_.getLong(0)).toSeq == Seq(1L))
      assert(TxTable.currentSnapshot(root).get.renames.isEmpty)
    }
  }

  test("SQL procedures: tx_rename_column / tx_drop_column receipts") {
    import spark.implicits._
    withRoot { root =>
      Engine.registerTableFunctions(spark)
      TxTable.commit(spark, root,
        Seq((1L, "a", 1L)).toDF("id", "s", "junk"))
      val r1 = spark.sql(
        s"SELECT * FROM tx_rename_column('$root', 's', 't')").collect()(0)
      assert(r1.getString(0) == "rename_column:s->t" && r1.getLong(1) == 1L)
      val r2 = spark.sql(
        s"SELECT * FROM tx_drop_column('$root', 'junk')").collect()(0)
      assert(r2.getLong(1) == 2L)
      assert(TxTable.read(spark, root).columns.toSeq == Seq("id", "t"))
    }
  }

  test("partition-column rename: full lifecycle through every part-line consumer (r18)") {
    import spark.implicits._
    withRoot { root =>
      val docs = (0L until 12L).map(i =>
        (i, Seq("de", "en", "zh")((i % 3).toInt), 100L + i))
      TxTable.commit(spark, root, docs.toDF("id", "lang", "n"),
        TxTable.Overwrite, partitionBy = Some("lang"),
        statsCols = Seq("n"))
      TxTable.renameColumn(spark, root, "lang", "language")
      // 1. reads coalesce the vintage: old files' bytes say 'lang'
      val all = TxTable.read(spark, root)
      assert(all.columns.contains("language"))
      assert(all.filter(col("language") === "zh").count() == 4L)
      // 2. a post-rename partitioned APPEND writes part lines under the
      // NEW name — mixed-name manifests from here on
      TxTable.commit(spark, root,
        Seq((100L, "fr", 990L)).toDF("id", "language", "n"),
        TxTable.Append, partitionBy = Some("language"))
      assert(TxTable.read(spark, root).count() == 13L)
      // 3. manifest partition pruning matches across vintages
      val pruned = TxPrune.files(spark, root,
        col("language").isin("zh", "fr"))
      val snap = TxTable.currentSnapshot(root).get
      assert(pruned.size < snap.files.size && pruned.nonEmpty)
      // 4. zero-scan partition stats group across both name vintages
      val counts = TxTable.partitionRowCounts(spark, root, "language")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("de" -> 4L, "en" -> 4L, "zh" -> 4L, "fr" -> 1L))
      // 5. dynamic partition overwrite classifies old-name files by the
      // renamed column and swaps exactly the recomputed partition
      TxTable.overwritePartitions(spark, root,
        Seq((200L, "zh", 1L), (201L, "zh", 2L)).toDF("id", "language", "n"),
        "language")
      val after = TxTable.read(spark, root)
      assert(after.filter(col("language") === "zh").count() == 2L)
      assert(after.count() == 11L) // 13 - 4 old zh + 2 new
      // 6. the surfaced posture + metadata GROUP BY answer on the
      // renamed column (alias-aware index + TxMetadataAgg)
      val surf = spark.read.format("tx")
        .option("partitionedRead", "true").load(root)
      assert(surf.filter(col("language") === "fr").count() == 1L)
      val meta = spark.read.format("tx").load(root)
        .groupBy("language").agg(count(lit(1)).as("cnt"))
      val leftovers = meta.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }
      assert(leftovers.isEmpty,
        "grouped count on the renamed partition column should answer " +
          "from the manifest")
      assert(meta.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("de" -> 4L, "en" -> 4L, "zh" -> 2L, "fr" -> 1L))
    }
  }
}
