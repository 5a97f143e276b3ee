package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TxTable

/** Per-file bloom-filter skipping ([[TxTable.commit]]'s `bloomCols` →
  * [[TxTable.bloomMayContainAny]], applied by a pushed equality/IN on a
  * `format("tx")` read): point lookups on a column the clustering does
  * NOT serve. File-set assertions probe the bloom mechanism alone, so
  * the index's stat pruning can never stand in for it. Pins the two contracts
  * that matter — NO FALSE NEGATIVES (every present value's file
  * survives pruning: the probe evaluates the same catalyst xxhash64
  * family the build ran) and real skipping (a value in one file prunes
  * most of the rest) — plus DV interaction, append accumulation, and
  * CoW carry/drop behavior.
  */
class TxBloomSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def withRoot(f: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_txbloom_")
    try f(s"$tmp/t") finally graft.streaming.Replay.deleteRecursively(tmp)
  }

  /** id unique per row; grp is the scattered lookup column (same grp
    * values land in every id-clustered file).
    */
  private def seed(root: String, n: Int = 4000): Unit = {
    import spark.implicits._
    TxTable.commit(spark, root,
      (1 to n).map(i => (i.toLong, (i % 997).toLong, s"s$i"))
        .toDF("id", "probe", "s"),
      clusterBy = Some("id"), bloomCols = Seq("probe"))
    ()
  }

  /** Files whose bloom on `c` might hold a probed value — the bloom
    * mechanism in isolation.
    */
  private def bloomKept(root: String, c: String,
      probes: Seq[(Long, Long)]): Seq[String] = {
    val snap = TxTable.currentSnapshot(root).get
    snap.files.filter(TxTable.bloomMayContainAny(snap, _, c, probes))
  }

  private def strProbes(values: String*): Seq[(Long, Long)] =
    TxTable.bloomProbesStr(values.map(UTF8String.fromString))

  private def lookup(root: String, c: String, values: Any*) =
    spark.read.format("tx").load(root).filter(col(c).isin(values: _*))

  test("no false negatives: every probed present value reads complete") {
    withRoot { root =>
      seed(root)
      val values = Seq(1L, 500L, 996L, 0L)
      val got = lookup(root, "probe", values: _*)
        .select("id").collect().map(_.getLong(0)).toSet
      val expected = (1 to 4000).filter(i => values.contains((i % 997).toLong))
        .map(_.toLong).toSet
      assert(got == expected)
    }
  }

  test("bloom on a unique column skips most files for a point lookup") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        (1 to 4000).map(i => (i.toLong, s"s$i")).toDF("id", "s"),
        clusterBy = Some("s"), // clustering serves s, NOT id
        bloomCols = Seq("id"))
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.files.size >= 4, "need several files for skipping to show")
      val surviving = bloomKept(root, "id", TxTable.bloomProbes(Seq(17L)))
      // id=17 truly lives in exactly one file; fp rate ~0.5% at 16
      // bits/row — a majority of the files must prune
      assert(surviving.size <= math.max(2, snap.files.size / 2),
        s"bloom pruned nothing: ${surviving.size} of ${snap.files.size}")
      assert(lookup(root, "id", 17L).count() == 1L)
    }
  }

  test("null values in the bloom column: nulls never block pruning, " +
      "an all-null file gets no bloom and always survives, lookups " +
      "stay complete") {
    import spark.implicits._
    withRoot { root =>
      TxTable.commit(spark, root,
        ((1 to 100).map(i => (i.toLong, Some(i.toLong % 10), s"s$i")) ++
          (101 to 120).map(i => (i.toLong, None: Option[Long], s"n$i")))
          .toDF("id", "probe", "s"),
        clusterBy = Some("id"), bloomCols = Seq("probe"))
      val snap = TxTable.currentSnapshot(root).get
      // the id-clustered tail file holds only null probes -> no bloom
      assert(snap.blooms.size < snap.files.size)
      val got = lookup(root, "probe", 7L)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == (1 to 100).filter(_ % 10 == 7).map(_.toLong).toSet)
    }
  }

  test("a column without blooms never prunes; absent values read empty") {
    withRoot { root =>
      seed(root)
      assert(bloomKept(root, "id", TxTable.bloomProbes(Seq(1L))).size ==
        TxTable.currentSnapshot(root).get.files.size)
      assert(lookup(root, "probe", 5000L).count() == 0L)
    }
  }

  test("append accumulates blooms; lookups cross file generations") {
    import spark.implicits._
    withRoot { root =>
      seed(root, n = 1000)
      TxTable.commit(spark, root,
        Seq((9001L, 998L, "x")).toDF("id", "probe", "s"),
        TxTable.Append, bloomCols = Seq("probe"))
      val got = lookup(root, "probe", 998L, 1L)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got.contains(9001L) && got.contains(1L))
      // the appended single-row file must prune away for an old value
      // present only in generation-0 files (tiny m floor keeps fp low)
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.blooms.size == snap.files.size)
    }
  }

  test("deletion vectors apply inside a bloom-pruned read") {
    withRoot { root =>
      seed(root)
      TxTable.deleteWhere(spark, root, col("id") === 997L) // probe 0
      val got = lookup(root, "probe", 0L)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(!got.contains(997L) && got.contains(1994L))
    }
  }

  // ---- STRING blooms (r19: build hashes the raw UTF-8 bytes; the
  // probe dispatches on the column's schema type) ----------------------

  /** id-clustered files; `name` is the scattered high-cardinality string
    * lookup column (every file's byte range spans the domain, so only
    * the bloom can prune). Includes multi-byte and supplementary
    * characters: the hash family must see the exact UTF-8 bytes.
    */
  private def seedStr(root: String, n: Int = 4000): Unit = {
    import spark.implicits._
    TxTable.commit(spark, root,
      (1 to n).map(i => (i.toLong,
        if (i % 1000 == 0) s"naïve-😀-$i" else s"user-${i * 2654435761L}"))
        .toDF("id", "name"),
      clusterBy = Some("id"), bloomCols = Seq("name"))
    ()
  }

  test("string bloom: no false negatives, multi-byte values included") {
    withRoot { root =>
      seedStr(root)
      val values = Seq(s"user-${7L * 2654435761L}", "naïve-😀-1000",
        s"user-${3999L * 2654435761L}")
      val got = lookup(root, "name", values: _*)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == Set(7L, 1000L, 3999L))
    }
  }

  test("string bloom skips most files for a point lookup; absent " +
      "values read empty; a bloomless column never prunes") {
    withRoot { root =>
      seedStr(root)
      val snap = TxTable.currentSnapshot(root).get
      assert(snap.files.size >= 4, "need several files for skipping to show")
      val one = s"user-${17L * 2654435761L}"
      val surviving = bloomKept(root, "name", strProbes(one))
      assert(surviving.size <= math.max(2, snap.files.size / 2),
        s"string bloom pruned nothing: ${surviving.size} of ${snap.files.size}")
      assert(lookup(root, "name", one).count() == 1L)
      assert(lookup(root, "name", "no-such").count() == 0L)
      // id carries no bloom: a string-probe of it can't apply, and the
      // integral path keeps every file too
      assert(bloomKept(root, "id", TxTable.bloomProbes(Seq(1L))).size ==
        snap.files.size)
    }
  }

  test("connector path: a pushed string equality prunes through the " +
      "manifest bloom (lastPruned seam), IN included; answers match " +
      "the unpruned read") {
    withRoot { root =>
      seedStr(root)
      val snap = TxTable.currentSnapshot(root).get
      val names = Seq(s"user-${9L * 2654435761L}",
        s"user-${2718L * 2654435761L}")
      val df = spark.read.format("tx").load(root)
        .filter(col("name").isInCollection(names))
      val got = df.select("id").collect().map(_.getLong(0)).toSet
      assert(got == Set(9L, 2718L))
      val idx = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.isInstanceOf[graft.sources.TxFileIndex] =>
          f.relation.location.asInstanceOf[graft.sources.TxFileIndex]
      }.get
      assert(idx.lastPruned.get.size < snap.files.size,
        s"pushed string IN pruned nothing: ${idx.lastPruned.get.size} " +
          s"of ${snap.files.size}")
    }
  }

  test("string bloom lookup is alias-aware after RENAME COLUMN") {
    withRoot { root =>
      seedStr(root, n = 1000)
      TxTable.renameColumn(spark, root, "name", "handle")
      val one = s"user-${42L * 2654435761L}"
      val snap = TxTable.currentSnapshot(root).get
      val surviving = bloomKept(root, "handle", strProbes(one))
      assert(surviving.size < snap.files.size,
        "renamed probe did not reach the write-time bloom lines")
      assert(lookup(root, "handle", one).count() == 1L)
    }
  }

  test("bloomCols on an unsupported type refuses loudly at commit") {
    import spark.implicits._
    withRoot { root =>
      val e = intercept[IllegalArgumentException] {
        TxTable.commit(spark, root,
          (1 to 10).map(i => (i.toLong, i / 2.0)).toDF("id", "score"),
          bloomCols = Seq("score"))
      }
      assert(e.getMessage.contains("bloom"))
    }
  }

  test("CoW rewrite drops rewritten files' blooms, keeps untouched; " +
      "lookups stay correct either way") {
    import spark.implicits._
    withRoot { root =>
      seed(root)
      TxTable.mergeByKeyPruned(spark, root,
        Seq((1L, 500L, "updated")).toDF("id", "probe", "s"), "id")
      val snap = TxTable.currentSnapshot(root).get
      // rewritten file(s) have no bloom -> never pruned -> still read
      assert(snap.blooms.size < snap.files.size)
      val got = lookup(root, "probe", 500L)
        .select("id", "probe").collect().map(_.getLong(0)).toSet
      assert(got.contains(1L) && got.contains(500L + 997L))
    }
  }
}
