package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.TxTable

/** Dev lab (like AnnLab): measures the TxTable commit path at realistic
  * manifest sizes — the VERDICT r11 ask ("flat manifest and set-difference
  * behavior untested past 16 files"). Builds a stat-bearing table up
  * through 10^4 files by batched appends and records, at each decade:
  *
  *   - append-commit wall time (one directory listing + one manifest
  *     write referencing all parent files — the O(F) floor of a flat
  *     manifest);
  *   - snapshot parse time (read side of the same O(F) list);
  *   - TxFileIndex.prunedFiles evaluation (driver-side stat scan, O(F));
  *   - a narrow mergeByKeyPruned (prune O(F) + rewrite O(touched));
  *   - a contained-range deleteRange (metadata-only drops);
  *   - a range-pruned MoR deleteWhere (position scan of ~1 file + a
  *     kilobyte DV write + manifest, at any F);
  *   - a bloom-bearing append (build cost: one pass over the NEW files
  *     only) and a point-lookup probe across all F files (driver-side
  *     O(F) bitset tests);
  *   - change-feed planning+read for the head version (O(delta) by
  *     construction — the manifest names the added files).
  *
  * Numbers land in SCALE.md's manifest-size → commit-cost curve; the
  * documented Iceberg manifest-tree follow-up only matters if this curve
  * bends worse than linear. Not part of the driver contract — run with
  *   sbt -batch "runMain graft.TxScaleLab [maxFiles]"
  */
object TxScaleLab {

  /** `runMain graft.TxScaleLab parse` — the isolated manifest-PARSE
    * curve (r17): writes synthetic head manifests with the full line
    * mix a real partitioned stat-bearing table carries (file + stat +
    * rows + part per file) at 10⁴/10⁵/10⁶ entries and times
    * `snapshotAt` best-of-5. This is the term the r16 verdict called
    * the remaining O(F) knee (~0.9 s at 10⁶ with the 14-pass
    * filter-per-line-type parser); the single-pass parser is measured
    * here against the same shape. No Spark session needed — the parse
    * is driver-side java.nio.
    */
  /** Synthetic single-version head manifest with the full line mix a
    * partitioned stat-bearing table carries (stat + rows + part + file
    * per entry) — shared by the parse and clone labs. Returns the
    * manifest byte size.
    */
  private def writeSyntheticManifest(root: String, f: Int): Int = {
    val dir = java.nio.file.Paths.get(root, "_manifests")
    Files.createDirectories(dir)
    val sb = new java.lang.StringBuilder()
    sb.append("graft-txtable-v1\n")
    sb.append("format 3\nts 1700000000000\nop append\n")
    val b64 = java.util.Base64.getEncoder
    var i = 0
    while (i < f) {
      val path = s"data/w-synthetic/part-$i%05d-0123.parquet"
      sb.append(s"stat $path k ${i * 10.0} ${i * 10.0 + 9.0} 0\n")
      sb.append(s"rows $path 1000\n")
      sb.append(s"part $path p ").append(b64.encodeToString(
        s"p${i % 20}".getBytes("UTF-8"))).append('\n')
      sb.append(path).append('\n')
      i += 1
    }
    sb.append("COMMIT\n")
    val bytes = sb.toString.getBytes("UTF-8")
    Files.write(dir.resolve("v000000000.txt"), bytes)
    bytes.length
  }

  private def parseLab(): Unit = {
    val tmp = Files.createTempDirectory("graft_parselab_")
    println(f"${"files"}%8s ${"lines"}%9s ${"bytes"}%10s ${"parse_s"}%9s")
    Seq(10000, 100000, 1000000).foreach { f =>
      val root = s"$tmp/t$f"
      val len = writeSyntheticManifest(root, f)
      val times = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        val snap = TxTable.snapshotAt(root, 0L)
        require(snap.files.size == f && snap.parts.size == f)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$f%8d ${4L * f + 5}%9d $len%10d ${times.min}%9.3f")
    }
    graft.streaming.Replay.deleteRecursively(tmp)
  }

  /** `runMain graft.TxScaleLab clone` — the zero-copy clone cost curve:
    * clone = one manifest parse + absolutize + publish, all driver-side
    * (no Spark jobs, no data I/O), so the wall cost IS the O(F)
    * manifest term twice over. The number that backs "a 100 TB table
    * clones in under a second" (10⁵ files ≈ the 100 TB operating point
    * at 1 GB files).
    */
  private def cloneLab(): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = Files.createTempDirectory("graft_clonelab_")
    println(f"${"files"}%8s ${"clone_s"}%9s ${"manifest_mb"}%12s")
    Seq(10000, 100000, 1000000).foreach { f =>
      val root = s"$tmp/t$f"
      val len = writeSyntheticManifest(root, f)
      val times = (1 to 3).map { r =>
        val tgt = s"$tmp/c${f}_$r"
        val t0 = System.nanoTime()
        TxTable.clone(spark, root, tgt)
        val dt = (System.nanoTime() - t0) / 1e9
        val snap = TxTable.snapshotAt(tgt, 0L)
        require(snap.files.size == f &&
          snap.files.forall(_.startsWith("/")), "clone must be foreign")
        dt
      }
      println(f"$f%8d ${times.min}%9.3f ${len / 1e6}%12.1f")
    }
    graft.streaming.Replay.deleteRecursively(tmp)
  }

  /** `runMain graft.TxScaleLab delta` — the format-10 DELTA manifest
    * A/B (r19): at 10⁵/10⁶-entry heads, time the SAME metadata-only
    * commit (an all-keep deleteRange: no data I/O, pure publish) with
    * the delta path forced OFF (flat full render — the r18 knee) and
    * ON (the default at this size), plus the cold checkpoint parse and
    * the warm head re-resolution the claim-retry loop pays. The
    * manifest byte sizes make the O(F)→O(Δ) write-amplification story
    * concrete.
    */
  private def deltaLab(): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = Files.createTempDirectory("graft_deltalab_")
    println(f"${"files"}%8s ${"cold_parse_s"}%13s ${"flat_commit_s"}%14s " +
      f"${"delta_commit_s"}%15s ${"meta_only_s"}%12s ${"warm_head_s"}%12s " +
      f"${"flat_mb"}%8s " +
      f"${"delta_kb"}%9s")
    Seq(100000, 1000000).foreach { f =>
      val root = s"$tmp/t$f"
      writeSyntheticManifest(root, f)
      def timed[A](body: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = body
        (a, (System.nanoTime() - t0) / 1e9)
      }
      val (_, coldS) = timed {
        require(TxTable.snapshotAt(root, 0L).files.size == f)
      }
      // flat (delta forced off): the r18 per-commit O(F) render
      TxTable.deltaThresholdOverride.set(Integer.MAX_VALUE)
      val (_, flatS) =
        try timed(TxTable.deleteRange(spark, root, "k", -10.0, -5.0))
        finally TxTable.deltaThresholdOverride.remove()
      val flatBytes = Files.size(
        java.nio.file.Paths.get(root, "_manifests", "v000000001.txt"))
      // delta (the default at this head size)
      val deltaS = (2 to 4).map { i =>
        timed(TxTable.deleteRange(spark, root, "k",
          -10.0 - i, -5.0 - i))._2
      }.min
      val deltaBytes = Files.size(java.nio.file.Paths.get(root,
        "_manifests", f"v${TxTable.currentVersion(root).get}%09d.txt"))
      // the PURE metadata-only commit (restore passes the target's maps
      // by reference → the redo scan short-circuits at map identity):
      // this is the cadence-critical client class — streaming substrates
      // and the claim-retry loop
      val metaTimes = (1 to 3).map { _ =>
        timed(TxTable.restore(spark, root, 1L))._2
      }
      val metaS = metaTimes.min
      val metaBytes = Files.size(java.nio.file.Paths.get(root,
        "_manifests", f"v${TxTable.currentVersion(root).get}%09d.txt"))
      println(s"  meta runs: ${metaTimes.map(t => f"$t%.3f").mkString(" ")}" +
        s" head_bytes=$metaBytes")
      val (_, warmS) = timed {
        require(TxTable.currentSnapshot(root).get.files.size == f)
      }
      println(f"$f%8d $coldS%13.3f $flatS%14.3f ${deltaS}%15.3f " +
        f"$metaS%11.3f $warmS%12.4f ${flatBytes / 1e6}%8.1f " +
        f"${deltaBytes / 1e3}%9.1f")
    }
    graft.streaming.Replay.deleteRecursively(tmp)
    spark.stop()
  }

  /** `runMain graft.TxScaleLab bloomprobe` — the IN-list bloom planning
    * term (late r19): synthetic heads whose every file carries an
    * m=8192 k=3 bloom on `v` (bits set through the REAL probe family,
    * one contained value per file), then `TxFileIndex.prunedFiles` for
    * a single pushed equality vs a 7-value IN. The batched `inMay`
    * walks each file's bitset ONCE (one Base64 decode per file for the
    * whole list, probes memoized across files), so in7 should sit near
    * eq1 — the pre-batch shape re-decoded per (file × value), ~7× eq1.
    * Driver-side only; no Spark session.
    */
  private def bloomProbeLab(): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, EqualTo, Expression, In, Literal, Or}
    import org.apache.spark.sql.types.LongType
    val tmp = Files.createTempDirectory("graft_bloomlab_")
    println(f"${"files"}%8s ${"eq1_s"}%9s ${"in7_s"}%9s ${"or7_s"}%9s " +
      f"${"in7/eq1"}%9s")
    Seq(10000, 100000).foreach { f =>
      val root = s"$tmp/t$f"
      val dir = java.nio.file.Paths.get(root, "_manifests")
      Files.createDirectories(dir)
      val sb = new java.lang.StringBuilder()
      sb.append("graft-txtable-v1\n")
      sb.append("format 3\nts 1700000000000\nop append\n")
      val m = 8192
      val k = 3
      val mask = (m - 1).toLong
      val enc = java.util.Base64.getEncoder
      var i = 0
      while (i < f) {
        val path = s"data/w-synthetic/part-$i-0123.parquet"
        val bs = new java.util.BitSet(m)
        val (h1, h2) = TxTable.bloomProbes(Seq((i % 997).toLong)).head
        var j = 0
        while (j < k) {
          bs.set((((h1 & mask) + j * (h2 & mask)) & mask).toInt); j += 1
        }
        sb.append(s"rows $path 1000\n")
        sb.append(s"bloom $path v $m $k ")
          .append(enc.encodeToString(bs.toByteArray)).append('\n')
        sb.append(path).append('\n')
        i += 1
      }
      sb.append("COMMIT\n")
      Files.write(dir.resolve("v000000000.txt"),
        sb.toString.getBytes("UTF-8"))
      val snap = TxTable.snapshotAt(root, 0L)
      val idx = new graft.sources.TxFileIndex(root, snap)
      val attr = AttributeReference("v", LongType)()
      def timeIt(e: Expression): (Int, Double) = {
        val runs = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          val n = idx.prunedFiles(Seq(e)).size
          (n, (System.nanoTime() - t0) / 1e9)
        }
        (runs.head._1, runs.map(_._2).min)
      }
      val (n1, eq1) = timeIt(EqualTo(attr, Literal(3L)))
      val (n7, in7) = timeIt(
        In(attr, (0 until 7).map(i => Literal(i * 97L))))
      // the per-value shape on the SAME code — an Or chain of 7
      // equalities decodes each file's bitset once per value, which is
      // exactly what the pre-batch In did
      val (nOr, or7) = timeIt((0 until 7)
        .map(i => EqualTo(attr, Literal(i * 97L)): Expression)
        .reduce(Or(_, _)))
      require(nOr == n7, s"Or chain kept $nOr files, In kept $n7")
      println(f"$f%8d $eq1%9.4f $in7%9.4f $or7%9.4f ${in7 / eq1}%9.2f " +
        f"(eq keeps $n1, in keeps $n7)")
    }
    graft.streaming.Replay.deleteRecursively(tmp)
  }

  /** `runMain graft.TxScaleLab pinread` — what pinning the manifest
    * schema saves at read PLANNING (late r19): a real multi-thousand-
    * file table read with `mergeSchema` inference (a distributed
    * footer-union job over every file, the pre-r19 seam) vs
    * `.schema(recorded)` (kilobytes of manifest, no job). The per-file
    * footer term is the one that scales to 10⁶ files.
    */
  private def pinReadLab(): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = Files.createTempDirectory("graft_pinread_")
    val n = 4000
    spark.range(n.toLong * 10)
      .select(col("id").as("k"), (col("id") % 97).as("v"))
      .repartition(n)
      .write.parquet(s"$tmp/p")
    val files = new java.io.File(s"$tmp/p").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    println(s"files: ${files.size}")
    import org.apache.spark.sql.types.StructType
    // time DATAFRAME CREATION (schema resolution) — mergeSchema runs
    // its distributed footer-union job right there; a pinned schema
    // resolves from the provided StructType with zero I/O. The
    // execution that follows is identical either way.
    def timed(label: String)(body: => StructType): Unit = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val s = body
        require(s.fieldNames.contains("k"))
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$label%-12s best=${times.min}%6.3f s  " +
        s"runs=${times.map(t => f"$t%.3f").mkString(" ")}")
    }
    val schema = spark.read.parquet(files.head).schema
    timed("mergeSchema")(spark.read.option("mergeSchema", "true")
      .parquet(files: _*).schema)
    timed("inferFirst")(spark.read.parquet(files: _*).schema)
    timed("pinned")(spark.read.schema(schema).parquet(files: _*).schema)
    graft.streaming.Replay.deleteRecursively(tmp)
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("parse")) { parseLab(); return }
    if (args.headOption.contains("clone")) { cloneLab(); return }
    if (args.headOption.contains("delta")) { deltaLab(); return }
    if (args.headOption.contains("bloomprobe")) { bloomProbeLab(); return }
    if (args.headOption.contains("pinread")) { pinReadLab(); return }
    val maxFiles = if (args.nonEmpty) args(0).toInt else 10000
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_txscale_")
    val root = s"$tmp/t"

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    // prune probes go through the index a format("tx") scan plans with;
    // the head resolve sits inside each timed block, as a read's would
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      EqualTo, GreaterThanOrEqual, LessThanOrEqual, Literal}
    import org.apache.spark.sql.types.{LongType, StringType}
    def headIndex(r: String) =
      new graft.sources.TxFileIndex(r, TxTable.currentSnapshot(r).get)
    val kAttr = AttributeReference("k", LongType)()
    val vAttr = AttributeReference("v", LongType)()
    val pAttr = AttributeReference("p", StringType)()

    // each append commits `filesPerCommit` files with tight disjoint key
    // ranges (10 keys per file) and footer stats, so the narrow merge and
    // the contained delete below exercise the REAL prune: one touched
    // file out of F, metadata-only drops out of F
    val filesPerCommit = 100
    var nextKey = 0L
    var commits = 0
    def appendBatch(): Double = {
      val lo = nextKey
      val df = spark.range(lo, lo + filesPerCommit * 10L)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(filesPerCommit, col("k"))
      nextKey += filesPerCommit * 10L
      val (_, dt) = timed(TxTable.commit(spark, root, df, TxTable.Append,
        statsCols = Seq("k")))
      // manifest disk bound for the 10^5 build: each version's manifest
      // is O(F) lines, so 10^3 retained versions at 10^5 files would be
      // ~15 GB of manifests — retention-vacuum the history every 50
      // commits (the measurements below only ever read the head)
      commits += 1
      if (commits % 50 == 0) TxTable.vacuum(root, keepVersions = 2)
      dt
    }

    val rootP = s"$tmp/tp"
    var nextPKey = 0L
    var pCommits = 0
    def appendPartitioned(): Double = {
      val df = spark.range(nextPKey, nextPKey + 1000L)
        .select(col("id").as("k"), (col("id") % 20).cast("string").as("p"))
        .coalesce(1)
      nextPKey += 1000L
      val (_, dt) = timed(TxTable.commit(spark, rootP, df,
        if (nextPKey == 1000L) TxTable.Overwrite else TxTable.Append,
        partitionBy = Some("p")))
      pCommits += 1
      if (pCommits % 50 == 0) TxTable.vacuum(rootP, keepVersions = 2)
      dt
    }

    println(f"${"files"}%8s ${"append_s"}%9s ${"parse_s"}%9s " +
      f"${"prune_s"}%9s ${"merge_s"}%9s ${"delete_s"}%9s ${"touched"}%8s")
    val decades =
      Seq(100, 1000, 10000, maxFiles).filter(_ <= maxFiles).distinct
    decades.foreach { target =>
      while (TxTable.currentSnapshot(root).map(_.files.size).getOrElse(0)
          < target) appendBatch()
      val appendS = appendBatch() // marginal commit cost at this head size
      val snapBefore = TxTable.currentSnapshot(root).get
      val (snap, parseS) = timed(TxTable.currentSnapshot(root).get)
      val (pruned, pruneS) = timed(headIndex(root).prunedFiles(Seq(
        GreaterThanOrEqual(kAttr, Literal(nextKey - 45L)),
        LessThanOrEqual(kAttr, Literal(nextKey - 41L)))))
      // narrow merge: one existing key → the prune should touch ~1 file
      val upd = Seq((nextKey - 5L, 99L)).toDF("k", "v")
      val (_, mergeS) = timed(TxTable.mergeByKeyPruned(spark, root, upd, "k"))
      val merged = TxTable.currentSnapshot(root).get
      val touched = snapBefore.files.toSet.diff(merged.files.toSet).size
      // contained delete: 3 whole files' ranges → metadata-only drops
      val dLo = nextKey - 80.0
      val (_, deleteS) = timed(
        TxTable.deleteRange(spark, root, "k", dLo, dLo + 29.0))
      // r12 surfaces at this head size:
      // MoR delete pruned to one file's key range
      val (_, morS) = timed(TxTable.deleteWhere(spark, root,
        col("k") === (nextKey - 100L),
        prune = Seq(("k", nextKey - 100.0, nextKey - 100.0))))
      // bloom-bearing append (build over the NEW files only), then a
      // point probe across every file in the manifest
      val bdf = spark.range(nextKey, nextKey + 100L)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(10, col("k"))
      nextKey += 100L
      val (_, bloomS) = timed(TxTable.commit(spark, root, bdf,
        TxTable.Append, statsCols = Seq("k"), bloomCols = Seq("v")))
      val (survivors, probeS) = timed(
        headIndex(root).prunedFiles(Seq(EqualTo(vAttr, Literal(3L)))))
      val head = TxTable.currentVersion(root).get
      val (nFeed, feedS) = timed(graft.operators.TxChangeFeed
        .readChangeFeed(spark, root, head - 1, head, "k").count())
      println(f"${snap.files.size}%8d $appendS%9.3f $parseS%9.3f " +
        f"$pruneS%9.3f $mergeS%9.3f $deleteS%9.3f $touched%8d " +
        f"(pruned ${pruned.size})")
      println(f"${"  +r12:"}%8s mor=$morS%.3f bloom_append=$bloomS%.3f " +
        f"probe=$probeS%.3f (survive ${survivors.size}) " +
        f"feed=$feedS%.3f (rows $nFeed)")
      // partitioned-table surfaces at the same file count (capped at
      // 10^4 — one file per partition value per commit makes the 10^5
      // build 5000 commits for a curve the flat table already draws):
      // a separate 20-partition table grown to ~target files, then the
      // metadata paths the r12 partition layer added — all driver-side
      // O(F) or better
      val pTarget = math.min(target, 10000)
      while (TxTable.currentSnapshot(rootP).map(_.files.size).getOrElse(0)
          < pTarget) appendPartitioned()
      val (_, pAppendS) = timed(appendPartitioned())
      val (_, pParseS) = timed(TxTable.currentSnapshot(rootP).get)
      val (pPruned, pPruneS) = timed(headIndex(rootP).prunedFiles(
        Seq(EqualTo(pAttr, Literal("7")))))
      val (_, pStatsS) = timed(
        TxTable.partitionRowCounts(spark, rootP, "p").collect())
      val swap = spark.range(0L, 500L)
        .select(col("id").as("k"), lit("7").as("p"))
      val (_, dpoS) = timed(
        TxTable.overwritePartitions(spark, rootP, swap, "p"))
      val pf = TxTable.currentSnapshot(rootP).get.files.size
      println(f"${"  +part:"}%8s files=$pf append=$pAppendS%.3f " +
        f"parse=$pParseS%.3f prune=$pPruneS%.3f (match ${pPruned.size}) " +
        f"stats=$pStatsS%.3f dpo=$dpoS%.3f")
    }
    graft.streaming.Replay.deleteRecursively(tmp)
    spark.stop()
  }
}
