package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._

import graft.operators.TxTable

/** Catalyst-integrated manifest pruning: a Spark [[FileIndex]] pinned to
  * ONE TxTable snapshot, whose `listFiles` evaluates the query's pushed
  * data filters against the manifest's per-file metadata — footer stat
  * ranges, recorded hive-partition values, and bloom filters — so files
  * a `WHERE` clause provably cannot touch never reach scan planning.
  *
  * This is the Delta/Iceberg integration shape (a log-backed FileIndex
  * under a parquet `HadoopFsRelation`), and graft's ONE manifest-pruning
  * path: skipping falls out of a plain
  * `spark.read.format("tx").load(root).filter(...)` — Catalyst
  * pushes the predicates, this index prunes on them at PLANNING time,
  * and the surviving files take Spark's native vectorized parquet scan
  * (whole-stage codegen, parquet row-group pushdown, column pruning all
  * intact). At 100 TB the difference is structural: the driver consults
  * kilobytes of manifest instead of listing and footer-probing 10⁵
  * files, and a selective query plans only the files that can matter.
  *
  * Pruning contract: DEGRADE, NEVER LIE. A file missing metadata on a
  * predicate column survives; an expression shape the translator
  * doesn't recognize keeps every file; the exact predicate always
  * re-applies inside the scan, so skipping only ever removes
  * provably-dead I/O.
  *
  * `partitionBy` selects between the index's two postures:
  *
  *   - EMPTY (default): `partitionSchema` is empty — TxTable keeps
  *     partition columns IN the data files (the duplicate-tag layout,
  *     COVERAGE.md §hive-partitioned TxTable), so every predicate
  *     arrives here as a data filter and the recorded part values act
  *     as a per-file dictionary rather than directory structure.
  *   - NON-EMPTY (`option("partitionedRead", "true")`): the recorded
  *     single-value part columns surface as a REAL `partitionSchema`.
  *     Catalyst then classifies filters over them as partitionFilters
  *     (evaluated here against the recorded values — same power as the
  *     dictionary path), the scan reads those columns from the
  *     PartitionDirectory values instead of the files, and — the point
  *     of the posture — the scan becomes eligible for DYNAMIC PARTITION
  *     PRUNING: a selective dim-side filter in a star join prunes fact
  *     partitions at runtime through the broadcast's keys, which the
  *     data-filter posture structurally cannot express. Sound because a
  *     partitioned commit records exactly one value per (file, column)
  *     and every row in the file carries it (the duplicate-tag writer);
  *     a file MISSING a recorded value under this posture fails loudly
  *     rather than guessing.
  */
final class TxFileIndex(root: String, snap0: TxTable.Snapshot,
    partitionBy: Seq[StructField] = Nil)
    extends FileIndex {

  /** The snapshot this index serves. Reads are snapshot-pinned (MVCC);
    * the ONE sanctioned mutation is [[repin]] — the relation's own
    * `INSERT INTO` advancing its view to the version it just committed,
    * so a `SELECT` through the same temp view sees the insert.
    */
  @volatile private var snapNow: TxTable.Snapshot = snap0
  private[graft] def snap: TxTable.Snapshot = snapNow

  private[sources] def repin(ns: TxTable.Snapshot): Unit = {
    snapNow = ns
    statusCache = null
    groupedCache = null
    lastPruned = None
  }

  /** File statuses resolved through Hadoop's [[org.apache.hadoop.fs
    * .FileSystem]] (scheme-dispatched from the root URI + the session's
    * hadoopConf) rather than `java.io.File` — the connector addresses
    * `file:`-scheme and remote-FS roots alike. Lazy + one `listStatus`
    * per commit directory (`data/w-...`), NOT a per-file RPC: planning-
    * only consumers (prune labs over synthetic manifests) never touch
    * the FS, and a snapshot costs O(commit dirs) listings however many
    * files it holds.
    */
  @volatile private var statusCache: Map[String, FileStatus] = null
  private def statuses: Map[String, FileStatus] = {
    val cached = statusCache
    if (cached != null) cached
    else {
      val fs = qualifiedRoot.getFileSystem(hadoopConf)
      val m = snapNow.files
        .groupBy(f => f.substring(0, math.max(f.lastIndexOf('/'), 0)))
        .iterator.flatMap { case (dir, files) =>
          val listed: Map[String, FileStatus] =
            try fs.listStatus(new Path(qualifiedRoot, dir)).iterator
              .map(st => s"$dir/${st.getPath.getName}" -> st).toMap
            catch { case _: java.io.FileNotFoundException => Map.empty }
          files.iterator.map(f => f -> listed.getOrElse(f,
            fs.getFileStatus(new Path(qualifiedRoot, f))))
        }.toMap
      statusCache = m
      m
    }
  }

  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private lazy val qualifiedRoot: Path = {
    val p = new Path(root)
    p.getFileSystem(hadoopConf).makeQualified(p)
  }

  override def rootPaths: Seq[Path] = Seq(qualifiedRoot)

  override def partitionSchema: StructType = StructType(partitionBy)

  override def refresh(): Unit = () // snapshot-pinned: nothing to refresh

  override def sizeInBytes: Long = statuses.valuesIterator.map(_.getLen).sum

  override def inputFiles: Array[String] =
    snap.files.map(statuses(_).getPath.toString).toArray

  /** Root-relative paths the most recent [[listFiles]] kept — the test
    * seam specs use to pin, from the REAL planned scan, exactly which
    * files a pushed filter pruned (there is no public plan surface for
    * the selected file set).
    */
  @volatile var lastPruned: Option[Seq[String]] = None

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    if (partitionBy.isEmpty) {
      val survivors = prunedFiles(dataFilters)
      lastPruned = Some(survivors)
      Seq(PartitionDirectory(InternalRow.empty,
        survivors.map(statuses(_)).toArray))
    } else {
      // partition predicates evaluate per GROUP — one typed-row eval
      // per partition, not per file (the manifest-tree access shape on
      // the flat manifest: at 10⁶ files × 20 partitions a selective
      // partition filter decides 20 evals, and the per-file stat/bloom
      // walk — the q192-style multiplied pruning — runs only inside
      // kept groups). Dynamic pruning filters never reach here —
      // FileSourceScanExec evaluates them against the SAME values rows
      // at execution time, which is the posture's win.
      val out = prunedGroups(partitionFilters, dataFilters)
      lastPruned = Some(out.flatMap(_._2))
      out.map { case (vals, fs) =>
        PartitionDirectory(partitionRow(vals), fs.map(statuses(_)).toArray)
      }
    }
  }

  /** The surfaced posture's prune, group-first: (partition tuple →
    * surviving files) for non-empty groups. The testable core of the
    * partitioned [[listFiles]] (no FileStatus resolution), and the lab
    * seam for the eval-cost-at-10⁶-files measurement.
    */
  private[graft] def prunedGroups(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression])
      : Seq[(Seq[Option[String]], Seq[String])] = {
    val pred = staticPartitionPredicate(partitionFilters)
    groupedFiles.filter { case (vals, _) =>
      pred.forall(_.eval(partitionRow(vals)))
    }.map { case (vals, fs) =>
      (vals, fs.filter(f => dataFilters.forall(mayMatch(f, _))))
    }.filter(_._2.nonEmpty)
  }

  /** Snapshot files grouped by their recorded partition tuple, built
    * once per (re)pin — the flat manifest arranged as the tree a
    * partition predicate wants to walk.
    */
  @volatile private var groupedCache: Seq[(Seq[Option[String]], Seq[String])] = null
  private def groupedFiles: Seq[(Seq[Option[String]], Seq[String])] = {
    val c = groupedCache
    if (c != null) c
    else {
      val g = snapNow.files.groupBy(partitionTuple).toSeq
      groupedCache = g
      g
    }
  }

  /** Recorded part values of `f` in `partitionBy` order — the surfaced
    * posture's per-file identity. LOUD on a file without a recorded
    * value: inventing one (null, say) would attach wrong partition
    * values to real rows, the one thing this index must never do.
    */
  private def partitionTuple(f: String): Seq[Option[String]] =
    partitionBy.map { pf =>
      partOf(f, pf.name).getOrElse(throw new IllegalStateException(
        s"txtable $root: file $f has no recorded partition value for " +
          s"'${pf.name}' — partitionedRead needs every snapshot file " +
          "committed with partitionBy on the surfaced columns"))
    }

  /** Decoded values tuple → typed InternalRow, cached per distinct
    * tuple (partition count, not file count). Values were rendered by
    * Spark's own partitioned writer, so `Cast(string, declaredType)`
    * round-trips exactly for the whitelisted types
    * ([[TxDataSource.surfacedPartitionFields]]).
    */
  private val partRowCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[Option[String]], InternalRow]()
  private def partitionRow(vals: Seq[Option[String]]): InternalRow =
    partRowCache.computeIfAbsent(vals, vs => InternalRow.fromSeq(
      vs.lazyZip(partitionBy).map {
        case (None, _) => null
        case (Some(s), pf) =>
          Cast(Literal.create(s, StringType), pf.dataType, Some("UTC"))
            .eval(null)
      }))

  private def staticPartitionPredicate(
      filters: Seq[Expression]): Option[BasePredicate] =
    if (filters.isEmpty) None
    else Some(Predicate.createInterpreted(
      filters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionBy.indexWhere(_.name == a.name)
          require(i >= 0, s"partition filter references '${a.name}', " +
            "not a surfaced partition column")
          BoundReference(i, partitionBy(i).dataType, nullable = true)
      }))

  /** The pruned file set for a predicate list — the testable core of
    * [[listFiles]], and the entry every other manifest prune goes through
    * (`TxTable.statPrunedFiles`, the z-order demos' skip guards, lab
    * probes). Root-relative paths, manifest order.
    */
  def prunedFiles(dataFilters: Seq[Expression]): Seq[String] =
    snap.files.filter(f => dataFilters.forall(mayMatch(f, _)))

  // ---- conservative three-mechanism translation ----------------------

  /** May file `f` hold a row satisfying `e`? Unknown shapes → true. */
  private def mayMatch(f: String, e: Expression): Boolean = e match {
    case And(l, r) => mayMatch(f, l) && mayMatch(f, r)
    case Or(l, r) => mayMatch(f, l) || mayMatch(f, r)
    case EqualTo(a: AttributeReference, Lit(v, t)) => eqMay(f, a, v, t)
    case EqualTo(Lit(v, t), a: AttributeReference) => eqMay(f, a, v, t)
    case EqualNullSafe(a: AttributeReference, Lit(v, t)) =>
      if (v == null) mayHaveNulls(f, a.name) else eqMay(f, a, v, t)
    case EqualNullSafe(Lit(v, t), a: AttributeReference) =>
      if (v == null) mayHaveNulls(f, a.name) else eqMay(f, a, v, t)
    case GreaterThan(a: AttributeReference, Lit(v, t)) =>
      cmpMay(f, a.name, v, t)((mn, mx, d) => mx > d) &&
        strCmpMay(f, a.name, v, StrGt)
    case GreaterThanOrEqual(a: AttributeReference, Lit(v, t)) =>
      cmpMay(f, a.name, v, t)((mn, mx, d) => mx >= d) &&
        strCmpMay(f, a.name, v, StrGe)
    case LessThan(a: AttributeReference, Lit(v, t)) =>
      cmpMay(f, a.name, v, t)((mn, mx, d) => mn < d) &&
        strCmpMay(f, a.name, v, StrLt)
    case LessThanOrEqual(a: AttributeReference, Lit(v, t)) =>
      cmpMay(f, a.name, v, t)((mn, mx, d) => mn <= d) &&
        strCmpMay(f, a.name, v, StrLe)
    // literal-on-the-left comparisons arrive flipped
    case GreaterThan(Lit(v, t), a: AttributeReference) =>
      cmpMay(f, a.name, v, t)((mn, mx, d) => mn < d) &&
        strCmpMay(f, a.name, v, StrLt)
    case GreaterThanOrEqual(Lit(v, t), a: AttributeReference) =>
      cmpMay(f, a.name, v, t)((mn, mx, d) => mn <= d) &&
        strCmpMay(f, a.name, v, StrLe)
    case LessThan(Lit(v, t), a: AttributeReference) =>
      cmpMay(f, a.name, v, t)((mn, mx, d) => mx > d) &&
        strCmpMay(f, a.name, v, StrGt)
    case LessThanOrEqual(Lit(v, t), a: AttributeReference) =>
      cmpMay(f, a.name, v, t)((mn, mx, d) => mx >= d) &&
        strCmpMay(f, a.name, v, StrGe)
    // prefix probe = the range [prefix, successor(prefix)): some value
    // >= prefix AND strictly below the bumped prefix
    case StartsWith(a: AttributeReference, Lit(v, _)) =>
      utf8Bytes(v) match {
        case Some(p) =>
          strCmpMay(f, a.name, v, StrGe) &&
            bump(p).forall(su => strStatOf(f, a.name) match {
              case Some(st) if !st.allNull =>
                st.minBytes.forall(mn => TxTable.ucmp(mn, su) < 0)
              case Some(_) => false // all-null: no value has any prefix
              case None => true
            })
        case None => true
      }
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      inMay(f, a, vs.map { case Lit(v, t) => (v, t); case e => (null, e.dataType) })
    case InSet(a: AttributeReference, vs) =>
      inMay(f, a, vs.toSeq.map(v => (v, a.dataType)))
    case IsNull(a: AttributeReference) => mayHaveNulls(f, a.name)
    case IsNotNull(a: AttributeReference) => mayHaveNonNulls(f, a.name)
    case _ => true
  }

  /** Literal extractor tolerant of the no-op casts the pushdown path
    * leaves around foldable values.
    */
  private object Lit {
    def unapply(e: Expression): Option[(Any, DataType)] = e match {
      case Literal(v, t) => Some((v, t))
      case Cast(Literal(v, t), _, _, _) => Some((v, t))
      case _ => None
    }
  }

  /** Literal → the Double domain footer stats live in. Date/Timestamp
    * literals are their underlying day/micros numerics — the same
    * values parquet footers report for those physical types.
    */
  private def toD(v: Any, t: DataType): Option[Double] = (v, t) match {
    case (null, _) => None
    case (b: Byte, _) => Some(b.toDouble)
    case (s: Short, _) => Some(s.toDouble)
    case (i: Int, _) => Some(i.toDouble)
    case (l: Long, _) => Some(l.toDouble)
    case (f: Float, _) => Some(f.toDouble)
    case (d: Double, _) => Some(d)
    case (d: org.apache.spark.sql.types.Decimal, _) => Some(d.toDouble)
    case _ => None
  }

  private def toLong(v: Any): Option[Long] = v match {
    case b: Byte => Some(b.toLong)
    case s: Short => Some(s.toLong)
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case _ => None
  }

  /** Stat lookup is ALIAS-AWARE: a column-mapped table's files record
    * stat lines under their write-time names, so a predicate on the
    * current logical name consults every vintage ([[TxTable.namesOf]])
    * — a file carries at most one vintage of a column, so the first hit
    * is exact, and a missed alias only degrades pruning (never lies).
    */
  private def statOf(f: String, colName: String)
      : Option[(Double, Double, Long)] = {
    val lines = snap.stats.getOrElse(f, Seq.empty)
    TxTable.namesOf(snap, colName).iterator
      .flatMap(n => lines.find(_._1 == n))
      .map { case (_, mn, mx, nn) => (mn, mx, nn) }
      .nextOption()
  }

  /** String-stat lookup (format 9 `sstat` lines), alias-aware like
    * [[statOf]].
    */
  private def strStatOf(f: String, colName: String)
      : Option[TxTable.StrStat] = {
    val lines = snap.strStats.getOrElse(f, Seq.empty)
    TxTable.namesOf(snap, colName).iterator
      .flatMap(n => lines.find(_.col == n))
      .nextOption()
  }

  private def utf8Bytes(v: Any): Option[Array[Byte]] = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.getBytes)
    case _ => None
  }

  /** Successor of a byte string: last non-0xFF byte bumped, tail
    * dropped — strictly greater than every string with this prefix.
    * None when all bytes are 0xFF (no successor; never valid UTF-8).
    */
  private def bump(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  private sealed trait StrOp
  private case object StrGt extends StrOp
  private case object StrGe extends StrOp
  private case object StrLt extends StrOp
  private case object StrLe extends StrOp

  /** String-range pruning over `sstat` bounds, exactness-aware: a
    * truncated min is STRICTLY below the true min (a proper prefix),
    * a truncated max STRICTLY above the true max (successor bump), so
    * inexact bounds tighten the <= / >= decisions by one notch. A
    * missing upper bound (all-0xFF bump) never prunes above; the
    * all-null line prunes every value comparison outright. Non-string
    * probes and statless files keep the file (degrade, never lie).
    */
  private def strCmpMay(f: String, colName: String, v: Any,
      op: StrOp): Boolean =
    (strStatOf(f, colName), utf8Bytes(v)) match {
      case (Some(st), Some(p)) =>
        if (st.allNull) false
        else op match {
          case StrGt => // need true max > p
            st.maxBytes.forall(mx => TxTable.ucmp(mx, p) > 0)
          case StrGe => // need true max >= p
            st.maxBytes.forall(mx =>
              if (st.exactMax) TxTable.ucmp(mx, p) >= 0
              else TxTable.ucmp(mx, p) > 0)
          case StrLt => // need true min < p
            st.minBytes.forall(mn => TxTable.ucmp(mn, p) < 0)
          case StrLe => // need true min <= p
            st.minBytes.forall(mn =>
              if (st.exactMin) TxTable.ucmp(mn, p) <= 0
              else TxTable.ucmp(mn, p) < 0)
        }
      case _ => true
    }

  /** String equality probe against `sstat` bounds: inside
    * [min, max] with the same exactness notches as [[strCmpMay]]. */
  private def strEqMay(f: String, colName: String, v: Any): Boolean =
    strCmpMay(f, colName, v, StrLe) && strCmpMay(f, colName, v, StrGe)

  private def partOf(f: String, colName: String): Option[Option[String]] = {
    val lines = snap.parts.getOrElse(f, Seq.empty)
    TxTable.namesOf(snap, colName).iterator
      .flatMap(n => lines.find(_._1 == n))
      .map(_._2)
      .nextOption()
  }

  private def cmpMay(f: String, colName: String, v: Any, t: DataType)(
      keep: (Double, Double, Double) => Boolean): Boolean =
    (statOf(f, colName), toD(v, t)) match {
      case (Some((mn, mx, _)), Some(d)) => keep(mn, mx, d)
      case _ => true
    }

  /** Equality: every applicable mechanism must agree the file MAY hold
    * the value — stat range (numeric), recorded partition value
    * (string-rendered exactly for strings only; numeric renderings are
    * not canonical across types, so numerics never consult part lines),
    * string stat bounds (format 9), and bloom membership. Bloom probes
    * dispatch on the attribute's schema type, the same dispatch the
    * build ran (integral hashed `col.cast("long")`, string hashed the
    * raw UTF-8 bytes), so probe and build can never disagree; any other
    * type never probes (its commit refused the bloom).
    */
  private def eqMay(f: String, a: AttributeReference, v: Any,
      t: DataType): Boolean =
    eqMayNoBloom(f, a, v, t) && bloomEqMay(f, a, v)

  private def eqMayNoBloom(f: String, a: AttributeReference, v: Any,
      t: DataType): Boolean = {
    if (v == null) return mayHaveNulls(f, a.name) // EqualTo(null) is
    // UnknownType noise from odd plans: null equality matches no row,
    // but conservatively route it like a null probe rather than pruning
    val statOk = toD(v, t) match {
      case Some(d) => statOf(f, a.name) match {
        case Some((mn, mx, _)) => mn <= d && d <= mx
        case None => true
      }
      case None => true
    }
    val partOk = v match {
      case s: org.apache.spark.unsafe.types.UTF8String =>
        partOf(f, a.name) match {
          case Some(Some(recorded)) => recorded == s.toString
          case Some(None) => false // recorded null partition value
          case None => true
        }
      case _ => true
    }
    // string stat bounds (format 9): the unpartitioned-table answer to
    // the same probe — all applicable mechanisms must agree
    val strOk = strEqMay(f, a.name, v)
    statOk && partOk && strOk
  }

  private def bloomEqMay(f: String, a: AttributeReference, v: Any): Boolean =
    if (v == null) true
    else probesFor(a.dataType, v) match {
      case Some(ps) => TxTable.bloomMayContainAny(snap, f, a.name, ps)
      case None => true
    }

  /** Per-value bloom probes, MEMOIZED across files: a point lookup on a
    * 10⁶-file head would otherwise re-evaluate the catalyst hash family
    * O(F·V) times driver-side. Keyed by the literal value itself
    * (Long-boxed / UTF8String equality — distinct classes, no cross-type
    * collision); the dispatch type is the ATTRIBUTE's schema type, the
    * same dispatch that chose the build hash. None = this value cannot
    * probe (never prunes).
    */
  private val probeMemo = new java.util.concurrent.ConcurrentHashMap[
    Any, Option[Seq[(Long, Long)]]]()
  private def probesFor(attrType: DataType, v: Any)
      : Option[Seq[(Long, Long)]] =
    probeMemo.computeIfAbsent(v, _ => attrType match {
      case tt if isIntegral(tt) =>
        toLong(v).map(l => TxTable.bloomProbes(Seq(l)))
      case StringType => v match {
        case s: org.apache.spark.unsafe.types.UTF8String =>
          Some(TxTable.bloomProbesStr(Seq(s)))
        case _ => None
      }
      case _ => None
    })

  /** IN-list pruning. Non-bloom mechanisms stay an exact per-value
    * conjunction; the bloom check batches EVERY value's probes into one
    * bitset walk per file — one Base64 decode per file instead of one
    * per (file × value), the dominant driver-side planning term for an
    * IN list over a large head. This bloom-any form is conservative vs
    * the per-value conjunction only when one value passes the bloom
    * while a DIFFERENT value passes the stats — it never prunes a file
    * the exact semantics would keep. Any
    * unprobeable value (null element, non-literal) disables the bloom
    * step for the whole list (that value alone could match anywhere).
    */
  private def inMay(f: String, a: AttributeReference,
      values: Seq[(Any, DataType)]): Boolean = {
    if (!values.exists { case (v, t) => eqMayNoBloom(f, a, v, t) })
      return false
    val probes = values.map { case (v, _) =>
      if (v == null) None else probesFor(a.dataType, v)
    }
    if (probes.exists(_.isEmpty)) true
    else TxTable.bloomMayContainAny(snap, f, a.name, probes.flatMap(_.get))
  }

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** IS NULL pruning: only a trustworthy zero null count (footerStats
    * records -1 when any block withheld it) proves absence of nulls.
    */
  private def mayHaveNulls(f: String, colName: String): Boolean =
    (statOf(f, colName), partOf(f, colName)) match {
      case (Some((_, _, nn)), _) if nn == 0L => false
      // a recorded NON-null partition value means every row carries it
      case (_, Some(Some(_))) => false
      case _ => !strStatOf(f, colName).exists(_.nulls == 0L)
    }

  /** IS NOT NULL pruning: a file is all-null on the column only when
    * its trustworthy null count equals its manifest row count, or its
    * recorded partition value is the null sentinel (every row null).
    */
  private def mayHaveNonNulls(f: String, colName: String): Boolean =
    if (partOf(f, colName).contains(None)) false
    // the all-null sstat line states it outright
    else if (strStatOf(f, colName).exists(_.allNull)) false
    else (statOf(f, colName), snap.rowCounts.get(f)) match {
      case (Some((_, _, nn)), Some(rows)) => !(nn >= 0L && nn == rows)
      case _ => true
    }
}
