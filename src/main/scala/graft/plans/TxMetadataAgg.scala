package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._

import graft.operators.TxTable
import graft.sources.{TxBatchRelation, TxMorRelation}

/** Optimizer rule: answer UNFILTERED metadata-derivable aggregates over
  * a clean tx snapshot from the manifest alone — zero Spark jobs, zero
  * files opened (Delta's OptimizeMetadataOnlyQuery /
  * `partitionRowCounts`' zero-scan discipline generalized to the whole
  * table). `COUNT(*)` sums the per-file `rows` lines; `MIN(col)` /
  * `MAX(col)` fold the per-file `stat` ranges, or — for a
  * PARTITION-COVERED column — the recorded part values themselves
  * (every row in a partitioned file carries its recorded value, so the
  * per-file fold is exact; this is what makes STRING extremes
  * answerable, which stat lines, being doubles, cannot). At 100 TB the
  * difference is a kilobyte manifest read vs scheduling a full scan's
  * worth of tasks to re-derive what the commit protocol already
  * recorded.
  *
  * GROUP BY partition columns (r16 VERDICT task 5) answers too: the
  * snapshot's files group by their recorded part tuples
  * (`partitionRowCounts`' discipline through the optimizer), each
  * group folding its own rows/stat/part lines — `SELECT lang, COUNT(*)
  * ... GROUP BY lang` never touches a file. Grouping by anything that
  * is not a fully-part-covered column of a round-trippable type
  * refuses.
  *
  * MoR snapshots (r17 third wave): a snapshot with LIVE deletion
  * vectors reads as a [[TxBatchRelation]] whose parquet reader drops
  * the deleted rows, and the rule answers there too — restricted to
  * what stays exact under in-place row deletion. `deleteWhere` keeps
  * per-file DV counts DISJOINT (its scan applies the existing DVs, so
  * already-deleted positions never enter a new blob), so a file's
  * live row count is exactly `rows − Σ dvCounts` — COUNT(*) and every
  * part-line-derived answer (a file's recorded part value holds for its
  * live rows as long as ANY survive) carry over with `rows` replaced by
  * `live`. What CANNOT carry over refuses: stat-fold MIN/MAX (the
  * extreme row may be among the deleted), stat-null count(col) (the
  * deleted rows' null-ness is unrecorded), and any grouped row whose
  * group went fully dead emits NOTHING (a real scan's GROUP BY has no
  * row to group). Column-mapped snapshots answer too (r18): every
  * stat/part/sum lookup resolves through the rename alias chains
  * (write-time-named lines consulted under every vintage of the
  * logical column — the machinery stat/bloom pruning already used), so
  * one RENAME COLUMN no longer costs a full rewrite to keep the
  * zero-scan dashboard class.
  *
  * Soundness gates — every one required, no-op otherwise:
  *   - the scan is a [[TxBatchRelation]] (clean or DV-only; with live
  *     DVs answers come from LIVE counts as above) or a column-mapped
  *     [[TxMorRelation]] (alias-aware lookups, live counts when DVs
  *     are live);
  *   - NOTHING stands between the aggregate and the scan but pure
  *     column-pruning Projects and Filters whose every referenced
  *     column is part-covered ([[filterFiles]] — the predicate is
  *     constant within each file, so it keeps/drops whole files
  *     exactly); a filter touching any other column, a Join, or a
  *     generator leaves the plan untouched;
  *   - grouping expressions are bare partition-covered attributes of
  *     exact-round-trip types (string/integral/boolean/date — the same
  *     class `partitionedRead` surfaces); every aggregate expression is
  *     a bare non-distinct `count(1)`/`count(*)`, `count(col)` (from
  *     trusted stat null counts, or part lines — Some ⇒ rows, the null
  *     sentinel ⇒ 0), `min(col)` or `max(col)` (a DISTINCT must see
  *     values);
  *   - COUNT needs EVERY group file to carry a `rows` line; MIN/MAX
  *     need EVERY group file to carry a `stat` line for the column OR a
  *     part line for it (a file whose column is all-null records no
  *     stat range but records the null partition sentinel — both
  *     exclude nulls exactly like MIN/MAX);
  *   - stat-fold MIN/MAX fire only for EXACT-in-double types (byte/
  *     short/int/long/date): stat lines store doubles, which represent
  *     integers exactly below 2⁵³ — a fold result at or beyond that
  *     magnitude refuses (a true long that large would have rounded
  *     INTO the refused range, so the gate is airtight), and
  *     non-integral fold results (corrupt stats) refuse rather than
  *     round. Part-value folds are string-decoded casts — exact by the
  *     writer's own rendering (and `''` can never hide behind the null
  *     sentinel: partitioned commits refuse empty-string values).
  *
  * The rewrite emits a [[LocalRelation]] carrying the aggregate's OWN
  * output attributes, so parent operators resolve unchanged; having no
  * relation left, it can never re-match (idempotent under the fixed-
  * point batch). Injected by [[graft.GraftExtensions]] and
  * self-attached by the connector at relation resolution.
  */
object TxMetadataAgg extends Rule[LogicalPlan] {

  /** The matched source: a pinned snapshot plus whether answers must be
    * DV-restricted. When `morLive`, [[live]] is total for every file
    * (gated in [[apply]]) and all folds run on live counts / live files.
    */
  private final case class Src(snap: TxTable.Snapshot, morLive: Boolean) {
    /** Live rows of `f`: the rows line minus the file's disjoint DV
      * counts ([[TxTable.deleteWhere]] scans with the existing DVs
      * applied before publishing, so the subtraction is exact).
      * None when the manifest can't say (no rows line, or corrupt
      * counts exceeding the file).
      */
    def live(f: String): Option[Long] =
      snap.rowCounts.get(f).map(_ - snap.dvs.getOrElse(f, Seq.empty)
        .map(_._2).sum).filter(_ >= 0L)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groups, exprs, child, _)
        if groups.forall(_.isInstanceOf[AttributeReference]) =>
      txSnapshot(child) match {
        // a MoR source answers only when EVERY file's live count is
        // derivable — one gate here keeps every downstream fold total
        case Some((src, conds))
            if !src.morLive ||
              src.snap.files.forall(f => src.live(f).isDefined) =>
          val groupAttrs = groups.map(_.asInstanceOf[AttributeReference])
          filterFiles(src.snap, conds).flatMap(files =>
            answerAggregate(agg, groupAttrs, exprs, src, files))
            .getOrElse(agg)
        case _ => agg
      }
  }

  /** The pinned snapshot IF `p` is nothing but a (possibly
    * column-pruned, possibly partition-filtered) scan of a clean tx
    * or DV-only snapshot, or a column-mapped one — Filter conditions
    * collect for [[filterFiles]].
    */
  private def txSnapshot(p: LogicalPlan)
      : Option[(Src, Seq[Expression])] =
    p match {
      case Project(projs, inner)
          if projs.forall(_.isInstanceOf[Attribute]) => txSnapshot(inner)
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, inner) =>
        txSnapshot(inner).map { case (s, cs) => (s, cond +: cs) }
      case lr: LogicalRelation => lr.relation match {
        // a DV-only snapshot reads through this shape too (DVs applied
        // in its parquet reader): answers must then come from LIVE counts
        case tx: TxBatchRelation =>
          val snap = tx.snapshot
          Some((Src(snap, TxTable.hasLiveDvs(snap)), Nil))
        case mor: TxMorRelation =>
          // column-mapped snapshots answer too (r18): every stat/part/
          // sum lookup below resolves through the rename alias chains
          // ([[TxTable.namesOf]] — a file carries at most one vintage of
          // a column, so the first matching line is exact), and DROPPED
          // columns never arrive here (the logical schema lacks them, so
          // no attribute can reference one). The old purge-first refusal
          // survives only as lookup DEGRADATION: a vintage without the
          // line refuses that fold, never mis-answers it.
          val snap = mor.snapshot
          Some((Src(snap, TxTable.hasLiveDvs(snap)), Nil))
        case _ => None
      }
      case _ => None
    }

  /** WHERE over partition columns, answered per FILE: every row in a
    * partitioned file carries its recorded value, so a deterministic
    * predicate over part-covered round-trip columns is CONSTANT within
    * each file — evaluating it once per file keeps or drops whole files
    * exactly (Delta's OptimizeMetadataOnlyQuery with partition filters).
    * None refuses the rewrite: any condition touching a non-partition
    * column, a non-round-trip type, a subquery, or anything
    * non-deterministic must see real rows. Null eval = drop (Filter
    * semantics).
    */
  private def filterFiles(snap: TxTable.Snapshot,
      conds: Seq[Expression]): Option[Seq[String]] = {
    if (conds.isEmpty) return Some(snap.files)
    val attrs = conds.flatMap(_.collect { case a: AttributeReference => a })
      .groupBy(_.exprId).map(_._2.head).toSeq
    val ok = conds.forall(_.deterministic) &&
      conds.forall(_.collectFirst {
        case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          s }.isEmpty) &&
      attrs.forall(a => roundTrips(a.dataType) && partCovered(snap, a))
    if (!ok) return None
    val idx = attrs.map(_.exprId).zipWithIndex.toMap
    val bound = conds.map(_.transform {
      case a: AttributeReference =>
        BoundReference(idx(a.exprId), a.dataType, nullable = true)
    })
    val pred = bound.reduce(
      org.apache.spark.sql.catalyst.expressions.And)
    Some(snap.files.filter { f =>
      val row = InternalRow.fromSeq(attrs.map(a =>
        partValue(snap, f, a).map(decode(_, a.dataType)).orNull))
      pred.eval(row) == true // null = drop, Filter semantics
    })
  }

  /** The whole rewrite, or None to refuse: group the snapshot's files
    * by their recorded part tuples on the grouping attributes (one
    * all-files group when there are none) and fold each group's
    * manifest lines per output expression.
    */
  private def answerAggregate(agg: Aggregate,
      groupAttrs: Seq[AttributeReference], exprs: Seq[NamedExpression],
      src: Src, candidateFiles: Seq[String])
      : Option[LogicalPlan] = {
    val snap = src.snap
    if (exprs.isEmpty) return None
    // grouping columns must be part-covered and round-trippable
    if (!groupAttrs.forall(a => roundTrips(a.dataType) && partCovered(snap, a)))
      return None
    val groups: Seq[(Seq[Option[String]], Seq[String])] =
      if (groupAttrs.isEmpty) Seq((Nil, candidateFiles)) // global: one row
      else
        candidateFiles
          .groupBy(f => groupAttrs.map(a => partValue(snap, f, a)))
          .toSeq.sortBy(_._1.map(_.getOrElse("\u0000")).mkString("\u0001"))
    // a group whose every row was MoR-deleted emits NOTHING — a real
    // scan's GROUP BY never sees it (the global one-row case stays)
    val liveGroups =
      if (!src.morLive || groupAttrs.isEmpty) groups
      else groups.filterNot(_._2.flatMap(src.live).sum == 0L)
    val rows = liveGroups.map { case (key, files) =>
      val values = exprs.map(answer(_, src, files, groupAttrs, key))
      if (values.exists(_.isEmpty)) return None
      InternalRow.fromSeq(values.map(_.get))
    }
    Some(LocalRelation(agg.output, rows))
  }

  /** Types whose partition-path rendering round-trips exactly through
    * `Cast(string, type)` — the `partitionedRead` whitelist.
    */
  private def roundTrips(t: DataType): Boolean = t match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
         BooleanType | DateType => true
    case _ => false
  }

  /** Part line of logical column `name` in file `f`, ALIAS-AWARE: a
    * column-mapped table's files record part lines under their
    * write-time names, so the lookup consults every vintage
    * ([[TxTable.namesOf]]); a file carries at most one vintage of a
    * column, so the first hit is exact. Some(value) = the line exists
    * (value None is the hive null sentinel); None = no line at all.
    */
  private def partLine(snap: TxTable.Snapshot, f: String,
      name: String): Option[Option[String]] = {
    val names = TxTable.namesOf(snap, name)
    snap.parts.getOrElse(f, Seq.empty).collectFirst {
      case (c, v) if names.contains(c) => v
    }
  }

  /** Stat line of logical column `name` in `f`, alias-aware like
    * [[partLine]].
    */
  private def statLine(snap: TxTable.Snapshot, f: String,
      name: String): Option[(Double, Double, Long)] = {
    val names = TxTable.namesOf(snap, name)
    snap.stats.getOrElse(f, Seq.empty).collectFirst {
      case (c, mn, mx, nn) if names.contains(c) => (mn, mx, nn)
    }
  }

  /** Sum line of logical column `name` in `f`, alias-aware. */
  private def sumLine(snap: TxTable.Snapshot, f: String,
      name: String): Option[(String, Long)] = {
    val names = TxTable.namesOf(snap, name)
    snap.sums.getOrElse(f, Seq.empty).collectFirst {
      case (c, dec, n) if names.contains(c) => (dec, n)
    }
  }

  /** String-stat line of logical column `name` in `f`, alias-aware. */
  private def strStatLine(snap: TxTable.Snapshot, f: String,
      name: String): Option[TxTable.StrStat] = {
    val names = TxTable.namesOf(snap, name)
    snap.strStats.getOrElse(f, Seq.empty).find(st => names.contains(st.col))
  }

  private def partCovered(snap: TxTable.Snapshot,
      a: AttributeReference): Boolean =
    snap.files.nonEmpty && snap.files.forall(f =>
      partLine(snap, f, a.name).isDefined)

  private def partValue(snap: TxTable.Snapshot, f: String,
      a: AttributeReference): Option[String] =
    partLine(snap, f, a.name).flatten

  /** Decoded part value → the Catalyst-internal value of the column's
    * type (the writer rendered it, so the cast round-trips exactly).
    */
  private def decode(s: String, t: DataType): Any =
    Cast(Literal.create(s, StringType), t, Some("UTC")).eval(null)

  /** The manifest answer for one output expression over one file group —
    * None refuses the whole rewrite. Some(null) is a real answer
    * (MIN/MAX of an all-null group).
    */
  private def answer(e: NamedExpression, src: Src,
      files: Seq[String], groupAttrs: Seq[AttributeReference],
      key: Seq[Option[String]]): Option[Any] = {
    val snap = src.snap
    def keyValue(a: AttributeReference): Option[Any] = {
      val i = groupAttrs.indexWhere(_.exprId == a.exprId)
      if (i < 0) None
      else Some(key(i).map(decode(_, a.dataType)).orNull)
    }
    e match {
      case a: AttributeReference => return keyValue(a)
      case Alias(a: AttributeReference, _) => return keyValue(a)
      case _ => ()
    }
    val ae = e match {
      case Alias(a: AggregateExpression, _) => a
      case a: AggregateExpression => a
      case _ => return None
    }
    if (ae.filter.nonEmpty || ae.mode != Complete)
      return None
    // under live DVs, a file contributes its part value ONLY while any
    // of its rows survive — fully-deleted files hold no live evidence
    def valueBearing(fs: Seq[String]): Seq[String] =
      if (!src.morLive) fs else fs.filter(f => src.live(f).exists(_ > 0L))
    if (ae.isDistinct) return ae.aggregateFunction match {
      // COUNT(DISTINCT partCol): the distinct non-null values are
      // recorded VERBATIM in the part lines — every row carries its
      // file's value, so the value set over candidate files is exact
      // (and nothing else distinct is metadata-derivable)
      case Count(Seq(a: AttributeReference))
          if roundTrips(a.dataType) && files.nonEmpty &&
            files.forall(f => partLine(snap, f, a.name).isDefined) =>
        Some(valueBearing(files).flatMap(f => partValue(snap, f, a))
          .distinct.size.toLong)
      case Count(Seq(a: AttributeReference)) if files.isEmpty => Some(0L)
      case _ => None
    }
    ae.aggregateFunction match {
      case Count(Seq(Literal(v, _))) if v != null => rowCount(src, files)
      case Count(Seq()) => rowCount(src, files)
      case Count(Seq(a: AttributeReference)) => nonNullCount(src, files, a)
      case Min(a: AttributeReference) => extreme(src, files, a, isMin = true)
      case Max(a: AttributeReference) => extreme(src, files, a, isMin = false)
      // recorded per-file sums (format 8, opt-in commit(sumCols)): a
      // sum line describes the file AS WRITTEN, so live DVs refuse
      case Sum(a: AttributeReference, _) if !src.morLive =>
        sumFold(src.snap, files, a)
      case _ => None
    }
  }

  /** SUM from recorded per-file exact sums: every group file must carry
    * a `sum` line for the column (commit-time DECIMAL(38,0) fold over
    * an INTEGRAL column — exact by construction). Folds in BigInt; an
    * all-null group answers SQL's NULL; a fold outside Long range
    * refuses (a real scan's long-summing Sum would overflow there — the
    * scan is the only honest answer). Integral-only both at record and
    * here, so the rewrite's Long matches the scan's output type.
    */
  private def sumFold(snap: TxTable.Snapshot, files: Seq[String],
      a: AttributeReference): Option[Any] = {
    val integral = a.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!integral) return None
    if (files.isEmpty) return Some(null) // SUM of nothing is NULL
    val perFile = files.map(f => sumLine(snap, f, a.name))
    if (perFile.exists(_.isEmpty)) return None // a file without the line
    var total = BigInt(0)
    var nn = 0L
    perFile.flatten.foreach { case (dec, n) =>
      total += BigInt(dec); nn += n
    }
    if (nn == 0L) Some(null)
    else if (total.isValidLong) Some(total.toLong)
    else None
  }

  /** count(col) — non-null rows, per file: a TRUSTED stat null count
    * (footerStats records -1 when any block withheld it) gives
    * rows − nulls; a recorded part value gives rows (Some — every row
    * carries it) or 0 (None — the hive sentinel, all-null by the
    * empty-string commit refusal). A file with neither surface refuses
    * the rewrite — count(col) must see nulls, exactly the gate the
    * global rule always had, now answered where the metadata CAN say.
    */
  private def nonNullCount(src: Src, files: Seq[String],
      a: AttributeReference): Option[Any] = {
    val snap = src.snap
    var total = 0L
    files.foreach { f =>
      val rows =
        if (src.morLive) src.live(f).getOrElse(return None)
        else snap.rowCounts.get(f).getOrElse(return None)
      // stat null counts describe the file AS WRITTEN — under live DVs
      // the deleted rows' null-ness is unrecorded, so only the
      // part-value branch (constant across every surviving row) answers
      val fromStat =
        if (src.morLive) None
        else statLine(snap, f, a.name).collect {
          case (_, _, nn) if nn >= 0L => rows - nn
        }
      val fromPart = partLine(snap, f, a.name).map(v =>
        if (v.isDefined) rows else 0L)
      total += fromStat.orElse(fromPart).getOrElse(return None)
    }
    Some(total)
  }

  private def rowCount(src: Src, files: Seq[String]): Option[Any] =
    if (files.isEmpty) Some(0L)
    else if (src.morLive) {
      val live = files.map(src.live)
      if (live.exists(_.isEmpty)) None else Some(live.flatten.sum)
    } else if (files.forall(src.snap.rowCounts.contains))
      Some(files.iterator.map(src.snap.rowCounts).sum)
    else None

  /** MIN/MAX over a file group: the stat-line fold when every file
    * carries a range for the column, else the part-value fold when the
    * column is partition-covered (exact for every round-trip type,
    * STRINGS included — the one extreme stat lines cannot express).
    */
  private def extreme(src: Src, files: Seq[String],
      a: AttributeReference, isMin: Boolean): Option[Any] =
    if (src.morLive)
      // a stat range describes the file AS WRITTEN — its extreme row may
      // be among the deleted; only part values (constant across every
      // surviving row) answer, and only over files with live rows
      partExtreme(src.snap,
        files.filter(f => src.live(f).exists(_ > 0L)), a, isMin)
    else statExtreme(src.snap, files, a, isMin)
      .orElse(partExtreme(src.snap, files, a, isMin))

  private val ExactLimit = 9007199254740992d // 2^53

  private def statExtreme(snap: TxTable.Snapshot, files: Seq[String],
      a: AttributeReference, isMin: Boolean): Option[Any] = {
    if (a.dataType == StringType) return strStatExtreme(snap, files, a, isMin)
    val exact = a.dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType => true
      case _ => false
    }
    if (!exact) return None
    if (files.isEmpty) return Some(null) // MIN/MAX of nothing
    val perFile = files.map { f =>
      statLine(snap, f, a.name)
        .map { case (mn, mx, _) => if (isMin) mn else mx }
    }
    if (perFile.exists(_.isEmpty)) return None
    val folded =
      if (isMin) perFile.flatten.min else perFile.flatten.max
    if (math.abs(folded) >= ExactLimit || folded != math.rint(folded))
      return None
    a.dataType match {
      case ByteType => Some(folded.toByte)
      case ShortType => Some(folded.toShort)
      case IntegerType | DateType => Some(folded.toInt)
      case LongType => Some(folded.toLong)
      case _ => None
    }
  }

  /** String MIN/MAX from `sstat` lines (format 9): every group file
    * must carry one for the column, all-null lines contribute nothing
    * (all all-null → Some(null), a real answer), and every CONTRIBUTING
    * bound must be flagged EXACT on the folded side — a truncated bound
    * brackets the extreme without naming it, so it refuses to the scan.
    * The fold compares raw UTF-8 bytes unsigned ([[TxTable.ucmp]] =
    * UTF8String binary order, the same order a real scan's Min/Max
    * produces — the string-extreme rule) and answers the winner's bytes
    * as the Catalyst-internal UTF8String.
    */
  private def strStatExtreme(snap: TxTable.Snapshot, files: Seq[String],
      a: AttributeReference, isMin: Boolean): Option[Any] = {
    if (files.isEmpty) return Some(null)
    val perFile = files.map(f => strStatLine(snap, f, a.name))
    if (perFile.exists(_.isEmpty)) return None
    val bearing = perFile.flatten.filterNot(_.allNull)
    if (bearing.isEmpty) return Some(null)
    val bounds =
      if (isMin) {
        if (!bearing.forall(_.exactMin)) return None
        bearing.flatMap(_.minBytes)
      } else {
        if (!bearing.forall(_.exactMax)) return None
        bearing.flatMap(_.maxBytes)
      }
    if (bounds.size != bearing.size) return None // a bound-less line
    val w = bounds.reduce((x, y) =>
      if (isMin == (TxTable.ucmp(x, y) <= 0)) x else y)
    Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(w))
  }

  /** Fold recorded part values: every file must carry a part LINE for
    * the column; a None value means the file's column is all-null (the
    * hive sentinel — never a disguised `''`, partitioned commits refuse
    * those), so it contributes nothing, exactly like MIN/MAX. All-null
    * group → Some(null), a real answer. Comparison is Catalyst's own
    * interpreted ordering for the type (UTF8String binary order for
    * strings — the same order a real scan's Min/Max would produce,
    * which java.lang.String.compareTo is NOT for supplementary
    * characters).
    */
  private def partExtreme(snap: TxTable.Snapshot, files: Seq[String],
      a: AttributeReference, isMin: Boolean): Option[Any] = {
    if (!roundTrips(a.dataType)) return None
    if (files.isEmpty) return Some(null)
    val perFile = files.map(f => partLine(snap, f, a.name))
    if (perFile.exists(_.isEmpty)) return None // a file without the line
    val present = perFile.flatten.flatten.map(decode(_, a.dataType))
    if (present.isEmpty) return Some(null) // every file all-null
    val ord = org.apache.spark.sql.catalyst.types.PhysicalDataType
      .ordering(a.dataType).asInstanceOf[Ordering[Any]]
    Some(if (isMin) present.min(ord) else present.max(ord))
  }

  /** Attach to a live session (the MatViewRouting lazy seam — sessions
    * built without [[graft.GraftExtensions]] get the rule the moment
    * they touch `format("tx")`, because the connector calls this from
    * relation resolution; idempotent).
    */
  def enable(spark: org.apache.spark.sql.SparkSession): Unit =
    OptimizerRules.attach(spark, this)
}
