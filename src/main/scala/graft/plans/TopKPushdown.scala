package graft.plans

import graft.index.StatsBridge
import graft.prune.TopKPruning
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Descending, Expression, In, InSet, IntegerLiteral, IsNotNull, Literal, NullsFirst, Or, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

/** Automatic top-k pruning — the optimizer face of
  * [[graft.prune.TopKPruning]]: a user writes plain
  * `df.orderBy(c.desc).limit(k)` — or the time-window-latest-k shape
  * `df.filter(c >= x).orderBy(c.desc).limit(k)` — over the index-backed
  * relation and the PROVIDER decides the catalog can bound the scan,
  * rewriting the relation into a [[RowGroupScan]] over only the row
  * groups that can provably contribute to the top k. The companion of
  * [[StatsAggPushdown]] (same "the provider consults the index" seam,
  * /root/reference/sqlx-sqlite/src/main.rs:256-305) for ordering queries.
  *
  * Fires on `Limit(k, Sort(order, global, chain))` where `chain` is the
  * indexed relation under any stack of attribute-only Projects and AT
  * MOST ONE Filter of literal-bound conjuncts. Sort-column conjuncts
  * tighten the threshold walk directly (`IsNotNull` is implied and
  * ignored). Conjuncts on OTHER columns take the COMPOSITE certificate
  * ([[TopKPruning.pruneComposite]]): the threshold is certified only
  * from row groups whose stats prove every other-column conjunct
  * ALL-PASS (zero nulls, bounds inside the interval), so rows counted
  * toward k are guaranteed to survive the filter; groups that are not
  * all-pass still compete as survivors. One disjunctive conjunct — an
  * `Or` of conjunct sets, an IN-list, or an `InSet` — is absorbed via
  * the per-disjunct union ([[TopKPruning.pruneDisjunctive]]): a group
  * certifies the threshold when it is all-pass for SOME disjunct. When
  * no threshold can be certified this way, the declarative plan stands —
  * over-scan, never wrong. Computed projections disqualify. Multi-key
  * orderings prune on their maximal leading prefix of distinct indexed
  * keys via the N-key tuple certificate ([[TopKPruning.pruneLexN]]);
  * keys past the prefix are lexicographically dominated and ignored.
  * Kill switch: `spark.graft.topkPushdown=false`.
  *
  * Every shape, single key or lexicographic, filtered or not, goes
  * through the lex pruners ([[TopKPruning.pruneLexN]],
  * [[TopKPruning.pruneDisjunctiveLex]]), faces of the ONE N-key walk
  * whose one-key case is the single-key walk; the catalog answers
  * through its two lex fast paths only. Filter conjuncts are read by the
  * shared comparison recognizer ([[StatsBridge.Comparison]]). The
  * rewrite is [[IndexedRelation.substitute]], shared with
  * [[PartPruneScan]] and [[JoinPruneRule]]: the relation is replaced
  * IN PLACE (any surrounding Filter/Project structure survives, so the
  * filter is still re-applied above the scan — the Inexact contract) by
  * the pruned [[RowGroupScan]] under exprId-preserving aliases, and the
  * filter's translatable conjuncts reach the reader for page-level
  * skipping inside surviving row groups. This rule owns its strip, its
  * decision and its consumed columns.
  */
final case class TopKPushdown(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (session.conf.get("spark.graft.topkPushdown", "true") != "true") return plan
    plan.transform {
      case lim @ Limit(le @ IntegerLiteral(k), sort @ Sort(order, true, child, _))
          if k > 0 && order.nonEmpty =>
        rewrite(k, order, child)
          .map(pruned => Limit(le, sort.copy(child = pruned)))
          .getOrElse(lim)
      // PushProjectionThroughLimit leaves a column-REORDERING Project
      // between the limit and the sort (an order-preserving one collapses
      // below the Sort instead) — absorb it, it doesn't change the rows
      // competing for the top k
      case lim @ Limit(le @ IntegerLiteral(k),
          proj @ Project(pl, sort @ Sort(order, true, child, _)))
          if k > 0 && order.nonEmpty &&
            pl.forall(_.isInstanceOf[AttributeReference]) =>
        rewrite(k, order, child)
          .map(pruned =>
            Limit(le, proj.copy(child = sort.copy(child = pruned))))
          .getOrElse(lim)
    }
  }

  private def rewrite(
      k: Int, order: Seq[SortOrder], child: LogicalPlan): Option[LogicalPlan] = {
    // the sort input: the indexed relation under attribute-only Projects
    // and at most one Filter
    var cond: Option[Expression] = None
    def strip(p: LogicalPlan): Option[IndexedRelation] = p match {
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        strip(c)
      case f: Filter if cond.isEmpty =>
        cond = Some(f.condition); strip(f.child)
      case other => IndexedRelation.of(other)
    }
    val ir = strip(child).getOrElse(return None)
    val idx = ir.index
    // N-key lexicographic prefix: the maximal leading prefix of DISTINCT
    // indexed sort keys takes the tuple certificate — each added key
    // separates groups still tied on the shallower ones (never worse —
    // the lex pruners intersect every shorter prefix's plan set). A key
    // may be a plain indexed attribute or a certified monotone IMAGE of
    // one (r11 `date_trunc(unit, ts)` / `CAST(ts AS DATE)`; r12 `year`,
    // `trunc(date, unit)`, `unix_timestamp`, consecutive year/month/day
    // datepart runs, all under a fixed-offset session zone); the prefix
    // stops at the first unrecognized, unindexed, or repeated
    // (column, image) key — `date_trunc('day', ts), ts` is two DISTINCT
    // keys (the raw value refines its own day bucket).
    val specs = keySpecs(order, child, idx)
    val (a, headSpec) = specs.headOption.getOrElse(return None)
    val prefix = scala.collection.mutable.ArrayBuffer(headSpec)
    val pit = specs.drop(1).iterator
    var extending = true
    while (extending && pit.hasNext) {
      pit.next() match {
        case (_, spec)
            if !prefix.exists(p => p.col == spec.col && p.image == spec.image) =>
          prefix += spec
        case _ => extending = false
      }
    }
    val keysTag = prefix.map(p => p.image.fold(p.col)(img => s"${img.id}(${p.col})"))
      .mkString(",")
    // O(1) catalog cardinalities — the baseline for the unfiltered shape
    // AND the observability totals below. Fetching allFiles() here would
    // be a full-catalog materialization per fired rewrite (the exact
    // driver-side bottleneck at 1M+ row groups); a store failure declines
    // the rewrite (fail-closed — the declarative plan stands).
    val counts = idx.catalogCounts()
    val catGroups = counts.getOrElse(return None)._2
    // a single plain key keeps its one-key route tag; the lex pruners
    // serve it through their one-key case
    val lexTag =
      if (prefix.sizeIs == 1 && headSpec.image.isEmpty) "" else s"-lex${prefix.size}"
    val (plans, baseline, routeTag) = cond match {
      case None =>
        (TopKPruning.pruneLexN(idx, prefix.toSeq, k.toLong), catGroups,
          s"topk$lexTag($keysTag)")
      case Some(c) =>
        val disjunctsRaw = parseDisjuncts(c, a).getOrElse(return None)
        // a computed head key cannot compare RAW-value sort bounds in
        // image space — carry them as other-column all-pass bounds on the
        // underlying column instead (same certificate, still sound)
        val disjuncts =
          if (headSpec.image.isEmpty) disjunctsRaw
          else disjunctsRaw.map { d =>
            if (d.sortLo.isEmpty && d.sortHi.isEmpty) d
            else TopKPruning.Disjunct(None, None,
              d.others :+ TopKPruning.OtherColBounds(a.name, d.sortLo, d.sortHi))
          }
        // the filter's own stats pruning is what the declarative plan
        // would get via listFiles — the baseline the rewrite must beat
        val statsPlans = idx.getFiles(c)
        val otherCols = disjuncts.flatMap(_.others.map(_.col)).distinct
        val shape =
          if (disjuncts.sizeIs == 1 && otherCols.isEmpty) "filtered"
          else "composite"
        val suffix = if (otherCols.isEmpty) "" else ";" + otherCols.mkString(",")
        // FILTERED lexicographic past one key: the disjunctive all-pass
        // certificate composed with the tuple threshold — deeper sort
        // keys separate groups tied on the leading key inside the window
        (TopKPruning.pruneDisjunctiveLex(
            idx, prefix.toSeq, k.toLong, disjuncts, statsPlans),
          statsPlans.map(_.scanRowGroups.size.toLong).sum,
          s"topk-$shape$lexTag($keysTag$suffix)")
    }
    val kept = plans.map(_.scanRowGroups.size).sum
    if (kept >= baseline) return None // no narrowing beyond the stats path
    // every column ANY node of the surviving Filter/Project chain consumes
    // (not just the top node's references — an intermediate Project or the
    // Filter condition must also resolve against the substituted scan)
    val needed = child.collect {
      case p: Project => p.projectList.map(_.name)
      case f: Filter  => f.condition.references.map(_.name).toSeq
    }.flatten.toSet ++ child.output.map(_.name)
    ir.substitute(child, plans, needed, cond.toSeq, counts, Seq(routeTag))
  }

  /** The maximal leading run of catalog-certifiable sort keys, with
    * CONSECUTIVE datepart keys collapsed (r12): `year(d), month(d)` on
    * the same date leg and direction is lexicographically the single
    * monotone key `trunc(d, 'month')` (the truncated date determines the
    * (year, month) pair and orders exactly like it), and the full
    * `year, month, day` triple IS the date itself — so datepart
    * reporting sorts prune like their canonical time key instead of
    * stopping at the non-monotone `month`. A deeper datepart whose
    * direction differs, skips a level, or sits on another leg ends the
    * run (the collapsed key is exact for the consumed orders only — the
    * next SortOrder then ends the prefix as an unrecognized key). Null
    * ordering is taken from the run's FIRST order: a null date nulls
    * every datepart, so deeper null placements never reorder anything. */
  private def keySpecs(
      order: Seq[SortOrder], child: LogicalPlan, idx: graft.index.StatsIndex)
      : Seq[(AttributeReference, graft.index.SortKeySpec)] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(AttributeReference, graft.index.SortKeySpec)]
    var i = 0
    var stop = false
    while (i < order.length && !stop) {
      datepartOf(order(i), child, idx) match {
        case Some((ar, castImg, 0, desc, nf)) => // a year(...) opens a run
          var depth = 0
          var j = i + 1
          while (j < order.length && depth < 2 &&
              datepartOf(order(j), child, idx).exists { case (ar2, ci2, f2, d2, _) =>
                ar2.exprId == ar.exprId && ci2 == castImg &&
                  f2 == depth + 1 && d2 == desc
              }) { depth += 1; j += 1 }
          val img: Option[graft.index.KeyImage] = depth match {
            case 0 => Some(chain(castImg, graft.index.YearImage))
            case 1 => Some(chain(castImg,
              graft.index.TruncDateImage.forUnit("month").get))
            case _ => castImg // (year, month, day) = the date leg itself
          }
          out += ((ar, graft.index.SortKeySpec(ar.name, desc, nf, img)))
          i = j
        case Some(_) => stop = true // month/day without a leading year
        case None =>
          asKeySpec(order(i), child, idx) match {
            case Some(t) => out += t; i += 1
            case None    => stop = true
          }
      }
    }
    out.toSeq
  }

  private def chain(
      inner: Option[graft.index.KeyImage], outer: graft.index.KeyImage)
      : graft.index.KeyImage =
    inner.fold(outer)(ci => graft.index.ChainedImage(ci, outer))

  private def indexedAs(
      ar: AttributeReference, child: LogicalPlan,
      idx: graft.index.StatsIndex): Boolean =
    child.outputSet.contains(ar) && StatsBridge.indexed(idx, ar)

  /** A datepart SortOrder — `year(leg)` / `month(leg)` / `day(leg)` over
    * an indexed date leg — as (attr, leg cast image, field 0=year
    * 1=month 2=day, desc, nullsFirst). Only [[keySpecs]]' run collapse
    * may consume these (a lone month/day is not monotone). */
  private def datepartOf(
      so: SortOrder, child: LogicalPlan, idx: graft.index.StatsIndex)
      : Option[(AttributeReference, Option[graft.index.KeyImage], Int,
        Boolean, Boolean)] = {
    import org.apache.spark.sql.catalyst.expressions.{DayOfMonth, Month, Year}
    val field = so.child match {
      case Year(e)       => Some((e, 0))
      case Month(e)      => Some((e, 1))
      case DayOfMonth(e) => Some((e, 2))
      case _             => None
    }
    field.flatMap { case (e, f) =>
      dateLeg(e, child, idx).map { case (ar, ci) =>
        (ar, ci, f, so.direction == Descending, so.nullOrdering == NullsFirst)
      }
    }
  }

  /** A DATE-space operand over an indexed column: a DATE attribute
    * itself (no image), or an indexed timestamp under the analyzer's
    * cast-to-date — NTZ zone-free (wall micros floor to wall days), LTZ
    * under any FIXED-OFFSET session zone via the offset-shifted
    * epoch-day image. */
  private def dateLeg(
      e: Expression, child: LogicalPlan, idx: graft.index.StatsIndex)
      : Option[(AttributeReference, Option[graft.index.KeyImage])] = e match {
    case ar: AttributeReference
        if ar.dataType == DateType && indexedAs(ar, child, idx) =>
      Some((ar, None))
    case c: org.apache.spark.sql.catalyst.expressions.Cast
        if c.dataType == DateType =>
      c.child match {
        case ar: AttributeReference
            if ar.dataType == TimestampNTZType && indexedAs(ar, child, idx) =>
          Some((ar, Some(graft.index.CastDateImage)))
        case ar: AttributeReference
            if ar.dataType == TimestampType && indexedAs(ar, child, idx) =>
          graft.index.KeyImage.fixedOffsetSeconds(c.timeZoneId)
            .map(z => (ar, Some(graft.index.KeyImage.castDate(z))))
        case _ => None
      }
    case _ => None
  }

  /** One SortOrder → (underlying attribute, catalog sort-key spec), or
    * None when the certificate family cannot serve it. A key is a plain
    * indexed attribute, or any monotone image the SHARED recognizer
    * ([[graft.index.KeyImage.fromDataExpr]]) certifies: `date_trunc` /
    * `CAST(ts AS DATE)` (r11), `year` / `trunc(date, unit)` /
    * `unix_timestamp` (r12), fixed-offset session zones carried into the
    * image and the NTZ cast-shift adapter (r13). Geographic zones and
    * unindexed operands return None — the declarative plan stands. */
  private def asKeySpec(
      so: SortOrder, child: LogicalPlan, idx: graft.index.StatsIndex)
      : Option[(AttributeReference, graft.index.SortKeySpec)] = {
    val desc = so.direction == Descending
    val nf = so.nullOrdering == NullsFirst
    so.child match {
      case ar: AttributeReference if indexedAs(ar, child, idx) =>
        Some((ar, graft.index.SortKeySpec(ar.name, desc, nf, None)))
      case e =>
        graft.index.KeyImage.fromDataExpr(e, ar => indexedAs(ar, child, idx))
          .map { case (ar, img) =>
            (ar, graft.index.SortKeySpec(ar.name, desc, nf, Some(img)))
          }
    }
  }

  /** `cond` as a DISJUNCTION of per-column bound sets
    * ([[TopKPruning.Disjunct]]): the top-level conjuncts may contain AT
    * MOST ONE disjunctive member — an `Or` tree, an `In`, or an `InSet`
    * — whose branches each parse as a conjunct set of bounds; every
    * branch inherits the shared (non-disjunctive) conjuncts' bounds.
    * A plain conjunction parses as a single disjunct. None if any
    * conjunct is something else (non-comparison, a computed key,
    * attr-to-attr), if a branch re-bounds a side a shared conjunct
    * already set (the certificate needs the exact interval), or if
    * nothing is bounded at all. At most one bound per side per column
    * within a disjunct. `IsNotNull` on the sort column is implied and
    * ignored; on another column it is recorded as a bound-less entry
    * (all-pass then requires a certified zero null count). Literal
    * values are bridged to the catalog's storage encoding by
    * [[StatsBridge.storage]]. */
  private def parseDisjuncts(cond: Expression, a: AttributeReference)
      : Option[Seq[TopKPruning.Disjunct]] = {
    def branches(e: Expression): Seq[Expression] = e match {
      case Or(l, r) => branches(l) ++ branches(r)
      case x => Seq(x)
    }
    type BMap = scala.collection.mutable.LinkedHashMap[
      String, (Option[(Any, Boolean)], Option[(Any, Boolean)])]
    // fold plain comparison conjuncts into per-column bounds on top of a
    // base map (cloned — each disjunct extends the shared bounds
    // independently); None if a side is re-bound or a conjunct is foreign
    def absorb(base: BMap, es: Seq[Expression]): Option[BMap] = {
      val m = base.clone()
      es.foreach {
        case IsNotNull(ar: AttributeReference) =>
          if (ar.exprId != a.exprId && !m.contains(ar.name))
            m(ar.name) = (None, None) // record: rows must be non-null
        case StatsBridge.Comparison(ar, lo, hi) =>
          val (curLo, curHi) = m.getOrElse(ar.name, (None, None))
          if ((lo.isDefined && curLo.isDefined) || (hi.isDefined && curHi.isDefined))
            return None
          m(ar.name) = (StatsBridge.Comparison.stored(lo).orElse(curLo),
            StatsBridge.Comparison.stored(hi).orElse(curHi))
        case _ => return None // a conjunct the certificate cannot absorb
      }
      Some(m)
    }
    def withEq(base: BMap, ar: AttributeReference, value: Any): Option[BMap] = {
      val m = base.clone()
      val (lo, hi) = m.getOrElse(ar.name, (None, None))
      if (lo.isDefined || hi.isDefined) None
      else { m(ar.name) = (Some((value, true)), Some((value, true))); Some(m) }
    }

    val conj = StatsBridge.conjuncts(cond)
    val (disjunctive, plain) = conj.partition {
      case _: Or                         => true
      case In(_: AttributeReference, _)  => true
      case InSet(_: AttributeReference, _) => true
      case _ => false
    }
    if (disjunctive.sizeIs > 1) return None
    val shared = absorb(new BMap, plain).getOrElse(return None)
    val maps: Seq[BMap] = disjunctive.headOption match {
      case None => Seq(shared)
      case Some(In(ar: AttributeReference, list)) =>
        if (list.isEmpty) return None
        list.map {
          case l: Literal if l.value != null =>
            withEq(shared, ar, StatsBridge.storage(l.value)).getOrElse(return None)
          case _ => return None
        }
      case Some(InSet(ar: AttributeReference, set)) =>
        if (set.isEmpty) return None
        set.toSeq.map { raw =>
          if (raw == null) return None
          withEq(shared, ar, StatsBridge.storage(raw)).getOrElse(return None)
        }
      case Some(or: Or) =>
        branches(or).map(b => absorb(shared, StatsBridge.conjuncts(b)).getOrElse(return None))
      case _ => return None
    }
    val result = maps.map { m =>
      val (sLo, sHi) = m.getOrElse(a.name, (None, None))
      val others = m.collect {
        case (name, (lo, hi)) if name != a.name =>
          TopKPruning.OtherColBounds(name, lo, hi)
      }.toSeq
      TopKPruning.Disjunct(sLo, sHi, others)
    }
    if (result.forall(d =>
        d.sortLo.isEmpty && d.sortHi.isEmpty && d.others.isEmpty)) None
    else Some(result)
  }
}
