package graft.plans

import graft.index.{RowGroupStat, StatsIndex}
import graft.sources.IndexedParquetFileIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Aggregate pushdown to the external stats index — the Spark-idiomatic
  * analog of DSv2 `SupportsPushDownAggregates`, expressed as an injected
  * optimizer rule over the engine's V1 index-backed relation: a global
  * (no GROUP BY, no filter) `MIN` / `MAX` / `COUNT` over indexed columns
  * is answered entirely from the catalog — one O(index) JDBC round trip,
  * zero data scanned — by folding the plan to a [[LocalRelation]]. On a
  * value-aligned layout, single-column `GROUP BY` folds the same way
  * ([[groupByRewrite]] below).
  *
  * This gives the reference's design seam ("the provider consults the
  * index", /root/reference/sqlx-sqlite/src/main.rs:256-305) its aggregate
  * face: the caller writes `df.agg(min(...), count(...))` and the PROVIDER
  * decides the index can answer it. At 100 TB the difference is a full
  * table scan vs a catalog lookup.
  *
  * Soundness: every scalar must be CERTIFIED exact by the index, or the
  * plan is left untouched and the scan computes the answer —
  *  - `minIndexedValue` / `maxIndexedValue` refuse when a NULL-stats row
  *    group may hide the true extreme, on possible truncation, on binary
  *    collation, and on catalog failure (StatsIndex contract);
  *  - `COUNT(*)` is the SUM of footer row counts — exact by construction,
  *    and consistent with a scan because the relation's file listing IS
  *    the catalog (`IndexedParquetFileIndex.listFiles` serves
  *    `index.allFiles()`: a file the catalog does not know is invisible
  *    to the scan too);
  *  - `COUNT(col)` additionally needs every row group's `{col}_null_count`
  *    present;
  *  - all-NULL columns: SQL MIN/MAX over only-NULL stats yield no
  *    certified value ⇒ no rewrite (the scan returns NULL, correctly).
  *
  * The rewrite only fires on the exact shape `Aggregate(no grouping,
  * min/max/count, [attribute-only Project,] indexed relation)` — any
  * Filter, grouping, DISTINCT, agg-filter, or non-attribute input keeps
  * the declarative plan for Catalyst to optimize normally. Kill switch:
  * `spark.graft.statsAggPushdown=false`.
  */
final case class StatsAggPushdown(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (session.conf.get("spark.graft.statsAggPushdown", "true") != "true") return plan
    plan.transform {
      case agg: Aggregate if agg.groupingExpressions.isEmpty &&
          agg.aggregateExpressions.nonEmpty =>
        // r11: the global case also folds under a stats-certified
        // ALL-PASS filter (see fileIndexOrAllPassFiltered) — a vacuous
        // guard conjunct must not forfeit the catalog answer
        fileIndexOrAllPassFiltered(agg.child) match {
          case Some(idx) =>
            // r13: COUNT(DISTINCT …) outputs fold via per-row-group
            // constancy (distinctCell) alongside plain catalog scalars —
            // `count(DISTINCT cast(ts AS DATE))` = "how many active
            // days" from the stats alone on an aligned layout
            val values = agg.aggregateExpressions.map(ne =>
              catalogValue(idx.statsIndex, ne)
                .orElse(distinctCell(idx.statsIndex, ne))
                .orElse(foldableCell(ne)))
            if (values.forall(_.isDefined))
              LocalRelation(agg.output, Seq(InternalRow.fromSeq(values.map(_.get))))
            else distinctRewrite(agg, idx).getOrElse(agg)
          case None =>
            // r13: a filter the stats cannot prove vacuous may still
            // keep/drop each row group WHOLESALE (globalFilteredFold)
            fileIndexFiltered(agg.child) match {
              case Some((idx2, Some(c))) =>
                globalFilteredFold(agg, idx2, c).getOrElse(agg)
              case _ => agg
            }
        }
      case agg: Aggregate if agg.groupingExpressions.nonEmpty =>
        // r13: the grouped fold also serves a Filter whose conjuncts
        // reference only GROUPING KEYS — the raw condition travels with
        // the index and is certified inside groupByRewrite (groupKeep)
        fileIndexFiltered(agg.child) match {
          case Some((idx, cond)) =>
            groupByRewrite(agg, idx, cond).getOrElse(agg)
          case None => agg
        }
    }
  }

  /** The grouped rewrite's input: the index-backed relation directly, or
    * (r11) under ONE Filter whose every conjunct the catalog certifies
    * ALL-PASS — provably true for every row of every row group, so the
    * filter drops nothing and `GROUP BY` over the filtered relation IS
    * `GROUP BY` over the table. The common shape is a pipeline-template
    * guard (`WHERE qty >= 0`, `WHERE ts >= <ingest floor>`) over a table
    * whose stats prove it vacuous — without this, one harmless conjunct
    * forfeits the whole metadata-only aggregation. */
  private def fileIndexOrAllPassFiltered(
      p: LogicalPlan): Option[IndexedParquetFileIndex] = p match {
    // column pruning may leave attribute-only Projects on either side of
    // the Filter, and PullOutGroupingExpressions adds COMPUTED aliases
    // (`_groupingexpression`) — both are row-preserving, so traversal is
    // sound; certification of anything referencing a computed alias is
    // the caller's job (unindexed attrs decline by default), and an
    // alias SHADOWING an indexed name declines inside passThrough
    case Project(projectList, child) =>
      fileIndexOrAllPassFiltered(child)
        .filter(idx => projectList.forall(passThrough(_, idx)))
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
      fileIndexOf(f.child).filter(idx => allPassFilter(f.condition, idx))
    case other => fileIndexOf(other)
  }

  /** Like [[fileIndexOrAllPassFiltered]] but hands the Filter's RAW
    * condition to the caller: the grouped fold (r13) can serve key-only
    * conjuncts per group, not just stats-vacuous ones. */
  private def fileIndexFiltered(
      p: LogicalPlan): Option[(IndexedParquetFileIndex, Option[Expression])] =
    p match {
      case Project(projectList, child) =>
        fileIndexFiltered(child)
          .filter { case (idx, _) => projectList.forall(passThrough(_, idx)) }
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        fileIndexOf(f.child).map(idx => (idx, Some(f.condition)))
      case other => fileIndexOf(other).map((_, None))
    }

  /** Every conjunct is a comparison of an indexed, ordering-certified
    * column against a literal (or a bare IsNotNull) that the stats PROVE
    * for every row: zero nulls in the column (a comparison passes no
    * nulls) and every row group's stored bounds inside the interval.
    * Truncated string minima stay sound (stored ≥ lo ⇒ real ≥ stored ≥
    * lo); stored maxima are verbatim by construction. Anything else —
    * an unindexed column, an uncertified type, an OR, a computed
    * operand — fails the certificate and the declarative plan stands. */
  private def allPassFilter(
      cond: Expression, idx: IndexedParquetFileIndex): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def conv(value: Any): Option[Any] =
      if (value == null) None
      else Some(value match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        case other => other
      })
    // one O(index) fetch per referenced column, not per conjunct side
    val memo = scala.collection.mutable.HashMap
      .empty[String, Option[Seq[RowGroupStat]]]
    def stats(ar: AttributeReference) =
      if (!indexed(idx.statsIndex, ar)) None
      else memo.getOrElseUpdate(ar.name, idx.statsIndex.rowGroupStats(ar.name))
    def zeroNulls(ar: AttributeReference): Boolean =
      stats(ar).exists(_.forall(_.nullCount.contains(0L)))
    def bound(ar: AttributeReference, l: Literal, isLo: Boolean,
        inclusive: Boolean): Boolean = {
      val ord = graft.prune.TopKPruning.ordering(ar.dataType)
        .getOrElse(return false)
      val b = conv(l.value).getOrElse(return false)
      zeroNulls(ar) && stats(ar).exists(_.forall { s =>
        if (isLo) s.min.exists(v => if (inclusive) ord.gteq(v, b) else ord.gt(v, b))
        else s.max.exists(v => if (inclusive) ord.lteq(v, b) else ord.lt(v, b))
      })
    }
    conjuncts(cond).forall {
      case IsNotNull(ar: AttributeReference) => zeroNulls(ar)
      case GreaterThan(ar: AttributeReference, l: Literal) =>
        bound(ar, l, isLo = true, inclusive = false)
      case GreaterThanOrEqual(ar: AttributeReference, l: Literal) =>
        bound(ar, l, isLo = true, inclusive = true)
      case LessThan(ar: AttributeReference, l: Literal) =>
        bound(ar, l, isLo = false, inclusive = false)
      case LessThanOrEqual(ar: AttributeReference, l: Literal) =>
        bound(ar, l, isLo = false, inclusive = true)
      case GreaterThan(l: Literal, ar: AttributeReference) =>
        bound(ar, l, isLo = false, inclusive = false)
      case GreaterThanOrEqual(l: Literal, ar: AttributeReference) =>
        bound(ar, l, isLo = false, inclusive = true)
      case LessThan(l: Literal, ar: AttributeReference) =>
        bound(ar, l, isLo = true, inclusive = false)
      case LessThanOrEqual(l: Literal, ar: AttributeReference) =>
        bound(ar, l, isLo = true, inclusive = true)
      case EqualTo(ar: AttributeReference, l: Literal) =>
        bound(ar, l, isLo = true, inclusive = true) &&
          bound(ar, l, isLo = false, inclusive = true)
      case EqualTo(l: Literal, ar: AttributeReference) =>
        bound(ar, l, isLo = true, inclusive = true) &&
          bound(ar, l, isLo = false, inclusive = true)
      case _ => false
    }
  }

  /** GROUP BY answered from the catalog — metadata-only aggregation on a
    * VALUE-ALIGNED layout: when every row group is CONSTANT in the
    * grouping column among its non-null rows (stored min = stored max;
    * for strings a truncated stored min equal to the verbatim max forces
    * real constancy, the lex2 argument), the per-value counts are sums
    * of footer row counts and `GROUP BY g` folds to a [[LocalRelation]]
    * — one O(index) stats fetch, zero data scanned. This is the layout a
    * value-partitioned ingestion produces naturally (one file set per
    * source/day/label); ONE straddling row group fails the whole
    * certification closed and the declarative plan stands.
    *
    * Certified outputs: the grouping attribute itself, `COUNT(*)` (the
    * value's non-null rows; row-group null slices accumulate into the
    * NULL group), `COUNT(g)` (0 for the NULL group), `MIN(g)` /
    * `MAX(g)` (the value itself; NULL for the NULL group), and
    * `MIN`/`MAX` of OTHER indexed integral/date/timestamp columns —
    * merged per group from row-group extremes, certifiable only when NO
    * row group holds grouping-column nulls (a null-g row's value would
    * leak into the wrong group's extreme) and refused for strings
    * (truncated minima are bounds, not answers) and floats (NaN
    * comparator hazard). TWO grouping columns (r11) certify the joint
    * key per row group on a doubly-aligned layout, with at most one
    * column carrying a partial null slice per group (two splits make
    * the joint distribution unknowable from per-column stats); N
    * grouping columns (r13) certify the same way — the partial-null
    * rule, not the column count, is the certification boundary. Any
    * other aggregate, DISTINCT, or an agg filter disqualifies. Consistency with a scan holds because the
    * relation's listing IS the catalog (see COUNT(*) note above). Kill
    * switch: `spark.graft.groupByAggPushdown=false`. */
  private def groupByRewrite(
      agg: Aggregate, idx: IndexedParquetFileIndex,
      cond: Option[Expression]): Option[LogicalPlan] = {
    if (session.conf.get("spark.graft.groupByAggPushdown", "true") != "true")
      return None
    // N grouping KEYS (r11: two attrs; r13: any N, and any key may be a
    // MONOTONE IMAGE of an indexed time column — `GROUP BY CAST(ts AS
    // DATE)` / `trunc(d, 'month')` / `year(ts)`, the time-series rollup):
    // an N-aligned layout — one file set per (source, label, day, ...)
    // tuple — certifies the joint key the same way a single column does.
    // Image constancy is WEAKER than raw constancy (a row group spanning
    // one day of micros is day-image-constant), which is exactly what
    // makes time-partitioned ingest layouts certify. The
    // ≤1-partial-null-column rule below keeps the joint distribution
    // knowable from per-column stats, independent of N.
    // ck: the key's row-group constancy certificate — raw (min = max),
    // monotone image (f(min) = f(max)), or a DETERMINED calendar part
    // (r13: `GROUP BY month(ts)` / `dayofweek(d)` / `hour(ts)` — the
    // seasonality/profile rollups — certified through a finer monotone
    // image's constancy, valued by Spark's own eval)
    case class GKey(attr: AttributeReference, ck: graft.index.RgConstKey,
        expr: Expression) {
      def keyType: DataType = ck.resultType
      def isPlain: Boolean = ck.isInstanceOf[graft.index.RawConstKey]
    }
    // PullOutGroupingExpressions rewrites `GROUP BY year(ts)` into a
    // computed `_groupingexpression` alias in the child Project and
    // groups by the ATTRIBUTE — resolve grouping attrs back through the
    // child's alias environment before image recognition. The stored
    // GKey.expr stays the ORIGINAL grouping expression (attribute or
    // expression) because that is what the aggregate's output cells
    // reference.
    val aliasEnv: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression] = {
      def walk(p: LogicalPlan): Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression] =
        p match {
          case Project(pl, child) =>
            val inner = walk(child)
            def res(e: Expression) = e.transformUp {
              case ar: AttributeReference if inner.contains(ar.exprId) =>
                inner(ar.exprId)
            }
            inner ++ pl.collect { case al @ Alias(e2, _) => al.exprId -> res(e2) }
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => walk(f.child)
          case _ => Map.empty
        }
      walk(agg.child)
    }
    def resolvedExpr(e: Expression): Expression = e.transformUp {
      case ar: AttributeReference if aliasEnv.contains(ar.exprId) => aliasEnv(ar.exprId)
    }
    val gs: Seq[GKey] = {
      val exprs = agg.groupingExpressions
      if (exprs.isEmpty) return None
      val keys: Seq[GKey] = exprs.map {
        case a: AttributeReference
            if indexed(idx.statsIndex, a) && ordered(a.dataType) =>
          GKey(a, graft.index.RawConstKey(a.dataType), a)
        case e => constKeyOf(idx.statsIndex, resolvedExpr(e)) match {
          case Some((ar, ck)) => GKey(ar, ck, e)
          case None => return None
        }
      }
      if (keys.map(k => (k.attr.name, k.ck.id)).distinct.size
          != keys.size) return None
      keys
    }
    // per-row-group joint keys: each grouping column is CONSTANT among
    // its non-null rows (all-null ⇒ the NULL slot). A column with a
    // PARTIAL null slice splits the group's rows two ways — sound only
    // while at most ONE column splits (two partial columns make the
    // joint distribution unknowable from per-column stats: fail closed)
    type Key = Vector[Option[Any]]
    // r13: serve the Filter per GROUP. Each conjunct is either
    // stats-certified ALL-PASS (vacuous — r11, drops nothing) or an
    // expression over GROUPING KEYS only: the constancy certificate
    // below proves every row of a group carries the key value exactly,
    // so such a predicate keeps or drops groups WHOLESALE — evaluate it
    // per group with Spark's own eval on the substituted key literals
    // (`WHERE year(ts) BETWEEN 1994 AND 1996 GROUP BY year(ts)`, the
    // rollup-for-a-period shape; `WHERE src IN (...) GROUP BY src`).
    // NULL keys get SQL semantics for free (a comparison drops the NULL
    // group, IS NULL keeps it — images are null-preserving). A conjunct
    // that is neither, or any eval failure (ANSI), declines the fold.
    val rKeys: Seq[Expression] = gs.map(k => resolvedExpr(k.expr))
    def keyIdxOf(s: Expression): Int = {
      val rs = resolvedExpr(s)
      rKeys.indexWhere(_.semanticEquals(rs))
    }
    def keyEvaluator(cj: Expression): Option[Key => Option[Boolean]] = {
      if (!cj.deterministic) return None
      // compile ONCE: replace each key occurrence with a placeholder
      // attribute, so the per-group pass substitutes by exprId instead
      // of re-running semanticEquals recognition on every node
      val placeholders = gs.indices.map(i =>
        AttributeReference(s"__graft_gk$i", gs(i).keyType)())
      val phIdx: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Int] =
        placeholders.zipWithIndex.map { case (p, i) => p.exprId -> i }.toMap
      val template = cj.transformDown {
        case s if keyIdxOf(s) >= 0 => placeholders(keyIdxOf(s))
      }
      // anything left referencing a non-key column declines the conjunct
      if (!template.references.forall(a => phIdx.contains(a.exprId)))
        return None
      // fail closed when a DEFINED key value doesn't bridge: a future
      // key type missing a StatsBridge case must decline the fold, not
      // evaluate the predicate at NULL and silently drop groups. A None
      // slot is the genuine NULL group and substitutes as SQL NULL.
      def subst(key: Key): Option[Expression] = {
        var bridged = true
        val r = template.transformDown {
          case a: AttributeReference if phIdx.contains(a.exprId) =>
            val i = phIdx(a.exprId)
            val v = key(i) match {
              case Some(raw) => internal(raw, gs(i).keyType) match {
                case Some(iv) => iv
                case None => bridged = false; null
              }
              case None => null
            }
            Literal(v, gs(i).keyType)
        }
        if (bridged) Some(r) else None
      }
      Some(key => subst(key)
        .flatMap(s => scala.util.Try(s.eval(null)).toOption)
        .map(v => v == true))
    }
    // conjuncts that are neither vacuous nor key-only spill into rgLive:
    // if every one of them is ROW-GROUP-decidable (keyish + constant per
    // row group — the idx44 engine), they restrict the row-group UNIVERSE
    // the grouping walk below iterates, wholesale (idx47:
    // `WHERE l_returnflag = 'A' GROUP BY l_linestatus` on the aligned
    // layout — the filter column need not be a grouping key at all)
    val rgLive = scala.collection.mutable.ArrayBuffer.empty[Expression]
    val groupKeep: Key => Option[Boolean] = cond match {
      case None => _ => Some(true)
      case Some(c) =>
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
            conjuncts(l) ++ conjuncts(r)
          case x => Seq(x)
        }
        val evs = conjuncts(c).flatMap { cj =>
          if (allPassFilter(cj, idx)) Nil
          else keyEvaluator(cj) match {
            case Some(ev) => Seq(ev)
            case None => rgLive += cj; Nil
          }
        }
        key => evs.foldLeft(Option(true))((acc, ev) =>
          acc.flatMap(b => if (!b) Some(false) else ev(key)))
    }
    val statsPer: Seq[Map[(String, Int), RowGroupStat]] =
      gs.map(g => idx.statsIndex.rowGroupStats(g.attr.name).getOrElse(return None)
        .map(s => (s.fileName, s.rowGroup) -> s).toMap)
    if (statsPer.exists(_.size != statsPer.head.size)) return None
    val rgs: Seq[(String, Int)] = statsPer.head.keys.toSeq.sorted
    // r13 (idx47): the rg-decidable conjuncts' kept set — its universe
    // must be the very set this walk iterates, or membership of some row
    // group is undecided and the fold fails closed
    val keptRg: ((String, Int)) => Boolean =
      if (rgLive.isEmpty) _ => true
      else {
        if (session.conf.get("spark.graft.filteredAggPushdown", "true") != "true")
          return None
        val (kept, _, universe) =
          rowGroupKeepSet(idx.statsIndex, rgLive.toSeq).getOrElse(return None)
        if (universe != rgs.size) return None
        kept
      }
    val byKey = scala.collection.mutable.LinkedHashMap.empty[Key, Long]
    val rgKey = scala.collection.mutable.HashMap.empty[(String, Int), Key]
    rgs.filter(keptRg).foreach { rg =>
      // per column: (null count, constant value — None when all-null)
      val info: Seq[(Long, Option[Any])] = gs.indices.map { i =>
        val s = statsPer(i).getOrElse(rg, return None)
        val nc = s.nullCount.getOrElse(return None)
        if (nc == s.rowCount) (nc, None)
        else {
          val mn = s.min.getOrElse(return None)
          val mx = s.max.getOrElse(return None)
          // the key's constancy certificate over the raw extremes: image
          // keys certify through their bucket equality, determined parts
          // through their finer determiner; a straddler or a throwing
          // certificate fails the fold closed
          val kv = scala.util.Try(gs(i).ck.constantOf(mn, mx))
            .getOrElse(return None).getOrElse(return None)
          (nc, Some(kv))
        }
      }
      val rowCount = statsPer.head(rg).rowCount
      if (gs.indices.exists(i => statsPer(i)(rg).rowCount != rowCount))
        return None // inconsistent catalog rows
      val partial = gs.indices.filter(i => info(i)._1 > 0 && info(i)._2.isDefined)
      if (partial.sizeIs > 1) return None
      val base: Key = info.map(_._2).toVector
      partial.headOption match {
        case None =>
          byKey.updateWith(base)(c => Some(c.getOrElse(0L) + rowCount))
          rgKey(rg) = base
        case Some(i) =>
          val nci = info(i)._1
          byKey.updateWith(base)(c => Some(c.getOrElse(0L) + (rowCount - nci)))
          byKey.updateWith(base.updated(i, None))(c =>
            Some(c.getOrElse(0L) + nci))
      }
    }
    // per-group MIN/MAX of OTHER indexed columns: every contributing row
    // group must carry an UNSPLIT key (rgKey) — a PARTIAL-null grouping
    // slice splits the group's rows two ways and its rows' other-column
    // values would leak into the wrong group's extreme, so those row
    // groups have no rgKey and fail the tally closed below (r13: this
    // per-row-group gate replaces r11's blanket no-grouping-nulls guard —
    // an ALL-null-key row group assigns every row to the NULL group, so
    // its extremes merge correctly). The other column's stored extremes
    // must be verbatim-exact VALUES: integrals/date/timestamp/decimal
    // only (string minima may be truncated — fine as bounds, wrong as
    // answers; floats carry the NaN comparator hazard)
    def exactOther(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | TimestampNTZType => true
      case _: DecimalType => true // verbatim values, signed comparators (r13)
      case _ => false
    }
    def isGrouping(a: AttributeReference): Boolean =
      gs.exists(k => k.isPlain && k.attr.exprId == a.exprId)
    // an aggregate over a monotone image of an indexed column, with the
    // other-column gates applied to the RAW column (whose stats merge)
    def imageAgg(e: Expression): Option[(AttributeReference, graft.index.KeyImage)] =
      resolvedExpr(e) match {
        case _: AttributeReference => None // plain attrs take the raw path
        case r => imageOf(idx.statsIndex, r)
      }
    def gIdx(a: AttributeReference): Int =
      gs.indexWhere(k => k.isPlain && k.attr.exprId == a.exprId)
    def gIdxE(e: Expression): Int = gs.indexWhere(_.expr.semanticEquals(e))
    // CollapseProject may fold a post-aggregate render into the list: an
    // aggregate under a Cast is still the same catalog-served aggregate
    // (the cast replays on the folded value — see castValue)
    def aggOf(ne: NamedExpression): Option[AggregateExpression] = ne match {
      case Alias(e, _) => castsOver(e).map(_._1)
      case _ => None
    }
    val plainAggs = agg.aggregateExpressions.flatMap(aggOf)
      .filter(ae => !ae.isDistinct && ae.filter.isEmpty)
    val otherAggCols = plainAggs.flatMap { ae =>
      ae.aggregateFunction match {
        case Min(a: AttributeReference) if !isGrouping(a) => Seq(a)
        case Max(a: AttributeReference) if !isGrouping(a) => Seq(a)
        // MIN/MAX of an image (r13): merge the RAW per-group extremes,
        // apply the image at the end (extremes commute with monotone
        // maps). A grouping-expr match is served from the key instead.
        case Min(e) if gIdxE(e) < 0 =>
          imageAgg(e).map(_._1).filterNot(isGrouping).toSeq
        case Max(e) if gIdxE(e) < 0 =>
          imageAgg(e).map(_._1).filterNot(isGrouping).toSeq
        case _ => Nil
      }
    }.distinctBy(_.exprId)
    // key -> (min, max) per other column, merged over its row groups
    val otherExtremes: Map[String, scala.collection.Map[Key, (Option[Any], Option[Any])]] =
      if (otherAggCols.isEmpty) Map.empty
      else {
        otherAggCols.map { a =>
          if (!indexed(idx.statsIndex, a) || !exactOther(a.dataType)) return None
          // the exactOther gate admits only types with a certified total
          // order (integrals/date/ts as longs, decimal by value)
          val ord = graft.prune.TopKPruning.ordering(a.dataType)
            .getOrElse(return None)
          val os = idx.statsIndex.rowGroupStats(a.name).getOrElse(return None)
          val acc = scala.collection.mutable.HashMap
            .empty[Key, (Option[Any], Option[Any])]
          os.foreach { s =>
            if (keptRg((s.fileName, s.rowGroup))) {
              val v = rgKey.get((s.fileName, s.rowGroup)) match {
                case Some(v) => v
                case None => return None // a group the grouping pass didn't certify
              }
              val nc = s.nullCount.getOrElse(return None)
              if (nc != s.rowCount) { // all-null groups contribute no extreme
                val mn = s.min.getOrElse(return None)
                val mx = s.max.getOrElse(return None)
                def lt(x: Any, y: Any) = ord.lt(x, y)
                acc.updateWith(v) {
                  case Some((pmn, pmx)) => Some((
                    Some(if (pmn.forall(p => lt(mn, p))) mn else pmn.get),
                    Some(if (pmx.forall(p => lt(p, mx))) mx else pmx.get)))
                  case None => Some((Some(mn), Some(mx)))
                }
              } else acc.getOrElseUpdate(v, (None, None))
            }
          }
          a.name -> acc
        }.toMap
      }
    // per-group SUM of OTHER integral columns — served from the SumShadow
    // ledger (per-row-group exact sums), certifiable only when NO row
    // group holds grouping-column nulls and EVERY row group of the
    // column carries a built, non-overflowed sum plus a known null count
    // (the non-null tally decides SUM's NULL-on-empty-group semantics);
    // overflow while merging fails closed. COUNT(other) needs only the
    // null counts — no shadow, no constancy.
    val sumAggCols = plainAggs.flatMap { ae =>
      ae.aggregateFunction match {
        case su: Sum => su.child match {
          case a: AttributeReference if !isGrouping(a) => Seq(a)
          case _ => Nil
        }
        // AVG shares the (ledger sum, non-null tally) machinery (r13)
        case av: Average => av.child match {
          case a: AttributeReference if !isGrouping(a) => Seq(a)
          case _ => Nil
        }
        case _ => Nil
      }
    }.distinctBy(_.exprId)
    val cntAggCols = plainAggs.flatMap { ae =>
      ae.aggregateFunction match {
        // the raw attribute UNDER an image key is served from the key
        // itself (images are null-preserving, so COUNT(ts) per
        // month(ts)-group is the group's rows) — not a per-column tally
        case Count(Seq(a: AttributeReference))
            if !gs.exists(_.attr.exprId == a.exprId) => Seq(a)
        case _ => Nil
      }
    }.distinctBy(_.exprId)
    // key -> (sum of non-null values, non-null row tally)
    val otherSums: Map[String, scala.collection.Map[Key, (Long, Long)]] =
      if (sumAggCols.isEmpty) Map.empty
      else {
        sumAggCols.map { a =>
          if (!indexed(idx.statsIndex, a) ||
              !graft.index.SumShadow.supported(a.dataType)) return None
          val os = idx.statsIndex.rowGroupStats(a.name).getOrElse(return None)
          val acc = scala.collection.mutable.HashMap.empty[Key, (Long, Long)]
          os.foreach { s =>
            if (keptRg((s.fileName, s.rowGroup))) {
              val v = rgKey.get((s.fileName, s.rowGroup)) match {
                case Some(v) => v
                case None => return None
              }
              val nc = s.nullCount.getOrElse(return None)
              val sv = s.sumVal.getOrElse(return None)
              try acc.updateWith(v) {
                case Some((ps, pn)) =>
                  Some((Math.addExact(ps, sv), pn + (s.rowCount - nc)))
                case None => Some((sv, s.rowCount - nc))
              } catch { case _: ArithmeticException => return None }
            }
          }
          a.name -> acc
        }.toMap
      }
    val otherCounts: Map[String, scala.collection.Map[Key, Long]] =
      if (cntAggCols.isEmpty) Map.empty
      else {
        cntAggCols.map { a =>
          if (!indexed(idx.statsIndex, a)) return None
          val os = idx.statsIndex.rowGroupStats(a.name).getOrElse(return None)
          val acc = scala.collection.mutable.HashMap.empty[Key, Long]
          os.foreach { s =>
            if (keptRg((s.fileName, s.rowGroup))) {
              val v = rgKey.get((s.fileName, s.rowGroup)) match {
                case Some(v) => v
                case None => return None
              }
              val nc = s.nullCount.getOrElse(return None)
              acc.updateWith(v) {
                case Some(p) => Some(p + (s.rowCount - nc))
                case None    => Some(s.rowCount - nc)
              }
            }
          }
          a.name -> acc
        }.toMap
      }
    // one output cell per (aggregate expression, group). Expression
    // recognition (gIdx/gIdxE scans, castsOver, imageAgg's full
    // KeyImage walk) depends only on the EXPRESSION, not the group —
    // compile each output column to a closure ONCE, then run the
    // closures per group (a day-partitioned table spanning years yields
    // thousands of groups; re-recognizing per group is pure driver
    // waste inside the optimizer rule).
    type CellFn = (Key, Long) => Option[Any]
    // None (abort the fold) when a DEFINED key value doesn't bridge —
    // an .orNull here would render an unbridgeable value as SQL NULL
    def keyCell(i: Int, key: Key): Option[Any] = key(i) match {
      case Some(raw) => internal(raw, gs(i).keyType)
      case None => Some(null)
    }
    def compileAgg(ae: AggregateExpression): Option[CellFn] =
      if (ae.isDistinct || ae.filter.nonEmpty) None
      else ae.aggregateFunction match {
            case Count(Seq(l: Literal)) if l.value != null =>
              Some((_, rows) => Some(rows))
            case Count(Seq(a: AttributeReference))
                if gs.exists(_.attr.exprId == a.exprId) =>
              // counting the key's underlying column: null-preserving
              // images make "a is null" ⟺ "the key is null", so the
              // count is the group's rows (0 for the NULL group)
              val i = gs.indexWhere(_.attr.exprId == a.exprId)
              Some((key, rows) => Some(if (key(i).isDefined) rows else 0L))
            case Min(a: AttributeReference) if gIdx(a) >= 0 =>
              val i = gIdx(a); Some((key, _) => keyCell(i, key))
            case Max(a: AttributeReference) if gIdx(a) >= 0 =>
              val i = gIdx(a); Some((key, _) => keyCell(i, key))
            // the grouping EXPRESSION itself under an aggregate — the key
            // is constant per group, so MIN/MAX are the key and COUNT is
            // the group's rows (images are null-preserving)
            case Count(Seq(e)) if gIdxE(e) >= 0 =>
              val i = gIdxE(e)
              Some((key, rows) => Some(if (key(i).isDefined) rows else 0L))
            case Min(e) if gIdxE(e) >= 0 =>
              val i = gIdxE(e); Some((key, _) => keyCell(i, key))
            case Max(e) if gIdxE(e) >= 0 =>
              val i = gIdxE(e); Some((key, _) => keyCell(i, key))
            case Min(a: AttributeReference) if otherExtremes.contains(a.name) =>
              val m = otherExtremes(a.name)
              Some((key, _) => Some(m.getOrElse(key, (None, None))._1
                .flatMap(internal(_, a.dataType)).orNull))
            case Max(a: AttributeReference) if otherExtremes.contains(a.name) =>
              val m = otherExtremes(a.name)
              Some((key, _) => Some(m.getOrElse(key, (None, None))._2
                .flatMap(internal(_, a.dataType)).orNull))
            // MIN/MAX of an image over an OTHER column: the image of the
            // group's raw extreme (r13)
            case Min(e) if imageAgg(e).exists(t => otherExtremes.contains(t._1.name)) =>
              val (a, img) = imageAgg(e).get
              val m = otherExtremes(a.name)
              Some((key, _) => Some(m.getOrElse(key, (None, None))._1
                .flatMap(v => scala.util.Try(img(v)).toOption)
                .flatMap(internal(_, img.resultType)).orNull))
            case Max(e) if imageAgg(e).exists(t => otherExtremes.contains(t._1.name)) =>
              val (a, img) = imageAgg(e).get
              val m = otherExtremes(a.name)
              Some((key, _) => Some(m.getOrElse(key, (None, None))._2
                .flatMap(v => scala.util.Try(img(v)).toOption)
                .flatMap(internal(_, img.resultType)).orNull))
            case su: Sum => su.child match {
              case a: AttributeReference if otherSums.contains(a.name) =>
                val m = otherSums(a.name)
                Some((key, _) => m.get(key) match {
                  // zero non-null rows in the group ⇒ SQL NULL
                  case Some((sv, nn)) if nn > 0 =>
                    ledgerSum(su.dataType, a.dataType, sv) // None ⇒ abort
                  case _ => Some(null)
                })
              case _ => None
            }
            // per-group AVG (r13): the group's ledger sum over its
            // non-null tally through Average's own evaluateExpression
            case av: Average => av.child match {
              case a: AttributeReference if otherSums.contains(a.name) =>
                val m = otherSums(a.name)
                Some((key, _) => m.get(key) match {
                  case Some((sv, nn)) => avgFromLedger(av, a.dataType, sv, nn)
                  case None => Some(null)
                })
              case _ => None
            }
            case Count(Seq(a: AttributeReference))
                if otherCounts.contains(a.name) =>
              val m = otherCounts(a.name)
              Some((key, _) => Some(m.getOrElse(key, 0L)))
            case _ => None
          }
    def compileCell(ne: NamedExpression): Option[CellFn] =
      ne match {
        case a: AttributeReference if gIdx(a) >= 0 =>
          val i = gIdx(a); Some((key, _) => keyCell(i, key))
        case a: AttributeReference if gIdxE(a) >= 0 =>
          val i = gIdxE(a); Some((key, _) => keyCell(i, key))
        case Alias(a: AttributeReference, _) if gIdx(a) >= 0 =>
          val i = gIdx(a); Some((key, _) => keyCell(i, key))
        // an IMAGE grouping key's output column (`Alias(cast(ts AS date),
        // "day")`): the certified key value — must match BEFORE the
        // generic Cast case (a cast grouping expr is not a render cast)
        case Alias(e, _) if gIdxE(e) >= 0 =>
          val i = gIdxE(e); Some((key, _) => keyCell(i, key))
        // a FOLDABLE output column (r15: ROLLUP's `null AS dow` padding,
        // constant report labels — CollapseProject folds them into the
        // aggregate list): one value for every group, no catalog
        // involvement. Foldable excludes aggregates and attributes by
        // construction; evaluated once at rule time.
        case Alias(e, _) if e.foldable =>
          val v = e.eval(); Some((_, _) => Some(v))
        case Alias(e, _) => castsOver(e).flatMap { case (ae, cs) =>
          compileAgg(ae).map(f =>
            (key: Key, rows: Long) => f(key, rows).flatMap(replayCasts(cs, _))) }
        case _ => None
      }
    // an unservable output column declines up front — including the
    // zero-surviving-groups case, where the old per-group evaluation
    // never ran (declining there is equally sound, just explicit)
    val cellFns: Seq[CellFn] =
      agg.aggregateExpressions.map(ne => compileCell(ne).getOrElse(return None))
    val rows = byKey.toSeq.flatMap { case (key, n) =>
      groupKeep(key) match {
        case None        => return None // eval failure: fail closed
        case Some(false) => Nil // the predicate drops this group wholesale
        case Some(true) =>
          val cells = cellFns.map(_(key, n))
          if (cells.exists(_.isEmpty)) return None
          Seq(InternalRow.fromSeq(cells.map(_.get)))
      }
    }
    Some(LocalRelation(agg.output, rows))
  }

  /** COUNT(DISTINCT key) answered from the row-level POSTING catalog:
    * the catalog holds one posting per distinct (key, row group) pair
    * over the files it covers, so its distinct keys ARE the data's
    * distinct non-null keys — the aggregate becomes a LocalRelation
    * holding one catalog `COUNT(DISTINCT)` down the key B-tree, computed
    * at rule time. O(index) where the declarative plan is a full-table
    * distinct: at 100 TB the posting catalog is the ~GB key directory vs
    * the table's TBs. NULL semantics carry over (the catalog stores no
    * null keys, as COUNT DISTINCT ignores the data's null rows), and
    * replayed-append duplicate postings collapse in the same distinct.
    *
    * Certification — all must hold, or the declarative plan stands:
    *  - every output column is a filterless `COUNT(DISTINCT key)` over
    *    the SAME single row-level-indexed column (any other aggregate,
    *    multi-column distinct, or agg-filter disqualifies);
    *  - the catalog's covered-files set EQUALS the live file set: a
    *    missing file would undercount, a since-removed file could
    *    contribute keys no longer present (strictly stronger than
    *    routing's superset check, where over-approximation is harmless);
    *  - the catalog was built for the data column's type and holds no
    *    truncated string key (see [[graft.index.RowLevelIndex.distinctKeys]]).
    * Kill switch: `spark.graft.distinctAggPushdown=false`. */
  private def distinctRewrite(
      agg: Aggregate, idx: IndexedParquetFileIndex): Option[LogicalPlan] = {
    if (session.conf.get("spark.graft.distinctAggPushdown", "true") != "true")
      return None
    val keyPerOutput = agg.aggregateExpressions.map {
      case Alias(ae: AggregateExpression, _) if ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(a: AttributeReference)) => Some(a)
          case _ => None
        }
      case _ => None
    }
    if (keyPerOutput.exists(_.isEmpty)) return None
    val attrs = keyPerOutput.flatten
    if (attrs.map(_.exprId).distinct.size != 1) return None
    val keyAttr = attrs.head
    val indexDir = idx.rowLevelIndexDirs.get(keyAttr.name) match {
      case Some(d) => d
      case None => return None
    }
    // coverage equality without the O(#row groups) allFiles fetch: the
    // O(1) file COUNT gates first (any mismatch declines before any name
    // transfer), then the O(#files) names-only stream confirms set
    // equality — count equal + one-sided containment ⟺ equal sets
    val covered = graft.index.RowLevelIndex.coveredFiles(indexDir)
      .getOrElse(return None)
    val liveCount = idx.statsIndex.catalogCounts().map(_._1).getOrElse(return None)
    if (liveCount != covered.size.toLong) return None
    val liveNames = idx.statsIndex.fileNames().getOrElse(return None)
    if (!liveNames.forall(covered.contains)) return None
    val n = graft.index.RowLevelIndex.distinctKeys(indexDir, keyAttr.dataType)
      .getOrElse(return None)
    Some(LocalRelation(agg.output, Seq(InternalRow.fromSeq(agg.output.map(_ => n)))))
  }

  /** The child must be the index-backed relation, optionally under an
    * attribute-only Project (column pruning) — anything else (Filter,
    * joins, computed projections) disqualifies the rewrite. */
  private def fileIndexOf(p: LogicalPlan): Option[IndexedParquetFileIndex] = p match {
    case l: LogicalRelation => fromRelation(l)
    case Project(projectList, l: LogicalRelation) =>
      fromRelation(l).filter(idx => projectList.forall(passThrough(_, idx)))
    case _ => None
  }

  /** A projection entry the aggregate rewrites may traverse: a plain
    * attribute, or a DETERMINISTIC computed alias (row-preserving, so
    * counts and per-row-group stats of the RELATION's columns are
    * untouched). A computed alias MUST NOT reuse an indexed column's
    * name: every certification site below matches attributes by
    * name+type against the indexedSchema, so a shadowing alias
    * (`withColumn("k", k % 10)`, or a rename onto an indexed name)
    * would be silently served from the RAW column's statistics — wrong
    * results, not a decline. Shadows of non-indexed names are harmless
    * (nothing certifies them). */
  private def passThrough(
      ne: NamedExpression, idx: IndexedParquetFileIndex): Boolean = ne match {
    case _: AttributeReference => true
    case al: Alias => al.child.deterministic &&
      !idx.statsIndex.indexedSchema.fields.exists(_.name == al.name)
    case _ => false
  }

  private def fromRelation(l: LogicalRelation): Option[IndexedParquetFileIndex] =
    l.relation match {
      case h: HadoopFsRelation =>
        h.location match {
          case idx: IndexedParquetFileIndex => Some(idx)
          case _ => None
        }
      case _ => None
    }

  /** One aggregate output column → its certified catalog value (already in
    * Catalyst internal encoding), or None ⇒ the whole rewrite aborts.
    * CollapseProject may fold a post-aggregate render (e.g. the decimal
    * fixed-scale string cast) INTO the aggregate list — a Cast over a
    * certified aggregate is served by evaluating Spark's own cast on the
    * catalog value. */
  /** A FOLDABLE output column of a global aggregate (r15: ROLLUP's
    * `null AS <col>` padding, constant report labels — CollapseProject
    * folds them into the aggregate list): its one constant value, in
    * internal encoding, evaluated once at rule time. Foldable excludes
    * aggregates and attributes by construction. */
  private def foldableCell(ne: Expression): Option[Any] = ne match {
    case Alias(e, _) if e.foldable => Some(e.eval())
    case _ => None
  }

  private def catalogValue(index: StatsIndex, ne: Expression): Option[Any] = ne match {
    case Alias(e, _) => castsOver(e).flatMap { case (ae, cs) =>
      aggValue(index, ae).flatMap(replayCasts(cs, _)) }
    case _ => None
  }

  /** Evaluate the (already resolved) Cast on a catalog-served internal
    * value — Spark's own conversion, so the folded plan renders exactly
    * what the scan would. Failure (e.g. ANSI overflow) ⇒ no rewrite. */
  private def castValue(
      c: org.apache.spark.sql.catalyst.expressions.Cast,
      from: DataType, v: Any): Option[Any] =
    scala.util.Try(c.withNewChildren(Seq(Literal(v, from))).eval(null)).toOption

  /** Peel the chain of render Casts CollapseProject folds over an
    * aggregate — a fixed-scale render is often TWO casts
    * (`avg → decimal(18,4) → string`). Outermost first; empty chain for
    * a bare aggregate. */
  private def castsOver(e: Expression): Option[
      (AggregateExpression, List[org.apache.spark.sql.catalyst.expressions.Cast])] =
    e match {
      case ae: AggregateExpression => Some((ae, Nil))
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        castsOver(c.child).map { case (ae, cs) => (ae, c :: cs) }
      case _ => None
    }

  /** Replay a peeled cast chain (innermost first) on the catalog value —
    * each level is Spark's own Cast over the previous level's type. */
  private def replayCasts(
      casts: List[org.apache.spark.sql.catalyst.expressions.Cast],
      v: Any): Option[Any] = casts match {
    case Nil => Some(v)
    case outer :: rest =>
      replayCasts(rest, v).flatMap(castValue(outer, outer.child.dataType, _))
  }

  /** Spark's own AVG result from the exact ledger tallies: substitute the
    * aggregate's (sum, count) buffer slots in its OWN `evaluateExpression`
    * with literals derived from the BIGINT ledger (exact integral sum /
    * unscaled decimal sum) and the non-null tally, then evaluate — the
    * division, result scale, rounding, and overflow semantics are all
    * Spark's, not re-derived here. Zero non-null rows short-circuits to
    * SQL NULL (never dividing by zero under ANSI). For an integral
    * column the Double sum buffer gets the correctly-rounded value of
    * the TRUE sum — at least as accurate as the scan's running FP sum,
    * but therefore PLAN-DEPENDENT in the last ULP: the un-folded scan's
    * running floating-point sum may round differently, so a catalog-
    * folded AVG can differ from the scan's by one ulp (intentional;
    * oracle-green). A bit-exact-reproducibility user must pin one plan
    * via the kill switches (`spark.graft.groupByAggPushdown=false` /
    * `spark.graft.aggPushdown=false`). */
  private def avgFromLedger(
      av: Average, colType: DataType, sv: Long, nn: Long): Option[Any] = {
    if (nn == 0) return Some(null)
    val sumVal: Option[Any] = (av.sumDataType, colType) match {
      case (DoubleType, _) => Some(Double.box(sv.toDouble))
      case (sd: DecimalType, cd: DecimalType) =>
        scala.util.Try(org.apache.spark.sql.types.Decimal(
          BigDecimal(java.math.BigDecimal.valueOf(sv, cd.scale)),
          sd.precision, sd.scale)).toOption
      case _ => None
    }
    sumVal.flatMap { s =>
      val e = av.evaluateExpression.transform {
        case ar: AttributeReference if ar.exprId == av.sum.exprId =>
          Literal(s, av.sum.dataType)
        case ar: AttributeReference if ar.exprId == av.count.exprId =>
          Literal(nn)
      }
      if (e.references.nonEmpty) None
      else scala.util.Try(e.eval(null)).toOption
    }
  }

  private def aggValue(index: StatsIndex, ae: AggregateExpression): Option[Any] =
    if (ae.isDistinct || ae.filter.nonEmpty) None
    else ae.aggregateFunction match {
        case Min(a: AttributeReference) if indexed(index, a) && ordered(a.dataType) =>
          index.minIndexedValue(a.name).flatMap(internal(_, a.dataType))
        case Max(a: AttributeReference) if indexed(index, a) && ordered(a.dataType) =>
          index.maxIndexedValue(a.name).flatMap(internal(_, a.dataType))
        case Count(Seq(l: Literal)) if l.value != null =>
          index.totalRowCount()
        case Count(Seq(a: AttributeReference)) if indexed(index, a) =>
          index.nonNullCount(a.name)
        // MIN/MAX of a MONOTONE IMAGE of an indexed column (r13): the
        // image of the certified raw extreme IS the image's extreme
        // (monotone non-decreasing), and every image is null-preserving,
        // so COUNT(f(a)) = COUNT(a). Closes the triad: the same computed
        // time keys that prune top-k and WHERE now fold aggregates too.
        case Min(e) if imageOf(index, e).isDefined =>
          val (a, img) = imageOf(index, e).get
          index.minIndexedValue(a.name).flatMap(v =>
            scala.util.Try(img(v)).toOption.flatMap(internal(_, img.resultType)))
        case Max(e) if imageOf(index, e).isDefined =>
          val (a, img) = imageOf(index, e).get
          index.maxIndexedValue(a.name).flatMap(v =>
            scala.util.Try(img(v)).toOption.flatMap(internal(_, img.resultType)))
        case Count(Seq(e)) if imageOf(index, e).isDefined =>
          index.nonNullCount(imageOf(index, e).get._1.name)
        // MIN/MAX of a DETERMINED calendar part (r13): when every row
        // group is constant in the part, the data's non-null value set
        // is exactly the groups' constants, and the extreme is the
        // extreme of that set — `min(dayname(ts))` etc. from the
        // catalog alone. COUNT needs only null-preservation (field
        // extraction nulls iff its operand does); next_day declines.
        case Min(e) if constKeyOf(index, e).exists(k =>
            k._2.isInstanceOf[graft.index.DeterminedConstKey] ||
              k._2.isInstanceOf[graft.index.PiecewiseZoneConstKey]) =>
          partExtreme(index, e, isMin = true)
        case Max(e) if constKeyOf(index, e).exists(k =>
            k._2.isInstanceOf[graft.index.DeterminedConstKey] ||
              k._2.isInstanceOf[graft.index.PiecewiseZoneConstKey]) =>
          partExtreme(index, e, isMin = false)
        case Count(Seq(e)) => constKeyOf(index, e) match {
          case Some((a, d: graft.index.DeterminedConstKey))
              if d.nullPreserving => index.nonNullCount(a.name)
          case Some((a, p: graft.index.PiecewiseZoneConstKey))
              if p.nullPreserving => index.nonNullCount(a.name)
          case _ => None
        }
        // global SUM from the SumShadow ledger (r11; r13 decimal): exact
        // when every row group carries a built, non-overflowed sum; zero
        // non-null rows ⇒ SQL NULL
        case su: Sum => su.child match {
          case a: AttributeReference
              if indexed(index, a) && graft.index.SumShadow.supported(a.dataType) =>
            index.totalSum(a.name).flatMap { case (sv, nn) =>
              if (nn > 0) ledgerSum(su.dataType, a.dataType, sv) else Some(null)
            }
          case _ => None
        }
        // global AVG (r13): the exact ledger sum over the exact non-null
        // tally, rendered through Average's own evaluateExpression
        case av: Average => av.child match {
          case a: AttributeReference
              if indexed(index, a) && graft.index.SumShadow.supported(a.dataType) =>
            index.totalSum(a.name).flatMap { case (sv, nn) =>
              avgFromLedger(av, a.dataType, sv, nn)
            }
          case _ => None
        }
        case _ => None
      }

  /** MIN/MAX of a determined part from per-row-group constancy (r13):
    * every row group with a non-null slice must certify constant; the
    * data's non-null value set is then exactly those constants and the
    * extreme is over them (MIN/MAX ignore nulls, and a part over an
    * all-null slice is all-null). All-null/empty data folds to SQL NULL
    * like the scan. A straddler, unknown null count, or incomparable
    * result type fails closed. */
  private def partExtreme(
      index: StatsIndex, e: Expression, isMin: Boolean): Option[Any] = {
    val (attr, ck) = constKeyOf(index, e).getOrElse(return None)
    val stats = index.rowGroupStats(attr.name).getOrElse(return None)
    var best: Any = null
    stats.foreach { st =>
      val nc = st.nullCount.getOrElse(return None)
      if (nc != st.rowCount) {
        val mn = st.min.getOrElse(return None)
        val mx = st.max.getOrElse(return None)
        val v = scala.util.Try(ck.constantOf(mn, mx))
          .getOrElse(return None).getOrElse(return None)
        if (best == null) best = v
        else cmpInternal(ck.resultType, v, best) match {
          case Some(c) => if ((isMin && c < 0) || (!isMin && c > 0)) best = v
          case None => return None
        }
      }
    }
    Some(best)
  }

  /** Total order of two INTERNAL values of `dt` — exactly the orderings
    * Spark's Min/Max use for these types (ints/longs numeric, strings
    * UTF8String binary). Unsupported types fail the fold closed. */
  private def cmpInternal(dt: DataType, a: Any, b: Any): Option[Int] = dt match {
    case IntegerType | DateType => Some(java.lang.Integer.compare(
      a.asInstanceOf[Number].intValue, b.asInstanceOf[Number].intValue))
    case LongType | TimestampType | TimestampNTZType =>
      Some(java.lang.Long.compare(
        a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue))
    case StringType => (a, b) match {
      case (x: UTF8String, y: UTF8String) => Some(x.compareTo(y))
      case _ => None
    }
    case _ => None
  }

  /** `COUNT(DISTINCT e)` answered from per-row-group CONSTANCY (r13):
    * when every row group is constant in `e` among its non-null rows —
    * for an image key, constant in the IMAGE (f(min) = f(max)) — the
    * data's distinct non-null values are exactly the row groups'
    * constants, and the count is the size of that set. Partial-null
    * slices are harmless here (DISTINCT ignores nulls, and the slice
    * still contributes its one constant); a straddling row group fails
    * closed. Strings decline (a truncated stored minimum is a bound,
    * not a value); the kill switch is shared with the posting-index
    * distinct path. */
  private def distinctCell(index: StatsIndex, ne: Expression): Option[Any] = {
    if (session.conf.get("spark.graft.distinctAggPushdown", "true") != "true")
      return None
    def constancyExact(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
    def countVia(e: Expression): Option[Any] = {
      val legOpt: Option[(AttributeReference, graft.index.RgConstKey)] =
        e match {
          case a: AttributeReference
              if indexed(index, a) && constancyExact(a.dataType) =>
            Some((a, graft.index.RawConstKey(a.dataType)))
          case other => constKeyOf(index, other)
        }
      val (attr, ck) = legOpt.getOrElse(return None)
      val stats = index.rowGroupStats(attr.name).getOrElse(return None)
      val seen = scala.collection.mutable.HashSet.empty[Any]
      stats.foreach { st =>
        val nc = st.nullCount.getOrElse(return None)
        if (nc != st.rowCount) {
          val mn = st.min.getOrElse(return None)
          val mx = st.max.getOrElse(return None)
          seen += scala.util.Try(ck.constantOf(mn, mx))
            .getOrElse(return None).getOrElse(return None)
        }
      }
      Some(Long.box(seen.size.toLong))
    }
    ne match {
      case Alias(ae: AggregateExpression, _)
          if ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(e)) => countVia(e)
          case _ => None
        }
      case _ => None
    }
  }

  /** A GLOBAL aggregate under a Filter the catalog serves per ROW GROUP
    * (r13): every conjunct is either stats-certified ALL-PASS (vacuous,
    * r11) or closes over KEYISH operands — indexed columns or monotone
    * images of them — CONSTANT within each row group, so the predicate
    * keeps or drops row groups WHOLESALE (`WHERE year(ts) = 1995` over
    * time-partitioned ingest: "last year's totals" answered O(index),
    * zero data scanned). Kept row groups' tallies then merge into the
    * global answer exactly like the unfiltered fold: COUNT from footer
    * row counts, SUM from the ledger, MIN/MAX from verbatim-exact
    * extremes — sound because membership is wholesale, so the kept
    * set's stats ARE the filtered rows' stats. Null discipline: every
    * referenced key column must be all-null or null-free per row group
    * (a partial slice would split membership); an all-null group
    * evaluates the predicate at NULL and SQL three-valued logic keeps
    * or drops it whole. Any straddling row group, eval failure (ANSI),
    * or unservable aggregate declines to the declarative plan.
    * Kill switch: `spark.graft.filteredAggPushdown`. */
  /** Per-ROW-GROUP wholesale membership — the shared engine of the
    * filtered global fold (idx44) and the rg-filtered grouped fold
    * (idx47). Every conjunct must close over KEYISH operands — indexed,
    * ordering-certified columns or monotone images of them — each
    * CONSTANT within every row group (image constancy f(min) = f(max)
    * suffices) and all-null-or-null-free per row group, so each conjunct
    * evaluates once per row group at the substituted constants and keeps
    * or drops the whole group; SQL three-valued logic applies at NULL.
    * Returns (kept set, kept row total, universe size) — the caller must
    * check the universe matches ITS row-group walk — or None when any
    * conjunct is not rg-decidable (non-keyish reference, straddler,
    * partial nulls, non-determinism, eval failure). */
  private def rowGroupKeepSet(index: StatsIndex, live: Seq[Expression])
      : Option[(scala.collection.Set[(String, Int)], Long, Int)] = {
    if (live.isEmpty) return None
    def keyish(e: Expression)
        : Option[(AttributeReference, graft.index.RgConstKey)] =
      e match {
        case a: AttributeReference if indexed(index, a) && ordered(a.dataType) =>
          Some((a, graft.index.RawConstKey(a.dataType)))
        case other => constKeyOf(index, other)
      }
    // the keyish subexpressions the live conjuncts close over (maximal
    // subtrees — transformDown stops descending once one matches)
    val keyExprs = scala.collection.mutable.ArrayBuffer
      .empty[(Expression, AttributeReference, graft.index.RgConstKey)]
    def keyIdxOf(s: Expression): Int =
      keyExprs.indexWhere(_._1.semanticEquals(s))
    live.foreach { cj =>
      if (!cj.deterministic) return None
      val closed = cj.transformDown {
        case s if keyIdxOf(s) >= 0 => Literal(null, s.dataType)
        case s if keyish(s).isDefined =>
          val (ar, ck) = keyish(s).get
          keyExprs += ((s, ar, ck)); Literal(null, s.dataType)
      }
      if (closed.references.nonEmpty) return None
    }
    if (keyExprs.isEmpty) return None
    def keyType(i: Int): DataType = keyExprs(i)._3.resultType
    val statsPer: Seq[Map[(String, Int), RowGroupStat]] =
      keyExprs.toSeq.map(k =>
        index.rowGroupStats(k._2.name).getOrElse(return None)
          .map(s => (s.fileName, s.rowGroup) -> s).toMap)
    if (statsPer.exists(_.size != statsPer.head.size)) return None
    def evalKeep(vals: IndexedSeq[Option[Any]]): Option[Boolean] = {
      var keep = true
      live.foreach { cj =>
        if (keep) {
          // as in keyEvaluator's subst: an unbridgeable DEFINED value
          // declines (fail closed) instead of evaluating at NULL
          var bridged = true
          val sub = cj.transformDown {
            case s if keyIdxOf(s) >= 0 =>
              val i = keyIdxOf(s)
              val v = vals(i) match {
                case Some(raw) => internal(raw, keyType(i)) match {
                  case Some(iv) => iv
                  case None => bridged = false; null
                }
                case None => null
              }
              Literal(v, keyType(i))
          }
          if (!bridged) return None
          scala.util.Try(sub.eval(null)).toOption match {
            case Some(v) => keep = v == true
            case None => return None
          }
        }
      }
      Some(keep)
    }
    val keptSet = scala.collection.mutable.HashSet.empty[(String, Int)]
    var keptRows = 0L
    statsPer.head.keys.toSeq.sorted.foreach { rg =>
      val rowCount = statsPer.head(rg).rowCount
      val vals: IndexedSeq[Option[Any]] = keyExprs.indices.map { i =>
        val s = statsPer(i).getOrElse(rg, return None)
        if (s.rowCount != rowCount) return None
        val nc = s.nullCount.getOrElse(return None)
        if (nc == s.rowCount) None
        else if (nc != 0L) return None // partial nulls split membership
        else {
          val mn = s.min.getOrElse(return None)
          val mx = s.max.getOrElse(return None)
          // straddler or throwing certificate: fail closed
          Some(scala.util.Try(keyExprs(i)._3.constantOf(mn, mx))
            .getOrElse(return None).getOrElse(return None))
        }
      }
      evalKeep(vals) match {
        case None => return None
        case Some(true) => keptSet += rg; keptRows += rowCount
        case Some(false) => ()
      }
    }
    Some((keptSet, keptRows, statsPer.head.size))
  }

  private def globalFilteredFold(
      agg: Aggregate, idx: IndexedParquetFileIndex,
      cond: Expression): Option[LogicalPlan] = {
    if (session.conf.get("spark.graft.filteredAggPushdown", "true") != "true")
      return None
    import org.apache.spark.sql.catalyst.expressions.And
    val index = idx.statsIndex
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val live = conjuncts(cond).filterNot(cj => allPassFilter(cj, idx))
    if (live.isEmpty) return None // fully vacuous is the unfiltered fold's job
    val (keptSet, keptRows, _) =
      rowGroupKeepSet(index, live).getOrElse(return None)
    // tallies over the kept set — each needs full, aligned coverage
    def exactVal(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
    def keptStats(a: AttributeReference): Option[Seq[RowGroupStat]] =
      if (!indexed(index, a)) None
      else index.rowGroupStats(a.name)
        .map(_.filter(s => keptSet.contains((s.fileName, s.rowGroup))))
        .filter(_.size == keptSet.size)
    def extreme(a: AttributeReference, wantMin: Boolean): Option[Any] = {
      if (!exactVal(a.dataType)) return None
      val ord = graft.prune.TopKPruning.ordering(a.dataType)
        .getOrElse(return None)
      val ss = keptStats(a).getOrElse(return None)
      var cur: Option[Any] = None
      ss.foreach { s =>
        val nc = s.nullCount.getOrElse(return None)
        if (nc != s.rowCount) { // all-null groups contribute no extreme
          val v = (if (wantMin) s.min else s.max).getOrElse(return None)
          cur = Some(cur match {
            case Some(p) =>
              if (wantMin) { if (ord.lt(v, p)) v else p }
              else if (ord.lt(p, v)) v else p
            case None => v
          })
        }
      }
      Some(cur.orNull) // zero non-null rows kept ⇒ SQL NULL, still served
    }
    def render(v: Any, img: Option[graft.index.KeyImage],
        dt: DataType): Option[Any] =
      if (v == null) Some(null)
      else {
        val mapped = img match {
          case Some(i) => scala.util.Try(i(v)).toOption.getOrElse(return None)
          case None => v
        }
        internal(mapped, dt)
      }
    def keptSum(a: AttributeReference): Option[(Long, Long)] = {
      if (!indexed(index, a) || !graft.index.SumShadow.supported(a.dataType))
        return None
      val ss = keptStats(a).getOrElse(return None)
      var sv = 0L; var nn = 0L
      try ss.foreach { s =>
        val nc = s.nullCount.getOrElse(return None)
        sv = Math.addExact(sv, s.sumVal.getOrElse(return None))
        nn += s.rowCount - nc
      } catch { case _: ArithmeticException => return None }
      Some((sv, nn))
    }
    def sumCell(su: Sum, a: AttributeReference): Option[Any] =
      keptSum(a).flatMap { case (sv, nn) =>
        if (nn > 0) ledgerSum(su.dataType, a.dataType, sv) else Some(null)
      }
    def countCol(a: AttributeReference): Option[Any] = {
      val ss = keptStats(a).getOrElse(return None)
      var n = 0L
      ss.foreach(s => n += s.rowCount - s.nullCount.getOrElse(return None))
      Some(n)
    }
    def cellAgg(ae: AggregateExpression): Option[Any] =
      if (ae.isDistinct || ae.filter.nonEmpty) None
      else ae.aggregateFunction match {
        case Count(Seq(l: Literal)) if l.value != null => Some(keptRows)
        case Count(Seq(a: AttributeReference)) if indexed(index, a) =>
          countCol(a)
        case Min(a: AttributeReference) =>
          extreme(a, wantMin = true).flatMap(render(_, None, a.dataType))
        case Max(a: AttributeReference) =>
          extreme(a, wantMin = false).flatMap(render(_, None, a.dataType))
        case su: Sum => su.child match {
          case a: AttributeReference => sumCell(su, a)
          case _ => None
        }
        // AVG over the kept set (r13): ledger sum / non-null tally
        // rendered through Average's own evaluateExpression
        case av: Average => av.child match {
          case a: AttributeReference =>
            keptSum(a).flatMap { case (sv, nn) =>
              avgFromLedger(av, a.dataType, sv, nn) }
          case _ => None
        }
        // MIN/MAX of a monotone image: the image of the kept set's raw
        // extreme (extremes commute with monotone maps)
        case Min(e) => imageOf(index, e).flatMap { case (ar, img) =>
          extreme(ar, wantMin = true)
            .flatMap(render(_, Some(img), img.resultType))
        }
        case Max(e) => imageOf(index, e).flatMap { case (ar, img) =>
          extreme(ar, wantMin = false)
            .flatMap(render(_, Some(img), img.resultType))
        }
        case _ => None
      }
    def cellOf(ne: NamedExpression): Option[Any] = ne match {
      case Alias(e, _) => castsOver(e).flatMap { case (ae, cs) =>
        cellAgg(ae).flatMap(replayCasts(cs, _)) }
      case _ => None
    }
    val cells = agg.aggregateExpressions.map(cellOf)
    if (cells.exists(_.isEmpty)) return None
    Some(LocalRelation(agg.output,
      Seq(InternalRow.fromSeq(cells.map(_.get)))))
  }

  /** A BIGINT ledger sum → the Sum aggregate's internal result value.
    * For an integral column the ledger IS the sum; for a decimal column
    * it is the UNSCALED sum at the column's scale (SumShadow), re-scaled
    * into the aggregate's wider result decimal. A value that cannot fit
    * the declared result precision returns None — the rewrite declines
    * and the scan applies Spark's own overflow semantics. */
  private def ledgerSum(
      resType: DataType, colType: DataType, ledger: Long): Option[Any] =
    (resType, colType) match {
      case (LongType, _) => Some(Long.box(ledger))
      case (rd: DecimalType, cd: DecimalType) =>
        scala.util.Try(org.apache.spark.sql.types.Decimal(
          BigDecimal(java.math.BigDecimal.valueOf(ledger, cd.scale)),
          rd.precision, rd.scale)).toOption
      case _ => None
    }

  /** A monotone image over an indexed, ordering-certified column — the
    * shared recognizer with the aggregate face's own gates. */
  private def imageOf(index: StatsIndex, e: Expression)
      : Option[(AttributeReference, graft.index.KeyImage)] =
    graft.index.KeyImage.fromDataExpr(e,
      ar => indexed(index, ar) && ordered(ar.dataType))

  /** A row-group CONSTANCY key over an indexed column: a monotone image
    * or a determined calendar part — the shared recognizer for every
    * constancy-certified serving path (grouping keys, wholesale filter
    * conjuncts, DISTINCT-from-constancy). Raw attributes stay each call
    * site's own case (type gates differ). */
  private def constKeyOf(index: StatsIndex, e: Expression)
      : Option[(AttributeReference, graft.index.RgConstKey)] =
    graft.index.KeyImage.constKeyOf(e,
      ar => indexed(index, ar) && ordered(ar.dataType))

  private def indexed(index: StatsIndex, a: AttributeReference): Boolean =
    index.indexedSchema.fields.exists(f => f.name == a.name && f.dataType == a.dataType)

  /** Types whose footer min/max comparator provably matches Spark's total
    * order. Float/double are excluded: historical parquet writers have
    * NaN / signed-zero comparator hazards (stats may claim 0.0 where the
    * data holds -0.0, or omit NaN), so an FP extreme from footers is not
    * certified exact even when present. COUNT is type-independent. */
  private def ordered(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
        DateType | TimestampType | TimestampNTZType => true
    // r13: DECIMAL footer stats use signed (value) comparators — no FP
    // hazard — and the catalog stores them losslessly at DECIMAL(31,s)
    case _: DecimalType => true
    case _ => false
  }

  /** Catalog JDBC value → Catalyst internal value. The catalog already
    * stores timestamps as Long micros and dates as Int days (Catalyst
    * internals); strings arrive as java.lang.String and numerics as their
    * boxed JDBC classes (SMALLINT widens byte/short to Integer). Types
    * without a certified bridge return None ⇒ no rewrite. */
  private def internal(v: Any, dt: DataType): Option[Any] =
    graft.index.StatsBridge.internal(v, dt)
}
