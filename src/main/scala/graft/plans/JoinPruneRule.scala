package graft.plans

import graft.index.FileScanPlan
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, InSet}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Distinct, Filter, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, Project, Sample, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** AUTOMATIC catalog semi-join pruning (r15) — [[graft.prune.JoinPrune]]
  * at the one-scan seam: a plain `fact.join(dim, fact.k === dim.k)`
  * against the index-backed relation gets its fact row groups pruned by
  * the dim side's keys, with no explicit API call. This is the protocol
  * of Spark's own dynamic partition pruning — materialize the small
  * side, prune the big side's scan — applied at ROW-GROUP granularity
  * through the external catalog instead of at partition directories.
  *
  * When it fires (all must hold, else the declarative join stands):
  *  - an Inner equi-join with the indexed relation on EITHER side, or a
  *    LeftSemi with it on the LEFT (the streamed side); the fact side
  *    strips to the relation through attribute-only Projects and
  *    deterministic Filters. Outer joins never fire (an unmatched fact
  *    row must survive them), and EqualNullSafe never fires: NULL <=>
  *    NULL matches, so the all-NULL-group skip would be unsound;
  *  - at least one equi-key pair is (indexed fact column of a
  *    key-prunable type, dim-side attribute). ALL such pairs prune
  *    (r16): per-key decisions are intersected file-by-file, row-group-
  *    by-row-group — sound because a joinable fact row matches EVERY
  *    equi-key, so its group survives every per-key superset — and the
  *    intersection is by construction never larger than any single
  *    key's decision;
  *  - the dim side is plan-time-small by the optimizer's own size
  *    estimate (≤ spark.sql.autoBroadcastJoinThreshold — the same bound
  *    DPP's broadcast reuse applies) and not streaming;
  *  - the pruning decision narrows the scan, and every kept group has a
  *    byte range.
  *
  * The dim runs ONCE. One bounded collect reads its rows, all output
  * columns, at most [[graft.prune.JoinPrune.DefaultMaxKeys]] + 1 of
  * them (a dim that is already a `LocalRelation` is read in place, with
  * no Spark job). Each equi-pair's key set is projected from those rows
  * on the driver: distinct, nulls dropped (a NULL key equals nothing).
  * Then one of two paths serves, recorded in the route:
  *  - `dim:rows(N)` — the rows fit the bound: the join's dim side
  *    becomes `LocalRelation(dim.output, rows)`, so the rows that pruned
  *    the fact side are exactly the rows that join (multiplicity kept).
  *    The dim need not be deterministic: a `rand` filter, a Sample or an
  *    unsorted limit is read once and both prunes and joins. A LeftSemi
  *    with one equi-pair and no other condition needs no join at all:
  *    it becomes `Filter(InSet(factKey, keys))` over the pruned scan,
  *    and the same predicate reaches the reader for page skipping
  *    (`semi:in`, no broadcast job);
  *  - `dim:keys(N)` — more rows than the bound: one more collect reads
  *    the distinct key TUPLES (limit-bounded; over the bound, the head
  *    key alone before declining) and the original Join re-runs the dim
  *    at run time. Both runs must then see the same rows, so this path
  *    alone requires the ENTIRE dim subtree deterministic (no
  *    non-deterministic expression, Sample, or limit without a Sort
  *    below it); otherwise it declines.
  *
  * Exactness is untouched: only the fact LEAF is substituted, by
  * [[IndexedRelation.substitute]] — the one swap [[PartPruneScan]] and
  * [[TopKPushdown]] share (exprIds preserved, byte ranges checked,
  * decision recorded); this rule owns its strip, its decision and its
  * consumed columns. The Join (or the semi-join's Filter) re-applies the
  * real condition, so false positives cost IO only. A decline leaves the
  * plan untouched. The collect is a recursive optimizer entry (guarded
  * re-entrant), and the substituted leaf cannot match again, so the
  * fixed-point batch converges.
  *
  * Cost: a non-local dim costs one plan-time data job — the price DPP
  * pays too, here paid instead of the join's own dim run on the
  * `dim:rows` path. Every pure-plan decline check runs BEFORE the
  * collect; and a shape that collected but then declined is remembered
  * (r16) in a bounded DECLINE-ONLY cache keyed by (canonicalized dim,
  * relation root, catalog cardinalities), so repeated optimizations of
  * the same never-benefiting query pay the collect once. Only declines
  * are cached (a stale decline is a missed optimization, never a wrong
  * plan; catalog growth changes the key and retries). The kill switch is
  * `spark.graft.joinPrune=false`.
  */
final case class JoinPruneRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (session.conf.get("spark.graft.joinPrune", "true") != "true") return plan
    if (JoinPruneRule.reentrant.get()) return plan
    plan.transform {
      case j @ Join(_, _, Inner | LeftSemi, Some(_), _) =>
        // decline-on-failure is sound (the declarative join stands), but
        // a throw here is a bug worth seeing, not swallowing silently
        scala.util.Try(rewrite(j)).recover { case e =>
          logWarning(s"join-prune declined on error: $e"); None
        }.toOption.flatten.getOrElse(j)
    }
  }

  private def rewrite(j: Join): Option[LogicalPlan] =
    // the fact may sit on EITHER side of an Inner join (`dim.join(fact)`
    // is as common as the reverse); LeftSemi streams its left side only
    attempt(j, factLeft = true).orElse(
      if (j.joinType == Inner) attempt(j, factLeft = false) else None)

  /** The keys-only path's plan-time collect and the runtime Join must
    * see the SAME dim rows: every expression deterministic, no Sample,
    * no limit whose row choice isn't pinned by a Sort below it (through
    * Projects / the local-limit pair). Ties under a non-total sort order
    * remain — the same residual Spark's sort-limit reuse accepts. */
  private def deterministicSubtree(p: LogicalPlan): Boolean = {
    def sortBelow(c: LogicalPlan): Boolean = c match {
      case _: Sort => true
      case Project(_, ch) => sortBelow(ch)
      case LocalLimit(_, ch) => sortBelow(ch)
      case _ => false
    }
    p.find {
      case _: Sample => true
      case l: LocalLimit => !sortBelow(l.child)
      case g: GlobalLimit => !sortBelow(g.child)
      case n => n.expressions.exists(e => !e.deterministic)
    }.isEmpty
  }

  /** Fact-column types [[graft.prune.JoinPrune.prunePlans]] can key-prune
    * (others would only degrade-fetch the full catalog — exclude them
    * BEFORE any catalog IO). */
  private def prunableType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
        DateType | TimestampType => true
    case _ => false
  }

  /** `plan`'s rows, at most `n` of them: read in place from a
    * `LocalRelation`, else one bounded collect (a guarded recursive
    * optimizer entry). */
  private def collectRows(plan: LogicalPlan, n: Int): Seq[InternalRow] = plan match {
    case l: LocalRelation => l.data.take(n)
    case _ =>
      try {
        JoinPruneRule.reentrant.set(true)
        val qe = GraftSqlShim.ofRows(session, plan).limit(n).queryExecution
        SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect().toSeq)
      } finally JoinPruneRule.reentrant.set(false)
  }

  private def attempt(j: Join, factLeft: Boolean): Option[LogicalPlan] = {
    val factPlan = if (factLeft) j.left else j.right
    val dimPlan = if (factLeft) j.right else j.left
    if (dimPlan.isStreaming) return None
    // the fact side must BE the indexed relation, modulo column-pruning
    // Projects and deterministic Filters (the optimizer infers
    // `isnotnull(key)` onto the join's sides) — both stay in place
    // above the substituted leaf, so traversal is sound
    def strip(p: LogicalPlan): Option[IndexedRelation] = p match {
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        strip(c)
      case f: Filter if f.condition.deterministic => strip(f.child)
      case other => IndexedRelation.of(other)
    }
    val ir = strip(factPlan).getOrElse(return None)
    // every column any surviving fact-side node consumes must resolve
    // against the substituted scan: the side's output plus every
    // Filter/Project reference below it
    val keptCols = (factPlan.output.map(_.name) ++ factPlan.collect {
      case f: Filter => f.condition.references.map(_.name).toSeq
      case p: Project => p.projectList.flatMap(_.references.map(_.name))
    }.flatten).toSet
    val idx = ir.index

    // equi-key pairs via Catalyst's own extractor (it normalizes sides:
    // leftKeys come from j.left); keep plain attribute pairs whose fact
    // attribute is indexed and key-prunable — EqualTo only (the
    // extractor models <=> as Coalesce-wrapped keys, which never look
    // like bare attributes here). ALL qualifying pairs participate; a
    // fact column joined twice contributes once (keep the first pairing).
    val (leftKeys, rightKeys, otherCondition) = j match {
      case ExtractEquiJoinKeys(_, lk, rk, oc, _, _, _, _) => (lk, rk, oc)
      case _ => return None
    }
    // factLeft: fact attrs are leftKeys; mirrored Inner: rightKeys
    val (factSideKeys, dimSideKeys) =
      if (factLeft) (leftKeys, rightKeys) else (rightKeys, leftKeys)
    val pairs = factSideKeys.zip(dimSideKeys).collect {
      case (fa: AttributeReference, da: AttributeReference)
          if ir.rel.outputSet.contains(fa) &&
            idx.indexedSchema.fieldNames.contains(fa.name) &&
            prunableType(fa.dataType) => (fa, da)
    }.distinctBy(_._1.name)
    if (pairs.isEmpty) return None

    // PRE-COLLECT gates, all pure plan/metadata work (no data job): the
    // DPP-posture size bound and the decline cache. catalogCounts is one
    // O(1) store round trip, shared by the cache key and the
    // observability totals below.
    val threshold = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold
    if (threshold <= 0 || dimPlan.stats.sizeInBytes > threshold) return None
    val counts = idx.catalogCounts()
    val cacheKey = (dimPlan.canonicalized,
      ir.fileIndex.rootPaths.head.toString + "#" + pairs.map(_._1.name).mkString(","),
      counts)
    if (JoinPruneRule.declined.contains(cacheKey)) return None
    def decline(): Option[LogicalPlan] = {
      JoinPruneRule.remember(cacheKey); None
    }

    // the dim's rows, once, bounded: within the bound they both prune
    // and join (dim:rows); past it only distinct key tuples are kept and
    // the Join re-runs the dim (dim:keys)
    val maxKeys = graft.prune.JoinPrune.DefaultMaxKeys
    val rows = collectRows(dimPlan, maxKeys + 1)
    val reuse = rows.length <= maxKeys
    var livePairs = pairs
    // per live pair: its distinct non-null keys, in Catalyst's internal
    // form (the semi-join's InSet; converted for the catalog probe)
    def keySet(src: Seq[InternalRow], i: Int, dt: DataType): Seq[Any] =
      src.iterator.map(_.get(i, dt)).filter(_ != null).toSeq.distinct
    val (keySets, dimTag) = if (reuse) {
      val sets = pairs.map { case (_, da) =>
        keySet(rows, dimPlan.output.indexWhere(_.exprId == da.exprId), da.dataType)
      }
      (sets, s"dim:rows(${rows.length})")
    } else {
      if (!deterministicSubtree(dimPlan)) return decline()
      // ONE data job collects the distinct key TUPLES (bounded), from
      // which every column's key set projects driver-side; a null in one
      // column doesn't void the tuple's other columns
      def collectDistinct(attrs: Seq[AttributeReference]): Seq[InternalRow] =
        collectRows(Distinct(Project(attrs, dimPlan)), maxKeys + 1)
      var tuples = collectDistinct(pairs.map(_._2))
      if (tuples.length > maxKeys && pairs.size > 1) {
        // tuple cardinality over the bound: the head key alone may still
        // fit (never worse than r15's single-key behavior)
        livePairs = pairs.take(1)
        tuples = collectDistinct(livePairs.map(_._2))
      }
      if (tuples.length > maxKeys) return decline()
      val sets = livePairs.zipWithIndex.map { case ((_, da), i) =>
        keySet(tuples, i, da.dataType)
      }
      (sets, s"dim:keys(${tuples.length})")
    }

    // per-key decisions, intersected — each is a superset of the groups
    // holding its key, so the intersection is a superset of the groups
    // holding a FULLY matching row, and ⊆ every single-key decision
    val decs = livePairs.zip(keySets).map { case ((fa, da), keys) =>
      val toScala = CatalystTypeConverters.createToScalaConverter(da.dataType)
      graft.prune.JoinPrune.prunePlans(
        session, idx, ir.fs.dataSchema, fa.name, keys.map(toScala), maxKeys)
    }
    if (decs.exists(_.route.startsWith("degrade"))) return decline()
    // file-by-file, row-group-by-row-group: still sound (see class
    // doc) and never larger than any single key's decision
    val plans = decs.map(_.plans).reduce(FileScanPlan.intersect(_, _))
    val scanned = plans.map(_.scanRowGroups.size).sum
    val totalGroups = counts.map(_._2.toInt).getOrElse(-1)
    if (totalGroups < 0 || scanned >= totalGroups) return decline()

    // a LeftSemi whose one condition is one live key pair is exactly
    // `factKey IN keys`: no join, no broadcast
    val semiIn = livePairs match {
      case Seq((fa, da)) if reuse && j.joinType == LeftSemi && leftKeys.size == 1 &&
          otherCondition.isEmpty && fa.dataType == da.dataType =>
        Some(InSet(fa, keySets.head.toSet))
      case _ => None
    }
    val route = decs.zip(livePairs).map { case (d, (fa, _)) =>
      s"join-prune:${d.route}(${fa.name})"
    } ++ Seq(s"keys:${decs.map(_.keyCount).max}", dimTag) ++ semiIn.map(_ => "semi:in")
    // a pre-range catalog (a kept group without a byte range) declines
    ir.substitute(factPlan, plans, keptCols, semiIn.toSeq, counts, route) match {
      case Some(newFact) => Some(semiIn match {
        case Some(in) => Filter(in, newFact)
        case None =>
          val dim = if (reuse) LocalRelation(dimPlan.output, rows) else dimPlan
          if (factLeft) j.copy(left = newFact, right = dim)
          else j.copy(left = dim, right = newFact)
      })
      case None => decline()
    }
  }
}

object JoinPruneRule {
  /** Guards the recursive optimizer entry of the dim-side collect. */
  private val reentrant: ThreadLocal[Boolean] =
    ThreadLocal.withInitial(() => false)

  /** DECLINE-ONLY memo for shapes that paid the dim collect and then
    * didn't narrow — (canonicalized dim plan, fact root+keys, catalog
    * cardinalities). Bounded; cleared wholesale at the cap (a rare,
    * harmless re-probe). Fired rewrites are NEVER cached — data moves. */
  private val declined =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(LogicalPlan, String, Option[(Long, Long)])]()
  private def remember(k: (LogicalPlan, String, Option[(Long, Long)])): Unit = {
    if (declined.size > 512) declined.clear()
    declined.add(k); ()
  }
}
