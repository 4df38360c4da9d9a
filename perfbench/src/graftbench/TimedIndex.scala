package graftbench

import graft.index.{FileScanPlan, FileStats, RowGroupStat, SortKeySpec, StatsIndex}
import graft.prune.TopKPruning.{Disjunct, OtherColBounds}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Calls, nanoseconds and rows returned, accumulated per catalog group. */
final class LayerCounters {
  private val calls = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLongArray]()
  def add(group: String, nanos: Long, rows: Long): Unit = {
    val a = calls.computeIfAbsent(group, _ => new java.util.concurrent.atomic.AtomicLongArray(3))
    a.incrementAndGet(0); a.addAndGet(1, nanos); a.addAndGet(2, rows)
  }
  /** group → (calls, nanos, rows) */
  def snapshot(): Map[String, (Long, Long, Long)] = {
    val b = Map.newBuilder[String, (Long, Long, Long)]
    calls.forEach((g, a) => b += g -> ((a.get(0), a.get(1), a.get(2))))
    b.result()
  }
}

/** Timing wrapper around the catalog. It forwards EVERY [[StatsIndex]]
  * member, trait defaults included: a member left to its default would
  * silently change what the planner sees (no row-group stats, a driver-side
  * ingest loop, no bloom columns) and so change the plan being measured.
  * The self-test checks by reflection that every member is overridden.
  * Rows are catalog rows returned: row groups for plan lists, stat rows for
  * stats fetches, one per answered aggregate, zero for writes. */
final class TimedIndex(u: StatsIndex, c: LayerCounters) extends StatsIndex {
  private def rgs(ps: Seq[FileScanPlan]): Long = ps.iterator.map(_.scanRowGroups.size.toLong).sum
  private def time[T](group: String)(body: => T)(rows: T => Long): T = {
    val t0 = System.nanoTime()
    val out = body
    c.add(group, System.nanoTime() - t0, rows(out))
    out
  }
  private def unit(group: String)(body: => Unit): Unit = time(group)(body)(_ => 0L)
  private def opt[T](group: String)(body: => Option[T]): Option[T] =
    time(group)(body)(o => if (o.isDefined) 1L else 0L)
  private def plans(group: String)(body: => Option[Seq[FileScanPlan]]) =
    time(group)(body)(_.map(rgs).getOrElse(0L))

  override def initialize(s: StructType): Unit = unit("other")(u.initialize(s))
  override def addFile(s: FileStats): Unit = unit("ingestAll")(u.addFile(s))
  override def ingestAll(s: RDD[FileStats]): Unit = unit("ingestAll")(u.ingestAll(s))
  override def retainOnly(f: Set[String]): Unit = unit("removeFiles")(u.retainOnly(f))
  override def removeFiles(f: Set[String]): Unit = unit("removeFiles")(u.removeFiles(f))
  override def getFiles(p: Expression): Seq[FileScanPlan] = time("getFiles")(u.getFiles(p))(rgs)
  override def allFiles(): Seq[FileScanPlan] = time("allFiles")(u.allFiles())(rgs)
  override def catalogCounts(): Option[(Long, Long)] = opt("aggregates")(u.catalogCounts())
  override def fileNames(): Option[Seq[String]] =
    time("other")(u.fileNames())(_.map(_.size.toLong).getOrElse(0L))
  override def filesNamed(n: Set[String]): Seq[FileScanPlan] = time("other")(u.filesNamed(n))(rgs)
  override def rowGroupStats(col: String): Option[Seq[RowGroupStat]] =
    time("rowGroupStats")(u.rowGroupStats(col))(_.map(_.size.toLong).getOrElse(0L))
  override def rowGroupStatsFor(col: String, f: Set[String]): Option[Seq[RowGroupStat]] =
    time("rowGroupStats")(u.rowGroupStatsFor(col, f))(_.map(_.size.toLong).getOrElse(0L))
  override def topKSurvivors(col: String, k: Long, desc: Boolean, nf: Boolean,
      lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)]) =
    plans("topK")(u.topKSurvivors(col, k, desc, nf, lo, hi))
  override def topKSurvivorsComposite(col: String, k: Long, desc: Boolean, nf: Boolean,
      lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)], others: Seq[OtherColBounds]) =
    plans("topK")(u.topKSurvivorsComposite(col, k, desc, nf, lo, hi, others))
  override def topKSurvivorsDisjunctive(col: String, k: Long, desc: Boolean, nf: Boolean,
      ds: Seq[Disjunct]) =
    plans("topK")(u.topKSurvivorsDisjunctive(col, k, desc, nf, ds))
  override def topKSurvivorsLexN(keys: Seq[SortKeySpec], k: Long) =
    plans("topK")(u.topKSurvivorsLexN(keys, k))
  override def topKSurvivorsDisjunctiveLexN(keys: Seq[SortKeySpec], ds: Seq[Disjunct], k: Long) =
    plans("topK")(u.topKSurvivorsDisjunctiveLexN(keys, ds, k))
  override def bloomCols: Set[String] = u.bloomCols
  override def rebuildBlooms(s: SparkSession, dir: String, p: Seq[FileScanPlan],
      ds: StructType): Unit = unit("rebuild")(u.rebuildBlooms(s, dir, p, ds))
  override def rebuildShadows(s: SparkSession, dir: String, p: Seq[FileScanPlan],
      ds: StructType, freq: Seq[String], sum: Seq[String]): Unit =
    unit("rebuild")(u.rebuildShadows(s, dir, p, ds, freq, sum))
  override def rebuildHll(s: SparkSession, dir: String, p: Seq[FileScanPlan],
      ds: StructType, cols: Seq[String]): Unit = unit("rebuild")(u.rebuildHll(s, dir, p, ds, cols))
  override def rebuildQuantiles(s: SparkSession, dir: String, p: Seq[FileScanPlan],
      ds: StructType, cols: Seq[String]): Unit =
    unit("rebuild")(u.rebuildQuantiles(s, dir, p, ds, cols))
  override def rebuildCms(s: SparkSession, dir: String, p: Seq[FileScanPlan],
      ds: StructType, cols: Seq[String]): Unit = unit("rebuild")(u.rebuildCms(s, dir, p, ds, cols))
  override def rebuildLedgers(s: SparkSession, dir: String, p: Seq[FileScanPlan],
      ds: StructType, freqCols: Seq[String], sumCols: Seq[String], hllCols: Seq[String],
      quantileCols: Seq[String], cmsCols: Seq[String], blooms: Boolean): Unit =
    unit("rebuild")(u.rebuildLedgers(s, dir, p, ds, freqCols, sumCols, hllCols,
      quantileCols, cmsCols, blooms))
  override def approxQuantiles(col: String, qs: Seq[Double],
      p: Option[Seq[FileScanPlan]]): Option[Seq[Double]] =
    opt("aggregates")(u.approxQuantiles(col, qs, p))
  override def approxFrequency(col: String, value: Any,
      p: Option[Seq[FileScanPlan]]): Option[Long] = opt("aggregates")(u.approxFrequency(col, value, p))
  override def approxDistinct(col: String, p: Option[Seq[FileScanPlan]]): Option[Long] =
    opt("aggregates")(u.approxDistinct(col, p))
  override def minIndexedValue(col: String): Option[Any] = opt("aggregates")(u.minIndexedValue(col))
  override def maxIndexedValue(col: String): Option[Any] = opt("aggregates")(u.maxIndexedValue(col))
  override def totalRowCount(): Option[Long] = opt("aggregates")(u.totalRowCount())
  override def nonNullCount(col: String): Option[Long] = opt("aggregates")(u.nonNullCount(col))
  override def totalSum(col: String): Option[(Long, Long)] = opt("aggregates")(u.totalSum(col))
  override def indexedSchema: StructType = u.indexedSchema
  override def close(): Unit = unit("other")(u.close())
}

object TimedIndex {
  /** Members of [[StatsIndex]] (and AutoCloseable) that [[TimedIndex]] does
    * not override in its source. Java reflection cannot tell: scalac adds a
    * forwarder to every trait default, so each member looks declared. */
  def unforwarded(): Seq[String] = {
    import scala.reflect.runtime.universe._
    def methods(t: Type) = t.decls.collect {
      case m: MethodSymbol if !m.isConstructor && !m.name.toString.contains("$") => m
    }
    val overridden = methods(typeOf[TimedIndex]).flatMap(_.overrides).toSet
    (methods(typeOf[StatsIndex]) ++ methods(typeOf[AutoCloseable]))
      .filterNot(overridden).map(m => m.name.toString + m.paramLists.flatten.map(_.typeSignature)
        .mkString("(", ",", ")")).toSeq.sorted
  }
}
