package graft.index

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.nio.ByteBuffer
import java.sql.PreparedStatement

/** Per-row-group QUANTILE ledger (r15) — the order-statistics member of
  * the optional shadow family ([[HllShadow]] answers "how many DISTINCT
  * values?"; this one answers "what value sits at rank q?"). One
  * equi-depth summary per (row group, column): the group's non-null
  * values sorted once at build time, K = 64 evenly-spaced order
  * statistics kept (≤ 520 bytes), attached as a `{col}_qsk` binary
  * catalog column by [[LedgerBuild]].
  *
  * Why per ROW GROUP: equi-depth summaries MERGE by weighted union (each
  * point of group i carries weight count_i / k_i), so the quantile of ANY
  * row-group subset — a pruned key slice, one ingest day, the whole
  * table — is one planner-side merge over the selected groups'
  * summaries, O(selection × 520 B) transfer and ZERO data jobs. The
  * classic merged-summary bound applies: each group's points pin local
  * ranks to ± count_i/(2k), so the merged rank error is at most
  * Σ count_i/(2k) = N/(2K) ≈ 0.78 % of the selection — tighter than
  * approx_percentile's default and, unlike it, paid once at ingest
  * instead of per query.
  *
  * Build cost honesty: the per-task sort is O(group rows log group rows)
  * at ingest — the standard sketch-build cost, bounded by the row-group
  * size (a scan task already holds the group). NaN values are EXCLUDED
  * like nulls (engines disagree on NaN rank; a ledger that silently
  * encoded one choice would be a portability trap) — the stored count is
  * the non-null non-NaN population the summary describes.
  *
  * NOT an answer substitute: like [[HllShadow]], the estimate never
  * replaces an exact aggregate in a plan rewrite (fold == scan equality
  * stays the certificate family's invariant). It is an explicit index-API
  * capability — [[StatsIndex.approxQuantiles]].
  */
object QuantileShadow extends LedgerFamily {

  /** Summary points per row group: rank error ≤ N/(2K) ≈ 0.78 %. */
  val K = 64

  /** Numeric family served in double space. Integral values above 2^53
    * lose ULPs in the conversion — acceptable for an approximate rank
    * answer, unacceptable for anything exact (which this never is).
    * Date/timestamp stay out until a caller needs them (their catalog
    * encodings would merge fine but the double answer would need a
    * decode seam). */
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType => true
    case _ => false
  }

  /** Serialize one group's summary: [int n][long count][n doubles]. */
  def serialize(points: Array[Double], count: Long): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 8 + points.length * 8)
    buf.putInt(points.length)
    buf.putLong(count)
    points.foreach(buf.putDouble)
    buf.array()
  }

  def deserialize(bytes: Array[Byte]): (Array[Double], Long) = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val count = buf.getLong
    val pts = Array.fill(n)(buf.getDouble)
    (pts, count)
  }

  /** Summary of one sorted value array: min(K, n) order statistics at
    * local ranks (j+0.5)·n/k — the equi-depth grid. Empty input ⇒ zero
    * points, count 0 (the merge identity). */
  def summarize(sorted: Array[Double]): (Array[Double], Long) = {
    val n = sorted.length
    if (n == 0) return (Array.empty, 0L)
    val k = math.min(K, n)
    val pts = Array.tabulate(k) { j =>
      val r = ((j + 0.5) * n / k).toInt
      sorted(math.min(r, n - 1))
    }
    (pts, n.toLong)
  }

  /** Merged quantile over per-group summaries: weighted walk to rank
    * q·N. None when the merged population is empty. */
  def quantile(summaries: Seq[(Array[Double], Long)], q: Double): Option[Double] = {
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val total = summaries.map(_._2).sum
    if (total == 0L) return None
    // (value, weight) pairs, sorted by value
    val pairs = summaries.flatMap { case (pts, count) =>
      if (pts.isEmpty) Nil
      else { val w = count.toDouble / pts.length; pts.map(v => (v, w)) }
    }.sortBy(_._1)
    val target = q * total
    var cum = 0.0
    var i = 0
    while (i < pairs.length - 1 && cum + pairs(i)._2 < target) {
      cum += pairs(i)._2
      i += 1
    }
    Some(pairs(i)._1)
  }

  def columns(c: String): Seq[(String, String)] = Seq(s"${c}_qsk" -> LedgerBuild.Sketch)

  def derive(c: String, dt: DataType): Column = col(c).cast(DoubleType)

  /** The group's non-null non-NaN values, sorted once into the K-point
    * summary. */
  def accumulator(dt: DataType, rowCount: Long): LedgerAcc = new LedgerAcc {
    private val vals = scala.collection.mutable.ArrayBuilder.make[Double]
    def add(r: Row, slot: Int): Unit = {
      val v = r.getDouble(slot)
      if (!v.isNaN) vals += v
    }
    def bind(ps: PreparedStatement): Boolean = {
      val arr = vals.result()
      java.util.Arrays.sort(arr)
      val (pts, count) = summarize(arr)
      ps.setBytes(1, serialize(pts, count))
      true
    }
  }
}
