package graft.index

import graft.sources.RowGroupSkipScan
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.spark_partition_id
import org.apache.spark.sql.types.{DataType, StructType}

import java.sql.{DriverManager, PreparedStatement}

/** One family of per-row-group ledgers (bloom, value-frequency, sum, HLL,
  * quantile, count-min): which column types it serves, the catalog
  * columns it owns, the value it reads from the data and how one row
  * group's values fold into those columns. Each family object sits next
  * to its sketch code; [[LedgerBuild]] is the only code that scans data
  * to fill them.
  */
trait LedgerFamily extends Serializable {
  /** Column types this family can build a ledger for. */
  def supported(dt: DataType): Boolean

  /** Catalog columns of `c`'s ledger with their Derby types, in the order
    * [[LedgerAcc.bind]] sets them. */
  def columns(c: String): Seq[(String, String)]

  /** The value the build reads for column `c` of type `dt`. */
  def derive(c: String, dt: DataType): Column

  /** A fresh accumulator for one row group of `rowCount` rows. */
  def accumulator(dt: DataType, rowCount: Long): LedgerAcc
}

/** One row group's state for one (family, column) ledger. */
trait LedgerAcc {
  /** Folds the non-null derived value at `slot` of `r`. */
  def add(r: Row, slot: Int): Unit

  /** Sets this ledger's columns as parameters 1..n of the UPDATE; false
    * leaves the stored values as they are. */
  def bind(ps: PreparedStatement): Boolean
}

/** The per-row-group ledger build: every requested (family, column)
  * ledger filled in ONE distributed scan of the given plans, one task per
  * row group (the `spark_partition_id` ↔ row-group contract of
  * RowGroupSkipScan's unmerged scan), each task folding its group's rows
  * into one accumulator per ledger and writing them over its own JDBC
  * connection — the driver never sees a ledger. The streaming sink,
  * compaction and every `rebuild*` hook of [[DerbyStatsIndex]] build
  * through here, so a maintenance pass reads new files once whatever it
  * rebuilds. An empty partition attaches nothing; which groups a family
  * leaves untouched otherwise is its accumulator's `bind` (freq skips
  * all-null groups).
  */
object LedgerBuild {

  /** Derby type of a serialized sketch column. */
  val Sketch = "VARCHAR(32672) FOR BIT DATA"

  /** Every ledger family, in catalog column order. */
  val Families: Seq[LedgerFamily] =
    Seq(BloomIndex, FreqShadow, SumShadow, HllShadow, QuantileShadow, CmsShadow)

  /** One scan over `plans`' row groups building every ledger in `ledgers`.
    * Callers pass validated pairs: the column is in `dataSchema`, its type
    * is one the family supports and the catalog has the family's columns
    * for it ([[DerbyStatsIndex.rebuildLedgers]]). */
  def buildAll(
      spark: SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      dbPath: String,
      ledgers: Seq[(LedgerFamily, String)]): Unit = {
    if (plans.isEmpty || ledgers.isEmpty) return
    val families = ledgers.map(_._1).toArray
    val types = ledgers.map { case (_, c) => dataSchema(c).dataType }.toArray
    // a value two families read (bloom and freq the raw column, HLL and
    // count-min its hash) is projected once
    val derived = ledgers.zip(types).map { case ((l, c), dt) => l.derive(c, dt) }
    val projected = derived.distinctBy(_.toString)
    val slots = derived.map(d => projected.indexWhere(_.toString == d.toString)).toArray
    val pidIdx = projected.size
    val updates = ledgers.map { case (l, c) =>
      s"""UPDATE row_group_statistics SET ${l.columns(c).map(_._1 + " = ?").mkString(", ")}
         |WHERE row_group = ? AND file_id =
         |  (SELECT file_id FROM file_statistics WHERE file_name = ?)""".stripMargin
    }.toArray
    val arity = ledgers.map { case (l, c) => l.columns(c).size }.toArray

    // (file, row group, catalog row count) per scan partition: the row
    // count sizes each bloom up front, so values stream into it
    val rowsByFile = plans.map(p => p.fileName -> p.rowGroupRows).toMap
    val rgMeta = spark.sparkContext.broadcast(
      graft.plans.RowGroupScan.perRowGroupMeta(plans).toArray.map {
        case (f, rg) =>
          (f, rg, rowsByFile.getOrElse(f, Map.empty).getOrElse(rg, 65536L))
      })
    val url = s"jdbc:derby:$dbPath"

    RowGroupSkipScan.scan(spark, dir, plans, dataSchema,
        mergeRuns = false, requiredCols = ledgers.map(_._2).distinct)
      .select(projected.zipWithIndex.map { case (d, i) => d.as(s"v$i") } :+
        spark_partition_id().as("pid"): _*)
      .rdd.foreachPartition { it =>
        if (it.hasNext) {
          val first = it.next()
          val (fileName, rowGroup, rowCount) = rgMeta.value(first.getInt(pidIdx))
          val accs = Array.tabulate(families.length)(i =>
            families(i).accumulator(types(i), rowCount))
          def fold(r: Row): Unit = {
            var i = 0
            while (i < accs.length) {
              val s = slots(i)
              if (!r.isNullAt(s)) accs(i).add(r, s)
              i += 1
            }
          }
          fold(first)
          it.foreach(fold)
          DerbyStatsIndex.ensureDriver()
          val conn = DriverManager.getConnection(url)
          try accs.indices.foreach { i =>
            val up = conn.prepareStatement(updates(i))
            try if (accs(i).bind(up)) {
              up.setInt(arity(i) + 1, rowGroup)
              up.setString(arity(i) + 2, fileName)
              up.executeUpdate()
            } finally up.close()
          } finally conn.close()
        }
      }
  }
}
