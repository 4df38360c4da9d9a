package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded table generator. Every column is a pure function of the row id
  * and the seed, so the benchmark can derive the true answer of a lookup
  * without reading the table, and the same seed always writes the same
  * bytes. Columns:
  *  - `k`  BIGINT, 2·id: clustered (files and row groups hold id ranges);
  *  - `u`  BIGINT, a seeded permutation of the id space: unclustered, carries
  *         the per-row-group bloom filter;
  *  - `r`  BIGINT, a second permutation: unclustered, carries the row-level
  *         posting index;
  *  - `v`  INT in [0, 1000): payload;
  *  - `g`  INT, row group number mod 16: constant inside a row group, so
  *         GROUP BY g is catalog-answerable;
  *  - `d`  DATE, one day per `rowsPerDay` ids: clustered calendar column.
  * `universe` is the number of ids the run will ever write (base table
  * plus every append); the permutations are bijections on it. */
final case class Gen(seed: Long, universe: Long, rowsPerRg: Int, rowsPerDay: Int) {
  private val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
  private def coprime(): Long = {
    var a = 0L
    while (a < 2 || BigInt(a).gcd(BigInt(universe)) != 1)
      a = (universe / 3) + (rnd.nextLong() & Long.MaxValue) % (universe / 3)
    a
  }
  val (aU, bU) = (coprime(), (rnd.nextLong() & Long.MaxValue) % universe)
  val (aR, bR) = (coprime(), (rnd.nextLong() & Long.MaxValue) % universe)
  private val invU = BigInt(aU).modInverse(BigInt(universe)).toLong
  private val invR = BigInt(aR).modInverse(BigInt(universe)).toLong
  private val vSalt = (seed & 0xffff) * 31 + 7

  private def mulMod(a: Long, b: Long): Long =
    (BigInt(a) * BigInt(b) % BigInt(universe)).toLong

  def k(id: Long): Long = 2 * id
  def u(id: Long): Long = (mulMod(id, aU) + bU) % universe
  def r(id: Long): Long = (mulMod(id, aR) + bR) % universe
  def v(id: Long): Int = ((id * 7919 + vSalt) % 1000).toInt
  def g(id: Long): Int = ((id / rowsPerRg) % 16).toInt
  def day(id: Long): Int = (id / rowsPerDay).toInt // days since 2020-01-01
  def idOfU(x: Long): Long = mulMod(((x - bU) % universe + universe) % universe, invU)
  def idOfR(x: Long): Long = mulMod(((x - bR) % universe + universe) % universe, invR)

  private val epoch = java.time.LocalDate.of(2020, 1, 1)
  def date(id: Long): java.sql.Date = java.sql.Date.valueOf(epoch.plusDays(day(id)))

  /** The full row for an id, in schema order — the expected answer of any
    * lookup that hits it. */
  def row(id: Long): Row = Row(k(id), u(id), r(id), v(id), g(id), date(id))

  val columns: Seq[String] = Seq("k", "u", "r", "v", "g", "d")

  /** Rows [lo, hi) as a DataFrame with `parts` contiguous partitions (one
    * output file each). Spark computes the same functions as above. */
  def frame(spark: SparkSession, lo: Long, hi: Long, parts: Int): DataFrame = {
    val id = col("id")
    spark.range(lo, hi, 1, parts).select(
      (id * 2).as("k"),
      pmod(id * aU + bU, lit(universe)).as("u"),
      pmod(id * aR + bR, lit(universe)).as("r"),
      pmod(id * 7919 + vSalt, lit(1000L)).cast("int").as("v"),
      pmod(floor(id / rowsPerRg), lit(16L)).cast("int").as("g"),
      date_add(lit("2020-01-01").cast("date"), floor(id / rowsPerDay).cast("int")).as("d"))
  }

  /** Writes rows [lo, hi) as `parts` Parquet files of exactly `rowsPerRg`
    * rows per row group, named `<prefix>-00000.parquet` onwards in id order
    * (Spark's own names carry a random job id, which would change listing
    * order, and with it compaction's output, from run to run). */
  def write(spark: SparkSession, lo: Long, hi: Long, parts: Int, dir: String, prefix: String): Unit = {
    frame(spark, lo, hi, parts).write
      .option("parquet.block.row.count.limit", rowsPerRg.toString)
      .option("compression", "snappy")
      .mode("overwrite").parquet(dir)
    val d = java.nio.file.Paths.get(dir)
    val all = java.nio.file.Files.list(d).toArray.map(_.asInstanceOf[java.nio.file.Path])
    all.filterNot(_.getFileName.toString.endsWith(".parquet")).foreach(java.nio.file.Files.delete)
    all.filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
      .zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.move(f, d.resolve(f"$prefix-$i%05d.parquet"))
      }
  }
}
