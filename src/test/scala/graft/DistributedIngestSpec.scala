package graft

import graft.index.{DerbyStatsIndex, FooterStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** Executor-side stats ingest: footer stats flow from tasks straight into
  * the catalog over per-partition JDBC connections — never materialized on
  * the driver — and the result is identical to the serial addFile path.
  */
class DistributedIngestSpec extends SparkSpec {

  private lazy val env = {
    val base = tempDir("graft-ingest")
    val dir = s"$base/data"
    spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 97).as("v"))
      .repartition(4)
      .write.option("parquet.block.row.count.limit", "500").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted.toSeq
    val schema = spark.read.parquet(dir).schema
    (base, files, StructType(schema.filter(_.name == "k")))
  }

  test("ingest runs inside tasks and matches the serial addFile result") {
    val (base, files, idxSchema) = env
    val inTask = spark.sparkContext.collectionAccumulator[Boolean]("inTask")
    val serConf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val rdd = spark.sparkContext.parallelize(files, 4).map { f =>
      inTask.add(TaskContext.get() != null)
      FooterStats.read(new Path(f), serConf.value, Seq("k"))
    }

    val dist = new DerbyStatsIndex(s"$base/db-dist", idxSchema)
    dist.initialize(idxSchema)
    dist.ingestAll(rdd)
    assert(inTask.value.asScala.size == files.size)
    assert(inTask.value.asScala.forall(identity),
      "footer stats must be read and ingested inside tasks")

    // same content as the serial driver-side path
    val serial = new DerbyStatsIndex(s"$base/db-serial", idxSchema)
    serial.initialize(idxSchema)
    files.foreach(f => serial.addFile(
      FooterStats.read(new Path(f), serConf.value, Seq("k"))))
    assert(dist.allFiles() == serial.allFiles())
    assert(dist.allFiles().map(_.rowGroupCount).sum >= files.size)

    // idempotent re-ingest (the transactional per-file upsert survives)
    dist.ingestAll(rdd)
    assert(dist.allFiles() == serial.allFiles())
    dist.close(); serial.close()
  }

  test("concurrent ingest from many partitions does not deadlock or drop files") {
    val (base, _, idxSchema) = env
    import spark.implicits._
    // 48 synthetic FileStats ingested from 12 concurrent partitions —
    // exercises Derby's lock handling under parallel per-file transactions
    val stats = (0 until 48).map { i =>
      graft.index.FileStats(f"syn-$i%03d.parquet", 1000L + i, 100L,
        Vector(graft.index.RowGroupStats(0, 100L, 4L, 900L,
          Map("k" -> graft.index.ColumnStats(Some(0L), Some(i.toLong), Some(i + 100L))))))
    }
    val idx = new graft.index.DerbyStatsIndex(s"$base/db-conc", idxSchema)
    idx.initialize(idxSchema)
    idx.ingestAll(spark.sparkContext.parallelize(stats, 12))
    val files = idx.allFiles()
    assert(files.size == 48)
    assert(files.map(_.fileName).toSet == stats.map(_.fileName).toSet)
    // concurrent RE-ingest (every partition upserting existing files)
    idx.ingestAll(spark.sparkContext.parallelize(stats, 12))
    assert(idx.allFiles().size == 48)
    idx.close()
  }
}
