package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sf(name: String): String = s"/root/testdata/$name"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the system temp directory, deleted after the
    * spec's last test. */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }

  /** Shuts down every Derby catalog under this spec's temp directories
    * (a booted database keeps its files open), then deletes them. */
  override def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach { d =>
      if (Files.exists(d)) {
        val tree = Files.walk(d)
        val paths = try tree.toArray.map(_.asInstanceOf[Path]) finally tree.close()
        paths.filter(_.getFileName.toString == "service.properties")
          .foreach(p => graft.index.DerbyStatsIndex.shutdownDatabase(p.getParent.toString))
        paths.reverse.foreach(p => Files.deleteIfExists(p))
      }
    }

  /** Spark jobs started on this thread while `body` runs, seen through a
    * SparkListener. The listener bus delivers events in order, so once a
    * sentinel job launched afterwards is seen, every job of `body` is. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-probe-${java.util.UUID.randomUUID()}"
    val sentinel = group + "-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(sentinel), "listener never saw the sentinel job")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    .getOrCreate()
}
