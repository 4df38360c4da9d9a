package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor

import scala.jdk.CollectionConverters._

/** Spark execution counters, collected only while `on` is set. */
final class ExecListener extends SparkListener {
  @volatile var on = false
  val c = new java.util.concurrent.atomic.AtomicLongArray(7)
  // 0 jobs, 1 stages, 2 tasks, 3 task ms, 4 shuffle bytes, 5 bytes read, 6 records read
  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) c.incrementAndGet(0)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) c.incrementAndGet(1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    c.incrementAndGet(2)
    c.addAndGet(3, e.taskInfo.duration)
    Option(e.taskMetrics).foreach { m =>
      c.addAndGet(4, m.shuffleWriteMetrics.bytesWritten)
      c.addAndGet(5, m.inputMetrics.bytesRead)
      c.addAndGet(6, m.inputMetrics.recordsRead)
    }
  }
  def snapshot(): Array[Long] = Array.tabulate(7)(c.get)
}

/** Reads Spark's always-on optimizer rule metering (per rule: time, runs,
  * effective runs). The counters are JVM-wide; the benchmark runs one
  * query at a time, so deltas around an operation belong to it. */
object RuleMeter {
  val rules: Seq[String] = Seq("StatsAggPushdown", "TopKPushdown", "PartPruneScan", "JoinPruneRule")
  // protected in Scala, public in bytecode
  private val meter = RuleExecutor.getClass.getMethod("queryExecutionMeter").invoke(RuleExecutor)
  private def field(n: String) = {
    val f = meter.getClass.getDeclaredField(n); f.setAccessible(true); f.get(meter)
  }
  private val maps = Seq("timeMap", "numRunsMap", "numEffectiveRunsMap").map(field)
  private val get = maps.head.getClass.getMethod("get", classOf[Object])
  /** rule → (nanos, runs, effective runs) */
  def snapshot(): Map[String, (Long, Long, Long)] = rules.map { r =>
    val n = "graft.plans." + r
    def v(i: Int) = get.invoke(maps(i), n).asInstanceOf[java.lang.Long].longValue
    r -> ((v(0), v(1), v(2)))
  }.toMap
  /** Graft rules whose effective-run count grew between two snapshots. */
  def fired(a: Map[String, (Long, Long, Long)], b: Map[String, (Long, Long, Long)]): Set[String] =
    rules.filter(r => b(r)._3 > a(r)._3).toSet
}

object Jvm {
  def gc(): (Long, Long) = {
    val bs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum, bs.map(_.getCollectionCount).sum)
  }
  /** Live heap after full collections, in MB: the bytes of every object
    * still reachable, as the JVM's class histogram (which runs a full GC
    * first) sums them. Heap "used" would also count allocation buffers and
    * partly filled regions, which move by megabytes from run to run. */
  def liveHeapMb(): Double = {
    // let Spark's cleaner thread drop blocks whose owners the first
    // collections found unreachable
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val histo = java.lang.management.ManagementFactory.getPlatformMBeanServer.invoke(
      new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
      "gcClassHistogram", Array[AnyRef](Array.empty[String]), Array(classOf[Array[String]].getName))
    val total = histo.toString.linesIterator.map(_.trim).filter(_.startsWith("Total")).toSeq.last
    total.split("\\s+")(2).toLong / 1048576.0
  }
}

/** Per-layer sums over the traced operations of a run. */
final class LayerSums {
  private val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  def get(k: String): Double = m.getOrElse(k, 0.0)
}

/** Everything a traced run attaches to the session. */
final class Tracer(spark: SparkSession) {
  val index = new LayerCounters
  val exec = new ExecListener
  spark.sparkContext.addSparkListener(exec)
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
}
