package graftbench

import java.nio.file.Paths

/** The benchmark's own checks:
  *  1. the timing wrapper overrides every catalog member, so tracing cannot
  *     fall back to a trait default and change a plan;
  *  2. every workload, run briefly in traced mode, answers every op
  *     correctly, fires each targeted rule, and picks the same files, row
  *     groups and graft rules traced as untraced (the traced run fails an
  *     op on any difference). */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    var failures = 0
    val missing = TimedIndex.unforwarded()
    if (missing.nonEmpty) {
      failures += 1
      println(s"FAIL wrapper does not forward: ${missing.mkString(", ")}")
    } else println("ok   wrapper forwards every StatsIndex member")
    val spark = Main.session(a("slots").toInt, work)
    try Workload.all.foreach { w =>
      val r = new Runner(spark, w, seed = 7, seconds = 1, trace = true,
        work.resolve(w.name), setups = 1).run()
      if (r.failed == 0) println(s"ok   ${w.name}: ${r.attempted} ops traced and untraced agree")
      else {
        failures += 1
        println(s"FAIL ${w.name}: ${r.failed} of ${r.attempted} ops")
        r.errors.foreach(e => println(s"     $e"))
      }
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
