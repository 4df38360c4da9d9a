package graftbench

/** Contamination probes: fixed work whose duration only depends on how busy
  * the machine is. They are diagnostics printed beside the result, never
  * metrics: a run whose probes read slow landed in a noisy window. */
object Probes {
  @volatile private var sink = 0L

  /** Seconds for a fixed single-threaded integer mixing loop. */
  def cpu(steps: Int = 20000000): Double = {
    val t0 = System.nanoTime()
    var x = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < steps) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink += x
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds to write and fsync `files` files of 64 KiB under `dir`. */
  def fsync(dir: java.nio.file.Path, files: Int = 8): Double = {
    java.nio.file.Files.createDirectories(dir)
    val buf = Array.fill[Byte](64 * 1024)(0x5a)
    val t0 = System.nanoTime()
    (0 until files).foreach { i =>
      val out = new java.io.FileOutputStream(dir.resolve(s"p$i").toFile)
      try { out.write(buf); out.getFD.sync() } finally out.close()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    (0 until files).foreach(i => dir.resolve(s"p$i").toFile.delete())
    dt
  }
}
