package graft.perfbench

import java.lang.management.ManagementFactory

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Least-squares slope of y on x fitted within each group around the
    * group's own means; 0 when no group has two distinct x. */
  def pooledSlope(groups: Seq[Seq[(Double, Double)]]): Double = {
    val centred = groups.flatMap { xy =>
      val mx = mean(xy.map(_._1)); val my = mean(xy.map(_._2))
      xy.map { case (x, y) => (x - mx, y - my) }
    }
    val sxx = centred.map { case (x, _) => x * x }.sum
    if (sxx == 0) 0.0 else centred.map { case (x, y) => x * y }.sum / sxx
  }
}

/** JSON output for the run record, the spans and the result line:
  * nested Maps, Seqs, strings, numbers and booleans, written with the
  * json4s serializer the program uses for its own metadata. A NaN or
  * infinite number is written as null. */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def num(d: Double): Any = if (d.isNaN || d.isInfinite) null else d
  def apply(v: Map[String, Any]): String = org.json4s.jackson.Serialization.write(v)
}

/** Per-run environment stamp and JVM probes. */
object Env {
  private val os = ManagementFactory.getOperatingSystemMXBean

  def stamp(seed: Long, cores: Int, nproc: Int): Map[String, Any] = {
    val rt = Runtime.getRuntime
    Map(
      "seed" -> seed,
      "revision" -> sys.env.getOrElse("PERFBENCH_REVISION", "unknown"),
      "cores" -> cores, "nproc" -> nproc,
      "loadavg_1m" -> math.max(os.getSystemLoadAverage, 0.0),
      "heap_max_mb" -> rt.maxMemory / 1048576.0,
      "heap_used_mb" -> (rt.totalMemory - rt.freeMemory) / 1048576.0,
      "time_ms" -> System.currentTimeMillis())
  }

  /** (all, steal) CPU ticks from /proc/stat, (0, 0) where it is absent:
    * on a shared host, stolen time slows a run without showing in its
    * load average. */
  def cpuTicks: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def gcMs: Double = {
    var s = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b =>
      s += math.max(b.getCollectionTime, 0L))
    s.toDouble
  }

  /** Heap in use after full collections (the launcher turns explicit
    * GCs back into stop-the-world collections). Two passes, so objects
    * freed by finalisation-driven cleaners in between are gone too. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A local path or `file:` URI (a lake table location) as a File. */
  def file(path: String): java.io.File =
    new java.io.File(if (path.startsWith("file:")) new java.net.URI(path).getPath else path)

  /** Total bytes of regular files under `dir` (0 when absent). */
  def dirBytes(dir: String): Long = {
    val root = file(dir)
    if (!root.exists()) 0L
    else {
      var n = 0L
      val st = new java.util.ArrayDeque[java.io.File](); st.push(root)
      while (!st.isEmpty) {
        val f = st.pop()
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(st.push))
        else n += f.length()
      }
      n
    }
  }

  def write(path: String, lines: Seq[String]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, lines.map(_ + "\n").mkString.getBytes("UTF-8"))
  }
}
