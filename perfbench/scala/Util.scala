package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Small helpers shared by the workloads: timing statistics, a JSON
  * writer, directory sizes, the process's peak RSS and driver GC time.
  */
object Util {

  def nowMs(): Long = System.currentTimeMillis()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile that still has at least ten samples beyond
    * it, as (value, percentile, n). Below 21 samples that percentile
    * would sit under the median, so the median is reported (percentile
    * 50) and `n` says why.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n < 21) (median(xs), 50.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Bytes of every regular file under `dir` (0 when absent). */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def dirBytes(dir: String): Long = dirBytes(Paths.get(dir))

  /** Collection time of every collector of this JVM so far, in ms. In
    * local mode the driver and the executors share the JVM, so this is
    * the driver's and the tasks' GC together.
    */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** VmHWM of this JVM in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  /** JSON through the Jackson Scala module Spark ships; NaN (an empty
    * sample) is written as a bare NaN, which Python's json reads.
    */
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    .disable(com.fasterxml.jackson.core.json.JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  def writeJson(path: String, v: Any): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, mapper.writeValueAsBytes(v))
    Files.move(tmp, Paths.get(path), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The module of a graft class name: `graft.sources.TxTable$` is
    * `sources`; top-level `graft.Fixtures`/`graft.SparkEntry` are
    * `fixtures`.
    */
  def moduleOf(cls: String): String = {
    val parts = cls.stripPrefix("graft.").split('.')
    if (parts.length > 1) parts(0)
    else if (parts(0).startsWith("Fixtures") || parts(0).startsWith("SparkEntry")) "fixtures"
    else "graft"
  }

  /** Innermost `graft.*` frame of a stack, as (module, "Class.method"). */
  def innermostGraft(stack: Array[StackTraceElement]): Option[(String, String)] =
    stack.find(_.getClassName.startsWith("graft.")).map { f =>
      (moduleOf(f.getClassName), f.getClassName.stripSuffix("$") + "." + f.getMethodName)
    }

  /** Innermost `graft.*` frame of a Spark call-site string (one frame
    * per line, as in `StageInfo.details`).
    */
  def innermostGraft(callSite: String): Option[(String, String)] =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { l =>
      val qualified = l.takeWhile(_ != '(')
      val cls = qualified.substring(0, math.max(0, qualified.lastIndexOf('.')))
      (moduleOf(cls), qualified.replace("$.", "."))
    }
}
