package perfbench

import org.apache.spark.sql.SparkSession

/** Run configuration, from `key=value` arguments. */
final case class Cfg(args: Map[String, String]) {
  def apply(k: String): String = args.getOrElse(k,
    throw new IllegalArgumentException(s"missing argument $k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def workload: String = apply("workload")
  def inputs: String = apply("inputs")
  def work: String = apply("work")
  def seconds: Int = int("seconds")
  def traced: Boolean = apply("trace") == "1"
}

/** JVM side of the benchmark: runs one workload against the engine's
  * public entry points and writes its measurements as JSON (`out=`).
  * Launched by `perfbench/run.py`, which generates the inputs, checks
  * batch outputs against DuckDB and prints the result line.
  */
object Main {

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.minPartitionNum", cpus.toString)
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/chk-default")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val cfg = Cfg(argv.map { a =>
      val i = a.indexOf('='); a.substring(0, i) -> a.substring(i + 1)
    }.toMap)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(cpus, cfg.work)
    val sessionReady = Util.nowMs()
    val result = cfg.workload match {
      case "stream" => StreamWorkload.run(spark, cfg)
      case "batch_mix" => new MixWorkload(spark, cfg).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val env = Map(
      "nproc" -> cpus,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "session_ready_ms" -> sessionReady)
    Util.writeJson(cfg("out"), result ++ Map("env" -> env, "peak_rss_mb" -> Util.peakRssMb()))
    spark.stop()
  }
}
