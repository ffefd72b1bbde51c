package perfbench

import graft.{Fixtures, SparkEntry}
import org.apache.spark.sql.SparkSession

/** `batch_mix`: a fixed list of registered queries run through
  * `SparkEntry.queries` with the noop sink, pass after pass, after an
  * untimed warm-up pass. Per-query medians are the numbers; the outputs
  * are written once, outside the timed region, for the DuckDB check.
  */
final class MixWorkload(spark: SparkSession, cfg: Cfg) {
  private val dir = cfg.inputs
  private val names = cfg("queries").split(',').toSeq
  /** Timed passes: one per four seconds of the run, at least three. A
    * fixed count, so every run times the same work whatever the speed of
    * its passes.
    */
  private val passes = math.max(3, cfg.seconds / 4)

  private def noop(name: String): Unit =
    SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

  def run(): Map[String, Any] = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var failed = 0
    var attempted = 0
    val setupT0 = Util.nowMs()
    // the untimed warm-up pass writes each query's output once, for the
    // oracle check that run.py makes after the run
    val outDir = s"${cfg.work}/out"
    val warmT0 = System.nanoTime()
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(s"$outDir/$n")
      catch { case e: Exception => failures += s"warm-up $n: ${e.getMessage.take(200)}" }
    }
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    val winStart = Util.nowMs()

    val obs = new SparkObserver
    val times = names.map(_ -> scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]).toMap
    val spans = Vector.newBuilder[Span]
    val gcMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (pass <- 0 until passes) {
      // traced runs trace every other pass, so the run also measures
      // what tracing costs
      val traced = cfg.traced && pass % 2 == 0
      if (traced) spark.sparkContext.addSparkListener(obs)
      names.foreach { n =>
        attempted += 1
        Tracing.tag(spark, s"q:$n:$pass")
        val t0 = Util.nowMs()
        val n0 = System.nanoTime()
        val gc0 = Util.gcMs()
        try {
          noop(n)
          times(n) += ((pass, (System.nanoTime() - n0) / 1e6))
          if (traced) {
            spans += Span(s"q:$n:$pass", n, "query", t0, Util.nowMs())
            gcMs += (Util.gcMs() - gc0).toDouble
          }
        } catch {
          case e: Exception =>
            failed += 1
            failures += s"$n: ${e.getMessage.take(200)}"
        }
      }
      if (traced) spark.sparkContext.removeSparkListener(obs)
    }
    val winEnd = Util.nowMs()
    Tracing.tag(spark, null)

    Util.writeJson(s"$outDir/oracle_sql.json",
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    val logRows = Fixtures.changeLog(spark, dir).count()

    val medMs = names.map(n => n -> Util.median(times(n).map(_._2).toSeq)).toMap
    val mixS = medMs.values.sum / 1000.0
    val applyMs = medMs.getOrElse("cdc_apply_changes", Double.NaN)
    val e2e = Map[String, Any](
      "setup_s" -> (winStart - cfg.long("launch_ms")) / 1000.0,
      "mix_s" -> mixS,
      "apply_changes_per_s" -> logRows / (applyMs / 1000.0),
      "apply_ms" -> applyMs,
      "ext_ms" -> names.filterNot(_.startsWith("cdc_")).map(medMs).sum,
      "passes" -> passes,
      "window_s" -> (winEnd - winStart) / 1000.0)

    val layers =
      if (!cfg.traced) Map.empty[String, Any]
      else {
        val jobs = obs.allJobs
        val tracedOps = spans.result()
        val moduleOf = Map("cdc_capture_diff" -> "capture", "cdc_dedup_latest" -> "apply",
          "cdc_apply_changes" -> "apply", "cdc_compact_log" -> "log",
          "cdc_health_report" -> "monitor")
        // a query's jobs run the plan its registered query function
        // returned, and the benchmark submits them, so most call sites
        // hold no graft frame: those jobs belong to the query's module
        val perQuery = tracedOps.map { s =>
          val js = jobs.filter(_.op.contains(s.trace))
          val attributed = js.map { j =>
            j -> (Tracing.jobModule(j, Vector.empty) match {
              case ("unattributed", _, fold) => (moduleOf.getOrElse(s.name, "ext"), s"query ${s.name}", fold)
              case m => m
            })
          }
          (s, js, attributed, Tracing.stageTotals(obs, js))
        }
        def perOp(k: String) = Util.median(perQuery.map(_._4(k)))
        val (on, off) = names.flatMap(n => times(n)).partition(_._1 % 2 == 0)
        val overhead = on.map(_._2).sum / on.size / (off.map(_._2).sum / math.max(1, off.size)) - 1.0
        // self-check: query wall time covered by the query's jobs, as the
        // listener saw and tagged them (the rest is driver-side planning)
        val coverage = perQuery.map { case (s, js, _, _) =>
          Tracing.covered(s.start, s.end, js.map(j => (j.start, j.end))).toDouble / math.max(1L, s.ms)
        }
        Map(
          "spans" -> (tracedOps ++ perQuery.flatMap { case (s, _, attributed, _) =>
            attributed.map { case (j, (m, f, _)) =>
              Span(s.trace, s"job-${j.id}", m, j.start, math.max(j.start, j.end), Some(s.trace),
                Map("frame" -> f))
            }
          }),
          "metrics" -> (names.map(n => s"${moduleOf.getOrElse(n, "ext")}.${n}_s" -> medMs(n) / 1000.0) ++ Seq(
            "apply.dedup_ms" -> medMs.getOrElse("cdc_dedup_latest", Double.NaN),
            "monitor.health_ms" -> medMs.getOrElse("cdc_health_report", Double.NaN),
            "fixtures.warmup_s" -> warmupS,
            "spark.jobs_per_op" -> perOp("jobs"),
            "spark.stages_per_op" -> perOp("stages"),
            "spark.tasks_per_op" -> perOp("tasks"),
            "spark.task_ms" -> perOp("task_ms"),
            "spark.task_gc_ms" -> Util.mean(perQuery.map(_._4("task_gc_ms"))),
            "spark.max_task_ms" -> perOp("max_task_ms"),
            "spark.shuffle_read_bytes" -> perOp("shuffle_read_bytes"),
            "spark.shuffle_write_bytes" -> perOp("shuffle_write_bytes"),
            "spark.spill_bytes" -> Util.mean(perQuery.map(_._4("spill_bytes"))),
            "spark.driver_gc_ms" -> Util.mean(gcMs.toSeq),
            "bench.tracing_overhead" -> overhead,
            "bench.span_coverage" -> Util.median(coverage),
            "bench.span_coverage_min" -> (if (coverage.isEmpty) 0.0 else coverage.min))).toMap,
          "module_ms_per_query" -> perQuery.flatMap(_._3).groupBy(_._2._1)
            .map { case (m, xs) => m -> xs.map(x => x._1.end - x._1.start).sum.toDouble / math.max(1, perQuery.size) })
      }

    Map(
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toList.take(20),
      "correct" -> (failed == 0 && failures.isEmpty),
      "e2e" -> e2e,
      "layers" -> layers,
      "detail" -> Map(
        "queries" -> names,
        "query_median_ms" -> medMs,
        "query_runs" -> names.map(n => n -> times(n).size).toMap,
        "change_log_rows" -> logRows,
        "warmup_s" -> warmupS,
        "setup_breakdown_s" -> Map("before_workload" -> (setupT0 - cfg.long("launch_ms")) / 1000.0)))
  }
}
