package graftbench

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** One workload run in one JVM:
  * `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE [--data DIR]`.
  * Writes the run's report as JSON to FILE, and with `--trace 1` the
  * spans to FILE.spans.jsonl. The runner (run.py) turns these into the
  * benchmark's metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val report = new Report
    val t0 = System.nanoTime()
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    report.fields("session_s") = sessionSeconds
    val tracer = new Tracer(spark, opts("trace") == "1")
    val ctx = Ctx(spark, sessionSeconds, opts("seed").toLong, opts("seconds").toDouble,
      tracer.enabled, opts("work"), opts.getOrElse("data", ""), tracer, report)
    report.fields("workload") = workload
    report.fields("cores") = ctx.cores
    try {
      workload match {
        case "cdc_upsert" => CdcUpsert.run(ctx)
        case "analytics_mix" => AnalyticsMix.run(ctx)
        case "corpus_prep" => CorpusPrep.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      report.fields("peak_rss_mb") = Stats.peakRssMb()
      if (tracer.enabled) tracer.write(opts("out") + ".spans.jsonl")
      Files.writeString(Paths.get(opts("out")), report.json)
    } finally spark.stop()
  }
}
