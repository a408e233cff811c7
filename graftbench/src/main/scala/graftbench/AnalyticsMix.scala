package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ops.relational._

/** `analytics_mix`: one key of each read-only relational module, run
  * as many short queries over generated TPC-H-shaped tables.
  *
  * Set-up runs one warm-up pass, which also records each key's result:
  * written as parquet for the DuckDB oracle compare the runner does, and
  * hashed so that every timed execution is checked against it. The timed
  * loop repeats the mix in passes, in an order the seed shuffles anew
  * for each pass. */
object AnalyticsMix {
  type Query = (SparkSession, String) => DataFrame

  val modules: Seq[(String, Map[String, Query], Map[String, String])] = Seq(
    ("Scans", Scans.queries, Scans.oracle),
    ("Basics", Basics.queries, Basics.oracle),
    ("SortLimit", SortLimit.queries, SortLimit.oracle),
    ("SetOps", SetOps.queries, SetOps.oracle),
    ("Joins", Joins.queries, Joins.oracle),
    ("Subqueries", Subqueries.queries, Subqueries.oracle),
    ("Aggregations", Aggregations.queries, Aggregations.oracle),
    ("Windows", Windows.queries, Windows.oracle),
    ("Composed", Composed.queries, Composed.oracle),
    ("Composed2", Composed2.queries, Composed2.oracle))

  /** The key run for each module: the whole 81-key mix takes ~76 s cold
    * and ~39 s warm per pass on 4 cores, more than one benchmark run can
    * spend. Each module is represented by the key whose warm latency in
    * one pass of the whole mix (scale 0.01) lay nearest the module's
    * median; README.md lists those timings. */
  val ModuleKeys: Map[String, String] = Map(
    "Scans" -> "q_scan_jsonl", "Basics" -> "q_null_handling",
    "SortLimit" -> "q_topk_global", "SetOps" -> "q_distinct",
    "Joins" -> "q_join_broadcast", "Subqueries" -> "q_subquery_scalar",
    "Aggregations" -> "q_agg_grouping_sets", "Windows" -> "q_window_running",
    "Composed" -> "q_composed_cust_dist", "Composed2" -> "q_composed_profit")

  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val keys: Seq[(String, String, Query)] = modules.map {
      case (module, qs, _) => (module, ModuleKeys(module), qs(ModuleKeys(module)))
    }.sortBy(_._2)
    val oracle = modules.flatMap(_._3).toMap
    val out = s"$work/analytics/results"
    Files.createDirectories(Paths.get(out))

    // warm-up pass (set-up): record and keep each key's result
    val t0 = System.nanoTime()
    val expected = keys.flatMap { case (_, key, f) =>
      attempt(s"$key warm-up") {
        val df = f(spark, data)
        val rows = df.collect()
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.parquet(s"$out/$key")
        key -> digest(rows)
      }
    }.toMap
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.value(
      oracle.filter { case (k, _) => expected.contains(k) }))
    report.fields("warmup_s") = since(t0)
    report.fields("setup_s") = sessionSeconds + since(t0)
    report.fields("results_dir") = out
    report.fields("keys") = keys.size
    report.fields("oracle_keys") = keys.count(k => oracle.contains(k._2))

    val rnd = new scala.util.Random(seed)
    // two passes at least: every run has a pass time from a complete
    // pass, and a traced run a span of every module
    val minPasses = 2
    val start = System.nanoTime()
    var pass = 0
    var queries = 0
    var succeeded = 0
    var stop = false
    while (!stop) {
      val order = rnd.shuffle(keys)
      val passStart = System.nanoTime()
      var i = 0
      while (i < order.size && !stop) {
        val (module, key, f) = order(i)
        // pass p traces the keys at even (p even) or odd positions of
        // `keys`: two passes trace every module once
        val traced = trace && (keys.indexOf(order(i)) + pass) % 2 == 0
        attempt(key) {
          timeIt(tracer.op(s"relational.$module", traced) {
            f(spark, data).collect()
          })
        }.foreach { case (rows, secs) =>
          record("query", secs, traced)
          report.sample(s"key.$key", secs)
          val problem = expected.get(key) match {
            case None => Some("no reference result (warm-up failed)")
            case Some(h) if h != digest(rows) => Some("result differs from the warm-up pass")
            case _ => None
          }
          report.check(key, problem)
          if (problem.isEmpty) succeeded += 1
        }
        queries += 1
        i += 1
        stop = pass >= minPasses && since(start) >= seconds
      }
      if (i == order.size) report.sample("pass", since(passStart))
      pass += 1
      stop = stop || (pass >= minPasses && since(start) >= seconds)
    }
    val wall = since(start)
    report.fields("timed_wall_s") = wall
    report.fields("queries") = queries
    report.fields("queries_succeeded") = succeeded
    report.fields("queries_per_s") = succeeded / wall
  }
}
