package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.execution.QueryExecution

import graft.{Materializer, SparkEntry, Tables}

/** `traffic`: the reference's own analytics, every TrafficAnalytics and
  * SqlSurface query, run by one closed-loop client in passes (a pass is
  * one dbt run over the model set). Each call is timed from the call
  * into `SparkEntry.queries(name)` to forced completion under
  * `graft.Bench`'s `toRdd.count` rule, then the Materializer is cleared
  * as `graft.Bench` does between queries. */
object Traffic {
  /** Pinned so a query added to either module later changes no pass. */
  val Queries: Seq[String] = Seq(
    "q_attribution", "q_bounce_rate", "q_cohort_retention", "q_comparison_accuracy",
    "q_conversion_rate", "q_engagement_mismatch", "q_engagement_windowed", "q_funnel",
    "q_hourly_patterns", "q_json_decode", "q_latency_quantiles", "q_multitouch_attribution",
    "q_page_views_distribution", "q_page_views_mismatch", "q_quarterly_trend",
    "q_seasonal_profile", "q_session_cat_mismatch", "q_session_categories",
    "q_sliding_engagement", "q_sql_bounce_rate", "q_sql_comparison_accuracy",
    "q_sql_conversion_rate", "q_sql_engagement", "q_sql_hourly_patterns",
    "q_sql_quarterly_trend", "q_sql_session_categories", "q_threeway_join")

  /** At least this many timed passes, however short `--seconds` is. */
  val MinPasses = 1

  /** Query order of a pass: a permutation drawn from the run seed. Pass
    * -1 is the verification pass. */
  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(Queries)

  def run(ctx: Ctx): Outcome = {
    val (spark, _, sessionS) = Main.setup(ctx) { s =>
      Tables.events(s, ctx.data).schema
      s.read.parquet(s"${ctx.data}/events.parquet").count()
    }
    val registry = SparkEntry.queries
    val tracer = new Tracer(spark, ctx.trace, "/graft-mat-", "/no-sink/")
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer[String]()
    def fail(q: String, e: Throwable): Unit = {
      failed += 1
      errors += s"$q: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    def fn(q: String) = registry.getOrElse(q,
      throw new NoSuchElementException(s"query $q is not registered"))

    // Untimed verification pass, which is also the warm-up: each result
    // is dumped as graft.Verify dumps it, for run.py's DuckDB compare.
    // The queries run `cores` at a time, so the one-time JIT and codegen
    // cost of a cold JVM is paid in parallel; the Materializer is cleared
    // once all of them are done, as clear() drops every live copy.
    val verifyDir = s"${ctx.work}/verify"
    val v0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    val verified = order(ctx.seed, -1).map { q =>
      val dump: java.util.concurrent.Callable[Unit] = () =>
        fn(q)(spark, ctx.data).coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$q")
      q -> pool.submit(dump)
    }
    verified.foreach { case (q, f) =>
      attempted += 1
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException => fail(q, e.getCause) }
    }
    pool.shutdown()
    Materializer.clear()
    val verifyS = (System.nanoTime() - v0) / 1e9
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    Files.createDirectories(Paths.get(verifyDir))
    Files.writeString(Paths.get(s"$verifyDir/oracle_sql.json"), Json(oracles))
    val setupS = Env.uptimeS

    val passes = mutable.ArrayBuffer[Double]()
    val timed = mutable.ArrayBuffer[Op]()
    var lagS = 0.0
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var pass = 0
    while (pass < MinPasses || System.nanoTime() < deadline) {
      val p0 = System.nanoTime()
      var prevEnd = p0
      order(ctx.seed, pass).foreach { q =>
        val op = tracer.begin("query", q, pass)
        lagS += (op.t0Ns - prevEnd) / 1e9
        var qe: QueryExecution = null
        val ok =
          try {
            val df = fn(q)(spark, ctx.data)
            tracer.built(op)
            qe = df.queryExecution
            qe.executedPlan
            tracer.planned(op)
            qe.toRdd.count()
            true
          } catch { case e: Exception => fail(q, e); false }
        tracer.end(op, ok)
        attempted += 1
        if (ok) tracer.inspect(op, qe)
        Materializer.clear()
        timed += op
        prevEnd = System.nanoTime()
      }
      passes += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    tracer.finish()

    val lat = timed.map(_.wallS).toSeq
    val perQuery = ListMap(timed.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (q, os) => q -> Env.median(os.map(_.wallS).toSeq) }: _*)
    val layers =
      if (!ctx.trace) ListMap.empty[String, Double]
      else {
        val keys = timed.headOption.map(_.layers.keys.toSeq).getOrElse(Nil)
        val tot = keys.map(k => k -> timed.map(_.layers.getOrElse(k, 0.0)).sum).toMap
        val perPass = keys.filterNot(_ == "mat_scans").map(k => k -> tot(k) / passes.size)
        ListMap(perPass: _*) ++ ListMap(
          "mat_scans_per_write" -> (if (tot("mat_writes") > 0) tot("mat_scans") / tot("mat_writes") else 0.0),
          "gen_lag_s" -> lagS / timed.size)
      }
    Outcome(setupS, attempted, failed, errors.toSeq,
      e2e = ListMap(
        "pass_s" -> Env.median(passes.toSeq),
        "latency_p50_s" -> Env.quantile(lat, 0.5),
        "latency_p90_s" -> Env.quantile(lat, 0.9)),
      extra = ListMap("queries" -> Queries, "passes_s" -> passes.toSeq, "session_s" -> sessionS,
        "verify_s" -> verifyS, "verify_dir" -> verifyDir, "query_median_s" -> perQuery),
      layers = layers,
      spans = if (ctx.trace) tracer.spans else Nil)
  }
}
