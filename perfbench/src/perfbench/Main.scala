package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Arguments shared by every workload. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     data: String, work: String, out: String, traceOut: String, cores: Int)

/** What a workload hands back to [[Main]]. `setupS` is the JVM's uptime
  * when the workload's untimed warm-up ended. `e2e` and `extra` are
  * written as-is; `layers` only in traced runs. Maps are ListMaps so the
  * files keep their key order. */
final case class Outcome(setupS: Double, attempted: Long, failed: Long, errors: Seq[String],
                         e2e: ListMap[String, Any], extra: ListMap[String, Any],
                         layers: ListMap[String, Double], spans: Seq[ListMap[String, Any]])

/** JVM side of the benchmark: `run.py` launches it once per run with the
  * run's arguments and reads the JSON file it writes to `--out`. */
object Main {
  private def parse(args: Array[String]): Ctx = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Ctx(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("out"), m.getOrElse("trace-out", ""),
      Runtime.getRuntime.availableProcessors())
  }

  /** Build the session and stage the inputs. Returns the session, the
    * staged value and the seconds both took. */
  def setup[T](ctx: Ctx)(stage: SparkSession => T): (SparkSession, T, Double) = {
    val t0 = System.nanoTime()
    val spark = Env.session(ctx.cores, ctx.work)
    val staged = stage(spark)
    (spark, staged, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val bootS = Env.uptimeS
    val ctx = parse(args)
    val load0 = Env.loadavg
    val j0 = Env.jiffies()
    val steal0 = Env.stealJiffies()
    val t0 = System.nanoTime()
    val outcome = ctx.workload match {
      case "traffic" => Traffic.run(ctx)
      case "stream-replay" => StreamReplay.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val runS = (System.nanoTime() - t0) / 1e9
    val ambient = Env.ambientCores(j0, Env.jiffies(), runS)
    val steal = if (steal0 < 0) -1.0 else (Env.stealJiffies() - steal0) / (runS * 100.0)
    val ambientLayers = ListMap("ambient_cores" -> ambient, "loadavg_1m" -> Env.loadavg)
    val result = ListMap(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "trace" -> ctx.trace, "cores" -> ctx.cores,
      "seconds" -> ctx.seconds,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed, "errors" -> outcome.errors,
      "e2e" -> (ListMap("setup_s" -> outcome.setupS) ++ outcome.e2e ++ ListMap("peak_rss_mib" -> Env.peakRssMiB)),
      "extra" -> (ListMap("jvm_boot_s" -> bootS) ++ outcome.extra),
      "ambient" -> ListMap("loadavg_start" -> load0, "loadavg_end" -> Env.loadavg,
        "ambient_cores" -> ambient, "steal_cores" -> steal),
      "layers" -> (if (ctx.trace) outcome.layers ++ ambientLayers else ListMap.empty))
    Files.writeString(Paths.get(ctx.out), Json(result))
    if (ctx.trace && ctx.traceOut.nonEmpty)
      Files.writeString(Paths.get(ctx.traceOut), Json(ListMap(
        "workload" -> ctx.workload, "seed" -> ctx.seed, "ambient_cores" -> ambient,
        "loadavg_start" -> load0, "ops" -> outcome.spans)))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
