package perfbench

import java.sql.Timestamp

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.StreamingAnalytics

/** The three Kafka topics of the reference, as StreamingSpec shards one
  * events row: page views, session duration and time on page. */
final case class PvEvent(event_id: Long, ts: Timestamp, page_views: Int)
final case class SdEvent(event_id: Long, ts: Timestamp, session_duration: Double)
final case class TpEvent(event_id: Long, ts: Timestamp, time_on_page: Double)

/** `stream-replay`: the reference's streaming path. Events are replayed in
  * event-time order into three MemoryStream shards, re-joined by
  * `StreamingAnalytics.threewayJoin` and written by `runMultiSink`'s four
  * foreachBatch sinks.
  *
  * Phases, all on one streaming query: an untimed warm-up; an open-loop
  * phase where one generator offers events at [[Rate]] per second for
  * `--seconds`, in chunks whose boundaries the seed draws; then
  * [[Drains]] drains, each offering a [[Backlog]] at once and timing it
  * until every event is committed. */
object StreamReplay {
  val Rate = 500
  val WarmEvents = 1500
  val Backlog = 4000
  val Drains = 2
  val MeanChunk = 100

  final class Events(val ids: Array[Long], val ts: Array[Timestamp], val value: Array[Double]) {
    def size: Int = ids.length
  }

  /** The first `n` events in event-time order, on the driver. */
  def stage(spark: SparkSession, dir: String, n: Int): Events = {
    val rows = Tables.events(spark, dir).select("event_id", "ts", "value")
      .orderBy("ts", "event_id").limit(n).collect()
    new Events(rows.map(_.getLong(0)), rows.map(_.getTimestamp(1)), rows.map(_.getDouble(2)))
  }

  /** Chunk boundaries over `[from, until)`: sizes uniform in
    * `[1, 2 * MeanChunk - 1]`, drawn from the seed. */
  def chunks(seed: Long, from: Int, until: Int): Seq[(Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    val out = mutable.ArrayBuffer[(Int, Int)]()
    var a = from
    while (a < until) {
      val b = math.min(until, a + 1 + rnd.nextInt(2 * MeanChunk - 1))
      out += ((a, b))
      a = b
    }
    out.toSeq
  }

  def run(ctx: Ctx): Outcome = {
    val openEvents = (Rate * ctx.seconds).toInt
    val n = WarmEvents + openEvents + Drains * Backlog
    val (spark, ev, sessionS) = Main.setup(ctx)(s => stage(s, ctx.data, n))
    require(ev.size == n, s"events table holds ${ev.size} rows, the replay needs $n")
    val sinkDir = s"${ctx.work}/sink"
    val tracer = new Tracer(spark, ctx.trace, "/graft-mat-", sinkDir)
    tracer.watchStreams()

    val pv = MemoryStream[PvEvent](Encoders.product[PvEvent], spark.sqlContext)
    val sd = MemoryStream[SdEvent](Encoders.product[SdEvent], spark.sqlContext)
    val tp = MemoryStream[TpEvent](Encoders.product[TpEvent], spark.sqlContext)
    def offer(a: Int, b: Int): Unit = {
      pv.addData((a until b).map(i => PvEvent(ev.ids(i), ev.ts(i), (ev.value(i) / 10).toInt)))
      sd.addData((a until b).map(i => SdEvent(ev.ids(i), ev.ts(i), ev.value(i))))
      tp.addData((a until b).map(i => TpEvent(ev.ids(i), ev.ts(i), ev.value(i) * 0.5)))
    }

    // the warm-up events are offered before the query starts, so its
    // first micro-batch sees all three shards
    offer(0, WarmEvents)
    val build = tracer.begin("build", "threeway_join_multisink", 0, tag = false)
    // session_duration carries the event's value unchanged, so the
    // joined stream is events-shaped for the four sinks
    val joined = StreamingAnalytics.threewayJoin(pv.toDF(), sd.toDF(), tp.toDF())
      .withColumn("value", col("session_duration"))
    tracer.built(build)
    val query = StreamingAnalytics.runMultiSink(joined, sinkDir, s"${ctx.work}/checkpoint")
    tracer.end(build, ok = true)

    try {
      val warm = tracer.begin("warmup", s"events_$WarmEvents", 0, tag = false)
      query.processAllAvailable()
      tracer.end(warm, ok = true)
      val setupS = Env.uptimeS

      // open loop: event i is due Rate-paced from the phase start; a
      // chunk is emitted when its last event is due
      val i0 = WarmEvents
      val open = tracer.begin("open_loop", s"rate_$Rate", 0, tag = false)
      val startWallMs = open.startMs
      val lags = mutable.ArrayBuffer[Double]()
      chunks(ctx.seed, i0, i0 + openEvents).foreach { case (a, b) =>
        val due = open.t0Ns + ((b - 1 - i0) * 1e9 / Rate).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lags += math.max(0L, System.nanoTime() - due) / 1e9
        offer(a, b)
      }
      query.processAllAvailable()
      tracer.end(open, ok = true)

      val drains = (0 until Drains).map { d =>
        val a = i0 + openEvents + d * Backlog
        val op = tracer.begin("drain", s"backlog_$Backlog", d, tag = false)
        offer(a, a + Backlog)
        query.processAllAvailable()
        tracer.end(op, ok = true)
        op
      }
      query.stop()
      tracer.finish()

      // correctness: lossless, and per-epoch partials sum to the batch truth
      val v0 = System.nanoTime()
      import spark.implicits._
      val delivered = spark.read.parquet(s"$sinkDir/streaming_metrics")
        .select("event_id", "epoch_id").as[(Long, Long)].collect()
      val distinct = delivered.iterator.map(_._1).distinct.size
      val replayed = (0 until n).map(i => (ev.ids(i), ev.ts(i), ev.value(i)))
        .toDF("event_id", "ts", "value")
      def cells(df: DataFrame, key: String): Map[(Timestamp, Timestamp, Any), Long] =
        df.groupBy("window_start", "window_end", key).agg(sum("cnt").as("cnt")).collect()
          .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.get(2)) -> r.getLong(3)).toMap
      def cellsOff(table: String, key: String, truth: DataFrame): Int = {
        val (a, b) = (cells(spark.read.parquet(s"$sinkDir/$table"), key), cells(truth, key))
        (a.keySet ++ b.keySet).count(k => a.get(k) != b.get(k))
      }
      val distOff = cellsOff("page_views_distribution", "page_views",
        StreamingAnalytics.pageViewsCounts(replayed))
      val catOff = cellsOff("session_categories", "session_category",
        StreamingAnalytics.sessionCategoryCounts(replayed))
      val lost = n - distinct
      val dup = delivered.length - distinct
      val errors = Seq(
        if (lost != 0) Some(s"$lost events offered but never delivered to streaming_metrics") else None,
        if (dup != 0) Some(s"$dup events delivered more than once") else None,
        if (distOff != 0) Some(s"page_views_distribution: $distOff cells differ from pageViewsCounts") else None,
        if (catOff != 0) Some(s"session_categories: $catOff cells differ from sessionCategoryCounts") else None
      ).flatten
      val verifyS = (System.nanoTime() - v0) / 1e9

      // event latency: due time at the generator to the commit of the
      // micro-batch that emitted the event
      val commitMs = tracer.batches.map(b => b.batchId -> b.commitMs).toMap
      val index = ev.ids.zipWithIndex.toMap
      val lat = delivered.toSeq.flatMap { case (id, epoch) =>
        val i = index(id)
        if (i >= i0 && i < i0 + openEvents)
          commitMs.get(epoch).map(c => (c - (startWallMs + (i - i0) * 1000.0 / Rate)) / 1e3)
        else None
      }
      val drainS = drains.map(_.wallS)
      val timed = Seq(open) ++ drains
      val layers =
        if (!ctx.trace) ListMap.empty[String, Double]
        else {
          val keys = open.layers.keys.toSeq.filterNot(_ == "mat_scans")
          val tot = (k: String) => timed.map(_.layers.getOrElse(k, 0.0)).sum
          ListMap(keys.map(k => k -> (k match {
            case "build_s" => build.wallS
            case "build_jobs" => build.layers.getOrElse("jobs", 0.0)
            case "state_rows" | "state_mb" => timed.map(_.layers.getOrElse(k, 0.0)).max
            case _ => tot(k)
          })): _*) ++ ListMap(
            "mat_scans_per_write" -> (if (tot("mat_writes") > 0) tot("mat_scans") / tot("mat_writes") else 0.0),
            "gen_lag_s" -> (if (lags.isEmpty) 0.0 else lags.sum / lags.size))
        }
      Outcome(setupS, attempted = n, failed = lost + dup + distOff + catOff, errors = errors,
        e2e = ListMap(
          "pass_s" -> Env.median(drainS),
          "latency_p50_s" -> Env.quantile(lat, 0.5),
          "latency_p90_s" -> Env.quantile(lat, 0.9)),
        extra = ListMap("drains_s" -> drainS, "drain_events_per_s" -> Backlog / Env.median(drainS),
          "open_loop_events" -> openEvents, "latency_samples" -> lat.size,
          "open_loop_s" -> open.wallS, "session_s" -> sessionS, "warmup_s" -> warm.wallS,
          "verify_s" -> verifyS, "batches" -> tracer.batches.size,
          "gen_lag_mean_s" -> (if (lags.isEmpty) 0.0 else lags.sum / lags.size)),
        layers = layers,
        spans = if (ctx.trace) tracer.spans else Nil)
    } finally if (query.isActive) query.stop()
  }
}
