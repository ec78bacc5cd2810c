package perfbench

import java.time.Instant

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation: a query call (traffic) or a replay phase
  * (stream-replay). Times are `System.nanoTime` for durations and epoch
  * milliseconds for matching Spark's listener events. */
final class Op(val id: Int, val kind: String, val name: String, val pass: Int) {
  var t0Ns = 0L
  var buildEndNs = 0L
  var planEndNs = 0L
  var t1Ns = 0L
  var startMs = 0L
  var buildEndMs = 0L
  var endMs = 0L
  var ok = true
  var codegenNs = 0L
  var codegenClasses = 0L
  /** Layer values filled by [[Tracer.finish]] (traced runs only). */
  val layers = mutable.LinkedHashMap[String, Double]()
  def wallS: Double = (t1Ns - t0Ns) / 1e9
  def buildS: Double = if (buildEndNs > 0) (buildEndNs - t0Ns) / 1e9 else 0.0
}

/** One micro-batch as reported by the streaming progress events. */
final case class BatchRec(batchId: Long, startMs: Long, durations: Map[String, Long],
                          rows: Long, stateRows: Long, stateBytes: Long, stateCommitMs: Long) {
  def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Records op spans and, when `enabled`, attributes Spark's job, stage,
  * task, query-execution and micro-batch events to them.
  *
  * Each op sets the SparkContext local property `perfbench.op` on the
  * calling thread, so jobs launched inside a query function or by the
  * Materializer carry their op's id. Streaming jobs run on the query's
  * own thread and are attributed by the op window they start in.
  * Listener events are only kept in memory; [[finish]] drains the bus,
  * folds them into per-op layer values and returns the spans. */
final class Tracer(spark: SparkSession, val enabled: Boolean,
                   matMarker: String, sinkMarker: String) {
  val ops = mutable.ArrayBuffer[Op]()
  private var nextId = 0
  private val sc = spark.sparkContext

  private final case class JobRec(jobId: Int, op: Int, batch: Long, startMs: Long, var endMs: Long)
  private final case class QeRec(op: Int, func: String, durNs: Long, planMs: Long,
                                 write: Option[(String, Long)], matScans: Int)

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageOp = mutable.HashMap[Int, Int]()
  private val execOp = mutable.HashMap[Long, Int]()
  private val sums = mutable.HashMap[Int, mutable.HashMap[String, Double]]()
  private val qes = mutable.ArrayBuffer[QeRec]()
  private val batchBuf = mutable.ArrayBuffer[BatchRec]()

  /** Micro-batches seen so far (all runs that register the stream listener). */
  def batches: Seq[BatchRec] = synchronized(batchBuf.toList)

  private def add(op: Int, key: String, v: Double): Unit =
    if (op >= 0) synchronized {
      val m = sums.getOrElseUpdate(op, mutable.HashMap())
      m(key) = m.getOrElse(key, 0.0) + v
    }

  private def opAtMs(ms: Long): Int = synchronized {
    ops.reverseIterator.find(o => o.startMs <= ms && (o.endMs == 0L || ms <= o.endMs))
      .map(_.id).getOrElse(-1)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tagged = props.flatMap(p => Option(p.getProperty("perfbench.op"))).map(_.toInt)
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val op = tagged.getOrElse(opAtMs(e.time))
      Tracer.this.synchronized {
        jobs(e.jobId) = JobRec(e.jobId, op, batch, e.time, 0L)
        exec.foreach(x => execOp(x) = op)
        e.stageIds.foreach(s => stageOp(s) = op)
      }
      add(op, "jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(Tracer.this.synchronized(stageOp.getOrElse(e.stageInfo.stageId, -1)), "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = Tracer.this.synchronized(stageOp.getOrElse(e.stageId, -1))
      add(op, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(op, "task_run_s", m.executorRunTime / 1e3)
        add(op, "task_cpu_s", m.executorCpuTime / 1e9)
        add(op, "task_gc_s", m.jvmGCTime / 1e3)
        add(op, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add(op, "shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add(op, "spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add(op, "scan_mb", m.inputMetrics.bytesRead / 1048576.0)
        add(op, "scan_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  /** Plan walks that descend into adaptive plans and subqueries. */
  private object walk extends AdaptiveSparkPlanHelper {
    def matScans(plan: SparkPlan): Int = collectWithSubqueries(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(matMarker)) => s
    }.size

    /** (output path, bytes written) of a file write. */
    def write(plan: SparkPlan): Option[(String, Long)] = {
      val root = plan match {
        case r: CommandResultExec => r.commandPhysicalPlan
        case p => p
      }
      collect(root) { case d: DataWritingCommandExec => d.cmd }.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand =>
          (c.outputPath.toString, c.metrics.get("numOutputBytes").map(_.value).getOrElse(0L))
      }
    }
  }

  private def planMs(qe: QueryExecution): Long = qe.tracker.phases.values.map(_.durationMs).sum

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durNs: Long): Unit = {
      val op = Tracer.this.synchronized(execOp.get(qe.id))
        .getOrElse(opAtMs(System.currentTimeMillis()))
      val write = try walk.write(qe.executedPlan) catch { case _: Exception => None }
      val ms = try walk.matScans(qe.executedPlan) catch { case _: Exception => 0 }
      Tracer.this.synchronized(qes += QeRec(op, func, durNs, planMs(qe), write, ms))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val state = p.stateOperators.toSeq
      Tracer.this.synchronized(batchBuf += BatchRec(p.batchId,
        Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, state.map(_.numRowsTotal).sum, state.map(_.memoryUsedBytes).sum,
        state.map(_.commitTimeMs).sum))
    }
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Stream progress is needed for event latency in untraced runs too. */
  def watchStreams(): Unit = spark.streams.addListener(streamListener)

  /** Start an op. `tag` = false leaves the thread's local properties
    * alone: a streaming query started inside a tagged op would inherit
    * the tag on its own thread for its whole life. */
  def begin(kind: String, name: String, pass: Int, tag: Boolean = true): Op = {
    val op = synchronized {
      val o = new Op(nextId, kind, name, pass)
      nextId += 1
      ops += o
      o
    }
    op.codegenNs = CodeGenerator.compileTime
    op.codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    if (tag) sc.setLocalProperty("perfbench.op", op.id.toString)
    op.startMs = System.currentTimeMillis()
    op.t0Ns = System.nanoTime()
    op
  }

  def built(op: Op): Unit = {
    op.buildEndNs = System.nanoTime()
    op.buildEndMs = System.currentTimeMillis()
  }

  def planned(op: Op): Unit = op.planEndNs = System.nanoTime()

  def end(op: Op, ok: Boolean): Unit = {
    op.t1Ns = System.nanoTime()
    op.endMs = System.currentTimeMillis()
    op.ok = ok
    sc.setLocalProperty("perfbench.op", null)
    op.codegenNs = CodeGenerator.compileTime - op.codegenNs
    op.codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - op.codegenClasses
  }

  /** Fold the op's own query execution (run through `toRdd`, which never
    * reaches the execution listeners) into its layer values. */
  def inspect(op: Op, qe: QueryExecution): Unit = if (enabled) {
    add(op.id, "plan_s", planMs(qe) / 1e3)
    add(op.id, "mat_scans", (try walk.matScans(qe.executedPlan) catch { case _: Exception => 0 }).toDouble)
  }

  /** Merged length of `[s, e]` intervals clipped to `[lo, hi]`, in ms. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0L)
  }

  /** Drain the listener bus and, when tracing, fill every op's layer
    * values. */
  def finish(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    if (enabled) synchronized {
      val byOp = jobs.values.groupBy(_.op)
      val qByOp = qes.groupBy(_.op)
      val bs = batchBuf.toList
      ops.foreach { op =>
        val s = sums.getOrElse(op.id, mutable.HashMap.empty[String, Double])
        val opJobs = byOp.getOrElse(op.id, Nil).toSeq
        val opQes = qByOp.getOrElse(op.id, Nil).toSeq
        val opBatches = bs.filter(b => b.startMs >= op.startMs && b.startMs <= op.endMs)
        def g(k: String) = s.getOrElse(k, 0.0)
        val mats = opQes.filter(_.write.exists(_._1.contains(matMarker)))
        val sinks = opQes.filter(_.write.exists(_._1.contains(sinkMarker)))
        val matScans = g("mat_scans") + opQes.map(_.matScans).sum
        val jobIv = opJobs.map(j => (j.startMs, if (j.endMs > 0) j.endMs else op.endMs))
        val l = op.layers
        l("plan_s") = g("plan_s") + opQes.map(_.planMs).sum / 1e3 +
          opBatches.map(_.durations.getOrElse("queryPlanning", 0L)).sum / 1e3
        l("codegen_compile_s") = op.codegenNs / 1e9
        l("codegen_classes") = op.codegenClasses.toDouble
        l("jobs") = g("jobs")
        l("stages") = g("stages")
        l("tasks") = g("tasks")
        l("driver_gap_s") = math.max(0L, (op.endMs - op.startMs) - covered(jobIv, op.startMs, op.endMs)) / 1e3
        l("build_s") = op.buildS
        l("build_jobs") = opJobs.count(j => op.buildEndMs > 0 && j.startMs <= op.buildEndMs).toDouble
        l("mat_writes") = mats.size.toDouble
        l("mat_write_mb") = mats.map(_.write.get._2).sum / 1048576.0
        l("mat_write_s") = mats.map(_.durNs).sum / 1e9
        l("mat_scans") = matScans
        Seq("task_run_s", "task_cpu_s", "task_gc_s", "shuffle_write_mb", "shuffle_read_mb",
          "spill_mb", "scan_mb", "scan_rows").foreach(k => l(k) = g(k))
        l("sink_writes") = sinks.size.toDouble
        l("sink_write_mb") = sinks.map(_.write.get._2).sum / 1048576.0
        l("batches") = opBatches.size.toDouble
        l("batch_rows") = opBatches.map(_.rows).sum.toDouble
        l("batch_s") = opBatches.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3
        l("batch_plan_s") = opBatches.map(_.durations.getOrElse("queryPlanning", 0L)).sum / 1e3
        l("batch_sink_s") = opBatches.map(_.durations.getOrElse("addBatch", 0L)).sum / 1e3
        l("batch_commit_s") = opBatches.map(b =>
          b.durations.getOrElse("walCommit", 0L) + b.durations.getOrElse("commitOffsets", 0L)).sum / 1e3
        l("state_rows") = if (opBatches.isEmpty) 0.0 else opBatches.map(_.stateRows).max.toDouble
        l("state_mb") = if (opBatches.isEmpty) 0.0 else opBatches.map(_.stateBytes).max / 1048576.0
        l("state_commit_s") = opBatches.map(_.stateCommitMs).sum / 1e3
      }
    }
  }

  /** Spans of every op with its jobs and micro-batches as children. */
  def spans: Seq[ListMap[String, Any]] = synchronized {
    val byOp = jobs.values.groupBy(_.op)
    val bs = batchBuf.toList
    ops.toList.map { op =>
      val children =
        byOp.getOrElse(op.id, Nil).toSeq.sortBy(_.jobId).map { j =>
          ListMap("kind" -> "job", "id" -> j.jobId, "batch" -> j.batch,
            "start_ms" -> (j.startMs - op.startMs), "end_ms" -> (j.endMs - op.startMs))
        } ++ qes.filter(_.op == op.id).map { q =>
          ListMap("kind" -> "query_execution", "func" -> q.func, "plan_ms" -> q.planMs,
            "wall_s" -> q.durNs / 1e9, "write" -> q.write.map(_._1), "write_bytes" -> q.write.map(_._2),
            "mat_scans" -> q.matScans)
        } ++ bs.filter(b => b.startMs >= op.startMs && b.startMs <= op.endMs).map { b =>
          ListMap("kind" -> "micro_batch", "id" -> b.batchId, "start_ms" -> (b.startMs - op.startMs),
            "rows" -> b.rows, "durations_ms" -> b.durations, "state_rows" -> b.stateRows)
        }
      ListMap("kind" -> op.kind, "name" -> op.name, "pass" -> op.pass, "ok" -> op.ok,
        "start_ms" -> op.startMs, "wall_s" -> op.wallS, "build_s" -> op.buildS,
        "plan_call_s" -> (if (op.planEndNs > 0) (op.planEndNs - op.buildEndNs) / 1e9 else 0.0),
        "exec_s" -> (if (op.planEndNs > 0) (op.t1Ns - op.planEndNs) / 1e9 else 0.0),
        "layers" -> op.layers, "children" -> children)
    }
  }
}
