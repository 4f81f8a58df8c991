package fsbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It listens only while attached, from the
  * outside of the engine: Spark's scheduler events (jobs, stages,
  * tasks), each QueryExecution's planning tracker, the codegen
  * compile histogram, the JVM's GC/JIT/heap beans and the store root on
  * disk. Jobs are tied to the operation that started them through two
  * thread-local job properties the harness sets around every call.
  *
  * Everything is kept in memory; [[report]] writes one span per
  * operation, its build/exec children, the Catalyst phases, jobs and
  * stages to `spans.jsonl`, and reduces them to per-layer metrics and
  * self time in `layers.json`.
  */
final class Tracer(spark: SparkSession, storeRoot: Path)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private final class JobRec(val id: Int, val op: Long, val phase: String,
      val start: Long, val stages: Seq[Int]) { var end: Long = -1L }
  private final class StageRec(val id: Int) {
    var submit = -1L; var complete = -1L; var tasks = 0; var failed = 0
    val runMs = ArrayBuffer.empty[Long]
    var cpuNs, gcMs, shufW, shufR, spill, inRows, inBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val phases = ArrayBuffer.empty[PhaseRec]
  private val probes = mutable.HashMap.empty[Long, (Probe, Probe)]
  private var before: Probe = _

  private val sc = spark.sparkContext
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private val mem = ManagementFactory.getMemoryMXBean

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    // the listener bus is asynchronous: wait until every job seen has
    // ended, then a little longer for the query-execution queue
    val deadline = System.currentTimeMillis + 15000
    while (synchronized(jobs.values.exists(_.end < 0)) &&
        System.currentTimeMillis < deadline) Thread.sleep(20)
    Thread.sleep(300)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  private def probe(write: Boolean): Probe = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Probe(gcBeans.map(_.getCollectionTime).sum, jit.getTotalCompilationTime,
      h.getCount, h.getSnapshot.getValues.sum, mem.getHeapMemoryUsage.getUsed,
      if (write) FsStats.scan(storeRoot) else Map.empty)
  }

  /** Called by the harness around each traced operation. */
  def beforeOp(write: Boolean): Unit = before = probe(write)
  def afterOp(seq: Long, write: Boolean): Unit =
    probes(seq) = (before, probe(write))

  // ---- Spark listener ----------------------------------------------------
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(OpProp))).map(_.toLong).getOrElse(-1L)
    val phase = p.flatMap(x => Option(x.getProperty(PhaseProp))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, op, phase, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, new StageRec(i.stageId))
    s.submit = i.submissionTime.getOrElse(-1L)
    s.complete = i.completionTime.getOrElse(-1L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
    s.tasks += 1
    if (e.reason != Success) s.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shufW += m.shuffleWriteMetrics.bytesWritten
      s.shufR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inRows += m.inputMetrics.recordsRead
      s.inBytes += m.inputMetrics.bytesRead
    }
  }

  // ---- QueryExecution listener ---------------------------------------------
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planning(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planning(qe)
  private def planning(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += PhaseRec(name, p.startTimeMs, p.endTimeMs)
    }
  }

  // ---- reduction -------------------------------------------------------------
  /** Write spans and per-layer metrics for the traced operations. The
    * harness's nanoTime stamps are mapped onto the wall clock that the
    * scheduler and the planning tracker use (millisecond resolution). */
  def report(results: Seq[Result], dir: File): Unit = synchronized {
    val ms0 = System.currentTimeMillis.toDouble
    val ns0 = System.nanoTime
    def wall(ns: Long): Double = ms0 + (ns - ns0) / 1e6
    val spans = new PrintWriter(new File(dir, "spans.jsonl"), "UTF-8")
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var nSpans = 0L
    var inputRows, outputRows = 0L
    def span(op: Long, id: String, parent: String, name: String, layer: String,
        s: Double, e: Double): Unit = {
      nSpans += 1
      spans.println(Harness.Mapper.writeValueAsString(Map("op" -> op, "id" -> id,
        "parent" -> parent, "name" -> name, "layer" -> layer, "start_ms" -> s,
        "end_ms" -> e)))
    }
    val byOp = jobs.values.groupBy(_.op)
    try results.foreach { r =>
      val s = r.seq
      val (a, b) = (wall(r.startNs), wall(r.endNs))
      val bEnd = wall(r.startNs + r.buildNs)
      val opId = s"$s"
      span(s, opId, null, s"${r.op.kind}:${r.op.id}", "op", a, b)
      span(s, s"$s.build", opId, "build", "store", a, bEnd)
      if (!r.op.isWrite) span(s, s"$s.exec", opId, "exec", "exec", bEnd, b)
      val ps = phases.filter(p => p.start >= math.floor(a) && p.start <= b)
      ps.zipWithIndex.foreach { case (p, i) =>
        val parent = if (p.start < bEnd) s"$s.build" else s"$s.exec"
        span(s, s"$s.q$i", parent, p.name, "catalyst", p.start.toDouble, p.end.toDouble)
      }
      val js = byOp.getOrElse(s, Nil).toSeq.filter(_.end >= 0)
      val sts = js.flatMap(_.stages).flatMap(stages.get).filter(_.complete >= 0)
      js.foreach { j =>
        span(s, s"$s.j${j.id}", if (j.phase == "build") s"$s.build" else s"$s.exec",
          s"job ${j.id}", "exec", j.start.toDouble, j.end.toDouble)
        j.stages.flatMap(stages.get).filter(st => st.submit >= 0 && st.complete >= 0)
          .foreach(st => span(s, s"$s.s${st.id}", s"$s.j${j.id}", s"stage ${st.id}",
            "exec", st.submit.toDouble, st.complete.toDouble))
      }

      // self time: each instant of the operation goes to the innermost
      // layer covering it — stage/job (exec) > Catalyst phase >
      // build (store) / post-build action (gap) > harness
      val layered = js.map(j => (j.start.toDouble, j.end.toDouble, 3)) ++
        ps.map(p => (p.start.toDouble, p.end.toDouble, 2)) ++
        Seq((a, bEnd, 1), (bEnd, b, 0))
      val names = Map(3 -> "self.exec_ms", 2 -> "self.catalyst_ms",
        1 -> "self.store_ms", 0 -> "self.gap_ms")
      sweep(a, b, layered).foreach { case (l, d) => self(names(l)) += d }

      val inJob = union(js.map(j => (j.start.toDouble, j.end.toDouble)), a, b)
      val wallMs = b - a
      acc("exec.ms") += (if (r.op.isWrite) 0.0 else b - bEnd)
      acc("exec.jobs") += js.size
      acc("exec.stages") += sts.size
      acc("exec.tasks") += sts.map(_.tasks).sum
      acc("exec.in_job_ms") += inJob
      acc("exec.gap_ms") += wallMs - inJob
      acc("exec.task_run_ms") += sts.map(_.runMs.sum).sum
      acc("exec.task_cpu_ms") += sts.map(_.cpuNs).sum / 1e6
      acc("exec.task_gc_ms") += sts.map(_.gcMs).sum
      acc("exec.shuffle_write_bytes") += sts.map(_.shufW).sum
      acc("exec.shuffle_read_bytes") += sts.map(_.shufR).sum
      acc("exec.spill_bytes") += sts.map(_.spill).sum
      acc("exec.failed_tasks") += sts.map(_.failed).sum
      acc("exec.input_rows") += sts.map(_.inRows).sum
      acc("exec.input_bytes") += sts.map(_.inBytes).sum
      if (!r.op.isWrite) { inputRows += sts.map(_.inRows).sum; outputRows += r.rows }
      acc("exec.task_skew") += (if (sts.isEmpty) 1.0 else {
        val longest = sts.maxBy(st => st.complete - st.submit)
        val runs = longest.runMs.sorted
        if (runs.isEmpty) 1.0
        else runs.last.toDouble / math.max(1L, runs(runs.size / 2)).toDouble
      })
      for (name <- Seq("analysis", "optimization", "planning"))
        acc(s"catalyst.${name}_ms") += ps.filter(_.name == name).map(p => p.end - p.start).sum
      if (r.op.isWrite) {
        acc("store.write_ms") += r.buildNs / 1e6
        acc("store.write_jobs") += js.size
        acc("store.write_driver_ms") += wallMs - inJob
      } else {
        acc("store.build_ms") += r.buildNs / 1e6
        acc("store.build_jobs") += js.count(_.phase == "build")
      }
      probes.get(s).foreach { case (p0, p1) =>
        acc("codegen.compile_ms") += p1.compileMs - p0.compileMs
        acc("codegen.compiles") += p1.compiles - p0.compiles
        acc("jvm.gc_ms") += p1.gcMs - p0.gcMs
        acc("jvm.jit_ms") += p1.jitMs - p0.jitMs
        acc("jvm.heap_used_mb") += p1.heap / 1048576.0
        if (r.op.isWrite) {
          val fresh = p1.files.filter { case (f, n) => !p0.files.get(f).contains(n) }
          acc("storage.files_written") += fresh.size
          acc("storage.bytes_written") += fresh.values.sum
        }
      }
    } finally spans.close()

    val n = math.max(1, results.size).toDouble
    val nw = math.max(1, results.count(_.op.isWrite)).toDouble
    val nr = math.max(1, results.count(!_.op.isWrite)).toDouble
    val perWrite = Set("store.write_ms", "store.write_jobs", "store.write_driver_ms",
      "storage.files_written", "storage.bytes_written")
    val perRead = Set("store.build_ms", "store.build_jobs")
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    for (k <- MetricNames) metrics(k) =
      if (perWrite(k)) acc(k) / nw else if (perRead(k)) acc(k) / nr else acc(k) / n
    metrics("exec.rows_per_result") = inputRows.toDouble / math.max(1L, outputRows)
    for (k <- SelfNames) metrics(k) = self(k) / n
    val files = FsStats.scan(storeRoot)
    val (meta, data) = files.partition { case (f, _) => isMetadata(f) }
    metrics("storage.live_files") = data.size.toDouble
    metrics("storage.live_bytes") = data.values.sum.toDouble
    metrics("storage.catalog_bytes") = meta.values.sum.toDouble
    metrics("trace.spans") = nSpans.toDouble
    metrics("trace.ops") = results.size.toDouble
    Harness.Mapper.writeValue(new File(dir, "layers.json"), metrics.toMap)
  }
}

object Tracer {
  private final case class PhaseRec(name: String, start: Long, end: Long)
  /** Per-operation counters sampled by the harness thread. */
  private final case class Probe(gcMs: Long, jitMs: Long, compiles: Long,
      compileMs: Long, heap: Long, files: Map[String, Long])

  val OpProp = "fsbench.op"
  val PhaseProp = "fsbench.phase"

  val MetricNames = Seq(
    "store.build_ms", "store.build_jobs", "store.write_ms", "store.write_jobs",
    "store.write_driver_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "codegen.compile_ms", "codegen.compiles", "exec.ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.in_job_ms", "exec.gap_ms",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.task_gc_ms",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.task_skew", "exec.failed_tasks", "exec.input_rows", "exec.input_bytes",
    "storage.bytes_written", "storage.files_written", "jvm.gc_ms", "jvm.jit_ms",
    "jvm.heap_used_mb")
  val SelfNames = Seq("self.store_ms", "self.catalyst_ms", "self.exec_ms", "self.gap_ms")

  /** Catalog, transaction-log, lease and checksum files: everything
    * under the store root that is not a parquet data file. */
  def isMetadata(rel: String): Boolean = !rel.endsWith(".parquet")

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total, end = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total - lo
  }

  /** Split [lo, hi] at every interval edge and give each piece to the
    * highest level covering it; returns time per level. */
  def sweep(lo: Double, hi: Double, iv: Seq[(Double, Double, Int)]): Map[Int, Double] = {
    val cuts = (iv.flatMap { case (s, e, _) => Seq(s, e) } ++ Seq(lo, hi))
      .filter(x => x >= lo && x <= hi).distinct.sorted
    cuts.zip(cuts.drop(1)).flatMap { case (s, e) =>
      val mid = (s + e) / 2
      val cover = iv.filter { case (a, b, _) => a <= mid && mid < b }
      if (cover.isEmpty) None else Some(cover.map(_._3).max -> (e - s))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
