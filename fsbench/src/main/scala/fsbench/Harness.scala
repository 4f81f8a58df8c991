package fsbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store.{FeatureStore, WindowFeatures}

/** One operation of the plan written by `gen.py`. */
final case class Op(id: String, kind: String, node: JsonNode) {
  def str(k: String): String = node.get(k).asText
  def long(k: String): Long = node.get(k).asLong
  def has(k: String): Boolean = node.has(k)
  def strs(k: String): Seq[String] = node.get(k).elements.asScala.map(_.asText).toSeq
  def longs(k: String): Seq[Long] = node.get(k).elements.asScala.map(_.asLong).toSeq
  def isWrite: Boolean = Harness.WriteKinds(kind)
}

/** What one executed operation produced. Latency is split into the
  * store call that returns the DataFrame (`buildNs`) and the action that
  * reduces it (`execNs`); a write is all build. `cpuNs` is the process
  * CPU time (every thread) spent while the operation ran. A failed
  * operation keeps its timings for the trace but is never a latency sample.
  */
final case class Result(
    phase: String, seq: Long, op: Op, startNs: Long, buildNs: Long,
    execNs: Long, ok: Boolean, rows: Long, version: Int, payload: String,
    cpuNs: Long = 0L) {
  def endNs: Long = startNs + buildNs + execNs
}

/** Runs one benchmark workload against the feature store:
  *
  *   harness <run dir>
  *
  * reads `<run dir>/plan.json` (operations, from gen.py) and
  * `<run dir>/run.properties` (seconds, trace, set-up repetitions),
  * then
  *   1. starts a session configured like `graft.Bench`;
  *   2. registers the inputs into a fresh store `setup_reps` times,
  *      keeps the last store and runs the warm-up operations on it;
  *   3. with `trace=0`, runs the timed operations in a closed loop for
  *      `seconds`;
  *   4. with `trace=1`, runs instead a traced closed loop of the same
  *      length with the listeners of [[Tracer]] attached, between two
  *      untraced half-length loops that give the tracing overhead;
  *   5. writes `results.tsv` (one line per operation, with a canonical
  *      payload the DuckDB reference checks), `summary.json` and, when
  *      traced, `spans.jsonl` and `layers.json`.
  */
object Harness {
  val WriteKinds = Set("register", "append", "upsert", "delete", "compact")
  private val TsBase = 1700000000L

  private val TableSchema = StructType(Seq(
    StructField("entity_id", LongType), StructField("timestamp", TimestampType),
    StructField("f_cnt", LongType), StructField("f_amt", DoubleType),
    StructField("f_cat", IntegerType)))
  private val KeySchema = StructType(TableSchema.fields.take(2))

  /** Reads plan.json and writes summary.json, layers.json and spans. */
  val Mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  val WindowAggs = Seq(
    WindowFeatures.WindowAgg("n_rows", "rows"),
    WindowFeatures.WindowAgg("cnt_sum", "sum", "f_cnt"),
    WindowFeatures.WindowAgg("amt_max", "max", "f_amt"),
    WindowFeatures.WindowAgg("amt_min", "min", "f_amt"),
    WindowFeatures.WindowAgg("cat_count", "count", "f_cat"))

  def main(args: Array[String]): Unit = {
    val dir = new File(args(0))
    val props = new java.util.Properties
    val in = new java.io.FileInputStream(new File(dir, "run.properties"))
    try props.load(in) finally in.close()
    def prop(k: String): String = Option(props.getProperty(k)).getOrElse(
      throw new IllegalArgumentException(s"run.properties lacks '$k'"))
    val plan = Mapper.readTree(new File(dir, "plan.json"))
    def ops(phase: String): IndexedSeq[Op] =
      plan.get(phase).elements.asScala.map(n =>
        Op(n.get("id").asText, n.get("kind").asText, n)).toIndexedSeq

    val spark = Session.build(prop("cpus").toInt, new File(prop("scratch")))
    val sessionS = (System.currentTimeMillis -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    new Harness(spark, dir, plan.get("workload").asText,
      plan.get("max_versions").asInt, plan.get("cycle").asBoolean,
      ops("setup"), ops("warm"), ops("timed"))
      .run(prop("seconds").toDouble, prop("trace") == "1",
        prop("setup_reps").toInt, sessionS)
    spark.stop()
  }

  /** Long view of a value for checksums: timestamps as seconds past a
    * fixed base, doubles as round(x * 1024) (the generated doubles are
    * multiples of 1/1024, so this is exact), integers as themselves.
    */
  def sumView(c: String, t: DataType): Column = t match {
    case TimestampType => unix_seconds(col(c)) - lit(TsBase)
    case DoubleType    => round(col(c) * 1024).cast(LongType)
    case _             => col(c).cast(LongType)
  }

  /** Canonical text of one collected value; see [[sumView]]. */
  def cell(v: Any): String = v match {
    case null                   => "N"
    case t: Timestamp           => (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case i: java.time.Instant   => (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case d: Double              => Math.round(d * 1024).toString
    case n: java.lang.Number    => n.longValue.toString
    case s: String              => s
    case other                  => other.toString
  }
}

final class Harness(
    spark: SparkSession, dir: File, workload: String, maxVersions: Int,
    cycle: Boolean, setupOps: IndexedSeq[Op], warmOps: IndexedSeq[Op],
    timedOps: IndexedSeq[Op]) {
  import Harness._

  private val sc = spark.sparkContext
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var seq = 0L
  private var tracer: Option[Tracer] = None

  private def input(rel: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(new File(dir, rel).getPath)

  /** Execute one operation; never throws. */
  def exec(store: FeatureStore, op: Op, phase: String): Result = {
    seq += 1
    tracer.foreach(_.beforeOp(op.isWrite))
    val cpu0 = osBean.getProcessCpuTime
    val r = call(store, op, phase)
    val cpuNs = osBean.getProcessCpuTime - cpu0
    tracer.foreach(_.afterOp(seq, op.isWrite))
    r.copy(cpuNs = cpuNs)
  }

  private def call(store: FeatureStore, op: Op, phase: String): Result = {
    sc.setLocalProperty(Tracer.OpProp, seq.toString)
    sc.setLocalProperty(Tracer.PhaseProp, "build")
    val t0 = System.nanoTime
    var t1 = t0
    var version = 0
    try {
      if (op.isWrite) {
        val t = op.str("table")
        version = op.kind match {
          case "register" => store.register(t, input(op.str("batch"), TableSchema)).version
          case "append"   => store.registerAppend(t, input(op.str("batch"), TableSchema)).version
          case "upsert"   => store.registerUpsert(t, input(op.str("batch"), TableSchema)).version
          case "delete"   =>
            store.deleteRowsByKeys(t, input(op.str("keys"), KeySchema))
              .map(_.version).getOrElse(store.getTableInfo(t).version)
          case "compact"  => store.compact(t).version
        }
        t1 = System.nanoTime
        Result(phase, seq, op, t0, t1 - t0, 0L, ok = true, 0L, version, s"v=$version")
      } else {
        val (df, v) = build(store, op)
        version = v
        t1 = System.nanoTime
        sc.setLocalProperty(Tracer.PhaseProp, "exec")
        val (rows, payload0) =
          if (op.str("out") == "rows") collectRows(df) else checksum(df)
        val payload =
          if (op.has("corrupt")) corrupt(payload0) else payload0
        val t2 = System.nanoTime
        Result(phase, seq, op, t0, t1 - t0, t2 - t1, ok = true, rows, version, payload)
      }
    } catch {
      case NonFatal(e) =>
        val t2 = System.nanoTime
        val msg = (e.getClass.getName + ": " + e.getMessage)
          .replaceAll("[\t\r\n]+", " ").take(300)
        Result(phase, seq, op, t0, t1 - t0, t2 - t1, ok = false, 0L, version, msg)
    } finally {
      sc.setLocalProperty(Tracer.OpProp, null)
      sc.setLocalProperty(Tracer.PhaseProp, null)
    }
  }

  /** The store call of a read: returns the DataFrame (lazily planned
    * where the store allows) and the table version it reads. */
  private def build(store: FeatureStore, op: Op): (DataFrame, Int) = {
    def ts(k: String) = new Timestamp(op.long(k) / 1000L)
    def spine = input(op.str("spine"), KeySchema)
    op.kind match {
      case "get" =>
        (store.get(op.str("table"), op.longs("ids"), ts("asof")), 0)
      case "recent" =>
        (store.getRecent(op.str("table"), op.longs("ids"), ts("asof"),
          op.long("k").toInt), 0)
      case "train" => (store.getTrainingSet(op.str("table"), spine), 0)
      case "view"  => (store.getFeatureView(spine, op.strs("tables")), 0)
      case "window" =>
        (store.getWindowFeatures(op.str("table"), spine, op.long("window"),
          WindowAggs), 0)
      case "changes" =>
        val t = op.str("table")
        val v = store.getTableInfo(t).version
        (store.getChanges(t, v - 1, v), v)
      case "version_asof" =>
        val t = op.str("table")
        val hist = store.getTableHistory(t)
        val target = hist.map(_.version).max - op.long("back").toInt
        val at = hist.find(_.version == target).flatMap(_.committedAt)
          .getOrElse(throw new IllegalStateException(
            s"version $target of '$t' is not retained with a commit time"))
        (store.getVersionAsOf(t, new Timestamp(at)), target)
    }
  }

  /** Small result: collect it and print every row canonically. */
  private def collectRows(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(col).toIndexedSeq: _*).collect()
    val body = rows.map(r => (0 until r.length).map(i => cell(r.get(i))).mkString(","))
      .sorted.mkString(";")
    (rows.length.toLong, s"R|${cols.mkString(",")}|$body")
  }

  /** Large result: reduce every output column to (non-null count, sum,
    * entity-bound sum) in one aggregation, grouped by the change type
    * when the result is a change feed. */
  private def checksum(df: DataFrame): (Long, String) = {
    val group = FeatureStore.ChangeTypeCol
    val cols = df.columns.filterNot(_ == group).sorted
    val ent = sumView("entity_id", df.schema("entity_id").dataType)
    val aggs = count(lit(1)) +: cols.toSeq.flatMap { c =>
      val v = sumView(c, df.schema(c).dataType)
      Seq(count(v), sum(v), sum((ent % 997) * (v % 991)))
    }
    val keyed = if (df.columns.contains(group)) df.groupBy(col(group)) else df.groupBy()
    val out = keyed.agg(aggs.head, aggs.tail: _*).collect()
    val nk = if (df.columns.contains(group)) 1 else 0
    val groups = out.map { r =>
      val key = if (nk == 1) cell(r.get(0)) else "*"
      key + ":" + (nk until r.length).map(i => cell(r.get(i))).mkString(",")
    }.sorted
    val rows = out.map(_.getLong(nk)).sum
    (rows, s"S|${cols.mkString(",")}|${groups.mkString(";")}")
  }

  /** The fault injected by the benchmark's own test: a result that is
    * wrong by one in its first value. */
  private def corrupt(p: String): String = {
    val m = "-?\\d+".r.findFirstMatchIn(p.split('|').last)
    m.map { x =>
      val at = p.lastIndexOf('|') + 1 + x.start
      p.substring(0, at) + (x.matched.toLong + 1) + p.substring(at + x.matched.length)
    }.getOrElse(p + "x")
  }

  /** One registration: a fresh store with every input registered.
    * Returns the store, its seconds, and the seconds of each write. */
  private def register(rep: Int): (FeatureStore, Double, Seq[Double]) = {
    val t0 = System.nanoTime
    val store = new FeatureStore(spark, new File(dir, s"store$rep").getPath,
      maxVersions = maxVersions)
    val each = setupOps.map { op =>
      val r = exec(store, op, "setup")
      if (!r.ok) {
        System.err.println(s"[fsbench] set-up ${op.kind} of ${op.str("table")} failed: ${r.payload}")
        sys.exit(3)
      }
      r.buildNs / 1e9
    }
    (store, (System.nanoTime - t0) / 1e9, each)
  }

  /** Closed loop: one caller, each call waits for the previous result. */
  private def loop(store: FeatureStore, from: Int, seconds: Double,
      phase: String): (Seq[Result], Int, Double) = {
    val out = ArrayBuffer.empty[Result]
    val t0 = System.nanoTime
    val deadline = t0 + (seconds * 1e9).toLong
    var i = from
    while (System.nanoTime < deadline && (cycle || i < timedOps.size)) {
      out += exec(store, timedOps(i % timedOps.size), phase)
      i += 1
    }
    if (!cycle && i >= timedOps.size)
      System.err.println(s"[fsbench] $phase: operation list exhausted after ${out.size} operations")
    (out.toSeq, i, (System.nanoTime - t0) / 1e9)
  }

  def run(seconds: Double, trace: Boolean, reps: Int, sessionS: Double): Unit = {
    SelfCheck.asOfStrategy(spark, workload, dir)
    // set-up is repeated so its median is steady; the inputs are
    // registered into a fresh store each time and the last one is kept
    val sets = (1 to reps).map { r =>
      val s = register(r)
      if (r < reps) FsStats.delete(new File(dir, s"store$r").toPath)
      s
    }
    val store = sets.last._1
    val root = new File(dir, s"store$reps").toPath
    val w0 = System.nanoTime
    val warm = warmOps.map(exec(store, _, "warm"))
    val warmS = (System.nanoTime - w0) / 1e9
    // the footprints are taken at this fixed point of the operation list,
    // so they do not depend on how far the timed loop gets; the live heap
    // is what the Spark driver still holds after a full collection
    val storeBytes = FsStats.scan(root).values.sum
    System.gc()
    val heapLiveMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val cpu0 = osBean.getProcessCpuTime
    // a traced run reports layer metrics only, so it skips the timed loop
    val (timed, next, wall) =
      if (trace) (Seq.empty[Result], 0, 0.0) else loop(store, 0, seconds, "timed")
    val cpuMs = (osBean.getProcessCpuTime - cpu0) / 1e6

    // traced run: the traced loop sits between two untraced halves
    // (ABBA), so a steady drift over the run cancels out of the overhead
    val traced =
      if (!trace) Seq.empty[Result]
      else {
        val (pre, n1, _) = loop(store, next, seconds / 2, "untraced")
        val t = new Tracer(spark, root)
        t.attach()
        tracer = Some(t)
        val (rs, n2, _) = loop(store, n1, seconds, "traced")
        tracer = None
        t.detach()
        t.report(rs, dir)
        val (post, _, _) = loop(store, n2, seconds / 2, "untraced")
        pre ++ rs ++ post
      }

    val all = warm ++ timed ++ traced
    val pw = new PrintWriter(new File(dir, "results.tsv"), "UTF-8")
    try all.foreach { r =>
      pw.println(Seq(r.phase, r.op.id, r.op.kind, if (r.op.isWrite) "w" else "r",
        if (r.ok) "ok" else "fail", (r.buildNs + r.execNs).toString,
        r.cpuNs.toString, r.rows.toString, r.version.toString, r.payload)
        .mkString("\t"))
    } finally pw.close()

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    Mapper.writeValue(new File(dir, "summary.json"), Map(
      "workload" -> workload,
      "session_s" -> sessionS,
      "setup_rep_s" -> sets.map(_._2),
      "setup_write_s" -> sets.map(_._3),
      "warm_s" -> warmS,
      "timed_wall_s" -> wall,
      "timed_cpu_ms" -> cpuMs,
      "heap_live_mb" -> heapLiveMb,
      "store_bytes" -> storeBytes,
      "spark_version" -> spark.version,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "conf" -> conf.toMap))
  }
}

/** Sizes of the regular files under a directory, by relative path. */
object FsStats {
  def scan(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}

/** The session the benchmark measures: `graft.Bench`'s configuration,
  * with every scratch directory inside the run's own checkout. */
object Session {
  def build(cpus: Int, scratch: File): SparkSession = {
    scratch.mkdirs()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("fsbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "131072")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "65536")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(scratch, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .getOrCreate()
  }
}

/** Set-up self-check: the session must plan graft's as-of operator.
  * `FeatureStore.getTrainingSet` plans the window formulation, so the
  * check plans the native as-of join over the workload's own spine and
  * table, and fails the run when `AsOfJoinExec` is absent (a session
  * without `spark.sql.extensions=graft.GraftExtensions`). */
object SelfCheck {
  def asOfStrategy(spark: SparkSession, workload: String, dir: File): Unit = {
    if (workload != "train_asof") return
    val read = (f: String) => spark.read.parquet(new File(dir, f).getPath)
    val joined = graft.store.PointInTime.asOfJoinNative(
      read("train_spine0.parquet"), read("tx_base.parquet"))
    val plan = joined.queryExecution.executedPlan.toString
    if (!plan.contains("AsOfJoin")) {
      System.err.println("[fsbench] self-check failed: no graft as-of operator in the plan:\n" + plan)
      sys.exit(4)
    }
  }
}
