package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.operators.{DedupOps, GraphOps, VectorOps}

/** JVM side of the benchmark: one client thread issues workload keys
  * one at a time into one SparkSession (a closed loop), times each
  * call into the program from the outside, and writes a raw run record
  * as JSON. All statistics are computed by `run.py` from that record.
  *
  * {{{
  * Harness run <out.json> <sfDir> <seed> <seconds> <passCount> <trace 0|1> <key,key,...>
  * }}}
  *
  * `run` prints `READY` on stdout once the session is built and the
  * workload is warm; the caller charges process start → READY to set-up.
  */
object Harness {

  /** Spark local property carrying the benchmark span a job belongs to:
    * set on the client thread before each key's build call and action, so
    * every job that call submits (eager latches included) names it. */
  val SpanProp = "perfbench.span"

  def main(args: Array[String]): Unit = args match {
    case Array("run", out, sf, seed, seconds, passCount, trace, keys) =>
      run(out, sf, seed.toLong, seconds.toDouble, passCount.toInt, trace == "1",
        keys.split(",").toSeq)
    case _ =>
      System.err.println("usage: Harness run ... (see the scaladoc)")
      sys.exit(2)
  }

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val scratch = sys.props("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** drop cached relations and every session memo the program exposes */
  def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    GraphOps.clearMemos(spark)
    DedupOps.clearMemos(spark)
    VectorOps.clearMemos(spark)
  }

  /** Order-independent digest over ALL output columns: row count plus
    * the decimal sum of a per-row xxhash64. Unlike count() it keeps
    * every projected column alive, so the timed action computes the
    * whole result. Map columns go through to_json (xxhash64 rejects
    * maps). The schema is part of the digest. */
  def digest(df: DataFrame): (Long, String) = {
    val n = df.schema.length
    val t = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cols: Seq[Column] = t.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = t.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val rows = r.getLong(0)
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val schema = java.util.HexFormat.of().formatHex(
      java.security.MessageDigest.getInstance("MD5")
        .digest(df.schema.catalogString.getBytes(StandardCharsets.UTF_8)))
      .take(12)
    (rows, s"$rows:$s:$schema")
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  // ---------------------------------------------------------------- spans

  /** Wall clock in epoch milliseconds with sub-ms resolution, on the
    * same time base as Spark's listener event times. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final class Span(val id: String, val parent: String, val kind: String,
      val name: String, val pass: Int, val start: Double) {
    @volatile var end: Double = Double.NaN
    val attrs = new ConcurrentHashMap[String, Any]()
  }

  /** In-memory span store, written out once when the run ends. */
  final class Spans {
    private val all = new ConcurrentLinkedQueue[Span]()
    private val ids = new AtomicLong
    def open(kind: String, name: String, parent: Span, pass: Int): Span = {
      val s = new Span(s"h${ids.incrementAndGet()}",
        if (parent == null) null else parent.id, kind, name, pass, nowMs)
      all.add(s)
      s
    }
    def closed(id: String, parent: String, kind: String, name: String,
        start: Double, end: Double): Span = {
      val s = new Span(id, parent, kind, name, -1, start)
      s.end = end
      all.add(s)
      s
    }
    def toSeq: Seq[Span] = all.asScala.toSeq
  }

  /** Records job and stage spans plus per-stage task counters. A job's
    * parent is the span named by [[SpanProp]] when it was submitted. */
  final class SchedulerListener(spans: Spans) extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, (String, Double)]()
    private val stageJob = new ConcurrentHashMap[Int, String]()
    private val taskSums =
      new ConcurrentHashMap[(Int, Int), Array[Long]]()
    private val counters = Array("tasks", "run_ms", "cpu_ms", "gc_ms",
      "task_delay_ms", "shuffle_write_bytes", "shuffle_write_rows",
      "shuffle_read_bytes", "shuffle_fetch_wait_ms", "spill_bytes",
      "input_bytes", "input_rows")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).map(_.getProperty(SpanProp)).orNull
      jobs.put(e.jobId, (parent, e.time.toDouble))
      e.stageIds.foreach(stageJob.put(_, s"j${e.jobId}"))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (parent, start) =>
        spans.closed(s"j${e.jobId}", parent, "job", s"job ${e.jobId}",
          start, e.time.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = taskSums.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new Array[Long](counters.length))
        val v = Array(1L, m.executorRunTime, m.executorCpuTime / 1000000L,
          m.jvmGCTime, e.taskInfo.duration - m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
        a.synchronized { v.indices.foreach(i => a(i) += v(i)) }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val start = i.submissionTime.getOrElse(0L).toDouble
      val end = i.completionTime.map(_.toDouble).getOrElse(start)
      val s = spans.closed(s"s${i.stageId}.${i.attemptNumber()}",
        stageJob.get(i.stageId), "stage", i.name, start, end)
      Option(taskSums.remove((i.stageId, i.attemptNumber()))).foreach { a =>
        counters.indices.foreach(k => s.attrs.put(counters(k), a(k)))
      }
    }
  }

  /** Records the analysis / optimization / planning phases of every
    * executed query from its QueryPlanningTracker. These spans carry no
    * parent: run.py places each inside the build or action span that
    * contains it in time (there is one client thread). */
  final class PhaseListener(spans: Spans) extends QueryExecutionListener {
    private val n = new AtomicLong
    private def record(qe: QueryExecution): Unit = {
      val q = n.incrementAndGet()
      qe.tracker.phases.foreach { case (phase, p) =>
        spans.closed(s"q$q.$phase", null, s"catalyst.$phase", phase,
          p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  // ------------------------------------------------------------------ run

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(out: String, sf: String, seed: Long,
      seconds: Double, passCount: Int, trace: Boolean, keys: Seq[String]): Unit = {
    val tStart = System.nanoTime()
    val spark = session()
    val sc = spark.sparkContext
    val tSession = System.nanoTime()
    val fns = keys.map(k => k -> SparkEntry.queries(k)).toMap
    val spans = new Spans
    val samples = Seq.newBuilder[Map[String, Any]]
    val passes = Seq.newBuilder[Map[String, Any]]

    def runKey(k: String, dir: String, pass: Int, parent: Span): Map[String, Any] = {
      val key = if (parent == null) null else spans.open("key", k, parent, pass)
      def child(kind: String): Span =
        if (key == null) null else spans.open(kind, k, key, pass)
      def close(s: Span): Unit = if (s != null) s.end = nowMs
      val builds0 = GraphOps.memoBuilds.get()
      val t0 = System.nanoTime()
      var t1 = t0
      val build = child("operators.build")
      var action: Span = null
      var built = false
      sc.setLocalProperty(SpanProp, if (build == null) null else build.id)
      val result: Map[String, Any] = try {
        val df = fns(k)(spark, dir)
        t1 = System.nanoTime()
        close(build)
        built = true
        action = child("action")
        sc.setLocalProperty(SpanProp, if (action == null) null else action.id)
        val (rows, dg) = digest(df)
        close(action)
        Map("rows" -> rows, "digest" -> dg, "error" -> null)
      } catch {
        case NonFatal(e) =>
          // close only the span that was still open when the key threw
          if (built) close(action) else { t1 = System.nanoTime(); close(build) }
          // a failure can leave a half-built memo behind; drop it so the
          // next key is timed against the state it would normally see
          clearState(spark)
          Map("rows" -> 0L, "digest" -> null,
            "error" -> s"${e.getClass.getName}: ${e.getMessage}")
      } finally sc.setLocalProperty(SpanProp, null)
      val t2 = System.nanoTime()
      close(key)
      result ++ Map("key" -> k, "pass" -> pass,
        "build_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1) / 1e9,
        "wall_s" -> (t2 - t0) / 1e9,
        "memo_builds" -> (GraphOps.memoBuilds.get() - builds0),
        "memo_build_s" -> GraphOps.drainMemoBuildTimes())
    }

    // ---- set-up: one untimed pass pays codegen, JIT and first reads
    val warmPass = keys.map(k => runKey(k, sf, -1, null))
    clearState(spark)
    GraphOps.drainMemoBuildTimes()
    System.gc()
    val setup = Map("session_s" -> (tSession - tStart) / 1e9,
      "warm_pass_s" -> (System.nanoTime() - tSession) / 1e9)
    println("READY")
    System.out.flush()

    // ---- measured passes, closed loop, until the time budget is spent
    val sched = new SchedulerListener(spans)
    val phases = new PhaseListener(spans)
    val rng = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    val root = if (trace) spans.open("workload", "workload", null, -1) else null
    var p = 0
    // At least `passCount` passes, the workload's count, chosen so that a
    // run of --seconds makes that many and no more: a run that sometimes
    // makes one pass more reads bimodal. A traced run makes at least
    // five: pass 0 untraced, then traced, untraced, untraced, traced
    // (repeating). Traced minus untraced pass time, the tracing
    // overhead, then compares passes balanced in time, and run.py
    // leaves pass 0 out of it.
    val minPasses = if (trace) passCount.max(5) else passCount
    while (p < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && p > 0 && Set(0, 3)((p - 1) % 4)
      if (traced) {
        sc.addSparkListener(sched)
        spark.listenerManager.register(phases)
      }
      val order = rng.shuffle(keys)
      val gc0 = gcMs
      heapPools.foreach(_.resetPeakUsage())
      val pass = if (traced) spans.open("pass", s"pass $p", root, p) else null
      val cpu0 = processCpuNs
      val ps = System.nanoTime()
      val rs = order.map(k => runKey(k, sf, p, pass))
      val wall = (System.nanoTime() - ps) / 1e9
      val cpu = (processCpuNs - cpu0) / 1e9
      if (pass != null) pass.end = nowMs
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val memMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
      if (traced) {
        org.apache.spark.graft.ListenerBusDrain.drain(sc)
        spark.listenerManager.unregister(phases)
        sc.removeSparkListener(sched)
      }
      val gc = gcMs - gc0
      clearState(spark)
      val leftover = sc.getPersistentRDDs.size
      System.gc()
      samples ++= rs
      passes += Map("pass" -> p, "traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> cpu,
        "keys" -> order, "jvm_gc_ms" -> gc, "heap_peak_mb" -> heapPeak,
        "storage_mem_mb_pass_end" -> memMb,
        "storage_rdds_after_clear" -> leftover)
      p += 1
    }
    if (root != null) root.end = nowMs
    val measured = (System.nanoTime() - t0) / 1e9
    val record = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "measured_s" -> measured, "peak_rss_mb" -> peakRssMb, "setup" -> setup,
      "warm_pass" -> warmPass, "passes" -> passes.result(),
      "samples" -> samples.result(),
      "spans" -> spans.toSeq.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "pass" -> s.pass, "start" -> s.start,
          "end" -> s.end, "attrs" -> s.attrs.asScala.toMap)
      })
    Files.writeString(Paths.get(out), Serialization.write(record)(DefaultFormats))
    spark.stop()
  }
}
