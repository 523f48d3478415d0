package loadbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, Sessions, Tables}
import graft.queries.{QueryCaches, Registry, Scratch}
import graft.tools.Canon

/** JVM side of the benchmark: one closed-loop client, queries one at a
  * time. It reads a plan written by `run.py`, records raw samples and
  * writes them, one JSON object a line, when the run ends. All
  * statistics are computed by `run.py` from those records.
  *
  * Every layer is timed from outside, around its public entry point:
  * `QueryDef.run` (build), `queryExecution.executedPlan` (plan),
  * `queryExecution.toRdd.count()` (exec), `QueryCaches.releaseAll` and
  * `Scratch.purge` (cleanup). Only the build, plan and exec calls are
  * inside a query's timed latency. */
object Main {
  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val rec = new Records
    var code = 0
    try new Run(plan, rec).run()
    catch {
      case NonFatal(e) =>
        rec.add("kind" -> "fatal", "error" -> Records.brief(e))
        code = 1
    } finally Files.write(Paths.get(plan("out")), rec.lines.asJava)
    sys.exit(code)
  }
}

/** `key=value` lines; lists are comma-separated, pass orders are
  * `;`-separated lists of mix indices. */
final class Plan(kv: Map[String, String]) {
  def apply(k: String): String = kv(k)
  def list(k: String): Seq[String] =
    kv.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
  def int(k: String): Int = kv(k).toInt
  def orders: Seq[Seq[Int]] =
    kv("orders").split(";").map(_.split(",").map(_.toInt).toSeq).toSeq
}

object Plan {
  def read(path: String): Plan = new Plan(
    Files.readAllLines(Paths.get(path)).asScala
      .filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap)
}

/** In-memory record buffer, rendered as JSON lines. */
final class Records {
  private val buf = ArrayBuffer.empty[String]
  def lines: Seq[String] = synchronized(buf.toSeq)
  def add(fields: (String, Any)*): Unit = {
    val s = fields.map { case (k, v) => s""""$k":${Records.json(v)}""" }
      .mkString("{", ",", "}")
    synchronized(buf += s)
  }
}

object Records {
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + Bench.jesc(s) + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }
  def brief(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").linesIterator.take(3)
        .mkString(" | ").take(500)
}

final class Run(plan: Plan, rec: Records) {
  // Epoch milliseconds with sub-millisecond resolution: listener
  // events carry System.currentTimeMillis, so every timestamp in the
  // records is on that clock.
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = os.getProcessCpuTime / 1e9

  private val mix = plan.list("mix")
  private val dataDir = plan("data_dir")
  private val traced = plan("trace") == "1"

  private def phase[A](name: String)(f: => A): A = {
    val t0 = nowMs
    val cpu0 = Bench.readProcCpu()
    try f
    finally rec.add("kind" -> "phase", "name" -> name, "start_ms" -> t0,
      "end_ms" -> nowMs,
      "steal_pct" -> Bench.stealPctOf(cpu0, Bench.readProcCpu()))
  }

  def run(): Unit = {
    val runCpu0 = Bench.readProcCpu()
    rec.add("kind" -> "start", "jvm_start_ms" ->
      ManagementFactory.getRuntimeMXBean.getStartTime.toDouble,
      "cpus" -> Sessions.cpus, "max_heap_mb" ->
      Runtime.getRuntime.maxMemory / 1048576.0)
    val missing = mix.filterNot(Registry.byName.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val spark = phase("session")(Sessions.local("loadbench"))
    // the row counts the mix's builders read, counted once before timing
    // like the catalog statistic they stand in for
    phase("ingest")(plan.list("ingest").foreach { t =>
      Tables.rowCount(spark, dataDir, t)
    })
    // the golden pass is the first warm-up pass: it runs every mix query
    // once at the timed scale
    phase("golden")(mix.foreach(golden(spark, _)))
    val trace = new Trace(spark, rec)
    val orders = plan.orders
    val warm = plan.int("warm_passes")
    phase("warmup")((0 until warm).foreach(p =>
      pass(spark, trace, p, orders(p % orders.size), warm = true,
        traceOn = false)))
    rec.add("kind" -> "timed_start", "ms" -> nowMs,
      "tmp_entries" -> Probes.tmpEntries, "box_probe_s" -> boxProbe())
    val t0 = nowMs
    var p = 0
    // Whole passes only, so every query has the same sample count. A
    // traced run alternates untraced and traced passes: the traced ones
    // give the per-layer numbers, and their ratio to the untraced ones
    // on either side the tracing overhead, free of the linear part of
    // the JIT's warm-up drift.
    while (p < plan.int("min_passes") ||
        nowMs - t0 < plan.int("seconds") * 1000.0) {
      pass(spark, trace, warm + p, orders((warm + p) % orders.size),
        warm = false, traceOn = traced && p % 2 == 1)
      p += 1
    }
    rec.add("kind" -> "timed_end", "ms" -> nowMs, "box_probe_s" -> boxProbe())
    if (traced) {
      phase("kernel_probe")(Probes.kernels(spark, rec,
        plan.int("kernel_rows")))
      plan.list("stream_probe").foreach { q =>
        phase("stream_probe")(streamProbe(spark, trace, q))
      }
    }
    rec.add("kind" -> "end", "steal_pct" ->
      Bench.stealPctOf(runCpu0, Bench.readProcCpu()))
    spark.stop()
  }

  /** One execution with the canonical row hash the golden file pins. */
  private def golden(spark: SparkSession, q: String): Unit = {
    val t0 = nowMs
    try {
      val lines = Canon.rows(Registry.byName(q).run(spark, dataDir))
      rec.add("kind" -> "golden", "query" -> q, "rows" -> lines.size,
        "sha256" -> Canon.sha256(lines), "wall_s" -> (nowMs - t0) / 1e3)
    } catch {
      case NonFatal(e) =>
        rec.add("kind" -> "golden", "query" -> q, "error" -> Records.brief(e))
    } finally cleanup()
  }

  private def cleanup(): Unit = { QueryCaches.releaseAll(); Scratch.purge() }

  /** Seconds the engine-independent capacity probe takes at the run's
    * parallelism, read as a diagnostic of the machine's speed. */
  private def boxProbe(): Double = Bench.cpuProbePar(Bench.probeParWidth)

  private def pass(spark: SparkSession, trace: Trace, p: Int,
      order: Seq[Int], warm: Boolean, traceOn: Boolean): Unit = {
    if (traceOn) trace.attach()
    val cpu0 = Bench.readProcCpu()
    val t0 = nowMs
    var cpu = 0.0
    order.foreach { i => cpu += execute(spark, trace, mix(i), p, warm, traceOn) }
    rec.add("kind" -> "pass", "pass" -> p, "warm" -> warm,
      "traced" -> traceOn, "start_ms" -> t0, "end_ms" -> nowMs,
      "cpu_s" -> cpu,
      "steal_pct" -> Bench.stealPctOf(cpu0, Bench.readProcCpu()))
    if (traceOn) trace.detach()
  }

  /** Times one query; returns the process CPU seconds of its timed
    * region. */
  private def execute(spark: SparkSession, trace: Trace, q: String,
      p: Int, warm: Boolean, traceOn: Boolean): Double = {
    val sc = spark.sparkContext
    def tag(phase: String): Double = {
      if (traceOn) trace.tag(q, p, phase)
      nowMs
    }
    val cpu0 = cpuS
    val b0 = tag("build")
    var marks = Seq.empty[Double]
    var rows = -1L
    var err: String = null
    var df: DataFrame = null
    try {
      df = Registry.byName(q).run(spark, dataDir)
      marks :+= tag("plan")
      df.queryExecution.executedPlan
      marks :+= tag("exec")
      rows = df.queryExecution.toRdd.count()
    } catch { case NonFatal(e) => err = Records.brief(e) }
    val e1 = nowMs
    val cpu = cpuS - cpu0
    tag("cleanup")
    if (traceOn) trace.drain()
    // live heap at the end of the query, with its pins and caches still
    // referenced: a full collection first, outside the timing
    System.gc()
    val heapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val c0 = nowMs
    cleanup()
    val c1 = nowMs
    if (traceOn) trace.untag()
    // what cleanup leaves while the query's result is still referenced:
    // pins QueryCaches does not track stay until the context cleaner
    // sees the plan collected
    val left = if (traceOn) Probes.storageLeft(sc) else Map.empty[String, Any]
    java.lang.ref.Reference.reachabilityFence(df)
    rec.add(Seq[(String, Any)]("kind" -> "exec", "query" -> q, "pass" -> p,
      "warm" -> warm, "traced" -> traceOn, "build_ms" -> b0,
      "plan_ms" -> marks.headOption.getOrElse(e1),
      "exec_ms" -> marks.lift(1).getOrElse(e1), "end_ms" -> e1,
      "cleanup_start_ms" -> c0, "cleanup_end_ms" -> c1, "rows" -> rows,
      "cpu_s" -> cpu, "heap_live_mb" -> heapMb,
      "error" -> err) ++ left: _*)
    cpu
  }

  /** One untimed and one traced execution of a streaming query, so the
    * micro-batch layer is measured on every traced run. */
  private def streamProbe(spark: SparkSession, trace: Trace, q: String): Unit = {
    val replay = graft.streaming.StreamingJobs.docsReplayDir(spark, dataDir)
    Tables.gramIndex(spark, dataDir)
    val replayBytes = {
      val walk = Files.walk(Paths.get(replay))
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally walk.close()
    }
    for (traceOn <- Seq(false, true)) {
      if (traceOn) trace.attach()
      trace.tag(q, -1, "build")
      val t0 = nowMs
      val rows = try Registry.byName(q).run(spark, dataDir)
        .queryExecution.toRdd.count()
        finally cleanup()
      trace.drain()
      trace.untag()
      if (traceOn) {
        rec.add("kind" -> "stream_probe", "query" -> q, "rows" -> rows,
          "replay_mb" -> replayBytes / 1048576.0, "start_ms" -> t0,
          "end_ms" -> nowMs)
        trace.detach()
      }
    }
  }
}
