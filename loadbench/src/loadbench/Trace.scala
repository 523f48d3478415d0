package loadbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Listens on Spark's public listener buses while a traced pass runs.
  * Each job is tagged with the query, pass and layer (build, plan, exec,
  * cleanup) that were current on the submitting thread: local properties
  * are inherited by the threads a query starts, so `foreachBatch` jobs
  * of a stream carry the build tag of the `QueryDef.run` that started
  * it. Task metrics are summed per job, so pinned and inner jobs count. */
final class Trace(spark: SparkSession, rec: Records) {
  private val sc = spark.sparkContext
  @volatile private var current: String = null

  private val QueryKey = "loadbench.query"
  private val PassKey = "loadbench.pass"
  private val PhaseKey = "loadbench.phase"

  def tag(query: String, pass: Int, phase: String): Unit = {
    sc.setLocalProperty(QueryKey, query)
    sc.setLocalProperty(PassKey, pass.toString)
    sc.setLocalProperty(PhaseKey, phase)
    current = query
  }

  def untag(): Unit = {
    Seq(QueryKey, PassKey, PhaseKey).foreach(sc.setLocalProperty(_, null))
    current = null
  }

  def drain(): Unit = org.apache.spark.loadbench.Drain(sc)

  def attach(): Unit = {
    sc.addSparkListener(jobs)
    spark.streams.addListener(batches)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(jobs)
    spark.streams.removeListener(batches)
  }

  private final class JobSum(val id: Int, val start: Long,
      val props: java.util.Properties, val site: String) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRows = 0L; var outBytes = 0L
    var shrBytes = 0L; var shwBytes = 0L; var spillBytes = 0L
  }

  private val jobs = new SparkListener {
    private val open = new ConcurrentHashMap[Int, JobSum]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties).getOrElse(new java.util.Properties)
      // the job's call site: its description, else its result stage's name
      val site = Option(props.getProperty("spark.job.description"))
        .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .orNull
      open.put(js.jobId, new JobSum(js.jobId, js.time, props, site))
      js.stageIds.foreach(s => stageJob.put(s, js.jobId))
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      val j = Option(stageJob.get(te.stageId)).map(open.get(_)).orNull
      if (m != null && j != null) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.shrBytes += m.shuffleReadMetrics.totalBytesRead
        j.shwBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val j = open.remove(je.jobId)
      if (j != null) {
        def mb(b: Long): Double = b / 1048576.0
        rec.add("kind" -> "job", "job" -> j.id,
          "query" -> j.props.getProperty(QueryKey),
          "pass" -> j.props.getProperty(PassKey),
          "phase" -> j.props.getProperty(PhaseKey),
          "site" -> j.site,
          "start_ms" -> j.start.toDouble, "end_ms" -> je.time.toDouble,
          "tasks" -> j.tasks, "run_s" -> j.runMs / 1e3,
          "cpu_s" -> j.cpuNs / 1e9, "gc_s" -> j.gcMs / 1e3,
          "in_mb" -> mb(j.inBytes), "in_rows" -> j.inRows,
          "out_mb" -> mb(j.outBytes), "shr_mb" -> mb(j.shrBytes),
          "shw_mb" -> mb(j.shwBytes), "spill_mb" -> mb(j.spillBytes))
      }
    }
  }

  private val batches = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      rec.add("kind" -> "batch", "query" -> current, "batch_id" -> p.batchId,
        "rows" -> p.numInputRows,
        "durations_ms" -> p.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue() }.toMap)
    }
  }
}
