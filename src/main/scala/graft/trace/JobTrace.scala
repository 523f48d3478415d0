package graft.trace

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One listener on a session's bus that measures one window at a time.
  * Per job it sums task-end input bytes/rows and spill, so the eager
  * jobs of pinned subplans and the `foreachBatch` jobs of a stream
  * count, not just the final plan's leaf scans. A window ends with an
  * exact drain: the listener bus is FIFO, so once a marker job (run
  * after the measured body, tagged by a local property and excluded)
  * has been delivered, so has every event of the body's jobs. */
final class JobTrace(spark: SparkSession) {
  import JobTrace._
  private val sc = spark.sparkContext
  private val markerId = java.util.UUID.randomUUID.toString
  private val markerSeen = new Semaphore(0)

  private final class Open(val start: Long, val site: String) {
    var inBytes = 0L; var inRows = 0L; var spill = 0L
  }
  private val open = new ConcurrentHashMap[Int, Open]()
  private val stageJob = new ConcurrentHashMap[Int, Open]()
  private val ended = new ConcurrentLinkedQueue[Job]()

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val prop = (k: String) => Option(js.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop(MarkerKey).contains(markerId)) markerSeen.release()
      else if (prop(MarkerKey).isEmpty) {
        // the job's call site: its description, else its result stage's name
        val site = prop("spark.job.description")
          .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        val j = new Open(js.time, site.getOrElse("?"))
        open.put(js.jobId, j)
        js.stageIds.foreach(stageJob.put(_, j))
      }
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val (m, j) = (te.taskMetrics, stageJob.get(te.stageId))
      if (m != null && j != null) {
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val j = open.remove(je.jobId)
      if (j != null) {
        stageJob.values().removeIf(_ eq j)
        ended.add(Job(je.jobId, j.start, je.time, j.site, j.inBytes, j.inRows, j.spill))
      }
    }
  }
  sc.addSparkListener(listener)

  /** Runs `body` and returns its value with the window of the jobs that
    * started during it and ended before it returned (an abandoned async
    * job that ends later is not in it). The drain runs after `body`, so
    * a timing taken inside `body` excludes it. */
  def window[A](body: => A): (A, Window) = {
    ended.clear()
    val w0 = System.currentTimeMillis()
    val out = body
    sc.setLocalProperty(MarkerKey, markerId)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    if (!markerSeen.tryAcquire(60, TimeUnit.SECONDS))
      throw new IllegalStateException("the trace marker job was not delivered in 60 s")
    val jobs = ended.asScala.filter(_.startMs >= w0).toSeq.sortBy(j => (j.startMs, j.id))
    (out, Window(w0, jobs))
  }

  def detach(): Unit = sc.removeSparkListener(listener)
}

object JobTrace {
  private val MarkerKey = "graft.trace.marker"

  final case class Job(id: Int, startMs: Long, endMs: Long, site: String,
      inputBytes: Long, inputRows: Long, spillBytes: Long)

  /** The Spark jobs one window (a query's action) started and ended, in
    * start order, each with its task-summed input and spill. */
  final case class Window(startMs: Long, jobs: Seq[Job]) {
    def inputBytes: Long = jobs.map(_.inputBytes).sum
    def inputRows: Long = jobs.map(_.inputRows).sum
    def spillBytes: Long = jobs.map(_.spillBytes).sum

    /** Driver dead time before each job: a cursor walks from the
      * window's start, so overlapping jobs never count as gap. */
    def gapsMs: Seq[Long] = jobs.scanLeft((startMs, 0L)) { case ((cursor, _), j) =>
      (math.max(cursor, j.endMs), math.max(0L, j.startMs - cursor))
    }.tail.map(_._2)
  }

  /** One window on a listener attached for just that window. */
  def once[A](spark: SparkSession)(body: => A): (A, Window) = {
    val t = new JobTrace(spark)
    try t.window(body) finally t.detach()
  }
}
