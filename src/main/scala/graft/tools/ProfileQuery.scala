package graft.tools

import graft.{Sessions, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev measurement tool (guide §1): run named queries once (after a
  * warm-up rep) and print every Spark job's wall time + the dead time
  * between jobs — the fixed-overhead breakdown the LSM/streaming rows
  * need (their cost is per-job overhead, not data) — and how many
  * classes the measured rep compiled and in how many seconds (0 for
  * most queries once the warm-up rep has filled the codegen cache; see
  * Sessions).
  * Usage: runMain graft.tools.ProfileQuery <sfDir> <query> [query...] */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Sessions.local("graft-profile")
    // A/B knob: GRAFT_PROFILE_CONF="k=v;k=v" applied to the session
    // before the runs — measurement experiments only, never shipped.
    sys.env.get("GRAFT_PROFILE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
      System.err.println(s"[profile] conf ${k.trim}=${v.trim}")
    })
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.lastOption.map(_.name)).getOrElse("?")
        jobs.put(js.jobId, (js.time, desc.take(120)))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, d) =>
          done.add((je.jobId, t0, je.time, d))
        }
      }
    })
    // warm up JIT/codegen on the same shapes
    args.tail.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      graft.queries.QueryCaches.releaseAll()
      graft.queries.Scratch.purge()
    }
    args.tail.foreach { name =>
      done.clear()
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      val total = (System.nanoTime() - t0) / 1e9
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
      Thread.sleep(300) // let listener events drain
      import scala.jdk.CollectionConverters._
      val evs = done.asScala.toSeq.sortBy(_._2)
      println(s"===== $name total=${f"$total%.3f"} s, ${evs.size} jobs =====")
      var cursor = w0
      var jobSum = 0L
      var gapSum = 0L
      evs.foreach { case (id, s0, s1, d) =>
        val gap = s0 - cursor
        if (gap > 30) println(f"  [gap ${gap / 1000.0}%6.3f s]")
        gapSum += math.max(0, gap)
        println(f"  job $id%3d ${(s1 - s0) / 1000.0}%7.3f s  $d")
        jobSum += (s1 - s0)
        cursor = math.max(cursor, s1)
      }
      println(f"  == jobs ${jobSum / 1000.0}%.3f s (sum), inter-job gaps ${gapSum / 1000.0}%.3f s, wall $total%.3f s")
      println(f"  == codegen $compiled classes compiled in $compileS%.3f s")
      graft.queries.QueryCaches.releaseAll()
      graft.queries.Scratch.purge()
    }
    spark.stop()
  }
}
