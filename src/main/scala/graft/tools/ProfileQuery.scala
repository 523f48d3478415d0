package graft.tools

import graft.{Sessions, SparkEntry}
import graft.trace.JobTrace
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev measurement tool (guide §1): run named queries once (after a
  * warm-up rep) and print every Spark job's wall time + the dead time
  * between jobs — the fixed-overhead breakdown the LSM/streaming rows
  * need (their cost is per-job overhead, not data) — and how many
  * classes the measured rep compiled and in how many seconds (0 for
  * most queries once the warm-up rep has filled the codegen cache; see
  * Sessions). The jobs and gaps are one `JobTrace` window per query,
  * the same measurement Bench's "jobs"/"gap_secs" come from.
  * Usage: runMain graft.tools.ProfileQuery <sfDir> <query> [query...] */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Sessions.local("graft-profile")
    def release(): Unit = {
      graft.queries.QueryCaches.releaseAll()
      graft.queries.Scratch.purge()
    }
    // warm up JIT/codegen on the same shapes
    args.tail.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      release()
    }
    val trace = new JobTrace(spark)
    args.tail.foreach { name =>
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val (total, w) = trace.window {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
      println(s"===== $name total=${f"$total%.3f"} s, ${w.jobs.size} jobs =====")
      w.jobs.zip(w.gapsMs).foreach { case (j, gap) =>
        if (gap > 30) println(f"  [gap ${gap / 1000.0}%6.3f s]")
        println(f"  job ${j.id}%3d ${(j.endMs - j.startMs) / 1000.0}%7.3f s  ${j.site.take(120)}")
      }
      val jobSum = w.jobs.map(j => j.endMs - j.startMs).sum
      println(f"  == jobs ${jobSum / 1000.0}%.3f s (sum), inter-job gaps ${w.gapsMs.sum / 1000.0}%.3f s, wall $total%.3f s")
      println(f"  == codegen $compiled classes compiled in $compileS%.3f s")
      release()
    }
    spark.stop()
  }
}
