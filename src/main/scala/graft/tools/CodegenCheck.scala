package graft.tools

import graft.{Sessions, SparkEntry}

/** Dev tool: whole-stage-codegen audit for named queries. Prints each
  * WholeStageCodegen subtree's max generated-method bytecode size —
  * anything near 65535 bytes risks the silent fallback to interpreted
  * mode (JIT refuses >64 KB methods; Spark falls back when
  * spark.sql.codegen.hugeMethodLimit is exceeded), which is exactly the
  * failure mode a 64-aggregate pass like q32 could trip.
  * Usage: runMain graft.tools.CodegenCheck <sfDir> <query> [query...] */
object CodegenCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Sessions.local("graft-codegen-check")
    args.tail.foreach { name =>
      println(s"===== $name =====")
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // Execute first: under AQE the WholeStageCodegen nodes only
        // exist in the materialized final stage plans, not the initial
        // plan.
        df.queryExecution.toRdd.count()
        // codegenToSeq gives per-subtree generated code + CodeStats; we
        // reduce that to the audit signal (max method bytecode size).
        val full = df.queryExecution.debug.codegenToSeq()
        full.zipWithIndex.foreach { case ((subtree, _, codeStats), i) =>
          val head = subtree.linesIterator.find(_.nonEmpty).getOrElse("")
          println(f"subtree $i%2d maxMethodCodeSize=${codeStats.maxMethodCodeSize}%6d  $head")
        }
        println(s"total codegen subtrees: ${full.size}")
      } finally {
        // release what the query pinned and its scratch dirs, as Verify
        // does
        graft.queries.QueryCaches.releaseAll()
        graft.queries.Scratch.purge()
      }
    }
    spark.stop()
  }
}
