package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** One SparkSession for the whole forked test JVM (suites run
  * sequentially under sbt's forked runner). Built by the same factory
  * as Verify/Bench so tests exercise production conf (UTC, AQE,
  * nanosAsLong, graft extensions). */
object TestSpark {
  lazy val spark: SparkSession = {
    sys.props.put("SPARK_GRAFT_CPUS", "4")
    Sessions.local("graft-test")
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** Recursive delete of a test scratch path (deepest-first walk,
    * stream closed — the Scratch.purge contract, shared by the GC
    * laws in StreamIndexDedupSpec and GramAppendSpec). */
  def rmr(p: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** Every `fold=<n>` segment or `.fold=<n>.staging` leftover at any
    * depth under `dirs` — the no-fold laws of StreamIndexDedupSpec and
    * GramAppendSpec assert a folding-off run leaves none. */
  def foldSegmentsUnder(dirs: Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val fold = """\.?fold=-?\d+(\.staging)?""".r
    dirs.map(java.nio.file.Paths.get(_))
      .filter(java.nio.file.Files.exists(_)).flatMap { root =>
        val walk = java.nio.file.Files.walk(root)
        try walk.iterator().asScala
          .filter(p => java.nio.file.Files.isDirectory(p) &&
            fold.matches(p.getFileName.toString))
          .map(_.toString).toList
        finally walk.close()
      }
  }

  /** The root path of every file relation `df`'s optimized plan scans. */
  def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten

  /** The FINAL section of an executed AQE plan string. AQE's toString
    * prints "== Final Plan ==" followed by "== Initial Plan ==", and
    * the Initial section legitimately contains shapes (e.g. an SMJ
    * later demoted to broadcast) that plan-shape assertions forbid —
    * asserting on the raw string checks the wrong plan. Call after the
    * df has been executed. */
  def finalPlan(df: DataFrame): String = {
    val p = df.queryExecution.executedPlan.toString
    p.indexOf("== Initial Plan ==") match {
      case -1 => p
      case i => p.substring(0, i)
    }
  }
}
