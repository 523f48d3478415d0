package graft.tools

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame

import graft.{Sessions, SparkEntry}

/** Canonical row rendering + SHA-256 for golden-hash regression checks
  * (SURVEY §5.B #1). The rendering must be version-stable: doubles as
  * raw IEEE bits, arrays with explicit brackets (Scala collection
  * toString differs across versions), nulls as \N. */
object Canon {
  def cell(x: Any): String = x match {
    case null => "\\N"
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(d).toString
    case f: java.lang.Float => cell(java.lang.Double.valueOf(f.doubleValue()))
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(cell).mkString("|"))

  def sha256(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Regenerates src/test/resources/golden/<sf>.json — run after any
  * INTENTIONAL semantic change, then review the diff like code:
  *   sbt "runMain graft.tools.GoldenGen /root/testdata/sf0.001 \
  *        src/test/resources/golden/sf0.001.json" */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val spark = Sessions.local("graft-golden")
    val entries = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val lines =
        try Canon.rows(fn(spark, sfDir))
        finally {
          // release any cache the query persisted (q93) and delete the
          // streaming queries' scratch dirs, as Verify does
          graft.queries.QueryCaches.releaseAll()
          graft.queries.Scratch.purge()
        }
      s"""  "$name": {"rows": ${lines.size}, "sha256": "${Canon.sha256(lines)}"}"""
    }
    Files.createDirectories(Paths.get(outFile).getParent)
    Files.writeString(Paths.get(outFile),
      entries.mkString("{\n", ",\n", "\n}\n"))
    println(s"[golden] wrote ${entries.size} entries to $outFile")
    spark.stop()
  }
}
