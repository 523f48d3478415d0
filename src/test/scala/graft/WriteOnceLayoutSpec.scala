package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The write-once law of every file-backed warehouse layout in `Tables`:
  * a layout is written only while its location lacks the `_SUCCESS`
  * marker. A repeat call must leave the location untouched (same file
  * names, same mtimes); once the marker is gone, the next call must
  * rewrite that location and only that one.
  */
class WriteOnceLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private val builders: Seq[(String, () => Seq[DataFrame])] = Seq(
    "datePartitioned" -> (() => Seq(Tables.datePartitioned(spark, dir))),
    "zordered" -> (() => Seq(Tables.zordered(spark, dir))),
    "codecEvents" -> (() => Seq(Tables.codecEvents(spark, dir, "csv"))),
    "eventsDailyMv" -> (() => Seq(Tables.eventsDailyMv(spark, dir))),
    "minhashIndex" -> { () =>
      val (b, s) = Tables.minhashIndex(spark, dir); Seq(b, s) },
    "minhashIndexBase" -> { () =>
      val (b, s) = Tables.minhashIndexBase(spark, dir); Seq(b, s) },
    "gramIndex" -> (() => Seq(Tables.gramIndex(spark, dir))),
    "eraDim" -> (() => Seq(Tables.eraDim(spark))))

  /** The directory each returned relation scans. */
  private def locations(dfs: Seq[DataFrame]): Seq[Path] = dfs.map { df =>
    val roots = TestSpark.scanRoots(df)
    assert(roots.size === 1, s"expected one scanned location, got $roots")
    Paths.get(java.net.URI.create(roots.head))
  }

  /** Every file under `loc` (relative name → mtime in ns). */
  private def snapshot(loc: Path): Map[String, Long] = {
    val walk = Files.walk(loc)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => loc.relativize(p).toString ->
        Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS))
      .toMap
    finally walk.close()
  }

  for ((name, build) <- builders)
    test(s"$name writes once: a repeat call is a no-op; a lost _SUCCESS rewrites") {
      val locs = locations(build())
      val before = locs.map(snapshot)
      assert(before.forall(_.contains("_SUCCESS")))
      locations(build()): Unit
      val untouched = locs.map(snapshot) == before
      assert(untouched, s"$name rewrote a layout whose _SUCCESS marker was present")
      for (i <- locs.indices) {
        val prior = locs.map(snapshot)
        Files.delete(locs(i).resolve("_SUCCESS"))
        locations(build()): Unit
        val after = locs.map(snapshot)
        val rewritten = after(i).contains("_SUCCESS") && after(i) != prior(i)
        assert(rewritten,
          s"$name did not rewrite ${locs(i)} after its _SUCCESS was deleted")
        for (j <- locs.indices if j != i) {
          val kept = after(j) == prior(j)
          assert(kept, s"$name rewrote ${locs(j)} whose _SUCCESS was present")
        }
      }
    }
}
