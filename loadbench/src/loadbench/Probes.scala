package loadbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Measurements taken beside the timed passes of a traced run. */
object Probes {

  /** What a query left behind after its cleanup: cached storage, RDD
    * blocks and entries in the run's temp root. */
  def storageLeft(sc: SparkContext): Map[String, Any] = {
    val rdds = sc.getRDDStorageInfo
    Map(
      "storage_mb_left" -> rdds.map(r => r.memSize + r.diskSize).sum / 1048576.0,
      "rdd_blocks_left" -> rdds.map(_.numCachedPartitions.toLong).sum,
      "tmp_entries" -> tmpEntries)
  }

  def tmpEntries: Int = Option(
    new java.io.File(System.getProperty("java.io.tmpdir")).list())
    .map(_.length).getOrElse(0)

  /** Per-kernel SQL expression and the identity projection over the
    * same columns whose time is subtracted. Array-valued kernels are
    * reduced through `size` on both sides. */
  private val kernels: Seq[(String, String, String)] = Seq(
    ("dotq", "dotq(a, b)", "size(a) + size(b)"),
    ("l2q", "l2q(a, b)", "size(a) + size(b)"),
    ("simhash64", "size(simhash64(text))", "length(text)"),
    ("sorted_icount", "sorted_icount(s1, s2)", "size(s1) + size(s2)"),
    ("bpe_merge", "size(bpe_merge(syms, 'a', 'b'))", "size(syms)"))

  private val Reps = 5

  /** Times each native kernel through its SQL name over a fixed seeded
    * input, with whole-stage codegen on, and records ns per row net of
    * the identity projection (median of `Reps` alternating pairs). */
  def kernels(spark: SparkSession, rec: Records, rows: Int): Unit = {
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    def vec(seed: Int) = "transform(sequence(0, 63), i -> CAST(" +
      s"(pmod(hash(id, i, $seed), 2001) - 1000) / 1000.0 AS FLOAT))"
    def words(n: Int, vocab: Int, prefix: String, seed: Int) =
      s"transform(sequence(0, ${n - 1}), i -> concat('$prefix', " +
        s"CAST(pmod(hash(id, i, $seed), $vocab) AS STRING)))"
    val input = spark.range(rows).selectExpr(
      s"${vec(1)} AS a", s"${vec(2)} AS b",
      s"concat_ws(' ', ${words(30, 400, "w", 3)}) AS text",
      s"sort_array(array_distinct(${words(20, 60, "g", 4)})) AS s1",
      s"sort_array(array_distinct(${words(20, 60, "g", 5)})) AS s2",
      "transform(sequence(0, 23), i -> " +
        "substr('abcd', CAST(pmod(hash(id, i, 6), 4) AS INT) + 1, 1)) AS syms")
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      input.count()
      def time(e: String): Double = {
        val t0 = System.nanoTime()
        input.selectExpr(s"sum($e) AS v").collect()
        (System.nanoTime() - t0).toDouble
      }
      def median(xs: Seq[Double]): Double = {
        val s = xs.sorted
        (s((s.size - 1) / 2) + s(s.size / 2)) / 2
      }
      kernels.foreach { case (name, k, id) =>
        time(k); time(id)
        val pairs = (1 to Reps).map(_ => (time(k), time(id)))
        val kNs = median(pairs.map(_._1))
        val idNs = median(pairs.map(_._2))
        rec.add("kind" -> "kernel", "name" -> name, "rows" -> rows,
          "kernel_ms" -> kNs / 1e6, "identity_ms" -> idNs / 1e6,
          "ns_per_row" -> (kNs - idNs) / rows)
      }
    } finally input.unpersist(blocking = true)
  }
}
