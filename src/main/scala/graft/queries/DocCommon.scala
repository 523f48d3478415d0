package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** What the four document query families (TextQueries, BpeQueries,
  * CurationQueries, IngestQueries) share over `documents` (doc_id,
  * text, lang, source, n_chars — FIXTURES.md §1): the table load, the
  * tokenizers, the MinHash builders with their DuckDB twins, the
  * md5-range carves and the chunk grid.
  *
  * Cross-engine hash portability: Spark's `hash()` is Murmur3 and DuckDB's
  * `hash()` is a different algorithm, so every hash the oracle must
  * reproduce uses md5 hex strings (identical lowercase hex in both
  * engines, compared with binary collation). MinHash over md5-strings is
  * the same algorithm as MinHash over ints — min of a uniformly-ordered
  * hash family — just with lexicographic order on the hex.
  *
  * Determinism policy (graft.Policy): every aggregate in these families
  * is over integers or strings (counts, mins of hex) — order-independent
  * by construction; ratios are a single IEEE double division at the end.
  */
object DocCommon {

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** A document's real-token count — lower-cased, split on single
    * spaces, empty tokens dropped — as BIGINT: the per-doc `n_tok` of
    * q27/q46/q47/q54/q100/q115. */
  private[queries] def nTok: Column =
    expr("size(filter(split(lower(text), ' '), t -> length(t) > 0))")
      .cast(LongType)

  /** The 5-gram window rows of `d`'s text — ONE definition of the
    * token-window contract (lower-cased, split on single spaces, width
    * 5, space-joined; docs with fewer than 5 tokens yield none) for
    * q23's shingle table, the q110/q117 ingest families and the gram
    * index. One row per window position, NOT distinct: `keep` columns
    * ride along and the window column is named `as`. */
  private[queries] def gramRows(d: DataFrame, keep: Seq[String],
      as: String = "shingle"): DataFrame = {
    val cols = keep.map(col)
    d.select(cols :+ split(lower(col("text")), " ").as("toks"): _*)
      .filter(size(col("toks")) >= 5)
      .select(cols :+ explode(expr("transform(sequence(1, size(toks) - 4), " +
        "i -> concat_ws(' ', slice(toks, i, 5)))")).as(as): _*)
  }

  /** Distinct 5-gram shingle table over (doc_id [, keep...], text) —
    * q23's tokenization, shared by q23/q39/q115, q110 (both sides in
    * one pass), the write-once corpus index build, and q110b's batch
    * side. Per-doc distinctness is all MinHash/sizes/Jaccard need, so
    * splitting the corpus does not change any doc's shingle set. */
  private[graft] def shingleTable(d: DataFrame, keep: Seq[String]): DataFrame =
    gramRows(d, "doc_id" +: keep).distinct()

  /** Engine-mirrored MinHash machinery — ONE definition for both the
    * Spark and DuckDB halves of the hash contract so the two engines
    * (and the two consumers: q23/q39's 16-family 4×4 index and q110's
    * 8-family 2×4 batch index) cannot silently drift. Family i is the
    * min over the md5 hex digest rotated left by step·i chars; band b
    * is md5 of the '|'-joined rows of that band. */
  private[queries] def minhashAggs(nFam: Int, step: Int): Seq[Column] =
    (0 until nFam).map { i =>
      val p = step * i
      val fam =
        if (p == 0) col("h")
        else concat(substring(col("h"), p + 1, 32 - p),
          substring(col("h"), 1, p))
      min(fam).as(s"h$i")
    }

  private[queries] def bandArray(nBands: Int, rows: Int): Column = array(
    (0 until nBands).map(b => struct(
      lit(b).as("band_idx"),
      md5(concat_ws("|",
        (0 until rows).map(r => col(s"h${b * rows + r}")): _*)
        .cast(BinaryType)).as("band_val"))): _*)

  /** DuckDB mirrors of the two builders above. */
  private[queries] def oMinhashAggs(nFam: Int, step: Int): String =
    (0 until nFam).map { i =>
      val p = step * i
      val fam =
        if (p == 0) "h"
        else s"substring(h, ${p + 1}, ${32 - p}) || substring(h, 1, $p)"
      s"min($fam) AS h$i"
    }.mkString(", ")

  private[queries] def oBandSelects(nBands: Int, rows: Int, keyCols: String): String =
    (0 until nBands).map { b =>
      val cat = (0 until rows).map(r => s"h${b * rows + r}")
        .mkString(" || '|' || ")
      s"SELECT $keyCols, $b AS band_idx, md5($cat) AS band_val FROM sig"
    }.mkString("\n        UNION ALL ")

  /** q46's deterministic md5-range split rule (first hex digit of
    * md5(key): 0-b → train = 12/16, c-d → val, e-f → test) — ONE
    * definition shared by q46, q100's stage 4, q115 (applied to the
    * lifted cluster key) and LeakSafeSplitSpec, so the copies cannot
    * drift apart (q115's conservation law compares against q46). */
  private[graft] def md5SplitOf(key: Column): Column = {
    val d1 = substring(md5(key.cast(StringType).cast(BinaryType)), 1, 1)
    when(d1 < "c", "train").when(d1 < "e", "val").otherwise("test")
  }

  /** md5-range carve shared by the whole q110 family: q110/q110b read
    * it as a batch/corpus split (mod 0 = batch); q110c reads it 3-ways
    * (mod 0 = ingest batch 1, mod 1 = ingest batch 2, mod 2 = the
    * standing corpus the base index is built over); q116/q117 and the
    * docs replay (StreamingJobs.docsReplayDir) read the same carve. */
  private[graft] def q110Mod: Column =
    expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), " +
      "16, 10) AS BIGINT) % 3")

  // the q101 chunk geometry: 64-token windows at stride 48
  private val ChunkN = 64
  private val ChunkS = 48

  /** The q101 chunk grid (64/48 overlapping token windows, exact
    * integer window math, content-addressed chunk ids) over a
    * documents-shaped frame — shared by q101 (emits the grid), q111
    * (dedups on the content address downstream) and q118 (flags
    * cross-doc chunks). Map-only fan-out;
    * passthrough columns beyond doc_id ride along and Catalyst prunes
    * whichever a consumer drops. */
  private[queries] def chunkGrid(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"), col("source"),
        expr("filter(split(text, ' '), t -> length(t) > 0)").as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))
      .filter(col("n") > 0)
      .withColumn("k", explode(expr(
        s"sequence(0L, (greatest(n - $ChunkN, 0L) + ${ChunkS - 1}) div $ChunkS)")))
      .select(col("doc_id"), col("lang"), col("source"),
        (col("k") + 1).as("chunk_idx"),
        (col("k") * ChunkS + 1).as("start_tok"),
        least(lit(ChunkN.toLong), col("n") - (col("k") * ChunkS + 1) + 1)
          .as("n_tok"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("k") * ChunkS + 1).cast("int"),
            least(lit(ChunkN.toLong), col("n") - (col("k") * ChunkS + 1) + 1)
              .cast("int"))).cast("binary")).as("chunk_md5"))

  /** DuckDB twin of [[chunkGrid]] (the d/d2/ch/cm CTE chain) — ONE
    * text spliced into every oracle that rebuilds the chunk grid
    * (q101, q111, q118), so the 64/48 geometry and the md5 content
    * address cannot drift between engines or between the three
    * queries whose cross-invariants assume the SAME grid. Emits
    * cm(doc_id, lang, source, chunk_idx, start_tok, n_tok, chunk_md5);
    * consumers project what they need. Meant to be spliced into a
    * WITH list. */
  private[queries] val oracleChunkGrid: String =
    s"""d AS (
        SELECT doc_id, lang, source,
          list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
        FROM documents),
      d2 AS (
        SELECT doc_id, lang, source, toks, CAST(len(toks) AS BIGINT) AS n
        FROM d WHERE len(toks) > 0),
      ch AS (
        SELECT doc_id, lang, source, toks, n, CAST(t.k AS BIGINT) AS k
        FROM d2 CROSS JOIN unnest(range(0,
          ((GREATEST(n - $ChunkN, 0) + ${ChunkS - 1}) // $ChunkS) + 1)) AS t(k)),
      cm AS (
        SELECT doc_id, lang, source,
          k + 1 AS chunk_idx,
          k * $ChunkS + 1 AS start_tok,
          LEAST($ChunkN, n - (k * $ChunkS + 1) + 1) AS n_tok,
          md5(array_to_string(list_slice(toks, k * $ChunkS + 1,
            LEAST(n, k * $ChunkS + $ChunkN)), ' ')) AS chunk_md5
        FROM ch)"""
}
