package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables

/** Q24 + ANN variants over `embeddings` (vec_id, embedding float[64],
  * label — FIXTURES.md §1).
  *
  * Determinism: float32 elements are quantized to INTEGER millionths
  * (round(x·10⁶) — double multiply + round are IEEE-identical in both
  * engines, and both round halves away from zero) and dot products are
  * EXACT int64 sums: order-independent and bit-identical cross-engine.
  * (First attempt used DECIMAL(18,6) quantization; the engines' float→
  * decimal rounding disagreed at 1 ulp — integers close that hole.) The
  * only floating-point steps are the final sqrt+divide — single IEEE ops
  * on identical inputs — so the cosine value itself can be hashed.
  *
  * Scale design (100 TB): the query-vector set is broadcast (it is the
  * small side by definition); the similarity computation is a per-row
  * HOF expression inside whole-stage codegen — no explode, no shuffle of
  * the corpus. The final top-k per query runs over (|queries| × corpus)
  * scored rows; with few queries the window is the simple form, and the
  * LSH variant (q24b) shows the bucketed path where the corpus side is
  * pre-pruned before scoring.
  */
object EmbeddingQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  private val queryIds = Seq(0L, 1L, 2L)

  /** Exact int64 dot product of two quantized float arrays (Spark side):
    * graft's native codegen expression (graft.functions.QuantizedDot).
    * The equivalent `aggregate(zip_with(...))` HOF form is semantically
    * identical but interpreted per element — it made the pairwise
    * queries lambda-bound (~20 s for 200k pairs at sf0.1; the native
    * expression stays inside whole-stage codegen).
    * |element·10⁶| ≤ ~10⁶ ⇒ |dot| ≤ 64·10¹² ≪ 2⁶³ — no overflow, and
    * the bigint→double cast at the end is exact (< 2⁵³). */
  private def dotQ(a: String, b: String): Column = expr(s"dotq($a, $b)")

  /** DuckDB: same dot product via zipped unnest + int64 SUM. */
  private def oDot(aExpr: String, bExpr: String): String =
    s"""(SELECT CAST(SUM(
          CAST(round(CAST(ax AS DOUBLE) * 1000000) AS BIGINT) *
          CAST(round(CAST(bx AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
        FROM (SELECT unnest($aExpr) AS ax, unnest($bExpr) AS bx) zz)"""

  /** Shared ANN-family report tail (q24/q24b/q24d/q24e/q24f — one
    * definition so the five variants' output contract stays provably
    * identical): per-query cosine top-5 via the bounded-heap
    * `topk_by_score` aggregate, NOT a window — the window form
    * shuffles every scored row per query vector, while the aggregate
    * keeps a k-element heap per partition and merges (the
    * partial/final shape that survives a 100 TB corpus). Heap
    * positions become ranks; the neighbor's label is fetched AFTER the
    * top-k (id-keyed join on 5·|queries| rows) so the aggregation
    * carries minimal payload. Input needs (q_id, vec_id, cosine). */
  private def topkReport(s: SparkSession, dir: String,
      scored: DataFrame): DataFrame = {
    import s.implicits._
    scored.groupBy($"q_id")
      .agg(expr("topk_by_score(cosine, vec_id, 5)").as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", ($"pos" + 1).cast(LongType).as("rk"),
        $"col.id".as("vec_id"), $"col.score".as("cosine"))
      .join(emb(s, dir).select($"vec_id", $"label"), Seq("vec_id"))
      .select($"q_id", $"rk", $"vec_id", $"label", $"cosine")
      .orderBy($"q_id", $"rk")
  }

  /** Shared exact-cosine rescore of a (q_id, vec_id) candidate set
    * (q24e/q24f): the candidates broadcast INTO the corpus scan and
    * the norms/dots run post-join, so there is no second full-corpus
    * float pass (that bandwidth is what the code compression exists to
    * avoid); q_n2 prunes via the pushed-down vec_id IN filter. */
  private def exactRescore(s: SparkSession, base: DataFrame,
      cand: DataFrame): DataFrame = {
    import s.implicits._
    val qn = base.filter($"vec_id".isin(queryIds: _*))
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
        dotQ("embedding", "embedding").as("q_n2"))
    base.select($"vec_id", $"embedding")
      .join(broadcast(cand), Seq("vec_id"))
      .withColumn("n2", dotQ("embedding", "embedding"))
      .join(broadcast(qn), Seq("q_id"))
      .withColumn("cosine",
        dotQ("q_emb", "embedding").cast(DoubleType) /
          (sqrt($"q_n2".cast(DoubleType)) * sqrt($"n2".cast(DoubleType))))
  }

  // ---------------------------------------------------------------- Q24
  // Brute-force cosine top-5 for query vectors 0,1,2 — the exact
  // baseline every ANN variant is measured against.
  private val q24 = QueryDef(
    "q24_cosine_topk",
    (s, dir) => {
      import s.implicits._
      val base = emb(s, dir)
        .withColumn("n2", dotQ("embedding", "embedding"))
      val qv = base.filter($"vec_id".isin(queryIds: _*))
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"n2".as("q_n2"))
      val scored = base.join(broadcast(qv), $"vec_id" =!= $"q_id")
        .withColumn("dot", dotQ("q_emb", "embedding"))
        .withColumn("cosine",
          $"dot".cast(DoubleType) /
            (sqrt($"q_n2".cast(DoubleType)) * sqrt($"n2".cast(DoubleType))))
      topkReport(s, dir, scored) // the shared heap-top-5 + label tail
    },
    Some(s"""WITH norms AS (
        SELECT vec_id, embedding, label,
          ${oDot("embedding", "embedding")} AS n2
        FROM embeddings),
      q AS (
        SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2
        FROM norms WHERE vec_id IN (${queryIds.mkString(", ")})),
      scored AS (
        SELECT q.q_id, e.vec_id, e.label,
          CAST(${oDot("q.q_emb", "e.embedding")} AS DOUBLE)
            / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(e.n2 AS DOUBLE)))
            AS cosine
        FROM q JOIN norms e ON e.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, label, cosine,
          CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk
        FROM scored)
      SELECT q_id, rk, vec_id, label, cosine
      FROM ranked WHERE rk <= 5 ORDER BY q_id, rk"""))

  // --------------------------------------------------------------- Q24b
  // LSH-bucketed ANN — the 100 TB scale path, BANDED MULTI-TABLE form
  // (round-3 verdict items 2+3): 4 hash tables × r sign bits. A vector
  // is a candidate for a query iff all r bits of SOME table agree with
  // one of the query's probe signatures — the same b-tables×r-rows
  // S-curve as q23's MinHash banding. Three design points:
  //   1. The hyperplane weights are LITERAL array<float> constants
  //      computed once driver-side (deterministic seeded PRNG per
  //      plane); each sign bit is one codegen'd `dotq` against a
  //      broadcast literal — the old form re-derived the constant
  //      weights per row through interpreted sequence/hash/zip_with
  //      HOFs (~512 lambda+hash evals per vector).
  //   2. r IS SIZED FROM THE CORPUS at index-build time, the standard
  //      LSH parameterization: r = clamp(ceil(log2 n), 8, 16) keeps the
  //      expected number of random same-bucket collisions per query,
  //      n·2^-r, at O(1) — at the round-3 fixed r=16 the 500–2000-row
  //      fixtures produced ZERO candidates (n·4/65536 ≈ 0.1, the round-4
  //      0-rows regression), while a fixed small r degenerates to
  //      corpus/2^r linear buckets at 10^9 rows. The one driver-side
  //      count() that sizes r is parquet-footer cheap and is exactly
  //      what a real ANN index build does (IVF trains centroids on a
  //      sample the same way).
  //   3. MULTI-PROBE on the query side (Lv et al., VLDB'07): each query
  //      probes its own signature plus all r Hamming-distance-1 flips
  //      per table. A near-copy whose sig differs by one bit in every
  //      table is still recalled; probe fan-out is (r+1)·b ≈ 50
  //      broadcast rows per query — free at any scale, and the corpus
  //      side still stores ONE sig per table (no index blow-up).
  // APPROXIMATE in which neighbors it considers, yet fully ORACLE-GRADED
  // (round-9 verdict item 2): every step — literal hyperplanes, integer
  // sign bits, corpus-sized r, Hamming-1 probe expansion, candidate
  // join, exact scoring — is deterministic, so the DuckDB oracle
  // rebuilds the 4×r sign-bit bucket assignment relationally (the q24d
  // treatment; pre-quantized int64 plane weights ship as VALUES rows)
  // and the full hash gate applies. Recall vs q24 stays asserted in
  // AnnRecallSpec (planted near-copies), bucket sublinearity in its
  // bucket-stats test.
  private val nTables = 4
  private val maxBitsPerTable = 16

  /** Index-build-time band width: keeps E[random collisions/query] =
    * n/2^r ≈ O(1). Capped at 16 by the precomputed 64-plane budget; a
    * >65536-bucket deployment raises nTables·maxBits together. */
  private[graft] def bandBits(n: Long): Int =
    math.min(maxBitsPerTable,
      math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)).toInt))

  /** Deterministic hyperplane weights, plane p dim d ∈ [-0.5, 0.5):
    * fixed at plan time, shipped as literals (they are query constants —
    * per-row derivation was round-3 verdict item 2). Table t uses planes
    * t·16 … t·16+r-1, so signatures are stable prefixes as r varies. */
  private[graft] val hyperplanes: IndexedSeq[Array[Float]] =
    (0 until nTables * maxBitsPerTable).map { p =>
      val rnd = new scala.util.Random(1000003L * p + 17)
      Array.fill(64)(rnd.nextFloat() - 0.5f)
    }

  /** (vec_id, table_idx, sig): one r-bit signature per table per vector.
    * 4·r codegen'd dotq calls per row (the quantized-sign of dot(v,w_p));
    * map-only — no shuffle until the candidate join. Exposed
    * private[graft] for AnnRecallSpec's bucket-statistics assertions. */
  private[graft] def lshBands(df: DataFrame, r: Int): DataFrame = {
    val sigs = (0 until nTables).map { t =>
      val bits = (0 until r).map { k =>
        when(call_function("dotq", col("embedding"),
          typedLit(hyperplanes(t * maxBitsPerTable + k))) >= 0, lit(1L << k))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("table_idx"), bits.as("sig"))
    }
    df.select(col("vec_id"), explode(array(sigs: _*)).as("b"))
      .select(col("vec_id"), col("b.table_idx").as("table_idx"),
        col("b.sig").as("sig"))
  }

  /** Corpus-sized banding (spec entry point): r from a footer-cheap
    * count of the corpus being indexed. */
  private[graft] def lshBands(df: DataFrame): DataFrame =
    lshBands(df, bandBits(df.count()))

  /** The hyperplanes as DuckDB VALUES rows of PRE-QUANTIZED int64
    * weights — `QuantizedDot.q` applied driver-side, so the oracle's
    * integer dot against `round(element·10⁶)` reproduces `dotq`'s sign
    * bit-for-bit without ever parsing a float literal (float→decimal
    * text round-trips were the round-2 1-ulp hole; integers have none). */
  private lazy val oraclePlanes: String =
    hyperplanes.zipWithIndex.map { case (w, p) =>
      s"($p, [${w.map(graft.functions.QuantizedDot.q).mkString(",")}])"
    }.mkString(",\n          ")

  /** The DuckDB LSH-INDEX preamble (cnt/rbits/planes/sigbits/sigs
    * CTEs) — ONE text shared by every oracle that rebuilds the index
    * (q24b, q102), so the SQL rebuilds cannot drift from each other or
    * from the Scala `bandBits`/`lshBands` they mirror, and the multi-KB
    * planes literal is written once. `src` is the relation whose rows
    * get signatures (must expose vec_id, embedding); r sizing always
    * reads `embeddings` — q102's planted +n/40 rows don't move
    * ⌈log2 n⌉. Meant to be spliced into a WITH list. */
  private def oracleLshIndex(src: String): String =
    s"""cnt AS (SELECT COUNT(*) AS n FROM embeddings),
      rbits AS (
        SELECT LEAST($maxBitsPerTable,
            GREATEST(8, COALESCE(MAX(k.k) + 1, 1))) AS r
        FROM range(63) k(k), cnt
        WHERE ((n - 1) >> k.k) & 1 = 1),
      planes(p, w) AS (VALUES
          $oraclePlanes),
      sigbits AS (
        SELECT e.vec_id, CAST(p.p // $maxBitsPerTable AS BIGINT) AS table_idx,
          CASE WHEN (SELECT CAST(SUM(
                CAST(round(CAST(ax AS DOUBLE) * 1000000) AS BIGINT) * wx)
              AS BIGINT)
              FROM (SELECT unnest(e.embedding) AS ax, unnest(p.w) AS wx) z)
            >= 0
          THEN (CAST(1 AS BIGINT) << (p.p % $maxBitsPerTable)) ELSE 0 END AS bit
        FROM $src e, planes p, rbits
        WHERE (p.p % $maxBitsPerTable) < rbits.r),
      sigs AS (
        SELECT vec_id, table_idx, CAST(SUM(bit) AS BIGINT) AS sig
        FROM sigbits GROUP BY 1, 2)"""

  /** The banded index's multi-probe CANDIDATE SET for the standard
    * anchors (Lv et al., VLDB'07): each anchor probes its own
    * signature plus all r Hamming-distance-1 flips per table (a
    * ≤ 4·(r+1)-row broadcast per query vector), candidates come from
    * the (table_idx, sig) equi-join against that broadcast — map-side;
    * distinct dedups vectors found by multiple tables/probes. ONE
    * definition shared by q24b (unconstrained top-5) and q119
    * (hard-negative mining) so the probe policy cannot drift between
    * them — HardNegativeSpec's containment law assumes the two
    * queries draw from the SAME candidate set. */
  private def lshCandidates(s: SparkSession, dir: String,
      r: Int): DataFrame =
    lshCandidatesOf(emb(s, dir), r)

  /** Frame-generic form of [[lshCandidates]]: the corpus whose index
    * is probed comes in as `base` (vec_id, embedding) — the entry
    * point HardNegativeSpec's planted-recall law uses to index a
    * corpus with a planted near-copy. */
  private[graft] def lshCandidatesOf(base: DataFrame, r: Int): DataFrame = {
    val bands = lshBands(base, r)
    val probeFlips = (-1 until r).map(i =>
      if (i < 0) col("sig") else col("sig").bitwiseXOR(lit(1L << i)))
    val qBands = bands.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("table_idx"),
        explode(array(probeFlips: _*)).as("sig"))
    bands.join(broadcast(qBands), Seq("table_idx", "sig"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
  }

  /** DuckDB twin of [[lshCandidates]] (probes/cand CTEs) — spliced
    * after [[oracleLshIndex]] by the q24b and q119 oracles, same
    * single-definition rationale. */
  private def oracleProbesCand: String =
    s"""probes AS (
        SELECT s.vec_id AS q_id, s.table_idx,
          CASE WHEN f.i < 0 THEN s.sig
               ELSE xor(s.sig, CAST(1 AS BIGINT) << f.i) END AS sig
        FROM sigs s, range(-1, $maxBitsPerTable) f(i), rbits
        WHERE s.vec_id IN (${queryIds.mkString(", ")}) AND f.i < rbits.r),
      cand AS (
        SELECT DISTINCT p.q_id, b.vec_id
        FROM sigs b JOIN probes p
          ON b.table_idx = p.table_idx AND b.sig = p.sig
        WHERE b.vec_id <> p.q_id)"""

  private val q24b = QueryDef(
    "q24b_ann_lsh",
    (s, dir) => {
      import s.implicits._
      val base = emb(s, dir)
        .withColumn("n2", dotQ("embedding", "embedding"))
      // index-sizing scalar from the memoized ingest-phase count
      // (Bench warms it; a catalog rowCount statistic at 100 TB)
      val r = bandBits(Tables.rowCount(s, dir, "embeddings"))
      // Only candidates are ever scored.
      val cand = lshCandidates(s, dir, r)
      val qv = base.filter($"vec_id".isin(queryIds: _*))
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
          $"n2".as("q_n2"))
      val scored = cand
        .join(base.select($"vec_id", $"embedding", $"n2"), Seq("vec_id"))
        .join(broadcast(qv), Seq("q_id"))
        .withColumn("dot", dotQ("q_emb", "embedding"))
        .withColumn("cosine",
          $"dot".cast(DoubleType) /
            (sqrt($"q_n2".cast(DoubleType)) * sqrt($"n2".cast(DoubleType))))
      topkReport(s, dir, scored) // the shared heap-top-5 + label tail
    },
    // The relational rebuild of the index: r from the bit length of
    // n-1 (exact integer arithmetic — the log2 float path can misround
    // at powers of two), sign bits from pre-quantized int64 planes,
    // multi-probe via a range(-1, 16) flip join. Mirrors bandBits /
    // lshBands / probeFlips above, step for step.
    Some(s"""WITH norms AS (
        SELECT vec_id, embedding, label,
          ${oDot("embedding", "embedding")} AS n2
        FROM embeddings),
      ${oracleLshIndex("embeddings")},
      $oracleProbesCand,
      q AS (
        SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2
        FROM norms WHERE vec_id IN (${queryIds.mkString(", ")})),
      scored AS (
        SELECT cd.q_id, e.vec_id, e.label,
          CAST(${oDot("q.q_emb", "e.embedding")} AS DOUBLE)
            / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(e.n2 AS DOUBLE)))
            AS cosine
        FROM cand cd
        JOIN norms e ON e.vec_id = cd.vec_id
        JOIN q ON q.q_id = cd.q_id),
      ranked AS (
        SELECT q_id, vec_id, label, cosine,
          CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk
        FROM scored)
      SELECT q_id, rk, vec_id, label, cosine
      FROM ranked WHERE rk <= 5 ORDER BY q_id, rk"""))

  // --------------------------------------------------------------- Q24c
  // Embedding-similarity pairs, IVF-style: compare only within the same
  // label cell (equi-join on label → shuffle stays keyed, no crossJoin;
  // label plays the role of the coarse IVF centroid assignment), then
  // keep the top-3 most-similar pairs per cell. A fixed near-dup
  // threshold would be vacuous on this corpus (random vectors, max
  // within-label cosine ≈ 0.5) — top-k per cell exercises the identical
  // machinery and is non-empty at every scale factor.
  private val q24c = QueryDef(
    "q24c_top_similar_pairs",
    (s, dir) => {
      import s.implicits._
      val base = emb(s, dir)
        .withColumn("n2", dotQ("embedding", "embedding"))
      val a = base.select($"vec_id".as("id1"), $"embedding".as("e1"),
        $"n2".as("na"), $"label")
      val b = base.select($"vec_id".as("id2"), $"embedding".as("e2"),
        $"n2".as("nb"), $"label")
      val pairs = a.join(b, Seq("label")).filter($"id1" < $"id2")
        .withColumn("dot", dotQ("e1", "e2"))
        .withColumn("cosine",
          $"dot".cast(DoubleType) /
            (sqrt($"na".cast(DoubleType)) * sqrt($"nb".cast(DoubleType))))
      val w = Window.partitionBy($"label")
        .orderBy($"cosine".desc, $"id1", $"id2")
      pairs.select($"label", $"id1", $"id2", $"cosine",
          row_number().over(w).cast(LongType).as("rk"))
        .filter($"rk" <= 3)
        .select($"label", $"rk", $"id1", $"id2", $"cosine")
        .orderBy($"label", $"rk")
    },
    Some(s"""WITH norms AS (
        SELECT vec_id, embedding, label,
          ${oDot("embedding", "embedding")} AS n2
        FROM embeddings),
      pairs AS (
        SELECT a.label AS label, a.vec_id AS id1, b.vec_id AS id2,
          CAST(${oDot("a.embedding", "b.embedding")} AS DOUBLE)
            / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
        FROM norms a JOIN norms b
          ON a.label = b.label AND a.vec_id < b.vec_id),
      ranked AS (
        SELECT label, id1, id2, cosine,
          CAST(ROW_NUMBER() OVER (PARTITION BY label
            ORDER BY cosine DESC, id1, id2) AS BIGINT) AS rk
        FROM pairs)
      SELECT label, rk, id1, id2, cosine
      FROM ranked WHERE rk <= 3 ORDER BY label, rk"""))

  // --------------------------------------------------------------- Q24d
  // IVF-style ANN — the OTHER production index family next to q24b's
  // LSH (FAISS's IVF-Flat shape): a coarse quantizer partitions the
  // corpus into K inverted lists; a query probes only its nProbe
  // nearest lists and scores those candidates exactly.
  //   - K = ⌈√n⌉ lists, the standard IVF sizing (E[list] = √n rows, and
  //     probe cost nProbe·√n ≪ n). n comes from one footer-cheap count,
  //     exactly like q24b's band sizing.
  //   - "Training": real IVF k-means a sample; here the centroids ARE a
  //     deterministic pseudo-random sample of K corpus vectors (ordered
  //     by md5 of the id — a seeded sample expressible identically in
  //     both engines). Same plumbing, no iterative trainer; q26 shows a
  //     trained model pipeline elsewhere.
  //   - Assignment = argmax cosine over the broadcast centroid set: a
  //     bounded-broadcast cross join (K ≈ √n rows) scored by codegen'd
  //     dotq, then a per-vec_id window (millions of tiny partitions at
  //     scale — the q26 argmax shape). This is the index-BUILD pass a
  //     real deployment pays once at ingest.
  //   - Probe = the same scored ranking, top-nProbe cells per query;
  //     candidates = equi-join probes ⋈ assignments on the cell id.
  // UNLIKE q24b, every step is deterministic (integer dots, IEEE
  // divisions on identical inputs, id tie-breaks) — so this ANN variant
  // carries a full DuckDB oracle: the approximation is in WHICH
  // neighbors are considered, not in any nondeterministic hash. Recall
  // on planted near-copies is asserted in AnnRecallSpec (a near-copy's
  // cosines against every centroid are within ~1e-3 of the query's, so
  // its argmax cell is one of the query's top probes).
  private val nProbe = 4

  private val q24d = QueryDef(
    "q24d_ann_ivf",
    (s, dir) => {
      import s.implicits._
      val base = emb(s, dir)
        .withColumn("n2", dotQ("embedding", "embedding"))
      // ⌈√n⌉ list count from the memoized ingest-phase count (the
      // index-BUILD scalar a real deployment captures once at load)
      val k = math.ceil(math.sqrt(
        Tables.rowCount(s, dir, "embeddings").toDouble)).toInt
      // TakeOrderedAndProject — distributed top-K by the md5 sample
      // order, not a global sort.
      val cent = base
        .orderBy(md5($"vec_id".cast(StringType).cast(BinaryType)), $"vec_id")
        .limit(k)
        .select($"vec_id".as("c_id"), $"embedding".as("c_emb"),
          $"n2".as("c_n2"))
      val ascore = base.select($"vec_id", $"embedding", $"n2")
        .crossJoin(broadcast(cent))
        .withColumn("acos",
          dotQ("embedding", "c_emb").cast(DoubleType) /
            (sqrt($"n2".cast(DoubleType)) * sqrt($"c_n2".cast(DoubleType))))
      val aw = Window.partitionBy($"vec_id").orderBy($"acos".desc, $"c_id")
      val arank = ascore.select($"vec_id", $"c_id",
        row_number().over(aw).as("ar"))
      val assign = arank.filter($"ar" === 1).select($"vec_id", $"c_id")
      val probes = arank.filter($"vec_id".isin(queryIds: _*) &&
          $"ar" <= nProbe)
        .select($"vec_id".as("q_id"), $"c_id")
      // One assigned cell per vector ⇒ probes ⋈ assign is dup-free.
      val cand = assign.join(broadcast(probes), "c_id")
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id")
      val qv = base.filter($"vec_id".isin(queryIds: _*))
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
          $"n2".as("q_n2"))
      val scored = cand
        .join(base.select($"vec_id", $"embedding", $"n2"), Seq("vec_id"))
        .join(broadcast(qv), Seq("q_id"))
        .withColumn("cosine",
          dotQ("q_emb", "embedding").cast(DoubleType) /
            (sqrt($"q_n2".cast(DoubleType)) * sqrt($"n2".cast(DoubleType))))
      topkReport(s, dir, scored) // the shared heap-top-5 + label tail
    },
    Some(s"""WITH norms AS (
        SELECT vec_id, embedding, label,
          ${oDot("embedding", "embedding")} AS n2
        FROM embeddings),
      cnt AS (SELECT COUNT(*) AS n FROM embeddings),
      rankedc AS (
        SELECT vec_id, embedding, n2,
          ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
            AS cr
        FROM norms),
      cent AS (
        SELECT vec_id AS c_id, embedding AS c_emb, n2 AS c_n2
        FROM rankedc, cnt
        WHERE cr <= CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT)),
      ascore AS (
        SELECT e.vec_id, c.c_id,
          CAST(${oDot("e.embedding", "c.c_emb")} AS DOUBLE)
            / (sqrt(CAST(e.n2 AS DOUBLE)) * sqrt(CAST(c.c_n2 AS DOUBLE)))
            AS acos
        FROM norms e CROSS JOIN cent c),
      arank AS (
        SELECT vec_id, c_id,
          ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY acos DESC, c_id) AS ar
        FROM ascore),
      assign AS (SELECT vec_id, c_id FROM arank WHERE ar = 1),
      probes AS (
        SELECT vec_id AS q_id, c_id FROM arank
        WHERE vec_id IN (${queryIds.mkString(", ")}) AND ar <= $nProbe),
      cand AS (
        SELECT p.q_id, a.vec_id
        FROM probes p JOIN assign a ON a.c_id = p.c_id
        WHERE a.vec_id <> p.q_id),
      q AS (
        SELECT vec_id AS q_id, embedding AS q_emb, n2 AS q_n2
        FROM norms WHERE vec_id IN (${queryIds.mkString(", ")})),
      scored AS (
        SELECT cd.q_id, e.vec_id, e.label,
          CAST(${oDot("q.q_emb", "e.embedding")} AS DOUBLE)
            / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(e.n2 AS DOUBLE)))
            AS cosine
        FROM cand cd
        JOIN norms e ON e.vec_id = cd.vec_id
        JOIN q ON q.q_id = cd.q_id),
      ranked AS (
        SELECT q_id, vec_id, label, cosine,
          CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk
        FROM scored)
      SELECT q_id, rk, vec_id, label, cosine
      FROM ranked WHERE rk <= 5 ORDER BY q_id, rk"""))

  // --------------------------------------------------------------- Q24e
  // SQ8 ANN — the third production ANN family, SCALAR QUANTIZATION
  // (faiss SQ8): compress each float32 dimension to an 8-bit level
  // against the global [min, max] range (4× smaller index, integer
  // arithmetic in the hot loop), rank candidates by the quantized
  // score, then RESCORE the top-20 exactly and keep 5. Completes the
  // quantization ladder: q24b prunes by LSH sign BITS, q24d by IVF
  // cell membership, q24e scans everything but in 8-bit code space —
  // the memory-bandwidth-bound regime where a 100 TB corpus's index
  // fits in a quarter of the RAM the float index needs.
  //
  // Exactness scheme: codes are integers 0..255 stored as float[64]
  // so the EXISTING codegen'd `dotq` kernel scores them — q(code·1.0f)
  // = code·10⁶ exactly, so dotq(codes_a, codes_b) = 10¹²·Σ aᵢbᵢ and an
  // integer `div` recovers the exact code dot product (≤ 64·255²·10¹²
  // = 4.2·10¹⁸ < 2⁶³ — no overflow, and no new kernel needed). The
  // ranking key linearizes the decoded dot: with global scale s =
  // (fmax−fmin)/255, decoded dot = 64·fmin² + fmin·s·(Σa+Σb) +
  // s²·Σab; for a FIXED query the first term and Σb are constant, so
  //   akey = (s·s)·cp + (fmin·s)·csum
  // ranks identically — evaluated as that exact expression tree (two
  // products of exact-int-valued doubles, one add) in BOTH engines, so
  // the candidate sets are bit-identical and the oracle needs no
  // tolerance. Ties break by vec_id (topk_by_score ≡ ROW_NUMBER).
  //
  // Scale shape (100 TB): the [min,max] stats pass is a 1-row agg
  // (partial-agg collapse, broadcast back — the q74 scalar-fanout
  // shape); coding is map-only; scoring is one codegen'd dotq per
  // (row, query) with topk_by_score's O(groups·k) partial/final heap
  // merge — no corpus shuffle anywhere; the exact rescore touches
  // 20·|queries| rows by id-keyed join.
  private val q24e = QueryDef(
    "q24e_ann_sq8",
    (s, dir) => {
      import s.implicits._
      val base = emb(s, dir)
      val stats = base.select(posexplode($"embedding").as(Seq("d", "x")))
        .agg(min($"x").as("fmin"), max($"x").as("fmax"))
      // greatest(range, 1e-12) guards the all-constant-corpus edge: on
      // real data the range dwarfs it (codes unchanged), and on a
      // degenerate corpus BOTH engines produce all-zero codes instead
      // of Spark silently yielding NaN→0 while DuckDB errors
      val coded = base.crossJoin(broadcast(stats))
        .withColumn("codes", expr(
          "transform(embedding, x -> CAST(CAST(round(" +
            "(CAST(x AS DOUBLE) - CAST(fmin AS DOUBLE)) * 255.0D" +
            " / greatest(CAST(fmax AS DOUBLE) - CAST(fmin AS DOUBLE)," +
            " 1e-12D)) AS BIGINT) AS FLOAT))"))
        // Σcodes via dotq against a LITERAL ones array (embeddings are
        // fixed float[64], FIXTURES.md §1) — array_repeat of literals
        // constant-folds, so only the codegen'd dotq runs per row (the
        // per-row transform(codes, _ -> 1.0f) HOF form would rebuild
        // the same array interpreted, the q24b anti-pattern)
        .withColumn("csum", expr(
          "dotq(codes, array_repeat(CAST(1.0 AS FLOAT), 64))" +
            " div 1000000000000"))
      val qcoded = coded.filter($"vec_id".isin(queryIds: _*))
        .select($"vec_id".as("q_id"), $"codes".as("q_codes"))
      val sCol = ($"fmax".cast(DoubleType) - $"fmin".cast(DoubleType)) /
        lit(255.0)
      val approx = coded
        .join(broadcast(qcoded), $"vec_id" =!= $"q_id")
        .withColumn("cp", expr("dotq(codes, q_codes) div 1000000000000"))
        .withColumn("s", sCol)
        .withColumn("akey",
          ($"s" * $"s") * $"cp".cast(DoubleType) +
            ($"fmin".cast(DoubleType) * $"s") * $"csum".cast(DoubleType))
      val cand = approx.groupBy($"q_id")
        .agg(expr("topk_by_score(akey, vec_id, 20)").as("top"))
        .select($"q_id", explode($"top.id").as("vec_id"))
      // exact rescore on the 20·|queries| survivors ONLY (the shared
      // exactRescore/topkReport tail)
      topkReport(s, dir, exactRescore(s, base, cand))
    },
    Some(s"""WITH st AS (
        SELECT MIN(x) AS fmin, MAX(x) AS fmax,
          (CAST(MAX(x) AS DOUBLE) - CAST(MIN(x) AS DOUBLE)) / 255.0 AS s
        FROM (SELECT unnest(embedding) AS x FROM embeddings)),
      codes AS (
        SELECT vec_id, CAST(gs AS BIGINT) AS dim,
          CAST(round((CAST(x AS DOUBLE) - CAST(st.fmin AS DOUBLE))
            * 255.0 / greatest(CAST(st.fmax AS DOUBLE)
              - CAST(st.fmin AS DOUBLE), 1e-12))
            AS BIGINT) AS code
        FROM (SELECT vec_id, unnest(embedding) AS x,
                generate_subscripts(embedding, 1) AS gs
              FROM embeddings) t, st),
      sums AS (
        SELECT vec_id, CAST(SUM(code) AS BIGINT) AS csum
        FROM codes GROUP BY 1),
      qc AS (
        SELECT vec_id AS q_id, dim, code FROM codes
        WHERE vec_id IN (${queryIds.mkString(", ")})),
      cp AS (
        SELECT q.q_id, c.vec_id, CAST(SUM(q.code * c.code) AS BIGINT) AS cp
        FROM qc q JOIN codes c ON c.dim = q.dim AND c.vec_id <> q.q_id
        GROUP BY 1, 2),
      akeyed AS (
        SELECT cp.q_id, cp.vec_id,
          (st.s * st.s) * CAST(cp.cp AS DOUBLE)
            + (CAST(st.fmin AS DOUBLE) * st.s) * CAST(su.csum AS DOUBLE)
            AS akey
        FROM cp JOIN sums su ON su.vec_id = cp.vec_id, st),
      cand AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY akey DESC, vec_id) AS rk20
          FROM akeyed) WHERE rk20 <= 20),
      norms AS (
        SELECT vec_id, embedding, label,
          ${oDot("embedding", "embedding")} AS n2
        FROM embeddings),
      resc AS (
        SELECT cd.q_id, cd.vec_id, e.label,
          CAST(${oDot("q.embedding", "e.embedding")} AS DOUBLE)
            / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(e.n2 AS DOUBLE)))
            AS cosine
        FROM cand cd
        JOIN norms e ON e.vec_id = cd.vec_id
        JOIN norms q ON q.vec_id = cd.q_id)
      SELECT q_id, rk, vec_id, label, cosine FROM (
        SELECT q_id, vec_id, label, cosine,
          CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk
        FROM resc) WHERE rk <= 5 ORDER BY q_id, rk"""))

  // --------------------------------------------------------------- Q24f
  // PQ-ADC ANN — the FOURTH production ANN family (faiss-style product
  // quantization, Jégou et al. 2011): the 64-dim space splits into
  // m = 8 subspaces of 8 dims; each subspace gets a k = 16-centroid
  // codebook (k-lowest-id seeds + ONE quantized Lloyd round — q103's
  // training scheme per subspace, all 8 trained in one relational
  // pass); every vector compresses to 8 codes of 4 bits. Query-time
  // scoring is ASYMMETRIC DISTANCE COMPUTATION: the query precomputes
  // one m×k table of exact int64 partial dots against the codebook
  // (the per-query LUT faiss builds in registers — it reaches the
  // driver and re-enters the plan as LITERALS, the q89b/q89c
  // model-as-literals pattern), so scoring a corpus vector is EIGHT
  // ARRAY LOOKUPS over its codes — no float math, no embedding bytes
  // touched. Top-20 ADC candidates get the exact rescore (q24e's
  // tail), so the final ranking is true cosine.
  //
  // Unlike q102/q103/q105's corpus-sized k, the PQ codebook size is a
  // fixed MODEL constant (production PQ uses k = 256 per subspace
  // regardless of corpus scale — compression ratio and LUT size are
  // properties of the model, not the data; corpus growth improves the
  // training sample, it does not widen the codebook).
  //
  // Scale shape (100 TB): training touches the corpus twice (assign +
  // update, both broadcast-centroid map passes with O(m·k·D) shuffle);
  // the INDEX is the codes table — 8 codes/vector ≈ 4 bytes against
  // 256 float bytes, a 64× compression, which is the entire point:
  // the ADC scan reads 4 bytes/vector where q24 reads 256; candidates
  // = full corpus but in code space (same trade as q24e, deeper
  // compression); the exact rescore touches 20·|queries| rows by
  // broadcast. Determinism: micro-int quantization end-to-end, argmin
  // ties (d2, cid), ADC ties (adc DESC, vec_id) — the DuckDB oracle
  // rebuilds training, encoding, LUT and ADC relationally, exact.
  private val pqM = 8
  private val pqD = 8
  private val pqK = 16

  /** Nearest-codebook-entry per (vector, subspace): (vec_id, sub,
    * code, svec). `cents` is (cid, sub, carr float[pqD]) — m·k rows,
    * always broadcast. */
  private def pqAssign(e: DataFrame, cents: DataFrame)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    // Pre-explode each vector into its m subvectors ONCE, then
    // equi-join the k centroids of the SAME subspace (round 20, guide
    // §2.3): the old crossJoin re-sliced the 64-float embedding inside
    // every one of the |e|·m·k joined rows (k = 16 slice allocations
    // per subvector) and carried the full embedding through the join;
    // now only the 8-float subvector flows, sliced once per (vec, sub),
    // and the join is keyed on sub instead of a cartesian. Same
    // |e|·m·k l2q comparisons, same (d2, cid) argmin — assignment
    // relation unchanged.
    e.select($"vec_id", explode(expr(
        s"transform(sequence(0, ${pqM - 1}), sb -> struct(" +
          s"CAST(sb AS BIGINT) AS sub, " +
          s"slice(embedding, sb * $pqD + 1, $pqD) AS svec))")).as("z"))
      .select($"vec_id", $"z.sub".as("sub"), $"z.svec".as("svec"))
      .join(broadcast(cents), Seq("sub"))
      .withColumn("d2", expr("l2q(svec, carr)"))
      .groupBy($"vec_id", $"sub")
      .agg(min(struct($"d2", $"cid")).as("m"), first($"svec").as("svec"))
      .select($"vec_id", $"sub", $"m.cid".as("code"), $"svec")
  }

  /** Seed codebooks: the k lowest vec_ids' subvectors, cid 0..k-1,
    * all m subspaces in one explode. */
  private def pqSeeds(e: DataFrame)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    e.orderBy($"vec_id").limit(pqK)
      .select((row_number().over(Window.orderBy($"vec_id")) - 1)
        .cast(LongType).as("cid"), $"embedding")
      .select($"cid", explode(expr(
        s"transform(sequence(0, ${pqM - 1}), sb -> struct(" +
          s"CAST(sb AS BIGINT) AS sub, " +
          s"slice(embedding, sb * $pqD + 1, $pqD) AS carr))")).as("z"))
      .select($"cid", $"z.sub".as("sub"), $"z.carr".as("carr"))
  }

  /** One Lloyd update over all m codebooks at once — q103's kmUpdate
    * with (cid, sub) keys: exact micro-sums, one rounded division,
    * float re-materialization for the codegen'd l2q. */
  private def pqUpdate(assigned: DataFrame)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    assigned
      .select($"code".as("cid"), $"sub", posexplode($"svec").as(Seq("dim", "x")))
      .select($"cid", $"sub", $"dim",
        expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("xq"))
      .groupBy($"cid", $"sub", $"dim")
      .agg(count(lit(1)).as("n"), sum($"xq").as("sq"))
      .withColumn("cq",
        expr("CAST(round(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)"))
      .withColumn("cf", ($"cq".cast(DoubleType) / lit(1e6)).cast(FloatType))
      .groupBy($"cid", $"sub")
      .agg(transform(array_sort(collect_list(struct($"dim", $"cf"))),
        el => el.getField("cf")).as("carr"))
  }

  private val q24f = QueryDef(
    "q24f_ann_pq",
    (s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val base = emb(s, dir)
      val e = base.select($"vec_id", $"embedding")
      val a0 = pqAssign(e, pqSeeds(e))
      val c1 = pqUpdate(a0)
      val a1 = pqAssign(e, c1)
      val codes = a1.groupBy($"vec_id")
        .agg(transform(array_sort(collect_list(struct($"sub", $"code"))),
          el => el.getField("code")).as("codes"))
      // the per-query LUT: |queries|·m·k exact partial dots — a
      // model-sized relation collected to the driver and re-entered as
      // literals (what faiss ADC does per query, at any corpus scale)
      val lutRows = base.filter($"vec_id".isin(queryIds: _*))
        .select($"vec_id".as("q_id"), $"embedding")
        .crossJoin(broadcast(c1))
        .withColumn("pdot",
          expr(s"dotq(slice(embedding, sub * $pqD + 1, $pqD), carr)"))
        .select($"q_id", $"sub", $"cid", $"pdot")
        .collect()
      val luts = queryIds.map { q =>
        val arr = Array.fill[Long](pqM * pqK)(0L) // vanished-centroid slots stay 0, never read
        lutRows.filter(_.getAs[Long]("q_id") == q).foreach { r =>
          arr((r.getAs[Long]("sub") * pqK + r.getAs[Long]("cid")).toInt) =
            r.getAs[Long]("pdot")
        }
        (q, arr.toSeq)
      }.toDF("q_id", "lut")
      // ADC: eight literal-index lookups summed in ONE codegen'd
      // expression. The aggregate() HOF form of this fold is
      // CodegenFallback — an interpreted lambda per subspace per row
      // that would put the hottest projection of the query outside
      // whole-stage codegen (the dotq/sorted_icount rationale); pqM is
      // a compile-time constant, so the fold unrolls exactly.
      val adcSum = (0 until pqM).map { sb =>
        s"element_at(lut, CAST(${sb * pqK} + element_at(codes, ${sb + 1}) + 1 AS INT))"
      }.mkString(" + ")
      val scored = codes.crossJoin(broadcast(luts))
        .filter($"vec_id" =!= $"q_id")
        .withColumn("adc", expr(adcSum))
      val cand = scored.groupBy($"q_id")
        .agg(expr("topk_by_score(CAST(adc AS DOUBLE), vec_id, 20)").as("top"))
        .select($"q_id", explode($"top.id").as("vec_id"))
      // exact rescore on the 20·|queries| survivors only (the shared
      // exactRescore/topkReport tail)
      topkReport(s, dir, exactRescore(s, base, cand))
    },
    // Relational rebuild: subspace decomposition, seed codebooks, one
    // Lloyd round (with the float re-round, q103's c1f), encoding,
    // LUT, ADC join, top-20, exact rescore.
    Some(s"""WITH eq AS MATERIALIZED (
        SELECT vec_id, CAST((gs - 1) // $pqD AS BIGINT) AS sub,
          CAST((gs - 1) % $pqD AS BIGINT) AS dim,
          CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xq
        FROM (SELECT vec_id, unnest(embedding) AS x,
                generate_subscripts(embedding, 1) AS gs
              FROM embeddings) t),
      seeds AS (
        SELECT vec_id,
          CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
        FROM embeddings
        QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= $pqK),
      c0 AS (
        SELECT s.cid, e.sub, e.dim, e.xq AS cq
        FROM seeds s JOIN eq e USING (vec_id)),
      d0 AS (
        SELECT e.vec_id, e.sub, c.cid,
          SUM((e.xq - c.cq) * (e.xq - c.cq)) AS d2
        FROM eq e JOIN c0 c ON e.sub = c.sub AND e.dim = c.dim
        GROUP BY 1, 2, 3),
      a0 AS (
        SELECT vec_id, sub, cid FROM (
          SELECT vec_id, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
              ORDER BY d2, cid) AS rk
          FROM d0) WHERE rk = 1),
      c1 AS (
        SELECT a.cid, e.sub, e.dim,
          CAST(round(CAST(SUM(e.xq) AS DOUBLE) / COUNT(*)) AS BIGINT)
            AS cq
        FROM a0 a JOIN eq e ON e.vec_id = a.vec_id AND e.sub = a.sub
        GROUP BY 1, 2, 3),
      c1f AS MATERIALIZED (
        SELECT cid, sub, dim,
          CAST(round(CAST(CAST(CAST(cq AS DOUBLE) / 1000000 AS REAL)
            AS DOUBLE) * 1000000) AS BIGINT) AS cqf
        FROM c1),
      d1 AS (
        SELECT e.vec_id, e.sub, c.cid,
          SUM((e.xq - c.cqf) * (e.xq - c.cqf)) AS d2
        FROM eq e JOIN c1f c ON e.sub = c.sub AND e.dim = c.dim
        GROUP BY 1, 2, 3),
      a1 AS MATERIALIZED (
        SELECT vec_id, sub, cid FROM (
          SELECT vec_id, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub
              ORDER BY d2, cid) AS rk
          FROM d1) WHERE rk = 1),
      lut AS (
        SELECT q.vec_id AS q_id, c.sub, c.cid,
          CAST(SUM(q.xq * c.cqf) AS BIGINT) AS pdot
        FROM eq q JOIN c1f c ON c.sub = q.sub AND c.dim = q.dim
        WHERE q.vec_id IN (${queryIds.mkString(", ")})
        GROUP BY 1, 2, 3),
      adc AS (
        SELECT l.q_id, a.vec_id, CAST(SUM(l.pdot) AS BIGINT) AS adc
        FROM a1 a JOIN lut l ON l.sub = a.sub AND l.cid = a.cid
        WHERE a.vec_id <> l.q_id GROUP BY 1, 2),
      cand AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY adc DESC, vec_id) AS rk20
          FROM adc) WHERE rk20 <= 20),
      norms AS (
        SELECT vec_id, embedding, label,
          ${oDot("embedding", "embedding")} AS n2
        FROM embeddings),
      resc AS (
        SELECT cd.q_id, cd.vec_id, e.label,
          CAST(${oDot("q.embedding", "e.embedding")} AS DOUBLE)
            / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(e.n2 AS DOUBLE)))
            AS cosine
        FROM cand cd
        JOIN norms e ON e.vec_id = cd.vec_id
        JOIN norms q ON q.vec_id = cd.q_id)
      SELECT q_id, rk, vec_id, label, cosine FROM (
        SELECT q_id, vec_id, label, cosine,
          CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk
        FROM resc) WHERE rk <= 5 ORDER BY q_id, rk"""))

  // ---------------------------------------------------------------- Q62
  // Per-label centroids — the vector-AGGREGATION operator (class
  // prototypes for balancing/clustering; q24d's IVF centroids are the
  // sampled cousin). posexplode flattens (label, dim, element); the
  // per-(label, dim) mean is an exact int64 sum of quantized elements
  // (the file-header determinism scheme) divided ONCE as double.
  // Output is LONG-FORM (label, dim, n, centroid_micro): |labels|×64
  // rows — array reassembly is presentation, not computation, and
  // long-form hashes engine-portably. Scale shape: explode is map-only
  // (64 rows per vector), partial agg collapses to |labels|×64 keys
  // map-side, so the shuffle is bounded by the output size, not the
  // corpus. At 100 TB the int64 sum bounds n·10⁶ < 2⁵³ per cell ⇒
  // n < 9e9 vectors per label; past that, swap the sum to DECIMAL(38,0)
  // (documented, same plan shape).
  private val q62 = QueryDef(
    "q62_label_centroids",
    (s, dir) => {
      import s.implicits._
      emb(s, dir)
        .select($"label", posexplode($"embedding").as(Seq("dim0", "x")))
        .select($"label", ($"dim0" + 1).cast(LongType).as("dim"),
          expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")
            .as("xq"))
        .groupBy($"label", $"dim")
        .agg(count(lit(1)).as("n"), sum($"xq").as("sum_q"))
        .select($"label", $"dim", $"n",
          ($"sum_q".cast(DoubleType) / $"n").as("centroid_micro"))
        .orderBy($"label", $"dim")
    },
    Some("""WITH e AS (
        SELECT label,
          CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
          CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
               AS BIGINT) AS xq
        FROM embeddings)
      SELECT label, dim, COUNT(*) AS n,
        CAST(CAST(SUM(xq) AS BIGINT) AS DOUBLE) / COUNT(*)
          AS centroid_micro
      FROM e GROUP BY 1, 2 ORDER BY 1, 2"""))

  // --------------------------------------------------------------- Q102
  // SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023 — public paper): remove
  // documents whose EMBEDDINGS are near-identical, the embedding-space
  // sibling of the q23/q32/q45/q65 text near-dup family. Blocking uses
  // the q24b LSH machinery verbatim — corpus-sized r-bit sign signatures
  // over 4 hash tables — so only same-bucket pairs are ever scored:
  //   map-only signatures (4·r codegen'd dotq per row) → ONE shuffle on
  //   (table_idx, sig) for the bucket self-join → exact cosine on
  //   candidates only → threshold → keep-lowest-id per duplicate.
  // Scale shape: r = ⌈log2 n⌉ keeps E[random same-bucket pairs] O(n)
  // (n²/2^r ≈ n per table), so candidate count — and the exact-scoring
  // stage — grows LINEARLY where all-pairs would be quadratic; the
  // keep-rule window partitions by dropped_id (tiny partitions). The
  // pairwise keep-lowest rule is exact for duplicate PAIRS; chained
  // groups would compose with q39's connected-components pass.
  //
  // The testdata corpus is random vectors (max natural cosine ≈ 0.5 —
  // see q24c), so a 0.9 threshold finds nothing in it; like q98's
  // double replay, the query PLANTS its own duplicates deterministically:
  // every 40th vector re-enters as vec_id+1000000 scaled by 1.001.
  // Scaling preserves direction (cosine ≈ 1 up to quantization), and
  // double·1.001 → float re-round is IEEE round-to-nearest in BOTH
  // engines, so the oracle rebuilds the identical corpus. A planted
  // copy's plane-dot signs match the original's unless a dot sits within
  // ~0.1% of zero (P≈1e-8 across 4 tables — recall pinned in
  // SemDedupSpec); either way both engines bucket identically, so the
  // hash gate is exact regardless.
  private val dupThreshold = 0.9

  /** The planted-duplicate corpus: embeddings ∪ 1.001-scaled copies of
    * every 40th vector (copy id = vec_id + 1_000_000). Exposed
    * private[graft] for SemDedupSpec. */
  private[graft] def plantedCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = emb(s, dir).select($"vec_id", $"embedding", $"label")
    val copies = base.filter($"vec_id" % 40 === 0)
      .select(($"vec_id" + lit(1000000L)).as("vec_id"),
        transform($"embedding",
          x => (x.cast(DoubleType) * lit(1.001)).cast(FloatType))
          .as("embedding"),
        $"label")
    base.unionAll(copies)
  }

  /** The shared dedup tail of q102 and q105: score each candidate pair
    * (id1 < id2; e1/n1 and e2/n2b embeddings and squared norms; label
    * of id2) by cosine, keep pairs at or above `dupThreshold`, and apply
    * keep-lowest-id — the larger id of each duplicate pair is dropped,
    * attributed to its SMALLEST surviving partner (deterministic when
    * one vector duplicates several others). */
  private def keepLowestDups(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .withColumn("cosine",
        dotQ("e1", "e2").cast(DoubleType) /
          (sqrt(col("n1").cast(DoubleType)) * sqrt(col("n2b").cast(DoubleType))))
      .filter(col("cosine") >= dupThreshold)
    val w = Window.partitionBy(col("id2")).orderBy(col("id1"))
    edges
      .select(col("label"), col("id2").as("dropped_id"),
        col("id1").as("kept_id"), col("cosine"),
        row_number().over(w).as("rk"))
      .filter(col("rk") === 1)
      .select(col("label"), col("dropped_id"), col("kept_id"), col("cosine"))
      .orderBy(col("label"), col("dropped_id"))
  }

  /** DuckDB twin of [[keepLowestDups]] (edges/ranked CTEs and the final
    * SELECT) — ends both the q102 and q105 oracles, after their `cand`
    * (id1 < id2 pairs) and `norms` (vec_id, embedding, label, n2) CTEs. */
  private def oracleKeepLowestDups: String =
    s"""edges AS (
        SELECT e2.label, cd.id2 AS dropped_id, cd.id1 AS kept_id,
          CAST(${oDot("e1.embedding", "e2.embedding")} AS DOUBLE)
            / (sqrt(CAST(e1.n2 AS DOUBLE)) * sqrt(CAST(e2.n2 AS DOUBLE)))
            AS cosine
        FROM cand cd
        JOIN norms e1 ON e1.vec_id = cd.id1
        JOIN norms e2 ON e2.vec_id = cd.id2),
      ranked AS (
        SELECT label, dropped_id, kept_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY dropped_id ORDER BY kept_id)
            AS rk
        FROM edges WHERE cosine >= $dupThreshold)
      SELECT label, dropped_id, kept_id, cosine
      FROM ranked WHERE rk = 1 ORDER BY label, dropped_id"""

  private val q102 = QueryDef(
    "q102_semantic_dedup",
    (s, dir) => {
      import s.implicits._
      val corpus = plantedCorpus(s, dir)
      val withN2 = corpus.withColumn("n2", dotQ("embedding", "embedding"))
      // index-sizing from the memoized ingest-phase count (q24b's
      // parameterization; the +n/40 planted rows don't move ⌈log2 n⌉)
      val r = bandBits(Tables.rowCount(s, dir, "embeddings"))
      val bands = lshBands(corpus.select($"vec_id", $"embedding"), r)
      // bucket self-join: candidates are same-(table, sig) pairs; the
      // distinct dedups pairs found by several tables BEFORE scoring.
      // SHUFFLE-hinted since round 21 (guide §2.4/§3): the default plan
      // broadcast one side, so the 4·r-dotq signature subtree ran TWICE
      // (stream + broadcast build — and a corpus-sized bands broadcast
      // is impossible at 100 TB anyway). Hinting both sides into the
      // same hash-partitioning makes them canonically identical, so the
      // second side becomes a ReusedExchange: signatures are computed
      // ONCE and only the 24-byte (table_idx, sig, vec_id) rows shuffle.
      val cand = bands.select($"table_idx", $"sig", $"vec_id".as("id1"))
        .hint("shuffle_hash")
        .join(bands.select($"table_idx", $"sig", $"vec_id".as("id2"))
          .hint("shuffle_hash"),
          Seq("table_idx", "sig"))
        .filter($"id1" < $"id2")
        .select($"id1", $"id2").distinct()
      keepLowestDups(cand
        .join(withN2.select($"vec_id".as("id1"), $"embedding".as("e1"),
          $"n2".as("n1")), Seq("id1"))
        .join(withN2.select($"vec_id".as("id2"), $"embedding".as("e2"),
          $"n2".as("n2b"), $"label"), Seq("id2")))
    },
    // Relational rebuild, q24b-style: identical planted corpus (same
    // IEEE double·1.001 → REAL re-round), same pre-quantized int64
    // planes, same corpus-sized r, then bucket self-join + threshold +
    // keep-lowest window.
    Some(s"""WITH corpus AS (
        SELECT vec_id, embedding, label FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
          list_transform(embedding,
            x -> CAST(CAST(x AS DOUBLE) * 1.001 AS REAL)),
          label
        FROM embeddings WHERE vec_id % 40 = 0),
      ${oracleLshIndex("corpus")},
      cand AS (
        SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        FROM sigs a JOIN sigs b
          ON a.table_idx = b.table_idx AND a.sig = b.sig
          AND a.vec_id < b.vec_id),
      norms AS (
        SELECT vec_id, embedding, label,
          ${oDot("embedding", "embedding")} AS n2
        FROM corpus),
      $oracleKeepLowestDups"""))

  // --------------------------------------------------------------- Q103
  // K-MEANS CLUSTERING (deterministic quantized Lloyd's) — the curation
  // operator SemDeDup-style pipelines run BEFORE within-cluster dedup
  // (Abbas et al. 2023 cluster first, dedup inside clusters; q102 is the
  // LSH-blocked sibling). k = kmK(n) corpus-sized seeds (the k lowest
  // vec_ids — a fixed, engine-portable init), ONE Lloyd update, then
  // re-assignment:
  //   assign(seeds) → centroid update → assign(centroids) → report.
  // Output per surviving cluster: size, within-cluster sum of squares
  // (micro² units), and the centroid micro-sum checksum — k rows, exact
  // integers, hashable cross-engine.
  //
  // Determinism scheme (the q62/q24 fixed-point story, extended to an
  // ITERATIVE algorithm): distances are exact int64 `l2q` sums; argmin
  // ties break by cid via min(struct(d2, cid)) ≡ ROW_NUMBER(ORDER BY
  // d2, cid); the centroid update is an exact int64 micro-sum divided
  // once (sum ≤ n·10⁶ < 2⁵³ ⇒ the double division is of exact operands,
  // IEEE-identical in both engines) and rounded half-away — and because
  // the Spark side stores centroids as float[64] for the codegen'd l2q,
  // the oracle re-rounds its centroid through REAL exactly the same way
  // (for |c| < 8 the float round-trip is lossless — float spacing ≤
  // 4.8·10⁻⁷ < the 5·10⁻⁷ quantization half-step — so the re-round is
  // an identity both sides; it is written out anyway so the oracle
  // mirrors the computation, not a proof about it).
  //
  // Scale shape (100 TB): centroids are k×64 — BROADCAST by
  // construction; assignment is a map-only codegen'd l2q per (row,
  // centroid) with a partial-agg argmin (min(struct) collapses map-side
  // to one row per vector); the update explodes to 64 rows per vector
  // but partial-agg collapses to k×64 keys map-side, so each Lloyd
  // round shuffles O(k·64), not the corpus — the classic
  // broadcast-kmeans MR shape. Rounds are a fixed constant (compare
  // q39's bounded fixpoint). WSS int64 headroom: ~3.5·10⁴ unit-norm
  // vectors per cluster per accumulator (l2q Scaladoc); past that the
  // d2 sum swaps to DECIMAL(38,0) — same plan shape.
  //
  // k IS SIZED FROM THE CORPUS (round-10 verdict item 1, mirroring
  // q102's bandBits(n)): k = max(8, ⌈n / TargetClusterSize⌉) — the
  // SemDeDup parameterization (Abbas et al. 2023 scale k with the
  // corpus so the EXPECTED cluster size, hence q105's per-cluster pair
  // count, stays bounded as n grows: candidates ≈ k·(n/k)²/2 =
  // n·target/2, LINEAR in the corpus where a fixed k degenerates to
  // (n/k)² quadratic). The sizing scalar is the same memoized
  // ingest-phase rowCount q24b/q102 read (a catalog statistic at
  // 100 TB); like q102's r it always reads the base `embeddings` count.
  // THE BASE TABLE IS THE CONTRACT, not a harmless approximation:
  // q105's planted +n/40 rows CAN move a ⌈n/64⌉-granular k (n=2000 →
  // k=32 but the 2050-row planted corpus → 33), so both engines must
  // size k from the SAME relation or the oracle gate diverges exactly
  // at off-floor SFs — the DuckDB `kp` CTE therefore computes the same
  // GREATEST(8, (COUNT(*)+63)//64) FROM embeddings, never from the
  // planted corpus. Exact integer ceil on both sides — no float
  // log/div that could misround at a boundary. At the shipped fixtures:
  // n=500 → k=8 (the floor), n=2000 (sf0.1) → k=32 — the formula is
  // exercised off its floor by KMeansSpec and the sublinearity law in
  // SemDedupSpec.
  private[graft] val TargetClusterSize = 64L
  private[graft] def kmK(n: Long): Int =
    math.max(8L, (n + TargetClusterSize - 1L) / TargetClusterSize).toInt

  /** The DuckDB twin of kmK — spliced into both k-means oracles so the
    * two rebuilds cannot drift from each other or from the Scala. */
  private val oracleKmK: String =
    "kp AS (SELECT CAST(GREATEST(8, (COUNT(*) + " +
      s"${TargetClusterSize - 1}) // $TargetClusterSize) AS BIGINT) " +
      "AS k FROM embeddings)"

  /** Nearest-centroid assignment: (vec_id, cid, d2, embedding).
    * `cents` is (cid long, carr float[64]) and is always broadcast.
    *
    * MAP-ONLY since round 21 (guide §2.4): the old shape crossJoined
    * the broadcast centroid table into |e|·k rows — the 64-float
    * embedding column COPIED k times per vector — and argmin'd back
    * through a groupBy(vec_id) exchange. The centroids now fold as ONE
    * broadcast array row and each vector computes its argmin in place
    * with a higher-order `aggregate`: no row blow-up, no exchange —
    * assignment becomes a pure projection of `e`, so each Lloyd round
    * stops shuffling a corpus-sized relation. Tie-break identical:
    * least(struct(d2, cid)) is the same lexicographic (d2, cid) min as
    * min(struct(d2, cid)) and is visit-order-free (OPTIMIZATION_r21.md:
    * diff rows = 0, and the fold measured ~2× faster at 32k vectors
    * despite the interpreted HOF lambda — the removed n·k materialization and
    * exchange dominate). Scale note: the array row needs k·268 B in
    * one cell (k ≤ ~7M under the 2 GB cell cap) — the same
    * broadcastable-k regime the old table form capped at (~8 GB / 30M
    * rows), and far above any kmK(n) a broadcast-kmeans deployment
    * would run with a single codebook. */
  private def kmAssign(e: DataFrame, cents: DataFrame)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    val centArr = cents
      .agg(sort_array(collect_list(struct($"cid", $"carr"))).as("cs"))
    e.crossJoin(broadcast(centArr))
      .select($"vec_id", expr(
        "aggregate(cs, " +
          "struct(CAST(9223372036854775807 AS BIGINT) AS d2, " +
          "CAST(-1 AS BIGINT) AS cid), " +
          "(acc, c) -> least(acc, " +
          "struct(l2q(embedding, c.carr) AS d2, c.cid AS cid)))").as("m"),
        $"embedding")
      .select($"vec_id", $"m.cid".as("cid"), $"m.d2".as("d2"), $"embedding")
  }

  /** Lloyd centroid update from an assignment: (cid, carr float[64],
    * sum_cq). Exact micro-sums per (cid, dim), one rounded division,
    * float re-materialization for the codegen'd distance. */
  private def kmUpdate(assigned: DataFrame)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    assigned
      .select($"cid", posexplode($"embedding").as(Seq("dim", "x")))
      .select($"cid", $"dim",
        expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")
          .as("xq"))
      .groupBy($"cid", $"dim")
      .agg(count(lit(1)).as("n"), sum($"xq").as("sq"))
      .withColumn("cq",
        expr("CAST(round(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)"))
      .withColumn("cf", ($"cq".cast(DoubleType) / lit(1e6)).cast(FloatType))
      .groupBy($"cid")
      .agg(
        transform(array_sort(collect_list(struct($"dim", $"cf"))),
          el => el.getField("cf")).as("carr"),
        sum($"cq").as("sum_cq"))
  }

  /** k-lowest-id seed centroids: (cid 0..k-1 in id order, carr).
    * The k-row global window runs on a driver-side tiny relation. */
  private def kmSeeds(e: DataFrame, k: Int)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    e.orderBy($"vec_id").limit(k)
      .select((row_number().over(Window.orderBy($"vec_id")) - 1)
        .cast(LongType).as("cid"), $"embedding".as("carr"))
  }

  private val q103 = QueryDef(
    "q103_kmeans_clusters",
    (s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val e = emb(s, dir).select($"vec_id", $"embedding")
      val k = kmK(Tables.rowCount(s, dir, "embeddings"))
      val a1 = kmAssign(e, kmSeeds(e, k))
      val c1 = kmUpdate(a1)
      val a2 = kmAssign(e, c1.select($"cid", $"carr"))
      a2.groupBy($"cid")
        .agg(count(lit(1)).as("n"), sum($"d2").as("wss_q"))
        .join(c1.select($"cid", $"sum_cq"), Seq("cid"))
        .select($"cid", $"n", $"wss_q", $"sum_cq")
        .orderBy($"cid")
    },
    // Long-form rebuild: identical quantization, identical tie-breaks,
    // identical REAL re-round of the updated centroids.
    Some(s"""WITH eq AS (
        SELECT vec_id,
          CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
          CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
            AS BIGINT) AS xq
        FROM embeddings),
      $oracleKmK,
      seeds AS (
        SELECT vec_id,
          CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
        FROM embeddings
        QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id)
          <= (SELECT k FROM kp)),
      c0 AS (
        SELECT s.cid, e.dim, e.xq AS cq
        FROM seeds s JOIN eq e USING (vec_id)),
      d1 AS (
        SELECT e.vec_id, c.cid,
          SUM((e.xq - c.cq) * (e.xq - c.cq)) AS d2
        FROM eq e JOIN c0 c ON e.dim = c.dim
        GROUP BY 1, 2),
      a1 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
          FROM d1) WHERE rk = 1),
      c1 AS (
        SELECT a.cid, e.dim,
          CAST(round(CAST(SUM(e.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
        FROM a1 a JOIN eq e USING (vec_id)
        GROUP BY 1, 2),
      c1f AS (
        SELECT cid, dim, cq,
          CAST(round(CAST(CAST(CAST(cq AS DOUBLE) / 1000000 AS REAL)
            AS DOUBLE) * 1000000) AS BIGINT) AS cqf
        FROM c1),
      d2s AS (
        SELECT e.vec_id, c.cid,
          SUM((e.xq - c.cqf) * (e.xq - c.cqf)) AS d2
        FROM eq e JOIN c1f c ON e.dim = c.dim
        GROUP BY 1, 2),
      a2 AS (
        SELECT vec_id, cid, d2 FROM (
          SELECT vec_id, cid, d2,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
          FROM d2s) WHERE rk = 1),
      sums AS (
        SELECT cid, CAST(SUM(cq) AS BIGINT) AS sum_cq FROM c1f GROUP BY 1)
      SELECT a.cid, COUNT(*) AS n, CAST(SUM(a.d2) AS BIGINT) AS wss_q,
        s.sum_cq
      FROM a2 a JOIN sums s USING (cid)
      GROUP BY a.cid, s.sum_cq ORDER BY a.cid"""))

  // --------------------------------------------------------------- Q105
  // SemDeDup VERBATIM (Abbas et al. 2023): the paper's pipeline is
  // k-means cluster → pairwise cosine WITHIN each cluster → drop
  // near-duplicates. q102 is the LSH-blocked variant; q105 composes the
  // registry's own operators into the published algorithm — q103's
  // deterministic quantized Lloyd rounds provide the blocking, q102's
  // planted corpus + keep-lowest rule provide the dedup semantics, so
  // the two blocking strategies are directly comparable on identical
  // input.
  //
  // Scale shape (100 TB): the cluster self-join is EQUI-KEYED on cid —
  // never all-pairs; per-cluster pair count is (n/k)², and k IS SIZED
  // FROM THE CORPUS (kmK(n) = max(8, ⌈n/64⌉), the paper's k = n/target
  // parameterization — round-10 verdict item 1) so the expected
  // cluster size, hence per-cluster work, stays BOUNDED as the corpus
  // grows: total candidates ≈ n·target/2, linear in n, pinned by the
  // cross-SF sublinearity law in SemDedupSpec. Uneven clusters at
  // extreme scale get the q-skew treatment (AQE skew-join split on the
  // cid shuffle). Recall model: a planted copy lands in its original's
  // cluster unless the pair straddles a Voronoi boundary at the ~0.1%
  // scaling margin; the assignment is exact integer arithmetic, so both
  // engines split (or don't) IDENTICALLY and the oracle is exact either
  // way — recall on this corpus is pinned in SemDedupSpec.
  private val q105 = QueryDef(
    "q105_semantic_dedup_kmeans",
    (s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val corpus = plantedCorpus(s, dir)
      val e = corpus.select($"vec_id", $"embedding")
      val k = kmK(Tables.rowCount(s, dir, "embeddings"))
      val a1 = kmAssign(e, kmSeeds(e, k))
      val a2 = kmAssign(e, kmUpdate(a1).select($"cid", $"carr"))
      val withN2 = corpus.withColumn("n2", dotQ("embedding", "embedding"))
      val side = a2.select($"vec_id", $"cid").join(withN2, Seq("vec_id"))
      val l = side.select($"vec_id".as("id1"), $"cid",
        $"embedding".as("e1"), $"n2".as("n1"))
      val r = side.select($"vec_id".as("id2"), $"cid",
        $"embedding".as("e2"), $"n2".as("n2b"), $"label")
      keepLowestDups(l.join(r, Seq("cid")).filter($"id1" < $"id2"))
    },
    // q102's planted corpus + q103's Lloyd CTEs + q102's edge/keep CTEs,
    // stitched: the blocking key is the round-2 cluster id.
    Some(s"""WITH corpus AS (
        SELECT vec_id, embedding, label FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
          list_transform(embedding,
            x -> CAST(CAST(x AS DOUBLE) * 1.001 AS REAL)),
          label
        FROM embeddings WHERE vec_id % 40 = 0),
      eq AS (
        SELECT vec_id, CAST(gs AS BIGINT) AS dim,
          CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xq
        FROM (SELECT vec_id, unnest(embedding) AS x,
                generate_subscripts(embedding, 1) AS gs
              FROM corpus) t),
      $oracleKmK,
      seeds AS (
        SELECT vec_id,
          CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
        FROM corpus
        QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id)
          <= (SELECT k FROM kp)),
      c0 AS (
        SELECT s.cid, e.dim, e.xq AS cq
        FROM seeds s JOIN eq e USING (vec_id)),
      d1 AS (
        SELECT e.vec_id, c.cid,
          SUM((e.xq - c.cq) * (e.xq - c.cq)) AS d2
        FROM eq e JOIN c0 c ON e.dim = c.dim
        GROUP BY 1, 2),
      a1 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
          FROM d1) WHERE rk = 1),
      c1 AS (
        SELECT a.cid, e.dim,
          CAST(round(CAST(SUM(e.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
        FROM a1 a JOIN eq e USING (vec_id)
        GROUP BY 1, 2),
      c1f AS (
        SELECT cid, dim,
          CAST(round(CAST(CAST(CAST(cq AS DOUBLE) / 1000000 AS REAL)
            AS DOUBLE) * 1000000) AS BIGINT) AS cqf
        FROM c1),
      d2s AS (
        SELECT e.vec_id, c.cid,
          SUM((e.xq - c.cqf) * (e.xq - c.cqf)) AS d2
        FROM eq e JOIN c1f c ON e.dim = c.dim
        GROUP BY 1, 2),
      a2 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
          FROM d2s) WHERE rk = 1),
      norms AS (
        SELECT vec_id, embedding, label,
          ${oDot("embedding", "embedding")} AS n2
        FROM corpus),
      cand AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2
        FROM a2 a JOIN a2 b
          ON a.cid = b.cid AND a.vec_id < b.vec_id),
      $oracleKeepLowestDups"""))

  // --------------------------------------------------------------- Q114
  // SEMANTIC DECONTAMINATION: flag corpus vectors whose embedding is
  // near-identical to a held-out BENCHMARK set — q52's n-gram
  // decontamination at the embedding granularity, the same two-level
  // story the dedup family tells (q23 text ↔ q102 embedding). An eval
  // answer paraphrased into training data shares no 5-gram with the
  // benchmark but its embedding still sits at cosine ≈ 1; this is the
  // hygiene join that catches it.
  //
  // Benchmark = vec_id % 53 = 0 (~2%, standing in for an eval suite —
  // q52's carve idiom). The fixture corpus is random vectors (natural
  // max cosine ≈ 0.5, see q24c), so contamination is PLANTED
  // deterministically, q102-style: every benchmark vector with
  // vec_id % 106 = 0 — half the suite — re-enters the corpus scaled by
  // 1.001 as vec_id + 1000000 (direction-preserving; double·1.001 →
  // float re-round is IEEE round-to-nearest in both engines, so the
  // oracle rebuilds the identical corpus). The other half of the
  // benchmark stays un-leaked — the query must flag ONLY the planted
  // half (precision is graded by the hash gate, recall pinned in
  // SemDecontamSpec).
  //
  // Scale shape (100 TB): the asymmetric sibling of q102's self-join —
  // the benchmark side is SMALL BY CONSTRUCTION (an eval suite), so
  // its r-bit signatures BROADCAST into the candidate join and its
  // vectors broadcast again into the scoring join; the corpus side is
  // map-only signature computation (4·r codegen'd dotq per row) with
  // NO corpus-side shuffle at any scale (exactly q52's benchmark-
  // broadcast shape). Candidates are same-(table, sig) pairs only;
  // exact cosine runs on candidates only; the per-corpus-vector
  // min-bench attribution window partitions by corpus_id (tiny
  // partitions — one row per matching bench item).
  private val contamThreshold = 0.9

  private val q114 = QueryDef(
    "q114_semantic_decontam",
    (s, dir) => {
      import s.implicits._
      val base = emb(s, dir).select($"vec_id", $"embedding", $"label")
      val bench = base.filter($"vec_id" % 53 === 0)
      val leaked = base.filter($"vec_id" % 106 === 0)
        .select(($"vec_id" + lit(1000000L)).as("vec_id"),
          transform($"embedding",
            x => (x.cast(DoubleType) * lit(1.001)).cast(FloatType))
            .as("embedding"),
          $"label")
      val corpus = base.filter($"vec_id" % 53 =!= 0).unionAll(leaked)
      // index-sizing from the memoized ingest-phase count (q24b/q102's
      // parameterization; the planted rows don't move ⌈log2 n⌉)
      val r = bandBits(Tables.rowCount(s, dir, "embeddings"))
      val bBands = lshBands(bench.select($"vec_id", $"embedding"), r)
      val cBands = lshBands(corpus.select($"vec_id", $"embedding"), r)
      val cand = cBands
        .select($"table_idx", $"sig", $"vec_id".as("corpus_id"))
        .join(broadcast(bBands
          .select($"table_idx", $"sig", $"vec_id".as("bench_id"))),
          Seq("table_idx", "sig"))
        .select($"corpus_id", $"bench_id").distinct()
      val cN = corpus.withColumn("n2", dotQ("embedding", "embedding"))
      val bN = bench.withColumn("n2", dotQ("embedding", "embedding"))
      val scored = cand
        .join(cN.select($"vec_id".as("corpus_id"), $"embedding".as("ec"),
          $"n2".as("nc"), $"label"), Seq("corpus_id"))
        .join(broadcast(bN.select($"vec_id".as("bench_id"),
          $"embedding".as("eb"), $"n2".as("nb"))), Seq("bench_id"))
        .withColumn("cosine",
          dotQ("ec", "eb").cast(DoubleType) /
            (sqrt($"nc".cast(DoubleType)) * sqrt($"nb".cast(DoubleType))))
        .filter($"cosine" >= contamThreshold)
      // attribution: each contaminated corpus vector reports its
      // SMALLEST matching benchmark item (deterministic when one leak
      // collides with several bench entries)
      val w = Window.partitionBy($"corpus_id").orderBy($"bench_id")
      scored
        .select($"label", $"corpus_id", $"bench_id", $"cosine",
          row_number().over(w).as("rk"))
        .filter($"rk" === 1)
        .select($"label", $"corpus_id", $"bench_id", $"cosine")
        .orderBy($"label", $"corpus_id")
    },
    // Relational rebuild: identical planted corpus, ONE sigs CTE over
    // bench ∪ corpus (ids are disjoint: planted ids are originals
    // +1000000, fixture ids < 1000000), candidates restricted to
    // bench×corpus by the id rule, exact integer cosine on candidates,
    // min-bench attribution window.
    Some(s"""WITH bench AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE vec_id % 53 = 0),
      corpus AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE vec_id % 53 <> 0
        UNION ALL
        SELECT vec_id + 1000000,
          list_transform(embedding,
            x -> CAST(CAST(x AS DOUBLE) * 1.001 AS REAL)),
          label
        FROM embeddings WHERE vec_id % 106 = 0),
      allv AS (
        SELECT vec_id, embedding FROM bench
        UNION ALL SELECT vec_id, embedding FROM corpus),
      ${oracleLshIndex("allv")},
      cand AS (
        SELECT DISTINCT c.vec_id AS corpus_id, b.vec_id AS bench_id
        FROM sigs c JOIN sigs b
          ON c.table_idx = b.table_idx AND c.sig = b.sig
        WHERE b.vec_id % 53 = 0 AND b.vec_id < 1000000
          AND NOT (c.vec_id % 53 = 0 AND c.vec_id < 1000000)),
      cn AS (
        SELECT vec_id, embedding, label,
          ${oDot("embedding", "embedding")} AS n2
        FROM corpus),
      bn AS (
        SELECT vec_id, embedding,
          ${oDot("embedding", "embedding")} AS n2
        FROM bench),
      edges AS (
        SELECT cn.label, cd.corpus_id, cd.bench_id,
          CAST(${oDot("cn.embedding", "bn.embedding")} AS DOUBLE)
            / (sqrt(CAST(cn.n2 AS DOUBLE)) * sqrt(CAST(bn.n2 AS DOUBLE)))
            AS cosine
        FROM cand cd
        JOIN cn ON cn.vec_id = cd.corpus_id
        JOIN bn ON bn.vec_id = cd.bench_id),
      ranked AS (
        SELECT label, corpus_id, bench_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY corpus_id ORDER BY bench_id)
            AS rk
        FROM edges WHERE cosine >= $contamThreshold)
      SELECT label, corpus_id, bench_id, cosine
      FROM ranked WHERE rk = 1 ORDER BY label, corpus_id"""))

  // --------------------------------------------------------------- Q119
  // HARD-NEGATIVE MINING — the contrastive-training data-prep join
  // (DPR, Karpukhin et al., EMNLP'20 §4.2: the strongest negatives are
  // the retriever's own near-misses): for each anchor, the top-5 most
  // cosine-similar vectors whose LABEL DIFFERS from the anchor's. The
  // candidate set is q24b's banded multi-probe LSH index — mining runs
  // on the ANN index a production system already has, not a fresh
  // brute-force pass — and the label gate applies BEFORE the exact
  // rescore, so only cross-label candidates ever pay a float dot.
  // Same anchors as q24/q24b (vec_ids 0,1,2; labels differ per anchor),
  // so the mined negatives are directly comparable against the
  // unconstrained top-5 of the same index.
  //
  // Scale shape (100 TB): identical to q24b's — map-only 4·r codegen'd
  // signature bits per corpus row, candidates via an equi-join against
  // the ≤ 4·(r+1)-row broadcast probe set, label filter and exact
  // scoring on candidates only, per-anchor top-5 through the bounded
  // `topk_by_score` heap (partial/final merge, no per-candidate
  // window shuffle). The only addition over q24b is one broadcast
  // column (q_label) and one scan-stage predicate.
  /** The full mining pipeline over an arbitrary embeddings-shaped
    * frame (vec_id, embedding, label) — exposed private[graft] for
    * HardNegativeSpec's planted-recall law (a 1.001-scaled cross-label
    * copy of an anchor has the identical sign pattern under every
    * hyperplane, so the index MUST surface it and the exact rescore
    * MUST rank it first). */
  private[graft] def hardNegatives(raw: DataFrame, r: Int): DataFrame = {
    val base = raw.withColumn("n2", dotQ("embedding", "embedding"))
    // q24b's candidate set, verbatim by construction (shared helper)
    val cand = lshCandidatesOf(raw.select(col("vec_id"), col("embedding")), r)
    val qv = base.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), col("n2").as("q_n2"))
    val scored = cand
      .join(base.select(col("vec_id"), col("label"), col("embedding"),
        col("n2")), Seq("vec_id"))
      .join(broadcast(qv), Seq("q_id"))
      .filter(col("label") =!= col("q_label")) // the hard-NEGATIVE gate
      .withColumn("cosine",
        dotQ("q_emb", "embedding").cast(DoubleType) /
          (sqrt(col("q_n2").cast(DoubleType)) *
            sqrt(col("n2").cast(DoubleType))))
    scored.groupBy(col("q_id"), col("q_label"))
      .agg(expr("topk_by_score(cosine, vec_id, 5)").as("top"))
      .select(col("q_id"), col("q_label"), posexplode(col("top")))
      .select(col("q_id"), col("q_label"),
        (col("pos") + 1).cast(LongType).as("rk"),
        col("col.id").as("vec_id"), col("col.score").as("cosine"))
      .join(raw.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("q_id"), col("q_label"), col("rk"), col("vec_id"),
        col("label"), col("cosine"))
      .orderBy(col("q_id"), col("rk"))
  }

  private val q119 = QueryDef(
    "q119_hard_negatives",
    (s, dir) => hardNegatives(emb(s, dir),
      bandBits(Tables.rowCount(s, dir, "embeddings"))),
    // q24b's relational index rebuild with the anchor's label carried
    // through and the cross-label predicate applied pre-ranking.
    Some(s"""WITH norms AS (
        SELECT vec_id, embedding, label,
          ${oDot("embedding", "embedding")} AS n2
        FROM embeddings),
      ${oracleLshIndex("embeddings")},
      $oracleProbesCand,
      q AS (
        SELECT vec_id AS q_id, label AS q_label,
          embedding AS q_emb, n2 AS q_n2
        FROM norms WHERE vec_id IN (${queryIds.mkString(", ")})),
      scored AS (
        SELECT cd.q_id, q.q_label, e.vec_id, e.label,
          CAST(${oDot("q.q_emb", "e.embedding")} AS DOUBLE)
            / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(e.n2 AS DOUBLE)))
            AS cosine
        FROM cand cd
        JOIN norms e ON e.vec_id = cd.vec_id
        JOIN q ON q.q_id = cd.q_id
        WHERE e.label <> q.q_label),
      ranked AS (
        SELECT q_id, q_label, vec_id, label, cosine,
          CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk
        FROM scored)
      SELECT q_id, q_label, rk, vec_id, label, cosine
      FROM ranked WHERE rk <= 5 ORDER BY q_id, rk"""))

  // --------------------------------------------------------------- Q121
  // EMBEDDING↔DOCUMENT ALIGNMENT AUDIT — the registry's one CROSS-TABLE
  // multimodal join: every embedding row keys back to its source
  // document (vec_id = doc_id, the id contract an ingest pipeline
  // maintains between a text table and its vector sidecar), and the
  // audit reports per-label language purity — does embedding space
  // respect a text-side attribute? A label whose members scatter
  // uniformly across languages (purity → 1/|langs|) carries no
  // language signal; a near-1e6-ppm label is language-pure. The purity
  // argmax tie-breaks deterministically (count desc, lang asc). On the
  // random fixtures purity sits near the uniform floor by construction
  // (~10 labels × 5 langs) — the audit's honest reading; the machinery
  // (join → contingency → per-group argmax) is what a real pipeline
  // runs to validate its vector sidecar after every ingest.
  //
  // Scale shape (100 TB): the id equi-join is the standard
  // co-partitioned multimodal join — both sides shuffle (or bucket,
  // the q03b layout) on the SAME high-entropy id, no broadcast needed
  // and none assumed; the contingency aggregate collapses map-side to
  // a |labels|·|langs|-bounded grid, and the purity window runs on
  // that AGGREGATED bounded frame (the q116 pattern), so nothing
  // downstream of the join carries per-row payload.
  /** The audit over arbitrary embedding/document-shaped frames —
    * exposed private[graft] for AlignmentAuditSpec's planted-purity
    * and tie-break laws. */
  private[graft] def alignmentAudit(embF: DataFrame,
      docF: DataFrame): DataFrame = {
    val pairs = embF.select(col("vec_id"), col("label"))
      .join(docF.select(col("doc_id").as("vec_id"), col("lang")),
        Seq("vec_id"))
    val grid = pairs.groupBy(col("label"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
    val byLabel = Window.partitionBy(col("label"))
    // asc_nulls_last pins the tie-break's NULL ordering explicitly:
    // Spark's ascending default is NULLS FIRST while DuckDB's is NULLS
    // LAST, so an unpinned tie between a NULL-lang and a real-lang
    // group would diverge across engines (review finding; a real lang
    // beating "unknown" is also the sensible audit convention)
    grid
      .withColumn("rk", row_number().over(
        byLabel.orderBy(col("cnt").desc, col("lang").asc_nulls_last)))
      .withColumn("n_vecs", sum(col("cnt")).over(byLabel))
      .filter(col("rk") === 1)
      .select(col("label"), col("n_vecs"), col("lang").as("top_lang"),
        col("cnt").as("top_cnt"),
        expr("cnt * 1000000 DIV n_vecs").as("purity_ppm"))
      .orderBy(col("label"))
  }

  private val q121 = QueryDef(
    "q121_alignment_audit",
    (s, dir) =>
      alignmentAudit(emb(s, dir), Tables.load(s, dir, "documents")),
    Some("""WITH pairs AS (
        SELECT e.label, d.lang
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
      grid AS (
        SELECT label, lang, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2),
      tot AS (
        SELECT label, lang, cnt,
          CAST(SUM(cnt) OVER (PARTITION BY label) AS BIGINT) AS n_vecs,
          ROW_NUMBER() OVER (PARTITION BY label
            ORDER BY cnt DESC, lang NULLS LAST) AS rk
        FROM grid)
      SELECT label, n_vecs, lang AS top_lang, cnt AS top_cnt,
        cnt * 1000000 // n_vecs AS purity_ppm
      FROM tot WHERE rk = 1 ORDER BY label"""))

  val all: Seq[QueryDef] =
    Seq(q24, q24b, q24c, q24d, q24e, q24f, q62, q102, q103, q105, q114,
      q119, q121)
}
