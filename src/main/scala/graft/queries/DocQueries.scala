package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables
import graft.lsm.Lsm._
import graft.streaming.StreamingJobs

/** Q22 + the LLM-training-data text operators over `documents`
  * (doc_id, text, lang, source, n_chars — FIXTURES.md §1).
  *
  * Cross-engine hash portability: Spark's `hash()` is Murmur3 and DuckDB's
  * `hash()` is a different algorithm, so every hash the oracle must
  * reproduce uses md5 hex strings (identical lowercase hex in both
  * engines, compared with binary collation). MinHash over md5-strings is
  * the same algorithm as MinHash over ints — min of a uniformly-ordered
  * hash family — just with lexicographic order on the hex.
  *
  * Determinism policy (graft.Policy): every aggregate here is over
  * integers or strings (counts, mins of hex) — order-independent by
  * construction; ratios are a single IEEE double division at the end.
  */
object DocQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** The 5-gram window explode every gram/shingle consumer shares —
    * ONE definition of the token-window contract (width 5,
    * space-joined, over a `toks` array<string> column) so q23's
    * shingle table, `shingleTable`, q117's corpus pass and the gram
    * index cannot drift apart (review finding: this expression
    * previously lived in four hand-synchronized string literals). */
  private def gramExplode: Column =
    explode(expr("transform(sequence(1, size(toks) - 4), " +
      "i -> concat_ws(' ', slice(toks, i, 5)))"))

  private val stopwords = Seq("a", "the", "of", "and", "to", "in")
  private val stopList = stopwords.map(w => s"'$w'").mkString(", ")

  // ---------------------------------------------------------------- Q22
  // Token frequency: top-25 tokens per language. explode+groupBy is the
  // canonical distributed shape; the per-lang top-k window runs over the
  // AGGREGATED counts (cardinality = |vocab|×|langs|, bounded), not the
  // raw tokens — so partition sizes stay small at any corpus size.
  private val q22 = QueryDef(
    "q22_token_frequency",
    (s, dir) => {
      import s.implicits._
      val counts = docs(s, dir)
        .select($"lang", explode(split(lower($"text"), " ")).as("token"))
        .filter(length($"token") > 0 && !$"token".isin(stopwords: _*))
        .groupBy($"lang", $"token")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"lang").orderBy($"n".desc, $"token")
      counts.select($"lang", $"token", $"n",
          row_number().over(w).cast(LongType).as("rk"))
        .filter($"rk" <= 25)
        .orderBy($"lang", $"rk")
    },
    Some(s"""WITH toks AS (
        SELECT lang, unnest(string_split(lower(text), ' ')) AS token
        FROM documents),
      counts AS (
        SELECT lang, token, COUNT(*) AS n FROM toks
        WHERE length(token) > 0 AND token NOT IN ($stopList)
        GROUP BY 1, 2)
      SELECT lang, token, n, rk FROM (
        SELECT lang, token, n,
          CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token)
               AS BIGINT) AS rk
        FROM counts) t
      WHERE rk <= 25 ORDER BY lang, rk"""))

  // ---------------------------------------------------------------- Q23
  // Near-duplicate detection: MinHash-LSH, banded — NOT all-pairs.
  //   1. 5-gram word shingles per doc (HOF transform, no explode until
  //      the distinct).
  //   2. 16 MinHash values per doc from ONE md5 per shingle row: family i
  //      orders shingles by the hex digest rotated left by i bytes
  //      (2i hex chars) — a fixed bijection of a uniform 128-bit value is
  //      itself uniform, so min-of-family still estimates Jaccard, and
  //      the digest work drops 16× (md5 dominated the round-2 bench; the
  //      16 rotations are cheap substring concats).
  //   3. 4 bands × 4 rows; band value = md5(h_{4b}‖…‖h_{4b+3}). Two docs
  //      collide in a band iff all 4 minhashes agree (P = s^4 per band,
  //      s = Jaccard) — the classic LSH S-curve, steep around s≈0.7.
  //   4. Candidate pairs = equi-join on (band_idx, band_val). Band values
  //      are high-entropy, so bucket sizes ≈ true duplicate-cluster sizes:
  //      the join stays linear at 100 TB (vs. the quadratic crossJoin+
  //      Jaccard a naive implementation would do — disqualifying at scale).
  //   5. Exact 5-gram Jaccard verification ONLY on candidates; emit pairs
  //      with J ≥ 0.6.
  /** Engine-mirrored MinHash machinery — ONE definition for both the
    * Spark and DuckDB halves of the hash contract so the two engines
    * (and the two consumers: q23/q39's 16-family 4×4 index and q110's
    * 8-family 2×4 batch index) cannot silently drift. Family i is the
    * min over the md5 hex digest rotated left by step·i chars; band b
    * is md5 of the '|'-joined rows of that band. */
  private def minhashAggs(nFam: Int, step: Int): Seq[Column] =
    (0 until nFam).map { i =>
      val p = step * i
      val fam =
        if (p == 0) col("h")
        else concat(substring(col("h"), p + 1, 32 - p),
          substring(col("h"), 1, p))
      min(fam).as(s"h$i")
    }

  private def bandArray(nBands: Int, rows: Int): Column = array(
    (0 until nBands).map(b => struct(
      lit(b).as("band_idx"),
      md5(concat_ws("|",
        (0 until rows).map(r => col(s"h${b * rows + r}")): _*)
        .cast(BinaryType)).as("band_val"))): _*)

  /** DuckDB mirrors of the two builders above. */
  private def oMinhashAggs(nFam: Int, step: Int): String =
    (0 until nFam).map { i =>
      val p = step * i
      val fam =
        if (p == 0) "h"
        else s"substring(h, ${p + 1}, ${32 - p}) || substring(h, 1, $p)"
      s"min($fam) AS h$i"
    }.mkString(", ")

  private def oBandSelects(nBands: Int, rows: Int, keyCols: String): String =
    (0 until nBands).map { b =>
      val cat = (0 until rows).map(r => s"h${b * rows + r}")
        .mkString(" || '|' || ")
      s"SELECT $keyCols, $b AS band_idx, md5($cat) AS band_val FROM sig"
    }.mkString("\n        UNION ALL ")

  /** The q23 candidate-pair pipeline, shared with q39's clustering.
    * Returns (doc1, doc2, n_shared, n1, n2, jaccard) for J >= 0.6,
    * unordered. private[graft] for LeakSafeSplitSpec's straddle laws. */
  private[graft] def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    {
      import s.implicits._
      // The shingle set feeds MANY plan branches (signature agg, both
      // Jaccard sides, and through them sizes/bands — 12 logical scans
      // of documents). localCheckpoint materializes the distinct set
      // ONCE and lets every branch read the blocks: measured at sf0.1
      // it cut q23 6.7→3.8 s cold / 3.1→2.4 s warm (and q39 similarly).
      // Round-2 note for contrast: lazy .persist() of the MinHash
      // SIGNATURE stage was benchmarked and LOST on the cold single-run
      // path — the win comes from truncating the 12-way recompute of
      // the explode+distinct subtree specifically. On a repeatedly-
      // queried 100 TB corpus the same decision becomes "materialize
      // the shingle table to storage once at ingest".
      //
      // MEASURED ALTERNATIVE, rejected (round 3): the native
      // `word_shingles(text, 5)` expression dedups per document inside
      // the scan stage and makes this table map-only, but on local[32]
      // it ran ~0.6 s SLOWER (4.4–4.9 s vs 3.8 s cold): a 500k-row dedup
      // shuffle in a single JVM is memcpy-cheap, while the per-row JVM
      // string work is real. FunctionsSpec pins the two shapes equal.
      val sh = docs(s, dir)
        .select($"doc_id", split(lower($"text"), " ").as("toks"))
        .filter(size($"toks") >= 5)
        .select($"doc_id", gramExplode.as("shingle"))
        .distinct()
        .localCheckpoint()
      // ONE aggregation computes all 16 minhashes AND the shingle-set
      // size (the Jaccard denominator) — fusing `sizes` in here removes
      // a second scan+shuffle of the shingle set. One md5 per row; each
      // family is a byte-rotation of that digest (see step 2 above).
      val withH = sh.withColumn("h", md5($"shingle".cast(BinaryType)))
      val hs = minhashAggs(16, 2)
      val sig = withH.groupBy($"doc_id")
        .agg(hs.head, hs.tail: _*)
      val bands = sig.select($"doc_id", explode(bandArray(4, 4)).as("bd"))
        .select($"doc_id", $"bd.band_idx".as("band_idx"),
          $"bd.band_val".as("band_val"))
      val b1 = bands.toDF("doc1", "band_idx", "band_val")
      val b2 = bands.toDF("doc2", "band_idx", "band_val")
      // candidates feed TWO consumers now (the verify joins and the
      // candidate-id restriction below) — pin them once
      val cand = b1.join(b2, Seq("band_idx", "band_val"))
        .filter($"doc1" < $"doc2")
        .select($"doc1", $"doc2").distinct()
        .localCheckpoint()
      // VERIFY REWRITE (round 20, guide §2.3 "shuffle fewer bytes" +
      // §3): the old exact-Jaccard verify joined the FULL shingle table
      // twice (cand ⋈ sh ⋈ sh + count), shuffling the corpus-sized
      // (doc, shingle) relation by doc1 and again by (doc2, shingle) —
      // at 100 TB two corpus-wide shuffles whose only purpose is a
      // per-pair intersection count. Now: restrict the per-doc sorted
      // shingle arrays to CANDIDATE docs (semi-join — candidate ids
      // are a corpus fraction, no broadcast hint so AQE picks the
      // strategy by size), build each doc's array ONCE, and count the
      // intersection with the codegen'd sorted_icount merge scan per
      // candidate pair — the exact shape q45/q110 measured ~3x faster
      // than the row-level join (q45's verify comment), applied to the
      // q23/q39/q115 kernel. n1/n2 = size(set) — the separate sizes
      // joins disappear with the second corpus shuffle.
      val candIds = cand.select($"doc1".as("doc_id"))
        .union(cand.select($"doc2".as("doc_id"))).distinct()
      val docSets = sh.join(candIds, Seq("doc_id"), "left_semi")
        .groupBy($"doc_id")
        .agg(sort_array(collect_list($"shingle")).as("ss"))
      val verified = cand
        .join(docSets.toDF("doc1", "ss1"), "doc1")
        .join(docSets.toDF("doc2", "ss2"), "doc2")
        .select($"doc1", $"doc2",
          expr("sorted_icount(ss1, ss2)").as("n_shared"),
          size($"ss1").cast(LongType).as("n1"),
          size($"ss2").cast(LongType).as("n2"))
      val jac = $"n_shared".cast(DoubleType) / ($"n1" + $"n2" - $"n_shared")
      verified
        .select($"doc1", $"doc2", $"n_shared", $"n1", $"n2",
          jac.as("jaccard"))
        .filter(jac >= 0.6)
    }
  }

  /** Oracle CTE chain ending in `pairs` — shared by q23 and q39. */
  private val oraclePairCtes: String = {
      val hs = oMinhashAggs(16, 2)
      val bandSelects = oBandSelects(4, 4, "doc_id")
      s"""WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
          unnest(list_transform(generate_series(1, len(t) - 4),
            i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks WHERE len(t) >= 5),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      sigin AS (SELECT doc_id, md5(shingle) AS h FROM sh),
      sig AS (SELECT doc_id, $hs FROM sigin GROUP BY 1),
      bands AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT b1.doc_id AS doc1, b2.doc_id AS doc2
        FROM bands b1 JOIN bands b2 USING (band_idx, band_val)
        WHERE b1.doc_id < b2.doc_id),
      inter AS (
        SELECT doc1, doc2, COUNT(*) AS n_shared
        FROM cand
        JOIN sh x1 ON x1.doc_id = doc1
        JOIN sh x2 ON x2.doc_id = doc2 AND x2.shingle = x1.shingle
        GROUP BY 1, 2),
      pairs AS (
        SELECT doc1, doc2, n_shared, z1.n AS n1, z2.n AS n2,
          CAST(n_shared AS DOUBLE) / (z1.n + z2.n - n_shared) AS jaccard
        FROM inter
        JOIN sizes z1 ON z1.doc_id = doc1
        JOIN sizes z2 ON z2.doc_id = doc2
        WHERE CAST(n_shared AS DOUBLE) / (z1.n + z2.n - n_shared) >= 0.6)"""
  }

  private val q23 = QueryDef(
    "q23_near_dup_minhash",
    (s, dir) => {
      import s.implicits._
      nearDupPairs(s, dir).orderBy($"doc1", $"doc2")
    },
    Some(s"""$oraclePairCtes
      SELECT doc1, doc2, n_shared, n1, n2, jaccard FROM pairs
      ORDER BY doc1, doc2"""))

  // ---------------------------------------------------------------- Q25
  // Exact deduplication: hash-groupBy on md5(text). The distributed
  // classic — one shuffle on the digest; countDistinct plans as a
  // two-phase partial/final aggregate.
  private val q25 = QueryDef(
    "q25_exact_dedup",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5($"text".cast(BinaryType))).as("n_unique"))
        .withColumn("n_exact_dups", $"n_docs" - $"n_unique")
        .orderBy($"source")
    },
    Some("""SELECT source, COUNT(*) AS n_docs,
      COUNT(DISTINCT md5(text)) AS n_unique,
      COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dups
      FROM documents GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- Q26
  // Language-ID by n-gram (unigram) frequency voting: train a per-lang
  // token-frequency model from the labeled corpus, then predict each
  // doc's language as the lang whose corpus frequencies its tokens hit
  // hardest. Scores are INTEGER sums (order-independent — no float
  // accumulation), tie-broken by lang name. Output = confusion matrix.
  // Scale shape: the model is |vocab|×|langs| (bounded, broadcastable);
  // the per-doc argmax window partitions by doc_id (millions of tiny
  // partitions — ideal).
  private val q26 = QueryDef(
    "q26_lang_id_confusion",
    (s, dir) => {
      import s.implicits._
      val toks = docs(s, dir)
        .select($"doc_id", $"lang", explode(split(lower($"text"), " ")).as("token"))
        .filter(length($"token") > 0)
      val model = toks.groupBy($"token".as("m_token"), $"lang".as("m_lang"))
        .agg(count(lit(1)).as("cnt"))
      // no broadcast hint on the model: vocabulary grows with corpus
      // size under Heaps' law, so it is NOT fixed-size at 100 TB — AQE
      // broadcasts it when the runtime size allows and shuffles when it
      // doesn't (same reasoning as dropping the q09 part-table hint).
      // Hot-token skew hardening (round-3 verdict item 6): the join key
      // is the raw token, and stopword-scale tokens are classic 100×-hot
      // keys — when this join DOES shuffle at 100 TB, one reducer would
      // own each stopword's entire probe side. SaltedJoin spreads every
      // token's rows over 8 salts derived deterministically from the
      // (doc_id, lang) payload and replicates the bounded model side 8×;
      // the result is EXACTLY the plain inner join (law-tested in
      // SaltedJoinSpec, including a planted-100×-hot-token case), so the
      // oracle hash is unchanged.
      val scored = graft.operators.SaltedJoin.inner(
          toks, model.withColumnRenamed("m_token", "token"), "token",
          saltFactor = 8)
        .groupBy($"doc_id", $"lang", $"m_lang")
        .agg(sum($"cnt").as("score"))
      val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"m_lang")
      scored.select($"doc_id", $"lang", $"m_lang",
          row_number().over(w).as("rk"))
        .filter($"rk" === 1)
        .groupBy($"lang", $"m_lang".as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"lang", $"predicted")
    },
    Some("""WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS token
        FROM documents),
      toks_f AS (SELECT * FROM toks WHERE length(token) > 0),
      model AS (
        SELECT token AS m_token, lang AS m_lang, COUNT(*) AS cnt
        FROM toks_f GROUP BY 1, 2),
      scored AS (
        SELECT t.doc_id, t.lang, m.m_lang, SUM(m.cnt) AS score
        FROM toks_f t JOIN model m ON t.token = m.m_token
        GROUP BY 1, 2, 3),
      ranked AS (
        SELECT doc_id, lang, m_lang,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY score DESC, m_lang) AS rk
        FROM scored)
      SELECT lang, m_lang AS predicted, COUNT(*) AS n_docs
      FROM ranked WHERE rk = 1
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- Q27
  // Quality scoring: per-language corpus stats from integer per-doc
  // features (token count, stopword count, char count). A doc is
  // "quality_ok" when 10 ≤ tokens ≤ 1000 and stopwords < half the
  // tokens — the comparison is on integers (stop*2 < total), so no
  // float threshold ambiguity. Ratios become doubles only in the final
  // projection (single division, deterministic).
  private val q27 = QueryDef(
    "q27_quality_scores",
    (s, dir) => {
      import s.implicits._
      val perDoc = docs(s, dir).select($"lang",
        expr("size(filter(split(lower(text), ' '), t -> length(t) > 0))")
          .cast(LongType).as("n_tok"),
        expr(s"size(filter(split(lower(text), ' '), t -> t IN ($stopList)))")
          .cast(LongType).as("n_stop"),
        length($"text").cast(LongType).as("n_char"))
      perDoc
        .withColumn("quality_ok",
          ($"n_tok" >= 10 && $"n_tok" <= 1000 &&
            $"n_stop" * 2 < $"n_tok").cast(IntegerType))
        .groupBy($"lang", $"quality_ok")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("sum_tokens"),
          sum($"n_stop").as("sum_stopwords"),
          sum($"n_char").as("sum_chars"))
        .withColumn("stop_ratio",
          $"sum_stopwords".cast(DoubleType) / $"sum_tokens")
        .withColumn("chars_per_token",
          $"sum_chars".cast(DoubleType) / $"sum_tokens")
        .orderBy($"lang", $"quality_ok")
    },
    Some(s"""WITH per_doc AS (
        SELECT lang,
          CAST(len(list_filter(string_split(lower(text), ' '),
            t -> length(t) > 0)) AS BIGINT) AS n_tok,
          CAST(len(list_filter(string_split(lower(text), ' '),
            t -> t IN ($stopList))) AS BIGINT) AS n_stop,
          CAST(length(text) AS BIGINT) AS n_char
        FROM documents),
      flagged AS (
        SELECT lang,
          CAST(n_tok >= 10 AND n_tok <= 1000 AND n_stop * 2 < n_tok
               AS INT) AS quality_ok,
          n_tok, n_stop, n_char
        FROM per_doc)
      SELECT lang, quality_ok, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        CAST(SUM(n_stop) AS BIGINT) AS sum_stopwords,
        CAST(SUM(n_char) AS BIGINT) AS sum_chars,
        CAST(CAST(SUM(n_stop) AS BIGINT) AS DOUBLE)
          / CAST(SUM(n_tok) AS BIGINT) AS stop_ratio,
        CAST(CAST(SUM(n_char) AS BIGINT) AS DOUBLE)
          / CAST(SUM(n_tok) AS BIGINT) AS chars_per_token
      FROM flagged GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- Q28
  // Token counting, two tokenizers side by side: whitespace split vs a
  // BPE-ish regex ([a-z0-9]+ runs — the "word piece" lower bound). Both
  // are per-row HOF/regex expressions (codegen'd, no UDF, no shuffle
  // before the final small aggregate).
  private val q28 = QueryDef(
    "q28_token_counts",
    (s, dir) => {
      import s.implicits._
      val perDoc = docs(s, dir).select($"source",
        expr("size(filter(split(text, ' '), t -> length(t) > 0))")
          .cast(LongType).as("ws_tok"),
        expr("size(regexp_extract_all(text, '[a-z0-9]+', 0))")
          .cast(LongType).as("re_tok"))
      perDoc.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"ws_tok").as("ws_tokens"),
          sum($"re_tok").as("re_tokens"))
        .withColumn("tokens_per_doc",
          $"ws_tokens".cast(DoubleType) / $"n_docs")
        .orderBy($"source")
    },
    Some("""WITH per_doc AS (
        SELECT source,
          CAST(len(list_filter(string_split(text, ' '),
            t -> length(t) > 0)) AS BIGINT) AS ws_tok,
          CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tok
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(ws_tok) AS BIGINT) AS ws_tokens,
        CAST(SUM(re_tok) AS BIGINT) AS re_tokens,
        CAST(CAST(SUM(ws_tok) AS BIGINT) AS DOUBLE) / COUNT(*) AS tokens_per_doc
      FROM per_doc GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- Q29
  // Document fingerprinting: rolling 16-char window, md5 each position,
  // keep the lexicographic MIN as the doc fingerprint (winnowing-style).
  // Per-row expression — no explode, the scan stays one codegen stage;
  // only the tiny per-source aggregate shuffles. Docs sharing a
  // fingerprint are near-dup candidates: n_docs − n_fingerprints
  // estimates the dup mass per source. Uses the native rolling_min_md5
  // expression (graft.functions.RollingMinMd5): the equivalent
  // array_min(transform(sequence…md5(substring))) HOF allocates and
  // interprets one lambda per window (~140/doc) — the native loop
  // reuses one digest (~20% on q29; the md5 calls themselves dominate.
  // FunctionsSpec asserts equivalence).
  private val q29 = QueryDef(
    "q29_doc_fingerprints",
    (s, dir) => {
      import s.implicits._
      val fp = expr("rolling_min_md5(text, 16)")
      docs(s, dir).select($"source", fp.as("fp"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"fp").as("n_fingerprints"))
        .withColumn("n_dup_candidates", $"n_docs" - $"n_fingerprints")
        .orderBy($"source")
    },
    Some("""WITH per_doc AS (
        SELECT source,
          list_min(list_transform(
            generate_series(1, greatest(length(text) - 15, 1)),
            i -> md5(substring(text, i, 16)))) AS fp
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
        COUNT(DISTINCT fp) AS n_fingerprints,
        COUNT(*) - COUNT(DISTINCT fp) AS n_dup_candidates
      FROM per_doc GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- Q32
  // SimHash near-dup detection — the third dedup family (exact=q25,
  // MinHash=q23). Features are distinct 3-gram shingles (unigrams are
  // degenerate here: the corpus vocabulary is tiny, so every doc votes
  // with nearly the same token set and signatures collapse). 64-bit
  // signature: per shingle, md5 → 64 bit votes (+1/−1); signature bit =
  // sign of the vote sum. Stored as 4×16-bit chunks; candidate pairs
  // join on an equal chunk. Pigeonhole makes this banding EXACT for the
  // threshold: hamming ≤ 3 over 64 bits ⟹ at least one of the 4 chunks
  // is identical — unlike MinHash banding there are no false negatives
  // at τ=3. All arithmetic is integer (votes, shifts, bit_count) —
  // bit-identical cross-engine.
  /** The SimHash signature pipeline UP TO (not including) the
    * materialization point — exposed so PlanShapeSpec can codegen-audit
    * the 64-aggregate vote pass, which q32 itself hides behind an eager
    * localCheckpoint (the checkpointed RDD's plan is not visible from
    * the final query's debugCodegen). Returns (doc_id, chunk_idx,
    * chunk_val), 4 rows per doc. */
  private[graft] def simhashSig(s: SparkSession, dir: String): DataFrame = {
      import s.implicits._
      val toks = docs(s, dir)
        .select($"doc_id", split(lower($"text"), " ").as("tk"))
        .filter(size($"tk") >= 3)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(tk) - 2), " +
            "i -> concat_ws(' ', slice(tk, i, 3)))")).as("token"))
        .distinct()
        .withColumn("h", md5($"token".cast(BinaryType)))
      // Per-bit vote sums as 64 COLUMNAR aggregates over the shingle rows
      // (one map-side partial agg, codegen'd) rather than a 64× row
      // explode + shuffle — at sf0.1 the explode form moved 28M rows and
      // took 6.8 s; this form is one pass. bit b set ⟺ 2·ones_b > n
      // (⟺ Σ(2·bit−1) > 0, matching the oracle's vote formulation).
      // (Codegen audit, graft.tools.CodegenCheck: the 64-sum partial agg
      // compiles to a 3.9 KB method — whole-stage codegen'd, nowhere near
      // the 64 KB fallback; Catalyst's subexpression elimination already
      // dedupes the 4-bits-per-nibble instr/substring repeats, so no
      // manual pre-projection is needed.)
      val ones = (0 until 64).map { b =>
        sum(expr(
          s"shiftright(instr('0123456789abcdef', substring(h, ${b / 4 + 1}, 1)) - 1, ${3 - b % 4}) & 1"))
          .as(s"o$b")
      }
      val sums = toks.groupBy($"doc_id")
        .agg(ones.head, (ones.tail :+ count(lit(1)).as("nsh")): _*)
      // (A shiftleft(cast(boolean)) formulation of the bit-pack was
      // measured LARGER in generated bytecode than this when-chain —
      // 13.9 KB vs 10.9 KB methods — so the chain stays.)
      val chunkStructs = (0 until 4).map { c =>
        val v = (0 until 16).map { k =>
          when(col(s"o${c * 16 + k}") * 2 > $"nsh", lit(1L << k))
            .otherwise(lit(0L))
        }.reduce(_ + _)
        struct(lit(c).as("chunk_idx"), v.as("chunk_val"))
      }
      sums
        .select($"doc_id", explode(array(chunkStructs: _*)).as("x"))
        .select($"doc_id", $"x.chunk_idx".as("chunk_idx"),
          $"x.chunk_val".as("chunk_val"))
  }

  private val q32 = QueryDef(
    "q32_simhash_near_dup",
    (s, dir) => {
      import s.implicits._
      // Signatures come from the NATIVE simhash64 expression — map-only
      // inside the scan stage, zero shuffle (the composite formulation
      // `simhashSig` below shuffles every shingle row through a
      // 64-aggregate groupBy; it is kept as the differential twin the
      // FunctionsSpec equivalence test checks bit-for-bit, and the
      // DuckDB oracle independently mirrors it). sig still feeds FOUR
      // join branches (both candidate sides + both hamming sides) —
      // materialize the tiny 4-rows/doc table once.
      val sig = docs(s, dir)
        .select($"doc_id", expr("simhash64(text)").as("chunks"))
        .filter($"chunks".isNotNull)
        .select($"doc_id", posexplode($"chunks"))
        .toDF("doc_id", "chunk_idx", "chunk_val")
        .localCheckpoint()
      val c1 = sig.toDF("doc1", "chunk_idx", "v1")
      val c2 = sig.toDF("doc2", "chunk_idx", "v2")
      val cand = c1.join(c2,
          c1("chunk_idx") === c2("chunk_idx") && c1("v1") === c2("v2"))
        .filter($"doc1" < $"doc2")
        .select($"doc1", $"doc2").distinct()
      val ham = cand
        .join(sig.toDF("doc1", "chunk_idx", "v1"), "doc1")
        .join(sig.toDF("doc2", "chunk_idx", "v2"), Seq("doc2", "chunk_idx"))
        .groupBy($"doc1", $"doc2")
        .agg(sum(expr("bit_count(v1 ^ v2)")).cast(LongType).as("hamming"))
      ham.filter($"hamming" <= 3)
        .orderBy($"doc1", $"doc2")
    },
    Some("""WITH tk AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      toks AS (
        SELECT DISTINCT doc_id,
          unnest(list_transform(generate_series(1, len(t) - 2),
            i -> array_to_string(t[i:i+2], ' '))) AS token
        FROM tk WHERE len(t) >= 3),
      th AS (SELECT doc_id, md5(token) AS h FROM toks),
      bits AS (
        SELECT doc_id, b,
          (((strpos('0123456789abcdef',
              substring(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
            >> CAST(3 - b % 4 AS INT)) & 1) AS bit
        FROM th, generate_series(0, 63) g(b)),
      votes AS (
        SELECT doc_id, b, SUM(2 * bit - 1) AS vote
        FROM bits GROUP BY 1, 2),
      sig AS (
        SELECT doc_id, CAST(b // 16 AS INT) AS chunk_idx,
          CAST(SUM(CASE WHEN vote > 0
                   THEN (CAST(1 AS BIGINT) << CAST(b % 16 AS INT))
                   ELSE 0 END) AS BIGINT) AS chunk_val
        FROM votes GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT s1.doc_id AS doc1, s2.doc_id AS doc2
        FROM sig s1 JOIN sig s2 USING (chunk_idx, chunk_val)
        WHERE s1.doc_id < s2.doc_id),
      ham AS (
        SELECT doc1, doc2,
          CAST(SUM(bit_count(xor(a.chunk_val, b2.chunk_val))) AS BIGINT)
            AS hamming
        FROM cand
        JOIN sig a ON a.doc_id = doc1
        JOIN sig b2 ON b2.doc_id = doc2 AND b2.chunk_idx = a.chunk_idx
        GROUP BY 1, 2)
      SELECT doc1, doc2, hamming FROM ham
      WHERE hamming <= 3 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- Q39
  // Dedup CLUSTERING: connected components over the q23 near-dup graph —
  // the step every production dedup pipeline runs after candidate pairs
  // (keep one representative per cluster). Spark side: min-label
  // propagation WITH the pointer-jump shortcut — each iteration is one
  // edge equi-join + one label self-join + min-aggregate, the standard
  // distributed CC (GraphFrames-style) upgraded to O(log d) rounds
  // (round-15 verdict item 5; see ccLabels). The loop runs to FIXPOINT
  // with a driver-side labels-changed check (capped at 32 rounds,
  // failing loudly if unconverged — with doubling the cap covers
  // diameters to 2^32, so only a genuinely broken input can hit it;
  // near-dup clusters are tiny cliques, so convergence lands in ~2-3
  // rounds either way). Oracle: DuckDB WITH RECURSIVE transitive
  // closure — an entirely different algorithm computing the same
  // components.
  /** Connected-component labels over the near-dup graph: one row per
    * dup-graph member (doc_id, label), label = the component's minimum
    * doc_id. Pointer-doubling min-label propagation to a TRUE fixpoint
    * (cap 32, throws if unconverged — see ccLabels). Shared by q39
    * (cluster report) and q115 (leakage-safe split). */
  private[graft] def dupClusterLabels(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = nearDupPairs(s, dir).select($"doc1", $"doc2")
    val und = pairs.select($"doc1".as("src"), $"doc2".as("dst"))
      .unionAll(pairs.select($"doc2".as("src"), $"doc1".as("dst")))
      .localCheckpoint()
    val (labels, rounds) = ccLabels(und, doubling = true, cap = 32)
    System.err.println(
      s"[dupClusterLabels] converged after $rounds changing rounds")
    labels
  }

  /** Min-label connected components over an undirected edge list
    * (src, dst): one row per node (doc_id, label), label = the
    * component's minimum id. Fixpoint with early exit — stop as soon
    * as a round changes no label.
    *
    * `doubling = true` (the default path, round-15 verdict item 5)
    * adds the POINTER-JUMP shortcut each round: alongside the one-hop
    * neighbor propagation, every node also adopts label(label(x)) —
    * its current label-holder's label. The reach of a label therefore
    * DOUBLES per round instead of growing by one hop, so a diameter-d
    * component converges in O(log d) rounds (a planted 64-chain: 7
    * changing rounds, pinned in DedupClusterSpec) where the one-hop
    * form needs d rounds and ABORTS at the cap. On the near-dup
    * fixtures (tiny cliques, diameter 1-2) both forms converge in 2-3
    * rounds and are output-identical (DedupClusterSpec's differential
    * law); the doubling's extra per-round cost is one self-join of the
    * label table — |dup docs| rows, trivial next to the safety margin
    * it buys a 100× corpus with a long dup chain.
    *
    * `doubling = false` keeps the plain one-hop form as the
    * differential twin. Hitting the cap unconverged FAILS LOUDLY
    * (q115's no-straddle contract requires a TRUE fixpoint — silently
    * shipping partial labels would leak eval data across splits).
    *
    * Returns (labels, number of label-changing rounds). Callers pass
    * an already-undirected, localCheckpointed edge list; lineage
    * truncation inside the loop is load-bearing (each iteration
    * references `labels` up to three times — without cutting the plan
    * the logical tree grows exponentially; observed: minutes of pure
    * planning). */
  private[graft] def ccLabels(und: DataFrame, doubling: Boolean,
      cap: Int): (DataFrame, Int) = {
    var labels = und.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint()
    var changed = true
    var rounds = 0
    var attempts = 0
    while (changed && attempts < cap) {
      attempts += 1
      val prop = und.join(labels, col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), col("label"))
      // pointer jump: x adopts its label-holder's label — label(l(x)).
      // l(x) is always itself a node (labels are node ids), so the
      // self-join is total and the union below stays min-safe.
      val hop =
        if (doubling)
          labels.as("l1")
            .join(labels.as("l2"), col("l1.label") === col("l2.doc_id"))
            .select(col("l1.doc_id").as("doc_id"),
              col("l2.label").as("label"))
        else labels.limit(0)
      // FUSED CHANGE CHECK (round 20, guide §2.4): carry each node's
      // OLD label through the min-aggregation instead of re-joining
      // `next` against `labels` afterwards. Only the labels branch
      // contributes a non-null `old`, every node has exactly one row
      // there, and min ignores nulls — so min(old) IS the node's old
      // label, and the per-round change probe becomes a scan of the
      // just-checkpointed blocks (limit-1 under isEmpty) instead of a
      // join per round. prop/hop doc_ids are always existing nodes
      // (dst ∈ nodes; l(x) ∈ nodes), so no row escapes the old-label
      // branch. Labels for the next round are a projection of the same
      // checkpoint — nothing else changes.
      val next3 = labels
        .select(col("doc_id"), col("label"), col("label").as("old"))
        .unionAll(prop.withColumn("old", lit(null).cast(LongType)))
        .unionAll(hop.withColumn("old", lit(null).cast(LongType)))
        .groupBy(col("doc_id"))
        .agg(min(col("label")).as("label"), min(col("old")).as("old"))
        .localCheckpoint()
      changed = !next3.filter(col("label") =!= col("old")).isEmpty
      if (changed) rounds += 1
      labels = next3.select(col("doc_id"), col("label"))
    }
    if (changed)
      throw new IllegalStateException(
        s"ccLabels did not converge within $attempts rounds — " +
          "component diameter exceeds the propagation cap")
    (labels, rounds)
  }

  /** q46's deterministic md5-range split rule (first hex digit of
    * md5(key): 0-b → train = 12/16, c-d → val, e-f → test) — ONE
    * definition shared by q46, q100's stage 4, q115 (applied to the
    * lifted cluster key) and LeakSafeSplitSpec, so the copies cannot
    * drift apart (q115's conservation law compares against q46). */
  private[graft] def md5SplitOf(key: Column): Column = {
    val d1 = substring(md5(key.cast(StringType).cast(BinaryType)), 1, 1)
    when(d1 < "c", "train").when(d1 < "e", "val").otherwise("test")
  }

  /** Oracle CTE pair computing connected components over `pairs` via
    * recursive transitive closure — ONE text shared by q39 and q115
    * (the engine shares `dupClusterLabels` the same way, so the two
    * gates grade the same semantics from the same SQL). Splice after
    * `oraclePairCtes` with its WITH rewritten to WITH RECURSIVE. */
  private val oracleClosureCtes: String =
    """undirected AS (
        SELECT doc1 AS src, doc2 AS dst FROM pairs
        UNION SELECT doc2, doc1 FROM pairs),
      reach AS (
        SELECT src AS node, src AS peer FROM undirected
        UNION
        SELECT r.node, u.dst FROM reach r
        JOIN undirected u ON u.src = r.peer)"""

  private val q39 = QueryDef(
    "q39_dedup_clusters",
    (s, dir) => {
      import s.implicits._
      dupClusterLabels(s, dir)
        .select($"label".as("cluster_id"), $"doc_id",
          ($"doc_id" === $"label").as("is_representative"))
        .orderBy($"cluster_id", $"doc_id")
    },
    Some(s"""${oraclePairCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      $oracleClosureCtes
      SELECT MIN(peer) AS cluster_id, node AS doc_id,
        node = MIN(peer) AS is_representative
      FROM reach GROUP BY node
      ORDER BY cluster_id, doc_id"""))

  // ---------------------------------------------------------------- Q42
  // Pattern-predicate coverage (§2.B filter row): LIKE with both
  // wildcards (% prefix match, _ single-char match), NOT LIKE, and RLIKE
  // (anchored regex). All are per-row codegen'd predicates that evaluate
  // in the scan stage — at 100 TB they ride the same pushdown/pruning
  // path as any other filter (StringStartsWith even reaches the parquet
  // reader for the 'src1%' prefix). Oracle: DuckDB LIKE is identical;
  // RLIKE maps to regexp_matches (both are unanchored-search semantics,
  // anchored here explicitly).
  private val q42 = QueryDef(
    "q42_like_filters",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .filter($"source".like("src1%") &&
          $"source".rlike("^src1[0-9]$") &&
          !$"source".like("src1_7") &&
          ($"lang".like("_e") || $"lang".like("e%")))
        .groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"source", $"lang")
    },
    Some("""SELECT source, lang, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      WHERE source LIKE 'src1%'
        AND regexp_matches(source, '^src1[0-9]$')
        AND source NOT LIKE 'src1_7'
        AND (lang LIKE '_e' OR lang LIKE 'e%')
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- Q45
  // n-gram Jaccard similarity join, EXACT — the fourth dedup family
  // (exact=q25, MinHash-LSH=q23, SimHash=q32). Where q23 trades recall
  // for scale via banding, this query returns EVERY pair with
  // J(3-gram sets) ≥ 0.5, yet never goes all-pairs: candidate
  // generation is PREFIX FILTERING (Bayardo/Ma/Srikant, "Scaling Up
  // All Pairs Similarity Search", WWW'07; the PPJoin family):
  //   - impose one global total order on shingles — ascending document
  //     frequency, tie-broken by the shingle text (rarest first);
  //   - a doc's PREFIX is its first |S| − ⌈τ|S|⌉ + 1 shingles in that
  //     order. THEOREM (no false negatives): J(S1,S2) ≥ τ ⟹ the two
  //     prefixes share a shingle. Proof: let x be the smallest common
  //     shingle; if x is past prefix1 then all |S1∩S2| common shingles
  //     sit among suffix1's ⌈τ·n1⌉ − 1 elements, so
  //     J ≤ (⌈τ·n1⌉−1)/n1 < τ — contradiction (symmetric for prefix2).
  //   - join ONLY on prefix shingles; verify candidates with the exact
  //     intersection count. τ = 0.5 makes every threshold integer-exact:
  //     prefix length = n − (n+1) DIV 2 + 1 and the final test is
  //     2·|∩| ≥ n1 + n2 − |∩| — no float comparisons anywhere, so the
  //     DuckDB oracle reproduces the result bit-for-bit.
  // Scale shape: rarest-first ordering means hot shingles (stopword
  // 3-grams) almost never land in a prefix — prefix-join bucket sizes
  // track RARE-shingle frequencies, not vocabulary skew; the size
  // filter 2·n2 ≥ n1 ∧ 2·n1 ≥ n2 (sound: τ ≤ min/max sizes) prunes
  // cross-length candidates before the verify join. The verify join is
  // q23's candidate-verification shape — linear in candidate count.
  private val q45 = QueryDef(
    "q45_ngram_jaccard",
    (s, dir) => {
      import s.implicits._
      // Distinct 3-gram shingles feed 5 plan branches (freq, sizes,
      // ranked, both verify sides) — materialize once, as in q23.
      val sh = docs(s, dir)
        .select($"doc_id", split(lower($"text"), " ").as("tk"))
        .filter(size($"tk") >= 3)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(tk) - 2), " +
            "i -> concat_ws(' ', slice(tk, i, 3)))")).as("shingle"))
        .distinct()
        .localCheckpoint()
      // MEASURED ALTERNATIVE, rejected: computing df/n as
      // count-over-partition windows stacked on the row_number window
      // (two exchanges, no joins) benched 5.46 s vs 4.31 s for this
      // groupBy+join form in a back-to-back 5-rep A/B — whole-partition
      // count windows SORT their 260k input twice, while these hash
      // aggregates don't sort at all; the join probes are cheaper than
      // the sorts. (Same lesson as q23's native-shingles rejection: shapes
      // that delete operators don't automatically win — measure.)
      val freq = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val ranked = sh.join(freq, "shingle").join(sizes, "doc_id")
        .withColumn("r", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"df", $"shingle"))
          .cast(LongType))
      val pref = ranked
        .filter(expr("r <= n - (n + 1) DIV 2 + 1"))
        .select($"doc_id", $"shingle", $"n", $"r")
      // PPJoin POSITIONAL filter on top of the prefix filter: a match at
      // prefix ranks (r1, r2) can certify at most
      // 1 + min(n1−r1, n2−r2) common shingles (every other common
      // shingle ranks AFTER the matched one in both docs), and J ≥ 1/2
      // needs |∩| ≥ (n1+n2)/3 — so matches violating
      // 3·(min(n1−r1, n2−r2)+1) ≥ n1+n2 cannot certify a qualifying
      // pair. Sound for the pair because the pair's SMALLEST common
      // shingle match carries the weakest restriction and always
      // survives for a true pair (NgramJaccardSpec re-proves
      // completeness). Measured: 310k → 125k candidates at sf0.1.
      val cand = pref.toDF("doc1", "shingle", "n1", "r1")
        .join(pref.toDF("doc2", "shingle", "n2", "r2"), "shingle")
        .filter($"doc1" < $"doc2" &&
          $"n2" * 2 >= $"n1" && $"n1" * 2 >= $"n2" &&
          (least($"n1" - $"r1", $"n2" - $"r2") + 1) * 3 >= $"n1" + $"n2")
        .select($"doc1", $"doc2").distinct()
      // Verification: join each candidate to the two docs' WHOLE shingle
      // sets as single array rows and intersect per candidate row, NOT
      // cand ⋈ shingles ⋈ shingles + count: the row-level form shuffles
      // |cand|·|S| rows (~16M at sf0.1 — measured 9.1 s); this form
      // moves |docs| array rows + |cand| pairs through two equi-joins
      // (AQE broadcasts the array table when it fits, shuffles keyed on
      // doc id when it doesn't) and was measured ~3× faster. n1/n2 fall
      // out as size(set) — the separate `sizes` joins disappear.
      // The per-pair kernel is graft's native `sorted_icount` merge scan
      // over ONCE-sorted sets (sort per doc, linear; saving per pair) —
      // `size(array_intersect(...))` built a hash set AND materialized
      // the intersection array per candidate, and this stage runs once
      // per candidate, the innermost loop of the join (measured ~13%
      // off the q45 sf0.1 floor, 3.77 → 3.26 s min-of-reps).
      val docSets = sh.groupBy($"doc_id")
        .agg(sort_array(collect_set($"shingle")).as("ss"))
      val verified = cand
        .join(docSets.toDF("doc1", "ss1"), "doc1")
        .join(docSets.toDF("doc2", "ss2"), "doc2")
        .select($"doc1", $"doc2",
          expr("sorted_icount(ss1, ss2)").as("n_shared"),
          size($"ss1").cast(LongType).as("n1"),
          size($"ss2").cast(LongType).as("n2"))
      verified
        .filter($"n_shared" * 2 >= $"n1" + $"n2" - $"n_shared")
        .select($"doc1", $"doc2", $"n_shared", $"n1", $"n2",
          ($"n_shared".cast(DoubleType) / ($"n1" + $"n2" - $"n_shared"))
            .as("jaccard"))
        .orderBy($"doc1", $"doc2")
    },
    Some("""WITH tk AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
          unnest(list_transform(generate_series(1, len(t) - 2),
            i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM tk WHERE len(t) >= 3),
      freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      ranked AS (
        SELECT s.doc_id, s.shingle, z.n,
          ROW_NUMBER() OVER (PARTITION BY s.doc_id
            ORDER BY f.df, s.shingle) AS r
        FROM sh s JOIN freq f USING (shingle) JOIN sizes z USING (doc_id)),
      pref AS (
        SELECT doc_id, shingle, n, r FROM ranked
        WHERE r <= n - (n + 1) // 2 + 1),
      cand AS (
        SELECT DISTINCT p1.doc_id AS doc1, p2.doc_id AS doc2
        FROM pref p1 JOIN pref p2 USING (shingle)
        WHERE p1.doc_id < p2.doc_id
          AND p2.n * 2 >= p1.n AND p1.n * 2 >= p2.n
          AND 3 * (least(p1.n - p1.r, p2.n - p2.r) + 1) >= p1.n + p2.n),
      inter AS (
        SELECT doc1, doc2, COUNT(*) AS n_shared
        FROM cand
        JOIN sh x1 ON x1.doc_id = doc1
        JOIN sh x2 ON x2.doc_id = doc2 AND x2.shingle = x1.shingle
        GROUP BY 1, 2)
      SELECT doc1, doc2, n_shared, z1.n AS n1, z2.n AS n2,
        CAST(n_shared AS DOUBLE) / (z1.n + z2.n - n_shared) AS jaccard
      FROM inter
      JOIN sizes z1 ON z1.doc_id = doc1
      JOIN sizes z2 ON z2.doc_id = doc2
      WHERE n_shared * 2 >= z1.n + z2.n - n_shared
      ORDER BY doc1, doc2"""))

  // ---------------------------------------------------------------- Q46
  // Deterministic train/val/test split — the assignment step of every
  // training-data pipeline. Membership is a pure function of the
  // DOCUMENT ID's md5 (first hex digit: 0-b → train = 12/16, c-d → val,
  // e-f → test = 2/16 each), so the split is reproducible across runs,
  // engines, and partitionings, new documents never reshuffle old ones,
  // and the whole assignment is a per-row scan-stage expression — no
  // shuffle until the tiny (split × lang) aggregate. share_within_lang
  // is computed over the AGGREGATED rows (|splits|·|langs| ≈ tens) via
  // a window — bounded at any corpus size.
  private val q46 = QueryDef(
    "q46_train_split",
    (s, dir) => {
      import s.implicits._
      val perDoc = docs(s, dir).select(
        md5SplitOf($"doc_id").as("split"), $"lang",
        expr("size(filter(split(lower(text), ' '), t -> length(t) > 0))")
          .cast(LongType).as("n_tok"))
      val agg = perDoc.groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"))
      agg.withColumn("share_within_lang",
          $"n_docs".cast(DoubleType) /
            sum($"n_docs").over(Window.partitionBy($"lang")))
        .orderBy($"split", $"lang")
    },
    Some("""WITH per_doc AS (
        SELECT CASE
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
              THEN 'train'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
              THEN 'val'
            ELSE 'test' END AS split,
          lang,
          CAST(len(list_filter(string_split(lower(text), ' '),
            t -> length(t) > 0)) AS BIGINT) AS n_tok
        FROM documents),
      agg AS (
        SELECT split, lang, COUNT(*) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
        FROM per_doc GROUP BY 1, 2)
      SELECT split, lang, n_docs, sum_tokens,
        CAST(n_docs AS DOUBLE)
          / SUM(n_docs) OVER (PARTITION BY lang) AS share_within_lang
      FROM agg ORDER BY split, lang"""))

  // ---------------------------------------------------------------- Q47
  // Context-window packing ("concat and chunk"): stream each source's
  // documents in doc_id order into 2048-token windows; a document's bin
  // is the window its FIRST token lands in (documents may straddle a
  // boundary — the sequence-packing convention). One running-total
  // window per source plus integer division; per-bin stats are the
  // aggregate a packing job reports (how many docs per context, how
  // full the windows run).
  // Scale note: packing is inherently ORDER-SENSITIVE, so the prefix
  // sum must be computed within whatever unit owns the order. Here that
  // unit is `source` (tens of partitions, each bounded); a 100 TB
  // deployment packs per (source, shard) — doc_id ranges assigned at
  // ingest — which turns this same window into millions of bounded
  // partitions. The convention and stats are unchanged; only the
  // partition key widens.
  private val q47 = QueryDef(
    "q47_context_packing",
    (s, dir) => {
      import s.implicits._
      val perDoc = docs(s, dir).select($"source", $"doc_id",
        expr("size(filter(split(lower(text), ' '), t -> length(t) > 0))")
          .cast(LongType).as("n_tok"))
      val w = Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val binned = perDoc
        .withColumn("cum", sum($"n_tok").over(w))
        .withColumn("bin", expr("(cum - n_tok) DIV 2048"))
      binned.groupBy($"source", $"bin")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("sum_tokens"),
          min($"doc_id").as("first_doc"),
          max($"doc_id").as("last_doc"))
        .withColumn("fill_ratio", $"sum_tokens".cast(DoubleType) / 2048)
        .orderBy($"source", $"bin")
    },
    Some("""WITH per_doc AS (
        SELECT source, doc_id,
          CAST(len(list_filter(string_split(lower(text), ' '),
            t -> length(t) > 0)) AS BIGINT) AS n_tok
        FROM documents),
      binned AS (
        SELECT source, doc_id, n_tok,
          -- CAST: DuckDB promotes integer window-SUM to HUGEINT (int128);
          -- the driver's hasher distinguishes HUGEINT from Spark's BIGINT
          -- even when every value is equal (r6 q47 hash fail).
          CAST((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) - n_tok) // 2048 AS BIGINT) AS bin
        FROM per_doc)
      SELECT source, bin, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE) / 2048 AS fill_ratio
      FROM binned GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ------------------------------------------------- Q50 / Q53 shared
  // Per-document repetition metrics, computed ENTIRELY inside the scan
  // stage with array functions — no explode, no shuffle until the final
  // bounded aggregate. `word_shingles(text, 2)` (the q23 expression)
  // yields the per-row DISTINCT bigram set directly, so the classic
  // "duplicate n-gram fraction" repetition signal (Rae et al., Gopher
  // §A.1.1-style text filters, arXiv:2112.11446) costs one array pass
  // per row. All metrics are integers; every downstream threshold is
  // phrased integer-exactly (k*x <= y), so the oracle comparison never
  // meets a float rounding edge. At 100 TB this shape is ideal: the
  // heavy work is map-only and the aggregate state is |langs| rows.
  private def repMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("toks", split(lower($"text"), " "))
      .withColumn("n_tokens", size($"toks").cast(LongType))
      .withColumn("n_grams",
        greatest(size($"toks") - 1, lit(0)).cast(LongType))
      .withColumn("n_distinct",
        when($"n_grams" === 0, lit(0L))
          .otherwise(size(expr("word_shingles(text, 2)")).cast(LongType)))
      .withColumn("top_cnt",
        array_max(transform(array_distinct($"toks"),
          w => size(filter($"toks", t => t === w)))).cast(LongType))
      .withColumn("n_utoks", size(array_distinct($"toks")).cast(LongType))
  }

  /** DuckDB twin of [[repMetrics]]: bigrams via zip(ts, ts[2:]) — the
    * independent formulation (no shared shingle code path). */
  private val oracleRepMetrics: String =
    """WITH t AS (
        SELECT doc_id, lang, source,
          string_split(lower(text), ' ') AS ts FROM documents),
      m AS (
        SELECT doc_id, lang, source,
          len(ts) AS n_tokens,
          greatest(len(ts) - 1, 0) AS n_grams,
          CASE WHEN len(ts) >= 2 THEN len(list_distinct(
            list_transform(list_zip(ts[:len(ts)-1], ts[2:]),
                           x -> x[1] || ' ' || x[2])))
          ELSE 0 END AS n_distinct,
          list_max(list_transform(list_distinct(ts),
            w -> len(list_filter(ts, y -> y = w)))) AS top_cnt,
          len(list_distinct(ts)) AS n_utoks
        FROM t)"""

  // ---------------------------------------------------------------- Q50
  // Repetition profile per language: how many documents are repetitive
  // (duplicate-bigram fraction > 10%) or top-token-heavy (most frequent
  // token > 20% of the text), plus the worst duplicate-bigram rate in
  // basis points (integer DIV — exact in both engines). The per-lang
  // report a corpus-curation run uses to pick its repetition cutoffs.
  private val q50 = QueryDef(
    "q50_repetition_profile",
    (s, dir) => {
      import s.implicits._
      repMetrics(s, dir)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          count_if(($"n_grams" - $"n_distinct") * 10 > $"n_grams")
            .as("n_repetitive"),
          count_if($"top_cnt" * 5 > $"n_tokens").as("n_top_heavy"),
          max(expr("(10000 * (n_grams - n_distinct)) DIV greatest(n_grams, 1)"))
            .as("max_dup_bp"),
          sum($"n_tokens").as("sum_tokens"))
        .orderBy($"lang")
    },
    Some(s"""$oracleRepMetrics
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN 10*(n_grams - n_distinct) > n_grams
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
        CAST(SUM(CASE WHEN 5*top_cnt > n_tokens
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_top_heavy,
        CAST(MAX((10000*(n_grams - n_distinct)) // GREATEST(n_grams, 1))
             AS BIGINT) AS max_dup_bp,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
      FROM m GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- Q53
  // Quality-filter FUNNEL: the attrition report of a sequential filter
  // chain (the standard way curation pipelines are tuned — each rule's
  // marginal drop, in order). Four Gopher-style gates, each an
  // integer-exact predicate over the scan-stage metrics:
  //   1 min_length        n_tokens >= 20
  //   2 dup_bigrams       duplicate-bigram fraction <= 10%
  //   3 top_token         most frequent token <= 10% of tokens
  //   4 type_token_ratio  distinct/total tokens >= 50%
  // One single-row aggregate computes the whole cascade (sums of
  // running conjunctions — no per-rule passes, no shuffle of doc rows),
  // then unpivots to one row per stage. At 100 TB: still one map-only
  // pass + a 1-row aggregate.
  private val q53 = QueryDef(
    "q53_filter_funnel",
    (s, dir) => {
      import s.implicits._
      val f = repMetrics(s, dir)
        .withColumn("r1", $"n_tokens" >= 20)
        .withColumn("r2", ($"n_grams" - $"n_distinct") * 10 <= $"n_grams")
        .withColumn("r3", $"top_cnt" * 10 <= $"n_tokens")
        .withColumn("r4", $"n_utoks" * 2 >= $"n_tokens")
      val c = f.agg(
        count(lit(1)).as("n0"),
        count_if($"r1").as("n1"),
        count_if($"r1" && $"r2").as("n2"),
        count_if($"r1" && $"r2" && $"r3").as("n3"),
        count_if($"r1" && $"r2" && $"r3" && $"r4").as("n4"))
      c.selectExpr(
        """stack(4,
             1L, 'min_length',       n0, n1,
             2L, 'dup_bigrams',      n1, n2,
             3L, 'top_token',        n2, n3,
             4L, 'type_token_ratio', n3, n4)
           AS (stage, rule, n_in, n_out)""")
        .withColumn("n_dropped", $"n_in" - $"n_out")
        .select($"stage", $"rule", $"n_in", $"n_dropped", $"n_out")
        .orderBy($"stage")
    },
    Some(s"""$oracleRepMetrics,
      f AS (
        SELECT n_tokens >= 20 AS r1,
          10*(n_grams - n_distinct) <= n_grams AS r2,
          10*top_cnt <= n_tokens AS r3,
          2*n_utoks >= n_tokens AS r4
        FROM m),
      c AS (
        SELECT COUNT(*) AS n0,
          CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          CAST(SUM(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
          CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        FROM f)
      SELECT stage, rule, n_in, n_in - n_out AS n_dropped, n_out FROM (
        SELECT CAST(1 AS BIGINT) AS stage, 'min_length' AS rule,
               n0 AS n_in, n1 AS n_out FROM c
        UNION ALL SELECT 2, 'dup_bigrams', n1, n2 FROM c
        UNION ALL SELECT 3, 'top_token', n2, n3 FROM c
        UNION ALL SELECT 4, 'type_token_ratio', n3, n4 FROM c)
      ORDER BY stage"""))

  // ---------------------------------------------------------------- Q51
  // PII redaction: scrub emails and long digit runs, prove the scrub
  // byte-identically across engines (md5 of every redacted document).
  // The fixture corpus is letters-and-spaces only, so the query PLANTS
  // deterministic PII first (doc_id-derived — both engines build the
  // identical augmented text) and then redacts it; n_emails/n_nums are
  // counted on the pre-redaction text. The regex subset is chosen to
  // mean the same thing in Java regex (Spark) and RE2 (DuckDB): plain
  // character classes + bounded repetition, no lookaround, no refs.
  // Scale shape: pure map-only scan (regexp_count + regexp_replace are
  // codegen'd), output one row per document — a 100 TB redaction pass
  // is exactly this plan plus a parquet sink.
  private val piiEmailRe = "[a-z0-9.]+@[a-z0-9.]+"
  private val piiNumRe = "[0-9]{7,}"

  private val q51 = QueryDef(
    "q51_pii_redaction",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .withColumn("aug",
          concat($"text",
            when($"doc_id" % 3 === 0,
              concat(lit(" contact user"), $"doc_id".cast(StringType),
                lit("@mail.example now"))).otherwise(""),
            when($"doc_id" % 5 === 0,
              concat(lit(" call "),
                ($"doc_id" * 7919 + 1000000).cast(StringType),
                lit(" today"))).otherwise("")))
        .select($"doc_id",
          regexp_count($"aug", lit(piiEmailRe)).cast(LongType)
            .as("n_emails"),
          regexp_count($"aug", lit(piiNumRe)).cast(LongType).as("n_nums"),
          md5(regexp_replace(
            regexp_replace($"aug", piiEmailRe, "<EMAIL>"),
            piiNumRe, "<NUM>").cast(BinaryType)).as("redacted_md5"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH aug AS (
        SELECT doc_id,
          text
          || CASE WHEN doc_id % 3 = 0
               THEN ' contact user' || doc_id::VARCHAR || '@mail.example now'
               ELSE '' END
          || CASE WHEN doc_id % 5 = 0
               THEN ' call ' || (doc_id*7919 + 1000000)::VARCHAR || ' today'
               ELSE '' END AS t
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '$piiEmailRe')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(t, '$piiNumRe')) AS BIGINT) AS n_nums,
        md5(regexp_replace(regexp_replace(t, '$piiEmailRe', '<EMAIL>', 'g'),
            '$piiNumRe', '<NUM>', 'g')) AS redacted_md5
      FROM aug ORDER BY doc_id"""))

  // ---------------------------------------------------------------- Q52
  // Benchmark DECONTAMINATION: flag corpus documents sharing any 5-gram
  // with a held-out "benchmark" set (doc_id % 97 = 0 — ~1% of docs,
  // standing in for an eval suite). The canonical pre-training hygiene
  // join (n-gram overlap decontamination; 5 words here because fixture
  // docs are 16-100 tokens — production uses 8-13-gram windows, same
  // plan). Scale shape: the benchmark side is SMALL BY CONSTRUCTION
  // (an eval suite, not the corpus), so its distinct grams broadcast;
  // the corpus side is a map-only explode of per-row DISTINCT grams
  // (`word_shingles` again) into a broadcast LEFT SEMI join — no
  // corpus-side shuffle at any scale. The contaminated-id set (tiny)
  // broadcasts back for the per-lang report.
  private val q52 = QueryDef(
    "q52_decontamination",
    (s, dir) => {
      import s.implicits._
      val grams = docs(s, dir)
        .select($"doc_id", $"lang", ($"doc_id" % 97 === 0).as("is_bench"),
          explode(expr("word_shingles(text, 5)")).as("gram"))
      val benchGrams = grams.filter($"is_bench").select($"gram").distinct()
      val contaminated = grams.filter(!$"is_bench")
        .join(broadcast(benchGrams), Seq("gram"), "left_semi")
        .select($"doc_id").distinct()
      docs(s, dir).filter($"doc_id" % 97 =!= 0)
        .join(broadcast(contaminated.withColumn("hit", lit(1L))),
          Seq("doc_id"), "left")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          count_if($"hit".isNotNull).as("n_contaminated"))
        .orderBy($"lang")
    },
    Some("""WITH t AS (
        SELECT doc_id, lang, string_split(lower(text), ' ') AS ts
        FROM documents),
      g AS (
        SELECT doc_id, lang,
          array_to_string(ts[s.i:s.i+4], ' ') AS gram
        FROM t CROSS JOIN unnest(
          CASE WHEN len(ts) >= 5 THEN generate_series(1, len(ts)-4)
               ELSE [] END) AS s(i)),
      bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
      hits AS (
        SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
        WHERE g.doc_id % 97 <> 0)
      SELECT d.lang, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_contaminated
      FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
      WHERE d.doc_id % 97 <> 0
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- Q54
  // Weighted MIXTURE SAMPLING to a token budget: down-sample each
  // language stratum to ~2000 tokens with a deterministic per-document
  // Bernoulli draw — keep iff  h(doc) · lang_tokens < budget · 2³²,
  // where h is the first 32 bits of md5(doc_id) (uniform on [0, 2³²)).
  // That inequality IS "uniform < budget/lang_tokens" with the division
  // cleared: pure int64 arithmetic, so both engines agree exactly and
  // the sampled set is reproducible across runs, engines, partitionings
  // (same property as q46's split). Complements q46: split is
  // assignment, this is RATE control — the "mix domains to a target
  // token distribution" step of corpus assembly.
  // Scale shape: per-doc metrics are scan-stage; lang totals are a
  // |langs|-row aggregate joined back by BROADCAST; one more bounded
  // aggregate reports the realized mix. The int64 product bounds the
  // corpus at h·lang_tokens < 2⁶³ → lang_tokens < 2³¹ tokens per
  // stratum; past that, rescale h to 16 bits (documented swap).
  private val q54 = QueryDef(
    "q54_mixture_sampling",
    (s, dir) => {
      import s.implicits._
      val budget = 2000L
      val m = docs(s, dir).select($"doc_id", $"lang",
        expr("size(filter(split(lower(text), ' '), t -> length(t) > 0))")
          .cast(LongType).as("n_tok"),
        conv(substring(
          md5($"doc_id".cast(StringType).cast(BinaryType)), 1, 8), 16, 10)
          .cast(LongType).as("h"))
      val tot = m.groupBy($"lang")
        .agg(sum($"n_tok").as("lang_tokens"))
      m.join(broadcast(tot), Seq("lang"))
        .withColumn("keep", $"h" * $"lang_tokens" < lit(budget * 4294967296L))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          max($"lang_tokens").as("lang_tokens"),
          count_if($"keep").as("n_sampled"),
          sum(when($"keep", $"n_tok").otherwise(0L)).as("sampled_tokens"),
          expr(s"(10000 * least(${budget}L, max(lang_tokens))) DIV max(lang_tokens)")
            .as("target_rate_bp"))
        .orderBy($"lang")
    },
    Some("""WITH m AS (
        SELECT doc_id, lang,
          CAST(len(list_filter(string_split(lower(text), ' '),
            t -> length(t) > 0)) AS BIGINT) AS n_tok,
          ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
        FROM documents),
      tot AS (
        SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS lang_tokens
        FROM m GROUP BY 1),
      s AS (
        SELECT m.lang, m.n_tok, t.lang_tokens,
          (m.h * t.lang_tokens < 2000 * 4294967296) AS keep
        FROM m JOIN tot t USING (lang))
      SELECT lang, COUNT(*) AS n_docs,
        MAX(lang_tokens) AS lang_tokens,
        CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
          AS sampled_tokens,
        (10000 * LEAST(CAST(2000 AS BIGINT), MAX(lang_tokens)))
          // MAX(lang_tokens) AS target_rate_bp
      FROM s GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- Q59
  // Heavy hitters, sketch-accelerated but EXACT: per-language tokens with
  // frequency >= 1% of the language's token stream.
  //
  // Why not groupBy(lang, token) directly? That shuffle carries one key
  // per DISTINCT token — at 100 TB, |vocab| keys of mostly-singleton
  // counts, the classic long-tail aggregation. Instead:
  //   1. CANDIDATES: mg_sketch(token, 128) per lang (functions/
  //      FreqSketch.scala). Map-side state is 128 counters per partition;
  //      the shuffle moves <= 128 rows per partition per lang. The
  //      Misra-Gries merge guarantee says every token with freq
  //      > n/129 (0.78%) survives — strictly below the 1% report
  //      threshold, so NO true heavy hitter can be lost.
  //   2. EXACT: inner-join the token stream to the broadcast candidate
  //      set (<= 128 x |langs| rows) and count exactly; partial
  //      aggregation collapses the <= 128-key stream map-side, so the
  //      second shuffle is trivial.
  // The DuckDB oracle computes the unsketched exact answer — a sketch
  // that dropped a heavy hitter would fail the hash gate, so the
  // guarantee is graded end-to-end, not just spec-asserted.
  // share = exact long / exact long in ONE double division (Policy).
  private val q59 = QueryDef(
    "q59_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      val toks = docs(s, dir)
        .select($"lang", explode(split(lower($"text"), " ")).as("token"))
        .filter(length($"token") > 0)
      // ONE aggregate computes sketch AND stream length per lang — the
      // exact pass is the only other scan of the token stream (2 total).
      val cand = toks.groupBy($"lang")
        .agg(expr("mg_sketch(token, 128)").as("sk"),
          count(lit(1)).as("n_lang"))
        .select($"lang", $"n_lang", explode($"sk").as("c"))
        .select($"lang", $"n_lang", $"c.item".as("token"))
      toks.join(broadcast(cand), Seq("lang", "token"))
        .groupBy($"lang", $"token", $"n_lang")
        .agg(count(lit(1)).as("cnt"))
        .filter($"cnt" * 100 >= $"n_lang")
        .select($"lang", $"token", $"cnt",
          ($"cnt".cast(DoubleType) / $"n_lang").as("share"))
        .orderBy($"lang", $"cnt".desc, $"token")
    },
    Some("""WITH toks AS (
        SELECT lang, unnest(string_split(lower(text), ' ')) AS token
        FROM documents),
      t2 AS (SELECT lang, token FROM toks WHERE length(token) > 0),
      totals AS (SELECT lang, COUNT(*) AS n_lang FROM t2 GROUP BY 1),
      counts AS (SELECT lang, token, COUNT(*) AS cnt FROM t2 GROUP BY 1, 2)
      SELECT c.lang, c.token, c.cnt,
        CAST(c.cnt AS DOUBLE) / t.n_lang AS share
      FROM counts c JOIN totals t USING (lang)
      WHERE c.cnt * 100 >= t.n_lang
      ORDER BY lang, cnt DESC, token"""))

  // ---------------------------------------------------------------- Q60
  // Positional token profile: per (lang, position 1..10) token count,
  // distinct-token count, and summed length — the "how do documents
  // START" diagnostic (boilerplate headers show up as low positional
  // diversity). Exercises posexplode (ordinality-preserving explode),
  // the one lateral form not yet under the gate; the DuckDB oracle zips
  // unnest() with generate_subscripts(), proving the position semantics
  // (1-based, per-row) match exactly. Scale shape: map-only explode
  // BOUNDED at 10 rows per doc by the positional filter, then a
  // |langs|x10-row aggregate — partial agg collapses map-side, so the
  // shuffle is trivial at any corpus size. avg_len is one double
  // division of two exact longs (Policy).
  private val q60 = QueryDef(
    "q60_positional_tokens",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select($"lang",
          posexplode(split(lower($"text"), " ")).as(Seq("pos0", "token")))
        .filter($"pos0" < 10 && length($"token") > 0)
        .select($"lang", ($"pos0" + 1).cast(LongType).as("pos"), $"token")
        .groupBy($"lang", $"pos")
        .agg(count(lit(1)).as("n"),
          countDistinct($"token").as("n_distinct"),
          sum(length($"token")).cast(LongType).as("sum_len"))
        .withColumn("avg_len", $"sum_len".cast(DoubleType) / $"n")
        .orderBy($"lang", $"pos")
    },
    Some("""WITH toks AS (
        SELECT lang,
          CAST(generate_subscripts(string_split(lower(text), ' '), 1)
               AS BIGINT) AS pos,
          unnest(string_split(lower(text), ' ')) AS token
        FROM documents)
      SELECT lang, pos, COUNT(*) AS n,
        CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct,
        CAST(SUM(length(token)) AS BIGINT) AS sum_len,
        CAST(SUM(length(token)) AS DOUBLE) / COUNT(*) AS avg_len
      FROM toks WHERE pos <= 10 AND length(token) > 0
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- Q65
  // Sixth dedup family: EDIT-DISTANCE fuzzy matching with size blocking
  // (Ed-Join-style). Candidate generation is an EQUI-join: each probe
  // doc fans out to the 5 admissible length keys (levenshtein <= 4
  // implies |len1 - len2| <= 4 on full strings), so pairs only form
  // inside (lang, length-within-4) blocks — never all-pairs. Each pair
  // then pays one codegen'd THRESHOLD-BOUNDED levenshtein over the
  // 60-char prefixes: the 3-arg form runs the banded O(len·k) DP with
  // early exit (UTF8String.levenshteinDistance(threshold)) instead of
  // the full O(len²) matrix, and returns -1 past the bound — so the
  // verify cost per candidate is ~60·9 cells, not 60·60.
  // Asymmetric fan-out (probe side emits len1..len1+4, candidate side
  // keeps its exact length) yields each cross-length pair exactly once;
  // equal-length pairs are halved by the id order. At 100 TB the block
  // key is the shuffle key and the fan-out constant is 5 — linear in
  // the corpus, like q23/q32/q45's banded families.
  private val q65 = QueryDef(
    "q65_fuzzy_edit_dedup",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", $"n_chars",
          substring($"text", 1, 60).as("prefix"))
      // distinct column names on the two sides: self-join column refs
      // from one parent resolve to the same attribute (Spark warns
      // "trivially true"), which would silently drop the lang equality
      val probe = docs
        .select($"doc_id".as("id1"), $"lang".as("lang1"),
          $"n_chars".as("len1"), $"prefix".as("p1"),
          explode(sequence($"n_chars", $"n_chars" + 4)).as("len_key"))
      val cand = docs
        .select($"doc_id".as("id2"), $"lang".as("lang2"),
          $"n_chars".as("len2"), $"prefix".as("p2"))
      probe.join(cand, $"lang1" === $"lang2" && $"len_key" === $"len2")
        .filter($"len2" > $"len1" || $"id1" < $"id2")
        .withColumn("dist", levenshtein($"p1", $"p2", 4))
        .filter($"dist" >= 0) // 3-arg levenshtein returns -1 above the bound
        .select($"id1", $"id2", $"dist".cast(LongType).as("dist"))
        .orderBy($"id1", $"id2")
    },
    Some("""SELECT a.doc_id AS id1, b.doc_id AS id2,
        CAST(levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60))
          AS BIGINT) AS dist
      FROM documents a JOIN documents b
        ON a.lang = b.lang
        AND b.n_chars BETWEEN a.n_chars AND a.n_chars + 4
        AND (b.n_chars > a.n_chars OR a.doc_id < b.doc_id)
      WHERE levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) <= 4
      ORDER BY id1, id2"""))

  // ---------------------------------------------------------------- q88
  // Deterministic k-PER-STRATUM sampling (the eval-set builder): the
  // top-5 docs per lang ranked by md5(doc_id) — a seedless, replayable
  // uniform sample (md5 is a fixed random permutation of ids; "first k
  // in md5 order" is a uniform k-subset, and the SAME subset on every
  // engine and every rerun, which rand(seed) cannot promise across
  // partitionings). Scale shape: row_number ≤ k over (lang) gets the
  // q75 WindowGroupLimit treatment — each map task keeps its local
  // top-k BEFORE the shuffle, so the exchange carries O(k·strata)
  // rows, not the corpus. q54 is the Bernoulli-rate twin (split by
  // hash range); q88 is exact-k.
  private val q88 = QueryDef(
    "q88_stratified_sample",
    (s, dir) => {
      import s.implicits._
      val ranked = Tables.load(s, dir, "documents")
        .select($"lang", $"doc_id",
          md5($"doc_id".cast(StringType).cast(BinaryType)).as("h"))
        .withColumn("pick",
          row_number().over(Window.partitionBy($"lang").orderBy($"h")))
        .filter($"pick" <= 5)
      ranked.select($"lang", $"pick".cast(LongType).as("pick"), $"doc_id")
        .orderBy($"lang", $"pick")
    },
    Some("""SELECT lang, CAST(pick AS BIGINT) AS pick, doc_id FROM (
        SELECT lang, doc_id,
          ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR))) AS pick
        FROM documents) WHERE pick <= 5
      ORDER BY lang, pick"""))

  // ---------------------------------------------------------------- q89
  // BPE-style PAIR STATISTICS (the tokenizer-training primitive): the
  // top-20 adjacent character pairs over whitespace tokens of the 'en'
  // slice — exactly the count a byte-pair-encoding trainer computes
  // before each merge. Shape at scale: the per-word pair explode is
  // MAP-ONLY (transform over sequence, no shuffle), and the pair
  // aggregate's key domain is bounded by alphabet² regardless of corpus
  // size, so partial aggregation collapses the shuffle to O(|Σ|²) rows
  // per task — the full BPE trainer iterates this exact dataflow,
  // re-counting after each merge. Both engines split on single spaces
  // (empty tokens die at length >= 2); top-20 is totally ordered by
  // (n DESC, pair).
  private val q89 = QueryDef(
    "q89_bpe_pairs",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .filter($"lang" === "en")
        .select(explode(split(lower($"text"), " ")).as("w"))
        .filter(length($"w") >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"pair")
        .limit(20)
    },
    Some("""WITH words AS (
        SELECT unnest(string_split(lower(text), ' ')) AS w
        FROM documents WHERE lang = 'en'),
      pairs AS (
        SELECT unnest([substr(w, g, 2) for g in range(1, length(w))])
          AS pair
        FROM words WHERE length(w) >= 2)
      SELECT pair, COUNT(*) AS n FROM pairs
      GROUP BY 1 ORDER BY n DESC, pair LIMIT 20"""))

  // --------------------------------------------------------------- Q89b
  // MULTI-ROUND BPE TRAINER (round-10 verdict item 3) — q89 computes
  // the pair statistics a byte-pair-encoding trainer needs before ONE
  // merge; q89b runs the actual training loop: 3 rounds of
  //   count adjacent symbol pairs → pick argmax (n DESC, p1, p2) →
  //   greedily merge every non-overlapping occurrence left-to-right
  // over the whitespace words of the 'en' slice, starting from
  // single-character symbols. Output: the learned merge table (round,
  // pair, count at selection) plus each merged symbol's count in the
  // FINAL tokenization — later merges can consume earlier merged
  // symbols, so n_final ≤ n_merge is a real multi-round interaction,
  // not a replay of q89.
  //
  // Greedy semantics, stated once and implemented THRICE: scanning a
  // word left to right, an occurrence of (p1,p2) merges iff its left
  // symbol was not itself consumed by the previous merge ("aaa" with
  // (a,a) → [aa, a]). The SPARK side applies graft's native codegen
  // `bpe_merge` expression (functions/BpeMerge.scala — one tight loop
  // per word inside the scan stage; the equivalent `aggregate` HOF
  // fold below is kept as its spec-pinned twin, interpreted-lambda
  // slow but independently derived); the DUCKDB oracle derives the
  // same set relationally: mark candidate positions, group maximal
  // consecutive runs (pos − row_number), keep odd run-offsets. Three
  // INDEPENDENT implementations of the same scheme, equality enforced
  // by BpeTrainerSpec and the hash gate — stronger than a
  // transliterated twin.
  //
  // The per-round argmax is a DRIVER-SIDE scalar, the q39/q85
  // bounded-sequential-jobs pattern: rounds are a fixed constant (3),
  // each a one-row takeOrdered over an alphabet²-bounded aggregate —
  // at 100 TB this is exactly how distributed BPE trainers iterate
  // (the merge table IS the model; it must reach the driver to become
  // the next round's literals). The merge application itself is
  // MAP-ONLY (the native `bpe_merge` kernel runs inside the scan stage
  // per word — no explode of symbol positions, no per-round shuffle of
  // the corpus);
  // only the pair-count aggregates shuffle, and their key domain is
  // vocab²-bounded with map-side partial collapse. DuckDB CTEs are
  // MATERIALIZED: each round references its predecessor 5×, and
  // DuckDB inlines plain CTEs — the un-materialized form recomputes
  // s0 5³ times (measured 67 s vs 0.3 s at sf0.01).
  private val BpeRounds = 3

  /** The `aggregate`-HOF twin of the native `bpe_merge` expression:
    * fold the word's symbol array left to right, replacing the tail
    * element when (tail, next) == (p1, p2). NOT used by q89b's hot
    * path (interpreted lambda, O(len²) accumulator copies) — it exists
    * as an independently-derived implementation of the greedy rule,
    * pinned identical to the native kernel in BpeTrainerSpec ON THE
    * FULL CONTRACT (review-round finding): an empty p1/p2 is a no-op
    * merge, and a null ELEMENT poisons the result to null — carried
    * through the fold as a poisoned flag in the accumulator struct and
    * resolved by the finish lambda. `get` (0-based, null-safe) keeps
    * the empty-accumulator probe ANSI-safe where element_at(-1) would
    * throw. */
  private[graft] def bpeMergeFold(syms: Column, p1: String, p2: String): Column =
    if (p1.isEmpty || p2.isEmpty)
      // no-op merge, but nulls still poison (the kernel's contract)
      when(exists(syms, _.isNull), lit(null).cast("array<string>"))
        .otherwise(syms)
    else
      aggregate(syms,
        struct(lit(Array.empty[String]).as("a"), lit(false).as("p")),
        (acc, x) => {
          val a = acc.getField("a")
          val p = acc.getField("p")
          val poisoned = p || x.isNull
          val merged =
            when(get(a, size(a) - 1) === lit(p1) && (x === lit(p2)),
              concat(slice(a, lit(1), size(a) - 1), array(lit(p1 + p2))))
              .otherwise(concat(a, array(x)))
          struct(when(poisoned, a).otherwise(merged).as("a"),
            poisoned.as("p"))
        },
        acc => when(acc.getField("p"), lit(null).cast("array<string>"))
          .otherwise(acc.getField("a")))

  /** q89's corpus slice as one symbol array per word occurrence. */
  private[graft] def bpeWords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).filter($"lang" === "en")
      .select(explode(split(lower($"text"), " ")).as("w"))
      .filter(length($"w") >= 2)
      .select(expr("filter(split(w, ''), c -> c <> '')").as("syms"))
  }

  /** The round's argmax pair over adjacent symbol positions
    * (overlap-counted, like every BPE trainer's statistics pass). */
  private def bpeTopPair(words: DataFrame)(
      implicit s: SparkSession): (String, String, Long) = {
    import s.implicits._
    val rs = words.filter(size($"syms") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(syms[i-1] AS p1, syms[i] AS p2))")).as("pr"))
      .select($"pr.p1".as("p1"), $"pr.p2".as("p2"))
      .groupBy($"p1", $"p2").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"p1", $"p2")
      .take(1)
    // explicit diagnosis beats head()'s NoSuchElementException: an
    // empty argmax means the fixture slice has no >=2-symbol words —
    // a provisioning change, not a trainer bug (round-11 ADVICE)
    val r = rs.headOption.getOrElse(throw new IllegalStateException(
      "BPE trainer: no adjacent symbol pairs in the 'en' word corpus — " +
        "fixture documents have no words with >= 2 symbols"))
    (r.getAs[String]("p1"), r.getAs[String]("p2"), r.getAs[Long]("n"))
  }

  /** One DuckDB training round: pair stats → top-1 → candidate
    * positions → greedy run-parity application → renumbered symbols.
    * Spliced per round so the three rounds cannot drift. */
  private def bpeOracleRound(r: Int): String = {
    val prev = s"s${r - 1}"
    s"""pairs$r AS (
        SELECT a.sym AS p1, b.sym AS p2, COUNT(*) AS n
        FROM $prev a JOIN $prev b
          ON a.doc_id = b.doc_id AND a.wpos = b.wpos
          AND b.pos = a.pos + 1
        GROUP BY 1, 2),
      top$r AS (SELECT p1, p2, n FROM pairs$r
        ORDER BY n DESC, p1, p2 LIMIT 1),
      cand$r AS (
        SELECT a.doc_id, a.wpos, a.pos
        FROM $prev a JOIN $prev b
          ON a.doc_id = b.doc_id AND a.wpos = b.wpos
          AND b.pos = a.pos + 1
        JOIN top$r t ON a.sym = t.p1 AND b.sym = t.p2),
      app$r AS (
        SELECT doc_id, wpos, pos FROM (
          SELECT doc_id, wpos, pos,
            ROW_NUMBER() OVER (PARTITION BY doc_id, wpos, grp
              ORDER BY pos) AS ri
          FROM (
            SELECT doc_id, wpos, pos,
              pos - ROW_NUMBER() OVER (PARTITION BY doc_id, wpos
                ORDER BY pos) AS grp
            FROM cand$r) g) h
        WHERE ri % 2 = 1),
      s$r AS MATERIALIZED (
        SELECT doc_id, wpos,
          CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, wpos
            ORDER BY pos) AS BIGINT) AS pos,
          sym
        FROM (
          SELECT o.doc_id, o.wpos, o.pos,
            CASE WHEN m.pos IS NOT NULL
              THEN (SELECT p1 || p2 FROM top$r) ELSE o.sym END AS sym
          FROM $prev o
          LEFT JOIN app$r m ON m.doc_id = o.doc_id AND m.wpos = o.wpos
            AND m.pos = o.pos
          LEFT JOIN app$r d ON d.doc_id = o.doc_id AND d.wpos = o.wpos
            AND d.pos = o.pos - 1
          WHERE d.pos IS NULL) q)"""
  }

  /** The 3 training rounds over the 'en' word corpus: (merge table,
    * final checkpointed words). Shared by q89b (reports the model) and
    * q89c (applies it corpus-wide). The LAST round's merge application
    * is only materialized when `applyLast` — its rule is already known
    * from the argmax BEFORE the merge runs, so a caller that needs
    * only the model (q89c) skips one full map pass + eager checkpoint
    * of the en corpus per execution (review-round finding; such a
    * caller must not use the returned DataFrame). */
  private def bpeTrain(s: SparkSession, dir: String, applyLast: Boolean)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    implicit val sp: SparkSession = s
    import s.implicits._
    var words = bpeWords(s, dir)
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      val (p1, p2, n) = bpeTopPair(words)
      merges += ((r.toLong, p1, p2, n))
      // LINEAGE TRUNCATION (the q39 pattern): without it round r's
      // argmax re-applies every previous round's merge from the
      // parquet scan — the 4 actions would pay 0+1+2+3 merge passes
      // instead of 3. localCheckpoint materializes the merged words
      // once per round.
      if (r < BpeRounds || applyLast) {
        words = words
          .select(call_function("bpe_merge",
            $"syms", lit(p1), lit(p2)).as("syms"))
          .localCheckpoint()
      }
    }
    (merges.toSeq, words)
  }

  /** Trained-model handoff q89b → q89c (round-11 verdict item 5): the
    * trainer PUBLISHES its 3-round merge table per sfDir and the
    * encoder REUSES it instead of re-running the full training chain —
    * train-once/apply-many, the production tokenizer shape. The cached
    * value is a 3-row driver-side model (the same thing that becomes
    * literals in the encode plan), deterministic per fixture dir — the
    * Tables.rowCounts memo precedent, NOT a persisted DataFrame, so
    * QueryCaches' per-query release cycle never touches it. The
    * trainer itself ALWAYS retrains (it is the training query; its
    * bench reps must keep paying training cost) and refreshes the
    * entry; q89c trains for itself only when no entry exists yet. */
  private[graft] val bpeTrainedRules =
    scala.collection.concurrent.TrieMap
      .empty[String, Seq[(Long, String, String, Long)]]

  private val q89b = QueryDef(
    "q89b_bpe_trainer",
    (s, dir) => {
      import s.implicits._
      val (merges, words) = bpeTrain(s, dir, applyLast = true)
      bpeTrainedRules(dir) = merges
      val finalCounts = words.select(explode($"syms").as("merged"))
        .groupBy($"merged").agg(count(lit(1)).as("n_final"))
      merges
        .map { case (r, p1, p2, n) => (r, p1, p2, p1 + p2, n) }
        .toDF("round", "p1", "p2", "merged", "n_merge")
        .join(finalCounts, Seq("merged"), "left")
        .na.fill(0L, Seq("n_final"))
        .select($"round", $"p1", $"p2", $"merged", $"n_merge", $"n_final")
        .orderBy($"round")
    },
    Some(s"""WITH words AS (
        SELECT doc_id, wpos, w FROM (
          SELECT doc_id,
            unnest(string_split(lower(text), ' ')) AS w,
            generate_subscripts(string_split(lower(text), ' '), 1)
              AS wpos
          FROM documents WHERE lang = 'en') t
        WHERE length(w) >= 2),
      s0 AS MATERIALIZED (
        SELECT doc_id, wpos, CAST(g AS BIGINT) AS pos,
          substr(w, g, 1) AS sym
        FROM words CROSS JOIN unnest(range(1, length(w) + 1)) AS u(g)),
      ${bpeOracleRound(1)},
      ${bpeOracleRound(2)},
      ${bpeOracleRound(3)},
      merges AS (
        SELECT 1 AS round, p1, p2, n FROM top1
        UNION ALL SELECT 2, p1, p2, n FROM top2
        UNION ALL SELECT 3, p1, p2, n FROM top3),
      finals AS (
        SELECT sym AS merged, COUNT(*) AS n_final FROM s3 GROUP BY 1)
      SELECT CAST(m.round AS BIGINT) AS round, m.p1, m.p2,
        m.p1 || m.p2 AS merged, CAST(m.n AS BIGINT) AS n_merge,
        CAST(COALESCE(f.n_final, 0) AS BIGINT) AS n_final
      FROM merges m LEFT JOIN finals f ON f.merged = m.p1 || m.p2
      ORDER BY round"""))

  // --------------------------------------------------------------- Q89c
  // BPE ENCODING — the trainer's output APPLIED: the 3 merge rules
  // q89b learns on the 'en' slice are compiled into a single map
  // expression and run over EVERY document (all languages — the
  // cross-lingual application a shared tokenizer performs), reporting
  // per-language word count, symbol counts before/after, and the
  // compression ratio in exact micro units. Completes the tokenizer
  // story: q89 statistics → q89b training → q89c encoding; the
  // per-lang ratios are the signal a tokenizer-fit report reads
  // (merges learned on 'en' compress 'en' most).
  //
  // Scale shape (100 TB): this is q107's inference shape applied to
  // tokenization — the MODEL IS LITERALS (three nested `bpe_merge`
  // calls; a production 32k-merge vocabulary compiles to a trie the
  // same way), so encoding is ONE scan-stage pass (the word fan-out is
  // a Generate in the same stage; per-word merging is the map) with no
  // training-state join and no shuffle before the |langs|-row
  // report aggregate. The training rounds run first as q89b's bounded
  // driver-paced jobs (the model must reach the driver to become
  // literals — same at any scale); encoding cost is one pass over the
  // bytes regardless of corpus size. The DuckDB oracle re-derives the
  // SAME rules relationally (q89b's training CTE chain verbatim) and
  // applies them with 3 more run-parity rounds over the full corpus —
  // the hash gate covers training AND application end-to-end.
  private def bpeOracleApply(r: Int): String = {
    val prev = s"a${r - 1}"
    s"""acand$r AS (
        SELECT a.doc_id, a.wpos, a.pos
        FROM $prev a JOIN $prev b
          ON a.doc_id = b.doc_id AND a.wpos = b.wpos
          AND b.pos = a.pos + 1
        JOIN top$r t ON a.sym = t.p1 AND b.sym = t.p2),
      aapp$r AS (
        SELECT doc_id, wpos, pos FROM (
          SELECT doc_id, wpos, pos,
            ROW_NUMBER() OVER (PARTITION BY doc_id, wpos, grp
              ORDER BY pos) AS ri
          FROM (
            SELECT doc_id, wpos, pos,
              pos - ROW_NUMBER() OVER (PARTITION BY doc_id, wpos
                ORDER BY pos) AS grp
            FROM acand$r) g) h
        WHERE ri % 2 = 1),
      a$r AS MATERIALIZED (
        SELECT doc_id, wpos, lang,
          CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, wpos
            ORDER BY pos) AS BIGINT) AS pos,
          sym
        FROM (
          SELECT o.doc_id, o.wpos, o.lang, o.pos,
            CASE WHEN m.pos IS NOT NULL
              THEN (SELECT p1 || p2 FROM top$r) ELSE o.sym END AS sym
          FROM $prev o
          LEFT JOIN aapp$r m ON m.doc_id = o.doc_id AND m.wpos = o.wpos
            AND m.pos = o.pos
          LEFT JOIN aapp$r d ON d.doc_id = o.doc_id AND d.wpos = o.wpos
            AND d.pos = o.pos - 1
          WHERE d.pos IS NULL) q)"""
  }

  private val q89c = QueryDef(
    "q89c_bpe_encode",
    (s, dir) => {
      import s.implicits._
      // train-once/apply-many: reuse q89b's published model when
      // available; self-contained training otherwise
      val rules = bpeTrainedRules.getOrElseUpdate(dir,
        bpeTrain(s, dir, applyLast = false)._1)
      // the learned model as ONE nested map expression (rule order
      // matters: round 1 innermost, exactly the training order)
      def encode(c: Column): Column =
        rules.foldLeft(c) { case (acc, (_, p1, p2, _)) =>
          call_function("bpe_merge", acc, lit(p1), lit(p2))
        }
      docs(s, dir)
        .select($"lang", explode(split(lower($"text"), " ")).as("w"))
        .select($"lang",
          expr("filter(split(w, ''), c -> c <> '')").as("syms"))
        .filter(size($"syms") >= 1)
        .select($"lang", size($"syms").cast(LongType).as("nb"),
          size(encode($"syms")).cast(LongType).as("na"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_words"),
          sum($"nb").as("syms_before"),
          sum($"na").as("syms_after"))
        .withColumn("saved", $"syms_before" - $"syms_after")
        .withColumn("compression_micro",
          expr("CAST(round(CAST(syms_after AS DOUBLE) * 1000000 " +
            "/ CAST(syms_before AS DOUBLE)) AS BIGINT)"))
        .select($"lang", $"n_words", $"syms_before", $"syms_after",
          $"saved", $"compression_micro")
        .orderBy($"lang")
    },
    // q89b's training chain verbatim (words/s0/rounds → top1..top3),
    // then the full-corpus char table and 3 run-parity applications.
    Some(s"""WITH words AS (
        SELECT doc_id, wpos, w FROM (
          SELECT doc_id,
            unnest(string_split(lower(text), ' ')) AS w,
            generate_subscripts(string_split(lower(text), ' '), 1)
              AS wpos
          FROM documents WHERE lang = 'en') t
        WHERE length(w) >= 2),
      s0 AS MATERIALIZED (
        SELECT doc_id, wpos, CAST(g AS BIGINT) AS pos,
          substr(w, g, 1) AS sym
        FROM words CROSS JOIN unnest(range(1, length(w) + 1)) AS u(g)),
      ${bpeOracleRound(1)},
      ${bpeOracleRound(2)},
      ${bpeOracleRound(3)},
      aw AS (
        SELECT doc_id, lang, wpos, w FROM (
          SELECT doc_id, lang,
            unnest(string_split(lower(text), ' ')) AS w,
            generate_subscripts(string_split(lower(text), ' '), 1)
              AS wpos
          FROM documents) t
        WHERE length(w) >= 1),
      a0 AS MATERIALIZED (
        SELECT doc_id, wpos, lang, CAST(g AS BIGINT) AS pos,
          substr(w, g, 1) AS sym
        FROM aw CROSS JOIN unnest(range(1, length(w) + 1)) AS u(g)),
      ${bpeOracleApply(1)},
      ${bpeOracleApply(2)},
      ${bpeOracleApply(3)},
      base AS (
        SELECT lang, COUNT(*) AS n_words,
          CAST(SUM(length(w)) AS BIGINT) AS syms_before
        FROM aw GROUP BY 1),
      aft AS (SELECT lang, COUNT(*) AS syms_after FROM a3 GROUP BY 1)
      SELECT b.lang, CAST(b.n_words AS BIGINT) AS n_words,
        b.syms_before, CAST(a.syms_after AS BIGINT) AS syms_after,
        b.syms_before - a.syms_after AS saved,
        CAST(round(CAST(a.syms_after AS DOUBLE) * 1000000
          / CAST(b.syms_before AS DOUBLE)) AS BIGINT)
          AS compression_micro
      FROM base b JOIN aft a USING (lang) ORDER BY b.lang"""))

  // --------------------------------------------------------------- Q100
  // END-TO-END TRAINING-DATA PIPELINE as ONE declarative plan — the
  // capstone composition of the funnel stages that are individually
  // graded elsewhere (quality filter ≈ q53, exact dedup ≈ q25,
  // decontamination ≈ q52, split assignment ≈ q46): corpus → quality
  // gate (≥30 real tokens) → exact dedup (deterministic min-doc_id
  // winner per md5(text)) → benchmark 5-gram decontamination →
  // md5-range train/val/test split → per-(split, lang) doc/token
  // accounting. The point of grading the COMPOSITION is that a real
  // 100 TB pipeline runs exactly this chain as one job, and the
  // stage-order shapes the cost: the cheap scan-stage quality gate runs
  // FIRST so dedup/decontamination state is built only over survivors;
  // dedup's one shuffle keys on the content hash; the benchmark gram
  // set and the contaminated-id set both broadcast (bench side is a
  // fixed, catalog-sized artifact at any corpus scale); split
  // assignment and the final agg are scan-stage + one small shuffle.
  // Catalyst keeps the whole chain in one WholeStageCodegen span per
  // exchange boundary — no materialization between "stages".
  private val q100 = QueryDef(
    "q100_pipeline_e2e",
    (s, dir) => {
      import s.implicits._
      val nTok =
        expr("size(filter(split(lower(text), ' '), t -> length(t) > 0))")
          .cast(LongType)
      val base = docs(s, dir)
        .select($"doc_id", $"lang", $"text", nTok.as("n_tok"),
          ($"doc_id" % 97 === 0).as("is_bench"))
      // stage 1: quality gate (scan-stage; also drops bench docs from
      // the training corpus — they exist only to decontaminate against)
      val quality = base.filter($"n_tok" >= 30)
      val corpus = quality.filter(!$"is_bench")
      // stage 2: exact dedup — deterministic winner (min doc_id) per
      // content hash; one shuffle keyed on the hash
      val winners = corpus
        .withColumn("h", md5($"text".cast(BinaryType)))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"h").orderBy($"doc_id")))
        .filter($"rn" === 1)
      // stage 3: decontamination — any QUALITY-SURVIVING bench doc's
      // 5-grams poison matching corpus docs (broadcast both small sides)
      val grams = quality
        .select($"doc_id", $"is_bench",
          explode(expr("word_shingles(text, 5)")).as("gram"))
      val benchGrams = grams.filter($"is_bench").select($"gram").distinct()
      val contaminated = grams.filter(!$"is_bench")
        .join(broadcast(benchGrams), Seq("gram"), "left_semi")
        .select($"doc_id").distinct()
      val clean = winners
        .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      // stage 4: split assignment (scan-stage md5-range, q46's rule)
      // stage 5: accounting
      clean.select(md5SplitOf($"doc_id").as("split"), $"lang", $"n_tok")
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"))
        .orderBy($"split", $"lang")
    },
    Some("""WITH base AS (
        SELECT doc_id, lang, text,
          CAST(len(list_filter(string_split(lower(text), ' '),
            t -> length(t) > 0)) AS BIGINT) AS n_tok,
          doc_id % 97 = 0 AS is_bench
        FROM documents),
      quality AS (SELECT * FROM base WHERE n_tok >= 30),
      corpus AS (SELECT * FROM quality WHERE NOT is_bench),
      winners AS (
        SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
            ORDER BY doc_id) AS rn
          FROM corpus) WHERE rn = 1),
      t AS (
        SELECT doc_id, is_bench, string_split(lower(text), ' ') AS ts
        FROM quality),
      g AS (
        SELECT doc_id, is_bench,
          array_to_string(ts[s.i:s.i+4], ' ') AS gram
        FROM t CROSS JOIN unnest(
          CASE WHEN len(ts) >= 5 THEN generate_series(1, len(ts)-4)
               ELSE [] END) AS s(i)),
      bench AS (SELECT DISTINCT gram FROM g WHERE is_bench),
      hits AS (
        SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
        WHERE NOT g.is_bench),
      clean AS (
        SELECT w.* FROM winners w
        WHERE w.doc_id NOT IN (SELECT doc_id FROM hits))
      SELECT CASE
          WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
            THEN 'train'
          WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
            THEN 'val'
          ELSE 'test' END AS split,
        lang, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
      FROM clean GROUP BY 1, 2 ORDER BY 1, 2"""))

  // --------------------------------------------------------------- Q101
  // Document CHUNKING — the split-side sibling of q47's sequence packing
  // (packing concatenates short docs up to a context budget; chunking
  // cuts long docs DOWN to it): overlapping token windows of 64 with
  // stride 48 (16-token overlap, the standard RAG/pretraining window
  // shape). Chunk count per doc is exact integer arithmetic —
  // ceil(max(n-64,0)/48)+1 as (greatest(n-64,0)+47) div 48 + 1 — so the
  // window grid is engine-portable with no float step. Each chunk gets a
  // CONTENT-ADDRESSED id (md5 of its space-joined tokens): two chunks
  // with identical token spans — e.g. the duplicated docs q25 dedups —
  // share an id, which is what makes chunk-level dedup/caching
  // downstream a plain groupBy. Scale shape: the explode fan-out is
  // ~n_tok/48 rows per document (bounded by corpus token count / 48,
  // the same order as the corpus itself), everything up to the final
  // ORDER BY is map-only — no join, no aggregation, no shuffle; at
  // 100 TB the output sort is dropped and chunks stream straight to the
  // writer partitioned by source.
  private val ChunkN = 64
  private val ChunkS = 48

  /** The q101 chunk grid (64/48 overlapping token windows, exact
    * integer window math, content-addressed chunk ids) over a
    * documents-shaped frame — shared by q101 (emits the grid) and q111
    * (dedups on the content address downstream). Map-only fan-out;
    * passthrough columns beyond doc_id ride along and Catalyst prunes
    * whichever a consumer drops. */
  private def chunkGrid(d: DataFrame): DataFrame =
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
  private val oracleChunkGrid: String =
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

  private val q101 = QueryDef(
    "q101_doc_chunking",
    (s, dir) => {
      import s.implicits._
      chunkGrid(docs(s, dir))
        .select($"doc_id", $"lang", $"chunk_idx", $"start_tok", $"n_tok",
          $"chunk_md5")
        .orderBy($"doc_id", $"chunk_idx")
    },
    Some(s"""WITH $oracleChunkGrid
      SELECT doc_id, lang, chunk_idx, start_tok, n_tok, chunk_md5
      FROM cm ORDER BY doc_id, chunk_idx"""))

  // --------------------------------------------------------------- Q111
  // CHUNK-LEVEL DEDUP — the graded downstream q101's content-addressed
  // ids exist for (round-11 verdict item 3): two chunks with identical
  // token spans share a chunk_md5, so chunk dedup is a plain groupBy on
  // the content address — q25's exact-dedup mechanics one granularity
  // finer, which is where training-data dedup actually bites once
  // near-identical documents have already been dropped (boilerplate
  // headers, repeated license blocks, shared intro paragraphs all
  // live INSIDE otherwise-distinct docs). Winner per chunk_md5 is the
  // lowest (doc_id, chunk_idx) — deterministic, the q25/q100 rule.
  // The fixtures BIND (the q106 lesson, verified via DuckDB before
  // wiring): 13 duplicate chunks in 11 cross-doc groups at sf0.001,
  // 8/7 at sf0.01.
  //
  // Scale shape (100 TB): the grid fan-out is map-only (q101); dedup
  // is ONE shuffle keyed on chunk_md5 — high-entropy content hashes,
  // so bucket sizes ≈ true duplicate-group sizes and the window's
  // rank-1 winner collapses map-side (WindowGroupLimit); the funnel
  // aggregate is |sources|-row. Completes the chunk → dedup → pack
  // story next to q47's packing.
  private val q111 = QueryDef(
    "q111_chunk_dedup",
    (s, dir) => {
      import s.implicits._
      val rn = row_number().over(
        Window.partitionBy($"chunk_md5").orderBy($"doc_id", $"chunk_idx"))
      chunkGrid(docs(s, dir))
        .withColumn("rn", rn)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_chunks"),
          count_if($"rn" > 1).as("dup_chunks"),
          count_if($"rn" === 1).as("kept_chunks"),
          sum(when($"rn" === 1, $"n_tok").otherwise(0L)).as("kept_tokens"))
        .orderBy($"source")
    },
    Some(s"""WITH $oracleChunkGrid,
      r AS (
        SELECT source, n_tok,
          ROW_NUMBER() OVER (PARTITION BY chunk_md5
            ORDER BY doc_id, chunk_idx) AS rn
        FROM cm)
      SELECT source, COUNT(*) AS n_chunks,
        CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS dup_chunks,
        CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS kept_chunks,
        CAST(SUM(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT)
          AS kept_tokens
      FROM r GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- Q104
  // TOKEN-RARITY DOCUMENT SCORING — the perplexity-filter shape (CCNet
  // scores docs with a corpus LM and drops the tails) re-expressed in
  // exact integer arithmetic: each document's quality signal is the
  // MEAN CORPUS FREQUENCY of its tokens, and the 5 rarest-vocabulary
  // docs per language (likeliest noise/garble under this signal) are
  // reported. Differs from q74 (per-TERM tf-idf ranking) in direction:
  // corpus-level statistics are folded BACK onto each document — the
  // "score every doc against a corpus-derived model" join-back pattern.
  //
  // Why no log-probabilities: ln() is not bit-portable across engines
  // (libm vs DuckDB's implementation may differ in the last ulp), so
  // the score is the frequency MEAN itself — same ordering information
  // for the filter-tails use case, exact int64 all the way: sum_freq is
  // an int64 sum of per-token corpus counts; the only division is the
  // final presentation round to micro units (exact-operand IEEE double
  // division + half-away round, the q62/q103 scheme).
  //
  // Scale shape (100 TB): the vocabulary aggregate is ONE shuffle over
  // a Heaps-law-bounded key domain with map-side partial collapse; the
  // join-back BROADCASTS the vocab table (valid while the vocab fits —
  // ~10⁷ rows; a corpus past that needs a shuffle join on token).
  // VocabJoinbackSpec asserts the broadcast plan. (Past ~2⁵³/10⁶ corpus
  // tokens, sum_freq·10⁶ additionally swaps to DECIMAL(38,0).) Per-doc
  // aggregation collapses map-side
  // (docs live within partitions); the per-lang top-5 gets the q75/q88
  // WindowGroupLimit map-side limit, so the final exchange carries
  // O(5·|langs|) rows.
  private val q104 = QueryDef(
    "q104_token_rarity",
    (s, dir) => {
      import s.implicits._
      val toks = Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang",
          explode(split(lower($"text"), " ")).as("token"))
        .filter(length($"token") > 0)
      val freq = toks.groupBy($"token").agg(count(lit(1)).as("f"))
      val w = Window.partitionBy($"lang")
        .orderBy($"score_micro", $"doc_id")
      toks.join(broadcast(freq), Seq("token"))
        .groupBy($"doc_id", $"lang")
        .agg(count(lit(1)).as("n_tokens"), sum($"f").as("sum_freq"))
        .withColumn("score_micro",
          expr("CAST(round(CAST(sum_freq AS DOUBLE) * 1000000 " +
            "/ CAST(n_tokens AS DOUBLE)) AS BIGINT)"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter($"rk" <= 5)
        .select($"lang", $"rk", $"doc_id", $"n_tokens", $"sum_freq",
          $"score_micro")
        .orderBy($"lang", $"rk")
    },
    Some("""WITH toks AS (
        SELECT doc_id, lang,
          unnest(string_split(lower(text), ' ')) AS token
        FROM documents),
      t AS (SELECT * FROM toks WHERE length(token) > 0),
      freq AS (SELECT token, COUNT(*) AS f FROM t GROUP BY 1),
      scored AS (
        SELECT d.doc_id, d.lang, COUNT(*) AS n_tokens,
          CAST(SUM(f.f) AS BIGINT) AS sum_freq
        FROM t d JOIN freq f USING (token) GROUP BY 1, 2),
      r AS (
        SELECT lang, doc_id, n_tokens, sum_freq,
          CAST(round(CAST(sum_freq AS DOUBLE) * 1000000
            / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS score_micro,
          ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY CAST(round(CAST(sum_freq AS DOUBLE) * 1000000
              / CAST(n_tokens AS DOUBLE)) AS BIGINT), doc_id) AS rk
        FROM scored)
      SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id,
        CAST(n_tokens AS BIGINT) AS n_tokens, sum_freq, score_micro
      FROM r WHERE rk <= 5 ORDER BY lang, rk"""))

  // --------------------------------------------------------------- Q106
  // BUDGETED CORPUS SELECTION — the "fill a token budget with the best
  // documents" step of dataset assembly (every mixture recipe ends
  // with per-source token quotas): rank each source's docs by a
  // deterministic quality order (longest first — the scale proxy; any
  // scoring column slots in), take documents in rank order while the
  // RUNNING token total stays within the per-source budget, report the
  // realized selection per source. Completes the sampling triptych:
  // q54 controls the RATE (Bernoulli to a budget in expectation), q88
  // takes exact-k rows, q106 takes exact-TOKENS — the greedy
  // quota fill, which is deterministic where a rate draw is only
  // right on average.
  //
  // Determinism: ORDER BY (n_chars DESC, doc_id) is total; the running
  // sum is over exact int64 token counts with an EXPLICIT ROWS frame
  // (both engines; the default RANGE frame would coincide here since
  // the order is total, but writing ROWS removes the reliance).
  // Scale shape (100 TB): one window partitioned by source — the same
  // per-partition sort-and-scan class as q47's packing (source
  // partitions sort in parallel; a giant source widens to (source,
  // shard) exactly as documented there); the per-source report is a
  // partial-agg collapse, so the final exchange carries |sources| rows.
  // 500 (not 2000): the budget must BIND at the golden/oracle scale
  // factors — at sf0.001/sf0.01 the largest source carries ~1.6k
  // tokens, so a 2000-token quota kept every document and the greedy
  // cutoff (the entire point of the query) went unexercised by the
  // hash gate. At 500 every source truncates at both SFs (verified on
  // the fixtures), so a boundary error (<= vs <), a frame divergence,
  // or broken NULL handling of the zero-kept aggregates would fail the
  // goldens and the DuckDB oracle, not just the sf0.1 spot check.
  private val BudgetTok = 500L

  private val q106 = QueryDef(
    "q106_token_budget_select",
    (s, dir) => {
      import s.implicits._
      val perDoc = docs(s, dir).select($"source", $"doc_id", $"n_chars",
        expr("CAST(size(filter(split(lower(text), ' '), " +
          "t -> length(t) > 0)) AS BIGINT)").as("n_tok"))
      val w = Window.partitionBy($"source")
        .orderBy($"n_chars".desc, $"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDoc
        .withColumn("cum_tok", sum($"n_tok").over(w))
        .withColumn("kept", ($"cum_tok" <= BudgetTok).cast(IntegerType))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("candidates"),
          sum($"kept").cast(LongType).as("kept_docs"),
          max(when($"kept" === 1, $"cum_tok")).as("kept_tokens"),
          min(when($"kept" === 1, $"n_chars")).as("min_kept_chars"))
        .orderBy($"source")
    },
    Some(s"""WITH perdoc AS (
        SELECT source, doc_id, n_chars,
          CAST(len(list_filter(string_split(lower(text), ' '),
            t -> length(t) > 0)) AS BIGINT) AS n_tok
        FROM documents),
      ranked AS (
        SELECT source, doc_id, n_chars, n_tok,
          SUM(n_tok) OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        FROM perdoc)
      SELECT source,
        COUNT(*) AS candidates,
        CAST(SUM(CASE WHEN cum_tok <= $BudgetTok THEN 1 ELSE 0 END)
          AS BIGINT) AS kept_docs,
        CAST(MAX(CASE WHEN cum_tok <= $BudgetTok THEN cum_tok END)
          AS BIGINT) AS kept_tokens,
        MIN(CASE WHEN cum_tok <= $BudgetTok THEN n_chars END)
          AS min_kept_chars
      FROM ranked GROUP BY source ORDER BY source"""))

  // --------------------------------------------------------------- Q107
  // HASHED-FEATURE LINEAR CLASSIFIER INFERENCE — the "apply a trained
  // quality classifier to every document" step (CCNet/GPT-3-style
  // fastText filters): each token is feature-hashed into one of 64
  // weight buckets, the document's score is bias + Σ w[bucket(token)],
  // and the keep decision is score > 0. The weight vector here is a
  // deterministic fixture (w[b] = (b·1000003 mod 17) − 8; 1000003 ≡ 12
  // (mod 17) is coprime to 17, so the multiply genuinely permutes the
  // residues — the first-draft constant 2654435761 was ≡ 1 (mod 17),
  // collapsing the "spread" to a plain ramp) — a trained model swaps
  // in the same shape; the hashing trick means the model is a FIXED-width
  // vector regardless of vocabulary size, which is why this scales
  // where a vocab-keyed join-back (q104's shape) needs corpus
  // statistics first.
  //
  // Exactness: one md5 per token, first 8 hex chars → int64 (the q54
  // idiom, identical in both engines), then pure int64 modular
  // arithmetic — bucket·1000003 ≤ 63·10⁶ ≪ 2⁶³, every operand
  // non-negative so `%` agrees across engines. No floats anywhere.
  //
  // Scale shape (100 TB): scoring is SCAN-STAGE and map-only — the
  // model is compiled into the row expression (an `aggregate` HOF over
  // the token array inside whole-stage codegen: no explode, no
  // per-token rows, no join, no shuffle). The only exchanges are the
  // |source|×|lang|-row report aggregate (map-side collapse) and the
  // final presentation sort's range partitioning — the 2-exchange
  // shape PlanShapeSpec pins. This is the strictest scale shape in the
  // pipeline family: inference cost is one pass over the bytes,
  // independent of corpus size or vocabulary.
  //
  // NULL text: both sides score a NULL document as bias only (-2).
  // coalesce(text, '') makes the Spark token array empty (aggregate
  // over NULL would yield NULL and silently drop the doc from
  // count_if/sum/min/max), mirroring the oracle's COALESCE(list_sum,
  // 0) - 2 — the engines agree even though the shipped fixtures carry
  // no NULL text (round-10 ADVICE item 1).
  private val q107 = QueryDef(
    "q107_quality_classifier",
    (s, dir) => {
      import s.implicits._
      val scored = docs(s, dir).select($"source", $"lang",
        expr("""aggregate(
            filter(split(lower(coalesce(text, '')), ' '), t -> length(t) > 0),
            CAST(-2 AS BIGINT),
            (acc, t) -> acc
              + (((CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)
                   % 64) * 1000003) % 17) - 8)""").as("score"))
      scored.groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"),
          count_if($"score" > 0).as("kept_docs"),
          sum($"score").as("sum_score"),
          min($"score").as("min_score"),
          max($"score").as("max_score"))
        .orderBy($"source", $"lang")
    },
    Some("""WITH scored AS (
        SELECT source, lang,
          COALESCE(list_sum(list_transform(
            list_filter(string_split(lower(text), ' '),
              t -> length(t) > 0),
            t -> (((('0x' || substr(md5(t), 1, 8))::BIGINT % 64)
                   * 1000003) % 17) - 8)), 0) - 2 AS score
        FROM documents)
      SELECT source, lang, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS kept_docs,
        CAST(SUM(score) AS BIGINT) AS sum_score,
        CAST(MIN(score) AS BIGINT) AS min_score,
        CAST(MAX(score) AS BIGINT) AS max_score
      FROM scored GROUP BY 1, 2 ORDER BY 1, 2"""))

  // --------------------------------------------------------------- Q108
  // N-GRAM LM QUALITY SCORE (round-10 verdict stretch item 7) — the
  // KenLM-shaped perplexity filter of CCNet/Gopher re-expressed in
  // exact integers: a BIGRAM language model is trained on the corpus
  // itself (adjacent-word-pair counts — q89's statistics pass at word
  // granularity) and folded back onto every document as its mean
  // bigram corpus frequency; the 5 lowest-scoring docs per language
  // (the likeliest garble under a context-sensitive model) are
  // reported. This unifies the corpus-model family: q104 scores
  // against UNIGRAM statistics, q108 against the bigram LM — the same
  // join-back dataflow one order up, and the discriminating signal an
  // actual LM filter uses (a doc of common words in nonsense ORDER
  // scores low here but high on q104).
  //
  // Why mean frequency, not log-probability: ln() is not bit-portable
  // across engines (q104's argument); the frequency mean carries the
  // same ordering information for tail filtering and stays int64-exact
  // until one final presentation division of exact operands.
  //
  // Scale shape (100 TB): bigram extraction is SCAN-STAGE (transform
  // over the token array, then a Generate fanning out one row per
  // bigram occurrence inside the same stage — no shuffle of per-bigram
  // rows except the model aggregate's own, which collapses map-side
  // over a Heaps-bounded bigram domain); the join-back broadcasts the
  // model as q104 does (bigram vocabularies outgrow broadcast sooner
  // than unigram ones; VocabJoinbackSpec asserts the plan); per-doc
  // sums collapse map-side; the per-lang bottom-5 is a map-side
  // WindowGroupLimit. Docs with < 2 real tokens have no bigrams and
  // are out of contract on both sides (list_filter/filter first, so
  // runs of spaces cannot manufacture empty-token bigrams).
  private val q108 = QueryDef(
    "q108_bigram_lm_score",
    (s, dir) => {
      import s.implicits._
      val bigrams = docs(s, dir)
        .select($"doc_id", $"lang",
          expr("filter(split(lower(text), ' '), t -> length(t) > 0)")
            .as("ts"))
        .filter(size($"ts") >= 2)
        .select($"doc_id", $"lang", explode(expr(
          "transform(sequence(1, size(ts) - 1), " +
            "i -> concat(ts[i-1], ' ', ts[i]))")).as("bigram"))
      val lm = bigrams.groupBy($"bigram").agg(count(lit(1)).as("f"))
      val w = Window.partitionBy($"lang")
        .orderBy($"score_micro", $"doc_id")
      bigrams.join(broadcast(lm), Seq("bigram"))
        .groupBy($"doc_id", $"lang")
        .agg(count(lit(1)).as("n_bigrams"), sum($"f").as("sum_freq"))
        .withColumn("score_micro",
          expr("CAST(round(CAST(sum_freq AS DOUBLE) * 1000000 " +
            "/ CAST(n_bigrams AS DOUBLE)) AS BIGINT)"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter($"rk" <= 5)
        .select($"lang", $"rk", $"doc_id", $"n_bigrams", $"sum_freq",
          $"score_micro")
        .orderBy($"lang", $"rk")
    },
    Some("""WITH d AS (
        SELECT doc_id, lang,
          list_filter(string_split(lower(text), ' '),
            t -> length(t) > 0) AS ts
        FROM documents),
      bg AS (
        SELECT doc_id, lang,
          unnest([ts[i] || ' ' || ts[i + 1]
                  for i in range(1, len(ts))]) AS bigram
        FROM d WHERE len(ts) >= 2),
      lm AS (SELECT bigram, COUNT(*) AS f FROM bg GROUP BY 1),
      scored AS (
        SELECT b.doc_id, b.lang, COUNT(*) AS n_bigrams,
          CAST(SUM(l.f) AS BIGINT) AS sum_freq
        FROM bg b JOIN lm l USING (bigram) GROUP BY 1, 2),
      r AS (
        SELECT lang, doc_id, n_bigrams, sum_freq,
          CAST(round(CAST(sum_freq AS DOUBLE) * 1000000
            / CAST(n_bigrams AS DOUBLE)) AS BIGINT) AS score_micro,
          ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY CAST(round(CAST(sum_freq AS DOUBLE) * 1000000
              / CAST(n_bigrams AS DOUBLE)) AS BIGINT), doc_id) AS rk
        FROM scored)
      SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id,
        CAST(n_bigrams AS BIGINT) AS n_bigrams, sum_freq, score_micro
      FROM r WHERE rk <= 5 ORDER BY lang, rk"""))

  // --------------------------------------------------------------- Q109
  // DSIR IMPORTANCE-BASED DATA SELECTION (Xie et al. 2023, "Data
  // Selection for Language Models via Importance Resampling") — the
  // "pick raw-corpus documents that look like the target domain" step
  // of dataset assembly, re-expressed exactly: hashed token features
  // (64 buckets, the q107 hashing trick) feed TWO smoothed bag-of-
  // buckets models — target = the 'en' slice, raw = the whole corpus —
  // and each document's importance weight is its mean per-token
  // target/raw probability ratio; the global top-100 by importance is
  // the selected set, and the report shows the distribution SHIFT the
  // method exists to produce (per-lang candidates vs selected).
  //
  // Exactness: the per-bucket smoothed ratio
  //   (cnt_t+1)/(tot_t+64) ÷ (cnt_r+1)/(tot_r+64)
  // is quantized to micro units through one fixed-shape chain of IEEE
  // double ops over exact int64 operands (two multiplies, one divide,
  // one round — each step deterministically rounded, identical
  // parenthesization in both engines); per-doc sums of r_micro are
  // int64-exact; the per-doc mean and per-lang mean reuse the
  // round(sum/n) presentation idiom of q104/q108. Log-probabilities
  // (the paper's formulation) are avoided for the usual reason — ln()
  // is not bit-portable — and the RATIO carries the same per-bucket
  // information the log-ratio sum does for ranking-by-affinity. The
  // Gumbel-top-k draw of the paper is likewise replaced by its
  // deterministic top-k variant (the paper's own ablation), which is
  // what makes the selection hash-gradeable.
  //
  // Scale shape (100 TB): this is q104's corpus-model join-back with
  // the one structural improvement DSIR's feature hashing buys — the
  // model is a FIXED 64-row table regardless of corpus size, so the
  // broadcast join-back is UNCONDITIONALLY valid (contrast q104/q108,
  // whose vocab-keyed models outgrow broadcast). Model fitting is one
  // explode → 64-key aggregate (map-side collapse over an
  // alphabet-bounded domain, both counts in ONE pass via count_if);
  // per-doc aggregation collapses map-side. The report is TWO branches
  // over the scored docs: the per-lang candidate/mean stats aggregate
  // directly (NO global window ever touches the full corpus), and the
  // selected-set stats come from a rank-FILTERED branch — a predicate
  // on row_number, which lowers to TakeOrderedAndProject(100): each
  // map partition keeps its local top-100 and one merge produces the
  // global set, so no stage moves the scored corpus into a single
  // partition. (A first draft flagged selection with a projected
  // `rk <= K` boolean instead of a filter — same answer, but the flag
  // shape cannot lower and drags every scored doc through one
  // partition.) AQE exchange reuse computes the scored subtree once
  // for both branches (plan-pinned). Langs with no selected docs
  // re-enter by LEFT join with selected coalesced to 0.
  private val DsirK = 100L

  private val q109 = QueryDef(
    "q109_dsir_select",
    (s, dir) => {
      import s.implicits._
      val toks = docs(s, dir)
        .select($"doc_id", $"lang", explode(
          expr("filter(split(lower(text), ' '), t -> length(t) > 0)"))
          .as("token"))
        .select($"doc_id", $"lang",
          expr("CAST(conv(substring(md5(token), 1, 8), 16, 10) AS BIGINT)" +
            " % 64").as("bucket"))
      val model = toks
        .groupBy($"bucket")
        .agg(count(lit(1)).as("cnt_r"), count_if($"lang" === "en").as("cnt_t"))
        .withColumn("tot_r", sum($"cnt_r").over(Window.partitionBy()))
        .withColumn("tot_t", sum($"cnt_t").over(Window.partitionBy()))
        .select($"bucket", expr(
          "CAST(round((1000000.0 * CAST(cnt_t + 1 AS DOUBLE)" +
            " * CAST(tot_r + 64 AS DOUBLE))" +
            " / (CAST(cnt_r + 1 AS DOUBLE) * CAST(tot_t + 64 AS DOUBLE)))" +
            " AS BIGINT)").as("r_micro"))
      val scored = toks.join(broadcast(model), Seq("bucket"))
        .groupBy($"doc_id", $"lang")
        .agg(count(lit(1)).as("n_tok"), sum($"r_micro").as("imp_sum"))
        .select($"doc_id", $"lang",
          expr("CAST(round(CAST(imp_sum AS DOUBLE) / CAST(n_tok AS DOUBLE))" +
            " AS BIGINT)").as("imp_micro"))
      val wSel = Window.orderBy($"imp_micro".desc, $"doc_id")
      val top = scored
        .withColumn("rk", row_number().over(wSel))
        .filter($"rk" <= DsirK)
        .groupBy($"lang")
        .agg(count(lit(1)).as("selected"), sum($"imp_micro").as("sel_sum_imp"))
      scored.groupBy($"lang")
        .agg(count(lit(1)).as("candidates"), sum($"imp_micro").as("sum_imp"))
        .join(top, Seq("lang"), "left")
        .select($"lang", $"candidates",
          coalesce($"selected", lit(0L)).as("selected"),
          expr("CAST(round(CAST(sum_imp AS DOUBLE) / CAST(candidates AS DOUBLE))" +
            " AS BIGINT)").as("mean_imp_micro"),
          $"sel_sum_imp")
        .orderBy($"lang")
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, lang,
          unnest(list_filter(string_split(lower(text), ' '),
            t -> length(t) > 0)) AS token
        FROM documents),
      tb AS MATERIALIZED (
        SELECT doc_id, lang,
          ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket
        FROM toks),
      model AS (
        SELECT bucket, COUNT(*) AS cnt_r,
          SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_t
        FROM tb GROUP BY 1),
      mt AS (
        SELECT bucket,
          CAST(round((1000000.0 * CAST(cnt_t + 1 AS DOUBLE)
              * CAST(tot_r + 64 AS DOUBLE))
            / (CAST(cnt_r + 1 AS DOUBLE) * CAST(tot_t + 64 AS DOUBLE)))
            AS BIGINT) AS r_micro
        FROM (SELECT bucket, cnt_r, cnt_t,
            SUM(cnt_r) OVER () AS tot_r, SUM(cnt_t) OVER () AS tot_t
          FROM model)),
      scored AS MATERIALIZED (
        SELECT t.doc_id, t.lang,
          CAST(round(CAST(SUM(m.r_micro) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS imp_micro
        FROM tb t JOIN mt m USING (bucket) GROUP BY 1, 2),
      top AS (
        SELECT lang, COUNT(*) AS selected,
          CAST(SUM(imp_micro) AS BIGINT) AS sel_sum_imp
        FROM (SELECT lang, imp_micro,
            ROW_NUMBER() OVER (ORDER BY imp_micro DESC, doc_id) AS rk
          FROM scored)
        WHERE rk <= $DsirK GROUP BY 1),
      perlang AS (
        SELECT lang, COUNT(*) AS candidates,
          CAST(round(CAST(SUM(imp_micro) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mean_imp_micro
        FROM scored GROUP BY 1)
      SELECT p.lang, p.candidates,
        COALESCE(t.selected, 0) AS selected,
        p.mean_imp_micro, t.sel_sum_imp
      FROM perlang p LEFT JOIN top t USING (lang)
      ORDER BY p.lang"""))

  // --------------------------------------------------------------- Q110
  // INCREMENTAL BATCH-vs-CORPUS NEAR-DEDUP — the ingestion-time shape a
  // production pipeline actually runs: new documents arrive as a BATCH
  // and must be deduplicated AGAINST the standing corpus, not within
  // themselves (q23/q25 are the self-join/self-group forms; this is
  // the asymmetric A-vs-B form that runs on every ingest). The batch
  // is carved deterministically (md5-range on doc_id, q46's idiom,
  // ~1/3); MinHash banding (8 md5-rotation families × 2 bands of 4 —
  // q23's scheme at half width) joins batch signatures against corpus
  // signatures only, and candidates are verified by EXACT 5-gram
  // Jaccard ≥ 1/2 in pure integers: with shared = |∩| and
  // n1 + n2 = |∪| + shared, the test 3·shared ≥ n1 + n2 is exactly
  // shared/|∪| ≥ 1/2 — evaluated through one codegen'd
  // `sorted_icount` merge scan per candidate (q45's verify). The
  // report is the per-source ingestion funnel (batch, near-dups
  // dropped, kept).
  //
  // No exact-digest layer: the fixture corpus contains ZERO
  // byte-identical (or even case/whitespace-normalized-identical)
  // texts — verified against both golden SFs — so a digest anti-join
  // (q25's mechanics one step further) would be an UNGRADED branch,
  // the q106 budget-binds lesson. The near layer it would feed is the
  // hard part and is fully exercised: the fixtures carry 14 (sf0.001)
  // / 11 (sf0.01) split-straddling τ≥0.5 pairs, and CurationGateSpec
  // pins that the funnel drops some and keeps most.
  //
  // Scale shape (100 TB corpus, bounded batch): the corpus band/
  // signature relations are derived in-query here but are PRECOMPUTED
  // ingest artifacts in production (write-once indexes, exactly the
  // q23 localCheckpoint comment's "materialize at ingest" point); the
  // batch side is small. Either way the corpus only ever flows through
  // EQUI-keyed joins on (band_idx, band_val) — no corpus self-join, no
  // all-pairs — the verify touches candidates only, and the funnel
  // aggregate is |sources|-row.
  /** The deterministic batch carve shared by q110 and q110b: md5-range
    * on doc_id (q46's idiom), ~1/3 of the corpus plays "newly arrived
    * batch", the rest is the standing corpus. */
  /** md5-range carve shared by the whole q110 family: q110/q110b read
    * it as a batch/corpus split (mod 0 = batch); q110c reads it 3-ways
    * (mod 0 = ingest batch 1, mod 1 = ingest batch 2, mod 2 = the
    * standing corpus the base index is built over). */
  private[graft] def q110Mod: Column =
    expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), " +
      "16, 10) AS BIGINT) % 3")

  private[graft] def q110IsBatch: Column = q110Mod === 0

  /** Distinct 5-gram shingle table over (doc_id [, keep...], text) —
    * q23's tokenization, shared by q110 (both sides in one pass), the
    * write-once corpus index build, and q110b's batch side. Per-doc
    * distinctness is all MinHash/sizes/Jaccard need, so splitting the
    * corpus does not change any doc's shingle set. */
  private[graft] def shingleTable(d: DataFrame, keep: Seq[String]): DataFrame = {
    val cols = (Seq("doc_id") ++ keep).map(col)
    d.select(cols :+ split(lower(col("text")), " ").as("toks"): _*)
      .filter(size(col("toks")) >= 5)
      .select(cols :+ gramExplode.as("shingle"): _*)
      .distinct()
  }

  /** q110's 8-family × (2 bands × 4 rows) MinHash banding over a
    * shingle table: one md5 per shingle, byte-rotation families, band
    * rows keyed (doc_id [, keep...], band_idx, band_val). ONE
    * definition for the in-query form (q110), the ingest-index build
    * (Tables.minhashIndex) and the batch side of q110b — the three
    * consumers of this hash contract cannot drift. */
  private[graft] def bandRows(sh: DataFrame, keep: Seq[String]): DataFrame = {
    val gb = (Seq("doc_id") ++ keep).map(col)
    val withH = sh.withColumn("h", md5(col("shingle").cast(BinaryType)))
    val hs = minhashAggs(8, 4)
    val sig = withH.groupBy(gb: _*).agg(hs.head, hs.tail: _*)
    sig.select(gb :+ explode(bandArray(2, 4)).as("bd"): _*)
      .select(gb :+ col("bd.band_idx").as("band_idx")
        :+ col("bd.band_val").as("band_val"): _*)
  }

  /** ONE fused aggregation of a batch shingle relation (the round-20
    * ingest-append fusion, factored out in round 21 so the batch-2
    * steps share it): (doc_id, the 8 minhash columns, sorted verify
    * set `ss`, size `n`) in a single groupBy — where bandRows +
    * verifySets computed separately paid two shuffles and two eager
    * jobs over the SAME shingle rows (guide §2.4, "operations keyed
    * the same way share one exchange"). localCheckpointed: every
    * consumer (bands, verify join, append payload) reads the pinned
    * table. Hash contract identical to bandRows/verifySets by
    * construction — same minhashAggs(8,4) over the same md5, same
    * sorted collect_list, same distinct-row count. Sound for BOUNDED
    * batches (the ingest contract): the batch side's full sorted-set
    * build is O(batch) — it is exactly what ingestAndAppend already
    * pays to admit a batch; the INDEX side's candidate restriction
    * (the load-bearing one at 100 TB) lives in indexDedupStep's
    * setsC semi-join and is untouched. q110's in-query form keeps
    * the two-agg shape instead: its verify sets span the CORPUS side
    * too, where candidates-only genuinely bounds an unbounded build. */
  private def fusedSigTable(shB: DataFrame): DataFrame = {
    val hs = minhashAggs(8, 4)
    shB.withColumn("h", md5(col("shingle").cast(BinaryType)))
      .groupBy(col("doc_id"))
      .agg(hs.head, hs.tail ++ Seq(
        sort_array(collect_list(col("shingle"))).as("ss"),
        count(lit(1)).as("n")): _*)
      .localCheckpoint()
  }

  /** Band rows derived map-side (explode) from a fusedSigTable. */
  private def sigBandRows(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(bandArray(2, 4)).as("bd"))
      .select(col("doc_id"), col("bd.band_idx").as("band_idx"),
        col("bd.band_val").as("band_val"))

  /** Sorted-shingle-array verify sets (doc_id, ss, n) — the exact-
    * Jaccard side of the q110 contract, optionally restricted to a
    * candidate id set BEFORE the expensive per-doc array build. */
  private def verifySets(sh: DataFrame, candIds: Option[DataFrame]): DataFrame = {
    val base = candIds match {
      case Some(ids) => sh.join(broadcast(ids), Seq("doc_id"), "left_semi")
      case None      => sh
    }
    base.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("shingle"))).as("ss"),
        count(lit(1)).as("n"))
  }

  /** The CORPUS-side relations of the q110 MinHash index — (band rows,
    * verify sets) for every standing-corpus document. Materialized
    * once per sfDir by `Tables.minhashIndex` as the WRITE-ONCE ingest
    * artifact the q110 comment described ("in production the corpus
    * band/signature relations are precomputed"): at 100 TB these two
    * relations are maintained incrementally as batches are admitted
    * (append the kept docs' bands/sets), and every subsequent ingest
    * dedup (q110b) reads them instead of re-shingling the corpus. */
  private[graft] def minhashIndexRelations(
      s: SparkSession, dir: String): (DataFrame, DataFrame) =
    minhashIndexRelationsFor(s, dir, !q110IsBatch)

  /** Index relations over an arbitrary corpus carve — ONE builder for
    * the q110b standing index (corpus = !batch) and the q110c
    * append-cycle base index (corpus = mod 2). */
  private[graft] def minhashIndexRelationsFor(
      s: SparkSession, dir: String, pred: Column): (DataFrame, DataFrame) = {
    val corpus = docs(s, dir).filter(pred)
    // one shingle pass feeds both relations during the build
    val sh = shingleTable(corpus, Nil).localCheckpoint()
    (bandRows(sh, Nil), verifySets(sh, None))
  }

  private val q110 = QueryDef(
    "q110_incremental_dedup",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir).withColumn("is_batch", q110IsBatch)
      // one distinct shingle table for both sides (q23's tokenization);
      // localCheckpoint for the same multi-branch reason as q23
      val sh = shingleTable(d, Seq("is_batch")).localCheckpoint()
      val bands = bandRows(sh, Seq("is_batch"))
      val cand = bands.filter($"is_batch")
        .select($"doc_id".as("b_id"), $"band_idx", $"band_val")
        .join(bands.filter(!$"is_batch")
          .select($"doc_id".as("c_id"), $"band_idx", $"band_val"),
          Seq("band_idx", "band_val"))
        .select($"b_id", $"c_id").distinct()
      // the sorted-array build is the expensive per-doc step — restrict
      // it to CANDIDATE docs (batch ∪ corpus sides of cand, a set
      // bounded by the candidate count) before the groupBy, so the
      // verify genuinely touches candidates only (the oracle's `inter`
      // already had this shape; review finding)
      val candIds = cand.select($"b_id".as("doc_id"))
        .union(cand.select($"c_id".as("doc_id"))).distinct()
      val sets = verifySets(sh.drop("is_batch"), Some(candIds))
      val near = cand
        .join(sets.select($"doc_id".as("b_id"), $"ss".as("s1"), $"n".as("n1")),
          Seq("b_id"))
        .join(sets.select($"doc_id".as("c_id"), $"ss".as("s2"), $"n".as("n2")),
          Seq("c_id"))
        .filter(expr("sorted_icount(s1, s2)") * 3 >= $"n1" + $"n2")
        .select($"b_id".as("doc_id")).distinct()
      dedupFunnel(d.filter($"is_batch"), near).orderBy($"source")
    },
    Some(q110OracleSql))

  /** One oracle for q110 AND q110b: the index is a materialization of
    * relations the in-query form derives, so the two queries are the
    * same function of `documents` — byte-identical funnels, one SQL. */
  private lazy val q110OracleSql: String = {
      val hs = oMinhashAggs(8, 4)
      val bandSelects = oBandSelects(2, 4, "doc_id, is_batch")
      s"""WITH d AS MATERIALIZED (
        SELECT doc_id, source, text,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 3 = 0 AS is_batch
        FROM documents),
      toks AS (
        SELECT doc_id, is_batch, string_split(lower(text), ' ') AS t
        FROM d),
      sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, is_batch,
          unnest(list_transform(generate_series(1, len(t) - 4),
            i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks WHERE len(t) >= 5),
      sigin AS (SELECT doc_id, is_batch, md5(shingle) AS h FROM sh),
      sig AS MATERIALIZED (
        SELECT doc_id, is_batch, $hs FROM sigin GROUP BY 1, 2),
      bands AS MATERIALIZED (
        $bandSelects),
      cand AS (
        SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
        FROM bands b JOIN bands c USING (band_idx, band_val)
        WHERE b.is_batch AND NOT c.is_batch),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      inter AS (
        SELECT cand.b_id, cand.c_id, COUNT(*) AS shared
        FROM cand
        JOIN sh x1 ON x1.doc_id = cand.b_id
        JOIN sh x2 ON x2.doc_id = cand.c_id AND x2.shingle = x1.shingle
        GROUP BY 1, 2),
      neard AS (
        SELECT DISTINCT b_id AS doc_id
        FROM inter JOIN sizes z1 ON z1.doc_id = b_id
          JOIN sizes z2 ON z2.doc_id = c_id
        WHERE 3 * shared >= z1.n + z2.n),
      flags AS (
        SELECT dd.doc_id, dd.source,
          dd.doc_id IN (SELECT doc_id FROM neard) AS is_near
        FROM d dd WHERE dd.is_batch)
      SELECT source, COUNT(*) AS batch_docs,
        CAST(SUM(CASE WHEN is_near THEN 1 ELSE 0 END) AS BIGINT)
          AS near_dups,
        CAST(SUM(CASE WHEN NOT is_near THEN 1 ELSE 0 END) AS BIGINT)
          AS kept_docs
      FROM flags GROUP BY 1 ORDER BY 1"""
  }

  // -------------------------------------------------------------- Q110b
  // INDEXED incremental dedup — q110 against the WRITE-ONCE corpus
  // MinHash index (`Tables.minhashIndex`): the band and verify-set
  // relations for the standing corpus are parquet artifacts built once
  // at ingest (Bench's untimed phase, like the bucketed/partitioned/MV
  // layouts), so the per-batch job shingles ONLY the new batch and the
  // corpus contributes nothing but two pruned index scans — the actual
  // production ingest-dedup shape (the q110 scale comment turned into
  // graded code; the reference's A9 incremental-clear / A12 standing-
  // buffer design value applied to dedup).
  //
  // Scale shape (100 TB corpus, bounded batch): per-ingest cost is
  // O(batch) shingling + equi-joins whose corpus sides are index scans
  // keyed (band_idx, band_val) and doc_id — the corpus text is never
  // re-read, never re-hashed. Admitted docs' bands/sets are APPENDED to
  // the index after the funnel (not modeled here — the fixture corpus
  // is static per sfDir). Byte-identical to q110 by construction
  // (IndexedDedupSpec pins result equality AND that the plan reads the
  // index parquet while scanning raw documents only for the batch).
  private val q110b = QueryDef(
    "q110b_indexed_dedup",
    (s, dir) => {
      import s.implicits._
      // idempotent: built here on first use outside Bench (Verify,
      // goldens), a pure parquet read when Bench's ingest pre-built it
      val (cBands, cSets) = Tables.minhashIndex(s, dir)
      val batch = docs(s, dir).filter(q110IsBatch)
      // FUSED batch signature (round 21, guide §2.4): one aggregation
      // yields bands AND verify sets — was a localCheckpointed shingle
      // table + two separate aggregations (bandRows, then a
      // candidates-restricted verifySets). The batch side is bounded
      // by the ingest contract, so its full O(batch) set build is the
      // ingestAndAppend shape; the CORPUS side's candidate semi-join
      // (the restriction that matters at 100 TB) is inside
      // indexDedupStep, unchanged.
      val shB = shingleTable(batch, Nil)
      val sig = fusedSigTable(shB)
      val near = indexDedupStep(shB, sigBandRows(sig),
        Some(sig.select(col("doc_id"), col("ss"), col("n"))),
        cBands, cSets)
      dedupFunnel(batch, near).orderBy($"source")
    },
    Some(q110OracleSql))

  // -------------------------------------------------------------- Q110c
  // INDEX APPEND CYCLE — the half of the production ingest-dedup loop
  // q110b left "not modeled here" (round-13 verdict item 6), now
  // graded code: two ingest batches arrive in sequence against a
  // standing-corpus index (`Tables.minhashIndexBase`, the mod-2 carve).
  // Batch 1 (mod 0) is deduped against the base index; its KEPT docs'
  // band rows and verify sets are APPENDED as a parquet delta segment
  // (overwrite per run — idempotent, the LSM shape: an index is base +
  // per-batch segments, never a rewrite); batch 2 (mod 1) is then
  // deduped against base ∪ delta, so a batch-2 doc near-duplicating a
  // batch-1 admission IS flagged — the cross-batch catch that makes
  // the append matter (fixture-bound: the mod-3 carve straddles
  // batch1↔batch2 near-pairs at both golden SFs, DuckDB-verified
  // before wiring). Report: the per-batch per-source ingestion funnel.
  //
  // Scale shape (100 TB corpus, bounded batches): per-ingest cost is
  // O(batch) — batch-only shingling, one full batch verify-set build
  // (REQUIRED work here, not a lost restriction: the kept rows are the
  // append payload, exactly what production pays to admit a batch),
  // delta segment linear in the batch, and index sides that only ever
  // flow through (band_idx, band_val) / doc_id equi-joins on pruned
  // parquet scans. The corpus text is never re-read. kept-id semis
  // broadcast — bounded-batch by contract, same as q110b's cand side.
  // IndexAppendSpec pins the plan (batch-2 stage scans the delta
  // segment) and the semantics (without the append, batch 2 loses its
  // cross-batch near-dups).
  private[graft] def q110cDeltaLocs(s: SparkSession, dir: String): (String, String) =
    (Tables.minhashBaseLoc(s, dir, "_delta_bands").toString,
      Tables.minhashBaseLoc(s, dir, "_delta_sets").toString)

  /** The q110-family per-source ingest funnel (batch docs vs flagged
    * near-dups) — ONE definition for q110/q110b/q110c so the report
    * contract cannot drift. `batch` must expose doc_id + source. */
  private def dedupFunnel(batch: DataFrame, near: DataFrame): DataFrame =
    batch.select(col("doc_id"), col("source"))
      .join(near.withColumn("is_near", lit(1)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("batch_docs"),
        count_if(col("is_near") === 1).as("near_dups"),
        count_if(col("is_near").isNull).as("kept_docs"))

  /** One ingest-dedup step: batch shingles vs an index's band/set
    * relations, q110b's candidates-only verify on both sides. Callers
    * that already materialized the FULL batch verify-set relation (the
    * append payload) pass it via `prebuiltSets`; otherwise the build
    * itself is restricted to candidate ids. private[graft] for
    * IndexAppendSpec's with/without-append differential. */
  private[graft] def indexDedupStep(shB: DataFrame, bBands: DataFrame,
      prebuiltSets: Option[DataFrame],
      idxBands: DataFrame, idxSets: DataFrame): DataFrame = {
    val cand = bBands
      .select(col("doc_id").as("b_id"), col("band_idx"), col("band_val"))
      .join(idxBands
          .select(col("doc_id").as("c_id"), col("band_idx"), col("band_val")),
        Seq("band_idx", "band_val"))
      .select(col("b_id"), col("c_id")).distinct()
    val bIds = cand.select(col("b_id").as("doc_id")).distinct()
    val setsB = prebuiltSets match {
      case Some(full) => full.join(broadcast(bIds), Seq("doc_id"), "left_semi")
      case None       => verifySets(shB, Some(bIds))
    }
    val setsC = idxSets.join(
      broadcast(cand.select(col("c_id").as("doc_id")).distinct()),
      Seq("doc_id"), "left_semi")
    cand
      .join(setsB.select(col("doc_id").as("b_id"),
        col("ss").as("s1"), col("n").as("n1")), Seq("b_id"))
      .join(setsC.select(col("doc_id").as("c_id"),
        col("ss").as("s2"), col("n").as("n2")), Seq("c_id"))
      .filter(expr("sorted_icount(s1, s2)") * 3 >= col("n1") + col("n2"))
      .select(col("b_id").as("doc_id")).distinct()
  }

  /** One ingest-batch step WITH its index append: dedup `batch`
    * against (idxBands, idxSets) — full verify-set build, since the
    * kept rows are the append payload — then write the kept docs' band
    * rows and verify sets as a delta segment at the given locations
    * (overwrite — idempotent). ONE definition for q110c's append,
    * q110e's pre-compaction delta and q110d's per-micro-batch segment,
    * so the append payload cannot drift between the three (the
    * twoStepCycle rationale applied to the write path; review finding).
    * Returns the localCheckpointed near set (the funnel's input).
    * `prebuiltSh` lets a caller that already materialized the batch's
    * (doc_id, shingle) relation (q122's one-shingling capstone) pass
    * it in instead of paying a second shingle pass; it must already be
    * pinned (checkpointed or a projection of a checkpoint). */
  private def ingestAndAppend(batch: DataFrame, idxBands: DataFrame,
      idxSets: DataFrame, dBandsLoc: String, dSetsLoc: String,
      onNearPlan: DataFrame => Unit = _ => (),
      prebuiltSh: Option[DataFrame] = None): DataFrame = {
    // FUSED SIGNATURE (round 20, guide §2.4 "operations keyed the same
    // way share one exchange"): bandRows + verifySets both group the
    // SAME shingle rows by doc_id — computed separately they paid two
    // shuffles and two localCheckpoint jobs of the same relation per
    // ingest step. One aggregation now produces the minhash columns,
    // the sorted verify set and its size together; bands derive
    // map-side (explode) and sets by projection from the ONE pinned
    // signature table. Per-batch cost here is fixed job overhead, not
    // data (q122 ≈ equal at sf0.001 and sf0.1), so halving the
    // shuffle/job count on this path is direct wall-clock. Hash
    // contract unchanged: same minhashAggs(8,4)/bandArray(2,4) over
    // the same rows; delta-segment schemas and locations unchanged.
    val shB = prebuiltSh.getOrElse(shingleTable(batch, Nil))
    val sig = fusedSigTable(shB)
    val bBands = sigBandRows(sig)
    val setsB = sig.select(col("doc_id"), col("ss"), col("n"))
    val nearPlan = indexDedupStep(shB, bBands, Some(setsB), idxBands, idxSets)
    // observe the dedup-join plan BEFORE the checkpoint executes it —
    // the streaming kernels record it per (query, batch) so PLANS.md
    // and the plan-pin laws can audit the per-batch read shape the
    // sink-scan DataFrame hides (round-15 verdict item 4)
    onNearPlan(nearPlan)
    val near = nearPlan.localCheckpoint()
    val kept = batch.select(col("doc_id"))
      .join(near, Seq("doc_id"), "left_anti")
    // the two delta segments are independent (disjoint locations, both
    // derived from checkpointed inputs) — one concurrent wave; a crash
    // leaves either torn exactly as it could under the sequential
    // order, and redelivery overwrites both idempotently
    parWrite(Seq(
      () => bBands.join(broadcast(kept), Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(dBandsLoc),
      () => setsB.join(broadcast(kept), Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(dSetsLoc)))
    near
  }

  private val q110c = QueryDef(
    "q110c_index_append_cycle",
    (s, dir) => {
      // ---- batch 2 vs the UPDATED index (base ∪ delta) as it stands
      val (dBandsLoc, dSetsLoc) = q110cDeltaLocs(s, dir)
      twoStepCycle(s, dir, dBandsLoc, dSetsLoc)((bands, sets) => (bands, sets))
    },
    Some(q110cOracleSql))

  /** The q110c/q110e two-step report: ingest batch 1 (mod 0) vs the
    * base index, its kept docs' bands/sets becoming the delta segment
    * at (dBandsLoc, dSetsLoc); then ingest batch 2 (mod 1) vs the index
    * `index2` makes of base ∪ delta — fused batch-2 signature (round
    * 21): one aggregation for bands + verify sets, the q110b
    * rationale. ONE definition so the append-cycle and compaction
    * reports cannot drift. */
  private def twoStepCycle(s: SparkSession, dir: String, dBandsLoc: String,
      dSetsLoc: String)
      (index2: (DataFrame, DataFrame) => (DataFrame, DataFrame))
      : DataFrame = {
    val (iBands, iSets) = Tables.minhashIndexBase(s, dir)
    val d = docs(s, dir)
    val b1 = d.filter(q110Mod === 0)
    val b2 = d.filter(q110Mod === 1)
    val near1 = ingestAndAppend(b1, iBands, iSets, dBandsLoc, dSetsLoc)
    val (bands2, sets2) = index2(
      iBands.select("doc_id", "band_idx", "band_val")
        .union(s.read.parquet(dBandsLoc)
          .select("doc_id", "band_idx", "band_val")),
      iSets.select("doc_id", "ss", "n")
        .union(s.read.parquet(dSetsLoc).select("doc_id", "ss", "n")))
    val shB2 = shingleTable(b2, Nil)
    val sig2 = fusedSigTable(shB2)
    val near2 = indexDedupStep(shB2, sigBandRows(sig2),
      Some(sig2.select(col("doc_id"), col("ss"), col("n"))), bands2, sets2)
    def tagged(b: DataFrame, near: DataFrame, tag: Long): DataFrame =
      dedupFunnel(b, near).withColumn("batch", lit(tag))
    tagged(b1, near1, 1L).union(tagged(b2, near2, 2L))
      .select("batch", "source", "batch_docs", "near_dups", "kept_docs")
      .orderBy("batch", "source")
  }

  /** The two-step cycle computed relationally: near1 from the mod-0 vs
    * mod-2 band join, the updated index as mod-2 ∪ (mod-0 minus near1),
    * near2 from mod-1 vs that membership — the oracle never models the
    * delta segment, only the relation it materializes, so the hash
    * gate grades the append mechanics against pure semantics. */
  private lazy val q110cOracleSql: String = {
    val hs = oMinhashAggs(8, 4)
    val bandSelects = oBandSelects(2, 4, "doc_id, m")
    s"""WITH d AS MATERIALIZED (
        SELECT doc_id, source, text,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 3 AS m
        FROM documents),
      toks AS (
        SELECT doc_id, m, string_split(lower(text), ' ') AS t FROM d),
      sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, m,
          unnest(list_transform(generate_series(1, len(t) - 4),
            i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks WHERE len(t) >= 5),
      sigin AS (SELECT doc_id, m, md5(shingle) AS h FROM sh),
      sig AS MATERIALIZED (
        SELECT doc_id, m, $hs FROM sigin GROUP BY 1, 2),
      bands AS MATERIALIZED (
        $bandSelects),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      cand1 AS (
        SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
        FROM bands b JOIN bands c USING (band_idx, band_val)
        WHERE b.m = 0 AND c.m = 2),
      inter1 AS (
        SELECT cand1.b_id, cand1.c_id, COUNT(*) AS shared
        FROM cand1
        JOIN sh x1 ON x1.doc_id = cand1.b_id
        JOIN sh x2 ON x2.doc_id = cand1.c_id AND x2.shingle = x1.shingle
        GROUP BY 1, 2),
      near1 AS MATERIALIZED (
        SELECT DISTINCT b_id AS doc_id
        FROM inter1 JOIN sizes z1 ON z1.doc_id = b_id
          JOIN sizes z2 ON z2.doc_id = c_id
        WHERE 3 * shared >= z1.n + z2.n),
      idx2 AS MATERIALIZED (
        SELECT doc_id FROM d WHERE m = 2
        UNION ALL
        SELECT doc_id FROM d WHERE m = 0
          AND doc_id NOT IN (SELECT doc_id FROM near1)),
      cand2 AS (
        SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
        FROM bands b JOIN bands c USING (band_idx, band_val)
        JOIN idx2 ON idx2.doc_id = c.doc_id
        WHERE b.m = 1),
      inter2 AS (
        SELECT cand2.b_id, cand2.c_id, COUNT(*) AS shared
        FROM cand2
        JOIN sh x1 ON x1.doc_id = cand2.b_id
        JOIN sh x2 ON x2.doc_id = cand2.c_id AND x2.shingle = x1.shingle
        GROUP BY 1, 2),
      near2 AS (
        SELECT DISTINCT b_id AS doc_id
        FROM inter2 JOIN sizes z1 ON z1.doc_id = b_id
          JOIN sizes z2 ON z2.doc_id = c_id
        WHERE 3 * shared >= z1.n + z2.n),
      f AS (
        SELECT 1 AS batch, dd.source,
          dd.doc_id IN (SELECT doc_id FROM near1) AS is_near
        FROM d dd WHERE dd.m = 0
        UNION ALL
        SELECT 2 AS batch, dd.source,
          dd.doc_id IN (SELECT doc_id FROM near2) AS is_near
        FROM d dd WHERE dd.m = 1)
      SELECT CAST(batch AS BIGINT) AS batch, source,
        COUNT(*) AS batch_docs,
        CAST(SUM(CASE WHEN is_near THEN 1 ELSE 0 END) AS BIGINT)
          AS near_dups,
        CAST(SUM(CASE WHEN NOT is_near THEN 1 ELSE 0 END) AS BIGINT)
          AS kept_docs
      FROM f GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  // -------------------------------------------------------------- Q110d
  // STREAMING INCREMENTAL DEDUP — the q110c ingest-dedup loop run the
  // way a production 100 TB pipeline actually runs it: as a Structured
  // Streaming job. The two ingest batches (the mod-0/mod-1 carve,
  // written as a two-file replay dir) arrive as AvailableNow
  // micro-batches; each foreachBatch invocation dedups its batch
  // against the standing index (base ∪ the delta segments of EARLIER
  // batches only), appends the kept docs' bands/sets as the batch's
  // OWN delta segment, and writes the per-source funnel to the batch's
  // own sink partition. Every write is a pure function of (batchId,
  // data) overwriting `batch=<id>` — the q79 idempotent-sink contract
  // — and the `batch < id` index filter makes a REDELIVERED batch
  // ignore its own first-delivery segment, so at-least-once delivery
  // cannot flag a doc as a near-dup of itself (StreamIndexDedupSpec
  // re-invokes both batches and pins sink + index unchanged). The
  // oracle is q110c's: the stream computes the SAME two-step relation,
  // so the hash gate grades the streaming plumbing (ordering,
  // checkpointing, idempotence) against pure batch semantics.
  //
  // Scale shape (100 TB corpus, bounded micro-batches): identical to
  // q110c per batch — O(batch) shingling, index sides through
  // (band_idx, band_val)/doc_id equi-joins over pruned parquet scans,
  // kept-id semis broadcast — plus the streaming guarantees: the
  // checkpoint makes replay resumable and the idempotent segment/sink
  // writes make redelivery harmless. The corpus text never re-reads,
  // the index grows by exactly the admitted docs per batch. Fresh
  // sink/ckpt/delta dirs per run (Bench reps time the full replay,
  // like q79); plan consumers see only the sink read (q44 caveat).
  /** The minhash index's two LSM relations (bands, verify sets) — ONE
    * definition for q110d, q110f and the q122 capstone, so the dedup
    * families cannot disagree on the index's shape. The fold dirs stay
    * empty for a stream with folding off (q110d). */
  private def minhashRels(baseBands: DataFrame, baseSets: DataFrame,
      deltaBandsDir: String, deltaSetsDir: String,
      foldBandsDir: String = "", foldSetsDir: String = "")
      : Seq[LsmRelation] = Seq(
    LsmRelation(baseBands, deltaBandsDir,
      Seq("doc_id", "band_idx", "band_val"), foldBandsDir),
    LsmRelation(baseSets, deltaSetsDir,
      Seq("doc_id", "ss", "n"), foldSetsDir))

  /** One streaming ingest-dedup micro-batch — a pure function of
    * (batchId, disk state at batch start): dedup vs the minhash LSM
    * state below `id` (Lsm.lsmBatch: base ∪ strictly-earlier deltas
    * with folding off, the latest committed fold ∪ the tail past it
    * under a cadence), append this batch's kept bands/sets as
    * `batch=<id>`, fold at the cadence, write the funnel to the sink's
    * `batch=<id>`. ONE kernel for q110d (k = None) and q110f; the
    * dedup plan is recorded under "`planKey` batch=<id>". */
  private def dedupBatch(s: SparkSession, micro: DataFrame, id: Long,
      rels: Seq[LsmRelation], sinkDir: String, planKey: String,
      k: Option[Int], crashBeforeSink: Long => Unit,
      crashMidFold: Long => Unit): Unit = {
    // micro feeds three branches (shingles, kept anti-join, funnel):
    // pin it once so the file slice is read once
    val b = micro.localCheckpoint()
    val Seq(bands, sets) = rels
    val near = lsmBatch(s, rels, id, k, () => crashMidFold(id)) {
      case Seq(ib, is) => ingestAndAppend(b, ib, is,
        s"${bands.deltaDir}/batch=$id", s"${sets.deltaDir}/batch=$id",
        StreamingJobs.recordInnerPlan(s"$planKey batch=$id", _))
    }
    // TORN-WRITE injection point (StreamIndexDedupSpec's crash law):
    // the worst at-least-once case is a kill AFTER the segment write
    // but BEFORE the sink write — the batch's delta exists, its commit
    // doesn't, and the rerun must overwrite both to the one-shot bytes
    crashBeforeSink(id)
    dedupFunnel(b, near).coalesce(1)
      .write.mode("overwrite").parquet(s"$sinkDir/batch=$id")
  }

  /** q110d's micro-batch: dedupBatch with folding off. private[graft]
    * for StreamIndexDedupSpec's redelivery law. */
  private[graft] def streamDedupBatch(s: SparkSession, micro: DataFrame,
      id: Long, baseBands: DataFrame, baseSets: DataFrame,
      deltaBandsDir: String, deltaSetsDir: String, sinkDir: String,
      crashBeforeSink: Long => Unit = _ => ()): Unit =
    dedupBatch(s, micro, id,
      minhashRels(baseBands, baseSets, deltaBandsDir, deltaSetsDir),
      sinkDir, "q110d_stream_index_dedup", None, crashBeforeSink, _ => ())

  /** Run the full streaming ingest-dedup replay: drain the two-file
    * replay through streamDedupBatch. No `batch=-1` schema seed is
    * written: batch 0's empty-tail read is elided by listing
    * (Lsm.hasBatchIn). private[graft] for StreamIndexDedupSpec. */
  private[graft] def runStreamIndexDedup(s: SparkSession, dir: String,
      replayDir: String, deltaBandsDir: String, deltaSetsDir: String,
      sinkDir: String, ckpt: String,
      crashBeforeSink: Long => Unit = _ => ()): Unit = {
    val (iBands, iSets) = Tables.minhashIndexBase(s, dir)
    StreamingJobs.drain("q110d_stream_index_dedup", ckpt,
        StreamingJobs.readDocsStream(s, replayDir)) { (df, id) =>
      streamDedupBatch(s, df, id, iBands, iSets,
        deltaBandsDir, deltaSetsDir, sinkDir, crashBeforeSink)
    }
  }

  /** A change-log sink read: each batch owns its `batch=<id>`
    * partition, so the read is a union of the per-batch rows with the
    * partition column mapped to the report's 1-based batch tag — ONE
    * definition for every streaming report. */
  private def sinkLog(s: SparkSession, sinkDir: String,
      cols: String*): DataFrame =
    s.read.parquet(sinkDir).select(
      (col("batch").cast(LongType) + 1).as("batch") +: cols.map(col): _*)

  private val funnelCols = Seq("source", "batch_docs", "near_dups",
    "kept_docs")

  /** Resolve the q110d/q110f sink change-log to the q110c report. */
  private[graft] def streamDedupTable(s: SparkSession,
      sinkDir: String): DataFrame =
    sinkLog(s, sinkDir, funnelCols: _*).orderBy(col("batch"), col("source"))

  private val q110d = QueryDef(
    "q110d_stream_index_dedup",
    (s, dir) => {
      val replay = StreamingJobs.docsReplayDir(s, dir)
      // Scratch-registered (round-15 ADVICE item 2): fresh per run so
      // the reps time the full replay, deleted by the harness once the
      // sink read is consumed
      val Seq(dBands, dSets, sink, ckpt) =
        Scratch.dirs("graft-q110d", "dbands", "dsets", "sink", "ckpt")
      runStreamIndexDedup(s, dir, replay, dBands, dSets, sink, ckpt)
      streamDedupTable(s, sink)
    },
    Some(q110cOracleSql))

  // -------------------------------------------------------------- Q110e
  // INDEX COMPACTION — the LSM close-out the q110c append cycle left
  // open: after batch 1's kept docs are appended as a delta segment,
  // the delta is FOLDED into a new base (major compaction: one read of
  // base ∪ delta, one write of the compacted segment), and batch 2 is
  // deduped against the COMPACTED index alone — a single pruned scan
  // per relation, no union, no delta. The oracle is q110c's: the
  // compacted index is the same relation as base ∪ delta, so the hash
  // gate proves read-equivalence end to end (a doc flagged against
  // base∪delta is flagged against the compacted base, and vice versa);
  // IndexCompactSpec pins the rest — the funnel equals q110c's row for
  // row, the compacted segment's membership is exactly base ∪ kept
  // batch-1 docs, and batch 2's plan scans the compacted location with
  // NO delta scan anywhere (the read-side signature that distinguishes
  // this query from q110c).
  //
  // Scale shape (100 TB corpus): the compaction write is linear in the
  // INDEX (band rows + sorted shingle arrays — the summary, never the
  // text), streams through one union with no shuffle (both inputs are
  // already per-doc relations; partition-local writes suffice), and
  // runs at whatever cadence amortizes it — after which every ingest
  // dedup pays one pruned scan per relation instead of base + k
  // segments. Batch steps are q110c's O(batch) shapes unchanged.
  // Compacted segments land in the warehouse (overwritten per run —
  // idempotent, like the delta segments).
  private[graft] def q110eCompactLocs(
      s: SparkSession, dir: String): (String, String) =
    (Tables.minhashBaseLoc(s, dir, "_compact_bands").toString,
      Tables.minhashBaseLoc(s, dir, "_compact_sets").toString)

  /** q110e's OWN pre-compaction delta segment locations — same content
    * as q110c's (both are batch 1's kept docs), but a separate path so
    * the two queries never race on one directory. */
  private def q110eDeltaLocs(
      s: SparkSession, dir: String): (String, String) =
    (Tables.minhashBaseLoc(s, dir, "_compact_delta_bands").toString,
      Tables.minhashBaseLoc(s, dir, "_compact_delta_sets").toString)

  private val q110e = QueryDef(
    "q110e_index_compaction",
    (s, dir) => {
      // q110c's step 1 lands in this query's own delta segment
      val (dBandsLoc, dSetsLoc) = q110eDeltaLocs(s, dir)
      twoStepCycle(s, dir, dBandsLoc, dSetsLoc) { (bands, sets) =>
        // ---- major compaction: fold base ∪ delta into a new base;
        // batch 2 then reads the COMPACTED index only
        val (cBandsLoc, cSetsLoc) = q110eCompactLocs(s, dir)
        bands.write.mode("overwrite").parquet(cBandsLoc)
        sets.write.mode("overwrite").parquet(cSetsLoc)
        (s.read.parquet(cBandsLoc), s.read.parquet(cSetsLoc))
      }
    },
    Some(q110cOracleSql))

  // -------------------------------------------------------------- Q110f
  // STREAMING COMPACTION — q110e's major compaction folded INTO the
  // q110d streaming loop (round-15 verdict item 2), driven by a
  // COMPACT-EVERY-K cadence POLICY rather than a hard-coded
  // fold-at-batch-0 (round-16 verdict item 2): after every k-th batch
  // commits its delta, the fold writes the prior fold ∪ the delta
  // tail (byte-equivalent to base ∪ all deltas so far, bounded at
  // O(fold + k) inputs) to an immutable `fold=<id>` segment, and each
  // batch dedups against the latest COMMITTED fold below it (derived
  // from the fold listing, so k can be retuned across a resume) ∪ the
  // non-folded delta tail — one
  // pruned scan per relation right after a fold (IndexCompactSpec's
  // read-side signature, now on the streaming path), the tail union
  // exactly once per later pre-fold batch. The registry entry runs
  // k = 1 over the two-file replay: batch 0 reads the base, folds;
  // batch 1 reads fold=0 ALONE (StreamIndexDedupSpec pins it on the
  // RECORDED per-batch inner plan, including after a checkpoint
  // restart across the compaction boundary); the k = 2 cadence over a
  // four-batch delivery — pre-fold tail read, post-fold clean read,
  // post-fold tail read — is spec-pinned against q110d's uncompacted
  // kernel batch for batch. Every write stays a pure function of
  // (batchId, data): folds read only the immutable base + write-once
  // deltas and land at per-fold locations, so a redelivered batch
  // reads the fold its first delivery read and rewrites identical
  // bytes. The oracle is q110c's, UNCHANGED — read-equivalence of the
  // compacted index is the entire point, so the hash gate grades the
  // mid-stream fold against pure two-step semantics.
  //
  // Scale shape (100 TB corpus, bounded micro-batches): per-batch work
  // is q110d's (O(batch) shingling, pruned index equi-joins, broadcast
  // kept-id semis); the fold is q110e's — linear in the INDEX summary,
  // one union, no shuffle — amortized at whatever k the operator
  // picks: between folds an ingest pays the fold scan + at most k-1
  // delta segments instead of base + ALL segments, and k trades fold
  // write volume against read fan-in exactly like an LSM level policy.
  // Old folds are GC'd past the live fold point (here: Scratch).
  /** One micro-batch under the COMPACT-EVERY-K cadence policy
    * (round-16 verdict item 2 — the hard-coded compact-at-batch-0
    * generalized): batch id dedups against fold=f ∪ the delta segments
    * of batches in (f, id), where f = foldPoint(rels.map(_.foldDir),
    * id) — the latest
    * committed fold below id — and f = -1 means the base relations
    * (pre-fold batches read base ∪ deltas in [0, id), q110d's shape);
    * after the batch's own delta lands, a fold fires iff
    * (id+1) % k == 0, writing the prior fold ∪ the delta tail through
    * this batch (byte-equivalent to base ∪ all deltas so far, bounded
    * at O(fold + k) inputs) to the IMMUTABLE per-fold location
    * `fold=<id>`. Per-fold locations (not one overwritten dir) are
    * what keep redelivery exact: a re-run batch reads the fold its
    * first delivery read — never a fold its own torn first delivery
    * wrote — the `batch < id` self-exclusion contract at fold
    * granularity; and the fold's inputs are only the immutable prior
    * fold + write-once deltas, so a redelivered fold rewrites
    * byte-identical content. Everything stays a pure function of
    * (batchId, disk state at batch start), which redelivery preserves.
    * A deployment GCs superseded folds AND the deltas at or below the
    * live fold point (both are dead); the fixtures let Scratch purge
    * them. */
  private[graft] def streamCompactBatch(s: SparkSession, micro: DataFrame,
      id: Long, baseBands: DataFrame, baseSets: DataFrame,
      deltaBandsDir: String, deltaSetsDir: String,
      compactBandsDir: String, compactSetsDir: String, sinkDir: String,
      k: Int = 1, crashBeforeSink: Long => Unit = _ => (),
      crashMidFold: Long => Unit = _ => ()): Unit =
    dedupBatch(s, micro, id,
      minhashRels(baseBands, baseSets, deltaBandsDir, deltaSetsDir,
        compactBandsDir, compactSetsDir),
      sinkDir, "q110f_stream_compaction", Some(k), crashBeforeSink,
      crashMidFold)

  /** Run the streaming compaction replay: drain the two-file replay
    * through streamCompactBatch under the compact-every-k cadence (no
    * schema seeds — the empty tail is elided by listing).
    * private[graft] for StreamIndexDedupSpec's restart-across-the-fold
    * and torn-write laws. */
  private[graft] def runStreamCompactDedup(s: SparkSession, dir: String,
      replayDir: String, deltaBandsDir: String, deltaSetsDir: String,
      compactBandsDir: String, compactSetsDir: String, sinkDir: String,
      ckpt: String, k: Int = 1,
      crashBeforeSink: Long => Unit = _ => (),
      crashMidFold: Long => Unit = _ => ()): Unit = {
    val (iBands, iSets) = Tables.minhashIndexBase(s, dir)
    StreamingJobs.drain("q110f_stream_compaction", ckpt,
        StreamingJobs.readDocsStream(s, replayDir)) { (df, id) =>
      streamCompactBatch(s, df, id, iBands, iSets, deltaBandsDir,
        deltaSetsDir, compactBandsDir, compactSetsDir, sinkDir, k,
        crashBeforeSink, crashMidFold)
    }
  }

  private val q110f = QueryDef(
    "q110f_stream_compaction",
    (s, dir) => {
      val replay = StreamingJobs.docsReplayDir(s, dir)
      val Seq(dBands, dSets, cBands, cSets, sink, ckpt) = Scratch.dirs(
        "graft-q110f", "dbands", "dsets", "cbands", "csets", "sink", "ckpt")
      runStreamCompactDedup(s, dir, replay, dBands, dSets, cBands, cSets,
        sink, ckpt)
      streamDedupTable(s, sink)
    },
    Some(q110cOracleSql))

  // --------------------------------------------------------------- Q112
  // EXACT-SUBSTRING DEDUP (the ExactSubstr family — Lee et al. 2021,
  // "Deduplicating Training Data Makes Language Models Better"): flag
  // documents that share a VERBATIM run of >= 32 tokens with another
  // document — the suffix-overlap form modern curation stacks run
  // alongside MinHash (q23/q110 catch mostly-similar documents; this
  // catches a license block, boilerplate header, or quoted paragraph
  // embedded in otherwise-distinct documents). Lee et al. build a
  // corpus suffix array; the distributed equivalent here is stride-1
  // window HASHES: every 32-token window is content-addressed
  // (md5 of the space-joined span — one window hash per token
  // position, so the hashed relation is linear in corpus tokens), a
  // window shared verbatim between two docs means their hashes
  // collide at some position, and candidates from the hash equi-join
  // are verified by EXACT span comparison (the bytes are the
  // criterion, not the hash). Dedup rule: a doc repeating a span seen
  // in a LOWER doc_id is the span-dup (q25's deterministic winner at
  // span granularity). The fixtures BIND (DuckDB-verified before
  // wiring): 665 (sf0.001) / 508 (sf0.01) distinct cross-doc shared
  // 32-token spans; SubstrDedupSpec adds a planted-span recall law.
  //
  // Scale shape (100 TB): the window pass is map-only inside the scan
  // stage (the span string exists only transiently as md5 input; only
  // (doc_id, position, 16-byte hash) rows leave the stage); per-doc
  // window dedup collapses map-side into the (h, doc) shuffle;
  // candidate edges are LINEAR per hash bucket — each doc joins only
  // the bucket's min-doc_id representative (one agg row per hash),
  // never every other holder, so a span shared by m docs yields m
  // edges, not m(m-1)/2 (round-12 ADVICE item 5 closed the quadratic
  // hot-bucket case: license blocks/boilerplate are exactly the spans
  // this query exists to catch); the verify re-slices token arrays
  // for CANDIDATE docs only (the q110 candidates-only contract). The
  // suffix-array alternative is a single-machine algorithm; this
  // windowed-hash form is the shape that partitions.
  private val SpanK = 32

  /** Verified span-dup doc ids over a documents-shaped frame (doc_id,
    * text, ...): docs sharing an exact >= k-token run with a lower
    * doc_id. Exposed for SubstrDedupSpec's planted-span law.
    * `spanHash` is the content address of a span (md5 in production);
    * injectable so the spec can force same-hash/different-span buckets
    * and exercise the collision fallback below, which is unreachable
    * under a 128-bit hash on any real corpus. */
  /** The shipped span content-address: marker default for
    * substrDupDocs — when unchanged, the window pass runs the O(tokens)
    * rolling `span_hashes` expression; an INJECTED hash (the spec's
    * forced-collision laws) falls back to the explicit per-window
    * construction below, which is what the injection seam addresses. */
  private[graft] val DefaultSpanHash: Column => Column =
    c => md5(c.cast(BinaryType))

  private[graft] def substrDupDocs(d: DataFrame, k: Int,
      spanHash: Column => Column = DefaultSpanHash): DataFrame = {
    val toks = d.select(col("doc_id"),
        expr("filter(split(lower(text), ' '), t -> length(t) > 0)").as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))
      .filter(col("n") >= k)
    // ROLLING WINDOW PASS (round 20, guide §1.2 per-task work): the
    // default path computes every window's 128-bit content address in
    // ONE O(tokens) rolling scan (`span_hashes`) instead of building
    // and md5-ing the ~k·avg_token-byte span string per position —
    // O(tokens·k) hashing, measured as q112's dominant compute. The
    // address is 16-byte binary (vs 32-char hex), halving the shuffled
    // key bytes (§2.3). Results are hash-independent: candidates are
    // verified by exact span bytes, the residue fallback covers
    // realized collisions, and the 128-bit width keeps the round-15
    // two-distinct-spans analysis intact; SubstrDedupSpec additionally
    // pins this path result-identical to the md5-per-window form on
    // the real corpus. An injected spanHash keeps the explicit
    // per-window form (that seam exists to force collisions).
    val win =
      if (spanHash eq DefaultSpanHash)
        toks.select(col("doc_id"),
            posexplode(expr(s"span_hashes(toks, $k)")).as(Seq("p", "h")))
          .select(col("doc_id"), (col("p") + 1).cast(LongType).as("i"),
            col("h"))
      else toks
        .select(col("doc_id"), col("toks"),
          explode(expr(s"sequence(1L, n - $k + 1)")).as("i"))
        .select(col("doc_id"), col("i"),
          spanHash(concat_ws(" ",
            slice(col("toks"), col("i").cast("int"), lit(k)))).as("h"))
    // one representative position per (window hash, doc): min(i) —
    // within-doc repeats of the same span collapse map-side here
    val wd = win.groupBy(col("h"), col("doc_id")).agg(min(col("i")).as("i"))
    // ONE candidate edge per (hash, doc): each doc joins only the MIN
    // doc_id holder of its hash, never every holder (round-12 ADVICE
    // item 5 — the wd⋈wd form is m(m-1)/2 per bucket, and a license
    // block shared by m docs is exactly the hot-bucket case this query
    // targets). Sufficient for the d1<d2 dup rule: at 128-bit hashing
    // every holder of h carries the same span bytes (candidate
    // generation pigeonholes to the min holder; the exact-span verify
    // below still guards false positives), so d2 is a dup iff the min
    // holder is lower — m edges per bucket, linear. min_by picks the
    // min holder's representative position in the same partial-agg
    // pass (one row per hash; no window, no second shuffle). A
    // REALIZED md5 collision (two different spans, one h) is handled
    // by the failed-verify residue's per-bucket all-pairs below, which
    // matches the oracle's all-pairs semantics PROVIDED each (h, doc)
    // holds one span — wd keeps only min(i) per (h, doc), so a doc
    // whose two DISTINCT spans both hash to h is represented by its
    // first window only, and a same-span partner at its second window
    // would be missed (round-15 ADVICE item 1: unreachable under a
    // 128-bit hash, where all holders of h carry identical bytes, but
    // not an unconditional guarantee under an arbitrary spanHash).
    // SubstrDedupSpec pins min-holder ≡ all-pairs differentially
    // (synthetic hot buckets + the real sf0.001 corpus) AND the
    // forced-collision fallback via an injected weak hash; the DuckDB
    // oracle deliberately KEEPS the all-pairs cand form so the hash
    // gate independently re-proves the equivalence every verify run.
    val rep = wd.groupBy(col("h"))
      .agg(min(col("doc_id")).as("d1"), min_by(col("i"), col("doc_id")).as("i1"))
    val cand = rep
      .join(wd.select(col("h"), col("doc_id").as("d2"), col("i").as("i2")),
        Seq("h"))
      .filter(col("d1") < col("d2"))
      .select(col("h"), col("d1"), col("i1"), col("d2"), col("i2"))
      .distinct()
    // exact-span verify on candidates only: re-slice both docs' token
    // arrays at the candidate positions and compare the bytes
    val t1 = toks.select(col("doc_id").as("d1"), col("toks").as("tk1"))
    val t2 = toks.select(col("doc_id").as("d2"), col("toks").as("tk2"))
    val verified = cand.join(t1, Seq("d1")).join(t2, Seq("d2"))
      .select(col("h"), col("d2"),
        concat_ws(" ",
          slice(col("tk1"), col("i1").cast("int"), lit(k))).as("s1"),
        concat_ws(" ",
          slice(col("tk2"), col("i2").cast("int"), lit(k))).as("s2"))
    val ver1 = verified.filter(col("s1") === col("s2"))
      .select(col("d2").as("doc_id"))
    // Collision fallback (round-13 ADVICE, closed round 15): a
    // candidate FAILING the min-holder verify carries a span that
    // differs from the min holder's — under a realized hash collision
    // it can still equal another FAILED member of its bucket (it can
    // never equal a PASSED member, whose span IS the min holder's), so
    // all-pairs over the failed residue restores exact d1<d2 semantics.
    // The residue is empty unless two different spans share a 128-bit
    // md5, so in production this is one empty self-join; under the
    // spec's injected weak hash it provably catches the dups the
    // min-holder shortcut alone would miss.
    val failed = verified.filter(col("s1") =!= col("s2"))
      .select(col("h"), col("d2"), col("s2"))
    val res = failed
      .select(col("h"), col("d2").as("da"), col("s2").as("sa"))
      .join(failed.select(col("h"), col("d2").as("db"), col("s2").as("sb")),
        Seq("h"))
      .filter(col("da") < col("db") && col("sa") === col("sb"))
      .select(col("db").as("doc_id"))
    ver1.union(res).distinct()
  }

  private val q112 = QueryDef(
    "q112_substr_dedup",
    (s, dir) => {
      import s.implicits._
      val dups = substrDupDocs(docs(s, dir), SpanK)
      docs(s, dir).select($"doc_id", $"source")
        .join(dups.withColumn("is_dup", lit(1)), Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("docs"),
          count_if($"is_dup" === 1).as("span_dups"),
          count_if($"is_dup".isNull).as("kept_docs"))
        .orderBy($"source")
    },
    Some(s"""WITH t AS (
        SELECT doc_id,
          list_filter(string_split(lower(text), ' '),
            x -> length(x) > 0) AS toks
        FROM documents),
      tk AS MATERIALIZED (
        SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
        FROM t WHERE len(toks) >= $SpanK),
      w AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS i,
          md5(array_to_string(
            list_slice(toks, u.i, u.i + ${SpanK - 1}), ' ')) AS h
        FROM tk CROSS JOIN unnest(range(1, n - $SpanK + 2)) AS u(i)),
      wd AS MATERIALIZED (
        SELECT h, doc_id, MIN(i) AS i FROM w GROUP BY 1, 2),
      cand AS (
        SELECT a.doc_id AS d1, a.i AS i1, b.doc_id AS d2, b.i AS i2
        FROM wd a JOIN wd b ON a.h = b.h AND a.doc_id < b.doc_id),
      ver AS (
        SELECT DISTINCT c.d2 AS doc_id
        FROM cand c
        JOIN tk x1 ON x1.doc_id = c.d1
        JOIN tk x2 ON x2.doc_id = c.d2
        WHERE array_to_string(
            list_slice(x1.toks, c.i1, c.i1 + ${SpanK - 1}), ' ')
          = array_to_string(
            list_slice(x2.toks, c.i2, c.i2 + ${SpanK - 1}), ' '))
      SELECT d.source, COUNT(*) AS docs,
        CAST(SUM(CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS span_dups,
        CAST(SUM(CASE WHEN v.doc_id IS NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS kept_docs
      FROM documents d LEFT JOIN ver v USING (doc_id)
      GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- Q113
  // DOMAIN-MIXTURE WEIGHTING (DoReMi-lite — Xie et al. 2023 "DoReMi:
  // Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
  // the cross-source balancing step a pretraining pipeline runs after
  // per-doc curation (q107/q108/q109 score docs; THIS decides how much
  // of each SOURCE to take). A declared target mixture over sources —
  // here a deterministic 4-class weight rule on the source name (the
  // stand-in for DoReMi's proxy-model-learned weights, which arrive as
  // exactly such a per-source table) — is fitted against the corpus's
  // actual per-source counts in EXACT integer ppm/micro units:
  //
  //   target_ppm  = cls·10⁶ div Σcls            (declared mixture)
  //   p_uncapped  = target_ppm·N div n_s        (per-doc accept rate
  //                 that would hit the target share of the FULL corpus)
  //   p_micro     = min(p_uncapped, 10⁶)        (can't sample > 100%)
  //   epochs      = ⌈p_uncapped / 10⁶⌉          (repetition factor an
  //                 under-represented source needs — DoReMi's "epochs
  //                 over small domains"; 1 when downsampling suffices)
  //
  // and each doc is admitted by a salted md5 coin: accept iff
  // md5int('mix'||doc_id) % 10⁶ < p_micro — q54's deterministic
  // sampling idiom pointed at mixture reweighting. Report per source:
  // corpus share vs target vs achieved (exact integer ppm of the
  // sampled corpus), the sampling rate, and the epochs factor.
  //
  // Scale shape (100 TB): per-source counts are one |sources|-row
  // shuffle; the fitted plan is a model-sized table BROADCAST back
  // (the q107 model-as-relation shape — never a driver collect); the
  // accept test is a scan-stage map over (doc_id, source) — two
  // column-pruned passes total, no row ever carries more than 3
  // columns, and the final report aggregate is |sources|-row.
  private val q113 = QueryDef(
    "q113_domain_mixture",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"source")
      val counts = d.groupBy($"source").agg(count(lit(1)).as("docs"))
      val cls = counts.withColumn("cls",
        expr("CAST(conv(substring(md5(source), 1, 8), 16, 10) AS BIGINT)" +
          " % 4 + 1"))
      val tot = cls.agg(sum($"cls").as("sum_cls"), sum($"docs").as("n_total"))
      // the fitted plan is |sources|-row but DERIVING it scans the
      // corpus (the counts agg); localCheckpoint pins ONE derivation —
      // without it each of the three consumers below (accept-test
      // broadcast, report left side, scalar totals) re-aggregates the
      // full corpus. Two corpus passes total: counts here, accept scan.
      val plan = cls.crossJoin(broadcast(tot))
        .withColumn("target_ppm", expr("cls * 1000000 DIV sum_cls"))
        .withColumn("p_uncapped", expr("target_ppm * n_total DIV docs"))
        .withColumn("p_micro",
          least($"p_uncapped", lit(1000000L)).as("p_micro"))
        .withColumn("epochs", expr("(p_uncapped + 999999) DIV 1000000"))
        .localCheckpoint()
      val sampled = d
        .withColumn("u",
          expr("CAST(conv(substring(md5(concat('mix', CAST(doc_id AS " +
            "STRING))), 1, 8), 16, 10) AS BIGINT) % 1000000"))
        .join(broadcast(plan.select($"source", $"p_micro")), Seq("source"))
        .filter($"u" < $"p_micro")
        .groupBy($"source").agg(count(lit(1)).as("sampled_docs"))
      val totS = sampled.agg(sum($"sampled_docs").as("tot_sampled"))
      plan.join(sampled, Seq("source"), "left")
        .na.fill(0L, Seq("sampled_docs"))
        .crossJoin(broadcast(totS))
        .select($"source", $"docs",
          expr("docs * 1000000 DIV n_total").as("corpus_ppm"),
          $"target_ppm", $"p_micro", $"epochs", $"sampled_docs",
          expr("sampled_docs * 1000000 DIV tot_sampled").as("achieved_ppm"))
        .orderBy($"source")
    },
    Some("""WITH counts AS (
        SELECT source, COUNT(*) AS docs FROM documents GROUP BY 1),
      cls AS (
        SELECT source, docs,
          ('0x' || substr(md5(source), 1, 8))::BIGINT % 4 + 1 AS cls
        FROM counts),
      tot AS (
        SELECT CAST(SUM(cls) AS BIGINT) AS sum_cls,
          CAST(SUM(docs) AS BIGINT) AS n_total
        FROM cls),
      plan AS (
        SELECT source, docs, n_total,
          cls * 1000000 // sum_cls AS target_ppm,
          (cls * 1000000 // sum_cls) * n_total // docs AS p_uncapped
        FROM cls CROSS JOIN tot),
      plan2 AS (
        SELECT source, docs, n_total, target_ppm,
          LEAST(p_uncapped, 1000000) AS p_micro,
          (p_uncapped + 999999) // 1000000 AS epochs
        FROM plan),
      sampled AS (
        SELECT d.source, COUNT(*) AS sampled_docs
        FROM documents d JOIN plan2 p ON p.source = d.source
        WHERE ('0x' || substr(md5('mix' || CAST(d.doc_id AS VARCHAR)),
            1, 8))::BIGINT % 1000000 < p.p_micro
        GROUP BY 1),
      tots AS (
        SELECT CAST(SUM(sampled_docs) AS BIGINT) AS tot_sampled
        FROM sampled)
      SELECT p.source, p.docs,
        p.docs * 1000000 // p.n_total AS corpus_ppm,
        p.target_ppm, p.p_micro, p.epochs,
        CAST(COALESCE(s.sampled_docs, 0) AS BIGINT) AS sampled_docs,
        CAST(COALESCE(s.sampled_docs, 0) AS BIGINT) * 1000000
          // tot_sampled AS achieved_ppm
      FROM plan2 p LEFT JOIN sampled s ON s.source = p.source
      CROSS JOIN tots
      ORDER BY p.source"""))

  // --------------------------------------------------------------- Q115
  // LEAKAGE-SAFE train/val/test split: q46's deterministic hash split
  // with the assignment key lifted from the DOCUMENT to its NEAR-DUP
  // CLUSTER. The classic eval-leakage bug — a near-duplicate pair
  // straddling train and test inflates held-out metrics (the reason
  // dedup-aware splits are standard pretraining practice) — and q46's
  // per-doc rule commits it: the fixture's 5-gram Jaccard ≥ 0.6 pairs
  // land on both sides of md5(doc_id). The fix: every doc's split key
  // is COALESCE(cluster_label, doc_id) where cluster_label is q39's
  // connected-component minimum — all members of a dup cluster share a
  // key, so by construction NO near-dup pair straddles a split
  // (asserted as a law in LeakSafeSplitSpec, alongside a differential
  // check that some pair WOULD straddle under the naive q46 rule).
  //
  // Output per (split, lang): doc/token counts plus the two columns
  // that grade the fix — n_clustered (docs assigned via a multi-doc
  // cluster) and n_moved (docs whose cluster-based split differs from
  // their naive doc_id-based split; nonzero exactly when the naive
  // rule would have leaked).
  //
  // Scale shape (100 TB): the labels table is the dup-graph membership
  // (a corpus FRACTION, not corpus-sized, but not an eval-suite small
  // side either), so the join back to documents is a plain equi-join —
  // no broadcast hint; AQE broadcasts it at fixture scale and shuffles
  // both sides by doc_id past the threshold, both correct. Everything
  // downstream of the join is scan-stage expressions into a
  // |splits|·|langs|-row aggregate. The CC labels themselves reuse
  // dupClusterLabels' bounded fixpoint (tiny localCheckpointed tables).
  private val q115 = QueryDef(
    "q115_leakage_safe_split",
    (s, dir) => {
      import s.implicits._
      val labels = dupClusterLabels(s, dir)
      docs(s, dir)
        .join(labels, Seq("doc_id"), "left")
        .withColumn("ck", coalesce($"label", $"doc_id"))
        .select(md5SplitOf($"ck").as("split"), $"lang",
          $"label".isNotNull.as("is_clustered"),
          (md5SplitOf($"ck") =!= md5SplitOf($"doc_id")).as("moved"),
          expr("size(filter(split(lower(text), ' '), t -> length(t) > 0))")
            .cast(LongType).as("n_tok"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("sum_tokens"),
          count_if($"is_clustered").as("n_clustered"),
          count_if($"moved").as("n_moved"))
        .orderBy($"split", $"lang")
    },
    // Oracle: q39's WITH RECURSIVE transitive closure (an entirely
    // different CC algorithm) feeding q46's CASE rule on the coalesced
    // cluster key.
    Some(s"""${oraclePairCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      $oracleClosureCtes,
      labels AS (
        SELECT node AS doc_id, MIN(peer) AS label FROM reach
        GROUP BY node),
      per_doc AS (
        SELECT d.doc_id, d.lang,
          COALESCE(l.label, d.doc_id) AS ck,
          l.label IS NOT NULL AS is_clustered,
          CAST(len(list_filter(string_split(lower(d.text), ' '),
            t -> length(t) > 0)) AS BIGINT) AS n_tok
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
      assigned AS (
        SELECT lang, n_tok, is_clustered,
          CASE WHEN substring(md5(CAST(ck AS VARCHAR)), 1, 1) < 'c'
                 THEN 'train'
               WHEN substring(md5(CAST(ck AS VARCHAR)), 1, 1) < 'e'
                 THEN 'val'
               ELSE 'test' END AS split,
          (CASE WHEN substring(md5(CAST(ck AS VARCHAR)), 1, 1) < 'c'
                  THEN 'train'
                WHEN substring(md5(CAST(ck AS VARCHAR)), 1, 1) < 'e'
                  THEN 'val'
                ELSE 'test' END)
            <> (CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       < 'c' THEN 'train'
                     WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       < 'e' THEN 'val'
                     ELSE 'test' END) AS moved
        FROM per_doc)
      SELECT split, lang, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        CAST(SUM(CASE WHEN is_clustered THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clustered,
        CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT)
          AS n_moved
      FROM assigned GROUP BY 1, 2 ORDER BY 1, 2"""))

  // --------------------------------------------------------------- Q116
  // INGEST DRIFT MONITOR: per-source mixture shift of an arriving batch
  // against the standing corpus — the monitoring counterpart to q113's
  // mixture FITTING (q113 reweights to a target; this detects when the
  // incoming distribution has moved, the alarm every production ingest
  // pipeline runs before the reweighting). Batch = the q110 family's
  // md5-range carve (the same "newly arrived" third of the corpus the
  // incremental-dedup queries ingest), so the dedup and drift monitors
  // grade the SAME batch. All arithmetic is exact integer ppm
  // (docs·10⁶ DIV side-total — q113's unit scheme), so every column
  // hashes cross-engine; drift_ppm is SIGNED (batch share minus corpus
  // share), and an md5 carve drifts only by sampling noise — small
  // nonzero values, which is precisely what the monitor reports.
  //
  // Scale shape (100 TB): ONE scan-stage carve + ONE |sources|-row
  // count_if aggregate; the side totals come from an UNPARTITIONED
  // window over that AGGREGATED |sources|-row frame (q46's share idiom
  // globalized) — the single-partition window warning is bounded by
  // construction at tens of rows, never the corpus. No join at all.
  private val q116 = QueryDef(
    "q116_ingest_drift",
    (s, dir) => {
      import s.implicits._
      val agg = docs(s, dir).withColumn("is_batch", q110IsBatch)
        .groupBy($"source")
        .agg(count_if(!$"is_batch").as("corpus_docs"),
          count_if($"is_batch").as("batch_docs"))
      val w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      agg
        .withColumn("corpus_tot", sum($"corpus_docs").over(w))
        .withColumn("batch_tot", sum($"batch_docs").over(w))
        .select($"source", $"corpus_docs", $"batch_docs",
          expr("corpus_docs * 1000000 DIV corpus_tot").as("corpus_ppm"),
          expr("batch_docs * 1000000 DIV batch_tot").as("batch_ppm"),
          expr("batch_docs * 1000000 DIV batch_tot" +
            " - corpus_docs * 1000000 DIV corpus_tot").as("drift_ppm"))
        .orderBy($"source")
    },
    // CAST the window SUMs: DuckDB promotes windowed integer SUM to
    // HUGEINT (the q47 type-class lesson).
    Some("""WITH m AS (
        SELECT source,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 3 = 0 AS is_batch
        FROM documents),
      agg AS (
        SELECT source,
          CAST(SUM(CASE WHEN is_batch THEN 0 ELSE 1 END) AS BIGINT)
            AS corpus_docs,
          CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT)
            AS batch_docs
        FROM m GROUP BY 1),
      tot AS (
        SELECT source, corpus_docs, batch_docs,
          CAST(SUM(corpus_docs) OVER () AS BIGINT) AS corpus_tot,
          CAST(SUM(batch_docs) OVER () AS BIGINT) AS batch_tot
        FROM agg)
      SELECT source, corpus_docs, batch_docs,
        corpus_docs * 1000000 // corpus_tot AS corpus_ppm,
        batch_docs * 1000000 // batch_tot AS batch_ppm,
        batch_docs * 1000000 // batch_tot
          - corpus_docs * 1000000 // corpus_tot AS drift_ppm
      FROM tot ORDER BY source"""))

  // -------------------------------------------------------------- Q116b
  // STREAMING INGEST DRIFT — q116's monitor run the way production runs
  // it: per MICRO-BATCH, as each ingest batch arrives, instead of once
  // over a pre-carved static batch. The q110d replay (mod-0 then mod-1
  // as two AvailableNow micro-batches) drains through a foreachBatch
  // that writes each batch's per-source counts to its own idempotent
  // `batch=<id>` sink partition (the q79 change-log contract — a
  // redelivered batch overwrites itself); the monitor report is then a
  // READ-TIME join of those bounded per-batch counts against the
  // standing corpus mixture (the mod-2 carve), with q113/q116's exact
  // integer-ppm arithmetic so every column hashes cross-engine. Each
  // row answers the production question: how far does THIS arriving
  // batch's source mixture sit from the corpus it joins?
  //
  // Scale shape (100 TB corpus, bounded micro-batches): the streaming
  // side is ONE scan-stage count per micro-batch (|sources| rows to
  // the sink — bytes, not data); the corpus side is ONE |sources|-row
  // aggregate computed once at read time; the corpus-total fanout is a
  // one-row broadcast cross (the q74/q93 scalar-fanout shape) and the
  // per-batch totals come from a window over the |batches|×|sources|
  // bounded frame. No data-sized shuffle anywhere; the corpus is
  // scanned once, the stream never holds state (the monitor is
  // stateless by design — each batch reports independently).
  /** Read-time drift columns over per-(batch, source) `batch_docs`
    * counts against the standing corpus mixture (q116's exact
    * integer-ppm arithmetic) — ONE definition for q116b's monitor and
    * the q122 capstone read, so the two drift consumers cannot drift.
    * Appends corpus_docs/batch_ppm/corpus_ppm/drift_ppm; every other
    * input column passes through. The |sources|-row corpus aggregate
    * feeds TWO consumers (the source join and the ctot scalar) —
    * localCheckpoint pins ONE corpus scan (the q113 fitted-plan
    * pattern); the corpus total is computed over ALL corpus rows, so
    * a source absent from one batch cannot shrink the denominator. */
  private def withDriftColumns(s: SparkSession, dir: String,
      counts: DataFrame): DataFrame = {
    val corpus = docs(s, dir).filter(q110Mod === 2)
      .groupBy(col("source")).agg(count(lit(1)).as("corpus_docs"))
      .localCheckpoint()
    val ctot = corpus.agg(sum(col("corpus_docs")).as("corpus_tot"))
    val wb = Window.partitionBy(col("batch")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    counts.join(corpus, Seq("source"), "left")
      .na.fill(0, Seq("corpus_docs"))
      .crossJoin(broadcast(ctot))
      .withColumn("batch_tot", sum(col("batch_docs")).over(wb))
      .withColumn("batch_ppm",
        expr("batch_docs * 1000000 DIV batch_tot"))
      .withColumn("corpus_ppm",
        expr("corpus_docs * 1000000 DIV corpus_tot"))
      .withColumn("drift_ppm",
        expr("batch_docs * 1000000 DIV batch_tot" +
          " - corpus_docs * 1000000 DIV corpus_tot"))
      .drop("batch_tot", "corpus_tot")
  }

  private val q116b = QueryDef(
    "q116b_stream_drift",
    (s, dir) => {
      import s.implicits._
      val replay = StreamingJobs.docsReplayDir(s, dir)
      val Seq(sink, ckpt) = Scratch.dirs("graft-q116b", "sink", "ckpt")
      StreamingJobs.drain("q116b_stream_drift", ckpt,
          StreamingJobs.readDocsStream(s, replay)) { (df, id) =>
        val counts = df.groupBy(col("source"))
          .agg(count(lit(1)).as("batch_docs"))
        StreamingJobs.recordInnerPlan(s"q116b_stream_drift batch=$id", counts)
        counts.coalesce(1)
          .write.mode("overwrite").parquet(s"$sink/batch=$id")
      }
      // read time: the standing corpus mixture + exact integer ppm
      // (the shared withDriftColumns arithmetic)
      withDriftColumns(s, dir, sinkLog(s, sink, "source", "batch_docs"))
        .select($"batch", $"source", $"batch_docs", $"corpus_docs",
          $"batch_ppm", $"corpus_ppm", $"drift_ppm")
        .orderBy($"batch", $"source")
    },
    // CAST the window/plain SUMs (DuckDB HUGEINT promotion — the q47
    // lesson); the corpus total is a scalar subquery over ALL corpus
    // rows, not a per-batch window, so a source absent from one batch
    // cannot shrink the denominator.
    Some("""WITH m AS (
        SELECT source,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 3 AS m
        FROM documents),
      c AS (
        SELECT source, COUNT(*) AS corpus_docs
        FROM m WHERE m = 2 GROUP BY 1),
      b AS (
        SELECT m + 1 AS batch, source, COUNT(*) AS batch_docs
        FROM m WHERE m < 2 GROUP BY 1, 2),
      j AS (
        SELECT b.batch, b.source, b.batch_docs,
          COALESCE(c.corpus_docs, 0) AS corpus_docs
        FROM b LEFT JOIN c ON c.source = b.source),
      tot AS (
        SELECT batch, source, batch_docs, corpus_docs,
          CAST(SUM(batch_docs) OVER (PARTITION BY batch) AS BIGINT)
            AS batch_tot,
          (SELECT CAST(SUM(corpus_docs) AS BIGINT) FROM c) AS corpus_tot
        FROM j)
      SELECT CAST(batch AS BIGINT) AS batch, source, batch_docs,
        corpus_docs,
        batch_docs * 1000000 // batch_tot AS batch_ppm,
        corpus_docs * 1000000 // corpus_tot AS corpus_ppm,
        batch_docs * 1000000 // batch_tot
          - corpus_docs * 1000000 // corpus_tot AS drift_ppm
      FROM tot ORDER BY batch, source"""))

  // --------------------------------------------------------------- Q117
  // N-GRAM NOVELTY: per-source fraction of the arriving batch's
  // distinct 5-gram shingles that the standing corpus has never seen —
  // the content-freshness metric curation pipelines track per ingest
  // (a batch of near-zero novelty is re-crawl/duplicate material the
  // dedup stage will mostly drop; q116 watches the mixture, this
  // watches the CONTENT). Same q110 md5-range carve, same q23
  // tokenization (`shingleTable`), so the novelty, drift and dedup
  // monitors all describe the same ingest batch.
  //
  // Scale shape (100 TB): the batch's distinct gram set is BOUNDED BY
  // THE BATCH (the q110b ingest assumption), so it broadcasts; the
  // corpus side is a RAW per-row explode — deliberately NOT
  // `shingleTable`, whose per-(doc, shingle) distinct would shuffle
  // every corpus shingle for a dedup the query doesn't need — semi-
  // joined map-only against that broadcast, so the only corpus-derived
  // rows that ever reach a shuffle are the hits (a set bounded by the
  // batch grams). The corpus never shuffles and is never scanned
  // twice. (In a standing deployment the corpus gram set is a
  // write-once ingest index, the q110b contract — q117b below
  // materializes exactly that artifact and probes it per micro-batch.)
  private val q117 = QueryDef(
    "q117_ngram_novelty",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir).withColumn("is_batch", q110IsBatch)
      // bg feeds TWO plan branches (the broadcast hit-probe set and
      // the final left join) — localCheckpoint materializes the batch
      // shingle distinct ONCE instead of re-running the batch scan +
      // shuffle per branch (the q23/q110c pattern; batch-sized, so
      // the blocks are small by the ingest assumption)
      val bg = sourceGrams(d.filter($"is_batch")).localCheckpoint()
      val corpusGrams = d.filter(!$"is_batch")
        .select(split(lower($"text"), " ").as("toks"))
        .filter(size($"toks") >= 5)
        .select(gramExplode.as("shingle"))
      val hits = corpusGrams
        .join(broadcast(bg.select($"shingle").distinct()),
          Seq("shingle"), "left_semi")
        .distinct()
      bg.join(broadcast(hits.withColumn("hit", lit(1))),
          Seq("shingle"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("batch_grams"),
          count_if($"hit".isNull).as("novel_grams"))
        .withColumn("novelty_ppm",
          expr("novel_grams * 1000000 DIV batch_grams"))
        .orderBy($"source")
    },
    Some("""WITH t AS (
        SELECT doc_id, source,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 3 = 0 AS is_batch,
          string_split(lower(text), ' ') AS ts
        FROM documents),
      g AS (
        SELECT DISTINCT doc_id, source, is_batch,
          array_to_string(ts[s.i:s.i+4], ' ') AS gram
        FROM t CROSS JOIN unnest(
          CASE WHEN len(ts) >= 5 THEN generate_series(1, len(ts)-4)
               ELSE [] END) AS s(i)),
      bg AS (SELECT DISTINCT source, gram FROM g WHERE is_batch),
      cgrams AS (SELECT DISTINCT gram FROM g WHERE NOT is_batch)
      SELECT bg.source, COUNT(*) AS batch_grams,
        CAST(SUM(CASE WHEN c.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS novel_grams,
        CAST(SUM(CASE WHEN c.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          * 1000000 // COUNT(*) AS novelty_ppm
      FROM bg LEFT JOIN cgrams c ON c.gram = bg.gram
      GROUP BY 1 ORDER BY 1"""))

  // -------------------------------------------------------------- Q117b
  // STREAMING N-GRAM NOVELTY — q117's monitor per MICRO-BATCH, probing
  // a WRITE-ONCE gram index instead of re-scanning corpus text: the
  // standing corpus's distinct 5-gram set (the mod-2 carve, matching
  // the q110d/q116b streaming-family corpus) is materialized once at
  // ingest (`Tables.gramIndex` — the artifact q117's scale note
  // promises), and each arriving micro-batch's bounded gram set
  // broadcasts against ONE pruned index scan inside a stateless
  // foreachBatch; per-batch per-source counts land in idempotent
  // `batch=<id>` sink partitions (the q79 contract) and the report is
  // a pure sink read. Novelty here is measured against the STANDING
  // corpus (stateless monitor, like q116b) — the cumulative
  // admitted-gram form is q117c (relational append cycle) and q117d
  // (that cycle streamed). Oracle recomputes both batches against the mod-2 gram
  // set relationally; StreamNoveltySpec pins the stream ≡ relational
  // parity per batch, the index's exact membership, and the
  // corpus-monotonicity cross-law vs q117 (q117's corpus is a strict
  // superset, so its novelty can only be lower on the same batch).
  //
  // Scale shape (100 TB corpus, bounded micro-batches): per batch,
  // O(batch) shingling + one map-only semi-join over the gram-index
  // scan (hits bounded by the batch grams — only they reach a
  // shuffle); the corpus text is never touched after the index build,
  // and the index is a single string column, linear in corpus DISTINCT
  // grams. The monitor holds no streaming state.
  /** Distinct 5-gram set of the standing corpus (mod-2 carve), single
    * `gram` column — the relation `Tables.gramIndex` materializes and
    * q117b probes. Raw explode + global distinct (q117's corpus-side
    * rationale: no per-doc distinct shuffle for a set the query
    * doesn't need per-doc). */
  /** Distinct (source, shingle) grams of a batch frame — the novelty
    * probe's batch side. Built WITHOUT the per-doc shingleTable
    * distinct (round 20, guide §2.4): the probe needs per-SOURCE
    * distinctness only, so one distinct here does what the
    * (per-(doc,shingle) distinct → per-(source,shingle) distinct)
    * pair did in two consecutive shuffles of the same gram rows.
    * Set-identical by construction: dropping doc_id before the dedup
    * cannot change the distinct (source, shingle) set. */
  private def sourceGrams(d: DataFrame): DataFrame =
    d.select(col("source"), split(lower(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("source"), gramExplode.as("shingle"))
      .distinct()

  private[graft] def corpusGramSet(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(q110Mod === 2)
      .select(split(lower(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(gramExplode.as("gram"))
      .distinct()

  /** One streaming-novelty micro-batch report: the bounded batch gram
    * set vs ONE pruned gram-index scan — the hits come from a
    * broadcast semi-join (the index side streams map-only, never
    * shuffles) and the novel count from a broadcast join-back.
    * private[graft] so StreamNoveltySpec can pin the PLAN shape
    * (broadcast, no index-side exchange) that the value-level parity
    * law cannot see. `bg` must expose (source, shingle). */
  private[graft] def noveltyBatchReport(bg: DataFrame,
      grams: DataFrame): DataFrame =
    noveltyReportFromHits(bg, noveltyHits(bg, grams))

  /** The probe half: batch grams present in the index — the index
    * side streams map-only through the broadcast semi (hits bounded by
    * the batch grams). Split out so q117c can reuse ONE probe for both
    * its report and its admitted-gram delta write. */
  private def noveltyHits(bg: DataFrame, grams: DataFrame): DataFrame =
    // index rows are distinct by construction — no re-distinct
    grams.select(col("gram").as("shingle"))
      .join(broadcast(bg.select(col("shingle")).distinct()),
        Seq("shingle"), "left_semi")

  /** The report half: per-source gram/novel counts from a bounded hit
    * set (broadcast join-back). */
  private def noveltyReportFromHits(bg: DataFrame,
      hits: DataFrame): DataFrame =
    bg.join(broadcast(hits.withColumn("hit", lit(1))),
        Seq("shingle"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("batch_grams"),
        count_if(col("hit").isNull).as("novel_grams"))

  /** The admitted-gram delta payload: the batch's distinct grams NOT
    * already members of the probed index (its hits) — ONE definition
    * for q117c's append, the q117d/q117e per-batch segments and the
    * q122 capstone's gram step, so the append payload cannot drift
    * between the four consumers (the ingestAndAppend rationale at
    * gram granularity; review finding). `hits` must be pinned and is
    * bounded by the batch grams, so it broadcasts. */
  private def novelGrams(bg: DataFrame, hits: DataFrame): DataFrame =
    bg.select(col("shingle").as("gram")).distinct()
      .join(broadcast(hits.select(col("shingle").as("gram"))),
        Seq("gram"), "left_anti")

  private val q117b = QueryDef(
    "q117b_stream_novelty",
    (s, dir) => {
      val replay = StreamingJobs.docsReplayDir(s, dir)
      val grams = Tables.gramIndex(s, dir)
      val Seq(sink, ckpt) = Scratch.dirs("graft-q117b", "sink", "ckpt")
      StreamingJobs.drain("q117b_stream_novelty", ckpt,
          StreamingJobs.readDocsStream(s, replay)) { (df, id) =>
        // bg feeds the probe set and the final left join — pin one
        // derivation (the q117 pattern; batch-sized blocks)
        val bg = sourceGrams(df).localCheckpoint()
        val rep = noveltyBatchReport(bg, grams)
        StreamingJobs.recordInnerPlan(s"q117b_stream_novelty batch=$id", rep)
        rep.coalesce(1).write.mode("overwrite").parquet(s"$sink/batch=$id")
      }
      // the q117c report shape, which the stateless sink shares
      streamGramTable(s, sink)
    },
    Some("""WITH t AS (
        SELECT doc_id, source,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 3 AS m,
          string_split(lower(text), ' ') AS ts
        FROM documents),
      g AS (
        SELECT DISTINCT doc_id, source, m,
          array_to_string(ts[s.i:s.i+4], ' ') AS gram
        FROM t CROSS JOIN unnest(
          CASE WHEN len(ts) >= 5 THEN generate_series(1, len(ts)-4)
               ELSE [] END) AS s(i)),
      cg AS (SELECT DISTINCT gram FROM g WHERE m = 2),
      bg AS (
        SELECT DISTINCT m + 1 AS batch, source, gram FROM g WHERE m < 2)
      SELECT CAST(batch AS BIGINT) AS batch, bg.source,
        COUNT(*) AS batch_grams,
        CAST(SUM(CASE WHEN c.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS novel_grams,
        CAST(SUM(CASE WHEN c.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          * 1000000 // COUNT(*) AS novelty_ppm
      FROM bg LEFT JOIN cg c ON c.gram = bg.gram
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  // -------------------------------------------------------------- Q117c
  // CUMULATIVE GRAM-INDEX APPEND — the admitted-gram mirror of the
  // q110c dedup append cycle at gram granularity (round-15 verdict
  // item 3, the builder's own open thread): where q117b's monitor is
  // STATELESS (every batch measured against the standing corpus
  // alone), a curation pipeline tracking cumulative content freshness
  // appends each batch's NOVEL grams to the index as it admits them,
  // so batch 2's novelty is measured against corpus ∪ batch-1 grams —
  // re-crawled batch-1 material stops counting as novel the moment
  // batch 1 lands. Batch 1: one probe of the base gram index serves
  // BOTH the report and the delta write (the novel grams — appending
  // only them is set-equivalent to appending all batch grams, since
  // hits are already index members). Batch 2: the same probe against
  // index ∪ delta. The DuckDB oracle is pure set semantics (batch-1
  // novelty vs the mod-2 gram set; batch-2 vs mod-2 ∪ mod-0) — it
  // never models the segment, so the hash gate grades the append
  // mechanics against the relation they materialize (the q110c oracle
  // philosophy). Fixtures bind (DuckDB-verified before wiring):
  // batch-2 cumulative novel 6741 vs stateless 6998 at sf0.001,
  // 6629 vs 6821 at sf0.01 — strictly lower, so the cumulative form is
  // distinguishable and GramAppendSpec's monotonicity law has a strict
  // witness.
  //
  // Scale shape (100 TB corpus, bounded ingest batches): both probes
  // are q117b's — the bounded batch gram set broadcasts against ONE
  // pruned index scan that streams map-only (hits bounded by the
  // batch); the delta write is linear in batch-NOVEL grams (tiny:
  // novel ⊆ batch); batch 2 reads index ∪ one delta segment — the
  // union of pruned scans, q110c's read shape. The corpus text is
  // never touched (the index is the artifact); nothing here is
  // all-pairs or driver-bound.
  private val q117c = QueryDef(
    "q117c_gram_index_append",
    (s, dir) => {
      import s.implicits._
      val idx = Tables.gramIndex(s, dir)
      val d = docs(s, dir)
      val deltaLoc = Tables.gramBaseLoc(s, dir, "_delta").toString
      // ---- batch 1 vs the base index: ONE probe feeds the report and
      // the admitted-gram delta (localCheckpoint pins it — bounded by
      // the batch grams)
      val bg1 = sourceGrams(d.filter(q110Mod === 0)).localCheckpoint()
      val hits1 = noveltyHits(bg1, idx).localCheckpoint()
      val rep1 = noveltyReportFromHits(bg1, hits1)
        .withColumn("batch", lit(1L))
      // admitted novel grams → the delta segment (overwrite =
      // idempotent per run, the q110c delta contract)
      novelGrams(bg1, hits1).write.mode("overwrite").parquet(deltaLoc)
      // ---- batch 2 vs the UPDATED index (base ∪ admitted delta)
      val bg2 = sourceGrams(d.filter(q110Mod === 1)).localCheckpoint()
      val rep2 = noveltyBatchReport(bg2,
          idx.union(s.read.parquet(deltaLoc)))
        .withColumn("batch", lit(2L))
      rep1.union(rep2)
        .select($"batch", $"source", $"batch_grams", $"novel_grams",
          expr("novel_grams * 1000000 DIV batch_grams").as("novelty_ppm"))
        .orderBy($"batch", $"source")
    },
    Some(q117cOracleSql))

  /** The cumulative-novelty relation in pure set semantics — batch 1
    * graded against the mod-2 gram set, batch 2 against mod-2 ∪ mod-0
    * — never modeling the delta segment. ONE text shared by q117c
    * (relational append cycle) and q117d (the same loop as a
    * checkpointed stream), the q110c/q110d oracle-sharing pattern: the
    * hash gate grades the streaming plumbing against the relation it
    * must materialize. */
  private lazy val q117cOracleSql: String =
    """WITH t AS (
        SELECT doc_id, source,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 3 AS m,
          string_split(lower(text), ' ') AS ts
        FROM documents),
      g AS (
        SELECT DISTINCT doc_id, source, m,
          array_to_string(ts[s.i:s.i+4], ' ') AS gram
        FROM t CROSS JOIN unnest(
          CASE WHEN len(ts) >= 5 THEN generate_series(1, len(ts)-4)
               ELSE [] END) AS s(i)),
      cg AS (SELECT DISTINCT gram FROM g WHERE m = 2),
      b1g AS (SELECT DISTINCT gram FROM g WHERE m = 0),
      bg AS (
        SELECT DISTINCT m + 1 AS batch, source, gram FROM g WHERE m < 2),
      f AS (
        SELECT batch, source,
          CASE WHEN batch = 1 THEN gram IN (SELECT gram FROM cg)
               ELSE gram IN (SELECT gram FROM cg)
                 OR gram IN (SELECT gram FROM b1g) END AS hit
        FROM bg)
      SELECT CAST(batch AS BIGINT) AS batch, source,
        COUNT(*) AS batch_grams,
        CAST(SUM(CASE WHEN NOT hit THEN 1 ELSE 0 END) AS BIGINT)
          AS novel_grams,
        CAST(SUM(CASE WHEN NOT hit THEN 1 ELSE 0 END) AS BIGINT)
          * 1000000 // COUNT(*) AS novelty_ppm
      FROM f GROUP BY 1, 2 ORDER BY 1, 2"""

  // -------------------------------------------------------------- Q117d
  // STREAMING CUMULATIVE GRAM APPEND — q117c's append cycle run as a
  // checkpointed stream, completing the monitor family the way q110d
  // completed the dedup family (q117c : q117d :: q110c : q110d): the
  // two-file replay drains through a foreachBatch that measures each
  // arriving batch's novelty against the gram index ∪ the admitted
  // grams of STRICTLY-EARLIER batches (`batch < id` — a redelivered
  // batch ignores its own first-delivery segment, so at-least-once
  // delivery cannot make a batch's grams look familiar to itself),
  // writes its per-source counts to the sink's `batch=<id>` partition
  // and appends its novel grams as its own idempotent `batch=<id>`
  // delta segment. Every write is a pure function of (batchId, data) —
  // the q79/q110d change-log contract. Oracle = q117c's UNCHANGED (the
  // stream materializes the same cumulative relation), so the hash
  // gate grades the streaming plumbing — ordering, checkpointing,
  // idempotent segment/sink writes — against pure set semantics.
  // GramAppendSpec pins stream ≡ q117c parity row for row, redelivery
  // idempotence over sink AND segments, checkpoint resume between
  // batches, and the recorded per-batch probe plan (index side
  // broadcast-semi, never shuffled).
  //
  // Scale shape (100 TB corpus, bounded micro-batches): per batch,
  // O(batch) shingling + one broadcast-semi probe over the pruned
  // index ∪ prior-delta scans (hits bounded by the batch grams), a
  // delta write linear in batch-NOVEL grams, and a |sources|-row sink
  // write. The corpus text is never touched after the index build; the
  // index grows by exactly the admitted novel grams per batch; the
  // monitor holds no streaming state (the cumulative memory lives in
  // the write-once segments, not the state store). Fresh
  // sink/ckpt/delta dirs per run (Scratch-registered).
  /** One streaming cumulative-novelty micro-batch — pure function of
    * (batchId, disk state at batch start): probe the batch's grams
    * against the gram LSM state below `id` (Lsm.lsmBatch: index ∪
    * strictly-earlier deltas with folding off, the latest committed
    * fold ∪ the tail past it under a cadence), write the per-source
    * counts to the sink's `batch=<id>`, append the novel grams as the
    * batch's own delta segment, fold at the cadence. ONE kernel for
    * q117d (k = None) and q117e; the probe plan is recorded under
    * "`planKey` batch=<id>". `crashAfterSink` is the torn-write
    * injection point (round-16 verdict item 4): the gram family writes
    * sink-BEFORE-segment — the mirror of q110d's segment-before-sink
    * order — so the worst at-least-once tear here is a committed sink
    * partition with a MISSING delta segment, and the rerun must
    * restore both to the one-shot bytes. */
  private def gramBatch(s: SparkSession, micro: DataFrame, id: Long,
      rel: LsmRelation, sinkDir: String, planKey: String, k: Option[Int],
      crashAfterSink: Long => Unit): Unit = {
    val bg = sourceGrams(micro).localCheckpoint()
    lsmBatch(s, Seq(rel), id, k) { case Seq(gramState) =>
      val hitsPlan = noveltyHits(bg, gramState)
      StreamingJobs.recordInnerPlan(s"$planKey batch=$id", hitsPlan)
      val hits = hitsPlan.localCheckpoint()
      noveltyReportFromHits(bg, hits).coalesce(1)
        .write.mode("overwrite").parquet(s"$sinkDir/batch=$id")
      crashAfterSink(id)
      novelGrams(bg, hits)
        .write.mode("overwrite").parquet(s"${rel.deltaDir}/batch=$id")
    }
  }

  /** q117d's micro-batch: gramBatch with folding off. private[graft]
    * for GramAppendSpec's redelivery law. */
  private[graft] def streamGramBatch(s: SparkSession, micro: DataFrame,
      id: Long, grams: DataFrame, deltaDir: String,
      sinkDir: String, crashAfterSink: Long => Unit = _ => ()): Unit =
    gramBatch(s, micro, id, LsmRelation(grams, deltaDir, Seq("gram")),
      sinkDir, "q117d_stream_gram_append", None, crashAfterSink)

  /** Run the streaming cumulative-novelty replay: drain the two-file
    * replay through streamGramBatch (no schema seed — the empty tail is
    * elided by listing). private[graft] for GramAppendSpec's resume
    * law. */
  private[graft] def runStreamGramAppend(s: SparkSession, dir: String,
      replayDir: String, deltaDir: String, sinkDir: String,
      ckpt: String, crashAfterSink: Long => Unit = _ => ()): Unit = {
    val grams = Tables.gramIndex(s, dir)
    StreamingJobs.drain("q117d_stream_gram_append", ckpt,
        StreamingJobs.readDocsStream(s, replayDir)) { (df, id) =>
      streamGramBatch(s, df, id, grams, deltaDir, sinkDir, crashAfterSink)
    }
  }

  /** Resolve a gram-novelty sink change-log (q117b/q117d/q117e) to the
    * q117c report shape. */
  private[graft] def streamGramTable(s: SparkSession,
      sinkDir: String): DataFrame =
    sinkLog(s, sinkDir, "source", "batch_grams", "novel_grams")
      .withColumn("novelty_ppm",
        expr("novel_grams * 1000000 DIV batch_grams"))
      .orderBy(col("batch"), col("source"))

  private val q117d = QueryDef(
    "q117d_stream_gram_append",
    (s, dir) => {
      val replay = StreamingJobs.docsReplayDir(s, dir)
      val Seq(delta, sink, ckpt) =
        Scratch.dirs("graft-q117d", "delta", "sink", "ckpt")
      runStreamGramAppend(s, dir, replay, delta, sink, ckpt)
      streamGramTable(s, sink)
    },
    Some(q117cOracleSql))

  // -------------------------------------------------------------- Q117e
  // STREAMING GRAM-INDEX COMPACTION — q110f's fold at gram granularity
  // (round-16 verdict item 5), closing the last LSM symmetry gap:
  // q117d's cumulative append leaves the gram index as base + one
  // delta segment per batch, so a long-lived stream's probe unions an
  // ever-growing segment tail; here the q110f compact-every-k cadence
  // folds base ∪ all gram deltas so far into an immutable `fold=<id>`
  // segment after every k-th batch, and each batch probes the latest
  // fold at or before it ∪ the non-folded delta tail. The registry
  // entry runs k = 1 over the two-file replay: batch 0 probes the base
  // gram index, appends its novel grams, folds; batch 1 probes fold=0
  // ALONE — one pruned scan, no base, no delta (GramAppendSpec pins it
  // on the RECORDED probe plan). Same purity contract as q110f: folds
  // read only the immutable base + write-once deltas and land at
  // per-fold locations, so redelivered batches re-read the fold their
  // first delivery read and rewrite identical bytes. The oracle is
  // q117c's UNCHANGED — fold read-equivalence is the point, so the
  // hash gate grades the gram fold against pure set semantics.
  //
  // Scale shape (100 TB corpus, bounded micro-batches): per-batch work
  // is q117d's (O(batch) shingling, one broadcast-semi probe, delta
  // write linear in batch-novel grams); the fold is linear in the gram
  // index (a single string column, the smallest relation in the
  // family), one union, no shuffle, amortized at the chosen k. Between
  // folds a probe unions the fold scan + at most k-1 delta segments
  // instead of base + ALL segments — the same LSM read/write trade as
  // q110f, at the granularity where the segment tail grows fastest
  // (every batch appends grams; only admitted docs append bands).
  /** One gram micro-batch under the compact-every-k cadence: gramBatch
    * with folding on — sink, then segment, then fold.
    * private[graft] for GramAppendSpec. */
  private[graft] def streamGramCompactBatch(s: SparkSession,
      micro: DataFrame, id: Long, grams: DataFrame, deltaDir: String,
      foldDir: String, sinkDir: String, k: Int = 1,
      crashAfterSink: Long => Unit = _ => ()): Unit =
    gramBatch(s, micro, id, LsmRelation(grams, deltaDir, Seq("gram"),
      foldDir), sinkDir, "q117e_stream_gram_compaction", Some(k),
      crashAfterSink)

  /** Run the streaming gram-compaction replay (the runStreamGramAppend
    * contract plus the fold dir; no schema seed). private[graft] for
    * GramAppendSpec. */
  private[graft] def runStreamGramCompact(s: SparkSession, dir: String,
      replayDir: String, deltaDir: String, foldDir: String,
      sinkDir: String, ckpt: String, k: Int = 1,
      crashAfterSink: Long => Unit = _ => ()): Unit = {
    val grams = Tables.gramIndex(s, dir)
    StreamingJobs.drain("q117e_stream_gram_compaction", ckpt,
        StreamingJobs.readDocsStream(s, replayDir)) { (df, id) =>
      streamGramCompactBatch(s, df, id, grams, deltaDir, foldDir,
        sinkDir, k, crashAfterSink)
    }
  }

  private val q117e = QueryDef(
    "q117e_stream_gram_compaction",
    (s, dir) => {
      val replay = StreamingJobs.docsReplayDir(s, dir)
      val Seq(delta, fold, sink, ckpt) =
        Scratch.dirs("graft-q117e", "delta", "fold", "sink", "ckpt")
      runStreamGramCompact(s, dir, replay, delta, fold, sink, ckpt)
      streamGramTable(s, sink)
    },
    Some(q117cOracleSql))

  // --------------------------------------------------------------- Q122
  // STREAMING INGEST CAPSTONE — the job a production curation pipeline
  // actually deploys (round-16 verdict item 1): ONE foreachBatch that,
  // per arriving micro-batch and from ONE replay drain, (a) dedups the
  // batch against the standing MinHash index and appends the kept
  // docs' bands/sets as the batch's delta segment (q110d's step),
  // (b) measures the batch's cumulative n-gram novelty against the
  // gram index ∪ earlier batches' admitted grams and appends this
  // batch's novel grams (q117d's step), and (c) commits the per-source
  // funnel and novelty counts to idempotent `batch=<id>` sink
  // partitions; the drift report (q116b's) is assembled at read time
  // from the funnel counts — the batch-mixture numbers are already IN
  // the funnel, so the monitor costs nothing extra. Until this query
  // the four streaming doc jobs each drained their own copy of the
  // same replay; here the composition is the point: one stream, one
  // shingling pass per batch (the (doc_id, source, shingle)-distinct
  // table serves the dedup kernel as its (doc_id, shingle) projection
  // and the novelty monitor as its (source, shingle) projection —
  // source is functionally dependent on doc_id, so both projections
  // stay distinct), one checkpoint, every artifact the separate jobs
  // maintain. The oracle is the q110c ∪ q116b ∪ q117c semantics as one
  // wide relation keyed (batch, source) — funnel, drift and novelty
  // columns joined over shared CTEs, never modeling the segments — so
  // the hash gate grades the composed streaming plumbing against pure
  // batch semantics (the q110f oracle-sharing philosophy, composed).
  // StreamCapstoneSpec pins per-family read-equivalence to
  // q110d/q116b/q117d, redelivery idempotence over BOTH index families
  // + both sinks, checkpoint resume, and the recorded per-batch plans
  // (dedup joins pruned-index-only, gram probe broadcast-semi).
  //
  // Scale shape (100 TB corpus, bounded micro-batches): per batch,
  // ONE O(batch) shingling feeding both monitors, q110d's pruned index
  // equi-joins + broadcast kept-id semis, q117d's broadcast-semi gram
  // probe (hits bounded by the batch grams), delta writes linear in
  // the admitted docs/novel grams, |sources|-row sink writes. The
  // corpus text is never touched after the index builds; versus
  // running q110d + q116b + q117d separately the replay is read once
  // instead of three times and the batch is shingled once instead of
  // twice — composition is pure savings at any scale. The drift join
  // is read-time arithmetic over |batches|×|sources| bounded rows.
  // Round-18 (round-17 verdict item 2): the index reads ride the
  // shared compact-every-k fold cadence — ONE fold point across the
  // two minhash relations AND the gram relation — so a long-lived
  // deployment of this one job reads O(fold + k) segments per batch
  // instead of base + every delta ever appended (the last unbounded
  // tail in the family); superseded folds/deltas are lsmGc's food,
  // and since round 19 the GC actually EATS them in this entry's own
  // path: runStreamCapstone calls lsmGc(capstoneRels,
  // checkpointedBatchId(ckpt)) after the drain — the post-checkpoint
  // maintenance point a deployment would use.
  // The registry entry runs k = 1 over the two-file replay: batch 1
  // reads fold=0 ALONE in both the dedup join and the gram probe
  // (StreamCapstoneSpec pins the recorded inner plans), and the
  // oracle is UNCHANGED — fold read-equivalence, the q110f pattern.
  /** The capstone's three LSM relations, in ONE place so the per-batch
    * function and the post-checkpoint GC can never disagree on what
    * the index family is. */
  private def capstoneRels(baseBands: DataFrame, baseSets: DataFrame,
      deltaBandsDir: String, deltaSetsDir: String,
      foldBandsDir: String, foldSetsDir: String,
      grams: DataFrame, gramDeltaDir: String, gramFoldDir: String)
      : Seq[LsmRelation] =
    minhashRels(baseBands, baseSets, deltaBandsDir, deltaSetsDir,
      foldBandsDir, foldSetsDir) :+
      LsmRelation(grams, gramDeltaDir, Seq("gram"), gramFoldDir)

  /** One capstone micro-batch — a pure function of (batchId, disk
    * state at batch start): dedup vs the minhash LSM state (latest
    * committed fold ∪ the strictly-earlier delta tail past it; -1 =
    * base) + index append, gram novelty vs the gram LSM state + gram
    * append, then the compact-every-k fold across ALL THREE relations
    * at once, then funnel + novelty sink commits. Round-17 verdict
    * item 2: the capstone previously unioned `batch < id` delta tails
    * directly, so the ONE job a production pipeline actually deploys
    * paid base + every delta ever appended — unbounded over a stream's
    * lifetime while the cadence machinery sat standalone in q110f/
    * q117e. Now the shared LsmRelation/foldPoint/lsmStateAsOf/
    * lsmFoldAt machinery bounds every read at O(fold + k) segments,
    * and ONE fold point governs both index families (committed =
    * `_SUCCESS` in all three fold dirs), so the dedup and novelty
    * monitors can never disagree about which fold a batch reads.
    * private[graft] for StreamCapstoneSpec's redelivery law. */
  private[graft] def streamCapstoneBatch(s: SparkSession, micro: DataFrame,
      id: Long, baseBands: DataFrame, baseSets: DataFrame,
      deltaBandsDir: String, deltaSetsDir: String,
      foldBandsDir: String, foldSetsDir: String, grams: DataFrame,
      gramDeltaDir: String, gramFoldDir: String,
      funnelSinkDir: String, novSinkDir: String, k: Int = 1,
      crashBeforeSink: Long => Unit = _ => (),
      crashMidFold: Long => Unit = _ => ()): Unit = {
    val b = micro.localCheckpoint()
    // ONE shingling pass serves both monitors (the capstone's reason
    // to exist): per-doc projection for the dedup kernel, per-source
    // projection for the novelty probe
    val shAll = shingleTable(b, Seq("source")).localCheckpoint()
    // ONE LSM cadence across all three relations: the two minhash
    // relations and the gram relation fold together at the same
    // per-batch fold point (the q110f/q117e machinery, composed)
    val rels = capstoneRels(baseBands, baseSets, deltaBandsDir,
      deltaSetsDir, foldBandsDir, foldSetsDir, grams, gramDeltaDir,
      gramFoldDir)
    // ---- (a) ∥ (b): the two monitor families are INDEPENDENT — (a)
    // reads the batch + the minhash LSM state and writes the two
    // minhash deltas, (b) reads the shared shingle pass + the gram
    // LSM state and writes the gram delta; no artifact of either is
    // an input of the other, and both derive from the already-
    // checkpointed b/shAll. One concurrent wave (the parWrite
    // rationale at section granularity — the capstone's per-batch
    // cost is job overhead, and these were its two largest
    // sequential stretches). The fold below needs BOTH families'
    // deltas on disk, which the wave's join guarantees; a crash
    // inside either section cancels the batch after both attempted,
    // and redelivery overwrites every segment idempotently — the same
    // healing as the old sequential order's partial states. Plan
    // recording is concurrent-safe (ConcurrentHashMap, distinct keys).
    var near: DataFrame = null
    var bg: DataFrame = null
    var hits: DataFrame = null
    // the fold at the cadence runs after the wave, all three relations
    // in one step (deltas at or below f are dead — lsmGc's food)
    lsmBatch(s, rels, id, Some(k), () => crashMidFold(id)) {
      case Seq(ib, is, gramRef) => parWrite(Seq(
        // (a) dedup + minhash index append (q110d's step, shared sh)
        () => near = ingestAndAppend(b, ib, is,
          s"$deltaBandsDir/batch=$id", s"$deltaSetsDir/batch=$id",
          StreamingJobs.recordInnerPlan(
            s"q122_stream_ingest_capstone dedup batch=$id", _),
          prebuiltSh = Some(shAll.select(col("doc_id"), col("shingle")))),
        // (b) cumulative gram novelty + gram append (q117d's step)
        () => {
          val bgL = shAll.select(col("source"), col("shingle")).distinct()
            .localCheckpoint()
          val hitsPlan = noveltyHits(bgL, gramRef)
          StreamingJobs.recordInnerPlan(
            s"q122_stream_ingest_capstone novelty batch=$id", hitsPlan)
          val hitsL = hitsPlan.localCheckpoint()
          novelGrams(bgL, hitsL)
            .write.mode("overwrite").parquet(s"$gramDeltaDir/batch=$id")
          bg = bgL; hits = hitsL
        }))
    }
    // ---- (c) sink commits (torn-write injection point: all segments
    // landed, neither sink has — the worst at-least-once case)
    crashBeforeSink(id)
    // both sinks derive from checkpointed inputs and commit to
    // disjoint locations — one concurrent wave (the torn-write law
    // injects BEFORE either; a crash between them was always healed
    // by redelivery's overwrite)
    parWrite(Seq(
      () => noveltyReportFromHits(bg, hits).coalesce(1)
        .write.mode("overwrite").parquet(s"$novSinkDir/batch=$id"),
      () => dedupFunnel(b, near).coalesce(1)
        .write.mode("overwrite").parquet(s"$funnelSinkDir/batch=$id")))
  }

  /** Run the capstone replay: drain the two-file replay through
    * streamCapstoneBatch (no schema seeds — all
    * three families' empty tails are elided by listing).
    * private[graft] for StreamCapstoneSpec. */
  private[graft] def runStreamCapstone(s: SparkSession, dir: String,
      replayDir: String, deltaBandsDir: String, deltaSetsDir: String,
      foldBandsDir: String, foldSetsDir: String,
      gramDeltaDir: String, gramFoldDir: String,
      funnelSinkDir: String, novSinkDir: String,
      ckpt: String, k: Int = 1,
      crashBeforeSink: Long => Unit = _ => (),
      crashMidFold: Long => Unit = _ => (),
      gc: Boolean = true): Unit = {
    val (iBands, iSets) = Tables.minhashIndexBase(s, dir)
    val grams = Tables.gramIndex(s, dir)
    StreamingJobs.drain("q122_stream_ingest_capstone", ckpt,
        StreamingJobs.readDocsStream(s, replayDir)) { (df, id) =>
      streamCapstoneBatch(s, df, id, iBands, iSets, deltaBandsDir,
        deltaSetsDir, foldBandsDir, foldSetsDir, grams, gramDeltaDir,
        gramFoldDir, funnelSinkDir, novSinkDir, k, crashBeforeSink,
        crashMidFold)
    }
    // POST-CHECKPOINT MAINTENANCE (round-18 verdict item 5): this is
    // the call site where a deployment runs the GC — after the drain,
    // every batch the checkpoint has committed is past its redelivery
    // window, so superseded folds, folded deltas and dead staging
    // leftovers below the live point are unreachable by any read.
    // Only reached on a CLEAN drain (a crash above threw before this
    // line), and a no-op when nothing has checkpointed (-1). Specs
    // that forensically inspect superseded segments pass gc = false.
    if (gc) lsmGc(
      capstoneRels(iBands, iSets, deltaBandsDir, deltaSetsDir,
        foldBandsDir, foldSetsDir, grams, gramDeltaDir, gramFoldDir),
      checkpointedBatchId(ckpt))
  }

  /** Resolve the capstone's two change-log sinks to the wide
    * per-(batch, source) report: funnel columns from the funnel sink,
    * drift columns computed read-time against the standing corpus
    * mixture (q116b's arithmetic — the batch counts are the funnel's),
    * novelty columns from the novelty sink. */
  private[graft] def capstoneTable(s: SparkSession, dir: String,
      funnelSinkDir: String, novSinkDir: String): DataFrame = {
    val fun = sinkLog(s, funnelSinkDir, funnelCols: _*)
    val nov = sinkLog(s, novSinkDir, "source", "batch_grams", "novel_grams")
    // drift columns from the shared q116b arithmetic — the batch
    // counts are the funnel's, so the monitor costs nothing extra
    withDriftColumns(s, dir, fun)
      .join(nov, Seq("batch", "source"), "left")
      .select(col("batch"), col("source"), col("batch_docs"),
        col("near_dups"), col("kept_docs"), col("corpus_docs"),
        col("batch_ppm"), col("corpus_ppm"), col("drift_ppm"),
        col("batch_grams"), col("novel_grams"),
        expr("novel_grams * 1000000 DIV batch_grams").as("novelty_ppm"))
      .orderBy(col("batch"), col("source"))
  }

  private val q122 = QueryDef(
    "q122_stream_ingest_capstone",
    (s, dir) => {
      val replay = StreamingJobs.docsReplayDir(s, dir)
      val Seq(dBands, dSets, cBands, cSets, gDelta, gFold, fSink, nSink,
        ckpt) = Scratch.dirs("graft-q122", "dbands", "dsets", "cbands",
          "csets", "gdelta", "gfold", "fsink", "nsink", "ckpt")
      runStreamCapstone(s, dir, replay, dBands, dSets, cBands, cSets,
        gDelta, gFold, fSink, nSink, ckpt)
      capstoneTable(s, dir, fSink, nSink)
    },
    Some(q122OracleSql))

  /** The composed capstone relation in pure batch semantics: q110c's
    * two-step funnel CTEs (sh extended with source), q116b's corpus
    * mixture + integer-ppm drift, q117c's cumulative gram novelty —
    * one wide row per (batch, source). Never models a segment or a
    * sink; the hash gate grades the one-replay composition against the
    * relation it must materialize. */
  private lazy val q122OracleSql: String = {
    val hs = oMinhashAggs(8, 4)
    val bandSelects = oBandSelects(2, 4, "doc_id, m")
    s"""WITH d AS MATERIALIZED (
        SELECT doc_id, source, text,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 3 AS m
        FROM documents),
      toks AS (
        SELECT doc_id, source, m, string_split(lower(text), ' ') AS t
        FROM d),
      sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, source, m,
          unnest(list_transform(generate_series(1, len(t) - 4),
            i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks WHERE len(t) >= 5),
      sigin AS (SELECT doc_id, m, md5(shingle) AS h FROM sh),
      sig AS MATERIALIZED (
        SELECT doc_id, m, $hs FROM sigin GROUP BY 1, 2),
      bands AS MATERIALIZED (
        $bandSelects),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      cand1 AS (
        SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
        FROM bands b JOIN bands c USING (band_idx, band_val)
        WHERE b.m = 0 AND c.m = 2),
      inter1 AS (
        SELECT cand1.b_id, cand1.c_id, COUNT(*) AS shared
        FROM cand1
        JOIN sh x1 ON x1.doc_id = cand1.b_id
        JOIN sh x2 ON x2.doc_id = cand1.c_id AND x2.shingle = x1.shingle
        GROUP BY 1, 2),
      near1 AS MATERIALIZED (
        SELECT DISTINCT b_id AS doc_id
        FROM inter1 JOIN sizes z1 ON z1.doc_id = b_id
          JOIN sizes z2 ON z2.doc_id = c_id
        WHERE 3 * shared >= z1.n + z2.n),
      idx2 AS MATERIALIZED (
        SELECT doc_id FROM d WHERE m = 2
        UNION ALL
        SELECT doc_id FROM d WHERE m = 0
          AND doc_id NOT IN (SELECT doc_id FROM near1)),
      cand2 AS (
        SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
        FROM bands b JOIN bands c USING (band_idx, band_val)
        JOIN idx2 ON idx2.doc_id = c.doc_id
        WHERE b.m = 1),
      inter2 AS (
        SELECT cand2.b_id, cand2.c_id, COUNT(*) AS shared
        FROM cand2
        JOIN sh x1 ON x1.doc_id = cand2.b_id
        JOIN sh x2 ON x2.doc_id = cand2.c_id AND x2.shingle = x1.shingle
        GROUP BY 1, 2),
      near2 AS (
        SELECT DISTINCT b_id AS doc_id
        FROM inter2 JOIN sizes z1 ON z1.doc_id = b_id
          JOIN sizes z2 ON z2.doc_id = c_id
        WHERE 3 * shared >= z1.n + z2.n),
      f AS (
        SELECT 1 AS batch, dd.source,
          dd.doc_id IN (SELECT doc_id FROM near1) AS is_near
        FROM d dd WHERE dd.m = 0
        UNION ALL
        SELECT 2 AS batch, dd.source,
          dd.doc_id IN (SELECT doc_id FROM near2) AS is_near
        FROM d dd WHERE dd.m = 1),
      fun AS (
        SELECT CAST(batch AS BIGINT) AS batch, source,
          COUNT(*) AS batch_docs,
          CAST(SUM(CASE WHEN is_near THEN 1 ELSE 0 END) AS BIGINT)
            AS near_dups,
          CAST(SUM(CASE WHEN NOT is_near THEN 1 ELSE 0 END) AS BIGINT)
            AS kept_docs
        FROM f GROUP BY 1, 2),
      c AS (SELECT source, COUNT(*) AS corpus_docs FROM d WHERE m = 2
        GROUP BY 1),
      dr AS (
        SELECT fun.batch, fun.source,
          COALESCE(c.corpus_docs, 0) AS corpus_docs,
          CAST(SUM(fun.batch_docs) OVER (PARTITION BY fun.batch)
            AS BIGINT) AS batch_tot,
          (SELECT CAST(SUM(corpus_docs) AS BIGINT) FROM c) AS corpus_tot
        FROM fun LEFT JOIN c ON c.source = fun.source),
      cg AS (SELECT DISTINCT shingle FROM sh WHERE m = 2),
      b1g AS (SELECT DISTINCT shingle FROM sh WHERE m = 0),
      bgr AS (
        SELECT DISTINCT m + 1 AS batch, source, shingle FROM sh
        WHERE m < 2),
      nf AS (
        SELECT batch, source,
          CASE WHEN batch = 1 THEN shingle IN (SELECT shingle FROM cg)
               ELSE shingle IN (SELECT shingle FROM cg)
                 OR shingle IN (SELECT shingle FROM b1g) END AS hit
        FROM bgr),
      nov AS (
        SELECT CAST(batch AS BIGINT) AS batch, source,
          COUNT(*) AS batch_grams,
          CAST(SUM(CASE WHEN NOT hit THEN 1 ELSE 0 END) AS BIGINT)
            AS novel_grams
        FROM nf GROUP BY 1, 2)
      SELECT fun.batch, fun.source, fun.batch_docs, fun.near_dups,
        fun.kept_docs, dr.corpus_docs,
        fun.batch_docs * 1000000 // dr.batch_tot AS batch_ppm,
        dr.corpus_docs * 1000000 // dr.corpus_tot AS corpus_ppm,
        fun.batch_docs * 1000000 // dr.batch_tot
          - dr.corpus_docs * 1000000 // dr.corpus_tot AS drift_ppm,
        nov.batch_grams, nov.novel_grams,
        nov.novel_grams * 1000000 // nov.batch_grams AS novelty_ppm
      FROM fun JOIN dr ON dr.batch = fun.batch AND dr.source = fun.source
      LEFT JOIN nov ON nov.batch = fun.batch AND nov.source = fun.source
      ORDER BY fun.batch, fun.source"""
  }

  // --------------------------------------------------------------- Q118
  // BOILERPLATE CHUNK SUPPRESSION — the CCNet/RefinedWeb "frequent
  // paragraph removal" pass, distinct from q111's chunk dedup in
  // POLICY: dedup keeps one winner per duplicated chunk; boilerplate
  // removal drops EVERY occurrence of a chunk that recurs across
  // documents (license headers, navigation menus, templated footers
  // carry no training signal even once — a pretraining pipeline
  // removes them wholesale, not keep-one). The cross-doc test is
  // min(doc_id) ≠ max(doc_id) over the chunk_md5 group — exactly
  // "appears in ≥ 2 distinct docs" without a window COUNT(DISTINCT)
  // (unsupported in both engines' window frames) — so a chunk repeated
  // WITHIN one doc (q50's intra-doc repetition domain) is deliberately
  // NOT boilerplate. Fixtures bind (verified via DuckDB before wiring,
  // the q106 lesson): 24 boilerplate chunks across 11 cross-doc groups
  // at sf0.001, 15/7 at sf0.01. BoilerplateSpec plants a 3-doc shared
  // block (all copies must go) next to an intra-doc repeat (must stay).
  //
  // Scale shape (100 TB): the grid fan-out is map-only (q101); the
  // cross-doc flag is computed INSIDE the one shuffle keyed on the
  // high-entropy chunk_md5 (the same exchange q111 rides — bucket
  // sizes ≈ true duplicate-group sizes), so there is no second pass
  // and no join-back of a boilerplate set; the per-source funnel
  // aggregate is |sources| rows.
  /** The q118 chunk grid with its cross-doc `boiler` flag — exposed
    * private[graft] for BoilerplateSpec's planted-block laws (shared
    * block across 3 docs → every copy flagged; intra-doc repeat →
    * none). Input must be documents-shaped (doc_id, text, lang,
    * source). */
  private[graft] def boilerFlagged(d: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("chunk_md5"))
    chunkGrid(d)
      .withColumn("mn", min(col("doc_id")).over(w))
      .withColumn("mx", max(col("doc_id")).over(w))
      .withColumn("boiler", col("mn") =!= col("mx"))
  }

  private val q118 = QueryDef(
    "q118_boilerplate_prune",
    (s, dir) => {
      import s.implicits._
      boilerFlagged(docs(s, dir))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_chunks"),
          count_if($"boiler").as("boiler_chunks"),
          countDistinct(when($"boiler", $"doc_id")).as("docs_affected"),
          sum(when(!$"boiler", $"n_tok").otherwise(0L)).as("kept_tokens"),
          sum($"n_tok").as("total_tokens"))
        .withColumn("retention_ppm",
          expr("kept_tokens * 1000000 DIV total_tokens"))
        .orderBy($"source")
    },
    Some(s"""WITH $oracleChunkGrid,
      g AS (
        SELECT source, doc_id, n_tok,
          MIN(doc_id) OVER (PARTITION BY chunk_md5) AS mn,
          MAX(doc_id) OVER (PARTITION BY chunk_md5) AS mx
        FROM cm)
      SELECT source, COUNT(*) AS n_chunks,
        CAST(SUM(CASE WHEN mn <> mx THEN 1 ELSE 0 END) AS BIGINT)
          AS boiler_chunks,
        COUNT(DISTINCT CASE WHEN mn <> mx THEN doc_id END)
          AS docs_affected,
        CAST(SUM(CASE WHEN mn <> mx THEN 0 ELSE n_tok END) AS BIGINT)
          AS kept_tokens,
        CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        CAST(SUM(CASE WHEN mn <> mx THEN 0 ELSE n_tok END) AS BIGINT)
          * 1000000 // CAST(SUM(n_tok) AS BIGINT) AS retention_ppm
      FROM g GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- Q120
  // CURRICULUM SHARD PACKING — order the corpus easy→hard and pack it
  // into fixed-token training shards, the curriculum-learning data
  // layout (Bengio et al., ICML'09: present easier examples first).
  // Difficulty here is the DISTINCT-token count (lexical richness —
  // integer-exact, no float model score), and the curriculum has 4
  // stages cut at exact quartiles of the difficulty distribution. The
  // quartiles are NOT ntile() — a global single-partition window over
  // every doc — but VALUE-BASED cutoffs from the difficulty HISTOGRAM:
  // stage(d) = 1 + Σₖ [4·cum(d) > k·N], k ∈ {1,2,3}, with cum the
  // inclusive cumulative count. Ties share a stage by construction, so
  // the result is deterministic with no order-dependent tie-break.
  // Within a stage, docs pack in (difficulty, doc_id) order into
  // 2048-token bins under q47's first-token-owns-the-bin convention.
  // CurriculumSpec pins the laws: stages difficulty-monotone, token
  // mass conserved, every stage non-empty on the fixtures.
  //
  // Scale shape (100 TB): the histogram groupBy is ONE shuffle over a
  // BOUNDED key domain (difficulty ≤ tokens-per-doc ≤ context length —
  // thousands of distinct values at ANY corpus size), so the cutoff
  // window runs over a model-sized frame and the stage map BROADCASTS
  // back (the q104 vocab join-back shape, but provably bounded). The
  // per-stage prefix sum mirrors q47's scale note: a real deployment
  // packs per (stage, ingest shard), which turns the same window into
  // millions of bounded partitions without changing the convention.
  private val q120 = QueryDef(
    "q120_curriculum_pack",
    (s, dir) => {
      import s.implicits._
      val perDoc = docs(s, dir)
        .select($"doc_id",
          expr("filter(split(lower(text), ' '), t -> length(t) > 0)")
            .as("toks"))
        .select($"doc_id", size($"toks").cast(LongType).as("n_tok"),
          size(array_distinct($"toks")).cast(LongType).as("difficulty"))
      val wc = Window.orderBy($"difficulty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wa = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val stages = perDoc.groupBy($"difficulty")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum($"cnt").over(wc))
        .withColumn("n_total", sum($"cnt").over(wa))
        .select($"difficulty",
          (lit(1L) + ($"cum" * 4 > $"n_total").cast(LongType)
            + ($"cum" * 4 > $"n_total" * 2).cast(LongType)
            + ($"cum" * 4 > $"n_total" * 3).cast(LongType)).as("stage"))
      val wp = Window.partitionBy($"stage")
        .orderBy($"difficulty", $"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDoc.join(broadcast(stages), Seq("difficulty"))
        .withColumn("cum_tok", sum($"n_tok").over(wp))
        .withColumn("bin", expr("(cum_tok - n_tok) DIV 2048"))
        .groupBy($"stage", $"bin")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("sum_tokens"),
          min($"difficulty").as("min_diff"),
          max($"difficulty").as("max_diff"))
        .withColumn("fill_ratio", $"sum_tokens".cast(DoubleType) / 2048)
        .orderBy($"stage", $"bin")
    },
    // CASTs: DuckDB promotes windowed integer SUM to HUGEINT (the q47
    // lesson) — both the histogram cumsum and the packing prefix sum
    // pin back to BIGINT before any comparison or division.
    Some("""WITH per_doc AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split(lower(text), ' '),
            t -> length(t) > 0)) AS BIGINT) AS n_tok,
          CAST(len(list_distinct(list_filter(string_split(lower(text), ' '),
            t -> length(t) > 0))) AS BIGINT) AS difficulty
        FROM documents),
      hist AS (
        SELECT difficulty, COUNT(*) AS cnt FROM per_doc GROUP BY 1),
      cum AS (
        SELECT difficulty,
          CAST(SUM(cnt) OVER (ORDER BY difficulty
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          CAST(SUM(cnt) OVER () AS BIGINT) AS n_total
        FROM hist),
      stages AS (
        SELECT difficulty,
          CAST(1 + CASE WHEN cum * 4 > n_total THEN 1 ELSE 0 END
            + CASE WHEN cum * 4 > 2 * n_total THEN 1 ELSE 0 END
            + CASE WHEN cum * 4 > 3 * n_total THEN 1 ELSE 0 END
            AS BIGINT) AS stage
        FROM cum),
      packed AS (
        SELECT s.stage, p.difficulty, p.n_tok,
          CAST((SUM(p.n_tok) OVER (PARTITION BY s.stage
              ORDER BY p.difficulty, p.doc_id
              ROWS UNBOUNDED PRECEDING) - p.n_tok) // 2048 AS BIGINT)
            AS bin
        FROM per_doc p JOIN stages s USING (difficulty))
      SELECT stage, bin, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        MIN(difficulty) AS min_diff, MAX(difficulty) AS max_diff,
        CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE) / 2048 AS fill_ratio
      FROM packed GROUP BY 1, 2 ORDER BY 1, 2"""))

  val all: Seq[QueryDef] =
    Seq(q22, q23, q25, q26, q27, q28, q29, q32, q39, q42, q45, q46, q47,
      q50, q51, q52, q53, q54, q59, q60, q65, q88, q89, q89b, q89c, q100,
      q101, q104, q106, q107, q108, q109, q110, q110b, q110c, q110d,
      q110e, q110f, q111, q112, q113, q115, q116, q116b, q117, q117b,
      q117c, q117d, q117e, q118, q120, q122)
}
