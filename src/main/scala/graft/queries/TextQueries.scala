package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables

/** The text and dedup family over `documents`: token statistics and
  * quality/PII filters (q22–q29, q42, q46–q60), the dedup families —
  * exact (q25), MinHash-LSH (q23, clustered by q39), SimHash (q32),
  * n-gram Jaccard (q45), edit distance (q65), exact substring (q112)
  * and boilerplate chunks (q118) — and the split and packing steps
  * that read them (q88, q115, q120). Shared helpers: DocCommon. */
object TextQueries {
  import DocCommon._

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
      val sh = shingleTable(docs(s, dir), Nil).localCheckpoint()
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
      // VERIFY REWRITE (round 20, "shuffle fewer bytes"):
      // the old exact-Jaccard verify joined the FULL shingle table
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
        nTok.as("n_tok"),
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
      // FUSED CHANGE CHECK (round 20): carry each node's
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
        md5SplitOf($"doc_id").as("split"), $"lang", nTok.as("n_tok"))
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
      val perDoc = docs(s, dir).select($"source", $"doc_id", nTok.as("n_tok"))
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
        nTok.as("n_tok"),
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
    // ROLLING WINDOW PASS (round 20, per-task work): the
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
          nTok.as("n_tok"))
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
      q50, q51, q52, q53, q54, q59, q60, q65, q88, q112, q115, q118, q120)
}
