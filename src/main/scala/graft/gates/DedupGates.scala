package graft
package gates

import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.functions._
import graft.operators.Frames

/** Gates of near-duplicate detection and set-similarity joins: MinHash
  * (banded, OPH, b-bit), SimHash, winnowing, content-defined chunks,
  * n-gram and containment dedup, substring spans, Bloom filters, the
  * incremental dedup indexes and the prefix/ed-join similarity joins. */
private[graft] object DedupGates {

  /** CTE list (no WITH) deriving the exact-substring-dedup spans of
    * `documents` at k = 8: toks(id, tk) — whitespace tokens on the shared
    * explicit class (RE2's \s lacks \x0B; Java's has it) — wins (every
    * 8-token window with its 1-based start), marked (all-but-global-first
    * occurrences of duplicated windows as [s, e] intervals), and spans
    * (overlapping/touching intervals merged via the running-max island
    * scan). Shared by the spans gate and the strip gate so the span
    * derivation cannot de-sync between them. */
  private def substringSpanCtes: String =
    """toks AS (
      |  SELECT doc_id AS id,
      |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> len(t) > 0) AS tk
      |  FROM documents
      |), wins AS (
      |  SELECT id, pos, array_to_string(tk[pos:pos+7], ' ') AS gram
      |  FROM (SELECT id, tk, unnest(range(1, len(tk) - 6)) AS pos
      |        FROM toks WHERE len(tk) >= 8)
      |), marked AS (
      |  SELECT id, pos AS s, pos + 7 AS e FROM (
      |    SELECT id, pos,
      |      row_number() OVER (PARTITION BY gram ORDER BY id, pos) AS rnk
      |    FROM wins)
      |  WHERE rnk > 1
      |), flagged AS (
      |  SELECT id, s, e,
      |    CASE WHEN max(e) OVER wp IS NULL OR s > max(e) OVER wp + 1
      |         THEN 1 ELSE 0 END AS new_island
      |  FROM marked
      |  WINDOW wp AS (PARTITION BY id ORDER BY s
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |), islanded AS (
      |  SELECT id, s, e, sum(new_island) OVER (PARTITION BY id ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM flagged
      |), spans AS (
      |  SELECT id, min(s) AS span_start, max(e) AS span_end
      |  FROM islanded GROUP BY id, island
      |)""".stripMargin

  /** CTE list (no WITH) deriving the one-permutation MinHash signature of
    * `from`(doc_id, text) as rows: base(id, tk) — sorted distinct
    * whitespace tokens, the derivation every dedup oracle shares — and
    * dens(id, bin, h) — the 16 rotation-densified OPH bins (one sha256
    * per 2-shingle, first-hex-nibble bins, per-bin lexicographic minima,
    * circular right-borrow tagged with its distance; the j = 0 row of
    * the offset scan IS the filled bin, so one row_number window covers
    * filled and borrowed bins alike). Shared by the signature gate and
    * the OPH dedup gate so the derivation cannot de-sync. */
  private def ophDensCteList(from: String): String =
    s"""base AS (
       |  SELECT doc_id AS id,
       |    list_sort(list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0))) AS tk
       |  FROM $from
       |), sh AS (
       |  SELECT id, unnest(CASE WHEN len(tk) >= 2
       |    THEN list_transform(range(1, len(tk)), j -> tk[j] || ' ' || tk[j + 1])
       |    ELSE tk END) AS sh
       |  FROM base WHERE len(tk) > 0
       |), filled AS (
       |  SELECT id, strpos('0123456789abcdef', substr(sha256(sh), 1, 1)) - 1 AS bin,
       |         min(sha256(sh)) AS h
       |  FROM sh GROUP BY id, bin
       |), scan AS (
       |  SELECT g.id, b.i AS bin, r.j AS j, f.h,
       |         row_number() OVER (PARTITION BY g.id, b.i ORDER BY r.j) AS rn
       |  FROM (SELECT DISTINCT id FROM filled) g
       |  CROSS JOIN range(0, 16) b(i)
       |  CROSS JOIN range(0, 16) r(j)
       |  JOIN filled f ON f.id = g.id AND f.bin = (b.i + r.j) % 16
       |), dens AS (
       |  SELECT id, bin,
       |    CASE WHEN j = 0 THEN h ELSE h || ':' || CAST(j AS VARCHAR) END AS h
       |  FROM scan WHERE rn = 1
       |)""".stripMargin

  /** CDC chunk CTEs over documents text (w=16, maskBits=5): produces
    * `ck(doc_id, chunk_idx, chunk_start, chunk_len, chunk_sha)` — the
    * [[graft.operators.Dedup.cdcChunks]] face replayed
    * position-for-position (window-sha boundary rule, forced end cut,
    * lag-window spans, chunk sha). */
  private def cdcChunkCtes: String =
    s"""b AS (
       |  SELECT doc_id, text AS t, length(text) AS n FROM documents
       |  WHERE text IS NOT NULL AND length(text) >= 1
       |), wpos AS (
       |  SELECT doc_id, t, n, unnest(range(16, n + 1)) AS pos
       |  FROM b WHERE n >= 16
       |), cuts AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, ${hexU32Sql("h", 1)} AS hv
       |    FROM (SELECT doc_id, pos, sha256(substr(t, pos - 15, 16)) AS h
       |          FROM wpos) z0) z1
       |  WHERE hv % 32 = 0
       |  UNION
       |  SELECT doc_id, n FROM b
       |), sp AS (
       |  SELECT doc_id, row_number() OVER w AS chunk_idx,
       |    coalesce(lag(pos) OVER w, 0) + 1 AS chunk_start,
       |    pos - coalesce(lag(pos) OVER w, 0) AS chunk_len
       |  FROM cuts WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
       |), ck AS (
       |  SELECT sp.doc_id, CAST(sp.chunk_idx AS BIGINT) AS chunk_idx,
       |    CAST(sp.chunk_start AS BIGINT) AS chunk_start,
       |    CAST(sp.chunk_len AS BIGINT) AS chunk_len,
       |    sha256(substr(b.t, CAST(sp.chunk_start AS INT),
       |      CAST(sp.chunk_len AS INT))) AS chunk_sha
       |  FROM sp JOIN b ON sp.doc_id = b.doc_id
       |)""".stripMargin

  /** Shared CTE prefix of the document MinHash-LSH oracles: token sets
    * (base), 2-shingles (sh), 16 sha lane minima (mins), and the 4-band
    * keys (banded, one `(id, key)` row per band). Both the pairwise and
    * the incremental oracle append only their own sizing/candidate/
    * verification tail, so the signature derivation can never de-sync.
    * `recursive = true` spells `WITH RECURSIVE` for oracles whose tail
    * adds a recursive CTE (DuckDB requires the keyword up front). */
  private def minhashDocBandedCtes(recursive: Boolean = false): String =
    s"WITH ${if (recursive) "RECURSIVE " else ""}" + minhashBandedCteList("documents")

  private def minhashLshOracle: String = {
    val jac = tokenJaccardSql
    minhashDocBandedCtes() + "," + s"""
       | $minhashCandCtes
       |SELECT c.ia, c.ib, $jac AS jaccard
       |FROM cand c JOIN base x ON c.ia = x.id JOIN base y ON c.ib = y.id
       |WHERE $jac >= 0.5""".stripMargin
  }

  /** Near-dup group oracle: the minhash pair derivation (same tail as
    * [[minhashLshOracle]]) transitively closed by a recursive walk (same
    * pattern as the q_connected_components oracle), left-joined back over
    * all documents so singletons canonicalize to themselves. */
  private def nearDupGroupsOracle: String = {
    val jac = tokenJaccardSql
    minhashDocBandedCtes(recursive = true) + "," + s"""
       | $minhashCandCtes, verified AS (
       |  SELECT c.ia, c.ib
       |  FROM cand c JOIN base x ON c.ia = x.id JOIN base y ON c.ib = y.id
       |  WHERE $jac >= 0.5
       |), $verifiedComponentCtes
       |SELECT d.doc_id AS id, COALESCE(c.component, d.doc_id) AS canonical_id
       |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin
  }

  /** Incremental variant of [[minhashLshOracle]]: the banded CTE splits by
    * doc_id parity (even = existing corpus, odd = new batch); the bucket
    * cap sizes CORPUS buckets only, and candidates only cross sides. */
  private def minhashIncrementalOracle: String = {
    val jac = tokenJaccardSql
    minhashDocBandedCtes() + "," + s"""
       | cbanded AS (
       |  SELECT id, key FROM banded WHERE id % 2 = 0
       |), bbanded AS (
       |  SELECT id, key FROM banded WHERE id % 2 = 1
       |), sized AS (
       |  SELECT key, count(*) AS n FROM cbanded GROUP BY key
       |), goodc AS (
       |  SELECT c.id, c.key FROM cbanded c JOIN sized s USING (key) WHERE s.n <= 500
       |), cand AS (
       |  SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
       |  FROM bbanded b JOIN goodc c ON b.key = c.key
       |)
       |SELECT c.batch_id, c.corpus_id, $jac AS jaccard
       |FROM cand c JOIN base x ON c.batch_id = x.id JOIN base y ON c.corpus_id = y.id
       |WHERE $jac >= 0.5""".stripMargin
  }

  /** Per-doc 60-bit sha-family SimHash in SQL: per-token hash = integer
    * value of the first 15 hex chars of sha256(token); bit b of the
    * signature set iff the ±1 votes over tokens are positive. Mirrors
    * TextKernels.simhash60Sha bit for bit. */
  private val shaSimhashCtes: String =
    """toks AS (
      |  SELECT doc_id AS id,
      |    unnest(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> len(t) > 0)) AS tok
      |  FROM documents
      |), th AS (
      |  SELECT id, sha256(tok) AS h FROM toks
      |), bits AS (
      |  SELECT id, bb.b AS b,
      |    sum(CASE WHEN (((strpos('0123456789abcdef', substr(h, 15 - (bb.b // 4), 1)) - 1)
      |                    >> (bb.b % 4)) & 1) = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bb
      |  GROUP BY id, bb.b
      |), sig AS (
      |  SELECT id,
      |    CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
      |  FROM bits GROUP BY id
      |)""".stripMargin

  /** @param hardCap the only lossy cut in the 3-tier ngram-Jaccard
    *   policy (tiers 1+2 — plain and salted — are lossless:
    *   q_dedup_ngram_jaccard forces blocks through the salted grid and
    *   must match this oracle WITHOUT a cut). */
  private def dedupNgramOracle(hardCap: Option[Int]): String = {
    val cut = hardCap match {
      case Some(cap) =>
        s""", sized AS (
           |  SELECT bk, count(*) AS n FROM base GROUP BY bk
           |), good AS (
           |  SELECT b.id, b.tk, b.bk FROM base b JOIN sized s USING (bk)
           |  WHERE s.n <= $cap
           |)""".stripMargin
      case None => ", good AS (SELECT id, tk, bk FROM base)"
    }
    s"""WITH base AS (
       |  SELECT doc_id AS id,
       |    list_distinct(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), t -> len(t) > 0)) AS tk,
       |    lang || chr(1) || source AS bk
       |  FROM documents
       |)$cut, scored AS (
       |  SELECT a.id AS ia, b.id AS ib,
       |    CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(a.tk, b.tk))) AS DOUBLE) AS jaccard
       |  FROM good a JOIN good b ON a.bk = b.bk AND a.id < b.id
       |)
       |SELECT ia, ib, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin
  }

  /** @param hardCap the only lossy cut in the 3-tier simhash policy
    *   (tiers 1+2 — plain and salted — are lossless, gate-proven by
    *   q_dedup_simhash_salted matching this oracle WITHOUT a cut). */
  private def dedupSimhashOracle(hardCap: Option[Int]): String = {
    val bandKeys = (0 until 4).map { b =>
      s"'$b:' || CAST((sig >> ${b * 15}) & 32767 AS VARCHAR)"
    }.mkString(", ")
    val cut = hardCap match {
      case Some(cap) =>
        s""", sized AS (
           |  SELECT key, count(*) AS n FROM banded GROUP BY key
           |), good AS (
           |  SELECT b.id, b.sig, b.key FROM banded b JOIN sized s USING (key)
           |  WHERE s.n <= $cap
           |)""".stripMargin
      case None => ", good AS (SELECT id, sig, key FROM banded)"
    }
    s"""WITH $shaSimhashCtes, banded AS (
       |  SELECT id, sig, unnest([$bandKeys]) AS key FROM sig
       |)$cut, pairs AS (
       |  SELECT DISTINCT a.id AS ia, b.id AS ib,
       |    bit_count(xor(a.sig, b.sig)) AS hamming
       |  FROM good a JOIN good b ON a.key = b.key AND a.id < b.id
       |)
       |SELECT ia, ib, hamming FROM pairs WHERE hamming <= 8""".stripMargin
  }

  /** Winnowing fingerprint CTEs (k=8, w=4, sha256 family): per-position
    * gram hashes, full windows only, argmin with rightmost tie via
    * row_number — ends as a `fp(doc_id, fp_hash, fp_pos)` CTE so the
    * fingerprint gate and the pair-composition gate share one
    * derivation. */
  private def winnowCtes: String =
    s"""src AS (
       |  SELECT doc_id, text, length(text) - 7 AS ng FROM documents
       |  WHERE text IS NOT NULL AND length(text) >= 8
       |), gh AS (
       |  SELECT doc_id, ng, unnest(range(1, ng + 1)) AS pos, text
       |  FROM src
       |), g AS (
       |  SELECT doc_id, ng, pos, ${hexU32Sql("h", 1)} AS h
       |  FROM (SELECT doc_id, ng, pos,
       |          sha256(substr(text, CAST(pos AS INTEGER), 8)) AS h
       |        FROM gh) z
       |), starts AS (
       |  SELECT doc_id, pos AS s FROM g WHERE pos <= ng - 3
       |), cand AS (
       |  SELECT st.doc_id, st.s, g.h, g.pos
       |  FROM starts st JOIN g
       |    ON g.doc_id = st.doc_id AND g.pos BETWEEN st.s AND st.s + 3
       |), sel AS (
       |  SELECT doc_id, h, pos, row_number() OVER (
       |    PARTITION BY doc_id, s ORDER BY h ASC, pos DESC) AS rn
       |  FROM cand
       |), fp AS (
       |  SELECT DISTINCT doc_id, h AS fp_hash, CAST(pos AS INTEGER) AS fp_pos
       |  FROM sel WHERE rn = 1
       |)""".stripMargin

  val all: Seq[Gate] = Seq(
    // b-bit MinHash (Li-König): pack the low 8 bits of each of 16
    // sha-family lanes into 2 longs (8× smaller signature — 8× less
    // shuffle IO at corpus scale), then score same-lang doc pairs with
    // the agreeing-lane count and the unbiased Jaccard estimate
    // (f − 2⁻⁸)/(1 − 2⁻⁸). Oracle re-derives every lane from sha hex,
    // takes the low byte from the last two hex chars, and replays the
    // estimator with the identical IEEE ops.
    Gate("q_bbit_minhash", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 10 === 0)
      val base = d.select(col("doc_id").as("id"), col("lang"),
        sort_array(array_distinct(
          graft.operators.TextAnalysis.tokens(col("text")))).as("toks"))
        .where(size(col("toks")) > 0)
      val sigs = base.select(col("id"), col("lang"),
        bbit_sig(minhash_sig(col("toks"), 16, "sha256"), 8).as("pk"))
      sigs.as("a").join(sigs.as("b"),
          col("a.lang") === col("b.lang") && col("a.id") < col("b.id"))
        .select(col("a.id").as("ia"), col("b.id").as("ib"),
          bbit_match_count(col("a.pk"), col("b.pk"), 8).as("m"),
          bbit_jaccard_est(col("a.pk"), col("b.pk"), 8).as("est"))
    },
      // b-bit minhash: lanes from sha hex (shaLaneAggs), low byte = last two
      // hex chars, match count via a list lambda, estimator replayed with
      // the same op order (m/16 first, then the corrected ratio)
      s"""WITH base AS (
        |  SELECT doc_id AS id, lang,
        |    list_sort(list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0))) AS tk
        |  FROM documents WHERE doc_id % 10 = 0
        |), fbase AS (
        |  SELECT * FROM base WHERE len(tk) > 0
        |), sh AS (
        |  SELECT id, unnest(CASE WHEN len(tk) >= 2
        |    THEN list_transform(range(1, len(tk)), j -> tk[j] || ' ' || tk[j + 1])
        |    ELSE tk END) AS sh
        |  FROM fbase
        |), mins AS (
        |  SELECT id, ${shaLaneAggs(16)} FROM sh GROUP BY id
        |), lanes AS (
        |  SELECT id, [((strpos('0123456789abcdef', substr(h0, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h0, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h1, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h1, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h2, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h2, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h3, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h3, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h4, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h4, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h5, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h5, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h6, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h6, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h7, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h7, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h8, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h8, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h9, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h9, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h10, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h10, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h11, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h11, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h12, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h12, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h13, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h13, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h14, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h14, 64, 1)) - 1)), ((strpos('0123456789abcdef', substr(h15, 63, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h15, 64, 1)) - 1))] AS lv
        |  FROM mins
        |), pairs AS (
        |  SELECT xa.id AS ia, xb.id AS ib, la.lv AS la, lb.lv AS lb
        |  FROM fbase xa JOIN fbase xb ON xa.lang = xb.lang AND xa.id < xb.id
        |  JOIN lanes la ON la.id = xa.id
        |  JOIN lanes lb ON lb.id = xb.id
        |)
        |SELECT ia, ib,
        |  CAST(len(list_filter(range(1, 17), i -> la[i] = lb[i])) AS INT) AS m,
        |  (CAST(len(list_filter(range(1, 17), i -> la[i] = lb[i])) AS DOUBLE) / CAST(16 AS DOUBLE)
        |     - 0.00390625) / (1.0 - 0.00390625) AS est
        |FROM pairs""".stripMargin),

    // MinHash band keys (stage: secondary blocking). Driven with the
    // sha256 hash family so DuckDB reproduces the ENTIRE signature+banding
    // pipeline bit-exactly (same operator code path as the xxhash64
    // production family — only the hash function is swapped).
    Gate("q_minhash_band_keys", (s, dir) => {
      val ex = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").cast("string").as("url"),
          regexp_replace(lower(col("p_name")), "[^a-z]", "").as("name_norm"))
      graft.operators.Linkage.minhashBandKeys(ex, hashFamily = "sha256")
    },
      {
        val bandKeys = (0 until 6).map { b =>
          s"'mh$b:' || sha256(h${2 * b} || '|' || h${2 * b + 1})"
        }.mkString(", ")
        s"""WITH base AS (
           |  SELECT CAST(p_partkey AS VARCHAR) AS url,
           |         regexp_replace(lower(p_name), '[^a-z]', '', 'g') AS nn
           |  FROM part
           |), sh AS (
           |  SELECT url, unnest(CASE WHEN length(nn) >= 3
           |    THEN list_transform(range(1, length(nn) - 1), i -> substr(nn, i, 3))
           |    ELSE [nn] END) AS sh
           |  FROM base
           |), mins AS (
           |  SELECT url, ${shaLaneAggs(12)} FROM sh GROUP BY url
           |)
           |SELECT url, unnest([$bandKeys]) AS key FROM mins""".stripMargin
      }),

    // One-permutation MinHash signature (16 bins, rotation-densified) over
    // the documents' sorted-distinct token 2-shingles: ONE digest per
    // shingle instead of 16 lane digests — the O(m) scale path. Driven
    // with the sha256 family so DuckDB replays the whole derivation
    // (nibble bins, per-bin minima, circular borrow with distance tag).
    Gate("q_minhash_oph_sig", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val toks = array_sort(array_distinct(
        filter(split(col("text"), "\\s+"), t => length(t) > 0)))
      d.select(col("doc_id"), minhash_sig_oph(toks, "sha256").as("sig"))
        .where(col("sig").isNotNull)
        .select(col("doc_id"), posexplode(col("sig")))
        .select(col("doc_id"), col("pos").as("bin"), col("col").as("h"))
    },
      // OPH: one sha256 per 2-shingle, first-hex-nibble bins, per-bin min,
      // then circular right-rotation densification — bin i takes the
      // nearest non-empty bin's minimum tagged with the borrow distance.
      // The j = 0 row of the offset scan IS the filled bin, so one
      // row_number window covers both cases.
      s"""WITH ${ophDensCteList("documents")}
        |SELECT id AS doc_id, CAST(bin AS INTEGER) AS bin, h
        |FROM dens""".stripMargin),

    // OPH dedup end-to-end: the one-hash-per-shingle signature feeding
    // the SAME banded/capped/Jaccard-verified LSH tail as
    // q_dedup_minhash_lsh — the fingerprint-bound corpus's scale path.
    Gate("q_dedup_minhash_oph", (s, dir) => graft.operators.Dedup.minhashOphLshPairs(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      tau = 0.5, bands = 4, bucketCap = 500, hashFamily = "sha256").out,
      // OPH dedup end-to-end: the SAME dens CTEs, banded 4×4 in bin order
      // (string_agg ORDER BY bin == the Spark side's element_at order),
      // then the standard sized/good/cand/verify tail at tau = 0.5.
      s"""WITH ${ophDensCteList("documents")}, banded AS (
        |  SELECT id, CAST(bin // 4 AS VARCHAR) || ':' ||
        |         sha256(string_agg(h, '|' ORDER BY bin)) AS key
        |  FROM dens GROUP BY id, bin // 4
        |), $minhashCandCtes
        |SELECT c.ia, c.ib, $tokenJaccardSql AS jaccard
        |FROM cand c JOIN base x ON c.ia = x.id JOIN base y ON c.ib = y.id
        |WHERE $tokenJaccardSql >= 0.5""".stripMargin),

    // document fingerprint + simhash signatures, sha256 family: the
    // fingerprint is the min sha digest over 16-char shingles (a true
    // min-k-gram fingerprint) and the simhash is the 60-bit sha variant —
    // both DuckDB-recomputable, so the gate hash-checks them. The
    // xxhash/FNV production kernels (min_kgram_hash, simhash64) share the
    // operator structure and are pinned in TextAnalysisSpec/FusedSigSpec.
    Gate("q_doc_signatures", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      d.select(col("doc_id"),
        element_at(graft.functions.minhash_sig_chars(col("text"), 16, 1, "sha256"), 1)
          .as("fingerprint"),
        graft.functions.simhash60_sha(col("text")).as("simhash"))
    },
      s"""WITH $shaSimhashCtes, fp AS (
         |  SELECT id, min(sha256('0:' || sh)) AS fingerprint
         |  FROM (
         |    SELECT doc_id AS id, unnest(CASE WHEN length(text) >= 16
         |      THEN list_transform(range(1, length(text) - 14), i -> substr(text, i, 16))
         |      ELSE [text] END) AS sh
         |    FROM documents
         |  ) GROUP BY id
         |)
         |SELECT d.doc_id, f.fingerprint, coalesce(s.sig, 0) AS simhash
         |FROM documents d
         |JOIN fp f ON f.id = d.doc_id
         |LEFT JOIN sig s ON s.id = d.doc_id""".stripMargin),

    // exact dedup via content hash
    Gate("q_dedup_exact", (s, dir) => graft.operators.Dedup.exactGroups(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text"),
      """WITH hashed AS (
        |  SELECT doc_id AS id, sha256(text) AS content_hash FROM documents
        |), canon AS (
        |  SELECT content_hash, min(id) AS canonical_id FROM hashed GROUP BY content_hash
        |)
        |SELECT h.id, c.canonical_id, h.content_hash
        |FROM hashed h JOIN canon c USING (content_hash)""".stripMargin),

    // MOSS winnowing fingerprints (k=8 char grams, w=4 windows, sha256
    // verification family): every selected (hash, position) is
    // hash-checked, so the sliding-min frame, the rightmost tie rule and
    // the full-window cutoff are all load-bearing.
    Gate("q_winnow_fingerprints", (s, dir) => graft.operators.Dedup
      .winnowFingerprints(spread(s.read.parquet(s"$dir/documents.parquet")),
        "doc_id", "text", k = 8, w = 4, hashFamily = "sha256"),
      s"WITH $winnowCtes SELECT doc_id, fp_hash, fp_pos FROM fp"),

    // winnowing composes with common-neighbor: document pairs sharing
    // >= 30 distinct fingerprint hashes (the shared-span candidate
    // generator, hub-capped like every pair path).
    Gate("q_winnow_pairs", (s, dir) => graft.operators.Linkage
      .commonNeighborPairs(
        graft.operators.Dedup.winnowFingerprints(
          spread(s.read.parquet(s"$dir/documents.parquet")),
          "doc_id", "text", k = 8, w = 4, hashFamily = "sha256")
          .select(col("doc_id"), col("fp_hash")),
        "doc_id", "fp_hash", minCommon = 30).out,
      s"""WITH $winnowCtes, e AS (
        |  SELECT DISTINCT doc_id AS id, fp_hash AS nb FROM fp
        |), ${commonNeighborsSql(30)}""".stripMargin),

    // Content-defined chunking (LBFS/FastCDC family): boundaries decided
    // by the sha-u32 of the 16-char window ending at each position
    // (mod 32 = 0 → expected ~47-char chunks), document end always a
    // cut — an exact disjoint COVER whose chunk hashes survive
    // insertions/deletions elsewhere in the document
    // (shift-resistance). Position explode + boundary filter are
    // map-side; only CUTS shuffle; one per-doc window + one id join.
    Gate("q_cdc_chunks", (s, dir) => graft.operators.Dedup.cdcChunks(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      w = 16, maskBits = 5),
      // CDC chunks replayed position-for-position: window-sha boundary
      // filter, forced end cut, lag-window spans, chunk sha.
      s"""WITH $cdcChunkCtes
         |SELECT doc_id, chunk_idx, chunk_start, chunk_len, chunk_sha
         |FROM ck""".stripMargin),

    // Bounded CDC (the production face): the same content cuts at
    // maskBits=4, then greedy minLen=24 acceptance (left fold — tiny
    // chunks merge forward, tail exempt) and fixed maxLen=96
    // subdivision. The oracle replays the sequential fold as a
    // recursive-CTE walk over rank-ordered candidates (the NYSIIS
    // full-replay technique; DuckDB 1.0's list_reduce mis-folds
    // growing-list accumulators, so the lambda route is closed).
    Gate("q_cdc_bounded", (s, dir) => graft.operators.Dedup.cdcChunksBounded(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      w = 16, maskBits = 4, minLen = 24, maxLen = 96),
      // bounded CDC: content cuts at maskBits=4, the greedy minLen fold
      // replayed as a recursive-CTE walk (rank-ordered candidates, one
      // recursion step per candidate), then fixed maxLen subdivision.
      s"""WITH RECURSIVE b AS (
         |  SELECT doc_id, text AS t, length(text) AS n FROM documents
         |  WHERE text IS NOT NULL AND length(text) >= 1
         |), wpos AS (
         |  SELECT doc_id, t, n, unnest(range(16, n + 1)) AS pos
         |  FROM b WHERE n >= 16
         |), cuts0 AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos, ${hexU32Sql("h", 1)} AS hv
         |    FROM (SELECT doc_id, pos, sha256(substr(t, pos - 15, 16)) AS h
         |          FROM wpos) z0) z1
         |  WHERE hv % 16 = 0
         |  UNION
         |  SELECT doc_id, n FROM b
         |), cand AS (
         |  SELECT doc_id, pos, CAST(row_number() OVER (
         |    PARTITION BY doc_id ORDER BY pos) AS INT) AS rn
         |  FROM cuts0
         |), walk(doc_id, rn, last, emit) AS (
         |  SELECT doc_id, 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT) FROM b
         |  UNION ALL
         |  SELECT c.doc_id, c.rn,
         |    CASE WHEN (c.pos - w.last >= 24 AND c.pos < d.n) OR c.pos = d.n
         |         THEN CAST(c.pos AS BIGINT) ELSE w.last END,
         |    CASE WHEN (c.pos - w.last >= 24 AND c.pos < d.n) OR c.pos = d.n
         |         THEN CAST(c.pos AS BIGINT) ELSE NULL END
         |  FROM walk w
         |  JOIN cand c ON c.doc_id = w.doc_id AND c.rn = w.rn + 1
         |  JOIN b d ON d.doc_id = w.doc_id
         |), acc AS (
         |  SELECT doc_id, emit AS cut FROM walk WHERE emit IS NOT NULL
         |), sp0 AS (
         |  SELECT doc_id, coalesce(lag(cut) OVER (
         |    PARTITION BY doc_id ORDER BY cut), 0) AS prev, cut
         |  FROM acc
         |), subs AS (
         |  SELECT DISTINCT doc_id, least(u.s, cut) AS pos
         |  FROM sp0, unnest(range(prev + 96, cut + 96, 96)) u(s)
         |), sp AS (
         |  SELECT doc_id, row_number() OVER w2 AS chunk_idx,
         |    coalesce(lag(pos) OVER w2, 0) + 1 AS chunk_start,
         |    pos - coalesce(lag(pos) OVER w2, 0) AS chunk_len
         |  FROM subs WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
         |)
         |SELECT sp.doc_id, CAST(sp.chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(sp.chunk_start AS BIGINT) AS chunk_start,
         |  CAST(sp.chunk_len AS BIGINT) AS chunk_len,
         |  sha256(substr(b.t, CAST(sp.chunk_start AS INT),
         |    CAST(sp.chunk_len AS INT))) AS chunk_sha
         |FROM sp JOIN b ON sp.doc_id = b.doc_id""".stripMargin),

    // Sub-document duplication via shared CDC chunks, composed through
    // the SAME 3-tier common-neighbor machinery as q_winnow_pairs —
    // documents sharing >= 4 chunk hashes with neighborhood-Jaccard
    // normalization (chunk identity = content, so these are
    // copied/syndicated spans, not resemblance estimates).
    Gate("q_cdc_pairs", (s, dir) => graft.operators.Linkage
      .commonNeighborPairs(
        graft.operators.Dedup.cdcChunks(
          spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
          w = 16, maskBits = 5)
          .select(col("doc_id"), col("chunk_sha")),
        "doc_id", "chunk_sha", minCommon = 4).out,
      // shared-chunk pair composition — the q_winnow_pairs fold over the
      // CDC chunk bipartite frame.
      s"""WITH $cdcChunkCtes, e AS (
        |  SELECT DISTINCT doc_id AS id, chunk_sha AS nb FROM ck
        |), ${commonNeighborsSql(4)}""".stripMargin),

    // token-set Jaccard near-dup over (lang, source) blocks. bucketCap=8
    // routes every real block at sf0.01 (max 16) through the SALTED grid
    // tier — the result must equal the plain blocked-join oracle (tiers
    // 1+2 are lossless; hardCap stays at its lossless default here).
    Gate("q_dedup_ngram_jaccard", (s, dir) => graft.operators.Dedup.ngramJaccardPairs(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      Seq("lang", "source"), tau = 0.5, bucketCap = 8, saltGroups = 8).out,
      dedupNgramOracle(None)),

    // Asymmetric containment dedup (Broder's second resemblance): both
    // |A∩B|/|A| and |A∩B|/|B| per candidate pair, kept when the LARGER
    // direction clears 0.8 — the quote/wrap duplicates Jaccard misses.
    // Same blocking, small bucketCap and salted grid as the ngram gate,
    // so the 3-tier path is exercised at gate scale.
    Gate("q_dedup_containment", (s, dir) => graft.operators.Dedup.containmentPairs(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      Seq("lang", "source"), tau = 0.8, bucketCap = 8, saltGroups = 8).out,
      // containment both directions, zero-token docs excluded, max-side
      // threshold — tier-blind brute force over the same blocks.
      """WITH base AS (
        |  SELECT doc_id AS id,
        |    list_distinct(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), t -> len(t) > 0)) AS tk,
        |    lang || chr(1) || source AS bk
        |  FROM documents
        |), ne AS (
        |  SELECT id, tk, bk FROM base WHERE len(tk) > 0
        |), scored AS (
        |  SELECT a.id AS ia, b.id AS ib,
        |    CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |      / CAST(len(a.tk) AS DOUBLE) AS containment_a,
        |    CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |      / CAST(len(b.tk) AS DOUBLE) AS containment_b,
        |    CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.tk, b.tk))) AS DOUBLE)
        |      AS jaccard
        |  FROM ne a JOIN ne b ON a.bk = b.bk AND a.id < b.id
        |)
        |SELECT * FROM scored
        |WHERE greatest(containment_a, containment_b) >= 0.8""".stripMargin),

    // the lossy tier-3 cut, oracle-mirrored: blocks > hardCap=13 members
    // are dropped (their record is the call's `dropped` — DedupSpec pins
    // the pairs-dropped <-> buckets-reported correspondence); the oracle
    // folds the same cut via a block-size CTE.
    Gate("q_dedup_ngram_capped", (s, dir) => graft.operators.Dedup.ngramJaccardPairs(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      Seq("lang", "source"), tau = 0.5, bucketCap = 8, hardCap = 13,
      saltGroups = 8).out,
      dedupNgramOracle(Some(13))),

    // TF-IDF cosine pair scoring (Cohen et al. 2003 hybrid
    // baseline): rational idf tf·(N+1)/(df+1) (exact int product, one
    // IEEE division — the q_tfidf_terms precedent), vectors are
    // token-sorted arrays, norms and dots are ORDERED folds, so the
    // oracle replays every double bit-for-bit with list_reduce.
    Gate("q_tfidf_cosine", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val ids = d.select(col("doc_id"))
      val pairs = ids.where(col("doc_id") % 13 === 0).select(col("doc_id").as("ia"))
        .crossJoin(ids.where(col("doc_id") % 17 === 0).select(col("doc_id").as("ib")))
        .where(col("ia") < col("ib"))
      graft.operators.Linkage.tfidfCosinePairs(d, "doc_id", "text", pairs)
    },
      // TF-IDF cosine: weights = CAST(tf*(N+1) AS DOUBLE)/CAST(df+1 AS
      // DOUBLE); vectors list(... ORDER BY term); norm and dot via
      // list_reduce left folds (Spark's aggregate seeds 0.0, and 0.0+x = x
      // exactly, so the bracketings agree); per-term lookup by list_filter.
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
        |  FROM documents WHERE length(trim(text)) > 0
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), w AS (
        |  SELECT doc_id, tf.term,
        |    CAST(tf * (n.n_docs + 1) AS DOUBLE) / CAST(df + 1 AS DOUBLE) AS w
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
        |), vec AS (
        |  SELECT doc_id,
        |    list(struct_pack(term := term, w := w) ORDER BY term) AS v,
        |    sqrt(list_reduce(list_transform(list(w ORDER BY term), x -> x * x),
        |         (x, y) -> x + y)) AS nrm
        |  FROM w GROUP BY doc_id
        |), cand AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM documents a JOIN documents b
        |    ON a.doc_id % 13 = 0 AND b.doc_id % 17 = 0 AND a.doc_id < b.doc_id
        |)
        |SELECT c.ia, c.ib,
        |  list_reduce(list_transform(a.v, s ->
        |    coalesce(list_filter(b.v, x -> x.term = s.term)[1].w,
        |             CAST(0.0 AS DOUBLE)) * s.w),
        |    (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
        |FROM cand c JOIN vec a ON c.ia = a.doc_id JOIN vec b ON c.ib = b.doc_id""".stripMargin),

    // SoftTFIDF (Cohen-Ravikumar-Fienberg): TF-IDF-weighted soft token
    // matching — each a-token's best Jaro-Winkler partner among b's
    // tokens contributes v_a·v_b·jw when jw >= 0.85. Shares the log-free
    // rational idf with q_tfidf_cosine; the oracle replays weighting,
    // norm, the per-token argmax (ties by partner token), and the
    // term-ordered contribution fold bit-for-bit on DuckDB's
    // jaro_winkler_similarity (kernel equality itself gate-proven by
    // q_jaro_winkler_sim / q_monge_elkan).
    Gate("q_soft_tfidf", (s, dir) => {
      val p = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      val pairs = p.where(col("id") % 31 === 0).select(col("id").as("ia"))
        .crossJoin(p.where(col("id") % 37 === 0).select(col("id").as("ib")))
        .where(col("ia") < col("ib"))
      graft.operators.Linkage.softTfIdfPairs(p, "id", "name", pairs,
        theta = 0.85)
    },
      // Monge-Elkan/JW: tokenize on the shared whitespace class (explicit
      // [ \t\n\x0b\f\r] — RE2's \s excludes \x0B), per-(pair, a-token) max
      // over b tokens, then an ORDERED list_reduce left fold over a's token
      // positions (IEEE addition is order-sensitive; the kernel sums in
      // a-token order), divided by a's token count last. Part names always
      // tokenize non-empty, so the tokenless edge rules (both → 1.0, one →
      // 0.0) are pinned in ConformanceSpec rather than here.
      // SoftTFIDF: the q_tfidf_cosine weighting CTEs over part names, then
      // the per-a-token best-JW-partner argmax (row_number ties by partner
      // token) and a term-ordered list_reduce of v_a·v_b·jw contributions.
      // Pairs with no token pair clearing theta emit no row on both sides.
      """WITH n AS (SELECT count(*) AS n_docs FROM part),
        |tok AS (
        |  SELECT p_partkey AS id, unnest(string_split(trim(p_name), ' ')) AS term
        |  FROM part WHERE length(trim(p_name)) > 0
        |), tf AS (
        |  SELECT id, term, count(*) AS tf FROM tok GROUP BY id, term
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), w AS (
        |  SELECT id, tf.term,
        |    CAST(tf * (n.n_docs + 1) AS DOUBLE) / CAST(df + 1 AS DOUBLE) AS w
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
        |), nrm AS (
        |  SELECT id, sqrt(list_reduce(list_transform(list(w ORDER BY term),
        |    x -> x * x), (x, y) -> x + y)) AS nrm
        |  FROM w GROUP BY id
        |), unit AS (
        |  SELECT w.id, w.term, w.w / nrm.nrm AS v
        |  FROM w JOIN nrm ON w.id = nrm.id
        |), cand AS (
        |  SELECT a.p_partkey AS ia, b.p_partkey AS ib
        |  FROM part a JOIN part b
        |    ON a.p_partkey % 31 = 0 AND b.p_partkey % 37 = 0
        |   AND a.p_partkey < b.p_partkey
        |), close_t AS (
        |  SELECT c.ia, c.ib, ta.term AS ta, tb.term AS tb,
        |    ta.v AS va, tb.v AS vb,
        |    CASE WHEN ta.term = tb.term THEN CAST(1.0 AS DOUBLE)
        |         ELSE jaro_winkler_similarity(ta.term, tb.term) END AS jw
        |  FROM cand c JOIN unit ta ON c.ia = ta.id
        |              JOIN unit tb ON c.ib = tb.id
        |  WHERE (CASE WHEN ta.term = tb.term THEN CAST(1.0 AS DOUBLE)
        |         ELSE jaro_winkler_similarity(ta.term, tb.term) END)
        |        >= CAST(0.85 AS DOUBLE)
        |), best AS (
        |  SELECT ia, ib, ta, va * vb * jw AS c FROM (
        |    SELECT *, row_number() OVER (PARTITION BY ia, ib, ta
        |      ORDER BY jw DESC, tb) AS rn
        |    FROM close_t) WHERE rn = 1
        |)
        |SELECT ia, ib, list_reduce(list(c ORDER BY ta), (x, y) -> x + y)
        |  AS soft_tfidf
        |FROM best GROUP BY ia, ib""".stripMargin),

    // Ed-Join: EXACT edit-distance self-join via positional-
    // q-gram prefix filtering — each record joins on its q·k+1 rarest
    // (gram, occurrence) multiset elements (one edit destroys <= q
    // positional grams), length-filtered, verified by the banded
    // levenshtein_capped kernel. Customer names differ only in digit
    // positions, so ed <= 2 pairs are plentiful and every prefix is
    // digit-gram-keyed — the rarity ordering doing real work. The
    // oracle is tier-blind brute force over DuckDB's levenshtein
    // builtin (byte == code point on this ASCII corpus).
    Gate("q_edjoin", (s, dir) => graft.operators.SetSimJoin.edJoinPairs(
      s.read.parquet(s"$dir/customer.parquet").where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("id"), col("c_name")),
      "id", "c_name", k = 2, q = 2, bucketCap = 200, saltGroups = 8).out,
      // Ed-Join oracle: tier-blind brute force, DuckDB builtin levenshtein.
      """SELECT a.c_custkey AS ia, b.c_custkey AS ib,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey % 3 = 0 AND b.c_custkey % 3 = 0
        | AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin),

    // Prefix-filtered set-similarity self-join: the EXACT
    // sub-quadratic Jaccard join (AllPairs/Vernica prefix filter over
    // rarest-first token orderings) — where MinHash-LSH trades recall for
    // speed, this misses nothing >= tau by construction. bucketCap=40
    // forces the salted tier to actually run in the gated plan (both
    // tiers are lossless, so the oracle is tier-blind brute force). The
    // %2 subsample keeps the oracle's all-pairs verification tractable at
    // sf0.1; the Spark side scales sub-quadratically and doesn't need it.
    Gate("q_setsim_join", (s, dir) => graft.operators.SetSimJoin.prefixJaccardPairs(
      s.read.parquet(s"$dir/documents.parquet").where(col("doc_id") % 2 === 0),
      "doc_id", "text", tau = 0.95, bucketCap = 40, saltGroups = 8).out,
      // Prefix-filter join oracle: tier-blind brute force — ALL pairs of the
      // subsampled corpus, exact distinct-token Jaccard, threshold at a
      // DOUBLE-cast tau. The prefix/length/salt machinery is lossless below
      // hardCap (default: unbounded), so completeness of the filtered join
      // is exactly what equality against this proves.
      """WITH d AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents
        |  WHERE doc_id % 2 = 0 AND length(trim(text)) > 0
        |), p AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |)
        |SELECT ia, ib, jaccard FROM p
        |WHERE jaccard >= CAST(0.95 AS DOUBLE)""".stripMargin),

    // Exact CONTAINMENT self-join (block-free companion to
    // q_dedup_containment): probe-prefix × full-inverted-index — the
    // pair's overlap requirement is tau·min(|A|,|B|), so the smaller
    // side's tau-prefix must hit the larger side's full token list;
    // complete by the one-sided prefix lemma. bucketCap=40 exercises
    // the asymmetric salted index tier in the gated plan (lossless, so
    // the oracle stays tier-blind brute force over the %2 slice).
    Gate("q_containment_join", (s, dir) => graft.operators.SetSimJoin
      .prefixContainmentPairs(
        s.read.parquet(s"$dir/documents.parquet")
          .where(col("doc_id") % 2 === 0),
        "doc_id", "text", tau = 0.8, bucketCap = 40, saltGroups = 8).out,
      // tier-blind brute-force max-containment truth over the %2 slice.
      """WITH d AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents
        |  WHERE doc_id % 2 = 0 AND length(trim(text)) > 0
        |), p AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      CAST(len(a.toks) AS DOUBLE) AS containment_a,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      CAST(len(b.toks) AS DOUBLE) AS containment_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE)
        |      AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |)
        |SELECT ia, ib, containment_a, containment_b, jaccard FROM p
        |WHERE greatest(containment_a, containment_b)
        |  >= CAST(0.8 AS DOUBLE)""".stripMargin),

    // MinHash-LSH near-dup (sub-quadratic path). sha256 family → the full
    // pipeline (signature, banding, bucket cap, candidate join, exact
    // verification) is hash-checked against a DuckDB re-derivation.
    Gate("q_dedup_minhash_lsh", (s, dir) => graft.operators.Dedup.minhashLshPairs(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text", tau = 0.5,
      hashFamily = "sha256"),
      minhashLshOracle),

    // C4-style corpus-wide span dedup over the same synthesized
    // multi-line view as q_quality_repetition: within-doc dups (line 3 ==
    // line 1) AND cross-doc dups (near-identical corpus texts share
    // 60-char prefixes) both collapse to their first occurrence
    Gate("q_dedup_spans", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val ml = mlView
      graft.operators.Dedup.dropRepeatedSpans(
        d.select(col("doc_id"), ml.as("ml")), "doc_id", "ml")
    },
      // span dedup: parallel unnests of equal length zip element-wise in
      // DuckDB, giving (line, 1-based pos); rank/rebuild mirror the window
      // and ordered string_agg exactly (pos only ever used for ORDERING,
      // so the 0- vs 1-based difference between engines cannot matter)
      """WITH d AS (
        |  SELECT doc_id,
        |    __ML_SQL__ AS ml
        |  FROM documents
        |), lines AS (
        |  SELECT doc_id, line, pos FROM (
        |    SELECT doc_id,
        |      unnest(string_split(ml, chr(10))) AS line,
        |      unnest(range(1, len(string_split(ml, chr(10))) + 1)) AS pos
        |    FROM d)
        |  WHERE len(line) > 0
        |), kept AS (
        |  SELECT doc_id, line, pos,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rnk
        |  FROM lines
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |  FROM kept WHERE rnk = 1 GROUP BY doc_id
        |)
        |SELECT d.doc_id AS id, COALESCE(r.clean_text, '') AS clean_text
        |FROM d LEFT JOIN rebuilt r USING (doc_id)""".stripMargin),

    // Lee-et-al-style exact-substring dedup (token-window formulation):
    // every 8-token window occurring >1× corpus-wide is marked at every
    // occurrence but its global (id, pos)-first; overlapping/touching
    // windows merge into maximal spans. k = 8 (not the paper's 50) so the
    // synthetic corpus's shared 60-char prefixes actually trip it.
    Gate("q_dedup_substring_spans", (s, dir) =>
      graft.operators.Dedup.duplicateTokenSpans(
        spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text", k = 8),
      // exact-substring dedup: full re-derivation — tokenize on the shared
      // whitespace class, mint every 8-token window, keep-first via
      // row_number over (id, pos) order (the hot-gram-safe groupBy+join on
      // the Spark side is semantically identical), then the same
      // running-max interval merge. Window start positions are 1-based on
      // both engines by construction.
      s"""WITH $substringSpanCtes
        |SELECT id, span_start, span_end,
        |  span_end - span_start + 1 AS span_tokens
        |FROM spans""".stripMargin),

    // the applied form: documents rebuilt with marked spans cut out
    // (whitespace-normalized rejoin; possibly empty)
    Gate("q_dedup_substring_strip", (s, dir) =>
      graft.operators.Dedup.stripDuplicateTokenSpans(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 8),
      // the applied form: anti-range-join the token positions against the
      // merged spans, rebuild in position order, empty string when nothing
      // survives (or the document had no tokens)
      s"""WITH $substringSpanCtes, tokpos AS (
        |  SELECT id, unnest(tk) AS tok, unnest(range(1, len(tk) + 1)) AS pos
        |  FROM toks
        |), kept AS (
        |  SELECT t.id, t.tok, t.pos FROM tokpos t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.id = t.id AND t.pos BETWEEN sp.span_start AND sp.span_end)
        |), rebuilt AS (
        |  SELECT id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY id
        |)
        |SELECT d.doc_id AS id, COALESCE(r.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN rebuilt r ON r.id = d.doc_id""".stripMargin),

    // near-dup groups: verified MinHash pairs transitively closed into
    // clusters; every doc maps to its cluster's min id (itself when
    // unique) — the final keep-one-per-group dedup decision
    Gate("q_dedup_groups", (s, dir) => graft.operators.Dedup.nearDupGroups(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      tau = 0.5, hashFamily = "sha256").out,
      nearDupGroupsOracle),

    // incremental clustering: CC over the even-doc edges first (the
    // existing corpus), then ConnectedComponents.addEdges folds the
    // odd-touching edges in as a batch — contracted-graph CC ∝ batch,
    // relabel is a broadcast join. Must hash-match the FULL q_dedup_groups
    // oracle: incremental is a cost refactoring, not new semantics.
    Gate("q_dedup_groups_incremental", (s, dir) => {
      val d = spread(s.read.parquet(s"$dir/documents.parquet"))
      // the LSH pair frame feeds BOTH the base-corpus CC and the batch
      // addEdges
      val pairs = Frames.shared(graft.operators.Dedup.minhashLshPairs(d,
        "doc_id", "text", tau = 0.5, hashFamily = "sha256")
        .select(col("ia"), col("ib")))
      val baseEdges = pairs
        .where(pmod(col("ia"), lit(2)) === 0)
        .where(pmod(col("ib"), lit(2)) === 0)
      val batchEdges = pairs
        .where(pmod(col("ia"), lit(2)) === 1 || pmod(col("ib"), lit(2)) === 1)
      val asg = graft.operators.ConnectedComponents.run(baseEdges)
      val updated = graft.operators.ConnectedComponents.addEdges(asg, batchEdges)
      d.select(col("doc_id").as("id"))
        .join(updated, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("canonical_id"))
    },
      nearDupGroupsOracle),

    // incremental dedup: the NEW half of the corpus (odd doc_id, the
    // "batch") near-dup-checked against the EXISTING half (even doc_id,
    // the "index") — candidates only cross sides, never corpus×corpus,
    // so incremental cost ∝ batch size. Same sha256 family ⇒ hash-grade.
    Gate("q_dedup_incremental", (s, dir) => {
      val d = spread(s.read.parquet(s"$dir/documents.parquet"))
      graft.operators.Dedup.minhashLshIncremental(
        d.where(pmod(col("doc_id"), lit(2)) === 0),
        d.where(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", tau = 0.5, hashFamily = "sha256")
    },
      minhashIncrementalOracle),

    // incremental dedup via a PERSISTED band index — the recurring
    // continuous-crawl shape: Dedup.bandIndex(corpus) is built ONCE,
    // round-tripped through parquet (exactly what a daily-batch
    // production run stores), and the batch joins against the stored
    // index, so per-batch cost is ∝ batch with no corpus re-banding.
    // Hash-checked against the SAME oracle as q_dedup_incremental: the
    // index path is a cost refactoring, not new semantics.
    Gate("q_dedup_incremental_indexed", (s, dir) => {
      val d = spread(s.read.parquet(s"$dir/documents.parquet"))
      val corpus = d.where(pmod(col("doc_id"), lit(2)) === 0)
      val batch = d.where(pmod(col("doc_id"), lit(2)) === 1)
      val idxDir = tempTree("graft_band_index")
      graft.operators.Dedup.bandIndex(corpus, "doc_id", "text",
        hashFamily = "sha256").out.write.mode("overwrite").parquet(idxDir)
      graft.operators.Dedup.minhashLshIncrementalIndexed(
        s.read.parquet(idxDir), corpus, batch, "doc_id", "text",
        tau = 0.5, hashFamily = "sha256")
    },
      // the indexed path must reproduce the direct path bit-for-bit: same
      // oracle, so any drift between bandIndex+indexed-join and the one-shot
      // operator fails the gate
      minhashIncrementalOracle),

    // Bloom-filter membership with the FULL production cycle: build the
    // set-bits frame over the even-custkey half, persist it to parquet,
    // read it back, probe ALL customers — no-false-negative and FP
    // accounting columns both derived (exact membership = key parity,
    // names being 1:1 with keys). Every verdict is hash-checked against
    // a DuckDB re-derivation of the same sha256 double-hash positions.
    Gate("q_bloom_membership", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val corpus = c.where(pmod(col("c_custkey"), lit(2)) === 0)
      val bitsDir = tempTree("graft_bloom_bits")
      graft.operators.Dedup.bloomBits(corpus, "c_name", m = 65536, k = 4)
        .write.mode("overwrite").parquet(bitsDir)
      val probed = graft.operators.Dedup.bloomProbe(
        s.read.parquet(bitsDir), c, "c_custkey", "c_name", m = 65536, k = 4)
      probed
        .join(c.select(col("c_custkey").as("id"),
          (pmod(col("c_custkey"), lit(2)) === 0).as("exact_hit")), "id")
        .select(col("id"), col("bloom_hit"), col("exact_hit"),
          (col("bloom_hit") && !col("exact_hit")).as("is_fp"))
    },
      // Bloom set-bits + probe verdicts rebuilt from scratch: sha256
      // double-hash, positions (h1 + i*h2) % 65536, hit ⇔ all distinct
      // positions present.
      s"""WITH ch AS (
        |  SELECT ${hexU32Sql("h", 1)} AS h1, ${hexU32Sql("h", 9)} AS h2
        |  FROM (SELECT sha256(c_name) AS h FROM customer
        |        WHERE c_custkey % 2 = 0) z
        |), bits AS (
        |  SELECT DISTINCT (h1 + r.i * h2) % 65536 AS bit
        |  FROM ch CROSS JOIN range(0, 4) r(i)
        |), ph AS (
        |  SELECT id, ${hexU32Sql("h", 1)} AS h1, ${hexU32Sql("h", 9)} AS h2
        |  FROM (SELECT c_custkey AS id, sha256(c_name) AS h FROM customer) z
        |), pos AS (
        |  SELECT DISTINCT id, (h1 + r.i * h2) % 65536 AS bit
        |  FROM ph CROSS JOIN range(0, 4) r(i)
        |)
        |SELECT p.id, count(*) = count(b.bit) AS bloom_hit,
        |  (p.id % 2 = 0) AS exact_hit,
        |  (count(*) = count(b.bit)) AND NOT (p.id % 2 = 0) AS is_fp
        |FROM pos p LEFT JOIN bits b ON p.bit = b.bit
        |GROUP BY p.id""".stripMargin),

    // Filter-fill observability for the same build: bits_set / m /
    // fill_ratio (rational, hash-safe) — the gauge that says when the
    // next build needs a bigger m.
    Gate("q_bloom_stats", (s, dir) => graft.operators.Dedup.bloomStats(
      graft.operators.Dedup.bloomBits(
        s.read.parquet(s"$dir/customer.parquet")
          .where(pmod(col("c_custkey"), lit(2)) === 0),
        "c_name", m = 65536, k = 4), m = 65536),
      s"""WITH ch AS (
        |  SELECT ${hexU32Sql("h", 1)} AS h1, ${hexU32Sql("h", 9)} AS h2
        |  FROM (SELECT sha256(c_name) AS h FROM customer
        |        WHERE c_custkey % 2 = 0) z
        |), bits AS (
        |  SELECT DISTINCT (h1 + r.i * h2) % 65536 AS bit
        |  FROM ch CROSS JOIN range(0, 4) r(i)
        |)
        |SELECT CAST(count(*) AS BIGINT) AS bits_set, 65536 AS m,
        |  CAST(count(*) AS DOUBLE) / CAST(65536 AS DOUBLE) AS fill_ratio
        |FROM bits""".stripMargin),

    // SimHash near-dup. sha256 family (60-bit signatures from sha256 token
    // hashes) → the whole pipeline (signature, 15-bit banding, 3-tier
    // bucket policy, Hamming verification) is hash-checked against a
    // DuckDB re-derivation (oracle cut = hardCap, the only lossy tier —
    // opt-in: the operator's default hardCap is Int.MaxValue/lossless, so
    // this gate passes the finite cap explicitly, oracle-mirrored).
    Gate("q_dedup_simhash", (s, dir) => graft.operators.Dedup.simhashPairs(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      maxHamming = 8, hashFamily = "sha256", hardCap = 100000).out,
      dedupSimhashOracle(Some(100000))),

    // SimHash salted tier losslessness proof: bucketCap=1 forces EVERY
    // multi-member band bucket through the salted grid self-join; the
    // result must equal the UNCAPPED oracle — the grid loses and invents
    // nothing (the simhash analogue of q_salted_pairs).
    Gate("q_dedup_simhash_salted", (s, dir) => graft.operators.Dedup.simhashPairs(
      spread(s.read.parquet(s"$dir/documents.parquet")), "doc_id", "text",
      maxHamming = 8, hashFamily = "sha256",
      bucketCap = 1, hardCap = 1000000000, saltGroups = 8).out,
      dedupSimhashOracle(None)),

    // LSH band planner: every (bands, rows) factoring of numHashes scored
    // by |b·t^r − 1| (the (1/b)^(1/r) = t balance point, in pinned
    // multiply-chain arithmetic — no pow/log, so the argmin cannot hang
    // on libm ulps), then the chosen plan's collision S-curve over a
    // similarity grid. The oracle re-derives choice AND curve with
    // recursive multiply accumulators in the same fold order.
    Gate("q_lsh_plan", (s, dir) =>
      graft.operators.Dedup.lshBandPlan(s, numHashes = 24, threshold = 0.7,
        grid = (1 to 19).map(_ * 0.05)),
      // LSH planner: plan table + grid as VALUES generated from the SAME
      // Scala sequences (one-list discipline; grid doubles emitted in e0
      // notation so DuckDB parses them as DOUBLE directly — a 17-digit
      // DECIMAL intermediate could double-round); powers re-derived as
      // recursive multiply accumulators in the identical left-fold order.
      // Oracle for q_lsh_plan, generated from the same numHashes/threshold/
      // grid the Spark call uses. Doubles are emitted with an e0 suffix so
      // DuckDB's parser produces a DOUBLE directly (no DECIMAL intermediate);
      // every power is a recursive accumulator multiplying in the identical
      // left-fold order as Dedup.powChain.
      {
        val nh = 24
        val t = 0.7
        val grid = (1 to 19).map(_ * 0.05)
        def dbl(x: Double): String = {
          val s = x.toString
          if (s.contains("e") || s.contains("E")) s else s + "e0"
        }
        val pairVals = (1 to nh).filter(nh % _ == 0)
          .map(b => s"($b, ${nh / b})").mkString(", ")
        val gridVals = grid.map(s => s"(${dbl(s)})").mkString(", ")
        s"""WITH RECURSIVE pairs(b, r) AS (VALUES $pairVals),
           |grid(s) AS (VALUES $gridVals),
           |tp(b, r, i, acc) AS (
           |  SELECT b, r, 1, ${dbl(t)} FROM pairs
           |  UNION ALL SELECT b, r, i + 1, acc * ${dbl(t)} FROM tp WHERE i < r
           |), score AS (
           |  SELECT b, r, abs(acc * b - 1.0) AS sc FROM tp WHERE i = r
           |), chosen AS (
           |  SELECT b, r FROM score ORDER BY sc ASC, r DESC LIMIT 1
           |), sp(s, r, b, i, acc) AS (
           |  SELECT g.s, c.r, c.b, 1, g.s FROM grid g, chosen c
           |  UNION ALL SELECT s, r, b, i + 1, acc * s FROM sp WHERE i < r
           |), qb(s, r, b, q, j, acc) AS (
           |  SELECT s, r, b, 1.0 - acc, 1, 1.0 - acc FROM sp WHERE i = r
           |  UNION ALL SELECT s, r, b, q, j + 1, acc * q FROM qb WHERE j < b
           |)
           |SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
           |  s, 1.0 - acc AS p_collide
           |FROM qb WHERE j = b""".stripMargin
      }),
  )
}
