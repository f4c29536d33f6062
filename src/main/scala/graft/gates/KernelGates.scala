package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.functions._

/** Gates of the string-similarity kernels: the seven polars-strsim
  * kernels and the ~30 further edit, alignment, token and bag kernels
  * over nation-blocked customer and brand-blocked part pairs, the
  * error-model recall gates, and the thresholded match-pair faces. */
private[graft] object KernelGates {

  private val partPairsSql =
    """FROM part a JOIN part b
      | ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey""".stripMargin

  /** The brand-blocked part pairs as the opening CTE of an oracle:
    * `WITH [RECURSIVE] pairs (ka, kb, na, nb)`, with `filter` (an `AND`
    * or `WHERE` clause) as a last line when given. */
  private def partPairsCte(recursive: Boolean = false,
      filter: String = ""): String = {
    val last = if (filter.isEmpty) "" else s"\n  $filter"
    s"""WITH ${if (recursive) "RECURSIVE " else ""}pairs AS (
       |  SELECT a.p_partkey AS ka, b.p_partkey AS kb,
       |         a.p_name AS na, b.p_name AS nb
       |  $partPairsSql$last
       |)""".stripMargin
  }

  /** The [[partPairsCte]] filter keeping the pairs with ka ≡ 0 (mod `a`)
    * and kb ≡ 0 (mod `b`). */
  private def partSample(a: Int, b: Int): String =
    s"AND a.p_partkey % $a = 0 AND b.p_partkey % $b = 0"

  /** [[partPairsCte]] (its `filter` passed on) and `exploded`, one row
    * per char of each side with the side flags `ac`/`bc`. */
  private def bagExplodedSql(filter: String = ""): String =
    s"""${partPairsCte(filter = filter)}, exploded AS (
       |  SELECT ka, kb, unnest(string_split(na, '')) AS ch, 1 AS ac, 0 AS bc FROM pairs
       |  UNION ALL
       |  SELECT ka, kb, unnest(string_split(nb, '')) AS ch, 0 AS ac, 1 AS bc FROM pairs
       |)""".stripMargin

  /** [[bagExplodedSql]] and `counts (ka, kb, ch, ca, cb)`, each char's
    * count on each side of the pair. */
  private def bagCountsSql(filter: String = ""): String =
    s"""${bagExplodedSql(filter)}, counts AS (
       |  SELECT ka, kb, ch, sum(ac) AS ca, sum(cb) AS cb
       |  FROM (SELECT ka, kb, ch, ac, bc AS cb FROM exploded) GROUP BY ka, kb, ch
       |)""".stripMargin

  /** The DP gates' input: the nationkey-blocked customer pairs
    * subsampled on both keys (ka % 17, kb % 5) to keep the oracle's
    * per-cell recursion tractable. */
  private def dpPairs(s: SparkSession, dir: String): DataFrame =
    customerPairs(s, dir).where(col("ka") % 17 === 0 && col("kb") % 5 === 0)

  /** SQL mirror of [[dpPairs]] as the opening CTEs of a DP oracle:
    * `WITH RECURSIVE pairs (ka, kb, na, nb)` and `prep`, each unequal
    * pair's code-point arrays `xa`, `xb` and lengths `n`, `m`
    * (string_split(s, '') indexes by code point in DuckDB, matching the
    * kernels' decode loop). */
  private val dpPrepSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
       |         a.c_name AS na, b.c_name AS nb
       |  $customerPairsSql
       |  AND a.c_custkey % 17 = 0 AND b.c_custkey % 5 = 0
       |), prep AS (
       |  SELECT ka, kb, string_split(na, '') AS xa, string_split(nb, '') AS xb,
       |         length(na) AS n, length(nb) AS m
       |  FROM pairs WHERE na <> nb
       |)""".stripMargin

  /** A one-matrix DP oracle over [[dpPrepSql]]: one cell per recursion
    * step in row-major order u = i*(m+1)+j, with the last 2m+4 cells
    * carried as a list; for cell u, nw[2m+4] = d[u-1] (left), nw[m+4] =
    * d[u-(m+1)] (up), nw[m+3] = d[u-(m+2)] (diagonal) and nw[1] =
    * d[u-(2m+4)] (the i-2, j-2 lookback). `cell` holds the `WHEN`/`ELSE`
    * arms of cell u = t+1, `sim` the similarity of an unequal pair from
    * its last cell `d.cell`; equal names score 1.0. */
  private def windowDpSql(cell: String, sim: String): String =
    s"""$dpPrepSql, dp AS (
       |  SELECT ka, kb, xa, xb, n, m,
       |         0 AS t, CAST(0 AS BIGINT) AS cell,
       |         list_transform(range(1, 2*m + 5), k -> CAST(NULL AS BIGINT)) AS win
       |  FROM prep
       |  UNION ALL
       |  SELECT ka, kb, xa, xb, n, m, t + 1 AS t,
       |    CASE
       |      $cell
       |    END AS cell,
       |    nw AS win
       |  FROM (SELECT *, win[2:] || [cell] AS nw
       |        FROM dp WHERE t < (n+1)*(m+1) - 1) q
       |)
       |SELECT p.ka, p.kb,
       |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
       |       ELSE $sim
       |  END AS sim
       |FROM pairs p
       |LEFT JOIN (SELECT ka, kb, cell FROM dp
       |           WHERE t = (n+1)*(m+1) - 1) d
       |  ON p.ka = d.ka AND p.kb = d.kb""".stripMargin

  /** Zobel-Dart letter-group bitmask of an upper-cased char `ch` (bound by
    * the enclosing DuckDB lambda) — groups overlap, mirroring
    * [[graft.strsim.StrSimKernels]]'s editexMask bit-for-bit. */
  private val editexMaskSql =
    """((CASE WHEN ch IN ('A','E','I','O','U','Y') THEN 1 ELSE 0 END)
      | + (CASE WHEN ch IN ('B','P') THEN 2 ELSE 0 END)
      | + (CASE WHEN ch IN ('C','K','Q') THEN 4 ELSE 0 END)
      | + (CASE WHEN ch IN ('D','T') THEN 8 ELSE 0 END)
      | + (CASE WHEN ch IN ('L','R') THEN 16 ELSE 0 END)
      | + (CASE WHEN ch IN ('M','N') THEN 32 ELSE 0 END)
      | + (CASE WHEN ch IN ('G','J') THEN 64 ELSE 0 END)
      | + (CASE WHEN ch IN ('F','P','V') THEN 128 ELSE 0 END)
      | + (CASE WHEN ch IN ('S','X','Z') THEN 256 ELSE 0 END)
      | + (CASE WHEN ch IN ('C','S','Z') THEN 512 ELSE 0 END))""".stripMargin

  /** Oracle of the composite-score match pairs over [[bagCountsSql]]
    * (its `filter` passed on): JW + bag Dice ≥ 1.75, equal names scoring
    * 1.0 on each kernel. */
  private def matchPairsSql(filter: String = ""): String =
    s"""${bagCountsSql(filter)}, sums AS (
       |  SELECT ka, kb, sum(least(ca, cb)) AS inter, sum(ca) + sum(cb) AS total
       |  FROM counts GROUP BY ka, kb
       |)
       |SELECT p.ka, p.kb
       |FROM pairs p JOIN sums s ON p.ka = s.ka AND p.kb = s.kb
       |WHERE (CASE WHEN p.na = p.nb THEN 1.0
       |            ELSE jaro_winkler_similarity(p.na, p.nb) END
       |     + CASE WHEN p.na = p.nb THEN 1.0
       |            ELSE 2.0 * CAST(s.inter AS DOUBLE) / s.total END) >= 1.75""".stripMargin

  /** Multiset (bag-of-chars) similarity oracle: explode both strings to
    * per-char counts, then Σmin / Σmax (jaccard) or 2Σmin / (|a|+|b|)
    * (dice). Matches reference strsim.rs:286-344 semantics relationally. */
  private def bagSimSql(simExpr: String): String =
    s"""${bagCountsSql()}, sums AS (
       |  SELECT ka, kb, sum(least(ca, cb)) AS inter,
       |         sum(greatest(ca, cb)) AS uni, sum(ca) + sum(cb) AS total
       |  FROM counts GROUP BY ka, kb
       |)
       |SELECT p.ka, p.kb,
       |       CASE WHEN p.na = p.nb THEN 1.0 ELSE $simExpr END AS sim
       |FROM pairs p JOIN sums s ON p.ka = s.ka AND p.kb = s.kb""".stripMargin

  /** Shared corruption CTE chain (sha256 sample → op/pos/char nibbles →
    * substr surgery) ending in `g(c_custkey, c_name, corrupted, op)`. */
  private def errorModelCtes: String = {
    def nib(j: Int) = s"(strpos('0123456789abcdef', substr(hx, $j, 1)) - 1)"
    val frac32 = shaPrefix32()
    s"""WITH h AS (
       |  SELECT c_custkey, c_name,
       |         sha256(CAST(c_custkey AS VARCHAR) || ':7') AS hx
       |  FROM customer
       |), samp AS (
       |  SELECT * FROM h
       |  WHERE CAST($frac32 AS DOUBLE) / 4294967296.0 < CAST('0.3' AS DOUBLE)
       |), d AS (
       |  SELECT c_custkey, c_name, length(c_name) AS len,
       |         ${nib(9)} % 4 AS op_raw,
       |         ${nib(10)} * 16 + ${nib(11)} AS pos_raw,
       |         (${nib(12)} * 16 + ${nib(13)}) % 26 AS sub_idx
       |  FROM samp
       |), e AS (
       |  SELECT *, CASE WHEN len = 0 THEN 3
       |                 WHEN op_raw = 2 AND len < 2 THEN 1
       |                 ELSE op_raw END AS op
       |  FROM d
       |), f AS (
       |  SELECT *,
       |    pos_raw % (CASE WHEN op = 3 THEN len + 1
       |                    WHEN op = 2 THEN len - 1 ELSE len END) + 1 AS pos,
       |    substr('abcdefghijklmnopqrstuvwxyz',
       |           CAST(sub_idx + 1 AS INT), 1) AS pch
       |  FROM e
       |), g AS (
       |  SELECT c_custkey, c_name,
       |    CASE op
       |      WHEN 0 THEN substr(c_name, 1, pos - 1)
       |                  || substr(c_name, pos + 1, len)
       |      WHEN 1 THEN substr(c_name, 1, pos - 1) || pch
       |                  || substr(c_name, pos + 1, len)
       |      WHEN 2 THEN substr(c_name, 1, pos - 1)
       |                  || substr(c_name, pos + 1, 1)
       |                  || substr(c_name, pos, 1)
       |                  || substr(c_name, pos + 2, len)
       |      ELSE substr(c_name, 1, pos - 1) || pch
       |           || substr(c_name, pos, len)
       |    END AS corrupted,
       |    op
       |  FROM f
       |)""".stripMargin
  }

  val all: Seq[Gate] = Seq(
    Gate("q_levenshtein_sim", (s, dir) => customerPairs(s, dir)
      .select(col("ka"), col("kb"), levenshtein_sim(col("na"), col("nb")).as("sim")),
      s"""SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  CASE WHEN a.c_name = b.c_name THEN 1.0
         |       ELSE 1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
         |            / greatest(length(a.c_name), length(b.c_name)) END AS sim
         |$customerPairsSql""".stripMargin),
    Gate("q_damerau_levenshtein_sim", (s, dir) => customerPairs(s, dir)
      .select(col("ka"), col("kb"), damerau_levenshtein_sim(col("na"), col("nb")).as("sim")),
      s"""SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  CASE WHEN a.c_name = b.c_name THEN 1.0
         |       ELSE 1.0 - CAST(damerau_levenshtein(a.c_name, b.c_name) AS DOUBLE)
         |            / greatest(length(a.c_name), length(b.c_name)) END AS sim
         |$customerPairsSql""".stripMargin),
    Gate("q_hamming_sim", (s, dir) => customerPairs(s, dir)
      .select(col("ka"), col("kb"), hamming_sim(col("na"), col("nb")).as("sim")),
      s"""SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  CASE WHEN a.c_name = b.c_name THEN 1.0
         |       ELSE 1.0 - CAST(
         |         mismatches(substr(a.c_name, 1, least(length(a.c_name), length(b.c_name))),
         |                    substr(b.c_name, 1, least(length(a.c_name), length(b.c_name))))
         |         + abs(length(a.c_name) - length(b.c_name)) AS DOUBLE)
         |         / greatest(length(a.c_name), length(b.c_name)) END AS sim
         |$customerPairsSql""".stripMargin),
    Gate("q_jaro_sim", (s, dir) => customerPairs(s, dir)
      .select(col("ka"), col("kb"), jaro_sim(col("na"), col("nb")).as("sim")),
      s"""SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  CASE WHEN a.c_name = b.c_name THEN 1.0
         |       ELSE jaro_similarity(a.c_name, b.c_name) END AS sim
         |$customerPairsSql""".stripMargin),
    Gate("q_jaro_winkler_sim", (s, dir) => customerPairs(s, dir)
      .select(col("ka"), col("kb"), jaro_winkler_sim(col("na"), col("nb")).as("sim")),
      s"""SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  CASE WHEN a.c_name = b.c_name THEN 1.0
         |       ELSE jaro_winkler_similarity(a.c_name, b.c_name) END AS sim
         |$customerPairsSql""".stripMargin),
    Gate("q_jaccard_sim", (s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"), jaccard_sim(col("na"), col("nb")).as("sim")),
      bagSimSql("CAST(s.inter AS DOUBLE) / s.uni")),
    Gate("q_sorensen_dice_sim", (s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"), sorensen_dice_sim(col("na"), col("nb")).as("sim")),
      bagSimSql("2.0 * CAST(s.inter AS DOUBLE) / s.total")),

    // Bag similarity (Bartolini-Ciaccia-Patella bag distance as a
    // similarity): Σmin/max(|a|,|b|) over code-point bags — the CHEAPEST
    // edit pre-filter tier (bag distance lower-bounds Levenshtein, so
    // bag_sim ≥ θ soundly admits for levenshtein_sim ≥ θ with one scratch
    // sort-merge, below qgram_sim in the stack). Oracle reuses the
    // q_jaccard_sim relational bag with the max-length denominator.
    Gate("q_bag_sim", (s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"), bag_sim(col("na"), col("nb")).as("sim")),
      // bag similarity = Σmin / max(|a|,|b|) — same relational bag, the
      // max-length denominator (kernel: inter.toDouble / max(n,m).toDouble)
      bagSimSql("CAST(s.inter AS DOUBLE) / " +
        "CAST(greatest(length(p.na), length(p.nb)) AS DOUBLE)")),

    // Ratcliff-Obershelp (gestalt / Python difflib.SequenceMatcher.ratio,
    // junk-free): 2·M/(|a|+|b|) with M from recursive longest-common-
    // substring splitting, ties earliest-in-a then earliest-in-b. The
    // oracle replays the RECURSION itself: a recursive CTE over segment
    // rows (path-id keyed so identical segment texts never merge), each
    // iteration finding every segment's best block via the q_lcsstr_sim
    // substring-enumeration technique + a (l DESC, i, j) row_number, then
    // emitting the left/right child segments plus a match-mass tombstone;
    // the editex-grade double-key subsample keeps the per-pair recursion
    // (~len² candidate rows × depth iterations) tractable at sf0.1.
    Gate("q_ratcliff_sim", (s, dir) => partPairs(s, dir)
      .where(col("ka") % 41 === 0 && col("kb") % 13 === 0)
      .select(col("ka"), col("kb"),
        ratcliff_obershelp_sim(col("na"), col("nb")).as("sim")),
      // Ratcliff-Obershelp: replay the gestalt RECURSION itself. Each seg
      // row is one pending segment pair keyed by a base-3 path id (so two
      // segments with identical text inside one pair can never merge in the
      // window partition); one recursive step finds each segment's best
      // block — candidates = every substring of sa (start × length double
      // unnest, the q_lcsstr_sim technique) that occurs in sb, j =
      // position() (the FIRST occurrence), winner by (l DESC, i, j) — and
      // emits the left child, the right child, and a match-mass tombstone
      // (sa = sb = '', so it never recurses). M = sum of tombstone masses
      // per pair; sim = 2·M/(n+m) with the kernel's multiply-then-divide
      // IEEE order.
      s"""${partPairsCte(recursive = true, filter = partSample(41, 13))}, seg(ka, kb, sid, sa, sb, mlen) AS (
         |  SELECT ka, kb, CAST(1 AS BIGINT), na, nb, 0
         |  FROM pairs WHERE na <> nb AND length(na) > 0 AND length(nb) > 0
         |  UNION ALL
         |  SELECT ka, kb,
         |    sid * 3 + part,
         |    CASE part WHEN 0 THEN substr(sa, 1, i - 1)
         |              WHEN 1 THEN substr(sa, i + l) ELSE '' END,
         |    CASE part WHEN 0 THEN substr(sb, 1, j - 1)
         |              WHEN 1 THEN substr(sb, j + l) ELSE '' END,
         |    CASE part WHEN 2 THEN l ELSE 0 END
         |  FROM (
         |    SELECT ka, kb, sid, sa, sb, l, i, j,
         |      row_number() OVER (PARTITION BY ka, kb, sid
         |                         ORDER BY l DESC, i ASC, j ASC) AS rn
         |    FROM (
         |      SELECT ka, kb, sid, sa, sb, l, i,
         |        position(substr(sa, i, l) IN sb) AS j
         |      FROM (
         |        SELECT ka, kb, sid, sa, sb, i,
         |          CAST(unnest(range(1, length(sa) - i + 2)) AS INT) AS l
         |        FROM (
         |          SELECT ka, kb, sid, sa, sb,
         |            CAST(unnest(range(1, length(sa) + 1)) AS INT) AS i
         |          FROM seg WHERE length(sa) > 0 AND length(sb) > 0
         |        ) q1
         |      ) q2
         |    ) c
         |    WHERE j > 0
         |  ) best
         |  CROSS JOIN (VALUES (0), (1), (2)) p(part)
         |  WHERE rn = 1
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       WHEN length(p.na) = 0 OR length(p.nb) = 0 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(2.0 AS DOUBLE) * CAST(coalesce(m.tot, 0) AS DOUBLE) /
         |            CAST(length(p.na) + length(p.nb) AS DOUBLE)
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN (SELECT ka, kb, sum(mlen) AS tot FROM seg GROUP BY ka, kb) m
         |  ON p.ka = m.ka AND p.kb = m.kb""".stripMargin),

    // Partial Ratcliff-Obershelp (thefuzz partial_ratio, exhaustive
    // best-window variant): max gestalt ratio of the shorter string vs
    // every same-length window of the longer. Oracle = the q_ratcliff_sim
    // recursion with one extra root dimension (the window offset) carried
    // through the CTE and a max over offsets at the end.
    Gate("q_partial_ratcliff", (s, dir) => partPairs(s, dir)
      .where(col("ka") % 41 === 0 && col("kb") % 26 === 0)
      .select(col("ka"), col("kb"),
        partial_ratcliff_sim(col("na"), col("nb")).as("sim")),
      // Partial Ratcliff-Obershelp: the same gestalt recursion with the
      // window OFFSET as an extra root dimension. sides picks the pattern
      // (shorter, ties → na) and text (longer); wins enumerates every
      // same-length window; seg replays the recursion per (pair, off);
      // offmass scores each window (pattern = window short-circuits to full
      // mass, mirroring the kernel's byte-equal early path inside
      // roMatchMass's caller); the final ratio is max(mass)/patlen — the
      // kernel's pinned best.toDouble / sLen.toDouble (IEEE-equal to the
      // per-window 2M/(S+S)).
      s"""${partPairsCte(recursive = true, filter = partSample(41, 26))}, sides AS (
         |  SELECT ka, kb, na, nb,
         |    CASE WHEN length(na) <= length(nb) THEN na ELSE nb END AS pat,
         |    CASE WHEN length(na) <= length(nb) THEN nb ELSE na END AS txt
         |  FROM pairs
         |), wins AS (
         |  SELECT ka, kb, off, pat, substr(txt, off, length(pat)) AS win
         |  FROM (
         |    SELECT ka, kb, pat, txt,
         |      CAST(unnest(range(1, length(txt) - length(pat) + 2)) AS INT) AS off
         |    FROM sides WHERE length(pat) > 0
         |  ) q0
         |), seg(ka, kb, off, sid, sa, sb, mlen) AS (
         |  SELECT ka, kb, off, CAST(1 AS BIGINT), pat, win, 0
         |  FROM wins WHERE pat <> win
         |  UNION ALL
         |  SELECT ka, kb, off,
         |    sid * 3 + part,
         |    CASE part WHEN 0 THEN substr(sa, 1, i - 1)
         |              WHEN 1 THEN substr(sa, i + l) ELSE '' END,
         |    CASE part WHEN 0 THEN substr(sb, 1, j - 1)
         |              WHEN 1 THEN substr(sb, j + l) ELSE '' END,
         |    CASE part WHEN 2 THEN l ELSE 0 END
         |  FROM (
         |    SELECT ka, kb, off, sid, sa, sb, l, i, j,
         |      row_number() OVER (PARTITION BY ka, kb, off, sid
         |                         ORDER BY l DESC, i ASC, j ASC) AS rn
         |    FROM (
         |      SELECT ka, kb, off, sid, sa, sb, l, i,
         |        position(substr(sa, i, l) IN sb) AS j
         |      FROM (
         |        SELECT ka, kb, off, sid, sa, sb, i,
         |          CAST(unnest(range(1, length(sa) - i + 2)) AS INT) AS l
         |        FROM (
         |          SELECT ka, kb, off, sid, sa, sb,
         |            CAST(unnest(range(1, length(sa) + 1)) AS INT) AS i
         |          FROM seg WHERE length(sa) > 0 AND length(sb) > 0
         |        ) q1
         |      ) q2
         |    ) c
         |    WHERE j > 0
         |  ) best
         |  CROSS JOIN (VALUES (0), (1), (2)) p(part)
         |  WHERE rn = 1
         |), offmass AS (
         |  SELECT w.ka, w.kb, w.off, length(w.pat) AS plen,
         |    CASE WHEN w.pat = w.win THEN length(w.pat)
         |         ELSE coalesce(m.tot, 0) END AS mass
         |  FROM wins w
         |  LEFT JOIN (SELECT ka, kb, off, sum(mlen) AS tot
         |             FROM seg GROUP BY ka, kb, off) m
         |    ON w.ka = m.ka AND w.kb = m.kb AND w.off = m.off
         |), bestmass AS (
         |  SELECT ka, kb, max(mass) AS best, max(plen) AS plen
         |  FROM offmass GROUP BY ka, kb
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       WHEN length(p.na) = 0 OR length(p.nb) = 0 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(b.best AS DOUBLE) / CAST(b.plen AS DOUBLE)
         |  END AS sim
         |FROM pairs p
         |JOIN bestmass b ON p.ka = b.ka AND p.kb = b.kb""".stripMargin),

    // Bag distance + its boolean face at the q_lev_capped k=4: the TIER-0
    // admission filter of the edit pre-filter stack (bag distance
    // lower-bounds Levenshtein at one sorted-merge, no DP — rejections
    // are sound, so the banded DP only runs on bag survivors; wired into
    // Linkage.scoreWithPrefilter). Oracle reuses the relational bag with
    // the max-length-minus-intersection identity.
    Gate("q_bag_within", (s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        bag_dist(col("na"), col("nb")).as("d"),
        bag_within(col("na"), col("nb"), 4).as("w4")),
      // bag distance (integer face) + bag_within at k=4: same relational
      // bag; bagdist = max(|a|,|b|) − Σmin (the Bartolini collapse the
      // kernel uses), byte-equal pairs short-circuit to 0/true.
      s"""${bagCountsSql()}, sums AS (
         |  SELECT ka, kb, sum(least(ca, cb)) AS inter FROM counts GROUP BY ka, kb
         |)
         |SELECT p.ka, p.kb,
         |  CAST(CASE WHEN p.na = p.nb THEN 0
         |            ELSE greatest(length(p.na), length(p.nb)) - s.inter
         |       END AS INT) AS d,
         |  CASE WHEN p.na = p.nb THEN TRUE
         |       ELSE (greatest(length(p.na), length(p.nb)) - s.inter) <= 4
         |  END AS w4
         |FROM pairs p JOIN sums s ON p.ka = s.ka AND p.kb = s.kb""".stripMargin),

    // banded capped-Levenshtein pre-filter tier (O(k·n) Ukkonen DP, never
    // the full quadratic): exact distance when ≤ k, else k+1, plus the
    // boolean face. The 100 TB shape: levenshtein_within(…, k) prunes
    // candidates before full scoring. Cast to BIGINT only to match the
    // oracle's integer type.
    Gate("q_lev_capped", (s, dir) => customerPairs(s, dir)
      .select(col("ka"), col("kb"),
        levenshtein_capped(col("na"), col("nb"), 3).cast("long").as("dist_c"),
        levenshtein_within(col("na"), col("nb"), 3).as("within")),
      s"""SELECT a.c_custkey AS ka, b.c_custkey AS kb,
         |  least(levenshtein(a.c_name, b.c_name), 4) AS dist_c,
         |  levenshtein(a.c_name, b.c_name) <= 3 AS within
         |$customerPairsSql""".stripMargin),

    // Monge-Elkan with Jaro-Winkler inner kernel over multi-token part
    // names: mean over a's tokens of the best-matching b token — the
    // hybrid token/char scorer that survives token reordering. The oracle
    // re-derives it with DuckDB's jaro_winkler_similarity (bit-equality
    // with our kernel is itself gate-proven by q_jaro_winkler_sim), a
    // zipped-unnest tokenization on the shared whitespace class, and an
    // ORDERED list_reduce left fold matching the kernel's IEEE sum order.
    Gate("q_monge_elkan", (s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"), monge_elkan_jw(col("na"), col("nb")).as("me")),
      s"""${partPairsCte()}, strs AS (
         |  SELECT ka, kb,
         |    list_filter(string_split_regex(na, '[ \\t\\n\\x0b\\f\\r]+'),
         |      t -> len(t) > 0) AS toks_a,
         |    list_filter(string_split_regex(nb, '[ \\t\\n\\x0b\\f\\r]+'),
         |      t -> len(t) > 0) AS toks_b
         |  FROM pairs
         |), ta AS (
         |  SELECT ka, kb, unnest(range(1, len(toks_a) + 1)) AS i,
         |         unnest(toks_a) AS ta
         |  FROM strs
         |), tb AS (
         |  SELECT ka, kb, unnest(toks_b) AS tb FROM strs
         |), mx AS (
         |  SELECT ta.ka, ta.kb, ta.i,
         |    max(CASE WHEN ta.ta = tb.tb THEN 1.0
         |             ELSE jaro_winkler_similarity(ta.ta, tb.tb) END) AS m
         |  FROM ta JOIN tb ON ta.ka = tb.ka AND ta.kb = tb.kb
         |  GROUP BY ta.ka, ta.kb, ta.i
         |)
         |SELECT ka, kb,
         |  list_reduce(list(m ORDER BY i), (x, y) -> x + y) / count(*) AS me
         |FROM mx GROUP BY ka, kb""".stripMargin),

    // Token-set family extras over the same brand-blocked part pairs:
    // overlap coefficient (containment), an ASYMMETRIC Tversky index
    // (α=0.25 a-only mass, β=0.75 b-only — distinct from both Jaccard and
    // Dice so the gate can't pass by accident), and bag-cosine over
    // per-code-point counts. The oracle extends the q_jaccard_sim
    // relational bag pattern with per-side totals, the count dot product,
    // and the two squared norms — all integer-exact, with only the final
    // div/sqrt/mul rounded, mirroring the kernels' pinned IEEE order.
    Gate("q_token_set_sims", (s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        overlap_sim(col("na"), col("nb")).as("ov"),
        tversky_sim(col("na"), col("nb"), 0.25, 0.75).as("tv"),
        cosine_bag_sim(col("na"), col("nb")).as("cb")),
      // Token-set extras: the q_jaccard_sim bag pattern widened with per-side
      // totals (n, m), the count dot product, and squared norms — every sum
      // integer-exact; the final div/sqrt/mul chain mirrors the kernels'
      // pinned IEEE order (literals CAST to DOUBLE — bare decimals would run
      // the chain in DECIMAL arithmetic and drift an ulp).
      s"""${bagExplodedSql()}, counts AS (
         |  SELECT ka, kb, ch, sum(ac) AS ca, sum(bc) AS cb
         |  FROM exploded GROUP BY ka, kb, ch
         |), sums AS (
         |  SELECT ka, kb, sum(least(ca, cb)) AS inter, sum(ca) AS n, sum(cb) AS m,
         |         sum(ca * cb) AS dot, sum(ca * ca) AS na2, sum(cb * cb) AS nb2
         |  FROM counts GROUP BY ka, kb
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(s.inter AS DOUBLE) / CAST(least(s.n, s.m) AS DOUBLE)
         |  END AS ov,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(s.inter AS DOUBLE) /
         |            (CAST(s.inter AS DOUBLE)
         |             + CAST(0.25 AS DOUBLE) * CAST(s.n - s.inter AS DOUBLE)
         |             + CAST(0.75 AS DOUBLE) * CAST(s.m - s.inter AS DOUBLE))
         |  END AS tv,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE least(CAST(1.0 AS DOUBLE),
         |            CAST(s.dot AS DOUBLE) /
         |            (sqrt(CAST(s.na2 AS DOUBLE)) * sqrt(CAST(s.nb2 AS DOUBLE))))
         |  END AS cb
         |FROM pairs p JOIN sums s ON p.ka = s.ka AND p.kb = s.kb""".stripMargin),

    // OSA (restricted Damerau-Levenshtein): the linear-memory
    // transposition-aware edit similarity. DuckDB has no OSA builtin
    // (its damerau_levenshtein is the unrestricted Lowrance-Wagner
    // variant — the q_damerau_levenshtein_sim oracle), so the oracle
    // re-runs the full OSA DP as a recursive CTE: one cell per recursion
    // step in row-major order, a sliding window of the last 2m+4 cells
    // carried as a list (covering the i-1 row, the i,j-1 neighbor, and
    // the i-2,j-2 transposition lookback). Deterministically subsampled on
    // BOTH keys (ka % 17, kb % 5) to keep the per-cell recursion tractable
    // in the oracle at sf0.1 too — measured 206 s for the ka-only subsample
    // (265k pairs × ~361 cells) vs ~40 s and ~53k pairs with both.
    Gate("q_osa_sim", (s, dir) => dpPairs(s, dir)
      .select(col("ka"), col("kb"), osa_sim(col("na"), col("nb")).as("sim")),
      // OSA: no DuckDB builtin (damerau_levenshtein there is unrestricted),
      // so the oracle replays the FULL restricted DP as a recursive CTE —
      // one cell per recursion step in row-major order t = i*(m+1)+j, with a
      // sliding window `win` of the last 2m+4 cells carried as a list:
      // win[2m+4] = d[t-1] (insertion), win[m+4] = d[t-(m+1)] (deletion),
      // win[m+3] = d[t-(m+2)] (substitution diagonal), win[1] = d[t-(2m+4)]
      // (the i-2,j-2 transposition lookback). string_split(s,'') indexes by
      // CODE POINT in DuckDB, matching the kernel's decode loop.
      windowDpSql(
        """WHEN (t+1) % (m+1) = 0 THEN CAST((t+1) // (m+1) AS BIGINT)
          |      WHEN (t+1) // (m+1) = 0 THEN CAST((t+1) % (m+1) AS BIGINT)
          |      ELSE least(
          |        nw[m+4] + 1,
          |        nw[2*m+4] + 1,
          |        nw[m+3] + (CASE WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)]
          |                        THEN 0 ELSE 1 END),
          |        CASE WHEN (t+1)//(m+1) > 1 AND (t+1)%(m+1) > 1
          |              AND xa[(t+1)//(m+1)] = xb[(t+1)%(m+1) - 1]
          |              AND xa[(t+1)//(m+1) - 1] = xb[(t+1)%(m+1)]
          |             THEN nw[1] + 1 ELSE NULL END)""".stripMargin,
        """CAST(1.0 AS DOUBLE) - CAST(d.cell AS DOUBLE) /
          |            CAST(greatest(length(p.na), length(p.nb)) AS DOUBLE)""".stripMargin)),

    // Alignment family: LCS, Needleman-Wunsch (+1/−1/−1 global),
    // and Smith-Waterman (local, floored) similarities — DuckDB has no
    // builtin for any of them, so each oracle replays its FULL DP as a
    // recursive CTE with the q_osa_sim cell-per-step sliding-window
    // technique (SW additionally threads the running max through the
    // recursion — the answer is max over ALL cells, not the corner).
    // Same double-key subsample as q_osa_sim keeps the oracles tractable.
    Gate("q_lcs_sim", (s, dir) => dpPairs(s, dir)
      .select(col("ka"), col("kb"), lcs_sim(col("na"), col("nb")).as("sim")),
      // LCS: same cell-per-step recursion; borders 0, interior
      // diag+1 on match else max(up, left); sim = 2·L/(n+m).
      windowDpSql(
        """WHEN (t+1) % (m+1) = 0 OR (t+1) // (m+1) = 0 THEN CAST(0 AS BIGINT)
          |      WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)] THEN nw[m+3] + 1
          |      ELSE greatest(nw[m+4], nw[2*m+4])""".stripMargin,
        """CAST(2.0 AS DOUBLE) * CAST(d.cell AS DOUBLE) /
          |            CAST(length(p.na) + length(p.nb) AS DOUBLE)""".stripMargin)),

    Gate("q_nw_sim", (s, dir) => dpPairs(s, dir)
      .select(col("ka"), col("kb"),
        needleman_wunsch_sim(col("na"), col("nb")).as("sim")),
      // Needleman-Wunsch: borders −i/−j, interior max(diag±1, up−1,
      // left−1); sim = 0.5 + S/(2·max(n,m)).
      windowDpSql(
        """WHEN (t+1) % (m+1) = 0 THEN CAST(-((t+1) // (m+1)) AS BIGINT)
          |      WHEN (t+1) // (m+1) = 0 THEN CAST(-((t+1) % (m+1)) AS BIGINT)
          |      ELSE greatest(
          |        nw[m+3] + (CASE WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)]
          |                        THEN 1 ELSE -1 END),
          |        nw[m+4] - 1,
          |        nw[2*m+4] - 1)""".stripMargin,
        """CAST(0.5 AS DOUBLE) + CAST(d.cell AS DOUBLE) /
          |            (CAST(2.0 AS DOUBLE) *
          |             CAST(greatest(length(p.na), length(p.nb)) AS DOUBLE))""".stripMargin)),

    Gate("q_sw_sim", (s, dir) => dpPairs(s, dir)
      .select(col("ka"), col("kb"),
        smith_waterman_sim(col("na"), col("nb")).as("sim")),
      // Smith-Waterman: borders 0, interior floored at 0, and the RUNNING
      // MAX threaded through the recursion (the answer is max over all
      // cells, not the corner); sim = H*/min(n,m).
      s"""$dpPrepSql, dp AS (
         |  SELECT ka, kb, xa, xb, n, m,
         |         0 AS t, CAST(0 AS BIGINT) AS cell,
         |         CAST(0 AS BIGINT) AS best,
         |         list_transform(range(1, 2*m + 5), k -> CAST(NULL AS BIGINT)) AS win
         |  FROM prep
         |  UNION ALL
         |  SELECT ka, kb, xa, xb, n, m, t + 1 AS t, ncell AS cell,
         |         greatest(best, ncell) AS best, nw AS win
         |  FROM (
         |    SELECT *,
         |      CASE
         |        WHEN (t+1) % (m+1) = 0 OR (t+1) // (m+1) = 0
         |          THEN CAST(0 AS BIGINT)
         |        ELSE greatest(
         |          CAST(0 AS BIGINT),
         |          nw[m+3] + (CASE WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)]
         |                          THEN 1 ELSE -1 END),
         |          nw[m+4] - 1,
         |          nw[2*m+4] - 1)
         |      END AS ncell
         |    FROM (SELECT *, win[2:] || [cell] AS nw
         |          FROM dp WHERE t < (n+1)*(m+1) - 1) q0) q
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(d.best AS DOUBLE) /
         |            CAST(least(length(p.na), length(p.nb)) AS DOUBLE)
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN (SELECT ka, kb, best FROM dp
         |           WHERE t = (n+1)*(m+1) - 1) d
         |  ON p.ka = d.ka AND p.kb = d.kb""".stripMargin),

    // Affine-gap (Gotoh) alignment: three-state DP where a gap
    // of length L costs 1 + 0.5(L-1) — completes the alignment family
    // (NW unit-gap / SW local / LCS / LCSstr). The oracle replays the
    // full Gotoh recursion as a recursive CTE carrying THREE parallel
    // sliding windows (M/X/Y states), one cell-triple per step; all
    // arithmetic is the kernel's exact half-unit integers.
    Gate("q_affine_gap_sim", (s, dir) => dpPairs(s, dir)
      .select(col("ka"), col("kb"),
        affine_gap_sim(col("na"), col("nb")).as("sim")),
      // Affine gap (Gotoh): the full three-state recursion replayed with
      // THREE parallel sliding windows (wm/wx/wy for the M/X/Y matrices),
      // one (cm,cx,cy) triple per step. Borders: X(i,0) = -(i+1) (one gap
      // of length i in half-units), Y(0,j) = -(j+1), M off-origin = -inf
      // (-1e9 sentinel — never surfaces: best >= -2*max(n,m)). sim = 0.5 +
      // best/(4*max) in exact half-unit integers, matching the kernel.
      s"""$dpPrepSql, dp AS (
         |  SELECT ka, kb, xa, xb, n, m,
         |         0 AS t,
         |         CAST(0 AS BIGINT) AS cm,
         |         CAST(-1000000000 AS BIGINT) AS cx,
         |         CAST(-1000000000 AS BIGINT) AS cy,
         |         list_transform(range(1, 2*m + 5), q -> CAST(NULL AS BIGINT)) AS wm,
         |         list_transform(range(1, 2*m + 5), q -> CAST(NULL AS BIGINT)) AS wx,
         |         list_transform(range(1, 2*m + 5), q -> CAST(NULL AS BIGINT)) AS wy
         |  FROM prep
         |  UNION ALL
         |  SELECT ka, kb, xa, xb, n, m, t + 1 AS t,
         |    CASE
         |      WHEN (t+1) % (m+1) = 0 OR (t+1) // (m+1) = 0
         |        THEN CAST(-1000000000 AS BIGINT)
         |      ELSE greatest(nm[m+3], nx[m+3], ny[m+3]) +
         |           (CASE WHEN xa[(t+1)//(m+1)] = xb[(t+1)%(m+1)]
         |                 THEN 2 ELSE -2 END)
         |    END AS cm,
         |    CASE
         |      WHEN (t+1) % (m+1) = 0 THEN CAST(-((t+1)//(m+1)) - 1 AS BIGINT)
         |      WHEN (t+1) // (m+1) = 0 THEN CAST(-1000000000 AS BIGINT)
         |      ELSE greatest(nm[m+4] - 2, nx[m+4] - 1)
         |    END AS cx,
         |    CASE
         |      WHEN (t+1) // (m+1) = 0 THEN CAST(-((t+1)%(m+1)) - 1 AS BIGINT)
         |      WHEN (t+1) % (m+1) = 0 THEN CAST(-1000000000 AS BIGINT)
         |      ELSE greatest(nm[2*m+4] - 2, ny[2*m+4] - 1)
         |    END AS cy,
         |    nm AS wm, nx AS wx, ny AS wy
         |  FROM (SELECT *, wm[2:] || [cm] AS nm, wx[2:] || [cx] AS nx,
         |               wy[2:] || [cy] AS ny
         |        FROM dp WHERE t < (n+1)*(m+1) - 1) q
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(0.5 AS DOUBLE) +
         |            CAST(greatest(d.cm, d.cx, d.cy) AS DOUBLE) /
         |            (CAST(4.0 AS DOUBLE) *
         |             CAST(greatest(length(p.na), length(p.nb)) AS DOUBLE))
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN (SELECT ka, kb, cm, cx, cy FROM dp
         |           WHERE t = (n+1)*(m+1) - 1) d
         |  ON p.ka = d.ka AND p.kb = d.kb""".stripMargin),

    // Match Rating Approach: codex + its OWN published
    // comparison rule (rating 0..6, combined-length minimum, and the
    // "no comparison" NULL when codex lengths differ by >= 3). The
    // pinned positional-zip residual scan is fully relational, so the
    // oracle replays codex AND comparison end-to-end.
    Gate("q_mra", (s, dir) => partPairs(s, dir)
      .where(col("ka") % 17 === 0 && col("kb") % 5 === 0)
      .select(col("ka"), col("kb"),
        mra_codex(col("na")).as("ca"),
        mra_codex(col("nb")).as("cb"),
        mra_similarity(col("na"), col("nb")).as("rating"),
        mra_match(col("na"), col("nb")).as("is_match")),
      // MRA: codex replayed relationally (strip, vowel-drop after the
      // first char, lag-compare collapse, first3+last3 truncation), then
      // the pinned positional-zip comparison: forward residuals by
      // same-position mismatch, backward pass on the reversed residuals,
      // rating = 6 - the longer backward residual; the length-gap >= 3
      // "no comparison" gate and the combined-length minimum both inline.
      s"""WITH base AS (
         |  SELECT p_partkey AS id,
         |         upper(regexp_replace(p_name, '[^A-Za-z]', '', 'g')) AS nm
         |  FROM part
         |), kept AS (
         |  SELECT id, CASE WHEN length(nm) = 0 THEN ''
         |    ELSE substr(nm, 1, 1) ||
         |         regexp_replace(substr(nm, 2), '[AEIOU]', '', 'g') END AS ks
         |  FROM base
         |), chars AS (
         |  SELECT id, substr(ks, CAST(j AS INT), 1) AS d,
         |    CASE WHEN j > 1 THEN substr(ks, CAST(j AS INT) - 1, 1)
         |         ELSE '' END AS pd, j
         |  FROM (SELECT id, ks, unnest(range(1, length(ks) + 1)) AS j
         |        FROM kept)
         |), coll AS (
         |  SELECT id, string_agg(d, '' ORDER BY j) AS c
         |  FROM chars WHERE j = 1 OR d <> pd GROUP BY id
         |), codex AS (
         |  SELECT k.id, CASE WHEN c.c IS NULL THEN ''
         |    WHEN length(c.c) > 6 THEN substr(c.c, 1, 3) ||
         |         substr(c.c, length(c.c) - 2) ELSE c.c END AS cx
         |  FROM kept k LEFT JOIN coll c ON k.id = c.id
         |), pairs AS (
         |  SELECT a.p_partkey AS ka, b.p_partkey AS kb
         |  $partPairsSql
         |  AND a.p_partkey % 17 = 0 AND b.p_partkey % 5 = 0
         |), pc AS (
         |  SELECT p.ka, p.kb, x.cx AS c1, y.cx AS c2
         |  FROM pairs p JOIN codex x ON p.ka = x.id JOIN codex y ON p.kb = y.id
         |), resid AS (
         |  SELECT ka, kb, c1, c2,
         |    list_filter(list_transform(range(1, length(c1) + 1), i ->
         |      CASE WHEN i > length(c2)
         |                OR substr(c1, CAST(i AS INT), 1)
         |                   <> substr(c2, CAST(i AS INT), 1)
         |           THEN substr(c1, CAST(i AS INT), 1) END),
         |      x -> x IS NOT NULL) AS r1,
         |    list_filter(list_transform(range(1, length(c2) + 1), i ->
         |      CASE WHEN i > length(c1)
         |                OR substr(c2, CAST(i AS INT), 1)
         |                   <> substr(c1, CAST(i AS INT), 1)
         |           THEN substr(c2, CAST(i AS INT), 1) END),
         |      x -> x IS NOT NULL) AS r2
         |  FROM pc
         |), backr AS (
         |  SELECT ka, kb, c1, c2,
         |         list_reverse(r1) AS b1, list_reverse(r2) AS b2
         |  FROM resid
         |), unm AS (
         |  SELECT ka, kb, c1, c2, greatest(
         |    len(list_filter(list_transform(range(1, len(b1) + 1), i ->
         |      CASE WHEN i > len(b2) OR b1[i] <> b2[i] THEN 1 END),
         |      x -> x IS NOT NULL)),
         |    len(list_filter(list_transform(range(1, len(b2) + 1), i ->
         |      CASE WHEN i > len(b1) OR b2[i] <> b1[i] THEN 1 END),
         |      x -> x IS NOT NULL))) AS u
         |  FROM backr
         |)
         |SELECT ka, kb, c1 AS ca, c2 AS cb,
         |  CASE WHEN abs(length(c1) - length(c2)) >= 3 THEN NULL
         |       ELSE CAST(6 - u AS INT) END AS rating,
         |  CASE WHEN abs(length(c1) - length(c2)) >= 3 THEN NULL
         |       ELSE (6 - u) >= (CASE WHEN length(c1) + length(c2) <= 4 THEN 5
         |                             WHEN length(c1) + length(c2) <= 7 THEN 4
         |                             WHEN length(c1) + length(c2) <= 11 THEN 3
         |                             ELSE 2 END) END AS is_match
         |FROM unm""".stripMargin),

    // Token-order-robust ratios (the fuzzywuzzy pair), composed purely
    // from stock codegen expressions under levenshtein_sim — no bespoke
    // kernel. token_sort: Levenshtein over sorted-token strings;
    // token_set: max of the three Levenshteins over (intersection,
    // intersection+a-only, intersection+b-only). Oracle rebuilds the same
    // strings with DuckDB list ops (list_intersect dedups, matching
    // Spark's array_intersect) + its levenshtein builtin (ASCII inputs).
    Gate("q_token_ratio", (s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        token_sort_ratio(col("na"), col("nb")).as("tsr"),
        token_set_ratio(col("na"), col("nb")).as("tstr")),
      // Token ratios: rebuild the exact strings the Spark composition builds
      // (sorted tokens / sorted distinct-token set ops, space-joined,
      // trimmed concat) with DuckDB list ops — list_intersect dedups like
      // Spark's array_intersect; except is list_filter + list_contains —
      // then DuckDB's levenshtein (ASCII p_name). The equality CASE mirrors
      // the kernel's byte-equal → 1.0 shortcut (and covers ""/"").
      s"""${partPairsCte()}, tok AS (
         |  SELECT ka, kb,
         |    array_to_string(list_sort(string_split(trim(na), ' ')), ' ') AS sa,
         |    array_to_string(list_sort(string_split(trim(nb), ' ')), ' ') AS sb,
         |    list_sort(list_distinct(string_split(trim(na), ' '))) AS ta,
         |    list_sort(list_distinct(string_split(trim(nb), ' '))) AS tb
         |  FROM pairs
         |), setstr AS (
         |  SELECT ka, kb, sa, sb,
         |    array_to_string(list_sort(list_intersect(ta, tb)), ' ') AS s0,
         |    trim(concat_ws(' ',
         |      array_to_string(list_sort(list_intersect(ta, tb)), ' '),
         |      array_to_string(list_sort(
         |        list_filter(ta, x -> NOT list_contains(tb, x))), ' '))) AS s1,
         |    trim(concat_ws(' ',
         |      array_to_string(list_sort(list_intersect(ta, tb)), ' '),
         |      array_to_string(list_sort(
         |        list_filter(tb, x -> NOT list_contains(ta, x))), ' '))) AS s2
         |  FROM tok
         |)
         |SELECT ka, kb,
         |  ${levSimSql("sa", "sb")} AS tsr,
         |  greatest(${levSimSql("s0", "s1")}, ${levSimSql("s0", "s2")},
         |           ${levSimSql("s1", "s2")}) AS tstr
         |FROM setstr""".stripMargin),

    // Q-gram profile similarity (Ukkonen): 1 − Σ|Δcount|/(nA+nB) over
    // code-point bigrams — the cheap edit-distance lower-bound pre-filter
    // (lev ≥ d/(2q)). Oracle: relational gram bags via unnest(range) +
    // substr with ±1 weights, |Σw| summed per pair.
    Gate("q_qgram_sim", (s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        qgram_sim(col("na"), col("nb"), 2).as("sim")),
      // Q-gram (q=2): gram bags as ±1-weighted rows, profile L1 distance =
      // Σ|Σw| per pair; sim normalization mirrors the kernel's order.
      s"""${partPairsCte()}, gr AS (
         |  SELECT ka, kb, substr(na, CAST(i AS INT), 2) AS g, 1 AS w
         |  FROM (SELECT ka, kb, na,
         |        unnest(range(1, length(na))) AS i FROM pairs)
         |  UNION ALL
         |  SELECT ka, kb, substr(nb, CAST(i AS INT), 2), -1
         |  FROM (SELECT ka, kb, nb,
         |        unnest(range(1, length(nb))) AS i FROM pairs)
         |), cell AS (
         |  SELECT ka, kb, g, sum(w) AS s FROM gr GROUP BY ka, kb, g
         |), dd AS (
         |  SELECT ka, kb, sum(abs(s)) AS d FROM cell GROUP BY ka, kb
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(1.0 AS DOUBLE) - CAST(dd.d AS DOUBLE) /
         |            CAST((length(p.na) - 1) + (length(p.nb) - 1) AS DOUBLE)
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN dd ON p.ka = dd.ka AND p.kb = dd.kb""".stripMargin),

    // Token-LEVEL set scorers (vs the code-point bags of q_jaccard_sim):
    // distinct-whitespace-token Jaccard and overlap/containment, composed
    // from stock set-op expressions — the [""]-token split artifact gives
    // the pinned empty contract for free (""≡"" → 1.0, ""-vs-x → 0.0).
    Gate("q_token_level_sims", (s, dir) => partPairs(s, dir)
      .select(col("ka"), col("kb"),
        token_jaccard_sim(col("na"), col("nb")).as("tj"),
        token_overlap_sim(col("na"), col("nb")).as("tov")),
      // Token-level Jaccard / overlap: DuckDB list ops over distinct
      // space-split tokens (list_distinct(ta || tb) ≡ Spark array_union).
      s"""${partPairsCte()}, tok AS (
         |  SELECT ka, kb,
         |    list_distinct(string_split(trim(na), ' ')) AS ta,
         |    list_distinct(string_split(trim(nb), ' ')) AS tb
         |  FROM pairs
         |)
         |SELECT ka, kb,
         |  CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
         |    CAST(len(list_distinct(ta || tb)) AS DOUBLE) AS tj,
         |  CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
         |    CAST(least(len(ta), len(tb)) AS DOUBLE) AS tov
         |FROM tok""".stripMargin),

    // Editex: the phonetic-aware edit distance (Zobel-Dart
    // letter-group substitutions, H/W silent context, free tapering
    // doubles) — the edit-DISTANCE view of phonetic matching where
    // Soundex/NYSIIS give only the blocking-KEY view. The oracle replays
    // the FULL position-dependent-cost DP as a recursive CTE (q_osa_sim
    // sliding-window technique) with packed char-code·1024+group-mask
    // lists and both border-cost arrays precomputed per pair; a heavier
    // double-key subsample (%41/%13) keeps its ~1.2k-cell-per-pair
    // recursion tractable at sf0.1 (~15k pairs).
    Gate("q_editex_sim", (s, dir) => partPairs(s, dir)
      .where(col("ka") % 41 === 0 && col("kb") % 13 === 0)
      .select(col("ka"), col("kb"), editex_sim(col("na"), col("nb")).as("sim")),
      // Editex: full DP replay with position-dependent costs. Each char is
      // packed as code·1024 + Zobel-Dart group bitmask (groups OVERLAP, so
      // "same group" is a nonzero mask intersection, never an id compare);
      // both border-cost arrays (sentinel 2 at position 1, free doubles,
      // H/W silent context) are precomputed per pair, then the q_osa_sim
      // sliding-window recursion walks the (n+1)×(m+1) matrix one cell per
      // step. Case fold via upper() ≡ the kernel's ASCII fold on this
      // all-ASCII corpus.
      s"""${partPairsCte(recursive = true, filter = partSample(41, 13))}, prep0 AS (
         |  SELECT ka, kb,
         |    list_transform(string_split(upper(na), ''), ch ->
         |      unicode(ch) * 1024 + $editexMaskSql) AS ca,
         |    list_transform(string_split(upper(nb), ''), ch ->
         |      unicode(ch) * 1024 + $editexMaskSql) AS cb,
         |    length(na) AS n, length(nb) AS m
         |  FROM pairs
         |  WHERE upper(na) <> upper(nb) AND length(na) > 0 AND length(nb) > 0
         |), prep AS (
         |  SELECT ka, kb, ca, cb, n, m,
         |    list_transform(range(1, n + 1), i -> CASE
         |        WHEN i = 1 THEN 2
         |        WHEN ca[CAST(i AS INT) - 1] = ca[CAST(i AS INT)] THEN 0
         |        WHEN ca[CAST(i AS INT) - 1] // 1024 IN (72, 87) THEN 1
         |        WHEN (ca[CAST(i AS INT) - 1] % 1024)
         |             & (ca[CAST(i AS INT)] % 1024) <> 0 THEN 1
         |        ELSE 2 END) AS dca,
         |    list_transform(range(1, m + 1), j -> CASE
         |        WHEN j = 1 THEN 2
         |        WHEN cb[CAST(j AS INT) - 1] = cb[CAST(j AS INT)] THEN 0
         |        WHEN cb[CAST(j AS INT) - 1] // 1024 IN (72, 87) THEN 1
         |        WHEN (cb[CAST(j AS INT) - 1] % 1024)
         |             & (cb[CAST(j AS INT)] % 1024) <> 0 THEN 1
         |        ELSE 2 END) AS dcb
         |  FROM prep0
         |), dp AS (
         |  SELECT ka, kb, ca, cb, dca, dcb, n, m,
         |         0 AS t, CAST(0 AS BIGINT) AS cell,
         |         list_transform(range(1, 2*m + 5), k -> CAST(NULL AS BIGINT)) AS win
         |  FROM prep
         |  UNION ALL
         |  SELECT ka, kb, ca, cb, dca, dcb, n, m, t + 1 AS t,
         |    CASE
         |      WHEN (t+1) % (m+1) = 0 THEN nw[m+4] + dca[(t+1)//(m+1)]
         |      WHEN (t+1) // (m+1) = 0 THEN nw[2*m+4] + dcb[(t+1)%(m+1)]
         |      ELSE least(
         |        nw[m+4] + dca[(t+1)//(m+1)],
         |        nw[2*m+4] + dcb[(t+1)%(m+1)],
         |        nw[m+3] + CASE
         |          WHEN ca[(t+1)//(m+1)] = cb[(t+1)%(m+1)] THEN 0
         |          WHEN (ca[(t+1)//(m+1)] % 1024)
         |               & (cb[(t+1)%(m+1)] % 1024) <> 0 THEN 1
         |          ELSE 2 END)
         |    END AS cell,
         |    nw AS win
         |  FROM (SELECT *, win[2:] || [cell] AS nw
         |        FROM dp WHERE t < (n+1)*(m+1) - 1) q
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN upper(p.na) = upper(p.nb) THEN CAST(1.0 AS DOUBLE)
         |       WHEN length(p.na) = 0 OR length(p.nb) = 0 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(1.0 AS DOUBLE) - CAST(d.cell AS DOUBLE) /
         |            (CAST(2.0 AS DOUBLE) *
         |             CAST(greatest(length(p.na), length(p.nb)) AS DOUBLE))
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN (SELECT ka, kb, cell FROM dp
         |           WHERE t = (n+1)*(m+1) - 1) d
         |  ON p.ka = d.ka AND p.kb = d.kb""".stripMargin),

    // Longest-common-SUBSTRING similarity: |longest contiguous
    // shared run|/max len — strict under proper containment where
    // smith_waterman_sim saturates at 1.0. Oracle is purely relational:
    // every substring of the shorter side (double unnest over start ×
    // length), position() containment in the longer, max length per pair.
    Gate("q_lcsstr_sim", (s, dir) => partPairs(s, dir)
      .where(col("ka") % 17 === 0 && col("kb") % 5 === 0)
      .select(col("ka"), col("kb"), lcsstr_sim(col("na"), col("nb")).as("sim")),
      // Longest common substring: relational — every substring of the
      // SHORTER side (start × length double unnest), position() containment
      // in the longer, max length per pair; sim = best/max(n,m).
      s"""${partPairsCte(filter = partSample(17, 5))}, prep AS (
         |  SELECT ka, kb,
         |         CASE WHEN length(na) <= length(nb) THEN na ELSE nb END AS s,
         |         CASE WHEN length(na) <= length(nb) THEN nb ELSE na END AS t
         |  FROM pairs WHERE na <> nb AND length(na) > 0 AND length(nb) > 0
         |), pos AS (
         |  SELECT ka, kb, s, t, unnest(range(1, length(s) + 1)) AS i FROM prep
         |), subs AS (
         |  SELECT ka, kb, t, CAST(i AS INT) AS i, s,
         |         unnest(range(1, length(s) - i + 2)) AS l
         |  FROM pos
         |), runs AS (
         |  SELECT ka, kb, max(l) AS best
         |  FROM subs
         |  WHERE position(substr(s, i, CAST(l AS INT)) IN t) > 0
         |  GROUP BY ka, kb
         |)
         |SELECT p.ka, p.kb,
         |  CASE WHEN p.na = p.nb THEN CAST(1.0 AS DOUBLE)
         |       WHEN length(p.na) = 0 OR length(p.nb) = 0 THEN CAST(0.0 AS DOUBLE)
         |       ELSE CAST(coalesce(r.best, 0) AS DOUBLE) /
         |            CAST(greatest(length(p.na), length(p.nb)) AS DOUBLE)
         |  END AS sim
         |FROM pairs p
         |LEFT JOIN runs r ON p.ka = r.ka AND p.kb = r.kb""".stripMargin),

    // Unicode similarity gate: the shared testdata is all-ASCII, so the
    // byte-vs-code-point divergence the kernels are built around never
    // met the DuckDB oracle (only the sbt conformance vectors). This
    // query synthesizes — identically in the oracle, like q_scrub_pii's
    // dirty column — a non-ASCII string pair per document from a palette
    // of Latin-1 (é), Greek (α), CJK (中) and a SUPPLEMENTARY-plane emoji
    // (one code point, two Java chars, four UTF-8 bytes), and scores the
    // hamming/jaccard/dice kernels on them. The oracle re-derives all
    // three code-point-relationally (per-cp unnest) — never through
    // DuckDB's byte-based string builtins — so a kernel that iterated
    // UTF-16 units or bytes instead of code points would hash-mismatch.
    Gate("q_unicode_sims", (s, dir) => {
      val pal = Seq(0x61, 0xE9, 0x3B1, 0x4E2D, 0x1F642, 0x7A)
        .map(cp => new String(Character.toChars(cp)))
      def uch(k: Column): Column =
        element_at(array(pal.map(lit): _*), (pmod(k, lit(6)) + 1).cast("int"))
      val id = col("doc_id")
      // na: 8 palette chars indexed by a per-position affine hash of the id
      val na = concat((0 until 8).map(i => uch(id * (i + 3) + i)): _*)
      // nb: same construction, palette-shifted at every third position
      // (guaranteed mismatches), truncated to 6..8 code points (length
      // asymmetry exercises the hamming suffix term and the bag sums);
      // every 7th doc keeps nb == na (the equality fast path)
      val shifted = concat((0 until 8).map { i =>
        uch(id * (i + 3) + i +
          when(pmod(id + i, lit(3)) === 0, lit(1)).otherwise(lit(0)))
      }: _*)
      val nb = when(pmod(id, lit(7)) === 0, na)
        .otherwise(shifted.substr(lit(1), (pmod(id, lit(3)) + 6).cast("int")))
      s.read.parquet(s"$dir/documents.parquet")
        .select(id, na.as("na"), nb.as("nb"))
        .select(col("doc_id"), col("na"), col("nb"),
          hamming_sim(col("na"), col("nb")).as("ham_sim"),
          jaccard_sim(col("na"), col("nb")).as("jac_sim"),
          sorensen_dice_sim(col("na"), col("nb")).as("dice_sim"))
    },
      // Code-point-relational oracle for q_unicode_sims: the string pair is
      // rebuilt with chr() from the same palette/arithmetic, split into CODE
      // POINTS (DuckDB's string_split(s, '') is code-point based — verified
      // incl. supplementary-plane: chr(128578) splits as ONE element), and
      // all three similarities are computed from per-cp positions/bags —
      // DuckDB's byte-based levenshtein-family builtins are never touched.
      {
        val pal = "[chr(97), chr(233), chr(945), chr(20013), chr(128578), chr(122)]"
        def uch(k: String) = s"$pal[CAST(($k) % 6 AS BIGINT) + 1]"
        val na = (0 until 8).map(i => uch(s"doc_id * ${i + 3} + $i")).mkString(" || ")
        val shifted = (0 until 8).map { i =>
          uch(s"doc_id * ${i + 3} + $i + (CASE WHEN (doc_id + $i) % 3 = 0 THEN 1 ELSE 0 END)")
        }.mkString(" || ")
        s"""WITH strs AS (
           |  SELECT doc_id, $na AS na,
           |    CASE WHEN doc_id % 7 = 0 THEN $na
           |         ELSE substr($shifted, 1, CAST(doc_id % 3 + 6 AS BIGINT)) END AS nb
           |  FROM documents
           |), cps AS (
           |  SELECT doc_id, na, nb,
           |    string_split(na, '') AS ca, string_split(nb, '') AS cb
           |  FROM strs
           |), m AS (
           |  SELECT doc_id, na, nb, len(ca) AS la, len(cb) AS lb,
           |    len(list_filter(range(1, least(len(ca), len(cb)) + 1),
           |      i -> ca[i] <> cb[i])) AS mm
           |  FROM cps
           |), exploded AS (
           |  SELECT doc_id, unnest(ca) AS ch, 1 AS ac, 0 AS bc FROM cps
           |  UNION ALL
           |  SELECT doc_id, unnest(cb) AS ch, 0 AS ac, 1 AS bc FROM cps
           |), counts AS (
           |  SELECT doc_id, ch, sum(ac) AS cca, sum(bc) AS ccb
           |  FROM exploded GROUP BY doc_id, ch
           |), sums AS (
           |  SELECT doc_id, sum(least(cca, ccb)) AS inter,
           |    sum(greatest(cca, ccb)) AS uni, sum(cca) + sum(ccb) AS total
           |  FROM counts GROUP BY doc_id
           |)
           |SELECT m.doc_id, m.na, m.nb,
           |  CASE WHEN m.na = m.nb THEN 1.0
           |       ELSE 1.0 - CAST(m.mm + abs(m.la - m.lb) AS DOUBLE)
           |            / greatest(m.la, m.lb) END AS ham_sim,
           |  CASE WHEN m.na = m.nb THEN 1.0
           |       ELSE CAST(s.inter AS DOUBLE) / s.uni END AS jac_sim,
           |  CASE WHEN m.na = m.nb THEN 1.0
           |       ELSE 2.0 * CAST(s.inter AS DOUBLE) / s.total END AS dice_sim
           |FROM m JOIN sums s ON m.doc_id = s.doc_id""".stripMargin
      }),

    // The EDIT-DISTANCE kernels (levenshtein / damerau / jaro / JW) on
    // the same mixed-plane fixture — closing the one oracle gap
    // q_unicode_sims left (those four rested on sbt conformance for
    // non-ASCII). Oracle trick: edit distances and Jaro depend only on
    // the symbol-EQUALITY pattern, so the oracle rebuilds the pair with
    // the palette mapped to distinct ASCII letters (same index
    // arithmetic) and runs DuckDB's builtins — byte==code-point on the
    // translated twin, and those builtins are already gate-proven
    // bit-identical to our kernels on ASCII (q_levenshtein_sim /
    // q_jaro_sim / q_jaro_winkler_sim / q_damerau_levenshtein_sim).
    // A byte- or UTF-16-iterating kernel would normalize by the wrong
    // length (🙂 is 4 UTF-8 bytes / 2 UTF-16 units) and hash-mismatch.
    Gate("q_unicode_edit_sims", (s, dir) => {
      val pal = Seq(0x61, 0xE9, 0x3B1, 0x4E2D, 0x1F642, 0x7A)
        .map(cp => new String(Character.toChars(cp)))
      def uch(k: Column): Column =
        element_at(array(pal.map(lit): _*), (pmod(k, lit(6)) + 1).cast("int"))
      val id = col("doc_id")
      val na = concat((0 until 8).map(i => uch(id * (i + 3) + i)): _*)
      val shifted = concat((0 until 8).map { i =>
        uch(id * (i + 3) + i +
          when(pmod(id + i, lit(3)) === 0, lit(1)).otherwise(lit(0)))
      }: _*)
      val nb = when(pmod(id, lit(7)) === 0, na)
        .otherwise(shifted.substr(lit(1), (pmod(id, lit(3)) + 6).cast("int")))
      s.read.parquet(s"$dir/documents.parquet")
        .select(id, na.as("na"), nb.as("nb"))
        .select(col("doc_id"), col("na"), col("nb"),
          levenshtein_sim(col("na"), col("nb")).as("lev_sim"),
          damerau_levenshtein_sim(col("na"), col("nb")).as("dl_sim"),
          jaro_sim(col("na"), col("nb")).as("jaro_s"),
          jaro_winkler_sim(col("na"), col("nb")).as("jw_sim"))
    },
      // Oracle for q_unicode_edit_sims. Edit distances and Jaro depend only
      // on the symbol-EQUALITY pattern, never on symbol identity, so the
      // oracle rebuilds the pair twice with the same index arithmetic: once
      // with the real mixed-plane palette (echoed as na/nb for the hash) and
      // once mapped to distinct ASCII letters (ta/tb). On the ASCII twin,
      // byte == code point, so DuckDB's builtin levenshtein /
      // damerau_levenshtein / jaro(_winkler)_similarity compute the exact
      // code-point values — and those builtins are bit-identical to our
      // kernels (proven by the 45k-pair ASCII gates). substr counts code
      // points in DuckDB, so the truncation is index-aligned across twins.
      {
        def mk(pal: String): (String, String) = {
          def uch(k: String) = s"$pal[CAST(($k) % 6 AS BIGINT) + 1]"
          val na = (0 until 8).map(i => uch(s"doc_id * ${i + 3} + $i")).mkString(" || ")
          val shifted = (0 until 8).map { i =>
            uch(s"doc_id * ${i + 3} + $i + (CASE WHEN (doc_id + $i) % 3 = 0 THEN 1 ELSE 0 END)")
          }.mkString(" || ")
          (na, shifted)
        }
        val (na, shifted) =
          mk("[chr(97), chr(233), chr(945), chr(20013), chr(128578), chr(122)]")
        val (ta, tshifted) = mk("['a', 'b', 'c', 'd', 'e', 'f']")
        s"""WITH strs AS (
           |  SELECT doc_id, $na AS na,
           |    CASE WHEN doc_id % 7 = 0 THEN $na
           |         ELSE substr($shifted, 1, CAST(doc_id % 3 + 6 AS BIGINT)) END AS nb,
           |    $ta AS ta,
           |    CASE WHEN doc_id % 7 = 0 THEN $ta
           |         ELSE substr($tshifted, 1, CAST(doc_id % 3 + 6 AS BIGINT)) END AS tb
           |  FROM documents
           |)
           |SELECT doc_id, na, nb,
           |  CASE WHEN na = nb THEN 1.0
           |       ELSE 1.0 - CAST(levenshtein(ta, tb) AS DOUBLE)
           |            / greatest(length(ta), length(tb)) END AS lev_sim,
           |  CASE WHEN na = nb THEN 1.0
           |       ELSE 1.0 - CAST(damerau_levenshtein(ta, tb) AS DOUBLE)
           |            / greatest(length(ta), length(tb)) END AS dl_sim,
           |  CASE WHEN na = nb THEN 1.0 ELSE jaro_similarity(ta, tb) END AS jaro_s,
           |  CASE WHEN na = nb THEN 1.0 ELSE jaro_winkler_similarity(ta, tb) END
           |    AS jw_sim
           |FROM strs""".stripMargin
      }),

    // composite scoring + threshold (stage: pairwise scoring, JW + Dice)
    Gate("q_match_pairs", (s, dir) => graft.operators.Linkage
      .composite(partPairs(s, dir), "ka", "kb", "na", "nb")
      .where(col("score") >= 1.75)
      .select(col("ka"), col("kb")),
      matchPairsSql()),

    // levenshtein_within used for its stated purpose: a banded
    // O(k·len) admission filter BELOW the composite projection —
    // candidates beyond edit distance 8 never evaluate JW/Dice (the
    // plan order is spec-asserted). Runs through the real
    // Linkage.scoreWithPrefilter path; the oracle applies the identical
    // distance cut (part names are ASCII, so DuckDB's byte levenshtein
    // IS the kernel's code-point distance).
    Gate("q_match_pairs_prefiltered", (s, dir) => {
      val p = s.read.parquet(s"$dir/part.parquet")
      val extracted = p.select(col("p_partkey").as("url"),
        col("p_name").as("name_norm"))
      val prs = partPairs(s, dir)
        .select(col("ka").as("url_a"), col("kb").as("url_b"))
      graft.operators.Linkage.scoreWithPrefilter(prs, extracted, maxDist = 8)
        .where(col("score") >= 1.75)
        .select(col("url_a").as("ka"), col("url_b").as("kb"))
    },
      matchPairsSql(filter = "WHERE levenshtein(a.p_name, b.p_name) <= 8")),

    // Febrl-style deterministic error injection: sha256(id:seed) nibble
    // ranges drive every choice (duplicate?, op, position, replacement
    // char), so the labeled-duplicate mint is a pure projection the
    // oracle replays digit-by-digit. All four ops land at both sf.
    Gate("q_error_model", (s, dir) =>
      graft.operators.ErrorModel.corruptedDuplicates(
        s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", dupRate = 0.3, seed = 7L),
      // Oracle for q_error_model: every corruption choice re-derived from
      // the sha256 hex digits (nibble 9 → op, 10-11 → position, 12-13 →
      // replacement char), the op degradations and 1-based substr surgery
      // replayed verbatim.
      // plain concatenation: stripMargin on a string that INTERPOLATES the
      // already-stripped CTE block would eat the `||` concat operators at
      // continuation-line starts (strips one leading `|`)
      errorModelCtes + "\n" +
      """SELECT c_custkey AS orig_id,
        |  CAST(c_custkey AS VARCHAR) || '_dup' AS dup_id,
        |  c_name, corrupted,
        |  CASE op WHEN 0 THEN 'delete' WHEN 1 THEN 'substitute'
        |          WHEN 2 THEN 'transpose' ELSE 'insert' END AS op
        |FROM g""".stripMargin),

    // The corruptor's use case: per error family, which matcher recovers
    // the labeled pair — integer counts of within-1-edit and JW ≥ 0.9
    // survivors per op (sum-of-doubles means would be fold-order-
    // dependent; counts of threshold survivors are exact, and the JW
    // doubles themselves are bit-equal across engines, gate-proven by
    // q_jaro_winkler_sim). Deletions/substitutions stay within 1 edit by
    // construction; transposes cost 2 edits but survive JW — exactly the
    // stratification the op column exists for.
    Gate("q_error_recall", (s, dir) => {
      val dups = graft.operators.ErrorModel.corruptedDuplicates(
        s.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", dupRate = 0.3, seed = 7L)
      dups.groupBy(col("op")).agg(
        count(lit(1)).as("n_pairs"),
        sum(when(levenshtein_within(col("c_name"), col("corrupted"), 1),
          1L).otherwise(0L)).as("n_within1"),
        sum(when(jaro_winkler_sim(col("c_name"), col("corrupted")) >= 0.9,
          1L).otherwise(0L)).as("n_jw90"))
    },
      // q_error_recall: per error family, integer counts of within-1-edit
      // and JW ≥ 0.9 survivors over the SAME minted duplicates.
      errorModelCtes + "\n" +
      """SELECT CASE op WHEN 0 THEN 'delete' WHEN 1 THEN 'substitute'
        |               WHEN 2 THEN 'transpose' ELSE 'insert' END AS op,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(sum(CASE WHEN levenshtein(c_name, corrupted) <= 1
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_within1,
        |  CAST(coalesce(sum(CASE WHEN (CASE WHEN c_name = corrupted
        |      THEN CAST(1.0 AS DOUBLE)
        |      ELSE jaro_winkler_similarity(c_name, corrupted) END) >= 0.9
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_jw90
        |FROM g GROUP BY 1""".stripMargin),
  )
}
