package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.functions._

/** Gates of the clustering operators: connected components, centers,
  * group linkage, canopies, pivot clustering, cluster repair and split,
  * entity ids and the golden-record merges. */
private[graft] object ClusteringGates {

  /** The match graph of the components gates: nationkey-blocked
    * customer pairs (ka < kb) of distinct names at normalized-Levenshtein
    * similarity ≥ 0.94. */
  private def ccEdges(s: SparkSession, dir: String): DataFrame =
    customerPairs(s, dir)
      .where(col("na") =!= col("nb") &&
        levenshtein_sim(col("na"), col("nb")) >= 0.94)
      .select(col("ka"), col("kb"))

  /** SQL mirror of [[ccEdges]]: the CTE `pairs (ka, kb)`. */
  private val ccPairsCte: String =
    """pairs AS (
      |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |  WHERE a.c_name <> b.c_name
      |    AND 1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
      |        / greatest(length(a.c_name), length(b.c_name)) >= 0.94
      |)""".stripMargin

  /** Unrolled synchronous label propagation: per round, a (dst, label)
    * vote count over the symmetric edge set joined to the PREVIOUS
    * round's labels, an argmax (count desc, label asc), and a
    * carry-forward left join — exactly the operator's three plan steps,
    * `rounds` times. Edge derivation = the q_connected_components match
    * graph (names are ASCII here, so DuckDB's byte levenshtein agrees
    * with the code-point kernel). */
  private def lpaOracle(rounds: Int): String = {
    val iters = (1 to rounds).map { r =>
      s"""v$r AS (
         |  SELECT e.dst, l.label, count(*) AS cnt
         |  FROM edges e JOIN l${r - 1} l ON e.src = l.id GROUP BY 1, 2
         |), w$r AS (
         |  SELECT dst, label FROM (
         |    SELECT dst, label, row_number() OVER (
         |      PARTITION BY dst ORDER BY cnt DESC, label ASC) AS rn
         |    FROM v$r) z WHERE rn = 1
         |), l$r AS (
         |  SELECT p.id, coalesce(w.label, p.label) AS label
         |  FROM l${r - 1} p LEFT JOIN w$r w ON p.id = w.dst
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $ccPairsCte, edges AS (
       |  SELECT ka AS src, kb AS dst FROM pairs
       |  UNION SELECT kb, ka FROM pairs
       |), l0 AS (
       |  SELECT DISTINCT dst AS id, dst AS label FROM edges
       |),
       |$iters
       |SELECT id, label FROM l$rounds""".stripMargin
  }

  /** The center-clustering gates' input: customer ids ≡ 0 (mod 3),
    * nationkey-blocked, with their normalized-Levenshtein score `s`
    * ≥ 0.88. */
  private def centerEdges(s: SparkSession, dir: String): DataFrame = {
    val c = s.read.parquet(s"$dir/customer.parquet")
      .where(col("c_custkey") % 3 === 0)
    val a = c.select(col("c_custkey").as("ia"), col("c_name").as("na"),
      col("c_nationkey").as("nk"))
    val b = c.select(col("c_custkey").as("ib"), col("c_name").as("nb"),
      col("c_nationkey").as("nk"))
    a.join(b, "nk").where(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        levenshtein_sim(col("na"), col("nb")).as("s"))
      .where(col("s") >= 0.88)
  }

  /** SQL mirror of [[centerEdges]] and of the center rounds over it, as a
    * `WITH RECURSIVE` list: `edges (la, lb, s)`, `nodes` and the
    * full-state round replay `st(r, id, ctr)` — every node's center (or
    * null) per round, each round recomputing the alive edges, each
    * node's top edge and the fires from the previous round's state, 48
    * rounds. */
  private val centerRoundsSql: String = {
    // the edges still in play: neither end assigned to another center,
    // and not both ends centers already
    val alive = """(SELECT e.la, e.lb, e.s, a.ctr AS ca, b.ctr AS cb
      |      FROM edges e JOIN st a ON a.id = e.la JOIN st b ON b.id = e.lb
      |      WHERE NOT (a.ctr IS NOT NULL AND a.ctr <> e.la)
      |        AND NOT (b.ctr IS NOT NULL AND b.ctr <> e.lb)
      |        AND NOT (a.ctr IS NOT NULL AND a.ctr = e.la AND b.ctr IS NOT NULL AND b.ctr = e.lb)) al""".stripMargin
    // each unassigned end's alive edges, ranked by (score desc, edge)
    val top = s"""(SELECT x, y, ycen, ela, elb,
      |       row_number() OVER (PARTITION BY x ORDER BY s DESC, ela, elb) AS rn
      |      FROM (SELECT al.la AS x, al.lb AS y, al.s, al.la AS ela, al.lb AS elb,
      |        (al.cb IS NOT NULL AND al.cb = al.lb) AS ycen
      |      FROM $alive WHERE al.ca IS NULL
      |      UNION ALL
      |      SELECT al.lb, al.la, al.s, al.la, al.lb,
      |        (al.ca IS NOT NULL AND al.ca = al.la)
      |      FROM $alive WHERE al.cb IS NULL) q0)""".stripMargin
    s"""WITH RECURSIVE pr AS (
      |  SELECT a.c_custkey AS ia, b.c_custkey AS ib, ${levSimSql("a.c_name", "b.c_name")} AS s
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |  WHERE a.c_custkey % 3 = 0 AND b.c_custkey % 3 = 0
      |), edges AS MATERIALIZED (
      |  SELECT ia AS la, ib AS lb, s FROM pr WHERE s >= CAST(0.88 AS DOUBLE)
      |), nodes AS (
      |  SELECT DISTINCT id FROM (SELECT la AS id FROM edges UNION ALL SELECT lb FROM edges) q
      |), st(r, id, ctr) AS (
      |  SELECT 0, id, CAST(NULL AS BIGINT) FROM nodes
      |  UNION ALL
      |  SELECT z.r + 1, z.id, z.ctr FROM (
      |    SELECT a.r, a.id, a.ctr FROM st a WHERE a.ctr IS NOT NULL
      |    UNION ALL
      |    SELECT u.r, u.id, f.ctr
      |    FROM (SELECT r, id FROM st WHERE ctr IS NULL) u
      |    LEFT JOIN (SELECT x AS id, y AS ctr FROM $top t1 WHERE rn = 1 AND ycen
      |      UNION ALL
      |      SELECT CASE part WHEN 0 THEN ela ELSE elb END AS id, ela AS ctr
      |      FROM (
      |        SELECT ela, elb FROM $top t2 WHERE rn = 1 AND NOT ycen
      |        GROUP BY ela, elb HAVING count(*) = 2
      |      ) seeds CROSS JOIN (VALUES (0), (1)) p(part)) f ON f.id = u.id
      |  ) z
      |  WHERE z.r < 48
      |)""".stripMargin
  }

  /** The golden-record rules of the golden gates: text longest, lang
    * mode, source min, n_chars max. */
  private val goldenRules = Seq("text" -> "longest", "lang" -> "mode",
    "source" -> "min", "n_chars" -> "max")

  /** SQL mirror of [[goldenRules]] over `documents` clustered by the
    * expression `component`: the CTEs `j`, `base`, `longest`, `langcnt`
    * and `langmode`, after `WITH` (the rules are spelled out at
    * q_golden_records). */
  private def goldenCtes(component: String): String =
    s"""WITH j AS (
      |  SELECT doc_id AS id, $component AS component, text, lang,
      |         source, n_chars
      |  FROM documents
      |), base AS (
      |  SELECT component, min(id) AS id, count(*) AS n_members,
      |         min(source) AS source, max(n_chars) AS n_chars
      |  FROM j GROUP BY component
      |), longest AS (
      |  SELECT component, text FROM (
      |    SELECT component, text, row_number() OVER (
      |      PARTITION BY component
      |      ORDER BY length(text) DESC, text) AS rn
      |    FROM j WHERE text IS NOT NULL) WHERE rn = 1
      |), langcnt AS (
      |  SELECT component, lang, count(*) AS cnt FROM j
      |  WHERE lang IS NOT NULL GROUP BY component, lang
      |), langmode AS (
      |  SELECT component, lang FROM (
      |    SELECT component, lang, row_number() OVER (
      |      PARTITION BY component ORDER BY cnt DESC, lang) AS rn
      |    FROM langcnt) WHERE rn = 1
      |)""".stripMargin

  /** The golden rows over [[goldenCtes]], every line after `indent`. */
  private def goldenSelect(indent: String): String =
    Seq("SELECT b.component, b.id, b.n_members, l.text, m.lang, b.source,",
      "       b.n_chars", "FROM base b",
      "LEFT JOIN longest l ON b.component = l.component",
      "LEFT JOIN langmode m ON b.component = m.component")
      .map(indent + _).mkString("\n")

  /** The golden-records query of [[goldenRules]] clustered by
    * `component`. */
  private def goldenSql(component: String): String =
    goldenCtes(component) + "\n" + goldenSelect("")

  /** The greedy-MIS rounds of pivot clustering, as the recursive CTE
    * `st(id, rk, mis)` over a symmetric `edges (u, v)` relation and the
    * `keyed (id, rk)` ranks: each round two window layers flag the
    * local-min pivots among the still-active nodes and drop the nodes a
    * pivot dominates; an active node with no active neighbor is a pivot
    * by the second branch. */
  private def misRoundsSql(edges: String): String =
    s"""st(id, rk, mis) AS (
      |  SELECT id, rk, FALSE FROM keyed
      |  UNION ALL
      |  SELECT id, rk, mis FROM (
      |    SELECT DISTINCT u AS id, rku AS rk, pivu AS mis, dom
      |    FROM (
      |      SELECT u, rku, pivu,
      |        max(CASE WHEN pivv THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY u) AS dom
      |      FROM (
      |        SELECT u, rku, v, rkv,
      |          rku < min(rkv) OVER (PARTITION BY u) AS pivu,
      |          rkv < min(rku) OVER (PARTITION BY v) AS pivv
      |        FROM (
      |          SELECT e.u, a.rk AS rku, e.v, b.rk AS rkv
      |          FROM $edges e
      |          JOIN (SELECT id, rk FROM st WHERE NOT mis) a ON e.u = a.id
      |          JOIN (SELECT id, rk FROM st WHERE NOT mis) b ON e.v = b.id
      |        ) r
      |      ) f
      |    ) g
      |    WHERE pivu OR dom = 0
      |    UNION ALL
      |    SELECT a2.id, a2.rk, TRUE, 0
      |    FROM (SELECT id, rk FROM st WHERE NOT mis) a2
      |    WHERE a2.id NOT IN (
      |      SELECT e2.u FROM $edges e2
      |      JOIN (SELECT id FROM st WHERE NOT mis) b2 ON e2.v = b2.id)
      |  ) z
      |)""".stripMargin

  val all: Seq[Gate] = Seq(
    // Cluster repair from review decisions (the write-back half of the
    // uncertainty-sampling loop): deterministic 8-record clusters, must
    // edges merging adjacent clusters at every 40th key, cannot edges
    // evicting the larger side inside every 16th cluster; min-id relabel.
    Gate("q_cluster_repair", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val asg = c.select(col("c_custkey").as("id"),
        (col("c_custkey") - pmod(col("c_custkey"), lit(8))).as("cluster_id"))
      val must = c.where(pmod(col("c_custkey"), lit(40)) === 0)
        .select(col("c_custkey").as("id_a"),
          (col("c_custkey") + 8).as("id_b"))
      val cannot = c.where(pmod(col("c_custkey"), lit(16)) === 0)
        .select(col("c_custkey").as("id_a"),
          (col("c_custkey") + 1).as("id_b"))
      graft.operators.Linkage.clusterRepair(asg, must, cannot)
    },
      // cluster repair: walk-closure merge over star + must edges, CASE
      // eviction of the larger side of violated cannot pairs, min relabel.
      // Note: must/cannot endpoints may name keys absent from the
      // assignment (k+8 / k+1 past the max custkey) — absent ids can't
      // violate or merge anything that exists, matching the operator's
      // join semantics.
      """WITH RECURSIVE asg AS (
        |  SELECT c_custkey AS id, c_custkey - (c_custkey % 8) AS c
        |  FROM customer
        |), must AS (
        |  SELECT c_custkey AS la, c_custkey + 8 AS lb FROM customer
        |  WHERE c_custkey % 40 = 0
        |), cannot AS (
        |  SELECT c_custkey AS la, c_custkey + 1 AS lb FROM customer
        |  WHERE c_custkey % 16 = 0
        |), star AS (
        |  SELECT id AS la, c AS lb FROM asg WHERE id <> c
        |), gpairs AS (
        |  SELECT la, lb FROM star UNION SELECT la, lb FROM must
        |), gedges AS MATERIALIZED (
        |  SELECT la AS u, lb AS v FROM gpairs
        |  UNION SELECT lb, la FROM gpairs
        |), walk(id, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM gedges) g
        |  UNION
        |  SELECT w.id, e.v FROM walk w JOIN gedges e ON w.r = e.u
        |), comp AS MATERIALIZED (
        |  SELECT id, min(r) AS m FROM walk GROUP BY id
        |), merged AS MATERIALIZED (
        |  SELECT a.id, COALESCE(c2.m, a.id) AS m
        |  FROM asg a LEFT JOIN comp c2 ON c2.id = a.id
        |), evicted AS MATERIALIZED (
        |  SELECT DISTINCT cn.lb AS id
        |  FROM cannot cn
        |  JOIN merged x ON x.id = cn.la
        |  JOIN merged y ON y.id = cn.lb
        |  WHERE x.m = y.m
        |), survivors AS (
        |  SELECT m2.id, m2.m FROM merged m2
        |  WHERE m2.id NOT IN (SELECT id FROM evicted)
        |), roots AS (
        |  SELECT m, min(id) AS r FROM survivors GROUP BY m
        |)
        |SELECT s2.id, r2.r AS cluster_id
        |FROM survivors s2 JOIN roots r2 ON s2.m = r2.m
        |UNION ALL
        |SELECT id, id AS cluster_id FROM evicted""".stripMargin),

    // Group linkage (On-Koudas-Srivastava ICDE'07): similarity between
    // GROUPS of records = normalized greedy 1:1 matched weight,
    // sim = Σ matched s / (|A| + |B| − |M|). Groups = nationkey over two
    // disjoint customer subsets; candidates = same-segment pairs at
    // JW ≥ 0.97. Oracle replays the greedy rounds with (ga, gb) carried
    // through every window and folds matched weights in (rl, rr) order.
    Gate("q_group_linkage", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val left = c.where(col("c_custkey") % 4 === 0)
        .select(col("c_nationkey").cast("long").as("gid"),
          col("c_custkey").as("rid"))
      val right = c.where(col("c_custkey") % 4 === 1)
        .select(col("c_nationkey").cast("long").as("gid"),
          col("c_custkey").as("rid"))
      val a = c.where(col("c_custkey") % 4 === 0)
        .select(col("c_custkey").as("id_l"), col("c_name").as("na"),
          col("c_mktsegment").as("seg"))
      val b = c.where(col("c_custkey") % 4 === 1)
        .select(col("c_custkey").as("id_r"), col("c_name").as("nb"),
          col("c_mktsegment").as("seg"))
      val scored = a.join(b, "seg")
        .select(col("id_l"), col("id_r"),
          jaro_winkler_sim(col("na"), col("nb")).as("score"))
        .where(col("score") >= 0.97)
      graft.operators.Linkage.groupLinkage(left, right, scored)
    },
      // group linkage: greedy rounds with the group-pair dimension carried
      // through every window (the q_greedy_matches recursion, scoped), then
      // ordered matched-weight folds and the normalization formula
      """WITH RECURSIVE cand AS (
        |  SELECT CAST(a.c_nationkey AS BIGINT) AS ga,
        |         CAST(b.c_nationkey AS BIGINT) AS gb,
        |         a.c_custkey AS rl, b.c_custkey AS rr,
        |         jaro_winkler_similarity(a.c_name, b.c_name) AS s
        |  FROM customer a JOIN customer b ON a.c_mktsegment = b.c_mktsegment
        |  WHERE a.c_custkey % 4 = 0 AND b.c_custkey % 4 = 1
        |    AND jaro_winkler_similarity(a.c_name, b.c_name) >= CAST(0.97 AS DOUBLE)
        |), st(rnd, ga, gb, rl, rr, s, acc) AS (
        |  SELECT 0, ga, gb, rl, rr, s, FALSE FROM cand
        |  UNION ALL
        |  SELECT rnd + 1, ga, gb, rl, rr, s, acc FROM (
        |    SELECT rnd, ga, gb, rl, rr, s, acc,
        |      max(CASE WHEN acc THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY ga, gb, rl) AS dead_l,
        |      max(CASE WHEN acc THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY ga, gb, rr) AS dead_r
        |    FROM (
        |      SELECT rnd, ga, gb, rl, rr, s,
        |        (row_number() OVER (PARTITION BY ga, gb, rl
        |           ORDER BY s DESC, rr) = 1
        |         AND row_number() OVER (PARTITION BY ga, gb, rr
        |           ORDER BY s DESC, rl) = 1) AS acc
        |      FROM st WHERE NOT acc
        |    ) s0
        |  ) s1
        |  WHERE acc OR (dead_l = 0 AND dead_r = 0)
        |), m AS (
        |  SELECT ga, gb, count(*) AS n_matched,
        |    list_reduce(list(s ORDER BY rl, rr), (x, y) -> x + y) AS matched_sum
        |  FROM st WHERE acc GROUP BY ga, gb
        |), szl AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS ga, count(*) AS n_l
        |  FROM customer WHERE c_custkey % 4 = 0 GROUP BY 1
        |), szr AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS gb, count(*) AS n_r
        |  FROM customer WHERE c_custkey % 4 = 1 GROUP BY 1
        |)
        |SELECT m.ga, m.gb, szl.n_l, szr.n_r, m.n_matched, m.matched_sum,
        |  m.matched_sum / CAST(szl.n_l + szr.n_r - m.n_matched AS DOUBLE) AS sim
        |FROM m JOIN szl ON m.ga = szl.ga JOIN szr ON m.gb = szr.gb""".stripMargin),

    // Center clustering (Hassanzadeh-Miller VLDB'09): similarity-ordered
    // star clustering — strongest pairs seed clusters, members attach to
    // CENTERS only (never chains). Parallel rounds ≡ the pinned
    // sequential scan (CenterClusteringSpec); the oracle replays the
    // rounds as a full-state recursive CTE with a 48-round cap
    // (prototyped ≥ 3× the observed fixed point at both SFs).
    Gate("q_center_clusters", (s, dir) => {
      val edges = centerEdges(s, dir)
      graft.operators.CenterClustering.centers(edges, "ia", "ib", "s")
    },
      // center clustering: full-state round replay — st carries every
      // node's (round, center-or-null) and each iteration recomputes alive
      // edges / per-node top edge / fires from the previous round's state;
      // 48 rounds ≥ 3× the observed fixed point at both SFs (state is
      // stable after the fixed point, so the cap only costs idle rounds)
      s"""$centerRoundsSql
        |SELECT id, COALESCE(ctr, id) AS center_id FROM st WHERE r = 48""".stripMargin),

    // Merge-center over the same edge frame: clusters merge wherever any
    // record is θ-similar to another cluster's CENTER (pinned order-free
    // variant — deterministic under any partitioning; merges still need
    // direct evidence against a center, unlike full transitive closure).
    Gate("q_merge_center", (s, dir) => {
      val edges = centerEdges(s, dir)
      graft.operators.CenterClustering.mergeCenters(edges, "ia", "ib", "s")
    },
      // merge-center: the same round replay, then 32-round min-label
      // propagation over assignment edges + every edge touching a center
      // (measured merge-graph diameter 12 at sf0.1 — 32 is a 2.5× margin;
      // label state is stable after convergence, idle rounds are cheap)
      s"""$centerRoundsSql, fin AS MATERIALIZED (
        |  SELECT id, COALESCE(ctr, id) AS c FROM st WHERE r = 48
        |), ctrs AS MATERIALIZED (
        |  SELECT id FROM fin WHERE id = c
        |), gpairs AS MATERIALIZED (
        |  SELECT id AS u, c AS v FROM fin WHERE id <> c
        |  UNION
        |  SELECT e.la, e.lb FROM edges e JOIN ctrs x ON e.la = x.id
        |  UNION
        |  SELECT e.la, e.lb FROM edges e JOIN ctrs x ON e.lb = x.id
        |), gedges AS MATERIALIZED (
        |  SELECT u, v FROM gpairs UNION SELECT v, u FROM gpairs
        |), lbl(rr, id, c) AS (
        |  SELECT 0, u, u FROM (SELECT DISTINCT u FROM gedges) g
        |  UNION ALL
        |  SELECT z.rr + 1, z.id, z.c FROM (
        |    SELECT rr, id, min(c) AS c FROM (
        |      SELECT l.rr, l.id, l.c FROM lbl l
        |      UNION ALL
        |      SELECT l.rr, e.u AS id, l.c FROM lbl l JOIN gedges e ON e.v = l.id
        |    ) q GROUP BY rr, id
        |  ) z WHERE z.rr < 32
        |), comp AS (
        |  SELECT id, min(c) AS cluster_id FROM lbl WHERE rr = 32 GROUP BY id
        |)
        |SELECT f.id, COALESCE(c2.cluster_id, f.id) AS cluster_id
        |FROM fin f LEFT JOIN comp c2 ON c2.id = f.id""".stripMargin),

    // Golden-record survivorship: collapse each entity cluster to ONE
    // canonical row with deterministic order-insensitive rules — text →
    // longest (ties: smallest), lang → mode (ties: smallest), source →
    // min, n_chars → max; canonical id = min member id. The final
    // pipeline stage a downstream consumer reads.
    Gate("q_golden_records", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val records = d.select(col("doc_id").as("id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      val assignment = d.select(col("doc_id").as("id"),
        (col("doc_id") % 89).as("component"))
      graft.operators.Canonicalize.goldenRecords(records, assignment, "id",
        rules = goldenRules)
    },
      // Golden records: canonical id = min(id); text → longest-then-
      // smallest (code-point length on BOTH sides: Spark length() counts
      // code points, DuckDB length() counts code points too); lang → mode
      // with smallest-value tie-break; source → min; n_chars → max.
      goldenSql("doc_id % 89")),

    // Survivorship provenance: for each canonical field, the smallest
    // member id whose value equals the chosen one — the MDM lineage
    // audit a consumer asks of a golden record ("where did this name
    // come from?"). Per-attribute (cluster, value) argmin joins; the
    // oracle replays each as a grouped min + equality join.
    Gate("q_golden_provenance", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val records = d.select(col("doc_id").as("id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      val assignment = d.select(col("doc_id").as("id"),
        (col("doc_id") % 89).as("component"))
      val golden = graft.operators.Canonicalize.goldenRecords(records,
        assignment, "id", rules = goldenRules)
      graft.operators.Canonicalize.goldenProvenance(records, assignment,
        golden, "id", cols = Seq("text", "lang", "source", "n_chars"))
    },
      // golden records + per-field (cluster, value) argmin source joins.
      s"""${goldenCtes("doc_id % 89")}, g AS (
        |${goldenSelect("  ")}
        |), st AS (
        |  SELECT component, text AS v, min(id) AS text_src FROM j
        |  WHERE text IS NOT NULL GROUP BY component, text
        |), sl AS (
        |  SELECT component, lang AS v, min(id) AS lang_src FROM j
        |  WHERE lang IS NOT NULL GROUP BY component, lang
        |), ss AS (
        |  SELECT component, source AS v, min(id) AS source_src FROM j
        |  WHERE source IS NOT NULL GROUP BY component, source
        |), sn AS (
        |  SELECT component, n_chars AS v, min(id) AS n_chars_src FROM j
        |  WHERE n_chars IS NOT NULL GROUP BY component, n_chars
        |)
        |SELECT g.*, st.text_src, sl.lang_src, ss.source_src, sn.n_chars_src
        |FROM g
        |LEFT JOIN st ON g.component = st.component AND g.text = st.v
        |LEFT JOIN sl ON g.component = sl.component AND g.lang = sl.v
        |LEFT JOIN ss ON g.component = ss.component AND g.source = ss.v
        |LEFT JOIN sn ON g.component = sn.component AND g.n_chars = sn.v"""
        .stripMargin),

    // Over-merge audit: single-valuedness violations per cluster over the
    // same %89 clustering as the golden gates — lang/source/n_chars are
    // all entity-unique by declaration, so nearly every cluster conflicts
    // (the audit runs on MEMBER records; survivorship would erase the
    // evidence). Values audited as strings (documented cast); one
    // map-explode + one map-side-combinable groupBy.
    Gate("q_merge_conflicts", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val records = d.select(col("doc_id").as("id"), col("lang"),
        col("source"), col("n_chars"))
      val assignment = d.select(col("doc_id").as("id"),
        (col("doc_id") % 89).as("component"))
      graft.operators.Canonicalize.mergeConflicts(records, assignment, "id",
        Seq("lang", "source", "n_chars"))
    },
      // merge-conflict audit: long-format (field, value-as-string) union,
      // non-null only, grouped per (cluster, field), kept when >1 distinct
      """WITH long AS (
        |  SELECT doc_id % 89 AS component, 'lang' AS field, lang AS value
        |  FROM documents WHERE lang IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id % 89, 'source', source
        |  FROM documents WHERE source IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id % 89, 'n_chars', CAST(n_chars AS VARCHAR)
        |  FROM documents WHERE n_chars IS NOT NULL
        |)
        |SELECT component, field,
        |  CAST(count(DISTINCT value) AS BIGINT) AS n_values,
        |  CAST(count(*) AS BIGINT) AS n_nonnull,
        |  min(value) AS value_min, max(value) AS value_max
        |FROM long GROUP BY component, field
        |HAVING count(DISTINCT value) > 1""".stripMargin),

    // Stable entity ids across runs: previous run's entity map at
    // doc_id % 97, this run's clustering at doc_id % 89 — heavy
    // merge/split churn with near-universal overlap ties, so both
    // deterministic tie-breaks (smallest entity, then smallest cluster)
    // and the one-carry-per-entity rule are all load-bearing. Windows
    // carry top-1 filters (InferWindowGroupLimit); everything else is
    // map-side-combinable groupBys + key joins.
    Gate("q_entity_ids", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val prev = d.select(col("doc_id").as("id"),
        concat(lit("e"), (col("doc_id") % 97).cast("string")).as("entity_id"))
      val cur = d.select(col("doc_id").as("id"),
        (col("doc_id") % 89).as("component"))
      graft.operators.EntityIds.stabilize(prev, cur, "id")
    },
      // id-carry re-derivation: overlap counts → per-cluster argmax
      // (ties: entity asc) → per-entity winner (ties: cluster asc) →
      // carried / minted ids.
      """WITH prev AS (
        |  SELECT doc_id AS id, 'e' || CAST(doc_id % 97 AS VARCHAR) AS prev_e
        |  FROM documents
        |), cur AS (
        |  SELECT doc_id AS id, doc_id % 89 AS component FROM documents
        |), sizes AS (
        |  SELECT component, CAST(count(*) AS BIGINT) AS n_members,
        |         min(id) AS min_id
        |  FROM cur GROUP BY component
        |), ov AS (
        |  SELECT component, prev_e, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM cur JOIN prev USING (id) GROUP BY 1, 2
        |), cand AS (
        |  SELECT component, prev_e, n_overlap FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY component ORDER BY n_overlap DESC, prev_e) AS rn
        |    FROM ov) WHERE rn = 1
        |), win AS (
        |  SELECT component, TRUE AS carried FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY prev_e ORDER BY n_overlap DESC, component) AS rn
        |    FROM cand) WHERE rn = 1
        |)
        |SELECT s.component,
        |  CASE WHEN w.carried THEN c.prev_e
        |       ELSE 'new:' || CAST(s.min_id AS VARCHAR) END AS entity_id,
        |  s.n_members,
        |  CAST(coalesce(c.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  coalesce(w.carried, FALSE) = FALSE AS is_new
        |FROM sizes s
        |LEFT JOIN cand c USING (component)
        |LEFT JOIN win w USING (component)""".stripMargin),

    // Leakage-safe split: hash over the CLUSTER id so near-duplicates
    // can never straddle train/test; doc_id % 4 == 0 rows are left
    // unassigned to exercise the disjoint singleton-key fallback.
    Gate("q_split_cluster", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"))
      val asg = d.where(col("doc_id") % 4 =!= 0)
        .select(col("doc_id"), (col("doc_id") % 89).as("component"))
      graft.operators.Sampling.splitByCluster(d, "doc_id", asg,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split_name"))
    },
      // Cluster-keyed split re-derivation: the splitAssign sha fraction over
      // the cluster key (or the "s:"-prefixed singleton fallback for rows
      // outside the assignment).
      {
        val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        val cuts = weights.scanLeft(0.0)(_ + _._2).tail
        val nibbles = shaPrefix32()
        val cases = weights.init.zip(cuts.init).map { case ((name, _), cut) =>
          s"WHEN frac < CAST('$cut' AS DOUBLE) THEN '$name'"
        }.mkString(" ")
        s"""WITH k AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 4 <> 0 THEN CAST(doc_id % 89 AS VARCHAR)
           |         ELSE 's:' || CAST(doc_id AS VARCHAR) END AS key
           |  FROM documents
           |), h AS (
           |  SELECT doc_id, sha256(key || ':42') AS hx FROM k
           |), v AS (
           |  SELECT doc_id, CAST($nibbles AS DOUBLE) / 4294967296.0 AS frac FROM h
           |)
           |SELECT doc_id, CASE $cases ELSE '${weights.last._1}' END AS split_name
           |FROM v""".stripMargin
      }),

    // Incremental golden-record maintenance: previous canonical frame
    // built WITHOUT the batch (doc_id % 64 == 0 held out), then
    // goldenRecordsIncremental folds the batch in by recomputing only
    // the 1-in-4 touched clusters (component = doc_id/16) and keeping
    // the other golden rows verbatim. Hash-checked against a FULL
    // re-derivation over the whole corpus: incremental is a cost
    // refactoring, not new semantics.
    Gate("q_golden_incremental", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val records = d.select(col("doc_id").as("id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      def asgOf(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id").as("id"),
          floor(col("doc_id") / 16).cast("long").as("component"))
      val oldDocs = d.where(pmod(col("doc_id"), lit(64)) =!= 0)
      val prev = graft.operators.Canonicalize.goldenRecords(
        records.where(pmod(col("id"), lit(64)) =!= 0), asgOf(oldDocs), "id",
        rules = goldenRules)
      graft.operators.Canonicalize.goldenRecordsIncremental(prev,
        asgOf(oldDocs), asgOf(d), records, "id", rules = goldenRules)
    },
      // incremental ≡ full: the oracle re-derives golden records over the
      // WHOLE corpus at component = doc_id // 16 — same CTE shape as
      // q_golden_records.
      goldenSql("doc_id // 16")),

    // Source-trust survivorship: the prefer:<priorityCol> rule — each
    // cluster's canonical text comes from its smallest-priority record
    // (curated beats crawled), ties to the smallest value, null values
    // never shadowing populated lower-trust ones. One min-combinable
    // struct aggregate; the oracle replays it as an argmin window.
    Gate("q_golden_priority", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val records = d.select(col("doc_id").as("id"), col("text"),
        length(col("source")).as("prio"))
      val assignment = d.select(col("doc_id").as("id"),
        (col("doc_id") % 89).as("component"))
      graft.operators.Canonicalize.goldenRecords(records, assignment, "id",
        rules = Seq("text" -> "prefer:prio"))
    },
      // prefer: rule — argmin window over (priority, value), null values
      // excluded, mirroring min(struct(prio, v)) exactly.
      """WITH j AS (
        |  SELECT doc_id AS id, doc_id % 89 AS component, text,
        |         CAST(length(source) AS BIGINT) AS prio
        |  FROM documents
        |), base AS (
        |  SELECT component, min(id) AS id,
        |         CAST(count(*) AS BIGINT) AS n_members
        |  FROM j GROUP BY component
        |), pref AS (
        |  SELECT component, text FROM (
        |    SELECT component, text, row_number() OVER (
        |      PARTITION BY component ORDER BY prio, text) AS rn
        |    FROM j WHERE text IS NOT NULL) WHERE rn = 1
        |)
        |SELECT b.component, b.id, b.n_members, p.text
        |FROM base b LEFT JOIN pref p ON b.component = p.component""".stripMargin),

    // transitive clustering (stage: large-star/small-star connected
    // components; exercises graft.operators.ConnectedComponents)
    Gate("q_connected_components", (s, dir) => {
      val edges = ccEdges(s, dir)
      graft.operators.ConnectedComponents.run(edges)
    },
      s"""WITH RECURSIVE $ccPairsCte, $componentWalkCtes
        |SELECT id, min(r) AS component FROM walk GROUP BY id""".stripMargin),

    // synchronous label propagation (3 pinned rounds, neighbor-majority,
    // min-label ties) over the SAME match graph as
    // q_connected_components — community structure instead of reach;
    // the oracle unrolls all 3 vote/argmax/carry rounds.
    Gate("q_label_propagation", (s, dir) => {
      val edges = ccEdges(s, dir)
      graft.operators.ConnectedComponents.labelPropagation(edges, rounds = 3)
    },
      lpaOracle(3)),

    // Cluster-generation diff: two deterministic clusterings of customer
    // engineered to produce all four cell kinds — stable singletons
    // (id % 11), a merge family (singleton olds absorbed into one new,
    // id % 13), a split family (one old carved into singleton news,
    // id % 7), and segment/nation reshuffle cells for the rest.
    Gate("q_cluster_diff", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val oldA = c.select(col("c_custkey").as("id"),
        when(col("c_custkey") % 11 === 0, concat(lit("st:"), col("c_custkey")))
          .when(col("c_custkey") % 13 === 0, concat(lit("mg:"), col("c_custkey")))
          .when(col("c_custkey") % 7 === 0, lit("sp:grp"))
          .otherwise(concat(col("c_mktsegment"), lit(":"),
            col("c_nationkey") % 3)).as("cluster_id"))
      val newA = c.select(col("c_custkey").as("id"),
        when(col("c_custkey") % 11 === 0, concat(lit("st:"), col("c_custkey")))
          .when(col("c_custkey") % 13 === 0, lit("mg:all"))
          .when(col("c_custkey") % 7 === 0, concat(lit("sp:"), col("c_custkey")))
          .otherwise(concat(col("c_nationkey") % 3, lit(":"),
            when(col("c_acctbal") >= 0, lit("p")).otherwise(lit("n"))))
          .as("cluster_id"))
      graft.operators.Evaluation.clusterDiff(oldA, newA, "id")
    },
      // Cluster diff: the same CASE cluster derivations, contingency
      // counts, cell-sized marginals, and the stable/merge/split/reshuffle
      // classification.
      """WITH o AS (
        |  SELECT c_custkey AS id,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'st:' || CAST(c_custkey AS VARCHAR)
        |         WHEN c_custkey % 13 = 0 THEN 'mg:' || CAST(c_custkey AS VARCHAR)
        |         WHEN c_custkey % 7 = 0 THEN 'sp:grp'
        |         ELSE c_mktsegment || ':' || CAST(c_nationkey % 3 AS VARCHAR)
        |    END AS old_id
        |  FROM customer
        |), nw AS (
        |  SELECT c_custkey AS id,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'st:' || CAST(c_custkey AS VARCHAR)
        |         WHEN c_custkey % 13 = 0 THEN 'mg:all'
        |         WHEN c_custkey % 7 = 0 THEN 'sp:' || CAST(c_custkey AS VARCHAR)
        |         ELSE CAST(c_nationkey % 3 AS VARCHAR) || ':' ||
        |              CASE WHEN c_acctbal >= 0 THEN 'p' ELSE 'n' END
        |    END AS new_id
        |  FROM customer
        |), cells AS (
        |  SELECT old_id, new_id, count(*) AS n
        |  FROM o JOIN nw USING (id) GROUP BY old_id, new_id
        |), osz AS (
        |  SELECT old_id, sum(n) AS n_old FROM cells GROUP BY old_id
        |), nsz AS (
        |  SELECT new_id, sum(n) AS n_new FROM cells GROUP BY new_id
        |)
        |SELECT c.old_id, c.new_id, c.n,
        |  CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
        |  CASE WHEN c.n = n_old AND c.n = n_new THEN 'stable'
        |       WHEN c.n = n_old THEN 'merge'
        |       WHEN c.n = n_new THEN 'split'
        |       ELSE 'reshuffle' END AS kind
        |FROM cells c JOIN osz USING (old_id) JOIN nsz USING (new_id)""".stripMargin),

    // Canopy clustering (McCallum-Nigam-Ungar) over the nationkey-blocked
    // customer pairs with normalized-Levenshtein as the cheap metric:
    // loose t1 = 0.88 (≤2 edits on the fixed-length names), tight
    // t2 = 0.94 (≤1 edit). Overlapping membership: centers = greedy MIS
    // of the tight graph in the LCG visit order; a record joins every
    // center picked while it was still on the candidate list. The oracle
    // replays the MIS rounds recursively plus the removal-rank joins.
    Gate("q_canopies", (s, dir) => {
      val pairs = customerPairs(s, dir)
        .select(col("ka").as("ia"), col("kb").as("ib"),
          levenshtein_sim(col("na"), col("nb")).as("sim"))
      graft.operators.Canopy.canopies(pairs, t1Loose = 0.88, t2Tight = 0.94)
    },
      // Canopies: loose/tight pair CTEs, the SAME recursive greedy-MIS
      // rounds as q_pivot_clusters over the TIGHT graph, then removal-rank
      // (own rank for centers, min tight-center-neighbor rank otherwise)
      // and the loose-membership join with self-membership unioned.
      s"""WITH RECURSIVE cpairs AS (
        |  SELECT a.c_custkey AS ia, b.c_custkey AS ib,
        |    ${levSimSql("a.c_name", "b.c_name")} AS s
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |), loose AS (
        |  SELECT ia, ib, s FROM cpairs WHERE s >= CAST(0.88 AS DOUBLE)
        |), sym AS (
        |  SELECT u, v, max(s) AS s FROM (
        |    SELECT ia AS u, ib AS v, s FROM loose
        |    UNION ALL SELECT ib, ia, s FROM loose) z
        |  GROUP BY u, v
        |), nodes AS (
        |  SELECT DISTINCT u AS id FROM sym
        |), keyed AS (
        |  SELECT id,
        |    ((id * 1103515245 + 12345) % 2147483648) * 2147483648 + id AS rk
        |  FROM nodes
        |), tight AS (
        |  SELECT u, v FROM sym WHERE s >= CAST(0.94 AS DOUBLE)
        |), ${misRoundsSql("tight")}, ctr AS (
        |  SELECT id, rk FROM st WHERE mis
        |), remn AS (
        |  SELECT t.u AS id, min(p.rk) AS rem
        |  FROM tight t JOIN ctr p ON t.v = p.id GROUP BY t.u
        |), rem AS (
        |  SELECT k.id, CASE WHEN c.id IS NOT NULL THEN k.rk ELSE r.rem END AS rem
        |  FROM keyed k LEFT JOIN ctr c ON k.id = c.id
        |               LEFT JOIN remn r ON k.id = r.id
        |)
        |SELECT s.u AS id, s.v AS canopy
        |FROM sym s JOIN ctr p ON s.v = p.id JOIN rem ON s.u = rem.id
        |WHERE p.rk <= rem.rem
        |UNION ALL
        |SELECT id, id AS canopy FROM ctr""".stripMargin),

    // Pivot correlation clustering (KwikCluster) over the SAME match
    // edges as q_connected_components — the chaining-resistant clustering
    // alternative: clusters are stars around deterministic-rank pivots,
    // so a~b~c with no a~c edge yields {a,b} {c} (or {b-pivot star}), not
    // one merged component. The oracle replays the parallel greedy-MIS
    // rounds (two window layers per round over the working table) and the
    // min-rank-pivot claim, using the identical LCG rank mix.
    Gate("q_pivot_clusters", (s, dir) => {
      val edges = ccEdges(s, dir)
      graft.operators.PivotClustering.run(edges)
    },
      // Pivot clustering: parallel greedy-MIS rounds replayed in a recursive
      // CTE. Each step joins the ACTIVE working set to both edge ends; two
      // window layers compute (a) local-min pivot flags for both endpoints
      // of every surviving edge row and (b) per-node domination by a pivot
      // neighbor; actives with no active neighbor are pivots by the second
      // branch. rk packs the LCG mix and the id into one BIGINT (ids < 2^31
      // here), matching Spark's (k, id) struct order exactly.
      s"""WITH RECURSIVE $ccPairsCte, edges AS (
        |  SELECT ka AS u, kb AS v FROM pairs
        |  UNION ALL SELECT kb, ka FROM pairs
        |), nodes AS (
        |  SELECT DISTINCT u AS id FROM edges
        |), keyed AS (
        |  SELECT id,
        |    ((id * 1103515245 + 12345) % 2147483648) * 2147483648 + id AS rk
        |  FROM nodes
        |), ${misRoundsSql("edges")}, misq AS (
        |  SELECT id, rk FROM st WHERE mis
        |), claims AS (
        |  SELECT e.u AS id, arg_min(p.id, p.rk) AS claim
        |  FROM edges e JOIN misq p ON e.v = p.id
        |  GROUP BY e.u
        |)
        |SELECT n.id,
        |  CASE WHEN m.id IS NOT NULL THEN n.id ELSE c.claim END AS cluster
        |FROM nodes n LEFT JOIN misq m ON n.id = m.id
        |             LEFT JOIN claims c ON n.id = c.id""".stripMargin),
  )
}
