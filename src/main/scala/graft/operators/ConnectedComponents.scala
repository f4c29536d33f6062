package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import scala.jdk.CollectionConverters._

/** Iterative DataFrame-based connected components via alternating
  * large-star / small-star rounds (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SOCC'14 — public algorithm, re-derived here as
  * pure DataFrame ops; the north rule mandates this formulation).
  *
  * Why this and not min-label propagation: label propagation needs
  * O(diameter) rounds; large-star/small-star converges in O(log n) rounds
  * on any graph shape, which is what survives web-scale chain-shaped
  * clusters. Each round is two groupBy/join shuffles on the node id — all
  * stock Catalyst operators, so AQE re-plans each round from fresh
  * statistics — and per-round materialization truncates the growing
  * lineage (SURVEY.md §4.2 watch item).
  *
  * Fault tolerance at cluster scale: a round is materialized by
  * [[Frames.shared]] by default, whose local checkpoint stores blocks on
  * executors — losing one executor mid-iteration truncates lineage with no
  * recompute path and kills the job. Set `graft.cc.checkpointDir` (or pass
  * `checkpointDir`) to materialize each round to reliable storage
  * (parquet) instead: an explicit write+readback is one pass over the
  * round's edges (unlike RDD reliable checkpoint, which recomputes the
  * plan a second time to write it), survives executor loss, and makes the
  * loop resumable from the last completed round. For small and medium
  * graphs the default local checkpoint is the faster choice.
  */
object ConnectedComponents {

  /** Result of a CC run: the assignment plus convergence telemetry.
    * `roundEdges(i)` = surviving edge count after round i+1 — the signal to
    * watch on huge graphs: a healthy run shrinks (or stabilizes) it every
    * round; a stalled one (roundEdges flat while iterations climb toward
    * maxIter) is visible LONG before `require(done)` kills the job, and
    * [[graft.plans.Pipeline]] surfaces the series in its metrics frame. */
  final case class Result(assignment: DataFrame, iterations: Int,
      roundEdges: Seq[Long] = Nil)

  /** Sizing rule for `maxIter` (the failure mode of undersizing is job
    * death at `require(done)`, so size it from the graph, not hope):
    * alternating large-star/small-star needs O(log n) rounds, and the
    * spec-pinned worst case on adversarial chain graphs is ≤ 2·log₂(n) + 2
    * observed rounds (ConnectedComponentsSpec) — so set
    * maxIter ≥ 2·log₂(expected nodes) + slack: 50 covers n ≈ 2^22 chains
    * and any real web graph (whose effective diameter is tiny — empirically
    * < 10 rounds); for a 10^12-node adversarially-chained graph raise it
    * to ~90 via this helper. Library surface: for callers that pass
    * `maxIter`; no pipeline stage calls it. */
  def maxIterFor(expectedNodes: Long): Int =
    2 * (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, expectedNodes))) + 10

  /** Connected components over an undirected edge list.
    *
    * @param edges0 DataFrame with two Long columns (any names) = edge ends.
    * @return DataFrame (id: Long, component: Long) covering every node that
    *         appears in at least one edge; component = min node id of the
    *         component. Callers union isolated nodes themselves.
    */
  def run(edges0: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame =
    runWithStats(edges0, maxIter, checkpointDir).assignment

  def runWithStats(edges0: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): Result = {
    val spark = edges0.sparkSession
    // both spellings: "spark."-prefixed survives spark-submit --conf,
    // the bare key is the programmatic convenience
    val dir = checkpointDir
      .orElse(spark.conf.getOption("spark.graft.cc.checkpointDir"))
      .orElse(spark.conf.getOption("graft.cc.checkpointDir"))

    // Materialize a round: the round's edges feed its signature, the
    // frontier gate and the next round. Reliable mode keeps every round on
    // durable storage (executor-loss safe); the default is [[Frames]].
    def materialize(df: DataFrame, round: Int): DataFrame = dir match {
      case Some(d) =>
        val path = s"$d/cc_round_$round"
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      // the convergence-signature aggregate right after is the
      // materializing action, so each round submits ONE job, not two
      case None => Frames.shared(df)
    }

    val Seq(c0, c1) = edges0.columns.take(2).toSeq
    // canonical (src > dst), no self-loops, deduped
    var edges = materialize(edges0
      .select(greatest(col(c0), col(c1)).as("src"), least(col(c0), col(c1)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct(), 0)

    // Driver finish ([[DriverFinish]]): the component partition is a pure
    // function of the edge set, so one union-find pass over the collected
    // frontier computes the same min-root assignment as the remaining
    // rounds. The frontier shrinks geometrically, so at scale the finish
    // replaces only the last few rounds, where per-round fixed cost
    // dominates a tiny frontier.
    val driverCap = DriverFinish.cap(spark, "cc.driverFinishEdges")

    def driverFinish(frontier: DataFrame): DataFrame = {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      val nodes = new java.util.HashSet[Long]()
      frontier.select(col("src"), col("dst")).collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        nodes.add(a); nodes.add(b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      // min-root convention: roots ARE min ids (union always keeps the
      // smaller root), so find(x) is the component id directly
      DriverFinish.frame(spark,
        new StructType().add("id", LongType).add("component", LongType),
        nodes.asScala.toSeq.map(n => Row(n, find(n))))
    }

    // the count doubles as the frontier's materializing action
    lazy val n0 = edges.count()
    if (DriverFinish.fits(driverCap, n0))
      return Result(driverFinish(edges), 0, Seq(n0))

    var lastSig: (Long, Long) = (-1L, -1L)
    val roundEdges = scala.collection.mutable.ArrayBuffer.empty[Long]
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // ---- large-star: attach every neighbor v > u to m(u) = min(N(u) ∪ u)
      val b = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val mins = b.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      // no distinct here: duplicates don't change the small-star min
      // aggregate and the loop-state distinct below cleans the output —
      // saves one full shuffle per iteration
      val large = b.join(mins, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))

      // ---- small-star on canonical (src > dst) edges:
      // m(u) = min(N_<=(u)); emit (v, m) for v in N_<=(u) ∪ {u}, v != m
      val smins = large.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val viaDst = large.join(smins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
      val viaSrc = smins.select(col("src"), col("m").as("dst"))
      val next = materialize(viaDst.union(viaSrc)
        .where(col("src") =!= col("dst"))
        .distinct(), iter + 1)

      // Convergence signature over the MATERIALIZED round (one extra
      // action, but in reliable mode it re-scans the round's parquet —
      // never recomputes the joins). bit_xor: order-independent,
      // overflow-free (rows are distinct, so xor-cancellation of
      // duplicates can't occur).
      val sigRow = next.agg(
        count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h")).head()
      val sig = (sigRow.getLong(0), sigRow.getLong(1))
      roundEdges += sig._1
      done = sig == lastSig
      lastSig = sig
      edges = next
      iter += 1
      // mid-loop driver finish: the frontier shrank under the cap — the
      // remaining O(log tail) rounds collapse into one union-find pass
      if (!done && DriverFinish.fits(driverCap, sig._1))
        return Result(driverFinish(edges), iter, roundEdges.toSeq)
    }
    require(done, s"connected components did not converge in $maxIter iterations")

    // converged: edges form stars (node -> component root)
    val roots = edges.select(col("dst")).distinct()
      .select(col("dst").as("id"), col("dst").as("component"))
    val assignment = edges.select(col("src").as("id"), col("dst").as("component"))
      .union(roots)
      .groupBy(col("id")).agg(min(col("component")).as("component"))
    Result(assignment, iter, roundEdges.toSeq)
  }

  /** Incremental CC: fold a BATCH of new edges into an existing
    * assignment without re-running [[run]] over the merged edge set —
    * the continuous-crawl companion to [[Dedup.bandIndex]] (new near-dup
    * edges arrive per batch; the corpus assignment is already computed
    * and 10^6× larger).
    *
    * Semantics: exactly [[run]] on (edges behind `assignment`) ∪
    * `newEdges` — because component ids are MIN node ids, contracting
    * every existing component to its id loses nothing: the merged
    * component's root is the min over touched component ids and new node
    * ids, which IS the global min node id
    * (ConnectedComponentsSpec pins incremental ≡ full on chains, stars,
    * merges, and batches that bridge many old components; the
    * q_dedup_groups_incremental gate hash-checks it against the full
    * recursive-CTE oracle).
    *
    * Scale shape — every corpus-sized frame crosses the plan at most
    * once, and never through a shuffle keyed on it:
    *  1. endpoint→component lookup: two equi-joins of the BATCH against
    *     `assignment`; the batch side broadcasts (it is the small side
    *     by construction — Spark's size estimate or an explicit
    *     `broadcast(newEdges)` upstream picks that), so the assignment
    *     is scanned in place, not shuffled.
    *  2. [[run]] over the CONTRACTED edges — ∝ batch, not corpus.
    *  3. relabel: `assignment` LEFT JOIN the batch-sized (old component →
    *     new root) map — again a broadcast of the small side.
    * Nodes never seen before (endpoints outside the assignment) enter as
    * their own contracted node and land in the output; isolated-node
    * conventions match [[run]] (callers union isolated nodes).
    *
    * @param assignment (id, component) frame from [[run]] (or a previous
    *                   [[addEdges]]) — first two columns, any names.
    * @param newEdges   two Long columns = new undirected edge ends.
    * @return updated (id, component) covering every node of `assignment`
    *         plus every endpoint of `newEdges`. */
  def addEdges(assignment: DataFrame, newEdges: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val Seq(a0, a1) = assignment.columns.take(2).toSeq
    val asg = assignment.select(col(a0).as("id"), col(a1).as("component"))
    val Seq(e0, e1) = newEdges.columns.take(2).toSeq
    val ends = newEdges.select(col(e0).as("ea"), col(e1).as("eb"))

    // 1. endpoints → current components (unknown endpoints are their own)
    val contracted = ends
      .join(asg.select(col("id").as("ea"), col("component").as("ca")),
        Seq("ea"), "left")
      .join(asg.select(col("id").as("eb"), col("component").as("cb")),
        Seq("eb"), "left")
      .select(coalesce(col("ca"), col("ea")).as("x"),
        coalesce(col("cb"), col("eb")).as("y"))
      .where(col("x") =!= col("y"))

    // 2. CC over the contracted (batch-sized) graph: (old component OR new
    // node) -> new root. Roots are global min node ids (see above).
    val relabel = run(contracted, maxIter, checkpointDir)
      .select(col("id").as("old"), col("component").as("newComp"))

    // 3. relabel touched components; append new nodes (self-rooted when
    // the contraction dropped their only edges as self-loops/same-component)
    val updated = asg
      .join(relabel.select(col("old").as("component"), col("newComp")),
        Seq("component"), "left")
      .select(col("id"), coalesce(col("newComp"), col("component")).as("component"))
    val newNodes = ends.select(col("ea").as("id"))
      .union(ends.select(col("eb").as("id")))
      .distinct()
      .join(asg.select(col("id")), Seq("id"), "left_anti")
    val newAssigned = newNodes
      .join(relabel.select(col("old").as("id"), col("newComp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("newComp"), col("id")).as("component"))
    updated.union(newAssigned)
  }

  /** Synchronous label propagation (Raghavan et al. 2007, pinned
    * deterministic): COMMUNITY detection inside match graphs — where
    * [[run]] answers "what is connected", this answers "what sticks
    * together", splitting the chain-shaped over-merges a single weak
    * edge creates (two dense name-clusters joined by one bad pair keep
    * their own majority labels; the bridge can't outvote either side).
    *
    * Pinned semantics (classic LPA is randomized — every source of
    * nondeterminism is replaced by an order-free rule):
    *  - labels start as the node's own id;
    *  - each round, EVERY node simultaneously adopts the most frequent
    *    label among its neighbors' previous-round labels (undirected:
    *    both edge directions vote; self-label does NOT vote); ties break
    *    to the smallest label. NOTE the node set is derived from the
    *    self-loop-filtered edge list: records whose only edges are
    *    self-loops (or that appear in no edge) are ABSENT from the
    *    output — callers wanting them left-join labels onto their own
    *    node frame (the [[run]] isolated-node convention);
    *  - exactly `rounds` synchronous rounds — a fixed budget, not a
    *    convergence loop, so bipartite two-cycles (sync LPA's classic
    *    failure) still yield a deterministic, oracle-reproducible output.
    *
    * Scale shape: each round is one (dst, label) map-side-combinable
    * count + one argmax fold (min(struct(-cnt, label)) — no window) +
    * one left join back to the node set; lineage depth is `rounds`
    * (small by design — communities stabilize in a handful of rounds;
    * the caller picks the budget, so rounds are not materialized). */
  def labelPropagation(edges0: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds must be in [1,20], got $rounds")
    val Seq(e0, e1) = edges0.columns.take(2).toSeq
    val sym = edges0.select(col(e0).as("src"), col(e1).as("dst"))
      .unionAll(edges0.select(col(e1).as("src"), col(e0).as("dst")))
      .where(col("src") =!= col("dst")) // self-loops vote for nobody
      .distinct()
    val nodes = sym.select(col("dst").as("id")).distinct()
    var labels = nodes.select(col("id"), col("id").as("label"))
    for (_ <- 1 to rounds) {
      val votes = sym
        .join(labels.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("__cnt"))
      val winner = votes.groupBy(col("dst"))
        .agg(min(struct((-col("__cnt")).as("nc"), col("label").as("l")))
          .getField("l").as("__win"))
      labels = labels
        .join(winner.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"), coalesce(col("__win"), col("label")).as("label"))
    }
    labels
  }
}
