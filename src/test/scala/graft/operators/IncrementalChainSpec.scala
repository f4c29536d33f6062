package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** End-to-end incremental chain — the integration seam no single
  * operator spec sees: persisted band index → indexed cross-batch pairs
  * + within-batch pairs → ConnectedComponents.addEdges →
  * EntityIds.stabilize → Canonicalize.goldenRecordsIncremental, asserted
  * EQUAL to a from-scratch recompute over the merged corpus (pairs → CC
  * → golden) with entity ids stable across the runs. This is the daily-
  * batch production path whose per-batch cost is ∝ batch, not corpus. */
class IncrementalChainSpec extends SparkFunSuite {
  import spark.implicits._

  // members of a cluster share a token SET (order/duplication vary), so
  // LSH candidacy is deterministic (identical signatures) and verified
  // jaccard is exactly 1.0; cross-cluster token sets are disjoint.
  private val corpus0 = Seq(
    (1L, "a b c d"), (2L, "b a c d d"), (3L, "x y z")
  ).toDF("id", "text")
  private val batch = Seq(
    (10L, "d c b a a"),  // joins {1,2}
    (11L, "z x y"),      // merges with singleton 3
    (12L, "p q r"), (13L, "r q p p") // new cluster, within-batch edge
  ).toDF("id", "text")
  private val tau = 0.9
  private val rules = Seq("text" -> "longest")

  private def cover(allIds: DataFrame, asg: DataFrame): DataFrame =
    allIds.join(asg, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))

  private def asgSet(asg: DataFrame): Set[(Long, Long)] =
    asg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("daily-batch incremental chain == from-scratch recompute, ids stable") {
    val union = corpus0.unionAll(batch)

    // ---- run 0: pairs -> CC -> minted entity ids -> golden frame
    val edges0 = Dedup.minhashLshPairs(corpus0, "id", "text", tau)
      .select("ia", "ib")
    val ids0 = cover(corpus0.select(col("id")),
      ConnectedComponents.run(edges0))
    assert(asgSet(ids0) == Set((1L, 1L), (2L, 1L), (3L, 3L)))
    val ent0 = EntityIds.stabilize(
      Seq.empty[(Long, String)].toDF("id", "entity_id"), ids0, "id")
    assert(ent0.collect().forall(_.getBoolean(4))) // run 0 mints everything
    val entMap0 = ids0
      .join(ent0.select(col("component"), col("entity_id")), "component")
      .select(col("id"), col("entity_id"))
    val golden0 = Canonicalize.goldenRecords(corpus0, ids0, "id",
      rules = rules)

    // ---- run 1, incremental: index built once, batch-proportional work
    val index = Dedup.bandIndex(corpus0, "id", "text").out
    val cross = Dedup.minhashLshIncrementalIndexed(
      index, corpus0, batch, "id", "text", tau)
      .select(col("batch_id").as("ia"), col("corpus_id").as("ib"))
    val within = Dedup.minhashLshPairs(batch, "id", "text", tau)
      .select("ia", "ib")
    val asg1 = cover(union.select(col("id")),
      ConnectedComponents.addEdges(ids0, cross.unionAll(within)))

    // ---- from-scratch reference over the merged corpus
    val edgesF = Dedup.minhashLshPairs(union, "id", "text", tau)
      .select("ia", "ib")
    val asgF = cover(union.select(col("id")),
      ConnectedComponents.run(edgesF))
    assert(asgSet(asg1) == asgSet(asgF),
      "incremental assignment diverged from the from-scratch run")
    assert(asgSet(asg1) == Set((1L, 1L), (2L, 1L), (10L, 1L),
      (3L, 3L), (11L, 3L), (12L, 12L), (13L, 12L)))

    // ---- entity ids: grown/merged clusters carry run-0 ids; only the
    // genuinely new cluster mints
    val ent1 = EntityIds.stabilize(entMap0, asg1, "id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(4))))
      .toMap
    assert(ent1(1L) == (("new:1", false)))
    assert(ent1(3L) == (("new:3", false)))
    assert(ent1(12L) == (("new:12", true)))

    // ---- golden records: incremental maintenance == full re-derivation
    val g1inc = Canonicalize.goldenRecordsIncremental(golden0, ids0, asg1,
      union, "id", rules = rules)
    val g1full = Canonicalize.goldenRecords(union, asgF, "id", rules = rules)
    val key = (df: DataFrame) => df.orderBy("component").collect()
      .map(_.toSeq).toSeq
    assert(key(g1inc.select(g1full.columns.map(col): _*)) == key(g1full),
      "incremental golden frame diverged from the full recompute")
  }
}
