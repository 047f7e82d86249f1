package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core extraction by iterative peeling (Seidman 1983, "Network
  * structure and minimum degree"): repeatedly delete every node whose
  * degree in the CURRENT subgraph is below k until none remains — the
  * maximal subgraph of minimum degree ≥ k. In corpus curation the core
  * is the robustness complement of triangle counting (q188): a link farm
  * survives high k with dense mutual linkage, while organically-linked
  * pages peel away; conversely a page kept only by one hub dies in the
  * first peel even if that hub is enormous.
  *
  * Dataflow per round: one map-side-combined degree aggregate over the
  * live edge set + two anti-joins dropping edges that touch a
  * sub-degree node. The live edge set is eagerly local-checkpointed
  * each round (the q155 discipline — persist alone leaves the logical
  * plan nesting join-over-join until analysis itself OOMs) and the
  * previous round's blocks are released explicitly. Peeling CASCADES —
  * deleting a node can push its neighbors below k — which is why the
  * loop must run to a fixpoint, not a fixed count; each round strictly
  * shrinks the edge set, so termination is certain and round count in
  * practice is small (degeneracy ordering collapses long chains in one
  * round each).
  *
  * All arithmetic is integer counting: the fixpoint — and therefore
  * the membership — is partitioning-invariant, and a SQL oracle replays
  * it as unrolled peel CTEs ([[oracleCtes]]): extra unrolled rounds past
  * convergence are no-ops, so the oracle only needs AT LEAST the
  * engine's round count, which [[kcore]] enforces loudly via
  * `maxRounds`.
  */
object KCore {

  /** Nodes of the k-core with their within-core degree: (node, deg),
    * empty when the core is empty. Edges are undirected; duplicates,
    * reversals, and self-loops collapse. Throws if the fixpoint is not
    * reached within `maxRounds` (raise it — never silently return a
    * half-peeled graph). */
  def kcore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"bad k $k")
    require(maxRounds >= 1, s"bad maxRounds $maxRounds")
    val spark = edges.sparkSession
    // per-round materialization through the shared seam — reliable
    // (scratch-parquet) every N-th round under
    // spark.graft.reliableCheckpointInterval (see [[IterCheckpoint]])
    val iter = new IterCheckpoint(spark, "kcore")

    var e = iter.materialize(edges
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct())

    def degrees(edgeSet: DataFrame): DataFrame =
      edgeSet.select(col("a").as("node")).union(edgeSet.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))

    var round = 0
    var converged = false
    while (!converged) {
      val bad = degrees(e.df).filter(col("deg") < k).select(col("node"))
      if (bad.isEmpty) converged = true
      else {
        require(round < maxRounds,
          s"k-core did not converge within $maxRounds peel rounds — raise maxRounds")
        val next = iter.materialize(e.df
          .join(bad.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
          .join(bad.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
          .select(col("a"), col("b")))
        e.release()
        e = next
        round += 1
      }
    }
    // the OUTPUT (node, deg — core-sized) is rematerialized to scratch
    // and the final peel checkpoint released inside the call: nothing
    // stays pinned after return (the r18 PageRank.run contract)
    val out = graft.store.Scratch.rematerialize(degrees(e.df), "kcore",
      coalesceTo = graft.store.Scratch.OutputFiles)
    e.release()
    out
  }

  /** Unrolled peel CTEs for the DuckDB oracle: `edgesCte` must define a
    * DEDUPLICATED canonical relation e0(a, b) with a < b. Produces
    * e0..e<rounds> and a final `core(node, deg)`; rounds past the
    * fixpoint are no-ops, so any rounds ≥ the engine's count replays
    * exactly. */
  def oracleCtes(edgesCte: String, k: Int, rounds: Int): String = {
    // MATERIALIZED: each unrolled round references its predecessor
    // several times — without materialization DuckDB inlines the whole
    // chain per reference and the base scan re-opens exponentially
    // (observed as "Too many open files" at 8 rounds)
    val header = s"e0 AS MATERIALIZED ($edgesCte)"
    val steps = (1 to rounds).map { i =>
      s"""bad$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT node, COUNT(*) AS deg FROM (
         |      SELECT a AS node FROM e${i - 1}
         |      UNION ALL SELECT b FROM e${i - 1})
         |    GROUP BY node)
         |  WHERE deg < $k),
         |e$i AS MATERIALIZED (
         |  SELECT a, b FROM e${i - 1}
         |  WHERE a NOT IN (SELECT node FROM bad$i)
         |    AND b NOT IN (SELECT node FROM bad$i))""".stripMargin
    }
    val core =
      s"""core AS (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS node FROM e$rounds
         |    UNION ALL SELECT b FROM e$rounds)
         |  GROUP BY node)""".stripMargin
    (header +: steps :+ core).mkString(",\n")
  }
}
