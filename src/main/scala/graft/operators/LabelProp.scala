package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic synchronous label propagation (Raghavan, Albert,
  * Kumara 2007) — near-linear community detection: every node starts as
  * its own label and repeatedly adopts the label most common among its
  * neighbors. Communities in a corpus link graph are the mid-scale
  * structure between connected components (q85's clusters — too coarse:
  * one giant component) and triangles/k-core (q188/q190 — local): mirror
  * families, template ecosystems, and topical hubs separate into labels
  * without any distance metric or cluster count.
  *
  * The engine's variant is fully DETERMINISTIC, which vanilla LPA is
  * not (it breaks ties randomly and updates asynchronously):
  *  - synchronous rounds, a FIXED iteration count — the trajectory is a
  *    pure function of the graph, so an unrolled SQL oracle replays it;
  *  - ties break to the SMALLEST label (then the vote is unique);
  *  - each node's own current label joins the vote (the self-vote) —
  *    the standard damper for the 2-coloring oscillation synchronous
  *    LPA exhibits on bipartite-ish structure.
  *
  * Scale shape per round: one join of the (pre-materialized,
  * both-directions) edge table against the label table + one
  * map-side-combined (node, label) count + one per-node argmax window.
  * The label table is node-sized; iterations are eagerly
  * local-checkpointed with explicit release (the q155 lineage
  * discipline). Integer counting + lexicographic ties = partitioning-
  * invariant labels at every round.
  */
object LabelProp {

  /** Run `iterations` synchronous rounds; returns (node, label).
    *
    * `stopWhenStable = true` adds the early exit: after each round the
    * new label table is compared with the previous one (one
    * co-partitioned join + scalar count over node-sized tables — the
    * PageRank `toleranceMicro` cost shape) and the walk stops once no
    * label moved. The prefix of rounds actually run is identical to the
    * fixed-count trajectory, so a stopped run equals the full run
    * whenever the fixpoint was real — pay the per-round check when the
    * round count is data-dependent, skip it (default) when the count is
    * fixed and SQL-replayable. */
  def run(edges: DataFrame, aCol: String, bCol: String,
          iterations: Int, stopWhenStable: Boolean = false): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    val spark = edges.sparkSession
    // per-round materialization through the shared seam — reliable
    // (scratch-parquet) every N-th round under
    // spark.graft.reliableCheckpointInterval (see [[IterCheckpoint]])
    val iter = new IterCheckpoint(spark, "labelprop")

    // undirected vote flow = both directions materialized once
    val half = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
    val e = half.select(col("a").as("src"), col("b").as("dst"))
      .union(half.select(col("b").as("src"), col("a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("dst").as("node")).distinct()

    var labels = iter.materialize(nodes.select(col("node"), col("node").as("label")))
    var i = 0
    var moved = true
    while (i < iterations && moved) {
      val votes = e
        .join(labels.df.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("label"))
        .union(labels.df) // self-vote: damps synchronous 2-cycles
      val next = iter.materialize(votes
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("node"))
            .orderBy(col("c").desc, col("label").asc)))
        .filter(col("__rn") === 1)
        .select(col("node"), col("label")))
      if (stopWhenStable) {
        val changed = next.df.join(labels.df.withColumnRenamed("label", "__prev"), "node")
          .filter(col("label") =!= col("__prev")).limit(1).count()
        moved = changed > 0
      }
      labels.release()
      labels = next
      i += 1
    }
    e.unpersist(blocking = false)
    // the label table is rematerialized to scratch and the final
    // iteration checkpoint released inside the call: nothing stays
    // pinned after return (the r18 PageRank.run contract)
    val out = graft.store.Scratch.rematerialize(labels.df, "labelprop",
      coalesceTo = graft.store.Scratch.OutputFiles)
    labels.release()
    out
  }

  /** Unrolled oracle CTEs: `edgesCte` must define a deduplicated
    * canonical relation h(a, b) with a < b; produces l0..l<iterations>
    * replaying the identical vote/argmax arithmetic (QUALIFY row_number
    * with the same (count DESC, label ASC) order). */
  def oracleCtes(edgesCte: String, iterations: Int): String = {
    val header =
      s"""h AS MATERIALIZED ($edgesCte),
         |ed AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM h UNION ALL SELECT b, a FROM h),
         |l0 AS (SELECT DISTINCT dst AS node, dst AS label FROM ed)""".stripMargin
    val steps = (1 to iterations).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label, COUNT(*) AS c FROM (
         |      SELECT ed.dst AS node, l${i - 1}.label
         |      FROM ed JOIN l${i - 1} ON l${i - 1}.node = ed.src
         |      UNION ALL SELECT node, label FROM l${i - 1})
         |    GROUP BY node, label)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) = 1)""".stripMargin
    }
    (header +: steps).mkString(",\n")
  }
}
