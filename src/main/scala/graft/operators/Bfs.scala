package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source breadth-first hop distances — the reachability/depth
  * audit of a corpus link graph: how many hops is each document from
  * the nearest trusted seed (the discrete counterpart of personalized
  * PageRank's continuous trust score, q187), which pages are
  * unreachable from any seed (orphaned islands a crawler re-serves but
  * nothing links to), and how deep does the graph actually run.
  *
  * Level-synchronous frontier expansion (the standard Pregel/BSP BFS
  * shape, expressed relationally): per hop, ONE join of the current
  * frontier against the (pre-materialized, both-directions) edge table
  * plus one anti-join against the reached set — cost tracks the
  * FRONTIER's edges, not the graph, and the reached table grows
  * monotonically so each round's anti-join is bounded by what BFS has
  * actually touched. Rounds are eagerly local-checkpointed with
  * explicit release (the q155 lineage discipline); expansion stops
  * early when a frontier empties, and `maxHops` bounds the walk so a
  * fixed SQL unroll replays it (post-exhaustion rounds are no-ops).
  *
  * Hop counts are exact integers: distances are partitioning-invariant
  * and engine-reproducible by construction.
  */
object Bfs {

  /** (node, dist) for every node within `maxHops` undirected hops of
    * any source; sources themselves are dist 0 (listed even if they
    * have no edges). Unreached nodes are absent — a left join against
    * the node set finds the orphans. */
  def hops(edges: DataFrame, aCol: String, bCol: String,
           sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val spark = edges.sparkSession
    // per-hop materialization through the shared seam — reliable
    // (scratch-parquet) every N-th hop under
    // spark.graft.reliableCheckpointInterval (see [[IterCheckpoint]])
    val iter = new IterCheckpoint(spark, "bfs")

    val half = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
    val e = half.select(col("a").as("src"), col("b").as("dst"))
      .union(half.select(col("b").as("src"), col("a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var reached = iter.materialize(
      sources.select(col("node").cast("long").as("node")).distinct()
        .withColumn("dist", lit(0L)))
    var h = 1L
    var frontierEmpty = false
    while (h <= maxHops && !frontierEmpty) {
      val frontier = reached.df.filter(col("dist") === (h - 1)).select(col("node"))
      val fresh = e.join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node")).distinct()
        .join(reached.df.select(col("node")), Seq("node"), "left_anti")
      if (fresh.isEmpty) frontierEmpty = true
      else {
        val next = iter.materialize(
          reached.df.unionByName(fresh.withColumn("dist", lit(h))))
        reached.release()
        reached = next
      }
      h += 1
    }
    e.unpersist(blocking = false)
    // the reach table is rematerialized to scratch and the final
    // frontier checkpoint released inside the call: nothing stays
    // pinned after return (the r18 PageRank.run contract)
    val out = graft.store.Scratch.rematerialize(reached.df, "bfs",
      coalesceTo = graft.store.Scratch.OutputFiles)
    reached.release()
    out
  }

  /** Sampled-source harmonic centrality (Eppstein & Wang 2004 shape):
    * H(v) = Σ_{s∈seeds} 1/d(s, v) over a bounded seed sample — the
    * centrality that, unlike closeness, handles disconnection
    * gracefully (unreached pairs contribute 0, no ∞). Needs PER-SEED
    * distances, which [[hops]]'s nearest-source semantics can't give —
    * so the walk runs on the seed-product graph: node' = seed·2^40 +
    * node (ids must be < 2^40 — guarded), edges replicated per seed,
    * ONE [[hops]] call. Replicated-edge cost is seeds×|E| — seeds are
    * a bounded sample by contract, which is also what makes the
    * estimator the standard one at scale.
    *
    * Exactness: distances are exact integers; 1/d is correctly
    * rounded; the per-node sum folds over seeds in SORTED seed order
    * (the fixed-fold-order discipline) — engine-identical doubles. */
  def harmonicCentrality(edges: DataFrame, aCol: String, bCol: String,
                         seeds: Seq[Long], maxHops: Int): DataFrame = {
    require(seeds.nonEmpty, "need at least one seed")
    val Big = 1L << 40
    // composite ids are seed·2^40 + node: a seed ≥ 2^23 would overflow
    // signed 64-bit in the multiplication and corrupt the whole walk
    // silently — fail loudly instead (the edge-id guard below only
    // covers node ids)
    val maxSeed = Long.MaxValue / Big
    require(seeds.forall(s0 => s0 >= 0 && s0 < maxSeed),
      s"harmonicCentrality: seed ids must be in [0, $maxSeed) — " +
        s"got ${seeds.filterNot(s0 => s0 >= 0 && s0 < maxSeed).mkString(",")}")
    val spark = edges.sparkSession
    import spark.implicits._
    val checkedA = when(col(aCol) >= Big || col(aCol) < 0 ||
        col(bCol) >= Big || col(bCol) < 0,
      raise_error(lit(s"harmonicCentrality: node id out of [0, $Big)")))
      .otherwise(col(aCol).cast("long"))
    val eX = seeds.map { s0 =>
      edges.select((lit(s0) * Big + checkedA).as("a"),
        (lit(s0) * Big + col(bCol).cast("long")).as("b"))
    }.reduce(_ unionByName _)
    val src = seeds.map(s0 => s0 * Big + s0).toDF("node")
    hops(eX, "a", "b", src, maxHops)
      .filter(col("dist") > 0) // self-distance contributes nothing
      .select(expr(s"node div ${Big}L").as("__seed"),
        pmod(col("node"), lit(Big)).as("node"), col("dist"))
      .groupBy(col("node"))
      .agg(array_sort(collect_list(struct(col("__seed"), col("dist")))).as("ps"))
      .select(col("node"),
        size(col("ps")).cast("long").as("n_seeds_reached"),
        aggregate(transform(col("ps"), p => lit(1.0) / p("dist").cast("double")),
          lit(0.0), (a, x) => a + x).as("harmonic"))
  }

  /** Unrolled oracle CTEs: `edgesCte` must define a deduplicated
    * canonical relation h0(a, b) with a < b; `sourcesCte` a relation
    * s(node). Produces r0..r<hops> with post-exhaustion rounds as
    * no-ops; the final reach table is `r<hops>(node, dist)`. */
  def oracleCtes(edgesCte: String, sourcesCte: String, hops: Int): String = {
    val header =
      s"""h0 AS MATERIALIZED ($edgesCte),
         |ed AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM h0 UNION ALL SELECT b, a FROM h0),
         |s AS ($sourcesCte),
         |r0 AS (SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist FROM s)""".stripMargin
    val steps = (1 to hops).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT node, dist FROM r${i - 1}
         |  UNION ALL
         |  SELECT DISTINCT ed.dst AS node, CAST($i AS BIGINT) AS dist
         |  FROM ed JOIN r${i - 1} ON r${i - 1}.node = ed.src
         |    AND r${i - 1}.dist = ${i - 1}
         |  WHERE ed.dst NOT IN (SELECT node FROM r${i - 1}))""".stripMargin
    }
    (header +: steps).mkString(",\n")
  }
}
