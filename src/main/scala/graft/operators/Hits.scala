package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HITS hubs & authorities in exact scaled-integer arithmetic
  * (Kleinberg, "Authoritative sources in a hyperlinked environment",
  * JACM 1999) — the two-score complement to [[PageRank]]'s one: on a
  * directed graph, a good HUB points at good AUTHORITIES and vice
  * versa, which is exactly the curation question on bipartite corpus
  * graphs (crawler seed pages → documents, suppliers → parts, queries →
  * clicked results) where PageRank's single score conflates the roles.
  *
  * The mutual recursion, L∞-normalized per half-step:
  *
  *   a(p) = Σ_{s→p} h(s),  then  a ← a·scale div max(a)
  *   h(s) = Σ_{s→p} a(p),  then  h ← h·scale div max(h)
  *
  * All updates are integer sum/multiply/floor-divide on positives, so
  * the trajectory is bit-reproducible on any partitioning and a SQL
  * oracle replays it verbatim ([[oracleCtes]]). L∞ (max) replaces the
  * textbook L2 norm deliberately: the max and the floor-divide are
  * exact where a float sqrt is engine-ulp territory, and normalization
  * choice does not change the RANKING the fixpoint converges to.
  *
  * Scale shape: per iteration, two co-partitioned joins against the
  * persisted edge table + two map-side-combined aggregates onto the
  * node tables, plus one scalar max each. Score tables are node-sized;
  * lineage is cut per half-step (the PageRank eager-checkpoint
  * discipline), so K iterations keep constant plan depth. Overflow is
  * a loud precondition: max in-degree × scale must fit a BIGINT. */
object Hits {

  /** Run `iterations` full HITS rounds over a directed edge list
    * (duplicate edges collapse). Returns (node, hub, auth): `hub` for
    * nodes with out-edges, `auth` for nodes with in-edges, 0 where the
    * role does not apply. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iterations: Int, scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, "iterations must be positive")
    require(scale > 0, "bad scale")
    val spark = edges.sparkSession
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    require(!e.isEmpty, "hits: empty graph")
    val degBound = Long.MaxValue / scale
    val maxDeg = e.groupBy(col("dst")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head().getLong(0)
      .max(e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .agg(max(col("d"))).head().getLong(0))
    require(maxDeg < degBound,
      s"hits: max degree $maxDeg × scale $scale would overflow BIGINT — " +
        "lower the scale")
    // exact floor(raw·scale/max) without BIGINT overflow: the product
    // runs in DECIMAL(38,0) (the engine's HUGEINT) and the floor is the
    // mod-subtract identity — the oracle's HUGEINT `//` replays it
    def rescale(raw: org.apache.spark.sql.Column,
                maxV: Long): org.apache.spark.sql.Column = {
      val prod = raw.cast("decimal(38,0)") * lit(scale)
      ((prod - pmod(prod, lit(maxV))) / lit(maxV)).cast("long")
    }
    // hubs start uniform at scale; each half-step is an aggregate over
    // the edge join followed by the exact L∞ rescale. Half-steps are
    // materialized through the shared seam — reliable (scratch-parquet)
    // every N-th under spark.graft.reliableCheckpointInterval
    // (see [[IterCheckpoint]])
    val iter = new IterCheckpoint(spark, "hits")
    var hubs = iter.materialize(
      e.select(col("src").as("node")).distinct()
        .withColumn("score", lit(scale)))
    var auths: IterCheckpoint.Handle = null
    for (_ <- 1 to iterations) {
      val aRaw = e.join(hubs.df.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("score")).as("raw"))
      val aMax = aRaw.agg(max(col("raw"))).head().getLong(0)
      val aNew = iter.materialize(
        aRaw.select(col("node"), rescale(col("raw"), aMax).as("score")))
      if (auths != null) auths.release()
      auths = aNew
      val hRaw = e.join(auths.df.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("score")).as("raw"))
      val hMax = hRaw.agg(max(col("raw"))).head().getLong(0)
      val hNew = iter.materialize(
        hRaw.select(col("node"), rescale(col("raw"), hMax).as("score")))
      hubs.release()
      hubs = hNew
    }
    val out = hubs.df.select(col("node"), col("score").as("hub"),
        lit(0L).as("auth"))
      .unionByName(auths.df.select(col("node"), lit(0L).as("hub"),
        col("score").as("auth")))
      .groupBy(col("node"))
      .agg(max(col("hub")).as("hub"), max(col("auth")).as("auth"))
    // result is rematerialized to scratch so the released iteration pins
    // are not referenced by the returned plan AND nothing stays pinned
    // after return (the r18 PageRank.run contract)
    val res = graft.store.Scratch.rematerialize(out, "hits",
      coalesceTo = graft.store.Scratch.OutputFiles)
    hubs.release(); auths.release(); e.unpersist(blocking = false)
    res
  }

  /** Unrolled DuckDB CTEs replaying [[run]] verbatim: `edges` is a CTE
    * body producing (src, dst) distinct rows; emits `hits_out(node,
    * hub, auth)`. Integer `//` on positives = the engine's `div`. */
  def oracleCtes(edgesCte: String, iterations: Int,
                 scale: Long = 1000000000L): String = {
    val sb = new StringBuilder
    sb.append(s"he AS ($edgesCte),\n")
    sb.append(s"h0 AS (SELECT DISTINCT src AS node, CAST($scale AS BIGINT) AS score FROM he),\n")
    for (i <- 1 to iterations) {
      sb.append(
        s"""ar$i AS (
           |  SELECT dst AS node, CAST(SUM(score) AS BIGINT) AS raw
           |  FROM he JOIN h${i - 1} ON he.src = h${i - 1}.node GROUP BY dst),
           |a$i AS (
           |  SELECT node, CAST(CAST(raw AS HUGEINT) * $scale
           |    // (SELECT MAX(raw) FROM ar$i) AS BIGINT) AS score FROM ar$i),
           |hr$i AS (
           |  SELECT src AS node, CAST(SUM(score) AS BIGINT) AS raw
           |  FROM he JOIN a$i ON he.dst = a$i.node GROUP BY src),
           |h$i AS (
           |  SELECT node, CAST(CAST(raw AS HUGEINT) * $scale
           |    // (SELECT MAX(raw) FROM hr$i) AS BIGINT) AS score FROM hr$i),
           |""".stripMargin)
    }
    sb.append(
      s"""hits_out AS (
         |  SELECT node, CAST(MAX(hub) AS BIGINT) AS hub,
         |    CAST(MAX(auth) AS BIGINT) AS auth FROM (
         |    SELECT node, score AS hub, 0 AS auth FROM h$iterations
         |    UNION ALL
         |    SELECT node, 0 AS hub, score AS auth FROM a$iterations)
         |  GROUP BY node)""".stripMargin)
    sb.toString
  }
}
