package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Join-based PageRank in exact scaled-integer arithmetic.
  *
  * Link-graph centrality is the classic corpus-quality prior of a training
  * pipeline (Page, Brin, Motwani, Winograd, "The PageRank Citation
  * Ranking", 1999): documents/entities that the graph keeps pointing at
  * are up-weighted in curation and sampling. The engine expresses it the
  * Spark-native way — no graph library, just the two relational shuffles
  * per iteration everything else in this engine already uses:
  *
  *   1. `edges ⋈ ranks` on the source key (edges pre-partitioned by src,
  *      so every iteration reuses one stable shuffle layout), emitting
  *      per-edge contributions `rank div outdeg`;
  *   2. a map-side-combined `groupBy(dst).sum` back onto the node table.
  *
  * Ranks are BIGINT micro-units (`scale` = 1e12 ≙ total mass 1.0), all
  * updates are integer multiply/divide on positives — so the fixpoint
  * trajectory is bit-reproducible on any partitioning, any engine
  * (truncating and flooring division agree on positives), and a SQL
  * oracle replays it exactly. Sum order never matters: integer addition
  * is associative-commutative with no rounding.
  *
  * Per-node update (damping d = dampNum/dampDen):
  *   r₀(v)    = scale div N
  *   rᵢ₊₁(v) = (dampDen−dampNum)·scale div (dampDen·N)
  *             + dampNum · Σ_{u→v} (rᵢ(u) div outdeg(u)) div dampDen
  *
  * Dangling nodes (no out-edges) leak their damped mass — the standard
  * simplification; callers wanting strict mass conservation add reverse
  * edges or a sink node (the q155 gate builds a bidirectional bipartite
  * graph, which has no dangling nodes by construction).
  *
  * 100 TB shape: per iteration cost is one co-partitioned join + one
  * bounded aggregate; lineage AND logical plan are cut by eagerly
  * local-checkpointing each iteration (a leaf LogicalRDD — persist+count
  * caches rows but leaves the plan tree growing, which OOMs plan
  * analysis around iteration 50), so K iterations never replay the
  * chain and plan depth is genuinely constant at any K.
  */
object PageRank {

  /** Run up to `iterations` PageRank steps over a directed edge list.
    * Returns (node BIGINT, pr BIGINT) with Σ pr ≤ scale (exact integer
    * truncation loss only). Self-loops and duplicate edges are legal;
    * duplicates are collapsed.
    *
    * The returned DataFrame is a clean scan of the final rank table,
    * rematerialized once to scratch parquet ([[graft.store.Scratch]]):
    * every later action reads the files instead of replaying the
    * fixpoint, and NO persistent-RDD blocks remain pinned after run()
    * returns (each iteration's local checkpoint is released as soon as
    * the next one lands, the last one right after the scratch write).
    *
    * `redistributeDangling = true` switches to the mass-conserving
    * variant: each iteration the dangling nodes' aggregate rank S is
    * fed back uniformly, rᵢ₊₁(v) += dampNum·(S div N) inside the damped
    * term — still exact integer arithmetic (S is one scalar aggregate
    * per iteration over the already-materialized rank table), so the
    * unrolled SQL oracle replays it verbatim ([[oracleCtes]] with
    * `redistribute = true`).
    *
    * `toleranceMicro > 0` adds an L1 stopping rule: after each
    * iteration, Σ|rᵢ−rᵢ₋₁| (exact BIGINT — both tables are
    * materialized integers) is compared against the tolerance and the
    * walk stops early once the trajectory moved less than it. Cost: one
    * extra co-partitioned join + scalar aggregate per iteration —
    * pay it when iteration count is data-dependent, skip it (default)
    * when the count is fixed and SQL-replayable.
    *
    * `seeds` switches to PERSONALIZED PageRank (random walk with
    * restart to a seed set — the TrustRank construction, Gyöngyi,
    * Garcia-Molina, Pedersen 2004: trust flows out from a vetted seed
    * corpus, and documents reachable from it in few hops score high —
    * the graph-prior counterpart of [[NgramLm]]'s content prior). The
    * teleport mass lands ONLY on seed nodes: r₀ = scale div |S| on
    * seeds (0 elsewhere), the per-iteration base term is seed-gated,
    * and with `redistributeDangling` the dangling mass also returns to
    * the seeds (restart semantics — a walker that falls off the graph
    * restarts at a seed). `seeds` is a DataFrame with a `node` column;
    * seeds not present in the graph are ignored; `None` = uniform
    * teleport = classic PageRank (bit-identical to before the option
    * existed). Cost is unchanged — the seed flag rides the node table;
    * no extra join enters the iteration.
    *
    * `weightCol` switches to WEIGHTED propagation: each node's mass
    * splits across its out-edges proportionally to the edge weight —
    * contribution = r(u)·w(u,v) div Σ_out w(u) — still exact integer
    * arithmetic (positive longs; duplicate (src, dst) edges SUM their
    * weights; a non-positive or overflow-risking weight — w·scale
    * beyond BIGINT — fails loudly in-plan). `None` = every edge weight
    * 1, which evaluates bit-identically to the unweighted form. In a
    * corpus link graph the natural weight is the link/co-occurrence
    * count: a page linked 50× from a hub pulls more of its rank than a
    * footnote. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iterations: Int, dampNum: Long = 85L, dampDen: Long = 100L,
          scale: Long = 1000000000000L,
          redistributeDangling: Boolean = false,
          toleranceMicro: Long = 0L,
          seeds: Option[DataFrame] = None,
          weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    require(dampNum > 0 && dampNum < dampDen, "damping must be in (0,1)")
    require(toleranceMicro >= 0, "tolerance must be non-negative")
    val spark = edges.sparkSession

    // Out-weight is a per-SOURCE property: fold it into the edge table
    // ONCE (a window over the source key costs one shuffle at build),
    // so each iteration joins a single (src, dst, w, wsum) relation —
    // not edges ⋈ ranks ⋈ weights. Unweighted: w ≡ 1, wsum = outdeg,
    // and (pr·1) div outdeg evaluates bit-identically to the original
    // unweighted contribution.
    val wBound = Long.MaxValue / scale
    val eBase = weightCol match {
      case None => edges
        .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
        .distinct()
        .withColumn("w", lit(1L))
      case Some(wc) => edges
        .select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"), col(wc).cast("long").as("w0"))
        .groupBy(col("src"), col("dst")).agg(sum(col("w0")).as("w1"))
        .select(col("src"), col("dst"),
          // isNull first: a NULL weight would otherwise make the range
          // predicate NULL, fall through `otherwise`, and silently drop
          // the edge's contribution — the loud-failure contract covers it
          when(col("w1").isNull || col("w1") <= 0 || col("w1") >= wBound,
            raise_error(concat(
              lit("PageRank: edge weight NULL or out of (0, 2^63/scale): "),
              coalesce(col("w1").cast("string"), lit("NULL")))))
            .otherwise(col("w1")).as("w"))
    }
    // out-weight via aggregate + join rather than a window: the window
    // re-shuffled the FULL edge table by src; the aggregate reuses the
    // edge build's exchange (ReuseExchange) and produces a node-sized
    // table that AQE broadcast-joins at small n and shuffle-joins at
    // scale — one full-edge exchange saved per run, identical wsum
    // values (same Σw per src, exact integers). A NULL/uncastable src
    // fails loudly HERE (r19 advisor): a null join key never matches,
    // so the aggregate+join form would silently drop the edge — and its
    // dst from the node set — where the window kept it; the check keeps
    // the loud-failure contract the weight validation already carries.
    val eChecked = eBase.select(
      when(col("src").isNull,
        raise_error(lit("PageRank: NULL or uncastable src node id")))
        .otherwise(col("src")).as("src"),
      col("dst"), col("w"))
    val outw = eChecked.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    val e = eChecked.join(outw, "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    // the seed flag is folded into the persisted node table ONCE — the
    // personalized variant adds no per-iteration work
    val nodes = (seeds match {
      case None => nodes0.withColumn("__seed", lit(true))
      case Some(sd) => nodes0
        .join(sd.select(col("node").cast("long").as("node")).distinct()
          .withColumn("__in", lit(1)), Seq("node"), "left")
        .withColumn("__seed", col("__in").isNotNull).drop("__in")
    }).persist(StorageLevel.MEMORY_AND_DISK)

    val n = nodes.count()
    require(n > 0, "empty graph")
    val nSeed = if (seeds.isEmpty) n else nodes.filter(col("__seed")).count()
    require(nSeed > 0, "no seed node appears in the graph")
    val base = (dampDen - dampNum) * scale / (dampDen * nSeed) // positives: truncation == floor

    // The rank table is one row per NODE — orders of magnitude smaller
    // than the edge table on any natural graph. Up to 4M nodes (~64 MB
    // of (long, long) rows — comfortably inside Spark's broadcast
    // envelope; rank AND contrib tables are broadcast EACH iteration,
    // so the threshold must stay well under the 8 GB relation limit and
    // the driver heap, not anywhere near it) broadcasting it turns
    // every iteration into a NARROW map over the cached edges plus ONE
    // aggregate shuffle; beyond that, fall back to a hash join on src
    // and let AQE pick the strategy. The iteration count is bounded, so
    // lineage is cut by materializing each rank table before dropping
    // the last.
    val broadcastRanks = n <= 4000000L

    // DRIVER-RESIDENT rank loop (the SimpleKMeans.fitLocal precedent,
    // r19): whenever the node table fits the SAME broadcast envelope the
    // join path ships EVERY iteration anyway, the per-iteration Spark
    // job ladder — broadcast build for the rank side, broadcast build
    // for the contrib side, an eager checkpoint, a tracked release — is
    // pure scheduling overhead (measured: q155's 21k-node graph spent
    // ~20 jobs on 5 iterations). Holding the node-sized rank vector on
    // the driver reduces each iteration to ONE distributed aggregate
    // (edges ⋈ broadcast ranks → per-dst sums, node-sized collect) with
    // the update applied locally in the IDENTICAL integer arithmetic —
    // bit-equal by construction (integer sums are order-free), and MORE
    // executor-loss-robust than any checkpoint (the state lives on the
    // driver; the edge persist recovers via lineage). Edges stay
    // distributed — corpus-scale work never lands on the driver; the
    // driver holds 16 bytes per node. Threshold 100k nodes (measured
    // crossover: at 21k nodes the driver loop wins ~30% — q155 bench
    // 4.9 → 3.4 s; at 210k nodes the per-iteration collect/rebuild has
    // eaten the gain and the A/B reads even-to-slightly-worse, so the
    // big case keeps the distributed iterate + its reliable-checkpoint
    // option). `spark.graft.pagerank.driverLoopMaxNodes` overrides
    // (0 disables — the spec hook forcing the distributed path).
    val driverLoopMax = spark.conf
      .getOption("spark.graft.pagerank.driverLoopMaxNodes")
      .map(_.trim.toLong).getOrElse(100000L)

    // dangling nodes (no out-edges) — only needed for redistribution
    lazy val dangling = nodes.join(e.select(col("src").as("node")).distinct(),
      Seq("node"), "left_anti").persist(StorageLevel.MEMORY_AND_DISK)

    if (n <= driverLoopMax) {
      import spark.implicits._
      val nodeRows: Array[(Long, Boolean)] =
        nodes.select(col("node"), col("__seed")).as[(Long, Boolean)].collect()
      val danglingSet: Array[Long] =
        if (redistributeDangling) dangling.select(col("node")).as[Long].collect()
        else Array.empty
      val rank = new scala.collection.mutable.LongMap[Long](nodeRows.length * 2)
      nodeRows.foreach { case (nd, sd) => rank(nd) = if (sd) scale / nSeed else 0L }
      var i = 0
      var moved = true
      while (i < iterations && moved) {
        val sinkShare: Long =
          if (!redistributeDangling) 0L
          else {
            var s = 0L; var d = 0
            while (d < danglingSet.length) { s += rank(danglingSet(d)); d += 1 }
            s / nSeed
          }
        // RDD-backed leaf, NOT a LocalRelation: embedding a node-sized
        // literal table in the plan makes every iteration's analysis /
        // optimization walk the data (measured +50% at 210k nodes); the
        // parallelize costs one tiny job per iteration instead
        val rdf = spark.sparkContext
          .parallelize(rank.toSeq, 1).toDF("src", "pr")
        val contribs = e.join(broadcast(rdf), "src")
          .selectExpr("dst", "(pr * w) div wsum AS c")
          .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
          .as[(Long, Long)].collect()
        val sc2 = new scala.collection.mutable.LongMap[Long](contribs.length * 2)
        contribs.foreach { case (nd, s0) => sc2(nd) = s0 }
        var delta = 0L
        nodeRows.foreach { case (nd, sd) =>
          val baseTerm = if (sd) base else 0L
          val sink = if (sd) sinkShare else 0L
          val next = baseTerm + dampNum * (sc2.getOrElse(nd, 0L) + sink) / dampDen
          if (toleranceMicro > 0) delta += math.abs(next - rank(nd))
          rank(nd) = next
        }
        if (toleranceMicro > 0) moved = delta > toleranceMicro
        i += 1
      }
      e.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      if (redistributeDangling) dangling.unpersist(blocking = false)
      return graft.store.Scratch.rematerialize(
        rank.toSeq.toDF("node", "pr"), "pagerank",
        coalesceTo = graft.store.Scratch.OutputFiles)
    }

    // Iteration materialization is an EAGER LOCAL CHECKPOINT, not
    // persist+count: persist caches the rows but the LOGICAL PLAN keeps
    // nesting (join-over-join-over-join), and by iteration ~50 plan
    // analysis/stringification alone OOMs the driver — the classic
    // iterative-Spark failure. localCheckpoint replaces the plan with a
    // leaf LogicalRDD, so plan depth is genuinely constant at any
    // iteration count. The previous iteration's blocks are released
    // EXPLICITLY via the handle. Cluster insurance: local checkpoints
    // cannot recompute after executor loss, so
    // spark.graft.reliableCheckpointInterval routes every N-th iteration
    // through scratch parquet instead (see [[IterCheckpoint]] — the
    // shared seam of all six fixpoint operators; proved survivable under
    // continual block loss by ReliableCheckpointSpec).
    val iter = new IterCheckpoint(spark, "pagerank")

    var ranks = iter.materialize(nodes.selectExpr("node",
      s"CASE WHEN __seed THEN CAST(${scale / nSeed} AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pr"))

    var i = 0
    var moved = true
    while (i < iterations && moved) {
      // mass-conservation term: S div N, one scalar aggregate over the
      // materialized rank table (exact integers; positives, so Scala's
      // truncating / == floor). Zero when the variant is off.
      val sinkShare: Long =
        if (!redistributeDangling) 0L
        else ranks.df.join(dangling, "node")
          .agg(coalesce(sum(col("pr")), lit(0L))).head().getLong(0) / nSeed
      val r = ranks.df.withColumnRenamed("node", "src")
      val contribs = e
        .join(if (broadcastRanks) broadcast(r) else r, "src")
        .selectExpr("dst", "(pr * w) div wsum AS c")
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      val next = iter.materialize(nodes
        .join(if (broadcastRanks) broadcast(contribs) else contribs,
          nodes("node") === contribs("dst"), "left")
        .selectExpr("node",
          s"(CASE WHEN __seed THEN CAST($base AS BIGINT) ELSE CAST(0 AS BIGINT) END)" +
            s" + ($dampNum * (coalesce(sc, CAST(0 AS BIGINT))" +
            s" + (CASE WHEN __seed THEN CAST($sinkShare AS BIGINT) ELSE CAST(0 AS BIGINT) END))) div $dampDen AS pr"))
      if (toleranceMicro > 0) {
        val delta = next.df.join(ranks.df.withColumnRenamed("pr", "pr0"), "node")
          .agg(coalesce(sum(abs(col("pr") - col("pr0"))), lit(0L)))
          .head().getLong(0)
        moved = delta > toleranceMicro
      }
      ranks.release()
      ranks = next
      i += 1
    }
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    if (redistributeDangling) dangling.unpersist(blocking = false)
    // The FINAL table leaves the block manager entirely: one node-sized
    // scratch-parquet write (coalesced to a few right-sized files — the
    // r18 q155 bench overhead was mostly per-file open/commit cost of 32
    // tiny ones), release the last checkpoint, return a clean scan.
    // Nothing stays pinned after run() returns, and the result survives
    // executor loss — which a local checkpoint cannot.
    val out = graft.store.Scratch.rematerialize(ranks.df, "pagerank",
      coalesceTo = graft.store.Scratch.OutputFiles)
    ranks.release()
    out
  }

  /** The matching DuckDB oracle: unrolled iteration CTEs replaying the
    * identical integer arithmetic (`//` floors, `div` truncates — equal
    * on the positives this recursion stays in). `edgesCte` must define
    * a relation `e(src, dst)` already deduplicated — or, with
    * `weighted = true`, `e(src, dst, w)` with per-(src, dst) weights
    * already summed and positive. `redistribute` mirrors [[run]]'s
    * mass-conserving variant: each step's dangling mass S feeds back as
    * S // n inside the damped term. */
  def oracleCtes(edgesCte: String, iterations: Int,
                 dampNum: Long = 85L, dampDen: Long = 100L,
                 scale: Long = 1000000000000L,
                 redistribute: Boolean = false,
                 seedsCte: Option[String] = None,
                 weighted: Boolean = false): String = {
    // personalized variant: `seedsCte` defines seeds(node); the teleport
    // denominator becomes |seeds ∩ nodes| and every base/r0/sink term is
    // gated on seed membership — mirroring run()'s __seed flag exactly
    val seedHeader = seedsCte.map(s =>
      s"""seeds AS ($s),
         |sn AS (SELECT DISTINCT node FROM nodes WHERE node IN (SELECT node FROM seeds))""".stripMargin)
    val denom = if (seedsCte.isDefined) "(SELECT COUNT(*) FROM sn)" else "meta.n"
    def gate(term: String, nodeRef: String): String =
      if (seedsCte.isEmpty) term
      else s"CASE WHEN $nodeRef IN (SELECT node FROM sn) THEN $term ELSE CAST(0 AS BIGINT) END"
    val header =
      s"""e AS ($edgesCte),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |deg AS (SELECT src, ${if (weighted) "CAST(SUM(w) AS BIGINT)" else "COUNT(*)"} AS outdeg FROM e GROUP BY src),
         |meta AS (SELECT COUNT(*) AS n FROM nodes)""".stripMargin +
        seedHeader.map(",\n" + _).getOrElse("") +
        s""",
           |r0 AS (SELECT node, ${gate(s"CAST($scale // $denom AS BIGINT)", "node")} AS pr
           |       FROM nodes CROSS JOIN meta)""".stripMargin
    val steps = (1 to iterations).flatMap { i =>
      // CAST: DuckDB SUM(BIGINT) widens to HUGEINT, which pandas/the
      // driver compare read as float — pin every step back to BIGINT
      val sinkCte =
        if (!redistribute) None
        else Some(s"""s$i AS (
           |  SELECT CAST(COALESCE((SELECT SUM(pr) FROM r${i - 1}
           |    WHERE node NOT IN (SELECT src FROM e)), 0) // $denom AS BIGINT) AS share
           |  FROM meta)""".stripMargin)
      val sinkTerm =
        if (redistribute) s" + ${gate(s"s$i.share", "v.node")}" else ""
      val sinkJoin = if (redistribute) s" CROSS JOIN s$i" else ""
      val baseTerm = gate(
        s"CAST((${dampDen - dampNum} * $scale) // ($dampDen * $denom) AS BIGINT)", "v.node")
      val step =
        s"""r$i AS (
           |  SELECT v.node,
           |    CAST($baseTerm
           |      + ($dampNum * (COALESCE(SUM(${
          if (weighted) s"(r${i - 1}.pr * e.w) // deg.outdeg"
          else s"r${i - 1}.pr // deg.outdeg"}), 0)$sinkTerm)) // $dampDen AS BIGINT) AS pr
           |  FROM nodes v CROSS JOIN meta$sinkJoin
           |  LEFT JOIN e ON e.dst = v.node
           |  LEFT JOIN r${i - 1} ON r${i - 1}.node = e.src
           |  LEFT JOIN deg ON deg.src = e.src
           |  GROUP BY v.node, meta.n${if (redistribute) s", s$i.share" else ""})""".stripMargin
      sinkCte.toSeq :+ step
    }
    (header +: steps).mkString(",\n")
  }
}
