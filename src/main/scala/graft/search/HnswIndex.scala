package graft.search

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** HNSW (Hierarchical Navigable Small World) ANN index — the engine's
  * analog of the reference's `kind: vector-hnsw` index
  * (MongoDbService.cs:119-143, defaults m=16, efConstruction=64,
  * similarity COS), completing the V3 index-kind surface next to IVF
  * ([[IvfIndex]]) and sign-LSH ([[HyperplaneLsh]]).
  *
  * Scale design — SEGMENTED, not global. A single navigable graph over
  * 100 TB of vectors cannot exist: construction is inherently sequential
  * per insert and search needs random access to the whole graph. Every
  * production system at that size (Lucene/Elasticsearch segments, Milvus
  * sealed segments) builds ONE GRAPH PER SHARD and fans searches out,
  * merging per-shard top-k. That maps exactly onto Spark:
  *
  *  - '''build''': hash-repartition the corpus by id into `numSegments`
  *    shards sized to executor memory; `mapPartitions` builds one graph
  *    per shard (CPU-bound, embarrassingly parallel across executors)
  *    and emits it as ONE ROW of flat primitive arrays — a schema
  *    parquet stores natively, no JVM serialization;
  *  - '''search''': a scan of the (tiny) graph table; each task runs the
  *    in-memory beam search over its segments and emits k rows; the
  *    global `orderBy(...).limit(k)` is a `TakeOrderedAndProject` merge
  *    of segments×k rows at the driver — no shuffle of corpus data,
  *    per-probe work is segments×O(ef·M·log n) instead of a full scan;
  *  - '''batched search''': probes broadcast to the graph scan, each
  *    (segment, probe) pair searched in-memory, bounded-heap partial
  *    aggregate merges — the shuffle carries probes×segments×k short
  *    rows, never probes×corpus.
  *
  * Graphs are deterministic regardless of cluster layout: segment
  * membership is `pmod(hash(id), numSegments)`, insertion order is
  * id-sorted within the segment, and a node's level comes from a
  * splitmix64 hash of its id — not from an insertion-order RNG.
  *
  * Algorithms follow the public Malkov–Yashunin paper (arXiv:1603.09320):
  * greedy descent on upper layers, beam search (`ef`) on layer 0, and the
  * Algorithm-4 neighbor-selection heuristic on insert. Vectors are
  * L2-normalized at build time so cosine similarity is a dot product.
  */
object HnswIndex {

  /** Reference defaults: m=16, efConstruction=64 (MongoDbService.cs:133-134). */
  final case class Params(m: Int = 16, efConstruction: Int = 64, numSegments: Int = 8)

  /** One segment's frozen graph as flat columns (parquet-native). Slot
    * layout: node i owns slots `nodeSlot(i) .. nodeSlot(i)+levels(i)`,
    * one per layer; slot s's neighbor list is `nbrs[nbrOff(s), nbrOff(s+1))`. */
  final case class SegmentGraph(
      segment: Int,
      dims: Int,
      entry: Int,
      max_level: Int,
      ids: Array[Long],
      vecs: Array[Float],
      levels: Array[Int],
      node_slot: Array[Int],
      nbr_off: Array[Int],
      nbrs: Array[Int])

  // ---------------------------------------------------------------- build

  /** Build one graph per segment. Returns the graph table (numSegments
    * rows — persist with [[write]] for the serve-many path). */
  def build(corpus: DataFrame, vecCol: String, idCol: String,
            params: Params = Params()): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(params.m >= 2, "m must be >= 2")
    val (m, efC) = (params.m, params.efConstruction)
    corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      // the repartition's own partition rule as a column: Spark drops the
      // repartition when the input is already hash-partitioned by id, and
      // AQE may then coalesce partitions, so a task can hold several
      // segments — one graph per run of `seg`, never per task
      .withColumn("seg", pmod(hash(col("id")), lit(params.numSegments)))
      .repartition(params.numSegments, col("id"))
      .sortWithinPartitions("seg", "id")
      .as[(Long, Array[Float], Int)]
      .mapPartitions { rows =>
        val it = rows.buffered
        Iterator.continually(it).takeWhile(_.hasNext).map { _ =>
          val seg = it.head._3
          val b = new HnswBuilder(m, efC)
          while (it.hasNext && it.head._3 == seg) { val (id, v, _) = it.next(); b.add(id, v) }
          b.freeze(seg)
        }
      }
      .toDF()
  }

  /** Persist the graph table plus a params sidecar (Hadoop FS API — works
    * on any cluster storage, same pattern as [[IvfIndex.writeSidecar]]). */
  def write(graphs: DataFrame, path: String, params: Params = Params()): Unit = {
    graphs.write.mode("overwrite").parquet(path)
    val spark = graphs.sparkSession
    val p = new org.apache.hadoop.fs.Path(path, SidecarFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(s"${params.m}\n${params.efConstruction}\n${params.numSegments}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  val SidecarFile = "_hnsw_sidecar"

  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  def readParams(spark: SparkSession, path: String): Option[Params] = {
    val p = new org.apache.hadoop.fs.Path(path, SidecarFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val l = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
        Some(Params(l(0).trim.toInt, l(1).trim.toInt, l(2).trim.toInt))
      } finally in.close()
    }
  }

  /** Measure the minimal `ef` reaching `target` mean recall@k on a
    * held-out probe split, and PERSIST it beside the graphs — the
    * [[graft.search.IvfPq.tuneServe]] discipline applied to HNSW's one
    * serve knob, completing the "every index ships its measured
    * operating point" story (a pinned ef=64 is exactly the class of
    * constant the r12 PQ finding burned on). Same contract: Knuth-
    * ordered probe sample split tune/held, acceptance at target + the
    * 2σ noise guard, loud failure with the measured curve when even
    * the ef cap misses. The persisted [[ServePoint]] carries ef in
    * BOTH the nprobe and shortlist fields (one beam knob; the
    * linear `scaledTo` extrapolation is conservative for HNSW — ef
    * requirements grow sub-linearly with corpus — and never shrinks).
    * Cost: probes are bounded; each candidate ef is one batched
    * [[searchMany]] over the probe set. */
  def tuneServe(spark: SparkSession, path: String, corpus: DataFrame,
                vecCol: String, idCol: String, k: Int = 10,
                target: Double = 0.9, nProbeVecs: Int = 16,
                efCap: Int = 4096): ServePoint = {
    val graphs = read(spark, path)
    val sampleKey = pmod(pmod(col(idCol).cast("long"), lit(2147483648L)) *
      2654435761L, lit(4294967296L))
    val probesP = graft.operators.Pinned.checkpoint(
      corpus.select(col(idCol), col(vecCol))
        .orderBy(sampleKey, col(idCol)).limit(2 * nProbeVecs))
    val probes = probesP.df
    val truthP = graft.operators.Pinned.checkpoint(
      VectorSearch.knnJoinWindow(probes, idCol, vecCol,
          corpus, idCol, vecCol, k)
        .select(col("probe_id"), col(idCol)))
    val truth = truthP.df
    try {
    val ids = probes.select(col(idCol).cast("long")).collect()
      .map(_.getLong(0))
    val (tuneIds, holdIds) = ids.zipWithIndex.partition(_._2 % 2 == 0) match {
      case (t, h) => (t.map(_._1), h.map(_._1))
    }
    val n = corpus.count()
    def recallOf(half: Array[Long], ef: Int): Double = {
      val res = searchMany(graphs,
          probes.filter(col(idCol).isin(half.map(x => x: Any): _*)),
          idCol, vecCol, k, ef)
        .select(col("probe_id"), col("vec_id").as(idCol), col("sim"),
          col("rn"))
      RecallTuner.meanRecall(res,
        truth.filter(col("probe_id").isin(half.map(x => x: Any): _*)),
        k, docCol = idCol)
    }
    val guard = 2.0 * math.sqrt(target * (1 - target) / (holdIds.length * k))
    val efs = (Iterator.iterate(k)(_ * 2).takeWhile(_ < efCap).toSeq :+ efCap)
      .distinct
    val measured = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    efs.foreach { ef =>
      val rec = recallOf(tuneIds, ef)
      measured += ((ef, rec))
      if (rec >= target) {
        val held = recallOf(holdIds, ef)
        measured += ((ef, held))
        if (held >= target + guard) {
          val sp = ServePoint(ef, ef, k, target, held, n)
          ServePoint.write(spark, path, sp)
          return sp
        }
      }
    }
    throw new IllegalStateException(
      f"no ef <= $efCap reaches recall@$k >= $target%.2f + noise guard " +
        f"$guard%.3f on held-out probes; measured: " +
        measured.map { case (ef, r) =>
          s"$ef->${"%.4f".format(r)}" }.mkString(", "))
    // the result is a driver-side ServePoint — the pinned probe/truth
    // samples must not outlive the tune (Pinned release discipline)
    } finally { probesP.release(); truthP.release() }
  }

  /** The persisted measured operating point, if [[tuneServe]] ran. */
  def readServePoint(spark: SparkSession, path: String): Option[ServePoint] =
    ServePoint.read(spark, path)

  // --------------------------------------------------------------- search

  /** Single-probe ANN top-k: beam-search every segment in parallel, merge
    * segments×k candidate rows via TakeOrderedAndProject. Ties broken by
    * id (matches [[VectorSearch.exactTopK]]). */
  def search(graphs: DataFrame, probe: Array[Float], k: Int, ef: Int = 64): DataFrame = {
    val spark = graphs.sparkSession
    import spark.implicits._
    val q = HnswGraph.normalized(probe)
    segments(graphs)
      .flatMap(g => HnswGraph(g).search(q, k, ef))
      .toDF("vec_id", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Probes a [[searchMany]] batch may carry: the probe set is
    * COLLECTED to the driver and broadcast (each task walks its
    * segments for every probe), so the contract is bounded batches —
    * 2^16 probes × 1536 dims the broadcast is already ~400 MB, and a
    * corpus-sized probe set OOMs the driver silently. Label audits and
    * all-pairs sweeps belong on the IVF batched path
    * ([[IvfIndex.searchMany]]), which joins probes distributed and
    * never drives them through the driver. */
  val MaxProbeBatch: Int = 1 << 16

  /** Batched multi-probe ANN: probes ride a broadcast into the graph
    * scan; each task searches its segments for all probes; the bounded
    * heap ([[VectorSearch.TopKAgg]]) merges per-segment winners so the
    * shuffle carries probes×segments×k rows. Probe batches are bounded
    * by [[MaxProbeBatch]] — see its doc for the unbounded alternative. */
  def searchMany(graphs: DataFrame, probes: DataFrame,
                 probeIdCol: String, probeVecCol: String,
                 k: Int, ef: Int = 64): DataFrame = {
    val spark = graphs.sparkSession
    import spark.implicits._
    // count BEFORE collect: the loud guard must fire before the driver
    // tries to materialize an unbounded batch, not while
    val probeCount = probes.count()
    require(probeCount <= MaxProbeBatch,
      s"searchMany probe batch is $probeCount rows — the probe set is " +
        s"collected to the driver and broadcast (bounded-batch contract, " +
        s"max $MaxProbeBatch); for corpus-sized probe sets use the " +
        "distributed IVF batched path (IvfIndex.searchMany)")
    val pv: Array[(Long, Array[Float])] = probes
      .select(col(probeIdCol).cast("long"), col(probeVecCol))
      .as[(Long, Array[Float])]
      .collect()
      .map { case (id, v) => (id, HnswGraph.normalized(v)) }
    val bc = spark.sparkContext.broadcast(pv)
    val hits = segments(graphs).flatMap { g =>
      val graph = HnswGraph(g)
      bc.value.iterator.flatMap { case (pid, q) =>
        graph.search(q, k, ef).map { case (id, sim) => (pid, id, sim) }
      }
    }
    val topk = udaf(new VectorSearch.TopKAgg(k))
    hits
      .toDF("probe_id", "vec_id", "sim")
      .groupBy(col("probe_id"))
      .agg(topk(col("vec_id"), col("sim")).as("hits"))
      .select(col("probe_id"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("probe_id"), col("hit._1").as("vec_id"), col("hit._2").as("sim"),
        (col("pos") + 1).as("rn"))
  }

  /** Batched FILTERED multi-probe ANN — the per-tenant RAG serve shape
    * ("top-k per probe WHERE <predicate>") for a graph that cannot see
    * predicates mid-traversal (standard HNSW limitation). Same adaptive
    * over-fetch as [[graft.search.HnswSearcher.topKWhere]], but across
    * the whole probe BATCH at once: every round walks the graphs for
    * ALL still-unsatisfied probes (one distributed pass), keeps the
    * candidates surviving the predicate (an id join against the
    * filtered corpus — the candidate stream is filtered, never a
    * k-sized answer), and retires the probes with ≥k survivors or an
    * exhausted walk; the rest widen 4× and go again. Cost tracks each
    * probe's own predicate selectivity instead of the batch's worst
    * case. Output matches [[searchMany]]: (probe_id, vec_id, sim, rn),
    * rn ranked AFTER filtering. */
  def searchManyWhere(graphs: DataFrame, probes: DataFrame,
                      probeIdCol: String, probeVecCol: String,
                      k: Int, ef: Int,
                      corpus: DataFrame, idCol: String,
                      pred: org.apache.spark.sql.Column): DataFrame = {
    val allowed = corpus.filter(pred)
      .select(col(idCol).cast("long").as("vec_id")).distinct()
    val maxFetch = 1 << 24
    var fetch = math.min(math.max(4 * k, k), maxFetch)
    var remaining = probes.select(col(probeIdCol).as(probeIdCol),
      col(probeVecCol).as(probeVecCol))
    // acc is re-checkpointed per settling round (it is OUTPUT-sized:
    // ≤ probes·over-fetch rows) so each round's corpus-sized walk
    // blocks can be released immediately instead of being chained into
    // the returned plan — the r14 leak-audit fix. Only the final acc
    // checkpoint survives the call; the harness sweep frees it.
    var acc: Option[graft.operators.Pinned.Df] = None
    while (!remaining.isEmpty) {
      // tracked checkpoint: the round's walk feeds a count, a join, and
      // the accumulated result — without truncation it would re-run per use
      val rawP = graft.operators.Pinned.checkpoint(
        searchMany(graphs, remaining, probeIdCol, probeVecCol,
          fetch, math.max(ef, 2 * fetch)))
      val raw = rawP.df
      val kept = raw.join(allowed, "vec_id")
      // stats keyed off `remaining`, not the walk output: a probe whose
      // walk returns zero rows (empty/degenerate graph) must still appear
      // — with walked=0 < fetch it retires on the first round instead of
      // spinning the loop forever once fetch pins at maxFetch
      val stats = remaining.select(col(probeIdCol).cast("long").as("probe_id"))
        .join(raw.groupBy("probe_id").agg(count(lit(1)).as("walked")),
          Seq("probe_id"), "left")
        .join(kept.groupBy("probe_id").agg(count(lit(1)).as("kept")),
          Seq("probe_id"), "left")
        .na.fill(0L, Seq("walked", "kept"))
        .collect() // one row per in-flight probe — driver-trivial
      val done = stats.filter { r =>
        r.getAs[Long]("kept") >= k || r.getAs[Long]("walked") < fetch ||
          fetch >= maxFetch
      }.map(_.getAs[Long]("probe_id")).toSeq
      if (done.nonEmpty) {
        val settled = kept.filter(col("probe_id").isin(done: _*))
          .select(col("probe_id"), col("vec_id"), col("sim"))
        val nextAcc = graft.operators.Pinned.checkpoint(
          acc.map(_.df.unionByName(settled)).getOrElse(settled))
        acc.foreach(_.release())
        acc = Some(nextAcc)
        remaining = remaining.filter(!col(probeIdCol).cast("long").isin(done: _*))
      }
      rawP.release() // settled rows are checkpointed; the walk is done
      fetch = math.min(fetch * 4, maxFetch)
    }
    val spark = graphs.sparkSession
    import spark.implicits._
    val base = acc.map(_.df).getOrElse(Seq.empty[(Long, Long, Double)]
      .toDF("probe_id", "vec_id", "sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
    base.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("vec_id"), col("sim"), col("rn"))
  }

  /** Structural audit of a persisted graph table — the q82 gate's
    * build-regression tripwire. The build is deterministic (levels
    * come from splitmix64 over ids, [[HnswBuilder]].levelOf), so the
    * structure is CHECKABLE without replaying the walk:
    *
    *  - `level_mismatch`: nodes whose persisted level differs from the
    *    splitmix64 rule recomputed from their id (a changed level
    *    source silently reshapes every graph while recall stays fine);
    *  - `degree_violations`: slots exceeding the freeze bound (2m at
    *    layer 0, m above — a broken prune inflates search cost 10×
    *    before recall moves);
    *  - `bad_neighbors`: out-of-range or self-loop neighbor indexes;
    *  - `entry_ok`: the entry point carries max_level;
    *  - `level_histo` / `degree_histo_hash`: the distribution
    *    fingerprint for cross-run comparison (two runs over the same
    *    corpus must produce IDENTICAL fingerprints — determinism is
    *    part of the artifact's definition).
    *
    * One row per segment; runs inside the executors (one pass over the
    * flat arrays, nothing collected). */
  def structuralAudit(graphs: DataFrame, params: Params): DataFrame = {
    val spark = graphs.sparkSession
    import spark.implicits._
    val m = params.m
    segments(graphs).map { g =>
      val mL = 1.0 / math.log(m.toDouble)
      val n = g.ids.length
      var levelMismatch = 0L
      var i = 0
      val levelHisto = new Array[Long](25)
      while (i < n) {
        val h = HnswGraph.mix64(g.ids(i))
        val u = ((h >>> 11) + 1).toDouble / (1L << 53).toDouble
        val expect = math.min((-math.log(u) * mL).toInt, 24)
        if (g.levels(i) != expect) levelMismatch += 1
        if (g.levels(i) >= 0 && g.levels(i) <= 24) levelHisto(g.levels(i)) += 1
        i += 1
      }
      var degreeViolations = 0L
      var badNeighbors = 0L
      var degreeHash = 0L
      i = 0
      while (i < n) {
        var layer = 0
        while (layer <= g.levels(i)) {
          val s = g.node_slot(i) + layer
          val deg = g.nbr_off(s + 1) - g.nbr_off(s)
          val bound = if (layer == 0) 2 * m else m
          if (deg > bound) degreeViolations += 1
          // order-insensitive distribution fingerprint: fold each
          // (layer, degree) through splitmix64 and sum — identical
          // multisets of slot degrees give identical hashes
          degreeHash += HnswGraph.mix64(layer.toLong << 32 | deg.toLong)
          var p = g.nbr_off(s)
          while (p < g.nbr_off(s + 1)) {
            val nb = g.nbrs(p)
            if (nb < 0 || nb >= n || nb == i) badNeighbors += 1
            p += 1
          }
          layer += 1
        }
        i += 1
      }
      val entryOk = n == 0 || (g.entry >= 0 && g.entry < n &&
        g.levels(g.entry) == g.max_level)
      (g.segment, n.toLong, levelMismatch, degreeViolations, badNeighbors,
        entryOk, levelHisto.toSeq, degreeHash)
    }.toDF("segment", "nodes", "level_mismatch", "degree_violations",
      "bad_neighbors", "entry_ok", "level_histo", "degree_histo_hash")
  }

  private def segments(graphs: DataFrame): Dataset[SegmentGraph] = {
    val spark = graphs.sparkSession
    import spark.implicits._
    graphs.as[SegmentGraph]
  }
}

/** Immutable segment graph + beam search over flat arrays. */
final class HnswGraph private (
    ids: Array[Long], vecs: Array[Float], dims: Int,
    levels: Array[Int], nodeSlot: Array[Int],
    nbrOff: Array[Int], nbrs: Array[Int],
    entry: Int, maxLevel: Int) {

  @inline private def dot(node: Int, q: Array[Float]): Double = {
    var s = 0.0; var i = 0; val base = node * dims
    while (i < dims) { s += vecs(base + i).toDouble * q(i); i += 1 }
    s
  }

  private def neighbors(node: Int, layer: Int): (Int, Int) = {
    val slot = nodeSlot(node) + layer
    (nbrOff(slot), nbrOff(slot + 1))
  }

  /** Greedy single-entry descent at `layer` (ef=1 specialization). */
  private def greedy(q: Array[Float], start: Int, layer: Int): Int = {
    var cur = start
    var curSim = dot(cur, q)
    var improved = true
    while (improved) {
      improved = false
      val (from, until) = neighbors(cur, layer)
      var i = from
      while (i < until) {
        val cand = nbrs(i)
        val s = dot(cand, q)
        if (s > curSim) { curSim = s; cur = cand; improved = true }
        i += 1
      }
    }
    cur
  }

  /** Beam search at one layer: returns up to `ef` (node, sim) pairs. */
  private def searchLayer(q: Array[Float], ep: Int, ef: Int, layer: Int): Array[(Int, Double)] = {
    val visited = new java.util.BitSet(ids.length)
    // candidates: best-sim-first; results: worst-sim-first (bounded at ef)
    val cand = new java.util.PriorityQueue[(Int, Double)](
      (a: (Int, Double), b: (Int, Double)) => java.lang.Double.compare(b._2, a._2))
    val res = new java.util.PriorityQueue[(Int, Double)](
      (a: (Int, Double), b: (Int, Double)) => java.lang.Double.compare(a._2, b._2))
    val epSim = dot(ep, q)
    visited.set(ep); cand.add((ep, epSim)); res.add((ep, epSim))
    while (!cand.isEmpty) {
      val (c, cSim) = cand.poll()
      if (cSim < res.peek()._2 && res.size >= ef) return drain(res)
      val (from, until) = neighbors(c, layer)
      var i = from
      while (i < until) {
        val e = nbrs(i)
        if (!visited.get(e)) {
          visited.set(e)
          val s = dot(e, q)
          if (res.size < ef || s > res.peek()._2) {
            cand.add((e, s)); res.add((e, s))
            if (res.size > ef) res.poll()
          }
        }
        i += 1
      }
    }
    drain(res)
  }

  private def drain(pq: java.util.PriorityQueue[(Int, Double)]): Array[(Int, Double)] = {
    val out = new Array[(Int, Double)](pq.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = pq.poll(); i -= 1 } // best-first
    out
  }

  /** ANN top-k: (corpus id, cosine sim), best first, ties by id. */
  def search(qNormalized: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] = {
    if (ids.isEmpty) return Seq.empty
    var ep = entry
    var l = maxLevel
    while (l > 0) { ep = greedy(qNormalized, ep, l); l -= 1 }
    searchLayer(qNormalized, ep, math.max(ef, k), 0)
      .map { case (n, s) => (ids(n), s) }
      .sortBy { case (id, s) => (-s, id) }
      .take(k)
      .toSeq
  }
}

object HnswGraph {
  def apply(g: HnswIndex.SegmentGraph): HnswGraph =
    new HnswGraph(g.ids, g.vecs, g.dims, g.levels, g.node_slot,
      g.nbr_off, g.nbrs, g.entry, g.max_level)

  def normalized(v: Array[Float]): Array[Float] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i).toDouble * v(i); i += 1 }
    val inv = if (n == 0.0) 0.0 else 1.0 / math.sqrt(n)
    val out = new Array[Float](v.length)
    i = 0
    while (i < v.length) { out(i) = (v(i) * inv).toFloat; i += 1 }
    out
  }

  /** splitmix64 — deterministic level source (public-domain constant mix). */
  private[search] def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}

/** Mutable single-segment HNSW under construction (driver-free: lives
  * entirely inside one `mapPartitions` task). */
final class HnswBuilder(m: Int, efConstruction: Int) {
  import scala.collection.mutable.ArrayBuffer

  private val maxM0 = 2 * m
  private val mL = 1.0 / math.log(m.toDouble)

  private val ids = ArrayBuffer.empty[Long]
  private val vecBuf = ArrayBuffer.empty[Array[Float]]
  private val levels = ArrayBuffer.empty[Int]
  // adj(node)(layer) = neighbor node indexes (small arrays, replaced on prune)
  private val adj = ArrayBuffer.empty[Array[Array[Int]]]
  private var entry = -1
  private var maxLevel = -1
  private var dims = -1

  def size: Int = ids.length

  /** Node level from a hash of the id: geometric with ratio 1/m, capped so
    * a degenerate hash cannot build a 60-layer tower. */
  private def levelOf(id: Long): Int = {
    val h = HnswGraph.mix64(id)
    val u = ((h >>> 11) + 1).toDouble / (1L << 53).toDouble // (0, 1]
    math.min((-math.log(u) * mL).toInt, 24)
  }

  @inline private def dot(a: Int, q: Array[Float]): Double = {
    val v = vecBuf(a); var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * q(i); i += 1 }
    s
  }

  private def greedy(q: Array[Float], start: Int, layer: Int): Int = {
    var cur = start; var curSim = dot(cur, q); var improved = true
    while (improved) {
      improved = false
      val ns = adj(cur)(layer); var i = 0
      while (i < ns.length) {
        val s = dot(ns(i), q)
        if (s > curSim) { curSim = s; cur = ns(i); improved = true }
        i += 1
      }
    }
    cur
  }

  private def searchLayer(q: Array[Float], ep: Int, ef: Int, layer: Int): ArrayBuffer[(Int, Double)] = {
    val visited = new java.util.BitSet(ids.length)
    val cand = new java.util.PriorityQueue[(Int, Double)](
      (a: (Int, Double), b: (Int, Double)) => java.lang.Double.compare(b._2, a._2))
    val res = new java.util.PriorityQueue[(Int, Double)](
      (a: (Int, Double), b: (Int, Double)) => java.lang.Double.compare(a._2, b._2))
    val s0 = dot(ep, q)
    visited.set(ep); cand.add((ep, s0)); res.add((ep, s0))
    var break = false
    while (!cand.isEmpty && !break) {
      val (c, cSim) = cand.poll()
      if (cSim < res.peek()._2 && res.size >= ef) break = true
      else {
        val ns = adj(c)(layer); var i = 0
        while (i < ns.length) {
          val e = ns(i)
          if (!visited.get(e)) {
            visited.set(e)
            val s = dot(e, q)
            if (res.size < ef || s > res.peek()._2) {
              cand.add((e, s)); res.add((e, s))
              if (res.size > ef) res.poll()
            }
          }
          i += 1
        }
      }
    }
    val out = ArrayBuffer.empty[(Int, Double)]
    while (!res.isEmpty) out += res.poll()
    out // worst-first; callers sort as needed
  }

  /** Algorithm-4 heuristic: take candidates best-first; keep one only if
    * it is closer to the query point than to every already-kept neighbor
    * — prunes redundant same-cluster edges, keeps bridge edges. */
  private def selectNeighbors(cands: Seq[(Int, Double)], bound: Int): Array[Int] = {
    val sorted = cands.sortBy { case (n, s) => (-s, n) }
    val kept = ArrayBuffer.empty[Int]
    val it = sorted.iterator
    while (it.hasNext && kept.length < bound) {
      val (c, simToQ) = it.next()
      var closerToKept = false
      val cv = vecBuf(c); var i = 0
      while (i < kept.length && !closerToKept) {
        if (dot(kept(i), cv) > simToQ) closerToKept = true
        i += 1
      }
      if (!closerToKept) kept += c
    }
    // backfill with pruned candidates if the heuristic was too aggressive
    if (kept.length < math.min(bound, sorted.length)) {
      val have = kept.toSet
      sorted.iterator.filterNot { case (n, _) => have(n) }
        .take(math.min(bound, sorted.length) - kept.length)
        .foreach { case (n, _) => kept += n }
    }
    kept.toArray
  }

  def add(id: Long, v: Array[Float]): Unit = {
    if (dims < 0) dims = v.length
    require(v.length == dims, s"dims mismatch: ${v.length} vs $dims")
    val q = HnswGraph.normalized(v)
    val node = ids.length
    val lev = levelOf(id)
    ids += id; vecBuf += q; levels += lev
    adj += Array.fill(lev + 1)(Array.emptyIntArray)
    if (entry < 0) { entry = node; maxLevel = lev; return }

    var ep = entry
    var l = maxLevel
    while (l > lev) { ep = greedy(q, ep, l); l -= 1 }
    l = math.min(lev, maxLevel)
    while (l >= 0) {
      val found = searchLayer(q, ep, efConstruction, l)
      val sel = selectNeighbors(found.toSeq, m)
      adj(node)(l) = sel
      val bound = if (l == 0) maxM0 else m
      var i = 0
      while (i < sel.length) {
        val nb = sel(i)
        val cur = adj(nb)(l)
        if (cur.length + 1 <= bound) adj(nb)(l) = cur :+ node
        else {
          val nv = vecBuf(nb)
          val pool = (cur :+ node).map(x => (x, dot(x, nv))).toSeq
          adj(nb)(l) = selectNeighbors(pool, bound)
        }
        i += 1
      }
      // best-sim entry for the next (lower) layer
      if (found.nonEmpty) ep = found.maxBy { case (n, s) => (s, -n) }._1
      l -= 1
    }
    if (lev > maxLevel) { maxLevel = lev; entry = node }
  }

  /** Flatten to the parquet row form. */
  def freeze(segment: Int): HnswIndex.SegmentGraph = {
    val n = ids.length
    val nodeSlot = new Array[Int](n)
    var slots = 0
    var i = 0
    while (i < n) { nodeSlot(i) = slots; slots += levels(i) + 1; i += 1 }
    val nbrOff = new Array[Int](slots + 1)
    var total = 0
    i = 0
    var s = 0
    while (i < n) {
      var l = 0
      while (l <= levels(i)) { nbrOff(s) = total; total += adj(i)(l).length; s += 1; l += 1 }
      i += 1
    }
    nbrOff(slots) = total
    val flat = new Array[Int](total)
    i = 0; s = 0
    while (i < n) {
      var l = 0
      while (l <= levels(i)) {
        System.arraycopy(adj(i)(l), 0, flat, nbrOff(s), adj(i)(l).length)
        s += 1; l += 1
      }
      i += 1
    }
    val vflat = new Array[Float](n * math.max(dims, 0))
    i = 0
    while (i < n) { System.arraycopy(vecBuf(i), 0, vflat, i * dims, dims); i += 1 }
    HnswIndex.SegmentGraph(segment, dims, entry, maxLevel,
      ids.toArray, vflat, levels.toArray, nodeSlot, nbrOff, flat)
  }
}
