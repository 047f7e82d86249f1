package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.VectorFunctions._
import graft.search.{HnswIndex, HyperplaneLsh, IvfIndex, IvfStore, VectorSearch}
import graft.store.{DocumentStore, Scratch}

/** Vector-search operator coverage (SURVEY §2.8: V2/V3 + the ANN/near-dup
  * extensions). Oracle parity trick: DuckDB's list_cosine_similarity over
  * lists cast to DOUBLE accumulates exactly like our codegen'd expression
  * (sequential double), so raw sims are bit-identical and top-k ordering
  * is deterministic without rounding; we round to 6dp only for display.
  */
object VectorQueries extends QuerySet {

  /** DuckDB: embedding list cast to double elements. */
  private def dl(c: String) = s"list_transform($c, x -> CAST(x AS DOUBLE))"

  private def probeVec(s: SparkSession, d: String, id: Long): Array[Float] =
    t(s, d, "embeddings").filter(col("vec_id") === id)
      .head().getSeq[Float](1).toArray

  /** V2/W2: exact brute-force cosine top-10, single probe. */
  private def q30(s: SparkSession, d: String): DataFrame = {
    val probe = probeVec(s, d, 0L)
    VectorSearch.exactTopK(t(s, d, "embeddings"), "embedding", "vec_id", probe, 10)
      .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim"))
  }

  private val q30Sql =
    s"""WITH q AS (SELECT ${dl("embedding")} AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, label,
       |  round(list_cosine_similarity(${dl("embedding")}, qv), 6) AS sim
       |FROM embeddings, q
       |ORDER BY list_cosine_similarity(${dl("embedding")}, qv) DESC, vec_id
       |LIMIT 10""".stripMargin

  /** J2 generalized: multi-probe k-NN join, window form. */
  private def q31(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    VectorSearch.knnJoinWindow(
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      e, "vec_id", "embedding", 3)
      .select(col("probe_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy(col("probe_id"), col("rn"))
  }

  private val knnJoinSql =
    s"""WITH p AS (SELECT vec_id AS probe_id, ${dl("embedding")} AS pv
       |           FROM embeddings WHERE vec_id < 5),
       |s AS (SELECT p.probe_id, e.vec_id,
       |        list_cosine_similarity(${dl("e.embedding")}, p.pv) AS rsim
       |      FROM embeddings e, p)
       |SELECT probe_id, vec_id, round(rsim, 6) AS sim, rn FROM (
       |  SELECT probe_id, vec_id, rsim,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY rsim DESC, vec_id) AS rn
       |  FROM s) x
       |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin

  /** Same semantics through the bounded-heap partial aggregate (the
    * shuffle-light 100-TB path) — shares q31's oracle by design. */
  private def q32(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    VectorSearch.knnJoinAgg(
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      e, "vec_id", "embedding", 3)
      .select(col("probe_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy(col("probe_id"), col("rn"))
  }

  /** ANN answers have no SQL oracle (approximate ≠ exact), so the gate
    * carries its own teeth: the ANN result is emitted ONLY if its recall
    * against in-query exact top-k clears `minRecall` — a recall
    * regression zeroes `spark_rows`, which the driver sees without any
    * oracle. The membership count is k rows: driver-scale by design.
    *
    * Threshold is `floor(minRecall·k)` hits — exactly the stated recall,
    * not a silent round-up to perfection. Membership comparison is
    * well-defined because both sides tie-break by id at the k boundary
    * ([[VectorSearch.exactTopK]] orders by (sim desc, id); every ANN
    * searcher sorts candidates by (-sim, id) before `take(k)`). */
  private def recallGate(ann0: DataFrame, exact: DataFrame, k: Int,
                         minRecall: Double): DataFrame = {
    // the k-row ANN result is consumed twice (recall count here, then the
    // caller's emit): cache it so the index search runs once, not twice
    val ann = ann0.cache()
    val hits = ann.select("vec_id").join(exact.select("vec_id"), "vec_id").count()
    if (hits >= math.floor(minRecall * k).toLong) ann else ann.limit(0)
  }

  /** V3: IVF index over the PERSISTED path — train, write the centroid
    * sidecar + centroid-partitioned store, read both back, search with
    * manifest-level partition pruning. The whole production surface
    * (sidecar round-trip, store build, pruned read) rides the driver
    * gate, not just the in-memory assign/search pair.
    *
    * HASH-GATED since r12 (no longer `no_oracle`): the trainer is
    * deterministic end to end — k-lowest-id init, in-order double
    * cosine folds, per-iteration float32 centroid rounding (which
    * absorbs the sub-ULP noise of summation order on both engines) —
    * so [[q33Sql]] replays the THREE Lloyd iterations as unrolled CTEs
    * (the q137/q155/q190 fixed-unroll discipline), then the
    * multi-assign, the probe's nprobe list choice, and the pruned
    * exact top-k. Replay totality needs corpus ≤ maxTrainPoints (the
    * Knuth-keyed train-sample is a no-op then) — true at every testdata
    * SF (≤ 2000 vectors vs the 4096 cap); at larger corpora the sample
    * engages and the gate's recall spec is the check, exactly as for
    * the remaining stochastic-family indexes. */
  private def q33(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").cache()
    val idx = IvfIndex.train(e, "embedding", "vec_id", numLists = 16, iters = 3, multiAssign = 4)
    val root = Scratch.dir(s, "q33-ivf")
    IvfIndex.writeSidecar(s, root, idx)
    val loaded = IvfIndex.readSidecar(s, root)
      .getOrElse(sys.error("IVF sidecar did not round-trip"))
    val ivf = new IvfStore(new DocumentStore(s, root), "vecs", loaded, "embedding", "vec_id")
    ivf.build(e)
    val probe = probeVec(s, d, 0L)
    val ann = ivf.search(probe, 10, nprobe = 4)
      .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim"))
    val exact = VectorSearch.exactTopK(e, "embedding", "vec_id", probe, 10)
    val gated = recallGate(ann, exact, 10, 0.95)
    e.unpersist()
    gated
  }

  /** The q33 replay: spherical k-means unrolled (K=16 lists, 3
    * iterations, multi-assign 4, nprobe 4, top-10). Iteration step:
    * argmax-cosine assignment (ties → lower centroid id, matching
    * `array_position(sims, array_max(sims))`), per-dimension mean of
    * the assigned vectors, spherical normalization with the SAME
    * operation order as [[SimpleKMeans.fit]] (mean first, then the
    * in-order sum-of-squares norm, then per-element divide), and the
    * float32 cast Spark applies each iteration (`CAST(x AS FLOAT)` —
    * DuckDB REAL is IEEE binary32, so the rounding is identical).
    * Empty clusters carry the previous centroid (the `sums.foreach`
    * update-only contract). */
  private val q33Sql: String = {
    val K = 16; val iters = 3; val ma = 4; val nprobe = 4; val topk = 10; val dims = 64
    def iterCte(i: Int): String = {
      val prev = s"c${i - 1}"
      s"""a$i AS (
         |  SELECT vec_id, ev, c FROM (
         |    SELECT v.vec_id, v.ev, $prev.c,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY list_cosine_similarity(v.ev, $prev.cv) DESC, $prev.c) AS rn
         |    FROM v CROSS JOIN $prev) WHERE rn = 1),
         |s$i AS (
         |  SELECT c, i, SUM(ev[i + 1]) AS sv, COUNT(*) AS n
         |  FROM a$i CROSS JOIN range($dims) t(i) GROUP BY c, i),
         |m$i AS (
         |  SELECT c, mv, sqrt(list_reduce(list_transform(mv, x -> x * x), (a, b) -> a + b)) AS nrm
         |  FROM (SELECT c, list(sv / n ORDER BY i) AS mv FROM s$i GROUP BY c)),
         |c$i AS (
         |  SELECT p.c,
         |    CASE WHEN m.c IS NULL THEN p.cv
         |         WHEN m.nrm = 0 THEN list_transform(m.mv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))
         |         ELSE list_transform(m.mv, x -> CAST(CAST(x / m.nrm AS FLOAT) AS DOUBLE)) END AS cv
         |  FROM c${i - 1} p LEFT JOIN m$i m ON p.c = m.c)""".stripMargin
    }
    s"""WITH v AS (
       |  SELECT vec_id, label, ${dl("embedding")} AS ev FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c, ev AS cv
       |  FROM (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT $K)),
       |${(1 to iters).map(iterCte).mkString(",\n")},
       |asg AS (
       |  SELECT vec_id, c FROM (
       |    SELECT v.vec_id, c$iters.c,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY list_cosine_similarity(v.ev, c$iters.cv) DESC, c$iters.c) AS rn
       |    FROM v CROSS JOIN c$iters) WHERE rn <= $ma),
       |p AS (SELECT ev AS pv FROM v WHERE vec_id = 0),
       |pl AS (SELECT c FROM c$iters CROSS JOIN p
       |       ORDER BY list_cosine_similarity(cv, pv) DESC, c LIMIT $nprobe),
       |cand AS (SELECT DISTINCT a.vec_id FROM asg a JOIN pl ON a.c = pl.c)
       |SELECT v.vec_id, v.label, round(list_cosine_similarity(v.ev, p.pv), 6) AS sim
       |FROM v JOIN cand USING (vec_id) CROSS JOIN p
       |ORDER BY list_cosine_similarity(v.ev, p.pv) DESC, v.vec_id
       |LIMIT $topk""".stripMargin
  }

  /** V3 alternate: random-hyperplane LSH ANN — bucket-filter then exact
    * top-k among candidates, behind the same in-query recall gate. The
    * hyperplane bank round-trips through its sidecar so the persisted
    * path is exercised like q33/q82/q95.
    *
    * HASH-GATED since r12: the hyperplane bank is seed-derived CONFIG,
    * not data — so [[q36Sql]] embeds the planes as literals (their
    * exact double values, the same constants the query's `typedlit`
    * ships to codegen) and replays the sign keys (`vec_dot ≥ 0` —
    * identical sequential double folds per the q30 parity), the
    * multiprobe expansion as `bit_count(xor(key, probe_key)) ≤ radius`
    * (set-equal to the `expand` enumeration by definition of Hamming
    * distance), and the exact top-k among candidates. */
  private def q36(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").cache()
    val root = Scratch.dir(s, "q36-lsh")
    HyperplaneLsh.writeSidecar(s, root, HyperplaneLsh(dims = 64, bits = 8, numTables = 8))
    val lsh = HyperplaneLsh.readSidecar(s, root)
      .getOrElse(sys.error("LSH sidecar did not round-trip"))
    val probe = probeVec(s, d, 0L)
    val ann = lsh.search(lsh.assign(e, "embedding"), "embedding", "vec_id", probe, 10,
        probeRadius = 3)
      .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim"))
    val exact = VectorSearch.exactTopK(e, "embedding", "vec_id", probe, 10)
    val gated = recallGate(ann, exact, 10, 0.95)
    e.unpersist()
    gated
  }

  /** The q36 replay — see the q36 Scaladoc. Plane constants print as
    * their exact double values (`f.toDouble.toString` round-trips to
    * the identical double; printing the FLOAT's shortest form and
    * parsing it as a double would NOT). */
  private val q36Sql: String = {
    val lsh = HyperplaneLsh(dims = 64, bits = 8, numTables = 8)
    val planeRows = (for {
      tb <- 0 until lsh.numTables
      j <- 0 until lsh.bits
    } yield s"($tb, $j, [${lsh.planes(tb)(j).map(_.toDouble.toString).mkString(", ")}])")
      .mkString(",\n")
    s"""WITH v AS (
       |  SELECT vec_id, label, ${dl("embedding")} AS ev FROM embeddings),
       |planes(t, j, pv) AS (VALUES
       |$planeRows),
       |keys AS (
       |  SELECT v.vec_id, p.t,
       |    CAST(SUM(CASE WHEN list_inner_product(v.ev, p.pv) >= 0
       |             THEN (1 << p.j) ELSE 0 END) AS INTEGER) AS k
       |  FROM v CROSS JOIN planes p GROUP BY v.vec_id, p.t),
       |pk AS (SELECT t, k AS probek FROM keys WHERE vec_id = 0),
       |cand AS (
       |  SELECT DISTINCT keys.vec_id FROM keys JOIN pk ON keys.t = pk.t
       |  WHERE bit_count(xor(keys.k, pk.probek)) <= 3),
       |pvq AS (SELECT ev AS probe FROM v WHERE vec_id = 0)
       |SELECT v.vec_id, v.label,
       |  round(list_cosine_similarity(v.ev, pvq.probe), 6) AS sim
       |FROM v JOIN cand USING (vec_id) CROSS JOIN pvq
       |ORDER BY list_cosine_similarity(v.ev, pvq.probe) DESC, v.vec_id
       |LIMIT 10""".stripMargin
  }

  /** V3 third index kind: segmented HNSW over the PERSISTED path —
    * build one graph per segment, write graph table + params sidecar,
    * read both back, beam-search the loaded graphs at the reference
    * defaults (m=16, efConstruction=64; MongoDbService.cs:133-134) —
    * behind the same in-query recall gate as q33/q36.
    *
    * Formerly the suite's last `no_oracle` row (r12–r16; hash-gated
    * since r17 — see the output note in the body): HNSW construction is
    * inherently sequential — each insertion beam-searches the graph
    * built by all PRIOR insertions, with per-node neighbor heaps
    * pruned by the running best — so there is no bounded SQL unroll
    * (the loop depth is the corpus, not a fixed iteration count, and
    * each step's state is the whole mutable graph). Every other index
    * family (IVF/LSH/int8/PQ/IVF+PQ) hash-gates; HNSW's teeth are the
    * in-query recall gate + the in-query [[HnswIndex.structuralAudit]]
    * (deterministic-build invariants: level rule, degree bounds,
    * neighbor ranges, entry point) + HnswSpec's determinism
    * fingerprint (two builds → identical audit rows). */
  private def q82(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").cache()
    val params = HnswIndex.Params(m = 16, efConstruction = 64, numSegments = 8)
    val graphs = HnswIndex.build(e, "embedding", "vec_id", params)
    val root = Scratch.dir(s, "q82-hnsw")
    HnswIndex.write(graphs, root, params)
    val loaded = HnswIndex.read(s, root)
    val loadedParams = HnswIndex.readParams(s, root)
      .getOrElse(sys.error("HNSW sidecar did not round-trip"))
    require(loadedParams == params, s"sidecar params drifted: $loadedParams")
    // Structural gate (r13): the walk has no SQL oracle, but the BUILD
    // is deterministic (splitmix64 levels), so the persisted graph is
    // auditable — recompute every node's level from its id, check the
    // freeze degree bounds and neighbor ranges, and verify the entry
    // point. A build regression that leaves recall above 0.95 (e.g. a
    // broken prune inflating degrees, or a changed level source
    // reshaping the hierarchy) now fails HERE, loudly, not silently.
    val audit = HnswIndex.structuralAudit(loaded, loadedParams).agg(
        sum(col("level_mismatch")).as("lm"),
        sum(col("degree_violations")).as("dv"),
        sum(col("bad_neighbors")).as("bn"),
        min(when(col("entry_ok"), lit(1)).otherwise(lit(0))).as("eo"),
        sum(col("nodes")).as("n")).head()
    require(audit.getLong(0) == 0 && audit.getLong(1) == 0 &&
        audit.getLong(2) == 0 && audit.getInt(3) == 1,
      s"HNSW structural audit failed: level_mismatch=${audit.getLong(0)} " +
        s"degree_violations=${audit.getLong(1)} bad_neighbors=${audit.getLong(2)} " +
        s"entry_ok=${audit.getInt(3) == 1}")
    require(audit.getLong(4) == e.count(),
      s"persisted graph covers ${audit.getLong(4)} of ${e.count()} vectors")
    val probe = probeVec(s, d, 0L)
    val ann = HnswIndex.search(loaded, probe, 10, ef = loadedParams.efConstruction)
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
    val exact = VectorSearch.exactTopK(e, "embedding", "vec_id", probe, 10)
    val gated = recallGate(ann, exact, 10, 0.95)
    // HASH-GATED output (r17 — the suite's last `no_oracle` row closed):
    // the graph walk itself has no SQL unroll, so its teeth stay
    // in-query (structural audit, sidecar round-trip, coverage, recall
    // floor above). But the walk's ANSWER is replayable: measured
    // recall at the reference params is 1.0 on every gate corpus
    // (sf0.001/0.01/0.1, ef=64..256 — all 10/10), so the emitted id set
    // equals the exact top-10 and DuckDB replays the full output with
    // the q30 oracle. Sims are RE-SCORED from the raw embeddings with
    // the codegen cosine (bit-identical to DuckDB's
    // list_cosine_similarity over doubles) rather than taken from the
    // graph's normalized float vectors, so the replay is exact. A
    // recall drop below 1.0 now surfaces as a hash mismatch — strictly
    // sharper than the old `no_oracle` row, on top of the ≥0.95 floor
    // that still zeroes the output in-query.
    val out = gated.select("vec_id")
      .join(e, "vec_id")
      .withColumn("__sim", cosine_sim(col("embedding"), typedLit(probe)))
      .orderBy(col("__sim").desc, col("vec_id"))
      .select(col("vec_id"), col("label"), round(col("__sim"), 6).as("sim"))
    e.unpersist()
    out
  }

  /** Quantized scan path: symmetric int8 quantization (4× less vector
    * memory — what makes a 100 TB corpus's embeddings fit executor RAM)
    * with codegen'd byte-loop cosine, recall-gated against the exact
    * float top-k. Cosine is scale-invariant so the per-vector scales
    * cancel in the similarity; they ride along for dequantization. */
  /** The q89 replay (HASH-GATED since r12): the int8 path is
    * deterministic END TO END — symmetric quantization (float32 scale
    * = maxAbs/127, q = clamp(round(v/scale))) replays natively because
    * DuckDB REAL arithmetic IS IEEE binary32 (verified: REAL/REAL and
    * REAL+REAL stay FLOAT), `Math.round(float)` is floor(x + 0.5f)
    * replayed literally, and the scoring is exact BIGINT dot/norm
    * integer folds with one closing double division. No training, no
    * randomness — the quantized searcher was always exact arithmetic;
    * only the replay was missing. */
  private val q89Sql =
    """WITH qz AS (
      |  SELECT vec_id,
      |    (SELECT CAST(MAX(abs(x)) AS REAL) FROM unnest(embedding) t(x)) AS maxabs
      |  FROM embeddings),
      |q2 AS (
      |  SELECT e.vec_id, e.label,
      |    CASE WHEN qz.maxabs / CAST(127 AS REAL) > 0 THEN
      |      list_transform(e.embedding, x ->
      |        greatest(-127, least(127, CAST(floor(CAST(CAST(x / (qz.maxabs
      |          / CAST(127 AS REAL)) AS REAL) + CAST(0.5 AS REAL) AS REAL)) AS BIGINT))))
      |    ELSE list_transform(e.embedding, x -> CAST(0 AS BIGINT)) END AS q
      |  FROM embeddings e JOIN qz USING (vec_id)),
      |p AS (SELECT q AS pq FROM q2 WHERE vec_id = 0),
      |scored AS (
      |  SELECT vec_id, label,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_zip(q, pq), z -> z[1] * z[2])), (a, b) -> a + b) AS dot,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(q, x -> x * x)), (a, b) -> a + b) AS na,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(pq, x -> x * x)), (a, b) -> a + b) AS nb
      |  FROM q2, p)
      |SELECT vec_id, label,
      |  round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
      |    ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) END,
      |    6) AS sim
      |FROM scored
      |ORDER BY (CASE WHEN na = 0 OR nb = 0 THEN 0.0
      |    ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) END)
      |  DESC, vec_id
      |LIMIT 10""".stripMargin

  private def q89(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").cache()
    // Quantize fuses into the scoring projection — both expressions are
    // codegen'd, so the whole scan→score pass is one WholeStageCodegen
    // span ending in a TakeOrderedAndProject k-heap (production would
    // materialize qv once at ingest; the serve loop is identical).
    val qz = e.select(col("vec_id"), col("label"),
      vec_quantize_i8(col("embedding")).as("qv"))
    val probeQ = qz.filter(col("vec_id") === 0L).select(col("qv.q")).head().getAs[Array[Byte]](0)
    val ann = qz
      .withColumn("rsim", cosine_sim_i8(col("qv.q"), lit(probeQ)))
      .orderBy(col("rsim").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("label"), round(col("rsim"), 6).as("sim"))
    val exact = VectorSearch.exactTopK(e, "embedding", "vec_id", probeVec(s, d, 0L), 10)
    val gated = recallGate(ann, exact, 10, 0.9)
    e.unpersist()
    gated
  }

  /** Hard-negative mining for contrastive embedding training: per
    * anchor, the k most-similar vectors with a DIFFERENT label (the
    * classic in-batch hard negatives, done corpus-wide). Pure
    * composition of existing ops — broadcast anchors × codegen cosine →
    * per-anchor rank window with the label-mismatch predicate pushed
    * below the rank, so the heap never sees would-be positives. */
  private def q91(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val anchors = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("label").as("__plabel"),
        col("embedding").as("__pv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("rsim").desc, col("vec_id"))
    e.join(broadcast(anchors), col("label") =!= col("__plabel"))
      .withColumn("rsim", cosine_sim(col("embedding"), col("__pv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("probe_id"), col("vec_id"), col("label"),
        round(col("rsim"), 6).as("sim"), col("rn"))
      .orderBy(col("probe_id"), col("rn"))
  }

  private val q91Sql =
    s"""WITH p AS (SELECT vec_id AS probe_id, label AS plabel, ${dl("embedding")} AS pv
       |           FROM embeddings WHERE vec_id < 5),
       |s AS (SELECT p.probe_id, e.vec_id, e.label,
       |        list_cosine_similarity(${dl("e.embedding")}, p.pv) AS rsim
       |      FROM embeddings e JOIN p ON e.label <> p.plabel)
       |SELECT probe_id, vec_id, label, round(rsim, 6) AS sim, rn FROM (
       |  SELECT probe_id, vec_id, label, rsim,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY rsim DESC, vec_id) AS rn
       |  FROM s) x
       |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin

  /** Batched multi-probe IVF search through the whole pruned-join
    * dataflow — probe→list assignment computed as an expression over the
    * broadcast centroid literals, candidate join pruned per probe,
    * bounded-heap top-k. At nprobe = numLists every list is probed, so
    * the answer PROVABLY equals the exact multi-probe join no matter
    * where k-means training converged — which is what lets the batched
    * path ride the q31/q32 hash oracle end to end (partial-probe recall
    * is spec-covered in KnnSpec). */
  private def q98(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").cache()
    val idx = IvfIndex.train(e, "embedding", "vec_id", numLists = 8, iters = 2)
    val indexed = idx.assign(e, "embedding")
    val out = idx.searchMany(indexed, "embedding", "vec_id",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3, nprobe = 8)
      .select(col("probe_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy(col("probe_id"), col("rn"))
    e.unpersist()
    out
  }

  /** Product-quantization ANN ([[graft.search.PqIndex]]): train on a
    * bounded sample, persist + reload the codebook sidecar, encode the
    * corpus to m one-byte codes (16× compression at dsub=4 — the path
    * by which a 100 TB corpus's vectors fit executor memory), ADC-scan
    * a 100-wide shortlist, exact-rerank to top-10 — behind the same
    * in-query recall gate as q33/q36/q82. */
  /** Shared q95/q103 replay generator (HASH-GATED since r12): the PQ
    * trainer is deterministic — the Knuth-keyed sample order IS part of
    * the artifact definition (init = the sample's first ks subvectors),
    * per-subspace Lloyd replays as unrolled CTEs keyed by (s, j) with
    * L2 argmin assignment (ties → lower code, the strict-< contract),
    * float32 mean rounding absorbing summation-order noise exactly as
    * in the q33 replay, and the serve stage replays the float32 LUT,
    * the subspace-ordered ADC fold, the shortlist, and the exact
    * rerank. `withIvf` adds the q33-shape IVF CTEs (numLists=16,
    * iters=3, multiAssign=4, nprobe=4) and restricts the ADC scan to
    * the probed lists' candidates — the IvfPq composition. Replay
    * totality needs corpus ≤ maxTrainPoints (true at every testdata
    * SF), as for q33. */
  private def pqOracle(withIvf: Boolean): String = {
    val M = 16; val dsub = 4; val ks = 16; val iters = 5
    val shortlist = 100; val k = 10
    def dist(sub: String, cv: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(list_zip($sub, $cv), z -> (z[1] - z[2]) * (z[1] - z[2]))), (a, b) -> a + b)"
    def pqIter(i: Int): String = {
      val sub = s"samp.ev[(c.s*$dsub+1):(c.s*$dsub+$dsub)]"
      s"""pa$i AS (
         |  SELECT vec_id, s, j FROM (
         |    SELECT samp.vec_id, c.s, c.j,
         |      row_number() OVER (PARTITION BY samp.vec_id, c.s
         |        ORDER BY ${dist(sub, "c.cv")}, c.j) AS r
         |    FROM samp CROSS JOIN pc${i - 1} c) WHERE r = 1),
         |ps$i AS (
         |  SELECT a.s, a.j, t.i, SUM(samp.ev[a.s*$dsub + t.i + 1]) AS sv, COUNT(*) AS n
         |  FROM pa$i a JOIN samp USING (vec_id) CROSS JOIN range($dsub) t(i)
         |  GROUP BY a.s, a.j, t.i),
         |pm$i AS (SELECT s, j, list(sv / n ORDER BY i) AS mv FROM ps$i GROUP BY s, j),
         |pc$i AS (
         |  SELECT p.s, p.j,
         |    CASE WHEN m.j IS NULL THEN p.cv
         |         ELSE list_transform(m.mv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) END AS cv
         |  FROM pc${i - 1} p LEFT JOIN pm$i m ON p.s = m.s AND p.j = m.j)""".stripMargin
    }
    // the q33-shape IVF stage: spherical k-means (K=16, 3 iters),
    // multi-assign 4, probe's 4 nearest lists -> candidate ids
    def ivfIter(i: Int): String =
      s"""ia$i AS (
         |  SELECT vec_id, ev, c FROM (
         |    SELECT v.vec_id, v.ev, ic${i - 1}.c,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY list_cosine_similarity(v.ev, ic${i - 1}.cv) DESC, ic${i - 1}.c) AS rn
         |    FROM v CROSS JOIN ic${i - 1}) WHERE rn = 1),
         |is$i AS (
         |  SELECT c, i, SUM(ev[i + 1]) AS sv, COUNT(*) AS n
         |  FROM ia$i CROSS JOIN range(64) t(i) GROUP BY c, i),
         |im$i AS (
         |  SELECT c, mv, sqrt(list_reduce(list_transform(mv, x -> x * x), (a, b) -> a + b)) AS nrm
         |  FROM (SELECT c, list(sv / n ORDER BY i) AS mv FROM is$i GROUP BY c)),
         |ic$i AS (
         |  SELECT p.c,
         |    CASE WHEN m.c IS NULL THEN p.cv
         |         WHEN m.nrm = 0 THEN list_transform(m.mv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))
         |         ELSE list_transform(m.mv, x -> CAST(CAST(x / m.nrm AS FLOAT) AS DOUBLE)) END AS cv
         |  FROM ic${i - 1} p LEFT JOIN im$i m ON p.c = m.c)""".stripMargin
    val ivfCtes = if (!withIvf) "" else
      s"""ic0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c, ev AS cv
         |  FROM (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT 16)),
         |${(1 to 3).map(ivfIter).mkString(",\n")},
         |iasg AS (
         |  SELECT vec_id, c FROM (
         |    SELECT v.vec_id, ic3.c,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY list_cosine_similarity(v.ev, ic3.cv) DESC, ic3.c) AS rn
         |    FROM v CROSS JOIN ic3) WHERE rn <= 4),
         |ipl AS (SELECT c FROM ic3 CROSS JOIN p
         |        ORDER BY list_cosine_similarity(cv, pv) DESC, c LIMIT 4),
         |icand AS (SELECT DISTINCT a.vec_id FROM iasg a JOIN ipl ON a.c = ipl.c),
         |""".stripMargin
    val adcSource = if (withIvf) "enc e JOIN icand USING (vec_id) JOIN lut" else "enc e JOIN lut"
    s"""WITH v AS (
       |  SELECT vec_id, label, ${dl("embedding")} AS ev FROM embeddings),
       |p AS (SELECT ev AS pv FROM v WHERE vec_id = 0),
       |$ivfCtes
       |samp AS (
       |  SELECT vec_id, ev, row_number() OVER (
       |    ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id) AS rn
       |  FROM v),
       |pc0 AS (
       |  SELECT ss.s, CAST(samp.rn - 1 AS INTEGER) AS j,
       |    samp.ev[(ss.s*$dsub+1):(ss.s*$dsub+$dsub)] AS cv
       |  FROM samp CROSS JOIN (SELECT unnest(range($M)) AS s) ss
       |  WHERE samp.rn <= $ks),
       |${(1 to iters).map(pqIter).mkString(",\n")},
       |enc AS (
       |  SELECT vec_id, s, j AS code FROM (
       |    SELECT v.vec_id, c.s, c.j,
       |      row_number() OVER (PARTITION BY v.vec_id, c.s
       |        ORDER BY ${dist(s"v.ev[(c.s*$dsub+1):(c.s*$dsub+$dsub)]", "c.cv")}, c.j) AS r
       |    FROM v CROSS JOIN pc$iters c) WHERE r = 1),
       |nrm AS (
       |  SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(ev, x -> x * x)), (a, b) -> a + b)) AS norm FROM v),
       |qn AS (SELECT norm AS qnorm FROM nrm WHERE vec_id = 0),
       |lut AS (
       |  SELECT c.s, c.j,
       |    CAST(CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(p.pv[(c.s*$dsub+1):(c.s*$dsub+$dsub)], c.cv),
       |        z -> z[1] * z[2])), (a, b) -> a + b) AS REAL) AS DOUBLE) AS l
       |  FROM pc$iters c CROSS JOIN p),
       |adc AS (
       |  SELECT e.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_sort(list({'s': e.s, 'l': lut.l})), x -> x['l'])),
       |      (a, b) -> a + b) AS adcdot
       |  FROM $adcSource ON e.s = lut.s AND e.code = lut.j
       |  GROUP BY e.vec_id),
       |short AS (
       |  SELECT adc.vec_id FROM adc JOIN nrm USING (vec_id) CROSS JOIN qn
       |  ORDER BY adc.adcdot / (nrm.norm * qn.qnorm) DESC, adc.vec_id LIMIT $shortlist)
       |SELECT v.vec_id, v.label, round(list_cosine_similarity(v.ev, p.pv), 6) AS sim
       |FROM v JOIN short USING (vec_id) CROSS JOIN p
       |ORDER BY list_cosine_similarity(v.ev, p.pv) DESC, v.vec_id
       |LIMIT $k""".stripMargin
  }

  private val q95Sql = pqOracle(withIvf = false)
  private val q103Sql = pqOracle(withIvf = true)

  private def q95(s: SparkSession, d: String): DataFrame = {
    import graft.search.PqIndex
    val e = t(s, d, "embeddings").cache()
    val dims = e.head().getSeq[Float](1).length
    val cb = PqIndex.train(e, "embedding", "vec_id", m = dims / 4, ks = 16, iters = 5)
    val root = Scratch.dir(s, "q95-pq")
    PqIndex.writeSidecar(s, root, cb)
    val loaded = PqIndex.readSidecar(s, root)
      .getOrElse(sys.error("PQ sidecar did not round-trip"))
    val encoded = PqIndex.encode(loaded, e, "embedding")
      .select(col("vec_id"), col("pq_codes"), col("norm"))
    val probe = probeVec(s, d, 0L)
    val ann = PqIndex.searchRerank(loaded, encoded, e, "embedding", "vec_id",
        probe, 10, shortlist = 100)
      .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim"))
    val exact = VectorSearch.exactTopK(e, "embedding", "vec_id", probe, 10)
    val gated = recallGate(ann, exact, 10, 0.9)
    e.unpersist()
    gated
  }

  /** IVF+PQ composed serve topology ([[graft.search.IvfPq]], the faiss
    * IndexIVFPQ shape): centroid partitioning prunes which segments are
    * read, PQ codes shrink what survivors scan (floats never enter the
    * index table), exact rerank restores precision — the full
    * production lifecycle (train both, build the coded store, pruned
    * search) behind the usual recall gate. */
  private def q103(s: SparkSession, d: String): DataFrame = {
    import graft.search.{IvfPq, PqIndex}
    val e = t(s, d, "embeddings").cache()
    val dims = e.head().getSeq[Float](1).length
    val cb = PqIndex.train(e, "embedding", "vec_id", m = dims / 4, ks = 16, iters = 5)
    val ivf = IvfIndex.train(e, "embedding", "vec_id", numLists = 16, iters = 3,
      multiAssign = 4)
    val store = new DocumentStore(s,
      Scratch.dir(s, "q103-ivfpq"))
    val idx = new IvfPq(ivf, cb, store, "ivfpq", "embedding", "vec_id")
    idx.build(e)
    val probe = probeVec(s, d, 0L)
    val ann = idx.search(e, probe, 10, nprobe = 4, shortlist = 100)
      .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim"))
    val exact = VectorSearch.exactTopK(e, "embedding", "vec_id", probe, 10)
    val gated = recallGate(ann, exact, 10, 0.9)
    e.unpersist()
    gated
  }

  /** SemDeDup (semantic dedup via k-means blocking) made hash-checkable:
    * the query plants exact copies of vectors 0-9 under shifted ids, runs
    * [[graft.operators.Dedup.semantic]] at tau=0.999, and the correct
    * answer is exactly the original corpus — identical vectors always
    * share a cluster (so every planted copy is caught), the min-id
    * keeper is the original, and near-uniform sphere vectors never reach
    * 0.999 (so nothing else drops). A wrong drop OR a missed planted
    * copy breaks the oracle hash. */
  private def q94(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    // numClusters auto-scales (max(8, n/1024) — the sf1-measured rule);
    // identical vectors share a cluster at ANY k, so the gate holds
    graft.operators.Dedup.semantic(e.union(planted), "vec_id", "embedding",
        tau = 0.999)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  private val q94Sql = "SELECT vec_id FROM embeddings ORDER BY vec_id"

  /** Vector norm maintenance column (our analog of index-build-time
    * precomputation, SURVEY §1.3). */
  private def q34(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), round(l2_norm(col("embedding")), 6).as("norm"))
      .orderBy(col("vec_id"))

  private val q34Sql =
    s"""SELECT vec_id,
       |  round(sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * x), 'sum')), 6) AS norm
       |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Embedding-cosine near-duplicate pairs, label-blocked (the blocked
    * similarity self-join used for near-dedup at scale: block first so
    * the pair space is |block|² not n²). */
  private def q35(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val a = e.select(col("vec_id").as("a_id"), col("label"), col("embedding").as("__va"))
    val b = e.select(col("vec_id").as("b_id"), col("label"), col("embedding").as("__vb"))
    a.join(b, Seq("label"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("rsim", cosine_sim(col("__va"), col("__vb")))
      .filter(col("rsim") > 0.3)
      .select(col("label"), col("a_id"), col("b_id"), round(col("rsim"), 6).as("sim"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val q35Sql =
    s"""SELECT a.label AS label, a.vec_id AS a_id, b.vec_id AS b_id,
       |  round(list_cosine_similarity(${dl("a.embedding")}, ${dl("b.embedding")}), 6) AS sim
       |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(${dl("a.embedding")}, ${dl("b.embedding")}) > 0.3
       |ORDER BY a_id, b_id""".stripMargin

  /** Grouped embedding pooling (class prototypes; the same dataflow
    * mean-pools chunk embeddings into document embeddings) through
    * [[graft.operators.Pooling]]'s typed partial aggregate — the
    * shuffle carries one dense (dims, count) buffer per (label, task),
    * never the n×dims element rows a posexplode→groupBy(label, pos)
    * plan would move. The gate pools on an exact 2^-20 integer grid:
    * double × 2^20 is a pure exponent shift (no rounding), floor and Σ
    * are integer-exact, so the oracle recomputes identical numbers from
    * unnest+SUM; the float mean-pool serve path is spec-checked
    * (PoolingSpec). */
  private def q107(s: SparkSession, d: String): DataFrame = {
    val quantized = t(s, d, "embeddings")
      .select(col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1048576)).cast("long")).as("q"))
    graft.operators.Pooling.sumPoolLong(quantized, Seq("label"), "q")
      .select(col("label"), col("n"), posexplode(col("sums")).as(Seq("pos", "sum_q")))
      .select(col("label"), col("pos").cast("long").as("pos"), col("sum_q"), col("n"))
      .orderBy(col("label"), col("pos"))
  }

  private val q107Sql =
    """WITH e AS (SELECT label,
      |    unnest(list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT))) AS el,
      |    unnest(range(len(embedding))) AS pos
      |  FROM embeddings)
      |SELECT label, CAST(pos AS BIGINT) AS pos,
      |  CAST(SUM(el) AS BIGINT) AS sum_q, COUNT(*) AS n
      |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin

  /** FILTERED vector search — the metadata-predicate + top-k shape every
    * production vector store serves ("nearest products IN this
    * category"). Spark-first this is simply predicate-then-topK: the
    * filter sits UNDER the scan (pushed to parquet), the similarity
    * projection runs only over survivors, and the per-task k-heap never
    * sees excluded rows — no post-filtering a wider candidate list like
    * bolt-on vector stores do. */
  private def q112(s: SparkSession, d: String): DataFrame = {
    val probe = probeVec(s, d, 0L)
    graft.search.ExactSearcher.topKWhere(
        t(s, d, "embeddings"), "embedding", "vec_id", probe, 10,
        col("label") === 2)
      .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim"))
  }

  private val q112Sql =
    s"""WITH q AS (SELECT ${dl("embedding")} AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, label,
       |  round(list_cosine_similarity(${dl("embedding")}, qv), 6) AS sim
       |FROM embeddings, q
       |WHERE label = 2
       |ORDER BY list_cosine_similarity(${dl("embedding")}, qv) DESC, vec_id
       |LIMIT 10""".stripMargin

  /** FILTERED **batched** ANN — production RAG serves probe BATCHES with
    * per-tenant metadata predicates, not single probes. The predicate
    * rides [[IvfIndex.searchMany]]'s candidate stream: it filters the
    * indexed rows BELOW the probe join (pushed to the index scan,
    * composed with nprobe pruning), so each probe's k-heap only ever
    * sees predicate survivors — never the post-filtered k-sized answer
    * that starves selective predicates. At nprobe = numLists every list
    * is probed, so the result PROVABLY equals the exact filtered
    * multi-probe join and rides a full DuckDB hash oracle; partial-probe
    * agreement with the per-probe filtered searchers is spec-covered
    * (FilteredSearchSpec). */
  private def q123(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").cache()
    val idx = IvfIndex.train(e, "embedding", "vec_id", numLists = 8, iters = 2)
    val indexed = idx.assign(e, "embedding")
    val out = idx.searchMany(indexed, "embedding", "vec_id",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3, nprobe = 8,
        pred = Some(col("label") === 2))
      .select(col("probe_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy(col("probe_id"), col("rn"))
    e.unpersist()
    out
  }

  private val q123Sql =
    s"""WITH p AS (SELECT vec_id AS probe_id, ${dl("embedding")} AS pv
       |           FROM embeddings WHERE vec_id < 5),
       |s AS (SELECT p.probe_id, e.vec_id,
       |        list_cosine_similarity(${dl("e.embedding")}, p.pv) AS rsim
       |      FROM embeddings e, p WHERE e.label = 2)
       |SELECT probe_id, vec_id, round(rsim, 6) AS sim, rn FROM (
       |  SELECT probe_id, vec_id, rsim,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY rsim DESC, vec_id) AS rn
       |  FROM s) x
       |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin

  /** Recall AUTO-TUNING ([[graft.search.RecallTuner]]): the serve
    * parameter (IVF nprobe) chosen by MEASURING recall@k on held-out
    * probes against exact ground truth — the reference's static
    * HNSW-vs-IVF config choice (appsettings.json:24) made data-driven.
    * Driver-gated via the q73 bracket pattern: the query re-verifies
    * IN-QUERY that (a) the tuner's chosen nprobe meets the target while
    * every smaller measured candidate missed it (minimality), (b) the
    * measured curve prefix is monotone non-decreasing (IVF candidate
    * sets only grow), and (c) recall at full probe is exactly 1.0; any
    * violation zeroes the output. The emitted rows are the full-probe
    * batched search — provably the exact multi-probe join — so the
    * query rides the same DuckDB hash oracle as q98/q31. */
  private def q124(s: SparkSession, d: String): DataFrame = {
    import graft.search.RecallTuner
    val e = t(s, d, "embeddings").cache()
    val idx = IvfIndex.train(e, "embedding", "vec_id", numLists = 8, iters = 2)
    val indexed = idx.assign(e, "embedding").cache()
    val probes = e.filter(col("vec_id") < 5)
    val truth = VectorSearch.knnJoinWindow(
      probes, "vec_id", "embedding", e, "vec_id", "embedding", 3)
      .select(col("probe_id"), col("vec_id"))
    val tuned = RecallTuner.tuneIvfNprobe(idx, indexed, "embedding", "vec_id",
      probes, "vec_id", "embedding", k = 3, target = 0.9, truth)
    val fullRecall = RecallTuner.meanRecall(
      idx.searchMany(indexed, "embedding", "vec_id",
        probes, "vec_id", "embedding", 3, nprobe = 8), truth, 3)
    val sound = tuned.recall >= 0.9 &&
      tuned.curve.init.forall(_._2 < 0.9) &&
      tuned.curve.map(_._2).sliding(2).forall {
        case Seq(a, b) => b >= a; case _ => true } &&
      fullRecall == 1.0
    val out = idx.searchMany(indexed, "embedding", "vec_id",
        probes, "vec_id", "embedding", k = 3, nprobe = 8)
      .select(col("probe_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy(col("probe_id"), col("rn"))
    indexed.unpersist(); e.unpersist()
    if (sound) out else out.limit(0) // gate: a broken tuner yields zero rows
  }

  /** HNSW ef auto-tuning over the PERSISTED graph store — the second
    * serve-parameter family under the driver's eye (q124 gates IVF
    * nprobe): the store is built in two generations (bulk build +
    * incremental add, [[graft.search.HnswStore]]), the tuner walks an
    * ascending ef grid over the persisted segments and takes the
    * minimal beam width whose MEASURED recall@k reaches 0.9 against
    * exact ground truth. Gate: tuned recall >= target, every rejected
    * ef measured < target (minimality), tombstone-free store whose live
    * vector count equals the corpus (persistence integrity) — any
    * violation zeroes the output. Output is the exact top-k join (the
    * q124 pattern), riding the same DuckDB hash oracle. */
  private def q148(s: SparkSession, d: String): DataFrame = {
    import graft.search.{HnswStore, RecallTuner}
    val e = t(s, d, "embeddings").cache()
    val store = new HnswStore(s,
      Scratch.dir(s, "q148"))
    store.build(e.filter(col("vec_id") % 5 =!= 0), "embedding", "vec_id")
    store.add(e.filter(col("vec_id") % 5 === 0), "embedding", "vec_id")
    val graphs = store.graphs.cache()
    val probes = e.filter(col("vec_id") < 5)
    val truth = VectorSearch.knnJoinWindow(
      probes, "vec_id", "embedding", e, "vec_id", "embedding", 3)
      .select(col("probe_id"), col("vec_id"))
    val tuned = RecallTuner.tuneHnswEf(graphs, probes, "vec_id", "embedding",
      k = 3, target = 0.9, truth, candidates = Seq(4, 8, 16, 32, 64, 128))
    val sound = tuned.recall >= 0.9 &&
      tuned.curve.init.forall(_._2 < 0.9) &&
      store.tombstoneCount == 0L &&
      store.liveVectors.count() == e.count()
    val out = VectorSearch.knnJoinWindow(
        probes, "vec_id", "embedding", e, "vec_id", "embedding", 3)
      .select(col("probe_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy(col("probe_id"), col("rn"))
    graphs.unpersist(); e.unpersist()
    if (sound) out else out.limit(0) // gate: a broken tuner/store yields zero rows
  }

  /** Multi-vector (late-interaction) retrieval: a document is its SET of
    * vectors and its score is the max similarity over them (the
    * MaxSim/ColBERT reduction; same shape as best-chunk retrieval in
    * ChatEngine.vectorSearchChunked). One scan pass scores every vector
    * inside codegen, then a map-side-combined max per group — the
    * shuffle carries one row per document, not per vector. */
  private def q113(s: SparkSession, d: String): DataFrame = {
    val probe = probeVec(s, d, 0L)
    t(s, d, "embeddings")
      .withColumn("__sim", cosine_sim(col("embedding"), typedlit(probe)))
      .groupBy(col("label"))
      .agg(max(col("__sim")).as("maxsim"), count(lit(1)).as("n_vectors"))
      .select(col("label"), round(col("maxsim"), 6).as("sim"), col("n_vectors"))
      .orderBy(col("sim").desc, col("label"))
      .limit(5)
  }

  private val q113Sql =
    s"""WITH q AS (SELECT ${dl("embedding")} AS qv FROM embeddings WHERE vec_id = 0),
       |s AS (SELECT label,
       |        MAX(list_cosine_similarity(${dl("embedding")}, qv)) AS m,
       |        COUNT(*) AS n_vectors
       |      FROM embeddings, q GROUP BY label)
       |SELECT label, round(m, 6) AS sim, n_vectors
       |FROM s ORDER BY round(m, 6) DESC, label LIMIT 5""".stripMargin

  /** Retrieval evaluation (recall@10 / MRR@10) of the k-NN serve path
    * against label-match qrels — the trec_eval loop a pipeline runs
    * after every index or embedding change. Hit counts and 1/rank are
    * exact rationals, so the metrics hash-match the oracle's recount. */
  private def q114(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val probes = e.filter(col("vec_id") < 5)
    val results = VectorSearch.knnJoinWindow(
      probes, "vec_id", "embedding", e, "vec_id", "embedding", 10)
      .select(col("probe_id"), col("vec_id").as("doc_id"), col("rn"))
    val qrels = probes.select(col("vec_id").as("probe_id"), col("label"))
      .join(e.select(col("vec_id").as("doc_id"), col("label")), "label")
      .select(col("probe_id"), col("doc_id"))
    graft.operators.IrMetrics.evaluate(results, qrels, k = 10)
      .orderBy(col("probe_id"))
  }

  private val q114Sql =
    s"""WITH p AS (SELECT vec_id AS probe_id, label, ${dl("embedding")} AS pv
       |           FROM embeddings WHERE vec_id < 5),
       |r AS (SELECT p.probe_id, e.vec_id AS doc_id,
       |        ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |          ORDER BY list_cosine_similarity(${dl("e.embedding")}, p.pv) DESC,
       |            e.vec_id) AS rn
       |      FROM embeddings e, p),
       |qrels AS (SELECT p.probe_id, e.vec_id AS doc_id
       |          FROM embeddings e JOIN p ON e.label = p.label),
       |ink AS (SELECT r.probe_id, r.rn,
       |          CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
       |        FROM r LEFT JOIN qrels q
       |          ON r.probe_id = q.probe_id AND r.doc_id = q.doc_id
       |        WHERE r.rn <= 10),
       |ink2 AS (SELECT probe_id, rn, rel,
       |           SUM(rel) OVER (PARTITION BY probe_id ORDER BY rn
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumhits
       |         FROM ink),
       |pp AS (SELECT probe_id, SUM(rel) AS hits,
       |         MIN(CASE WHEN rel = 1 THEN rn END) AS frr,
       |         SUM(CASE WHEN rel = 1 THEN cumhits * (2520 // rn) ELSE 0 END) AS apnum
       |       FROM ink2 GROUP BY probe_id),
       |nr AS (SELECT probe_id, COUNT(*) AS n_rel FROM qrels GROUP BY probe_id)
       |SELECT nr.probe_id, n_rel, CAST(COALESCE(hits, 0) AS BIGINT) AS hits,
       |  round(CAST(COALESCE(hits, 0) AS DOUBLE) / n_rel, 6) AS recall_at_k,
       |  round(COALESCE(CAST(1 AS DOUBLE) / frr, 0.0), 6) AS mrr,
       |  round(CAST(COALESCE(apnum, 0) AS DOUBLE) / (2520.0 * n_rel), 6) AS ap
       |FROM nr LEFT JOIN pp USING (probe_id) ORDER BY probe_id""".stripMargin

  /** Per-label centroid outliers via [[graft.operators.Outliers]]: the
    * 5 rows per label farthest (exact scaled integer distance ‖n·x−S‖²
    * on the 2^-14 grid — ranks identically to distance-to-mean, no
    * division) from their class centroid. One corpus pass for the sum
    * vectors + one broadcast join back; the label-cleanup scan of
    * training-data curation. */
  private def q130(s: SparkSession, d: String): DataFrame =
    graft.operators.Outliers.topByCentroidDistance(
        t(s, d, "embeddings"), "label", "embedding", "vec_id", m = 5)
      .orderBy(col("label"), col("rnk"))

  private val q130Sql =
    """WITH g AS (
      |  SELECT vec_id, label,
      |    unnest(list_transform(embedding,
      |      v -> CAST(floor(CAST(v AS DOUBLE) * 16384) AS BIGINT))) AS xv,
      |    unnest(range(len(embedding))) AS dim
      |  FROM embeddings),
      |c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
      |s AS (SELECT label, dim, CAST(SUM(xv) AS BIGINT) AS sv
      |      FROM g GROUP BY label, dim),
      |d AS (
      |  SELECT g.vec_id, g.label,
      |    CAST(SUM((c.n * g.xv - s.sv) * (c.n * g.xv - s.sv)) AS BIGINT) AS d2
      |  FROM g JOIN s ON g.label = s.label AND g.dim = s.dim
      |         JOIN c ON g.label = c.label
      |  GROUP BY g.vec_id, g.label),
      |r AS (
      |  SELECT label, vec_id, d2,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id)
      |      AS INT) AS rnk
      |  FROM d)
      |SELECT label, vec_id, d2, rnk FROM r WHERE rnk <= 5
      |ORDER BY label, rnk""".stripMargin

  /** MMR-diversified retrieval via [[graft.operators.Mmr]]: top-20
    * shortlist by exact gridded-integer query similarity (codegen dot +
    * TakeOrdered k-heap — the only corpus pass), then the greedy
    * λ=1/2 marginal-relevance selection of 10, all integer arithmetic
    * so the oracle's recursive-CTE replay of the same greedy is
    * hash-exact. Bounded driver work = O(k·C) over C grid vectors,
    * the PQ-rerank cost shape. */
  private def q134(s: SparkSession, d: String): DataFrame =
    graft.operators.Mmr.diversifiedTopK(t(s, d, "embeddings"),
      "vec_id", "embedding", probeVec(s, d, 0), k = 10, shortlist = 20)

  private val q134Sql =
    """WITH RECURSIVE g AS (
      |  SELECT vec_id AS id,
      |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)*16384) AS BIGINT)) AS gv
      |  FROM embeddings),
      |q AS (SELECT gv AS qv FROM g WHERE id = 0),
      |scored AS (
      |  SELECT id, gv,
      |    CAST(list_sum(list_transform(list_zip(gv, (SELECT qv FROM q)), z -> z[1]*z[2])) AS BIGINT) AS qsim
      |  FROM g),
      |cand AS (SELECT id, gv, qsim FROM scored ORDER BY qsim DESC, id LIMIT 20),
      |pair AS (
      |  SELECT a.id AS a_id, b.id AS b_id,
      |    CAST(list_sum(list_transform(list_zip(a.gv, b.gv), z -> z[1]*z[2])) AS BIGINT) AS dot
      |  FROM cand a JOIN cand b ON a.id <> b.id),
      |sel(step, id, qsim, selected) AS (
      |  SELECT 1, id, qsim, [id] FROM (SELECT id, qsim FROM cand ORDER BY qsim DESC, id LIMIT 1)
      |  UNION ALL
      |  SELECT sel.step + 1, pick.id, pick.qsim, list_append(sel.selected, pick.id)
      |  FROM sel, LATERAL (
      |    SELECT c.id, c.qsim,
      |      c.qsim - (SELECT MAX(p.dot) FROM pair p
      |                WHERE p.a_id = c.id AND list_contains(sel.selected, p.b_id)) AS score
      |    FROM cand c
      |    WHERE NOT list_contains(sel.selected, c.id)
      |    ORDER BY score DESC, c.id
      |    LIMIT 1) pick
      |  WHERE sel.step < 10)
      |SELECT step AS rnk, id, qsim FROM sel ORDER BY rnk""".stripMargin

  /** JL random projection 64→16 via
    * [[graft.operators.RandomProjection]]: the exact integer gate face —
    * deterministic polynomial-parity sign matrix, projection = Σ ±grid
    * in one narrow codegen projection (no shuffle, no UDF). The oracle
    * replays the identical BIGINT arithmetic, so a single sign or sum
    * drift breaks the hash; the JL distance-preservation property is
    * spec-checked on the float face. */
  private def q136(s: SparkSession, d: String): DataFrame =
    graft.operators.RandomProjection.projectGrid(
        t(s, d, "embeddings"), "embedding", inDims = 64, outDims = 16)
      .select(col("vec_id"),
        array_join(transform(col("proj"), _.cast("string")), ",").as("proj"))
      .orderBy(col("vec_id"))

  private val q136Sql =
    """SELECT vec_id,
      |  array_to_string(list_transform(range(16), j ->
      |    CAST(list_sum(list_transform(list_zip(
      |      list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)*16384) AS BIGINT)),
      |      range(64)), z ->
      |      CASE WHEN (z[2]*2654435761 + j*1013904223 + z[2]*j*2246822519 + 7)
      |             % 1000000007 % 2 = 0
      |        THEN z[1] ELSE -z[1] END)) AS BIGINT)), ',') AS proj
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** k-NN label-agreement audit (label-noise detection): fraction of
    * each vector's 10 exact nearest neighbors (self excluded BEFORE
    * the k-heap) sharing its label. Exact face = the q32 bounded-heap
    * shape; the 100 TB path feeds ANN hits through
    * [[graft.operators.LabelNoise.agreementFromHits]]. On this
    * synthetic corpus agreement ≈ 1/|classes| — the audit correctly
    * reporting that the labels are noise is itself the point. */
  private def q205(s: SparkSession, d: String): DataFrame =
    graft.operators.LabelNoise.knnLabelAgreement(
        t(s, d, "embeddings"), "vec_id", "embedding", "label", k = 10)
      .select(col("id").as("vec_id"), col("label"), col("n_same"), col("agree"))
      .orderBy(col("vec_id"))

  private val q205Sql =
    s"""WITH e AS (SELECT vec_id, ${dl("embedding")} AS v, label FROM embeddings),
       |s AS (SELECT a.vec_id, a.label, b.label AS nl,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id) AS rn
       |  FROM e a JOIN e b ON a.vec_id <> b.vec_id)
       |SELECT vec_id, label,
       |  CAST(SUM(CASE WHEN nl = label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
       |  CAST(SUM(CASE WHEN nl = label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS agree
       |FROM s WHERE rn <= 10 GROUP BY vec_id, label ORDER BY vec_id""".stripMargin

  /** Embedding-space drift per label: cosine of each label's centroid
    * to the corpus centroid on the 2^20 integer grid — exact BIGINT
    * sum vectors, ordered double folds for dot/norms (fold order
    * fixed ⇒ engine-identical despite float accumulation). The
    * vector-space companion to q182/q200's scalar drift. See
    * [[graft.operators.Drift.centroidDrift]]. */
  private def q214(s: SparkSession, d: String): DataFrame =
    graft.operators.Drift.centroidDrift(
        t(s, d, "embeddings"), "label", "embedding", gridBits = 20)
      .select(col("label"), col("n"), col("cos_corpus"))
      .orderBy(col("label"))

  private val q214Sql =
    """WITH e AS (SELECT label,
      |    unnest(list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT))) AS el,
      |    unnest(range(len(embedding))) AS pos
      |  FROM embeddings),
      |pd AS (SELECT label, pos, CAST(SUM(el) AS BIGINT) AS s, COUNT(*) AS cnt
      |       FROM e GROUP BY label, pos),
      |gs AS (SELECT label, list(s ORDER BY pos) AS sums, MIN(cnt) AS n
      |       FROM pd GROUP BY label),
      |cs AS (SELECT list(cs ORDER BY pos) AS csums
      |       FROM (SELECT pos, CAST(SUM(s) AS BIGINT) AS cs FROM pd GROUP BY pos)),
      |m AS (SELECT label, n,
      |    list_reduce(list_transform(list_zip(sums, csums),
      |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (a, b) -> a + b) AS dot,
      |    list_reduce(list_transform(sums,
      |      a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)), (a, b) -> a + b) AS n1,
      |    list_reduce(list_transform(csums,
      |      a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)), (a, b) -> a + b) AS n2
      |  FROM gs CROSS JOIN cs)
      |SELECT label, CAST(n AS BIGINT) AS n,
      |  dot / (sqrt(n1) * sqrt(n2)) AS cos_corpus
      |FROM m ORDER BY label""".stripMargin

  /** Embedding covariance audit: the exact upper-triangle second-moment
    * table on the 2^20 grid — dead dims, scale skew, and anisotropic
    * pairs read off directly; the exact input a whitening step would
    * consume. Gate columns are raw BIGINT sums; covariance closes in
    * structured double arithmetic. See
    * [[graft.operators.Drift.covarianceAudit]]. */
  private def q215(s: SparkSession, d: String): DataFrame =
    graft.operators.Drift.covarianceAudit(
        t(s, d, "embeddings"), "embedding", gridBits = 20)
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n"), col("sxy"), col("sx"), col("sy"), col("cov"))
      .orderBy(col("i"), col("j"))

  private val q215Sql =
    """WITH q AS (SELECT list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qv
      |  FROM embeddings),
      |p AS (SELECT i.i AS i, j.j AS j, qv[i.i + 1] AS qi, qv[j.j + 1] AS qj
      |      FROM q, unnest(range(len(qv))) AS i(i), unnest(range(len(qv))) AS j(j)
      |      WHERE i.i <= j.j)
      |SELECT i, j, COUNT(*) AS n,
      |  CAST(SUM(qi * qj) AS BIGINT) AS sxy,
      |  CAST(SUM(qi) AS BIGINT) AS sx, CAST(SUM(qj) AS BIGINT) AS sy,
      |  (CAST(SUM(qi * qj) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)
      |   - (CAST(SUM(qi) AS BIGINT) / CAST(COUNT(*) AS DOUBLE))
      |     * (CAST(SUM(qj) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)))
      |  / (1048576.0 * 1048576.0) AS cov
      |FROM p GROUP BY i, j ORDER BY i, j""".stripMargin

  /** Matryoshka-style dimension-truncation audit (Kusupati et al.
    * 2022, arXiv:2205.13147): rank the corpus by cosine on only the
    * FIRST D dims (D = 8/16/32/64) and read recall@10 against the
    * full-dimension truth — the serve-cost/quality tradeoff table
    * behind every "store a prefix of the vector" deployment (a D-dim
    * prefix scan moves D/64ths of the bytes; the audit says what that
    * buys). Top-10 per D plus the per-D recall, all exact: sliced
    * cosine is the same sequential double fold as q30, recall is a
    * 10-row set intersection. */
  private def q406(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").cache()
    val probe = probeVec(s, d, 0L)
    val full = VectorSearch.exactTopK(e, "embedding", "vec_id", probe, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet // k rows only
    val parts = Seq(8, 16, 32, 64).map { dd =>
      val proj = e.select(col("vec_id"),
        slice(col("embedding"), 1, dd).as("emb"))
      val top = VectorSearch.exactTopK(proj, "emb", "vec_id",
        probe.take(dd), 10)
      val ids = top.select("vec_id").collect().map(_.getLong(0)) // k rows
      val recall = ids.count(full.contains) / 10.0
      top.select(lit(dd).as("dims"), col("vec_id"),
        round(col("sim"), 6).as("sim"),
        round(lit(recall), 6).as("recall_at_10"))
    }
    val out = parts.reduce(_.unionByName(_))
      .orderBy(col("dims"), col("sim").desc, col("vec_id"))
    e.unpersist()
    out
  }

  private val q406Sql =
    s"""WITH q AS (SELECT ${dl("embedding")} AS qv FROM embeddings WHERE vec_id = 0),
       |ds AS (SELECT CAST(unnest([8, 16, 32, 64]) AS INT) AS dims),
       |scored AS (
       |  SELECT ds.dims, e.vec_id,
       |    list_cosine_similarity(${dl("e.embedding")}[1:ds.dims],
       |      qv[1:ds.dims]) AS sim
       |  FROM embeddings e CROSS JOIN ds CROSS JOIN q),
       |top AS (SELECT dims, vec_id, sim,
       |    row_number() OVER (PARTITION BY dims ORDER BY sim DESC, vec_id)
       |      AS rn
       |  FROM scored),
       |t10 AS (SELECT * FROM top WHERE rn <= 10),
       |full10 AS (SELECT vec_id FROM t10 WHERE dims = 64),
       |rec AS (SELECT t.dims, CAST(COUNT(*) AS DOUBLE) / 10.0 AS r
       |  FROM t10 t JOIN full10 USING (vec_id) GROUP BY t.dims)
       |SELECT t.dims, t.vec_id, round(t.sim, 6) AS sim,
       |  round(rec.r, 6) AS recall_at_10
       |FROM t10 t JOIN rec ON rec.dims = t.dims
       |ORDER BY t.dims, round(t.sim, 6) DESC, t.vec_id""".stripMargin

  /** Semantic answer cache, full serve-or-admit cycle —
    * [[graft.rag.SemanticCache.serveAndAdmit]]: cached questions are
    * the even vec_ids, the probe batch the vec_ids divisible by 3, so
    * the gate exercises all three outcomes (exact repeats at sim 1.0,
    * paraphrase hits above the 0.38 threshold, misses that get
    * admitted and then serve themselves). The oracle replays both
    * lookup passes — including the REAL second pass against
    * cache ∪ admitted misses — relationally. */
  private def q428(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    graft.rag.SemanticCache.serveAndAdmit(
        e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        threshold = 0.38)
      .select(col("probe_id"), col("served_id"),
        round(col("sim"), 6).as("sim"), col("hit"), col("post_served_id"))
      .orderBy(col("probe_id"))
  }

  private val q428Sql =
    s"""WITH cache AS (SELECT vec_id AS cid, ${dl("embedding")} AS cv
       |              FROM embeddings WHERE vec_id % 2 = 0),
       |probes AS (SELECT vec_id AS probe_id, ${dl("embedding")} AS pv
       |           FROM embeddings WHERE vec_id % 3 = 0),
       |s1 AS (SELECT probe_id, cid, list_cosine_similarity(cv, pv) AS sim
       |       FROM probes, cache),
       |pre AS (SELECT probe_id, cid AS served_id, sim, sim >= 0.38 AS hit
       |        FROM (SELECT *, ROW_NUMBER() OVER
       |                (PARTITION BY probe_id ORDER BY sim DESC, cid) AS rn
       |              FROM s1) WHERE rn = 1),
       |adm AS (SELECT cid, cv FROM cache
       |        UNION ALL
       |        SELECT p.probe_id, p.pv FROM probes p
       |        JOIN pre ON pre.probe_id = p.probe_id AND NOT pre.hit),
       |s2 AS (SELECT probe_id, cid, list_cosine_similarity(cv, pv) AS sim
       |       FROM probes, adm),
       |post AS (SELECT probe_id, cid AS post_served_id
       |         FROM (SELECT *, ROW_NUMBER() OVER
       |                 (PARTITION BY probe_id ORDER BY sim DESC, cid) AS rn
       |               FROM s2) WHERE rn = 1)
       |SELECT pre.probe_id, pre.served_id, round(pre.sim, 6) AS sim,
       |  pre.hit, post.post_served_id
       |FROM pre JOIN post USING (probe_id) ORDER BY probe_id""".stripMargin

  override val queries: Seq[Q] = Seq(
    Q("q406_dim_truncation_recall", q406, Some(q406Sql)),
    Q("q428_semantic_cache", q428, Some(q428Sql)),
    Q("q30_knn_exact", q30, Some(q30Sql), headline = true),
    Q("q31_knn_join_window", q31, Some(knnJoinSql)),
    Q("q32_knn_join_agg", q32, Some(knnJoinSql), headline = true),
    Q("q33_knn_ivf", q33, Some(q33Sql), headline = true),
    Q("q36_knn_lsh", q36, Some(q36Sql)),
    Q("q82_knn_hnsw", q82, Some(q30Sql), headline = true),
    Q("q89_knn_quantized", q89, Some(q89Sql), headline = true),
    Q("q95_knn_pq", q95, Some(q95Sql), headline = true),
    Q("q98_knn_ivf_batch", q98, Some(knnJoinSql)),
    Q("q103_knn_ivfpq", q103, Some(q103Sql), headline = true),
    Q("q94_semantic_dedup", q94, Some(q94Sql), headline = true),
    Q("q34_vector_norms", q34, Some(q34Sql)),
    Q("q91_hard_negatives", q91, Some(q91Sql)),
    Q("q35_neardup_embedding", q35, Some(q35Sql), headline = true),
    Q("q107_embed_pool", q107, Some(q107Sql), headline = true),
    Q("q112_knn_filtered", q112, Some(q112Sql)),
    Q("q123_knn_filtered_batch", q123, Some(q123Sql)),
    Q("q124_recall_autotune", q124, Some(knnJoinSql)),
    Q("q148_hnsw_ef_tune", q148, Some(knnJoinSql)),
    Q("q113_maxsim_multivector", q113, Some(q113Sql)),
    Q("q114_ir_metrics", q114, Some(q114Sql)),
    Q("q130_embedding_outliers", q130, Some(q130Sql)),
    Q("q134_mmr_diversified", q134, Some(q134Sql)),
    Q("q136_random_projection", q136, Some(q136Sql)),
    Q("q205_label_agreement", q205, Some(q205Sql)),
    Q("q214_centroid_drift", q214, Some(q214Sql)),
    Q("q215_embedding_covariance", q215, Some(q215Sql)))
}
