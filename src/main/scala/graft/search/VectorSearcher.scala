package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strategy seam for the k-NN serve paths (the RAG retrieval in
  * [[graft.rag.ChatEngine]], the vector leg of [[HybridSearch]]) — the
  * engine analog of the reference's config-selected index kind
  * (appsettings.json:24, consumed at MongoDbService.cs:82: kinds
  * `vector-ivf` | `vector-hnsw`).
  *
  * Contract: `topK` returns the corpus row columns plus `sim` (double
  * cosine similarity), the top `k` rows ordered by (sim desc, id asc).
  * [[ExactSearcher]] scans the corpus it is handed; the ANN searchers
  * serve from their prebuilt index and honor the same output contract,
  * so callers swap strategies without touching their plans. At corpus
  * scale the serve path MUST be one of the index-backed strategies —
  * exact scan is the correctness baseline and the small-corpus default.
  */
trait VectorSearcher extends Serializable {
  def topK(corpus: DataFrame, vecCol: String, idCol: String,
           probe: Array[Float], k: Int): DataFrame

  /** FILTERED search: rows failing `pred` are excluded BEFORE ranking —
    * the metadata-predicate + top-k shape every production vector store
    * serves. The default filters the scanned corpus (exact for the
    * corpus-scanning strategies: the predicate pushes to the scan and
    * the k-heap never sees excluded rows); index-backed strategies
    * override to filter their candidate streams instead of post-
    * filtering a k-sized answer below k (recall vs the filtered exact
    * scan is spec-gated, FilteredSearchSpec). */
  def topKWhere(corpus: DataFrame, vecCol: String, idCol: String,
                probe: Array[Float], k: Int,
                pred: org.apache.spark.sql.Column): DataFrame =
    topK(corpus.filter(pred), vecCol, idCol, probe, k)
}

/** Brute-force scan — always exact, reads the whole corpus it is handed
  * once per search. [[graft.rag.ChatEngine]] hands it a read pinned in
  * the block manager while the table's segment set stays the same, so a
  * chat turn scans decoded blocks instead of re-decoding parquet. */
object ExactSearcher extends VectorSearcher {
  override def topK(corpus: DataFrame, vecCol: String, idCol: String,
                    probe: Array[Float], k: Int): DataFrame =
    VectorSearch.exactTopK(corpus, vecCol, idCol, probe, k)
}

/** Serves from a persisted [[IvfStore]]: only the `nprobe` nearest
  * centroid partitions are read (manifest pruning). The store already
  * holds the full corpus rows, so no payload join is needed; `corpus`
  * is ignored by design — the index IS the serving copy. */
final class IvfSearcher(ivf: IvfStore, nprobe: Int = 4) extends VectorSearcher {
  override def topK(corpus: DataFrame, vecCol: String, idCol: String,
                    probe: Array[Float], k: Int): DataFrame =
    ivf.search(probe, k, nprobe).drop("centroid_id")

  /** The store holds full corpus rows, so the predicate applies to the
    * nprobe-pruned candidate stream directly — partition pruning and
    * the filter compose; recall wrt the filtered exact scan is the same
    * nprobe trade as unfiltered search. */
  override def topKWhere(corpus: DataFrame, vecCol: String, idCol: String,
                         probe: Array[Float], k: Int,
                         pred: org.apache.spark.sql.Column): DataFrame =
    ivf.search(probe, k, nprobe, pred = Some(pred)).drop("centroid_id")
}

/** Brute-force scan over int8-quantized vectors: same single-pass
  * TakeOrderedAndProject shape as [[ExactSearcher]] but the codegen'd
  * byte-loop cosine reads 4× fewer vector bytes — the memory-bound
  * middle ground when the corpus outgrows the float scan and an IVF/
  * HNSW index hasn't been built (or is being rebuilt). Approximate:
  * quantization can flip borderline ranks (recall-gated at q89).
  *
  * `sim` is the quantized cosine; cosine is scale-invariant, so the
  * per-vector scales drop out of the comparison entirely. */
object QuantizedSearcher extends VectorSearcher {
  import graft.functions.VectorFunctions._
  override def topK(corpus: DataFrame, vecCol: String, idCol: String,
                    probe: Array[Float], k: Int): DataFrame = {
    val probeQ = quantizeDriverSide(probe)
    corpus
      .withColumn("__q", vec_quantize_i8(col(vecCol)).getField("q"))
      .withColumn("sim", cosine_sim_i8(col("__q"), lit(probeQ)))
      .drop("__q")
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Driver-side mirror of [[graft.functions.QuantizeI8]] for the probe
    * vector (one vector; no reason to round-trip it through a plan). */
  private[search] def quantizeDriverSide(v: Array[Float]): Array[Byte] = {
    var maxAbs = 0f; var i = 0
    while (i < v.length) { val a = math.abs(v(i)); if (a > maxAbs) maxAbs = a; i += 1 }
    val scale = maxAbs / 127f
    val q = new Array[Byte](v.length)
    if (scale > 0f) {
      i = 0
      while (i < v.length) {
        q(i) = math.max(-127, math.min(127, math.round(v(i) / scale))).toByte
        i += 1
      }
    }
    q
  }
}

/** Serves from a PQ-encoded table ([[PqIndex.encode]]) + codebook: a
  * codegen'd ADC lookup-table scan over the m-byte codes shortlists
  * candidates, then the exact rerank touches the float corpus for only
  * ≤`shortlist` point lookups. The coded table is the 100 TB resident
  * set (16× smaller at dsub=4); recall is set by `shortlist` (gated at
  * q95).
  *
  * `shortlist` left at [[PqSearcher.Auto]] resolves per call, in
  * order: an explicit `point` (a [[PqIndex.tuneShortlist]]
  * measurement, scaled to the coded count if the corpus grew), else
  * the [[ServePoint.heuristicShortlist]] corpus-size rule — never a
  * pinned constant (the r12 sf1 finding: a shortlist tuned at one
  * corpus size fails the recall gate at 10×). */
final class PqSearcher(cb: PqCodebook, encoded: DataFrame,
                       shortlist: Int = PqSearcher.Auto,
                       point: Option[ServePoint] = None)
    extends VectorSearcher {
  private lazy val codedN: Long = encoded.count()

  // recall at depth k needs headroom ABOVE k: a shortlist of ~2k keeps
  // boundary ranks unstable (ADC ties reshuffle the tail), so the
  // effective shortlist floors at 4k regardless of configuration
  private def resolve(k: Int): Int = {
    val base =
      if (shortlist != PqSearcher.Auto) shortlist
      else point.map(_.scaledTo(codedN).shortlist)
        .getOrElse(ServePoint.heuristicShortlist(codedN, k))
    math.max(base, 4 * k)
  }

  override def topK(corpus: DataFrame, vecCol: String, idCol: String,
                    probe: Array[Float], k: Int): DataFrame =
    PqIndex.searchRerank(cb, encoded, corpus, vecCol, idCol, probe, k,
      resolve(k))

  /** The coded table carries no payload columns, so the predicate is
    * resolved against the corpus and applied to the ADC scan as an id
    * semi-join BEFORE shortlisting — a shortlist crowded out by
    * non-matching ids would starve the rerank below k. AQE picks the
    * semi-join strategy by the filtered side's size. */
  override def topKWhere(corpus: DataFrame, vecCol: String, idCol: String,
                         probe: Array[Float], k: Int,
                         pred: org.apache.spark.sql.Column): DataFrame = {
    val allowed = corpus.filter(pred)
    PqIndex.searchRerank(cb,
      encoded.join(allowed.select(col(idCol)), Seq(idCol), "left_semi"),
      allowed, vecCol, idCol, probe, k, resolve(k))
  }
}

object PqSearcher {
  /** Sentinel: resolve the shortlist from measurement or corpus size. */
  val Auto: Int = -1

  /** Measure-then-serve in one step: tune the minimal shortlist on
    * this corpus ([[PqIndex.tuneShortlist]]) and return a searcher
    * carrying the measured point. */
  def tuned(cb: PqCodebook, encoded: DataFrame, corpus: DataFrame,
            vecCol: String, idCol: String, k: Int = 10,
            target: Double = 0.9): PqSearcher =
    new PqSearcher(cb, encoded, point =
      Some(PqIndex.tuneShortlist(cb, encoded, corpus, vecCol, idCol, k, target)))
}

/** Serves from a persisted [[IvfPq]] index: nprobe-pruned partition
  * read → ADC scan over m-byte codes → shortlist → exact rerank against
  * the corpus (the faiss IndexIVFPQ topology — the default shape when
  * both IO pruning and vector compression matter at once).
  *
  * Defaults are DATA-DRIVEN (the r12 sf1 finding: the previously
  * pinned `(nprobe=4, shortlist=100)` returned 0 rows through the
  * recall gate at 10× the corpus it was tuned on). Parameters left at
  * [[IvfPqSearcher.Auto]] resolve per call, in order: the operating
  * point [[IvfPq.tuneServe]] measured at build time and persisted in
  * the index sidecar (scaled to the current coded count if the table
  * grew), else the [[ServePoint.heuristicShortlist]] corpus-size rule
  * with nprobe = ¼ of the lists. Explicit arguments always win. */
final class IvfPqSearcher(idx: IvfPq, nprobe: Int = IvfPqSearcher.Auto,
                          shortlist: Int = IvfPqSearcher.Auto)
    extends VectorSearcher {
  private lazy val sp: Option[ServePoint] = idx.servePoint
  private lazy val corpusN: Long = idx.codedCount
  private lazy val numLists: Int = idx.ivf.centroids.length

  private def resolveNprobe: Int =
    if (nprobe != IvfPqSearcher.Auto) nprobe
    else sp.map(_.nprobe).getOrElse(math.max(1, numLists / 4))

  private def resolveShortlist(k: Int): Int = {
    val base =
      if (shortlist != IvfPqSearcher.Auto) shortlist
      else sp.map(_.scaledTo(corpusN).shortlist)
        .getOrElse(ServePoint.heuristicShortlist(corpusN, k))
    math.max(base, 4 * k)
  }

  override def topK(corpus: DataFrame, vecCol: String, idCol: String,
                    probe: Array[Float], k: Int): DataFrame =
    idx.search(corpus, probe, k, resolveNprobe, resolveShortlist(k))

  /** Same id-semi-join placement as [[PqSearcher]]: the predicate
    * filters the nprobe-pruned coded candidates BEFORE the ADC
    * shortlist, and the rerank runs against the filtered corpus. */
  override def topKWhere(corpus: DataFrame, vecCol: String, idCol: String,
                         probe: Array[Float], k: Int,
                         pred: org.apache.spark.sql.Column): DataFrame = {
    val allowed = corpus.filter(pred)
    idx.search(allowed, probe, k, resolveNprobe, resolveShortlist(k),
      allowedIds = Some(allowed.select(col(idCol))))
  }
}

object IvfPqSearcher {
  /** Sentinel: resolve from the index's persisted measured operating
    * point, falling back to the corpus-size heuristic. */
  val Auto: Int = -1
}

/** Serves from prebuilt [[HnswIndex]] segment graphs. The graphs store
  * only (id, vector); payload columns come from a broadcast join of the
  * k hits back into the corpus. Ids must be castable to long (the same
  * requirement [[HnswIndex.build]] imposes).
  *
  * `ef` left at [[HnswSearcher.Auto]] resolves from `point` (an
  * [[HnswIndex.tuneServe]] measurement — construct via
  * [[HnswSearcher.fromPath]] to read the persisted sidecar), else the
  * reference default 64 — the IvfPq/Pq searcher discipline applied to
  * HNSW's one serve knob. Explicit ef always wins. */
final class HnswSearcher(graphs: DataFrame, ef: Int = HnswSearcher.Auto,
                         point: Option[ServePoint] = None)
    extends VectorSearcher {
  // served corpus size = Σ per-segment node counts (one cheap aggregate
  // over the numSegments-row graph table; touched only on the tuned
  // auto path)
  private lazy val servedN: Long =
    graphs.agg(coalesce(sum(size(col("ids"))), lit(0L)).cast("long"))
      .head().getLong(0)
  // ef rides the ServePoint shortlist field and gets the same linear
  // scaledTo extrapolation as the PQ shortlists: a point tuned at
  // build-time corpusN must never serve a GROWN graph with the stale
  // ef (tuneServe's "never shrinks" promise — conservative for HNSW,
  // whose ef requirement grows sub-linearly)
  private def resolvedEf: Int =
    if (ef != HnswSearcher.Auto) ef
    else point.map(p => math.max(1, p.scaledTo(math.max(servedN, 1L)).shortlist))
      .getOrElse(64)

  override def topK(corpus: DataFrame, vecCol: String, idCol: String,
                    probe: Array[Float], k: Int): DataFrame = {
    val hits = HnswIndex.search(graphs, probe, k, resolvedEf)
      .withColumnRenamed("vec_id", "__hnsw_id")
    corpus
      .join(broadcast(hits), col(idCol).cast("long") === col("__hnsw_id"))
      .drop("__hnsw_id")
      .orderBy(col("sim").desc, col(idCol))
  }

  /** The graph walk cannot see the predicate mid-traversal (standard
    * HNSW limitation), so the filtered form over-fetches and keeps the
    * predicate's survivors — ADAPTIVELY: start at 4k candidates and
    * quadruple until k survive or the graph is exhausted (the walk
    * returned fewer hits than asked). A fixed over-fetch silently
    * under-recalls on selective predicates; the widening loop makes
    * cost track selectivity instead (each round is one more graph walk
    * + one broadcast join). A predicate selective enough to loop many
    * times wants the IVF or exact path — the seam makes that a
    * one-line swap. */
  override def topKWhere(corpus: DataFrame, vecCol: String, idCol: String,
                         probe: Array[Float], k: Int,
                         pred: org.apache.spark.sql.Column): DataFrame = {
    val filtered = corpus.filter(pred)
    // widening is bounded: 16M candidates is far past any sane broadcast
    // join, and the cap also keeps fetch from overflowing Int on a graph
    // big enough to keep answering `fetch` hits every round
    val maxFetch = 1 << 24
    var fetch = math.min(4 * k, maxFetch)
    while (true) {
      // tracked checkpoint of the walk result: each round counts it AND
      // joins it, and the returned frame is re-evaluated by the caller —
      // without truncation the graph walk would run 3× per round. A
      // round that widens RELEASES its blocks before the next walk
      // (only the returned round's hits stay pinned, for the caller;
      // the harness sweep frees those — see graft.operators.Pinned)
      val hitsP = graft.operators.Pinned.checkpoint(
        HnswIndex.search(graphs, probe, fetch, math.max(resolvedEf, 2 * fetch))
          .withColumnRenamed("vec_id", "__hnsw_id"))
      val hits = hitsP.df
      val walked = hits.count()
      val joined = filtered
        .join(broadcast(hits), col(idCol).cast("long") === col("__hnsw_id"))
        .drop("__hnsw_id")
        .orderBy(col("sim").desc, col(idCol))
        .limit(k)
      if (joined.count() >= k || walked < fetch || fetch >= maxFetch) return joined
      hitsP.release()
      fetch = math.min(fetch * 4, maxFetch)
    }
    sys.error("unreachable")
  }
}

object HnswSearcher {
  /** Sentinel: resolve ef from the index's persisted measured
    * operating point, falling back to the reference default 64. */
  val Auto: Int = -1

  /** Construct from a persisted [[HnswIndex]] path, reading the
    * [[HnswIndex.tuneServe]] sidecar when present — the parameterless
    * serve path. */
  def fromPath(spark: org.apache.spark.sql.SparkSession,
               path: String): HnswSearcher =
    new HnswSearcher(HnswIndex.read(spark, path),
      point = HnswIndex.readServePoint(spark, path))
}
