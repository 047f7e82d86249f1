package graft.search

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.store.DocumentStore

/** HNSW index with incremental maintenance — the reference's point
  * add/remove path (AddRemoveData.cs:64-105 "searchable in near
  * real-time"; upsert MongoDbService.cs:241-269, delete :271-293) for
  * the segmented graph index, done the way every segment-architecture
  * ANN system does it (Lucene HNSW, Milvus growing/sealed segments).
  *
  * The index is ONE [[DocumentStore]] table under `path`, partitioned by
  * row kind: `seg` rows are frozen segment graphs, `tomb` rows are id
  * tombstone batches, both [[HnswStore.Entry]] rows stamped with a
  * generation `gen`. Every mutation reads one committed version `v` and
  * commits over it, so the generation it writes is the version its
  * commit claims, `v + 1`, and its tombstones are stamped `v`. Racing
  * mutations meet at the store's claim: one lands, the other throws
  * ConcurrentModificationException with nothing applied.
  *
  *  - '''add''': one append carrying the batch's new segment graph(s)
  *    and the tombstones of the ids it replaces (found by a distributed
  *    semi-join on the segments' id columns) — searchable as soon as the
  *    commit lands; a failure before it leaves the index as it was.
  *  - '''remove''': one append of a tombstone row. A tombstone kills
  *    rows in segments of generation ≤ its stamp — re-adding the id later
  *    (higher generation) resurrects it without touching the tombstone,
  *    exactly the Lucene liveDocs rule.
  *  - '''serve''': segments and tombstones come from one committed
  *    version; the tombstone read touches only `tomb` files. Each segment
  *    over-fetches by its own dead count (a skewed delete pattern widens
  *    the beam only where the dead live). No graph is ever edited in
  *    place: in-place HNSW deletion breaks the navigability invariants
  *    the insert heuristic maintains.
  *  - '''rebuild thresholds''': the live (id, vector) rows of one version
  *    (latest generation per id, tombstone rule applied) are rebuilt into
  *    the configured segment count and committed as one `create` over
  *    that version, which drops every tombstone; readers keep the old
  *    version until the `_CURRENT` swap. It fires when EITHER trigger
  *    does: tombstones exceed `maxTombstoneFrac` of live rows
  *    (delete-heavy churn), or the segment count exceeds `maxSegments`
  *    (insert-only churn: every add appends segments and serve cost is
  *    linear in their count — the Lucene merge-policy trigger). Both
  *    bounds amortize one rebuild over many cheap incremental writes.
  *
  * Storage: as in every store table, the versions a mutation replaces —
  * a rebuild's old segments too — stay on disk until
  * [[DocumentStore.vacuum]] reclaims them. Nothing here vacuums, because
  * vacuum deletes the unclaimed attempt directories of any mutation in
  * flight.
  */
final class HnswStore(spark: SparkSession, path: String,
                      params: HnswIndex.Params = HnswIndex.Params(),
                      maxTombstoneFrac: Double = 0.2,
                      maxSegments: Int = 64) {
  import spark.implicits._
  import HnswStore._

  private val store = new DocumentStore(spark, path)

  /** Bulk build (replaces any existing state). */
  def build(corpus: DataFrame, vecCol: String, idCol: String): Unit =
    replace(corpus, vecCol, idCol, store.version(Table))

  /** Incremental add/replace: the batch is its own graph — one segment
    * per ~4k rows up to the configured count, so a small delta builds
    * one small graph and a bulk backfill still parallelizes. */
  def add(df: DataFrame, vecCol: String, idCol: String): Unit = {
    val v = store.version(Table)
    if (v == 0) { replace(df, vecCol, idCol, v); return }
    // bounded by the BATCH size
    val stale = rows(Seg, v).flatMap(_.ids.iterator).toDF("id")
      .join(df.select(col(idCol).cast("long").as("id")), "id")
      .distinct().as[Long].collect()
    val batchSegs = math.max(1L, math.min(params.numSegments.toLong,
      df.count() / 4096 + 1)).toInt
    val segments = HnswIndex.build(df, vecCol, idCol, params.copy(numSegments = batchSegs))
    val tombs = if (stale.isEmpty) Nil else Seq(tombstone(stale, v))
    store.append(Table, stamped(segments, v + 1).unionByName(tombs.toDF()), v)
    maybeRebuild()
  }

  /** Point/bulk remove; removing from a never-built index is a no-op. */
  def remove(ids: Seq[Long]): Unit = {
    val v = store.version(Table)
    if (v == 0) return
    store.append(Table, Seq(tombstone(ids.toArray, v)).toDF(), v)
    maybeRebuild()
  }

  /** ANN top-k over live rows: per-segment beam over-fetches by that
    * segment's own dead count, the generation rule drops dead rows,
    * TakeOrderedAndProject merges segments×k short rows. */
  def search(probe: Array[Float], k: Int, ef: Int = 64): DataFrame = {
    val q = HnswGraph.normalized(probe)
    val v = store.version(Table)
    val bc = spark.sparkContext.broadcast(tombstones(v))
    rows(Seg, v).flatMap { row =>
      val dead = bc.value
      val kFetch = k + row.ids.count(id => dead.get(id).exists(_ >= row.gen))
      HnswGraph(row.graph).search(q, kFetch, math.max(ef, kFetch)).iterator
        .filter { case (id, _) => dead.get(id).forall(_ < row.gen) }
        .take(k)
    }.toDF("vec_id", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Live (id, normalized vector) rows — latest generation per id,
    * tombstone rule applied. Also the rebuild extraction path. (Vectors
    * were L2-normalized at segment build; renormalizing on rebuild is
    * idempotent, and cosine results are unaffected.) */
  def liveVectors: DataFrame = liveVectors(store.version(Table))

  def tombstoneCount: Long = tombstones(store.version(Table)).size.toLong

  def segmentCount: Long = rows(Seg, store.version(Table)).count()

  /** The persisted segment graphs as a batched-search input
    * ([[HnswIndex.searchMany]]/`searchManyWhere` decode it per task).
    * Raw segments — tombstones are NOT applied here; on a store with
    * live tombstones, filter results against [[liveVectors]] (or
    * search per-probe via [[search]], which applies them). */
  def graphs: DataFrame = rows(Seg, store.version(Table)).toDF().drop("kind")

  /** `kind`'s rows of version `v` (none before the first build). */
  private def rows(kind: String, v: Int): Dataset[Entry] = {
    val df = store.readPartitions(Table, Seq(kind), v)
    if (df.columns.isEmpty) spark.emptyDataset[Entry] else df.as[Entry]
  }

  /** Id → its newest tombstone stamp, as of version `v`. */
  private def tombstones(v: Int): Map[Long, Long] =
    rows(Tomb, v).collect().flatMap(t => t.ids.map(_ -> t.gen))
      .groupBy(_._1).map { case (id, stamps) => id -> stamps.map(_._2).max }

  private def liveVectors(v: Int): DataFrame = {
    val bc = spark.sparkContext.broadcast(tombstones(v))
    rows(Seg, v).flatMap { row =>
      val dead = bc.value
      row.ids.iterator.zipWithIndex.collect {
        case (id, i) if dead.get(id).forall(_ < row.gen) =>
          (id, row.vecs.slice(i * row.dims, (i + 1) * row.dims), row.gen)
      }
    }.toDF("vec_id", "vec", "gen")
      // an id updated across generations: newest copy wins
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("gen").desc)))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("vec"))
  }

  /** Replace the whole table, over version `v`, by `corpus`'s graphs. */
  private def replace(corpus: DataFrame, vecCol: String, idCol: String, v: Int): Unit =
    store.create(Table, stamped(HnswIndex.build(corpus, vecCol, idCol, params), v + 1),
      Some("kind"), Nil, v)

  private def maybeRebuild(): Unit = {
    val v = store.version(Table)
    val dead = tombstones(v).size.toDouble
    lazy val live = liveVectors(v).count()
    val tooDead = dead > 0 && live > 0 && dead / live > maxTombstoneFrac
    // a lost claim means a newer commit landed; that mutation checks the
    // triggers again on its own version
    if (tooDead || rows(Seg, v).count() > maxSegments)
      try replace(liveVectors(v), "vec", "vec_id", v)
      catch { case _: java.util.ConcurrentModificationException => }
  }
}

object HnswStore {
  private val Table = "index"
  private val Seg = "seg"
  private val Tomb = "tomb"

  /** One row of the index table: a frozen [[HnswIndex.SegmentGraph]]
    * (`kind` = `seg`) or a batch of tombstoned `ids` (`kind` = `tomb`,
    * graph fields empty), with its generation stamp. Top-level so the
    * encoder needs no outer instance. */
  private[search] case class Entry(
      kind: String, gen: Long, segment: Int, dims: Int, entry: Int, max_level: Int,
      ids: Array[Long], vecs: Array[Float], levels: Array[Int],
      node_slot: Array[Int], nbr_off: Array[Int], nbrs: Array[Int]) {
    def graph: HnswIndex.SegmentGraph = HnswIndex.SegmentGraph(
      segment, dims, entry, max_level, ids, vecs, levels, node_slot, nbr_off, nbrs)
  }

  private def tombstone(ids: Array[Long], stamp: Int): Entry =
    Entry(Tomb, stamp, 0, 0, 0, 0, ids, Array.empty, Array.empty,
      Array.empty, Array.empty, Array.empty)

  /** Segment graphs as `seg` rows of generation `gen`. */
  private def stamped(graphs: DataFrame, gen: Long): DataFrame =
    graphs.select(lit(Seg).as("kind"), lit(gen).as("gen"), col("*"))
}
