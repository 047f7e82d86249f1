package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.operators.Splits
import graft.store.DocumentStore

/** Persisted inverted index: the keyword-retrieval counterpart of the
  * vector stores (IvfStore/HnswStore) — build once over the corpus,
  * serve term queries reading only the term's partitions, and maintain
  * the index incrementally from the store's change feed.
  *
  * The reference delegates keyword search entirely to Cosmos `$search`
  * (MongoDbService.cs:194-227) and keeps its index "searchable in near
  * real-time" through point add/remove (AddRemoveData.cs:64-105); the
  * engine owns both halves. The index lives in the versioned COW
  * [[DocumentStore]] as three tables:
  *
  *   postings  (bucket, term, doc_id, tf, len)  partitioned by term bucket
  *   docmap    (dbucket, doc_id, len, buckets)  partitioned by doc bucket
  *   meta      (buckets, n_docs, n_tokened, total_len, tok)  one row
  *
  * A query for k terms prunes the postings scan to ≤ k buckets of ~1/B of
  * the index (manifest-level pruning — unqueried buckets are never even
  * listed). `docmap` is the forward map that makes REMOVAL scale: it
  * records which term buckets each document's postings live in, so
  * deleting a document rewrites exactly those buckets instead of scanning
  * the index (the same "victims from listings only" discipline as the
  * store's compaction). Document length `len` is denormalized into each
  * posting row — +8 bytes per posting buys BM25 serving with ZERO joins
  * beyond the tiny per-term df aggregate.
  *
  * Incremental maintenance (the IvfStore.add/remove pattern — COW: only
  * touched partitions are rewritten, one atomic manifest swap each):
  *  - [[add]] upserts documents (insert or replace): old postings of
  *    re-added docs are dropped from exactly their old buckets (via
  *    docmap), fresh postings land in their new buckets;
  *  - [[remove]] deletes documents from exactly the buckets docmap names.
  * Corpus stats (n_docs / n_tokened / total_len) are maintained by exact
  * integer delta — never a rescan — so df/idf NEVER serve stale: document
  * frequency is computed live from the posting lists the query already
  * reads (one extra aggregate over in-flight data), and the corpus-size
  * terms come from the transactionally-maintained meta row. There is no
  * refresh threshold to tune because nothing drifts. Mutations are
  * single-writer (the store's CAS makes racing writers fail loudly, not
  * corrupt); one logical mutation is 3-4 store commits, so a crash
  * between them leaves a visibly half-synced index — re-run the sync (all
  * operations are idempotent re-applications of the same delta).
  *
  * Scoring:
  *  - [[search]] — conjunctive exact-integer TF·IDF: idf weight =
  *    bits(N) − bits(df) (floor-log2 via binary-string length — the q90
  *    rarity idiom), score = Σ tf·w, bit-reproducible and SQL-replayable;
  *    a hit must contain every query term.
  *  - [[searchBm25]] — disjunctive BM25 over the same pruned postings,
  *    bit-identical to the cold-path [[graft.operators.KeywordRank]]
  *    scores: identical expression tree (same IEEE evaluation order) and
  *    the same exact DECIMAL(28,12) per-document accumulation. Exactness
  *    condition: avg_len here is total_len/n_tokened in double arithmetic,
  *    equal to the cold path's avg() while total_len < 2^53 (9e15 tokens —
  *    three orders of magnitude past a 100 TB corpus).
  */
object InvertedIndex {

  /** Tokenizer modes — persisted in meta so maintenance can never
    * tokenize differently than the build did. */
  val TokWhitespace = "ws"
  /** Lowercased alphanumeric runs — exactly
    * [[graft.operators.KeywordRank.tokens]], for BM25 bit-parity. */
  val TokAlnum = "alnum"

  private def termsExpr(tok: String, textCol: Column): Column = tok match {
    case TokWhitespace => filter(split(textCol, " "), t => t =!= "")
    case TokAlnum => regexp_extract_all(lower(textCol), lit("[a-z0-9]+"), lit(0))
    case other => throw new IllegalArgumentException(s"unknown tokenizer '$other'")
  }

  private[search] final case class Meta(buckets: Int, nDocs: Long, nTokened: Long,
                                totalLen: Long, tok: String)

  /** Version-keyed meta memo: the 1-row meta table is re-read on every
    * search/maintenance call and each read is a full Spark query
    * (~150-300 ms of plan+job+task for one row). The committed version
    * is a cheap `_CURRENT` file read; any mutation bumps it, so a memo
    * keyed by (table path, version) can never serve stale — the same
    * contract as a table format's manifest cache.
    *
    * Bounded + race-hardened: [[remember]] evicts the same path's
    * OLDER versions (a long-lived process touching many temp indexes
    * holds one live entry per path, never one per mutation epoch), a
    * global cap clears the map outright if distinct paths somehow
    * exceed it, and an entry is only memoized when the version re-reads
    * UNCHANGED after the data read — a commit racing between the
    * version probe and the read can therefore never cache new meta
    * under the old version key (the racy read is served unmemoized
    * instead). */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Meta]()
  private val MetaCacheMaxEntries = 512
  /** Spec seam: the memo must stay bounded in a long-lived process. */
  private[graft] def metaCacheSize: Int = metaCache.size

  private[search] def memoized(path: String, v: Int): Option[Meta] =
    Option(metaCache.get((path, v)))

  /** Memoize `meta` as `path`'s version `v` and sweep only the path's
    * OLDER epochs: a slow reader landing its stale put after a newer
    * epoch's must never evict that newer entry. */
  private[search] def remember(path: String, v: Int, meta: Meta): Unit = {
    if (metaCache.size >= MetaCacheMaxEntries) metaCache.clear()
    metaCache.put((path, v), meta)
    metaCache.keySet.removeIf(k => k._1 == path && k._2 < v)
  }

  private def readMeta(store: DocumentStore): Meta = {
    val path = store.tablePath("meta")
    var attempts = 0
    while (attempts < 5) {
      val v0 = store.version("meta")
      val hit = memoized(path, v0)
      if (hit.isDefined) return hit.get
      val r = store.read("meta").head()
      val m = Meta(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      if (store.version("meta") == v0) { remember(path, v0, m); return m }
      attempts += 1 // version moved mid-read: retry against the new epoch
    }
    // writers racing faster than we can read: serve the latest, unmemoized
    val r = store.read("meta").head()
    Meta(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
  }

  private def writeMeta(store: DocumentStore, m: Meta): Unit = {
    val spark = store.spark
    import spark.implicits._
    val path = store.tablePath("meta")
    val v0 = store.version("meta")
    store.create("meta", Seq((m.buckets, m.nDocs, m.nTokened, m.totalLen, m.tok))
      .toDF("buckets", "n_docs", "n_tokened", "total_len", "tok").coalesce(1))
    // Memoize what we just committed (r20): the writer KNOWS the new
    // meta, so the next maintenance/search call's readMeta becomes a
    // pure hit instead of a ~200 ms Spark read job per mutation epoch.
    // Guarded by the version delta: if any concurrent commit slipped
    // around ours (nothing does under the single-writer contract, but
    // the CAS makes it possible to observe), the delta isn't exactly +1
    // and we memoize nothing — readMeta then re-reads from disk.
    val v1 = store.version("meta")
    if (v1 == v0 + 1) remember(path, v1, m)
  }

  /** Term → bucket routing, computed by the ENGINE'S OWN column
    * expressions on a local DataFrame — the build side and the serve side
    * share one implementation, so routing can never silently drift from
    * the layout (a hand-maintained driver replica of the hash would
    * return empty results, not an error, the day either copy changed;
    * UTF-16 vs code-point iteration already made non-BMP terms diverge
    * once). Cost: one LocalTableScan job over ≤ |terms| rows. */
  def termBuckets(spark: SparkSession, terms: Seq[String], buckets: Int): Map[String, Int] = {
    import spark.implicits._
    terms.distinct.toDF("term")
      .withColumn("bucket", Splits.hashBucket(Splits.stringKey(col("term")), buckets))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
  }

  /** Doc id → docmap bucket, same one-implementation rule as
    * [[termBuckets]]. */
  private def docBuckets(spark: SparkSession, ids: Seq[Long], buckets: Int): Map[Long, Int] = {
    import spark.implicits._
    ids.distinct.toDF("doc_id")
      .withColumn("dbucket", Splits.hashBucket(col("doc_id"), buckets))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  /** (bucket, term, doc_id, tf, len) for a batch of documents — the
    * wordcount shuffle plus one doc-keyed window for the length. */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String,
                         tok: String, buckets: Int): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(termsExpr(tok, col(textCol))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", Splits.hashBucket(Splits.stringKey(col("term")), buckets))
      .withColumn("len", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .select(col("bucket"), col("term"), col("doc_id"), col("tf"), col("len"))

  /** (dbucket, doc_id, len, buckets) for a batch — includes token-less
    * documents (len 0, empty bucket list) so corpus counts stay exact. */
  private def docmapOf(docs: DataFrame, idCol: String, post: DataFrame,
                       buckets: Int): DataFrame = {
    val perDoc = post.groupBy(col("doc_id"))
      .agg(first(col("len")).as("len"),
        sort_array(collect_set(col("bucket"))).as("buckets"))
    docs.select(col(idCol).cast("long").as("doc_id")).distinct()
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        Splits.hashBucket(col("doc_id"), buckets).as("dbucket"),
        col("doc_id"),
        coalesce(col("len"), lit(0L)).as("len"),
        coalesce(col("buckets"), array().cast("array<int>")).as("buckets"))
  }

  /** Default bucket count for a corpus of `nDocs` documents: one bucket
    * per `spark.graft.index.docsPerBucket` (default 1024) documents,
    * clamped to [8, 4096]. A FIXED count is wrong at both ends of the
    * scale axis (r19, guide §2.2/§6): every COW maintenance commit pays
    * ~a file write + listing + rename PER TOUCHED BUCKET DIR, so 64
    * buckets on a 5k-doc corpus is pure fixed cost (measured: the q172
    * trigger's postings rewrite spent ~1.8 s mostly on 64-dir fan-out),
    * while 64 buckets on a 100 TB corpus would mean multi-TB partitions.
    * The count is persisted in meta at build time; routing and
    * maintenance read it from there, so an index stays self-consistent
    * whatever rule built it. Callers whose gated OUTPUT includes bucket
    * ids (q159_build's oracle replays `% 64`) pin `buckets` explicitly. */
  def adaptiveBuckets(spark: SparkSession, nDocs: Long): Int = {
    // validated loudly (r19 advisor): an unparsable or non-positive
    // value must fail at build time with the knob's name, not surface
    // as a NumberFormatException/ArithmeticException mid-job
    val per = spark.conf.getOption("spark.graft.index.docsPerBucket")
      .map(_.trim) match {
      case None => 1024L
      case Some(s) =>
        val v = try s.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.index.docsPerBucket must be a positive integer, got '$s'")
        }
        require(v >= 1,
          s"spark.graft.index.docsPerBucket must be >= 1, got $v")
        v
    }
    math.max(8L, math.min(4096L, (nDocs + per - 1) / per)).toInt
  }

  /** Full build under `dir`. `repartition(bucket)` before the partitioned
    * write keeps each bucket one coherent file run instead of every write
    * task spraying a sliver into every bucket directory (tasks × buckets
    * small files — the classic partitionBy mistake at scale).
    * `buckets = 0` (the default) sizes the bucket count to the corpus
    * via [[adaptiveBuckets]]. */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
            buckets: Int = 0, tok: String = TokWhitespace): Unit = {
    val spark = docs.sparkSession
    val store = new DocumentStore(spark, dir)
    val nAll = docs.count()
    val b = if (buckets > 0) buckets else adaptiveBuckets(spark, nAll)
    val post = postingsOf(docs, idCol, textCol, tok, b).persist()
    val dmap = docmapOf(docs, idCol, post, b).persist()
    val st = dmap.agg(
      count(when(col("len") > 0, 1)).as("n_tokened"),
      coalesce(sum(col("len")), lit(0L)).as("total_len")).head()
    // sortBy: term-clustered posting files let parquet row-group min/max
    // stats prune the serve-side term filter WITHIN each bucket (the
    // manifest prunes buckets; this prunes inside them). Incrementally
    // rewritten buckets lose the clustering until rebuilt/compacted —
    // pruning degrades gracefully, correctness never depends on it.
    // EXPLICIT partition count (r19): an un-numbered repartition(col) is
    // AQE-coalescible down to one task, serializing the whole partitioned
    // write; `buckets` hash partitions keep ~one write task per bucket
    store.create("postings", post.repartition(b, col("bucket")),
      partitionCol = Some("bucket"), sortBy = Seq("term"))
    store.create("docmap", dmap.repartition(b, col("dbucket")),
      partitionCol = Some("dbucket"), sortBy = Seq("doc_id"))
    writeMeta(store, Meta(b, nAll, st.getLong(0), st.getLong(1), tok))
    post.unpersist(blocking = false)
    dmap.unpersist(blocking = false)
  }

  /** The committed bucket count of an existing index. Parity gates that
    * rebuild from scratch and compare table-for-table MUST pin the
    * rebuild to the reference index's layout: with adaptive bucket
    * sizing, a mutated corpus near a sizing boundary would otherwise
    * rebuild into a different bucket count and fail parity for layout,
    * not content. */
  def layoutBuckets(spark: SparkSession, dir: String): Int =
    readMeta(new DocumentStore(spark, dir)).buckets

  /** Docmap rows for a set of ids: manifest-pruned to the ids' dbuckets,
    * delta-bounded collect (one short row per existing victim). */
  private def victimRows(store: DocumentStore, ids: Seq[Long],
                         meta: Meta): Array[(Long, Long, Seq[Int])] = {
    if (ids.isEmpty) return Array.empty
    val dbs = docBuckets(store.spark, ids, meta.buckets).values.toSeq.distinct
    val dm = store.readPartitions("docmap", dbs.map(_.toString))
    if (dm.columns.isEmpty) Array.empty
    else dm.filter(col("doc_id").isin(ids.map(java.lang.Long.valueOf): _*))
      .select(col("doc_id"), col("len"), col("buckets"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2)))
  }

  /** Incremental add/replace of documents (insert-or-update — the change
    * feed's `insert`/`update` rows go here verbatim). Old postings of
    * re-added documents are dropped from exactly their old term buckets
    * (located via docmap, never a scan); fresh postings are upserted into
    * their new buckets. Corpus stats move by exact integer delta. */
  def add(spark: SparkSession, dir: String, docs: DataFrame,
          idCol: String, textCol: String): Unit = {
    val store = new DocumentStore(spark, dir)
    val meta = readMeta(store)
    val batch = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text")).dropDuplicates("doc_id").persist()
    try {
      val ids = batch.select("doc_id").collect().map(_.getLong(0)).toSeq
      if (ids.isEmpty) return
      val victims = victimRows(store, ids, meta)
      val oldBuckets = victims.flatMap(_._3).distinct
      // fresh postings + docmap rows for the batch. With NO victims
      // (pure insert — the streaming sink's commonest trigger) every row
      // is new by construction, so both tables APPEND segments instead
      // of rewriting every bucket the batch's terms hash into: a 20-doc
      // insert costs O(batch), not O(index) (the q172 profile's 7 s
      // fixed cost). Re-adds replace in ONE commit (upsertDropping):
      // new rows land and the victims' old postings leave their old
      // buckets — located via docmap, never a scan — without the
      // delete-then-upsert double rewrite of the touched buckets.
      val post = postingsOf(batch, "doc_id", "__text", meta.tok, meta.buckets).persist()
      val dmap = docmapOf(batch, "doc_id", post, meta.buckets).persist()
      if (victims.isEmpty) {
        store.append("postings", post)
        store.append("docmap", dmap)
      } else {
        import spark.implicits._
        val victimIdsDf = victims.map(_._1).toSeq.toDF("doc_id")
        store.upsertDropping("postings", post,
          keys = Seq("bucket", "term", "doc_id"),
          dropKeysDf = victimIdsDf, dropKeys = Seq("doc_id"),
          dropParts = Some(oldBuckets.map(_.toString)))
        store.upsert("docmap", dmap, keys = Seq("dbucket", "doc_id"))
      }
      // 3. exact stat delta: batch contribution minus victim contribution.
      // Aggregated over the CACHED dmap the docmap write just
      // materialized (r20) — count(len>0)/sum(len) there equal the old
      // per-post-group count/first(len) sums exactly (len = Σtf > 0 iff
      // the doc has postings), without re-running the posting aggregate.
      val st = dmap.agg(count(when(col("len") > 0, 1)).as("nt"),
        coalesce(sum(col("len")), lit(0L)).as("tl")).head()
      post.unpersist(blocking = false)
      dmap.unpersist(blocking = false)
      writeMeta(store, meta.copy(
        nDocs = meta.nDocs + ids.size - victims.length,
        nTokened = meta.nTokened + st.getLong(0) - victims.count(_._2 > 0),
        totalLen = meta.totalLen + st.getLong(1) - victims.map(_._2).sum))
    } finally batch.unpersist(blocking = false)
  }

  /** Incremental removal by id: docmap names exactly the term buckets
    * holding the victims' postings — only those (plus the victims' docmap
    * buckets) are rewritten. Unknown ids are a no-op. */
  def remove(spark: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    if (ids.isEmpty) return
    val store = new DocumentStore(spark, dir)
    val meta = readMeta(store)
    val victims = victimRows(store, ids, meta)
    if (victims.isEmpty) return
    val victimIds = victims.map(v => java.lang.Long.valueOf(v._1)).toSeq
    val oldBuckets = victims.flatMap(_._3).distinct
    if (oldBuckets.nonEmpty)
      store.delete("postings", col("doc_id").isin(victimIds: _*),
        touchedParts = Some(oldBuckets.map(_.toString)))
    val dbs = docBuckets(spark, victims.map(_._1).toSeq, meta.buckets)
      .values.toSeq.distinct
    store.delete("docmap", col("doc_id").isin(victimIds: _*),
      touchedParts = Some(dbs.map(_.toString)))
    writeMeta(store, meta.copy(
      nDocs = meta.nDocs - victims.length,
      nTokened = meta.nTokened - victims.count(_._2 > 0),
      totalLen = meta.totalLen - victims.map(_._2).sum))
  }

  /** One-commit-per-table application of a MIXED change batch (deletes +
    * inserts/updates) — the per-trigger shape of the streaming sink.
    * remove-then-add pays two full COW cycles over the same term buckets
    * (a realistic batch's terms touch most buckets, so each cycle reads
    * and rewrites most of the postings table); this applies the whole
    * batch in ONE postings commit and ONE docmap commit: all victims'
    * old rows (deleted docs AND re-added docs, located via docmap) leave
    * while the batch's new postings land ([[DocumentStore.upsertDropping]]),
    * and corpus stats move by one exact integer delta. A pure-insert
    * batch (no victims) APPENDS — O(batch) at any index size.
    * Contract: `dels` and `ups` ids are DISJOINT (the sink's
    * last-change-per-key dedup guarantees it; a delete+reinsert batch
    * lands as the reinsert). */
  def applyChanges(spark: SparkSession, dir: String, dels: Seq[Long],
                   ups: DataFrame, idCol: String, textCol: String): Unit =
    applyChangesImpl(spark, dir, dels, ups, idCol, textCol, knownUpIds = None)

  /** [[applyChanges]] with the upsert ids already known to the caller
    * (the streaming sink collects them once from its deduped batch) —
    * skips the per-trigger dropDuplicates shuffle and id re-collect.
    * Caller contract: `ups` is unique per id and `knownUpIds` is exactly
    * its id set. */
  private[graft] def applyChangesImpl(spark: SparkSession, dir: String,
                   dels: Seq[Long], ups: DataFrame, idCol: String,
                   textCol: String, knownUpIds: Option[Seq[Long]]): Unit = {
    import graft.tools.Timing
    val store = new DocumentStore(spark, dir)
    val meta = Timing("readMeta")(readMeta(store))
    val batch0 = ups.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text"))
    val batch = (if (knownUpIds.isEmpty) batch0.dropDuplicates("doc_id")
                 else batch0).persist()
    try {
      val upIds = knownUpIds.getOrElse(Timing("collect-upIds")(
        batch.select("doc_id").collect().map(_.getLong(0)).toSeq))
      val delIds = dels.distinct.filterNot(upIds.toSet)
      if (upIds.isEmpty && delIds.isEmpty) return
      val victims = Timing("victimRows")(victimRows(store, delIds ++ upIds, meta))
      val oldBuckets = victims.flatMap(_._3).distinct
      val post = postingsOf(batch, "doc_id", "__text", meta.tok,
        meta.buckets).persist()
      val dmap = docmapOf(batch, "doc_id", post, meta.buckets).persist()
      import spark.implicits._
      if (victims.isEmpty) {
        // pure insert: nothing to drop anywhere — both tables append
        if (upIds.nonEmpty) { Timing("append-postings")(store.append("postings", post))
                              Timing("append-docmap")(store.append("docmap", dmap)) }
      } else {
        val victimIdsDf = victims.map(_._1).toSeq.toDF("doc_id")
        Timing("upsertDropping-postings")(store.upsertDropping("postings", post,
          keys = Seq("bucket", "term", "doc_id"),
          dropKeysDf = victimIdsDf, dropKeys = Seq("doc_id"),
          dropParts = Some(oldBuckets.map(_.toString))))
        val delVictims = victims.filter(v => delIds.contains(v._1))
        val delDbs = docBuckets(spark, delVictims.map(_._1).toSeq,
          meta.buckets).values.toSeq.distinct
        Timing("upsertDropping-docmap")(store.upsertDropping("docmap", dmap,
          keys = Seq("dbucket", "doc_id"),
          dropKeysDf = delVictims.map(_._1).toSeq.toDF("doc_id"),
          dropKeys = Seq("doc_id"),
          dropParts = Some(delDbs.map(_.toString))))
      }
      // stat delta over the CACHED dmap (r20): count(len>0)/sum(len)
      // equal the per-post-group count/first(len) sums exactly, and the
      // docmap write just materialized the cache — no posting re-aggregate
      val st = Timing("stats-agg")(dmap.agg(
        count(when(col("len") > 0, 1)).as("nt"),
        coalesce(sum(col("len")), lit(0L)).as("tl")).head())
      post.unpersist(blocking = false)
      dmap.unpersist(blocking = false)
      Timing("writeMeta")(writeMeta(store, meta.copy(
        nDocs = meta.nDocs + upIds.size - victims.length,
        nTokened = meta.nTokened + st.getLong(0) - victims.count(_._2 > 0),
        totalLen = meta.totalLen + st.getLong(1) - victims.map(_._2).sum)))
    } finally batch.unpersist(blocking = false)
  }

  /** Bulk form of [[applyChanges]] for batches too large to collect ids
    * to the driver (r20, the r19 verdict's IndexIngest guard): the
    * per-trigger `(change, id)` collect is delta-bounded under
    * `maxFilesPerTrigger`, but a bulk BACKFILL routed through the
    * streaming sink would collect millions of ids — this variant keeps
    * the batch distributed end to end. Victims come from one docmap
    * semi-join (no manifest pruning: a bulk batch touches most buckets
    * anyway); only BOUNDED results reach the driver — the victim stat
    * deltas (1 row), the touched bucket ids (≤ the index's bucket
    * count), and the batch's insert/update count (1 row). Semantics are
    * identical to [[applyChanges]]: one postings commit, one docmap
    * commit, exact integer stat deltas, pure inserts append.
    *
    * `batch` contract: columns (__change ∈ insert/update/delete,
    * doc_id long, __text), at most one row per doc_id (the sink's
    * last-change-per-key dedup). */
  private[graft] def applyChangesDistributed(spark: SparkSession, dir: String,
                                             batch: DataFrame): Unit = {
    import graft.tools.Timing
    val store = new DocumentStore(spark, dir)
    val meta = Timing("readMeta")(readMeta(store))
    val b = batch.persist()
    try {
      val ups = b.filter(col("__change").isin("insert", "update"))
        .select(col("doc_id"), col("__text"))
      val upCount = Timing("bulk-upcount")(ups.count())
      // victim docmap rows for EVERY changed id (deletes and re-adds):
      // one distributed semi-join; rows never visit the driver
      val dmapAll = store.read("docmap")
      val victims = dmapAll
        .join(b.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .persist()
      val vstat = Timing("bulk-victim-stats")(victims.agg(
        count(lit(1)).as("n"),
        count(when(col("len") > 0, 1)).as("nt"),
        coalesce(sum(col("len")), lit(0L)).as("tl")).head())
      val nVictims = vstat.getLong(0)
      val post = postingsOf(b.filter(col("__change").isin("insert", "update")),
        "doc_id", "__text", meta.tok, meta.buckets).persist()
      val dmap = docmapOf(ups, "doc_id", post, meta.buckets).persist()
      if (nVictims == 0) {
        if (upCount > 0) {
          Timing("append-postings")(store.append("postings", post))
          Timing("append-docmap")(store.append("docmap", dmap))
        }
      } else {
        // touched term buckets: bounded by the committed bucket count
        val oldBuckets = Timing("bulk-oldbuckets")(
          victims.select(explode(col("buckets")).as("__bk")).distinct()
            .collect().map(_.getInt(0)).toSeq)
        Timing("upsertDropping-postings")(store.upsertDropping("postings", post,
          keys = Seq("bucket", "term", "doc_id"),
          dropKeysDf = victims.select(col("doc_id")), dropKeys = Seq("doc_id"),
          dropParts = Some(oldBuckets.map(_.toString))))
        val delVictims = victims
          .join(b.filter(col("__change") === "delete").select(col("doc_id")),
            Seq("doc_id"), "left_semi")
        val delDbs = delVictims.select(col("dbucket")).distinct()
          .collect().map(_.getInt(0)).toSeq
        Timing("upsertDropping-docmap")(store.upsertDropping("docmap", dmap,
          keys = Seq("dbucket", "doc_id"),
          dropKeysDf = delVictims.select(col("doc_id")),
          dropKeys = Seq("doc_id"),
          dropParts = Some(delDbs.map(_.toString))))
      }
      val st = Timing("stats-agg")(dmap.agg(
        count(when(col("len") > 0, 1)).as("nt"),
        coalesce(sum(col("len")), lit(0L)).as("tl")).head())
      post.unpersist(blocking = false)
      dmap.unpersist(blocking = false)
      victims.unpersist(blocking = false)
      Timing("writeMeta")(writeMeta(store, meta.copy(
        nDocs = meta.nDocs + upCount - nVictims,
        nTokened = meta.nTokened + st.getLong(0) - vstat.getLong(1),
        totalLen = meta.totalLen + st.getLong(1) - vstat.getLong(2))))
    } finally b.unpersist(blocking = false)
  }

  /** The pruned posting stream for a term set: ≤ |terms| buckets read via
    * manifest pruning, then the term filter. */
  private def prunedPostings(store: DocumentStore, meta: Meta,
                             terms: Seq[String]): DataFrame = {
    val bs = termBuckets(store.spark, terms, meta.buckets).values.toSeq.distinct
    val post = store.readPartitions("postings", bs.map(_.toString))
    if (post.columns.isEmpty) post
    else post.filter(col("term").isin(terms: _*))
  }

  private def emptyScores(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("score", LongType))))

  /** Unranked (doc_id, score) of documents containing EVERY term —
    * shared by [[search]] and [[searchNot]]. */
  private def conjunctiveScores(store: DocumentStore, meta: Meta,
                                terms: Seq[String]): DataFrame = {
    val post = prunedPostings(store, meta, terms)
    if (post.columns.isEmpty) return emptyScores(store.spark)
    val stats = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("w", length(bin(lit(meta.nDocs))) - length(bin(col("df"))))
      .select(col("term"), col("w"))
    post.join(broadcast(stats), "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("w")).as("score"),
        count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === terms.size)
      .select(col("doc_id"), col("score"))
  }

  /** Conjunctive (all-terms) top-k, exact-integer TF·IDF. df is computed
    * live from the posting lists the query already reads (never stale);
    * N comes from the maintained meta row. */
  def search(spark: SparkSession, dir: String, queryTerms: Seq[String],
             k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one term")
    val store = new DocumentStore(spark, dir)
    val meta = readMeta(store)
    conjunctiveScores(store, meta, queryTerms.distinct)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** AND-NOT: documents containing every `mustTerms` term and none of
    * `mustNotTerms`, ranked by the positive terms' exact-integer TF·IDF.
    * The standard boolean-retrieval restriction applies — negation only
    * in conjunctive context (a bare NOT is the corpus complement, which
    * no index should serve). Serving cost stays posting-bounded: the
    * negative side reads ≤ |mustNot| pruned buckets, reduces to a
    * DISTINCT doc set no larger than those posting lists, and removes
    * candidates through one anti-join — the corpus is never touched. A
    * term in both lists is a contradiction: empty result, by
    * construction not by special case. */
  def searchNot(spark: SparkSession, dir: String, mustTerms: Seq[String],
                mustNotTerms: Seq[String], k: Int): DataFrame = {
    require(mustTerms.nonEmpty, "negation needs at least one positive term")
    val store = new DocumentStore(spark, dir)
    val meta = readMeta(store)
    val pos = conjunctiveScores(store, meta, mustTerms.distinct)
    val negTerms = mustNotTerms.distinct
    val ranked =
      if (negTerms.isEmpty) pos
      else {
        val negPost = prunedPostings(store, meta, negTerms)
        if (negPost.columns.isEmpty) pos
        else pos.join(negPost.select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      }
    ranked.orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** Re-cluster incrementally-rewritten buckets: [[build]] lays each
    * bucket down term-sorted (row-group min/max prune the serve-side
    * term filter inside the bucket), but [[add]]/[[remove]] rewrite
    * touched buckets in whatever order the upsert's shuffle produced,
    * and every mutation epoch adds files. Compaction is the store's own
    * OPTIMIZE ([[DocumentStore.compact]] — victims from file listings
    * only, COW, atomic swap) with the index's sort restored: postings
    * re-cluster by term, docmap by doc_id. Serving is oblivious to
    * whether compaction ran — same results, tighter IO. Returns
    * (postingsCompacted, docmapCompacted); false = nothing fragmented. */
  def compact(spark: SparkSession, dir: String,
              maxFileBytes: Long = 128L << 20): (Boolean, Boolean) = {
    val store = new DocumentStore(spark, dir)
    (store.compact("postings", maxFileBytes, sortBy = Seq("term")),
      store.compact("docmap", maxFileBytes, sortBy = Seq("doc_id")))
  }

  /** Exact phrase search — two-phase candidate + verify, the design that
    * avoids positional postings entirely (positions roughly triple an
    * index's bytes — the classic positional trade, Manning/Raghavan/
    * Schütze IR §2.4; phrase queries are rare relative to every posting
    * paying that tax):
    *
    *  1. CANDIDATES from the index: ≤ |phrase| pruned term buckets give
    *     every doc containing all phrase terms in ANY order — a superset
    *     bounded by the rarest term's df, usually tiny;
    *  2. VERIFY against the source corpus: candidates semi-join `docs`
    *     (reads bounded by candidate count, not corpus), texts
    *     re-tokenize with the index's PINNED tokenizer, and adjacency is
    *     exact via separator-joined containment (`␟t1␟t2␟` inside
    *     `␟tok␟tok␟…␟`), counting NON-OVERLAPPING occurrences.
    *
    * Contract: tokens must not contain U+001F (alnum tokens never do;
    * whitespace-mode callers with exotic text pick alnum). Returns
    * (doc_id, n_occ) top-k by occurrence count. */
  def phraseSearch(spark: SparkSession, dir: String, docs: DataFrame,
                   idCol: String, textCol: String, phrase: Seq[String],
                   k: Int): DataFrame = {
    require(phrase.nonEmpty, "need a non-empty phrase")
    val store = new DocumentStore(spark, dir)
    val meta = readMeta(store)
    val distinctTerms = phrase.distinct
    val post = prunedPostings(store, meta, distinctTerms)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("n_occ", LongType))))
    if (post.columns.isEmpty) return empty
    val candidates = post.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nt")).filter(col("nt") === distinctTerms.size)
      .select(col("doc_id"))
    val sep = ""
    val needle = sep + phrase.mkString(sep) + sep
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__text"))
      .join(candidates, "doc_id") // candidate-bounded; never the corpus
      .withColumn("__j", concat(lit(sep),
        array_join(termsExpr(meta.tok, col("__text")), sep), lit(sep)))
      .withColumn("n_occ",
        ((length(col("__j")) - length(replace(col("__j"), lit(needle), lit(sep))))
          / lit(needle.length - 1)).cast("long"))
      .filter(col("n_occ") > 0)
      .select(col("doc_id"), col("n_occ"))
      .orderBy(col("n_occ").desc, col("doc_id"))
      .limit(k)
  }

  /** Disjunctive BM25 over the pruned postings — the index-served form of
    * [[graft.operators.KeywordRank.bm25Direct]], bit-identical scores
    * (same expression tree, same DECIMAL(28,12) accumulation): every
    * document containing ≥1 query term, (doc_id, score). Serving cost
    * tracks the query terms' posting lists: `len` rides in the posting
    * row, df is an aggregate over the in-flight postings, and the corpus
    * stats are two literals from meta — no corpus-sized join anywhere. */
  def searchBm25(spark: SparkSession, dir: String, queryTerms: Seq[String],
                 k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one term")
    val store = new DocumentStore(spark, dir)
    val meta = readMeta(store)
    require(meta.nTokened > 0, "index has no tokenized documents")
    val distinctTerms = queryTerms.distinct
    val post = prunedPostings(store, meta, distinctTerms)
    if (post.columns.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("doc_id", LongType), StructField("score", DoubleType))))
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // literals mirroring KeywordRank's stats columns: n_docs as double,
    // avg_len = total/n in double arithmetic (== avg() while total<2^53)
    val nDocs = lit(meta.nTokened.toDouble)
    val avgLen = lit(meta.totalLen.toDouble / meta.nTokened)
    post.join(broadcast(dfreq), "term")
      .withColumn("idf", log(lit(1.0) +
        (nDocs - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("part_score",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / avgLen)))
      .groupBy(col("doc_id"))
      .agg(sum(col("part_score").cast("decimal(28,12)")).cast("double").as("score"))
  }
}
