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
  * Incremental maintenance has ONE path, [[applyChanges]]: a change batch
  * (insert/update/delete rows, one per id — the change feed's shape)
  * lands in one postings commit and one docmap commit (COW: only touched
  * buckets are rewritten; a pure-insert batch appends). [[add]], [[remove]]
  * and the streaming sink ([[graft.streaming.IndexIngest]]) are thin
  * callers of it. Victims are located through docmap, never a scan, and
  * every driver result is bounded by the committed bucket count, never
  * by the batch size. Corpus stats (n_docs / n_tokened / total_len) are
  * maintained by exact integer delta — never a rescan — so df/idf NEVER
  * serve stale: document frequency is computed live from the posting
  * lists the query already reads (one extra aggregate over in-flight
  * data), and the corpus-size terms come from the transactionally-
  * maintained meta row. There is no refresh threshold to tune because
  * nothing drifts. Mutations are single-writer (the store's CAS makes
  * racing writers fail loudly, not corrupt); one batch is 3 store
  * commits, so a crash between them leaves a visibly half-synced index —
  * re-run the sync (a batch is an idempotent re-application of the same
  * delta).
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

  /** The one meta row: a driver-local read of one parquet file from one
    * snapshot, with no Spark job ([[DocumentStore.readPartitionRows]] —
    * the row is atomic-typed and written by the driver-local writer). */
  private def readMeta(store: DocumentStore): Meta = {
    val r = store.readPartitionRows("meta", Seq("all")).headOption.getOrElse(
      throw new IllegalStateException(s"no index at ${store.tablePath("meta")}"))
    Meta(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
  }

  private def writeMeta(store: DocumentStore, m: Meta): Unit = {
    val spark = store.spark
    import spark.implicits._
    store.create("meta", Seq((m.buckets, m.nDocs, m.nTokened, m.totalLen, m.tok))
      .toDF("buckets", "n_docs", "n_tokened", "total_len", "tok"))
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

  /** Upsert documents (insert or replace) — [[applyChanges]] with every
    * distinct id as an update. */
  def add(spark: SparkSession, dir: String, docs: DataFrame,
          idCol: String, textCol: String): Unit =
    applyChanges(spark, dir, docs.select(lit("update").as("change"),
      col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .dropDuplicates("doc_id"))

  /** Delete documents by id — [[applyChanges]] with a delete row per
    * distinct id. Unknown ids are a no-op. */
  def remove(spark: SparkSession, dir: String, ids: Seq[Long]): Unit =
    if (ids.nonEmpty) {
      import spark.implicits._
      applyChanges(spark, dir, ids.distinct.toDF("doc_id")
        .select(lit("delete").as("change"), col("doc_id"), lit(null).cast("string").as("text")))
    }

  /** The one maintenance path: apply a change batch — columns (change ∈
    * insert/update/delete, doc_id, text), at most one row per doc_id (the
    * store's [[DocumentStore.changeFeed]] shape) — in ONE postings commit
    * and ONE docmap commit. Every victim (a changed id already indexed)
    * leaves its old term buckets, named by docmap, while the batch's
    * fresh postings land ([[DocumentStore.upsertDropping]]); a batch
    * with no victims appends both tables, O(batch) at any index size.
    * Corpus stats move by one exact integer delta.
    *
    * No driver result depends on the batch size, so one path serves a
    * 20-doc trigger and a bulk backfill alike. The batch reduces to ONE
    * row (its ids' docmap buckets); victims are a docmap read pruned to
    * those buckets and joined to the batch (one row per id, so the join
    * is a semi-join carrying the change); victims and the fresh docmap
    * rows reduce to ONE delta row (counts, stat deltas, the old term
    * buckets and the deleted ids' docmap buckets). Every bucket list is
    * bounded by the committed bucket count, as are the store's own
    * collects (touched partition keys). */
  def applyChanges(spark: SparkSession, dir: String, changes: DataFrame): Unit = {
    import graft.tools.Timing
    val store = new DocumentStore(spark, dir)
    val meta = Timing("readMeta")(readMeta(store))
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { held += df; df.persist() }
    try {
      val batch = hold(changes.select(col("change"),
        col("doc_id").cast("long").as("doc_id"), col("text")))
      val idBuckets = Timing("batch-agg")(batch
        .agg(collect_set(Splits.hashBucket(col("doc_id"), meta.buckets))).head().getSeq[Int](0))
      if (idBuckets.isEmpty) return
      val ups = batch.filter(col("change").isin("insert", "update"))
      val post = hold(postingsOf(ups, "doc_id", "text", meta.tok, meta.buckets))
      val dmap = hold(docmapOf(ups, "doc_id", post, meta.buckets))
      // the victims: docmap rows of every changed id (deletes AND re-adds),
      // shuffled by doc_id so the rewrites' drop-key distincts need none
      val dm = store.readPartitions("docmap", idBuckets.map(_.toString))
      val victims = hold((if (dm.columns.isEmpty) dmap.limit(0) else dm)
        .join(batch.select(col("doc_id"), col("change")).hint("shuffle_hash"), "doc_id"))
      // ONE row for the whole delta: victims count -1 and fresh docmap
      // rows +1. A victim spans one row per old term bucket
      // (posexplode_outer keeps a token-less victim as one null-bucket
      // row); position 0 or null marks its first.
      val old = col("__old")
      val first = coalesce(col("__pos"), lit(0)) === 0
      val sign = when(old, -1L).otherwise(1L)
      val d = Timing("delta-agg")(victims
        .select(lit(true).as("__old"), col("len"), col("dbucket"), col("change"),
          posexplode_outer(col("buckets")).as(Seq("__pos", "__bk")))
        .unionByName(dmap.select(lit(false).as("__old"), col("len"), col("dbucket"),
          lit(null).cast("string").as("change"), lit(0).as("__pos"),
          lit(null).cast("int").as("__bk")))
        .agg(count(when(old && first, 1)), count(when(!old, 1)),
          coalesce(sum(when(first && col("len") > 0, sign)), lit(0L)),
          coalesce(sum(when(first, sign * col("len"))), lit(0L)),
          collect_set(col("__bk")), collect_set(when(col("change") === "delete", col("dbucket"))))
        .head())
      val nVictims = d.getLong(0)
      if (nVictims == 0 && d.getLong(1) == 0) return
      if (nVictims == 0) {
        Timing("append-postings")(store.append("postings", post))
        Timing("append-docmap")(store.append("docmap", dmap))
      } else {
        Timing("upsertDropping-postings")(store.upsertDropping("postings", post,
          keys = Seq("bucket", "term", "doc_id"),
          dropKeysDf = victims.select(col("doc_id")), dropKeys = Seq("doc_id"),
          dropParts = Some(d.getSeq[Int](4).map(_.toString))))
        Timing("upsertDropping-docmap")(store.upsertDropping("docmap", dmap,
          keys = Seq("dbucket", "doc_id"),
          dropKeysDf = victims.filter(col("change") === "delete").select(col("doc_id")),
          dropKeys = Seq("doc_id"),
          dropParts = Some(d.getSeq[Int](5).map(_.toString))))
      }
      Timing("writeMeta")(writeMeta(store, meta.copy(
        nDocs = meta.nDocs + d.getLong(1) - nVictims,
        nTokened = meta.nTokened + d.getLong(2),
        totalLen = meta.totalLen + d.getLong(3))))
    } finally held.foreach(_.unpersist(blocking = false))
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
