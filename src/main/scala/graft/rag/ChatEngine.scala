package graft.rag

import java.sql.Timestamp
import java.util.UUID
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.embed.{Embed, Embedder, HashProjectionEmbedder}
import graft.functions.Tokenizer
import graft.model.CompletionRow
import graft.store.DocumentStore

/** Pluggable completion model (OpenAiService.cs:163-209). Tests use the
  * deterministic echo stub; production swaps a real client. */
trait CompletionClient extends Serializable {
  /** Returns (completionText, promptTokens, completionTokens). */
  def complete(systemPrompt: String, userPrompt: String): (String, Int, Int)
}

/** Deterministic stub: echoes a digest of its inputs (golden-testable). */
final class EchoCompletionClient extends CompletionClient {
  override def complete(systemPrompt: String, userPrompt: String): (String, Int, Int) = {
    val text = s"[echo ${Integer.toHexString((systemPrompt + "\u0000" + userPrompt).hashCode)}] " +
      userPrompt.linesIterator.toSeq.lastOption.getOrElse("")
    (text, Tokenizer.count(systemPrompt) + Tokenizer.count(userPrompt), Tokenizer.count(text))
  }
}

/** The §3.1 chat-completion lifecycle as one engine API.
  *
  * Differences from the reference are architectural, not semantic: the
  * corpus lives in the [[DocumentStore]]; search is the Spark top-k plan
  * (V2); vectorize-on-write embeds documents in one batched stage (V4)
  * instead of per-document HTTP; persistence is the single-commit
  * manifest swap (TX1: session row + prompt + completion message).
  *
  * The corpus a search hands its searcher is a PINNED read: the first
  * search of a table persists its read in Spark's block manager
  * (`MEMORY_AND_DISK`, so the storage manager spills or evicts instead
  * of filling the heap), and later searches scan those decoded blocks
  * for as long as the table's committed segment set stays the same
  * ([[DocumentStore.keyedRead]]) — the analog of the reference's
  * memory-resident vector index (MongoDbService.cs:194-227). A commit
  * by any writer moves the key; the next search releases the old read
  * and pins the new one. Nothing is pinned at ingest, and `persist` is
  * lazy, so a searcher that ignores `corpus` never materializes it.
  * [[close]] releases every pinned read.
  */
class ChatEngine(
    spark: SparkSession,
    store: DocumentStore,
    embedder: Embedder = HashProjectionEmbedder(dims = 64),
    completions: CompletionClient = new EchoCompletionClient,
    maxConversationTokens: Int = 1000, // appsettings.json:15
    maxCompletionTokens: Int = 2000, // appsettings.json:16
    maxSearchResults: Int = 10, // appsettings.json:23
    maxEmbeddingTokens: Int = 8000, // appsettings.json:17
    // config-selected retrieval strategy (appsettings.json:24 analog):
    // exact scan by default; IvfSearcher/HnswSearcher for indexed serving
    searcher: graft.search.VectorSearcher = graft.search.ExactSearcher,
    // ONE codec for both sides of the MaxEmbeddingTokens contract —
    // ingest's document cap and the query-side truncation must count
    // tokens identically or the two halves of the budget disagree
    codec: graft.functions.TokenCodec = Tokenizer) extends AutoCloseable {

  import spark.implicits._

  val CompletionsTable = "completions"

  // TX2 (ChatService.cs:15, :45-73) as a per-session point read on the
  // driver: `completions` is partitioned by SessionId, so one
  // `readPartitionRows` fetches a session's messages (J1) and its
  // session row — from the partition's parquet files directly, with no
  // Spark job, whenever the store's driver-local read accepts them. A
  // call costs O(its session), not O(every session), and always sees
  // the last commit, whichever engine made it.
  private def sessionRows(sessionId: String): Seq[CompletionRow] =
    store.readPartitionRows(CompletionsTable, Seq(sessionId))
      .map(ChatEngine.completionRow)
      // two ids can sanitize to one partition key: keep the exact id only
      .filter(_.SessionId == sessionId)

  private def sessionRow(rows: Seq[CompletionRow]): Option[CompletionRow] =
    rows.find(_.Type == CompletionRow.TypeSession)

  private def messages(rows: Seq[CompletionRow]): Seq[CompletionRow] =
    rows.filter(_.Type == CompletionRow.TypeMessage)

  // table -> (keyedRead key, the persisted read of that version)
  private val pinned = scala.collection.mutable.Map.empty[String, (String, DataFrame)]

  /** The pinned read of `table`'s current version: re-pinned when the
    * key moved, or when someone else dropped the cached blocks
    * (`clearCache`, or another engine's release of an equal plan). */
  private def corpus(table: String): DataFrame = synchronized {
    val (key, read) = store.keyedRead(table)
    pinned.get(table) match {
      case Some((k, df)) if k == key && df.storageLevel != StorageLevel.NONE => df
      case old =>
        old.foreach(_._2.unpersist(blocking = false))
        val df = read().persist(StorageLevel.MEMORY_AND_DISK)
        pinned(table) = (key, df)
        df
    }
  }

  /** Releases every pinned corpus read. */
  override def close(): Unit = synchronized {
    pinned.values.foreach(_._2.unpersist(blocking = true))
    pinned.clear()
  }

  // retail system prompt, OpenAiService.cs:26-36
  val systemPrompt: String =
    """You are an intelligent assistant for the Cosmic Works Bike Company.
      |You are designed to provide helpful answers to user questions about
      |products and orders, using only the provided JSON strings.""".stripMargin

  /** §3.2 ingest: corpus table = docs + one batched embed stage (V4). */
  def ingest(table: String, docs: DataFrame, textCol: String,
             partitionCol: Option[String] = None): Unit = {
    val withVec = Embed.withEmbedding(docs, textCol, "vector", embedder,
      maxInputTokens = Some(maxEmbeddingTokens), codec = codec)
    store.create(table, withVec, partitionCol)
  }

  /** `id` defaults to a fresh UUID (the reference's behavior); callers
    * that need a replayable session (the q398 gate) may pin it. */
  def createSession(name: String = "New Chat",
                    id: String = UUID.randomUUID().toString): String = {
    if (!store.exists(CompletionsTable))
      store.create(CompletionsTable, Seq(CompletionRow.session(id, name)).toDS().toDF(),
        partitionCol = Some("SessionId"))
    else
      store.upsert(CompletionsTable, Seq(CompletionRow.session(id, name)).toDS().toDF(),
        keys = Seq("Type", "SessionId", "Id"))
    id
  }

  /** Chunked ingest: split long documents into overlapping word windows
    * BEFORE embedding, so the unit of retrieval is the chunk (the
    * reference embeds whole documents because its corpus is small —
    * ChatService vectorizes per-document; at corpus scale chunk-level
    * vectors are what keep the embedding inside its token cap and the
    * retrieval granular). Chunk rows keep the parent id for doc-level
    * grouping at serve time. */
  def ingestChunked(table: String, docs: DataFrame, idCol: String, textCol: String,
                    chunkSize: Int = 256, stride: Int = 192,
                    partitionCol: Option[String] = None): Unit = {
    val chunks = graft.operators.Chunker
      .slidingWordChunks(docs, idCol, textCol, chunkSize, stride)
      .withColumn("chunk_key",
        concat(col(idCol).cast("string"), lit("#"), col("chunk_id")))
      // numeric serving key: the ANN strategies (HNSW graphs, IVF lists)
      // key on castable-to-long ids, and the parent id may be a string —
      // a 64-bit hash of the chunk key serves all strategies uniformly
      // (collision odds ~n²/2⁻⁶⁴; a collision costs one candidate slot,
      // never a wrong answer — the rerank reads real vectors)
      .withColumn("chunk_num", xxhash64(col("chunk_key")))
    val withVec = Embed.withEmbedding(chunks, "chunk_text", "vector", embedder,
      maxInputTokens = Some(maxEmbeddingTokens), codec = codec)
    store.create(table, withVec, partitionCol)
  }

  /** Chunk-level search, document-level answer: top chunks by cosine,
    * then one row per parent document scored by its BEST chunk (max
    * sim) — the standard chunked-RAG dedup, so one long document can't
    * flood the context window with k near-identical windows. Search
    * depth is `chunkFanout`×k chunks (driver-bounded either way).
    * Retrieval rides the SAME config-selected [[graft.search.VectorSearcher]]
    * seam as [[vectorSearch]] (ranking on the numeric `chunk_num` key so
    * every strategy — exact scan, IVF store, HNSW graphs — serves the
    * chunk corpus identically; strategy agreement is spec-gated). */
  def vectorSearchChunked(table: String, question: String,
                          idCol: String = "id", chunkFanout: Int = 3): DataFrame = {
    val qv = embedder.embed(
      Seq(codec.truncateHead(question, maxEmbeddingTokens))).head
    val chunks = corpus(table)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("sim").desc, col("chunk_key"))
    searcher.topK(chunks, "vector", "chunk_num", qv, maxSearchResults * chunkFanout)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1) // best chunk per parent doc
      .drop("__rn", "vector")
      .orderBy(col("sim").desc, col(idCol))
      .limit(maxSearchResults)
  }

  /** V2: embed the question, cosine top-k over the pinned corpus, strip vector
    * and id (P1's `$project {_id:0, vector:0}`), space-join stringified
    * hits (A4). `filter` scopes retrieval to matching rows (the
    * reference's data model is category-keyed — (categoryId, _id)
    * compound keys throughout MongoDbService.cs — and scoping "nearest
    * products IN this category" is the filtered-search shape every
    * vector store serves); it rides [[VectorSearcher.topKWhere]], so
    * each index strategy filters its own candidate stream. */
  def vectorSearch(table: String, question: String, idCol: String = "id",
                   filter: Option[org.apache.spark.sql.Column] = None): String = {
    val qv = embedder.embed(
      Seq(codec.truncateHead(question, maxEmbeddingTokens))).head
    val rows = corpus(table)
    val hits = filter match {
      case Some(p) => searcher.topKWhere(rows, "vector", idCol, qv, maxSearchResults, p)
      case None => searcher.topK(rows, "vector", idCol, qv, maxSearchResults)
    }
    ChatEngine.jsonRows(hits.drop("vector", "sim", idCol)).mkString(" ") // k rows only
  }

  /** GetChatCompletionAsync (ChatService.cs:119-165). */
  def complete(sessionId: String, table: String, userPrompt: String,
               idCol: String = "id"): CompletionRow = {
    val promptTokens = Tokenizer.count(userPrompt)
    val now = new Timestamp(System.currentTimeMillis())
    val promptMessage = CompletionRow.message(sessionId, CompletionRow.SenderUser,
      userPrompt, tokens = promptTokens, promptTokens = 0, ts = now,
      id = UUID.randomUUID().toString)

    val retrieved = vectorSearch(table, userPrompt, idCol)
    val rows = sessionRows(sessionId)
    val history = TokenBudget.conversationHistory(
      messages(rows).map(m => (m.TimeStamp.get, m.Tokens.get, m.Text.get)),
      maxConversationTokens)
    val (augmented, convAndPrompt) =
      TokenBudget.buildPrompts(userPrompt, history, retrieved, maxCompletionTokens)

    val (completionText, ragTokens, completionTokens) =
      completions.complete(systemPrompt + "\n" + augmented, convAndPrompt)

    val completionMessage = CompletionRow.message(sessionId, CompletionRow.SenderAssistant,
      completionText, tokens = completionTokens, promptTokens = ragTokens,
      ts = new Timestamp(now.getTime + 1), id = UUID.randomUUID().toString)

    // A1 running total + TX1 single-commit (session + 2 messages)
    val prev = sessionRow(rows)
    val newUsed = prev.flatMap(_.TokensUsed).getOrElse(0) +
      promptMessage.Tokens.get + completionMessage.PromptTokens.get + completionMessage.Tokens.get
    val session = CompletionRow.session(sessionId, prev.flatMap(_.Name).getOrElse("New Chat"), newUsed)

    store.upsert(CompletionsTable,
      Seq(session, promptMessage, completionMessage).toDS().toDF(),
      keys = Seq("Type", "SessionId", "Id"))
    completionMessage
  }

  /** GetSessionsAsync (MongoDbService.cs:446-462): all session rows as
    * (sessionId, name, tokensUsed), the NavMenu listing surface. */
  def sessions(): Seq[(String, String, Int)] = {
    val df = store.read(CompletionsTable)
    if (df.columns.isEmpty) Seq.empty
    else df.filter(col("Type") === CompletionRow.TypeSession)
      .select("SessionId", "Name", "TokensUsed")
      .as[(String, Option[String], Option[Int])].collect().toSeq
      .map { case (id, n, t) => (id, n.getOrElse(""), t.getOrElse(0)) }
  }

  /** DeleteSessionAndMessagesAsync (MongoDbService.cs:598-613): the
    * session row AND all its messages go in ONE atomic commit — the
    * reference's `DeleteMany(SessionId = x)` over the polymorphic
    * completions table, which removes both Types at once. The COW
    * predicate delete rewrites only this session's partition (the table
    * is partitioned by SessionId, so `touchedParts` prunes the rewrite
    * to one partition regardless of table size), and the single
    * manifest swap means a crash mid-delete leaves the previous state
    * fully intact: a replay re-runs the same delete to the same result
    * (S7 cascade semantics at the chat surface). */
  def deleteSession(sessionId: String): Unit = {
    if (store.exists(CompletionsTable)) {
      store.delete(CompletionsTable, col("SessionId") === sessionId,
        touchedParts = Some(Seq(sessionId)))
    }
  }

  /** Summarize-and-rename agent (ChatService.cs:273-282 + X4 regex). */
  def summarizeSessionName(sessionId: String): String = {
    val rows = sessionRows(sessionId)
    val text = messages(rows).sortBy(_.TimeStamp.get.getTime).flatMap(_.Text).mkString("\n")
    val (summary, _, _) = completions.complete(
      "Summarize this prompt in one or two words to use as a label", text)
    val name = summary.replaceAll("[^a-zA-Z0-9\\s]", "") // OpenAiService.cs:244
    val used = sessionRow(rows).flatMap(_.TokensUsed).getOrElse(0)
    store.upsert(CompletionsTable,
      Seq(CompletionRow.session(sessionId, name, used)).toDS().toDF(),
      keys = Seq("Type", "SessionId", "Id"))
    name
  }

  /** Session TokensUsed (NavMenu.razor:63 surface). */
  def tokensUsed(sessionId: String): Int =
    sessionRow(sessionRows(sessionId)).flatMap(_.TokensUsed).getOrElse(0)
}

object ChatEngine {

  /** A `completions` row as a [[CompletionRow]], by field name. */
  private def completionRow(r: Row): CompletionRow = {
    def opt[T](name: String)(get: Int => T): Option[T] = {
      val i = r.fieldIndex(name)
      if (r.isNullAt(i)) None else Some(get(i))
    }
    CompletionRow(
      Id = r.getAs[String]("Id"), Type = r.getAs[String]("Type"),
      SessionId = r.getAs[String]("SessionId"),
      TokensUsed = opt("TokensUsed")(r.getInt), Name = opt("Name")(r.getString),
      TimeStamp = opt("TimeStamp")(i => r.get(i) match {
        // java.time.Instant under spark.sql.datetime.java8API.enabled
        case t: Timestamp => t
        case t: java.time.Instant => Timestamp.from(t)
      }),
      Sender = opt("Sender")(r.getString), Tokens = opt("Tokens")(r.getInt),
      PromptTokens = opt("PromptTokens")(r.getInt), Text = opt("Text")(r.getString))
  }

  /** Each row of `df` as one JSON object, byte for byte `df.toJSON`
    * (differential-tested), but as a projection. Over a top-k it folds
    * into `TakeOrderedAndProject`, whose collect merges the per-task
    * heaps on the driver: one stage, no exchange. `toJSON`'s
    * mapPartitions on top of the top-k forced the single-partition
    * exchange and a second stage. */
  private[rag] def jsonRows(df: DataFrame): Array[String] =
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0))
}
