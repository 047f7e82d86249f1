package graft.rag

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.model.{CompletionRow, Product}
import graft.store.DocumentStore
import graft.store.Scratch

/** Golden end-to-end slice (SURVEY §7.2) + the Cosmic-Socks add/remove
  * scenario (README.md:184-194, FIXTURES.md A). */
class ChatEngineSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def products: Seq[Product] = Seq(
    Product("p1", "c-socks", "Clothing, Socks", "SK-1", "Racing Socks, L",
      "red racing socks for the road", 8.99),
    Product("p2", "c-socks", "Clothing, Socks", "SK-2", "Racing Socks, M",
      "red racing socks for the road medium", 8.99),
    Product("p3", "c-socks", "Clothing, Socks", "SK-3", "Mountain Socks, L",
      "warm mountain socks wool", 9.99),
    Product("p4", "c-socks", "Clothing, Socks", "SK-4", "Mountain Socks, M",
      "warm mountain socks wool medium", 9.99),
    Product("p5", "c-bikes", "Bikes, Mountain", "BK-1", "Mountain-100 Silver",
      "full suspension mountain bike", 3399.99),
    Product("p6", "c-bikes", "Bikes, Road", "BK-2", "Road-550 Red",
      "lightweight road bike carbon", 1120.49),
    Product("p7", "c-helmets", "Accessories, Helmets", "HL-1", "Sport Helmet",
      "protective sport helmet", 34.99),
    Product("p8", "c-helmets", "Accessories, Helmets", "HL-2", "Tour Helmet",
      "aero tour helmet", 44.99))

  private def newEngine(completions: CompletionClient = new EchoCompletionClient,
                        root: String = Scratch.dir(spark, "rag")) = {
    val store = new DocumentStore(spark, root)
    val eng = new ChatEngine(spark, store, completions = completions, maxSearchResults = 4)
    eng.ingest("products",
      products.toDS().toDF().withColumn("doc_text",
        org.apache.spark.sql.functions.concat_ws(" ",
          org.apache.spark.sql.functions.col("name"),
          org.apache.spark.sql.functions.col("description"),
          org.apache.spark.sql.functions.col("categoryName"))),
      textCol = "doc_text", partitionCol = Some("categoryId"))
    (eng, store)
  }

  /** Product rows as `ingest` stores them: embedded `doc_text`. */
  private def embedded(ps: Seq[Product]) = {
    import org.apache.spark.sql.functions.{col, concat_ws}
    graft.embed.Embed.withEmbedding(ps.toDS().toDF().withColumn("doc_text",
      concat_ws(" ", col("name"), col("description"), col("categoryName"))),
      "doc_text", "vector", graft.embed.HashProjectionEmbedder(dims = 64))
  }

  private val cosmic = Product("99", "c-socks", "Clothing, Socks", "SO-R999-M",
    "Cosmic Racing Socks, M", "The product called Cosmic Racing Socks, M", 6.00)
  private val cosmicText = "Cosmic Racing Socks, M The product called Cosmic Racing Socks, M Clothing, Socks"

  /** Echo client that keeps the user-side prompt of every call: the
    * conversation history the engine assembled, then the question. */
  private final class Recording extends CompletionClient {
    val prompts = scala.collection.mutable.ArrayBuffer.empty[String]
    private val echo = new EchoCompletionClient
    override def complete(systemPrompt: String, userPrompt: String): (String, Int, Int) = {
      prompts += userPrompt
      echo.complete(systemPrompt, userPrompt)
    }
  }

  /** A1 over the stored rows of `sid`: Σ(Tokens + PromptTokens) of its
    * messages (a user message's PromptTokens is 0), and their count. */
  private def messageSums(store: DocumentStore, sid: String): (Int, Int) = {
    val msgs = store.read("completions")
      .filter("Type = 'Message'").as[CompletionRow].collect().filter(_.SessionId == sid)
    (msgs.map(m => m.Tokens.get + m.PromptTokens.get).sum, msgs.length)
  }

  test("flagship slice: search -> prompts -> completion -> persisted TX") {
    val (eng, store) = newEngine()
    val sid = eng.createSession()
    val reply = eng.complete(sid, "products", "What kind of socks do you have?")
    assert(reply.Sender.contains("Assistant"))
    assert(reply.Text.exists(_.nonEmpty))
    // TX1: one commit wrote session + 2 messages
    val rows = store.read(eng.CompletionsTable)
    assert(rows.filter("Type = 'Message'").count() == 2)
    // A1: TokensUsed = prompt.Tokens + completion.PromptTokens + completion.Tokens
    val used = eng.tokensUsed(sid)
    assert(used > 0)
    val msgs = rows.filter("Type = 'Message'")
      .select("Tokens", "PromptTokens", "Sender").collect()
    val expected = msgs.map { r =>
      if (r.getString(2) == "User") r.getInt(0) else r.getInt(0) + r.getInt(1)
    }.sum
    assert(used == expected)
  }

  test("retrieval is relevant: socks query retrieves socks corpus text") {
    val (eng, _) = newEngine()
    val payload = eng.vectorSearch("products", "warm wool mountain socks")
    val sockHits = payload.split("\\{").count(_.contains("Socks"))
    assert(sockHits >= 2, s"payload: ${payload.take(200)}")
  }

  test("filtered retrieval scopes hits to the predicate's category") {
    import org.apache.spark.sql.functions.col
    val (eng, _) = newEngine()
    // the category filter must hold even when the question pulls
    // strongly toward another category's rows
    val payload = eng.vectorSearch("products", "warm wool mountain socks",
      filter = Some(col("categoryId") === "c-bikes"))
    assert(payload.nonEmpty)
    assert(!payload.contains("Socks"), s"payload leaked: ${payload.take(200)}")
    assert(payload.contains("Bikes"))
  }

  test("cosmic socks add/remove scenario (README.md:184-194)") {
    val (eng, store) = newEngine()
    def sockCount(): Int =
      eng.vectorSearch("products", "socks").split("\\{").count(_.contains("Socks"))
    val before = sockCount()
    // add: upsert keyed (categoryId, id) like UpsertProductAsync
    store.upsert("products", embedded(Seq(cosmic)), keys = Seq("categoryId", "id"))
    val after = sockCount()
    assert(after >= before) // new sock is searchable immediately
    // remove (DeleteProductAsync)
    store.delete("products",
      org.apache.spark.sql.functions.col("id") === "99", touchedParts = Some(Seq("c-socks")))
    assert(sockCount() == before)
  }

  test("conversation history obeys the reference budget quirk (W1)") {
    import java.sql.Timestamp
    val msgs = Seq(
      (new Timestamp(1000L), 300, "m1"),
      (new Timestamp(2000L), 300, "m2"),
      (new Timestamp(3000L), 300, "m3"),
      (new Timestamp(4000L), 300, "m4"))
    // budget 1000: newest-first running sums 300,600,900,1200 -> keep 3
    assert(TokenBudget.conversationHistory(msgs, 1000) == "m2\nm3\nm4")
    // budget 900: third message increments to 900 <= 900 -> still kept
    assert(TokenBudget.conversationHistory(msgs, 900) == "m2\nm3\nm4")
    // budget 899 -> keep 2
    assert(TokenBudget.conversationHistory(msgs, 899) == "m3\nm4")
  }

  test("buildPrompts trims proportionally, never the user prompt (T5)") {
    val rag = ("data " * 600).trim // 1200 tokens under the fallback lexer
    val conv = ("chat " * 300).trim
    val user = "the question"
    val (aug, convUser) = TokenBudget.buildPrompts(user, conv, rag, maxCompletionTokens = 1000)
    val total = graft.functions.Tokenizer.count(aug) +
      graft.functions.Tokenizer.count(convUser)
    assert(convUser.endsWith("\n" + user)) // prompt intact, at the end
    assert(graft.functions.Tokenizer.count(aug) < 1200)
    assert(total <= 1000) // buffer math keeps us under budget
    // under-budget passthrough
    val (aug2, cu2) = TokenBudget.buildPrompts(user, "small talk", "tiny rag", 2000)
    assert(aug2 == "tiny rag" && cu2 == "small talk\n" + user)
  }

  test("TX2 session read: one readPartitionRows per turn, no whole-table read") {
    class CountingStore(root: String) extends DocumentStore(spark, root) {
      val reads = new AtomicInteger(0)
      val partReads = new AtomicInteger(0)
      override def read(table: String) = {
        if (table == "completions") reads.incrementAndGet()
        super.read(table)
      }
      override def readPartitionRows(table: String, partKeys: Seq[String]) = {
        if (table == "completions") partReads.incrementAndGet()
        super.readPartitionRows(table, partKeys)
      }
    }
    val store = new CountingStore(Scratch.dir(spark, "rag-reads"))
    val eng = new ChatEngine(spark, store, maxSearchResults = 4)
    eng.ingest("products", products.toDS().toDF().withColumn("doc_text",
      org.apache.spark.sql.functions.col("description")), textCol = "doc_text")
    val sid = eng.createSession()
    for (q <- Seq("What socks do you have?", "And helmets?")) {
      val before = store.partReads.get()
      eng.complete(sid, "products", q)
      assert(store.partReads.get() == before + 1, s"partition reads in one turn ($q)")
    }
    assert(eng.tokensUsed(sid) > 0)
    assert(eng.summarizeSessionName(sid).nonEmpty)
    assert(store.reads.get() == 0, "complete/tokensUsed/summarizeSessionName read the whole table")
    // the listing of every session is the one whole-table read
    assert(eng.sessions().map(_._1) == Seq(sid))
    assert(store.reads.get() == 1)
  }

  test("read-only calls pin no stale session: two engines on one store lose no turn") {
    val recording = new Recording
    val (a, store) = newEngine(recording)
    val b = new ChatEngine(spark, store, maxSearchResults = 4)
    val sid = a.createSession()
    a.complete(sid, "products", "What socks do you have?")
    a.tokensUsed(sid)
    b.complete(sid, "products", "Do you sell helmets?")
    assert(a.tokensUsed(sid) == b.tokensUsed(sid), "A serves the total from before B's turn")
    a.complete(sid, "products", "And bikes?")
    assert(recording.prompts.last.contains("Do you sell helmets?"), "B's turn missing from A's history")
    val (sum, n) = messageSums(store, sid)
    assert(n == 6)
    assert(a.tokensUsed(sid) == sum && b.tokensUsed(sid) == sum, "TokensUsed != its messages' sum")
  }

  /** The stage count of each Spark job one `complete` submits while
    * `others` other sessions (a session row and 2 messages each) sit in
    * `completions`. Only jobs carrying this thread's marker property
    * count. */
  private def turnJobStages(others: Int): Seq[Int] = {
    val (eng, store) = newEngine()
    val t0 = new java.sql.Timestamp(0L)
    val rows = CompletionRow.session("target") +: (0 until others).flatMap { i =>
      val sid = s"other-$i"
      CompletionRow.session(sid, tokensUsed = 4) +: Seq("User", "Assistant").map(who =>
        CompletionRow.message(sid, who, s"$who says hi", tokens = 2, promptTokens = 0,
          ts = t0, id = s"$sid-$who"))
    }
    store.create(eng.CompletionsTable, rows.toDS().toDF(), partitionCol = Some("SessionId"))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.turn") == "on"))
          jobs.add(e.stageInfos.size)
    }
    assert(GraftSqlBridge.drainListeners(sc))
    sc.addSparkListener(counter)
    sc.setLocalProperty("graft.spec.turn", "on")
    try {
      eng.complete("target", "products", "What socks do you have?")
      assert(GraftSqlBridge.drainListeners(sc))
    } finally {
      sc.setLocalProperty("graft.spec.turn", null)
      sc.removeSparkListener(counter)
      eng.close()
    }
    jobs.asScala.toSeq
  }

  test("a turn reads only its session: equal jobs with 0 and 200 other sessions") {
    // the retrieval's scan is the turn's one Spark job: the session read
    // and the upsert's kept side come off the partition's parquet files
    // on the driver
    assert(turnJobStages(0).size == 1)
    assert(turnJobStages(200).size == 1)
  }

  test("every job of a turn runs one stage: the top-k heaps merge on the driver") {
    // the retrieval's JSON projection folds into TakeOrderedAndProject,
    // whose collect needs no exchange
    val stages = turnJobStages(0)
    assert(stages.nonEmpty && stages.forall(_ == 1), s"stages per job: $stages")
  }

  test("pinned corpus: another writer's product upsert is in the next search") {
    val root = Scratch.dir(spark, "rag-pin")
    val (a, _) = newEngine(root = root)
    try {
      assert(!a.vectorSearch("products", cosmicText).contains("Cosmic"))
      // engine B: its own store over the same root, as another process
      val storeB = new DocumentStore(spark, root)
      val b = new ChatEngine(spark, storeB, maxSearchResults = 4)
      storeB.upsert("products", embedded(Seq(cosmic)), keys = Seq("categoryId", "id"))
      assert(b.vectorSearch("products", cosmicText).contains("Cosmic"))
      assert(a.vectorSearch("products", cosmicText).contains("Cosmic"), "A served its stale pin")
      b.close()
    } finally a.close()
  }

  test("pinned corpus: a store dropped and rebuilt at the same root is never served stale") {
    val root = Scratch.dir(spark, "rag-rebuild")
    val (eng, store) = newEngine(root = root)
    try {
      assert(eng.vectorSearch("products", "warm wool mountain socks").contains("Socks"))
      val v = store.version("products")
      val dir = java.nio.file.Paths.get(root)
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      Files.createDirectories(dir)
      // same table, same version numbers, no socks
      eng.ingest("products", products.filterNot(_.categoryId == "c-socks").toDS().toDF()
        .withColumn("doc_text", org.apache.spark.sql.functions.col("description")),
        textCol = "doc_text", partitionCol = Some("categoryId"))
      assert(store.version("products") == v)
      val payload = eng.vectorSearch("products", "warm wool mountain socks")
      assert(payload.nonEmpty && !payload.contains("Socks"), s"stale payload: ${payload.take(200)}")
    } finally eng.close()
  }

  test("pinned corpus: at most one pin across version moves; close() releases it") {
    val (eng, store) = newEngine()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    def pins: Int = (sc.getPersistentRDDs.keySet.toSet -- before).size
    eng.vectorSearch("products", "socks")
    assert(pins == 1)
    for (i <- 1 to 5) {
      store.upsert("products", embedded(Seq(cosmic.copy(id = s"c$i"))),
        keys = Seq("categoryId", "id"))
      assert(eng.vectorSearch("products", s"Cosmic Racing Socks c$i").nonEmpty)
      assert(pins == 1, s"pinned corpora after version move $i")
    }
    eng.close()
    assert(pins == 0, "close() left the pinned corpus")
  }

  test("two session ids on one partition key keep separate histories and totals") {
    val recording = new Recording
    val (eng, store) = newEngine(recording)
    // both sanitize to the partition key `a_b`
    val Seq(x, y) = Seq("a.b", "a_b").map(id => eng.createSession(id = id))
    eng.complete(x, "products", "What socks do you have?")
    eng.complete(y, "products", "What bikes do you have?")
    eng.complete(x, "products", "And helmets?")
    assert(recording.prompts.last.contains("What socks do you have?"))
    assert(!recording.prompts.last.contains("What bikes do you have?"), "y's turn in x's history")
    for ((sid, turns) <- Seq(x -> 2, y -> 1)) {
      val (sum, n) = messageSums(store, sid)
      assert(n == 2 * turns, s"$sid messages")
      assert(eng.tokensUsed(sid) == sum, s"$sid TokensUsed")
    }
    assert(eng.sessions().map(_._1).toSet == Set(x, y))
  }

  test("summarize-and-rename agent strips non-alphanumerics (X4)") {
    val (eng, _) = newEngine()
    val sid = eng.createSession()
    eng.complete(sid, "products", "What bikes do you have?")
    val name = eng.summarizeSessionName(sid)
    assert(name.nonEmpty)
    assert(!name.exists(c => !c.isLetterOrDigit && !c.isWhitespace))
  }

  test("deleteSession cascade: session + messages gone in ONE commit; others intact") {
    val (eng, store) = newEngine()
    val keep = eng.createSession("keeper")
    eng.complete(keep, "products", "What socks do you have?")
    val sid = eng.createSession("doomed")
    eng.complete(sid, "products", "What bikes do you have?")
    val vBefore = store.version(eng.CompletionsTable)
    assert(eng.sessions().map(_._1).toSet == Set(keep, sid))

    eng.deleteSession(sid)
    // exactly ONE version bump: session row + its messages in one commit
    assert(store.version(eng.CompletionsTable) == vBefore + 1)
    assert(eng.sessions().map(_._1) == Seq(keep))
    val left = store.read(eng.CompletionsTable)
    assert(left.filter(s"SessionId = '$sid'").count() == 0) // cascade complete
    // the untouched session keeps BOTH its messages and its token total
    assert(left.filter(s"SessionId = '$keep' AND Type = 'Message'").count() == 2)
    assert(eng.tokensUsed(keep) > 0)
    // replay of an already-applied delete is a harmless no-op
    eng.deleteSession(sid)
    assert(eng.sessions().map(_._1) == Seq(keep))
  }

  test("deleteSession crash-replay: a died committer leaves state intact; replay completes it") {
    val root = Scratch.dir(spark, "rag-crash")
    val store = new DocumentStore(spark, root)
    val eng = new ChatEngine(spark, store, maxSearchResults = 4)
    eng.ingest("products", products.toDS().toDF().withColumn("doc_text",
      org.apache.spark.sql.functions.col("description")), textCol = "doc_text")
    val sid = eng.createSession()
    eng.complete(sid, "products", "What helmets do you have?")
    val v0 = store.version(eng.CompletionsTable)
    // simulate a deleter that died between claim and swap (the
    // StoreConcurrencySpec debris shape) — the NEXT delete must fail
    // loudly with the session fully intact, not half-deleted
    val claim = new java.io.File(s"$root/completions/_versions/v${v0 + 1}.claim")
    assert(claim.mkdirs())
    java.nio.file.Files.writeString(new java.io.File(claim, "owner").toPath, "dead")
    intercept[java.util.ConcurrentModificationException] { eng.deleteSession(sid) }
    assert(store.version(eng.CompletionsTable) == v0)
    assert(store.read(eng.CompletionsTable)
      .filter(s"SessionId = '$sid'").count() == 3) // session + 2 messages, untouched
    // operator clears the debris (no writers in flight), replay completes
    store.vacuum(eng.CompletionsTable, keepVersions = 1)
    eng.deleteSession(sid)
    // the only session is gone — the table may now be column-less empty
    val fin = store.read(eng.CompletionsTable)
    assert(fin.columns.isEmpty || fin.filter(s"SessionId = '$sid'").count() == 0)
    assert(eng.sessions().isEmpty)
  }

  test("chunked ingest + doc-level retrieval: best chunk wins, no duplicate docs") {
    import org.apache.spark.sql.functions.col
    val store = new DocumentStore(spark, Scratch.dir(spark, "chunked"))
    val eng = new ChatEngine(spark, store)
    val filler = (1 to 30).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, s"$filler zebra quagga okapi giraffe $filler"), // phrase buried mid-doc
      (2L, "unrelated text about spark shuffle plans and joins"),
      (3L, "more unrelated text on parquet row groups")).toDF("doc_id", "text")
    eng.ingestChunked("chunks", docs, "doc_id", "text", chunkSize = 8, stride = 6)
    // every chunk row carries parent id + key; doc 1 yields several chunks
    assert(store.read("chunks").filter(col("doc_id") === 1L).count() > 5)

    val hits = eng.vectorSearchChunked("chunks", "zebra quagga okapi giraffe", idCol = "doc_id")
      .select("doc_id").as[Long].collect().toSeq
    assert(hits.distinct == hits, "one row per parent document")
    assert(hits.head == 1L, s"doc with the matching chunk must rank first, got $hits")
  }

  test("chunked retrieval rides the strategy seam: exact | ivf | hnsw agree >= 0.9") {
    import org.apache.spark.sql.functions.col
    import graft.search.{ExactSearcher, HnswIndex, HnswSearcher, IvfIndex, IvfSearcher, IvfStore}
    val store = new DocumentStore(spark, Scratch.dir(spark, "chunk-strat"))
    val exactEng = new ChatEngine(spark, store)
    val docs = graft.Tables.t(spark, sf, "documents").select("doc_id", "text")
    exactEng.ingestChunked("chunks", docs, "doc_id", "text", chunkSize = 16, stride = 12)
    val chunks = store.read("chunks")
    assert(chunks.filter(col("chunk_id") > 0).count() > 0, "multi-chunk docs exist")

    val ivfIdx = IvfIndex.train(chunks, "vector", "chunk_num",
      numLists = 8, iters = 2, multiAssign = 2)
    val ivf = new IvfStore(store, "chunks_ivf", ivfIdx, "vector", "chunk_num")
    ivf.build(chunks)
    val graphs = HnswIndex.build(chunks, "vector", "chunk_num").cache()

    val question = "vector similarity search with spark joins"
    def docHits(eng: ChatEngine): Seq[Long] =
      eng.vectorSearchChunked("chunks", question, idCol = "doc_id")
        .select(col("doc_id")).as[Long].collect().toSeq
    val exactHits = docHits(exactEng)
    // best-chunk-per-doc dedup holds on the exact path
    assert(exactHits.distinct == exactHits && exactHits.nonEmpty)
    val strategies = Map(
      "ivf" -> new ChatEngine(spark, store, searcher = new IvfSearcher(ivf, nprobe = 4)),
      "hnsw" -> new ChatEngine(spark, store, searcher = new HnswSearcher(graphs)))
    for ((kind, eng) <- strategies) {
      val hits = docHits(eng)
      assert(hits.distinct == hits, s"$kind: one row per parent document")
      val agree = (hits.toSet intersect exactHits.toSet).size.toDouble /
        math.max(exactHits.size, 1)
      assert(agree >= 0.9, s"$kind doc-level agreement: $agree ($hits vs $exactHits)")
    }
    graphs.unpersist()
  }

  test("retrieval strategies (exact | ivf | hnsw | quantized | pq) agree at recall >= 0.9") {
    import org.apache.spark.sql.functions.col
    import graft.search.{ExactSearcher, HnswIndex, HnswSearcher, IvfIndex, IvfSearcher, IvfStore, PqIndex, PqSearcher, QuantizedSearcher}
    val store = new DocumentStore(spark, Scratch.dir(spark, "rag-strat"))
    val exactEng = new ChatEngine(spark, store)
    // numeric-id corpus (HNSW ids must cast to long)
    val docs = graft.Tables.t(spark, sf, "documents").select("doc_id", "text")
    exactEng.ingest("docs", docs, textCol = "text")
    val corpus = store.read("docs")

    val ivfIdx = IvfIndex.train(corpus, "vector", "doc_id",
      numLists = 8, iters = 2, multiAssign = 2)
    val ivf = new IvfStore(store, "docs_ivf", ivfIdx, "vector", "doc_id")
    ivf.build(corpus)
    val graphs = HnswIndex.build(corpus, "vector", "doc_id").cache()
    val cb = PqIndex.train(corpus, "vector", "doc_id", m = 16, ks = 16)
    val encoded = PqIndex.encode(cb, corpus, "vector")
      .select(col("doc_id"), col("pq_codes"), col("norm")).cache()
    def pqSearcher = new PqSearcher(cb, encoded)

    val engines = Map(
      "ivf" -> new ChatEngine(spark, store, searcher = new IvfSearcher(ivf, nprobe = 4)),
      "hnsw" -> new ChatEngine(spark, store, searcher = new HnswSearcher(graphs)),
      "quantized" -> new ChatEngine(spark, store, searcher = QuantizedSearcher),
      "pq" -> new ChatEngine(spark, store, searcher = pqSearcher))

    val question = "vector similarity search with spark joins"
    val qv = graft.embed.HashProjectionEmbedder(dims = 64).embedOne(question)
    val exactIds = ExactSearcher.topK(corpus, "vector", "doc_id", qv, 10)
      .select(col("doc_id")).as[Long].collect().toSet
    for ((kind, eng) <- engines) {
      val annIds = (kind match {
        case "ivf" => new IvfSearcher(ivf, nprobe = 4)
        case "hnsw" => new HnswSearcher(graphs)
        case "pq" => pqSearcher
        case _ => QuantizedSearcher
      }).topK(corpus, "vector", "doc_id", qv, 10)
        .select(col("doc_id")).as[Long].collect().toSet
      val hits = (annIds intersect exactIds).size
      assert(hits >= math.floor(0.9 * 10).toInt, s"$kind recall: $hits/10")
      // end-to-end lifecycle is green under the ANN strategy
      val sid = eng.createSession()
      val reply = eng.complete(sid, "docs", question, idCol = "doc_id")
      assert(reply.Sender.contains("Assistant") && reply.Text.exists(_.nonEmpty))
    }
    graphs.unpersist()
  }
}
