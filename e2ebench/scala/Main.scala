package e2ebench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.embed.HashProjectionEmbedder
import graft.functions.Tokenizer
import graft.model.CompletionRow
import graft.rag.{ChatEngine, EchoCompletionClient}
import graft.search.ExactSearcher

/** One benchmark run: reads the op log that `run.py` generated from the
  * seed, sets the workload up `--setups` times on fresh stores, replays
  * every op once on the last set-up, and writes a JSON record of op
  * timings, check inputs, diagnostics and (traced runs) spans and jobs.
  *
  * Usage: `Main --workload chat|analytics --in DIR --work DIR
  *   --tables DIR --stamp S --out FILE --trace 0|1 --setups N --cpus N` */
object Main {

  final case class Op(idx: Int, phase: String, kind: String, f: Array[String])

  final case class Done(idx: Int, phase: String, kind: String, t0Ms: Double, t1Ms: Double,
                        ok: Boolean, info: String)

  val Dims = 1536 // the reference's embedding width (ada-002)

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val in = a("in"); val work = a("work"); val trace = a("trace") == "1"
    val spark = graft.GraftSession.local(a("cpus"), "e2ebench")
    val log = new JobLog
    if (trace) {
      spark.sparkContext.addSparkListener(log)
      Trace.start(spark.sparkContext)
    }
    val ops = Files.readAllLines(Paths.get(in, "ops.tsv")).asScala.toIndexedSeq
      .zipWithIndex.map { case (l, i) =>
        val f = l.split("\t", -1); Op(i, f(0), f(1), f.drop(2))
      }
    val run = new Run(spark, in, work, a("setups").toInt)
    val checks = a("workload") match {
      case "chat" => run.chat(ops)
      case "analytics" => run.analytics(ops, a("tables"), a("stamp"))
    }
    if (trace) org.apache.spark.e2ebench.Bus.drain(spark.sparkContext)
    val jobs = log.jobs.values.asScala.toSeq.sortBy(_.id).map(j => Seq(j.id, j.span, j.t0Ms, j.t1Ms,
      j.tasks.sum(), j.runMs.sum(), j.shuffleWrite.sum(), j.shuffleRead.sum(), j.spill.sum(),
      j.records.sum(), j.callSite))
    val out = Map(
      "setup_s" -> run.setupS,
      "ops" -> run.done.map(d => Seq(d.idx, d.phase, d.kind, d.t0Ms, d.t1Ms, d.ok, d.info)),
      "checks" -> checks,
      "diag" -> run.diag,
      "setup_counters" -> run.setupCounters,
      "timed_counters" -> run.timedCounters,
      "spans" -> Trace.spans.map(s => Seq(s.id, s.parent, s.name, s.op, s.t0Ms, s.t1Ms)),
      "jobs" -> jobs)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(Paths.get(a("out")), json.writeValueAsBytes(out))
    spark.stop()
  }
}

final class Run(spark: SparkSession, in: String, work: String, setups: Int) {
  import Main._

  val done = ArrayBuffer.empty[Done]
  var setupS: Seq[Double] = Nil
  var setupCounters: Map[String, Long] = Map.empty
  var timedCounters: Map[String, Long] = Map.empty
  var diag: Map[String, Any] = Map.empty

  private def lines(name: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(in, name)).asScala.toSeq.map(_.split("\t", -1))

  private val productSchema = StructType(Seq("id", "categoryId", "categoryName", "sku", "name",
    "description").map(StructField(_, StringType)) ++ Seq(
    StructField("price", DoubleType), StructField("text", StringType)))

  private def productRow(f: Array[String]): Row =
    Row(f(0), f(1), f(2), f(3), f(4), f(5), f(6).toDouble, f(4) + " " + f(5))

  private def corpus(): DataFrame =
    spark.createDataFrame(lines("corpus.tsv").map(productRow).asJava, productSchema)

  private def engine(store: TracedStore): ChatEngine =
    new ChatEngine(spark, store,
      embedder = new TracedEmbedder(HashProjectionEmbedder(dims = Dims)),
      completions = new TracedCompletion(new EchoCompletionClient),
      searcher = new TracedSearcher(ExactSearcher))

  /** Sets up `setups` times, each on a fresh store, and keeps the last;
    * each earlier store is deleted once the next one is up. */
  private def setUp[T](make: String => T): T = {
    val times = ArrayBuffer.empty[Double]
    var last: Option[(T, String)] = None
    (1 to setups).foreach { k =>
      val dir = s"$work/setup$k"
      val before = Trace.counterSnapshot
      val t0 = System.nanoTime()
      val made = make(dir)
      times += (System.nanoTime() - t0) / 1e9
      setupCounters = Trace.counterSnapshot.map { case (n, v) => n -> (v - before.getOrElse(n, 0L)) }
      last.foreach { case (_, d) => deleteTree(Paths.get(d)) }
      last = Some((made, dir))
    }
    setupS = times.toSeq
    last.get._1
  }

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** A fixed single-thread integer kernel; its time tracks host speed. */
  private def probe(): Double = {
    val t0 = System.nanoTime()
    var s = 0x9e3779b97f4a7c15L; var acc = 0L; var i = 0
    while (i < 100000000) {
      s += 0x9e3779b97f4a7c15L
      var z = (s ^ (s >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      acc ^= z ^ (z >>> 31); i += 1
    }
    if (acc == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Replays every op once, each in its own `op` span; a thrown op is
    * recorded as failed and the replay goes on. `before` runs ahead of
    * each op, untimed. Counters and GC time are also taken over the timed
    * ops alone. */
  private def replay(ops: Seq[Op], before: () => Unit = () => ())(exec: Op => String): Unit = {
    val probeBefore = probe()
    var timed0: Option[(Map[String, Long], Long)] = None
    ops.foreach { op =>
      before()
      if (op.phase == "timed" && timed0.isEmpty) timed0 = Some((Trace.counterSnapshot, gcMs))
      Trace.currentOp = op.idx
      val t0 = Trace.nowMs
      val (ok, info) =
        try Trace.span("op")((true, exec(op)))
        catch { case e: Exception => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      done += Done(op.idx, op.phase, op.kind, t0, Trace.nowMs, ok, info)
      Trace.currentOp = -1
    }
    val (c0, gc0) = timed0.getOrElse((Trace.counterSnapshot, gcMs))
    timedCounters = Trace.counterSnapshot.map { case (n, v) => n -> (v - c0.getOrElse(n, 0L)) }
    val rt = Runtime.getRuntime
    diag = Map("probe_before_s" -> probeBefore, "probe_after_s" -> probe(),
      "gc_timed_s" -> (gcMs - gc0) / 1e3, "gc_total_s" -> gcMs / 1e3,
      "heap_used_mb" -> (rt.totalMemory() - rt.freeMemory()) / (1L << 20),
      "heap_max_mb" -> rt.maxMemory() / (1L << 20),
      "cpus" -> spark.sparkContext.defaultParallelism)
  }

  // ---------------------------------------------------------------- chat

  /** Each session's earlier turns, as the engine would have stored them:
    * the user message, the echo client's answer, and the session row whose
    * TokensUsed is their running total. Timestamps lie in the past, so W1
    * drops these messages first. */
  private def history(eng: ChatEngine): Seq[CompletionRow] = {
    val echo = new EchoCompletionClient
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    lines("history.tsv").zipWithIndex.groupBy(_._1(0)).toSeq.sortBy(_._1).flatMap {
      case (sid, turns) =>
        val msgs = turns.flatMap { case (f, i) =>
          val (text, promptTokens, tokens) = echo.complete(eng.systemPrompt, f(1))
          Seq(CompletionRow.message(sid, CompletionRow.SenderUser, f(1),
              tokens = Tokenizer.count(f(1)), promptTokens = 0,
              ts = new java.sql.Timestamp(t0 + 2000L * i), id = s"h$i-u"),
            CompletionRow.message(sid, CompletionRow.SenderAssistant, text,
              tokens = tokens, promptTokens = promptTokens,
              ts = new java.sql.Timestamp(t0 + 2000L * i + 1), id = s"h$i-a"))
        }
        CompletionRow.session(sid, s"chat $sid",
          msgs.map(m => m.Tokens.get + m.PromptTokens.get).sum) +: msgs
    }
  }

  /** ops: `phase turn session prompt`. A turn's info is the token counts
    * of its prompt, its answer and the assembled prompt. Checks: each
    * session's TokensUsed against the token sum over its messages, and
    * its message count. */
  def chat(ops: Seq[Op]): Map[String, Any] = {
    import spark.implicits._
    var seededTokens = Map.empty[String, Int]
    val (store, eng) = setUp { dir =>
      val st = new TracedStore(spark, dir)
      val e = engine(st)
      e.ingest("products", corpus(), "text")
      val rows = history(e)
      seededTokens = rows.filter(_.Type == CompletionRow.TypeMessage)
        .groupBy(_.SessionId).map { case (s, ms) => s -> ms.map(_.Tokens.get).sum }
      st.create(e.CompletionsTable, rows.toDS().toDF(), partitionCol = Some("SessionId"))
      (st, e)
    }
    replay(ops) { op =>
      val r = Trace.span("rag")(eng.complete(op.f(0), "products", op.f(1)))
      s"${Tokenizer.count(op.f(1))},${r.Tokens.get},${r.PromptTokens.get}"
    }
    diag += "history_tokens_min" -> seededTokens.values.minOption.getOrElse(0)
    val used = eng.sessions().map { case (id, _, u) => id -> u }.toMap
    val msgs = store.read(eng.CompletionsTable)
      .filter(col("Type") === CompletionRow.TypeMessage)
      .groupBy("SessionId")
      .agg(count(lit(1)), sum(coalesce(col("Tokens"), lit(0)) + coalesce(col("PromptTokens"), lit(0))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Map("sessions" -> used.keys.toSeq.sorted.map { s =>
      val (n, tokens) = msgs.getOrElse(s, (0L, 0L))
      Seq(s, used(s), tokens, n)
    })
  }

  // ----------------------------------------------------------- analytics

  /** ops: `phase <query name> pass`. The fixed tables are written once per
    * `stamp` (a build) into `tables`; a set-up opens each of them through
    * `graft.Tables`, which lists its files and resolves its schema. Bench's
    * hygiene runs before each query: clear the cache, unpersist leaked RDDs,
    * sweep scratch dirs. A query's info is its row count and an order-free
    * content hash. */
  def analytics(ops: Seq[Op], tables: String, stamp: String): Map[String, Any] = {
    AnalyticsData.ensure(spark, tables, stamp)
    val dir = setUp { _ => graft.Tables.All.foreach(graft.Tables.t(spark, tables, _).schema); tables }
    val queries = graft.SparkEntry.queries
    val hygiene = () => {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      graft.store.Scratch.sweep(); ()
    }
    replay(ops, hygiene) { op =>
      val r = Trace.span("queries." + op.kind)(digest(queries(op.kind)(spark, dir)))
      s"${r._1}:${r._2}"
    }
    Map.empty
  }

  /** Row count and a content hash that ignores row order; doubles and
    * floats are rounded to 10 significant digits first, so partial
    * aggregates merged in a different order hash alike. */
  private def digest(df: DataFrame): (Long, String) = {
    val canon = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", col(f.name))
        case _: ArrayType | _: StructType | _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(canon: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }
}
