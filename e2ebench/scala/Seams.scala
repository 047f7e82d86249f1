package e2ebench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.embed.Embedder
import graft.rag.CompletionClient
import graft.search.VectorSearcher
import graft.store.DocumentStore

/** The engine's public seams, each wrapped in a span. The wrappers only
  * delegate; with tracing off they add a flag check per call. */
final class TracedEmbedder(inner: Embedder) extends Embedder {
  override def dims: Int = inner.dims
  override def embed(batch: Seq[String]): Seq[Array[Float]] = Trace.span("embed") {
    val t0 = System.nanoTime()
    val out = inner.embed(batch)
    Trace.count("embed.calls")
    Trace.count("embed.texts", batch.size)
    Trace.count("embed.busy_ns", System.nanoTime() - t0)
    out
  }
}

/** Times plan construction; the scan itself runs in the Spark job the
  * caller's collect submits (attributed by [[JobLog]]). */
final class TracedSearcher(inner: VectorSearcher) extends VectorSearcher {
  override def topK(corpus: DataFrame, vecCol: String, idCol: String,
                    probe: Array[Float], k: Int): DataFrame =
    Trace.span("search.plan")(inner.topK(corpus, vecCol, idCol, probe, k))

  override def topKWhere(corpus: DataFrame, vecCol: String, idCol: String,
                         probe: Array[Float], k: Int, pred: Column): DataFrame =
    Trace.span("search.plan")(inner.topKWhere(corpus, vecCol, idCol, probe, k, pred))
}

final class TracedCompletion(inner: CompletionClient) extends CompletionClient {
  override def complete(systemPrompt: String, userPrompt: String): (String, Int, Int) =
    Trace.span("rag.completion") {
      val r = inner.complete(systemPrompt, userPrompt)
      Trace.count("rag.prompt_tokens", r._2)
      r
    }
}

/** Store with commit and read spans. In a traced run every commit also
  * counts the files and bytes it added under the table's directory (the
  * directory walk is its own `trace` span, so it is charged to tracing,
  * not to the store). */
final class TracedStore(spark: SparkSession, root: String) extends DocumentStore(spark, root) {

  private def files(table: String): Map[String, Long] = {
    val dir = new File(new java.net.URI(tablePath(table)))
    def walk(f: File): Iterator[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator(f.getPath -> f.length())
    if (dir.exists()) walk(dir).toMap else Map.empty
  }

  private def commit[T](table: String)(body: => T): T =
    if (!Trace.enabled) body
    else {
      val before = Trace.span("trace")(files(table))
      val r = Trace.span("store.commit")(body)
      Trace.span("trace") {
        val added = files(table).filter { case (p, _) => !before.contains(p) }
        Trace.count("store.commits")
        Trace.count("store.files", added.size)
        Trace.count("store.bytes", added.values.sum)
      }
      r
    }

  override def create(table: String, df: DataFrame, partitionCol: Option[String],
                      sortBy: Seq[String]): Unit =
    commit(table)(super.create(table, df, partitionCol, sortBy))

  override def upsert(table: String, updates: DataFrame, keys: Seq[String]): Unit =
    commit(table)(super.upsert(table, updates, keys))

  override def read(table: String): DataFrame =
    Trace.span("store.read")(super.read(table))
}
