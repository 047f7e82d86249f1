package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.search.InvertedIndex

/** Streaming keyword-index maintenance: the continuous form of the
  * q161 batch sync — the reference keeps its search index "searchable
  * in near real-time" by applying point add/remove as data changes
  * (AddRemoveData.cs:64-105, README.md:182-194); here the change feed
  * is a Structured Streaming source and the sink hands each
  * micro-batch to the index's one maintenance path,
  * [[InvertedIndex.applyChanges]] (one postings commit and one docmap
  * commit per trigger), so a freshly ingested document is
  * phrase/BM25/tf·idf-searchable one trigger later.
  *
  * Input contract: rows (change, id, text) where `change` ∈
  * {insert, update, delete} — exactly [[graft.store.DocumentStore.changeFeed]]'s
  * shape, or any CDC feed mapped onto it.
  *
  * Delivery semantics: foreachBatch may replay a batch after a crash;
  * applying a batch is an idempotent re-application of the same delta
  * (a replayed id is found in docmap and replaced wholesale, a delete of
  * an absent doc is a no-op), so replays converge to the same index —
  * the same effective-exactly-once-per-key argument as [[VectorIngest]].
  * In-batch duplicates for one key collapse to the LAST change before
  * applying (a delete+reinsert in one batch lands as the reinsert).
  *
  * Scale notes: the sink collects nothing per trigger — every driver
  * result of the apply path is bounded by the index's bucket count, so
  * a 20-doc trigger and a bulk backfill take the same path; index state
  * lives on disk + checkpoint, executors hold nothing across batches. */
object IndexIngest {

  /** @param versionCol when given, the in-batch winner per key is the
    *   highest version (replay-stable); otherwise physical arrival
    *   order decides — fine for feeds that emit at most one change per
    *   key per batch (the store's changeFeed shape). */
  def start(changes: DataFrame, indexDir: String,
            idCol: String, textCol: String, changeCol: String,
            checkpointDir: String,
            versionCol: Option[String] = None): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // last change per key wins within the batch
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol))
          .orderBy(versionCol.map(col(_).desc)
            .getOrElse(monotonically_increasing_id().desc))
        InvertedIndex.applyChanges(batch.sparkSession, indexDir, batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col(changeCol).as("change"), col(idCol).as("doc_id"),
            col(textCol).as("text")))
      }
      .start()
}
