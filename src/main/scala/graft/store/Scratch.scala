package graft.store

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of every directory a query or a harness creates: store
  * and index roots, streaming sources and checkpoints, staged files and
  * output-sized rematerializations all come from here, and nothing in
  * `src/main` mints a temp directory of its own.
  *
  * Root. Every directory lives under one root:
  *   - `spark.graft.scratchDir` if set — on a real cluster point this at
  *     shared storage, exactly like a reliable checkpoint dir (the
  *     directories of [[dir]] are created through `java.nio`, so those
  *     need a locally mounted path);
  *   - otherwise a per-JVM temp directory whose shutdown hook deletes it
  *     and whatever is left in it at exit. That root is ONLY legal under
  *     a `local[*]` master: on a multi-executor cluster a driver-local
  *     root would have each executor write to its own filesystem and the
  *     read back silently miss data, so it REFUSES non-local masters
  *     loudly instead of corrupting results.
  *
  * Per-query directories. [[dir]] and [[materializeTracked]] return a
  * fresh path (never a reused one, so a second pass can never meet the
  * previous pass's files) and REGISTER it. A registered directory is
  * deleted precisely by [[release]] (the iterative operators free each
  * iteration as soon as its successor lands; [[stage]] frees its write
  * directory) or in bulk by [[sweep]].
  *
  * Cached directories. A per-process cache that hands a directory to a
  * LATER query (a built index served by another gate) takes it out of
  * the registry with [[keep]]: [[sweep]] then leaves it alone, it still
  * lives under the root (so the exit hook deletes it), and the cache
  * deletes a directory it replaces through [[release]].
  *
  * Between queries. [[reset]] is the one hygiene step every harness main
  * runs before a query: clear the table cache, unpersist the RDDs the
  * previous query left pinned, and sweep its directories — so a
  * long-lived session's scratch disk is bounded by one query, not the
  * session's history. It runs only after the previous result has been
  * fully consumed: a scan still held over a swept dir fails on its next
  * read, by design.
  *
  * Staging. [[stage]] feeds the streaming gates' file sources: it writes
  * a frame the caller has already partitioned and moves the part files
  * into a source directory with ascending modification times.
  */
object Scratch {

  /** File count for node-sized operator outputs (the graph operators'
    * rank/label tables): a handful of right-sized parquet files instead
    * of one shuffle-partition-count of tiny ones. */
  val OutputFiles = 8

  private val seq = new AtomicLong(0L)

  @volatile private var defaultRoot: Option[Path] = None

  /** Registered directories: deleted by [[release]] or [[sweep]]. */
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Directories handed to a cache by [[keep]]: deleted only by
    * [[release]] (or with the root at exit). */
  private val kept = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def root(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.scratchDir").getOrElse {
      val master = spark.sparkContext.master
      require(master.startsWith("local"),
        s"Scratch: master '$master' is not local and spark.graft.scratchDir " +
          "is unset — the default driver-local temp root is invisible to " +
          "remote executors (reads would silently miss data). Point " +
          "spark.graft.scratchDir at shared storage (HDFS/object store).")
      synchronized {
        defaultRoot match {
          case Some(p) => p.toString
          case None =>
            val p = Files.createTempDirectory("graft-scratch-")
            Runtime.getRuntime.addShutdownHook(new Thread(() => delete(p)))
            defaultRoot = Some(p)
            p.toString
        }
      }
    }

  private def fresh(spark: SparkSession, tag: String): String =
    s"${root(spark)}/$tag-${seq.incrementAndGet()}"

  private def delete(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => try Files.deleteIfExists(f) catch { case _: Exception => () })
    }
  }

  /** A fresh, empty, registered directory under the root. */
  def dir(spark: SparkSession, tag: String): String = {
    val path = fresh(spark, tag)
    Files.createDirectories(Paths.get(path))
    live.add(path)
    path
  }

  /** Take `path` out of the registry for a per-process cache: [[sweep]]
    * leaves it alone; [[release]] still deletes it. Returns `path`. */
  def keep(path: String): String = {
    if (live.remove(path)) kept.add(path)
    path
  }

  /** Materialize `df` ONCE to scratch parquet and return a clean scan of
    * it — the unpinned alternative to returning a plan over the
    * operator's own `localCheckpoint`, which leaves one pinned RDD per
    * call in the shared JVM until the caller's reference is GC'd. The
    * returned plan references no persisted blocks and no input lineage,
    * so callers may unpersist whatever `df` depended on as soon as this
    * returns, and any executor can re-read the files after executor loss.
    * Intended for OUTPUT-sized frames (a rank table, a keeper-id list, a
    * per-doc offset map) — never for re-staging a corpus.
    *
    * `coalesceTo > 0` coalesces the write to that many files. `df` is
    * always a materialized leaf (checkpoint or parquet scan) at the call
    * sites, so the coalesce narrows only the write job, never an
    * upstream aggregation. */
  def rematerialize(df: DataFrame, tag: String, coalesceTo: Int = 0): DataFrame =
    materializeTracked(df, tag, coalesceTo)._1

  /** [[rematerialize]] plus the written path, for callers that release
    * precisely (the per-iteration reliable checkpoints). */
  def materializeTracked(df: DataFrame, tag: String,
                         coalesceTo: Int = 0): (DataFrame, String) = {
    val spark = df.sparkSession
    val path = fresh(spark, tag)
    val w = if (coalesceTo > 0) df.coalesce(coalesceTo) else df
    w.write.mode("overwrite").parquet(path)
    live.add(path)
    (spark.read.parquet(path), path)
  }

  /** Write `df` as parquet and move its part files into `into`, in part
    * order, with modification times `modTime`, `modTime + 1 s`, ... —
    * the file sources of the streaming gates order files by modification
    * time, so the staged files become DETERMINISTIC micro-batches under
    * `maxFilesPerTrigger` (the source's tie-break on equal times is not
    * contractual). The caller partitions `df`: `coalesce(1)` for one file
    * per batch, `repartitionByRange` for ascending event-time files (file
    * k+1's min ≥ file k's max, so sequential batches never drop rows
    * behind a watermark). The write directory is released on return. */
  def stage(df: DataFrame, into: String, modTime: Long): Unit = {
    val tmp = dir(df.sparkSession, "stage")
    df.write.mode("overwrite").parquet(tmp)
    new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
        val dst = new java.io.File(into, f.getName)
        Files.move(f.toPath, dst.toPath)
        dst.setLastModified(modTime + i * 1000L)
      }
    release(tmp)
  }

  /** Delete one directory made here (registered or kept). No-op for
    * unknown paths (e.g. already swept). Callers must be done READING
    * any scan over this path — the files go away immediately. */
  def release(path: String): Unit =
    if (live.remove(path) | kept.remove(path)) delete(Paths.get(path))

  /** Delete ALL registered directories; returns how many. Kept
    * directories survive. */
  def sweep(): Int = {
    import scala.jdk.CollectionConverters._
    val paths = live.asScala.toSeq
    paths.foreach(release)
    paths.size
  }

  /** The between-queries reset: clear the table cache, unpersist every
    * persistent RDD, and [[sweep]]. Returns how many RDDs were
    * unpersisted — nonzero means the previous query left blocks pinned. */
  def reset(spark: SparkSession): Int = {
    spark.catalog.clearCache()
    val leaked = spark.sparkContext.getPersistentRDDs.values
    leaked.foreach(_.unpersist(blocking = false))
    sweep()
    leaked.size
  }

  /** Registered-but-unreleased dir count (test/tripwire surface). */
  def liveCount: Int = live.size
}
