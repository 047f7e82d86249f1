package graft.operators

import org.apache.spark.sql.DataFrame

/** Tracked eager `localCheckpoint` — the release half the Dataset API
  * does not give you.
  *
  * `Dataset.localCheckpoint` persists an INTERNAL RDD; the returned
  * Dataset is a fresh `LogicalRDD` over it with no CacheManager entry,
  * so a later `Dataset.unpersist()` on it is a silent no-op and the
  * blocks stay pinned until the ContextCleaner happens to GC the RDD —
  * the r13/r14 leak class that polluted a whole bench JVM (one leaked
  * projection inflated every co-resident query 18-31%). Spark exposes
  * no public handle from the checkpointed Dataset back to its RDD, so
  * this wrapper captures the persistent-RDD ids that APPEAR during
  * materialization (the PageRank iteration idiom, centralized) and
  * releases exactly those.
  *
  * Attribution caveat: ids are diffed around the materialization, so
  * two threads checkpointing concurrently could cross-attribute — all
  * operator-internal uses here are single-threaded per call. */
object Pinned {

  /** A checkpointed frame plus the handle that actually frees it. */
  final case class Df(df: DataFrame, rddIds: Set[Int]) {
    def release(): Unit = {
      val sc = df.sparkSession.sparkContext
      rddIds.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    }
  }

  /** Eagerly materialize `df` into local checkpoint blocks, tracking
    * the RDD ids so `release()` can free them deterministically. */
  def checkpoint(df: DataFrame): Df = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = df.localCheckpoint(eager = true)
    Df(out, sc.getPersistentRDDs.keySet.toSet.diff(before))
  }

  /** `checkpoint` + try/finally release around `body` — for operators
    * whose result no longer references the pinned frame (driver-side
    * rows, literal closes, written output). */
  def withCheckpoint[T](df: DataFrame)(body: DataFrame => T): T = {
    val p = checkpoint(df)
    try body(p.df) finally p.release()
  }
}
