package graft.store

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch

/** Versioned copy-on-write parquet store: the engine's answer to the
  * reference's mutable MongoDB collections (S4-S7, TX1;
  * MongoDbService.cs:241-439, :563-613) on an immutable file format.
  *
  * Layout per table:
  * {{{
  *   <root>/<table>/data/v<N>-<token>/<part>/...parquet  physical segments
  *   <root>/<table>/_versions/v<N>.manifest   the version's one record:
  *                                            schema, partition column,
  *                                            partition -> segment dir(s)
  *   <root>/<table>/_versions/v<N>.stats|.bloom.<col>  pruning sidecars
  *   <root>/<table>/_CURRENT                  current version number
  * }}}
  *
  * Every mutation commits a NEW manifest that reuses the segment dirs of
  * untouched partitions and points touched partitions at freshly written
  * dirs — so an upsert of one session rewrites one partition, not 100 TB.
  * The commit is the TX1 transaction with OPTIMISTIC CONCURRENCY
  * (the reference's TX1 is a real Mongo transaction,
  * MongoDbService.cs:563-592): every mutation records the version it
  * read, writes its segments under an attempt-unique directory, and then
  * claims its target epoch by an atomic no-overwrite directory rename
  * (`v<N>.claim`) — the rename is the compare-and-swap, so of two racing
  * committers exactly one owns `v+1`. The loser deletes its orphan
  * segments and throws ConcurrentModificationException (fail loudly,
  * never lose a mutation silently). The winner then swaps `_CURRENT`
  * atomically (write temp + rename with Options.Rename.OVERWRITE);
  * readers see the old version until the swap, and a crash mid-write
  * leaves garbage segments but a consistent table.
  *
  * All metadata IO goes through the Hadoop FileSystem API (resolved from
  * the root path's scheme), so the store works unchanged on local disk,
  * HDFS, or any object store with a Hadoop connector — the same contract
  * the IVF sidecar uses (IvfIndex.writeSidecar). Rename-atomicity is the
  * storage layer's: real on HDFS/local posix; on S3-like stores the
  * single-writer contract carries the guarantee instead.
  */
class DocumentStore(val spark: SparkSession, root: String) {
  import DocumentStore._

  private val hconf = spark.sessionState.newHadoopConf()
  private val fs: FileSystem = new HPath(root).getFileSystem(hconf)
  private val rootPath: HPath = fs.makeQualified(new HPath(root))
  // FileContext provides rename-with-overwrite (FileSystem.rename refuses
  // an existing destination on HDFS) — the ATOMIC_MOVE analog.
  private lazy val fc: FileContext = FileContext.getFileContext(rootPath.toUri, hconf)

  private def tdir(table: String): HPath = new HPath(rootPath, table)

  private def vfile(table: String, name: String): HPath =
    new HPath(new HPath(tdir(table), "_versions"), name)

  /** Qualified table directory — where index sidecars that travel with
    * a table (e.g. [[graft.search.ServePoint]]) live. */
  def tablePath(table: String): String = tdir(table).toString

  private def readString(p: HPath): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8))
      finally in.close()
    }

  private def writeString(p: HPath, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def currentVersion(table: String): Int =
    readString(new HPath(tdir(table), "_CURRENT")).map(_.trim.toInt).getOrElse(0)

  /** A manifest VALUE is one segment dir — or several, comma-joined:
    * [[append]] grows a partition by ADDING a segment instead of
    * rewriting it, and any rewriting mutation (upsert/delete/compact)
    * collapses the partition back to one dir. Dir names are
    * store-generated (`data/v<N>-<token>/__part=K`), so the separator
    * can never appear inside one. */
  private def splitDirs(v: String): Seq[String] = v.split(',').toSeq

  /** Every physical segment dir a manifest references. */
  private def dirsOf(m: Map[String, String]): Seq[String] =
    m.values.flatMap(splitDirs).toSeq

  /** Version `v` of `table` exactly as committed, from ONE read of its
    * record. A mutation takes one snapshot and derives everything from
    * it — the parts it rewrites, the schema it reads them under, the
    * partition column it locates victims with — so a commit racing
    * between two reads can never hand it a mix of two versions. Version
    * 0 is the never-created table. */
  private[store] def snapshot(table: String, v: Int): Snapshot = {
    if (v == 0) return Snapshot(0, Map.empty, new StructType(), None)
    val f = vfile(table, s"v$v.manifest")
    // a committed version MUST have its manifest: reading a corrupted
    // table (_CURRENT pointing at a missing manifest) as empty would
    // silently turn data loss into an empty-table answer
    def corrupted(what: String) = new IllegalStateException(
      s"table '$table' is corrupted: _CURRENT points at version $v but $f is $what")
    val lines = readString(f).getOrElse(throw corrupted("missing"))
      .split("\n").toSeq.filter(_.nonEmpty).map { l =>
        val Array(k, d) = l.split("\t", 2); k -> d
      }
    val (meta, parts) = lines.partition(_._1.startsWith("#"))
    val m = meta.toMap
    Snapshot(v, parts.toMap,
      DataType.fromJson(m.getOrElse(SchemaKey, throw corrupted("unreadable")))
        .asInstanceOf[StructType],
      m.get(PartColKey).filter(_.nonEmpty))
  }

  private[store] def snapshot(table: String): Snapshot =
    snapshot(table, currentVersion(table))

  /** Commit `next` over `base`, the snapshot this mutation READ
    * (`next.version` must be `base.version + 1`). The epoch claim is a
    * DIRECTORY rename without overwrite (`.claim-v<N>-<token>` →
    * `v<N>.claim`) — the CAS primitive: POSIX rename atomically refuses
    * a non-empty destination directory (the marker file inside
    * guarantees non-emptiness), and HDFS refuses any existing
    * destination at the namenode, so of two racing committers exactly
    * one owns epoch `v`. (A FILE rename is NOT a CAS on local
    * filesystems: POSIX rename overwrites files silently.) Only the claim
    * winner writes `v<N>.manifest` and swaps `_CURRENT`. A losing
    * committer deletes its own just-written segment dirs (the entries of
    * `next` not carried from `base`) and fails loudly; it never
    * publishes, so no mutation epoch is silently lost. Crash debris (a
    * claimed epoch whose `_CURRENT` swap never happened) blocks the epoch
    * until [[vacuum]] clears it — commit NEVER clears a claim itself,
    * because a claim it cannot distinguish from debris may belong to a
    * live committer between claim and swap.
    *
    * The manifest carries the version's schema and partition column, so
    * a layout change (create/repartitionBy) and its data become visible
    * in the same atomic swap, and time travel reads every version under
    * its own layout. */
  private[store] def commit(table: String, base: Snapshot, next: Snapshot): Unit = {
    val v = next.version
    require(v == base.version + 1,
      s"commit must target base+1 (got base=${base.version} v=$v)")
    val vd = new HPath(tdir(table), "_versions"); fs.mkdirs(vd)
    val token = java.util.UUID.randomUUID().toString
    val claimDir = new HPath(vd, s"v$v.claim")
    val tmpDir = new HPath(vd, s".claim-v$v-$token")
    fs.mkdirs(tmpDir)
    writeString(new HPath(tmpDir, "owner"), token) // non-empty: un-replaceable
    def claim(): Boolean =
      try { fc.rename(tmpDir, claimDir); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException if fs.exists(claimDir) => false
      }
    val owned = claim()
    // NOTE deliberately NO automatic debris-clearing here: a claim that
    // exists while _CURRENT < v could be a crashed commit's debris — or
    // a LIVE committer between its claim and its swap. Guessing "debris"
    // and clearing it would silently destroy the live committer's epoch
    // (the exact lost-update this CAS exists to prevent). Crash debris
    // is cleared by [[vacuum]], which runs with no writers in flight.
    if (!owned) {
      // lost the race: drop the segment dirs this attempt wrote (the
      // manifest entries not carried over from the base version)
      fs.delete(tmpDir, true)
      dirsOf(next.parts).toSet.diff(dirsOf(base.parts).toSet).foreach { dir =>
        val p = new HPath(dir)
        if (fs.exists(p)) fs.delete(p, true)
      }
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit on table '$table': read version ${base.version} but epoch $v " +
          s"was claimed by another writer; mutation NOT applied (segments cleaned). " +
          s"If no writer is live, the claim is crash debris — run vacuum to clear it")
    }
    val record = Seq(SchemaKey -> next.schema.json, PartColKey -> next.partCol.getOrElse("")) ++
      next.parts.toSeq.sorted
    writeString(new HPath(vd, s"v$v.manifest"),
      record.map { case (k, d) => s"$k\t$d" }.mkString("\n"))
    graft.tools.Timing(s"commit-stats-$table")(refreshStats(table, base, next))
    graft.tools.Timing(s"commit-blooms-$table")(refreshBlooms(table, base, next))
    val tmp = new HPath(tdir(table), s"_CURRENT.tmp$v")
    writeString(tmp, v.toString)
    fc.rename(tmp, new HPath(tdir(table), "_CURRENT"), Options.Rename.OVERWRITE)
  }

  /** The partition key expression: user column, or a single bucket for
    * unpartitioned tables. Values are directory-name-safe strings. */
  private def partExpr(partitionCol: Option[String]): Column = partitionCol match {
    case Some(c) => regexp_replace(coalesce(col(c).cast("string"), lit("__null")),
      "[^A-Za-z0-9_\\-]", "_")
    case None => lit("all")
  }

  /** Caller-named partition values, made directory-name-safe like
    * [[partExpr]]. */
  private def safeKeys(ps: Seq[String]): Set[String] =
    ps.map(_.replaceAll("[^A-Za-z0-9_\\-]", "_")).toSet

  /** The distinct partition keys of `df`'s rows (one small collect). */
  private def partKeys(df: DataFrame, partCol: Option[String]): Set[String] =
    df.select(partExpr(partCol).as("__part")).distinct()
      .collect().map(_.getString(0)).toSet

  /** Rows of a LocalRelation-rooted plan (unwrapping repartition/coalesce
    * wrappers), when at most `maxRows`. None for anything distributed:
    * this must NEVER pull computed data to the driver, only recognize
    * data already there. */
  private def localTinyRows(df: DataFrame, maxRows: Int = 10000): Option[Seq[Row]] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition, RepartitionByExpression}
    @annotation.tailrec
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case r: Repartition => unwrap(r.child)
      case r: RepartitionByExpression => unwrap(r.child)
      case other => other
    }
    unwrap(df.queryExecution.optimizedPlan) match {
      case lr: LocalRelation if lr.data.lengthCompare(maxRows) <= 0 =>
        Some(df.collect().toSeq)
      case _ => None
    }
  }

  /** Driver-side replica of [[partExpr]] for the atomic types whose
    * JVM toString equals Spark's string cast. None = partition type not
    * safely replicable, caller falls back to the Spark write. */
  private def localPartKey(partitionCol: Option[String],
                           schema: StructType): Option[Row => String] =
    partitionCol match {
      case None => Some(_ => "all")
      case Some(c) =>
        val idx = schema.fieldIndex(c)
        def sanitized(r: Row): String =
          if (r.isNullAt(idx)) "__null"
          else r.get(idx).toString.replaceAll("[^A-Za-z0-9_\\-]", "_")
        schema(idx).dataType match {
          case StringType | IntegerType | LongType | BooleanType => Some(sanitized(_))
          case _ => None
        }
    }

  /** The ONE gate that picks the driver-local write over a Spark job —
    * for metadata-scale frames (1-row meta tables, a chat session row),
    * where plan+schedule+commit of a Spark write costs ~200-900 ms per
    * call and parquet-mr writes the same file in ~10 ms (guide §5).
    * Returns `df`'s rows and their partition-key function when every
    * condition holds, None (nothing collected) otherwise:
    *
    *  - `df` is a LocalRelation of ≤ 10k rows ([[localTinyRows]] —
    *    never collects distributed data);
    *  - all types atomic ([[LocalParquet.supports]]) and the partition
    *    key driver-replicable ([[localPartKey]]);
    *  - no `keys` column (the match keys of a keyed rewrite) is a
    *    timestamp/date — key equality must not depend on the session's
    *    java8API row representation — or a float/double: Spark's join
    *    keys normalize NaN = NaN (and -0.0 = 0.0), JVM equality on
    *    doubles does not (NaN != NaN), so a driver-side match would keep
    *    a stored NaN-keyed row that the anti-join replaces. */
  private def localRows(df: DataFrame, partCol: Option[String],
                        keys: Seq[String]): Option[(Seq[Row], Row => String)] = {
    val sc = df.schema
    val unsafeKey = keys.exists(k => sc(k).dataType match {
      case TimestampType | DateType | FloatType | DoubleType => true
      case _ => false
    })
    if (unsafeKey || !LocalParquet.supports(sc)) None
    else for {
      keyFn <- localPartKey(partCol, sc)
      rows <- localTinyRows(df)
    } yield (rows, keyFn)
  }

  /** A fresh attempt-unique segment root (`data/v<N>-<token>`) and its
    * token: two optimistic committers racing toward the same epoch must
    * never share a physical dir, or the loser's write would clobber the
    * winner's data before the CAS even runs. */
  private def segmentRoot(table: String, v: Int): (HPath, String) = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    (new HPath(new HPath(tdir(table), "data"), s"v$v-$token"), token)
  }

  /** The driver-local writer: one parquet file per partition. */
  private def writeLocal(table: String, v: Int, schema: StructType, rows: Seq[Row],
                         keyFn: Row => String): Map[String, String] = {
    val (out, token) = segmentRoot(table, v)
    rows.groupBy(keyFn).map { case (k, rs) =>
      val dir = new HPath(out, s"__part=$k")
      fs.mkdirs(dir)
      LocalParquet.write(hconf, new HPath(dir, s"part-00000-$token.parquet"), schema, rs)
      k -> dir.toString
    }
  }

  /** Write `df`'s segments for version `v`; returns partition → dir. The
    * version's logical schema (`df.schema`) is the caller's to commit —
    * it rides in the manifest so reads NEVER infer (or merge) schemas
    * from data files: at 100 TB footer sniffing across segment dirs is an
    * IO pass of its own, and schema evolution (upsert adding a column)
    * would otherwise depend on which segment the reader lists first. */
  private[store] def writeSegments(table: String, df: DataFrame, v: Int,
                                   partitionCol: Option[String],
                                   sortBy: Seq[String] = Nil): Map[String, String] = {
    if (sortBy.isEmpty) localRows(df, partitionCol, Nil).foreach { case (rows, keyFn) =>
      return writeLocal(table, v, df.schema, rows, keyFn)
    }
    val (out, _) = segmentRoot(table, v)
    val keyed = df.withColumn("__part", partExpr(partitionCol))
    // the dynamic-partition writer sorts each task by __part (unstably)
    // unless the incoming ordering already leads with it — so clustering
    // must be expressed as (__part, sortBy...) HERE, where the writer
    // recognizes the prefix and skips its own sort
    val prepared =
      if (sortBy.isEmpty) keyed
      else keyed.sortWithinPartitions(col("__part") +: sortBy.map(col): _*)
    graft.tools.Timing(s"ws-$table")(
      prepared.write.mode("overwrite").partitionBy("__part").parquet(out.toString))
    fs.listStatus(out).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__part="))
      .map(st => st.getPath.getName.stripPrefix("__part=") -> st.getPath.toString)
      .toMap
  }

  /** Read segment dirs under snapshot `s`'s committed schema: old files
    * missing a later-added column yield nulls (standard parquet column
    * clipping), and no footer is ever opened for schema discovery. */
  private def readDirs(s: Snapshot, dirs: Seq[String]): DataFrame =
    spark.read.schema(s.schema).parquet(dirs: _*)

  /** Rows of `s`'s partitions `keys` — an empty frame of the table's
    * schema when none of them holds data, so a rewrite that touches no
    * stored partition can never narrow the committed schema. */
  private def readParts(s: Snapshot, keys: Set[String]): DataFrame = {
    val dirs = dirsOf(s.parts.filter { case (k, _) => keys.contains(k) })
    if (dirs.nonEmpty) readDirs(s, dirs)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), s.schema)
  }

  /** Data files of segment dirs (sidecars like `_SUCCESS` excluded). */
  private def dataFiles(dirs: Seq[String]): Seq[FileStatus] =
    dirs.flatMap(d => fs.listStatus(new HPath(d)).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    })

  /** The victim locator: partitions of `s` holding rows whose `keys`
    * tuple appears in `keyRows` (SQL equi-join — null key components
    * never match). When the partition column is part of the key, the
    * key rows' own partitions bound the set and nothing is read;
    * otherwise a column-pruned semi-join over the partitions not in
    * `skip` locates them. An unpartitioned table's one partition is the
    * victim without a scan, unless `exact` asks for actual matches. */
  private def victims(s: Snapshot, keyRows: DataFrame, keys: Seq[String],
                      skip: Set[String] = Set.empty, exact: Boolean = false): Set[String] = {
    val keySet = keyRows.select(keys.map(col): _*).distinct()
    val dirs = dirsOf(s.parts -- skip)
    if (s.partCol.isEmpty && !exact) Set("all")
    else if (s.partCol.exists(keys.contains)) partKeys(keySet, s.partCol)
    else if (dirs.isEmpty) Set.empty
    else partKeys(readDirs(s, dirs).join(keySet, keys, "left_semi"), s.partCol)
  }

  /** The one rewrite-and-commit step of every rewriting mutation: read
    * `s`'s `touched` partitions ([[readParts]]), let the caller's
    * `rows` turn them into those partitions' new contents, write them,
    * and commit the result over `s` — every other partition carried by
    * manifest reference, `rows`' schema as the new committed schema. */
  private def rewrite(table: String, s: Snapshot, touched: Set[String],
                      sortBy: Seq[String] = Nil)(rows: DataFrame => DataFrame): Unit = {
    val out = rows(readParts(s, touched))
    val written = writeSegments(table, out, s.version + 1, s.partCol, sortBy)
    commit(table, s,
      Snapshot(s.version + 1, (s.parts -- touched) ++ written, out.schema, s.partCol))
  }

  def exists(table: String): Boolean = fs.exists(new HPath(tdir(table), "_CURRENT"))

  /** Create/replace the table (bulk load — the §3.2 ingest sink).
    * `sortBy` clusters rows within each partition's files so parquet
    * row-group min/max stats prune point/range predicates on those
    * columns at read time (the same lever compact exposes). */
  def create(table: String, df: DataFrame, partitionCol: Option[String] = None,
             sortBy: Seq[String] = Nil): Unit = {
    val s = snapshot(table)
    fs.mkdirs(tdir(table))
    val written = writeSegments(table, df, s.version + 1, partitionCol, sortBy)
    commit(table, s, Snapshot(s.version + 1, written, df.schema, partitionCol))
  }

  /** Change the table's partition column ONLINE — the
    * `ALTER TABLE … PARTITIONED BY` of the store: one full COW rewrite
    * of the current snapshot under the new layout, published by the
    * same atomic claim+swap every mutation uses. Deliberately a full
    * rewrite (one scan + one write is the honest price of a layout
    * change; the return is every later partition-pruned read against
    * the new column). Readers never block; time travel keeps serving
    * old versions under THEIR OWN layout (each manifest records its
    * partition column), and the optional `sortBy` clusters files within
    * the new partitions (the min/max-skipping lever, as in create). */
  def repartitionBy(table: String, newPartitionCol: Option[String],
                    sortBy: Seq[String] = Nil): Unit = {
    val s = snapshot(table)
    require(s.version >= 1, s"table '$table' does not exist")
    val rows = readParts(s, s.parts.keySet)
    val written = writeSegments(table, rows, s.version + 1, newPartitionCol, sortBy)
    commit(table, s, Snapshot(s.version + 1, written, rows.schema, newPartitionCol))
  }

  /** Snapshot read of the current version (no partial states visible). */
  def read(table: String): DataFrame = readSnapshot(snapshot(table))

  private def readSnapshot(s: Snapshot): DataFrame =
    if (s.parts.isEmpty) spark.emptyDataFrame else readDirs(s, dirsOf(s.parts))

  /** Time-travel read: the table exactly as of committed version `v`
    * (1-based; `version(table)` is the newest). COW segments are
    * immutable, so the snapshot is consistent by construction. Valid
    * while `v`'s manifest survives [[vacuum]]'s retention horizon;
    * asking for a reclaimed version fails loudly (missing manifest),
    * never silently serves partial data. */
  def readVersion(table: String, v: Int): DataFrame = {
    val cur = currentVersion(table)
    require(v >= 1 && v <= cur, s"version $v out of range 1..$cur for table '$table'")
    readSnapshot(snapshot(table, v))
  }

  /** Committed versions whose manifests are currently retained
    * (readable via [[readVersion]]), ascending. */
  def versions(table: String): Seq[Int] = {
    val vd = new HPath(tdir(table), "_versions")
    if (!fs.exists(vd)) Seq.empty
    else fs.listStatus(vd).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
      .toSeq.sorted
  }

  /** Row-level diff between two retained versions (`fromV` < `toV`
    * typically, but any pair works): the table schema plus a `change`
    * column of 'added' / 'removed' — the pipeline-audit view of what a
    * mutation epoch actually did. Multiplicity-aware (`exceptAll`), so a
    * duplicate row inserted twice shows up twice. Cost: one hash
    * aggregation over the two snapshots' rows — there is no cheaper
    * general answer for a format whose segments are content-addressed
    * per partition, and unchanged partitions could be pruned by
    * comparing manifests first (not done: manifest dirs differ whenever
    * the partition was REWRITTEN, not only when rows changed). */
  def diff(table: String, fromV: Int, toV: Int): DataFrame = {
    val before = readVersion(table, fromV)
    val after = readVersion(table, toV)
    after.exceptAll(before).withColumn("change", lit("added"))
      .unionByName(before.exceptAll(after).withColumn("change", lit("removed")))
  }

  /** Keyed change feed between two retained versions: per-key rows
    * classified 'insert' / 'update' / 'delete', carrying the AFTER
    * image (nulls for deletes) — the consumer-facing face of [[diff]].
    * This is what lets downstream maintenance touch only what moved:
    * the reference re-vectorizes documents its add/remove endpoint
    * mutated (Vectorize/AddRemoveData.cs:25-50); at 100 TB the
    * vectorizer/indexer must subscribe to "which keys changed since the
    * version I last processed" rather than rescan, and this read is
    * that subscription (pair it with [[graft.streaming.VectorIngest]]
    * or an index store's incremental add/remove).
    *
    * Cost: ONE key-shuffle full-outer join of the two snapshots —
    * after-images compare to before-images as structs (null-safe), so
    * restated rows (upserts that wrote identical values) emit nothing.
    * Schema evolution: compares on `toV`'s committed columns; a column
    * added between the versions reads as null on the before side, so a
    * row whose only change is the backfilled value classifies as
    * 'update' (correct — a consumer must reprocess it). */
  def changeFeed(table: String, fromV: Int, toV: Int, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "changeFeed needs key columns")
    val after0 = readVersion(table, toV)
    val before0 = readVersion(table, fromV)
    // an empty snapshot (all rows deleted) reads as a zero-column frame;
    // take the schema from whichever side has one (toV wins — its
    // committed schema is the feed's shape)
    val shaped = if (after0.columns.nonEmpty) after0 else before0
    require(shaped.columns.nonEmpty, s"both versions of '$table' are empty")
    val cols = shaped.columns.toSeq
    val nonKey = cols.filterNot(keys.contains)
    def align(df: DataFrame): DataFrame =
      if (df.columns.isEmpty) shaped.limit(0)
      else shaped.limit(0).unionByName(df, allowMissingColumns = true)
        .select(cols.map(col): _*)
    val after = align(after0)
    val before = align(before0)
    def packed(df: DataFrame, tag: String) =
      df.select(keys.map(col) :+ struct(nonKey.map(col): _*).as(tag): _*)
    val joined = packed(before, "__b").join(packed(after, "__a"), keys, "full_outer")
    joined
      .withColumn("change",
        when(col("__b").isNull, lit("insert"))
          .when(col("__a").isNull, lit("delete"))
          .when(!(col("__b") <=> col("__a")), lit("update")))
      .filter(col("change").isNotNull)
      .select(keys.map(col) ++ nonKey.map(c => col(s"__a.$c").as(c)) :+ col("change"): _*)
  }

  /** Snapshot read restricted to the named partition-key values —
    * manifest-level partition pruning: segment dirs of other partitions
    * are never even listed, let alone opened. The IVF search path reads
    * only its nprobe centroid partitions through this. */
  def readPartitions(table: String, partKeys: Seq[String]): DataFrame = {
    val s = snapshot(table)
    // no matching partitions: keep the TABLE's schema (a zero-column
    // emptyDataFrame would crash callers selecting result columns)
    if (s.parts.isEmpty) spark.emptyDataFrame else readParts(s, safeKeys(partKeys))
  }

  /** The keyed-upsert driver-local fast path: applies — and commits —
    * the upsert entirely on the driver when every condition holds,
    * returning true; otherwise false with nothing written, and the
    * caller runs the generic Spark path. On top of the write gate
    * ([[localRows]], with the upsert keys as match keys):
    *
    *  - the partition column is part of the key (victim location needs
    *    no scan);
    *  - updates' fields match the committed schema by (name, type) —
    *    schema-evolution upserts take the generic path;
    *  - the touched partitions' files total ≤ [[LocalMaxBytes]] COMBINED
    *    — the bound on the driver heap the merge holds — and every
    *    file's footer matches the committed layout byte-for-byte
    *    ([[LocalParquet.readIfExact]] — INT96/evolved files decline).
    *
    * Semantics mirror the generic path exactly: SQL anti-join (null
    * keys never match), update-batch duplicates all survive, commit is
    * the same CAS + sidecar refresh + `_CURRENT` swap. */
  private def localUpsert(table: String, s: Snapshot, updates: DataFrame,
                          keys: Seq[String]): Boolean = {
    val committed = if (s.parts.isEmpty) updates.schema else s.schema
    def shape(sc: StructType) = sc.fields.map(f => (f.name, f.dataType)).toSeq
    if (!s.partCol.forall(keys.contains) || shape(committed) != shape(updates.schema))
      return false
    val (uRows, keyFn) = localRows(updates, s.partCol, keys).getOrElse(return false)
    val touched = uRows.map(keyFn).toSet
    val files = dataFiles(dirsOf(s.parts.filter { case (k, _) => touched.contains(k) }))
    if (files.map(_.getLen).sum > LocalMaxBytes) return false
    val kept = files.flatMap(st =>
      LocalParquet.readIfExact(hconf, st.getPath, committed).getOrElse(return false))
    // SQL left_anti on the key columns: null key components never match
    val kidx = keys.map(committed.fieldIndex)
    def keyOf(r: Row): Option[Seq[Any]] = {
      val vs = kidx.map(r.get)
      if (vs.contains(null)) None else Some(vs)
    }
    val upKeys = uRows.flatMap(keyOf).toSet
    val merged = kept.filter(r => keyOf(r).forall(k => !upKeys.contains(k))) ++ uRows
    val written = writeLocal(table, s.version + 1, committed, merged, keyFn)
    commit(table, s, Snapshot(s.version + 1, (s.parts -- touched) ++ written,
      committed, s.partCol))
    true
  }

  /** S5: keyed upsert (ReplaceOne(IsUpsert=true) analog). Only partitions
    * containing updated keys are rewritten; the rest of the table is
    * carried by manifest reference.
    *
    * Schema evolution (add-only, the Delta `mergeSchema` semantics):
    * updates may carry NEW columns — the committed schema becomes the
    * union, and rows in untouched partitions read back with nulls for
    * the added column (schema-clipped read, no rewrite). Updates may
    * also omit existing columns (filled null on the inserted rows).
    * Type changes fail loudly in the union resolution. */
  def upsert(table: String, updates: DataFrame, keys: Seq[String]): Unit = {
    val s = snapshot(table)
    // METADATA-SCALE FAST PATH (guide §5): a tiny LocalRelation update
    // against kB-sized touched partitions (chat sessions, semantic
    // caches, stream verdicts) pays ~2 Spark jobs per call on the
    // generic path where the whole read-merge-write cycle is
    // driver-trivial. The commit protocol, manifests, and sidecar
    // refreshes are IDENTICAL either way.
    if (localUpsert(table, s, updates, keys)) return
    // A matching OLD row may live in a different partition than its
    // replacement when the update moves the partition column. If the
    // partition column is part of the key (the reference's compound keys
    // always include it: (categoryId,_id) etc.), updates' partitions are
    // exactly the victims — no scan. Otherwise the locator scans the
    // rest of the table.
    val own = partKeys(updates, s.partCol)
    val touched =
      if (s.partCol.forall(keys.contains)) own
      else own ++ victims(s, updates, keys, skip = own)
    if (s.parts.isEmpty) rewrite(table, s, touched)(_ => updates)
    else rewrite(table, s, touched)(_
      .join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(updates, allowMissingColumns = true))
  }

  /** Keyed upsert that ALSO drops rows matching `dropKeysDf` in the SAME
    * commit — the index-maintenance shape: a re-added document's new
    * rows land while its old rows leave partitions the new rows don't
    * touch, without paying TWO COW rewrites of the same partitions
    * (delete-commit + upsert-commit read and rewrite every touched
    * partition twice; at q172's sf0.1 shape that was half the add
    * cost). `dropParts` bounds the partitions holding droppable rows
    * when the caller knows them from a reverse index (docmap); without
    * it they are located like [[delete]]'s keyed form. */
  def upsertDropping(table: String, updates: DataFrame, keys: Seq[String],
                     dropKeysDf: DataFrame, dropKeys: Seq[String],
                     dropParts: Option[Seq[String]] = None): Unit = {
    require(keys.nonEmpty && dropKeys.nonEmpty, "need key columns")
    val s = snapshot(table)
    val own = graft.tools.Timing(s"ud-$table-partkeys")(partKeys(updates, s.partCol))
    require(s.partCol.forall(keys.contains),
      "upsertDropping requires the partition column in the upsert key " +
        "(the reference-shape compound keys); use upsert + delete otherwise")
    val touched = own ++
      dropParts.map(safeKeys).getOrElse(victims(s, dropKeysDf, dropKeys))
    rewrite(table, s, touched) { cur =>
      val merged = cur
        .join(dropKeysDf.select(dropKeys.map(col): _*).distinct(), dropKeys, "left_anti")
        .join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
        .unionByName(updates, allowMissingColumns = true)
      // cluster the rewrite by partition: without this every shuffle task
      // sprays a sliver into every touched partition dir (tasks×partitions
      // small files per commit — the classic partitionBy mistake the bulk
      // build already avoids), and the NEXT mutation's read pays the
      // file-count back with interest
      s.partCol match {
        case Some(c) if touched.size > 1 => merged.repartition(col(c))
        case _ => merged
      }
    }
  }

  /** Append-only insert commit — the LSM half of the COW store: `rows`
    * land as ADDITIONAL segment dirs on their partitions, and NO
    * existing segment is listed, read, or rewritten, so an insert
    * trigger costs O(batch) regardless of table size. (An [[upsert]] of
    * 20 new documents into a 64-partition table rewrites every touched
    * partition — at 100 TB that is the whole table per micro-batch;
    * this is the operation streaming insert sinks must use instead.)
    * [[compact]] folds a partition's accumulated segments back into
    * ~maxFileBytes files; a partition with several segments always
    * qualifies as fragmented, so routine compaction bounds read fan-in.
    *
    * Caller contract: rows are NEW — nothing they carry supersedes an
    * existing row (use [[upsert]]/[[mergeSet]] otherwise; the store
    * cannot check this without reading, which would defeat the point).
    * Streaming replay caveat: a foreachBatch re-delivery would DUPLICATE
    * appended rows — a streaming sink may append only when a replay is
    * detectable (IndexIngest: replayed ids exist in docmap and route to
    * the keyed-rewrite path); otherwise keep the keyed upsert.
    * Schema follows upsert's add-only evolution: new columns extend the
    * committed schema; untouched segments read back nulls for them.
    * Per-partition stats/bloom sidecars refresh incrementally — an
    * appended partition counts as changed and is rescanned (segment-
    * granular sidecars would make that O(batch) too; not yet needed). */
  def append(table: String, rows: DataFrame): Unit = {
    val s = snapshot(table)
    // cluster the append by partition — the same discipline as
    // upsertDropping's rewrite: without it every task of `rows` sprays
    // a sliver file into every partition dir it holds rows for
    // (tasks × partitions tiny files PER TRIGGER for a streaming
    // append), and every later read/rewrite pays the file count back.
    // The un-numbered repartition is AQE-sized: a 20-doc trigger
    // coalesces to one write task, a bulk append spreads.
    val clustered = s.partCol match {
      case Some(c) => rows.repartition(col(c))
      case None => rows
    }
    val written = writeSegments(table, clustered, s.version + 1, s.partCol)
    val schema =
      if (s.parts.isEmpty) rows.schema
      else StructType(s.schema.fields ++
        rows.schema.fields.filterNot(f => s.schema.fieldNames.contains(f.name)))
    val merged = written.foldLeft(s.parts) { case (m, (k, d)) =>
      m.updated(k, m.get(k).map(old => s"$old,$d").getOrElse(d))
    }
    commit(table, s, Snapshot(s.version + 1, merged, schema, s.partCol))
  }

  /** Partial-column merge — the `$set` half of the reference's update
    * surface (UpdateOne `$set` on the vector field when vectorize-on-
    * write enriches an existing document, vs ReplaceOne for whole-doc
    * upserts = [[upsert]]). Rows matching `keys` get `setCols`
    * overwritten from `updates` (nulls in `updates` DO set null — $set
    * semantics, not coalesce); non-matching table rows keep their
    * values; update rows with no match are ignored (upsert=false).
    * Only partitions containing matched keys are rewritten. */
  def mergeSet(table: String, updates: DataFrame, keys: Seq[String],
               setCols: Seq[String]): Unit = {
    require(setCols.nonEmpty && setCols.intersect(keys).isEmpty,
      s"setCols must be non-empty and disjoint from keys: $setCols / $keys")
    val s = snapshot(table)
    if (s.parts.isEmpty) return
    val touched = victims(s, updates, keys, exact = true)
    if (!s.parts.keys.exists(touched.contains)) return
    // one row per key (a multi-valued $set batch is caller error); the
    // join side stays un-hinted — AQE broadcasts a small batch and
    // shuffles a corpus-scale one
    val renamed = setCols.foldLeft(updates.select((keys ++ setCols).map(col): _*)
      .dropDuplicates(keys).withColumn("__matched", lit(true))) { (d, c) =>
      d.withColumnRenamed(c, s"__set_$c")
    }
    rewrite(table, s, touched) { cur =>
      setCols.foldLeft(cur.join(renamed, keys, "left")) { (d, c) =>
        d.withColumn(c, when(col("__matched"), col(s"__set_$c")).otherwise(col(c)))
      }.select(cur.columns.map(col): _*)
    }
  }

  /** S6/S7: delete rows matching the predicate (point or bulk). The scan
    * prunes to partitions that may match only when the predicate binds
    * the partition column via the caller-supplied hint. */
  def delete(table: String, predicate: Column,
             touchedParts: Option[Seq[String]] = None): Unit = {
    val s = snapshot(table)
    val touched = touchedParts.map(safeKeys).getOrElse(s.parts.keySet)
    if (!s.parts.keys.exists(touched.contains)) return
    // SQL DELETE semantics: remove only rows where the predicate is TRUE.
    // A bare !predicate would also drop rows where it evaluates to NULL
    // (e.g. a NULL column in col("price") > 100) — silent data loss.
    rewrite(table, s, touched)(_.filter(!coalesce(predicate, lit(false))))
  }

  /** Keyed bulk delete — the anti-join form of S6/S7 for key sets too
    * large (or too compound) for a predicate literal: rows whose key
    * tuple appears in `keysDf` are removed. Victims come from the
    * locator ([[victims]]), and only they are read and rewritten
    * (anti-joined against the key frame), so the keys never visit the
    * driver — a retention purge of millions of keys (the CDC
    * delete-batch shape) stays distributed end-to-end. Compound keys are
    * first-class: the reference's own mutation key is
    * (Type, SessionId, Id) (MongoDbService.cs:573-575). Null key values
    * never match (SQL equi-join semantics), same as the predicate form's
    * null-is-not-deleted rule. */
  def delete(table: String, keysDf: DataFrame, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "keyed delete needs key columns")
    val s = snapshot(table)
    if (s.parts.isEmpty) return
    val touched = victims(s, keysDf, keys)
    if (!s.parts.keys.exists(touched.contains)) return
    rewrite(table, s, touched)(
      _.join(keysDf.select(keys.map(col): _*).distinct(), keys, "left_anti"))
  }

  def version(table: String): Int = currentVersion(table)

  /** Current version's physical layout: partition key → segment dir.
    * Metadata-only (one manifest read). Lets callers and specs assert
    * COW locality: a mutation that touches partition P must leave every
    * other partition's segment dir ENTRY unchanged (carried by manifest
    * reference, bytes never rewritten). */
  def layout(table: String): Map[String, String] = snapshot(table).parts

  /** Per-partition physical layout: (partition key, file count, bytes).
    * Metadata-only (one listing per partition dir, no data read) — the
    * health check an operator runs before deciding to [[compact]]. */
  def fileStats(table: String): Seq[(String, Int, Long)] = fileStatsOf(snapshot(table))

  private def fileStatsOf(s: Snapshot): Seq[(String, Int, Long)] =
    s.parts.toSeq.sortBy(_._1).map { case (k, dirs) =>
      val files = dataFiles(splitDirs(dirs))
      (k, files.length, files.map(_.getLen).sum)
    }

  /** OPTIMIZE-analog: rewrite fragmented partitions into ~`maxFileBytes`
    * files and commit the result as a new version. A COW store that
    * upserts continuously accumulates small files (every touched
    * partition is rewritten by however many tasks held its rows); at
    * 100 TB the resulting per-file overhead (open/footer/seek per task)
    * dominates scan cost, so compaction is a first-class store op —
    * same role as Delta/Iceberg OPTIMIZE.
    *
    * Scale shape: victims are chosen from file listings ONLY (no data
    * read) — a partition is fragmented iff its file count exceeds
    * ceil(bytes/maxFileBytes). Only victim partitions are read and
    * rewritten; everything else is carried by manifest reference. The
    * rewrite salts rows into ceil(bytes/maxFileBytes) slots per
    * partition (hash of the full row — deterministic, no row key
    * needed), so a giant partition compacts through many parallel tasks
    * instead of funneling into one. Readers are unaffected: the commit
    * is the same atomic `_CURRENT` swap every mutation uses, and old
    * versions stay time-travelable until [[vacuum]].
    *
    * `sortBy` additionally clusters rows within each rewritten file
    * (Z-order-lite: a plain within-task sort), tightening parquet
    * row-group min/max on those columns so the file-internal pruning
    * layer composes with [[readRange]]'s partition-level skipping.
    * Compaction also normalizes old files to the current committed
    * schema (evolved columns get materialized nulls).
    *
    * Returns true iff a new version was committed (false = nothing
    * fragmented; calling again is a no-op, so compaction is idempotent
    * until the next mutation). */
  def compact(table: String, maxFileBytes: Long = 128L << 20,
              sortBy: Seq[String] = Nil): Boolean = {
    require(maxFileBytes > 0, s"bad maxFileBytes $maxFileBytes")
    val s = snapshot(table)
    def idealFiles(bytes: Long): Int =
      math.max(1, math.ceil(bytes.toDouble / maxFileBytes).toInt)
    val slotsByPart = fileStatsOf(s).collect {
      case (k, n, bytes) if n > idealFiles(bytes) => k -> idealFiles(bytes)
    }.toMap
    if (slotsByPart.isEmpty) return false
    import spark.implicits._
    val slotsDf = slotsByPart.toSeq.toDF("__part", "__slots")
    // clustering (sortBy) happens inside writeSegments, where the write
    // task's (__part, sortBy...) sort survives the dynamic-partition writer
    rewrite(table, s, slotsByPart.keySet, sortBy) { df0 =>
      df0.withColumn("__part", partExpr(s.partCol))
        .join(broadcast(slotsDf), Seq("__part"))
        .withColumn("__slot", pmod(xxhash64(struct(df0.columns.map(col): _*)), col("__slots")))
        .repartition(slotsByPart.values.sum, col("__part"), col("__slot"))
        .drop("__part", "__slots", "__slot")
    }
    true
  }

  /** Collect per-partition min/max statistics for `cols` (numeric/date
    * columns) over the CURRENT version and persist them as the version's
    * stats sidecar. One column-pruned scan; the collected result is one
    * row per partition — driver-trivial at any corpus size. Stats are
    * keyed to the version they describe: any later mutation makes them
    * silently unused (never wrong), until the next analyze. */
  def analyze(table: String, cols: Seq[String]): Unit = {
    val s = snapshot(table)
    if (s.parts.isEmpty || cols.isEmpty) return
    writeString(vfile(table, s"v${s.version}.stats"),
      statsLines(s, dirsOf(s.parts), cols).mkString("\n"))
  }

  /** One column-pruned min/max scan over `dirs`, one stats line per
    * (partition, column). Reads through the version's COMMITTED schema
    * ([[readDirs]]) — parquet footer inference on an evolved table
    * would sample an arbitrary segment's schema and either throw or
    * nondeterministically skip stats for old partitions. */
  private def statsLines(s: Snapshot, dirs: Seq[String], cols: Seq[String]): Seq[String] = {
    val df = readDirs(s, dirs)
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) return Seq.empty
    val aggs = present.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"__min_$c"),
      max(col(c)).cast("double").as(s"__max_$c")))
    df.groupBy(partExpr(s.partCol).as("__part"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
      .flatMap { r =>
        val part = r.getString(0)
        present.zipWithIndex.flatMap { case (c, i) =>
          val lo = r.get(1 + 2 * i); val hi = r.get(2 + 2 * i)
          if (lo == null || hi == null) None // all-null column: no evidence
          else Some(s"$part\t$c\t$lo\t$hi")
        }
      }
  }

  /** Carry the stats sidecar across a commit: columns analyzed at the
    * base version stay analyzed at the new one, so [[readRange]] never
    * silently degrades to a full listing after a mutation epoch.
    * Incremental — partitions whose segment dir is CARRIED from the
    * base manifest keep their stats rows verbatim; only new/rewritten
    * partitions are scanned (column-pruned), so refresh cost tracks the
    * mutation, not the table size. Runs before the `_CURRENT` swap, so
    * a version is never visible without its stats. */
  private def refreshStats(table: String, base: Snapshot, next: Snapshot): Unit = {
    val baseStats = readStats(table, base.version).getOrElse(return)
    val cols = baseStats.keys.map(_._2).toSeq.distinct.sorted
    if (cols.isEmpty) return
    val (carried, changed) = next.parts.partition { case (k, d) => base.parts.get(k).contains(d) }
    val carriedLines = for {
      k <- carried.keys.toSeq.sorted; c <- cols
      (lo, hi) <- baseStats.get((k, c))
    } yield s"$k\t$c\t$lo\t$hi"
    val changedLines =
      if (changed.isEmpty) Seq.empty
      else statsLines(next, dirsOf(changed), cols)
    writeString(vfile(table, s"v${next.version}.stats"),
      (carriedLines ++ changedLines).mkString("\n"))
  }

  private def readStats(table: String, v: Int): Option[Map[(String, String), (Double, Double)]] =
    readString(vfile(table, s"v$v.stats")).map { body =>
      body.split("\n").iterator.filter(_.nonEmpty).map { l =>
        val Array(p, c, lo, hi) = l.split("\t", 4)
        (p, c) -> (lo.toDouble, hi.toDouble)
      }.toMap
    }

  /** Partition keys a `column BETWEEN lo AND hi` read must touch, by
    * min/max stats overlap, plus the total partition count. Pruning is
    * evidence-based: a partition survives unless its recorded [min,max]
    * provably misses the range — no stats (never analyzed, stale
    * version, all-null column) keeps the partition, so the answer can
    * only over-read, never drop rows. */
  def statsPrunedParts(table: String, column: String, lo: Any, hi: Any): (Seq[String], Int) = {
    val s = snapshot(table)
    val m = s.parts
    val l = lo.toString.toDouble; val h = hi.toString.toDouble
    readStats(table, s.version) match {
      case None => (m.keys.toSeq.sorted, m.size)
      case Some(st) =>
        // stats are stored as doubles: a long beyond 2^53 rounds, so the
        // kept-side bounds are widened by 2 ulps before comparing —
        // rounding can then only OVER-read, never drop a partition that
        // actually contains matching rows (the documented guarantee)
        def up(x: Double) = Math.nextUp(Math.nextUp(x))
        def dn(x: Double) = Math.nextDown(Math.nextDown(x))
        val kept = m.keys.filter { p =>
          st.get((p, column)) match {
            case Some((mn, mx)) => up(mx) >= l && dn(mn) <= h
            case None => true
          }
        }.toSeq.sorted
        (kept, m.size)
    }
  }

  /** Data-skipping range read: `column BETWEEN lo AND hi` touching only
    * the partitions whose analyzed min/max overlaps the range — the
    * manifest-level analog of parquet row-group pruning, one level
    * higher: skipped partitions are never listed, let alone opened. The
    * skipped-partition fraction is the 100 TB win: a range over a
    * clustered column reads O(selectivity) of the corpus. Falls back to
    * the full partition set (still filtered, still correct) when stats
    * are absent or stale. Numeric/date columns only — same contract as
    * [[analyze]]. */
  def readRange(table: String, column: String, lo: Any, hi: Any): DataFrame =
    readWhere(table, Seq((column, lo, hi)))

  /** Conjunctive multi-column data-skipping read: a partition survives
    * only if EVERY range's recorded stats overlap it (kept sets
    * intersect), and each missing-stats column keeps its partitions —
    * pruning composes but the over-read-never-drop guarantee is
    * per-column. All ranges are re-applied as row filters. */
  def readWhere(table: String, ranges: Seq[(String, Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "need at least one range")
    val kept = ranges
      .map { case (c, lo, hi) => statsPrunedParts(table, c, lo, hi)._1.toSet }
      .reduce(_ intersect _)
    val pred = ranges
      .map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }
      .reduce(_ && _)
    readPartitions(table, kept.toSeq.sorted).filter(pred)
  }

  /** Build a per-partition Bloom-filter sidecar for `column` over the
    * CURRENT version — point-lookup skipping for HIGH-CARDINALITY
    * columns the table is NOT clustered by, where [[analyze]]'s min/max
    * is useless (a scattered key's range covers every partition). One
    * column-pruned pass; per partition only the kB-sized serialized
    * sketch reaches the driver sidecar, never the keys. Keys are hashed
    * through `xxhash64(cast(column AS string))` — the identical
    * expression [[bloomPrunedParts]] replays driver-side, so build and
    * probe can never disagree on the hash domain. Integral and string
    * key columns only (float casts format differently across paths).
    * Like [[analyze]], the sidecar is carried and incrementally
    * refreshed across commits ([[refreshBlooms]]): carried partitions
    * keep their sketch verbatim, rewritten ones are rescanned. */
  def analyzeBloom(table: String, column: String,
                   expectedItemsPerPartition: Long = 1L << 22,
                   fpp: Double = 0.03): Unit = {
    require(column.matches("[A-Za-z0-9_]+"), s"unsafe column name '$column'")
    require(expectedItemsPerPartition > 0 && fpp > 0 && fpp < 1,
      s"bad bloom params ($expectedItemsPerPartition, $fpp)")
    val s = snapshot(table)
    if (s.parts.isEmpty) return
    val numBits = sketch.BloomFilter.create(expectedItemsPerPartition, fpp).bitSize()
    val lines = bloomLines(s, dirsOf(s.parts), column, expectedItemsPerPartition, numBits)
    if (lines.isEmpty) return // column absent from the committed schema
    writeString(vfile(table, s"v${s.version}.bloom.$column"),
      (s"__meta\t$expectedItemsPerPartition\t$numBits" +: lines).mkString("\n"))
  }

  /** One pass over `dirs`: per store-partition serialized Bloom sketch
    * of `column`, via Spark's own BloomFilterAggregate (the runtime-
    * filter kernel) — partial sketches merge map-side, the shuffle
    * carries bit arrays, not keys. */
  private def bloomLines(s: Snapshot, dirs: Seq[String], column: String,
                         items: Long, numBits: Long): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val df = readDirs(s, dirs)
    if (!df.columns.contains(column)) return Seq.empty
    val child = org.apache.spark.sql.GraftSqlBridge.expression(
      xxhash64(col(column).cast("string")))
    val agg = org.apache.spark.sql.GraftSqlBridge.column(
      new BloomFilterAggregate(child, CatLit(items), CatLit(numBits))
        .toAggregateExpression())
    df.groupBy(partExpr(s.partCol).as("__part")).agg(agg.as("__bloom"))
      .collect().toSeq.flatMap { r =>
        Option(r.get(1)).map { b =>
          val b64 = java.util.Base64.getEncoder
            .encodeToString(b.asInstanceOf[Array[Byte]])
          s"${r.getString(0)}\t$b64"
        }
      }
  }

  private def readBlooms(table: String, v: Int,
                         column: String): Option[Map[String, sketch.BloomFilter]] =
    readString(vfile(table, s"v$v.bloom.$column"))
      .map { body =>
        body.split("\n").iterator
          .filter(l => l.nonEmpty && !l.startsWith("__meta"))
          .map { l =>
            val Array(p, b64) = l.split("\t", 2)
            p -> sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(b64)))
          }.toMap
      }

  /** Carry the Bloom sidecars across a commit, mirroring
    * [[refreshStats]]: partitions whose segment dir is carried keep
    * their sketch lines verbatim; only rewritten partitions are
    * rescanned, so refresh cost tracks the mutation, not the table. */
  private def refreshBlooms(table: String, base: Snapshot, next: Snapshot): Unit = {
    val vd = new HPath(tdir(table), "_versions")
    val prefix = s"v${base.version}.bloom."
    val sidecars = fs.listStatus(vd).iterator.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).toSeq
    if (sidecars.isEmpty) return
    val (carried, changed) = next.parts.partition { case (k, d) => base.parts.get(k).contains(d) }
    for {
      f <- sidecars
      body <- readString(new HPath(vd, f))
      column = f.stripPrefix(prefix)
      lines = body.split("\n").toSeq.filter(_.nonEmpty)
      meta <- lines.find(_.startsWith("__meta\t"))
    } {
      val Array(_, itemsS, bitsS) = meta.split("\t", 3)
      val carriedLines = lines.filter { l =>
        val p = l.split("\t", 2)(0)
        p != "__meta" && carried.contains(p)
      }
      val changedLines =
        if (changed.isEmpty) Seq.empty
        else bloomLines(next, dirsOf(changed), column, itemsS.toLong, bitsS.toLong)
      writeString(new HPath(vd, s"v${next.version}.bloom.$column"),
        (meta +: (carriedLines ++ changedLines)).mkString("\n"))
    }
  }

  /** Partition keys a `column IN (values)` lookup must touch, by Bloom
    * membership, plus the total count. Evidence-based like
    * [[statsPrunedParts]]: a partition survives unless its sketch says
    * NO value can be present — no sidecar (never analyzed, stale
    * version) or a partition without a sketch line keeps everything, so
    * pruning can only over-read (fpp false positives), never drop a row
    * that exists. Values are hashed exactly as the build side hashed
    * the column (xxhash64 over the string form). */
  def bloomPrunedParts(table: String, column: String,
                       values: Seq[Any]): (Seq[String], Int) = {
    require(values.nonEmpty, "need at least one lookup value")
    import org.apache.spark.sql.catalyst.expressions.{XxHash64, Literal => CatLit}
    val s = snapshot(table)
    val m = s.parts
    readBlooms(table, s.version, column) match {
      case None => (m.keys.toSeq.sorted, m.size)
      case Some(bfs) =>
        val hashes = values.map { x =>
          new XxHash64(Seq(CatLit.create(x.toString,
            org.apache.spark.sql.types.StringType))).eval(null).asInstanceOf[Long]
        }
        val kept = m.keys.filter { p =>
          bfs.get(p) match {
            case Some(bf) => hashes.exists(bf.mightContainLong)
            case None => true
          }
        }.toSeq.sorted
        (kept, m.size)
    }
  }

  /** Bloom-pruned point lookup: `column IN (values)` touching only the
    * partitions whose sketch might hold one of the values — the store's
    * answer to "fetch these N documents by id" on a table clustered by
    * something else entirely. Falls back to the full partition set when
    * no sidecar exists (still filtered, still correct). */
  def readByKeys(table: String, column: String, values: Seq[Any]): DataFrame = {
    val (kept, _) = bloomPrunedParts(table, column, values)
    readParts(snapshot(table), kept.toSet).filter(col(column).isin(values: _*))
  }

  /** Garbage-collect segment directories referenced only by manifests
    * older than the `keepVersions` most recent ones, then drop those
    * manifests. Old snapshots stay readable down to the retention
    * horizon (time travel); beyond it, storage is reclaimed — without
    * this, a COW store's storage grows with write count, not data size.
    * Only dirs unreferenced by ALL retained manifests are deleted, and
    * `_CURRENT` is never touched. Vacuum is a maintenance op: run it
    * with no mutation in flight (an optimistic committer's not-yet-
    * claimed attempt dir looks like crash garbage to the sweep). */
  def vacuum(table: String, keepVersions: Int = 1): Unit = {
    require(keepVersions >= 1, "must keep at least the current version")
    val cur = currentVersion(table)
    val vd = new HPath(tdir(table), "_versions")
    if (!fs.exists(vd)) return
    // Uncommitted-epoch debris: claims/manifests/sidecars for versions
    // ABOVE _CURRENT are the remains of a commit that crashed between
    // its claim and its swap (with no writer in flight nothing live can
    // hold them). Clearing them here — and only here — is what unblocks
    // the next committer without commit itself ever guessing.
    fs.listStatus(vd).iterator.map(_.getPath.getName).foreach { name =>
      val ver = "^v(\\d+)\\.(manifest|stats|claim|bloom\\..+)$".r
      name match {
        case ver(n, _) if n.toInt > cur => fs.delete(new HPath(vd, name), true)
        case _ => if (name.startsWith(".claim-")) fs.delete(new HPath(vd, name), true)
      }
    }
    val all = fs.listStatus(vd).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
      .toSeq.sorted
    val (drop, keep) = all.partition(v => v <= cur - keepVersions)
    val live = keep.flatMap(v => dirsOf(snapshot(table, v).parts)).toSet
    val dead = drop.flatMap(v => dirsOf(snapshot(table, v).parts)).toSet -- live
    dead.foreach { dir =>
      val p = new HPath(dir)
      val dfs = p.getFileSystem(hconf)
      if (dfs.exists(p)) dfs.delete(p, true)
    }
    val bloomFiles = fs.listStatus(vd).iterator.map(_.getPath.getName)
      .filter(_.matches("^v\\d+\\.bloom\\..+$")).toSeq
    drop.foreach { v =>
      fs.delete(new HPath(vd, s"v$v.manifest"), false)
      fs.delete(new HPath(vd, s"v$v.stats"), false) // sidecars ride their
      fs.delete(new HPath(vd, s"v$v.claim"), true)  // version's lifetime
      bloomFiles.filter(_.startsWith(s"v$v.bloom."))
        .foreach(f => fs.delete(new HPath(vd, f), false))
    }
    // Crash-garbage sweep: a mutation that died between writeSegments and
    // commit (or lost the CAS race before its cleanup ran) leaves a
    // data/v<K>-<token> dir referenced by NO manifest, which the
    // manifest-driven pass above can never reach. With no mutation in
    // flight during vacuum, any attempt dir not referenced by a retained
    // manifest is garbage.
    val dataDir = new HPath(tdir(table), "data")
    if (fs.exists(dataDir)) {
      fs.listStatus(dataDir).iterator.filter(_.isDirectory).foreach { st =>
        val prefix = st.getPath.toString
        val referenced = live.exists(d => d == prefix || d.startsWith(prefix + "/"))
        if (!referenced) fs.delete(st.getPath, true)
      }
    }
  }
}

object DocumentStore {

  /** One committed version: its number, partition → segment dir(s), the
    * logical schema its segments are read under, and its partition
    * column — exactly what `v<N>.manifest` records. */
  private[store] final case class Snapshot(version: Int, parts: Map[String, String],
                                           schema: StructType, partCol: Option[String])

  // manifest record keys; partition keys are directory-name-safe
  // ([A-Za-z0-9_-]), so a '#'-prefixed key can never collide with one
  private val SchemaKey = "#schema"
  private val PartColKey = "#partcol"

  /** Combined file bytes of the touched partitions above which a keyed
    * upsert declines the driver-local path. It bounds the driver heap the
    * local merge holds (every kept row is materialized there), so it is
    * a constant, not a knob. */
  private[store] val LocalMaxBytes: Long = 8L << 20
}
