package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.embed.{Embed, HashProjectionEmbedder}
import graft.search.VectorSearch
import graft.store.{DocumentStore, Scratch}

/** RAG-lifecycle + mutable-store operators (SURVEY §2.1 S5/S6, §2.8 V1/V4,
  * §3.1/§3.2) expressed as verifiable queries over the testdata tables.
  */
object RagQueries extends QuerySet {

  private val embedder = HashProjectionEmbedder(dims = 64)

  /** §3.2 ingest + V2 search, end to end: batch-embed the documents
    * corpus (V4), embed the probe text (V1), exact top-10 (V2). Embedder
    * output is engine-defined => rows-only driver check — but the query
    * GATES itself: the embedded corpus is persisted through the
    * versioned store, read back, and the identical search must
    * reproduce the in-memory answer row-for-row (ids, langs, rounded
    * sims); any drift across the write/read boundary zeroes the output,
    * so the driver's rows>0 check sees a round-trip failure. */
  private def q60(s: SparkSession, d: String): DataFrame = {
    // persist: the embedded corpus fed three consumers (in-memory top-k,
    // the store write, and the returned plan's re-evaluation), each
    // re-running the embed stage (guide §2.4/§5 — the q64 finding). The
    // k-row result is localized below, so the cache releases in-query.
    val docs = Embed.withEmbedding(t(s, d, "documents"), "text", "vector", embedder)
      .persist()
    val probe = embedder.embedOne("spark query filter join window")
    // HASH-EXACT oracle face: retrieval ids + cosine scores on the 2^-20
    // integer grid. The oracle replays the 64-d embedder (the q64 hash
    // stack at dims=64) for corpus AND probe, then the cosine loop's
    // exact sequential double accumulation — so ids, ranking, and scores
    // are all bit-verified; only the stub completion text (engine-
    // defined) stays out of the gated output.
    def top10(corpus: DataFrame): DataFrame =
      VectorSearch.exactTopK(corpus, "vector", "doc_id", probe, 10)
        .select(col("doc_id"), col("lang"),
          floor(col("sim") * (1L << 20)).as("sim_grid"))
    val mem = top10(docs)
    val store = new DocumentStore(s, Scratch.dir(s, "q60"))
    store.create("docs", docs)
    val memRows = mem.collect().toSeq // k rows — driver-trivial
    val roundTripExact =
      memRows == top10(store.read("docs")).collect().toSeq
    docs.unpersist(blocking = false)
    // the k verified rows, localized (bounded by k) — returning `mem`
    // would re-run the whole embed+search at the caller's action
    val out = s.createDataFrame(
      s.sparkContext.parallelize(memRows, 1), mem.schema)
    if (roundTripExact) out else out.limit(0)
  }

  /** One 64-d replay of the q64 hash stack (shared shape, dims=64) for
    * corpus + probe, then the [[graft.functions.VectorExpressions]]
    * cosine loop reproduced as sequential double reductions. */
  private val q60Sql =
    """WITH RECURSIVE
      |tok0 AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS tok
      |  FROM documents),
      |cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok0 GROUP BY 1, 2),
      |ptk(tok, c) AS (VALUES ('spark', CAST(1 AS BIGINT)), ('query', 1), ('filter', 1), ('join', 1), ('window', 1)),
      |tk AS (SELECT DISTINCT tok FROM (SELECT tok FROM cnt UNION ALL SELECT tok FROM ptk) u),
      |fnv AS (
      |  SELECT tok,
      |    list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |      list_transform(string_split(tok, ''), ch -> CAST(ascii(ch) AS HUGEINT))),
      |      (h, ch) -> ((xor(h, ch) // 4294967296 * CAST(1099511628211 AS HUGEINT)) % 4294967296 * 4294967296
      |                 + (xor(h, ch) % 4294967296) * CAST(1099511628211 AS HUGEINT))
      |                % CAST(18446744073709551616 AS HUGEINT)) AS h
      |  FROM tk),
      |sm(tok, d, state) AS (
      |  SELECT tok, 0, xor(h, CAST(42 AS HUGEINT)) FROM fnv
      |  UNION ALL
      |  SELECT tok, d + 1, xor(z2, z2 >> 31)
      |  FROM (
      |    SELECT tok, d,
      |      ((x2 // 4294967296 * CAST(10723151780598845931 AS HUGEINT)) % 4294967296 * 4294967296
      |       + (x2 % 4294967296) * CAST(10723151780598845931 AS HUGEINT))
      |      % CAST(18446744073709551616 AS HUGEINT) AS z2
      |    FROM (
      |      SELECT tok, d, xor(z1, z1 >> 27) AS x2
      |      FROM (
      |        SELECT tok, d,
      |          ((x1 // 4294967296 * CAST(13787848793156543929 AS HUGEINT)) % 4294967296 * 4294967296
      |           + (x1 % 4294967296) * CAST(13787848793156543929 AS HUGEINT))
      |          % CAST(18446744073709551616 AS HUGEINT) AS z1
      |        FROM (
      |          SELECT tok, d, xor(z0, z0 >> 30) AS x1
      |          FROM (
      |            SELECT tok, d,
      |              (state + CAST(11400714819323198485 AS HUGEINT))
      |                % CAST(18446744073709551616 AS HUGEINT) AS z0
      |            FROM sm WHERE d < 64) s0) s1) s2) s3) s4),
      |sg AS (
      |  SELECT tok, d, CASE WHEN state % 2 = 0 THEN 1 ELSE -1 END AS sgn
      |  FROM sm WHERE d > 0),
      |acc AS (
      |  SELECT c.doc_id, s.d, CAST(SUM(c.c * s.sgn) AS BIGINT) AS a
      |  FROM cnt c JOIN sg s ON c.tok = s.tok GROUP BY 1, 2),
      |inv AS (
      |  SELECT doc_id, CAST(1 AS DOUBLE) / sqrt(CAST(SUM(a * a) AS DOUBLE)) AS iv
      |  FROM acc GROUP BY 1),
      |vec AS (
      |  SELECT a.doc_id,
      |    list(CAST(CAST(CAST(a.a AS DOUBLE) * i.iv AS FLOAT) AS DOUBLE) ORDER BY a.d) AS v
      |  FROM acc a JOIN inv i USING (doc_id) GROUP BY a.doc_id),
      |pacc AS (
      |  SELECT s.d, CAST(SUM(p.c * s.sgn) AS BIGINT) AS a
      |  FROM ptk p JOIN sg s ON p.tok = s.tok GROUP BY 1),
      |pinv AS (SELECT CAST(1 AS DOUBLE) / sqrt(CAST(SUM(a * a) AS DOUBLE)) AS iv FROM pacc),
      |pvec AS (
      |  SELECT list(CAST(CAST(CAST(a AS DOUBLE) * (SELECT iv FROM pinv) AS FLOAT) AS DOUBLE) ORDER BY d) AS v
      |  FROM pacc),
      |scored AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(list_zip(v, (SELECT v FROM pvec)), z -> z[1] * z[2])), (x, y) -> x + y) AS dot,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(v, x -> x * x)), (x, y) -> x + y) AS na,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform((SELECT v FROM pvec), x -> x * x)), (x, y) -> x + y) AS nb
      |  FROM vec),
      |sims AS (
      |  SELECT doc_id,
      |    CASE WHEN na = 0 OR nb = 0 THEN CAST(0 AS DOUBLE)
      |         ELSE dot / (sqrt(na) * sqrt(nb)) END AS sim
      |  FROM scored)
      |SELECT s.doc_id, doc.lang, CAST(floor(s.sim * 1048576) AS BIGINT) AS sim_grid
      |FROM sims s JOIN documents doc USING (doc_id)
      |ORDER BY s.sim DESC, s.doc_id LIMIT 10""".stripMargin

  /** S5 upsert through the versioned store: replace one part row, insert
    * a new one, read the committed snapshot back. The oracle states the
    * same semantics relationally (anti-join ∪ updates). */
  private def q61(s: SparkSession, d: String): DataFrame = {
    val store = new DocumentStore(s, Scratch.dir(s, "q61"))
    store.create("part", t(s, d, "part"), partitionCol = Some("p_brand"))
    import s.implicits._
    val updates = Seq(
      (1L, "updated part one", "Brand#99", "UPDATED", 1, 1.0),
      (999999L, "brand new part", "Brand#99", "NEW", 2, 2.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    store.upsert("part", updates, keys = Seq("p_partkey"))
    store.read("part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
      .orderBy(col("p_partkey"))
  }

  private val q61Sql =
    """SELECT p_partkey, p_name, p_brand FROM (
      |  SELECT p_partkey, p_name, p_brand FROM part WHERE p_partkey NOT IN (1, 999999)
      |  UNION ALL SELECT 1 AS p_partkey, 'updated part one' AS p_name, 'Brand#99' AS p_brand
      |  UNION ALL SELECT 999999 AS p_partkey, 'brand new part' AS p_name, 'Brand#99' AS p_brand)
      |ORDER BY p_partkey""".stripMargin

  /** S6/S7 delete through the versioned store (point + predicate). */
  private def q62(s: SparkSession, d: String): DataFrame = {
    val store = new DocumentStore(s, Scratch.dir(s, "q62"))
    store.create("supplier", t(s, d, "supplier"))
    store.delete("supplier", col("s_suppkey") === 1 || col("s_acctbal") < 0)
    store.read("supplier")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  private val q62Sql =
    """SELECT s_suppkey, s_name FROM supplier
      |WHERE NOT (s_suppkey = 1 OR s_acctbal < 0)
      |ORDER BY s_suppkey""".stripMargin

  /** Time travel over the versioned COW store: superseded snapshots stay
    * readable until vacuumed, so v1 (pre-delete) and v2 (post-delete)
    * serve their exact committed states side by side — the audit/
    * reproducibility read path a training pipeline needs ("which corpus
    * version did this run train on?"). */
  private def q99(s: SparkSession, d: String): DataFrame = {
    val store = new DocumentStore(s, Scratch.dir(s, "q99"))
    store.create("supplier", t(s, d, "supplier"))
    store.delete("supplier", col("s_acctbal") < 0)
    val v1 = store.readVersion("supplier", 1)
      .select(lit(1L).as("v"), col("s_suppkey"))
    val v2 = store.readVersion("supplier", 2)
      .select(lit(2L).as("v"), col("s_suppkey"))
    v1.union(v2).orderBy(col("v"), col("s_suppkey"))
  }

  private val q99Sql =
    """SELECT CAST(1 AS BIGINT) AS v, s_suppkey FROM supplier
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS v, s_suppkey FROM supplier WHERE NOT (s_acctbal < 0)
      |ORDER BY v, s_suppkey""".stripMargin

  /** Store compaction (OPTIMIZE analog): a fragmented table — every
    * partition written by many tasks — compacts into ~maxFileBytes files
    * behind the same atomic version swap every mutation uses. The
    * in-query gate zeroes the output unless compaction actually
    * committed AND reduced the physical file count, so a silent no-op
    * regression is driver-visible; the oracle checks the rewrite lost or
    * changed no rows. */
  private def q104(s: SparkSession, d: String): DataFrame = {
    val store = new DocumentStore(s, Scratch.dir(s, "q104"))
    store.create("orders", t(s, d, "orders").repartition(16),
      partitionCol = Some("o_orderpriority"))
    val filesBefore = store.fileStats("orders").map(_._2).sum
    val committed = store.compact("orders")
    val filesAfter = store.fileStats("orders").map(_._2).sum
    store.read("orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      .filter(lit(committed && filesAfter < filesBefore))
      .orderBy(col("o_orderkey"))
  }

  private val q104Sql =
    """SELECT o_orderkey, o_orderpriority, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Min/max data-skipping read: orders stored with a custkey-clustered
    * partition key, analyzed, then range-read — partitions whose
    * recorded [min,max] misses the range are never listed. The gate
    * zeroes the output unless pruning actually skipped partitions; the
    * oracle recomputes the range from the raw table, so over- OR
    * under-reading both fail the hash. */
  private def q105(s: SparkSession, d: String): DataFrame = {
    val store = new DocumentStore(s, Scratch.dir(s, "q105"))
    // adaptive bucket width: ~10 partitions at any scale (never fewer
    // than 2 — width floors at 100 and custkeys reach 150 even at
    // sf0.001); the 10..80 range sits inside bucket 0, so pruning must
    // skip at least one partition at every scale. Width only shapes the
    // Spark-side layout — the oracle recounts from the raw table.
    val orders = t(s, d, "orders")
    val width = math.max(100L,
      orders.agg(max(col("o_custkey"))).head().getLong(0) / 10)
    val clustered = orders
      .withColumn("ck_bucket", floor(col("o_custkey") / width).cast("long"))
    store.create("orders_ck", clustered, partitionCol = Some("ck_bucket"))
    store.analyze("orders_ck", Seq("o_custkey"))
    val (kept, total) = store.statsPrunedParts("orders_ck", "o_custkey", 10L, 80L)
    store.readRange("orders_ck", "o_custkey", 10L, 80L)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      .filter(lit(kept.size < total))
      .orderBy(col("o_orderkey"))
  }

  private val q105Sql =
    """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |FROM orders WHERE o_custkey >= 10 AND o_custkey <= 80
      |ORDER BY o_orderkey""".stripMargin

  /** Bloom-sidecar point-lookup skipping
    * ([[DocumentStore.analyzeBloom]]/[[DocumentStore.readByKeys]]): the
    * orders table clustered by CUSTKEY buckets, then looked up by five
    * scattered ORDERKEYS — the case min/max stats (q105) cannot prune,
    * because a sequentially-assigned key's [min,max] spans every
    * custkey partition. The per-partition Bloom sketch says "provably
    * absent" per key, so the lookup touches only the partitions that
    * actually hold one of the five orders (plus fpp noise). The gate
    * zeroes the output unless pruning skipped partitions; the oracle
    * recomputes the same five quartile-ranked keys and replays the IN
    * filter on the raw table. */
  private def q150(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val store = new DocumentStore(s, Scratch.dir(s, "q150"))
    val orders = t(s, d, "orders")
    val width = math.max(100L,
      orders.agg(max(col("o_custkey"))).head().getLong(0) / 10)
    val clustered = orders
      .withColumn("ck_bucket", floor(col("o_custkey") / width).cast("long"))
    store.create("orders_bl", clustered, partitionCol = Some("ck_bucket"))
    store.analyzeBloom("orders_bl", "o_orderkey",
      expectedItemsPerPartition = 1L << 20, fpp = 0.01)
    val cnt = orders.count()
    val keys = orders.select(col("o_orderkey"))
      .withColumn("rn", row_number().over(Window.orderBy(col("o_orderkey"))))
      .filter(col("rn").isin(1L, cnt / 4, cnt / 2, 3 * cnt / 4, cnt))
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
    val (kept, total) = store.bloomPrunedParts("orders_bl", "o_orderkey", keys)
    store.readByKeys("orders_bl", "o_orderkey", keys)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      // the must-prune gate only binds when pruning is POSSIBLE: with
      // fewer partitions than lookup keys (tiny sf), five scattered keys
      // can legitimately touch every partition — requiring a skip there
      // would fail correct behavior. At sf0.01+ (11 buckets > 5 keys)
      // the strict skip requirement is in force.
      .filter(lit(kept.size < total || total <= keys.size))
      .orderBy(col("o_orderkey"))
  }

  private val q150Sql =
    """WITH ranked AS (
      |  SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn,
      |         COUNT(*) OVER () AS n
      |  FROM orders),
      |k AS (SELECT o_orderkey FROM ranked
      |      WHERE rn IN (1, n // 4, n // 2, 3 * n // 4, n))
      |SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM k)
      |ORDER BY o_orderkey""".stripMargin

  /** Z-order multi-column skipping: orders laid out by the round-robin
    * Morton interleave of (o_custkey, o_totalprice, o_orderkey) via
    * [[graft.store.ZOrder]] — each partition covers a value-space
    * orthant, so the min/max sidecar is tight on ALL THREE columns and
    * `readWhere` prunes on any of them (q105's linear clustering can
    * only ever prune its one sort column). The gate zeroes the output
    * unless EVERY single-column pruning actually skipped partitions;
    * the oracle recounts the combined range from the raw table, so
    * over- or under-reading fails the hash. */
  private def q133(s: SparkSession, d: String): DataFrame = {
    val store = new DocumentStore(s, Scratch.dir(s, "q133"))
    val z = graft.store.ZOrder.withZBucket(
      t(s, d, "orders"), Seq("o_custkey", "o_totalprice", "o_orderkey"), log2Buckets = 4)
    store.create("orders_z", z, partitionCol = Some("zbucket"))
    store.analyze("orders_z", Seq("o_custkey", "o_totalprice", "o_orderkey"))
    val hiKey = t(s, d, "orders").agg(max(col("o_orderkey"))).head().getLong(0) / 2
    val (kc, tc) = store.statsPrunedParts("orders_z", "o_custkey", 10L, 60L)
    val (kp, tp) = store.statsPrunedParts("orders_z", "o_totalprice", 1000.0, 20000.0)
    val (kk, tk) = store.statsPrunedParts("orders_z", "o_orderkey", 0L, hiKey)
    store.readWhere("orders_z",
        Seq(("o_custkey", 10L, 60L), ("o_totalprice", 1000.0, 20000.0),
          ("o_orderkey", 0L, hiKey)))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
      .filter(lit(kc.size < tc && kp.size < tp && kk.size < tk))
      .orderBy(col("o_orderkey"))
  }

  private val q133Sql =
    """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |FROM orders
      |WHERE o_custkey >= 10 AND o_custkey <= 60
      |  AND o_totalprice >= 1000 AND o_totalprice <= 20000
      |  AND o_orderkey >= 0
      |  AND o_orderkey <= (SELECT MAX(o_orderkey) // 2 FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** Row-level diff between two committed store versions — the pipeline
    * audit view of what a mutation epoch did ("what changed between the
    * corpus my last run trained on and today's"): multiplicity-aware
    * added/removed rows across a delete + an upsert. The oracle restates
    * both snapshots relationally and diffs them with EXCEPT ALL. */
  private def q111(s: SparkSession, d: String): DataFrame = {
    val store = new DocumentStore(s, Scratch.dir(s, "q111"))
    store.create("supplier", t(s, d, "supplier"))
    store.delete("supplier", col("s_acctbal") < 0)
    import s.implicits._
    store.upsert("supplier",
      Seq((1L, "renamed one", 0, 100.0))
        .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      keys = Seq("s_suppkey"))
    store.diff("supplier", 1, 3)
      .select(col("s_suppkey"), col("s_name"), col("change"))
      .orderBy(col("change"), col("s_suppkey"))
  }

  private val q111Sql =
    """WITH v1 AS (SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier),
      |v2 AS (SELECT * FROM v1 WHERE NOT (s_acctbal < 0)),
      |v3 AS (SELECT * FROM v2 WHERE s_suppkey <> 1
      |       UNION ALL SELECT CAST(1 AS BIGINT), 'renamed one',
      |         CAST(0 AS INT), CAST(100.0 AS DOUBLE)),
      |adds AS (SELECT s_suppkey, s_name, 'added' AS change
      |         FROM (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v1)),
      |rems AS (SELECT s_suppkey, s_name, 'removed' AS change
      |         FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v3))
      |SELECT * FROM adds UNION ALL SELECT * FROM rems
      |ORDER BY change, s_suppkey""".stripMargin

  /** Keyed change feed between store versions — the "what moved since
    * the version I last processed" subscription an incremental
    * vectorizer/indexer consumes instead of rescanning (the scale form
    * of the reference's mutate-then-revectorize endpoint,
    * AddRemoveData.cs). A delete epoch plus one upsert epoch carrying
    * an update, an IDENTICAL restatement, and a fresh insert must feed
    * out as exactly delete/update/insert rows — the restated key must
    * emit NOTHING (null-safe struct compare), which the oracle's
    * relational replay checks hash-exactly. */
  private def q132(s: SparkSession, d: String): DataFrame = {
    val store = new DocumentStore(s, Scratch.dir(s, "q132"))
    store.create("supplier", t(s, d, "supplier"))
    store.delete("supplier", col("s_acctbal") < 0)                       // v2
    import s.implicits._
    val restated = store.read("supplier").filter(col("s_suppkey") === 2)
    val mutated = Seq((1L, "renamed one", 0, 100.0), (999999L, "brand new", 3, 1.5))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    store.upsert("supplier", mutated.unionByName(restated), Seq("s_suppkey")) // v3
    store.changeFeed("supplier", 1, 3, keys = Seq("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("s_acctbal").cast("double").as("s_acctbal"), col("change"))
      .orderBy(col("change"), col("s_suppkey"))
  }

  private val q132Sql =
    """WITH v1 AS (SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier),
      |v2 AS (SELECT * FROM v1 WHERE NOT (s_acctbal < 0)),
      |v3 AS (SELECT * FROM v2 WHERE s_suppkey <> 1
      |       UNION ALL SELECT CAST(1 AS BIGINT), 'renamed one',
      |         CAST(0 AS INT), CAST(100.0 AS DOUBLE)
      |       UNION ALL SELECT CAST(999999 AS BIGINT), 'brand new',
      |         CAST(3 AS INT), CAST(1.5 AS DOUBLE)),
      |j AS (
      |  SELECT COALESCE(a.s_suppkey, b.s_suppkey) AS s_suppkey,
      |    a.s_name, CAST(a.s_acctbal AS DOUBLE) AS s_acctbal,
      |    CASE WHEN b.s_suppkey IS NULL THEN 'insert'
      |         WHEN a.s_suppkey IS NULL THEN 'delete'
      |         WHEN (b.s_name, b.s_nationkey, b.s_acctbal) IS DISTINCT FROM
      |              (a.s_name, a.s_nationkey, a.s_acctbal) THEN 'update'
      |    END AS change
      |  FROM v1 b FULL OUTER JOIN v3 a ON b.s_suppkey = a.s_suppkey)
      |SELECT s_suppkey, s_name, s_acctbal, change FROM j
      |WHERE change IS NOT NULL ORDER BY change, s_suppkey""".stripMargin

  /** Incremental materialized-view maintenance via
    * [[graft.store.IncrementalView]]: a grouped count/sum/min/max (+
    * HLL distinct-customer sketch) view over the orders store stays in
    * sync through a delete + upsert epoch by applying CHANGE-FEED
    * deltas only (before-images semi-joined from the old snapshot —
    * cost tracks the delta; min/max recount only groups whose extremum
    * left; the fact is never rescanned wholesale). The reference
    * hand-maintains exactly one such view (customers.salesOrderCount,
    * MongoDbService.cs:370-392). In-query gate: the maintained exact
    * aggregates bit-equal a from-scratch recompute (both-ways
    * exceptAll over DECIMAL), the HLL estimate stays within 5% of the
    * exact distinct recount per group; oracle replays the net state
    * (count/sum/avg/min/max) relationally. */
  private def q141(s: SparkSession, d: String): DataFrame = {
    import graft.store.IncrementalView
    val orders = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), col("o_totalprice"))
    val src = new DocumentStore(s, Scratch.dir(s, "q141-src"))
    val st = new DocumentStore(s, Scratch.dir(s, "q141-st"))
    src.create("orders", orders)                                       // v1
    IncrementalView.initialize(src, "orders", st, "agg",
      "o_orderpriority", "o_totalprice", distinctCol = Some("o_custkey"))
    src.delete("orders", col("o_orderkey") % 11 === 5)                 // v2
    val changed = orders.filter(col("o_orderkey") % 13 === 2)
      .withColumn("o_totalprice", col("o_totalprice") + 100.0)
    val inserted = orders.filter(col("o_orderkey") < 50)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"), col("o_custkey"),
        lit("9-NEW").as("o_orderpriority"), col("o_totalprice"))
    src.upsert("orders", changed.unionByName(inserted), keys = Seq("o_orderkey")) // v3
    IncrementalView.maintain(src, "orders", 1, 3, "o_orderkey",
      "o_orderpriority", "o_totalprice", st, "agg", distinctCol = Some("o_custkey"))
    val dec = col("o_totalprice").cast("decimal(18,2)")
    val recomputed = src.read("orders").groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), sum(dec).as("sum_val"),
        min(dec).as("min_val"), max(dec).as("max_val"),
        countDistinct(col("o_custkey")).as("nd_exact"))
    val cur = IncrementalView.derived(st.read("agg"))
    val exact = cur.drop("nd_sketch", "nd", "avg_val")
    val exactWant = recomputed.drop("nd_exact")
    // maintained exact aggregates bit-equal the recompute; the HLL
    // distinct estimate stays within 5% of the exact recount per group
    val synced = exact.exceptAll(exactWant).isEmpty &&
      exactWant.exceptAll(exact).isEmpty &&
      cur.select(col("o_orderpriority"), col("nd"))
        .join(recomputed.select(col("o_orderpriority"), col("nd_exact")),
          Seq("o_orderpriority"))
        .filter(abs(col("nd") - col("nd_exact")) > col("nd_exact") * 0.05)
        .isEmpty
    val out = cur.select(col("o_orderpriority"), col("cnt"),
        col("sum_val").cast("double").as("sum_val"),
        col("avg_val"),
        col("min_val").cast("double").as("min_val"),
        col("max_val").cast("double").as("max_val"))
      .orderBy(col("o_orderpriority"))
    if (synced) out else out.limit(0)
  }

  private val q141Sql =
    """WITH final AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice + 100.0 AS p
      |    FROM orders WHERE o_orderkey % 13 = 2
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, o_totalprice AS p
      |    FROM orders WHERE NOT (o_orderkey % 13 = 2) AND NOT (o_orderkey % 11 = 5)
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, '9-NEW', o_totalprice AS p
      |    FROM orders WHERE o_orderkey < 50)
      |SELECT o_orderpriority, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
      |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_val,
      |  CAST(MIN(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS min_val,
      |  CAST(MAX(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS max_val
      |FROM final GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Streaming CDC apply-changes: a mixed upsert/delete mutation stream
    * (real file source, seq-ordered batches) applied to the versioned
    * store through [[graft.streaming.EventStream.cdcApplySink]] — the
    * reference's full add/remove surface as a stream. Keys hit all
    * three shapes: plain insert, insert-then-modify, and
    * insert-(modify-)then-delete (keys divisible by 35 exercise the
    * within/cross-batch collapse to a net delete). The oracle replays
    * the net effect relationally; a mis-ordered or dropped op changes
    * the surviving rows and breaks the hash. */
  private def q140(s: SparkSession, d: String): DataFrame = {
    val sup = t(s, d, "supplier")
    val base = sup.withColumn("op", lit("upsert")).withColumn("seq", col("s_suppkey"))
    val mods = sup.filter(col("s_suppkey") % 7 === 0)
      .withColumn("s_name", concat(lit("mod "), col("s_name")))
      .withColumn("op", lit("upsert")).withColumn("seq", col("s_suppkey") + 100000L)
    val dels = sup.filter(col("s_suppkey") % 5 === 0)
      .withColumn("op", lit("delete")).withColumn("seq", col("s_suppkey") + 200000L)
    val changes = base.unionByName(mods).unionByName(dels)
    val dir = Scratch.dir(s, "q140-src")
    Scratch.stage(changes.repartitionByRange(4, col("seq")),
      dir, System.currentTimeMillis())
    val src = s.readStream.schema(changes.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val store = new DocumentStore(s, Scratch.dir(s, "q140"))
    val qy = graft.streaming.EventStream.cdcApplySink(src, store, "sup",
      keys = Seq("s_suppkey"), opCol = "op", seqCol = "seq",
      checkpoint = Scratch.dir(s, "q140-ckpt"))
    qy.awaitTermination()
    store.read("sup")
      .select(col("s_suppkey"), col("s_name"),
        col("s_acctbal").cast("double").as("s_acctbal"))
      .orderBy(col("s_suppkey"))
  }

  private val q140Sql =
    """SELECT s_suppkey,
      |  CASE WHEN s_suppkey % 7 = 0 THEN 'mod ' || s_name ELSE s_name END AS s_name,
      |  CAST(s_acctbal AS DOUBLE) AS s_acctbal
      |FROM supplier WHERE NOT (s_suppkey % 5 = 0)
      |ORDER BY s_suppkey""".stripMargin

  /** End-to-end incremental index sync — the composition the change
    * feed exists for: source-of-truth vector store mutates (delete +
    * re-embed + insert epochs), [[DocumentStore.changeFeed]] feeds
    * EXACTLY the touched keys to the [[graft.search.IvfStore]]'s
    * add/remove maintenance, and search over the synced index must
    * reproduce exact brute force over the mutated corpus (nprobe =
    * numLists ⇒ IVF search IS exact, so the oracle replays the
    * mutations relationally and computes top-k — hash-exact, q30
    * shape). In-query gate: the synced index corpus must EQUAL the
    * source's current version row-for-row (both-ways exceptAll), so a
    * leaked delete or dropped upsert zeroes the output even when the
    * stale row isn't in the top-k. */
  private def q139(s: SparkSession, d: String): DataFrame = {
    import graft.search.{IvfIndex, IvfStore}
    val e = t(s, d, "embeddings")
    val src = new DocumentStore(s, Scratch.dir(s, "q139-src"))
    src.create("vecs", e)                                               // v1
    val idxStore = new DocumentStore(s, Scratch.dir(s, "q139-idx"))
    val idx = new IvfStore(idxStore, "ivf",
      IvfIndex.train(e, "embedding", "vec_id", numLists = 8, iters = 3, multiAssign = 1),
      "embedding", "vec_id")
    idx.build(e)
    src.delete("vecs", col("vec_id") % 17 === 3)                        // v2
    val changed = e.filter(col("vec_id") % 13 === 1)
      .withColumn("embedding", transform(col("embedding"), x => -x))
    val inserted = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.5f)).as("embedding"), col("label"))
    src.upsert("vecs", changed.unionByName(inserted), keys = Seq("vec_id")) // v3
    val feed = src.changeFeed("vecs", 1, 3, Seq("vec_id")).cache()
    idx.remove(feed.filter(col("change") === "delete")
      .select("vec_id").collect().map(_.getLong(0)).toSeq)
    idx.add(feed.filter(col("change").isin("insert", "update"))
      .select(col("vec_id"), col("embedding"), col("label")))
    val cur = src.read("vecs")
    val idxCur = idxStore.read("ivf").select(col("vec_id"), col("embedding"), col("label"))
    val synced = idxCur.exceptAll(cur).isEmpty && cur.exceptAll(idxCur).isEmpty
    val probe = e.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).toArray
    val res = idx.search(probe, 10, nprobe = 8)
      .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim"))
    if (synced) res else res.limit(0)
  }

  private val q139Sql = {
    def dl(c: String) = s"list_transform($c, x -> CAST(x AS DOUBLE))"
    s"""WITH v3 AS (
       |  SELECT vec_id, embedding, label FROM embeddings
       |    WHERE NOT (vec_id % 17 = 3) AND NOT (vec_id % 13 = 1)
       |  UNION ALL
       |  SELECT vec_id, list_transform(embedding, x -> -x) AS embedding, label
       |    FROM embeddings WHERE vec_id % 13 = 1
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(embedding, x -> CAST(x * CAST(0.5 AS FLOAT) AS FLOAT)) AS embedding,
       |    label
       |    FROM embeddings WHERE vec_id < 20),
       |q AS (SELECT ${dl("embedding")} AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, label,
       |  round(list_cosine_similarity(${dl("embedding")}, qv), 6) AS sim
       |FROM v3, q
       |ORDER BY list_cosine_similarity(${dl("embedding")}, qv) DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  /** Streaming vectorize-on-write, driver-gated end-to-end: the corpus
    * arrives as TWO micro-batches on a real Structured Streaming source
    * plus a REPLAYED slice (at-least-once delivery), flows through the
    * embed + keyed-upsert sink, and the committed store must converge
    * to exactly one row per document — the oracle recounts the input
    * table, so a duplicate or dropped document breaks the hash. The
    * streaming specs cover semantics in depth; this puts the
    * change-feed path itself under the driver's correctness gate. */
  private def q118(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val store = new DocumentStore(s, Scratch.dir(s, "q118"))
    val q = graft.streaming.VectorIngest.start(
      in.toDF().toDF("doc_id", "text"), store, "docs",
      HashProjectionEmbedder(dims = 16), "doc_id", "text",
      Scratch.dir(s, "q118-ckpt"))
    try {
      val rows = t(s, d, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq
      in.addData(rows.take(rows.size / 2): _*)
      q.processAllAvailable()
      in.addData(rows.drop(rows.size / 2): _*)
      in.addData(rows.take(50): _*) // replayed delivery of current state
      q.processAllAvailable()
    } finally q.stop()
    store.read("docs")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }

  private val q118Sql =
    "SELECT doc_id, text FROM documents ORDER BY doc_id"

  /** Streaming gap-sessionization over a REAL file source, driver-gated
    * with an EXACT oracle: the events table is staged as time-RANGED
    * parquet files (ascending per-file event time, one file per
    * micro-batch via maxFilesPerTrigger=1 — genuinely incremental
    * arrival that can never drop a row behind the watermark), followed
    * by two far-future sentinel files — the first jumps the global
    * watermark past every session's gap, the second runs the timeout
    * sweep under it — after which the emitted set IS the complete batch
    * answer (the sentinel's own user filtered out). No driver-side
    * collect: the gate harness scales with sf. Session identity is
    * tie-order-robust, so (start, end, n) hash-match the window-based
    * recount. */
  private def q119(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.dir(s, "q119-src")
    val ev = t(s, d, "events").select(col("user_id"), col("ts"))
    val maxMs = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val base = System.currentTimeMillis()
    Scratch.stage(ev.repartitionByRange(4, col("ts")), dir, base)
    def sentinel(offsetDays: Long): DataFrame =
      Seq((-1L, new java.sql.Timestamp(maxMs + offsetDays * 24 * 3600 * 1000)))
        .toDF("user_id", "ts")
    Scratch.stage(sentinel(30).repartition(1), dir, base + 60000)
    Scratch.stage(sentinel(60).repartition(1), dir, base + 120000)
    val src = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val sess = graft.streaming.EventStream.sessionize(s, src, gapMinutes = 360)
    val qname = "q119_out"
    val qy = sess.writeStream.outputMode("append")
      .format("memory").queryName(qname).start()
    try qy.processAllAvailable() finally qy.stop()
    s.table(qname)
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events").cast("long").as("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  private val q119Sql =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR ts - LAG(ts) OVER w > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g)
      |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Streaming windowed aggregation over a REAL file source (same
    * time-ranged staging as q119, one file per micro-batch, no driver
    * collect), driver-gated hash-exactly: the watermarked tumbling-
    * window agg only emits closed windows, so the same sentinel-file
    * flush as q119 drains every window; values aggregate as DECIMAL
    * inside the stream (bit-exact across engines and micro-batch
    * orders) and cast to double once at the end — the same parity
    * discipline as batch q50, whose oracle this reuses. */
  private def q120(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Scratch.dir(s, "q120-src")
    val ev = t(s, d, "events")
      .select(col("ts"), col("event_type"),
        col("value").cast("decimal(18,2)").as("value"))
    val maxMs = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val base = System.currentTimeMillis()
    Scratch.stage(ev.repartitionByRange(4, col("ts")), dir, base)
    def sentinel(offsetDays: Long): DataFrame =
      Seq((new java.sql.Timestamp(maxMs + offsetDays * 24 * 3600 * 1000),
        "__sentinel", BigDecimal(0)))
        .toDF("ts", "event_type", "value")
        .select(col("ts"), col("event_type"), col("value").cast("decimal(18,2)"))
    Scratch.stage(sentinel(30).repartition(1), dir, base + 60000)
    Scratch.stage(sentinel(60).repartition(1), dir, base + 120000)
    val src = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val agg = graft.streaming.EventStream.windowedStats(src)
    val qy = agg.writeStream.outputMode("append")
      .format("memory").queryName("q120_out").start()
    try qy.processAllAvailable() finally qy.stop()
    s.table("q120_out")
      .filter(col("event_type") =!= "__sentinel")
      .select(col("window_start"), col("event_type"), col("n"),
        col("total").cast("double").as("total"))
      .orderBy(col("window_start"), col("event_type"))
  }

  private val q120Sql =
    """SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS window_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Streaming exact dedup over a REAL file source, under the driver
    * gate: every event arrives TWICE in the first micro-batch (the
    * staged files carry the doubled table; maxFilesPerTrigger covers
    * them all in one trigger) plus once more in a later-staged replay
    * file — dropDuplicatesWithinWatermark must keep exactly one row per
    * event_id, and the oracle is simply the distinct input. No driver
    * collect: the doubled table and the replay slice are staged by
    * Spark writes. Horizon eviction itself is spec territory. */
  private def q121(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir(s, "q121-src")
    val ev = t(s, d, "events").select(col("event_id"), col("ts"), col("event_type"))
    val base = System.currentTimeMillis()
    Scratch.stage(ev.union(ev).repartition(4),
      dir, base) // in-batch duplicates, 4 files
    Scratch.stage(ev.orderBy(col("event_id")).limit(200).repartition(1),
      dir, base + 60000)
    val src = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "4").parquet(dir)
    val deduped = graft.streaming.EventStream.dedup(src, Seq("event_id"))
    val qy = deduped.writeStream.outputMode("append")
      .format("memory").queryName("q121_out").start()
    try qy.processAllAvailable() finally qy.stop()
    s.table("q121_out")
      .select(col("event_id"), col("event_type"))
      .orderBy(col("event_id"))
  }

  private val q121Sql =
    "SELECT event_id, event_type FROM events ORDER BY event_id"

  /** Streaming semantic cache ([[graft.streaming.CacheIngest]]): three
    * probe micro-batches (vec_id mod 3, file-source trigger order)
    * against a store-backed cache seeded with the vec_id%7 slice; each
    * batch's misses are admitted before the next trigger, so later
    * batches hit paraphrases asked earlier. The oracle replays the
    * batch-by-batch cache evolution — lookup, verdict, admit — three
    * rounds deep; any leak of an admit into its OWN batch, or a missed
    * admit into the next, breaks the hash. */
  private def q430(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val dir = Scratch.dir(s, "q430-src")
    val base = System.currentTimeMillis()
    for (k <- 0 until 3)
      Scratch.stage(e.filter(col("vec_id") % 3 === k).repartition(1), dir,
        base + k * 60000L)
    val store = new DocumentStore(s, Scratch.dir(s, "q430-store"))
    store.create("cache", e.filter(col("vec_id") % 7 === 0))
    val outDir = Scratch.dir(s, "q430-out")
    val src = s.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val qy = graft.streaming.CacheIngest.start(src, store, "cache",
      "vec_id", "embedding", threshold = 0.38, resultDir = outDir,
      checkpointDir = Scratch.dir(s, "q430-ck"))
    try qy.processAllAvailable() finally qy.stop()
    s.read.parquet(outDir)
      .select(col("probe_id"), col("served_id"),
        round(col("sim"), 6).as("sim"), col("hit"))
      .orderBy(col("probe_id"))
  }

  private val q430Sql = {
    def dl(c: String) = s"list_transform($c, x -> CAST(x AS DOUBLE))"
    def round2(k: Int) =
      s"""r$k AS (SELECT probe_id, cid AS served_id, sim, sim >= 0.38 AS hit
         |  FROM (SELECT p.vec_id AS probe_id, c.vec_id AS cid,
         |          list_cosine_similarity(c.v, p.v) AS sim,
         |          ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |            ORDER BY list_cosine_similarity(c.v, p.v) DESC,
         |              c.vec_id) AS rn
         |        FROM p$k p, c$k c) WHERE rn = 1),
         |c${k + 1} AS (SELECT vec_id, v FROM c$k
         |  UNION ALL
         |  SELECT p.vec_id, p.v FROM p$k p
         |  JOIN r$k ON r$k.probe_id = p.vec_id AND NOT r$k.hit)""".stripMargin
    s"""WITH e AS (SELECT vec_id, ${dl("embedding")} AS v FROM embeddings),
       |c0 AS (SELECT vec_id, v FROM e WHERE vec_id % 7 = 0),
       |p0 AS (SELECT vec_id, v FROM e WHERE vec_id % 3 = 0),
       |p1 AS (SELECT vec_id, v FROM e WHERE vec_id % 3 = 1),
       |p2 AS (SELECT vec_id, v FROM e WHERE vec_id % 3 = 2),
       |${round2(0)},
       |${round2(1)},
       |${round2(2)}
       |SELECT probe_id, served_id, round(sim, 6) AS sim, hit
       |FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1
       |      UNION ALL SELECT * FROM r2)
       |ORDER BY probe_id""".stripMargin
  }

  /** Stream-stream INTERVAL JOIN under the driver gate: views and
    * purchases arrive as two REAL file-source streams (time-ranged
    * staging, no driver collect), and the watermarked interval join —
    * the plan whose state eviction is what makes a stream-stream join
    * survivable at 100 TB/day — must emit exactly the batch range-join
    * answer. Inner-join matches emit when both sides have arrived, so
    * the whole real span rides one trigger per side; eviction behavior
    * under multi-batch arrival is spec territory (EventStreamSpec). */
  private def q125(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val base = System.currentTimeMillis()
    val dirL = Scratch.dir(s, "q125-l")
    val dirR = Scratch.dir(s, "q125-r")
    Scratch.stage(views.repartitionByRange(4, col("ts")), dirL, base)
    Scratch.stage(purchases.repartitionByRange(4, col("ts")), dirR, base)
    val l = s.readStream.schema(views.schema)
      .option("maxFilesPerTrigger", "8").parquet(dirL)
    val r = s.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "8").parquet(dirR)
    val joined = graft.streaming.EventStream.intervalJoin(
      l, r, key = "user_id", before = "1 hour")
    val qy = joined.writeStream.outputMode("append")
      .format("memory").queryName("q125_out").start()
    try qy.processAllAvailable() finally qy.stop()
    s.table("q125_out")
      .select(col("key"), col("l_id"), col("r_id"))
      .orderBy(col("key"), col("l_id"), col("r_id"))
  }

  private val q125Sql =
    """SELECT l.user_id AS key, l.event_id AS l_id, r.event_id AS r_id
      |FROM events l JOIN events r
      |  ON l.user_id = r.user_id
      | AND l.event_type = 'view' AND r.event_type = 'purchase'
      | AND l.ts <= r.ts AND l.ts >= r.ts - INTERVAL 1 HOUR
      |ORDER BY key, l_id, r_id""".stripMargin

  /** Emit-once streaming threshold alerts under the driver gate
    * ([[graft.streaming.EventStream.thresholdAlerts]]): events arrive
    * as a REAL time-ranged file source in four micro-batches
    * (maxFilesPerTrigger=1), and each user's 50th event — and only
    * that event, exactly once, wherever the crossing falls relative to
    * batch boundaries — must fire. Stateful emit-once is the semantics
    * a plain streaming aggregation cannot express; the oracle is the
    * batch ROW_NUMBER()=50 replay. */
  private def q153(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select(col("user_id"), col("event_id"), col("ts"))
    val dir = Scratch.dir(s, "q153-src")
    Scratch.stage(ev.repartitionByRange(4, col("ts")), dir, System.currentTimeMillis())
    val src = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val alerts = graft.streaming.EventStream.thresholdAlerts(s, src, threshold = 50)
    val qy = alerts.writeStream.outputMode("append")
      .format("memory").queryName("q153_out").start()
    try qy.processAllAvailable() finally qy.stop()
    s.table("q153_out").select(col("user_id"), col("event_id"), col("n_at"))
      .orderBy(col("user_id"))
  }

  private val q153Sql =
    """WITH r AS (
      |  SELECT user_id, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events)
      |SELECT user_id, event_id, 50 AS n_at FROM r WHERE rn = 50
      |ORDER BY user_id""".stripMargin

  /** Stream-stream LEFT OUTER interval join — the negative answer as a
    * stream: a view with no purchase inside its hour emits
    * null-extended exactly when the watermark makes that decidable
    * (and that same eviction bound caps the buffered state). Real dual
    * file sources; sentinel rows on BOTH streams advance the global
    * watermark past the data so every pending "no" flushes (the q119
    * two-batch pattern: first batch moves the watermark, second runs
    * the eviction sweep). Oracle: the batch LEFT range join. */
  private def q135(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = t(s, d, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val maxMs = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val base = System.currentTimeMillis()
    val dirL = Scratch.dir(s, "q135-l")
    val dirR = Scratch.dir(s, "q135-r")
    Scratch.stage(views.repartitionByRange(4, col("ts")), dirL, base)
    Scratch.stage(purchases.repartitionByRange(4, col("ts")), dirR, base)
    def sentinel(offsetDays: Long): DataFrame =
      Seq((-1L, new java.sql.Timestamp(maxMs + offsetDays * 24 * 3600 * 1000), -1L))
        .toDF("user_id", "ts", "event_id")
    Seq(dirL, dirR).foreach { dir =>
      Scratch.stage(sentinel(30).repartition(1), dir, base + 60000)
      Scratch.stage(sentinel(60).repartition(1), dir, base + 120000)
    }
    val l = s.readStream.schema(views.schema)
      .option("maxFilesPerTrigger", "2").parquet(dirL)
    val r = s.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "2").parquet(dirR)
    val joined = graft.streaming.EventStream.intervalJoin(
      l, r, key = "user_id", before = "1 hour", joinType = "left_outer")
    val qy = joined.writeStream.outputMode("append")
      .format("memory").queryName("q135_out").start()
    try qy.processAllAvailable() finally qy.stop()
    s.table("q135_out")
      .filter(col("key") =!= -1L)
      .select(col("key"), col("l_id"), col("r_id"))
      .orderBy(col("key"), col("l_id"), col("r_id"))
  }

  private val q135Sql =
    """SELECT l.user_id AS key, l.event_id AS l_id, r.event_id AS r_id
      |FROM (SELECT * FROM events WHERE event_type = 'view') l
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id
      | AND l.ts <= r.ts AND l.ts >= r.ts - INTERVAL 1 HOUR
      |ORDER BY key, l_id, r_id""".stripMargin

  /** Stream-static ENRICHMENT join under the driver gate: the event
    * stream (REAL file source, staged, no driver collect) broadcast-
    * joins the customer dimension per micro-batch — no stream-side
    * shuffle, and a slowly-changing dimension is re-resolved each
    * batch. The oracle is the plain batch left join. */
  private def q126(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val dim = t(s, d, "customer")
      .select(col("c_custkey").as("user_id"), col("c_name"), col("c_mktsegment"))
    val dir = Scratch.dir(s, "q126-src")
    Scratch.stage(ev.repartition(4), dir, System.currentTimeMillis())
    val src = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "2").parquet(dir)
    val enriched = graft.streaming.EventStream.enrich(src, dim, Seq("user_id"))
    val qy = enriched.writeStream.outputMode("append")
      .format("memory").queryName("q126_out").start()
    try qy.processAllAvailable() finally qy.stop()
    s.table("q126_out")
      .select(col("event_id"), col("user_id"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("event_id"))
  }

  private val q126Sql =
    """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY e.event_id""".stripMargin

  /** Storage-reclamation lifecycle: three committed versions, vacuum
    * retaining two — retained snapshots must keep serving exactly,
    * reclaimed ones must fail loudly (not read as empty), and the
    * current read must be unaffected. The in-query gate encodes those
    * invariants; the oracle recounts the surviving state. Without
    * vacuum a COW store's storage grows with write count, not data
    * size — this is the op that makes the versioned store viable at
    * 100 TB. */
  private def q117(s: SparkSession, d: String): DataFrame = {
    val store = new DocumentStore(s, Scratch.dir(s, "q117"))
    store.create("supplier", t(s, d, "supplier"))           // v1
    store.delete("supplier", col("s_acctbal") < 0)          // v2
    store.delete("supplier", col("s_suppkey") % 10 === 0)   // v3
    store.vacuum("supplier", keepVersions = 2)
    val reclaimedFailsLoudly =
      try { store.readVersion("supplier", 1).count(); false }
      catch { case _: IllegalStateException => true }
    val retainedServes = store.readVersion("supplier", 2).count() ==
      t(s, d, "supplier").filter(!(col("s_acctbal") < 0)).count()
    store.read("supplier")
      .select(col("s_suppkey"), col("s_name"))
      .filter(lit(reclaimedFailsLoudly && retainedServes))
      .orderBy(col("s_suppkey"))
  }

  private val q117Sql =
    """SELECT s_suppkey, s_name FROM supplier
      |WHERE NOT (s_acctbal < 0) AND NOT (s_suppkey % 10 = 0)
      |ORDER BY s_suppkey""".stripMargin

  /** Partial-column merge ($set) through the versioned store — the
    * UpdateOne-$set half of the reference's mutation surface (vectorize-
    * on-write enriches existing documents in place): matched rows get
    * the named column overwritten, everything else — other columns,
    * unmatched rows, unmatched update keys — is untouched. The oracle
    * states the same semantics with a CASE over a left join. */
  private def q108(s: SparkSession, d: String): DataFrame = {
    val store = new DocumentStore(s, Scratch.dir(s, "q108"))
    store.create("supplier", t(s, d, "supplier"), partitionCol = Some("s_nationkey"))
    import s.implicits._
    val updates = Seq((1L, "flagged supplier"), (5L, "flagged supplier"),
      (999999L, "ghost")).toDF("s_suppkey", "s_name")
    store.mergeSet("supplier", updates, keys = Seq("s_suppkey"), setCols = Seq("s_name"))
    store.read("supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .orderBy(col("s_suppkey"))
  }

  private val q108Sql =
    """SELECT s_suppkey,
      |  CASE WHEN s_suppkey IN (1, 5) THEN 'flagged supplier' ELSE s_name END AS s_name,
      |  s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** Ingest throughput at the reference's production dims: batch-embed
    * the corpus at 1536-d (ada-002 width, MongoDbService.cs:136) and
    * validate unit norms. The reference's sequential per-doc loop takes
    * 5-10 min for a corpus this size (README.md:154); this is the
    * flagship batch win, so it is a bench headline.
    *
    * HASH-EXACT oracle: the [[HashProjectionEmbedder]] is pure 64-bit
    * integer arithmetic (fnv1a64 per token, splitmix64 per dim) plus one
    * deterministic IEEE normalize, so the oracle REPLAYS the whole stack
    * in SQL — 64-bit wraparound multiply emulated in 128-bit via hi/lo
    * split, the per-dim state threaded through a recursive CTE over the
    * (small, Zipf-bounded) distinct-token set, ±1 contributions
    * aggregated per (doc, dim) as exact integers, and the float32
    * normalize reproduced step-for-step (1/sqrt then multiply then
    * float cast). The gated output is each vector on the 2^-14 integer
    * grid (floor(v·16384), the q107/q130 idiom — exact because ×2^14 is
    * rounding-free on a float32 value): any single sign, sum, or
    * rounding drift across 1536 dims breaks the hash. The store
    * round-trip gate (xxhash64 fold over the persisted corpus) and the
    * unit-norm filter stay as in-query gates. */
  private val embedder1536 = HashProjectionEmbedder(dims = 1536)
  private def q64(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.l2_norm
    // persist the (doc_id, vector) projection: the store write, the
    // round-trip hash, and the gated grid output each consumed the
    // 1536-dim embedding, so the corpus was EMBEDDED THREE TIMES per run
    // (guide §2.4/§5 — compute the expensive opaque stage once). The
    // gated output reads back the store the query just wrote (hash-
    // verified equal to the in-memory corpus), so the returned plan
    // holds no cache reference and the persist releases before return.
    val emb = Embed.withEmbedding(t(s, d, "documents"), "text", "vector", embedder1536)
      .select(col("doc_id"), col("vector")).persist()
    val store = new DocumentStore(s, Scratch.dir(s, "q64"))
    store.create("emb", emb)
    def corpusHash(df: DataFrame): Long = // XOR fold: associative, no overflow
      df.withColumn("__h", xxhash64(col("doc_id"), col("vector")))
        .agg(expr("bit_xor(__h)")).head().getLong(0)
    val roundTripExact =
      corpusHash(emb) == corpusHash(store.read("emb"))
    emb.unpersist(blocking = false)
    val out = store.read("emb")
      .withColumn("__norm", l2_norm(col("vector")))
      .filter(col("__norm") > 0.999 && col("__norm") < 1.001)
      .select(col("doc_id"),
        array_join(transform(col("vector"),
          v => floor(v.cast("double") * 16384).cast("string")), ",").as("grid"))
      .orderBy(col("doc_id"))
    if (roundTripExact) out else out.limit(0)
  }

  private val q64Sql =
    """WITH RECURSIVE
      |tok0 AS (
      |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS tok
      |  FROM documents),
      |cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok0 GROUP BY 1, 2),
      |tk AS (SELECT DISTINCT tok FROM cnt),
      |fnv AS (
      |  SELECT tok,
      |    list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |      list_transform(string_split(tok, ''), ch -> CAST(ascii(ch) AS HUGEINT))),
      |      (h, ch) -> ((xor(h, ch) // 4294967296 * CAST(1099511628211 AS HUGEINT)) % 4294967296 * 4294967296
      |                 + (xor(h, ch) % 4294967296) * CAST(1099511628211 AS HUGEINT))
      |                % CAST(18446744073709551616 AS HUGEINT)) AS h
      |  FROM tk),
      |sm(tok, d, state) AS (
      |  SELECT tok, 0, xor(h, CAST(42 AS HUGEINT)) FROM fnv
      |  UNION ALL
      |  SELECT tok, d + 1, xor(z2, z2 >> 31)
      |  FROM (
      |    SELECT tok, d,
      |      ((x2 // 4294967296 * CAST(10723151780598845931 AS HUGEINT)) % 4294967296 * 4294967296
      |       + (x2 % 4294967296) * CAST(10723151780598845931 AS HUGEINT))
      |      % CAST(18446744073709551616 AS HUGEINT) AS z2
      |    FROM (
      |      SELECT tok, d, xor(z1, z1 >> 27) AS x2
      |      FROM (
      |        SELECT tok, d,
      |          ((x1 // 4294967296 * CAST(13787848793156543929 AS HUGEINT)) % 4294967296 * 4294967296
      |           + (x1 % 4294967296) * CAST(13787848793156543929 AS HUGEINT))
      |          % CAST(18446744073709551616 AS HUGEINT) AS z1
      |        FROM (
      |          SELECT tok, d, xor(z0, z0 >> 30) AS x1
      |          FROM (
      |            SELECT tok, d,
      |              (state + CAST(11400714819323198485 AS HUGEINT))
      |                % CAST(18446744073709551616 AS HUGEINT) AS z0
      |            FROM sm WHERE d < 1536) s0) s1) s2) s3) s4),
      |sg AS (
      |  SELECT tok, d, CASE WHEN state % 2 = 0 THEN 1 ELSE -1 END AS sgn
      |  FROM sm WHERE d > 0),
      |acc AS (
      |  SELECT c.doc_id, s.d, CAST(SUM(c.c * s.sgn) AS BIGINT) AS a
      |  FROM cnt c JOIN sg s ON c.tok = s.tok GROUP BY 1, 2),
      |inv AS (
      |  SELECT doc_id, CAST(1 AS DOUBLE) / sqrt(CAST(SUM(a * a) AS DOUBLE)) AS iv
      |  FROM acc GROUP BY 1),
      |cell AS (
      |  SELECT a.doc_id, a.d,
      |    CAST(floor(CAST(CAST(CAST(a.a AS DOUBLE) * i.iv AS FLOAT) AS DOUBLE) * 16384) AS BIGINT) AS cl
      |  FROM acc a JOIN inv i USING (doc_id))
      |SELECT doc_id, array_to_string(list(cl ORDER BY d), ',') AS grid
      |FROM cell GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Lossless CSV round trip ([[graft.sources.CsvRoundTrip]]): a payload
    * deliberately containing the separator, the quote char, an embedded
    * newline, a trailing backslash, plus NULL and empty-string rows —
    * written RFC-4180 and read back schema-pinned. The oracle recomputes
    * the payload straight from parquet, so any write- or read-side
    * corruption (quote mangling, record split, NULL/empty collapse)
    * breaks the hash. */
  private def q158(s: SparkSession, d: String): DataFrame = {
    val tricky = t(s, d, "customer").select(
      col("c_custkey"),
      when(pmod(col("c_custkey"), lit(5)) === 0, lit(null).cast("string"))
        .when(pmod(col("c_custkey"), lit(5)) === 1, lit(""))
        .otherwise(concat(col("c_name"), lit(",\""), lit("\n"),
          col("c_mktsegment"), lit("\\"))).as("payload"),
      col("c_acctbal"))
    val dir = Scratch.dir(s, "q158") + "/csv"
    graft.sources.CsvRoundTrip.write(tricky, dir)
    graft.sources.CsvRoundTrip.read(s, dir, tricky.schema)
      .orderBy(col("c_custkey"))
  }

  private val q158Sql =
    """SELECT c_custkey,
      |  CASE WHEN c_custkey % 5 = 0 THEN NULL
      |       WHEN c_custkey % 5 = 1 THEN ''
      |       ELSE c_name || ',"' || chr(10) || c_mktsegment || '\' END AS payload,
      |  c_acctbal
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Streaming keyword-index maintenance
    * ([[graft.streaming.IndexIngest]]): the reference's near-real-time
    * AddRemoveData contract as a STREAM — change-feed rows arrive as
    * two file-source micro-batches (epoch A: deletes + edits; epoch B:
    * inserts), each applied to the persisted inverted index via the
    * COW touched-bucket path. Gate: postings/docmap/meta must
    * hash-equal a FULL REBUILD over the final corpus (both-ways
    * exceptAll — the q161 bar, now across batch boundaries and the
    * streaming checkpoint), then a ranked query for a term that exists
    * only post-stream proves searchability. */
  /** The SYNC stage shared by the q172 family: initial index + two
    * streamed epochs (epoch A: deletes + edits, epoch B: inserts)
    * applied via the checkpointed COW touched-bucket sink. Returns the
    * synced index dir.
    *
    * The INITIAL build happens once per (process, sf) into a pristine
    * dir (the q159 serve-cache pattern) and each sync run starts from a
    * file-level COPY of it: the build cost is q159_build's own headline
    * row, so re-paying it inside every q172_sync pass would bury the
    * delta-bounded sync trend the split exists to expose (the copy is
    * file IO, priced in the row and ~10× cheaper than the build). The
    * copy is required for correctness, not just speed: the stream
    * MUTATES the index, so passes must not share a working dir. */
  private val q172PristineCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def copyTree(src: String, dst: String): Unit = {
    val sp = java.nio.file.Paths.get(src)
    val dp = java.nio.file.Paths.get(dst)
    java.nio.file.Files.walk(sp).forEach { p =>
      val target = dp.resolve(sp.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(target)
      else java.nio.file.Files.copy(p, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def q172SyncImpl(s: SparkSession, d: String): String = {
    import graft.search.InvertedIndex
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val pristine = q172PristineCache.computeIfAbsent(d, _ => {
      val p = Scratch.dir(s, "q172-pristine")
      InvertedIndex.build(docs, "doc_id", "text", p)
      Scratch.keep(p)
    })
    val dir = Scratch.dir(s, "q172-idx")
    graft.tools.Timing("copyTree")(copyTree(pristine, dir))
    val epochA = docs.filter(col("doc_id") % 17 === 3)
        .select(lit("delete").as("change"), col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 1 && col("doc_id") % 17 =!= 3)
        .select(lit("update").as("change"), col("doc_id"),
          concat(col("text"), lit(" graftstream")).as("text")))
    val epochB = docs.filter(col("doc_id") < 20)
      .select(lit("insert").as("change"),
        (col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("graftstream table "), col("text")).as("text"))
    val srcDir = Scratch.dir(s, "q172-src")
    val base = System.currentTimeMillis()
    graft.tools.Timing("stage-epochs") {
      Scratch.stage(epochA.repartition(4), srcDir, base)
      Scratch.stage(epochB.repartition(4), srcDir, base + 60000)
    }
    val feed = s.readStream.schema(epochA.schema)
      .option("maxFilesPerTrigger", "4").parquet(srcDir)
    val qy = graft.streaming.IndexIngest.start(feed, dir,
      "doc_id", "text", "change",
      Scratch.dir(s, "q172-ckpt"))
    graft.tools.Timing("stream-drain")(
      try qy.processAllAvailable() finally qy.stop())
    dir
  }

  /** The mutated corpus the stream converges to — the rebuild input and
    * the oracle's relational replay. */
  private def q172FinalCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    docs
      .filter(col("doc_id") % 17 =!= 3 && col("doc_id") % 13 =!= 1)
      .unionByName(docs.filter(col("doc_id") % 13 === 1 && col("doc_id") % 17 =!= 3)
        .select(col("doc_id"), concat(col("text"), lit(" graftstream")).as("text")))
      .unionByName(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("graftstream table "), col("text")).as("text")))
  }

  /** Rebuild + both-ways parity + gated search over `dir` (the q161 bar
    * across batch boundaries and the streaming checkpoint).
    *
    * `cacheRebuild` (r17, the verdict's q172_gate shave): the rebuild
    * input — [[q172FinalCorpus]] — is a pure function of the sf dir, so
    * the rebuilt index is identical across bench passes; the GATE row
    * caches it per (process, sf) the same way the sync half caches the
    * pristine initial build, leaving the row to price what it exists to
    * prove — the both-ways parity + gated search. The rebuilt dir is
    * read-only after build (only the SYNCED dir is stream-mutated), so
    * the cache cannot leak state between passes. The blended lifecycle
    * row (q172_streaming_index_sync) keeps a fresh rebuild: its price
    * is the point there. */
  private val q172RebuildCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q172GateImpl(s: SparkSession, d: String, dir: String,
                           cacheRebuild: Boolean = false): DataFrame = {
    import graft.search.InvertedIndex
    def rebuild(): String = {
      val p = Scratch.dir(s, "q172-rebuild")
      // parity rebuild: pin to the synced index's committed layout
      InvertedIndex.build(q172FinalCorpus(s, d), "doc_id", "text", p,
        buckets = InvertedIndex.layoutBuckets(s, dir))
      p
    }
    val dir2 = if (cacheRebuild) q172RebuildCache.computeIfAbsent(d, _ => Scratch.keep(rebuild()))
      else rebuild()
    val sA = new DocumentStore(s, dir)
    val sB = new DocumentStore(s, dir2)
    val synced = Seq("postings", "docmap", "meta").forall { tb =>
      val a = sA.read(tb); val b = sB.read(tb)
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    }
    val res = InvertedIndex.search(s, dir, Seq("graftstream", "table"), k = 10)
    if (synced) res else res.limit(0)
  }

  private def q172(s: SparkSession, d: String): DataFrame =
    q172GateImpl(s, d, q172SyncImpl(s, d))

  /** SYNC half of the q172 headline (the q159 build/serve split applied
    * to the streaming sink): initial build + two streamed epochs + the
    * ranked search on the SYNCED index — the delta-bounded cost a 100 TB
    * deployment pays per trigger, benched on its own so the
    * rebuild+parity GATE cost (deliberately ~4/5 of the old blended
    * 24 s row) can't hide the sync trend. Gated by the same oracle as
    * the full lifecycle: the sync must converge to the final corpus, so
    * its ranked results replay relationally. Each run re-syncs (that IS
    * the measured work) and republishes the dir for [[q172g]], kept out
    * of the between-queries sweep; the dir it replaces is deleted. */
  private val q172SyncCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q172s(s: SparkSession, d: String): DataFrame = {
    val dir = q172SyncImpl(s, d)
    Option(q172SyncCache.put(d, Scratch.keep(dir))).foreach(Scratch.release)
    graft.search.InvertedIndex.search(s, dir, Seq("graftstream", "table"), k = 10)
  }

  /** GATE half: full rebuild over the final corpus + both-ways parity
    * against the synced index + gated search. Reuses the latest synced
    * index from [[q172s]] (building one on first use), so benching the
    * pair prices sync ONCE per pass — the gate row isolates the
    * deliberate verification cost. */
  private def q172g(s: SparkSession, d: String): DataFrame = {
    val dir = q172SyncCache.computeIfAbsent(d, _ => Scratch.keep(q172SyncImpl(s, d)))
    q172GateImpl(s, d, dir, cacheRebuild = true)
  }

  private val q172Sql =
    """WITH vf AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE NOT (doc_id % 17 = 3) AND NOT (doc_id % 13 = 1)
      |  UNION ALL
      |  SELECT doc_id, text || ' graftstream' AS text FROM documents
      |  WHERE doc_id % 13 = 1 AND NOT (doc_id % 17 = 3)
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, 'graftstream table ' || text AS text
      |  FROM documents WHERE doc_id < 20),
      |occ AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM vf),
      |n AS (SELECT COUNT(*) AS nd FROM vf),
      |tfq AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM occ
      |  WHERE term IN ('graftstream', 'table') GROUP BY 1, 2),
      |dfq AS (
      |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM occ
      |  WHERE term IN ('graftstream', 'table') GROUP BY 1),
      |w AS (SELECT term, CAST(length(bin(nd)) - length(bin(df)) AS INTEGER) AS w
      |      FROM dfq CROSS JOIN n),
      |sc AS (
      |  SELECT doc_id, CAST(SUM(tf * w) AS BIGINT) AS score
      |  FROM tfq JOIN w USING (term) GROUP BY doc_id
      |  HAVING COUNT(DISTINCT term) = 2)
      |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** Streaming near-duplicate ADMISSION gate
    * ([[graft.streaming.AdmissionIngest]]): two file-source
    * micro-batches flow through the q181 incremental all-pairs decision
    * — epoch A (docs %10 = 7) against the standing corpus (%10 ≤ 6),
    * then epoch B (docs %10 = 8, plus verbatim copies of early epoch-A
    * docs) against corpus + epoch-A ADMISSIONS. Near-copies land in a
    * quarantine table with best-match evidence; the oracle replays both
    * admission rounds relationally (weights over the corpus state each
    * round actually saw), and an in-query accounting gate zeroes the
    * output unless corpus + quarantine partition the input exactly. */
  private def q192(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val store = new DocumentStore(s,
      Scratch.dir(s, "q192-store"))
    val corpus0 = docs.filter(col("doc_id") % 10 <= 6)
    store.create("corpus", corpus0)
    val epochA = docs.filter(col("doc_id") % 10 === 7)
    val epochB = docs.filter(col("doc_id") % 10 === 8)
      .unionByName(docs.filter(col("doc_id") % 10 === 7 && col("doc_id") < 100)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
    val srcDir = Scratch.dir(s, "q192-src")
    val base = System.currentTimeMillis()
    Scratch.stage(epochA.repartition(4), srcDir, base)
    Scratch.stage(epochB.repartition(4), srcDir, base + 60000)
    val feed = s.readStream.schema(epochA.schema)
      .option("maxFilesPerTrigger", "4").parquet(srcDir)
    val qy = graft.streaming.AdmissionIngest.start(feed, store,
      "corpus", "quarantine", "doc_id", "text",
      Scratch.dir(s, "q192-ckpt"), threshold = 0.8)
    try qy.processAllAvailable() finally qy.stop()
    val nIn = corpus0.count() + epochA.count() + epochB.count()
    val nOut = store.read("corpus").count() +
      (if (store.exists("quarantine")) store.read("quarantine").count() else 0L)
    // a dataset where no doc crosses the threshold never creates the
    // quarantine table — that's an empty result, not an error
    val res =
      if (store.exists("quarantine"))
        store.read("quarantine")
          .select(col("doc_id"), col("matched_id"), round(col("cos"), 6).as("cos"))
          .orderBy(col("doc_id"))
      else {
        import s.implicits._
        Seq.empty[(Long, Long, Double)].toDF("doc_id", "matched_id", "cos")
      }
    if (nIn == nOut) res else res.limit(0)
  }

  /** One admission round as CTEs: batch vs corpus AND batch vs
    * earlier-in-batch, weights over corpus ∪ batch, best match per
    * rejected doc, admitted remainder. */
  private def admissionRoundSql(p: String, corpusRel: String,
                                batchRel: String): String =
    s"""${p}u AS MATERIALIZED (
       |  SELECT doc_id, text FROM $corpusRel
       |  UNION ALL SELECT doc_id, text FROM $batchRel),
       |${p}tf AS MATERIALIZED (
       |  SELECT doc_id AS doc, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |    FROM ${p}u) GROUP BY 1, 2),
       |${p}n AS (SELECT COUNT(DISTINCT doc) AS n FROM ${p}tf),
       |${p}df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM ${p}tf GROUP BY term),
       |${p}w AS MATERIALIZED (
       |  SELECT doc, term, tf * (length(bin(${p}n.n)) - length(bin(df))) AS w
       |  FROM ${p}tf JOIN ${p}df USING (term) CROSS JOIN ${p}n
       |  WHERE tf * (length(bin(${p}n.n)) - length(bin(df))) > 0),
       |${p}nr AS (SELECT doc, SUM(w * w) AS nrm FROM ${p}w GROUP BY doc),
       |${p}bi AS (SELECT DISTINCT doc_id AS doc FROM $batchRel),
       |${p}ci AS (SELECT DISTINCT doc_id AS doc FROM $corpusRel),
       |${p}dots AS (
       |  SELECT a.doc AS batch_id, b.doc AS matched_id, SUM(a.w * b.w) AS dot
       |  FROM ${p}w a JOIN ${p}w b ON a.term = b.term
       |  WHERE a.doc IN (SELECT doc FROM ${p}bi)
       |    AND ((b.doc IN (SELECT doc FROM ${p}ci) AND a.doc <> b.doc)
       |      OR (b.doc IN (SELECT doc FROM ${p}bi) AND a.doc > b.doc))
       |  GROUP BY 1, 2),
       |${p}best AS MATERIALIZED (
       |  SELECT batch_id, matched_id, cos FROM (
       |    SELECT batch_id, matched_id,
       |      CAST(dot AS DOUBLE) /
       |        sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cos
       |    FROM ${p}dots JOIN ${p}nr na ON na.doc = batch_id
       |      JOIN ${p}nr nb ON nb.doc = matched_id)
       |  WHERE cos >= 0.8
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY batch_id ORDER BY cos DESC, matched_id) = 1),
       |${p}adm AS MATERIALIZED (
       |  SELECT doc_id, text FROM $batchRel
       |  WHERE doc_id NOT IN (SELECT batch_id FROM ${p}best))""".stripMargin

  private lazy val q192Sql =
    s"""WITH c0 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <= 6),
       |ba AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7),
       |${admissionRoundSql("a", "c0", "ba")},
       |cb AS MATERIALIZED (
       |  SELECT doc_id, text FROM c0 UNION ALL SELECT doc_id, text FROM aadm),
       |bb AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 8
       |  UNION ALL
       |  SELECT doc_id + 5000000 AS doc_id, text FROM documents
       |  WHERE doc_id % 10 = 7 AND doc_id < 100),
       |${admissionRoundSql("b", "cb", "bb")}
       |SELECT doc_id, matched_id, round(cos, 6) AS cos FROM (
       |  SELECT batch_id AS doc_id, matched_id, cos FROM abest
       |  UNION ALL SELECT batch_id, matched_id, cos FROM bbest)
       |ORDER BY doc_id""".stripMargin

  /** Verifiable corpus-release artifact ([[graft.sources.Release]]):
    * publish the documents corpus as plain parquet + a fingerprint
    * `_MANIFEST` (total and per source), then VERIFY the published
    * files by recomputation — the in-query gate zeroes the output
    * unless every scope checks out. The oracle recomputes the same
    * engine-portable checksums straight from the source parquet, so a
    * publish that lost, duplicated, or altered any row breaks the hash
    * from both sides. */
  private def q198(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dir(s, "q198") + "/rel"
    val cols = Seq("doc_id", "text", "lang", "n_chars")
    graft.sources.Release.publish(t(s, d, "documents"), dir, "doc_id",
      cols, groupCol = Some("source"))
    val rep = graft.sources.Release.verify(s, dir, cols,
      groupCol = Some("source"))
    val allOk = rep.filter(!col("ok")).isEmpty
    val res = rep.select(col("scope"), col("n_manifest").as("n_rows"),
        col("checksum_manifest").as("checksum"))
      .orderBy(col("scope"))
    if (allOk) res else res.limit(0)
  }

  private val q198Sql =
    """WITH j AS (
      |  SELECT source,
      |    concat_ws(chr(1),
      |      COALESCE(CAST(doc_id AS VARCHAR), '␀'),
      |      COALESCE(text, '␀'),
      |      COALESCE(lang, '␀'),
      |      COALESCE(CAST(n_chars AS VARCHAR), '␀')) AS s
      |  FROM documents),
      |h AS (
      |  SELECT source,
      |    ((list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) % 2147483648)
      |     * 2654435761) % 4294967296 AS h
      |  FROM j),
      |g AS (
      |  SELECT source AS scope, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(h) % 4611686018427387904 AS BIGINT) AS checksum
      |  FROM h GROUP BY source),
      |tt AS (
      |  SELECT '*' AS scope, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(h) % 4611686018427387904 AS BIGINT) AS checksum
      |  FROM h)
      |SELECT scope, n_rows, checksum
      |FROM (SELECT * FROM tt UNION ALL SELECT * FROM g)
      |ORDER BY scope""".stripMargin

  /** Online partition-layout change
    * ([[graft.store.DocumentStore.repartitionBy]]): the store's
    * `ALTER TABLE … PARTITIONED BY` — create partitioned by priority,
    * repartition by status behind the atomic version swap. In-query
    * gates: the physical layout must actually be keyed by the new
    * column's values, the pre-change snapshot must stay readable via
    * time travel with identical row count, and a partition-pruned read
    * on the NEW column must serve exactly its rows; the oracle proves
    * the rewrite lost and changed nothing. */
  private def q179(s: SparkSession, d: String): DataFrame = {
    val store = new DocumentStore(s, Scratch.dir(s, "q179"))
    val orders = t(s, d, "orders")
    store.create("orders", orders, partitionCol = Some("o_orderpriority"))
    store.repartitionBy("orders", Some("o_orderstatus"), sortBy = Seq("o_custkey"))
    val newKeys = store.fileStats("orders").map(_._1).toSet
    val statuses = orders.select(col("o_orderstatus")).distinct()
      .collect().map(_.getString(0)).toSet
    val layoutOk = newKeys == statuses
    val v1Rows = store.readVersion("orders", 1).count()
    val v2 = store.read("orders")
    val travelOk = v1Rows == v2.count()
    val fCount = orders.filter(col("o_orderstatus") === "F").count()
    val prunedOk = store.readPartitions("orders", Seq("F")).count() == fCount
    v2.select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      .filter(lit(layoutOk && travelOk && prunedOk))
      .orderBy(col("o_orderkey"))
  }

  private val q179Sql =
    """SELECT o_orderkey, o_orderstatus, o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** ORC interchange round trip: the Hive-ecosystem landing-zone format
    * beside CSV (q158/q163) and JSON (q53) — ORC is self-describing and
    * splittable, so unlike CSV no option-pinning contract is needed.
    * The adversarial payloads (embedded newlines, quotes, NULL vs
    * empty, trailing backslash, decimals) still ride through the ORC
    * write/read verbatim — OrcRoundTripSpec asserts the raw bytes — but
    * the GATED projection carries serialization-unambiguous witnesses
    * instead of the raw payload: its length and the engine-replayable
    * polynomial key ([[graft.operators.Splits.stringKey]], the q198
    * checksum idiom), because a raw embedded-newline/backslash column
    * defeats row-serialization canonicalization in external comparators
    * while being value-identical. Length 0 vs NULL keeps the
    * empty-vs-NULL distinction first-class in the hash. */
  private def q184(s: SparkSession, d: String): DataFrame = {
    val tricky = t(s, d, "customer").select(
      col("c_custkey"),
      when(pmod(col("c_custkey"), lit(5)) === 0, lit(null).cast("string"))
        .when(pmod(col("c_custkey"), lit(5)) === 1, lit(""))
        .otherwise(concat(col("c_name"), lit(",\""), lit("\n"),
          col("c_mktsegment"), lit("\\"),
          // supplementary-plane witness (U+1F600): stringKey is
          // Unicode-total — both engines fold full code points, so the
          // emoji must hash identically through the live oracle replay
          lit(new String(Character.toChars(0x1F600))))).as("payload"),
      col("c_acctbal").cast("decimal(12,2)").as("bal"))
    val dir = Scratch.dir(s, "q184") + "/orc"
    tricky.write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .select(
        col("c_custkey"),
        length(col("payload")).cast("long").as("payload_len"),
        graft.operators.Splits.stringKey(col("payload")).as("payload_key"),
        // the decimal(12,2) round-trips ORC exactly (OrcRoundTripSpec asserts
        // the raw scale/precision); the GATED column casts to double because
        // the external comparator hashes dtypes and DuckDB reads the oracle
        // expression as float64 — value-identical, dtype-normalized.
        col("bal").cast("double").as("bal"))
      .orderBy(col("c_custkey"))
  }

  private val q184Sql =
    """WITH tricky AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 5 = 0 THEN NULL
      |         WHEN c_custkey % 5 = 1 THEN ''
      |         ELSE c_name || ',"' || chr(10) || c_mktsegment || '\' || chr(128512) END AS payload,
      |    CAST(c_acctbal AS DECIMAL(12,2)) AS bal
      |  FROM customer)
      |SELECT c_custkey,
      |  CAST(length(payload) AS BIGINT) AS payload_len,
      |  CASE WHEN payload IS NULL THEN NULL ELSE
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_filter(string_split(payload, ''), c -> c <> ''),
      |        c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) END AS payload_key,
      |  CAST(bal AS DOUBLE) AS bal
      |FROM tricky ORDER BY c_custkey""".stripMargin

  /** Splittable CSV fast path ([[graft.sources.CsvRoundTrip]]): newline-
    * free data reads back with `multiLine=false` under the write-time
    * sidecar stat — files split on block boundaries instead of one task
    * per file. Gates IN-QUERY: `requireSplittable=true` (throws if the
    * stat forces the slow path) AND the read plan must actually split
    * the single CSV file into more tasks than files, else zero rows. */
  private def q163(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(
      col("doc_id"),
      // strip CR/LF so the stat records clean data; keep quotes/commas
      regexp_replace(col("text"), "[\\n\\r]", " ").as("text_flat"),
      col("lang"))
    val dir = Scratch.dir(s, "q163") + "/csv"
    graft.sources.CsvRoundTrip.write(docs.coalesce(1), dir)
    val prev = s.conf.get("spark.sql.files.maxPartitionBytes")
    val back = try {
      s.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
      val r = graft.sources.CsvRoundTrip.read(s, dir, docs.schema,
        requireSplittable = true)
      val split = r.rdd.getNumPartitions > 1  // one file, many tasks
      r.where(lit(split))
    } finally s.conf.set("spark.sql.files.maxPartitionBytes", prev)
    back.orderBy(col("doc_id"))
  }

  private val q163Sql =
    """SELECT doc_id, regexp_replace(text, '[\n\r]', ' ', 'g') AS text_flat, lang
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Streaming KS drift monitor under the driver gate
    * ([[graft.streaming.DriftMonitor]] — q200's batch statistic made
    * continuous, the q192 discipline): odd docs arrive as FOUR
    * deterministic micro-batches (one doc_id%8 residue class per file,
    * maxFilesPerTrigger=1), even docs are the fixed reference sample,
    * and batch 3's lengths are shifted +150 — the planted drifted
    * feed. Exactly that batch must alert, by the INTEGER rule
    * ks_num·4 ≥ n_batch·n_ref (no float sits on the boundary). The
    * oracle replays the residue→batch mapping and the per-batch KS
    * grid. */
  private def q208(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
    val ref = docs.filter(col("doc_id") % 2 === 0).select(col("n_chars").as("v"))
    val streamed = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"),
        when(col("doc_id") % 8 === 7, col("n_chars") + 150)
          .otherwise(col("n_chars")).as("v"))
    val srcDir = Scratch.dir(s, "q208-src")
    val base = System.currentTimeMillis()
    Seq(1, 3, 5, 7).zipWithIndex.foreach { case (r, i) =>
      Scratch.stage(streamed.filter(col("doc_id") % 8 === r).coalesce(1),
        srcDir, base + i * 1000L)
    }
    val store = new DocumentStore(s,
      Scratch.dir(s, "q208-store"))
    val feed = s.readStream.schema(streamed.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val qy = graft.streaming.DriftMonitor.start(feed, store, "drift",
      ref, "v", Scratch.dir(s, "q208-ckpt"),
      thrNum = 1L, thrDen = 4L)
    try qy.processAllAvailable() finally qy.stop()
    store.read("drift")
      .select(col("batch_id"), col("n_batch"), col("n_ref"), col("ks_num"),
        col("ks"), col("alert"))
      .orderBy(col("batch_id"))
  }

  private val q208Sql =
    """WITH str AS (SELECT (doc_id % 8) // 2 AS b,
      |    CASE WHEN doc_id % 8 = 7 THEN n_chars + 150 ELSE n_chars END AS v
      |  FROM documents WHERE doc_id % 2 = 1),
      |ref AS (SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 0),
      |bs AS (SELECT DISTINCT b FROM str),
      |u AS (SELECT b, v, 1 AS ib, 0 AS ir FROM str
      |      UNION ALL SELECT bs.b, r.v, 0, 1 FROM ref r CROSS JOIN bs),
      |c AS (SELECT b, v, CAST(SUM(ib) AS BIGINT) AS cb,
      |        CAST(SUM(ir) AS BIGINT) AS cr
      |      FROM u GROUP BY b, v),
      |cum AS (SELECT b, v, cb, cr,
      |    CAST(SUM(cb) OVER (PARTITION BY b ORDER BY v) AS BIGINT) AS cumb,
      |    CAST(SUM(cr) OVER (PARTITION BY b ORDER BY v) AS BIGINT) AS cumr
      |  FROM c),
      |tot AS (SELECT b, CAST(SUM(cb) AS BIGINT) AS nb,
      |        CAST(SUM(cr) AS BIGINT) AS nr
      |      FROM c GROUP BY b),
      |m AS (SELECT cum.b, CAST(MAX(ABS(cumb * nr - cumr * nb)) AS BIGINT) AS ks_num
      |      FROM cum JOIN tot ON tot.b = cum.b GROUP BY cum.b)
      |SELECT CAST(m.b AS BIGINT) AS batch_id, nb AS n_batch, nr AS n_ref,
      |  ks_num,
      |  CAST(ks_num AS DOUBLE) / CAST(nb * nr AS DOUBLE) AS ks,
      |  ks_num * 4 >= nb * nr AS alert
      |FROM m JOIN tot ON tot.b = m.b ORDER BY batch_id""".stripMargin

  // ------------------------------------------------------- q398 chat turn

  /** SQL-replayable embedder for the q398 chat-turn gate: four exact
    * integer counts (a constant 1, words, chars, 'e's) as the vector, so
    * DuckDB recomputes every corpus and probe vector from the text and
    * the cosine replays bit-for-bit (counts are exact in float32; the
    * codegen cosine accumulates in double exactly like DuckDB's
    * list_cosine_similarity over DOUBLE lists — the q30 parity). The
    * REAL plumbing is unchanged: this embedder rides
    * Embed.withEmbedding's batched mapPartitions stage and the
    * config-selected searcher exactly like HashProjectionEmbedder. */
  private final class CountEmbedder extends graft.embed.Embedder {
    override def dims: Int = 4
    override def embed(batch: Seq[String]): Seq[Array[Float]] =
      batch.map { t0 =>
        val t = if (t0 == null) "" else t0
        val words = if (t.isEmpty) 0f else (t.count(_ == ' ') + 1).toFloat
        Array(1f, words, t.length.toFloat, t.count(_ == 'e').toFloat)
      }
  }

  /** Deterministic stub completion whose TEXT encodes the assembled
    * prompt sizes — `tokens <systemTokens> plus <userTokens>` — so the
    * oracle verifies the window/trim math through the committed
    * completion rows, not just the counters (a one-token drift anywhere
    * in W1/T5 changes the committed text and the hash). */
  private final class SqlReplayClient extends graft.rag.CompletionClient {
    override def complete(systemPrompt: String,
                          userPrompt: String): (String, Int, Int) = {
      val st = graft.functions.Tokenizer.count(systemPrompt)
      val ut = graft.functions.Tokenizer.count(userPrompt)
      val text = s"tokens $st plus $ut"
      (text, st + ut, graft.functions.Tokenizer.count(text))
    }
  }

  private val chatQs = Seq(
    "what products are in the bike catalog",
    "tell me about recent orders and shipping",
    "summarize the customer feedback please")

  /** §3.1 — the reference's canonical chat turn END TO END, gated
    * (ChatService.cs:119-165): embed prompt → V2 cosine top-k over the
    * ingested corpus → W1 history window (budget 12, tight enough that
    * turn 3 drops turn 1 — the `<=`-after-increment quirk engaged) →
    * T5 proportional trim (budget 300; the float-percentage
    * Math.Round(half-even) path taken every turn) → completion → TX1
    * single-commit (session row + prompt + completion) with the A1
    * running TokensUsed total. Three turns, so the window and the
    * running total both carry state across commits.
    *
    * Determinism: pinned session id, [[CountEmbedder]] vectors and
    * [[SqlReplayClient]] completions are pure functions of text, and the
    * committed output drops the UUID/timestamp columns (their ORDER is
    * implied by the window contents the oracle replays). The corpus is
    * sanitized to single-spaced [a-z ] words so the `{"text":...}`
    * retrieval JSON concatenates identically in both engines; the oracle
    * replays the TOKENIZER ITSELF via regexp_extract_all over the same
    * lexer pattern, then the whole window/trim/commit dataflow
    * relationally. */
  private def q398(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id").cast("long").as("id"),
        array_join(slice(split(trim(regexp_replace(regexp_replace(
          lower(col("text")), "[^a-z ]", ""), " +", " ")), " "), 1, 30), " ")
          .as("text"))
      .filter(col("text") =!= "")
    val store = new DocumentStore(s, Scratch.dir(s, "q398-store"))
    val eng = new graft.rag.ChatEngine(s, store,
      embedder = new CountEmbedder,
      completions = new SqlReplayClient,
      maxConversationTokens = 12,
      maxCompletionTokens = 300)
    try {
      eng.ingest("corpus", docs, "text")
      val sid = eng.createSession("chat gate", id = "gate-session")
      chatQs.foreach(q => eng.complete(sid, "corpus", q))
    } finally eng.close() // releases the pinned corpus
    store.read(eng.CompletionsTable)
      .select(col("Type").as("type"),
        coalesce(col("Sender"), lit("")).as("sender"),
        coalesce(col("Tokens"), lit(-1)).cast("long").as("tokens"),
        coalesce(col("PromptTokens"), lit(-1)).cast("long").as("prompt_tokens"),
        coalesce(col("TokensUsed"), lit(-1)).cast("long").as("tokens_used"),
        coalesce(col("Name"), lit("")).as("name"),
        coalesce(col("Text"), lit("")).as("text"))
      .orderBy(col("type"), col("sender"), col("text"), col("tokens"))
  }

  /** The q398 oracle is GENERATED per turn (the three turns share one
    * template), replaying: the corpus sanitize + count-embed, cosine
    * top-10 (string_agg in (sim DESC, id) order), the engine's token
    * LEXER itself (regexp_extract_all over the identical pattern), the
    * W1 running-sum window (filter on a desc running sum == takeWhile,
    * tokens being non-negative), the T5 float-percentage trim with
    * half-even rounding, the stub completion, and the A1 total. */
  private val q398Sql: String = {
    val pat = """ ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"""
    def tok(x: String) = s"len(regexp_extract_all($x, '$pat'))"
    def rint(x: String) =
      s"(CASE WHEN ($x) - floor($x) = 0.5 THEN floor($x) + " +
        s"CAST(CAST(floor($x) AS BIGINT) % 2 AS DOUBLE) " +
        s"ELSE floor(($x) + 0.5) END)"
    def qvec(q: String) =
      s"[CAST(1 AS DOUBLE), CAST(length('$q') - length(replace('$q', ' ', '')) + 1 AS DOUBLE), " +
        s"CAST(length('$q') AS DOUBLE), CAST(length('$q') - length(replace('$q', 'e', '')) AS DOUBLE)]"
    val sys = "'You are an intelligent assistant for the Cosmic Works Bike Company.' " +
      "|| chr(10) || 'You are designed to provide helpful answers to user questions about' " +
      "|| chr(10) || 'products and orders, using only the provided JSON strings.'"
    // one turn: retrieval, assembled sizes, trim, stub completion
    def turn(k: Int, q: String, histSql: String): String = {
      val ql = s"'$q'"
      s"""r$k AS (SELECT string_agg('{"text":"' || ctext || '"}', ' ' ORDER BY sim DESC, id) AS retrieved
         |  FROM (SELECT ctext, id, list_cosine_similarity(v, ${qvec(q)}) AS sim
         |        FROM emb ORDER BY sim DESC, id LIMIT 10)),
         |h$k AS ($histSql),
         |a$k AS (SELECT retrieved, conversation,
         |    ${tok("retrieved")} AS rag, ${tok("conversation")} AS cnv,
         |    ${tok(ql)} AS up
         |  FROM r$k, h$k),
         |a${k}t AS (SELECT *, rag + cnv + up + 200 AS total FROM a$k),
         |b${k}0 AS (SELECT *,
         |    CAST(CAST(rag AS REAL) - (CAST(rag AS REAL) / CAST(total AS REAL)) * CAST(total - 300 AS REAL) AS DOUBLE) AS xr,
         |    CAST(CAST(cnv AS REAL) - (CAST(cnv AS REAL) / CAST(total AS REAL)) * CAST(total - 300 AS REAL) AS DOUBLE) AS xc
         |  FROM a${k}t),
         |b$k AS (SELECT *,
         |    CASE WHEN total > 300 THEN CAST(${rint("xr")} AS BIGINT) ELSE rag END AS nrag,
         |    CASE WHEN total > 300 THEN CAST(${rint("xc")} AS BIGINT) ELSE cnv END AS ncnv
         |  FROM b${k}0),
         |c$k AS (SELECT *,
         |    CASE WHEN total > 300 THEN COALESCE(array_to_string((regexp_extract_all(retrieved, '$pat'))[1:nrag], ''), '') ELSE retrieved END AS augmented,
         |    CASE WHEN total > 300 THEN COALESCE(array_to_string((regexp_extract_all(conversation, '$pat'))[(cnv - ncnv + 1):cnv], ''), '') ELSE conversation END AS trimmedconv
         |  FROM b$k),
         |d$k AS (SELECT ${tok(s"$sys || chr(10) || augmented")} AS st,
         |    ${tok(s"trimmedconv || chr(10) || $ql")} AS ut
         |  FROM c$k),
         |f$k AS (SELECT st, ut, st + ut AS ptok,
         |    ${tok(s"'tokens ' || CAST(st AS VARCHAR) || ' plus ' || CAST(ut AS VARCHAR)")} AS ctok,
         |    'tokens ' || CAST(st AS VARCHAR) || ' plus ' || CAST(ut AS VARCHAR) AS ctext
         |  FROM d$k)""".stripMargin
    }
    // W1 history: running sum over (ord DESC) filtered to the budget ==
    // takeWhile, then string_agg back in ascending order
    def hist(rows: String): String =
      s"""SELECT COALESCE(string_agg(txt, chr(10) ORDER BY ord), '') AS conversation FROM (
         |  SELECT ord, txt FROM (
         |    SELECT ord, txt, SUM(tk) OVER (ORDER BY ord DESC) AS cum FROM ($rows))
         |  WHERE cum <= 12)""".stripMargin
    val Seq(q1, q2, q3) = chatQs
    val m2 =
      s"""SELECT 1 AS ord, ${tok(s"'$q1'")} AS tk, '$q1' AS txt
         |    UNION ALL SELECT 2, ctok, ctext FROM f1""".stripMargin
    val m3 =
      s"""$m2
         |    UNION ALL SELECT 3, ${tok(s"'$q2'")}, '$q2'
         |    UNION ALL SELECT 4, ctok, ctext FROM f2""".stripMargin
    s"""WITH corpus AS (
       |  SELECT CAST(doc_id AS BIGINT) AS id,
       |    array_to_string((string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')), ' '))[1:30], ' ') AS ctext
       |  FROM documents WHERE doc_id < 200),
       |cp AS (SELECT id, ctext FROM corpus WHERE ctext <> ''),
       |emb AS (SELECT id, ctext, [CAST(1 AS DOUBLE),
       |    CAST(length(ctext) - length(replace(ctext, ' ', '')) + 1 AS DOUBLE),
       |    CAST(length(ctext) AS DOUBLE),
       |    CAST(length(ctext) - length(replace(ctext, 'e', '')) AS DOUBLE)] AS v
       |  FROM cp),
       |${turn(1, q1, "SELECT '' AS conversation")},
       |${turn(2, q2, hist(m2))},
       |${turn(3, q3, hist(m3))},
       |out AS (
       |  SELECT 'Message' AS type, 'User' AS sender, CAST(${tok(s"'$q1'")} AS BIGINT) AS tokens,
       |    CAST(0 AS BIGINT) AS prompt_tokens, CAST(-1 AS BIGINT) AS tokens_used, '' AS name, '$q1' AS text
       |  UNION ALL SELECT 'Message', 'User', ${tok(s"'$q2'")}, 0, -1, '', '$q2'
       |  UNION ALL SELECT 'Message', 'User', ${tok(s"'$q3'")}, 0, -1, '', '$q3'
       |  UNION ALL SELECT 'Message', 'Assistant', ctok, ptok, -1, '', ctext FROM f1
       |  UNION ALL SELECT 'Message', 'Assistant', ctok, ptok, -1, '', ctext FROM f2
       |  UNION ALL SELECT 'Message', 'Assistant', ctok, ptok, -1, '', ctext FROM f3
       |  UNION ALL SELECT 'Session', '', -1, -1,
       |    (SELECT ${tok(s"'$q1'")} + ptok + ctok FROM f1)
       |      + (SELECT ${tok(s"'$q2'")} + ptok + ctok FROM f2)
       |      + (SELECT ${tok(s"'$q3'")} + ptok + ctok FROM f3),
       |    'chat gate', '')
       |SELECT type, sender, tokens, prompt_tokens, tokens_used, name, text
       |FROM out ORDER BY type, sender, text, tokens""".stripMargin
  }

  override val queries: Seq[Q] = Seq(
    Q("q398_chat_turn", q398, Some(q398Sql), headline = true),
    Q("q60_rag_retrieval", q60, Some(q60Sql), headline = true),
    Q("q64_ingest_embed_1536", q64, Some(q64Sql), headline = true),
    Q("q61_store_upsert", q61, Some(q61Sql)),
    Q("q62_store_delete", q62, Some(q62Sql)),
    Q("q99_store_time_travel", q99, Some(q99Sql)),
    Q("q104_store_compact", q104, Some(q104Sql), headline = true),
    Q("q105_store_skipping", q105, Some(q105Sql), headline = true),
    Q("q150_store_bloom_lookup", q150, Some(q150Sql)),
    Q("q108_store_merge_set", q108, Some(q108Sql)),
    Q("q111_store_diff", q111, Some(q111Sql)),
    Q("q132_store_changefeed", q132, Some(q132Sql)),
    Q("q133_zorder_skipping", q133, Some(q133Sql)),
    Q("q139_incremental_index_sync", q139, Some(q139Sql)),
    Q("q140_streaming_cdc_apply", q140, Some(q140Sql)),
    Q("q141_incremental_view", q141, Some(q141Sql)),
    Q("q117_store_vacuum", q117, Some(q117Sql)),
    // headline: the two 100 TB-relevant streaming sinks (ingest + index
    // maintenance) get a round-over-round throughput trend of their own
    Q("q118_streaming_ingest", q118, Some(q118Sql), headline = true),
    Q("q119_streaming_sessionize", q119, Some(q119Sql)),
    Q("q120_streaming_window_agg", q120, Some(q120Sql)),
    Q("q121_streaming_dedup", q121, Some(q121Sql)),
    Q("q430_streaming_semantic_cache", q430, Some(q430Sql)),
    Q("q125_streaming_interval_join", q125, Some(q125Sql)),
    Q("q135_streaming_outer_join", q135, Some(q135Sql)),
    Q("q153_streaming_threshold", q153, Some(q153Sql)),
    Q("q126_streaming_enrich", q126, Some(q126Sql)),
    Q("q158_csv_roundtrip", q158, Some(q158Sql)),
    Q("q163_csv_splittable", q163, Some(q163Sql)),
    // the full lifecycle stays the correctness gate; the bench headline
    // is the sync/gate SPLIT (q159 pattern) so the delta-bounded sync
    // trend is visible round-over-round instead of hiding inside the
    // deliberate rebuild+parity gate cost
    Q("q172_streaming_index_sync", q172, Some(q172Sql)),
    Q("q172_sync", q172s, Some(q172Sql), headline = true),
    Q("q172_gate", q172g, Some(q172Sql), headline = true),
    Q("q179_store_repartition", q179, Some(q179Sql)),
    Q("q184_orc_roundtrip", q184, Some(q184Sql)),
    Q("q192_streaming_admission", q192, Some(q192Sql)),
    Q("q208_streaming_drift", q208, Some(q208Sql)),
    Q("q198_release_manifest", q198, Some(q198Sql)))
}
