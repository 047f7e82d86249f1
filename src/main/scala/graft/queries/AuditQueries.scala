package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.store.Scratch
import graft.operators.{Ablation, Autocorr, ChangePoint, Dependencies,
  Experiments, KAnonymity, Ordinal, RankTests, Sequences, Smoothing,
  TrendTests, Weighting}

/** Round-16 release/ingest audit extensions (q327+): t-closeness (the
  * ordered-attribute privacy audit k-anonymity and l-diversity miss),
  * functional-dependency and inclusion-dependency profiling, and the
  * changepoint/forecast closers. House hash-parity rules throughout. */
object AuditQueries extends QuerySet {

  /** t-closeness release audit: QI = (lang, source), sensitive =
    * n_chars decabands — ordered, so a 3-diverse cell can still
    * disclose length to ±one band; EMD against the global band
    * distribution catches it (q234 k-anonymity → q321 l-diversity →
    * this, the privacy-triad closer). */
  private def q327(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("lang").isNotNull && col("source").isNotNull)
      .select(col("lang"), col("source"),
        floor(col("n_chars") / 10).cast("long").as("len_band"))
    KAnonymity.tCloseness(docs, Seq("lang", "source"), "len_band", t = 0.2)
  }

  private val q327Sql =
    """WITH census AS (
      |  SELECT lang, source, CAST(floor(n_chars / 10) AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents
      |  WHERE lang IS NOT NULL AND source IS NOT NULL
      |    AND n_chars IS NOT NULL
      |  GROUP BY 1, 2, 3),
      |grid AS (SELECT v, CAST(SUM(c) AS BIGINT) AS g FROM census
      |  GROUP BY v),
      |gcum AS (
      |  SELECT v, CAST(SUM(g) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cumg
      |  FROM grid),
      |gs AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
      |  CAST(SUM(g) AS BIGINT) AS nn FROM grid),
      |qcells AS (SELECT lang, source, CAST(SUM(c) AS BIGINT) AS n
      |  FROM census GROUP BY 1, 2),
      |cellcum AS (
      |  SELECT lang, source, v,
      |    CAST(SUM(c) OVER (PARTITION BY lang, source ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cumc
      |  FROM census),
      |fullg AS (
      |  SELECT q.lang, q.source, q.n, g.v, g.cumg,
      |    COALESCE(MAX(cc.cumc) OVER (PARTITION BY q.lang, q.source
      |      ORDER BY g.v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS ccf
      |  FROM qcells q CROSS JOIN gcum g
      |  LEFT JOIN cellcum cc
      |    ON cc.lang = q.lang AND cc.source = q.source AND cc.v = g.v),
      |emds AS (
      |  SELECT f.lang, f.source, f.n,
      |    SUM(abs(CAST(f.ccf AS HUGEINT) * gs.nn
      |      - CAST(f.cumg AS HUGEINT) * f.n)) AS num,
      |    MAX(gs.m) AS m, MAX(gs.nn) AS nn
      |  FROM fullg f, gs GROUP BY 1, 2, 3)
      |SELECT lang, source, n,
      |  round(CAST(CAST(num AS VARCHAR) AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)
      |      * CAST(m - 1 AS DOUBLE)), 6) AS emd,
      |  round(CAST(CAST(num AS VARCHAR) AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)
      |      * CAST(m - 1 AS DOUBLE)), 6) > 0.2 AS violates,
      |  0.2 AS t_required
      |FROM emds ORDER BY lang, source""".stripMargin

  /** Functional-dependency profile of the order book: the key FD
    * (o_orderkey→o_custkey) must hold exactly; the three non-key
    * candidates report their g₃ repair fractions — the ingest-time
    * "which columns actually determine which" audit. */
  private def q328(s: SparkSession, d: String): DataFrame =
    Dependencies.fdAudit(t(s, d, "orders"), Seq(
      "o_orderkey" -> "o_custkey",
      "o_custkey" -> "o_orderpriority",
      "o_custkey" -> "o_orderstatus",
      "o_orderpriority" -> "o_orderstatus"))

  private val q328Sql =
    """WITH pairs AS (
      |  SELECT 'o_orderkey->o_custkey' AS fd,
      |    CAST(o_orderkey AS VARCHAR) AS det,
      |    CAST(o_custkey AS VARCHAR) AS dep
      |  FROM orders WHERE o_orderkey IS NOT NULL
      |  UNION ALL
      |  SELECT 'o_custkey->o_orderpriority',
      |    CAST(o_custkey AS VARCHAR), CAST(o_orderpriority AS VARCHAR)
      |  FROM orders WHERE o_custkey IS NOT NULL
      |  UNION ALL
      |  SELECT 'o_custkey->o_orderstatus',
      |    CAST(o_custkey AS VARCHAR), CAST(o_orderstatus AS VARCHAR)
      |  FROM orders WHERE o_custkey IS NOT NULL
      |  UNION ALL
      |  SELECT 'o_orderpriority->o_orderstatus',
      |    CAST(o_orderpriority AS VARCHAR), CAST(o_orderstatus AS VARCHAR)
      |  FROM orders WHERE o_orderpriority IS NOT NULL),
      |census AS (
      |  SELECT fd, det, dep, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM pairs GROUP BY 1, 2, 3),
      |perkey AS (
      |  SELECT fd, det, CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(MAX(c) AS BIGINT) AS mx, CAST(COUNT(*) AS BIGINT) AS dd
      |  FROM census GROUP BY 1, 2)
      |SELECT fd, CAST(SUM(n) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(CASE WHEN dd > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_violating_keys,
      |  CAST(SUM(n - mx) AS BIGINT) AS n_violations,
      |  round(CAST(SUM(n - mx) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
      |    AS g3_error,
      |  CAST(SUM(n - mx) AS BIGINT) = 0 AS holds
      |FROM perkey GROUP BY fd ORDER BY fd""".stripMargin

  /** Inclusion-dependency / referential-integrity audit across the
    * star schema, plus one business-predicate pair (lineitem suppliers
    * must be in good standing — negative-balance suppliers orphan
    * their lineitems, the rows an enrichment join silently drops). */
  private def q329(s: SparkSession, d: String): DataFrame = {
    val audits = Seq(
      Dependencies.inclusionAudit(t(s, d, "lineitem"), "l_orderkey",
        t(s, d, "orders"), "o_orderkey", "lineitem.l_orderkey<=orders"),
      Dependencies.inclusionAudit(t(s, d, "orders"), "o_custkey",
        t(s, d, "customer"), "c_custkey", "orders.o_custkey<=customer"),
      Dependencies.inclusionAudit(t(s, d, "embeddings"), "vec_id",
        t(s, d, "documents"), "doc_id", "embeddings.vec_id<=documents"),
      Dependencies.inclusionAudit(t(s, d, "lineitem"), "l_suppkey",
        t(s, d, "supplier").filter(col("s_acctbal") >= 0), "s_suppkey",
        "lineitem.l_suppkey<=supplier_good_standing"))
    audits.reduce(_ unionByName _).orderBy(col("fk"))
  }

  private val q329Sql =
    """WITH a1 AS (
      |  SELECT 'lineitem.l_orderkey<=orders' AS fk,
      |    CAST(l_orderkey AS BIGINT) AS k FROM lineitem
      |  WHERE l_orderkey IS NOT NULL),
      |p1 AS (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS k FROM orders
      |  WHERE o_orderkey IS NOT NULL),
      |a2 AS (
      |  SELECT 'orders.o_custkey<=customer' AS fk,
      |    CAST(o_custkey AS BIGINT) AS k FROM orders
      |  WHERE o_custkey IS NOT NULL),
      |p2 AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS k FROM customer
      |  WHERE c_custkey IS NOT NULL),
      |a3 AS (
      |  SELECT 'embeddings.vec_id<=documents' AS fk,
      |    CAST(vec_id AS BIGINT) AS k FROM embeddings
      |  WHERE vec_id IS NOT NULL),
      |p3 AS (SELECT DISTINCT CAST(doc_id AS BIGINT) AS k FROM documents
      |  WHERE doc_id IS NOT NULL),
      |a4 AS (
      |  SELECT 'lineitem.l_suppkey<=supplier_good_standing' AS fk,
      |    CAST(l_suppkey AS BIGINT) AS k FROM lineitem
      |  WHERE l_suppkey IS NOT NULL),
      |p4 AS (SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS k FROM supplier
      |  WHERE s_suppkey IS NOT NULL AND s_acctbal >= 0),
      |audit AS (
      |  SELECT fk, k, CAST(COUNT(*) AS BIGINT) AS c,
      |    MAX(CASE WHEN k IN (SELECT k FROM p1) THEN 1 ELSE 0 END) AS hit
      |  FROM a1 GROUP BY fk, k
      |  UNION ALL
      |  SELECT fk, k, CAST(COUNT(*) AS BIGINT),
      |    MAX(CASE WHEN k IN (SELECT k FROM p2) THEN 1 ELSE 0 END)
      |  FROM a2 GROUP BY fk, k
      |  UNION ALL
      |  SELECT fk, k, CAST(COUNT(*) AS BIGINT),
      |    MAX(CASE WHEN k IN (SELECT k FROM p3) THEN 1 ELSE 0 END)
      |  FROM a3 GROUP BY fk, k
      |  UNION ALL
      |  SELECT fk, k, CAST(COUNT(*) AS BIGINT),
      |    MAX(CASE WHEN k IN (SELECT k FROM p4) THEN 1 ELSE 0 END)
      |  FROM a4 GROUP BY fk, k)
      |SELECT fk, CAST(SUM(c) AS BIGINT) AS n_child_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_child_keys,
      |  CAST(SUM(CASE WHEN hit = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_orphan_keys,
      |  CAST(SUM(CASE WHEN hit = 0 THEN c ELSE 0 END) AS BIGINT)
      |    AS n_orphan_rows,
      |  round(CAST(SUM(c) - SUM(CASE WHEN hit = 0 THEN c ELSE 0 END)
      |      AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS coverage
      |FROM audit GROUP BY fk ORDER BY fk""".stripMargin

  /** Pettitt changepoint over the hourly revenue series: WHERE the
    * level broke — the rank-based locator beside q290's CUSUM (which
    * needs a calibration prefix) and q252's Mann–Kendall (trend, not
    * location). */
  private def q330(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
    ChangePoint.pettitt(grid, "t", "y")
  }

  private val q330Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS tn FROM g),
      |census AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM g
      |  GROUP BY y),
      |ranked AS (
      |  SELECT y,
      |    2 * (CAST(SUM(c) OVER (ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      - c) + c + 1 AS m2
      |  FROM census),
      |ut AS (
      |  SELECT g.t,
      |    CAST(SUM(r.m2 - 1 - s.tn) OVER (ORDER BY g.t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS u
      |  FROM g JOIN ranked r ON g.y = r.y CROSS JOIN s),
      |pk AS (SELECT CAST(MAX(abs(u)) AS BIGINT) AS k FROM ut),
      |tstar AS (SELECT MIN(t) AS t_star FROM ut, pk WHERE abs(u) = pk.k)
      |SELECT ut.t, ut.u, ut.t = tstar.t_star AS is_peak, pk.k,
      |  tstar.t_star, s.tn AS n,
      |  round(least(1.0, 2.0 * exp(-6.0 * CAST(pk.k AS DOUBLE)
      |    * CAST(pk.k AS DOUBLE)
      |    / (CAST(s.tn AS DOUBLE) * CAST(s.tn AS DOUBLE)
      |      * CAST(s.tn AS DOUBLE)
      |      + CAST(s.tn AS DOUBLE) * CAST(s.tn AS DOUBLE)))), 6)
      |    AS p_approx
      |FROM ut CROSS JOIN pk CROSS JOIN tstar CROSS JOIN s
      |ORDER BY ut.t""".stripMargin

  /** Additive Holt-Winters on the hourly revenue series, daily season
    * — the forecast q322's Holt chases as spurious trend (the series
    * has a 24-hour cycle); completes the SES → Holt → Holt-Winters →
    * MASE-backtest forecasting family. */
  private def q331(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg((sum(round(col("value") * 100).cast("long")).cast("double") /
        lit(100.0)).as("y"))
    Smoothing.holtWinters(grid, "t", "y", season = 24,
      alpha = 0.3, beta = 0.1, gamma = 0.2)
  }

  private val q331Sql =
    """WITH RECURSIVE g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |      AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |gi AS (SELECT t, y, row_number() OVER (ORDER BY t) AS rn FROM g),
      |l0 AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list(y ORDER BY rn)), (a, b) -> a + b) / 24.0 AS l
      |  FROM gi WHERE rn <= 24),
      |mu2 AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list(y ORDER BY rn)), (a, b) -> a + b) / 24.0 AS v
      |  FROM gi WHERE rn > 24 AND rn <= 48),
      |seed AS (
      |  SELECT CAST(24 AS BIGINT) AS rn, l0.l AS l,
      |    (mu2.v - l0.l) / 24.0 AS b,
      |    (SELECT list(gi.y - l0.l ORDER BY gi.rn) FROM gi, l0
      |     WHERE gi.rn <= 24) AS seas,
      |    CAST(NULL AS DOUBLE) AS y, CAST(NULL AS BIGINT) AS t,
      |    CAST(NULL AS DOUBLE) AS snew, CAST(NULL AS DOUBLE) AS e
      |  FROM l0, mu2),
      |rec AS (
      |  SELECT * FROM seed
      |  UNION ALL
      |  SELECT gi.rn,
      |    0.3 * (gi.y - rec.seas[1])
      |      + (1.0 - 0.3) * (rec.l + rec.b),
      |    0.1 * ((0.3 * (gi.y - rec.seas[1])
      |        + (1.0 - 0.3) * (rec.l + rec.b)) - rec.l)
      |      + (1.0 - 0.1) * rec.b,
      |    list_append(rec.seas[2:],
      |      0.2 * (gi.y - (0.3 * (gi.y - rec.seas[1])
      |        + (1.0 - 0.3) * (rec.l + rec.b)))
      |        + (1.0 - 0.2) * rec.seas[1]),
      |    gi.y, gi.t,
      |    0.2 * (gi.y - (0.3 * (gi.y - rec.seas[1])
      |      + (1.0 - 0.3) * (rec.l + rec.b)))
      |      + (1.0 - 0.2) * rec.seas[1],
      |    gi.y - (rec.l + rec.b + rec.seas[1])
      |  FROM rec JOIN gi ON gi.rn = rec.rn + 1)
      |SELECT t, y, round(l, 6) AS level, round(b, 6) AS trend,
      |  round(snew, 6) AS seasonal, round(e, 6) AS forecast_err
      |FROM rec WHERE rn > 24 ORDER BY t""".stripMargin

  /** Cliff's delta: HOW MUCH longer are English documents than the
    * rest — the effect size that stays meaningful when corpus scale
    * makes every rank test "significant". */
  private def q332(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("lang").isNotNull && col("n_chars").isNotNull)
      .select(when(col("lang") === "en", 1).otherwise(0).cast("int")
          .as("g"),
        col("n_chars").cast("long").as("v"))
    RankTests.cliffsDelta(docs, "g", "v")
  }

  private val q332Sql =
    """WITH r AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g,
      |    CAST(n_chars AS BIGINT) AS v
      |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
      |grid AS (
      |  SELECT v,
      |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM r GROUP BY v),
      |tr AS (
      |  SELECT v, n1, n2,
      |    CAST(SUM(n2) OVER w - n2 AS BIGINT) AS cb2
      |  FROM grid
      |  WINDOW w AS (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |p AS (
      |  SELECT CAST(SUM(n1) AS BIGINT) AS n1s,
      |    CAST(SUM(n2) AS BIGINT) AS n2s,
      |    SUM(CAST(n1 AS HUGEINT) * cb2) AS gt,
      |    SUM(CAST(n1 AS HUGEINT) * n2) AS eq
      |  FROM tr),
      |d AS (
      |  SELECT n1s, n2s, gt, eq,
      |    CAST(n1s AS HUGEINT) * n2s - gt - eq AS lt
      |  FROM p),
      |cl AS (
      |  SELECT n1s, n2s, gt, eq, lt,
      |    round(CAST(CAST(gt - lt AS VARCHAR) AS DOUBLE)
      |      / (CAST(n1s AS DOUBLE) * CAST(n2s AS DOUBLE)), 6) AS delta
      |  FROM d)
      |SELECT n1s AS n1, n2s AS n2,
      |  CAST(CAST(gt AS VARCHAR) AS DOUBLE) AS gt_pairs,
      |  CAST(CAST(lt AS VARCHAR) AS DOUBLE) AS lt_pairs,
      |  CAST(CAST(eq AS VARCHAR) AS DOUBLE) AS tie_pairs,
      |  delta,
      |  CASE WHEN abs(delta) < 0.147 THEN 'negligible'
      |    WHEN abs(delta) < 0.33 THEN 'small'
      |    WHEN abs(delta) < 0.474 THEN 'medium'
      |    ELSE 'large' END AS magnitude
      |FROM cl""".stripMargin

  /** Goodman–Kruskal gamma / Somers' D: do larger order quantities
    * co-move with higher line prices — the asymmetric "does x predict
    * y's ordering" readout beside q257's symmetric tau-b. */
  private def q333(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .filter(col("l_quantity").isNotNull &&
        col("l_extendedprice").isNotNull)
      .select(col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice") / 2000).cast("long").as("price_band"))
    Ordinal.gammaSomers(li, "qty", "price_band")
  }

  private val q333Sql =
    """WITH census AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x,
      |    CAST(floor(l_extendedprice / 2000) AS BIGINT) AS y,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      |  GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
      |  CAST(COUNT(*) AS BIGINT) AS cells FROM census),
      |pairs AS (
      |  SELECT
      |    SUM(CASE WHEN sign(b.x - a.x) * sign(b.y - a.y) > 0
      |      THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) / 2 AS c,
      |    SUM(CASE WHEN sign(b.x - a.x) * sign(b.y - a.y) < 0
      |      THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) / 2 AS d
      |  FROM census a, census b
      |  WHERE NOT (a.x = b.x AND a.y = b.y)),
      |tx_ AS (
      |  SELECT SUM(CAST(t AS HUGEINT) * (t - 1) / 2) AS tx FROM
      |  (SELECT CAST(SUM(n) AS BIGINT) AS t FROM census GROUP BY x)),
      |ty_ AS (
      |  SELECT SUM(CAST(t AS HUGEINT) * (t - 1) / 2) AS ty FROM
      |  (SELECT CAST(SUM(n) AS BIGINT) AS t FROM census GROUP BY y)),
      |alg AS (
      |  SELECT tot.nn, tot.cells, pairs.c, pairs.d, tx_.tx, ty_.ty,
      |    CAST(tot.nn AS HUGEINT) * (tot.nn - 1) / 2 AS p
      |  FROM tot, pairs, tx_, ty_)
      |SELECT nn AS n, cells,
      |  CAST(CAST(c AS VARCHAR) AS DOUBLE) AS c_pairs,
      |  CAST(CAST(d AS VARCHAR) AS DOUBLE) AS d_pairs,
      |  CAST(CAST(tx AS VARCHAR) AS DOUBLE) AS tied_x,
      |  CAST(CAST(ty AS VARCHAR) AS DOUBLE) AS tied_y,
      |  round(CAST(CAST(c - d AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(c + d AS VARCHAR) AS DOUBLE), 6) AS gamma,
      |  round(CAST(CAST(c - d AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(p - tx AS VARCHAR) AS DOUBLE), 6) AS somers_dyx,
      |  round(CAST(CAST(c - d AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(p - ty AS VARCHAR) AS DOUBLE), 6) AS somers_dxy
      |FROM alg""".stripMargin

  /** Streaming schema-drift monitor under the driver gate — the q315
    * batch audit made continuous on the LedgerMonitor base (its seventh
    * monitor): even events land as four deterministic micro-batches of
    * raw JSON docs; batches 2-3 carry a planted int→string producer
    * regression on field `k`, which must flip exactly once (batch 2)
    * while the never-present field `z` stays 'missing' throughout. */
  private def q334(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("event_id") % 2 === 0)
      .select(col("event_id"),
        when(col("event_id") % 8 < 4,
          to_json(struct((col("event_id") % 97).as("k"))))
          .otherwise(to_json(struct((col("event_id") % 97).cast("string")
            .as("k"))))
          .as("doc"))
    val srcDir = Scratch.dir(s, "q334-src")
    val base = System.currentTimeMillis()
    Seq(0, 2, 4, 6).zipWithIndex.foreach { case (r, i) =>
      Scratch.stage(ev.filter(col("event_id") % 8 === r).select(col("doc")).coalesce(1),
        srcDir, base + i * 1000L)
    }
    val store = new graft.store.DocumentStore(s, Scratch.dir(s, "q334-store"))
    val feed = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val qy = graft.streaming.SchemaMonitor.start(feed, store, "sledger",
      "sverdict", "doc", Seq("k", "z"), Scratch.dir(s, "q334-ckpt"))
    try qy.processAllAvailable() finally qy.stop()
    store.read("sverdict")
      .select(col("batch_id"), col("field"), col("n_docs"),
        col("dom_type"), col("n_dom"), col("prev_type"), col("flipped"))
      .orderBy(col("field"), col("batch_id"))
  }

  private val q334Sql =
    """WITH src AS (
      |  SELECT (event_id % 8) // 2 AS b,
      |    CASE WHEN event_id % 8 < 4
      |      THEN to_json(struct_pack(k := event_id % 97))
      |      ELSE to_json(struct_pack(k := CAST(event_id % 97 AS VARCHAR)))
      |      END AS doc
      |  FROM events WHERE event_id % 2 = 0),
      |toks AS (
      |  SELECT b, f.field,
      |    regexp_extract(doc, '"' || f.field ||
      |      '"\s*:\s*("(?:[^"\\]|\\.)*"|\[|\{|true|false|null|' ||
      |      '-?[0-9][0-9.eE+\-]*)', 1) AS tok
      |  FROM src CROSS JOIN (VALUES ('k'), ('z')) AS f(field)),
      |cls AS (
      |  SELECT b, field,
      |    CASE WHEN tok = '' THEN 'missing'
      |      WHEN tok = 'null' THEN 'null'
      |      WHEN tok IN ('true', 'false') THEN 'bool'
      |      WHEN left(tok, 1) = '"' THEN 'string'
      |      WHEN left(tok, 1) = '[' THEN 'array'
      |      WHEN left(tok, 1) = '{' THEN 'object'
      |      WHEN regexp_matches(tok, '^-?[0-9]+$') THEN 'int'
      |      ELSE 'float' END AS t
      |  FROM toks),
      |cells AS (
      |  SELECT b, field, t, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM cls GROUP BY 1, 2, 3),
      |dom AS (
      |  SELECT b, field, n_docs, t AS dom_type, n AS n_dom FROM (
      |    SELECT b, field, t, n,
      |      CAST(SUM(n) OVER (PARTITION BY b, field) AS BIGINT)
      |        AS n_docs,
      |      row_number() OVER (PARTITION BY b, field
      |        ORDER BY n DESC, t DESC) AS rn
      |    FROM cells) x WHERE rn = 1)
      |SELECT b AS batch_id, field, n_docs, dom_type, n_dom,
      |  lag(dom_type) OVER (PARTITION BY field ORDER BY b) AS prev_type,
      |  COALESCE(lag(dom_type) OVER (PARTITION BY field ORDER BY b)
      |    <> dom_type, FALSE) AS flipped
      |FROM dom ORDER BY field, batch_id""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("q327_t_closeness", q327, Some(q327Sql)),
    Q("q328_fd_audit", q328, Some(q328Sql)),
    Q("q329_inclusion_audit", q329, Some(q329Sql)),
    Q("q330_pettitt", q330, Some(q330Sql)),
    Q("q331_holt_winters", q331, Some(q331Sql)),
    Q("q332_cliffs_delta", q332, Some(q332Sql)),
    Q("q333_gamma_somers", q333, Some(q333Sql)),
    Q("q334_streaming_schema", q334, Some(q334Sql)),
    Q("q352_rbo_drift", q352, Some(q352Sql)),
    Q("q353_reconciliation", q353, Some(q353Sql)),
    Q("q354_holm_fwer", q354, Some(q354Sql)),
    Q("q355_eb_shrinkage", q355, Some(q355Sql)),
    Q("q356_chatterjee_xi", q356, Some(q356Sql)),
    Q("q357_cluster_agreement", q357, Some(q357Sql)),
    Q("q358_rich_club", q358, Some(q358Sql)),
    Q("q359_hill_tail", q359, Some(q359Sql)),
    Q("q360_median_ci", q360, Some(q360Sql)))

  /** Hill plot of the spend tail (cents): a stable plateau = a
    * trustworthy tail index; alpha < 2 means infinite variance and
    * every mean-based dashboard number over this metric is noise. */
  private def q359(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .filter(col("value").isNotNull && col("value") > 0)
      .select(round(col("value") * 100).cast("long").as("v"))
    graft.operators.Outliers.hillPlot(ev, "v", (1 to 20).map(_ * 10))
  }

  private val q359Sql =
    """WITH vv AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
      |  WHERE value IS NOT NULL AND value > 0),
      |top AS (
      |  SELECT v, row_number() OVER (ORDER BY v DESC) AS r
      |  FROM (SELECT v FROM vv ORDER BY v DESC LIMIT 201)),
      |ks AS (SELECT unnest(range(10, 201, 10)) AS k),
      |thr AS (SELECT ks.k, top.v AS t FROM ks JOIN top
      |  ON top.r = ks.k + 1),
      |sums AS (
      |  SELECT thr.k, thr.t,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(ln(CAST(top.v AS DOUBLE) / CAST(thr.t AS DOUBLE))
      |        ORDER BY top.r)),
      |      (a, b) -> a + b) AS s,
      |    MAX(CASE WHEN top.r = thr.k THEN top.v END) AS xk
      |  FROM thr JOIN top ON top.r <= thr.k GROUP BY thr.k, thr.t)
      |SELECT CAST(k AS BIGINT) AS k, xk AS x_k, t AS threshold,
      |  CASE WHEN s = 0 THEN NULL
      |    ELSE round(CAST(k AS DOUBLE) / s, 6) END AS alpha
      |FROM sums ORDER BY k""".stripMargin

  /** Distribution-free 95% CI for the median spend (cents) — two
    * exact order statistics; no normality assumed anywhere. */
  private def q360(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("value").isNotNull)
      .select(round(col("value") * 100).cast("long").as("v"))
    graft.operators.ExactQuantile.medianCi(ev, "v")
  }

  private val q360Sql =
    """WITH vv AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
      |  WHERE value IS NOT NULL),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vv),
      |rk AS (
      |  SELECT n,
      |    greatest(1, CAST(ceil(CAST(n AS DOUBLE) / 2.0
      |      - 1.959964 * sqrt(CAST(n AS DOUBLE)) / 2.0) AS BIGINT))
      |      AS l,
      |    least(n, CAST(floor(CAST(n AS DOUBLE) / 2.0 + 1.0
      |      + 1.959964 * sqrt(CAST(n AS DOUBLE)) / 2.0) AS BIGINT))
      |      AS u,
      |    (n + 1) // 2 AS m
      |  FROM nn),
      |cum AS (
      |  SELECT v, CAST(SUM(COUNT(*)) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS c
      |  FROM vv GROUP BY v)
      |SELECT rk.n,
      |  (SELECT MIN(v) FROM cum WHERE c >= rk.m) AS median,
      |  (SELECT MIN(v) FROM cum WHERE c >= rk.l) AS ci_lo,
      |  (SELECT MIN(v) FROM cum WHERE c >= rk.u) AS ci_hi,
      |  rk.l AS rank_lo, rk.u AS rank_hi,
      |  CAST('1.959964' AS DOUBLE) AS z
      |FROM rk""".stripMargin

  /** Rich-club curve of the part co-purchase graph: do the hub parts
    * preferentially co-occur with each other — the hub-oligarchy read
    * beside q228's assortativity scalar and q190's k-core peel. */
  private def q358(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey").as("o"),
        col("l_partkey").cast("long").as("p"))
    val edges = li.withColumnRenamed("p", "pa")
      .join(li.withColumnRenamed("p", "pb"), "o")
      .filter(col("pa") =!= col("pb"))
      .select(col("pa").as("a"), col("pb").as("b"))
    graft.operators.GraphStats.richClub(edges, "a", "b", maxK = 32)
  }

  private val q358Sql =
    """WITH li AS (SELECT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
      |  FROM lineitem),
      |e AS (SELECT DISTINCT least(x.p, y.p) AS a, greatest(x.p, y.p) AS b
      |  FROM li x JOIN li y ON x.o = y.o AND x.p <> y.p),
      |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
      |dh AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS cn FROM deg
      |  GROUP BY d),
      |mh AS (
      |  SELECT least(da.d, db.d) AS m, CAST(COUNT(*) AS BIGINT) AS ce
      |  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n
      |  GROUP BY 1),
      |ks AS (SELECT unnest(range(1, 33)) AS k),
      |nk AS (SELECT k, CAST(SUM(CASE WHEN d > k THEN cn ELSE 0 END)
      |  AS BIGINT) AS n_nodes FROM ks CROSS JOIN dh GROUP BY k),
      |ek AS (SELECT k, CAST(SUM(CASE WHEN m > k THEN ce ELSE 0 END)
      |  AS BIGINT) AS n_edges FROM ks CROSS JOIN mh GROUP BY k)
      |SELECT CAST(nk.k AS BIGINT) AS k, nk.n_nodes, ek.n_edges,
      |  CASE WHEN nk.n_nodes < 2 THEN NULL
      |    ELSE round(2.0 * CAST(ek.n_edges AS DOUBLE)
      |      / (CAST(nk.n_nodes AS DOUBLE)
      |        * CAST(nk.n_nodes - 1 AS DOUBLE)), 6) END AS phi
      |FROM nk JOIN ek ON nk.k = ek.k ORDER BY k""".stripMargin

  /** ARI + NMI between the language partition and the length-band
    * partition of the corpus — the chance-corrected clustering
    * agreement the dedup/community operators produce clusters
    * without. */
  private def q357(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("lang").isNotNull && col("n_chars").isNotNull)
      .select(col("lang"),
        floor(col("n_chars") / 100).cast("long").as("len_band"))
    graft.operators.ClusterAgreement.ariNmi(docs, "lang", "len_band")
  }

  private val q357Sql =
    """WITH census AS (
      |  SELECT CAST(lang AS VARCHAR) AS a,
      |    CAST(CAST(floor(n_chars / 100) AS BIGINT) AS VARCHAR) AS b,
      |    CAST(COUNT(*) AS BIGINT) AS nij
      |  FROM documents
      |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
      |  GROUP BY 1, 2),
      |nn AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM census),
      |am AS (SELECT a, CAST(SUM(nij) AS BIGINT) AS ca FROM census
      |  GROUP BY a),
      |bm AS (SELECT b, CAST(SUM(nij) AS BIGINT) AS cb FROM census
      |  GROUP BY b),
      |pairs AS (
      |  SELECT
      |    CAST(SUM(CAST(nij AS HUGEINT) * (nij - 1) / 2) AS HUGEINT)
      |      AS sij
      |  FROM census),
      |pa AS (SELECT CAST(SUM(CAST(ca AS HUGEINT) * (ca - 1) / 2)
      |  AS HUGEINT) AS sa FROM am),
      |pb AS (SELECT CAST(SUM(CAST(cb AS HUGEINT) * (cb - 1) / 2)
      |  AS HUGEINT) AS sb FROM bm),
      |tt AS (SELECT CAST(CAST(n AS HUGEINT) * (n - 1) / 2 AS HUGEINT)
      |  AS tot FROM nn),
      |ari AS (
      |  SELECT (CAST(CAST(pairs.sij AS VARCHAR) AS DOUBLE)
      |      - CAST(CAST(pa.sa AS VARCHAR) AS DOUBLE)
      |        * CAST(CAST(pb.sb AS VARCHAR) AS DOUBLE)
      |        / CAST(CAST(tt.tot AS VARCHAR) AS DOUBLE))
      |    / ((CAST(CAST(pa.sa AS VARCHAR) AS DOUBLE)
      |        + CAST(CAST(pb.sb AS VARCHAR) AS DOUBLE)) / 2.0
      |      - CAST(CAST(pa.sa AS VARCHAR) AS DOUBLE)
      |        * CAST(CAST(pb.sb AS VARCHAR) AS DOUBLE)
      |        / CAST(CAST(tt.tot AS VARCHAR) AS DOUBLE)) AS v
      |  FROM pairs, pa, pb, tt),
      |ha AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(-(CAST(ca AS DOUBLE) / CAST(nn.n AS DOUBLE))
      |        * ln(CAST(ca AS DOUBLE) / CAST(nn.n AS DOUBLE))
      |        ORDER BY a)),
      |      (x, y) -> x + y) AS v
      |  FROM am, nn GROUP BY nn.n),
      |hb AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(-(CAST(cb AS DOUBLE) / CAST(nn.n AS DOUBLE))
      |        * ln(CAST(cb AS DOUBLE) / CAST(nn.n AS DOUBLE))
      |        ORDER BY b)),
      |      (x, y) -> x + y) AS v
      |  FROM bm, nn GROUP BY nn.n),
      |mi AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list((CAST(census.nij AS DOUBLE) / CAST(nn.n AS DOUBLE))
      |        * ln(CAST(census.nij AS DOUBLE) / CAST(nn.n AS DOUBLE)
      |          * CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE)
      |          / (CAST(am.ca AS DOUBLE) * CAST(bm.cb AS DOUBLE)))
      |        ORDER BY census.a, census.b)),
      |      (x, y) -> x + y) AS v
      |  FROM census JOIN am ON census.a = am.a
      |  JOIN bm ON census.b = bm.b CROSS JOIN nn GROUP BY nn.n)
      |SELECT nn.n,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM am) AS cells_a,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bm) AS cells_b,
      |  round(ari.v, 6) AS ari,
      |  round(2.0 * mi.v / (ha.v + hb.v), 6) AS nmi
      |FROM nn, ari, ha, hb, mi""".stripMargin

  /** Chatterjee's ξ between hourly volume and hourly revenue — the
    * functional-dependence read q257/q258 (monotone-only) cannot give:
    * a perfect U-shape scores ~0 on tau/rho and ~1 on ξ. */
  private def q356(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100).cast("long")).as("y"))
    graft.operators.Correlation.chatterjeeXi(grid, "x", "y", "t")
  }

  private val q356Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
      |census AS (
      |  SELECT y, CAST(COUNT(*) AS BIGINT) AS tt FROM g GROUP BY y),
      |cc AS (
      |  SELECT y, tt,
      |    CAST(SUM(tt) OVER (ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS r
      |  FROM census),
      |cl AS (SELECT cc.y, cc.tt, cc.r, nn.n - cc.r + cc.tt AS l
      |  FROM cc, nn),
      |den AS (SELECT CAST(SUM(cl.tt * cl.l * (nn.n - cl.l)) AS BIGINT)
      |  AS d FROM cl, nn),
      |seq AS (
      |  SELECT abs(cl.r - lag(cl.r) OVER (ORDER BY g.x, g.t)) AS dr
      |  FROM g JOIN cl ON g.y = cl.y),
      |num AS (SELECT CAST(COALESCE(SUM(dr), 0) AS BIGINT) AS s FROM seq)
      |SELECT nn.n, num.s AS sum_abs_dr, 2 * den.d AS denom,
      |  round(1.0 - CAST(nn.n AS DOUBLE) * CAST(num.s AS DOUBLE)
      |    / (2.0 * CAST(den.d AS DOUBLE)), 6) AS xi
      |FROM nn, num, den""".stripMargin

  /** Empirical-Bayes shrinkage of per-source long-doc rates toward the
    * moment-matched beta prior — the leaderboard fix: small sources
    * stop winning on noise (their delta is the largest). */
  private def q355(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("source").isNotNull && col("n_chars").isNotNull)
      .select(col("source"), (col("n_chars") > 250).as("y"))
    graft.operators.Shrinkage.ebRates(docs, "source", "y")
  }

  private val q355Sql =
    """WITH census AS (
      |  SELECT CAST(source AS VARCHAR) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN n_chars > 250 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS x
      |  FROM documents
      |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
      |  GROUP BY 1),
      |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM census),
      |mu AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(CAST(x AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY s)),
      |      (a, b) -> a + b) / CAST(kk.k AS DOUBLE) AS m
      |  FROM census, kk GROUP BY kk.k),
      |vv AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list((CAST(x AS DOUBLE) / CAST(n AS DOUBLE) - mu.m)
      |        * (CAST(x AS DOUBLE) / CAST(n AS DOUBLE) - mu.m)
      |        ORDER BY s)),
      |      (a, b) -> a + b) / CAST(kk.k AS DOUBLE) AS v
      |  FROM census, kk, mu GROUP BY kk.k, mu.m),
      |prior AS (
      |  SELECT mu.m * (mu.m * (1.0 - mu.m) / vv.v - 1.0) AS alpha,
      |    (1.0 - mu.m) * (mu.m * (1.0 - mu.m) / vv.v - 1.0) AS beta,
      |    mu.m AS pm
      |  FROM mu, vv)
      |SELECT census.s AS segment, census.n, census.x,
      |  round(CAST(census.x AS DOUBLE) / CAST(census.n AS DOUBLE), 6)
      |    AS rate,
      |  round((CAST(census.x AS DOUBLE) + prior.alpha)
      |    / (CAST(census.n AS DOUBLE) + prior.alpha + prior.beta), 6)
      |    AS shrunk,
      |  round((CAST(census.x AS DOUBLE) + prior.alpha)
      |      / (CAST(census.n AS DOUBLE) + prior.alpha + prior.beta)
      |    - CAST(census.x AS DOUBLE) / CAST(census.n AS DOUBLE), 6)
      |    AS delta,
      |  round(prior.alpha, 6) AS alpha, round(prior.beta, 6) AS beta,
      |  round(prior.pm, 6) AS prior_mean
      |FROM census, prior ORDER BY segment""".stripMargin

  /** Holm-Bonferroni FWER control over per-source long-doc-rate z
    * tests — the one-false-alarm-is-expensive counterpart of q297's
    * BH/FDR, on a document-corpus battery (20 source segments). */
  private def q354(s: SparkSession, d: String): DataFrame = {
    val tests = t(s, d, "documents")
      .filter(col("source").isNotNull && col("n_chars").isNotNull)
      .select(col("source"),
        // doc_id's low bit IS the source assignment in this corpus —
        // hash the per-source sequence number instead so every source
        // carries both arms
        graft.operators.Splits.hashBucket(expr("doc_id div 20"), 2)
          .as("arm"),
        (col("n_chars") > 250).as("y"))
      .groupBy(col("source"))
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1 && col("y"), 1L).otherwise(0L))
          .as("x1"),
        sum(when(col("arm") =!= 1, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") =!= 1 && col("y"), 1L).otherwise(0L))
          .as("x0"))
      .withColumn("__pp",
        (col("x1") + col("x0")).cast("double") /
          (col("n1") + col("n0")).cast("double"))
      .withColumn("z",
        when(col("n1") > 0 && col("n0") > 0 &&
          col("__pp") > 0 && col("__pp") < 1,
          (col("x1").cast("double") / col("n1").cast("double") -
            col("x0").cast("double") / col("n0").cast("double")) /
            sqrt(col("__pp") * (lit(1.0) - col("__pp")) *
              (lit(1.0) / col("n1").cast("double") +
                lit(1.0) / col("n0").cast("double")))))
    graft.operators.MultipleTesting.holmAdjust(tests, "source", "z")
  }

  private val q354Sql =
    """WITH cells AS (
      |  SELECT source,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n1,
      |    CAST(SUM(CASE WHEN arm = 1 AND y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS x1,
      |    CAST(SUM(CASE WHEN arm <> 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n0,
      |    CAST(SUM(CASE WHEN arm <> 1 AND y THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x0
      |  FROM (
      |    SELECT source,
      |      CAST((((doc_id // 20) % 2147483648) * 2654435761)
      |        % 4294967296 % 2 AS INTEGER) AS arm,
      |      (n_chars > 250) AS y
      |    FROM documents
      |    WHERE source IS NOT NULL AND n_chars IS NOT NULL) t
      |  GROUP BY source),
      |ztab AS (
      |  SELECT source,
      |    (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
      |    / sqrt((CAST(x1 + x0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
      |        * (1.0 - CAST(x1 + x0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
      |        * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n0 AS DOUBLE)))
      |      AS z
      |  FROM cells
      |  WHERE n1 > 0 AND n0 > 0 AND x1 + x0 > 0 AND x1 + x0 < n1 + n0),
      |ptab AS (
      |  SELECT source, z,
      |    round(2.0 * (1.0 - (1.0
      |      - exp(-0.5 * abs(z) * abs(z)) * 0.3989422804014327
      |        * (((((1.330274429 * (1.0 / (1.0 + 0.2316419 * abs(z)))
      |          - 1.821255978) * (1.0 / (1.0 + 0.2316419 * abs(z)))
      |          + 1.781477937) * (1.0 / (1.0 + 0.2316419 * abs(z)))
      |          - 0.356563782) * (1.0 / (1.0 + 0.2316419 * abs(z)))
      |          + 0.319381530) * (1.0 / (1.0 + 0.2316419 * abs(z)))))),
      |      6) AS p
      |  FROM ztab),
      |ranked AS (
      |  SELECT source, z, p,
      |    CAST(row_number() OVER (ORDER BY p, source) AS BIGINT) AS rank,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS m
      |  FROM ptab),
      |holm AS (
      |  SELECT source, z, p, rank, m,
      |    round(least(1.0, MAX(CAST(m - rank + 1 AS DOUBLE) * p)
      |      OVER (ORDER BY p, source
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
      |      AS p_holm
      |  FROM ranked)
      |SELECT source, round(z, 6) AS z, p, rank, m, p_holm,
      |  p_holm <= 0.05 AS reject
      |FROM holm ORDER BY rank""".stripMargin

  /** Order-book reconciliation: does each order's lineitem roll-up
    * (price·(1−disc)·(1+tax)) match the stated o_totalprice — the
    * financial cross-table audit; keys partition into exact /
    * relative-error bands / missing-side, integer-cents decisions. */
  private def q353(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .filter(col("l_extendedprice").isNotNull &&
        col("l_discount").isNotNull && col("l_tax").isNotNull)
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax")) * 100).cast("long"))
    val ord = t(s, d, "orders")
      .filter(col("o_totalprice").isNotNull)
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    Dependencies.reconcile(li, "l_orderkey", "cents",
      ord, "o_orderkey", "cents")
  }

  private val q353Sql =
    """WITH ck AS (
      |  SELECT CAST(l_orderkey AS BIGINT) AS k,
      |    CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount)
      |      * (1.0 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS cc
      |  FROM lineitem
      |  WHERE l_orderkey IS NOT NULL AND l_extendedprice IS NOT NULL
      |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL
      |  GROUP BY 1),
      |pk AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS p
      |  FROM orders
      |  WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL),
      |j AS (
      |  SELECT COALESCE(ck.k, pk.k) AS k, ck.cc, pk.p,
      |    abs(ck.cc - pk.p) AS d
      |  FROM ck FULL JOIN pk ON ck.k = pk.k),
      |banded AS (
      |  SELECT k, d,
      |    CASE WHEN p IS NULL THEN '1_child_only'
      |      WHEN cc IS NULL THEN '2_parent_only'
      |      WHEN d = 0 THEN '3_exact'
      |      WHEN d * 1000 <= abs(p) THEN '4_within_0_1pct'
      |      WHEN d * 100 <= abs(p) THEN '5_within_1pct'
      |      WHEN d * 10 <= abs(p) THEN '6_within_10pct'
      |      ELSE '7_beyond_10pct' END AS band
      |  FROM j),
      |census AS (
      |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(COALESCE(SUM(d), 0) AS BIGINT) AS abs_diff_cents
      |  FROM banded GROUP BY band),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM banded),
      |bands AS (SELECT * FROM (VALUES ('1_child_only'),
      |  ('2_parent_only'), ('3_exact'), ('4_within_0_1pct'),
      |  ('5_within_1pct'), ('6_within_10pct'), ('7_beyond_10pct'))
      |  v(band))
      |SELECT bands.band, COALESCE(census.n_keys, 0) AS n_keys,
      |  COALESCE(census.abs_diff_cents, 0) AS abs_diff_cents,
      |  round(CAST(COALESCE(census.n_keys, 0) AS DOUBLE)
      |    / CAST(tot.t AS DOUBLE), 6) AS frac
      |FROM bands LEFT JOIN census ON bands.band = census.band
      |CROSS JOIN tot ORDER BY bands.band""".stripMargin

  /** Rank-biased overlap between the two epoch halves' top-100 term
    * rankings — ORDER-weighted vocabulary drift beside q278's
    * mass-weighted JSD (p = 0.9: the top handful of ranks carry most
    * of the verdict, as a "did our top terms change" read should). */
  private def q352(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    def termCounts(f: DataFrame): DataFrame =
      f.select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("w"))
    graft.operators.IrMetrics.rbo(
      termCounts(docs.filter(col("doc_id") % 2 === 0)),
      termCounts(docs.filter(col("doc_id") % 2 === 1)),
      "term", "w", k = 100, p = 0.9)
  }

  private val q352Sql = {
    // the pinned p^{d-1} weights, embedded as literals (the q287
    // discipline: engines must not race libm pow)
    // VARCHAR-routed literals: a bare decimal literal would parse as
    // DECIMAL and double-round on the cast (the q262 hazard class)
    val wts = graft.operators.Smoothing.weights(0.1, 100)
      .zipWithIndex
      .map { case (w, j) => s"(${j + 1}, CAST('$w' AS DOUBLE))" }
      .mkString(", ")
    s"""WITH ta0 AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
       |    AS term
       |  FROM documents WHERE doc_id % 2 = 0),
       |tb0 AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
       |    AS term
       |  FROM documents WHERE doc_id % 2 = 1),
       |ra AS (
       |  SELECT term, row_number() OVER (ORDER BY COUNT(*) DESC, term)
       |    AS r
       |  FROM ta0 GROUP BY term),
       |rb AS (
       |  SELECT term, row_number() OVER (ORDER BY COUNT(*) DESC, term)
       |    AS r
       |  FROM tb0 GROUP BY term),
       |hist AS (
       |  SELECT greatest(ra.r, rb.r) AS m, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM ra JOIN rb USING (term)
       |  WHERE ra.r <= 100 AND rb.r <= 100
       |  GROUP BY 1),
       |depths AS (SELECT unnest(range(1, 101)) AS d),
       |wt AS (SELECT * FROM (VALUES $wts) v(d, w)),
       |cum AS (
       |  SELECT depths.d,
       |    CAST(COALESCE(SUM(CASE WHEN hist.m <= depths.d THEN hist.c
       |      END), 0) AS BIGINT) AS ov
       |  FROM depths LEFT JOIN hist ON hist.m <= depths.d
       |  GROUP BY depths.d),
       |terms2 AS (
       |  SELECT cum.d, cum.ov,
       |    wt.w * CAST(cum.ov AS DOUBLE) / CAST(cum.d AS DOUBLE) AS term
       |  FROM cum JOIN wt ON cum.d = wt.d),
       |coef AS (
       |  SELECT (1.0 - 0.9) * list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(term ORDER BY d)), (a, b) -> a + b) AS rbo
       |  FROM terms2)
       |SELECT CAST(terms2.d AS BIGINT) AS depth, terms2.ov AS overlap,
       |  round(CAST(terms2.ov AS DOUBLE) / CAST(terms2.d AS DOUBLE), 6)
       |    AS agreement,
       |  round(coef.rbo, 6) AS rbo_at_k
       |FROM terms2, coef ORDER BY depth""".stripMargin
  }

}
