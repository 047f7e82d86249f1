package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.store.Scratch
import graft.operators.{Autocorr, Calibration, Cohorts, Conformal,
  Dispersion, Drift, Estimation, Experiments, Funnel, Jackknife,
  MultipleTesting, QuantileRegression, Readability, Sequences, Smoothing,
  TextProfile, VocabStats, Weighting}

/** Round-15 pipeline-audit extensions (q280+): exact 1-Wasserstein
  * drift, corpus readability, funnel conversion, cohort retention,
  * script-mix hygiene, lexical diversity, and the round's remaining
  * experiment/model additions. House hash-parity rules throughout
  * (identical aliases, exact integer/decimal accumulation, doubles
  * only at the closing step, total ORDER BY). */
object PipelineQueries extends QuerySet {

  /** Exact earth-mover distance between the even/odd document-length
    * distributions (the q267 split made metric): [[Drift.wasserstein1]]
    * on the merged distinct-value grid — integer numerators, one
    * closing division. */
  private def q280(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    Drift.wasserstein1(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "n_chars")
  }

  private val q280Sql =
    """WITH cells AS (
      |  SELECT v, CAST(SUM(r) AS BIGINT) AS nr, CAST(SUM(c) AS BIGINT) AS nc
      |  FROM (
      |    SELECT n_chars AS v, 1 AS r, 0 AS c FROM documents
      |    WHERE doc_id % 2 = 0
      |    UNION ALL
      |    SELECT n_chars, 0, 1 FROM documents WHERE doc_id % 2 = 1)
      |  GROUP BY v),
      |cum AS (
      |  SELECT v,
      |    CAST(SUM(nr) OVER (ORDER BY v) AS HUGEINT) AS cr,
      |    CAST(SUM(nc) OVER (ORDER BY v) AS HUGEINT) AS cc,
      |    CAST(COALESCE(LEAD(v) OVER (ORDER BY v) - v, 0) AS HUGEINT) AS gap
      |  FROM cells),
      |tot AS (SELECT CAST(SUM(nr) AS BIGINT) AS tnr,
      |  CAST(SUM(nc) AS BIGINT) AS tnc,
      |  MIN(v) AS lo, MAX(v) AS hi FROM cells),
      |num AS (SELECT SUM(abs(cr * tot.tnc - cc * tot.tnr) * gap) AS nm
      |  FROM cum, tot)
      |SELECT tot.tnr AS n_ref, tot.tnc AS n_cur, tot.lo, tot.hi,
      |  round(CAST(num.nm AS DOUBLE) /
      |    (CAST(tot.tnr AS DOUBLE) * CAST(tot.tnc AS DOUBLE)), 6) AS w1,
      |  CASE WHEN tot.hi > tot.lo THEN
      |    round(CAST(num.nm AS DOUBLE) /
      |      (CAST(tot.tnr AS DOUBLE) * CAST(tot.tnc AS DOUBLE)
      |        * CAST(tot.hi - tot.lo AS DOUBLE)), 6) END AS w1_norm
      |FROM tot, num""".stripMargin

  /** Corpus-level Flesch/FK readability per language —
    * [[Readability.fleschPerGroup]]: three integer regex counters
    * summed per group, formulas on the aggregate ratios. */
  private def q281(s: SparkSession, d: String): DataFrame =
    Readability.fleschPerGroup(t(s, d, "documents"), "lang", "text")

  private val q281Sql =
    """WITH per AS (
      |  SELECT lang,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
      |      AS BIGINT) AS w,
      |    GREATEST(CAST(len(regexp_extract_all(lower(text), '[.!?]+'))
      |      AS BIGINT), 1) AS s,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |      AS BIGINT) AS y
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS words,
      |    CAST(SUM(s) AS BIGINT) AS sentences,
      |    CAST(SUM(y) AS BIGINT) AS syllables
      |  FROM per GROUP BY lang)
      |SELECT lang, n_docs, words, sentences, syllables,
      |  round(206.835
      |    - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
      |    - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)), 6)
      |    AS flesch_ease,
      |  round(0.39 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
      |    + 11.8 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
      |    - 15.59, 6) AS fk_grade
      |FROM g WHERE words > 0 ORDER BY lang""".stripMargin

  /** First-touch funnel view → click → purchase over the event stream
    * — [[Funnel.conversion]]: chained window minima on one user
    * partitioning. */
  private def q282(s: SparkSession, d: String): DataFrame =
    Funnel.conversion(t(s, d, "events"), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))

  private val q282Sql =
    """WITH e AS (
      |  SELECT user_id AS u, event_type AS t, ts FROM events
      |  WHERE ts IS NOT NULL
      |    AND event_type IN ('view', 'click', 'purchase')),
      |s1 AS (SELECT u, MIN(ts) AS t1 FROM e WHERE t = 'view' GROUP BY u),
      |s2 AS (SELECT e.u, MIN(e.ts) AS t2 FROM e JOIN s1 ON e.u = s1.u
      |  WHERE e.t = 'click' AND e.ts > s1.t1 GROUP BY e.u),
      |s3 AS (SELECT e.u, MIN(e.ts) AS t3 FROM e JOIN s2 ON e.u = s2.u
      |  WHERE e.t = 'purchase' AND e.ts > s2.t2 GROUP BY e.u),
      |c AS (SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS u1,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS u2,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS u3)
      |SELECT 1 AS step_idx, 'view' AS step, u1 AS users,
      |  round(1.0, 6) AS rate_prev,
      |  CASE WHEN u1 > 0 THEN
      |    round(CAST(u1 AS DOUBLE) / CAST(u1 AS DOUBLE), 6) END
      |    AS rate_first
      |FROM c
      |UNION ALL
      |SELECT 2, 'click', u2,
      |  CASE WHEN u1 > 0 THEN
      |    round(CAST(u2 AS DOUBLE) / CAST(u1 AS DOUBLE), 6) END,
      |  CASE WHEN u1 > 0 THEN
      |    round(CAST(u2 AS DOUBLE) / CAST(u1 AS DOUBLE), 6) END
      |FROM c
      |UNION ALL
      |SELECT 3, 'purchase', u3,
      |  CASE WHEN u2 > 0 THEN
      |    round(CAST(u3 AS DOUBLE) / CAST(u2 AS DOUBLE), 6) END,
      |  CASE WHEN u1 > 0 THEN
      |    round(CAST(u3 AS DOUBLE) / CAST(u1 AS DOUBLE), 6) END
      |FROM c
      |ORDER BY step_idx""".stripMargin

  /** Weekly cohort retention matrix over the event stream —
    * [[Cohorts.retention]] from the 2024-01-01 origin. */
  private def q283(s: SparkSession, d: String): DataFrame =
    Cohorts.retention(t(s, d, "events"), "user_id", "ts", "2024-01-01")

  private val q283Sql =
    """WITH a AS (
      |  SELECT DISTINCT user_id AS u,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS w
      |  FROM events WHERE ts IS NOT NULL
      |    AND date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 0),
      |cohort AS (SELECT u, MIN(w) AS c FROM a GROUP BY u),
      |sizes AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cohort_users
      |  FROM cohort GROUP BY c),
      |act AS (
      |  SELECT cohort.c, a.w - cohort.c AS week_offset,
      |    CAST(COUNT(*) AS BIGINT) AS active_users
      |  FROM a JOIN cohort ON a.u = cohort.u
      |  GROUP BY cohort.c, a.w - cohort.c)
      |SELECT act.c AS cohort_week, act.week_offset, sizes.cohort_users,
      |  act.active_users,
      |  round(CAST(act.active_users AS DOUBLE) /
      |    CAST(sizes.cohort_users AS DOUBLE), 6) AS retention
      |FROM act JOIN sizes ON act.c = sizes.c
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Script-mix hygiene audit per language — [[TextProfile.scriptMix]]:
    * explicit-codepoint-range counters, BIGINT sums, closing ratios. */
  private def q284(s: SparkSession, d: String): DataFrame =
    TextProfile.scriptMix(t(s, d, "documents"), "lang", "text")

  private val q284Sql =
    """WITH g AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(length(text)) AS BIGINT) AS chars,
      |    CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]')))
      |      AS BIGINT) AS lat,
      |    CAST(SUM(len(regexp_extract_all(text, '[0-9]')))
      |      AS BIGINT) AS dig,
      |    CAST(SUM(len(regexp_extract_all(text, '[ \t\n\r]')))
      |      AS BIGINT) AS sp,
      |    CAST(SUM(len(regexp_extract_all(text, '[Ѐ-ӿ]')))
      |      AS BIGINT) AS cyr,
      |    CAST(SUM(len(regexp_extract_all(text, '[一-鿿]')))
      |      AS BIGINT) AS cjk
      |  FROM documents WHERE text IS NOT NULL GROUP BY lang)
      |SELECT lang, n_docs, chars,
      |  round(CAST(lat AS DOUBLE) / chars, 6) AS latin_ratio,
      |  round(CAST(dig AS DOUBLE) / chars, 6) AS digit_ratio,
      |  round(CAST(sp AS DOUBLE) / chars, 6) AS space_ratio,
      |  round(CAST(cyr AS DOUBLE) / chars, 6) AS cyrillic_ratio,
      |  round(CAST(cjk AS DOUBLE) / chars, 6) AS cjk_ratio,
      |  round(CAST(chars - lat - dig - sp - cyr - cjk AS DOUBLE) / chars, 6)
      |    AS other_ratio
      |FROM g WHERE chars > 0 ORDER BY lang""".stripMargin

  /** Lexical diversity per source — [[VocabStats.lexicalDiversity]]:
    * TTR, Guiraud root TTR, Herdan's C off one wordcount aggregate. */
  private def q285(s: SparkSession, d: String): DataFrame =
    VocabStats.lexicalDiversity(t(s, d, "documents"), "source", "text")

  private val q285Sql =
    """WITH toks AS (
      |  SELECT source,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents WHERE text IS NOT NULL),
      |tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
      |  FROM toks GROUP BY source, term),
      |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS types,
      |  CAST(SUM(f) AS BIGINT) AS tokens FROM tf GROUP BY source)
      |SELECT source, types, tokens,
      |  round(CAST(types AS DOUBLE) / CAST(tokens AS DOUBLE), 6) AS ttr,
      |  round(CAST(types AS DOUBLE) / sqrt(CAST(tokens AS DOUBLE)), 6)
      |    AS root_ttr,
      |  round(ln(CAST(types AS DOUBLE)) / ln(CAST(tokens AS DOUBLE)), 6)
      |    AS herdan_c
      |FROM g WHERE tokens > 1 ORDER BY source""".stripMargin

  /** Cochran–Mantel–Haenszel common-association test: arm = house hash
    * of the customer, outcome = premium order, strata = market
    * segments — [[Experiments.cmh]] with the stratum-ordered fold. */
  private def q286(s: SparkSession, d: String): DataFrame = {
    val df = t(s, d, "orders").join(t(s, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        graft.operators.Splits.hashBucket(col("o_custkey"), 2).as("arm"),
        (col("o_totalprice") > 250000.0).as("y"))
    Experiments.cmh(df, "segment", "arm", "y")
  }

  private val q286Sql =
    """WITH d AS (
      |  SELECT c.c_mktsegment AS segment,
      |    CAST(((o.o_custkey % 2147483648) * 2654435761) % 4294967296 % 2
      |      AS INTEGER) AS arm,
      |    (o.o_totalprice > 250000.0) AS y
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |cells AS (
      |  SELECT segment AS stratum,
      |    CAST(SUM(CASE WHEN arm = 1 AND y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS a,
      |    CAST(SUM(CASE WHEN arm = 1 AND NOT y THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN arm <> 1 AND y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c,
      |    CAST(SUM(CASE WHEN arm <> 1 AND NOT y THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d
      |  FROM d GROUP BY segment),
      |t AS (
      |  SELECT stratum, a + b + c + d AS n, a, b, c, d,
      |    CAST(a AS DOUBLE) - CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
      |      / CAST(a + b + c + d AS DOUBLE) AS dev,
      |    CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
      |      * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
      |      / (CAST(a + b + c + d AS DOUBLE) * CAST(a + b + c + d AS DOUBLE)
      |         * CAST(a + b + c + d - 1 AS DOUBLE)) AS var,
      |    CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
      |      / CAST(a + b + c + d AS DOUBLE) AS ad,
      |    CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
      |      / CAST(a + b + c + d AS DOUBLE) AS bc
      |  FROM cells WHERE a + b + c + d >= 2),
      |p AS (
      |  SELECT
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(dev ORDER BY stratum)), (x, z) -> x + z) AS sdev,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(var ORDER BY stratum)), (x, z) -> x + z) AS svar,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(ad ORDER BY stratum)), (x, z) -> x + z) AS sad,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(bc ORDER BY stratum)), (x, z) -> x + z) AS sbc
      |  FROM t)
      |SELECT t.stratum, t.n, t.a, t.b, t.c, t.d,
      |  CASE WHEN t.b * t.c > 0 THEN
      |    round(CAST(t.a AS DOUBLE) * CAST(t.d AS DOUBLE)
      |      / (CAST(t.b AS DOUBLE) * CAST(t.c AS DOUBLE)), 6) END
      |    AS or_stratum,
      |  round(p.sdev * p.sdev / p.svar, 6) AS cmh_chi2,
      |  CASE WHEN p.sbc > 0 THEN round(p.sad / p.sbc, 6) END AS or_mh
      |FROM t, p ORDER BY t.stratum""".stripMargin

  /** Simple exponential smoothing of the hourly event-volume grid —
    * [[Smoothing.ses]] with the pinned 12-dp weight table (α = 0.3);
    * the oracle replays the identical weight literals. */
  private def q287(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events").filter(col("ts").isNotNull)
      .groupBy(floor(unix_timestamp(col("ts")) / 3600L).as("t"))
      .agg(count(lit(1)).cast("double").as("y"))
    Smoothing.ses(grid, "t", "y", alpha = 0.3)
  }

  private val q287Sql = {
    val nz = Smoothing.weights(0.3, 4096).takeWhile(_ != 0.0)
    val lits = nz.map(w => new java.math.BigDecimal(w)
      .setScale(12, java.math.RoundingMode.HALF_UP).toPlainString)
      .mkString("[", ", ", "]")
    s"""WITH g AS (
       |  SELECT epoch_us(ts) // 3600000000 AS t,
       |    CAST(COUNT(*) AS DOUBLE) AS y
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
       |idx AS (SELECT t, y, row_number() OVER (ORDER BY t) AS rn FROM g),
       |wl AS (SELECT $lits AS w),
       |terms AS (
       |  SELECT a.t, a.y, a.rn, b.rn AS i,
       |    (CASE WHEN b.rn = 1 THEN
       |       (CASE WHEN a.rn <= ${nz.length} THEN wl.w[a.rn]
       |        ELSE 0.0 END)
       |     ELSE 0.3 * (CASE WHEN a.rn - b.rn + 1 <= ${nz.length}
       |       THEN wl.w[a.rn - b.rn + 1] ELSE 0.0 END) END) AS wt,
       |    b.y AS yi
       |  FROM idx a JOIN idx b ON b.rn <= a.rn, wl),
       |lv AS (
       |  SELECT t, y, rn,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(wt * yi ORDER BY i)), (x, z) -> x + z) AS level
       |  FROM terms WHERE wt <> 0.0 GROUP BY t, y, rn)
       |SELECT t, y, round(level, 6) AS level,
       |  round(y - lag(level) OVER (ORDER BY rn), 6) AS forecast_err
       |FROM lv ORDER BY t""".stripMargin
  }

  /** Entropy rate / predictability of the user-behaviour chain —
    * [[Sequences.transitionEntropy]]: the plug-in conditional entropy
    * of next state given current, the scalar q156's transition matrix
    * cannot express. */
  private def q288(s: SparkSession, d: String): DataFrame =
    Sequences.transitionEntropy(t(s, d, "events"), Seq("user_id"),
      Seq("ts", "event_id"), "event_type")

  private val q288Sql =
    """WITH seq AS (
      |  SELECT event_type AS to_state,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS from_state
      |  FROM events WHERE event_type IS NOT NULL),
      |c AS (
      |  SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM seq WHERE from_state IS NOT NULL
      |  GROUP BY from_state, to_state),
      |tots AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS n_from
      |  FROM c GROUP BY from_state),
      |pf AS (
      |  SELECT c.from_state, tots.n_from,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(-(CAST(c.n AS DOUBLE) / tots.n_from)
      |        * ln(CAST(c.n AS DOUBLE) / CAST(tots.n_from AS DOUBLE))
      |        ORDER BY c.to_state)), (a, b) -> a + b) AS h_cond
      |  FROM c JOIN tots ON c.from_state = tots.from_state
      |  GROUP BY c.from_state, tots.n_from),
      |kk AS (SELECT ln(CAST(COUNT(DISTINCT to_state) AS DOUBLE)) AS hmax
      |  FROM c),
      |pooled AS (
      |  SELECT CAST(SUM(n_from) AS BIGINT) AS nn,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(CAST(n_from AS DOUBLE) * h_cond ORDER BY from_state)),
      |      (a, b) -> a + b) AS hsum
      |  FROM pf)
      |SELECT pf.from_state, pf.n_from, round(pf.h_cond, 6) AS h_cond,
      |  round(pooled.hsum / pooled.nn, 6) AS h_rate,
      |  round(kk.hmax, 6) AS h_max,
      |  round(CASE WHEN kk.hmax > 0
      |    THEN 1.0 - (pooled.hsum / pooled.nn) / kk.hmax
      |    ELSE 0.0 END, 6) AS predictability
      |FROM pf, pooled, kk ORDER BY pf.from_state""".stripMargin

  /** Split-conformal 90% interval calibration of a one-feature OLS on
    * lineitem — [[Conformal.olsCoverage]]: hash splits, exact decimal
    * sufficient statistics, micro-unit residual order statistic. */
  private def q289(s: SparkSession, d: String): DataFrame =
    Conformal.olsCoverage(
      t(s, d, "lineitem")
        .withColumn("li_id", col("l_orderkey") * 8 + col("l_linenumber")),
      "li_id", "l_quantity", "l_extendedprice", epsilon = 0.1)

  private val q289Sql =
    """WITH u AS (
      |  SELECT CAST(CAST((l_orderkey * 8 + l_linenumber) % 2147483648
      |      AS HUGEINT) * 2654435761 % 4294967296 % 4 AS INTEGER) AS b,
      |    CAST(l_quantity AS DECIMAL(19,6)) AS x,
      |    CAST(l_extendedprice AS DECIMAL(19,6)) AS y
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      |s AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(CAST(CAST(SUM(x) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)
      |      AS sx,
      |    CAST(CAST(CAST(SUM(y) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)
      |      AS sy,
      |    CAST(CAST(CAST(SUM(x*x) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)
      |      AS sxx,
      |    CAST(CAST(CAST(SUM(x*y) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)
      |      AS sxy
      |  FROM u WHERE b <= 1),
      |fit AS (
      |  SELECT n AS n_train,
      |    (sxy * n - sx * sy) / (sxx * n - sx * sx) AS slope, sx, sy, n
      |  FROM s),
      |fit2 AS (
      |  SELECT n_train, slope,
      |    (sy - slope * sx) / n AS intercept
      |  FROM fit),
      |cal AS (
      |  SELECT CAST(floor(abs(CAST(CAST(u.y AS VARCHAR) AS DOUBLE)
      |      - (fit2.intercept + fit2.slope
      |         * CAST(CAST(u.x AS VARCHAR) AS DOUBLE))) * 1e6) AS BIGINT)
      |    AS r
      |  FROM u, fit2 WHERE u.b = 2),
      |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
      |kk AS (SELECT LEAST(n_cal,
      |    CAST(ceil((n_cal + 1) * 0.9) AS BIGINT)) AS k, n_cal FROM nc),
      |q AS (
      |  SELECT r AS qhat_u, kk.n_cal FROM
      |    (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cal) s, kk
      |  WHERE s.rn = kk.k),
      |tst AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
      |    CAST(SUM(CASE WHEN
      |      CAST(floor(abs(CAST(CAST(u.y AS VARCHAR) AS DOUBLE)
      |        - (fit2.intercept + fit2.slope
      |           * CAST(CAST(u.x AS VARCHAR) AS DOUBLE))) * 1e6) AS BIGINT)
      |      <= q.qhat_u THEN 1 ELSE 0 END) AS BIGINT) AS covered
      |  FROM u, fit2, q WHERE u.b = 3)
      |SELECT fit2.n_train, q.n_cal, tst.n_test,
      |  round(fit2.slope, 6) AS slope,
      |  round(fit2.intercept, 6) AS intercept,
      |  round(CAST(q.qhat_u AS DOUBLE) / 1e6, 6) AS qhat,
      |  tst.covered,
      |  round(CAST(tst.covered AS DOUBLE) / CAST(tst.n_test AS DOUBLE), 6)
      |    AS coverage,
      |  0.9 AS target
      |FROM fit2, q, tst""".stripMargin

  /** Streaming CUSUM level-shift monitor under the driver gate —
    * [[graft.streaming.CusumMonitor]] (q256 made continuous): odd
    * events arrive as six deterministic micro-batches, batches 4-5
    * carry a +20 level shift, and CUSUM must alert on BOTH (the
    * accumulation a per-batch threshold cannot see) while batches 0-3
    * stay quiet against target 50, k = 5, h = 12. */
  private def q290(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("event_id") % 2 === 1)
      .select(col("event_id"),
        when(col("event_id") % 12 >= 9, col("value") + 20.0)
          .otherwise(col("value")).as("v"))
    val srcDir = Scratch.dir(s, "q290-src")
    val base = System.currentTimeMillis()
    Seq(1, 3, 5, 7, 9, 11).zipWithIndex.foreach { case (r, i) =>
      Scratch.stage(ev.filter(col("event_id") % 12 === r).coalesce(1),
        srcDir, base + i * 1000L)
    }
    val store = new graft.store.DocumentStore(s,
      Scratch.dir(s, "q290-store"))
    val feed = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val qy = graft.streaming.CusumMonitor.start(feed, store, "cledger",
      "cverdict", "v",
      Scratch.dir(s, "q290-ckpt"),
      target = 50.0, k = 5.0, h = 12.0)
    try qy.processAllAvailable() finally qy.stop()
    store.read("cverdict")
      .select(col("batch_id"), col("n_batch"), col("mean_batch"),
        col("cusum_pos"), col("cusum_neg"), col("alert"))
      .orderBy(col("batch_id"))
  }

  private val q290Sql =
    """WITH str AS (
      |  SELECT (event_id % 12) // 2 AS b,
      |    CASE WHEN event_id % 12 >= 9 THEN value + 20.0 ELSE value END
      |      AS v
      |  FROM events WHERE event_id % 2 = 1),
      |led AS (
      |  SELECT b AS batch_id, CAST(COUNT(v) AS BIGINT) AS n_batch,
      |    round(CAST(CAST(CAST(SUM(CAST(v AS DECIMAL(18,6)))
      |        AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) / COUNT(v), 6)
      |      AS mean_batch
      |  FROM str WHERE v IS NOT NULL GROUP BY b),
      |dev AS (
      |  SELECT batch_id, n_batch, mean_batch,
      |    CAST(mean_batch AS DECIMAL(18,6)) - CAST(50.0 AS DECIMAL(18,6))
      |      - CAST(5.0 AS DECIMAL(18,6)) AS dp,
      |    CAST(50.0 AS DECIMAL(18,6)) - CAST(mean_batch AS DECIMAL(18,6))
      |      - CAST(5.0 AS DECIMAL(18,6)) AS dn
      |  FROM led WHERE n_batch > 0),
      |cs AS (
      |  SELECT batch_id, n_batch, mean_batch,
      |    CAST(SUM(dp) OVER w AS DECIMAL(38,6)) AS cp,
      |    CAST(SUM(dn) OVER w AS DECIMAL(38,6)) AS cn
      |  FROM dev WINDOW w AS (ORDER BY batch_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |mn AS (
      |  SELECT batch_id, n_batch, mean_batch, cp, cn,
      |    MIN(cp) OVER w AS mp, MIN(cn) OVER w AS mq
      |  FROM cs WINDOW w AS (ORDER BY batch_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |-- DuckDB LEAST(decimal, decimal) demotes to DOUBLE; CASE keeps
      |-- the exact decimal domain
      |ss AS (
      |  SELECT batch_id, n_batch, mean_batch,
      |    cp - (CASE WHEN mp < 0 THEN mp
      |          ELSE CAST(0 AS DECIMAL(38,6)) END) AS sp,
      |    cn - (CASE WHEN mq < 0 THEN mq
      |          ELSE CAST(0 AS DECIMAL(38,6)) END) AS sn
      |  FROM mn)
      |SELECT batch_id, n_batch, mean_batch,
      |  CAST(CAST(sp AS VARCHAR) AS DOUBLE) AS cusum_pos,
      |  CAST(CAST(sn AS VARCHAR) AS DOUBLE) AS cusum_neg,
      |  (sp > CAST(12.0 AS DECIMAL(38,6))
      |    OR sn > CAST(12.0 AS DECIMAL(38,6))) AS alert
      |FROM ss ORDER BY batch_id""".stripMargin

  /** Delete-one-bucket jackknife for the value-per-event ratio over
    * per-user aggregates — [[Jackknife.ratio]] with 20 hash buckets;
    * the oracle replays the exact cells and the bucket-ordered folds. */
  private def q291(s: SparkSession, d: String): DataFrame = {
    val pu = t(s, d, "events").filter(col("ts").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("y"),
        count(lit(1)).as("x"))
    Jackknife.ratio(pu, "user_id", "y", "x", groups = 20)
  }

  private val q291Sql =
    """WITH pu AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(19,6)) AS y,
      |    CAST(COUNT(*) AS DECIMAL(19,6)) AS x
      |  FROM events WHERE ts IS NOT NULL GROUP BY user_id),
      |cells AS (
      |  SELECT CAST(((user_id % 2147483648) * 2654435761) % 4294967296
      |      % 20 AS INTEGER) AS bucket,
      |    CAST(SUM(y) AS DECIMAL(28,6)) AS sy,
      |    CAST(SUM(x) AS DECIMAL(28,6)) AS sx
      |  FROM pu GROUP BY 1),
      |tot AS (SELECT CAST(SUM(sy) AS DECIMAL(28,6)) AS ty,
      |  CAST(SUM(sx) AS DECIMAL(28,6)) AS tx FROM cells),
      |del AS (
      |  SELECT bucket, sy, sx,
      |    CAST(CAST(ty - sy AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(tx - sx AS VARCHAR) AS DOUBLE) AS r_del,
      |    ty, tx
      |  FROM cells, tot),
      |g AS (SELECT COUNT(*) AS gg,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list(r_del ORDER BY bucket)), (a, b) -> a + b) AS sr
      |  FROM del),
      |v AS (SELECT
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list((r_del - g.sr / g.gg) * (r_del - g.sr / g.gg)
      |      ORDER BY bucket)), (a, b) -> a + b) AS sv
      |  FROM del, g)
      |SELECT del.bucket,
      |  CAST(CAST(del.sx AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(del.sy AS VARCHAR) AS DOUBLE) AS sy,
      |  round(del.r_del, 6) AS r_del,
      |  round(CAST(CAST(del.ty AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(del.tx AS VARCHAR) AS DOUBLE), 6) AS r_hat,
      |  round(sqrt(CAST(g.gg - 1 AS DOUBLE) / g.gg * v.sv), 6) AS jk_se,
      |  g.gg AS groups
      |FROM del, g, v ORDER BY del.bucket""".stripMargin

  /** Chapman capture–recapture corpus-size estimate from two
    * independent hash detectors — [[Estimation.chapman]]. */
  private def q292(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val a = docs.filter(
      graft.operators.Splits.hashBucket(col("doc_id"), 10) < 6)
    val b = docs.filter(
      graft.operators.Splits.hashBucket(col("doc_id") + 777777L, 10) < 6)
    Estimation.chapman(a, b, "doc_id")
  }

  private val q292Sql =
    """WITH a AS (
      |  SELECT DISTINCT doc_id FROM documents
      |  WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 % 10 < 6),
      |b AS (
      |  SELECT DISTINCT doc_id FROM documents
      |  WHERE (((doc_id + 777777) % 2147483648) * 2654435761)
      |    % 4294967296 % 10 < 6),
      |c AS (SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n1,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n2,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a JOIN b USING (doc_id))
      |    AS overlap)
      |SELECT n1, n2, overlap,
      |  round((n1 + 1.0) * (n2 + 1.0) / (overlap + 1.0) - 1.0, 6)
      |    AS n_hat,
      |  round(sqrt((n1 + 1.0) * (n2 + 1.0) * (n1 - overlap)
      |    * (n2 - overlap)
      |    / ((overlap + 1.0) * (overlap + 1.0) * (overlap + 2.0))), 6)
      |    AS se
      |FROM c""".stripMargin

  /** Chao1 + Good–Turing vocabulary-richness estimators per language —
    * [[VocabStats.richness]] off the wordcount frequency census. */
  private def q293(s: SparkSession, d: String): DataFrame =
    VocabStats.richness(t(s, d, "documents"), "lang", "text")

  private val q293Sql =
    """WITH tf AS (
      |  SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS f FROM (
      |    SELECT lang,
      |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |    FROM documents WHERE text IS NOT NULL)
      |  GROUP BY lang, term),
      |g AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS types,
      |    CAST(SUM(f) AS BIGINT) AS tokens,
      |    CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM tf GROUP BY lang)
      |SELECT lang, types, tokens, n1, n2,
      |  round(CAST(types AS DOUBLE) + CAST(n1 AS DOUBLE)
      |    * CAST(n1 - 1 AS DOUBLE) / (2.0 * CAST(n2 + 1 AS DOUBLE)), 6)
      |    AS chao1,
      |  round(CAST(n1 AS DOUBLE) / CAST(tokens AS DOUBLE), 6)
      |    AS unseen_mass
      |FROM g WHERE tokens > 0 ORDER BY lang""".stripMargin

  /** Fano-factor burstiness of each event type's hourly arrivals over
    * the DENSE hour grid — [[Dispersion.fano]]. */
  private def q294(s: SparkSession, d: String): DataFrame =
    Dispersion.fano(
      t(s, d, "events").filter(col("ts").isNotNull)
        .withColumn("h", floor(unix_timestamp(col("ts")) / 3600L)),
      "event_type", "h")

  private val q294Sql =
    """WITH e AS (
      |  SELECT event_type AS g, epoch_us(ts) // 3600000000 AS p
      |  FROM events WHERE ts IS NOT NULL),
      |counts AS (SELECT g, p, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM e GROUP BY g, p),
      |grid AS (SELECT DISTINCT p FROM counts),
      |grp AS (SELECT DISTINCT g FROM counts),
      |dense AS (
      |  SELECT grp.g, grid.p, COALESCE(counts.c, 0) AS c
      |  FROM grp CROSS JOIN grid
      |  LEFT JOIN counts ON counts.g = grp.g AND counts.p = grid.p),
      |agg AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS periods,
      |    CAST(SUM(c) AS BIGINT) AS total,
      |    CAST(SUM(c * c) AS BIGINT) AS scc
      |  FROM dense GROUP BY g)
      |SELECT g AS event_type, periods, total,
      |  round(CAST(total AS DOUBLE) / CAST(periods AS DOUBLE), 6) AS mean,
      |  round((CAST(periods AS DOUBLE) * CAST(scc AS DOUBLE)
      |    - CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
      |    / (CAST(periods - 1 AS DOUBLE) * CAST(total AS DOUBLE)), 6)
      |    AS fano
      |FROM agg WHERE periods >= 2 AND total > 0
      |ORDER BY event_type""".stripMargin

  /** Kish effective sample size of the character-mass weighting per
    * source — [[Weighting.kishEss]]. */
  private def q295(s: SparkSession, d: String): DataFrame =
    Weighting.kishEss(t(s, d, "documents"), "source", "n_chars")

  private val q295Sql =
    """WITH g AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sw,
      |    CAST(SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
      |      AS HUGEINT) AS sww
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
      |  GROUP BY source)
      |SELECT source, n,
      |  CAST(CAST(sw AS VARCHAR) AS DOUBLE) AS sum_w,
      |  round(CAST(CAST(sw AS VARCHAR) AS DOUBLE)
      |    * CAST(CAST(sw AS VARCHAR) AS DOUBLE)
      |    / CAST(CAST(sww AS VARCHAR) AS DOUBLE), 6) AS ess,
      |  round(CAST(CAST(sw AS VARCHAR) AS DOUBLE)
      |    * CAST(CAST(sw AS VARCHAR) AS DOUBLE)
      |    / (CAST(CAST(sww AS VARCHAR) AS DOUBLE) * CAST(n AS DOUBLE)), 6)
      |    AS ess_ratio,
      |  round(CAST(n AS DOUBLE) * CAST(CAST(sww AS VARCHAR) AS DOUBLE)
      |    / (CAST(CAST(sw AS VARCHAR) AS DOUBLE)
      |       * CAST(CAST(sw AS VARCHAR) AS DOUBLE)), 6) AS deff
      |FROM g ORDER BY source""".stripMargin

  /** Autocorrelation of hourly event volume to lag 48 —
    * [[Autocorr.acf]]: exact centered decimals, position-ordered
    * double folds, one division per lag. */
  private def q296(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events").filter(col("ts").isNotNull)
      .groupBy(floor(unix_timestamp(col("ts")) / 3600L).as("t"))
      .agg(count(lit(1)).cast("double").as("y"))
    Autocorr.acf(grid, "t", "y", maxLag = 48)
  }

  private val q296Sql =
    """WITH g AS (
      |  SELECT epoch_us(ts) // 3600000000 AS t,
      |    CAST(COUNT(*) AS DECIMAL(18,6)) AS y
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
      |idx AS (SELECT t, y, row_number() OVER (ORDER BY t) AS rn FROM g),
      |tot AS (SELECT CAST(SUM(y) AS DECIMAL(28,6)) AS s FROM idx),
      |c AS (
      |  SELECT rn,
      |    CAST(CAST(CAST(y * nn.n AS DECIMAL(28,6)) - tot.s AS VARCHAR)
      |      AS DOUBLE) AS cy
      |  FROM idx, nn, tot),
      |lags AS (SELECT unnest(range(0, 49)) AS lag),
      |pairs AS (
      |  SELECT lags.lag, a.rn, a.cy * b.cy AS term
      |  FROM c a JOIN lags ON true
      |  JOIN c b ON b.rn = a.rn + lags.lag),
      |agg AS (
      |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(term ORDER BY rn)), (x, z) -> x + z) AS num
      |  FROM pairs GROUP BY lag),
      |den AS (SELECT num AS d FROM agg WHERE lag = 0)
      |SELECT agg.lag, agg.n_pairs, round(agg.num / den.d, 6) AS acf
      |FROM agg, den ORDER BY agg.lag""".stripMargin

  /** Benjamini–Hochberg FDR over per-nation two-proportion z tests —
    * [[MultipleTesting.bhAdjust]] with the pinned A&S 26.2.17 normal
    * CDF; the oracle replays the identical polynomial tree. */
  private def q297(s: SparkSession, d: String): DataFrame = {
    val cells = t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        graft.operators.Splits.hashBucket(col("o_custkey"), 2).as("arm"),
        (col("o_totalprice") > 250000.0).as("y"))
      .groupBy(col("nation"))
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1 && col("y"), 1L).otherwise(0L)).as("x1"),
        sum(when(col("arm") =!= 1, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") =!= 1 && col("y"), 1L).otherwise(0L)).as("x0"))
    val tests = cells
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
    MultipleTesting.bhAdjust(tests, "nation", "z", alpha = 0.05)
  }

  private val q297Sql =
    """WITH cells AS (
      |  SELECT n.n_name AS nation,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN arm = 1 AND y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS x1,
      |    CAST(SUM(CASE WHEN arm <> 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n0,
      |    CAST(SUM(CASE WHEN arm <> 1 AND y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS x0
      |  FROM (
      |    SELECT c.c_nationkey,
      |      CAST(((o.o_custkey % 2147483648) * 2654435761) % 4294967296
      |        % 2 AS INTEGER) AS arm,
      |      (o.o_totalprice > 250000.0) AS y
      |    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) t
      |  JOIN nation n ON t.c_nationkey = n.n_nationkey
      |  GROUP BY n.n_name),
      |ztab AS (
      |  SELECT nation,
      |    (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
      |    / sqrt((CAST(x1 + x0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
      |        * (1.0 - CAST(x1 + x0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
      |        * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n0 AS DOUBLE)))
      |      AS z
      |  FROM cells
      |  WHERE n1 > 0 AND n0 > 0 AND x1 + x0 > 0 AND x1 + x0 < n1 + n0),
      |-- A&S 26.2.17 pinned polynomial, replayed term-for-term
      |ptab AS (
      |  SELECT nation, z,
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
      |  SELECT nation, z, p,
      |    CAST(row_number() OVER (ORDER BY p, nation) AS BIGINT) AS rank,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS m
      |  FROM ptab),
      |k AS (SELECT MAX(CASE WHEN p <= 0.05 * rank / m THEN rank END)
      |  AS ks FROM ranked)
      |SELECT nation, round(z, 6) AS z, p, rank, m,
      |  round(0.05 * rank / m, 6) AS bh_threshold,
      |  (k.ks IS NOT NULL AND rank <= k.ks) AS reject
      |FROM ranked, k ORDER BY rank""".stripMargin

  /** The q224 scored/labeled pairs (probe-0 cosine), shared by the
    * calibration gates here. */
  private def scoredPairs(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val probe = e.filter(col("vec_id") === 0).head()
    val pv = probe.getSeq[Float](1).toArray
    val plabel = probe.getInt(2)
    e.select(
      ((graft.functions.VectorFunctions.cosine_sim(col("embedding"),
        typedlit(pv)) + 1.0) / 2.0).as("score"),
      (col("label") === plabel).as("y"))
  }

  /** Murphy decomposition of the Brier score on the q224 pairs —
    * [[Calibration.brierDecomposition]]: reliability − resolution +
    * uncertainty off exact ppm sums. */
  private def q298(s: SparkSession, d: String): DataFrame =
    Calibration.brierDecomposition(scoredPairs(s, d), "score", "y",
      bins = 20)

  private val q298Sql =
    """WITH p AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
      |    AS pv, label AS pl FROM embeddings WHERE vec_id = 0),
      |scored AS (
      |  SELECT (list_cosine_similarity(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE)), p.pv) + 1.0) / 2.0 AS score,
      |    (label = p.pl) AS y
      |  FROM embeddings, p),
      |b AS (
      |  SELECT CAST(least(floor(score * 20), 19) AS INTEGER) AS bin,
      |    CAST(floor(score * 1000000) AS BIGINT) AS ppm,
      |    CASE WHEN y THEN 1 ELSE 0 END AS yy
      |  FROM scored),
      |per AS (
      |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(yy) AS BIGINT) AS n_pos,
      |    CAST(SUM(ppm) AS BIGINT) AS ss,
      |    CAST(SUM(CAST(ppm AS HUGEINT) * ppm) AS HUGEINT) AS sss,
      |    CAST(SUM(ppm * yy) AS BIGINT) AS ssy
      |  FROM b GROUP BY bin),
      |per2 AS (
      |  SELECT bin, n, n_pos, ss, sss, ssy,
      |    CAST(ss AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS conf,
      |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc
      |  FROM per),
      |tot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
      |    CAST(SUM(n_pos) AS BIGINT) AS np,
      |    CAST(SUM(sss) AS HUGEINT) AS a,
      |    CAST(SUM(ssy) AS BIGINT) AS c
      |  FROM per2),
      |sc AS (
      |  SELECT
      |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(CAST(n AS DOUBLE) * (conf - acc) * (conf - acc)
      |        ORDER BY bin)), (u, v) -> u + v) / CAST(nn AS DOUBLE), 6)
      |      AS reliability,
      |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(CAST(n AS DOUBLE)
      |        * (acc - CAST(np AS DOUBLE) / CAST(nn AS DOUBLE))
      |        * (acc - CAST(np AS DOUBLE) / CAST(nn AS DOUBLE))
      |        ORDER BY bin)), (u, v) -> u + v) / CAST(nn AS DOUBLE), 6)
      |      AS resolution,
      |    round((CAST(np AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * (1.0 - CAST(np AS DOUBLE) / CAST(nn AS DOUBLE)), 6)
      |      AS uncertainty,
      |    round((CAST(CAST(a AS VARCHAR) AS DOUBLE) / 1e12
      |      - 2.0 * CAST(c AS DOUBLE) / 1e6
      |      + CAST(np AS DOUBLE)) / CAST(nn AS DOUBLE), 6) AS brier
      |  FROM per2, tot GROUP BY nn, np, a, c)
      |SELECT per2.bin, per2.n, per2.n_pos, round(per2.conf, 6) AS conf,
      |  round(per2.acc, 6) AS acc, sc.brier, sc.reliability,
      |  sc.resolution, sc.uncertainty
      |FROM per2, sc ORDER BY per2.bin""".stripMargin

  /** Median (pinball) regression of price on quantity —
    * [[QuantileRegression.pinballProfile]]: the intercept dimension is
    * solved out per slope (exact τ-quantile of residuals via the
    * two-phase selection), so the search is |slopes| cells of long
    * micro-unit arithmetic. The 289-cell decimal census
    * ([[QuantileRegression.pinballGrid]], spec-tested) measured 155 s
    * at bench SF; this path is the at-scale shape. */
  private def q299(s: SparkSession, d: String): DataFrame =
    QuantileRegression.pinballProfile(t(s, d, "lineitem"),
      "l_quantity", "l_extendedprice", tauNum = 1, tauDen = 2, steps = 17)

  private val q299Sql = {
    // the √2-spaced slope factors, inlined as exact double literals so
    // the replay multiplies the identical values (no cross-engine pow)
    val factors = QuantileRegression.slopeFactors(17)
      .map(f => new java.math.BigDecimal(f).toPlainString)
      .mkString("[", ", ", "]")
    s"""WITH u AS (
      |  -- DECIMAL(19,6): width > 18 forces DuckDB's HUGEINT multiply
      |  -- path (the q289 lesson); values are identical to Spark's 18,6
      |  SELECT CAST(l_quantity AS DECIMAL(19,6)) AS x,
      |    CAST(l_extendedprice AS DECIMAL(19,6)) AS y
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      |s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(CAST(CAST(SUM(x) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)
      |      AS sx,
      |    CAST(CAST(CAST(SUM(y) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)
      |      AS sy
      |  FROM u),
      |slopes AS (
      |  SELECT DISTINCT CAST(round((s.sy / s.sx) * f.f, 6)
      |    AS DECIMAL(12,6)) AS b
      |  FROM s, (SELECT unnest($factors) AS f) f),
      |-- micro-unit residuals: the (26,12) re-cast keeps the x10^6
      |-- product in exact decimal (wider would demote to DOUBLE)
      |rows_ AS (
      |  SELECT slopes.b,
      |    CAST(floor(CAST(u.y - slopes.b * u.x AS DECIMAL(26,12))
      |      * CAST(1000000 AS DECIMAL(7,0))) AS BIGINT) AS r
      |  FROM u CROSS JOIN slopes),
      |a AS (
      |  SELECT b, r AS av FROM (
      |    SELECT b, r, row_number() OVER (PARTITION BY b ORDER BY r)
      |      AS rn FROM rows_) t, s
      |  WHERE t.rn = (1 * s.n + 2 - 1) // 2),
      |losses AS (
      |  SELECT rows_.b, a.av,
      |    CAST(SUM(CASE WHEN r >= av THEN CAST(r - av AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS sge,
      |    CAST(SUM(CASE WHEN r < av THEN CAST(av - r AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS slt
      |  FROM rows_ JOIN a ON rows_.b = a.b GROUP BY rows_.b, a.av),
      |key AS (SELECT b, av, sge * 1 + slt * 1 AS kk FROM losses),
      |win AS (SELECT b, av, kk FROM key ORDER BY kk ASC, b ASC LIMIT 1)
      |SELECT 0.5 AS tau,
      |  CAST(CAST(win.b AS VARCHAR) AS DOUBLE) AS slope,
      |  round(CAST(win.av AS DOUBLE) / 1e6, 6) AS intercept,
      |  round(CAST(CAST(win.kk AS VARCHAR) AS DOUBLE)
      |    / (s.n * 2.0 * 1e6), 6) AS loss,
      |  s.n
      |FROM win, s""".stripMargin
  }

  /** Two-group log-rank test on per-user tenure curves —
    * [[graft.operators.Survival.logRank]]: duration = distinct active
    * days, event = ever purchased, arms by the house hash. */
  private def q300(s: SparkSession, d: String): DataFrame = {
    val pu = t(s, d, "events").filter(col("ts").isNotNull)
      .groupBy(col("user_id"))
      .agg(countDistinct(to_date(col("ts"))).as("dur"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("ev"))
      .withColumn("grp",
        graft.operators.Splits.hashBucket(col("user_id"), 2))
    graft.operators.Survival.logRank(pu, "dur", "ev", "grp")
  }

  private val q300Sql =
    """WITH pu AS (
      |  SELECT user_id,
      |    CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS dur,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
      |  FROM events WHERE ts IS NOT NULL GROUP BY user_id),
      |r AS (
      |  SELECT dur AS t, (ev = 1) AS e,
      |    CAST(((user_id % 2147483648) * 2654435761) % 4294967296 % 2
      |      AS INTEGER) AS g
      |  FROM pu),
      |grid AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN e AND g = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d1,
      |    CAST(SUM(CASE WHEN NOT e AND g = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN e AND g = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d0,
      |    CAST(SUM(CASE WHEN NOT e AND g = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c0
      |  FROM r GROUP BY t),
      |tots AS (SELECT CAST(SUM(d1 + c1) AS BIGINT) AS n1tot,
      |  CAST(SUM(d0 + c0) AS BIGINT) AS n0tot FROM grid),
      |ar AS (
      |  SELECT t, d1, d0,
      |    tots.n1tot - CAST(SUM(d1 + c1) OVER w AS BIGINT) + d1 + c1
      |      AS n_risk1,
      |    tots.n0tot - CAST(SUM(d0 + c0) OVER w AS BIGINT) + d0 + c0
      |      AS n_risk0
      |  FROM grid, tots
      |  WINDOW w AS (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |ev AS (
      |  SELECT t, n_risk1, n_risk0, d1, d0,
      |    n_risk1 + n_risk0 AS nt, d1 + d0 AS dt,
      |    CAST(d1 + d0 AS DOUBLE) * CAST(n_risk1 AS DOUBLE)
      |      / CAST(n_risk1 + n_risk0 AS DOUBLE) AS e1,
      |    CASE WHEN n_risk1 + n_risk0 > 1 THEN
      |      CAST(d1 + d0 AS DOUBLE)
      |        * (CAST(n_risk1 AS DOUBLE)
      |           / CAST(n_risk1 + n_risk0 AS DOUBLE))
      |        * (1.0 - CAST(n_risk1 AS DOUBLE)
      |           / CAST(n_risk1 + n_risk0 AS DOUBLE))
      |        * CAST(n_risk1 + n_risk0 - d1 - d0 AS DOUBLE)
      |        / CAST(n_risk1 + n_risk0 - 1 AS DOUBLE)
      |    ELSE 0.0 END AS v
      |  FROM ar WHERE d1 + d0 > 0),
      |p AS (
      |  SELECT
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(CAST(d1 AS DOUBLE) - e1 ORDER BY t)), (a, b) -> a + b)
      |      AS sdev,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(v ORDER BY t)), (a, b) -> a + b) AS sv
      |  FROM ev)
      |SELECT ev.t, ev.n_risk1, ev.n_risk0, ev.d1, ev.d0,
      |  round(ev.e1, 6) AS e1,
      |  round(p.sdev * p.sdev / p.sv, 6) AS chi2
      |FROM ev, p ORDER BY ev.t""".stripMargin

  /** Zero-inflation audit of each event type's hourly arrivals —
    * [[Dispersion.zeroInflation]] on the dense hour grid. */
  private def q301(s: SparkSession, d: String): DataFrame =
    Dispersion.zeroInflation(
      t(s, d, "events").filter(col("ts").isNotNull)
        .withColumn("h", floor(unix_timestamp(col("ts")) / 3600L)),
      "event_type", "h")

  private val q301Sql =
    """WITH e AS (
      |  SELECT event_type AS g, epoch_us(ts) // 3600000000 AS p
      |  FROM events WHERE ts IS NOT NULL),
      |counts AS (SELECT g, p, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM e GROUP BY g, p),
      |grid AS (SELECT DISTINCT p FROM counts),
      |grp AS (SELECT DISTINCT g FROM counts),
      |dense AS (
      |  SELECT grp.g, grid.p, COALESCE(counts.c, 0) AS c
      |  FROM grp CROSS JOIN grid
      |  LEFT JOIN counts ON counts.g = grp.g AND counts.p = grid.p),
      |agg AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS periods,
      |    CAST(SUM(c) AS BIGINT) AS total,
      |    CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
      |  FROM dense GROUP BY g)
      |SELECT g AS event_type, periods, total, zeros,
      |  round(CAST(total AS DOUBLE) / CAST(periods AS DOUBLE), 6)
      |    AS lambda,
      |  round(CAST(zeros AS DOUBLE) / CAST(periods AS DOUBLE), 6)
      |    AS p0_obs,
      |  round(exp(-(CAST(total AS DOUBLE) / CAST(periods AS DOUBLE))), 6)
      |    AS p0_poisson,
      |  round(CAST(zeros AS DOUBLE) / CAST(periods AS DOUBLE)
      |    - exp(-(CAST(total AS DOUBLE) / CAST(periods AS DOUBLE))), 6)
      |    AS excess_zeros
      |FROM agg WHERE periods >= 1 AND total > 0
      |ORDER BY event_type""".stripMargin

  /** Levene variance-homogeneity test of document length across
    * sources — [[graft.operators.Variance.levene]] in the exact
    * integer domain. */
  private def q302(s: SparkSession, d: String): DataFrame =
    graft.operators.Variance.levene(t(s, d, "documents"), "source",
      "n_chars")

  private val q302Sql =
    """WITH u AS (
      |  SELECT source AS g, CAST(n_chars AS BIGINT) AS x
      |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
      |sums AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS s
      |  FROM u GROUP BY g HAVING COUNT(*) >= 2),
      |devs AS (
      |  SELECT u.g, sums.n,
      |    CAST(SUM(abs(u.x * sums.n - sums.s)) AS HUGEINT) AS su,
      |    CAST(SUM(CAST(abs(u.x * sums.n - sums.s) AS HUGEINT)
      |      * abs(u.x * sums.n - sums.s)) AS HUGEINT) AS suu
      |  FROM u JOIN sums ON u.g = sums.g
      |  GROUP BY u.g, sums.n),
      |z AS (
      |  SELECT g, n,
      |    CAST(CAST(su AS VARCHAR) AS DOUBLE)
      |      / CAST(n * n AS DOUBLE) AS z_mean,
      |    CAST(CAST(suu AS VARCHAR) AS DOUBLE)
      |      / CAST(n * n AS DOUBLE) AS zsq
      |  FROM devs),
      |tot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
      |    CAST(COUNT(*) AS BIGINT) AS k,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(CAST(n AS DOUBLE) * z_mean ORDER BY g)),
      |      (a, b) -> a + b) AS sz
      |  FROM z),
      |parts AS (
      |  SELECT
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(CAST(n AS DOUBLE)
      |        * (z_mean - tot.sz / tot.nn) * (z_mean - tot.sz / tot.nn)
      |        ORDER BY g)), (a, b) -> a + b) AS between_,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(zsq - CAST(n AS DOUBLE) * z_mean * z_mean ORDER BY g)),
      |      (a, b) -> a + b) AS within_
      |  FROM z, tot GROUP BY tot.sz, tot.nn)
      |SELECT z.g AS source, z.n, round(z.z_mean, 6) AS z_mean,
      |  round(CAST(tot.nn - tot.k AS DOUBLE) / CAST(tot.k - 1 AS DOUBLE)
      |    * parts.between_ / parts.within_, 6) AS w,
      |  tot.k - 1 AS df1, tot.nn - tot.k AS df2
      |FROM z, tot, parts ORDER BY source""".stripMargin

  /** McNemar paired-classifier comparison — two deterministic lang-id
    * heuristics scored against the lang label on the SAME documents;
    * [[Experiments.mcnemar]] tests the discordant pairs. */
  private def q303(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .withColumn("__truth", col("lang") === "en")
      .withColumn("a_ok",
        (col("n_chars") > 400) === col("__truth"))
      .withColumn("b_ok",
        (regexp_count(lower(col("text")), lit("[aeiou]")) * 3 >
          length(col("text"))) === col("__truth"))
    Experiments.mcnemar(docs, "a_ok", "b_ok")
  }

  private val q303Sql =
    """WITH p AS (
      |  SELECT (n_chars > 400) = (lang = 'en') AS a_ok,
      |    (len(regexp_extract_all(lower(text), '[aeiou]')) * 3
      |      > length(text)) = (lang = 'en') AS b_ok
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (
      |  -- mirror mcnemar's NULL-pair filter: a NULL lang or n_chars
      |  -- yields a NULL a_ok/b_ok, which Spark drops before counting
      |  -- but COUNT(*) here would include (ADVICE r15)
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN a_ok AND b_ok THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_both,
      |    CAST(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a_only,
      |    CAST(SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b_only,
      |    CAST(SUM(CASE WHEN NOT a_ok AND NOT b_ok THEN 1 ELSE 0 END)
      |      AS BIGINT) AS neither
      |  FROM p WHERE a_ok IS NOT NULL AND b_ok IS NOT NULL)
      |SELECT n, n_both, a_only, b_only, neither,
      |  round((CAST(abs(a_only - b_only) AS DOUBLE) - 1.0)
      |    * (CAST(abs(a_only - b_only) AS DOUBLE) - 1.0)
      |    / CAST(a_only + b_only AS DOUBLE), 6) AS chi2_cc
      |FROM c""".stripMargin

  /** Hubness (k-occurrence skew) audit of the embedding space —
    * [[graft.operators.Hubness.kOccurrence]] at k = 5. */
  private def q304(s: SparkSession, d: String): DataFrame =
    graft.operators.Hubness.kOccurrence(t(s, d, "embeddings"),
      "vec_id", "embedding", k = 5)

  private val q304Sql = {
    def dl(c: String) = s"list_transform($c, x -> CAST(x AS DOUBLE))"
    s"""WITH s AS (
       |  SELECT a.vec_id AS pid, b.vec_id AS nid,
       |    list_cosine_similarity(${dl("a.embedding")},
       |      ${dl("b.embedding")}) AS sim
       |  FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id),
       |top AS (
       |  SELECT nid FROM (
       |    SELECT pid, nid,
       |      row_number() OVER (PARTITION BY pid ORDER BY sim DESC, nid)
       |        AS rn
       |    FROM s) t WHERE rn <= 5),
       |occ AS (
       |  SELECT e.vec_id, COALESCE(c.c, 0) AS o
       |  FROM embeddings e LEFT JOIN
       |    (SELECT nid, CAST(COUNT(*) AS BIGINT) AS c FROM top
       |     GROUP BY nid) c
       |  ON e.vec_id = c.nid),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(o) AS BIGINT) AS s1,
       |    CAST(SUM(o * o) AS BIGINT) AS s2,
       |    CAST(SUM(o * o * o) AS BIGINT) AS s3,
       |    CAST(MAX(o) AS BIGINT) AS mx
       |  FROM occ),
       |hist AS (SELECT CAST(o AS BIGINT) AS occurrences,
       |  CAST(COUNT(*) AS BIGINT) AS n_points FROM occ GROUP BY o)
       |SELECT hist.occurrences, hist.n_points, m.n, 5 AS k,
       |  round(CAST(m.s1 AS DOUBLE) / m.n, 6) AS mean_occ,
       |  round(CAST(m.s2 AS DOUBLE) / m.n
       |    - (CAST(m.s1 AS DOUBLE) / m.n) * (CAST(m.s1 AS DOUBLE) / m.n),
       |    6) AS variance,
       |  round((CAST(m.s3 AS DOUBLE) / m.n
       |    - 3.0 * (CAST(m.s1 AS DOUBLE) / m.n)
       |      * (CAST(m.s2 AS DOUBLE) / m.n)
       |    + 2.0 * (CAST(m.s1 AS DOUBLE) / m.n)
       |      * (CAST(m.s1 AS DOUBLE) / m.n)
       |      * (CAST(m.s1 AS DOUBLE) / m.n))
       |    / pow(CAST(m.s2 AS DOUBLE) / m.n
       |      - (CAST(m.s1 AS DOUBLE) / m.n) * (CAST(m.s1 AS DOUBLE) / m.n),
       |      1.5), 6) AS skewness,
       |  m.mx AS max_occ
       |FROM hist, m ORDER BY hist.occurrences""".stripMargin
  }

  /** Restricted mean survival time + median tenure over the q243
    * churn-duration construction — [[graft.operators.Survival.rmst]]
    * at a 20-day horizon. */
  private def q305(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, d, "events")
    val days = ev.filter(col("ts").isNotNull)
      .select(col("user_id").as("u"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("u")).orderBy(col("day"))
    val durs = days
      .withColumn("__gap",
        datediff(lead(col("day"), 1).over(w), col("day")))
      .groupBy(col("u"))
      .agg(min(col("day")).as("__f"), max(col("day")).as("__l"),
        min(when(col("__gap") > 2, col("day"))).as("__ev"))
      .select(
        datediff(coalesce(col("__ev"), col("__l")), col("__f")).as("dur"),
        col("__ev").isNotNull.as("event"))
    graft.operators.Survival.rmst(durs, "dur", "event", tau = 20L)
  }

  private val q305Sql =
    """WITH d0 AS (
      |  SELECT user_id AS u, CAST(ts AS DATE) AS dy FROM events
      |  WHERE ts IS NOT NULL GROUP BY 1, 2),
      |g AS (
      |  SELECT u, dy,
      |    datediff('day', dy, lead(dy) OVER (PARTITION BY u ORDER BY dy))
      |      AS gap
      |  FROM d0),
      |dur AS (
      |  SELECT datediff('day', MIN(dy),
      |      COALESCE(MIN(CASE WHEN gap > 2 THEN dy END), MAX(dy))) AS t,
      |    (MIN(CASE WHEN gap > 2 THEN dy END) IS NOT NULL) AS ev
      |  FROM g GROUP BY u),
      |grid AS (
      |  SELECT t, CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d,
      |    CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS c
      |  FROM dur GROUP BY t),
      |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n FROM grid),
      |ar AS (
      |  SELECT t, d, c,
      |    tot.n - CAST(SUM(d + c) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      + d + c AS n_risk
      |  FROM grid CROSS JOIN tot),
      |evt AS (SELECT * FROM ar WHERE d > 0),
      |km AS (
      |  SELECT e1.t,
      |    list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
      |      list(CAST(e2.n_risk - e2.d AS DOUBLE)
      |        / CAST(e2.n_risk AS DOUBLE) ORDER BY e2.t)),
      |      (a, b) -> a * b) AS surv
      |  FROM evt e1 JOIN evt e2 ON e2.t <= e1.t
      |  GROUP BY e1.t),
      |seg AS (
      |  SELECT t, surv,
      |    COALESCE(lead(t) OVER (ORDER BY t), 20) AS nxt
      |  FROM km),
      |sums AS (
      |  SELECT
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(CASE WHEN LEAST(nxt, 20) > LEAST(t, 20)
      |        THEN surv * CAST(LEAST(nxt, 20) - LEAST(t, 20) AS DOUBLE)
      |        ELSE 0.0 END ORDER BY t)), (a, b) -> a + b) AS area,
      |    MIN(CASE WHEN surv <= 0.5 THEN t END) AS median_t,
      |    CAST(COUNT(*) AS BIGINT) AS n_times,
      |    CAST(LEAST(MIN(t), 20) AS DOUBLE) AS head_
      |  FROM seg)
      |SELECT CAST(20 AS BIGINT) AS tau,
      |  round(head_ + area, 6) AS rmst, median_t, n_times
      |FROM sums""".stripMargin

  /** One-breakpoint segmented least squares of price on quantity —
    * [[graft.operators.Segmented.fit]]: breakpoint census off one
    * sufficient-statistics pass over the distinct-x grid. */
  private def q306(s: SparkSession, d: String): DataFrame =
    graft.operators.Segmented.fit(t(s, d, "lineitem"),
      "l_quantity", "l_extendedprice")

  private val q306Sql =
    """WITH u AS (
      |  SELECT CAST(l_quantity AS DECIMAL(19,6)) AS x,
      |    CAST(l_extendedprice AS DECIMAL(19,6)) AS y
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      |cells AS (
      |  SELECT x, CAST(COUNT(*) AS BIGINT) AS c,
      |    CAST(SUM(x) AS DECIMAL(38,12)) AS sx,
      |    CAST(SUM(y) AS DECIMAL(38,12)) AS sy,
      |    CAST(SUM(x*x) AS DECIMAL(38,12)) AS sxx,
      |    CAST(SUM(x*y) AS DECIMAL(38,12)) AS sxy,
      |    CAST(SUM(y*y) AS DECIMAL(38,12)) AS syy
      |  FROM u GROUP BY x),
      |cum AS (
      |  SELECT x,
      |    CAST(SUM(c) OVER w AS BIGINT) AS cn,
      |    CAST(SUM(sx) OVER w AS DECIMAL(38,12)) AS cx,
      |    CAST(SUM(sy) OVER w AS DECIMAL(38,12)) AS cy,
      |    CAST(SUM(sxx) OVER w AS DECIMAL(38,12)) AS cxx,
      |    CAST(SUM(sxy) OVER w AS DECIMAL(38,12)) AS cxy,
      |    CAST(SUM(syy) OVER w AS DECIMAL(38,12)) AS cyy
      |  FROM cells
      |  WINDOW w AS (ORDER BY x
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tot AS (
      |  SELECT MAX(cn) AS tn, MAX(cx) AS tx, MAX(cy) AS ty,
      |    MAX(cxx) AS txx, MAX(cxy) AS txy, MAX(cyy) AS tyy
      |  FROM cum),
      |-- each side's sufficient statistics DIFFERENCE in exact DECIMAL,
      |-- then ONE correctly-rounded double conversion per operand (the
      |-- VARCHAR route) — converting the cumulative columns early and
      |-- differencing in DOUBLE loses the low digits the subtraction
      |-- cancels into, and the engine (exact decimal diff, one cast)
      |-- lands a different ulp (the sf0.001 mse_split miss)
      |cand AS (
      |  SELECT cum.x, cum.cn AS nl, tot.tn - cum.cn AS nr, tot.tn AS tn,
      |    CAST(CAST(cum.cx AS VARCHAR) AS DOUBLE) AS lx,
      |    CAST(CAST(cum.cy AS VARCHAR) AS DOUBLE) AS ly,
      |    CAST(CAST(cum.cxx AS VARCHAR) AS DOUBLE) AS lxx,
      |    CAST(CAST(cum.cxy AS VARCHAR) AS DOUBLE) AS lxy,
      |    CAST(CAST(cum.cyy AS VARCHAR) AS DOUBLE) AS lyy,
      |    CAST(CAST(tot.tx - cum.cx AS VARCHAR) AS DOUBLE) AS rx,
      |    CAST(CAST(tot.ty - cum.cy AS VARCHAR) AS DOUBLE) AS ry,
      |    CAST(CAST(tot.txx - cum.cxx AS VARCHAR) AS DOUBLE) AS rxx,
      |    CAST(CAST(tot.txy - cum.cxy AS VARCHAR) AS DOUBLE) AS rxy,
      |    CAST(CAST(tot.tyy - cum.cyy AS VARCHAR) AS DOUBLE) AS ryy,
      |    CAST(CAST(tot.tx AS VARCHAR) AS DOUBLE) AS gx,
      |    CAST(CAST(tot.ty AS VARCHAR) AS DOUBLE) AS gy,
      |    CAST(CAST(tot.txx AS VARCHAR) AS DOUBLE) AS gxx,
      |    CAST(CAST(tot.txy AS VARCHAR) AS DOUBLE) AS gxy,
      |    CAST(CAST(tot.tyy AS VARCHAR) AS DOUBLE) AS gyy
      |  FROM cum, tot
      |  WHERE cum.cn >= 2 AND tot.tn - cum.cn >= 2),
      |cand2 AS (
      |  SELECT * FROM cand
      |  WHERE lxx * nl - lx * lx > 0 AND rxx * nr - rx * rx > 0),
      |closed AS (
      |  SELECT x, nl, nr, tn,
      |    ((lyy * nl - ly * ly)
      |      - (lxy * nl - lx * ly) * (lxy * nl - lx * ly)
      |        / (lxx * nl - lx * lx)) / (CAST(nl AS DOUBLE) * nl)
      |      AS sl,
      |    (lxy * nl - lx * ly) / (lxx * nl - lx * lx) AS bl,
      |    (ly - (lxy * nl - lx * ly) / (lxx * nl - lx * lx) * lx) / nl
      |      AS al,
      |    ((ryy * nr - ry * ry)
      |      - (rxy * nr - rx * ry) * (rxy * nr - rx * ry)
      |        / (rxx * nr - rx * rx)) / (CAST(nr AS DOUBLE) * nr) AS sr,
      |    (rxy * nr - rx * ry) / (rxx * nr - rx * rx) AS br,
      |    (ry - (rxy * nr - rx * ry) / (rxx * nr - rx * rx) * rx) / nr
      |      AS ar,
      |    ((gyy * tn - gy * gy)
      |      - (gxy * tn - gx * gy) * (gxy * tn - gx * gy)
      |        / (gxx * tn - gx * gx)) / (CAST(tn AS DOUBLE) * tn) AS st
      |  FROM cand2),
      |win AS (
      |  SELECT *, (sl * nl + sr * nr) / tn AS split
      |  FROM closed ORDER BY (sl * nl + sr * nr) / tn ASC, x ASC
      |  LIMIT 1)
      |SELECT CAST(CAST(x AS VARCHAR) AS DOUBLE) AS breakpoint,
      |  nl AS n_left, nr AS n_right,
      |  round(bl, 6) AS slope_left, round(al, 6) AS intercept_left,
      |  round(br, 6) AS slope_right, round(ar, 6) AS intercept_right,
      |  round(split, 6) AS mse_split, round(st, 6) AS mse_single,
      |  round(1.0 - split / st, 6) AS mse_gain
      |FROM win""".stripMargin

  /** Minimum detectable effect per event-type "experiment" —
    * [[Experiments.mdePower]] with the pinned α=.05 / power=.8 z
    * constants. */
  private def q307(s: SparkSession, d: String): DataFrame = {
    val df = t(s, d, "events").filter(col("ts").isNotNull)
      .select(col("event_type").as("experiment"),
        graft.operators.Splits.hashBucket(col("user_id"), 2).as("arm"),
        (col("value") > 80.0).as("y"))
    Experiments.mdePower(df, "experiment", "arm", "y")
  }

  private val q307Sql =
    """WITH d AS (
      |  SELECT event_type AS experiment,
      |    CAST(((user_id % 2147483648) * 2654435761) % 4294967296 % 2
      |      AS INTEGER) AS arm,
      |    (value > 80.0) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |g AS (
      |  SELECT experiment,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n1,
      |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS successes
      |  FROM d GROUP BY experiment),
      |f AS (
      |  SELECT *, CAST(successes AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
      |    AS pr
      |  FROM g
      |  WHERE n0 > 0 AND n1 > 0 AND successes > 0
      |    AND successes < n0 + n1)
      |SELECT experiment, n0, n1, successes,
      |  round(pr, 6) AS pooled_rate,
      |  round((1.959963984540054 + 0.8416212335729143)
      |    * sqrt(pr * (1.0 - pr)
      |      * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 6)
      |    AS mde_abs,
      |  round((1.959963984540054 + 0.8416212335729143)
      |    * sqrt(pr * (1.0 - pr)
      |      * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
      |    / pr, 6) AS mde_rel
      |FROM f ORDER BY experiment""".stripMargin

  /** Quantity-weighted exact price quantiles —
    * [[graft.operators.ExactQuantile.weightedQuantiles]]: the median
    * price BY UNIT MASS (cents domain), not by line. */
  private def q308(s: SparkSession, d: String): DataFrame =
    graft.operators.ExactQuantile.weightedQuantiles(
      t(s, d, "lineitem").select(
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty")),
      "cents", "qty", Seq((1L, 2L), (9L, 10L)))

  private val q308Sql =
    """WITH v AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT) AS v,
      |    CAST(l_quantity AS BIGINT) AS w
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
      |g AS (SELECT v, CAST(SUM(w) AS BIGINT) AS c FROM v GROUP BY v),
      |cum AS (
      |  SELECT v, c,
      |    CAST(SUM(c) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS hi
      |  FROM g),
      |tot AS (SELECT MAX(hi) AS wt FROM cum),
      |ranks AS (
      |  SELECT 1 AS q_num, 2 AS q_den,
      |    (1 * tot.wt + 2 - 1) // 2 AS rank FROM tot
      |  UNION ALL
      |  SELECT 9, 10, (9 * tot.wt + 10 - 1) // 10 FROM tot)
      |SELECT ranks.q_num, ranks.q_den, ranks.rank, cum.v AS value,
      |  tot.wt AS total_weight
      |FROM ranks, tot
      |JOIN cum ON ranks.rank > cum.hi - cum.c AND ranks.rank <= cum.hi
      |ORDER BY ranks.q_num, ranks.q_den""".stripMargin

  /** Multi-class confusion/F1 table for a deterministic 5-way labeler
    * against the lang truth — [[graft.operators.Confusion.multiclass]]. */
  private def q309(s: SparkSession, d: String): DataFrame = {
    val langs = Seq("en", "zh", "es", "de", "fr")
    val df = t(s, d, "documents")
      .withColumn("pred", element_at(typedlit(langs),
        graft.operators.Splits.hashBucket(col("doc_id"), 5) + 1))
    graft.operators.Confusion.multiclass(df, "lang", "pred")
  }

  private val q309Sql =
    """WITH p AS (
      |  SELECT lang AS t,
      |    (['en', 'zh', 'es', 'de', 'fr'])[
      |      CAST(((doc_id % 2147483648) * 2654435761) % 4294967296 % 5
      |        AS INTEGER) + 1] AS pr
      |  FROM documents WHERE lang IS NOT NULL),
      |cells AS (SELECT t, pr, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM p GROUP BY t, pr),
      |bt AS (SELECT t, CAST(SUM(n) AS BIGINT) AS n_true,
      |  CAST(SUM(CASE WHEN pr = t THEN n ELSE 0 END) AS BIGINT) AS tp
      |  FROM cells GROUP BY t),
      |bp AS (SELECT pr, CAST(SUM(n) AS BIGINT) AS npred
      |  FROM cells GROUP BY pr),
      |pc AS (
      |  SELECT bt.t, bt.n_true, bt.tp,
      |    COALESCE(bp.npred, 0) - bt.tp AS fp,
      |    bt.n_true - bt.tp AS fn,
      |    CASE WHEN bt.tp + COALESCE(bp.npred, 0) - bt.tp > 0
      |      THEN CAST(bt.tp AS DOUBLE)
      |        / CAST(COALESCE(bp.npred, 0) AS DOUBLE)
      |      ELSE 0.0 END AS prec,
      |    CASE WHEN bt.n_true > 0
      |      THEN CAST(bt.tp AS DOUBLE) / CAST(bt.n_true AS DOUBLE)
      |      ELSE 0.0 END AS rec
      |  FROM bt LEFT JOIN bp ON bt.t = bp.pr),
      |pc2 AS (
      |  SELECT *, CASE WHEN prec + rec > 0
      |    THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END AS f1
      |  FROM pc),
      |pooled AS (
      |  SELECT CAST(SUM(n_true) AS BIGINT) AS nn,
      |    CAST(SUM(tp) AS BIGINT) AS tpt,
      |    CAST(COUNT(*) AS BIGINT) AS k,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(f1 ORDER BY t)), (a, b) -> a + b) AS f1sum
      |  FROM pc2)
      |SELECT pc2.t AS class, pc2.n_true, pc2.tp, pc2.fp, pc2.fn,
      |  round(pc2.prec, 6) AS precision,
      |  round(pc2.rec, 6) AS recall,
      |  round(pc2.f1, 6) AS f1,
      |  round(CAST(pooled.tpt AS DOUBLE) / pooled.nn, 6) AS accuracy,
      |  round(pooled.f1sum / pooled.k, 6) AS macro_f1,
      |  pooled.nn AS n
      |FROM pc2, pooled ORDER BY class""".stripMargin

  /** Trend/seasonality strength of the hourly event-value series —
    * [[graft.operators.Seasonal.strength]] (the q229 decomposition's
    * closing scalars). */
  private def q310(s: SparkSession, d: String): DataFrame =
    graft.operators.Seasonal.strength(t(s, d, "events"), "ts", "value")

  private val q310Sql =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS v0
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |tr AS (
      |  SELECT hour, v0,
      |    SUM(v0) OVER (ORDER BY hour
      |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS tn,
      |    COUNT(*) OVER (ORDER BY hour
      |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS tc
      |  FROM hourly),
      |dt AS (
      |  SELECT hour, v0, tn, tc,
      |    CASE WHEN tc = 25 THEN CAST(v0 * 25 - tn AS DECIMAL(38,2)) END
      |      AS dn
      |  FROM tr),
      |wins AS (
      |  SELECT hour, v0, tn, tc,
      |    SUM(dn) OVER (PARTITION BY EXTRACT(hour FROM hour) % 24) AS sn,
      |    COUNT(dn) OVER (PARTITION BY EXTRACT(hour FROM hour) % 24)
      |      AS sc
      |  FROM dt),
      |dec AS (
      |  SELECT hour,
      |    CAST(tn AS DOUBLE) / 25 AS trend,
      |    CAST(sn AS DOUBLE) / CAST(sc * 25 AS DOUBLE) AS seasonal,
      |    CAST(v0 AS DOUBLE) - CAST(tn AS DOUBLE) / 25
      |      - CAST(sn AS DOUBLE) / CAST(sc * 25 AS DOUBLE) AS remainder
      |  FROM wins WHERE tc = 25),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(remainder ORDER BY hour)), (a, b) -> a + b) AS sr,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(remainder * remainder ORDER BY hour)), (a, b) -> a + b)
      |      AS srr,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(trend + remainder ORDER BY hour)), (a, b) -> a + b)
      |      AS st,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list((trend + remainder) * (trend + remainder)
      |        ORDER BY hour)), (a, b) -> a + b) AS stt,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(seasonal + remainder ORDER BY hour)), (a, b) -> a + b)
      |      AS ss,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list((seasonal + remainder) * (seasonal + remainder)
      |        ORDER BY hour)), (a, b) -> a + b) AS sss
      |  FROM dec),
      |v AS (
      |  SELECT n,
      |    srr / n - (sr / n) * (sr / n) AS vr,
      |    stt / n - (st / n) * (st / n) AS vtr,
      |    sss / n - (ss / n) * (ss / n) AS vsr
      |  FROM sums)
      |SELECT n AS n_hours, round(vr, 6) AS var_remainder,
      |  round(GREATEST(0.0,
      |    CASE WHEN vtr > 0 THEN 1.0 - vr / vtr ELSE 0.0 END), 6)
      |    AS f_trend,
      |  round(GREATEST(0.0,
      |    CASE WHEN vsr > 0 THEN 1.0 - vr / vsr ELSE 0.0 END), 6)
      |    AS f_seasonal
      |FROM v""".stripMargin

  /** Cohen's d / Hedges' g per event-type "experiment" —
    * [[Experiments.effectSize]] off exact per-arm moments. */
  private def q311(s: SparkSession, d: String): DataFrame = {
    val df = t(s, d, "events").filter(col("ts").isNotNull)
      .select(col("event_type").as("experiment"),
        graft.operators.Splits.hashBucket(col("user_id"), 2).as("arm"),
        col("value").as("y"))
    Experiments.effectSize(df, "experiment", "arm", "y")
  }

  private val q311Sql =
    """WITH d AS (
      |  SELECT event_type AS experiment,
      |    CAST(((user_id % 2147483648) * 2654435761) % 4294967296 % 2
      |      AS INTEGER) AS arm,
      |    CAST(value AS DECIMAL(19,6)) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |g AS (
      |  SELECT experiment,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n1,
      |    CAST(CAST(CAST(SUM(CASE WHEN arm = 0 THEN y END)
      |      AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE) AS s0,
      |    CAST(CAST(CAST(SUM(CASE WHEN arm <> 0 THEN y END)
      |      AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE) AS s1,
      |    CAST(CAST(CAST(SUM(CASE WHEN arm = 0 THEN y * y END)
      |      AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE) AS ss0,
      |    CAST(CAST(CAST(SUM(CASE WHEN arm <> 0 THEN y * y END)
      |      AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE) AS ss1
      |  FROM d GROUP BY experiment
      |  HAVING SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) >= 2
      |    AND SUM(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) >= 2),
      |f AS (
      |  SELECT *, s0 / n0 AS m0, s1 / n1 AS m1,
      |    ((ss0 - n0 * (s0 / n0) * (s0 / n0))
      |      + (ss1 - n1 * (s1 / n1) * (s1 / n1)))
      |      / CAST(n0 + n1 - 2 AS DOUBLE) AS sp2
      |  FROM g)
      |SELECT experiment, n0, n1,
      |  round(m0, 6) AS mean0, round(m1, 6) AS mean1,
      |  round(sqrt(sp2), 6) AS pooled_sd,
      |  round((m1 - m0) / sqrt(sp2), 6) AS cohens_d,
      |  round((m1 - m0) / sqrt(sp2)
      |    * (1.0 - 3.0 / (4.0 * CAST(n0 + n1 AS DOUBLE) - 9.0)), 6)
      |    AS hedges_g
      |FROM f WHERE sp2 > 0 ORDER BY experiment""".stripMargin

  /** Anytime-valid mSPRT p-value trajectory over the daily event-stream
    * A/B — [[graft.operators.Anytime.msprtTrajectory]]: the peeking-
    * safe readout, one row per daily look. */
  private def q312(s: SparkSession, d: String): DataFrame = {
    val df = t(s, d, "events").filter(col("ts").isNotNull)
      .select(to_date(col("ts")).as("day"),
        graft.operators.Splits.hashBucket(col("user_id"), 2).as("arm"),
        (col("value") > 80.0).as("y"))
    graft.operators.Anytime.msprtTrajectory(df, "day", "arm", "y")
  }

  private val q312Sql =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(((user_id % 2147483648) * 2654435761) % 4294967296 % 2
      |      AS INTEGER) AS arm,
      |    (value > 80.0) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |daily AS (
      |  SELECT day,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d0,
      |    CAST(SUM(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d1,
      |    CAST(SUM(CASE WHEN arm = 0 AND y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS s0,
      |    CAST(SUM(CASE WHEN arm <> 0 AND y THEN 1 ELSE 0 END)
      |      AS BIGINT) AS s1
      |  FROM d GROUP BY day),
      |cum AS (
      |  SELECT day,
      |    CAST(SUM(d0) OVER w AS BIGINT) AS n0,
      |    CAST(SUM(d1) OVER w AS BIGINT) AS n1,
      |    CAST(SUM(s0) OVER w AS BIGINT) AS x0,
      |    CAST(SUM(s1) OVER w AS BIGINT) AS x1
      |  FROM daily
      |  WINDOW w AS (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT *, CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
      |    AS pp
      |  FROM cum WHERE n0 > 0 AND n1 > 0
      |    AND x0 + x1 > 0 AND x0 + x1 < n0 + n1),
      |g AS (
      |  SELECT *,
      |    CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS delta,
      |    pp * (1.0 - pp) * (1.0 / CAST(n0 AS DOUBLE)
      |      + 1.0 / CAST(n1 AS DOUBLE)) AS v
      |  FROM f),
      |h AS (
      |  SELECT *,
      |    sqrt(v / (v + 0.0001))
      |      * exp(delta * delta * 0.0001
      |        / (2.0 * v * (v + 0.0001))) AS lambda
      |  FROM g),
      |i AS (
      |  SELECT *, round(LEAST(1.0, 1.0 / lambda), 6) AS p_look
      |  FROM h)
      |SELECT day, n0, n1, x0, x1,
      |  round(delta, 6) AS delta, round(v, 6) AS v,
      |  round(lambda, 6) AS lambda,
      |  MIN(p_look) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS p_anytime,
      |  (MIN(p_look) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 0.05)
      |    AS significant
      |FROM i ORDER BY day""".stripMargin

  /** Streaming anytime-valid monitor under the driver gate —
    * [[graft.streaming.AnytimeMonitor]] (q312 made continuous): odd
    * events arrive as five deterministic micro-batches; batches 3–4
    * carry a real treatment lift (arm 1's success bar drops), and the
    * always-valid p must fall monotonically and cross α only once the
    * cumulative evidence justifies it — at every intermediate look the
    * dashboard was safe to read. */
  private def q313(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("event_id") % 2 === 1)
      .withColumn("arm",
        graft.operators.Splits.hashBucket(col("user_id"), 2))
      .select(col("event_id"), col("arm"),
        when(col("arm") === 1 && col("event_id") % 10 >= 7,
          col("value") > 30.0).otherwise(col("value") > 80.0).as("y"))
    val srcDir = Scratch.dir(s, "q313-src")
    val base = System.currentTimeMillis()
    Seq(1, 3, 5, 7, 9).zipWithIndex.foreach { case (r, i) =>
      Scratch.stage(ev.filter(col("event_id") % 10 === r).coalesce(1),
        srcDir, base + i * 1000L)
    }
    val store = new graft.store.DocumentStore(s,
      Scratch.dir(s, "q313-store"))
    val feed = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val qy = graft.streaming.AnytimeMonitor.start(feed, store, "aledger",
      "averdict", "arm", "y",
      Scratch.dir(s, "q313-ckpt"))
    try qy.processAllAvailable() finally qy.stop()
    store.read("averdict")
      .select(col("batch_id"), col("n0"), col("n1"), col("x0"), col("x1"),
        col("p_anytime"), col("significant"))
      .orderBy(col("batch_id"))
  }

  private val q313Sql =
    """WITH str AS (
      |  SELECT (event_id % 10) // 2 AS b,
      |    CAST(((user_id % 2147483648) * 2654435761) % 4294967296 % 2
      |      AS INTEGER) AS arm,
      |    CASE WHEN ((user_id % 2147483648) * 2654435761) % 4294967296
      |        % 2 = 1 AND event_id % 10 >= 7
      |      THEN value > 30.0 ELSE value > 80.0 END AS y
      |  FROM events WHERE event_id % 2 = 1),
      |daily AS (
      |  SELECT b AS batch_id,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d0,
      |    CAST(SUM(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d1,
      |    CAST(SUM(CASE WHEN arm = 0 AND y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS s0,
      |    CAST(SUM(CASE WHEN arm <> 0 AND y THEN 1 ELSE 0 END)
      |      AS BIGINT) AS s1
      |  FROM str WHERE y IS NOT NULL GROUP BY b),
      |cum AS (
      |  SELECT batch_id,
      |    CAST(SUM(d0) OVER w AS BIGINT) AS n0,
      |    CAST(SUM(d1) OVER w AS BIGINT) AS n1,
      |    CAST(SUM(s0) OVER w AS BIGINT) AS x0,
      |    CAST(SUM(s1) OVER w AS BIGINT) AS x1
      |  FROM daily
      |  WINDOW w AS (ORDER BY batch_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (
      |  -- rows with a one-armed cumulative stay (p = 1), as the
      |  -- monitor keeps them — NULL pp falls through the CASE below
      |  SELECT *, CASE WHEN n0 > 0 AND n1 > 0 THEN
      |    CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) END AS pp
      |  FROM cum),
      |g AS (
      |  SELECT *,
      |    CASE WHEN n0 > 0 AND n1 > 0 THEN
      |      CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |        - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE) END AS delta,
      |    pp * (1.0 - pp) * (1.0 / CAST(n0 AS DOUBLE)
      |      + 1.0 / CAST(n1 AS DOUBLE)) AS v
      |  FROM f),
      |p AS (
      |  SELECT *,
      |    CASE WHEN pp > 0 AND pp < 1 THEN
      |      round(LEAST(1.0, 1.0 /
      |        (sqrt(v / (v + 0.0001))
      |          * exp(delta * delta * 0.0001
      |            / (2.0 * v * (v + 0.0001))))), 6)
      |    ELSE 1.0 END AS p_look
      |  FROM g)
      |SELECT batch_id, n0, n1, x0, x1,
      |  MIN(p_look) OVER (ORDER BY batch_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS p_anytime,
      |  (MIN(p_look) OVER (ORDER BY batch_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 0.05)
      |    AS significant
      |FROM p ORDER BY batch_id""".stripMargin

  /** Corpus-scale hubness — q304's k-occurrence audit fed by the ANN
    * candidate stream instead of the n² self-join (the r15 verdict's
    * contract-limited operator, closed): even vec_ids probe an IVF
    * index at nprobe = numLists (exhaustive, so the audit is exact and
    * oracle-checkable — partial nprobe is the same plumbing), candidates
    * over-fetch k+1 so [[graft.operators.Hubness.kOccurrenceFromCandidates]]
    * can drop each probe's self-hit, and the occurrence math downstream
    * is identical. Cost tracks the candidate stream, never n²
    * (HubnessSpec asserts the plan has no nested-loop join). */
  private def q314(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val idx = graft.search.IvfIndex.train(emb, "embedding", "vec_id",
      numLists = 16)
    val indexed = idx.assign(emb, "embedding")
    val probes = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
    val cand = idx.searchMany(indexed, "embedding", "vec_id",
      probes, "pid", "pvec", k = 9, nprobe = 16)
    graft.operators.Hubness.kOccurrenceFromCandidates(emb, "vec_id",
      cand, "probe_id", "vec_id", "sim", k = 8)
  }

  /** Schema-drift audit across ingest epochs — the last ingest-story
    * contract gap (VERDICT r15 item 8): landing batches are rebuilt from
    * `documents` as raw JSON (epoch = doc_id mod 3) with a PLANTED
    * producer regression — epoch 2 starts quoting the numeric `nc`
    * field — and [[graft.sources.SchemaAudit.audit]] must flag exactly
    * that (field, epoch) as a dominant-type flip while `id`/`lg` stay
    * stable. */
  private def q315(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("doc_id").isNotNull && col("n_chars").isNotNull &&
        col("lang").isNotNull)
    val epoch = pmod(col("doc_id"), lit(3L))
    val landed = docs.select(epoch.as("epoch"),
      when(epoch < 2,
        to_json(struct(col("doc_id").as("id"), col("n_chars").as("nc"),
          col("lang").as("lg"))))
        .otherwise(to_json(struct(col("doc_id").as("id"),
          col("n_chars").cast("string").as("nc"), col("lang").as("lg"))))
        .as("doc"))
    graft.sources.SchemaAudit.audit(landed, "epoch", "doc",
      Seq("id", "nc", "lg"))
  }

  private val q315Sql =
    """WITH src AS (
      |  SELECT doc_id % 3 AS epoch,
      |    CASE WHEN doc_id % 3 < 2
      |      THEN to_json(struct_pack(id := doc_id, nc := n_chars,
      |        lg := lang))
      |      ELSE to_json(struct_pack(id := doc_id,
      |        nc := CAST(n_chars AS VARCHAR), lg := lang)) END AS doc
      |  FROM documents
      |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
      |    AND lang IS NOT NULL),
      |toks AS (
      |  SELECT epoch, f.field,
      |    regexp_extract(doc, '"' || f.field ||
      |      '"\s*:\s*("(?:[^"\\]|\\.)*"|\[|\{|true|false|null|' ||
      |      '-?[0-9][0-9.eE+\-]*)', 1) AS tok
      |  FROM src CROSS JOIN (VALUES ('id'), ('nc'), ('lg')) AS f(field)),
      |cls AS (
      |  SELECT epoch, field,
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
      |  SELECT epoch, field, t, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM cls GROUP BY 1, 2, 3),
      |dom AS (
      |  SELECT epoch, field, n_docs, t AS dom_type, n AS n_dom FROM (
      |    SELECT epoch, field, t, n,
      |      CAST(SUM(n) OVER (PARTITION BY epoch, field) AS BIGINT)
      |        AS n_docs,
      |      row_number() OVER (PARTITION BY epoch, field
      |        ORDER BY n DESC, t DESC) AS rn
      |    FROM cells) x WHERE rn = 1)
      |SELECT epoch, field, n_docs, dom_type, n_dom,
      |  lag(dom_type) OVER (PARTITION BY field ORDER BY epoch)
      |    AS prev_type,
      |  COALESCE(lag(dom_type) OVER (PARTITION BY field ORDER BY epoch)
      |    <> dom_type, FALSE) AS flipped
      |FROM dom ORDER BY field, epoch""".stripMargin

  private val q314Sql = {
    def dl(c: String) = s"list_transform($c, x -> CAST(x AS DOUBLE))"
    s"""WITH s AS (
       |  SELECT a.vec_id AS pid, b.vec_id AS nid,
       |    list_cosine_similarity(${dl("a.embedding")},
       |      ${dl("b.embedding")}) AS sim
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id % 2 = 0 AND a.vec_id <> b.vec_id),
       |top AS (
       |  SELECT nid FROM (
       |    SELECT pid, nid,
       |      row_number() OVER (PARTITION BY pid ORDER BY sim DESC, nid)
       |        AS rn
       |    FROM s) t WHERE rn <= 8),
       |occ AS (
       |  SELECT e.vec_id, COALESCE(c.c, 0) AS o
       |  FROM embeddings e LEFT JOIN
       |    (SELECT nid, CAST(COUNT(*) AS BIGINT) AS c FROM top
       |     GROUP BY nid) c
       |  ON e.vec_id = c.nid),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(o) AS BIGINT) AS s1,
       |    CAST(SUM(o * o) AS BIGINT) AS s2,
       |    CAST(SUM(o * o * o) AS BIGINT) AS s3,
       |    CAST(MAX(o) AS BIGINT) AS mx
       |  FROM occ),
       |hist AS (SELECT CAST(o AS BIGINT) AS occurrences,
       |  CAST(COUNT(*) AS BIGINT) AS n_points FROM occ GROUP BY o)
       |SELECT hist.occurrences, hist.n_points, m.n, 8 AS k,
       |  round(CAST(m.s1 AS DOUBLE) / m.n, 6) AS mean_occ,
       |  round(CAST(m.s2 AS DOUBLE) / m.n
       |    - (CAST(m.s1 AS DOUBLE) / m.n) * (CAST(m.s1 AS DOUBLE) / m.n),
       |    6) AS variance,
       |  round((CAST(m.s3 AS DOUBLE) / m.n
       |    - 3.0 * (CAST(m.s1 AS DOUBLE) / m.n)
       |      * (CAST(m.s2 AS DOUBLE) / m.n)
       |    + 2.0 * (CAST(m.s1 AS DOUBLE) / m.n)
       |      * (CAST(m.s1 AS DOUBLE) / m.n)
       |      * (CAST(m.s1 AS DOUBLE) / m.n))
       |    / pow(CAST(m.s2 AS DOUBLE) / m.n
       |      - (CAST(m.s1 AS DOUBLE) / m.n) * (CAST(m.s1 AS DOUBLE) / m.n),
       |      1.5), 6) AS skewness,
       |  m.mx AS max_occ
       |FROM hist, m ORDER BY hist.occurrences""".stripMargin
  }

  def queries: Seq[Q] = Seq(
    Q("q280_wasserstein_drift", q280, Some(q280Sql)),
    Q("q281_readability", q281, Some(q281Sql)),
    Q("q282_funnel_conversion", q282, Some(q282Sql)),
    Q("q283_cohort_retention", q283, Some(q283Sql)),
    Q("q284_script_mix", q284, Some(q284Sql)),
    Q("q285_lexical_diversity", q285, Some(q285Sql)),
    Q("q286_cmh_test", q286, Some(q286Sql)),
    Q("q287_ses_forecast", q287, Some(q287Sql)),
    Q("q288_markov_entropy", q288, Some(q288Sql)),
    Q("q289_conformal_coverage", q289, Some(q289Sql)),
    Q("q290_streaming_cusum", q290, Some(q290Sql)),
    Q("q291_jackknife_ratio", q291, Some(q291Sql)),
    Q("q292_capture_recapture", q292, Some(q292Sql)),
    Q("q293_vocab_richness", q293, Some(q293Sql)),
    Q("q294_dispersion_fano", q294, Some(q294Sql)),
    Q("q295_kish_ess", q295, Some(q295Sql)),
    Q("q296_acf_hourly", q296, Some(q296Sql)),
    Q("q297_fdr_bh", q297, Some(q297Sql)),
    Q("q298_brier_decomposition", q298, Some(q298Sql)),
    Q("q299_quantile_regression", q299, Some(q299Sql), headline = true),
    Q("q300_logrank_test", q300, Some(q300Sql)),
    Q("q301_zero_inflation", q301, Some(q301Sql)),
    Q("q302_levene_test", q302, Some(q302Sql)),
    Q("q303_mcnemar_test", q303, Some(q303Sql)),
    Q("q304_hubness_audit", q304, Some(q304Sql)),
    Q("q305_rmst", q305, Some(q305Sql)),
    Q("q306_segmented_fit", q306, Some(q306Sql)),
    Q("q307_mde_power", q307, Some(q307Sql)),
    Q("q308_weighted_quantiles", q308, Some(q308Sql)),
    Q("q309_confusion_matrix", q309, Some(q309Sql)),
    Q("q310_seasonal_strength", q310, Some(q310Sql)),
    Q("q311_effect_size", q311, Some(q311Sql)),
    Q("q312_anytime_p", q312, Some(q312Sql)),
    Q("q313_streaming_anytime", q313, Some(q313Sql)),
    Q("q314_hubness_ann", q314, Some(q314Sql)),
    Q("q315_schema_drift", q315, Some(q315Sql)))
}
