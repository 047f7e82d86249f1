package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.store.Scratch
import org.apache.spark.sql.expressions.Window
import graft.operators.{AdoptionOrder, Association, Backtesting, Binning,
  Bridge, CalibrationTest, Cohorts, Correlation, Drift, Extremes,
  GraphStats, Hurst, Inequality, ItemCf, PrCurve, Regression, Rfm,
  Smoothing, Streaks, Stylometry, Survival, TrendTests, Turnover,
  Variance}

/** Round-17 signal/association extensions (q361+): the energy-distance
  * drift closer (the squared-CDF companion to q280's W₁), the
  * mean-difference omnibus (one-way ANOVA beside q319's rank form),
  * and the predictive-association family (Goodman–Kruskal λ beside
  * q174's χ²). House hash-parity rules throughout: exact integer /
  * DECIMAL(38,0) censuses, ordered IEEE folds at the close, every
  * computed column aliased identically in Spark and SQL. */
object SignalQueries extends QuerySet {

  /** Energy distance between open ('O') and fulfilled ('F') order
    * price distributions — the "did fulfillment select on price"
    * audit; q280's W₁ reports how far mass moved, this squares the
    * CDF gap so it is a consistent two-sample TEST statistic. */
  private def q361(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders").filter(col("o_totalprice").isNotNull)
      .select(col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    Drift.energyDistance(o.filter(col("st") === "O"),
      o.filter(col("st") === "F"), "cents")
  }

  private val q361Sql =
    """WITH cells AS (
      |  SELECT v, CAST(SUM(r) AS BIGINT) AS nr, CAST(SUM(c) AS BIGINT) AS nc
      |  FROM (
      |    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |      1 AS r, 0 AS c
      |    FROM orders WHERE o_totalprice IS NOT NULL
      |      AND o_orderstatus = 'O'
      |    UNION ALL
      |    SELECT CAST(round(o_totalprice * 100) AS BIGINT), 0, 1
      |    FROM orders WHERE o_totalprice IS NOT NULL
      |      AND o_orderstatus = 'F')
      |  GROUP BY v),
      |cum AS (
      |  SELECT v, nr, nc,
      |    CAST(SUM(nr) OVER (ORDER BY v) AS HUGEINT) AS cr,
      |    CAST(SUM(nc) OVER (ORDER BY v) AS HUGEINT) AS cc,
      |    SUM(CAST(v AS HUGEINT) * nr) OVER (ORDER BY v) AS sr,
      |    SUM(CAST(v AS HUGEINT) * nc) OVER (ORDER BY v) AS sc
      |  FROM cells),
      |tot AS (SELECT CAST(SUM(nr) AS BIGINT) AS tnr,
      |  CAST(SUM(nc) AS BIGINT) AS tnc,
      |  SUM(CAST(v AS HUGEINT) * nr) AS tsr,
      |  SUM(CAST(v AS HUGEINT) * nc) AS tsc FROM cells),
      |sums AS (
      |  SELECT
      |    SUM(CAST(nr AS HUGEINT) * (CAST(v AS HUGEINT)
      |      * (2 * cc - tot.tnc) - 2 * sc + tot.tsc)) AS sxy,
      |    SUM(CAST(nr AS HUGEINT) * (CAST(v AS HUGEINT)
      |      * (2 * cr - tot.tnr) - 2 * sr + tot.tsr)) AS sxx,
      |    SUM(CAST(nc AS HUGEINT) * (CAST(v AS HUGEINT)
      |      * (2 * cc - tot.tnc) - 2 * sc + tot.tsc)) AS syy
      |  FROM cum, tot),
      |es AS (
      |  SELECT tot.tnr, tot.tnc,
      |    CAST(sums.sxy AS DOUBLE)
      |      / (CAST(tot.tnr AS DOUBLE) * CAST(tot.tnc AS DOUBLE)) AS ec,
      |    CAST(sums.sxx AS DOUBLE)
      |      / (CAST(tot.tnr AS DOUBLE) * CAST(tot.tnr AS DOUBLE)) AS er,
      |    CAST(sums.syy AS DOUBLE)
      |      / (CAST(tot.tnc AS DOUBLE) * CAST(tot.tnc AS DOUBLE)) AS eu
      |  FROM sums, tot)
      |SELECT tnr AS n_ref, tnc AS n_cur,
      |  round(ec, 6) AS e_cross, round(er, 6) AS e_ref,
      |  round(eu, 6) AS e_cur,
      |  round(2.0 * ec - er - eu, 6) AS d2,
      |  round(CAST(tnr AS DOUBLE) * CAST(tnc AS DOUBLE)
      |    / (CAST(tnr AS DOUBLE) + CAST(tnc AS DOUBLE))
      |    * (2.0 * ec - er - eu), 6) AS t_stat
      |FROM es""".stripMargin

  /** One-way ANOVA of order price (cents) across the five order
    * priorities — "do the priority tiers differ in MEAN spend, in
    * cents" (q319 asks the rank question; this one is in the
    * metric's own units, with η² keeping the effect honest). */
  private def q362(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .filter(col("o_orderpriority").isNotNull &&
        col("o_totalprice").isNotNull)
      .select(col("o_orderpriority").as("g"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    Variance.anovaOneWay(o, "g", "cents")
  }

  private val q362Sql =
    """WITH u AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS x
      |  FROM orders
      |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
      |cells AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS s,
      |    SUM(CAST(x AS HUGEINT) * x) AS q
      |  FROM u GROUP BY g),
      |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |  CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS ss,
      |  CAST(SUM(q) AS DOUBLE) AS qq FROM cells),
      |aa AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |        / CAST(n AS DOUBLE) ORDER BY g)),
      |    (a, b) -> a + b) AS a
      |  FROM cells),
      |cl AS (
      |  SELECT kk.k, kk.nn,
      |    aa.a - CAST(kk.ss AS DOUBLE) * CAST(kk.ss AS DOUBLE)
      |      / CAST(kk.nn AS DOUBLE) AS ssb,
      |    kk.qq - aa.a AS ssw,
      |    kk.qq - CAST(kk.ss AS DOUBLE) * CAST(kk.ss AS DOUBLE)
      |      / CAST(kk.nn AS DOUBLE) AS sst
      |  FROM kk, aa)
      |SELECT k, nn AS n, k - 1 AS df1, nn - k AS df2,
      |  round((ssb / CAST(k - 1 AS DOUBLE))
      |    / (ssw / CAST(nn - k AS DOUBLE)), 6) AS f_stat,
      |  round(ssb / sst, 6) AS eta_sq
      |FROM cl""".stripMargin

  /** Goodman–Kruskal λ of event type given hour-of-day — "does knowing
    * the hour improve the best guess of what users DO": the
    * predictive-value read a significant q174-style χ² can't give
    * (association without mode movement reads λ = 0 here). */
  private def q363(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
      .filter(col("event_type").isNotNull && col("ts").isNotNull)
      .select(col("event_type").as("a"), hour(col("ts")).cast("long").as("b"))
    Association.gkLambda(e, "a", "b")
  }

  private val q363Sql =
    """WITH cells AS (
      |  SELECT event_type AS a, CAST(hour(ts) AS BIGINT) AS b,
      |    CAST(COUNT(*) AS BIGINT) AS nab
      |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |mb AS (SELECT CAST(SUM(m) AS BIGINT) AS smb
      |  FROM (SELECT b, MAX(nab) AS m FROM cells GROUP BY b)),
      |ma AS (SELECT CAST(SUM(m) AS BIGINT) AS sma
      |  FROM (SELECT a, MAX(nab) AS m FROM cells GROUP BY a)),
      |ra AS (SELECT CAST(MAX(na) AS BIGINT) AS mra,
      |  CAST(SUM(na) AS BIGINT) AS n
      |  FROM (SELECT a, SUM(nab) AS na FROM cells GROUP BY a)),
      |rb AS (SELECT CAST(MAX(nb) AS BIGINT) AS mrb
      |  FROM (SELECT b, SUM(nab) AS nb FROM cells GROUP BY b)),
      |cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS cells FROM cells)
      |SELECT ra.n, cc.cells, mb.smb AS sum_colmax, ma.sma AS sum_rowmax,
      |  ra.mra AS modal_row, rb.mrb AS modal_col,
      |  round(CAST(mb.smb - ra.mra AS DOUBLE)
      |    / CAST(ra.n - ra.mra AS DOUBLE), 6) AS lambda_a_given_b,
      |  round(CAST(ma.sma - rb.mrb AS DOUBLE)
      |    / CAST(ra.n - rb.mrb AS DOUBLE), 6) AS lambda_b_given_a,
      |  round(CAST(mb.smb + ma.sma - ra.mra - rb.mrb AS DOUBLE)
      |    / CAST(2 * ra.n - ra.mra - rb.mrb AS DOUBLE), 6) AS lambda_sym
      |FROM mb, ma, ra, rb, cc""".stripMargin

  /** PR operating points for the "length predicts English" filter —
    * the class-imbalance read q201's AUC cannot give: where do you SET
    * the threshold, and what F1/Youden do you get there. */
  private def q364(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("lang").isNotNull && col("n_chars").isNotNull)
      .select((col("lang") === "en").as("y"), col("n_chars"))
    PrCurve.operatingPoint(docs, "y", "n_chars")
  }

  private val q364Sql =
    """WITH cs AS (
      |  SELECT n_chars AS s, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS p
      |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
      |  GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
      |  CAST(SUM(p) AS BIGINT) AS pp FROM cs),
      |m AS (
      |  SELECT s, p,
      |    CAST(SUM(n) OVER (ORDER BY s DESC) AS BIGINT) AS cn,
      |    CAST(SUM(p) OVER (ORDER BY s DESC) AS BIGINT) AS cp
      |  FROM cs),
      |mm AS (
      |  SELECT m.s, m.p, m.cp, tot.nn, tot.pp,
      |    CAST(m.cp AS DOUBLE) / CAST(m.cn AS DOUBLE) AS prec,
      |    CAST(m.cp AS DOUBLE) / CAST(tot.pp AS DOUBLE) AS rec,
      |    CAST(m.cn - m.cp AS DOUBLE) / CAST(tot.nn - tot.pp AS DOUBLE)
      |      AS fpr
      |  FROM m, tot),
      |mx AS (SELECT *,
      |  CASE WHEN cp > 0 THEN 2.0 * prec * rec / (prec + rec)
      |    ELSE 0.0 END AS f1,
      |  rec - fpr AS j FROM mm),
      |ap AS (SELECT SUM(CAST(CAST(p AS DOUBLE) / CAST(pp AS DOUBLE)
      |  * prec AS DECIMAL(38,12))) AS a FROM mx),
      |bf AS (SELECT f1, s FROM mx ORDER BY f1 DESC, s DESC LIMIT 1),
      |bj AS (SELECT j, s FROM mx ORDER BY j DESC, s DESC LIMIT 1)
      |SELECT tot.nn AS n, tot.pp AS pos,
      |  round(CAST(ap.a AS DOUBLE), 6) AS ap,
      |  round(bf.f1, 6) AS best_f1, bf.s AS best_f1_threshold,
      |  round(bj.j, 6) AS youden_j, bj.s AS youden_threshold
      |FROM tot, ap, bf, bj""".stripMargin

  /** Between-segment inequality of order revenue — the decomposable
    * read q175's Gini cannot give: how much spend inequality lives
    * BETWEEN market segments (Theil T/L + Atkinson ε=1). */
  private def q365(s: SparkSession, d: String): DataFrame = {
    val rev = t(s, d, "orders")
      .join(t(s, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isNotNull && col("o_totalprice").isNotNull)
      .select(col("c_mktsegment").as("seg"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    Inequality.betweenGroups(rev, "seg", "cents")
  }

  private val q365Sql =
    """WITH rev AS (
      |  SELECT c_mktsegment AS g,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IS NOT NULL AND o_totalprice IS NOT NULL),
      |cs AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(x) AS BIGINT) AS s FROM rev GROUP BY g),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
      |  CAST(SUM(s) AS BIGINT) AS ss FROM cs),
      |terms AS (
      |  SELECT CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) AS p,
      |    CAST(s AS DOUBLE) / CAST(ss AS DOUBLE) AS sh,
      |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu_g, nn, ss
      |  FROM cs, tot),
      |agg AS (SELECT MAX(nn) AS n, MAX(ss) AS mass,
      |  CAST(COUNT(*) AS BIGINT) AS k,
      |  SUM(CAST(sh * ln(sh / p) AS DECIMAL(38,12))) AS t,
      |  SUM(CAST(p * ln(p / sh) AS DECIMAL(38,12))) AS l,
      |  SUM(CAST(p * ln(mu_g) AS DECIMAL(38,12))) AS gm
      |  FROM terms)
      |SELECT k, n, mass,
      |  round(CAST(t AS DOUBLE), 6) AS theil_t,
      |  round(CAST(l AS DOUBLE), 6) AS theil_l,
      |  round(1.0 - exp(CAST(gm AS DOUBLE))
      |    / (CAST(mass AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS atkinson_1
      |FROM agg""".stripMargin

  /** Granger causality on the hourly grid: does event VOLUME's past
    * improve the one-hour-ahead revenue prediction beyond revenue's
    * own past — the directional time-series read q257/q258's
    * contemporaneous correlations cannot ask. */
  private def q366(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100).cast("long")).as("y"))
    Regression.grangerLag1(grid, "t", "x", "y")
  }

  private val q366Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |p AS (SELECT t, x, y, lag(y) OVER (ORDER BY t) AS yl,
      |  lag(x) OVER (ORDER BY t) AS xl, lag(t) OVER (ORDER BY t) AS tl
      |  FROM g),
      |q AS (SELECT * FROM p WHERE t - tl = 1),
      |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  SUM(CAST(y AS HUGEINT)) AS sy, SUM(CAST(yl AS HUGEINT)) AS s1,
      |  SUM(CAST(xl AS HUGEINT)) AS sx,
      |  SUM(CAST(yl AS HUGEINT) * yl) AS s11,
      |  SUM(CAST(xl AS HUGEINT) * xl) AS sxx,
      |  SUM(CAST(yl AS HUGEINT) * xl) AS s1x,
      |  SUM(CAST(yl AS HUGEINT) * y) AS s1y,
      |  SUM(CAST(xl AS HUGEINT) * y) AS sxy,
      |  SUM(CAST(y AS HUGEINT) * y) AS syy FROM q),
      |c AS (SELECT n,
      |  CAST(s11 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |    AS c11,
      |  CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |    AS cxx,
      |  CAST(s1x AS DOUBLE) * n - CAST(s1 AS DOUBLE) * CAST(sx AS DOUBLE)
      |    AS c1x,
      |  CAST(s1y AS DOUBLE) * n - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE)
      |    AS c1y,
      |  CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
      |    AS cxy,
      |  CAST(syy AS DOUBLE) * n - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
      |    AS cyy
      |  FROM s),
      |k AS (SELECT *, c11 * cxx - c1x * c1x AS det FROM c),
      |b AS (SELECT n, cyy, c1y, cxy, c11,
      |  (c1y * cxx - cxy * c1x) / det AS b1,
      |  (cxy * c11 - c1y * c1x) / det AS b2 FROM k),
      |rr AS (SELECT n, cyy, b1, b2,
      |  cyy - b1 * c1y - b2 * cxy AS rssf,
      |  cyy - c1y * c1y / c11 AS rssr FROM b)
      |SELECT n, round(b1, 6) AS b_ylag, round(b2, 6) AS b_xlag,
      |  round((rssr - rssf) / (rssf / CAST(n - 3 AS DOUBLE)), 6)
      |    AS f_stat,
      |  round(1.0 - rssf / cyy, 6) AS r2_full,
      |  round(1.0 - rssr / cyy, 6) AS r2_restricted
      |FROM rr""".stripMargin

  /** Dickey–Fuller unit-root regression on hourly revenue: do revenue
    * shocks persist (random walk — trend dashboards are spurious-
    * regression bait) or mean-revert (level analytics are sound). */
  private def q367(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
    Regression.dickeyFuller(grid, "t", "y")
  }

  private val q367Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |p AS (SELECT t, y, lag(y) OVER (ORDER BY t) AS yl,
      |  lag(t) OVER (ORDER BY t) AS tl FROM g),
      |q AS (SELECT t, y, yl, y - yl AS d FROM p WHERE t - tl = 1),
      |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  SUM(CAST(yl AS HUGEINT)) AS sx, SUM(CAST(d AS HUGEINT)) AS sd,
      |  SUM(CAST(yl AS HUGEINT) * yl) AS sxx,
      |  SUM(CAST(yl AS HUGEINT) * d) AS sxd,
      |  SUM(CAST(d AS HUGEINT) * d) AS sdd FROM q),
      |c AS (SELECT n,
      |  CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |    AS cxx,
      |  CAST(sxd AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sd AS DOUBLE)
      |    AS cxd,
      |  CAST(sdd AS DOUBLE) * n - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
      |    AS cdd
      |  FROM s),
      |k AS (SELECT n, cxx, cxd / cxx AS gamma,
      |  cdd - cxd / cxx * cxd AS rssn FROM c)
      |SELECT n, round(gamma, 6) AS gamma, round(1.0 + gamma, 6) AS rho,
      |  round(gamma / sqrt(rssn / (CAST(n - 2 AS DOUBLE) * cxx)), 6)
      |    AS t_stat
      |FROM k""".stripMargin

  /** Modularity of the brand partition over the part co-purchase graph
    * — does brand structure explain who is bought with whom (q357
    * compares two partitions; this scores one against the graph; the
    * honest null here is Q ≈ 0: baskets are brand-blind). */
  private def q368(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
    val edges = li.withColumnRenamed("p", "pa")
      .join(li.withColumnRenamed("p", "pb"), "o")
      .filter(col("pa") =!= col("pb"))
      .select(col("pa").as("a"), col("pb").as("b"))
    val labels = t(s, d, "part")
      .select(col("p_partkey").as("nid"), col("p_brand").as("comm"))
    GraphStats.modularity(edges, "a", "b", labels, "nid", "comm")
  }

  private val q368Sql =
    """WITH li AS (SELECT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
      |  FROM lineitem),
      |e AS (SELECT DISTINCT least(x.p, y.p) AS a, greatest(x.p, y.p) AS b
      |  FROM li x JOIN li y ON x.o = y.o AND x.p <> y.p),
      |lab AS (SELECT DISTINCT CAST(p_partkey AS BIGINT) AS n,
      |  CAST(p_brand AS VARCHAR) AS c FROM part
      |  WHERE p_partkey IS NOT NULL AND p_brand IS NOT NULL),
      |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
      |wl AS (SELECT e.a, e.b, la.c AS ca, lb.c AS cb
      |  FROM e JOIN lab la ON e.a = la.n JOIN lab lb ON e.b = lb.n),
      |dc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS dcm FROM (
      |    SELECT ca AS c FROM wl UNION ALL SELECT cb FROM wl) GROUP BY c),
      |ec AS (SELECT ca AS c, CAST(COUNT(*) AS BIGINT) AS ecn FROM wl
      |  WHERE ca = cb GROUP BY ca),
      |nodes AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM (
      |  SELECT DISTINCT n FROM (SELECT a AS n FROM e
      |    UNION ALL SELECT b FROM e)) x JOIN lab USING (n)),
      |cells AS (SELECT dc.c, dc.dcm, COALESCE(ec.ecn, 0) AS ecc
      |  FROM dc LEFT JOIN ec USING (c)),
      |qq AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |  SUM(CAST(CAST(ecc AS DOUBLE) / CAST(mm.m AS DOUBLE)
      |    - (CAST(dcm AS DOUBLE) / (2.0 * CAST(mm.m AS DOUBLE)))
      |      * (CAST(dcm AS DOUBLE) / (2.0 * CAST(mm.m AS DOUBLE)))
      |    AS DECIMAL(38,12))) AS q
      |  FROM cells, mm)
      |SELECT nodes.nn AS nodes, mm.m AS edges, qq.k AS communities,
      |  round(CAST(qq.q AS DOUBLE), 6) AS modularity
      |FROM nodes, mm, qq""".stripMargin

  /** ABC / Pareto classification of parts by revenue: class A carries
    * the first 80% of cumulative revenue, B to 95%, C the tail — the
    * inventory-policy census (class membership decided by EXACT
    * integer cross-multiplication, no float thresholds). */
  private def q369(s: SparkSession, d: String): DataFrame = {
    val rev = t(s, d, "lineitem").filter(col("l_extendedprice").isNotNull)
      .groupBy(col("l_partkey").as("p"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("r"))
    val w = Window.orderBy(col("r").desc, col("p").asc)
    val tot = rev.agg(sum(col("r")).as("t"))
    val cls = rev.withColumn("cum", sum(col("r")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(col("cum").cast("decimal(38,0)") * 5 <=
          col("t").cast("decimal(38,0)") * 4, "A")
          .when(col("cum").cast("decimal(38,0)") * 20 <=
            col("t").cast("decimal(38,0)") * 19, "B")
          .otherwise("C"))
    cls.groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("r")).as("revenue_cents"),
        max(col("t")).as("__t"))
      .select(col("abc_class"), col("n_parts"), col("revenue_cents"),
        round(col("revenue_cents").cast("double") /
          col("__t").cast("double"), 6).as("revenue_share"))
      .orderBy(col("abc_class"))
  }

  private val q369Sql =
    """WITH rev AS (
      |  SELECT l_partkey AS p,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS r
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
      |tot AS (SELECT CAST(SUM(r) AS BIGINT) AS t FROM rev),
      |w AS (SELECT r, CAST(SUM(r) OVER (ORDER BY r DESC, p) AS BIGINT)
      |  AS cum FROM rev),
      |cls AS (SELECT r,
      |  CASE WHEN CAST(cum AS HUGEINT) * 5 <= CAST(t AS HUGEINT) * 4
      |    THEN 'A'
      |    WHEN CAST(cum AS HUGEINT) * 20 <= CAST(t AS HUGEINT) * 19
      |    THEN 'B' ELSE 'C' END AS abc_class, t
      |  FROM w, tot)
      |SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(SUM(r) AS BIGINT) AS revenue_cents,
      |  round(CAST(SUM(r) AS DOUBLE) / CAST(MAX(t) AS DOUBLE), 6)
      |    AS revenue_share
      |FROM cls GROUP BY abc_class ORDER BY abc_class""".stripMargin

  /** Cohort LTV curve: cumulative revenue per acquired customer by
    * first-order month × age — the revenue face of q283's activity
    * retention (acquisition-mix shifts show as curve shifts). */
  private def q370(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    Cohorts.cohortLtv(o, "o_custkey", "o_orderdate", "cents")
  }

  private val q370Sql =
    """WITH u AS (
      |  SELECT o_custkey AS cu,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS mi,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
      |  FROM orders WHERE o_custkey IS NOT NULL
      |    AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
      |co AS (SELECT cu, MIN(mi) AS c FROM u GROUP BY cu),
      |sz AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cohort_customers
      |  FROM co GROUP BY c),
      |cells AS (SELECT co.c, u.mi - co.c AS age_m,
      |  CAST(COUNT(*) AS BIGINT) AS orders_n,
      |  CAST(SUM(u.v) AS BIGINT) AS rev_cents
      |  FROM u JOIN co ON u.cu = co.cu GROUP BY 1, 2),
      |cum AS (SELECT c, age_m, orders_n, rev_cents,
      |  CAST(SUM(rev_cents) OVER (PARTITION BY c ORDER BY age_m)
      |    AS BIGINT) AS cum_rev_cents
      |  FROM cells)
      |SELECT ((c - 1) // 12) * 100 + ((c - 1) % 12) + 1 AS cohort_ym,
      |  age_m, sz.cohort_customers, orders_n, rev_cents, cum_rev_cents,
      |  round(CAST(cum_rev_cents AS DOUBLE)
      |    / CAST(sz.cohort_customers AS DOUBLE), 6) AS ltv_cents
      |FROM cum JOIN sz USING (c) ORDER BY cohort_ym, age_m""".stripMargin

  /** WoE/IV of document length against English — the credit-scoring
    * screen for a candidate filter signal: WHERE in the length range
    * the evidence lives (per-quintile WoE signs) and whether the
    * signal clears the conventional keep bar (IV). */
  private def q371(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("lang").isNotNull && col("n_chars").isNotNull)
      .select((col("lang") === "en").as("y"), col("n_chars"))
    Binning.informationValue(docs, "y", "n_chars", bins = 5)
  }

  private val q371Sql =
    """WITH g AS (
      |  SELECT CAST(n_chars AS BIGINT) AS v, (lang = 'en') AS y
      |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
      |grid AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM g
      |  GROUP BY v),
      |cumg AS (SELECT v, CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT)
      |  AS hi FROM grid),
      |nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM grid),
      |qs AS (SELECT unnest(range(1, 5)) AS q),
      |th AS (SELECT q, MIN(v) AS threshold FROM cumg, nn, qs
      |  WHERE hi >= (q * n + 4) // 5 GROUP BY q),
      |binned AS (SELECT g.v, g.y,
      |  1 + (SELECT CAST(COUNT(*) AS BIGINT) FROM th
      |       WHERE g.v > th.threshold) AS bin
      |  FROM g),
      |cells AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
      |  FROM binned GROUP BY bin),
      |c2 AS (SELECT bin, n, pos, n - pos AS neg FROM cells),
      |tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p,
      |  CAST(SUM(neg) AS BIGINT) AS ng FROM c2),
      |t2 AS (SELECT bin, n, pos, neg,
      |  CAST(pos AS DOUBLE) / CAST(p AS DOUBLE) AS ps,
      |  CAST(neg AS DOUBLE) / CAST(ng AS DOUBLE) AS ns
      |  FROM c2, tot),
      |t3 AS (SELECT *, ln(ps / ns) AS woe FROM t2),
      |iv AS (SELECT SUM(CAST((ps - ns) * woe AS DECIMAL(38,12))) AS v
      |  FROM t3)
      |SELECT bin, n, pos, neg, round(woe, 6) AS woe,
      |  round(CAST(iv.v AS DOUBLE), 6) AS iv
      |FROM t3, iv ORDER BY bin""".stripMargin

  /** Lorenz curve of customer spend by decile — the shape behind
    * q175's Gini scalar: what share of revenue the bottom-k deciles
    * of customers actually carry. */
  private def q372(s: SparkSession, d: String): DataFrame = {
    val spend = t(s, d, "orders")
      .filter(col("o_custkey").isNotNull && col("o_totalprice").isNotNull)
      .groupBy(col("o_custkey").as("cust"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    Inequality.lorenz(spend, "cents", "cust", 10)
  }

  private val q372Sql =
    """WITH spend AS (
      |  SELECT o_custkey AS cust,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders WHERE o_custkey IS NOT NULL
      |    AND o_totalprice IS NOT NULL GROUP BY 1),
      |b AS (SELECT cents, NTILE(10) OVER (ORDER BY cents, cust) AS bucket
      |  FROM spend),
      |cells AS (SELECT CAST(bucket AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS units,
      |  CAST(SUM(cents) AS BIGINT) AS mass FROM b GROUP BY 1),
      |tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS m FROM cells),
      |cum AS (SELECT bucket, units, mass,
      |  CAST(SUM(mass) OVER (ORDER BY bucket) AS BIGINT) AS cm
      |  FROM cells)
      |SELECT bucket, units, mass,
      |  round(CAST(mass AS DOUBLE) / CAST(m AS DOUBLE), 6) AS mass_share,
      |  round(CAST(cm AS DOUBLE) / CAST(m AS DOUBLE), 6) AS cum_share
      |FROM cum, tot ORDER BY bucket""".stripMargin

  /** Nelson–Aalen cumulative hazard of repeat-purchase latency: days
    * from a user's first purchase day to their second (censored at
    * last activity) — the hazard-RATE read beside q243's survival
    * fraction; slope changes localize when repeat risk shifts. */
  private def q373(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
    val pd = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("u")).orderBy(col("day"))
    val firstTwo = pd.withColumn("rn", row_number().over(w))
      .groupBy(col("u"))
      .agg(max(when(col("rn") === 1, col("day"))).as("f1"),
        max(when(col("rn") === 2, col("day"))).as("f2"))
    val last = ev.groupBy(col("user_id").as("u"))
      .agg(max(to_date(col("ts"))).as("lastd"))
    val durs = firstTwo.join(last, "u")
      .select(datediff(coalesce(col("f2"), col("lastd")), col("f1"))
        .as("dur"), col("f2").isNotNull.as("event"))
    Survival.nelsonAalen(durs, "dur", "event")
  }

  private val q373Sql =
    """WITH pd AS (
      |  SELECT user_id AS u, CAST(ts AS DATE) AS dy FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type = 'purchase'
      |  GROUP BY 1, 2),
      |rk AS (SELECT u, dy,
      |  row_number() OVER (PARTITION BY u ORDER BY dy) AS rn FROM pd),
      |ft AS (SELECT u, MAX(CASE WHEN rn = 1 THEN dy END) AS f1,
      |  MAX(CASE WHEN rn = 2 THEN dy END) AS f2 FROM rk GROUP BY u),
      |la AS (SELECT user_id AS u, MAX(CAST(ts AS DATE)) AS lastd
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY 1),
      |dur AS (SELECT datediff('day', f1, COALESCE(f2, la.lastd)) AS t,
      |  (f2 IS NOT NULL) AS ev FROM ft JOIN la USING (u)),
      |grid AS (
      |  SELECT t, CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
      |    AS d,
      |  CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS c
      |  FROM dur GROUP BY t),
      |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n FROM grid),
      |ar AS (
      |  SELECT t, d, c,
      |    tot.n - CAST(SUM(d + c) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      + d + c AS n_risk
      |  FROM grid CROSS JOIN tot),
      |evt AS (SELECT *,
      |  CAST(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
      |    AS DECIMAL(38,12)) AS h,
      |  CAST(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE)
      |    * CAST(n_risk AS DOUBLE)) AS DECIMAL(38,12)) AS v
      |  FROM ar WHERE d > 0)
      |SELECT t, n_risk, d AS n_events, c AS n_censored,
      |  round(CAST(SUM(h) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE),
      |    6) AS na_cumhaz,
      |  round(sqrt(CAST(SUM(v) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)),
      |    6) AS na_se
      |FROM evt ORDER BY t""".stripMargin

  /** Upper-tail dependence between hourly volume and revenue at
    * p = 0.9: when revenue spikes past its decile threshold, how often
    * does volume spike with it — the extremes read the body
    * correlations (q257/q258) leave open. */
  private def q374(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100).cast("long")).as("y"))
    Correlation.upperTailDependence(grid, "x", "y", pNum = 9, pDen = 10)
  }

  private val q374Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
      |qx AS (SELECT MIN(x) AS q FROM (
      |  SELECT x, SUM(cnt) OVER (ORDER BY x) AS hi FROM (
      |    SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY x)),
      |  nn WHERE hi >= (9 * n + 9) // 10),
      |qy AS (SELECT MIN(y) AS q FROM (
      |  SELECT y, SUM(cnt) OVER (ORDER BY y) AS hi FROM (
      |    SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY y)),
      |  nn WHERE hi >= (9 * n + 9) // 10),
      |ex AS (SELECT
      |  CAST(SUM(CASE WHEN g.x > qx.q THEN 1 ELSE 0 END) AS BIGINT)
      |    AS nx,
      |  CAST(SUM(CASE WHEN g.y > qy.q THEN 1 ELSE 0 END) AS BIGINT)
      |    AS ny,
      |  CAST(SUM(CASE WHEN g.x > qx.q AND g.y > qy.q THEN 1 ELSE 0 END)
      |    AS BIGINT) AS nj
      |  FROM g, qx, qy)
      |SELECT nn.n, qx.q AS q_x, qy.q AS q_y, ex.nx AS n_x_exc,
      |  ex.ny AS n_y_exc, ex.nj AS n_joint,
      |  round(CAST(ex.nj AS DOUBLE) / CAST(ex.ny AS DOUBLE), 6)
      |    AS lambda_u,
      |  round(CAST(nn.n AS DOUBLE) * CAST(ex.nj AS DOUBLE)
      |    / (CAST(ex.nx AS DOUBLE) * CAST(ex.ny AS DOUBLE)), 6) AS lift
      |FROM nn, qx, qy, ex""".stripMargin

  /** Longest consecutive-day streak histogram over user activity —
    * the habit read beside q283's retention and q24's sessions: how
    * many days IN A ROW, all-integer gaps-and-islands. */
  private def q375(s: SparkSession, d: String): DataFrame =
    Streaks.longestDailyStreak(t(s, d, "events"), "user_id", "ts")

  private val q375Sql =
    """WITH days AS (
      |  SELECT user_id AS u,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dy
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |isl AS (SELECT u,
      |  dy - row_number() OVER (PARTITION BY u ORDER BY dy) AS k
      |  FROM days),
      |runs AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS len FROM isl
      |  GROUP BY u, k),
      |best AS (SELECT u, MAX(len) AS best FROM runs GROUP BY u)
      |SELECT best AS streak_len, CAST(COUNT(*) AS BIGINT) AS users
      |FROM best GROUP BY best ORDER BY streak_len""".stripMargin

  /** Hurst R/S exponent of hourly revenue — the long-range-dependence
    * audit past q296's short lags and q367's unit root: H ≈ ½ means √n
    * error bars on revenue aggregates are honest; H ≫ ½ means shocks
    * echo across horizons and independence-based CIs are fiction. */
  private def q376(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
    Hurst.hurstRs(grid, "t", "y")
  }

  private val q376Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
      |base AS (SELECT y,
      |  CAST(row_number() OVER (ORDER BY t) AS BIGINT) - 1 AS i FROM g),
      |ks AS (SELECT CAST(unnest([8, 16, 32, 64, 128, 256, 512, 1024,
      |    2048, 4096, 8192, 16384]) AS BIGINT) AS k),
      |ex AS (SELECT b.y, b.i, ks.k, CAST(b.i // ks.k AS BIGINT) AS blk
      |  FROM base b, ks, nn
      |  WHERE ks.k * 4 <= nn.n AND b.i < ks.k * (nn.n // ks.k)),
      |win AS (SELECT k, blk,
      |  CAST(SUM(y) OVER (PARTITION BY k, blk ORDER BY i) AS BIGINT)
      |    AS cum,
      |  CAST(row_number() OVER (PARTITION BY k, blk ORDER BY i)
      |    AS BIGINT) AS j,
      |  CAST(SUM(y) OVER (PARTITION BY k, blk) AS BIGINT) AS tot,
      |  SUM(CAST(y AS HUGEINT) * y) OVER (PARTITION BY k, blk) AS totq,
      |  MAX(y) OVER (PARTITION BY k, blk) AS vx,
      |  MIN(y) OVER (PARTITION BY k, blk) AS vn
      |  FROM ex),
      |z AS (SELECT k, blk, vx, vn,
      |  CAST(cum AS DOUBLE) - CAST(j AS DOUBLE)
      |    * (CAST(tot AS DOUBLE) / CAST(k AS DOUBLE)) AS z,
      |  CAST(totq AS DOUBLE) / CAST(k AS DOUBLE)
      |    - (CAST(tot AS DOUBLE) / CAST(k AS DOUBLE))
      |      * (CAST(tot AS DOUBLE) / CAST(k AS DOUBLE)) AS s2
      |  FROM win),
      |bs AS (SELECT k, blk, MAX(z) AS zx, MIN(z) AS zn, MAX(s2) AS s2,
      |    MAX(vx) AS vx, MAX(vn) AS vn
      |  FROM z GROUP BY k, blk),
      |rsb AS (SELECT k, (zx - zn) / sqrt(s2) AS rs FROM bs
      |  WHERE vx > vn),
      |perk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS blocks,
      |  CAST(SUM(CAST(rs AS DECIMAL(38,12))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS rs
      |  FROM rsb GROUP BY k),
      |reg AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
      |  CAST(SUM(CAST(ln(CAST(k AS DOUBLE)) AS DECIMAL(38,12)))
      |    AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(ln(rs) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(ln(CAST(k AS DOUBLE)) * ln(CAST(k AS DOUBLE))
      |    AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |  CAST(SUM(CAST(ln(CAST(k AS DOUBLE)) * ln(rs) AS DECIMAL(38,12)))
      |    AS DOUBLE) AS sxy
      |  FROM perk)
      |SELECT perk.k, perk.blocks, round(perk.rs, 6) AS rs,
      |  round((CAST(reg.m AS DOUBLE) * reg.sxy - reg.sx * reg.sy)
      |    / (CAST(reg.m AS DOUBLE) * reg.sxx - reg.sx * reg.sx), 6)
      |    AS hurst
      |FROM perk, reg ORDER BY perk.k""".stripMargin

  /** Croston intermittent-demand forecast for a slow-moving part slice
    * (Brand#1, size ≤ 2 — ~1 demand day in 18): the forecaster SES/
    * Holt (q287/q322) are provably biased for; demand size and
    * inter-demand interval smooth separately, SBA correction beside. */
  private def q377(s: SparkSession, d: String): DataFrame = {
    val pts = t(s, d, "lineitem")
      .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") === "Brand#1" && col("p_size") <= 2 &&
        col("l_shipdate").isNotNull && col("l_quantity").isNotNull)
      .groupBy(datediff(to_date(col("l_shipdate")),
        to_date(lit("1970-01-01"))).cast("long").as("day"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("z"))
    Smoothing.croston(pts, "day", "z", alpha = 0.2)
  }

  private val q377Sql =
    """WITH RECURSIVE demand AS (
      |  SELECT datediff('day', DATE '1970-01-01',
      |      CAST(l_shipdate AS DATE)) AS day,
      |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS z
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#1' AND p_size <= 2
      |    AND l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
      |  GROUP BY 1),
      |nz AS (SELECT day, z,
      |  CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
      |  day - lag(day) OVER (ORDER BY day) AS q FROM demand),
      |mm AS (SELECT CAST(MAX(rn) AS BIGINT) AS m,
      |  CAST(MAX(day) - MIN(day) AS BIGINT) AS span FROM nz),
      |rec AS (
      |  SELECT rn, CAST(z AS DOUBLE) AS l, CAST(NULL AS DOUBLE) AS p
      |  FROM nz WHERE rn = 1
      |  UNION ALL
      |  SELECT nz.rn, 0.2 * CAST(nz.z AS DOUBLE) + (1.0 - 0.2) * rec.l,
      |    CASE WHEN nz.rn = 2 THEN CAST(nz.q AS DOUBLE)
      |      ELSE 0.2 * CAST(nz.q AS DOUBLE) + (1.0 - 0.2) * rec.p END
      |  FROM rec JOIN nz ON nz.rn = rec.rn + 1)
      |SELECT mm.m AS n_points, mm.span AS span, round(rec.l, 6) AS z_hat,
      |  round(rec.p, 6) AS p_hat,
      |  round(rec.l / rec.p, 6) AS croston_forecast,
      |  round((1.0 - 0.2 / 2.0) * rec.l / rec.p, 6) AS sba_forecast
      |FROM rec, mm WHERE rec.rn = mm.m""".stripMargin

  /** Cross-sectional log-log price elasticity: per-part total quantity
    * sold on the part's LIST price (an exogenous column — regressing
    * on unit price computed as extendedprice/quantity would put
    * −ln(qty) on both sides and fabricate ε ≈ −0.5 mechanically);
    * the honest synthetic null here is ε ≈ 0. */
  private def q378(s: SparkSession, d: String): DataFrame = {
    val qty = t(s, d, "lineitem").filter(col("l_quantity") > 0)
      .groupBy(col("l_partkey").as("p"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("q"))
    val u = qty.join(t(s, d, "part"), col("p") === col("p_partkey"))
      .filter(col("p_retailprice") > 0)
      .select(log(col("p_retailprice")).as("x"),
        log(col("q").cast("double")).as("y"))
    Regression.ols1(u, "x", "y")
  }

  private val q378Sql =
    """WITH qty AS (
      |  SELECT l_partkey AS p,
      |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem WHERE l_quantity > 0 GROUP BY 1),
      |u AS (
      |  SELECT ln(p_retailprice) AS x, ln(CAST(q AS DOUBLE)) AS y
      |  FROM qty JOIN part ON p = p_partkey WHERE p_retailprice > 0),
      |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |  CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |  CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
      |  FROM u),
      |c AS (SELECT n, sxx * n - sx * sx AS cxx, sxy * n - sx * sy AS cxy,
      |  syy * n - sy * sy AS cyy, sx, sy FROM s)
      |SELECT n, round(cxy / cxx, 6) AS slope,
      |  round((sy - cxy / cxx * sx) / n, 6) AS intercept,
      |  round(cxy * cxy / (cxx * cyy), 6) AS r2
      |FROM c""".stripMargin

  /** Gumbel fit on daily maxima of hourly revenue: the 60-day and
    * 365-day return levels — "how bad is the worst hour we have not
    * seen yet", which no empirical quantile can extrapolate. */
  private def q379(s: SparkSession, d: String): DataFrame = {
    val hourly = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      .withColumn("day", floor(col("t") / 24).cast("long"))
    Extremes.gumbelBlockMaxima(hourly, "day", "y", Seq(60L, 365L))
  }

  private val q379Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |mx AS (SELECT t // 24 AS b, CAST(MAX(y) AS BIGINT) AS m FROM g
      |  GROUP BY 1),
      |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
      |  CAST(SUM(m) AS BIGINT) AS sd,
      |  SUM(CAST(m AS HUGEINT) * m) AS qd FROM mx),
      |f AS (SELECT m, CAST(sd AS DOUBLE) / m AS mean,
      |  (CAST(qd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / m)
      |    / CAST(m - 1 AS DOUBLE) AS s2 FROM s),
      |p AS (SELECT m, sqrt(s2) * sqrt(6.0) / pi() AS beta,
      |  mean - 0.5772156649015329 * (sqrt(s2) * sqrt(6.0) / pi()) AS mu
      |  FROM f),
      |rp AS (SELECT CAST(unnest([60, 365]) AS BIGINT) AS t)
      |SELECT rp.t AS return_period, p.m AS blocks, round(p.mu, 6) AS mu,
      |  round(p.beta, 6) AS beta,
      |  round(p.mu - p.beta * ln(-ln(1.0 - 1.0 / rp.t)), 6)
      |    AS return_level
      |FROM rp, p ORDER BY return_period""".stripMargin

  /** Item-item CF cosine over order baskets — "bought together", the
    * recommender primitive beside q169's content cosine and the k-NN
    * embedding family; min-support 5 shows the pre-join prune lever. */
  private def q380(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
    ItemCf.itemCosine(li, "b", "i", topK = 20, minSupport = 5L)
  }

  private val q380Sql =
    """WITH bi AS (
      |  SELECT DISTINCT l_orderkey AS b, CAST(l_partkey AS BIGINT) AS i
      |  FROM lineitem
      |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      |cnt AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM bi
      |  GROUP BY i HAVING COUNT(*) >= 5),
      |kept AS (SELECT bi.b, bi.i FROM bi JOIN cnt USING (i)),
      |pairs AS (
      |  SELECT x.i AS item_a, y.i AS item_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_both
      |  FROM kept x JOIN kept y ON x.b = y.b AND x.i < y.i
      |  GROUP BY 1, 2)
      |SELECT item_a, item_b, ca.n AS n_a, cb.n AS n_b, n_both,
      |  round(CAST(n_both AS DOUBLE)
      |    / sqrt(CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)), 6)
      |    AS cosine
      |FROM pairs JOIN cnt ca ON item_a = ca.i
      |JOIN cnt cb ON item_b = cb.i
      |ORDER BY cosine DESC, item_a, item_b LIMIT 20""".stripMargin

  /** Day-over-day active-set turnover: retained/new/churned flows and
    * the Jaccard stability scalar per consecutive day — the
    * composition-break read a flat DAU curve hides. */
  private def q381(s: SparkSession, d: String): DataFrame =
    Turnover.dayOverDay(t(s, d, "events"), "user_id", "ts")

  private val q381Sql =
    """WITH days AS (
      |  SELECT DISTINCT user_id AS u,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |sizes AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS active FROM days
      |  GROUP BY d),
      |ret AS (SELECT b.d AS d, CAST(COUNT(*) AS BIGINT) AS retained
      |  FROM days a JOIN days b ON a.u = b.u AND a.d = b.d - 1
      |  GROUP BY 1)
      |SELECT s.d AS day, p.active AS prev_active, s.active,
      |  COALESCE(r.retained, 0) AS retained,
      |  s.active - COALESCE(r.retained, 0) AS new_users,
      |  p.active - COALESCE(r.retained, 0) AS churned,
      |  round(CAST(COALESCE(r.retained, 0) AS DOUBLE)
      |    / CAST(p.active + s.active - COALESCE(r.retained, 0)
      |      AS DOUBLE), 6) AS jaccard
      |FROM sizes s JOIN sizes p ON p.d = s.d - 1
      |LEFT JOIN ret r ON r.d = s.d
      |ORDER BY day""".stripMargin

  /** Partial correlation of hourly volume and revenue GIVEN distinct
    * users — does any direct volume-revenue association survive once
    * the common driver (how many people showed up) is partialled out. */
  private def q382(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100).cast("long")).as("y"),
        countDistinct(col("user_id")).as("z"))
    Correlation.partialPearson(grid, "x", "y", "z")
  }

  private val q382Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS z
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |  SUM(CAST(z AS HUGEINT)) AS sz,
      |  SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |  SUM(CAST(y AS HUGEINT) * y) AS syy,
      |  SUM(CAST(z AS HUGEINT) * z) AS szz,
      |  SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |  SUM(CAST(x AS HUGEINT) * z) AS sxz,
      |  SUM(CAST(y AS HUGEINT) * z) AS syz FROM g),
      |c AS (SELECT n,
      |  CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |    AS cxx,
      |  CAST(syy AS DOUBLE) * n - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
      |    AS cyy,
      |  CAST(szz AS DOUBLE) * n - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
      |    AS czz,
      |  CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
      |    AS cxy,
      |  CAST(sxz AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE)
      |    AS cxz,
      |  CAST(syz AS DOUBLE) * n - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE)
      |    AS cyz
      |  FROM s),
      |rr AS (SELECT n, cxy / sqrt(cxx * cyy) AS rxy,
      |  cxz / sqrt(cxx * czz) AS rxz, cyz / sqrt(cyy * czz) AS ryz
      |  FROM c)
      |SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
      |  round(ryz, 6) AS r_yz,
      |  round((rxy - rxz * ryz)
      |    / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
      |    AS r_xy_given_z
      |FROM rr""".stripMargin

  /** Weekly growth accounting of HIGH-VALUE purchasers (the sparse
    * behavior — raw activity is everyone-every-week on this corpus,
    * which would exercise exactly one branch of the ledger): active =
    * new + retained + resurrected, churn on the other side, quick
    * ratio as the "is growth winning" scalar. */
  private def q383(s: SparkSession, d: String): DataFrame =
    Turnover.weeklyGrowthAccounting(
      t(s, d, "events")
        .filter(col("event_type") === "purchase" && col("value") > 150),
      "user_id", "ts")

  private val q383Sql =
    """WITH weeks AS (
      |  SELECT DISTINCT user_id AS u,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS w
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type = 'purchase' AND value > 150),
      |fw AS (SELECT u, MIN(w) AS f FROM weeks GROUP BY u),
      |flags AS (
      |  SELECT weeks.u, weeks.w, (weeks.w = fw.f) AS isnew,
      |    (p.u IS NOT NULL) AS ret
      |  FROM weeks JOIN fw ON weeks.u = fw.u
      |  LEFT JOIN weeks p ON p.u = weeks.u AND p.w = weeks.w - 1),
      |flows AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS active,
      |  CAST(SUM(CASE WHEN isnew THEN 1 ELSE 0 END) AS BIGINT)
      |    AS new_users,
      |  CAST(SUM(CASE WHEN NOT isnew AND ret THEN 1 ELSE 0 END)
      |    AS BIGINT) AS retained,
      |  CAST(SUM(CASE WHEN NOT isnew AND NOT ret THEN 1 ELSE 0 END)
      |    AS BIGINT) AS resurrected
      |  FROM flags GROUP BY w),
      |sizes AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM weeks
      |  GROUP BY w)
      |SELECT f.w AS week, f.active, f.new_users, f.retained,
      |  f.resurrected,
      |  COALESCE(s.n, 0) - f.retained AS churned,
      |  CASE WHEN COALESCE(s.n, 0) - f.retained > 0 THEN
      |    round(CAST(f.new_users + f.resurrected AS DOUBLE)
      |      / CAST(COALESCE(s.n, 0) - f.retained AS DOUBLE), 6)
      |  END AS quick_ratio
      |FROM flows f LEFT JOIN sizes s ON s.w = f.w - 1
      |ORDER BY week""".stripMargin

  /** Burrows' Delta between document sources: function-word-profile
    * distance — the provenance/template forensics read the
    * one-metric drift family cannot give. */
  private def q384(s: SparkSession, d: String): DataFrame =
    Stylometry.burrowsDelta(t(s, d, "documents"), "text", "source",
      topWords = 30)

  private val q384Sql =
    """WITH toks AS (
      |  SELECT CAST(source AS VARCHAR) AS g,
      |    UNNEST(string_split(text, ' ')) AS w
      |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
      |tok2 AS (SELECT g, w FROM toks WHERE w <> ''),
      |cells AS (SELECT g, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok2
      |  GROUP BY 1, 2),
      |grp AS (SELECT DISTINCT g FROM cells),
      |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM grp),
      |tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS t FROM cells
      |  GROUP BY g),
      |top AS (SELECT w FROM (SELECT w, SUM(c) AS n FROM cells GROUP BY w
      |  ORDER BY n DESC, w LIMIT 30)),
      |grid AS (SELECT grp.g, top.w,
      |  CAST(COALESCE(cells.c, 0) AS DOUBLE) / CAST(tot.t AS DOUBLE)
      |    AS f
      |  FROM grp CROSS JOIN top
      |  LEFT JOIN cells ON cells.g = grp.g AND cells.w = top.w
      |  JOIN tot ON tot.g = grp.g),
      |stats AS (SELECT w,
      |  CAST(SUM(CAST(f AS DECIMAL(38,12))) AS DOUBLE)
      |    / CAST(kk.k AS DOUBLE) AS mean,
      |  CAST(SUM(CAST(f * f AS DECIMAL(38,12))) AS DOUBLE)
      |    / CAST(kk.k AS DOUBLE) AS m2
      |  FROM grid, kk GROUP BY w, kk.k),
      |st2 AS (SELECT w, mean, sqrt(m2 - mean * mean) AS sd FROM stats),
      |z AS (SELECT grid.g, grid.w, (grid.f - st2.mean) / st2.sd AS z
      |  FROM grid JOIN st2 USING (w))
      |SELECT a.g AS src_a, b.g AS src_b,
      |  round(CAST(SUM(CAST(abs(a.z - b.z) AS DECIMAL(38,12)))
      |    AS DOUBLE) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM top),
      |    6) AS delta
      |FROM z a JOIN z b ON a.w = b.w AND a.g < b.g
      |GROUP BY 1, 2 ORDER BY delta, src_a, src_b""".stripMargin

  /** Streaming reconciliation monitor — the LedgerMonitor base's first
    * INTEGRITY-class member (nine monitors now; the other eight watch
    * distributions). The feed derives each order's stated total from
    * its own lines, then plants two perturbation classes that land in
    * DISTINCT batches by construction (k ≡ 7 mod 40 → +12.5%, batch 2
    * only, must alert; k ≡ 11 mod 40 → +0.5%, batch 1 only, must NOT):
    * the gate checks the alert fires exactly where planted.
    *
    * The gate drives the monitor through its batch-replay surface
    * (`applyBatch`, the exact method the foreachBatch harness calls)
    * with PINNED batch ids — the r16 advisor flagged the previous
    * mtime-staged file stream as brittle on coarse-mtime filesystems
    * (file pickup order could diverge from the k%5 oracle mapping).
    * The streaming `start` path itself is covered by
    * ReconcileMonitorSpec's rate-stream case and the other eight
    * monitor gates that share LedgerMonitor.start. */
  private def q385(s: SparkSession, d: String): DataFrame = {
    // k ≡ 3 (mod 4) keeps BOTH planted classes (7 and 11 mod 40 are
    // ≡ 3 mod 4) while quartering the staged feed — the gate's cost is
    // batch staging, not monitor work
    val li = t(s, d, "lineitem").filter(col("l_orderkey") % 4 === 3)
    val cents = li
      .groupBy(col("l_orderkey").as("k"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cc"))
    val feed0 = li
      .select(col("l_orderkey").as("k"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
      .join(cents, "k")
      .withColumn("stated",
        when(col("k") % 40 === 7,
          col("cc") + (col("cc") / 8).cast("long"))
          .when(col("k") % 40 === 11,
            col("cc") + (col("cc") / 200).cast("long"))
          .otherwise(col("cc")))
      .select(col("k"), col("c"), col("stated"))
    val store = new graft.store.DocumentStore(s, Scratch.dir(s, "q385-store"))
    (0 to 4).foreach { i =>
      graft.streaming.ReconcileMonitor.applyBatch(
        feed0.filter(col("k") % 5 === i), i.toLong, store,
        "rledger", "rverdict", "k", "c", "stated")
    }
    store.read("rverdict")
      .select(col("batch_id"), col("n_keys"), col("n_conflict"),
        col("n_exact"), col("n_within_0_1"), col("n_within_1"),
        col("n_within_10"), col("n_beyond"), col("cum_beyond"),
        col("alert"))
      .orderBy(col("batch_id"))
  }

  private val q385Sql =
    """WITH cents AS (
      |  SELECT l_orderkey AS k,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS cc
      |  FROM lineitem WHERE l_orderkey % 4 = 3 GROUP BY 1),
      |stated AS (SELECT k, cc,
      |  CASE WHEN k % 40 = 7 THEN cc + cc // 8
      |       WHEN k % 40 = 11 THEN cc + cc // 200
      |       ELSE cc END AS pp FROM cents),
      |banded AS (SELECT k % 5 AS batch_id, abs(cc - pp) AS d, pp
      |  FROM stated),
      |bands AS (SELECT batch_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_exact,
      |  CAST(SUM(CASE WHEN d > 0 AND d * 1000 <= abs(pp)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_0_1,
      |  CAST(SUM(CASE WHEN d * 1000 > abs(pp) AND d * 100 <= abs(pp)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1,
      |  CAST(SUM(CASE WHEN d * 100 > abs(pp) AND d * 10 <= abs(pp)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_10,
      |  CAST(SUM(CASE WHEN d * 10 > abs(pp) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_beyond
      |  FROM banded GROUP BY 1)
      |SELECT batch_id, n_keys, CAST(0 AS BIGINT) AS n_conflict, n_exact,
      |  n_within_0_1, n_within_1, n_within_10, n_beyond,
      |  CAST(SUM(n_beyond) OVER (ORDER BY batch_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_beyond,
      |  (n_beyond > 0) AS alert
      |FROM bands ORDER BY batch_id""".stripMargin

  /** Spiegelhalter's Z: are the even-half per-source long-doc rates
    * CALIBRATED predictions for the odd half — the inferential yes/no
    * q224's ECE magnitude cannot give. */
  private def q386(s: SparkSession, d: String): DataFrame = {
    // split by ALTERNATING BLOCKS of 20 ids: source = doc_id % 20 on
    // this corpus, so any doc_id-parity split is source-DISJOINT (the
    // first cut joined to an empty test set — caught by the operator's
    // empty-census refusal, working as designed)
    val half = (col("doc_id") / 20).cast("long") % 2
    val train = t(s, d, "documents")
      .filter(col("source").isNotNull && col("n_chars").isNotNull &&
        half === 0)
      .groupBy(col("source"))
      .agg((sum(when(col("n_chars") > 250, 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double")).as("p"))
    val test = t(s, d, "documents")
      .filter(col("source").isNotNull && col("n_chars").isNotNull &&
        half === 1)
      .join(train, "source")
      .select(col("p"), (col("n_chars") > 250).as("y"))
    CalibrationTest.spiegelhalterZ(test, "p", "y")
  }

  private val q386Sql =
    """WITH train AS (
      |  SELECT source,
      |    CAST(SUM(CASE WHEN n_chars > 250 THEN 1 ELSE 0 END)
      |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS p
      |  FROM documents WHERE source IS NOT NULL
      |    AND n_chars IS NOT NULL AND (doc_id // 20) % 2 = 0
      |  GROUP BY source),
      |test AS (SELECT train.p, (d.n_chars > 250) AS y
      |  FROM documents d JOIN train USING (source)
      |  WHERE d.source IS NOT NULL AND d.n_chars IS NOT NULL
      |    AND (d.doc_id // 20) % 2 = 1),
      |cells AS (SELECT p, y, CAST(COUNT(*) AS BIGINT) AS n FROM test
      |  GROUP BY 1, 2),
      |agg AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
      |  CAST(COUNT(*) AS BIGINT) AS cells,
      |  CAST(SUM(CAST(CAST(n AS DOUBLE)
      |    * (((CASE WHEN y THEN 1.0 ELSE 0.0 END) - p)
      |      * (1.0 - 2.0 * p)) AS DECIMAL(38,12))) AS DOUBLE) AS num,
      |  CAST(SUM(CAST(CAST(n AS DOUBLE)
      |    * ((1.0 - 2.0 * p) * (1.0 - 2.0 * p) * p * (1.0 - p))
      |    AS DECIMAL(38,12))) AS DOUBLE) AS den
      |  FROM cells)
      |SELECT n, cells, round(num / sqrt(den), 6) AS z FROM agg"""
      .stripMargin

  /** Kupiec POF backtest of the hourly-revenue 95% VaR: threshold fit
    * on the first half BY TIME, breach rate tested on the second —
    * the out-of-sample validation q379's fitted curve leaves open. */
  private def q387(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
    Backtesting.kupiecPof(grid, "t", "y", qNum = 19, qDen = 20)
  }

  private val q387Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
      |idx AS (SELECT y, CAST(row_number() OVER (ORDER BY t) AS BIGINT)
      |  AS i FROM g),
      |tr AS (SELECT y FROM idx, nn WHERE i <= n // 2),
      |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM tr),
      |vl AS (SELECT MIN(y) AS v FROM (
      |  SELECT y, SUM(c) OVER (ORDER BY y) AS hi FROM (
      |    SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY y)),
      |  ntr WHERE hi >= (19 * m + 19) // 20),
      |te AS (SELECT y FROM idx, nn WHERE i > n // 2),
      |ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt,
      |  CAST(SUM(CASE WHEN y > vl.v THEN 1 ELSE 0 END) AS BIGINT) AS x
      |  FROM te, vl),
      |cl AS (SELECT ntr.m, ct.nt, ct.x, vl.v,
      |  1.0 - CAST(19 AS DOUBLE) / CAST(20 AS DOUBLE) AS p,
      |  CAST(ct.x AS DOUBLE) / CAST(ct.nt AS DOUBLE) AS xhat
      |  FROM ntr, ct, vl)
      |SELECT m AS n_train, nt AS n_test, v AS var_level,
      |  round(p, 6) AS expected_rate, x AS breaches,
      |  round(xhat, 6) AS breach_rate,
      |  round(-2.0 * (
      |    (CASE WHEN nt - x = 0 THEN 0.0
      |      ELSE CAST(nt - x AS DOUBLE) * ln(1.0 - p) END)
      |    + (CASE WHEN x = 0 THEN 0.0
      |      ELSE CAST(x AS DOUBLE) * ln(p) END)
      |    - (CASE WHEN nt - x = 0 THEN 0.0
      |      ELSE CAST(nt - x AS DOUBLE) * ln(1.0 - xhat) END)
      |    - (CASE WHEN x = 0 THEN 0.0
      |      ELSE CAST(x AS DOUBLE) * ln(xhat) END)), 6) AS lr_pof
      |FROM cl""".stripMargin

  /** Cochran–Armitage: does the fulfilled rate TREND across the five
    * priority tiers — the one-df ordered alternative the unordered χ²
    * wastes power on. */
  private def q388(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .filter(col("o_orderpriority").isNotNull &&
        col("o_orderstatus").isNotNull)
      .select(col("o_orderpriority").substr(1, 1).cast("long").as("tier"),
        (col("o_orderstatus") === "F").as("y"))
    TrendTests.cochranArmitage(o, "tier", "y")
  }

  private val q388Sql =
    """WITH cells AS (
      |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x
      |  FROM orders WHERE o_orderpriority IS NOT NULL
      |    AND o_orderstatus IS NOT NULL
      |  GROUP BY 1),
      |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |  CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS x,
      |  CAST(SUM(CAST(s AS HUGEINT) * x) AS DOUBLE) AS s1,
      |  CAST(SUM(CAST(s AS HUGEINT) * n) AS DOUBLE) AS s2,
      |  CAST(SUM(CAST(s AS HUGEINT) * s * n) AS DOUBLE) AS s3
      |  FROM cells),
      |cl AS (SELECT k, n, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS pbar,
      |  s1, s2, s3 FROM agg)
      |SELECT k, n, round(pbar, 6) AS pooled_rate,
      |  round((s1 - pbar * s2)
      |    / sqrt(pbar * (1.0 - pbar)
      |      * (s3 - s2 * s2 / CAST(n AS DOUBLE))), 6) AS z_ca
      |FROM cl""".stripMargin

  /** Jonckheere–Terpstra: does order VALUE rise with priority tier —
    * the one-df ordered alternative beside q319's unordered KW and
    * q388's binary CA, with the full tie-corrected null variance. */
  private def q389(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .filter(col("o_orderpriority").isNotNull &&
        col("o_totalprice").isNotNull)
      .select(col("o_orderpriority").substr(1, 1).cast("long").as("tier"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    TrendTests.jonckheereTerpstra(o, "tier", "cents")
  }

  private val q389Sql =
    """WITH cells AS (
      |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS s,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM orders WHERE o_orderpriority IS NOT NULL
      |    AND o_totalprice IS NOT NULL
      |  GROUP BY 1, 2),
      |tiers AS (SELECT DISTINCT s FROM cells),
      |vals AS (SELECT DISTINCT v FROM cells),
      |grid AS (SELECT t.s, va.v, COALESCE(c.c, 0) AS c0
      |  FROM tiers t CROSS JOIN vals va
      |  LEFT JOIN cells c ON c.s = t.s AND c.v = va.v),
      |st AS (SELECT s, v, c0,
      |  SUM(c0) OVER (PARTITION BY s ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c0 AS cb
      |  FROM grid),
      |st2 AS (SELECT s, v, c0, cb,
      |  SUM(cb) OVER (PARTITION BY v ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cb AS p,
      |  SUM(c0) OVER (PARTITION BY v ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c0 AS q
      |  FROM st),
      |jt AS (SELECT CAST(SUM(CAST(c0 AS HUGEINT) * (2 * p + q))
      |  AS BIGINT) AS jt2 FROM st2),
      |tn AS (SELECT CAST(SUM(nn) AS BIGINT) AS n,
      |  SUM(CAST(nn AS HUGEINT) * nn) AS sn2,
      |  SUM(CAST(nn AS HUGEINT) * (nn - 1) * (2 * nn + 5)) AS sn25,
      |  SUM(CAST(nn AS HUGEINT) * (nn - 1) * (nn - 2)) AS sn3,
      |  SUM(CAST(nn AS HUGEINT) * (nn - 1)) AS snn
      |  FROM (SELECT s, CAST(SUM(c) AS BIGINT) AS nn FROM cells
      |    GROUP BY s)),
      |tt AS (SELECT
      |  SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS st25,
      |  SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS st3,
      |  SUM(CAST(t AS HUGEINT) * (t - 1)) AS stt
      |  FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM cells
      |    GROUP BY v)),
      |cl AS (SELECT jt.jt2, tn.n,
      |  CAST((CAST(tn.n AS HUGEINT) * tn.n - tn.sn2) // 2 AS BIGINT)
      |    AS e2,
      |  (CAST(tn.n AS DOUBLE) * (CAST(tn.n AS DOUBLE) - 1.0)
      |      * (2.0 * CAST(tn.n AS DOUBLE) + 5.0)
      |    - CAST(tn.sn25 AS DOUBLE) - CAST(tt.st25 AS DOUBLE)) / 72.0
      |  + CAST(tn.sn3 AS DOUBLE) * CAST(tt.st3 AS DOUBLE)
      |    / (36.0 * (CAST(tn.n AS DOUBLE) * (CAST(tn.n AS DOUBLE) - 1.0)
      |      * (CAST(tn.n AS DOUBLE) - 2.0)))
      |  + CAST(tn.snn AS DOUBLE) * CAST(tt.stt AS DOUBLE)
      |    / (8.0 * (CAST(tn.n AS DOUBLE) * (CAST(tn.n AS DOUBLE) - 1.0)))
      |    AS var
      |  FROM jt, tn, tt)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tiers) AS k, n, jt2,
      |  e2, round(CAST(jt2 - e2 AS DOUBLE) / (2.0 * sqrt(var)), 6)
      |    AS z_jt
      |FROM cl""".stripMargin

  /** Revenue bridge 1995→1996 per brand: the exact price/volume
    * waterfall behind the "revenue is up" total — segment rows expose
    * the mix shifts the aggregate hides, and the two effects sum to
    * the exact delta identically. */
  private def q390(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
      .filter(col("l_shipdate").isNotNull)
      .select(col("p_brand").as("brand"),
        year(col("l_shipdate")).cast("long").as("yr"),
        round(col("l_quantity")).cast("long").as("q"),
        round(col("l_extendedprice") * 100).cast("long").as("r"))
    Bridge.revenueBridge(li, "brand", "yr", "q", "r", 1995L, 1996L)
  }

  private val q390Sql =
    """WITH u AS (
      |  SELECT p_brand AS g, CAST(year(l_shipdate) AS BIGINT) AS p,
      |    CAST(round(l_quantity) AS BIGINT) AS q,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS r
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate IS NOT NULL AND p_brand IS NOT NULL
      |    AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      |    AND year(l_shipdate) IN (1995, 1996)),
      |cells AS (SELECT g,
      |  CAST(SUM(CASE WHEN p = 1995 THEN q ELSE 0 END) AS BIGINT)
      |    AS q1,
      |  CAST(SUM(CASE WHEN p = 1996 THEN q ELSE 0 END) AS BIGINT)
      |    AS q2,
      |  CAST(SUM(CASE WHEN p = 1995 THEN r ELSE 0 END) AS BIGINT)
      |    AS r1,
      |  CAST(SUM(CASE WHEN p = 1996 THEN r ELSE 0 END) AS BIGINT)
      |    AS r2
      |  FROM u GROUP BY g)
      |SELECT g AS segment, q1 AS qty1, q2 AS qty2, r1 AS rev1_cents,
      |  r2 AS rev2_cents, r2 - r1 AS delta_cents,
      |  round(CAST(q2 - q1 AS DOUBLE)
      |    * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)), 6)
      |    AS volume_effect,
      |  round((CAST(r2 AS DOUBLE) / CAST(q2 AS DOUBLE)
      |    - CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE))
      |    * CAST(q2 AS DOUBLE), 6) AS price_effect
      |FROM cells ORDER BY segment""".stripMargin

  /** Adoption-order rules over event types: of the users who ever did
    * A, how many did A strictly before their first B — the temporal
    * direction co-occurrence confidence (q204) cannot see. */
  private def q391(s: SparkSession, d: String): DataFrame =
    AdoptionOrder.rules(t(s, d, "events"), "user_id", "event_type", "ts")

  private val q391Sql =
    """WITH firsts AS (
      |  SELECT user_id AS u, CAST(event_type AS VARCHAR) AS i,
      |    CAST(MIN(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)))
      |      AS BIGINT) AS d
      |  FROM events WHERE user_id IS NOT NULL
      |    AND event_type IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |cnt AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM firsts
      |  GROUP BY i),
      |pairs AS (SELECT a.i AS type_a, b.i AS type_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_both,
      |  CAST(SUM(CASE WHEN a.d < b.d THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_ordered
      |  FROM firsts a JOIN firsts b ON a.u = b.u AND a.i <> b.i
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, ca.n AS n_a, cb.n AS n_b, n_both,
      |  n_ordered,
      |  round(CAST(n_ordered AS DOUBLE) / CAST(ca.n AS DOUBLE), 6)
      |    AS confidence,
      |  round(CAST(n_ordered AS DOUBLE) / CAST(n_both AS DOUBLE), 6)
      |    AS directionality
      |FROM pairs JOIN cnt ca ON type_a = ca.i
      |JOIN cnt cb ON type_b = cb.i
      |WHERE n_ordered >= 1
      |ORDER BY n_ordered DESC, type_a, type_b""".stripMargin

  /** RFM segment migration 1999 → end-of-data: where the champions
    * WENT — the flow face of q320's static cells; snapshot-A scoring
    * sees only pre-1999 orders (no future leak). */
  private def q392(s: SparkSession, d: String): DataFrame =
    Rfm.migration(t(s, d, "orders"), "o_custkey", "o_orderdate",
      "o_totalprice", "1999-01-01", "2002-01-01")

  private val q392Sql =
    """WITH o AS (
      |  SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS dt
      |  FROM orders WHERE o_custkey IS NOT NULL
      |    AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
      |pa AS (SELECT c,
      |  CAST(datediff('day', MAX(dt), DATE '1999-01-01') AS BIGINT)
      |    AS rec,
      |  CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM o WHERE dt < DATE '1999-01-01' GROUP BY c),
      |sa AS (SELECT c,
      |  NTILE(5) OVER (ORDER BY rec DESC, c ASC) AS r,
      |  NTILE(5) OVER (ORDER BY freq ASC, c ASC) AS f FROM pa),
      |ga AS (SELECT c, CASE WHEN r >= 4 AND f >= 4 THEN 'champions'
      |  WHEN f >= 4 THEN 'loyal' WHEN r >= 4 THEN 'recent'
      |  WHEN r <= 2 AND f >= 3 THEN 'at_risk'
      |  ELSE 'hibernating' END AS seg FROM sa),
      |pb AS (SELECT c,
      |  CAST(datediff('day', MAX(dt), DATE '2002-01-01') AS BIGINT)
      |    AS rec,
      |  CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM o WHERE dt < DATE '2002-01-01' GROUP BY c),
      |sb AS (SELECT c,
      |  NTILE(5) OVER (ORDER BY rec DESC, c ASC) AS r,
      |  NTILE(5) OVER (ORDER BY freq ASC, c ASC) AS f FROM pb),
      |gb AS (SELECT c, CASE WHEN r >= 4 AND f >= 4 THEN 'champions'
      |  WHEN f >= 4 THEN 'loyal' WHEN r >= 4 THEN 'recent'
      |  WHEN r <= 2 AND f >= 3 THEN 'at_risk'
      |  ELSE 'hibernating' END AS seg FROM sb),
      |tr AS (SELECT ga.seg AS segment_from, gb.seg AS segment_to,
      |  CAST(COUNT(*) AS BIGINT) AS customers
      |  FROM ga JOIN gb USING (c) GROUP BY 1, 2),
      |rt AS (SELECT segment_from, CAST(SUM(customers) AS BIGINT) AS rt
      |  FROM tr GROUP BY 1)
      |SELECT tr.segment_from, tr.segment_to, tr.customers,
      |  round(CAST(tr.customers AS DOUBLE) / CAST(rt.rt AS DOUBLE), 6)
      |    AS row_share
      |FROM tr JOIN rt USING (segment_from)
      |ORDER BY 1, 2""".stripMargin

  /** Order-to-ship latency SLA audit per priority tier: exact type-1
    * p50/p90/p99 (rank ⌈q·n⌉ off the per-tier latency census), the
    * >90-day breach rate, AND the impossible-latency count (ship
    * before order — this corpus has them, and an SLA dashboard that
    * silently averages them in is lying twice). One corpus pass onto
    * the (tier, day) census; everything after runs on the grid. */
  private def q393(s: SparkSession, d: String): DataFrame = {
    val lat = t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate").isNotNull && col("o_orderdate").isNotNull &&
        col("o_orderpriority").isNotNull)
      .select(col("o_orderpriority").as("tier"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("lat"))
    graft.operators.Pinned.withCheckpoint(
      lat.groupBy(col("tier"), col("lat")).agg(count(lit(1)).as("c"))
    ) { cells =>
      val base = cells.groupBy(col("tier"))
        .agg(sum(col("c")).as("n_lines"),
          sum(when(col("lat") < 0, col("c")).otherwise(0L)).as("n_invalid"))
      val valid = cells.filter(col("lat") >= 0)
      val vn = valid.groupBy(col("tier")).agg(sum(col("c")).as("__nv"))
      val w = Window.partitionBy(col("tier")).orderBy(col("lat"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = valid.withColumn("__hi", sum(col("c")).over(w))
        .join(vn, "tier")
      def pct(q: Int) = cum
        // floor(x/100) on positives ≡ integer division (Spark `/` on
        // longs is double division)
        .filter(col("__hi") >=
          floor((col("__nv") * q + 99) / 100).cast("long"))
        .groupBy(col("tier")).agg(min(col("lat")).as(s"p$q"))
      val breach = valid.filter(col("lat") > 90)
        .groupBy(col("tier")).agg(sum(col("c")).as("__b"))
      val out = base.join(vn, "tier")
        .join(pct(50), "tier").join(pct(90), "tier").join(pct(99), "tier")
        .join(breach, Seq("tier"), "left")
        .select(col("tier"), col("n_lines"), col("n_invalid"),
          col("__nv").as("n_valid"), col("p50"), col("p90"), col("p99"),
          round(coalesce(col("__b"), lit(0L)).cast("double") /
            col("__nv").cast("double"), 6).as("breach_rate"))
        .orderBy(col("tier"))
      graft.operators.Grids.collectBounded(out, "sla tier grid")
    }
  }

  private val q393Sql =
    """WITH lat AS (
      |  SELECT o_orderpriority AS tier,
      |    CAST(datediff('day', CAST(o_orderdate AS DATE),
      |      CAST(l_shipdate AS DATE)) AS BIGINT) AS lat
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
      |    AND o_orderpriority IS NOT NULL),
      |cells AS (SELECT tier, lat, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lat GROUP BY 1, 2),
      |base AS (SELECT tier, CAST(SUM(c) AS BIGINT) AS n_lines,
      |  CAST(SUM(CASE WHEN lat < 0 THEN c ELSE 0 END) AS BIGINT)
      |    AS n_invalid
      |  FROM cells GROUP BY tier),
      |valid AS (SELECT * FROM cells WHERE lat >= 0),
      |vn AS (SELECT tier, CAST(SUM(c) AS BIGINT) AS nv FROM valid
      |  GROUP BY tier),
      |cum AS (SELECT v.tier, v.lat,
      |  CAST(SUM(v.c) OVER (PARTITION BY v.tier ORDER BY v.lat
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS hi, vn.nv
      |  FROM valid v JOIN vn ON v.tier = vn.tier),
      |p50 AS (SELECT tier, MIN(lat) AS p50 FROM cum
      |  WHERE hi >= (nv * 50 + 99) // 100 GROUP BY tier),
      |p90 AS (SELECT tier, MIN(lat) AS p90 FROM cum
      |  WHERE hi >= (nv * 90 + 99) // 100 GROUP BY tier),
      |p99 AS (SELECT tier, MIN(lat) AS p99 FROM cum
      |  WHERE hi >= (nv * 99 + 99) // 100 GROUP BY tier),
      |br AS (SELECT tier, CAST(SUM(c) AS BIGINT) AS b FROM valid
      |  WHERE lat > 90 GROUP BY tier)
      |SELECT base.tier, base.n_lines, base.n_invalid, vn.nv AS n_valid,
      |  p50.p50, p90.p90, p99.p99,
      |  round(CAST(COALESCE(br.b, 0) AS DOUBLE) / CAST(vn.nv AS DOUBLE),
      |    6) AS breach_rate
      |FROM base JOIN vn USING (tier) JOIN p50 USING (tier)
      |JOIN p90 USING (tier) JOIN p99 USING (tier)
      |LEFT JOIN br USING (tier)
      |ORDER BY tier""".stripMargin

  /** Negative-binomial moments fit on the per-(user, week) activity
    * panel (zero cells included — they carry the dispersion) — the
    * MODEL step after q294's Fano diagnosis: how much heterogeneity,
    * as the NB clumping parameter r̂. (The purchase-only panel is
    * UNDERdispersed at sf0.001 and the operator correctly refuses it
    * — all-event activity is the overdispersed behavior here.) */
  private def q394(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val week = (datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
      .cast("long") / 7L).cast("long")
    val users = ev.filter(col("user_id").isNotNull)
      .select(col("user_id").as("u")).distinct()
    val weeks = ev.filter(col("ts").isNotNull)
      .select(week.as("w")).distinct()
    val cnt = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id").as("u"), week.as("w"))
      .agg(count(lit(1)).as("c"))
    val panel = users.crossJoin(weeks)
      .join(cnt, Seq("u", "w"), "left")
      .select(coalesce(col("c"), lit(0L)).as("x"))
    graft.operators.Dispersion.negBinFit(panel, "x")
  }

  private val q394Sql =
    """WITH users AS (SELECT DISTINCT user_id AS u FROM events
      |  WHERE user_id IS NOT NULL),
      |weeks AS (SELECT DISTINCT
      |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS w
      |  FROM events WHERE ts IS NOT NULL),
      |cnt AS (SELECT user_id AS u,
      |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS w,
      |  CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |panel AS (SELECT COALESCE(cnt.c, 0) AS x
      |  FROM users CROSS JOIN weeks
      |  LEFT JOIN cnt ON cnt.u = users.u AND cnt.w = weeks.w),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(x) AS BIGINT) AS s,
      |  SUM(CAST(x AS HUGEINT) * x) AS q FROM panel),
      |cl AS (SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
      |  (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |    / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS v
      |  FROM st)
      |SELECT n, round(m, 6) AS mean, round(v, 6) AS variance,
      |  round(v / m, 6) AS dispersion,
      |  round(m * m / (v - m), 6) AS r_hat,
      |  round(m / v, 6) AS p_hat
      |FROM cl""".stripMargin

  /** Taylor's power law across users: log(variance) on log(mean) of
    * per-user daily activity — b ≈ 1 is Poisson-like traffic, b → 2
    * is bursty/clumped; the fleet-wide burstiness exponent one OLS
    * away from q350's per-user CV². */
  private def q395(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val day = datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
      .cast("long")
    val users = ev.filter(col("user_id").isNotNull)
      .select(col("user_id").as("u")).distinct()
    val days = ev.filter(col("ts").isNotNull)
      .select(day.as("dy")).distinct()
    val cnt = ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id").as("u"), day.as("dy"))
      .agg(count(lit(1)).as("c"))
    val perUser = users.crossJoin(days)
      .join(cnt, Seq("u", "dy"), "left")
      .select(col("u"), coalesce(col("c"), lit(0L)).as("x"))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("nd"), sum(col("x")).as("s"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("q"))
      .withColumn("m", col("s").cast("double") / col("nd").cast("double"))
      .withColumn("v", (col("q").cast("double") -
        col("s").cast("double") * col("s").cast("double") /
          col("nd").cast("double")) / (col("nd") - 1).cast("double"))
      .filter(col("m") > 0 && col("v") > 0)
      .select(log(col("m")).as("x"), log(col("v")).as("y"))
    Regression.ols1(perUser, "x", "y")
  }

  private val q395Sql =
    """WITH users AS (SELECT DISTINCT user_id AS u FROM events
      |  WHERE user_id IS NOT NULL),
      |days AS (SELECT DISTINCT
      |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dy
      |  FROM events WHERE ts IS NOT NULL),
      |cnt AS (SELECT user_id AS u,
      |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dy,
      |  CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |panel AS (SELECT users.u, COALESCE(cnt.c, 0) AS x
      |  FROM users CROSS JOIN days
      |  LEFT JOIN cnt ON cnt.u = users.u AND cnt.dy = days.dy),
      |pu AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS nd,
      |  CAST(SUM(x) AS BIGINT) AS s,
      |  SUM(CAST(x AS HUGEINT) * x) AS q FROM panel GROUP BY u),
      |mv AS (SELECT u,
      |  CAST(s AS DOUBLE) / CAST(nd AS DOUBLE) AS m,
      |  (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |    / CAST(nd AS DOUBLE)) / CAST(nd - 1 AS DOUBLE) AS v
      |  FROM pu),
      |pts AS (SELECT ln(m) AS x, ln(v) AS y FROM mv
      |  WHERE m > 0 AND v > 0),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |  CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |  CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
      |  FROM pts),
      |c AS (SELECT n, sxx * n - sx * sx AS cxx, sxy * n - sx * sy AS cxy,
      |  syy * n - sy * sy AS cyy, sx, sy FROM st)
      |SELECT n, round(cxy / cxx, 6) AS slope,
      |  round((sy - cxy / cxx * sx) / n, 6) AS intercept,
      |  round(cxy * cxy / (cxx * cyy), 6) AS r2
      |FROM c""".stripMargin

  /** ICC(1) + design effect of order spend clustered by customer —
    * how much spend variance lives BETWEEN customers, and what a
    * customer-clustered sample is really worth (n_eff = N/DEFF): the
    * number every cluster-randomized readout silently needs. */
  private def q396(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .filter(col("o_custkey").isNotNull && col("o_totalprice").isNotNull)
      .select(col("o_custkey").as("cust"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    Variance.iccOneWay(o, "cust", "cents")
  }

  private val q396Sql =
    """WITH census AS (
      |  SELECT o_custkey AS g, CAST(COUNT(*) AS BIGINT) AS cnt,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS ssum,
      |    SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)
      |      * CAST(round(o_totalprice * 100) AS BIGINT)) AS qsum
      |  FROM orders WHERE o_custkey IS NOT NULL
      |    AND o_totalprice IS NOT NULL
      |  GROUP BY 1 HAVING COUNT(*) >= 2),
      |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |  CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(ssum) AS BIGINT) AS s,
      |  CAST(SUM(qsum) AS DOUBLE) AS q,
      |  CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS DOUBLE) AS sn2,
      |  CAST(SUM(CAST(CAST(ssum AS DOUBLE) * CAST(ssum AS DOUBLE)
      |    / CAST(cnt AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS a
      |  FROM census),
      |cl AS (SELECT k, n,
      |  a - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |    AS ssb,
      |  q - a AS ssw,
      |  (CAST(n AS DOUBLE) - sn2 / CAST(n AS DOUBLE))
      |    / CAST(k - 1 AS DOUBLE) AS n0
      |  FROM agg),
      |ms AS (SELECT k, n, ssb / CAST(k - 1 AS DOUBLE) AS msb,
      |  ssw / CAST(n - k AS DOUBLE) AS msw, n0 FROM cl),
      |ic AS (SELECT k, n,
      |  (msb - msw) / (msb + (n0 - 1.0) * msw) AS icc FROM ms),
      |de AS (SELECT k, n, icc,
      |  1.0 + (CAST(n AS DOUBLE) / CAST(k AS DOUBLE) - 1.0) * icc
      |    AS deff FROM ic)
      |SELECT k, n, round(icc, 6) AS icc, round(deff, 6) AS deff,
      |  round(CAST(n AS DOUBLE) / deff, 6) AS n_eff
      |FROM de""".stripMargin

  /** Running-records trend test on hourly revenue: are new all-time
    * peak hours arriving faster than exchangeability allows — the
    * extremes-sensitive trend read q252's pair census is not. */
  private def q397(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
    TrendTests.recordsTest(grid, "t", "y")
  }

  private val q397Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |idx AS (SELECT y,
      |  CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i,
      |  MAX(y) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM g),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN pm IS NULL OR y > pm THEN 1 ELSE 0 END)
      |    AS BIGINT) AS rec,
      |  CAST(SUM(CAST(1.0 / CAST(i AS DOUBLE) AS DECIMAL(38,12)))
      |    AS DOUBLE) AS h1,
      |  CAST(SUM(CAST(1.0 / (CAST(i AS DOUBLE) * CAST(i AS DOUBLE))
      |    AS DECIMAL(38,12))) AS DOUBLE) AS h2
      |  FROM idx)
      |SELECT n, rec AS records, round(h1, 6) AS e_records,
      |  round((CAST(rec AS DOUBLE) - h1) / sqrt(h1 - h2), 6)
      |    AS z_records
      |FROM st""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("q361_energy_distance", q361, Some(q361Sql)),
    Q("q362_anova_f", q362, Some(q362Sql)),
    Q("q363_gk_lambda", q363, Some(q363Sql)),
    Q("q364_pr_operating_point", q364, Some(q364Sql)),
    Q("q365_between_inequality", q365, Some(q365Sql)),
    Q("q366_granger", q366, Some(q366Sql)),
    Q("q367_dickey_fuller", q367, Some(q367Sql)),
    Q("q368_modularity", q368, Some(q368Sql)),
    Q("q369_abc_pareto", q369, Some(q369Sql)),
    Q("q370_cohort_ltv", q370, Some(q370Sql)),
    Q("q371_information_value", q371, Some(q371Sql)),
    Q("q372_lorenz_curve", q372, Some(q372Sql)),
    Q("q373_nelson_aalen", q373, Some(q373Sql)),
    Q("q374_tail_dependence", q374, Some(q374Sql)),
    Q("q375_activity_streaks", q375, Some(q375Sql)),
    Q("q376_hurst_rs", q376, Some(q376Sql)),
    Q("q377_croston", q377, Some(q377Sql)),
    Q("q378_price_elasticity", q378, Some(q378Sql)),
    Q("q379_gumbel_evt", q379, Some(q379Sql)),
    Q("q380_item_cf", q380, Some(q380Sql)),
    Q("q381_active_turnover", q381, Some(q381Sql)),
    Q("q382_partial_correlation", q382, Some(q382Sql)),
    Q("q383_growth_accounting", q383, Some(q383Sql)),
    Q("q384_burrows_delta", q384, Some(q384Sql)),
    Q("q385_streaming_reconcile", q385, Some(q385Sql)),
    Q("q386_spiegelhalter_z", q386, Some(q386Sql)),
    Q("q387_kupiec_pof", q387, Some(q387Sql)),
    Q("q388_cochran_armitage", q388, Some(q388Sql)),
    Q("q389_jonckheere", q389, Some(q389Sql)),
    Q("q390_revenue_bridge", q390, Some(q390Sql)),
    Q("q391_adoption_order", q391, Some(q391Sql)),
    Q("q392_rfm_migration", q392, Some(q392Sql)),
    Q("q393_ship_latency_sla", q393, Some(q393Sql)),
    Q("q394_negbin_fit", q394, Some(q394Sql)),
    Q("q395_taylors_law", q395, Some(q395Sql)),
    Q("q396_icc_design_effect", q396, Some(q396Sql)),
    Q("q397_records_test", q397, Some(q397Sql)))
}
