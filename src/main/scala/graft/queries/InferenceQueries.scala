package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.operators.{Causal, Keyness, Survival, VarianceRatio, VocabStats}
import graft.store.{DocumentStore, Scratch}

/** Round-17 inference extensions: the engine's first CAUSAL family
  * (difference-in-differences with the parallel-trends pre-check,
  * sharp regression discontinuity), the Lo–MacKinlay variance-ratio
  * random-walk test, Aalen–Johansen competing-risks incidence, Dunning
  * G² keyness, and frequency-spectrum lexical concentration — plus
  * the round's second wave: Durbin–Watson, Bass diffusion, bilateral
  * price indices, Oaxaca–Blinder, Gries' DP, the ARCH-effect
  * composition, the event-study profile, and randomization-inference
  * placebo DiD. House hash-parity rules throughout (exact decimal
  * ledgers, fixed closing double trees, total ORDER BY); cent-scale
  * closes floor-scale (floor(x·1e4)/1e4) instead of round(,6) — see
  * Causal.diffInDiff's body note on why rounding large doubles is not
  * engine-replayable.
  */
object InferenceQueries extends QuerySet {

  /** Lo–MacKinlay variance ratios of hourly revenue at horizons
    * 2/4/8 — does revenue follow a random walk, and at which horizon
    * does structure live? The momentum/mean-reversion read q376's
    * single Hurst exponent cannot localize. */
  private def q401(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
    VarianceRatio.varianceRatio(grid, "t", "y", Seq(2, 4, 8))
  }

  private val q401Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |d1 AS (SELECT y - lag(y) OVER (ORDER BY t) AS dd FROM g),
      |s1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(dd AS DECIMAL(38,0))) AS s,
      |    SUM(CAST(dd AS DECIMAL(38,0)) * dd) AS ss
      |  FROM d1 WHERE dd IS NOT NULL),
      |qs AS (SELECT CAST(unnest([2, 4, 8]) AS BIGINT) AS q),
      |dq AS (SELECT qs.q, g.y - lag(g.y, CAST(qs.q AS INT))
      |    OVER (PARTITION BY qs.q ORDER BY g.t) AS dd
      |  FROM g CROSS JOIN qs),
      |sq AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS nq,
      |    SUM(CAST(dd AS DECIMAL(38,0))) AS s,
      |    SUM(CAST(dd AS DECIMAL(38,0)) * dd) AS ss
      |  FROM dq WHERE dd IS NOT NULL GROUP BY q),
      |cl AS (SELECT sq.q, s1.n,
      |    (CAST(sq.ss AS DOUBLE) / sq.nq
      |      - (CAST(sq.s AS DOUBLE) / sq.nq) * (CAST(sq.s AS DOUBLE) / sq.nq))
      |    / (CAST(sq.q AS DOUBLE) *
      |       (CAST(s1.ss AS DOUBLE) / s1.n
      |        - (CAST(s1.s AS DOUBLE) / s1.n) * (CAST(s1.s AS DOUBLE) / s1.n)))
      |      AS vr,
      |    sqrt(2.0 * (2 * sq.q - 1) * (sq.q - 1)
      |      / (3.0 * sq.q * s1.n)) AS se
      |  FROM sq CROSS JOIN s1)
      |SELECT q, n, round(vr, 6) AS vr, round((vr - 1.0) / se, 6) AS z
      |FROM cl ORDER BY q""".stripMargin

  /** Difference-in-differences on purchase value: "treated" users
    * (odd user_id — the house synthetic-arm hash) vs control, before/
    * after mid-month. On randomized synthetic data the honest answer
    * is did ≈ 0 with parallel pre-slopes — the estimator's null
    * behaving; the gate's value is the full cell/slope accounting
    * replayed relationally. */
  private def q402(s: SparkSession, d: String): DataFrame = {
    val rows = t(s, d, "events")
      .filter(col("event_type") === "purchase" &&
        col("ts").isNotNull && col("value").isNotNull)
      .select(round(col("value") * 100).cast("long").as("cents"),
        dayofmonth(col("ts")).cast("long").as("tick"),
        (col("user_id") % 2 === 1).as("treated"),
        (dayofmonth(col("ts")) >= 16).as("post"))
    Causal.diffInDiff(rows, "cents", "tick", col("treated"), col("post"))
  }

  private val q402Sql = {
    // closing tree mirrors Causal.diffInDiff: decimal sums -> doubles
    val cell = "SELECT g, p, CAST(COUNT(*) AS BIGINT) AS n, " +
      "SUM(CAST(CAST(c AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS sy, " +
      "SUM(CAST(CAST(tick AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS st, " +
      "SUM(CAST(CAST(tick AS DECIMAL(18,6)) * CAST(tick AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS stt, " +
      "SUM(CAST(CAST(tick AS DECIMAL(18,6)) * CAST(c AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS sty " +
      "FROM r GROUP BY g, p"
    def m(g: String, p: String) =
      s"(SELECT CAST(sy AS DOUBLE) / n FROM cells WHERE g = $g AND p = $p)"
    def nn(g: String, p: String) =
      s"(SELECT n FROM cells WHERE g = $g AND p = $p)"
    def sl(g: String) =
      s"""(SELECT (CAST(sty AS DOUBLE) * n - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
         |  / (CAST(stt AS DOUBLE) * n - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
         |  FROM cells WHERE g = $g AND p = FALSE)""".stripMargin
    s"""WITH r AS (
       |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
       |    CAST(day(ts) AS BIGINT) AS tick,
       |    user_id % 2 = 1 AS g, day(ts) >= 16 AS p
       |  FROM events WHERE event_type = 'purchase'
       |    AND ts IS NOT NULL AND value IS NOT NULL),
       |cells AS ($cell)
       |SELECT ${nn("TRUE", "FALSE")} AS n_t_pre, ${nn("TRUE", "TRUE")} AS n_t_post,
       |  ${nn("FALSE", "FALSE")} AS n_c_pre, ${nn("FALSE", "TRUE")} AS n_c_post,
       |  floor(${m("TRUE", "FALSE")} * 10000.0) / 10000.0 AS mean_t_pre,
       |  floor(${m("TRUE", "TRUE")} * 10000.0) / 10000.0 AS mean_t_post,
       |  floor(${m("FALSE", "FALSE")} * 10000.0) / 10000.0 AS mean_c_pre,
       |  floor(${m("FALSE", "TRUE")} * 10000.0) / 10000.0 AS mean_c_post,
       |  floor(((${m("TRUE", "TRUE")} - ${m("TRUE", "FALSE")})
       |    - (${m("FALSE", "TRUE")} - ${m("FALSE", "FALSE")})) * 10000.0)
       |    / 10000.0 AS did,
       |  floor(${sl("TRUE")} * 10000.0) / 10000.0 AS pre_slope_t,
       |  floor(${sl("FALSE")} * 10000.0) / 10000.0 AS pre_slope_c,
       |  floor((${sl("TRUE")} - ${sl("FALSE")}) * 10000.0) / 10000.0
       |    AS pre_slope_gap""".stripMargin
  }

  /** Sharp RD at the zero-balance cutoff: does crossing into negative
    * account balance discontinuously shift total spend? Local linear
    * both sides, ±1000 bandwidth. The honest synthetic answer is a
    * null gap with near-zero R² — the estimator refusing to read the
    * trend as treatment is the point. */
  private def q403(s: SparkSession, d: String): DataFrame = {
    val spend = t(s, d, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val cust = t(s, d, "customer")
      .join(spend, col("c_custkey") === col("ck"), "left")
      .select(col("c_acctbal").as("bal"),
        coalesce(col("cents"), lit(0L)).as("spend"))
    Causal.regressionDiscontinuity(cust, "bal", "spend",
      cutoff = 0.0, bandwidth = 1000.0)
  }

  private val q403Sql =
    """WITH spend AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |cu AS (
      |  SELECT CAST(c_acctbal AS DECIMAL(18,6))
      |      - CAST(0.0 AS DECIMAL(18,6)) AS x,
      |    CAST(COALESCE(spend.cents, 0) AS DECIMAL(18,6)) AS y
      |  FROM customer LEFT JOIN spend ON c_custkey = spend.ck
      |  WHERE c_acctbal IS NOT NULL),
      |inb AS (SELECT x, y, x >= 0 AS side FROM cu WHERE abs(x) <= 1000),
      |sides AS (SELECT side, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,12))) AS sx,
      |    SUM(CAST(y AS DECIMAL(38,12))) AS sy,
      |    -- operands widened to DECIMAL(19,6): DuckDB's 18-digit
      |    -- multiply stays on int64 and overflows on cent-scaled spend
      |    SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
      |      AS DECIMAL(38,12))) AS sxx,
      |    SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
      |      AS DECIMAL(38,12))) AS sxy,
      |    SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
      |      AS DECIMAL(38,12))) AS syy
      |  FROM inb GROUP BY side),
      |fit AS (SELECT side, n,
      |    (CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
      |    (CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS cxy,
      |    (CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS cxx,
      |    (CAST(syy AS DOUBLE) * n - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS cyy
      |  FROM sides),
      |ab AS (SELECT side, n, b, (syd - b * sxd) / n AS a,
      |    CASE WHEN cyy = 0 THEN 0.0 ELSE cxy * cxy / (cxx * cyy) END AS r2
      |  FROM fit)
      |SELECT l.n AS n_left, r.n AS n_right,
      |  floor(l.a * 10000.0) / 10000.0 AS intercept_left,
      |  floor(r.a * 10000.0) / 10000.0 AS intercept_right,
      |  floor((r.a - l.a) * 10000.0) / 10000.0 AS gap,
      |  floor(l.b * 10000.0) / 10000.0 AS slope_left,
      |  floor(r.b * 10000.0) / 10000.0 AS slope_right,
      |  floor(l.r2 * 10000.0) / 10000.0 AS r2_left,
      |  floor(r.r2 * 10000.0) / 10000.0 AS r2_right
      |FROM (SELECT * FROM ab WHERE NOT side) l
      |CROSS JOIN (SELECT * FROM ab WHERE side) r""".stripMargin

  /** Aalen–Johansen cumulative incidence: per user, hours from first
    * event to first PURCHASE (cause 1) vs first ERROR (cause 2) —
    * whichever strikes first — censored at the last observed event.
    * The "which exit wins, when" read a naive per-cause KM overstates;
    * CIF₁+CIF₂+S ≡ 1 holds by construction here. */
  private def q404(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("ts").isNotNull)
    val per = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("f"), max(col("ts")).as("l"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
        min(when(col("event_type") === "error", col("ts"))).as("te"))
    val durs = per.select(
      when(col("tp").isNotNull && (col("te").isNull || col("tp") <= col("te")),
        floor((unix_timestamp(col("tp")) - unix_timestamp(col("f"))) / 3600))
        .when(col("te").isNotNull,
          floor((unix_timestamp(col("te")) - unix_timestamp(col("f"))) / 3600))
        .otherwise(floor((unix_timestamp(col("l")) - unix_timestamp(col("f"))) / 3600))
        .cast("long").as("dur"),
      when(col("tp").isNotNull && (col("te").isNull || col("tp") <= col("te")), 1)
        .when(col("te").isNotNull, 2).otherwise(0).as("cause"))
    Survival.aalenJohansen(durs, "dur", "cause")
  }

  private val q404Sql =
    """WITH per AS (
      |  SELECT user_id, MIN(ts) AS f, MAX(ts) AS l,
      |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
      |    MIN(CASE WHEN event_type = 'error' THEN ts END) AS te
      |  FROM events WHERE ts IS NOT NULL GROUP BY user_id),
      |durs AS (
      |  SELECT CASE
      |      WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)
      |        THEN CAST(floor(CAST(epoch(tp) - epoch(f) AS DOUBLE) / 3600) AS BIGINT)
      |      WHEN te IS NOT NULL
      |        THEN CAST(floor(CAST(epoch(te) - epoch(f) AS DOUBLE) / 3600) AS BIGINT)
      |      ELSE CAST(floor(CAST(epoch(l) - epoch(f) AS DOUBLE) / 3600) AS BIGINT)
      |    END AS t,
      |    CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN 1
      |         WHEN te IS NOT NULL THEN 2 ELSE 0 END AS k
      |  FROM per),
      |grid AS (
      |  SELECT t, CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
      |    CAST(SUM(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
      |    CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c
      |  FROM durs GROUP BY t),
      |tot AS (SELECT CAST(SUM(d1 + d2 + c) AS BIGINT) AS n FROM grid),
      |ar AS (
      |  SELECT t, d1, d2, c,
      |    tot.n - CAST(SUM(d1 + d2 + c) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      + d1 + d2 + c AS n_risk
      |  FROM grid CROSS JOIN tot),
      |evt AS (SELECT * FROM ar WHERE d1 + d2 > 0),
      |sm AS (
      |  SELECT e1.t, e1.n_risk, e1.d1, e1.d2,
      |    list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
      |      list(CAST(e2.n_risk - e2.d1 - e2.d2 AS DOUBLE)
      |        / CAST(e2.n_risk AS DOUBLE) ORDER BY e2.t) FILTER (e2.t IS NOT NULL)),
      |      (a, b) -> a * b) AS sminus
      |  FROM evt e1 LEFT JOIN evt e2 ON e2.t < e1.t
      |  GROUP BY e1.t, e1.n_risk, e1.d1, e1.d2),
      |terms AS (
      |  SELECT t, n_risk, d1, d2, sminus,
      |    CAST(sminus * CAST(d1 AS DOUBLE) / CAST(n_risk AS DOUBLE)
      |      AS DECIMAL(38,12)) AS t1,
      |    CAST(sminus * CAST(d2 AS DOUBLE) / CAST(n_risk AS DOUBLE)
      |      AS DECIMAL(38,12)) AS t2
      |  FROM sm)
      |SELECT t, n_risk, d1, d2,
      |  round(CAST(SUM(t1) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
      |    AS cif1,
      |  round(CAST(SUM(t2) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
      |    AS cif2,
      |  round(sminus * CAST(n_risk - d1 - d2 AS DOUBLE)
      |    / CAST(n_risk AS DOUBLE), 6) AS km_all
      |FROM terms ORDER BY t""".stripMargin

  /** Dunning G² keyness: the top-5 over-used words per source against
    * the rest of the corpus — the per-word provenance/templating read
    * PMI can't give at low counts. */
  private def q405(s: SparkSession, d: String): DataFrame =
    Keyness.keynessG2(t(s, d, "documents"), "source", "text",
      k = 5, minCount = 5L)

  private val q405Sql =
    """WITH toks AS (
      |  SELECT CAST(source AS VARCHAR) AS g,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
      |cells AS (SELECT g, w, CAST(COUNT(*) AS BIGINT) AS a
      |  FROM toks GROUP BY g, w),
      |wt AS (SELECT w, CAST(SUM(a) AS BIGINT) AS wt FROM cells GROUP BY w),
      |gt AS (SELECT g, CAST(SUM(a) AS BIGINT) AS gt FROM cells GROUP BY g),
      |nt AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM cells),
      |sc AS (
      |  SELECT cells.g, cells.w, cells.a,
      |    wt.wt - cells.a AS b, gt.gt - cells.a AS c,
      |    nt.n - wt.wt - (gt.gt - cells.a) AS dd,
      |    CAST(wt.wt AS DOUBLE) * CAST(gt.gt AS DOUBLE)
      |      / CAST(nt.n AS DOUBLE) AS ea,
      |    CAST(wt.wt AS DOUBLE) * (CAST(nt.n AS DOUBLE)
      |      - CAST(gt.gt AS DOUBLE)) / CAST(nt.n AS DOUBLE) AS eb,
      |    (CAST(nt.n AS DOUBLE) - CAST(wt.wt AS DOUBLE))
      |      * CAST(gt.gt AS DOUBLE) / CAST(nt.n AS DOUBLE) AS ec,
      |    (CAST(nt.n AS DOUBLE) - CAST(wt.wt AS DOUBLE))
      |      * (CAST(nt.n AS DOUBLE) - CAST(gt.gt AS DOUBLE))
      |      / CAST(nt.n AS DOUBLE) AS ed,
      |    CAST(nt.n AS DOUBLE) AS nd, CAST(gt.gt AS DOUBLE) AS gtd
      |  FROM cells JOIN wt USING (w) JOIN gt USING (g) CROSS JOIN nt
      |  WHERE cells.a >= 5),
      |g2 AS (
      |  SELECT g, w, a, b,
      |    2.0 * ((CASE WHEN a > 0 THEN CAST(a AS DOUBLE) * ln(CAST(a AS DOUBLE) / ea) ELSE 0.0 END
      |      + CASE WHEN b > 0 THEN CAST(b AS DOUBLE) * ln(CAST(b AS DOUBLE) / eb) ELSE 0.0 END)
      |      + CASE WHEN c > 0 THEN CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE) / ec) ELSE 0.0 END
      |      + CASE WHEN dd > 0 THEN CAST(dd AS DOUBLE) * ln(CAST(dd AS DOUBLE) / ed) ELSE 0.0 END) AS g2
      |  FROM sc
      |  WHERE CAST(a AS DOUBLE) * (nd - gtd) > CAST(b AS DOUBLE) * gtd),
      |rk AS (SELECT g, w, a, b, g2,
      |    row_number() OVER (PARTITION BY g ORDER BY g2 DESC, w) AS rank
      |  FROM g2)
      |SELECT g AS source, CAST(rank AS INT) AS rank, w AS word,
      |  a AS n_in, b AS n_rest, round(g2, 6) AS g2
      |FROM rk WHERE rank <= 5 ORDER BY source, rank""".stripMargin

  /** Frequency-spectrum lexical concentration per source: Yule's K +
    * Simpson's D — the boilerplate/template flag two sources with
    * identical TTR (q285) can hide. */
  private def q407(s: SparkSession, d: String): DataFrame =
    VocabStats.concentration(t(s, d, "documents"), "source", "text")

  private val q407Sql =
    """WITH toks AS (
      |  SELECT source AS g,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents WHERE text IS NOT NULL),
      |tf AS (SELECT g, w, CAST(COUNT(*) AS BIGINT) AS f
      |  FROM toks GROUP BY g, w),
      |agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS types,
      |    CAST(SUM(f) AS BIGINT) AS tokens,
      |    CAST(SUM(f * f) AS BIGINT) AS sff,
      |    CAST(SUM(f * (f - 1)) AS BIGINT) AS sff1
      |  FROM tf GROUP BY g)
      |SELECT g AS source, types, tokens,
      |  round(10000.0 * CAST(sff - tokens AS DOUBLE)
      |    / (CAST(tokens AS DOUBLE) * CAST(tokens AS DOUBLE)), 6) AS yule_k,
      |  round(CAST(sff1 AS DOUBLE)
      |    / (CAST(tokens AS DOUBLE) * CAST(tokens - 1 AS DOUBLE)), 6)
      |    AS simpson_d
      |FROM agg WHERE tokens >= 2 ORDER BY source""".stripMargin


  /** Durbin–Watson residual-autocorrelation diagnostic of the
    * detrended hourly revenue — the single-lag residual read tied to a
    * specific fit, next to q344's many-lag Ljung-Box on the raw
    * series. */
  private def q408(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
    graft.operators.Autocorr.durbinWatson(grid, "t", "y")
  }

  private val q408Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |base AS (SELECT CAST(y AS DECIMAL(18,6)) AS y,
      |    CAST(CAST(row_number() OVER (ORDER BY t) - 1 AS BIGINT)
      |      AS DECIMAL(18,6)) AS i, t
      |  FROM g),
      |led AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(i AS DECIMAL(38,12))) AS sx,
      |    SUM(CAST(y AS DECIMAL(38,12))) AS sy,
      |    SUM(CAST(CAST(i AS DECIMAL(19,6)) * CAST(i AS DECIMAL(19,6))
      |      AS DECIMAL(38,12))) AS sxx,
      |    SUM(CAST(CAST(i AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
      |      AS DECIMAL(38,12))) AS sxy
      |  FROM base),
      |ab AS (SELECT n,
      |    (CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
      |    CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
      |  FROM led),
      |ab2 AS (SELECT n, b, (syd - b * sxd) / n AS a FROM ab),
      |res AS (SELECT base.t,
      |    CAST(base.y AS DOUBLE) - ab2.a - ab2.b * CAST(base.i AS DOUBLE) AS e
      |  FROM base CROSS JOIN ab2),
      |res2 AS (SELECT e, lag(e) OVER (ORDER BY t) AS ep FROM res),
      |qf AS (SELECT SUM(CAST(e * e AS DECIMAL(38,12))) AS ss,
      |    SUM(CASE WHEN ep IS NOT NULL
      |      THEN CAST((e - ep) * (e - ep) AS DECIMAL(38,12)) END) AS sd
      |  FROM res2),
      |cl AS (SELECT ab2.n, ab2.a, ab2.b,
      |    CAST(qf.sd AS DOUBLE) / CAST(qf.ss AS DOUBLE) AS dw
      |  FROM qf CROSS JOIN ab2)
      |SELECT n, round(dw, 6) AS dw,
      |  round(dw * n / CAST(n - 1 AS DOUBLE), 6) AS von_neumann,
      |  round(1.0 - dw / 2.0, 6) AS rho1_implied,
      |  floor(b * 10000.0) / 10000.0 AS trend_slope,
      |  floor(a * 10000.0) / 10000.0 AS trend_intercept
      |FROM cl""".stripMargin

  /** Bass diffusion fit of customer adoption (first order) by month —
    * the finite customer pool acquired over the order history IS an
    * adoption curve, so this is the operator's natural habitat:
    * `bass_shape` says whether acquisition bends toward saturation
    * (c < 0) or streams in flat, and the m/p/q/peak closes replay
    * relationally either way. */
  private def q409(s: SparkSession, d: String): DataFrame = {
    val first = t(s, d, "orders")
      .filter(col("o_orderdate").isNotNull)
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("d0"))
      .select((year(col("d0")) * 12 + month(col("d0"))).cast("long")
        .as("period"))
    graft.operators.Diffusion.bassFit(first, "period")
  }

  private val q409Sql =
    """WITH first AS (
      |  SELECT o_custkey,
      |    CAST(year(MIN(o_orderdate)) * 12 + month(MIN(o_orderdate))
      |      AS BIGINT) AS period
      |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY o_custkey),
      |cnt AS (SELECT period AS p, CAST(COUNT(*) AS BIGINT) AS nn
      |  FROM first GROUP BY period),
      |rows_ AS (SELECT CAST(nn AS DECIMAL(18,6)) AS y,
      |    CAST(COALESCE(SUM(nn) OVER (ORDER BY p
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS DECIMAL(18,6)) AS x1,
      |    CAST(COALESCE(SUM(nn) OVER (ORDER BY p
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      * COALESCE(SUM(nn) OVER (ORDER BY p
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS DECIMAL(18,6)) AS x2
      |  FROM cnt),
      |led AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x1 AS DECIMAL(38,12))) AS s1,
      |    SUM(CAST(x2 AS DECIMAL(38,12))) AS s2,
      |    SUM(CAST(y AS DECIMAL(38,12))) AS sy,
      |    SUM(CAST(CAST(CAST(x1 AS DECIMAL(19,6)) * CAST(x1 AS DECIMAL(19,6)) AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS s11,
      |    SUM(CAST(CAST(x2 AS DECIMAL(19,6)) * CAST(x2 AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS s22,
      |    SUM(CAST(CAST(x1 AS DECIMAL(19,6)) * CAST(x2 AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS s12,
      |    SUM(CAST(CAST(x1 AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS s1y,
      |    SUM(CAST(CAST(x2 AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS s2y
      |  FROM rows_),
      |tot AS (SELECT CAST(SUM(nn) AS BIGINT) AS adopters FROM cnt),
      |cm AS (SELECT n,
      |    CAST(s11 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS c11,
      |    CAST(s22 AS DOUBLE) * n - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c22,
      |    CAST(s12 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c12,
      |    CAST(s1y AS DOUBLE) * n - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) AS c1y,
      |    CAST(s2y AS DOUBLE) * n - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) AS c2y,
      |    CAST(sy AS DOUBLE) AS syd, CAST(s1 AS DOUBLE) AS s1d,
      |    CAST(s2 AS DOUBLE) AS s2d
      |  FROM led),
      |bc AS (SELECT n, syd, s1d, s2d,
      |    (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b,
      |    (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS c
      |  FROM cm),
      |abc AS (SELECT n, b, c, (syd - b * s1d - c * s2d) / n AS a FROM bc),
      |full_ AS (SELECT n, a, b, c, b * b - 4.0 * a * c AS disc,
      |    (c < 0.0 AND b * b - 4.0 * a * c > 0.0) AS shaped
      |  FROM abc),
      |mpq AS (SELECT *,
      |    CASE WHEN shaped THEN (-b - sqrt(disc)) / (2.0 * c) END AS m
      |  FROM full_),
      |pq AS (SELECT *, CASE WHEN shaped THEN a / m END AS p FROM mpq),
      |qq AS (SELECT *, CASE WHEN shaped THEN b + p END AS q FROM pq)
      |SELECT n AS n_periods, (SELECT adopters FROM tot) AS adopters,
      |  floor(a * 10000.0) / 10000.0 AS a,
      |  round(b, 6) AS b, round(c, 9) AS c, shaped AS bass_shape,
      |  floor(m * 10000.0) / 10000.0 AS m,
      |  round(p, 6) AS p, round(q, 6) AS q,
      |  round(CASE WHEN shaped AND p > 0 AND q > 0
      |    THEN ln(q / p) / (p + q) END, 6) AS peak_t
      |FROM qq""".stripMargin

  /** Laspeyres/Paasche/Fisher price indices between the first and last
    * full shipping years — how much of the revenue move is PRICE on
    * the matched basket, the question q38x's revenue bridge leaves
    * implicit. */
  private def q410(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_partkey").as("pk"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"),
        year(col("l_shipdate")).as("yr"))
    graft.operators.PriceIndex.bilateral(li, "pk", "cents", "qty",
      col("yr") === 1995, col("yr") === 2000)
  }

  private val q410Sql =
    """WITH r AS (
      |  SELECT l_partkey AS i,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS rv,
      |    CAST(l_quantity AS BIGINT) AS q,
      |    CASE WHEN year(l_shipdate) = 1995 THEN 0
      |         WHEN year(l_shipdate) = 2000 THEN 1 END AS t
      |  FROM lineitem WHERE l_partkey IS NOT NULL),
      |per AS (SELECT i, t, CAST(SUM(rv) AS BIGINT) AS rev,
      |    CAST(SUM(q) AS BIGINT) AS qty
      |  FROM r WHERE t IS NOT NULL GROUP BY i, t HAVING SUM(q) > 0),
      |b AS (SELECT i, rev AS r0, qty AS q0 FROM per WHERE t = 0),
      |c AS (SELECT i, rev AS r1, qty AS q1 FROM per WHERE t = 1),
      |m AS (SELECT * FROM b JOIN c USING (i)),
      |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(r0) AS BIGINT) AS rev0, CAST(SUM(r1) AS BIGINT) AS rev1,
      |    SUM(CAST(CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
      |      * CAST(q0 AS DOUBLE) AS DECIMAL(38,12))) AS p1q0,
      |    SUM(CAST(CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)
      |      * CAST(q1 AS DOUBLE) AS DECIMAL(38,12))) AS p0q1
      |  FROM m),
      |xx AS (SELECT n,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM b
      |      WHERE i NOT IN (SELECT i FROM c)) AS ob,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM c
      |      WHERE i NOT IN (SELECT i FROM b)) AS oc,
      |    rev0, rev1,
      |    CAST(p1q0 AS DOUBLE) / CAST(rev0 AS DOUBLE) AS lasp,
      |    CAST(rev1 AS DOUBLE) / CAST(p0q1 AS DOUBLE) AS paas
      |  FROM agg)
      |SELECT n AS n_matched, ob AS n_only_base, oc AS n_only_curr,
      |  rev0 AS rev_base, rev1 AS rev_curr,
      |  round(lasp, 6) AS laspeyres, round(paas, 6) AS paasche,
      |  round(sqrt(lasp * paas), 6) AS fisher
      |FROM xx""".stripMargin

  /** Oaxaca–Blinder decomposition of the AUTOMOBILE-vs-rest spend gap
    * into the part balance mix explains vs the coefficient gap — the
    * composition-or-treatment split a raw segment comparison hides. */
  private def q411(s: SparkSession, d: String): DataFrame = {
    val spend = t(s, d, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val cust = t(s, d, "customer")
      .join(spend, col("c_custkey") === col("ck"), "left")
      .select((col("c_mktsegment") === "AUTOMOBILE").as("grp"),
        col("c_acctbal").as("bal"),
        coalesce(col("cents"), lit(0L)).as("spend"))
    graft.operators.Causal.oaxacaBlinder(cust, col("grp"), "bal", "spend")
  }

  private val q411Sql =
    """WITH spend AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |cu AS (
      |  SELECT c_mktsegment = 'AUTOMOBILE' AS g,
      |    CAST(c_acctbal AS DECIMAL(18,6)) AS x,
      |    CAST(COALESCE(spend.cents, 0) AS DECIMAL(18,6)) AS y
      |  FROM customer LEFT JOIN spend ON c_custkey = spend.ck
      |  WHERE c_acctbal IS NOT NULL),
      |gs AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,12))) AS sx,
      |    SUM(CAST(y AS DECIMAL(38,12))) AS sy,
      |    SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
      |      AS DECIMAL(38,12))) AS sxx,
      |    SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
      |      AS DECIMAL(38,12))) AS sxy
      |  FROM cu GROUP BY g),
      |fit AS (SELECT g, n,
      |    (CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM gs),
      |fit2 AS (SELECT g, n, b, (syd - b * sxd) / n AS a,
      |    sxd / n AS mx, syd / n AS my FROM fit)
      |SELECT a_.n AS n_a, b_.n AS n_b,
      |  floor((a_.my - b_.my) * 10000.0) / 10000.0 AS gap,
      |  floor((b_.b * (a_.mx - b_.mx)) * 10000.0) / 10000.0
      |    AS explained_by_x,
      |  floor(((a_.a - b_.a) + (a_.b - b_.b) * a_.mx) * 10000.0) / 10000.0
      |    AS unexplained,
      |  floor(a_.b * 10000.0) / 10000.0 AS slope_a,
      |  floor(b_.b * 10000.0) / 10000.0 AS slope_b,
      |  floor(a_.mx * 10000.0) / 10000.0 AS mean_x_a,
      |  floor(b_.mx * 10000.0) / 10000.0 AS mean_x_b
      |FROM (SELECT * FROM fit2 WHERE g) a_
      |CROSS JOIN (SELECT * FROM fit2 WHERE NOT g) b_""".stripMargin

  /** Gries' DP dispersion of the top-20 corpus words across sources —
    * which frequent words CLUMP into one source (template markers) vs
    * spread with the corpus (function words). */
  private def q412(s: SparkSession, d: String): DataFrame =
    graft.operators.Dispersion.griesDp(t(s, d, "documents"),
      "source", "text", k = 20)

  private val q412Sql =
    """WITH toks AS (
      |  SELECT CAST(source AS VARCHAR) AS p,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
      |cells AS (SELECT p, w, CAST(COUNT(*) AS BIGINT) AS v
      |  FROM toks GROUP BY p, w),
      |parts AS (SELECT p, CAST(SUM(v) AS BIGINT) AS pt FROM cells GROUP BY p),
      |nt AS (SELECT CAST(SUM(pt) AS BIGINT) AS n FROM parts),
      |top AS (SELECT w, CAST(SUM(v) AS BIGINT) AS f FROM cells
      |  GROUP BY w ORDER BY f DESC, w LIMIT 20),
      |grid AS (SELECT parts.p, parts.pt, top.w, top.f,
      |    COALESCE(cells.v, 0) AS v
      |  FROM parts CROSS JOIN top
      |  LEFT JOIN cells ON cells.p = parts.p AND cells.w = top.w),
      |terms AS (SELECT w, f,
      |    CAST(abs(CAST(v AS DOUBLE) / CAST(f AS DOUBLE)
      |      - CAST(pt AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM nt))
      |      AS DECIMAL(38,12)) AS term
      |  FROM grid)
      |SELECT w AS word, f AS freq,
      |  round(CAST(SUM(term) AS DOUBLE) / 2.0, 6) AS dp
      |FROM terms GROUP BY w, f ORDER BY dp DESC, word""".stripMargin

  /** ARCH-effect (volatility clustering) read: Ljung–Box applied to
    * SQUARED detrended hourly-revenue increments — Engle's LM test in
    * its portmanteau form, composed from the gated q344 machinery over
    * the squared series (dollar-scaled so the decimal ledgers keep
    * exactness). A flat LB on the raw increments with a firing LB on
    * their squares is the volatility-clustering signature. */
  private def q413(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
    val w = Window.orderBy(col("t"))
    val sq = grid.withColumn("__p", lag(col("y"), 1).over(w))
      .filter(col("__p").isNotNull)
      // dollar-scaled |increments| (cents² would overflow the acf
      // ledger's DECIMAL(18,6)); abs BEFORE the integer division so
      // Spark's truncating div and DuckDB's flooring // agree
      .select(col("t"), expr("abs(y - __p) div 100").as("da"))
      .select(col("t"), (col("da") * col("da")).as("d2"))
    graft.operators.Autocorr.ljungBox(sq, "t", "d2", maxLag = 8)
  }


  private val q413Sql =
    """WITH g0 AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |dd AS (SELECT t, abs(y - lag(y) OVER (ORDER BY t)) // 100 AS da
      |  FROM g0),
      |g AS (SELECT t, CAST(da * da AS DECIMAL(18,6)) AS y FROM dd
      |  WHERE da IS NOT NULL),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
      |idx AS (SELECT t, y, row_number() OVER (ORDER BY t) AS rn FROM g),
      |tot AS (SELECT CAST(SUM(y) AS DECIMAL(28,6)) AS s FROM idx),
      |c AS (
      |  SELECT rn,
      |    CAST(CAST(CAST(y * nn.n AS DECIMAL(28,6)) - tot.s AS VARCHAR)
      |      AS DOUBLE) AS cy
      |  FROM idx, nn, tot),
      |lags AS (SELECT unnest(range(0, 9)) AS lag),
      |pairs AS (
      |  SELECT lags.lag, a.rn, a.cy * b.cy AS term
      |  FROM c a JOIN lags ON true
      |  JOIN c b ON b.rn = a.rn + lags.lag),
      |agg AS (
      |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(term ORDER BY rn)), (x, z) -> x + z) AS num
      |  FROM pairs GROUP BY lag),
      |den AS (SELECT num AS d FROM agg WHERE lag = 0),
      |rho AS (
      |  SELECT CAST(agg.lag AS BIGINT) AS lag,
      |    round(agg.num / den.d, 6) AS acf
      |  FROM agg, den WHERE agg.lag >= 1),
      |q AS (
      |  SELECT rho.lag, rho.acf,
      |    (CAST(nn.n AS DOUBLE) * CAST(nn.n + 2 AS DOUBLE))
      |      * SUM(rho.acf * rho.acf / CAST(nn.n - rho.lag AS DOUBLE))
      |        OVER (ORDER BY rho.lag
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ql
      |  FROM rho, nn)
      |SELECT lag, acf, round(ql, 6) AS q_lb, lag AS df
      |FROM q ORDER BY lag""".stripMargin


  /** Event-study profile of the q402 setting: the treated-control
    * purchase-value gap per day, re-indexed to the day-16
    * intervention — parallel trends made visible tick by tick, and
    * the effect's trajectory a pooled did averages away. */
  private def q414(s: SparkSession, d: String): DataFrame = {
    val rows = t(s, d, "events")
      .filter(col("event_type") === "purchase" &&
        col("ts").isNotNull && col("value").isNotNull)
      .select(round(col("value") * 100).cast("long").as("cents"),
        dayofmonth(col("ts")).cast("long").as("tick"),
        (col("user_id") % 2 === 1).as("treated"))
    graft.operators.Causal.eventStudy(rows, "cents", "tick",
      col("treated"), eventTick = 16L)
  }

  private val q414Sql =
    """WITH r AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
      |    CAST(day(ts) AS BIGINT) AS tick, user_id % 2 = 1 AS g
      |  FROM events WHERE event_type = 'purchase'
      |    AND ts IS NOT NULL AND value IS NOT NULL),
      |cells AS (SELECT tick, g, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(CAST(c AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS sy
      |  FROM r GROUP BY tick, g),
      |tt AS (SELECT tick, n AS n_t, CAST(sy AS DOUBLE) / n AS mt
      |  FROM cells WHERE g),
      |cc AS (SELECT tick, n AS n_c, CAST(sy AS DOUBLE) / n AS mc
      |  FROM cells WHERE NOT g)
      |SELECT tick - 16 AS rel_tick,
      |  COALESCE(n_t, 0) AS n_t, COALESCE(n_c, 0) AS n_c,
      |  floor(mt * 10000.0) / 10000.0 AS mean_t,
      |  floor(mc * 10000.0) / 10000.0 AS mean_c,
      |  floor((mt - mc) * 10000.0) / 10000.0 AS gap
      |FROM tt FULL JOIN cc USING (tick) ORDER BY rel_tick""".stripMargin

  /** Randomization-inference placebo test for the q402 DiD: the real
    * |did| ranked against 16 exact-arithmetic pseudo-assignments —
    * inference from the design, no variance formula. On randomized
    * synthetic data the honest p is large (the real split IS hash
    * noise); the gate verifies the whole rank machinery relationally. */
  private def q415(s: SparkSession, d: String): DataFrame = {
    // orders, not events: the placebo family needs enough UNITS that
    // 16 hash splits all populate (sf0.001 has only 15 event users but
    // 150 customers)
    val rows = t(s, d, "orders")
      .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_custkey").as("uid"),
        (col("o_custkey") % 2 === 1).as("treated"),
        (year(col("o_orderdate")) >= 1998).as("post"))
    graft.operators.Causal.placeboDid(rows, "cents", "uid",
      col("treated"), col("post"), k = 16)
  }

  private val q415Sql =
    """WITH r AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
      |    o_custkey AS u, o_custkey % 2 = 1 AS g0,
      |    year(o_orderdate) >= 1998 AS p
      |  FROM orders
      |  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
      |js AS (SELECT CAST(unnest(range(0, 17)) AS BIGINT) AS j),
      |fan AS (SELECT r.c, r.p, js.j,
      |    CASE WHEN js.j = 0 THEN r.g0 ELSE
      |      xor((((abs(u) % 2147483648) * 2654435761 + j * 2246822519)
      |            % 2147483648) * 1597334677 % 2147483648 >> 15,
      |          (((abs(u) % 2147483648) * 2654435761 + j * 2246822519)
      |            % 2147483648) * 1597334677 % 2147483648 >> 7) % 2 = 1
      |    END AS g
      |  FROM r CROSS JOIN js),
      |cells AS (SELECT j, g, p, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(CAST(c AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS sy
      |  FROM fan GROUP BY j, g, p),
      |dids AS (
      |  SELECT j,
      |    (MAX(CASE WHEN g AND p THEN CAST(sy AS DOUBLE) / n END)
      |     - MAX(CASE WHEN g AND NOT p THEN CAST(sy AS DOUBLE) / n END))
      |    - (MAX(CASE WHEN NOT g AND p THEN CAST(sy AS DOUBLE) / n END)
      |     - MAX(CASE WHEN NOT g AND NOT p THEN CAST(sy AS DOUBLE) / n END))
      |      AS did
      |  FROM cells GROUP BY j),
      |realv AS (SELECT did FROM dids WHERE j = 0),
      |pl AS (SELECT abs(did) AS ad FROM dids WHERE j >= 1),
      |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(SUM(CASE WHEN pl.ad >= abs(realv.did) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nge,
      |    MIN(ad) AS mn, MAX(ad) AS mx
      |  FROM pl CROSS JOIN realv),
      |med AS (SELECT ad AS md FROM pl ORDER BY ad LIMIT 1 OFFSET 8)
      |SELECT floor(realv.did * 10000.0) / 10000.0 AS did_real,
      |  CAST(stats.k AS INT) AS n_placebos, CAST(nge AS INT) AS n_ge_real,
      |  round((1.0 + nge) / (stats.k + 1), 6) AS p_value,
      |  floor(mn * 10000.0) / 10000.0 AS placebo_abs_min,
      |  floor(med.md * 10000.0) / 10000.0 AS placebo_abs_med,
      |  floor(mx * 10000.0) / 10000.0 AS placebo_abs_max
      |FROM realv CROSS JOIN stats CROSS JOIN med""".stripMargin


  /** Little's law audit over the sessionized event stream (q24's 6-h
    * rule): does "average concurrent sessions" (sampled at minute
    * boundaries) equal "arrival rate × mean session length" on this
    * corpus, and by how much do window edge effects pull them apart —
    * the sanity check behind every capacity dashboard that divides one
    * to forecast the other. */
  private def q416(s: SparkSession, d: String): DataFrame =
    graft.operators.Queueing.littleLaw(t(s, d, "events"), "user_id", "ts")

  private val q416Sql =
    """WITH ev AS (
      |  SELECT user_id AS u, epoch_us(ts) AS t FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |s0 AS (SELECT u, t,
      |    CASE WHEN lag(t) OVER (PARTITION BY u ORDER BY t) IS NULL
      |      OR t - lag(t) OVER (PARTITION BY u ORDER BY t) > 21600000000
      |      THEN 1 ELSE 0 END AS nw
      |  FROM ev),
      |s1 AS (SELECT u, t,
      |    SUM(nw) OVER (PARTITION BY u ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM s0),
      |ses AS (SELECT u, sid, MIN(t) AS st, MAX(t) AS en
      |  FROM s1 GROUP BY u, sid),
      |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(en - st) AS BIGINT) AS dur,
      |    CAST(SUM(en // 60000000 - st // 60000000) AS BIGINT) AS bnd,
      |    MIN(st) AS t0, MAX(en) AS t1
      |  FROM ses)
      |SELECT n AS n_sessions, (t1 - t0) // 1000000 AS span_sec,
      |  round(CAST(n AS DOUBLE) / (CAST(t1 - t0 AS DOUBLE) / 3.6e9), 6)
      |    AS lambda_per_hour,
      |  round(CAST(dur AS DOUBLE) / n / 1e6, 6) AS w_mean_sec,
      |  round(CAST(dur AS DOUBLE) / (t1 - t0), 6) AS l_identity,
      |  round(CAST(bnd AS DOUBLE) / (t1 // 60000000 - t0 // 60000000), 6)
      |    AS l_sampled,
      |  round((CAST(bnd AS DOUBLE) / (t1 // 60000000 - t0 // 60000000)
      |      - CAST(dur AS DOUBLE) / (t1 - t0))
      |    / (CAST(dur AS DOUBLE) / (t1 - t0)), 6) AS rel_gap
      |FROM agg""".stripMargin

  /** GPD peaks-over-threshold fit of the order-value tail (top 256
    * excesses): ξ decides heavy / exponential / finite-endpoint — the
    * tail CASE, where q359's Hill assumes heavy and reads only the
    * index. */
  private def q417(s: SparkSession, d: String): DataFrame = {
    val v = t(s, d, "orders")
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderkey"))
    graft.operators.Extremes.gpdMomentsFit(v, "cents", "o_orderkey", k = 256)
  }

  private val q417Sql =
    """WITH v AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |    o_orderkey AS id
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |top AS (SELECT v, row_number() OVER (ORDER BY v DESC, id) AS rn
      |  FROM v),
      |uu AS (SELECT v AS u FROM top WHERE rn = 257),
      |ex AS (SELECT top.v - uu.u AS e FROM top CROSS JOIN uu
      |  WHERE rn <= 256),
      |mm AS (SELECT
      |    CAST(SUM(CAST(e AS DECIMAL(38,0))) AS DOUBLE) / 256 AS m,
      |    CAST(SUM(CAST(e AS DECIMAL(38,0)) * e) AS DOUBLE) / 256 AS m2
      |  FROM ex)
      |SELECT (SELECT u FROM uu) AS threshold, CAST(256 AS BIGINT) AS k,
      |  floor(m * 10000.0) / 10000.0 AS mean_excess,
      |  round(0.5 * (1.0 - m * m / (m2 - m * m)), 6) AS xi_hat,
      |  floor((0.5 * m * (m * m / (m2 - m * m) + 1.0)) * 10000.0)
      |    / 10000.0 AS sigma_hat
      |FROM mm""".stripMargin


  /** Schema evolution under the driver's eye (S5's Delta-mergeSchema
    * face, previously spec-only): a batch carrying a NEW column
    * upserts into a cust-partitioned table — updated rows get values,
    * untouched partitions read back NULL under the widened committed
    * schema with NO rewrite (the manifest carries the schema; reads
    * never infer), and the same commit also lands fresh inserts. The
    * oracle replays create → evolve-upsert → read relationally.
    *
    * Partitioning is by a BOUNDED bucket (cust % 32), not raw cust —
    * the 100 TB rule that partition cardinality is a layout budget,
    * not a data property (raw-cust spray measured pathological at the
    * sf1 scale row: 15k one-file manifest partitions). */
  private def q418(s: SparkSession, d: String): DataFrame = {
    val store = new DocumentStore(s, Scratch.dir(s, "q418-store"))
    val base = t(s, d, "orders").filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        (col("o_custkey") % 32).as("bkt"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    store.create("ords", base, partitionCol = Some("bkt"))
    val src = t(s, d, "orders")
    val upd = src.filter(col("o_orderkey") % 14 === 0)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        (col("o_custkey") % 32).as("bkt"),
        (round(col("o_totalprice") * 100).cast("long") + 1).as("cents"),
        concat(lit("web-"), (col("o_custkey") % 3).cast("string"))
          .as("channel"))
    val ins = src.filter(col("o_orderkey") % 14 === 7)
      .select((col("o_orderkey") + 90000000L).as("k"),
        col("o_custkey").as("cust"), (col("o_custkey") % 32).as("bkt"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        concat(lit("web-"), (col("o_custkey") % 3).cast("string"))
          .as("channel"))
    store.upsert("ords", upd.unionByName(ins), keys = Seq("k"))
    store.read("ords")
      .select(col("k"), col("cust"), col("cents"), col("channel"))
      .orderBy(col("k"))
  }

  private val q418Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_custkey AS cust,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |upd AS (
      |  SELECT o_orderkey AS k, o_custkey AS cust,
      |    CAST(round(o_totalprice * 100) AS BIGINT) + 1 AS cents,
      |    'web-' || CAST(o_custkey % 3 AS VARCHAR) AS channel
      |  FROM orders WHERE o_orderkey % 14 = 0),
      |ins AS (
      |  SELECT o_orderkey + 90000000 AS k, o_custkey AS cust,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    'web-' || CAST(o_custkey % 3 AS VARCHAR) AS channel
      |  FROM orders WHERE o_orderkey % 14 = 7)
      |SELECT b.k, b.cust, b.cents, CAST(NULL AS VARCHAR) AS channel
      |FROM base b WHERE b.k NOT IN (SELECT k FROM upd)
      |UNION ALL SELECT k, cust, cents, channel FROM upd
      |UNION ALL SELECT k, cust, cents, channel FROM ins
      |ORDER BY k""".stripMargin

  override val queries: Seq[Q] = Seq(
    Q("q408_durbin_watson", q408, Some(q408Sql)),
    Q("q409_bass_fit", q409, Some(q409Sql)),
    Q("q410_price_index", q410, Some(q410Sql)),
    Q("q411_oaxaca_blinder", q411, Some(q411Sql)),
    Q("q412_word_dispersion", q412, Some(q412Sql)),
    Q("q413_arch_effect", q413, Some(q413Sql)),
    Q("q414_event_study", q414, Some(q414Sql)),
    Q("q415_placebo_did", q415, Some(q415Sql)),
    Q("q416_little_law", q416, Some(q416Sql)),
    Q("q417_gpd_tail", q417, Some(q417Sql)),
    Q("q418_schema_evolution", q418, Some(q418Sql)),

    Q("q401_variance_ratio", q401, Some(q401Sql)),
    Q("q402_diff_in_diff", q402, Some(q402Sql)),
    Q("q403_regression_discontinuity", q403, Some(q403Sql)),
    Q("q404_competing_risks", q404, Some(q404Sql)),
    Q("q405_keyness_g2", q405, Some(q405Sql)),
    Q("q407_lexical_concentration", q407, Some(q407Sql)))
}
