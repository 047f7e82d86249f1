package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.store.Scratch
import graft.operators.{Ablation, Autocorr, ChangePoint, Dependencies,
  Experiments, KAnonymity, Ordinal, RankTests, Sequences, Smoothing,
  TrendTests, Weighting}

/** Inference-and-trend audit operators, split out of [[AuditQueries]]
  * in round 17 (the file had grown past 2000 lines): rank/location
  * tests (Friedman, Yuen, runs), trend families (seasonal MK, Page,
  * group-sequential), autocorrelation (Ljung-Box, PACF, CCF), uplift
  * (Qini, Shapley), weighting (raking), funnel/gap timing, ablation and
  * liveness monitors. Same oracle discipline as the parent file. */
object AuditTrendQueries extends QuerySet {

  /** Funnel stage timing: quartiles of the per-user delay on each hop
    * of signup → view → click → purchase — finds the SLOW hop where
    * q282's counts only find the leaky one. */
  private def q351(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .filter(col("user_id").isNotNull)
    graft.operators.Funnel.stageTiming(ev, "user_id", "event_type",
      "ts", Seq("signup", "view", "click", "purchase"))
  }

  private val q351Sql =
    """WITH e AS (
      |  SELECT user_id AS u, event_type AS t, ts FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type IN ('signup', 'view', 'click', 'purchase')),
      |s0 AS (SELECT u, MIN(ts) AS t0 FROM e WHERE t = 'signup'
      |  GROUP BY u),
      |s1 AS (SELECT e.u, MIN(e.ts) AS t1 FROM e JOIN s0 ON e.u = s0.u
      |  WHERE e.t = 'view' AND e.ts > s0.t0 GROUP BY e.u),
      |s2 AS (SELECT e.u, MIN(e.ts) AS t2 FROM e JOIN s1 ON e.u = s1.u
      |  WHERE e.t = 'click' AND e.ts > s1.t1 GROUP BY e.u),
      |s3 AS (SELECT e.u, MIN(e.ts) AS t3 FROM e JOIN s2 ON e.u = s2.u
      |  WHERE e.t = 'purchase' AND e.ts > s2.t2 GROUP BY e.u),
      |d AS (
      |  SELECT 1 AS i, epoch_us(s1.t1) // 1000000
      |    - epoch_us(s0.t0) // 1000000 AS delta
      |  FROM s1 JOIN s0 ON s1.u = s0.u
      |  UNION ALL
      |  SELECT 2, epoch_us(s2.t2) // 1000000
      |    - epoch_us(s1.t1) // 1000000
      |  FROM s2 JOIN s1 ON s2.u = s1.u
      |  UNION ALL
      |  SELECT 3, epoch_us(s3.t3) // 1000000
      |    - epoch_us(s2.t2) // 1000000
      |  FROM s3 JOIN s2 ON s3.u = s2.u),
      |census AS (SELECT i, delta, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM d GROUP BY i, delta),
      |cum AS (
      |  SELECT i, delta, c,
      |    CAST(SUM(c) OVER (PARTITION BY i ORDER BY delta
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cm
      |  FROM census),
      |n AS (SELECT i, CAST(SUM(c) AS BIGINT) AS n_users FROM census
      |  GROUP BY i)
      |SELECT CAST(cum.i AS BIGINT) AS step_idx,
      |  CASE cum.i WHEN 1 THEN 'signup' WHEN 2 THEN 'view'
      |    ELSE 'click' END AS stage_from,
      |  CASE cum.i WHEN 1 THEN 'view' WHEN 2 THEN 'click'
      |    ELSE 'purchase' END AS stage_to,
      |  n.n_users,
      |  MIN(CASE WHEN cum.cm * 4 >= n.n_users THEN cum.delta END)
      |    AS p25_s,
      |  MIN(CASE WHEN cum.cm * 2 >= n.n_users THEN cum.delta END)
      |    AS median_s,
      |  MIN(CASE WHEN cum.cm * 4 >= n.n_users * 3 THEN cum.delta END)
      |    AS p75_s
      |FROM cum JOIN n ON cum.i = n.i
      |GROUP BY cum.i, n.n_users
      |ORDER BY step_idx""".stripMargin

  /** Inter-event regularity bot audit: every tenth user is planted on
    * a metronomic 600-second schedule — the audit must flag exactly
    * that cohort (CV² = 0) while bursty humans stay clear. */
  private def q350(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id"))
    val ev = t(s, d, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("ts2",
        when(pmod(col("user_id"), lit(10L)) === 0,
          to_timestamp(col("__rn").cast("long") * 600))
          .otherwise(col("ts")))
    graft.operators.Sequences.gapRegularity(ev, "user_id", "ts2",
      minGaps = 10, cvThreshold = 0.3, k = 50)
  }

  private val q350Sql =
    """WITH ev AS (
      |  SELECT user_id,
      |    CASE WHEN ((user_id % 10) + 10) % 10 = 0
      |      THEN CAST(row_number() OVER (PARTITION BY user_id
      |        ORDER BY event_id) AS BIGINT) * 600
      |      ELSE epoch_us(ts) // 1000000 END AS s
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |gaps AS (
      |  SELECT user_id AS u,
      |    s - lag(s) OVER (PARTITION BY user_id ORDER BY s) AS gap
      |  FROM ev),
      |pu AS (
      |  SELECT u, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |    CAST(SUM(gap) AS BIGINT) AS s1,
      |    CAST(SUM(gap * gap) AS BIGINT) AS s2
      |  FROM gaps WHERE gap IS NOT NULL GROUP BY u),
      |ev2 AS (
      |  SELECT u, n_gaps, s1,
      |    CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)
      |      / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) - 1.0 AS cv2
      |  FROM pu WHERE n_gaps >= 10 AND s1 > 0),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ne,
      |  CAST(SUM(CASE WHEN cv2 < 0.3 * 0.3 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS nf
      |  FROM ev2)
      |SELECT ev2.u AS user_id, ev2.n_gaps, ev2.s1 AS sum_gap_s,
      |  round(ev2.cv2, 6) AS cv2, ev2.cv2 < 0.3 * 0.3 AS flagged,
      |  tot.ne AS n_evaluated, tot.nf AS n_flagged
      |FROM ev2, tot ORDER BY ev2.cv2, user_id LIMIT 50""".stripMargin

  /** Qini uplift curve: engagement score (clicks) as the targeting
    * signal, hash arms, purchase conversion — the incremental-value
    * eval q266's response gains cannot give. */
  private def q349(s: SparkSession, d: String): DataFrame = {
    val pu = t(s, d, "events")
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("score"),
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >
          0).as("conv"))
      .withColumn("arm",
        graft.operators.Splits.hashBucket(col("user_id"), 2))
    graft.operators.Uplift.qini(pu, "arm", "score", "conv")
  }

  private val q349Sql =
    """WITH pu AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS v,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
      |      AS y,
      |    CAST(((user_id % 2147483648) * 2654435761) % 4294967296 % 2
      |      AS INTEGER) AS g
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY user_id),
      |census AS (
      |  SELECT v,
      |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
      |    CAST(SUM(CASE WHEN g = 1 AND y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS xt,
      |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |    CAST(SUM(CASE WHEN g = 0 AND y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS xc
      |  FROM pu GROUP BY v),
      |cum AS (
      |  SELECT v,
      |    CAST(SUM(nt + nc) OVER w AS BIGINT) AS cn,
      |    CAST(SUM(nt) OVER w AS BIGINT) AS cnt,
      |    CAST(SUM(xt) OVER w AS BIGINT) AS cxt,
      |    CAST(SUM(nc) OVER w AS BIGINT) AS cnc,
      |    CAST(SUM(xc) OVER w AS BIGINT) AS cxc
      |  FROM census
      |  WINDOW w AS (ORDER BY v DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tot AS (SELECT CAST(SUM(nt + nc) AS BIGINT) AS n FROM census),
      |dec AS (SELECT unnest(range(1, 11)) AS d),
      |cuts AS (
      |  SELECT d, v, cn, cnt, cxt, cnc, cxc FROM (
      |    SELECT dec.d, cum.v, cum.cn, cum.cnt, cum.cxt, cum.cnc,
      |      cum.cxc,
      |      row_number() OVER (PARTITION BY dec.d ORDER BY cum.cn)
      |        AS rn
      |    FROM cum CROSS JOIN dec CROSS JOIN tot
      |    WHERE cum.cn * 10 >= dec.d * tot.n) x
      |  WHERE rn = 1),
      |q AS (
      |  SELECT d, v, cn, cnt, cxt, cnc, cxc,
      |    CASE WHEN cnc = 0 THEN CAST(cxt AS DOUBLE)
      |      ELSE CAST(cxt AS DOUBLE)
      |        - CAST(cxc AS DOUBLE) * CAST(cnt AS DOUBLE)
      |          / CAST(cnc AS DOUBLE) END AS q,
      |    CAST(cn AS DOUBLE) / CAST(tot.n AS DOUBLE) AS phi
      |  FROM cuts, tot),
      |seg AS (
      |  SELECT d, (COALESCE(lag(q) OVER (ORDER BY d), 0.0) + q) / 2.0
      |      * (phi - COALESCE(lag(phi) OVER (ORDER BY d), 0.0)) AS a
      |  FROM q),
      |coef AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(a ORDER BY d)), (p, r) -> p + r)
      |    - (SELECT q FROM q WHERE d = 10) / 2.0 AS qini
      |  FROM seg)
      |SELECT q.d AS decile, q.v AS score_cut, round(q.phi, 6) AS depth,
      |  q.cn AS n, q.cnt AS n_t, q.cxt AS x_t, q.cnc AS n_c,
      |  q.cxc AS x_c, round(q.q, 6) AS uplift,
      |  round(coef.qini, 6) AS qini_coef
      |FROM q, coef ORDER BY decile""".stripMargin

  /** Data-driven Shapley attribution over the four touch channels:
    * credit derived from observed conversion rates per exposure
    * coalition — the model-based companion to q316's positional
    * first/last/linear. Exposure window = days 1-2, conversion window
    * = days 1-4 (the windowing puts every coalition in evidence —
    * unwindowed, this corpus is dense and every user sits at the full
    * mask). */
  private def q348(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .filter(col("ts").isNotNull &&
        ((col("event_type") =!= "purchase" && dayofmonth(col("ts")) <= 2)
          || (col("event_type") === "purchase" &&
            dayofmonth(col("ts")) <= 4)))
    graft.operators.Attribution.shapley(ev, "user_id",
      "event_type", convChannel = "purchase",
      channels = Seq("click", "error", "signup", "view"))
  }

  private val q348Sql =
    """WITH ev AS (
      |  SELECT user_id AS u, event_type AS ch FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |    AND ts IS NOT NULL
      |    AND ((event_type <> 'purchase' AND day(ts) <= 2)
      |      OR (event_type = 'purchase' AND day(ts) <= 4))),
      |pu AS (
      |  SELECT u,
      |    bit_or(CASE ch WHEN 'click' THEN 1 WHEN 'error' THEN 2
      |      WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END) AS mask,
      |    MAX(CASE WHEN ch = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM ev GROUP BY u),
      |census AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(conv) AS BIGINT) AS x FROM pu GROUP BY mask),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nu FROM census),
      |masks AS (SELECT unnest(range(0, 16)) AS s),
      |chans AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
      |  ('signup', 4), ('view', 8)) v(channel, bit)),
      |terms AS (
      |  SELECT ch.channel, m.s,
      |    (CASE bit_count(m.s)
      |      WHEN 0 THEN CAST(6 AS DOUBLE) / CAST(24 AS DOUBLE)
      |      WHEN 1 THEN CAST(2 AS DOUBLE) / CAST(24 AS DOUBLE)
      |      WHEN 2 THEN CAST(2 AS DOUBLE) / CAST(24 AS DOUBLE)
      |      ELSE CAST(6 AS DOUBLE) / CAST(24 AS DOUBLE) END)
      |    * (COALESCE(CAST(c1.x AS DOUBLE) / c1.n, 0.0)
      |      - COALESCE(CAST(c0.x AS DOUBLE) / c0.n, 0.0)) AS term
      |  FROM chans ch CROSS JOIN masks m
      |  LEFT JOIN census c0 ON c0.mask = m.s
      |  LEFT JOIN census c1 ON c1.mask = (m.s | ch.bit)
      |  WHERE (m.s & ch.bit) = 0),
      |phi AS (
      |  SELECT channel, list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list(term ORDER BY s)), (a, b) -> a + b) AS shapley
      |  FROM terms GROUP BY channel),
      |expo AS (
      |  SELECT ch.channel, CAST(SUM(census.n) AS BIGINT) AS ne,
      |    CAST(SUM(census.x) AS BIGINT) AS xe
      |  FROM chans ch JOIN census ON (census.mask & ch.bit) <> 0
      |  GROUP BY ch.channel),
      |vf AS (SELECT COALESCE(MAX(CAST(x AS DOUBLE) / n), 0.0) AS v
      |  FROM census WHERE mask = 15),
      |v0 AS (SELECT COALESCE(MAX(CAST(x AS DOUBLE) / n), 0.0) AS v
      |  FROM census WHERE mask = 0)
      |SELECT phi.channel, round(phi.shapley, 6) AS shapley,
      |  COALESCE(expo.ne, 0) AS n_exposed,
      |  COALESCE(expo.xe, 0) AS x_exposed,
      |  CASE WHEN COALESCE(expo.ne, 0) = 0 THEN NULL
      |    ELSE round(CAST(expo.xe AS DOUBLE) / expo.ne, 6) END
      |    AS rate_exposed,
      |  tot.nu AS n_units, CAST(4 AS BIGINT) AS k,
      |  round(vf.v, 6) AS v_full, round(v0.v, 6) AS v_empty
      |FROM phi LEFT JOIN expo ON phi.channel = expo.channel
      |CROSS JOIN tot CROSS JOIN vf CROSS JOIN v0
      |ORDER BY phi.channel""".stripMargin

  /** Streaming source-liveness monitor under the driver gate — the
    * eighth LedgerMonitor and the failure class the distribution
    * monitors are blind to: five micro-batches of typed events where
    * the 'error' feed is planted to go silent from batch 2; at
    * quietBatches = 2 it must alert at batches 3-4 while the live
    * feeds never do. */
  private def q347(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .filter(col("event_id") % 2 === 0 && col("event_type").isNotNull)
      // the planted outage: the error feed stops after batch 1
      .filter(!(col("event_type") === "error" &&
        col("event_id") % 10 >= 4))
      .select(col("event_id"), col("event_type"))
    val srcDir = Scratch.dir(s, "q347-src")
    val base = System.currentTimeMillis()
    Seq(0, 2, 4, 6, 8).zipWithIndex.foreach { case (r, i) =>
      Scratch.stage(ev.filter(col("event_id") % 10 === r).coalesce(1),
        srcDir, base + i * 1000L)
    }
    val store = new graft.store.DocumentStore(s, Scratch.dir(s, "q347-store"))
    val feed = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val qy = graft.streaming.LivenessMonitor.start(feed, store, "lledger",
      "lverdict", "event_type", quietBatches = 2,
      Scratch.dir(s, "q347-ckpt"))
    try qy.processAllAvailable() finally qy.stop()
    store.read("lverdict")
      .select(col("batch_id"), col("source"), col("n"),
        col("quiet_batches"), col("alert"))
      .orderBy(col("source"), col("batch_id"))
  }

  private val q347Sql =
    """WITH ev AS (
      |  SELECT (event_id % 10) // 2 AS b, event_type AS source
      |  FROM events
      |  WHERE event_id % 2 = 0 AND event_type IS NOT NULL
      |    AND NOT (event_type = 'error' AND event_id % 10 >= 4)),
      |led AS (
      |  SELECT b, source, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ev GROUP BY b, source),
      |batches AS (SELECT DISTINCT b FROM led),
      |sources AS (SELECT DISTINCT source FROM led),
      |filled AS (
      |  SELECT batches.b, sources.source, COALESCE(led.n, 0) AS n
      |  FROM sources CROSS JOIN batches
      |  LEFT JOIN led ON led.b = batches.b
      |    AND led.source = sources.source),
      |runs AS (
      |  SELECT b, source, n,
      |    row_number() OVER (PARTITION BY source ORDER BY b) AS rn,
      |    MAX(CASE WHEN n > 0 THEN row_number_w END)
      |      OVER (PARTITION BY source ORDER BY b
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS seen_rn
      |  FROM (SELECT *, row_number()
      |      OVER (PARTITION BY source ORDER BY b) AS row_number_w
      |    FROM filled) x)
      |SELECT CAST(b AS BIGINT) AS batch_id, source,
      |  CAST(n AS BIGINT) AS n,
      |  CAST(rn - seen_rn AS BIGINT) AS quiet_batches,
      |  (rn - seen_rn) >= 2 AS alert
      |FROM runs WHERE seen_rn IS NOT NULL
      |ORDER BY source, batch_id""".stripMargin

  /** Cross-correlation between hourly event volume and hourly revenue:
    * does activity LEAD spend (peak at positive lag), lag it, or move
    * coincident — the lead-lag read a single-series ACF cannot give. */
  private def q346(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(col("ts")) / 3600L).as("t"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100).cast("long")).as("y"))
    Autocorr.ccf(grid, "t", "x", "y", maxLag = 24)
  }

  private val q346Sql =
    """WITH g AS (
      |  SELECT epoch_us(ts) // 3600000000 AS t,
      |    CAST(COUNT(*) AS DECIMAL(18,6)) AS x,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DECIMAL(18,6))
      |      AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
      |idx AS (SELECT t, x, y, row_number() OVER (ORDER BY t) AS rn
      |  FROM g),
      |tot AS (SELECT CAST(SUM(x) AS DECIMAL(28,6)) AS sx,
      |  CAST(SUM(y) AS DECIMAL(28,6)) AS sy FROM idx),
      |c AS (
      |  SELECT rn,
      |    CAST(CAST(CAST(x * nn.n AS DECIMAL(28,6)) - tot.sx AS VARCHAR)
      |      AS DOUBLE) AS cx,
      |    CAST(CAST(CAST(y * nn.n AS DECIMAL(28,6)) - tot.sy AS VARCHAR)
      |      AS DOUBLE) AS cy
      |  FROM idx, nn, tot),
      |lags AS (SELECT unnest(range(-24, 25)) AS lag),
      |pairs AS (
      |  SELECT lags.lag, a.rn, a.cx * b.cy AS term
      |  FROM c a JOIN lags ON true
      |  JOIN c b ON b.rn = a.rn + lags.lag),
      |agg AS (
      |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(term ORDER BY rn)), (p, q) -> p + q) AS num
      |  FROM pairs GROUP BY lag),
      |sxx AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |  list(cx * cx ORDER BY rn)), (p, q) -> p + q) AS v FROM c),
      |syy AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |  list(cy * cy ORDER BY rn)), (p, q) -> p + q) AS v FROM c)
      |SELECT CAST(agg.lag AS BIGINT) AS lag, agg.n_pairs,
      |  round(agg.num / sqrt(sxx.v * syy.v), 6) AS ccf
      |FROM agg, sxx, syy ORDER BY lag""".stripMargin

  /** PACF of the hourly arrival series — where the partial
    * autocorrelation cuts off is the AR-order read the raw q296 ACF
    * (which decays forever under a daily cycle) cannot give. */
  private def q345(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events").filter(col("ts").isNotNull)
      .groupBy(floor(unix_timestamp(col("ts")) / 3600L).as("t"))
      .agg(count(lit(1)).cast("double").as("y"))
    Autocorr.pacf(grid, "t", "y", maxLag = 30)
  }

  private val q345Sql =
    """WITH RECURSIVE g AS (
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
      |lags AS (SELECT unnest(range(0, 31)) AS lag),
      |pairs AS (
      |  SELECT lags.lag, a.rn, a.cy * b.cy AS term
      |  FROM c a JOIN lags ON true
      |  JOIN c b ON b.rn = a.rn + lags.lag),
      |agg AS (
      |  SELECT lag,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(term ORDER BY rn)), (x, z) -> x + z) AS num
      |  FROM pairs GROUP BY lag),
      |den AS (SELECT num AS d FROM agg WHERE lag = 0),
      |rl AS (
      |  SELECT list(round(agg.num / den.d, 6) ORDER BY agg.lag) AS rho
      |  FROM agg, den WHERE agg.lag >= 1),
      |dl AS (
      |  SELECT 1 AS k, [rl.rho[1]] AS phi FROM rl
      |  UNION ALL
      |  SELECT dl.k + 1,
      |    list_append(
      |      list_transform(range(1, dl.k + 1), j -> dl.phi[j]
      |        - ((rl.rho[dl.k + 1]
      |            - list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |                list_transform(range(1, dl.k + 1),
      |                  i -> dl.phi[i] * rl.rho[dl.k + 1 - i])),
      |                (a, b) -> a + b))
      |          / (1.0 - list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |                list_transform(range(1, dl.k + 1),
      |                  i -> dl.phi[i] * rl.rho[i])),
      |                (a, b) -> a + b)))
      |          * dl.phi[dl.k + 1 - j]),
      |      (rl.rho[dl.k + 1]
      |          - list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |              list_transform(range(1, dl.k + 1),
      |                i -> dl.phi[i] * rl.rho[dl.k + 1 - i])),
      |              (a, b) -> a + b))
      |        / (1.0 - list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |              list_transform(range(1, dl.k + 1),
      |                i -> dl.phi[i] * rl.rho[i])),
      |              (a, b) -> a + b)))
      |  FROM dl, rl WHERE dl.k < 30)
      |SELECT CAST(dl.k AS BIGINT) AS lag, rl.rho[dl.k] AS acf,
      |  round(dl.phi[dl.k], 6) AS pacf
      |FROM dl, rl ORDER BY lag""".stripMargin

  /** Quality-filter ablation over a five-filter battery: per filter,
    * total vs UNIQUE failures (its marginal value — a filter whose
    * failures are all caught elsewhere is free to drop) plus the
    * survivor count, all off one mask census. */
  private def q342(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    Ablation.filterAblation(docs, Seq(
      "a_too_short" -> (col("n_chars") < 100),
      "b_too_long" -> (col("n_chars") > 450),
      "c_low_vowel" ->
        (regexp_count(lower(col("text")), lit("[aeiou]")) * 4 <
          length(col("text"))),
      "d_no_the" -> !col("text").contains(" the "),
      "e_digit_heavy" ->
        (regexp_count(col("text"), lit("[0-9]")) * 10 >
          length(col("text")))))
  }

  private val q342Sql =
    """WITH m AS (
      |  SELECT
      |    (CASE WHEN COALESCE(n_chars < 100, TRUE) THEN 1 ELSE 0 END)
      |    + (CASE WHEN COALESCE(n_chars > 450, TRUE) THEN 2 ELSE 0 END)
      |    + (CASE WHEN COALESCE(
      |        len(regexp_extract_all(lower(text), '[aeiou]')) * 4
      |          < length(text), TRUE) THEN 4 ELSE 0 END)
      |    + (CASE WHEN COALESCE(NOT contains(text, ' the '), TRUE)
      |        THEN 8 ELSE 0 END)
      |    + (CASE WHEN COALESCE(
      |        len(regexp_extract_all(text, '[0-9]')) * 10
      |          > length(text), TRUE) THEN 16 ELSE 0 END) AS mask
      |  FROM documents),
      |census AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS c FROM m
      |  GROUP BY mask),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nd,
      |  CAST(COALESCE(SUM(CASE WHEN mask = 0 THEN c END), 0) AS BIGINT)
      |    AS surv
      |  FROM census),
      |f AS (SELECT * FROM (VALUES ('a_too_short', 1), ('b_too_long', 2),
      |  ('c_low_vowel', 4), ('d_no_the', 8), ('e_digit_heavy', 16))
      |  v(filter, bit))
      |SELECT f.filter,
      |  CAST(COALESCE(SUM(CASE WHEN (census.mask & f.bit) <> 0
      |    THEN census.c END), 0) AS BIGINT) AS n_failing,
      |  CAST(COALESCE(SUM(CASE WHEN census.mask = f.bit
      |    THEN census.c END), 0) AS BIGINT) AS n_unique_failures,
      |  round(CAST(COALESCE(SUM(CASE WHEN (census.mask & f.bit) <> 0
      |      THEN census.c END), 0) AS DOUBLE)
      |    / CAST(tot.nd AS DOUBLE), 6) AS frac_failing,
      |  tot.nd AS n_docs, tot.surv AS n_survivors
      |FROM f CROSS JOIN census CROSS JOIN tot
      |GROUP BY f.filter, tot.nd, tot.surv
      |ORDER BY f.filter""".stripMargin

  /** Session gap-threshold sensitivity: session counts at four
    * candidate inactivity thresholds from ONE gap census — grounds
    * the q24/q119 sessionizers' magic 30 minutes. */
  private def q343(s: SparkSession, d: String): DataFrame =
    Sequences.gapSensitivity(t(s, d, "events"), "user_id", "ts",
      Seq(300L, 900L, 1800L, 3600L))

  private val q343Sql =
    """WITH ev AS (
      |  SELECT user_id AS u, epoch_us(ts) // 1000000 AS s
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |gaps AS (
      |  SELECT s - lag(s) OVER (PARTITION BY u ORDER BY s) AS gap
      |  FROM ev),
      |census AS (SELECT gap, CAST(COUNT(*) AS BIGINT) AS c FROM gaps
      |  GROUP BY gap),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS ne,
      |  CAST(COALESCE(SUM(CASE WHEN gap IS NULL THEN c END), 0)
      |    AS BIGINT) AS nu
      |  FROM census),
      |thr AS (SELECT * FROM (VALUES (CAST(300 AS BIGINT)), (900),
      |  (1800), (3600)) v(threshold_s))
      |SELECT thr.threshold_s, tot.nu AS n_users, tot.ne AS n_events,
      |  tot.nu + CAST(COALESCE(SUM(CASE WHEN census.gap > thr.threshold_s
      |    THEN census.c END), 0) AS BIGINT) AS n_sessions,
      |  round(CAST(tot.ne AS DOUBLE)
      |    / CAST(tot.nu + CAST(COALESCE(SUM(CASE WHEN
      |        census.gap > thr.threshold_s THEN census.c END), 0)
      |      AS BIGINT) AS DOUBLE), 6) AS events_per_session
      |FROM thr CROSS JOIN census CROSS JOIN tot
      |WHERE census.gap IS NOT NULL
      |GROUP BY thr.threshold_s, tot.nu, tot.ne
      |ORDER BY thr.threshold_s""".stripMargin

  /** Ljung-Box whiteness on the hourly arrival series — the scalar
    * verdict over q296's ACF trajectory (cumulative Q per lag). */
  private def q344(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events").filter(col("ts").isNotNull)
      .groupBy(floor(unix_timestamp(col("ts")) / 3600L).as("t"))
      .agg(count(lit(1)).cast("double").as("y"))
    Autocorr.ljungBox(grid, "t", "y", maxLag = 48)
  }

  private val q344Sql =
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

  /** O'Brien–Fleming group-sequential audit: five scheduled interim
    * looks (6-day windows) at the purchase-rate split between the two
    * user-hash arms — the classical fixed-looks peeking discipline
    * beside q312's anytime-valid monitor. */
  private def q341(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .select(pmod(col("user_id"), lit(2L)).as("arm"),
        (col("event_type") === "purchase").as("conv"),
        least(lit(5L), expr("(day(ts) - 1) div 6 + 1")).as("look"))
    Experiments.groupSequential(ev, "arm", "conv", "look", looks = 5)
  }

  private val q341Sql =
    """WITH ev AS (
      |  SELECT ((user_id % 2) + 2) % 2 AS arm,
      |    event_type = 'purchase' AS conv,
      |    least(5, (day(ts) - 1) // 6 + 1) AS look
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type IS NOT NULL),
      |grid AS (
      |  SELECT look,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS g0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS g1,
      |    CAST(SUM(CASE WHEN arm = 0 AND conv THEN 1 ELSE 0 END)
      |      AS BIGINT) AS s0,
      |    CAST(SUM(CASE WHEN arm = 1 AND conv THEN 1 ELSE 0 END)
      |      AS BIGINT) AS s1
      |  FROM ev GROUP BY look),
      |cum AS (
      |  SELECT look,
      |    CAST(SUM(g0) OVER w AS BIGINT) AS n0,
      |    CAST(SUM(g1) OVER w AS BIGINT) AS n1,
      |    CAST(SUM(s0) OVER w AS BIGINT) AS x0,
      |    CAST(SUM(s1) OVER w AS BIGINT) AS x1
      |  FROM grid
      |  WINDOW w AS (ORDER BY look
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT look, n0, n1, x0, x1,
      |  round(CAST(x0 AS DOUBLE) / n0, 6) AS rate0,
      |  round(CAST(x1 AS DOUBLE) / n1, 6) AS rate1,
      |  round((CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
      |    / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 / n0 + 1.0 / n1)), 6) AS z,
      |  round(2.0401 * sqrt(5.0 / CAST(look AS DOUBLE)), 6) AS boundary,
      |  abs((CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
      |    / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 / n0 + 1.0 / n1)))
      |    > 2.0401 * sqrt(5.0 / CAST(look AS DOUBLE)) AS crossed
      |FROM cum ORDER BY look""".stripMargin

  /** Yuen's 20%-trimmed-means t-test: did purchases shift the SPEND
    * LEVEL against clicks — keeps the cents scale q318's rank test
    * discards, robust to the heavy tail a plain t-test drowns in. */
  private def q340(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .filter(col("event_type").isin("purchase", "click") &&
        col("value").isNotNull)
      .select(when(col("event_type") === "purchase", 1).otherwise(0)
          .cast("int").as("g"),
        round(col("value") * 100).cast("long").as("v"))
    Experiments.yuen(ev, "g", "v", trimNum = 1, trimDen = 5)
  }

  private val q340Sql =
    """WITH r AS (
      |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
      |    CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events
      |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
      |cells AS (
      |  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM r GROUP BY 1, 2),
      |cum AS (
      |  SELECT g, v, c,
      |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cm
      |  FROM cells),
      |pg AS (SELECT g, CAST(MAX(cm) AS BIGINT) AS n,
      |  CAST(MAX(cm) * 1 // 5 AS BIGINT) AS k FROM cum GROUP BY g),
      |bounds AS (
      |  SELECT cum.g, pg.n, pg.k,
      |    MIN(CASE WHEN cum.cm >= pg.k + 1 THEN cum.v END) AS lo,
      |    MIN(CASE WHEN cum.cm >= pg.n - pg.k THEN cum.v END) AS hi
      |  FROM cum JOIN pg ON cum.g = pg.g GROUP BY cum.g, pg.n, pg.k),
      |st AS (
      |  SELECT c2.g, b.n, b.k, b.n - 2 * b.k AS h,
      |    SUM(CAST(c2.c AS HUGEINT)
      |      * least(greatest(c2.v, b.lo), b.hi)) AS sw,
      |    SUM(CAST(c2.c AS HUGEINT)
      |      * least(greatest(c2.v, b.lo), b.hi)
      |      * least(greatest(c2.v, b.lo), b.hi)) AS sww,
      |    SUM(CAST(greatest(0, least(c2.cm, b.n - b.k)
      |      - greatest(c2.cm - c2.c + 1, b.k + 1) + 1) AS HUGEINT)
      |      * c2.v) AS ts
      |  FROM cum c2 JOIN bounds b ON c2.g = b.g
      |  GROUP BY c2.g, b.n, b.k),
      |arm AS (
      |  SELECT g, n, h,
      |    CAST(CAST(ts AS VARCHAR) AS DOUBLE) / CAST(h AS DOUBLE) AS tm,
      |    CAST(n - 1 AS DOUBLE)
      |      * (CAST(CAST(CAST(n AS HUGEINT) * sww - sw * sw AS VARCHAR)
      |          AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
      |      / (CAST(h AS DOUBLE) * CAST(h - 1 AS DOUBLE)) AS d
      |  FROM st),
      |fin AS (
      |  SELECT
      |    MAX(CASE WHEN g = 0 THEN n END) AS n0,
      |    MAX(CASE WHEN g = 1 THEN n END) AS n1,
      |    MAX(CASE WHEN g = 0 THEN h END) AS h0,
      |    MAX(CASE WHEN g = 1 THEN h END) AS h1,
      |    MAX(CASE WHEN g = 0 THEN tm END) AS tm0,
      |    MAX(CASE WHEN g = 1 THEN tm END) AS tm1,
      |    MAX(CASE WHEN g = 0 THEN d END) AS d0,
      |    MAX(CASE WHEN g = 1 THEN d END) AS d1
      |  FROM arm)
      |SELECT n0, n1, h0, h1,
      |  round(tm0, 6) AS tmean0, round(tm1, 6) AS tmean1,
      |  round(tm1 - tm0, 6) AS diff,
      |  round((tm1 - tm0) / sqrt(d0 + d1), 6) AS t,
      |  round((d0 + d1) * (d0 + d1)
      |    / (d0 * d0 / CAST(h0 - 1 AS DOUBLE)
      |      + d1 * d1 / CAST(h1 - 1 AS DOUBLE)), 6) AS df_welch
      |FROM fin""".stripMargin

  /** Raking (IPF): per-cell multipliers that balance the release on
    * lang AND source margins simultaneously — the two-axis move the
    * q97 single-key quota mix cannot express. 6 fixed iterations. */
  private def q339(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("lang").isNotNull && col("source").isNotNull)
    Weighting.raking(docs, "lang", "source", iterations = 6)
  }

  private val q339Sql = {
    // the ordered-fold sum both factor updates use (the q279
    // discipline): Σ over cells of n·<factor>, folded in key order
    def fold(term: String, orderBy: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list($term ORDER BY $orderBy)), (a, b) -> a + b)"
    val iters = (1 to 6).map { k =>
      val prevC = if (k == 1) "c0" else s"c${k - 1}"
      s"""r$k AS (
         |  SELECT census.r,
         |    tg.tr / ${fold(s"CAST(census.n AS DOUBLE) * $prevC.f",
        "census.c")} AS f
         |  FROM census JOIN $prevC ON census.c = $prevC.c CROSS JOIN tg
         |  GROUP BY census.r, tg.tr),
         |c$k AS (
         |  SELECT census.c,
         |    tg.tc / ${fold(s"CAST(census.n AS DOUBLE) * r$k.f",
        "census.r")} AS f
         |  FROM census JOIN r$k ON census.r = r$k.r CROSS JOIN tg
         |  GROUP BY census.c, tg.tc)""".stripMargin
    }.mkString(",\n")
    s"""WITH census AS (
       |  SELECT CAST(lang AS VARCHAR) AS r, CAST(source AS VARCHAR) AS c,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM documents
       |  WHERE lang IS NOT NULL AND source IS NOT NULL
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
       |  CAST(COUNT(DISTINCT r) AS BIGINT) AS nr,
       |  CAST(COUNT(DISTINCT c) AS BIGINT) AS nc FROM census),
       |tg AS (SELECT CAST(nn AS DOUBLE) / CAST(nr AS DOUBLE) AS tr,
       |  CAST(nn AS DOUBLE) / CAST(nc AS DOUBLE) AS tc FROM tot),
       |c0 AS (SELECT DISTINCT c, CAST(1 AS DOUBLE) AS f FROM census),
       |$iters,
       |mass AS (
       |  SELECT census.r,
       |    ${fold("CAST(census.n AS DOUBLE) * (r6.f * c6.f)",
      "census.c")} AS m
       |  FROM census JOIN r6 ON census.r = r6.r
       |  JOIN c6 ON census.c = c6.c
       |  GROUP BY census.r),
       |dev AS (SELECT MAX(abs(mass.m - tg.tr)) AS d FROM mass, tg)
       |SELECT census.r AS lang, census.c AS source, census.n,
       |  round(r6.f * c6.f, 6) AS multiplier,
       |  round(CAST(census.n AS DOUBLE) * (r6.f * c6.f), 6) AS weighted,
       |  round(dev.d, 6) AS max_row_dev
       |FROM census JOIN r6 ON census.r = r6.r
       |JOIN c6 ON census.c = c6.c CROSS JOIN dev
       |ORDER BY lang, source""".stripMargin
  }

  /** Seasonal Mann–Kendall over the hourly revenue series with
    * hour-of-day seasons — the trend readout q252's plain MK gets
    * wrong on a daily-cycled series (cross-phase pairs are pure
    * seasonality); per-season rows show which phase carries it. */
  private def q337(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      .withColumn("season", pmod(col("t"), lit(24L)))
    TrendTests.seasonalMannKendall(grid, "t", "y", "season")
  }

  private val q337Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |gs AS (SELECT t % 24 AS g, t, y FROM g),
      |sg AS (
      |  SELECT a.g,
      |    CAST(SUM(CASE WHEN b.y > a.y THEN 1
      |      WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
      |  FROM gs a JOIN gs b ON a.g = b.g AND a.t < b.t
      |  GROUP BY a.g),
      |ties AS (
      |  SELECT g, CAST(SUM(tg * (tg - 1) * (tg * 2 + 5)) AS BIGINT)
      |    AS tie_adj
      |  FROM (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS tg FROM gs
      |        GROUP BY g, y) x
      |  WHERE tg > 1 GROUP BY g),
      |perg AS (
      |  SELECT n.g, n.n, COALESCE(sg.s, 0) AS s,
      |    CAST(n.n * (n.n - 1) * (n.n * 2 + 5)
      |      - COALESCE(ties.tie_adj, 0) AS DOUBLE) / 18.0 AS var_s
      |  FROM (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM gs GROUP BY g)
      |    n
      |  LEFT JOIN sg ON n.g = sg.g
      |  LEFT JOIN ties ON n.g = ties.g),
      |tot AS (
      |  SELECT CAST(SUM(s) AS BIGINT) AS s_total,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(var_s ORDER BY g)), (a, b) -> a + b) AS var_total
      |  FROM perg)
      |SELECT perg.g AS season, perg.n, perg.s,
      |  round(perg.var_s, 6) AS var_s, tot.s_total,
      |  round(CASE WHEN tot.s_total > 0
      |      THEN CAST(tot.s_total - 1 AS DOUBLE) / sqrt(tot.var_total)
      |    WHEN tot.s_total < 0
      |      THEN CAST(tot.s_total + 1 AS DOUBLE) / sqrt(tot.var_total)
      |    ELSE 0.0 END, 6) AS z
      |FROM perg, tot ORDER BY season""".stripMargin

  /** Page's trend test: does per-user spend RANK increasingly across
    * the month's thirds — the ordered alternative the q335 omnibus
    * cannot see (the hypothesis IS the column order). */
  private def q338(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("value").isNotNull)
      .withColumn("__p",
        least(lit(2), floor((dayofmonth(col("ts")) - 1) / 10))
          .cast("int"))
      .withColumn("__c", round(col("value") * 100).cast("long"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(sum(when(col("__p") === 0, col("__c"))).as("p0_early"),
        sum(when(col("__p") === 1, col("__c"))).as("p1_mid"),
        sum(when(col("__p") === 2, col("__c"))).as("p2_late"))
    Experiments.pageTrend(perUser, Seq("p0_early", "p1_mid", "p2_late"))
  }

  private val q338Sql =
    """WITH ev AS (
      |  SELECT user_id,
      |    least(2, (day(ts) - 1) // 10) AS p,
      |    CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND value IS NOT NULL),
      |pu AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN p = 0 THEN c END) AS a,
      |    SUM(CASE WHEN p = 1 THEN c END) AS b,
      |    SUM(CASE WHEN p = 2 THEN c END) AS c2
      |  FROM ev GROUP BY user_id),
      |cc AS (SELECT * FROM pu
      |  WHERE a IS NOT NULL AND b IS NOT NULL AND c2 IS NOT NULL),
      |r AS (
      |  SELECT
      |    2 * ((CASE WHEN b < a THEN 1 ELSE 0 END)
      |       + (CASE WHEN c2 < a THEN 1 ELSE 0 END))
      |      + (CASE WHEN b = a THEN 1 ELSE 0 END)
      |      + (CASE WHEN c2 = a THEN 1 ELSE 0 END) + 2 AS ra,
      |    2 * ((CASE WHEN a < b THEN 1 ELSE 0 END)
      |       + (CASE WHEN c2 < b THEN 1 ELSE 0 END))
      |      + (CASE WHEN a = b THEN 1 ELSE 0 END)
      |      + (CASE WHEN c2 = b THEN 1 ELSE 0 END) + 2 AS rb,
      |    2 * ((CASE WHEN a < c2 THEN 1 ELSE 0 END)
      |       + (CASE WHEN b < c2 THEN 1 ELSE 0 END))
      |      + (CASE WHEN a = c2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN b = c2 THEN 1 ELSE 0 END) + 2 AS rc
      |  FROM cc),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(ra) AS BIGINT) AS r2a,
      |    CAST(SUM(rb) AS BIGINT) AS r2b,
      |    CAST(SUM(rc) AS BIGINT) AS r2c
      |  FROM r),
      |st AS (
      |  SELECT n, r2a, r2b, r2c,
      |    CAST(1 * r2a + 2 * r2b + 3 * r2c AS DOUBLE) / 2.0 AS l,
      |    CAST(n AS DOUBLE) * 3.0 * 16.0 / 4.0 AS el,
      |    CAST(n AS DOUBLE) * 9.0 * 4.0 * 8.0 / 144.0 AS varl
      |  FROM agg)
      |SELECT sys.position, sys.system, sys.r2 / 2.0 AS rank_sum,
      |  st.n, CAST(3 AS BIGINT) AS k, st.l,
      |  round((st.l - st.el) / sqrt(st.varl), 6) AS z
      |FROM st CROSS JOIN (
      |  SELECT CAST(1 AS BIGINT) AS position, 'p0_early' AS system,
      |    CAST((SELECT r2a FROM st) AS DOUBLE) AS r2
      |  UNION ALL SELECT 2, 'p1_mid', CAST((SELECT r2b FROM st) AS DOUBLE)
      |  UNION ALL SELECT 3, 'p2_late',
      |    CAST((SELECT r2c FROM st) AS DOUBLE)) sys
      |ORDER BY sys.position""".stripMargin

  /** Friedman test over three integer-scaled length heuristics ranked
    * within each document — the graded-outcome omnibus beside q324's
    * binary Cochran's Q (and the within-block rank analog of q319's
    * between-group Kruskal-Wallis). */
  private def q335(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("n_chars").cast("long").as("a_chars"),
        (regexp_count(lower(col("text")), lit("[aeiou]")) * 3)
          .cast("long").as("b_vowels"),
        (regexp_count(col("text"), lit(" ")) * 7)
          .cast("long").as("c_spaces"))
    Experiments.friedman(docs, Seq("a_chars", "b_vowels", "c_spaces"))
  }

  private val q335Sql =
    """WITH s AS (
      |  SELECT CAST(n_chars AS BIGINT) AS a,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiou]'))
      |      AS BIGINT) * 3 AS b,
      |    CAST(len(regexp_extract_all(text, ' ')) AS BIGINT) * 7 AS c
      |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |r AS (
      |  SELECT
      |    2 * ((CASE WHEN b < a THEN 1 ELSE 0 END)
      |       + (CASE WHEN c < a THEN 1 ELSE 0 END))
      |      + (CASE WHEN b = a THEN 1 ELSE 0 END)
      |      + (CASE WHEN c = a THEN 1 ELSE 0 END) + 2 AS ra,
      |    2 * ((CASE WHEN a < b THEN 1 ELSE 0 END)
      |       + (CASE WHEN c < b THEN 1 ELSE 0 END))
      |      + (CASE WHEN a = b THEN 1 ELSE 0 END)
      |      + (CASE WHEN c = b THEN 1 ELSE 0 END) + 2 AS rb,
      |    2 * ((CASE WHEN a < c THEN 1 ELSE 0 END)
      |       + (CASE WHEN b < c THEN 1 ELSE 0 END))
      |      + (CASE WHEN a = c THEN 1 ELSE 0 END)
      |      + (CASE WHEN b = c THEN 1 ELSE 0 END) + 2 AS rc
      |  FROM s),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(ra) AS BIGINT) AS r2a,
      |    CAST(SUM(rb) AS BIGINT) AS r2b,
      |    CAST(SUM(rc) AS BIGINT) AS r2c,
      |    CAST(SUM(CAST(ra AS HUGEINT) * ra + CAST(rb AS HUGEINT) * rb
      |      + CAST(rc AS HUGEINT) * rc) AS HUGEINT) AS s4
      |  FROM r),
      |chi AS (
      |  SELECT n, r2a, r2b, r2c,
      |    round(CAST(CAST(2 * (
      |        (CAST(r2a AS HUGEINT) - 4 * n) * (CAST(r2a AS HUGEINT) - 4 * n)
      |      + (CAST(r2b AS HUGEINT) - 4 * n) * (CAST(r2b AS HUGEINT) - 4 * n)
      |      + (CAST(r2c AS HUGEINT) - 4 * n) * (CAST(r2c AS HUGEINT) - 4 * n))
      |      AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(s4 - CAST(n AS HUGEINT) * 48 AS VARCHAR)
      |        AS DOUBLE), 6) AS chi2
      |  FROM agg)
      |SELECT sys.system,
      |  sys.r2 / 2.0 AS rank_sum,
      |  round(sys.r2 / (2.0 * CAST(chi.n AS DOUBLE)), 6) AS mean_rank,
      |  chi.n, CAST(3 AS BIGINT) AS k, chi.chi2 AS chi2_f,
      |  CAST(2 AS BIGINT) AS df
      |FROM chi CROSS JOIN (
      |  SELECT 'a_chars' AS system,
      |    CAST((SELECT r2a FROM chi) AS DOUBLE) AS r2
      |  UNION ALL SELECT 'b_vowels', CAST((SELECT r2b FROM chi) AS DOUBLE)
      |  UNION ALL SELECT 'c_spaces', CAST((SELECT r2c FROM chi) AS DOUBLE)
      |  ) sys
      |ORDER BY sys.system""".stripMargin

  /** Runs test on the hourly revenue series about its exact median —
    * the exchangeability audit under q252's trend and q330's
    * changepoint: too few runs = regime persistence, too many =
    * oscillation. */
  private def q336(s: SparkSession, d: String): DataFrame = {
    val grid = t(s, d, "events")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("t"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
    TrendTests.runsTest(grid, "t", "y")
  }

  private val q336Sql =
    """WITH g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
      |      AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1),
      |s_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
      |census AS (SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c FROM g
      |  GROUP BY y),
      |cum AS (
      |  SELECT v, CAST(SUM(c) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cc
      |  FROM census),
      |med AS (SELECT MIN(v) AS m FROM cum, s_ WHERE cc * 2 >= s_.n),
      |signed AS (SELECT g.t, g.y > med.m AS s FROM g, med
      |  WHERE g.y <> med.m),
      |chg AS (
      |  SELECT s,
      |    CASE WHEN lag(s) OVER (ORDER BY t) IS NULL THEN 1
      |      WHEN lag(s) OVER (ORDER BY t) <> s THEN 1 ELSE 0 END AS c
      |  FROM signed),
      |agg AS (
      |  SELECT CAST(SUM(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN s THEN 0 ELSE 1 END) AS BIGINT) AS n2,
      |    CAST(SUM(c) AS BIGINT) AS runs
      |  FROM chg)
      |SELECT s_.n, med.m AS median, agg.n1 AS n_above, agg.n2 AS n_below,
      |  agg.runs,
      |  round(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0, 6)
      |    AS expected_runs,
      |  round((CAST(runs AS DOUBLE)
      |      - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))
      |    / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |      * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |        - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
      |      / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
      |        * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
      |        * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 1.0))), 6)
      |    AS z
      |FROM s_, med, agg""".stripMargin
  def queries: Seq[Q] = Seq(
    Q("q335_friedman", q335, Some(q335Sql)),
    Q("q336_runs_test", q336, Some(q336Sql)),
    Q("q337_seasonal_mk", q337, Some(q337Sql)),
    Q("q338_page_trend", q338, Some(q338Sql)),
    Q("q339_raking", q339, Some(q339Sql)),
    Q("q340_yuen", q340, Some(q340Sql)),
    Q("q341_group_sequential", q341, Some(q341Sql)),
    Q("q342_filter_ablation", q342, Some(q342Sql)),
    Q("q343_session_sensitivity", q343, Some(q343Sql)),
    Q("q344_ljung_box", q344, Some(q344Sql)),
    Q("q345_pacf", q345, Some(q345Sql)),
    Q("q346_ccf", q346, Some(q346Sql)),
    Q("q347_streaming_liveness", q347, Some(q347Sql)),
    Q("q348_shapley_attribution", q348, Some(q348Sql)),
    Q("q349_qini", q349, Some(q349Sql)),
    Q("q350_gap_regularity", q350, Some(q350Sql)),
    Q("q351_funnel_timing", q351, Some(q351Sql)))
}
