package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.store.Scratch
import graft.operators.{Anomaly, Benford, BradleyTerry, ChangePoint,
  Correlation, Drift, Experiments, FeatureSelect, Inequality, Isotonic,
  LiftCurve, NaiveBayes, Rake, Regression, Reliability, Sequences, Sharding,
  Spectral, Stump, TrendTests, VocabStats}

/** Round-13 experiment-analysis / audit extensions (q245–q255): score
  * calibration FIX (isotonic PAV), mutual-information feature
  * selection, CUPED variance-reduced A/B lift, Benford first-digit
  * fabrication audit, Krippendorff's α for incomplete annotation,
  * power-iteration top principal component, rendezvous sharding with
  * the grow-by-one placement audit, Mann–Kendall trend test,
  * Theil–Sen robust slope, difference-in-differences, and the
  * Simpson's-paradox stratification audit. House hash-parity rules
  * throughout (identical aliases, exact accumulation, total ORDER BY,
  * doubles only at the closing step). */
object ExperimentQueries extends QuerySet {

  /** Scored/labeled pairs shared by the calibration gates — the q224
    * construction: score = (cos(x, probe 0) + 1)/2, y = same label. */
  private def scored(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val probe = e.filter(col("vec_id") === 0).head()
    val pv = probe.getSeq[Float](1).toArray
    val plabel = probe.getInt(2)
    e.select(
      ((graft.functions.VectorFunctions.cosine_sim(col("embedding"), typedlit(pv))
        + 1.0) / 2.0).as("score"),
      (col("label") === plabel).as("y"))
  }

  /** Isotonic calibration of the q224 score — [[Isotonic.pavBinned]]
    * via the declarative minimax form; the oracle replays the
    * bins²-interval grid, which IS the PAV solution (Robertson et al.
    * 1988 §1.2 — spec-pinned equivalent in IsotonicSpec). */
  private def q245(s: SparkSession, d: String): DataFrame =
    Isotonic.pavBinned(scored(s, d), "score", "y", bins = 20)

  private val q245Sql =
    """WITH p AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pv,
      |             label AS pl FROM embeddings WHERE vec_id = 0),
      |scored AS (
      |  SELECT (list_cosine_similarity(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE)), p.pv) + 1.0) / 2.0 AS score,
      |    (label = p.pl) AS y
      |  FROM embeddings, p),
      |g AS (
      |  SELECT CAST(least(floor(score * 20), 19) AS INTEGER) AS bin,
      |    COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
      |  FROM scored GROUP BY bin),
      |cum AS (
      |  SELECT bin, n, pos,
      |    CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
      |    CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
      |  FROM g),
      |ivl AS (
      |  SELECT j.bin AS j, k.bin AS k,
      |    CAST(k.cp - j.cp + j.pos AS DOUBLE) /
      |      CAST(k.cn - j.cn + j.n AS DOUBLE) AS avg
      |  FROM cum j JOIN cum k ON j.bin <= k.bin),
      |mn AS (
      |  SELECT ivl.j, b.bin AS b, MIN(ivl.avg) AS m
      |  FROM ivl JOIN g b ON ivl.j <= b.bin AND ivl.k >= b.bin
      |  GROUP BY ivl.j, b.bin),
      |iso AS (SELECT b, MAX(m) AS iso FROM mn GROUP BY b)
      |SELECT g.bin, g.n, g.pos,
      |  CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE) AS rate, iso.iso
      |FROM g JOIN iso ON iso.b = g.bin
      |ORDER BY g.bin""".stripMargin

  /** Term↔label mutual information over the corpus —
    * [[FeatureSelect.mutualInfo]] against the is-English label; the
    * oracle replays the exact 2×2 counts and the fixed four-term MI
    * tree. */
  private def q246(s: SparkSession, d: String): DataFrame =
    FeatureSelect.mutualInfo(
      t(s, d, "documents").withColumn("is_en", col("lang") === "en"),
      "doc_id", "text", "is_en", topN = 200)

  private val q246Sql =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |lab AS (SELECT doc_id, (lang = 'en') AS y FROM documents),
      |tot AS (SELECT COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS ny FROM lab),
      |tf AS (
      |  SELECT t.term, COUNT(*) AS df,
      |    CAST(SUM(CASE WHEN lab.y THEN 1 ELSE 0 END) AS BIGINT) AS n11
      |  FROM toks t JOIN lab USING (doc_id) GROUP BY t.term),
      |top AS (SELECT * FROM tf ORDER BY df DESC, term LIMIT 200),
      |c AS (
      |  SELECT term, df, n11, tot.n, tot.ny,
      |    df - n11 AS n10, tot.ny - n11 AS n01,
      |    tot.n - df - tot.ny + n11 AS n00
      |  FROM top, tot)
      |SELECT term, df, n11,
      |  round(
      |    (CASE WHEN n11 > 0 THEN (CAST(n11 AS DOUBLE)/n)
      |       * ln(CAST(n11 AS DOUBLE)*n/(CAST(df AS DOUBLE)*ny)) ELSE 0.0 END)
      |  + (CASE WHEN n10 > 0 THEN (CAST(n10 AS DOUBLE)/n)
      |       * ln(CAST(n10 AS DOUBLE)*n/(CAST(df AS DOUBLE)*(n-ny))) ELSE 0.0 END)
      |  + (CASE WHEN n01 > 0 THEN (CAST(n01 AS DOUBLE)/n)
      |       * ln(CAST(n01 AS DOUBLE)*n/(CAST(n-df AS DOUBLE)*ny)) ELSE 0.0 END)
      |  + (CASE WHEN n00 > 0 THEN (CAST(n00 AS DOUBLE)/n)
      |       * ln(CAST(n00 AS DOUBLE)*n/(CAST(n-df AS DOUBLE)*(n-ny))) ELSE 0.0 END)
      |  , 6) AS mi
      |FROM c ORDER BY term""".stripMargin

  /** CUPED-adjusted A/B lift over the event log — per-user pre/post
    * value sums, hash-assigned arms, [[Experiments.cupedLift]]. The
    * oracle replays the exact decimal sufficient statistics and the
    * closing θ/means tree. */
  private def q247(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("ts").isNotNull)
    val cut = lit("2024-01-16").cast("timestamp")
    val perUser = ev.groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(col("ts") < cut,
          col("value").cast("decimal(18,6)"))), lit(0).cast("decimal(18,6)"))
          .cast("decimal(18,6)").as("x"),
        coalesce(sum(when(col("ts") >= cut,
          col("value").cast("decimal(18,6)"))), lit(0).cast("decimal(18,6)"))
          .cast("decimal(18,6)").as("y"))
      .withColumn("arm",
        graft.operators.Splits.hashBucket(col("user_id"), 2))
    Experiments.cupedLift(perUser, "x", "y", "arm")
  }

  private val q247Sql =
    """WITH per_user AS (
      |  SELECT user_id,
      |    CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
      |      THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DECIMAL(19,6)) AS x,
      |    CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
      |      THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DECIMAL(19,6)) AS y,
      |    CAST(((user_id % 2147483648) * 2654435761) % 4294967296 % 2
      |      AS INTEGER) AS arm
      |  FROM events WHERE ts IS NOT NULL
      |  GROUP BY user_id),
      |tot AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(x) AS DECIMAL(38,12)) AS sx,
      |    CAST(SUM(y) AS DECIMAL(38,12)) AS sy,
      |    CAST(SUM(x*y) AS DECIMAL(38,12)) AS sxy,
      |    CAST(SUM(x*x) AS DECIMAL(38,12)) AS sxx,
      |    CAST(SUM(y*y) AS DECIMAL(38,12)) AS syy
      |  FROM per_user),
      |th AS (
      |  SELECT n, sx,
      |    CAST(n * sxy - sx * sy AS DOUBLE)
      |      / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
      |    CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
      |      / (CAST(n * sxx - sx * sx AS DOUBLE)
      |         * CAST(n * syy - sy * sy AS DOUBLE)) AS var_reduction
      |  FROM tot),
      |arms AS (
      |  SELECT arm, COUNT(*) AS n_units,
      |    CAST(SUM(x) AS DECIMAL(38,12)) AS ax,
      |    CAST(SUM(y) AS DECIMAL(38,12)) AS ay
      |  FROM per_user GROUP BY arm)
      |SELECT arm, n_units,
      |  CAST(ax AS DOUBLE) / n_units AS mean_x,
      |  CAST(ay AS DOUBLE) / n_units AS mean_y,
      |  CAST(ay AS DOUBLE) / n_units
      |    - th.theta * (CAST(ax AS DOUBLE) / n_units
      |      - CAST(th.sx AS DOUBLE) / th.n) AS adj_mean_y,
      |  th.theta AS theta, th.var_reduction AS var_reduction
      |FROM arms, th ORDER BY arm""".stripMargin

  /** Benford first-digit audit of event values per type —
    * [[Benford.firstDigitAudit]]: integer digit extraction from exact
    * micro-units, spec-pinned expected probabilities, digit-ordered χ²
    * fold. */
  private def q248(s: SparkSession, d: String): DataFrame =
    Benford.firstDigitAudit(t(s, d, "events"), "event_type", "value")

  private val q248Sql = {
    val pList = Benford.P.mkString("[", ", ", "]")
    s"""WITH micro AS (
       |  SELECT event_type AS src,
       |    CAST(abs(CAST(value AS DECIMAL(18,6)) * 1000000)
       |      AS DECIMAL(38,0)) AS c
       |  FROM events WHERE value IS NOT NULL),
       |digits AS (
       |  SELECT src, CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS d
       |  FROM micro WHERE c >= 1),
       |obs AS (SELECT src, d, COUNT(*) AS o FROM digits GROUP BY src, d),
       |grid AS (
       |  SELECT s.src, dd.d, n.n, COALESCE(obs.o, 0) AS o
       |  FROM (SELECT DISTINCT src FROM digits) s
       |  CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS d) dd
       |  JOIN (SELECT src, COUNT(*) AS n FROM digits GROUP BY src) n USING (src)
       |  LEFT JOIN obs ON obs.src = s.src AND obs.d = dd.d),
       |chi AS (
       |  SELECT src, list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list((CAST(o AS DOUBLE) - n * ($pList)[d])
       |             * (CAST(o AS DOUBLE) - n * ($pList)[d])
       |             / (n * ($pList)[d]) ORDER BY d)),
       |    (a, b) -> a + b) AS chi2
       |  FROM grid GROUP BY src)
       |SELECT g.src, g.d, g.n, g.o,
       |  round(($pList)[g.d], 6) AS benford_p,
       |  round(CAST(g.o AS DOUBLE) / g.n, 6) AS obs_p,
       |  round(chi.chi2, 6) AS chi2
       |FROM grid g JOIN chi USING (src)
       |ORDER BY g.src, g.d""".stripMargin
  }

  /** Krippendorff's α over simulated incomplete annotation — 3 hashed
    * raters, 30% of (doc, rater) cells missing, 20% label corruption
    * (the q223 construction plus missingness — exactly the design
    * Fleiss κ's contract rejects). The oracle replays the exact
    * lcm-scaled rational form. */
  private def q249(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Splits.hashBucket
    val ratings = t(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0), lit(2))).as("rater"))
      .filter(hashBucket(col("doc_id") * 7 + col("rater"), 10) >= 3)
      .withColumn("label",
        when(hashBucket(col("doc_id") * 3 + col("rater"), 10) < 2, lit("zz"))
          .otherwise(col("lang")))
    graft.operators.Agreement.krippendorffAlpha(
      ratings, "doc_id", "rater", "label")
  }

  private val q249Sql =
    """WITH ratings AS (
      |  SELECT doc_id, r.r AS rater,
      |    CASE WHEN ((doc_id * 3 + r.r) % 2147483648) * 2654435761
      |           % 4294967296 % 10 < 2
      |      THEN 'zz' ELSE lang END AS label
      |  FROM documents CROSS JOIN (SELECT unnest([0,1,2]) AS r) r
      |  WHERE ((doc_id * 7 + r.r) % 2147483648) * 2654435761
      |          % 4294967296 % 10 >= 3),
      |cells AS (SELECT doc_id AS i, label AS j, COUNT(*) AS nij
      |          FROM ratings GROUP BY 1, 2),
      |units AS (
      |  SELECT i, CAST(SUM(nij) AS BIGINT) AS m,
      |    CAST(SUM(nij*nij) AS BIGINT) AS sq
      |  FROM cells GROUP BY i HAVING SUM(nij) >= 2),
      |dnum AS (SELECT CAST(SUM((2 // (m-1)) * (m*m - sq)) AS BIGINT) AS d
      |         FROM units),
      |nc AS (SELECT j, CAST(SUM(nij)*2 AS BIGINT) AS nc
      |       FROM cells JOIN units USING (i) GROUP BY j),
      |marg AS (SELECT CAST(SUM(nc) AS BIGINT) AS ns,
      |  CAST(SUM(nc*nc) AS BIGINT) AS snc2, COUNT(*) AS ncat FROM nc),
      |nu AS (SELECT COUNT(*) AS n_units FROM units)
      |SELECT nu.n_units, marg.ncat AS n_categories, ns // 2 AS n_ratings,
      |  CAST(2 AS BIGINT) AS scale, dnum.d AS d_num,
      |  1.0 - CAST((ns - 2) * dnum.d AS DOUBLE)
      |    / CAST(ns*ns - snc2 AS DOUBLE) AS alpha
      |FROM nu, marg, dnum""".stripMargin

  /** Top principal component of the embedding corpus by power
    * iteration — [[Spectral.topComponent]]; the oracle unrolls the 4
    * float32-rounded iterations as CTEs (the q33 k-means replay
    * discipline applied to the power method). */
  private def q250(s: SparkSession, d: String): DataFrame =
    Spectral.topComponent(t(s, d, "embeddings"), "embedding", iters = 4)

  private val q250Sql: String = {
    val dims = 64; val iters = 4
    def iterCte(i: Int): String = {
      val prev = s"v${i - 1}"
      s"""p$i AS (
         |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(list_zip(cent.cv, $prev.vl), z -> z[1] * z[2])),
         |    (a, b) -> a + b) AS proj, cent.cv
         |  FROM cent CROSS JOIN $prev),
         |w$i AS (
         |  SELECT i, SUM(cv[i + 1] * proj) AS w
         |  FROM p$i CROSS JOIN range($dims) t(i) GROUP BY i),
         |n$i AS (
         |  SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(wl, x -> x * x)), (a, b) -> a + b)) AS nrm, wl
         |  FROM (SELECT list(w ORDER BY i) AS wl FROM w$i)),
         |v$i AS (
         |  SELECT list_transform(wl,
         |      x -> CAST(CAST(x / nrm AS FLOAT) AS DOUBLE)) AS vl,
         |    nrm FROM n$i)""".stripMargin
    }
    s"""WITH raw AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
       |  FROM embeddings),
       |tot AS (SELECT COUNT(*) AS n FROM raw),
       |ms AS (SELECT i, SUM(ev[i + 1]) AS s
       |       FROM raw CROSS JOIN range($dims) t(i) GROUP BY i),
       |mu AS (SELECT list(CAST(CAST(s / tot.n AS FLOAT) AS DOUBLE) ORDER BY i)
       |         AS ml
       |       FROM ms, tot GROUP BY tot.n),
       |cent AS (SELECT list_transform(list_zip(raw.ev, mu.ml), z -> z[1] - z[2])
       |           AS cv
       |         FROM raw, mu),
       |v0 AS (SELECT list_transform(range(1, ${dims + 1}),
       |         x -> CAST(0.125 AS DOUBLE)) AS vl),
       |${(1 to iters).map(iterCte).mkString(",\n")},
       |pvx AS (SELECT t.i + 1 AS i, abs(vl[t.i + 1]) AS a
       |        FROM v$iters CROSS JOIN range($dims) t(i)),
       |pi AS (SELECT MIN(i) AS pi FROM pvx WHERE a = (SELECT MAX(a) FROM pvx)),
       |pvv AS (SELECT CASE WHEN vl[pi.pi] < 0
       |               THEN list_transform(vl, x -> -x) ELSE vl END AS vl, nrm
       |        FROM v$iters, pi),
       |sq AS (SELECT i, SUM(cv[i+1] * cv[i+1]) AS s
       |       FROM cent CROSS JOIN range($dims) t(i) GROUP BY i),
       |tv AS (SELECT CAST(CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |         list(s ORDER BY i)), (a, b) -> a + b) / tot.n AS FLOAT)
       |         AS DOUBLE) AS total_var
       |       FROM sq, tot GROUP BY tot.n)
       |SELECT t.i AS dim, mu.ml[t.i + 1] AS mu, pvv.vl[t.i + 1] AS loading,
       |  CAST(CAST(pvv.nrm / tot.n AS FLOAT) AS DOUBLE) AS eigval,
       |  tv.total_var,
       |  round(CAST(CAST(pvv.nrm / tot.n AS FLOAT) AS DOUBLE) / tv.total_var, 6)
       |    AS var_explained
       |FROM range($dims) t(i), mu, pvv, tot, tv
       |ORDER BY t.i""".stripMargin
  }

  /** Rendezvous placement of the document corpus over 8 shards with
    * the grow-to-9 movement audit — [[Sharding.shardAudit]]; the
    * oracle replays the two-round mix argmax (row_number form — set-
    * equal to the fold by definition of argmax with the same tie
    * rule). */
  private def q251(s: SparkSession, d: String): DataFrame =
    Sharding.shardAudit(t(s, d, "documents"), "doc_id", shards = 8)

  private val q251Sql =
    """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id IS NOT NULL),
      |sc AS (
      |  SELECT id, s.s,
      |    ((xor(((((id % 2147483648) + 2147483648) % 2147483648)
      |             * 2654435761) % 4294967296,
      |          (((s.s * 31 + 7) % 2147483648) * 2654435761) % 4294967296))
      |      % 2147483648) * 2654435761 % 4294967296 AS w
      |  FROM ids CROSS JOIN (SELECT unnest(range(9)) AS s) s),
      |a8 AS (SELECT id, s FROM (
      |  SELECT id, s, row_number() OVER
      |    (PARTITION BY id ORDER BY w DESC, s) AS rn
      |  FROM sc WHERE s < 8) WHERE rn = 1),
      |a9 AS (SELECT id, s FROM (
      |  SELECT id, s, row_number() OVER
      |    (PARTITION BY id ORDER BY w DESC, s) AS rn
      |  FROM sc) WHERE rn = 1),
      |per AS (
      |  SELECT a8.s AS shard, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN a9.s = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
      |  FROM a8 JOIN a9 USING (id) GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t, MAX(n) AS mx, COUNT(*) AS k
      |        FROM per)
      |SELECT shard, n, round(CAST(n AS DOUBLE) / t, 6) AS frac, n_moved,
      |  round(CAST(n_moved AS DOUBLE) / t, 6) AS moved_frac,
      |  round(CAST(mx AS DOUBLE) / t, 6) AS max_frac,
      |  round(CAST(mx AS DOUBLE) * k / t, 6) AS balance
      |FROM per, tot ORDER BY shard""".stripMargin

  /** The hourly event-value series both trend gates run on. */
  private def hourly(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").filter(col("ts").isNotNull)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(18,6)")).cast("decimal(38,6)")
        .as("v"))
      .select(floor(unix_timestamp(col("h")) / 3600).cast("long").as("t"),
        col("v"))

  private val hourlyCte =
    """g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS t,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS v
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1)""".stripMargin

  /** Mann–Kendall trend test over the hourly series —
    * [[TrendTests.mannKendall]]: exact integer S and tie table, one
    * closing double tree. */
  private def q252(s: SparkSession, d: String): DataFrame =
    TrendTests.mannKendall(hourly(s, d), "t", "v")

  private val q252Sql =
    s"""WITH $hourlyCte,
       |s AS (SELECT CAST(SUM(CASE WHEN b.v > a.v THEN 1
       |        WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
       |      FROM g a JOIN g b ON a.t < b.t),
       |ties AS (
       |  SELECT COUNT(*) AS n_tie_groups,
       |    CAST(COALESCE(SUM(tg*(tg-1)*(tg*2+5)), 0) AS BIGINT) AS tie_adj
       |  FROM (SELECT v, COUNT(*) AS tg FROM g GROUP BY v
       |        HAVING COUNT(*) > 1)),
       |n AS (SELECT COUNT(*) AS n FROM g)
       |SELECT n.n, s.s, ties.n_tie_groups, ties.tie_adj,
       |  CAST(n.n*(n.n-1)*(n.n*2+5) - ties.tie_adj AS DOUBLE) / 18.0 AS var_s,
       |  CASE WHEN s.s > 0 THEN CAST(s.s - 1 AS DOUBLE)
       |         / sqrt(CAST(n.n*(n.n-1)*(n.n*2+5) - ties.tie_adj AS DOUBLE) / 18.0)
       |       WHEN s.s < 0 THEN CAST(s.s + 1 AS DOUBLE)
       |         / sqrt(CAST(n.n*(n.n-1)*(n.n*2+5) - ties.tie_adj AS DOUBLE) / 18.0)
       |       ELSE 0.0 END AS z
       |FROM n, s, ties""".stripMargin

  /** Theil–Sen robust slope over the hourly series —
    * [[TrendTests.theilSen]] (two-phase exact-rank median); the
    * oracle's `median` is the same exact-middle definition. */
  private def q253(s: SparkSession, d: String): DataFrame =
    TrendTests.theilSen(hourly(s, d), "t", "v")

  private val q253Sql =
    s"""WITH $hourlyCte,
       |pr AS (SELECT CAST(b.v - a.v AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
       |         AS slope
       |       FROM g a JOIN g b ON a.t < b.t),
       |cnt AS (SELECT COUNT(*) AS p, (SELECT COUNT(*) FROM g) AS n FROM pr),
       |med AS (SELECT median(slope) AS slope FROM pr),
       |ic AS (SELECT median(CAST(g.v AS DOUBLE) - med.slope * CAST(g.t AS DOUBLE))
       |         AS intercept
       |       FROM g, med)
       |SELECT cnt.n, cnt.p AS n_pairs, med.slope, ic.intercept
       |FROM cnt, med, ic""".stripMargin

  /** Difference-in-differences over the event log — treated = hashed
    * user arm, post = second half of the window;
    * [[Experiments.diffInDiff]]. */
  private def q254(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("ts").isNotNull)
      .withColumn("treated",
        graft.operators.Splits.hashBucket(col("user_id"), 2) === 1)
      .withColumn("post", col("ts") >= lit("2024-01-16").cast("timestamp"))
    Experiments.diffInDiff(ev, "value", "treated", "post")
  }

  private val q254Sql =
    """WITH base AS (
      |  SELECT (((user_id % 2147483648) * 2654435761) % 4294967296 % 2 = 1)
      |      AS t,
      |    (ts >= TIMESTAMP '2024-01-16') AS p,
      |    CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |cells AS (
      |  SELECT t, p, COUNT(*) AS n, CAST(SUM(v) AS DECIMAL(38,12)) AS s
      |  FROM base GROUP BY t, p)
      |SELECT
      |  MAX(CASE WHEN t AND NOT p THEN n END) AS n_treat_pre,
      |  MAX(CASE WHEN t AND p THEN n END) AS n_treat_post,
      |  MAX(CASE WHEN NOT t AND NOT p THEN n END) AS n_ctrl_pre,
      |  MAX(CASE WHEN NOT t AND p THEN n END) AS n_ctrl_post,
      |  MAX(CASE WHEN t AND NOT p THEN CAST(s AS DOUBLE) / n END) AS treat_pre,
      |  MAX(CASE WHEN t AND p THEN CAST(s AS DOUBLE) / n END) AS treat_post,
      |  MAX(CASE WHEN NOT t AND NOT p THEN CAST(s AS DOUBLE) / n END) AS ctrl_pre,
      |  MAX(CASE WHEN NOT t AND p THEN CAST(s AS DOUBLE) / n END) AS ctrl_post,
      |  (MAX(CASE WHEN t AND p THEN CAST(s AS DOUBLE) / n END)
      |   - MAX(CASE WHEN t AND NOT p THEN CAST(s AS DOUBLE) / n END))
      |  - (MAX(CASE WHEN NOT t AND p THEN CAST(s AS DOUBLE) / n END)
      |     - MAX(CASE WHEN NOT t AND NOT p THEN CAST(s AS DOUBLE) / n END))
      |    AS did
      |FROM cells""".stripMargin

  /** Simpson's-paradox audit: high-value event rate by hashed arm,
    * stratified by event type vs pooled —
    * [[Experiments.simpsonAudit]]. */
  private def q255(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .withColumn("arm",
        graft.operators.Splits.hashBucket(col("user_id"), 2) === 1)
      .withColumn("hi", col("value") > 50.0)
    Experiments.simpsonAudit(ev, "event_type", "arm", "hi")
  }

  private val q255Sql =
    """WITH base AS (
      |  SELECT event_type AS stratum,
      |    (((user_id % 2147483648) * 2654435761) % 4294967296 % 2 = 1) AS a,
      |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS s
      |  FROM events WHERE value IS NOT NULL),
      |strata AS (
      |  SELECT stratum,
      |    CAST(SUM(CASE WHEN NOT a THEN 1 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN a THEN 1 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN NOT a THEN s END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN NOT a THEN 1 END) AS DOUBLE) AS rate0,
      |    CAST(SUM(CASE WHEN a THEN s END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN a THEN 1 END) AS DOUBLE) AS rate1
      |  FROM base GROUP BY stratum),
      |pooled AS (
      |  SELECT CAST(SUM(CASE WHEN a THEN s END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN a THEN 1 END) AS DOUBLE)
      |    - CAST(SUM(CASE WHEN NOT a THEN s END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN NOT a THEN 1 END) AS DOUBLE) AS pooled_diff
      |  FROM base)
      |SELECT stratum, n0, n1, rate0, rate1, rate1 - rate0 AS diff,
      |  pooled_diff,
      |  ((rate1 - rate0) IS NOT NULL AND
      |   (((rate1 - rate0) > 0 AND pooled_diff < 0)
      |    OR ((rate1 - rate0) < 0 AND pooled_diff > 0))) AS reversed
      |FROM strata, pooled ORDER BY stratum""".stripMargin


  /** CUSUM drift alarm over the hourly series — [[ChangePoint.cusum]]
    * calibrated on the first week; the oracle replays the exact
    * n_ref-scaled deviations and the cumsum-minus-running-min closed
    * form. */
  private def q256(s: SparkSession, d: String): DataFrame =
    ChangePoint.cusum(hourly(s, d), "t", "v", refLen = 168)

  private val q256Sql =
    s"""WITH $hourlyCte,
       |t0 AS (SELECT MIN(t) AS t0 FROM g),
       |ref AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(v) AS DECIMAL(38,6)) AS sv,
       |    CAST(SUM(v*v) AS DECIMAL(38,12)) AS svv
       |  FROM g, t0 WHERE t < t0.t0 + 168),
       |pins AS (
       |  SELECT n, sv,
       |    CAST(sqrt(CAST(n * svv - sv * sv AS DOUBLE)) / n * 0.5
       |      AS DECIMAL(38,6)) AS k,
       |    CAST(sqrt(CAST(n * svv - sv * sv AS DOUBLE)) / n * 5.0
       |      AS DECIMAL(38,6)) AS h
       |  FROM ref),
       |dev AS (
       |  SELECT g.t, g.v,
       |    CAST(g.v * pins.n - pins.sv - pins.k * pins.n AS DECIMAL(38,6)) AS d,
       |    pins.n AS nref, pins.h
       |  FROM g, pins, t0 WHERE g.t >= t0.t0 + 168),
       |cum AS (
       |  SELECT t, v, nref, h,
       |    CAST(SUM(d) OVER (ORDER BY t) AS DECIMAL(38,6)) AS c
       |  FROM dev),
       |s AS (
       |  SELECT t, v, nref, h,
       |    CAST(c - least(MIN(c) OVER (ORDER BY t), CAST(0 AS DECIMAL(38,6)))
       |      AS DECIMAL(38,6)) AS s
       |  FROM cum)
       |SELECT t, CAST(v AS DOUBLE) AS v, CAST(s AS DOUBLE) / nref AS cusum,
       |  (s > h * nref) AS alarm
       |FROM s ORDER BY t""".stripMargin

  /** The two-metric hourly grid (value mass vs event count) the
    * correlation gates run on. */
  private def hourly2(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").filter(col("ts").isNotNull)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(18,6)")).cast("decimal(38,6)")
        .as("x"), count(lit(1)).as("y"))
      .select(floor(unix_timestamp(col("h")) / 3600).cast("long").as("t"),
        col("x"), col("y"))

  private val hourly2Cte =
    """g AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS t,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS x,
      |    CAST(COUNT(*) AS DECIMAL(38,6)) AS y
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1)""".stripMargin

  /** Kendall τ-b between hourly value mass and event count —
    * [[Correlation.kendallTauB]]: exact BIGINT pair census, one
    * closing tree. */
  private def q257(s: SparkSession, d: String): DataFrame =
    Correlation.kendallTauB(hourly2(s, d), "t", "x", "y")

  private val q257Sql =
    s"""WITH $hourly2Cte,
       |p AS (
       |  SELECT COUNT(*) AS n_pairs,
       |    CAST(SUM(CASE WHEN (b.x > a.x AND b.y > a.y)
       |      OR (b.x < a.x AND b.y < a.y) THEN 1 ELSE 0 END) AS BIGINT) AS conc,
       |    CAST(SUM(CASE WHEN (b.x > a.x AND b.y < a.y)
       |      OR (b.x < a.x AND b.y > a.y) THEN 1 ELSE 0 END) AS BIGINT) AS disc,
       |    CAST(SUM(CASE WHEN b.x = a.x AND b.y <> a.y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ties_x,
       |    CAST(SUM(CASE WHEN b.y = a.y AND b.x <> a.x THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ties_y,
       |    CAST(SUM(CASE WHEN b.x = a.x AND b.y = a.y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ties_xy
       |  FROM g a JOIN g b ON a.t < b.t),
       |n AS (SELECT COUNT(*) AS n FROM g)
       |SELECT n.n, p.n_pairs, p.conc, p.disc, p.ties_x, p.ties_y, p.ties_xy,
       |  CASE WHEN p.n_pairs = p.ties_x + p.ties_xy
       |         OR p.n_pairs = p.ties_y + p.ties_xy THEN NULL
       |    ELSE CAST(p.conc - p.disc AS DOUBLE) /
       |      sqrt(CAST(p.n_pairs - p.ties_x - p.ties_xy AS DOUBLE)
       |        * CAST(p.n_pairs - p.ties_y - p.ties_xy AS DOUBLE)) END AS tau_b
       |FROM n, p""".stripMargin

  /** Spearman ρ over the same grid — [[Correlation.spearmanRho]]:
    * 2-scaled average ranks, six exact sums, one closing tree. */
  private def q258(s: SparkSession, d: String): DataFrame =
    Correlation.spearmanRho(hourly2(s, d), "t", "x", "y")

  private val q258Sql =
    s"""WITH $hourly2Cte,
       |r AS (
       |  SELECT CAST(2*rank() OVER (ORDER BY x)
       |      + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx,
       |    CAST(2*rank() OVER (ORDER BY y)
       |      + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry
       |  FROM g),
       |s AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(rx) AS BIGINT) AS sx,
       |    CAST(SUM(ry) AS BIGINT) AS sy, CAST(SUM(rx*ry) AS BIGINT) AS sxy,
       |    CAST(SUM(rx*rx) AS BIGINT) AS sxx, CAST(SUM(ry*ry) AS BIGINT) AS syy
       |  FROM r)
       |SELECT n,
       |  CASE WHEN n*sxx = sx*sx OR n*syy = sy*sy THEN NULL
       |    ELSE CAST(n*sxy - sx*sy AS DOUBLE) /
       |      sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
       |  END AS rho
       |FROM s""".stripMargin

  /** Stratified ATE over user-day units — covariate = morning value
    * (micro-units), outcome = afternoon value, arms hashed;
    * [[Experiments.stratifiedAte]] with exact quintile edges. */
  private def q259(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("ts").isNotNull)
    val perUnit = ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(
        coalesce(sum(when(hour(col("ts")) < 12,
            col("value").cast("decimal(18,6)"))) * 1000000, lit(0))
          .cast("long").as("x"),
        coalesce(sum(when(hour(col("ts")) >= 12,
            col("value").cast("decimal(18,6)"))), lit(0).cast("decimal(18,6)"))
          .cast("decimal(18,6)").as("y"))
      .withColumn("arm",
        graft.operators.Splits.hashBucket(col("user_id"), 2) === 1)
    Experiments.stratifiedAte(perUnit, "x", "arm", "y", strata = 5)
  }

  private val q259Sql =
    """WITH per_unit AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(COALESCE(SUM(CASE WHEN hour(ts) < 12
      |      THEN CAST(value AS DECIMAL(18,6)) END) * 1000000, 0) AS BIGINT) AS x,
      |    CAST(COALESCE(SUM(CASE WHEN hour(ts) >= 12
      |      THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DECIMAL(19,6)) AS y,
      |    (((user_id % 2147483648) * 2654435761) % 4294967296 % 2 = 1) AS a
      |  FROM events WHERE ts IS NOT NULL GROUP BY user_id, CAST(ts AS DATE)),
      |n AS (SELECT COUNT(*) AS n FROM per_unit),
      |ranked AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM per_unit),
      |edges AS (
      |  SELECT list(x ORDER BY k.k) AS es FROM (
      |    SELECT k.k, r.x FROM (SELECT unnest([1,2,3,4]) AS k) k
      |    JOIN n ON true JOIN ranked r ON r.rn = (k.k * n.n + 4) // 5) k),
      |strat AS (
      |  SELECT a, y,
      |    (CASE WHEN x > es[1] THEN 1 ELSE 0 END +
      |     CASE WHEN x > es[2] THEN 1 ELSE 0 END +
      |     CASE WHEN x > es[3] THEN 1 ELSE 0 END +
      |     CASE WHEN x > es[4] THEN 1 ELSE 0 END) AS stratum
      |  FROM per_unit, edges),
      |cells AS (
      |  SELECT stratum,
      |    CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN NOT a THEN y END) AS DECIMAL(38,12)) AS s0,
      |    CAST(SUM(CASE WHEN a THEN y END) AS DECIMAL(38,12)) AS s1
      |  FROM strat GROUP BY stratum),
      |per AS (
      |  SELECT stratum, n0, n1,
      |    CAST(s0 AS DOUBLE) / n0 AS mean0, CAST(s1 AS DOUBLE) / n1 AS mean1,
      |    CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0 AS diff
      |  FROM cells),
      |atec AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(CAST(n0 + n1 AS DOUBLE) * diff ORDER BY stratum)),
      |    (a, b) -> a + b) / n.n AS ate, n.n AS n
      |  FROM per, n GROUP BY n.n)
      |SELECT per.stratum, per.n0, per.n1, per.mean0, per.mean1, per.diff,
      |  atec.ate, atec.n
      |FROM per, atec ORDER BY per.stratum""".stripMargin

  /** RAKE keyphrases over the corpus — [[Rake.keywords]]; the oracle
    * replays the stopword runs, word degree/frequency, and the
    * position-ordered phrase-score folds. */
  private def q260(s: SparkSession, d: String): DataFrame =
    Rake.keywords(t(s, d, "documents"), "doc_id", "text",
      topN = 20, maxPhraseWords = 4)

  private val q260Sql = {
    val stoplist = Rake.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH cleaned AS (
       |  SELECT doc_id AS id,
       |    regexp_replace(lower(text), '[^a-z0-9 ]+', ' . ', 'g') AS ct
       |  FROM documents),
       |toks AS (
       |  SELECT id, t.i - 1 AS pos, t.w,
       |    (t.w = '' OR t.w = '.' OR list_contains($stoplist, t.w)) AS stop
       |  FROM cleaned,
       |    LATERAL (SELECT unnest(string_split(ct, ' ')) AS w,
       |        generate_subscripts(string_split(ct, ' '), 1) AS i) t),
       |runs AS (
       |  SELECT id, pos, w,
       |    CAST(SUM(CASE WHEN stop THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY id ORDER BY pos) AS BIGINT) AS run, stop
       |  FROM toks),
       |phrases AS (
       |  SELECT id, run, COUNT(*) AS len,
       |    string_agg(w, ' ' ORDER BY pos) AS phrase
       |  FROM runs WHERE NOT stop GROUP BY id, run
       |  HAVING COUNT(*) <= 4),
       |ws AS (
       |  SELECT w.w, COUNT(*) AS freq, CAST(SUM(p.len) AS BIGINT) AS deg
       |  FROM phrases p,
       |    LATERAL (SELECT unnest(string_split(p.phrase, ' ')) AS w) w
       |  GROUP BY w.w),
       |dp AS (
       |  SELECT phrase, MAX(len) AS n_words, COUNT(*) AS n_occurrences
       |  FROM phrases GROUP BY phrase),
       |sc AS (
       |  SELECT dp.phrase, dp.n_words, dp.n_occurrences,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(CAST(ws.deg AS DOUBLE) / CAST(ws.freq AS DOUBLE)
       |        ORDER BY t.i)), (a, b) -> a + b) AS pscore
       |  FROM dp, LATERAL (SELECT unnest(string_split(dp.phrase, ' ')) AS w,
       |      generate_subscripts(string_split(dp.phrase, ' '), 1) AS i) t
       |  JOIN ws ON ws.w = t.w
       |  GROUP BY dp.phrase, dp.n_words, dp.n_occurrences)
       |SELECT phrase, n_words, n_occurrences, round(pscore, 6) AS score
       |FROM sc ORDER BY round(pscore, 6) DESC, phrase LIMIT 20""".stripMargin
  }

  /** Streaming Benford monitor under the driver gate —
    * [[graft.streaming.BenfordMonitor]] (q248 made continuous): odd
    * events arrive as four deterministic micro-batches, batch 3's
    * values are replaced by a fabricated uniform-digit feed
    * ((1 + id mod 9)·111 — first digits exactly uniform), and exactly
    * that batch must alert on ITS OWN χ² while the cumulative columns
    * show the standing state dampening. */
  private def q261(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("event_id") % 2 === 1)
      .select(col("event_id"), lit("feed").as("src"),
        when(col("event_id") % 8 === 7,
          (col("event_id") % 9 + 1).cast("double") * 111.0)
          .otherwise(col("value")).as("v"))
    val srcDir = Scratch.dir(s, "q261-src")
    val base = System.currentTimeMillis()
    Seq(1, 3, 5, 7).zipWithIndex.foreach { case (r, i) =>
      Scratch.stage(ev.filter(col("event_id") % 8 === r).coalesce(1),
        srcDir, base + i * 1000L)
    }
    val store = new graft.store.DocumentStore(s,
      Scratch.dir(s, "q261-store"))
    val feed = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val qy = graft.streaming.BenfordMonitor.start(feed, store, "bledger",
      "bverdict", "src", "v",
      Scratch.dir(s, "q261-ckpt"),
      chiThreshold = 30.0, minN = 50L)
    try qy.processAllAvailable() finally qy.stop()
    store.read("bverdict")
      .select(col("batch_id"), col("src"), col("n_batch"), col("chi2_batch"),
        col("n_cum"), col("chi2_cum"), col("alert"))
      .orderBy(col("batch_id"))
  }

  private val q261Sql = {
    val pl = Benford.P.mkString("[", ", ", "]")
    s"""WITH str AS (
       |  SELECT (event_id % 8) // 2 AS b, 'feed' AS src,
       |    CASE WHEN event_id % 8 = 7 THEN (event_id % 9 + 1) * 111.0
       |         ELSE value END AS v
       |  FROM events WHERE event_id % 2 = 1),
       |micro AS (
       |  SELECT b, src,
       |    CAST(abs(CAST(v AS DECIMAL(18,6)) * 1000000) AS DECIMAL(38,0)) AS c
       |  FROM str WHERE v IS NOT NULL),
       |digits AS (
       |  SELECT b, src, CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS d
       |  FROM micro WHERE c >= 1),
       |obs AS (SELECT b, src, d, COUNT(*) AS o FROM digits GROUP BY 1, 2, 3),
       |bs AS (SELECT DISTINCT b FROM obs),
       |cum AS (
       |  SELECT bs.b, obs.src, obs.d, CAST(SUM(obs.o) AS BIGINT) AS o
       |  FROM bs JOIN obs ON obs.b <= bs.b GROUP BY bs.b, obs.src, obs.d),
       |chig AS (
       |  SELECT g.b, g.src, g.n, dd.d, COALESCE(obs.o, 0) AS o
       |  FROM (SELECT b, src, CAST(SUM(o) AS BIGINT) AS n FROM obs
       |        GROUP BY b, src) g
       |  CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS d) dd
       |  LEFT JOIN obs ON obs.b = g.b AND obs.src = g.src AND obs.d = dd.d),
       |chi2b AS (
       |  SELECT b, src, MAX(n) AS n_batch,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list((CAST(o AS DOUBLE) - n * ($pl)[d])
       |        * (CAST(o AS DOUBLE) - n * ($pl)[d]) / (n * ($pl)[d])
       |        ORDER BY d)), (a, c) -> a + c), 6) AS chi2_batch
       |  FROM chig GROUP BY b, src),
       |cumg AS (
       |  SELECT g.b, g.src, g.n, dd.d, COALESCE(cum.o, 0) AS o
       |  FROM (SELECT b, src, CAST(SUM(o) AS BIGINT) AS n FROM cum
       |        GROUP BY b, src) g
       |  CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS d) dd
       |  LEFT JOIN cum ON cum.b = g.b AND cum.src = g.src AND cum.d = dd.d),
       |chi2c AS (
       |  SELECT b, src, MAX(n) AS n_cum,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list((CAST(o AS DOUBLE) - n * ($pl)[d])
       |        * (CAST(o AS DOUBLE) - n * ($pl)[d]) / (n * ($pl)[d])
       |        ORDER BY d)), (a, c) -> a + c), 6) AS chi2_cum
       |  FROM cumg GROUP BY b, src)
       |SELECT CAST(chi2b.b AS BIGINT) AS batch_id, chi2b.src, chi2b.n_batch,
       |  chi2b.chi2_batch, chi2c.n_cum, chi2c.chi2_cum,
       |  (chi2b.n_batch >= 50 AND chi2b.chi2_batch > 30.0) AS alert
       |FROM chi2b JOIN chi2c ON chi2b.b = chi2c.b AND chi2b.src = chi2c.src
       |ORDER BY batch_id""".stripMargin
  }


  /** Two-feature OLS with the collinearity audit —
    * [[Regression.ols2]] on the classic lineitem shape
    * (extendedprice ~ quantity + discount); ten exact decimal
    * sufficient statistics, centered moments in the shared double
    * domain, Cramer closed form. */
  private def q262(s: SparkSession, d: String): DataFrame =
    Regression.ols2(t(s, d, "lineitem"), "l_extendedprice", "l_quantity",
      "l_discount")

  private val q262Sql =
    """WITH u AS (
      |  SELECT CAST(l_extendedprice AS DECIMAL(19,6)) AS y,
      |    CAST(l_quantity AS DECIMAL(19,6)) AS x1,
      |    CAST(l_discount AS DECIMAL(19,6)) AS x2
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      |    AND l_discount IS NOT NULL),
      |s AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(x1) AS DECIMAL(38,12)) AS s1,
      |    CAST(SUM(x2) AS DECIMAL(38,12)) AS s2,
      |    CAST(SUM(y) AS DECIMAL(38,12)) AS sy,
      |    CAST(SUM(x1*x1) AS DECIMAL(38,12)) AS s11,
      |    CAST(SUM(x2*x2) AS DECIMAL(38,12)) AS s22,
      |    CAST(SUM(x1*x2) AS DECIMAL(38,12)) AS s12,
      |    CAST(SUM(x1*y) AS DECIMAL(38,12)) AS s1y,
      |    CAST(SUM(x2*y) AS DECIMAL(38,12)) AS s2y,
      |    CAST(SUM(y*y) AS DECIMAL(38,12)) AS syy
      |  FROM u),
      |-- decimal->double via VARCHAR: DuckDB's direct cast double-rounds
      |-- (int128 -> double, then / 10^scale) and lands 1 ulp off the
      |-- correctly-rounded value Spark/Java produce; strtod is exact
      |sd AS (
      |  SELECT n,
      |    CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS d1,
      |    CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS d2,
      |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dy,
      |    CAST(CAST(s11 AS VARCHAR) AS DOUBLE) AS d11,
      |    CAST(CAST(s22 AS VARCHAR) AS DOUBLE) AS d22,
      |    CAST(CAST(s12 AS VARCHAR) AS DOUBLE) AS d12,
      |    CAST(CAST(s1y AS VARCHAR) AS DOUBLE) AS d1y,
      |    CAST(CAST(s2y AS VARCHAR) AS DOUBLE) AS d2y,
      |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dyy
      |  FROM s),
      |c AS (
      |  SELECT n,
      |    d11*n - d1*d1 AS c11,
      |    d22*n - d2*d2 AS c22,
      |    d12*n - d1*d2 AS c12,
      |    d1y*n - d1*dy AS c1y,
      |    d2y*n - d2*dy AS c2y,
      |    dyy*n - dy*dy AS cyy,
      |    d1, d2, dy
      |  FROM sd),
      |b AS (
      |  SELECT n, (c1y*c22 - c2y*c12)/(c11*c22 - c12*c12) AS b1,
      |    (c2y*c11 - c1y*c12)/(c11*c22 - c12*c12) AS b2,
      |    c12*c12/(c11*c22) AS r12sq, c1y, c2y, cyy, d1, d2, dy
      |  FROM c)
      |SELECT n, (dy - b1*d1 - b2*d2)/n AS b0, b1, b2,
      |  (b1*c1y + b2*c2y)/cyy AS r2, sqrt(r12sq) AS r12,
      |  1.0/(1.0-r12sq) AS vif
      |FROM b""".stripMargin

  /** Decision-stump training — [[Stump.train]] over (n_chars, token
    * count) against the is-English label: exact quantile-grid
    * candidates, one-scan exact cell table, the single-division h
    * criterion. The winning split is whatever best separates — the
    * gate pins that the TRAINED model replays exactly. */
  private def q263(s: SparkSession, d: String): DataFrame = {
    // spread BEFORE the tokenize: the compact documents parquet is one
    // input split, and every train job re-pays the regexp over it —
    // serialized on one core without this (the r18 q299 finding)
    val base = graft.operators.Spread.byKey(t(s, d, "documents"), "doc_id").select(
      col("n_chars").as("n_chars"),
      graft.functions.TextExpressions.alnum_run_count(lower(col("text")))
        .cast("long").as("n_tokens"), // compiled regexp_extract_all-count (r19)
      (col("lang") === "en").as("is_en"))
    Stump.train(base, Seq("n_chars", "n_tokens"), "is_en", thresholds = 16)
  }

  private val q263Sql =
    """WITH base AS (
      |  SELECT n_chars AS f1,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS f2,
      |    (lang = 'en') AS y
      |  FROM documents),
      |long AS (
      |  SELECT 'n_chars' AS feature, f1 AS x, y FROM base
      |  UNION ALL SELECT 'n_tokens', f2, y FROM base),
      |n AS (SELECT feature, COUNT(*) AS n FROM long GROUP BY feature),
      |cand AS (
      |  SELECT DISTINCT l.feature, r.x AS threshold FROM (
      |    SELECT feature, x, row_number() OVER
      |      (PARTITION BY feature ORDER BY x) AS rn FROM long) r
      |  JOIN n l ON l.feature = r.feature
      |  JOIN (SELECT unnest(range(1, 17)) AS k) k
      |    ON r.rn = (k.k * l.n + 16) // 17),
      |tot AS (SELECT feature, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
      |  FROM long GROUP BY feature),
      |cells AS (
      |  SELECT l.feature, c.threshold,
      |    CAST(SUM(CASE WHEN l.x <= c.threshold THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_left,
      |    CAST(SUM(CASE WHEN l.x <= c.threshold AND l.y THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos_left
      |  FROM long l JOIN cand c USING (feature)
      |  GROUP BY l.feature, c.threshold),
      |splits AS (
      |  SELECT c.feature, c.threshold, c.n_left, c.pos_left,
      |    t.n - c.n_left AS n_right, t.pos - c.pos_left AS pos_right, t.n
      |  FROM cells c JOIN tot t USING (feature)
      |  WHERE c.n_left > 0 AND t.n - c.n_left > 0),
      |h AS (
      |  SELECT *,
      |    CAST((pos_left*pos_left + (n_left-pos_left)*(n_left-pos_left))
      |        * n_right
      |      + (pos_right*pos_right + (n_right-pos_right)*(n_right-pos_right))
      |        * n_left AS DOUBLE)
      |      / CAST(n_left * n_right AS DOUBLE) AS h
      |  FROM splits)
      |SELECT feature, threshold, n_left, pos_left, n_right, pos_right,
      |  round((CAST(n AS DOUBLE) - h) / n, 6) AS gini
      |FROM h ORDER BY h DESC, feature, threshold LIMIT 1""".stripMargin

  /** Naive Bayes in the exact bits idiom — train on even doc_ids,
    * classify odd, emit the confusion matrix. The synthetic corpus is
    * vocabulary-shared by construction, so the matrix honestly shows
    * near-prior behavior at this SF — SEPARATION quality is proven on
    * a constructed separable corpus in NaiveBayesSpec; the gate pins
    * that the trained model and its decisions replay exactly. */
  private def q264(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val test = docs.filter(col("doc_id") % 2 === 1)
    val model = NaiveBayes.train(train, "doc_id", "text", "lang")
    NaiveBayes.predict(test, "doc_id", "text", model)
      .join(test.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  private val q264Sql =
    """WITH train AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
      |test AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
      |ttok AS (
      |  SELECT doc_id, lang AS c,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM train),
      |lik AS (SELECT c, term, COUNT(*) AS cnt FROM ttok GROUP BY c, term),
      |cls AS (
      |  SELECT t.c AS class, t.n_docs, COALESCE(l.tok, 0) AS tok FROM
      |    (SELECT lang AS c, COUNT(*) AS n_docs FROM train GROUP BY lang) t
      |  LEFT JOIN (SELECT c, CAST(SUM(cnt) AS BIGINT) AS tok FROM lik
      |             GROUP BY c) l ON l.c = t.c),
      |v AS (SELECT COUNT(DISTINCT term) AS v FROM lik),
      |ntr AS (SELECT COUNT(*) AS n FROM train),
      |stok AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM test),
      |pertok AS (
      |  SELECT s.doc_id, cls.class,
      |    CAST(SUM(length(bin(cls.tok + v.v))
      |      - length(bin(COALESCE(lik.cnt, 0) + 1))) AS BIGINT) AS tokbits
      |  FROM stok s CROSS JOIN cls CROSS JOIN v
      |  LEFT JOIN lik ON lik.c = cls.class AND lik.term = s.term
      |  GROUP BY s.doc_id, cls.class),
      |prior AS (
      |  SELECT class, CAST(length(bin(ntr.n)) - length(bin(n_docs)) AS BIGINT)
      |    AS pbits
      |  FROM cls, ntr),
      |allscore AS (
      |  SELECT t.doc_id, p.class, COALESCE(pt.tokbits, 0) + p.pbits AS bits
      |  FROM test t CROSS JOIN prior p
      |  LEFT JOIN pertok pt ON pt.doc_id = t.doc_id AND pt.class = p.class),
      |pred AS (
      |  SELECT doc_id, class AS predicted FROM (
      |    SELECT doc_id, class, row_number() OVER
      |      (PARTITION BY doc_id ORDER BY bits, class) AS rn
      |    FROM allscore) WHERE rn = 1)
      |SELECT t.lang, p.predicted, COUNT(*) AS n
      |FROM test t JOIN pred p USING (doc_id)
      |GROUP BY t.lang, p.predicted ORDER BY t.lang, p.predicted""".stripMargin

  /** Cronbach's α over four derived per-document quality items —
    * [[Reliability.cronbachAlpha]]: exact n²-scaled variances,
    * item-ordered fold. */
  private def q265(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val items = docs.select(col("doc_id").as("subj"),
        (col("n_chars").cast("decimal(18,6)") / 100).cast("decimal(18,6)")
          .as("len"),
        size(toks).cast("decimal(18,6)").as("toks"),
        size(array_distinct(toks)).cast("decimal(18,6)").as("uniq"),
        size(split(col("text"), " ")).cast("decimal(18,6)").as("lines"))
      .select(col("subj"), explode(array(
        struct(lit("len").as("item"), col("len").as("score")),
        struct(lit("toks").as("item"), col("toks").as("score")),
        struct(lit("uniq").as("item"), col("uniq").as("score")),
        struct(lit("lines").as("item"), col("lines").as("score"))))
        .as("__i"))
      .select(col("subj"), col("__i.item").as("item"),
        col("__i.score").as("score"))
    Reliability.cronbachAlpha(items, "subj", "item", "score")
  }

  private val q265Sql =
    """WITH items AS (
      |  SELECT doc_id AS s, i.i,
      |    CASE i.i
      |      WHEN 'len' THEN CAST(CAST(n_chars AS DECIMAL(18,6)) / 100
      |        AS DECIMAL(18,6))
      |      WHEN 'toks' THEN CAST(len(regexp_extract_all(lower(text),
      |        '[a-z0-9]+')) AS DECIMAL(18,6))
      |      WHEN 'uniq' THEN CAST(len(list_distinct(regexp_extract_all(
      |        lower(text), '[a-z0-9]+'))) AS DECIMAL(18,6))
      |      WHEN 'lines' THEN CAST(len(string_split(text, ' '))
      |        AS DECIMAL(18,6))
      |    END AS x
      |  FROM documents
      |  CROSS JOIN (SELECT unnest(['len','toks','uniq','lines']) AS i) i),
      |itemstats AS (
      |  SELECT i, COUNT(*) AS n, CAST(SUM(x) AS DECIMAL(38,6)) AS sx,
      |    CAST(SUM(x*x) AS DECIMAL(38,12)) AS sxx
      |  FROM items GROUP BY i),
      |iv AS (
      |  SELECT MAX(n) AS n, list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list(CAST(CAST(sxx AS VARCHAR) AS DOUBLE) * n
      |      - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
      |        * CAST(CAST(sx AS VARCHAR) AS DOUBLE)
      |      ORDER BY i)),
      |    (a, b) -> a + b) AS sum_item_var_n2
      |  FROM itemstats),
      |tv AS (
      |  SELECT CAST(CAST(stt AS VARCHAR) AS DOUBLE) * n2
      |    - CAST(CAST(st AS VARCHAR) AS DOUBLE)
      |      * CAST(CAST(st AS VARCHAR) AS DOUBLE)
      |    AS total_var_n2 FROM (
      |    SELECT COUNT(*) AS n2, CAST(SUM(t) AS DECIMAL(38,6)) AS st,
      |      CAST(SUM(t*t) AS DECIMAL(38,12)) AS stt
      |    FROM (SELECT s, CAST(SUM(x) AS DECIMAL(38,6)) AS t FROM items
      |          GROUP BY s)))
      |SELECT iv.n AS n_subjects, CAST(4 AS BIGINT) AS k_items,
      |  iv.sum_item_var_n2, tv.total_var_n2,
      |  (4.0/3.0) * (1.0 - iv.sum_item_var_n2 / tv.total_var_n2) AS alpha
      |FROM iv, tv""".stripMargin


  /** Cumulative gains/lift of the q224 score — [[LiftCurve.gainsTable]]
    * with deterministic (score desc, id) ranking; the oracle replays
    * the explicit-floor decile assignment and the grid cumulative. */
  private def q266(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val probe = e.filter(col("vec_id") === 0).head()
    val pv = probe.getSeq[Float](1).toArray
    val scored = e.select(col("vec_id"),
      ((graft.functions.VectorFunctions.cosine_sim(col("embedding"),
        typedlit(pv)) + 1.0) / 2.0).as("score"),
      (col("label") === probe.getInt(2)).as("y"))
    LiftCurve.gainsTable(scored, "vec_id", "score", "y")
  }

  private val q266Sql =
    """WITH p AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pv,
      |             label AS pl FROM embeddings WHERE vec_id = 0),
      |scored AS (
      |  SELECT vec_id,
      |    (list_cosine_similarity(list_transform(embedding,
      |       x -> CAST(x AS DOUBLE)), p.pv) + 1.0) / 2.0 AS score,
      |    (label = p.pl) AS y
      |  FROM embeddings, p),
      |n AS (SELECT COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos FROM scored),
      |ranked AS (
      |  SELECT y, row_number() OVER (ORDER BY score DESC, vec_id) AS rn
      |  FROM scored),
      |dec AS (
      |  SELECT CAST(floor((rn - 1) * 10.0 / n.n) AS INTEGER) AS decile,
      |    COUNT(*) AS n_d, CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS pos_d
      |  FROM ranked, n GROUP BY 1, n.n),
      |cum AS (
      |  SELECT decile, n_d, pos_d,
      |    CAST(SUM(n_d) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
      |    CAST(SUM(pos_d) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
      |  FROM dec)
      |SELECT decile, n_d AS n, pos_d AS pos,
      |  round(CAST(cum_pos AS DOUBLE) / (SELECT pos FROM n), 6) AS gain,
      |  round((CAST(cum_pos AS DOUBLE) / cum_n)
      |    / (CAST((SELECT pos FROM n) AS DOUBLE) / (SELECT n FROM n)), 6)
      |    AS lift
      |FROM cum ORDER BY decile""".stripMargin

  /** PSI drift between even/odd document lengths — [[Drift.psi]] with
    * reference-decile edges; per-bin attribution terms + the folded
    * index. */
  private def q267(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    Drift.psi(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "n_chars")
  }

  private val q267Sql =
    """WITH ref AS (SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 0),
      |cur AS (SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 1),
      |nr AS (SELECT COUNT(*) AS n FROM ref),
      |edges AS (
      |  SELECT list(v ORDER BY k.k) AS es FROM (
      |    SELECT k.k, r.v FROM (SELECT unnest(range(1, 10)) AS k) k
      |    JOIN nr ON true
      |    JOIN (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM ref) r
      |      ON r.rn = (k.k * nr.n + 9) // 10) k),
      |binify AS (
      |  SELECT 'ref' AS side, v FROM ref UNION ALL SELECT 'cur', v FROM cur),
      |binned AS (
      |  SELECT side,
      |    (CASE WHEN v > es[1] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[2] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[3] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[4] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[5] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[6] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[7] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[8] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[9] THEN 1 ELSE 0 END) AS bin
      |  FROM binify, edges),
      |cells AS (
      |  SELECT bin,
      |    CAST(SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_ref,
      |    CAST(SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_cur
      |  FROM binned GROUP BY bin),
      |tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
      |  CAST(SUM(n_cur) AS BIGINT) AS tc FROM cells),
      |terms AS (
      |  SELECT bin, n_ref, n_cur,
      |    (CAST(GREATEST(n_ref, 1) AS DOUBLE)/tr
      |      - CAST(GREATEST(n_cur, 1) AS DOUBLE)/tc)
      |      * ln((CAST(GREATEST(n_ref, 1) AS DOUBLE)/tr)
      |        / (CAST(GREATEST(n_cur, 1) AS DOUBLE)/tc)) AS term
      |  FROM cells, tot),
      |s AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |  list(term ORDER BY bin)), (a, b) -> a + b) AS psi FROM terms)
      |SELECT t.bin, t.n_ref, t.n_cur, round(t.term, 6) AS term,
      |  round(s.psi, 6) AS psi
      |FROM terms t, s ORDER BY t.bin""".stripMargin

  /** Length-2 sequential-pattern support over user event streams —
    * [[Sequences.sequenceSupport]]: occurrences vs sequence-containing
    * users, the GSP support measure q156's transition matrix cannot
    * express. */
  private def q268(s: SparkSession, d: String): DataFrame =
    Sequences.sequenceSupport(
      t(s, d, "events").filter(col("ts").isNotNull),
      Seq("user_id"), Seq("ts", "event_id"), "event_type")

  private val q268Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, ts, event_id FROM events
      |  WHERE ts IS NOT NULL),
      |pairs AS (
      |  SELECT user_id, event_type AS a,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS b
      |  FROM e),
      |big AS (SELECT user_id, a, b FROM pairs WHERE b IS NOT NULL)
      |SELECT a, b, COUNT(*) AS n_occurrences,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS support,
      |  round(CAST(COUNT(DISTINCT user_id) AS DOUBLE) /
      |    (SELECT COUNT(DISTINCT user_id) FROM e), 6) AS support_frac
      |FROM big GROUP BY a, b ORDER BY a, b""".stripMargin

  /** MAD robust outliers over event values — [[Anomaly.madOutliers]]:
    * exact doubled order statistics (med2/mad4), BIGINT-vs-one-double
    * fence. */
  private def q269(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("event_id"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long")
          .as("micro"))
    Anomaly.madOutliers(ev, "event_id", "micro")
  }

  private val q269Sql =
    """WITH v AS (
      |  SELECT event_id,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x
      |  FROM events WHERE value IS NOT NULL),
      |n AS (SELECT COUNT(*) AS n FROM v),
      |xr AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v),
      |-- med2 = x@r1 + x@r2 (r1 = r2 at odd n doubles the middle)
      |m2 AS (SELECT CAST(
      |    (SELECT x FROM xr, n WHERE rn = (n + 1) // 2)
      |  + (SELECT x FROM xr, n WHERE rn = n // 2 + 1) AS BIGINT) AS med2),
      |dev AS (SELECT event_id, x, abs(x * 2 - med2) AS dev2 FROM v, m2),
      |dr AS (SELECT dev2, row_number() OVER (ORDER BY dev2) AS rn FROM dev),
      |m4 AS (SELECT CAST(
      |    (SELECT dev2 FROM dr, n WHERE rn = (n + 1) // 2)
      |  + (SELECT dev2 FROM dr, n WHERE rn = n // 2 + 1) AS BIGINT) AS mad4)
      |SELECT d.event_id, d.x AS value,
      |  round((CAST(d.dev2 AS DOUBLE) / 2)
      |    / (1.482602218505602 * m4.mad4 / 4), 6) AS robust_z,
      |  m2.med2, m4.mad4, n.n
      |FROM dev d, m2, m4, n
      |WHERE CAST(d.dev2 AS DOUBLE) * 2 > 3.0 * 1.482602218505602 * m4.mad4
      |ORDER BY d.event_id""".stripMargin


  /** Bradley–Terry strengths from daily event-type tournaments — per
    * (user, day) the type with the larger exact value sum beats each
    * other present type (ties drop); [[BradleyTerry.fit]] runs 8
    * float32-rounded MM iterations on the bounded count matrix. The
    * oracle replays the counts and the unrolled iterations. */
  private def q270(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("ts").isNotNull)
    val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
      .agg(sum(col("value").cast("decimal(18,6)")).cast("decimal(38,6)")
        .as("v"))
    val a = daily.select(col("user_id").as("u"), col("day").as("dy"),
      col("event_type").as("wt"), col("v").as("wv"))
    val b = daily.select(col("user_id").as("u"), col("day").as("dy"),
      col("event_type").as("lt"), col("v").as("lv"))
    val pairs = a.join(b, Seq("u", "dy")).filter(col("wv") > col("lv"))
      .select(col("wt").as("winner"), col("lt").as("loser"))
    BradleyTerry.fit(pairs, "winner", "loser", iters = 8)
  }

  /** The shared Bradley–Terry oracle chain (counts + unrolled MM
    * iterations), MATERIALIZED throughout — DuckDB re-evaluates
    * non-materialized chained CTEs exponentially. */
  private def btCtes(iters: Int): String = {
    def iterCte(i: Int): String = {
      val prev = s"p${i - 1}"
      s"""d$i AS MATERIALIZED (
         |  SELECT nm.i,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(nm.m / ($prev.pl[nm.i] + $prev.pl[nm.j]) ORDER BY nm.j)),
         |      (a, b) -> a + b) AS den
         |  FROM nm, $prev GROUP BY nm.i),
         |r$i AS MATERIALIZED (
         |  SELECT it.idx,
         |    CASE WHEN d$i.den IS NULL OR d$i.den = 0 THEN 0.0
         |      ELSE it.wins / d$i.den END AS praw
         |  FROM it LEFT JOIN d$i ON d$i.i = it.idx),
         |z$i AS MATERIALIZED (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list(praw ORDER BY idx)), (a, b) -> a + b) AS z FROM r$i),
         |p$i AS MATERIALIZED (
         |  SELECT list(CAST(CAST(praw / z$i.z AS FLOAT) AS DOUBLE)
         |    ORDER BY idx) AS pl
         |  FROM r$i, z$i GROUP BY z$i.z)""".stripMargin
    }
    s"""WITH daily AS MATERIALIZED (
       |  SELECT user_id, CAST(ts AS DATE) AS dy, event_type,
       |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS v
       |  FROM events WHERE ts IS NOT NULL
       |  GROUP BY user_id, CAST(ts AS DATE), event_type),
       |pairs AS MATERIALIZED (
       |  SELECT a.event_type AS winner, b.event_type AS loser
       |  FROM daily a JOIN daily b
       |    ON a.user_id = b.user_id AND a.dy = b.dy AND a.v > b.v),
       |counts AS MATERIALIZED (SELECT winner, loser, COUNT(*) AS n
       |           FROM pairs GROUP BY winner, loser),
       |it AS MATERIALIZED (
       |  SELECT item, CAST(row_number() OVER (ORDER BY item) AS BIGINT)
       |      AS idx,
       |    CAST(COALESCE((SELECT SUM(n) FROM counts c WHERE c.winner = item),
       |      0) AS DOUBLE) AS wins,
       |    CAST(COALESCE((SELECT SUM(n) FROM counts c WHERE c.loser = item),
       |      0) AS BIGINT) AS losses
       |  FROM (SELECT DISTINCT winner AS item FROM counts
       |        UNION SELECT DISTINCT loser FROM counts)),
       |nm AS MATERIALIZED (
       |  SELECT wi.idx AS i, li.idx AS j,
       |    CAST(SUM(c.n) AS DOUBLE) AS m
       |  FROM (
       |    SELECT winner, loser, n FROM counts
       |    UNION ALL SELECT loser, winner, n FROM counts) c
       |  JOIN it wi ON wi.item = c.winner JOIN it li ON li.item = c.loser
       |  GROUP BY wi.idx, li.idx),
       |p0 AS MATERIALIZED (SELECT list(CAST(CAST(1.0 / (SELECT COUNT(*) FROM it) AS FLOAT)
       |  AS DOUBLE) ORDER BY idx) AS pl FROM it),
       |${(1 to iters).map(iterCte).mkString(",\n")}""".stripMargin
  }

  private val q270Sql: String = {
    val iters = 8
    s"""${btCtes(iters)},
       |ranked AS MATERIALIZED (
       |  SELECT it.item, CAST(it.wins AS BIGINT) AS wins, it.losses,
       |    p$iters.pl[it.idx] AS strength,
       |    CAST(row_number() OVER (ORDER BY p$iters.pl[it.idx] DESC, it.item)
       |      AS INTEGER) AS rank
       |  FROM it, p$iters)
       |SELECT item, wins, losses, strength, rank
       |FROM ranked ORDER BY item""".stripMargin
  }


  /** Bradley–Terry fit audit — [[BradleyTerry.fitAudit]] over the same
    * daily tournaments: per unordered pair observed vs fitted win
    * rates and the binomial deviance vs the saturated model — the
    * judge-intransitivity read on top of q270's leaderboard. */
  private def q271(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").filter(col("ts").isNotNull)
    val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"))
      .agg(sum(col("value").cast("decimal(18,6)")).cast("decimal(38,6)")
        .as("v"))
    val a = daily.select(col("user_id").as("u"), col("day").as("dy"),
      col("event_type").as("wt"), col("v").as("wv"))
    val b = daily.select(col("user_id").as("u"), col("day").as("dy"),
      col("event_type").as("lt"), col("v").as("lv"))
    val pairs = a.join(b, Seq("u", "dy")).filter(col("wv") > col("lv"))
      .select(col("wt").as("winner"), col("lt").as("loser"))
    BradleyTerry.fitAudit(pairs, "winner", "loser", iters = 8)
  }

  private val q271Sql: String = {
    val iters = 8
    s"""${btCtes(iters)},
       |up AS MATERIALIZED (
       |  SELECT LEAST(winner, loser) AS a, GREATEST(winner, loser) AS b
       |  FROM counts GROUP BY 1, 2),
       |cells AS MATERIALIZED (
       |  SELECT up.a, up.b,
       |    CAST(COALESCE((SELECT SUM(n) FROM counts
       |      WHERE winner = up.a AND loser = up.b), 0) AS BIGINT) AS nab,
       |    CAST(COALESCE((SELECT SUM(n) FROM counts
       |      WHERE winner = up.b AND loser = up.a), 0) AS BIGINT) AS nba
       |  FROM up),
       |dv AS MATERIALIZED (
       |  SELECT c.a, c.b, c.nab, c.nba,
       |    CAST(c.nab AS DOUBLE) / (c.nab + c.nba) AS obs,
       |    p$iters.pl[ia.idx] / (p$iters.pl[ia.idx] + p$iters.pl[ib.idx])
       |      AS fit
       |  FROM cells c JOIN it ia ON ia.item = c.a
       |  JOIN it ib ON ib.item = c.b, p$iters),
       |dd AS MATERIALIZED (
       |  SELECT a, b, nab, nba, obs, fit,
       |    -2.0 * ((CASE WHEN nab > 0 THEN nab * ln(fit) ELSE 0 END)
       |      + (CASE WHEN nba > 0 THEN nba * ln(1 - fit) ELSE 0 END)
       |      - (CASE WHEN nab > 0 THEN nab * ln(obs) ELSE 0 END)
       |      - (CASE WHEN nba > 0 THEN nba * ln(1 - obs) ELSE 0 END))
       |      AS dev
       |  FROM dv),
       |tt AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list(dev ORDER BY a, b)), (x, y) -> x + y) AS total FROM dd)
       |SELECT dd.a AS item_a, dd.b AS item_b, dd.nab AS n_ab,
       |  dd.nba AS n_ba, round(dd.obs, 6) AS obs_rate,
       |  round(dd.fit, 6) AS fit_rate, round(dd.dev, 6) AS deviance,
       |  round(tt.total, 6) AS total_deviance
       |FROM dd, tt ORDER BY dd.a, dd.b""".stripMargin
  }


  /** Streaming PSI monitor under the driver gate —
    * [[graft.streaming.PsiMonitor]] (q267 made continuous, the
    * BenfordMonitor ledger pattern): odd docs stream as four
    * micro-batches, batch 3's lengths are shifted +150 (the q208
    * planted feed); with decile bins over ~125-doc batches the PSI
    * noise floor sits near 0.3, so the gate alerts at 0.5 — exactly
    * the planted batch (0.84) crosses, the clean ones (≤0.34) do not.
    * The cumulative column shows the standing state. */
  private def q272(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
    val ref = docs.filter(col("doc_id") % 2 === 0)
      .select(col("n_chars").as("v"))
    val streamed = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"),
        when(col("doc_id") % 8 === 7, col("n_chars") + 150)
          .otherwise(col("n_chars")).as("v"))
    val srcDir = Scratch.dir(s, "q272-src")
    val base = System.currentTimeMillis()
    Seq(1, 3, 5, 7).zipWithIndex.foreach { case (r, i) =>
      Scratch.stage(streamed.filter(col("doc_id") % 8 === r).coalesce(1),
        srcDir, base + i * 1000L)
    }
    val store = new graft.store.DocumentStore(s,
      Scratch.dir(s, "q272-store"))
    val feed = s.readStream.schema(streamed.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val qy = graft.streaming.PsiMonitor.start(feed, store, "pledger",
      "pverdict", ref, "v",
      Scratch.dir(s, "q272-ckpt"),
      bins = 10, alertAbove = 0.5)
    try qy.processAllAvailable() finally qy.stop()
    store.read("pverdict")
      .select(col("batch_id"), col("n_batch"), col("psi_batch"),
        col("psi_cum"), col("alert"))
      .orderBy(col("batch_id"))
  }

  private val q272Sql =
    """WITH ref AS MATERIALIZED (
      |  SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 0),
      |str AS MATERIALIZED (
      |  SELECT (doc_id % 8) // 2 AS b,
      |    CASE WHEN doc_id % 8 = 7 THEN n_chars + 150 ELSE n_chars END AS v
      |  FROM documents WHERE doc_id % 2 = 1),
      |nr AS (SELECT COUNT(*) AS n FROM ref),
      |edges AS MATERIALIZED (
      |  SELECT list(v ORDER BY k.k) AS es FROM (
      |    SELECT k.k, r.v FROM (SELECT unnest(range(1, 10)) AS k) k
      |    JOIN nr ON true
      |    JOIN (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM ref) r
      |      ON r.rn = (k.k * nr.n + 9) // 10) k),
      |rb AS MATERIALIZED (
      |  SELECT (CASE WHEN v > es[1] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[2] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[3] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[4] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[5] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[6] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[7] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[8] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[9] THEN 1 ELSE 0 END) AS bin, COUNT(*) AS n_ref
      |  FROM ref, edges GROUP BY 1),
      |sb AS MATERIALIZED (
      |  SELECT b, (CASE WHEN v > es[1] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[2] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[3] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[4] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[5] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[6] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[7] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[8] THEN 1 ELSE 0 END
      |     + CASE WHEN v > es[9] THEN 1 ELSE 0 END) AS bin, COUNT(*) AS o
      |  FROM str, edges GROUP BY 1, 2),
      |bs AS (SELECT DISTINCT b FROM sb),
      |cum AS MATERIALIZED (
      |  SELECT bs.b, sb.bin, CAST(SUM(sb.o) AS BIGINT) AS o
      |  FROM bs JOIN sb ON sb.b <= bs.b GROUP BY bs.b, sb.bin),
      |grid AS MATERIALIZED (
      |  SELECT bs.b, g.bin, COALESCE(rb.n_ref, 0) AS n_ref,
      |    COALESCE(sb.o, 0) AS n_cur
      |  FROM bs CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) g
      |  LEFT JOIN rb ON rb.bin = g.bin
      |  LEFT JOIN sb ON sb.b = bs.b AND sb.bin = g.bin),
      |cgrid AS MATERIALIZED (
      |  SELECT bs.b, g.bin, COALESCE(rb.n_ref, 0) AS n_ref,
      |    COALESCE(cum.o, 0) AS n_cur
      |  FROM bs CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) g
      |  LEFT JOIN rb ON rb.bin = g.bin
      |  LEFT JOIN cum ON cum.b = bs.b AND cum.bin = g.bin),
      |tots AS (SELECT b, CAST(SUM(n_ref) AS BIGINT) AS tr,
      |  CAST(SUM(n_cur) AS BIGINT) AS tc FROM grid GROUP BY b),
      |ctots AS (SELECT b, CAST(SUM(n_ref) AS BIGINT) AS tr,
      |  CAST(SUM(n_cur) AS BIGINT) AS tc FROM cgrid GROUP BY b),
      |psib AS MATERIALIZED (
      |  SELECT grid.b, round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list((CAST(GREATEST(n_ref, 1) AS DOUBLE)/tr
      |        - CAST(GREATEST(n_cur, 1) AS DOUBLE)/tc)
      |      * ln((CAST(GREATEST(n_ref, 1) AS DOUBLE)/tr)
      |        / (CAST(GREATEST(n_cur, 1) AS DOUBLE)/tc)) ORDER BY bin)),
      |    (x, y) -> x + y), 6) AS psi
      |  FROM grid JOIN tots ON tots.b = grid.b GROUP BY grid.b),
      |psic AS MATERIALIZED (
      |  SELECT cgrid.b, round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list((CAST(GREATEST(n_ref, 1) AS DOUBLE)/tr
      |        - CAST(GREATEST(n_cur, 1) AS DOUBLE)/tc)
      |      * ln((CAST(GREATEST(n_ref, 1) AS DOUBLE)/tr)
      |        / (CAST(GREATEST(n_cur, 1) AS DOUBLE)/tc)) ORDER BY bin)),
      |    (x, y) -> x + y), 6) AS psi
      |  FROM cgrid JOIN ctots ON ctots.b = cgrid.b GROUP BY cgrid.b),
      |nb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS n FROM sb GROUP BY b)
      |SELECT CAST(psib.b AS BIGINT) AS batch_id, nb.n AS n_batch,
      |  psib.psi AS psi_batch, psic.psi AS psi_cum,
      |  (psib.psi > 0.5) AS alert
      |FROM psib JOIN psic ON psic.b = psib.b JOIN nb ON nb.b = psib.b
      |ORDER BY batch_id""".stripMargin


  /** Sample-ratio-mismatch audit per event-type experiment —
    * [[Experiments.srmAudit]]: the exact (n0-n1)^2/(n0+n1) collapse of
    * the 1-dof chi-square, flagged at the published p=0.001 bar. */
  private def q273(s: SparkSession, d: String): DataFrame =
    Experiments.srmAudit(
      t(s, d, "events").withColumn("arm",
        graft.operators.Splits.hashBucket(col("user_id"), 2) === 1),
      "event_type", "arm")

  private val q273Sql =
    """WITH base AS (
      |  SELECT event_type AS exp,
      |    (((user_id % 2147483648) * 2654435761) % 4294967296 % 2 = 1) AS a
      |  FROM events),
      |cells AS (
      |  SELECT exp, CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n0,
      |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n1
      |  FROM base GROUP BY exp)
      |SELECT exp, n0, n1,
      |  round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1), 6) AS chi2,
      |  (CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) > 10.83) AS srm
      |FROM cells ORDER BY exp""".stripMargin

  /** Two-proportion z on the high-value rate by arm —
    * [[Experiments.twoProportionZ]]: pooled-variance z from four exact
    * counts. */
  private def q274(s: SparkSession, d: String): DataFrame =
    Experiments.twoProportionZ(
      t(s, d, "events").filter(col("value").isNotNull)
        .withColumn("arm",
          graft.operators.Splits.hashBucket(col("user_id"), 2) === 1)
        .withColumn("hi", col("value") > 50.0),
      "arm", "hi")

  private val q274Sql =
    """WITH base AS (
      |  SELECT (((user_id % 2147483648) * 2654435761) % 4294967296 % 2 = 1)
      |      AS a,
      |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS s
      |  FROM events WHERE value IS NOT NULL),
      |c AS (SELECT
      |  CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |  CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |  CAST(SUM(CASE WHEN NOT a THEN s ELSE 0 END) AS BIGINT) AS x0,
      |  CAST(SUM(CASE WHEN a THEN s ELSE 0 END) AS BIGINT) AS x1
      |  FROM base)
      |SELECT n0, n1, x0, x1,
      |  CAST(x0 AS DOUBLE)/n0 AS rate0, CAST(x1 AS DOUBLE)/n1 AS rate1,
      |  (CAST(x1 AS DOUBLE)/n1 - CAST(x0 AS DOUBLE)/n0) /
      |    sqrt((CAST(x0+x1 AS DOUBLE)/(n0+n1))
      |      * (1 - CAST(x0+x1 AS DOUBLE)/(n0+n1))
      |      * (1.0/n0 + 1.0/n1)) AS z
      |FROM c""".stripMargin

  /** HHI source concentration of the corpus character mass —
    * [[Inequality.hhi]]: the "effective number of sources" audit
    * beside q97's configured mix and q175's within-group gini. */
  private def q275(s: SparkSession, d: String): DataFrame =
    Inequality.hhi(t(s, d, "documents"), "source", "n_chars")

  private val q275Sql =
    """WITH m AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
      |           FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS t FROM m),
      |s AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list(CAST(mass AS DOUBLE) * mass / (CAST(t AS DOUBLE) * t)
      |      ORDER BY source)),
      |  (a, b) -> a + b) AS hhi FROM m, tot GROUP BY t)
      |SELECT m.source, m.mass, round(CAST(m.mass AS DOUBLE) / tot.t, 6)
      |    AS share,
      |  round(s.hhi, 6) AS hhi, round(1.0 / s.hhi, 6) AS effective_n
      |FROM m, tot, s ORDER BY m.source""".stripMargin

  /** The trained-model layer composed end-to-end (the q122/q183
    * discipline applied to models): stump GATE (q263's trained split
    * keeps the higher-purity side) → isotonic CALIBRATION of a
    * continuous quality score on the survivors (q245's minimax PAV) →
    * gains-BUDGETED selection (q266's decile table, deciles taken
    * until the cumulative gain budget 0.8 is met). The oracle replays
    * all three stages relationally, so the hash breaks if ANY stage's
    * semantics drift — training, side choice, bin edges, iso pooling,
    * ranking, or budget rule.
    *
    * Scale shape: stage 1 is q263's one-scan cell table; stage 2 is
    * one aggregate + bins²-grid joins; stage 3 is one rank window
    * over survivors. Driver sees only the 1-row stump and the
    * bins-sized iso map (broadcast back). */
  private def q276(s: SparkSession, d: String): DataFrame = {
    // spread before the tokenize (see q263) — the pipeline re-reads
    // `base` across train/calibrate/gains stages
    val base = graft.operators.Spread.byKey(t(s, d, "documents"), "doc_id").select(
      col("doc_id"),
      col("n_chars").cast("long").as("n_chars"),
      graft.functions.TextExpressions.alnum_run_count(lower(col("text")))
        .cast("long").as("n_tokens"), // compiled regexp_extract_all-count (r19)
      (col("lang") === "en").as("is_en"))
    // stage 1 — trained gate: one bounded row; keep the purer side
    // (exact single-division rates, ties keep left)
    val st = Stump.train(base, Seq("n_chars", "n_tokens"), "is_en",
      thresholds = 16).head()
    val feat = st.getAs[String]("feature")
    val thr = st.getAs[Long]("threshold")
    val rateL = st.getAs[Long]("pos_left").toDouble / st.getAs[Long]("n_left")
    val rateR = st.getAs[Long]("pos_right").toDouble / st.getAs[Long]("n_right")
    val keepLeft = rateL >= rateR
    val gated = base
      .filter(if (keepLeft) col(feat) <= thr else col(feat) > thr)
      // bounded rational score in [0, 1): one double division, exact
      // cross-engine
      .withColumn("score",
        col("n_tokens").cast("double") / (col("n_tokens") + 100L).cast("double"))
    // stage 2 — isotonic calibration; the iso map is bins-bounded and
    // broadcast back onto the survivors
    val iso = Isotonic.pavBinned(gated, "score", "is_en", bins = 20)
      .select(col("bin").as("__b"), col("iso"))
    val cal = gated
      .withColumn("bin", least(floor(col("score") * 20), lit(19)).cast("int"))
      .join(broadcast(iso), col("bin") === col("__b"))
      .select(col("doc_id"), col("iso").as("cal"), col("is_en"))
    // stage 3 — gains table + budget rule: a decile is selected while
    // the PREVIOUS decile's cumulative gain (6-dp, as persisted) is
    // still under budget — so the crossing decile is included
    val gains = LiftCurve.gainsTable(cal, "doc_id", "cal", "is_en",
      buckets = 10)
    val wd = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
    gains
      .withColumn("selected",
        coalesce(lag(col("gain"), 1).over(wd), lit(0.0)) < 0.8)
      .withColumn("gate_feature", lit(feat))
      .withColumn("gate_threshold", lit(thr))
      .withColumn("gate_keep_left", lit(keepLeft))
      .orderBy(col("decile"))
  }

  private val q276Sql =
    """WITH base AS (
      |  SELECT doc_id, n_chars AS f1,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS f2,
      |    (lang = 'en') AS y
      |  FROM documents),
      |long AS (
      |  SELECT 'n_chars' AS feature, f1 AS x, y FROM base
      |  UNION ALL SELECT 'n_tokens', f2, y FROM base),
      |nn AS (SELECT feature, COUNT(*) AS n FROM long GROUP BY feature),
      |cand AS (
      |  SELECT DISTINCT l.feature, r.x AS threshold FROM (
      |    SELECT feature, x, row_number() OVER
      |      (PARTITION BY feature ORDER BY x) AS rn FROM long) r
      |  JOIN nn l ON l.feature = r.feature
      |  JOIN (SELECT unnest(range(1, 17)) AS k) k
      |    ON r.rn = (k.k * l.n + 16) // 17),
      |tot AS (SELECT feature, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
      |  FROM long GROUP BY feature),
      |cells AS (
      |  SELECT l.feature, c.threshold,
      |    CAST(SUM(CASE WHEN l.x <= c.threshold THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_left,
      |    CAST(SUM(CASE WHEN l.x <= c.threshold AND l.y THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos_left
      |  FROM long l JOIN cand c USING (feature)
      |  GROUP BY l.feature, c.threshold),
      |splits AS (
      |  SELECT c.feature, c.threshold, c.n_left, c.pos_left,
      |    t.n - c.n_left AS n_right, t.pos - c.pos_left AS pos_right, t.n
      |  FROM cells c JOIN tot t USING (feature)
      |  WHERE c.n_left > 0 AND t.n - c.n_left > 0),
      |h AS (
      |  SELECT *,
      |    CAST((pos_left*pos_left + (n_left-pos_left)*(n_left-pos_left))
      |        * n_right
      |      + (pos_right*pos_right + (n_right-pos_right)*(n_right-pos_right))
      |        * n_left AS DOUBLE)
      |      / CAST(n_left * n_right AS DOUBLE) AS h
      |  FROM splits),
      |win AS (
      |  SELECT feature, threshold,
      |    CAST(pos_left AS DOUBLE) / n_left AS rl,
      |    CAST(pos_right AS DOUBLE) / n_right AS rr
      |  FROM h ORDER BY h DESC, feature, threshold LIMIT 1),
      |gated AS (
      |  SELECT b.doc_id,
      |    CAST(b.f2 AS DOUBLE) / CAST(b.f2 + 100 AS DOUBLE) AS score, b.y
      |  FROM base b, win w
      |  WHERE CASE WHEN w.rl >= w.rr
      |    THEN (CASE WHEN w.feature = 'n_chars' THEN b.f1 ELSE b.f2 END)
      |      <= w.threshold
      |    ELSE (CASE WHEN w.feature = 'n_chars' THEN b.f1 ELSE b.f2 END)
      |      > w.threshold END),
      |g AS (
      |  SELECT CAST(least(floor(score * 20), 19) AS INTEGER) AS bin,
      |    COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
      |  FROM gated GROUP BY bin),
      |cum AS (
      |  SELECT bin, n, pos,
      |    CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
      |    CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
      |  FROM g),
      |ivl AS (
      |  SELECT j.bin AS j, k.bin AS k,
      |    CAST(k.cp - j.cp + j.pos AS DOUBLE) /
      |      CAST(k.cn - j.cn + j.n AS DOUBLE) AS avg
      |  FROM cum j JOIN cum k ON j.bin <= k.bin),
      |mn AS (
      |  SELECT ivl.j, b.bin AS b, MIN(ivl.avg) AS m
      |  FROM ivl JOIN g b ON ivl.j <= b.bin AND ivl.k >= b.bin
      |  GROUP BY ivl.j, b.bin),
      |iso AS (SELECT b, MAX(m) AS iso FROM mn GROUP BY b),
      |cal AS (
      |  SELECT gated.doc_id, iso.iso AS cal, gated.y
      |  FROM gated JOIN iso
      |    ON iso.b = CAST(least(floor(gated.score * 20), 19) AS INTEGER)),
      |cn2 AS (SELECT COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos FROM cal),
      |ranked AS (
      |  SELECT y, row_number() OVER (ORDER BY cal DESC, doc_id) AS rn
      |  FROM cal),
      |dec AS (
      |  SELECT CAST(floor((rn - 1) * 10.0 / cn2.n) AS INTEGER) AS decile,
      |    COUNT(*) AS n_d, CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
      |      AS pos_d
      |  FROM ranked, cn2 GROUP BY 1, cn2.n),
      |cumd AS (
      |  SELECT decile, n_d, pos_d,
      |    CAST(SUM(n_d) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
      |    CAST(SUM(pos_d) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
      |  FROM dec),
      |gains AS (
      |  SELECT decile, n_d AS n, pos_d AS pos,
      |    round(CAST(cum_pos AS DOUBLE) / (SELECT pos FROM cn2), 6) AS gain,
      |    round((CAST(cum_pos AS DOUBLE) / cum_n)
      |      / (CAST((SELECT pos FROM cn2) AS DOUBLE) / (SELECT n FROM cn2)), 6)
      |      AS lift
      |  FROM cumd)
      |SELECT gg.decile, gg.n, gg.pos, gg.gain, gg.lift,
      |  coalesce(lag(gg.gain) OVER (ORDER BY gg.decile), 0.0) < 0.8
      |    AS selected,
      |  w.feature AS gate_feature, w.threshold AS gate_threshold,
      |  (w.rl >= w.rr) AS gate_keep_left
      |FROM gains gg, win w ORDER BY gg.decile""".stripMargin

  /** Zipf rank-frequency fit over the document corpus —
    * [[VocabStats.zipfFit]]: natural text slopes ≈ −1 on the log-log
    * head; the gate pins the OLS close (decimal-exact sums, shared
    * double-domain finish). */
  private def q277(s: SparkSession, d: String): DataFrame =
    VocabStats.zipfFit(t(s, d, "documents"), "text", topN = 1000)

  private val q277Sql =
    """WITH tok AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |tf AS (SELECT term, COUNT(*) AS f FROM tok GROUP BY term),
      |top AS (SELECT term, f FROM tf ORDER BY f DESC, term LIMIT 1000),
      |ranked AS (
      |  SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r FROM top),
      |pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
      |        FROM ranked),
      |s AS (SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(x*y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
      |  CAST(SUM(CAST(x*x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
      |  CAST(SUM(CAST(y*y AS DECIMAL(28,12))) AS DOUBLE) AS syy
      |  FROM pts)
      |SELECT n AS n_terms,
      |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
      |  round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6)
      |    AS intercept,
      |  round((n*sxy - sx*sy) * (n*sxy - sx*sy)
      |    / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
      |FROM s""".stripMargin

  /** Jensen–Shannon vocabulary divergence between even/odd document
    * halves (the q267 split) — [[VocabStats.jsDivergence]] with
    * per-term attribution; the folded JSD closes through the exact
    * decimal accumulator. */
  private def q278(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    VocabStats.jsDivergence(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "text", topContrib = 20)
  }

  private val q278Sql =
    """WITH ref AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents WHERE doc_id % 2 = 0),
      |cur AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents WHERE doc_id % 2 = 1),
      |fr AS (SELECT term, COUNT(*) AS n_ref FROM ref GROUP BY term),
      |fc AS (SELECT term, COUNT(*) AS n_cur FROM cur GROUP BY term),
      |j AS (
      |  SELECT coalesce(fr.term, fc.term) AS term,
      |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      |  FROM fr FULL JOIN fc ON fr.term = fc.term),
      |t AS (SELECT CAST(SUM(n_ref) AS DOUBLE) AS tr,
      |             CAST(SUM(n_cur) AS DOUBLE) AS tc FROM j),
      |c AS (
      |  SELECT term, n_ref, n_cur,
      |    CAST(n_ref AS DOUBLE) / t.tr AS p,
      |    CAST(n_cur AS DOUBLE) / t.tc AS q
      |  FROM j, t),
      |c2 AS (
      |  SELECT term, n_ref, n_cur, p, q,
      |    0.5 * ((CASE WHEN p > 0 THEN p * ln(2.0*p/(p+q)) ELSE 0.0 END)
      |      + (CASE WHEN q > 0 THEN q * ln(2.0*q/(p+q)) ELSE 0.0 END))
      |      AS contrib
      |  FROM c),
      |s AS (SELECT CAST(SUM(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE)
      |        AS jsd FROM c2)
      |SELECT term, n_ref, n_cur, round(p, 6) AS p_ref, round(q, 6) AS p_cur,
      |  round(contrib, 9) AS contrib, round(s.jsd, 6) AS jsd
      |FROM c2, s ORDER BY round(contrib, 9) DESC, term LIMIT 20""".stripMargin

  /** Shannon entropy / evenness / effective source count of the corpus
    * source mix — [[Inequality.entropy]], the diversity complement to
    * q275's HHI on the same masses. */
  private def q279(s: SparkSession, d: String): DataFrame =
    Inequality.entropy(t(s, d, "documents"), "source", "n_chars")

  private val q279Sql =
    """WITH m AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
      |           FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS t, COUNT(*) AS k FROM m),
      |h AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list(CASE WHEN mass > 0 THEN
      |        -(CAST(mass AS DOUBLE) / t) * ln(CAST(mass AS DOUBLE) / t)
      |      ELSE 0.0 END ORDER BY source)),
      |  (a, b) -> a + b) AS ent FROM m, tot GROUP BY t)
      |SELECT m.source, m.mass,
      |  round(CAST(m.mass AS DOUBLE) / tot.t, 6) AS share,
      |  round(h.ent, 6) AS entropy,
      |  CASE WHEN tot.k > 1
      |    THEN round(h.ent / ln(CAST(tot.k AS DOUBLE)), 6) END AS evenness,
      |  round(exp(h.ent), 6) AS effective_n
      |FROM m, tot, h ORDER BY m.source""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("q245_isotonic_calibration", q245, Some(q245Sql)),
    Q("q246_mutual_info", q246, Some(q246Sql)),
    Q("q247_cuped_lift", q247, Some(q247Sql)),
    Q("q248_benford_audit", q248, Some(q248Sql)),
    Q("q249_krippendorff_alpha", q249, Some(q249Sql)),
    Q("q250_power_iteration", q250, Some(q250Sql), headline = true),
    Q("q251_rendezvous_shards", q251, Some(q251Sql)),
    Q("q252_mann_kendall", q252, Some(q252Sql)),
    Q("q253_theil_sen", q253, Some(q253Sql)),
    Q("q254_did_lift", q254, Some(q254Sql)),
    Q("q255_simpson_audit", q255, Some(q255Sql)),
    Q("q256_cusum_drift", q256, Some(q256Sql)),
    Q("q257_kendall_taub", q257, Some(q257Sql)),
    Q("q258_spearman_rho", q258, Some(q258Sql)),
    Q("q259_stratified_ate", q259, Some(q259Sql)),
    Q("q260_rake_keywords", q260, Some(q260Sql), headline = true),
    Q("q261_streaming_benford", q261, Some(q261Sql)),
    Q("q262_ols2_vif", q262, Some(q262Sql)),
    Q("q263_decision_stump", q263, Some(q263Sql), headline = true),
    Q("q264_naive_bayes", q264, Some(q264Sql)),
    Q("q265_cronbach_alpha", q265, Some(q265Sql)),
    Q("q266_lift_gains", q266, Some(q266Sql)),
    Q("q267_psi_drift", q267, Some(q267Sql)),
    Q("q268_sequence_support", q268, Some(q268Sql)),
    Q("q269_mad_outliers", q269, Some(q269Sql)),
    Q("q270_bradley_terry", q270, Some(q270Sql)),
    Q("q271_bt_fit_audit", q271, Some(q271Sql)),
    Q("q272_streaming_psi", q272, Some(q272Sql)),
    Q("q273_srm_audit", q273, Some(q273Sql)),
    Q("q274_two_proportion_z", q274, Some(q274Sql)),
    Q("q275_hhi_concentration", q275, Some(q275Sql)),
    Q("q276_model_pipeline", q276, Some(q276Sql), headline = true),
    Q("q277_zipf_fit", q277, Some(q277Sql)),
    Q("q278_vocab_jsd", q278, Some(q278Sql)),
    Q("q279_mixture_entropy", q279, Some(q279Sql)))
}
