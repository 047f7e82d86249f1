package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.store.Scratch
import graft.operators.{Agreement, Boilerplate, Calibration, DomainMix, Dsir,
  QualityFilters, TextProfile}

/** Round-12 curation/eval extensions (q222–q240): corpus profiling
  * (Heaps curve), annotation agreement (Fleiss κ), score calibration
  * (ECE, split conformal), sub-document boilerplate removal,
  * checksum-validated PII redaction, graph assortativity, seasonal
  * decomposition + its streaming monitor, grid-quantile RFM, nearest
  * join, negative sampling, exact two-phase global quantiles,
  * k-anonymity, Matryoshka truncation audit, Hamilton apportionment,
  * churn labels, PMI-expanded retrieval, and Fisher class
  * separability. Every gate follows the house hash-parity rules
  * (identical aliases both sides, exact-integer accumulation, total
  * ORDER BY). */
object CurationQueries extends QuerySet {

  /** Heaps'-law vocabulary growth over nested seeded-hash prefixes —
    * [[graft.operators.TextProfile.vocabGrowth]]. The oracle replays
    * the Knuth level assignment, the (term → min level) entry
    * aggregate, and the cumulative grid sums — all integers. */
  private def q222(s: SparkSession, d: String): DataFrame =
    TextProfile.vocabGrowth(t(s, d, "documents"), "doc_id", "text", seed = 7L)

  private val q222Sql =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), w -> w <> '') AS toks,
      |    CAST(length(bin(((xor(doc_id % 2147483648, 7)) * 2654435761) % 4294967296))
      |      AS INTEGER) AS lvl
      |  FROM documents),
      |pld AS (SELECT lvl, COUNT(*) AS d, CAST(SUM(len(toks)) AS BIGINT) AS tk
      |        FROM docs GROUP BY lvl),
      |entry AS (
      |  SELECT lvl, COUNT(*) AS v FROM (
      |    SELECT term, MIN(lvl) AS lvl FROM (
      |      SELECT lvl, unnest(toks) AS term FROM docs) GROUP BY term)
      |  GROUP BY lvl),
      |grid AS (
      |  SELECT COALESCE(pld.lvl, entry.lvl) AS level,
      |    COALESCE(d, 0) AS d, COALESCE(tk, 0) AS tk, COALESCE(v, 0) AS v
      |  FROM pld FULL OUTER JOIN entry ON pld.lvl = entry.lvl)
      |SELECT level,
      |  CAST(SUM(d) OVER w AS BIGINT) AS n_docs,
      |  CAST(SUM(tk) OVER w AS BIGINT) AS n_tokens,
      |  CAST(SUM(v) OVER w AS BIGINT) AS vocab
      |FROM grid
      |WINDOW w AS (ORDER BY level ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY level""".stripMargin

  /** Fleiss' κ over a relationally-derived complete rating design:
    * three raters per doc; each rater reports the doc's `lang` except
    * on a deterministic 20% hash slice where it reports 'zz' (rater
    * noise). Both engines replay the construction AND the κ algebra
    * ([[graft.operators.Agreement.fleissKappa]]). */
  private def q223(s: SparkSession, d: String): DataFrame = {
    val ratings = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), explode(sequence(lit(0), lit(2))).as("rater"))
      .withColumn("label",
        when(graft.operators.Splits.hashBucket(col("doc_id") * 3 + col("rater"), 10) < 2,
          lit("zz")).otherwise(col("lang")))
    Agreement.fleissKappa(ratings, "doc_id", "rater", "label")
  }

  private val q223Sql =
    """WITH ratings AS (
      |  SELECT doc_id, r.rater,
      |    CASE WHEN ((((doc_id * 3 + r.rater) % 2147483648) * 2654435761)
      |               % 4294967296) % 10 < 2
      |         THEN 'zz' ELSE lang END AS label
      |  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS rater) r),
      |cells AS (SELECT doc_id, label, COUNT(*) AS nij
      |          FROM ratings GROUP BY doc_id, label),
      |marg AS (SELECT label, SUM(nij) AS cj FROM cells GROUP BY label),
      |agg AS (
      |  SELECT (SELECT CAST(SUM(nij * nij) AS BIGINT) FROM cells) AS s_within,
      |    (SELECT COUNT(DISTINCT doc_id) FROM cells) AS n_items,
      |    (SELECT CAST(SUM(cj * cj) AS BIGINT) FROM marg) AS s_marginal,
      |    (SELECT COUNT(*) FROM marg) AS n_categories)
      |SELECT n_items, CAST(3 AS BIGINT) AS n_raters, n_categories,
      |  s_within, s_marginal,
      |  CASE WHEN s_marginal = (n_items * 3) * (n_items * 3) THEN NULL
      |    ELSE ((CAST(s_within - n_items * 3 AS DOUBLE)
      |             / CAST((n_items * 3) * 2 AS DOUBLE)
      |           - CAST(s_marginal AS DOUBLE)
      |             / CAST((n_items * 3) * (n_items * 3) AS DOUBLE))
      |          / (1.0 - CAST(s_marginal AS DOUBLE)
      |             / CAST((n_items * 3) * (n_items * 3) AS DOUBLE))) END AS kappa
      |FROM agg""".stripMargin

  /** Reliability table + ECE for "cosine-to-probe predicts same-label"
    * as a classifier score ([[graft.operators.Calibration.ece]]):
    * score = (cos+1)/2 on vec 0, label = class match. The oracle rides
    * the q30 cosine replay + the ppm integer accumulation. */
  private def q224(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val probe = e.filter(col("vec_id") === 0).head()
    val pv = probe.getSeq[Float](1).toArray
    val plabel = probe.getInt(2)
    val scored = e.select(
      ((graft.functions.VectorFunctions.cosine_sim(col("embedding"), typedlit(pv))
        + 1.0) / 2.0).as("score"),
      (col("label") === plabel).as("y"))
    Calibration.ece(scored, "score", "y", bins = 10)
  }

  private val q224Sql =
    """WITH p AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pv, label AS pl
      |           FROM embeddings WHERE vec_id = 0),
      |scored AS (
      |  SELECT (list_cosine_similarity(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |            p.pv) + 1.0) / 2.0 AS score,
      |    (label = p.pl) AS y
      |  FROM embeddings, p),
      |binned AS (
      |  SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bin,
      |    CAST(floor(score * 1000000) AS BIGINT) AS ppm,
      |    CAST(y AS BIGINT) AS yy
      |  FROM scored),
      |per_bin AS (
      |  SELECT bin, COUNT(*) AS n, CAST(SUM(yy) AS BIGINT) AS n_pos,
      |    CAST(SUM(ppm) AS BIGINT) AS sum_conf_ppm
      |  FROM binned GROUP BY bin),
      |pb AS (
      |  SELECT bin, n, n_pos, sum_conf_ppm,
      |    CAST(sum_conf_ppm AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS conf,
      |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc
      |  FROM per_bin),
      |er AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(list_sort(list({'b': bin, 'w': CAST(n AS DOUBLE) * abs(conf - acc)})),
      |        s -> s['w'])), (a, b) -> a + b)
      |    / CAST(SUM(n) AS DOUBLE) AS ece
      |  FROM pb)
      |SELECT bin, n, n_pos, sum_conf_ppm, conf, acc, abs(conf - acc) AS gap, er.ece
      |FROM pb, er ORDER BY bin""".stripMargin

  /** Per-source split-conformal threshold on doc length at α = 1/10 —
    * [[graft.operators.Calibration.conformalThreshold]]; the rank is
    * exact integer ceiling arithmetic, the threshold an order
    * statistic. */
  private def q225(s: SparkSession, d: String): DataFrame =
    Calibration.conformalThreshold(t(s, d, "documents"), "source", "n_chars",
        alphaNum = 1L, alphaDen = 10L)
      .orderBy(col("source"))

  private val q225Sql =
    """WITH rows_ AS (SELECT source, CAST(n_chars AS BIGINT) AS s, doc_id FROM documents
      |              WHERE n_chars IS NOT NULL),
      |ranked AS (
      |  SELECT source, s,
      |    row_number() OVER (PARTITION BY source ORDER BY s) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM rows_),
      |q AS (
      |  SELECT source, n, least((9 * (n + 1) + 9) // 10, n) AS q_rank, s AS qhat
      |  FROM ranked WHERE rn = least((9 * (n + 1) + 9) // 10, n)),
      |cov AS (
      |  SELECT r.source, COUNT(*) AS n_covered
      |  FROM rows_ r JOIN q ON r.source = q.source AND r.s <= q.qhat
      |  GROUP BY r.source)
      |SELECT q.source, q.n, q.q_rank, q.qhat, cov.n_covered
      |FROM q JOIN cov ON q.source = cov.source
      |ORDER BY q.source""".stripMargin

  /** Cross-document boilerplate removal with a PLANTED banner: each
    * source's docs get a 10-word source banner prepended (templated
    * chrome), the segment-df pass flags it (df = docs-per-source ≥ 5)
    * and strips it, and every doc's organic text survives —
    * [[graft.operators.Boilerplate.removeRepeatedSegments]] with per-
    * doc accounting. */
  private def q226(s: SparkSession, d: String): DataFrame = {
    val banner = concat_ws(" ",
      transform(sequence(lit(1), lit(10)), _ => concat(lit("banner"), col("source"))))
    val docs = t(s, d, "documents")
      .select(col("doc_id"), concat(banner, lit(" "), col("text")).as("text"))
    Boilerplate.removeRepeatedSegments(docs, "doc_id", "text",
        segWords = 10, minDf = 5L)
      .orderBy(col("doc_id"))
  }

  private val q226Sql =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_filter(string_split(
      |      array_to_string(list_transform(range(10), i -> 'banner' || source), ' ')
      |        || ' ' || text, ' '), w -> w <> '') AS toks
      |  FROM documents),
      |segd AS (
      |  SELECT doc_id, toks,
      |    CAST(ceil(len(toks) / 10.0) AS INTEGER) AS nseg
      |  FROM docs),
      |segs AS (
      |  SELECT doc_id, nseg,
      |    unnest(list_transform(range(nseg),
      |      i -> array_to_string(toks[(i * 10 + 1):(i * 10 + 10)], ' '))) AS seg,
      |    unnest(range(nseg)) AS idx
      |  FROM segd),
      |hot AS (SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 5),
      |kept AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM hot)),
      |rec AS (
      |  SELECT doc_id, string_agg(seg, ' ' ORDER BY idx) AS clean_text,
      |    COUNT(*) AS n_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(rec.clean_text, '') AS clean_text,
      |  CAST(d.nseg AS BIGINT) AS n_seg,
      |  CAST(d.nseg - COALESCE(rec.n_kept, 0) AS BIGINT) AS n_dropped
      |FROM (SELECT doc_id, nseg FROM segd) d
      |LEFT JOIN rec ON d.doc_id = rec.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Checksum-validated card redaction: 16-digit candidates derive
    * relationally from customer keys, and ONLY Luhn-valid ones redact
    * ([[graft.functions.PiiFunctions.luhnValid]]) — the precision
    * lever over the bare-regex q87 family, with validity and the
    * redaction outcome both gated. */
  private def q227(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PiiFunctions.luhnValid
    val card = concat(
      lpad(pmod(col("c_custkey") * 7919, lit(1000000000000000L)).cast("string"), 15, "0"),
      pmod(col("c_custkey"), lit(10)).cast("string"))
    t(s, d, "customer")
      .select(col("c_custkey"), card.as("card"),
        luhnValid(card).as("luhn_valid"),
        when(luhnValid(card), lit("<CARD>")).otherwise(card).as("redacted"))
      .orderBy(col("c_custkey"))
  }

  private val q227Sql =
    """WITH cards AS (
      |  SELECT c_custkey,
      |    lpad(CAST((c_custkey * 7919) % 1000000000000000 AS VARCHAR), 15, '0')
      |      || CAST(c_custkey % 10 AS VARCHAR) AS card
      |  FROM customer),
      |checked AS (
      |  SELECT c_custkey, card,
      |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, length(card) + 1), i ->
      |        CASE WHEN i % 2 = 0 THEN
      |          CASE WHEN (ascii(substring(reverse(card), i, 1)) - 48) * 2 > 9
      |               THEN CAST((ascii(substring(reverse(card), i, 1)) - 48) * 2 - 9 AS BIGINT)
      |               ELSE CAST((ascii(substring(reverse(card), i, 1)) - 48) * 2 AS BIGINT) END
      |        ELSE CAST(ascii(substring(reverse(card), i, 1)) - 48 AS BIGINT) END)),
      |      (a, b) -> a + b) % 10) = 0 AS luhn_valid
      |  FROM cards)
      |SELECT c_custkey, card, luhn_valid,
      |  CASE WHEN luhn_valid THEN '<CARD>' ELSE card END AS redacted
      |FROM checked ORDER BY c_custkey""".stripMargin

  /** Degree assortativity of the co-supply graph (q188's edge
    * construction) — [[graft.operators.GraphStats.degreeAssortativity]];
    * exact BIGINT sufficient statistics, one closing division. */
  private def q228(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
    val edges = li.withColumnRenamed("p", "pa")
      .join(li.withColumnRenamed("p", "pb"), "o")
      .filter(col("pa") =!= col("pb"))
      .select(col("pa").as("a"), col("pb").as("b"))
    graft.operators.GraphStats.degreeAssortativity(edges, "a", "b")
  }

  private val q228Sql =
    """WITH li AS (SELECT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem),
      |e0 AS (SELECT DISTINCT least(x.p, y.p) AS a, greatest(x.p, y.p) AS b
      |       FROM li x JOIN li y ON x.o = y.o AND x.p <> y.p),
      |deg AS (SELECT n, COUNT(*) AS d FROM (
      |          SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n),
      |dir AS (SELECT a AS s, b AS t FROM e0 UNION ALL SELECT b, a FROM e0),
      |xy AS (SELECT dx.d AS x, dy.d AS y
      |       FROM dir JOIN deg dx ON dir.s = dx.n JOIN deg dy ON dir.t = dy.n),
      |agg AS (SELECT COUNT(*) AS m2, CAST(SUM(x) AS BIGINT) AS sx,
      |          CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
      |        FROM xy)
      |SELECT CAST(m2 // 2 AS BIGINT) AS m_edges, sx AS sum_x, sxx AS sum_xx,
      |  sxy AS sum_xy,
      |  CASE WHEN m2 * sxx = sx * sx THEN NULL
      |    ELSE CAST(m2 * sxy - sx * sx AS DOUBLE) / CAST(m2 * sxx - sx * sx AS DOUBLE)
      |  END AS assortativity
      |FROM agg""".stripMargin

  /** Seasonal decomposition of the hourly event-value series —
    * [[graft.operators.Seasonal.decompose]] (24-h period, 25-point
    * centered trend); exact decimal hour sums, one division per
    * component. */
  private def q229(s: SparkSession, d: String): DataFrame =
    graft.operators.Seasonal.decompose(t(s, d, "events"), "ts", "value")

  private val q229Sql =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS v0
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |tr AS (
      |  SELECT hour, v0,
      |    SUM(v0) OVER (ORDER BY hour ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS tn,
      |    COUNT(*) OVER (ORDER BY hour ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS tc
      |  FROM hourly),
      |dt AS (
      |  SELECT hour, v0, tn, tc,
      |    CASE WHEN tc = 25 THEN CAST(v0 * 25 - tn AS DECIMAL(38,2)) END AS dn
      |  FROM tr),
      |wins AS (
      |  SELECT hour, v0, tn, tc,
      |    SUM(dn) OVER (PARTITION BY EXTRACT(hour FROM hour) % 24) AS sn,
      |    COUNT(dn) OVER (PARTITION BY EXTRACT(hour FROM hour) % 24) AS sc
      |  FROM dt)
      |SELECT hour, CAST(v0 AS DOUBLE) AS v,
      |  CASE WHEN tc = 25 THEN CAST(tn AS DOUBLE) / 25 END AS trend,
      |  CAST(sn AS DOUBLE) / CAST(sc * 25 AS DOUBLE) AS seasonal,
      |  CAST(v0 AS DOUBLE)
      |    - CASE WHEN tc = 25 THEN CAST(tn AS DOUBLE) / 25 END
      |    - CAST(sn AS DOUBLE) / CAST(sc * 25 AS DOUBLE) AS remainder
      |FROM wins ORDER BY hour""".stripMargin

  /** RFM scoring over events with GLOBAL grid-quantile bins —
    * [[graft.operators.Binning.gridQuantileBoundaries]] (no global row
    * window; the QuantileNorm grid shape) feeding a narrow broadcast
    * bin projection per dimension. */
  private def q230(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Binning
    val ev = t(s, d, "events")
    val maxD = ev.agg(max(to_date(col("ts"))).as("__ref"))
    val users = ev
      .crossJoin(broadcast(maxD))
      .groupBy(col("user_id"))
      .agg(min(datediff(col("__ref"), to_date(col("ts")))).as("r_days"),
        count(lit(1)).as("f"),
        sum(round(col("value") * 100).cast("long")).as("m_cents"))
    val binned = Seq("r_days", "f", "m_cents").foldLeft(users) { (acc, c) =>
      Binning.withGridBin(acc, c, Binning.gridQuantileBoundaries(users, c, 5))
    }
    binned.select(col("user_id"), col("r_days"), col("f"), col("m_cents"),
        col("r_days_bin"), col("f_bin"), col("m_cents_bin"),
        concat(col("r_days_bin").cast("string"), col("f_bin").cast("string"),
          col("m_cents_bin").cast("string")).as("rfm"))
      .orderBy(col("user_id"))
  }

  private val q230Sql = {
    def bound(dim: String) =
      s"""g_$dim AS (SELECT $dim AS v, COUNT(*) AS c FROM users GROUP BY 1),
         |b_$dim AS (
         |  SELECT q, MIN(v) AS threshold FROM (
         |    SELECT v, SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) AS hi, (SELECT SUM(c) FROM g_$dim) AS n,
         |      unnest([1, 2, 3, 4]) AS q
         |    FROM g_$dim)
         |  WHERE hi >= (q * n + 4) // 5 GROUP BY q),
         |t_$dim AS (SELECT list(threshold ORDER BY q) AS ts FROM b_$dim)""".stripMargin
    def bin(dim: String) =
      s"1 + len(list_filter(t_$dim.ts, t -> users.$dim > t))"
    s"""WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS r FROM events),
       |users AS (
       |  SELECT user_id,
       |    MIN(datediff('day', CAST(ts AS DATE), ref.r)) AS r_days,
       |    COUNT(*) AS f,
       |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m_cents
       |  FROM events CROSS JOIN ref GROUP BY user_id),
       |${Seq("r_days", "f", "m_cents").map(bound).mkString(",\n")}
       |SELECT user_id, r_days, f, m_cents,
       |  CAST(${bin("r_days")} AS INTEGER) AS r_days_bin,
       |  CAST(${bin("f")} AS INTEGER) AS f_bin,
       |  CAST(${bin("m_cents")} AS INTEGER) AS m_cents_bin,
       |  CAST(${bin("r_days")} AS VARCHAR) || CAST(${bin("f")} AS VARCHAR)
       |    || CAST(${bin("m_cents")} AS VARCHAR) AS rfm
       |FROM users, t_r_days, t_f, t_m_cents
       |ORDER BY user_id""".stripMargin
  }

  /** Nearest-key join: each click matched to its user's temporally
    * CLOSEST view — [[graft.operators.AsOfJoin.nearest]] (two as-of
    * union-sort passes, backward wins ties); the oracle brute-forces
    * the per-click argmin with the same tie rule. */
  private def q231(s: SparkSession, d: String): DataFrame = {
    import graft.operators.AsOfJoin
    val ev = t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"), col("event_id").as("view_id"))
    AsOfJoin.nearest(clicks, views, Seq("user_id"), "ts_us", "ts_us",
        "event_id", Seq("ts_us", "view_id"), "near_")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("near_view_id"), col("near_ts_us"),
        (col("near_ts_us") - col("ts_us")).as("delta_us"))
      .orderBy(col("event_id"))
  }

  private val q231Sql =
    """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      |            FROM events),
      |clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
      |views AS (SELECT user_id, ts_us AS vts, event_id AS view_id FROM ev
      |          WHERE event_type = 'view'),
      |ranked AS (
      |  SELECT c.event_id, c.user_id, c.ts_us, v.view_id, v.vts,
      |    row_number() OVER (PARTITION BY c.event_id
      |      ORDER BY abs(v.vts - c.ts_us), v.vts, v.view_id DESC) AS rn
      |  FROM clicks c JOIN views v ON c.user_id = v.user_id)
      |SELECT c.event_id, c.user_id, c.ts_us,
      |  r.view_id AS near_view_id, r.vts AS near_ts_us,
      |  r.vts - c.ts_us AS delta_us
      |FROM clicks c LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
      |  ON c.event_id = r.event_id
      |ORDER BY c.event_id""".stripMargin

  /** Link-prediction training pairs over the supplier→part bipartite
    * graph: observed edges label 1, up to 5 bucket-representative
    * negatives per supplier label 0 —
    * [[graft.operators.NegativeSampling.labeledPairs]]; the whole draw
    * is the replayable Knuth stack. */
  private def q232(s: SparkSession, d: String): DataFrame = {
    val edges = t(s, d, "lineitem")
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
    graft.operators.NegativeSampling.labeledPairs(edges, "s", "p",
        k = 5, buckets = 256, seed = 7L)
      .orderBy(col("label"), col("left"), col("right"))
  }

  private val q232Sql =
    """WITH pos AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS l,
      |               CAST(l_partkey AS BIGINT) AS r FROM lineitem),
      |reps AS (
      |  SELECT ((r % 2147483648) * 2654435761) % 4294967296 // 16777216 AS bkt,
      |    MIN(r) AS r
      |  FROM (SELECT DISTINCT r FROM pos) GROUP BY 1),
      |cand AS (
      |  SELECT DISTINCT lj.l, reps.r FROM (
      |    SELECT l, ((xor((l * 31 + j.j) % 2147483648, 7)) * 2654435761)
      |      % 4294967296 // 16777216 AS bkt
      |    FROM (SELECT DISTINCT l FROM pos)
      |    CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS j) j) lj
      |  JOIN reps ON lj.bkt = reps.bkt),
      |neg AS (SELECT cand.l, cand.r FROM cand ANTI JOIN pos
      |        ON cand.l = pos.l AND cand.r = pos.r)
      |SELECT l AS "left", r AS "right", label FROM (
      |  SELECT l, r, 1 AS label FROM pos
      |  UNION ALL SELECT l, r, 0 FROM neg)
      |ORDER BY label, l, r""".stripMargin

  /** Exact global quantiles of line-item price (in cents) via the
    * two-phase bucket-then-select —
    * [[graft.operators.ExactQuantile.globalQuantiles]]; no global sort
    * anywhere; the oracle is the plain order statistic at the same
    * ⌈q·N⌉ ranks. */
  private def q233(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
    graft.operators.ExactQuantile.globalQuantiles(li, "cents",
        Seq((1L, 4L), (1L, 2L), (3L, 4L), (99L, 100L)), lowBits = 8)
      .orderBy(col("rank"))
  }

  private val q233Sql =
    """WITH vals AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL),
      |n AS (SELECT COUNT(*) AS n FROM vals),
      |qs(q_num, q_den) AS (VALUES (1, 4), (1, 2), (3, 4), (99, 100)),
      |ranks AS (
      |  SELECT CAST(q_num AS BIGINT) AS q_num, CAST(q_den AS BIGINT) AS q_den,
      |    (q_num * n.n + q_den - 1) // q_den AS rank
      |  FROM qs CROSS JOIN n),
      |ordered AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM vals)
      |SELECT r.q_num, r.q_den, CAST(r.rank AS BIGINT) AS rank, o.v AS value
      |FROM ranks r JOIN ordered o ON o.rn = r.rank
      |ORDER BY rank""".stripMargin

  /** Per-source exact token-count quantiles (p25/p50/p75/p95) — the
    * per-domain length-distribution readout every mixture decision
    * reads, batched through ONE two-phase pass for ALL sources
    * ([[graft.operators.ExactQuantile.groupedRanks]], r18) instead of a
    * per-source loop; no global or per-group sort anywhere. The oracle
    * is the plain per-group order statistic at the same ⌈q·n_g⌉ ranks. */
  private def q421(s: SparkSession, d: String): DataFrame = {
    import graft.operators.ExactQuantile
    val spark = s
    import spark.implicits._
    val v = t(s, d, "documents").filter(col("text").isNotNull)
      .transform(graft.operators.Spread.byKey(_, "doc_id")) // spread before tokenize (q299 class; explicit count, r19)
      .select(col("source").as("g"),
        size(filter(split(col("text"), " "), x => x =!= ""))
          .cast("long").as("v"))
    val nOf = v.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val qs = Seq((1L, 4L), (1L, 2L), (3L, 4L), (95L, 100L))
    val ranksOf = nOf.map { case (g, n) =>
      g -> qs.map { case (a, b) => (a * n + b - 1) / b }.distinct }
    val qdf = nOf.toSeq.flatMap { case (g, n) =>
      qs.map { case (a, b) => (g, a, b, (a * n + b - 1) / b) } }
      .toDF("g", "q_num", "q_den", "rank")
    ExactQuantile.groupedRanks(v, "g", "v", ranksOf)
      .join(broadcast(qdf), Seq("g", "rank"))
      .select(col("g").as("source"), col("q_num"), col("q_den"),
        col("rank"), col("value"))
      .orderBy(col("source"), col("rank"), col("q_num"))
  }

  private val q421Sql =
    """WITH v AS (
      |  SELECT source AS g,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS v
      |  FROM documents WHERE text IS NOT NULL),
      |n AS (SELECT g, COUNT(*) AS n FROM v GROUP BY g),
      |qs(q_num, q_den) AS (VALUES (1, 4), (1, 2), (3, 4), (95, 100)),
      |ranks AS (
      |  SELECT n.g, CAST(q_num AS BIGINT) AS q_num,
      |    CAST(q_den AS BIGINT) AS q_den,
      |    (q_num * n.n + q_den - 1) // q_den AS rank
      |  FROM qs CROSS JOIN n),
      |ordered AS (
      |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
      |  FROM v)
      |SELECT r.g AS source, r.q_num, r.q_den,
      |  CAST(r.rank AS BIGINT) AS rank, o.v AS value
      |FROM ranks r JOIN ordered o ON o.g = r.g AND o.rn = r.rank
      |ORDER BY source, rank, q_num""".stripMargin

  /** k-anonymity release audit over customer quasi-identifiers
    * (nation, segment, thousand-rounded balance) —
    * [[graft.operators.KAnonymity.violations]] with the one-row
    * [[graft.operators.KAnonymity.summary]] appended to every
    * violation row, so one gate hashes both faces. */
  private def q234(s: SparkSession, d: String): DataFrame = {
    import graft.operators.KAnonymity
    val qi = t(s, d, "customer").select(
      col("c_nationkey").as("nation"),
      col("c_mktsegment").as("segment"),
      floor(col("c_acctbal") / 1000).cast("long").as("bal_k"))
    val v = KAnonymity.violations(qi, Seq("nation", "segment", "bal_k"), k = 5L)
    v.crossJoin(broadcast(KAnonymity.summary(qi, Seq("nation", "segment", "bal_k"), 5L)))
      .orderBy(col("nation"), col("segment"), col("bal_k"))
  }

  private val q234Sql =
    """WITH qi AS (
      |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k
      |  FROM customer),
      |cells AS (SELECT nation, segment, bal_k, COUNT(*) AS n
      |          FROM qi GROUP BY 1, 2, 3),
      |summ AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_cells,
      |    CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_cells,
      |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
      |    CAST(MIN(n) AS BIGINT) AS min_cell,
      |    CAST(MIN(n) AS BIGINT) AS k_anonymity
      |  FROM cells)
      |SELECT cells.nation, cells.segment, cells.bal_k, cells.n,
      |  summ.n_rows, summ.n_cells, summ.n_violating_cells,
      |  summ.n_rows_at_risk, summ.min_cell, summ.k_anonymity
      |FROM cells CROSS JOIN summ WHERE cells.n < 5
      |ORDER BY cells.nation, cells.segment, cells.bal_k""".stripMargin

  /** Streaming seasonal-volume monitor
    * ([[graft.streaming.SeasonalMonitor]]): the reference fortnight
    * fixes the per-hour-of-day baseline (exact sums, never pre-divided
    * means), the second fortnight streams as four day-interleaved
    * micro-batches with a planted +100 shift on one of them, and every
    * (batch, hour) verdict lands keyed-upserted with the exact
    * decimal/integer alert boundary. */
  private def q235(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select(col("event_id"), col("ts"), col("value"),
      datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("dd"))
    val ref = ev.filter(col("dd") < 15)
    val baseline = ref
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").as("v"))
      .groupBy(pmod(hour(col("hour")), lit(24)).cast("int").as("pos"))
      .agg(sum(col("v")).cast("decimal(38,2)").as("sn"), count(lit(1)).as("sc"))
    val streamed = ev.filter(col("dd") >= 15)
      .select(col("ts"),
        when(pmod(col("dd"), lit(4)) === 3, col("value") + 100)
          .otherwise(col("value")).as("value"),
        pmod(col("dd"), lit(4)).as("__b"))
    val srcDir = Scratch.dir(s, "q235-src")
    val base = System.currentTimeMillis()
    (0 to 3).foreach { i =>
      Scratch.stage(streamed.filter(col("__b") === i).drop("__b").coalesce(1),
        srcDir, base + i * 1000L)
    }
    val store = new graft.store.DocumentStore(s,
      Scratch.dir(s, "q235-store"))
    val feed = s.readStream.schema(streamed.drop("__b").schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val qy = graft.streaming.SeasonalMonitor.start(feed, store, "seasonal",
      baseline, "ts", "value",
      Scratch.dir(s, "q235-ckpt"),
      ratioNum = 1L, ratioDen = 1L)
    try qy.processAllAvailable() finally qy.stop()
    store.read("seasonal")
      .select(col("batch_id"), col("hour"), col("pos"), col("v"),
        col("baseline_mean"), col("deviation"), col("alert"))
      .orderBy(col("batch_id"), col("hour"))
  }

  private val q235Sql =
    """WITH ev AS (
      |  SELECT ts, value,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dd
      |  FROM events),
      |base_h AS (
      |  SELECT date_trunc('hour', ts) AS hour,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS v
      |  FROM ev WHERE dd < 15 GROUP BY 1),
      |baseline AS (
      |  SELECT EXTRACT(hour FROM hour) % 24 AS pos,
      |    CAST(SUM(v) AS DECIMAL(38,2)) AS sn, COUNT(*) AS sc
      |  FROM base_h GROUP BY 1),
      |batch_h AS (
      |  SELECT dd % 4 AS batch_id, date_trunc('hour', ts) AS hour,
      |    CAST(SUM(CAST(CASE WHEN dd % 4 = 3 THEN value + 100 ELSE value END
      |      AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS v
      |  FROM ev WHERE dd >= 15 GROUP BY 1, 2)
      |SELECT CAST(b.batch_id AS BIGINT) AS batch_id, b.hour,
      |  CAST(EXTRACT(hour FROM b.hour) % 24 AS INTEGER) AS pos,
      |  CAST(b.v AS DOUBLE) AS v,
      |  CAST(s.sn AS DOUBLE) / CAST(s.sc AS DOUBLE) AS baseline_mean,
      |  CAST(b.v AS DOUBLE) - CAST(s.sn AS DOUBLE) / CAST(s.sc AS DOUBLE) AS deviation,
      |  (abs(b.v * s.sc - s.sn) * 1 >= abs(s.sn) * 1) AS alert
      |FROM batch_h b JOIN baseline s ON EXTRACT(hour FROM b.hour) % 24 = s.pos
      |ORDER BY batch_id, b.hour""".stripMargin

  /** Matryoshka truncation audit over the embeddings —
    * [[graft.search.Matryoshka.truncationAudit]] at budgets
    * 8/16/32/64: exact prefix-cosine top-10 per budget, flagged
    * against the full-dimension top-10. */
  private def q236(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val probe = e.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray
    graft.search.Matryoshka.truncationAudit(e, "embedding", "vec_id",
        probe, k = 10, budgets = Seq(8, 16, 32, 64))
      .select(col("budget"), col("rn"), col("vec_id"),
        round(col("trunc_sim"), 6).as("trunc_sim"),
        round(col("full_sim"), 6).as("full_sim"), col("in_full_topk"))
      .orderBy(col("budget"), col("rn"))
  }

  private val q236Sql =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      |           FROM embeddings),
      |p AS (SELECT ev AS pv FROM v WHERE vec_id = 0),
      |fulltop AS (
      |  SELECT vec_id FROM v CROSS JOIN p
      |  ORDER BY list_cosine_similarity(ev, pv) DESC, vec_id LIMIT 10),
      |budgets(b) AS (VALUES (8), (16), (32), (64)),
      |scored AS (
      |  SELECT budgets.b AS budget, v.vec_id,
      |    list_cosine_similarity(v.ev[1:budgets.b], p.pv[1:budgets.b]) AS tsim,
      |    list_cosine_similarity(v.ev, p.pv) AS fsim
      |  FROM v CROSS JOIN p CROSS JOIN budgets),
      |ranked AS (
      |  SELECT budget, vec_id, tsim, fsim,
      |    row_number() OVER (PARTITION BY budget ORDER BY tsim DESC, vec_id) AS rn
      |  FROM scored)
      |SELECT r.budget, CAST(r.rn AS INTEGER) AS rn, r.vec_id,
      |  round(r.tsim, 6) AS trunc_sim, round(r.fsim, 6) AS full_sim,
      |  (ft.vec_id IS NOT NULL) AS in_full_topk
      |FROM ranked r LEFT JOIN fulltop ft ON r.vec_id = ft.vec_id
      |WHERE r.rn <= 10
      |ORDER BY r.budget, r.rn""".stripMargin

  /** Apportioned stratified sample sizes: Hamilton largest-remainder
    * allocation of a 1000-row budget across sources weighted by token
    * volume — [[graft.operators.Apportionment.hamilton]]; Σ alloc =
    * budget by construction (the missing last step after q216's
    * Neyman targets). */
  private def q237(s: SparkSession, d: String): DataFrame = {
    val weights = t(s, d, "documents")
      .groupBy(col("source"))
      .agg(sum(size(filter(split(col("text"), " "), w => w =!= "")).cast("long"))
        .as("tokens"))
    graft.operators.Apportionment.hamilton(weights, "source", "tokens", budget = 1000L)
      .orderBy(col("source"))
  }

  private val q237Sql =
    """WITH weights AS (
      |  SELECT source,
      |    CAST(SUM(len(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT)
      |      AS tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS w FROM weights),
      |based AS (
      |  SELECT source, tokens,
      |    (tokens * 1000) // tot.w AS base, (tokens * 1000) % tot.w AS rem
      |  FROM weights CROSS JOIN tot),
      |lo AS (SELECT 1000 - CAST(SUM(base) AS BIGINT) AS leftover FROM based)
      |SELECT source, tokens, CAST(base AS BIGINT) AS base,
      |  CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= lo.leftover
      |       THEN 1 ELSE 0 END AS extra,
      |  CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
      |       <= lo.leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM based CROSS JOIN lo
      |ORDER BY source""".stripMargin

  /** Churn labels over the event log at a 7-day horizon —
    * [[graft.operators.ChurnLabels.labels]]: gap to next active day,
    * with right-censoring surfaced as NULL labels instead of silent
    * optimistic negatives. */
  private def q238(s: SparkSession, d: String): DataFrame =
    graft.operators.ChurnLabels.labels(t(s, d, "events"), "user_id", "ts",
        horizonDays = 7)
      .orderBy(col("user"), col("day"))

  private val q238Sql =
    """WITH days AS (
      |  SELECT DISTINCT user_id AS "user", CAST(ts AS DATE) AS day
      |  FROM events WHERE ts IS NOT NULL),
      |endd AS (SELECT MAX(day) AS e FROM days),
      |led AS (
      |  SELECT "user", day,
      |    lead(day) OVER (PARTITION BY "user" ORDER BY day) AS nxt
      |  FROM days)
      |SELECT "user", day,
      |  datediff('day', day, nxt) AS next_gap_days,
      |  CASE WHEN datediff('day', day, endd.e) < 7
      |         AND (nxt IS NULL OR datediff('day', day, nxt) > 7)
      |       THEN NULL
      |       ELSE (nxt IS NULL OR datediff('day', day, nxt) > 7) END AS churned,
      |  (datediff('day', day, endd.e) < 7
      |    AND (nxt IS NULL OR datediff('day', day, nxt) > 7)) AS censored
      |FROM led CROSS JOIN endd
      |ORDER BY "user", day""".stripMargin

  /** PMI-expanded BM25 retrieval — the q164 collocation miner feeds the
    * q66 ranker: each seed term contributes its strongest-lift bigram
    * partner, and the expanded term set scores the corpus. Composition
    * of two hash-green operators; the expansion is replayed
    * relationally (the partner list is data-derived, never
    * hard-coded). */
  private def q239(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents")
    val base = Seq("table", "vector")
    val lifts = graft.operators.Collocations.pmiBigrams(docs, "text", minCount = 5L)
      .filter(col("w1").isin(base: _*))
    val w = Window.partitionBy(col("w1")).orderBy(col("lift").desc, col("w2"))
    // bounded collect: one partner per seed term
    val partners = lifts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("w2"))
      .collect().map(_.getString(0)).toSeq
    val expanded = (base ++ partners).distinct.sorted
    graft.operators.KeywordRank.bm25Direct(docs, "doc_id", "text", expanded)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  private val q239Sql =
    """WITH w AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
      |uni AS (SELECT unnest(w) AS t FROM w),
      |u AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM uni GROUP BY t),
      |bi0 AS (SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
      |        FROM w WHERE len(w) >= 2),
      |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM bi0 GROUP BY w1, w2),
      |tot AS (SELECT (SELECT SUM(n) FROM u) AS tot_t, (SELECT SUM(n12) FROM bi) AS tot_b),
      |lifts AS (
      |  SELECT w1, w2,
      |    (CAST(n12 AS DOUBLE) * tot_t * tot_t) /
      |      (CAST(tot_b AS DOUBLE) * u1.n * u2.n) AS lift
      |  FROM bi JOIN u u1 ON u1.t = w1 JOIN u u2 ON u2.t = w2 CROSS JOIN tot
      |  WHERE n12 >= 5 AND w1 IN ('table', 'vector')),
      |partners AS (
      |  SELECT w2 FROM (
      |    SELECT w2, row_number() OVER (PARTITION BY w1 ORDER BY lift DESC, w2) AS rn
      |    FROM lifts) WHERE rn = 1),
      |terms AS (SELECT DISTINCT t FROM (
      |  SELECT unnest(['table', 'vector']) AS t UNION ALL SELECT w2 FROM partners)),
      |tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |        FROM documents),
      |lens AS (SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY 1),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM tok JOIN terms ON term = t GROUP BY 1, 2),
      |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
      |            AVG(CAST(len AS DOUBLE)) AS avg_len FROM lens),
      |parts AS (
      |  SELECT tf.doc_id,
      |    CAST(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.25)
      |      / (tf + 1.25 * (0.25 + 0.75 * len / avg_len)) AS DECIMAL(28,12)) AS part
      |  FROM tf JOIN dfq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats)
      |SELECT doc_id, round(CAST(SUM(part) AS DOUBLE), 6) AS score
      |FROM parts GROUP BY doc_id
      |ORDER BY round(CAST(SUM(part) AS DOUBLE), 6) DESC, doc_id LIMIT 20""".stripMargin

  /** Per-class Fisher separability of the embedding space —
    * [[graft.operators.Separability.fisherPerClass]]: exact DECIMAL
    * scatter numerators on the integer grid, one closing double
    * ratio. */
  private def q240(s: SparkSession, d: String): DataFrame =
    graft.operators.Separability.fisherPerClass(t(s, d, "embeddings"),
        "label", "embedding", gridBits = 20)
      // gate face: the exact DECIMAL(38,0) scatter numerators exceed
      // int64 (between_num ≈ 1.1e19) and decimal-vs-float64 breaks the
      // driver's dtype-sensitive hash — publish the nearest-double on
      // both faces; the operator API keeps the exact decimals
      .select(col("label"), col("n"),
        col("q_total").cast("double").as("q_total"),
        col("within_num").cast("double").as("within_num"),
        col("between_num").cast("double").as("between_num"),
        col("fisher"))
      .orderBy(col("label"))

  private val q240Sql =
    """WITH q AS (
      |  SELECT label AS l,
      |    unnest(list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT))) AS qv,
      |    unnest(range(64)) AS p
      |  FROM embeddings),
      |perdim AS (
      |  SELECT l, p, CAST(SUM(qv) AS BIGINT) AS s,
      |    CAST(SUM(CAST(qv AS DECIMAL(19,0)) * CAST(qv AS DECIMAL(19,0)))
      |      AS DECIMAL(38,0)) AS qq,
      |    COUNT(*) AS cnt
      |  FROM q GROUP BY l, p),
      |cls AS (
      |  SELECT l, list(s ORDER BY p) AS sums,
      |    CAST(SUM(qq) AS DECIMAL(38,0)) AS q_total, MAX(cnt) AS n
      |  FROM perdim GROUP BY l),
      |cor AS (
      |  SELECT list(cs ORDER BY p) AS csums FROM (
      |    SELECT p, CAST(SUM(s) AS BIGINT) AS cs FROM perdim GROUP BY p)),
      |nn AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cls),
      |sep AS (
      |  SELECT l, n, q_total,
      |    list_reduce(list_prepend(CAST(0 AS DECIMAL(38,0)),
      |      list_transform(sums, x -> CAST(CAST(x AS DECIMAL(19,0))
      |        * CAST(x AS DECIMAL(19,0)) AS DECIMAL(38,0)))),
      |      (a, b) -> CAST(a + b AS DECIMAL(38,0))) AS s2,
      |    list_reduce(list_prepend(CAST(0 AS DECIMAL(38,0)),
      |      list_transform(list_zip(sums, csums),
      |        z -> CAST(CAST(CAST(z[1] AS DECIMAL(19,0)) * nn.nn
      |               - CAST(z[2] AS DECIMAL(19,0)) * n AS DECIMAL(19,0))
      |             * CAST(CAST(z[1] AS DECIMAL(19,0)) * nn.nn
      |               - CAST(z[2] AS DECIMAL(19,0)) * n AS DECIMAL(19,0))
      |             AS DECIMAL(38,0)))),
      |      (a, b) -> CAST(a + b AS DECIMAL(38,0))) AS b2
      |  FROM cls CROSS JOIN cor CROSS JOIN nn)
      |SELECT l AS label, n, CAST(q_total AS DOUBLE) AS q_total,
      |  CAST(CAST(CAST(n AS DECIMAL(19,0)) * q_total - s2 AS DECIMAL(38,0))
      |    AS DOUBLE) AS within_num,
      |  CAST(b2 AS DOUBLE) AS between_num,
      |  CASE WHEN CAST(n AS DECIMAL(19,0)) * q_total - s2 = 0 THEN NULL
      |    ELSE (CAST(b2 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) /
      |      (CAST(CAST(n AS DECIMAL(19,0)) * q_total - s2 AS DOUBLE)
      |        * CAST(n * (SELECT nn FROM nn) AS DOUBLE)
      |        * CAST(n * (SELECT nn FROM nn) AS DOUBLE))
      |  END AS fisher
      |FROM sep ORDER BY label""".stripMargin

  /** Incremental boilerplate maintenance
    * ([[graft.streaming.BoilerplateIngest]]): the banner'd corpus
    * streams as two parity micro-batches; the standing segment-df
    * table advances per batch and each batch cleans against the state
    * AS OF ITS ARRIVAL — the oracle replays batch 0 against the even
    * half's df and batch 1 against the cumulative df. */
  private def q241(s: SparkSession, d: String): DataFrame = {
    val banner = concat_ws(" ",
      transform(sequence(lit(1), lit(10)), _ => concat(lit("banner"), col("source"))))
    val docs = t(s, d, "documents")
      .select(col("doc_id"), concat(banner, lit(" "), col("text")).as("text"))
    val srcDir = Scratch.dir(s, "q241-src")
    val base = System.currentTimeMillis()
    (0 to 1).foreach { i =>
      Scratch.stage(docs.filter(pmod(col("doc_id"), lit(2)) === i).coalesce(1),
        srcDir, base + i * 1000L)
    }
    val store = new graft.store.DocumentStore(s,
      Scratch.dir(s, "q241-store"))
    val feed = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val qy = graft.streaming.BoilerplateIngest.start(feed, store, "segdf",
      "segdocs", "clean", "doc_id", "text",
      Scratch.dir(s, "q241-ckpt"),
      segWords = 10, minDf = 5L)
    try qy.processAllAvailable() finally qy.stop()
    store.read("clean")
      .select(col("doc_id"), col("clean_text"), col("n_seg"), col("n_dropped"))
      .orderBy(col("doc_id"))
  }

  private val q241Sql =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_filter(string_split(
      |      array_to_string(list_transform(range(10), i -> 'banner' || source), ' ')
      |        || ' ' || text, ' '), w -> w <> '') AS toks
      |  FROM documents),
      |segd AS (
      |  SELECT doc_id, toks, CAST(ceil(len(toks) / 10.0) AS INTEGER) AS nseg
      |  FROM docs),
      |segs AS (
      |  SELECT doc_id, nseg,
      |    unnest(list_transform(range(nseg),
      |      i -> array_to_string(toks[(i * 10 + 1):(i * 10 + 10)], ' '))) AS seg,
      |    unnest(range(nseg)) AS idx
      |  FROM segd),
      |hot0 AS (SELECT seg FROM segs WHERE doc_id % 2 = 0
      |         GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 5),
      |hot01 AS (SELECT seg FROM segs
      |          GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 5),
      |kept AS (
      |  SELECT * FROM segs
      |  WHERE (doc_id % 2 = 0 AND seg NOT IN (SELECT seg FROM hot0))
      |     OR (doc_id % 2 = 1 AND seg NOT IN (SELECT seg FROM hot01))),
      |rec AS (
      |  SELECT doc_id, string_agg(seg, ' ' ORDER BY idx) AS clean_text,
      |    COUNT(*) AS n_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(rec.clean_text, '') AS clean_text,
      |  CAST(d.nseg AS BIGINT) AS n_seg,
      |  CAST(d.nseg - COALESCE(rec.n_kept, 0) AS BIGINT) AS n_dropped
      |FROM (SELECT doc_id, nseg FROM segd) d
      |LEFT JOIN rec ON d.doc_id = rec.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Horvitz–Thompson corpus estimates from the deterministic
    * stratified sample — [[graft.operators.Estimation.horvitzThompson]]
    * over [[graft.operators.Splits.stratifiedSample]] with per-source
    * hash-derived fractions; the gate carries the exact sample sums,
    * the estimate, AND the truth so the correction is auditable. */
  private def q242(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Estimation, Splits}
    val docs = t(s, d, "documents")
    // per-source fraction = 1000 + hashBucket(stringKey(source), 4)·1000 bp
    // — derived from data, bounded collect (one row per source)
    val bps = docs.select(col("source")).distinct()
      .withColumn("bp",
        Splits.hashBucket(Splits.stringKey(col("source")), 4) * 1000 + 1000)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val sample = Splits.stratifiedSample(docs, "doc_id", "source",
      bps.map { case (k, v) => k -> v / 10000.0 })
    val est = Estimation.horvitzThompson(sample, "source", "n_chars", bps)
    val truth = docs.groupBy(col("source"))
      .agg(sum(col("n_chars")).as("true_total"), count(lit(1)).as("n_docs"))
    est.join(truth, "source")
      .select(col("source"), col("n_sample"), col("sum_sample"), col("bp"),
        col("ht_total"), col("true_total"), col("n_docs"),
        (col("ht_total") - col("true_total").cast("double")).as("err"))
      .orderBy(col("source"))
  }

  private val q242Sql =
    """WITH srcs AS (
      |  SELECT source,
      |    CAST((((list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(list_filter(string_split(source, ''), c -> c <> ''),
      |          c -> CAST(ascii(c) AS BIGINT))),
      |        (a, b) -> (a * 31 + b) % 1000000007) % 2147483648)
      |      * 2654435761) % 4294967296 % 4 * 1000 + 1000) AS INTEGER) AS bp
      |  FROM (SELECT DISTINCT source FROM documents)),
      |samp AS (
      |  SELECT d.source, d.n_chars FROM documents d JOIN srcs USING (source)
      |  WHERE ((d.doc_id % 2147483648) * 2654435761) % 4294967296 % 10000 < srcs.bp),
      |est AS (
      |  SELECT source, COUNT(*) AS n_sample,
      |    CAST(SUM(n_chars) AS BIGINT) AS sum_sample
      |  FROM samp GROUP BY source),
      |truth AS (
      |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS true_total,
      |    COUNT(*) AS n_docs
      |  FROM documents GROUP BY source)
      |SELECT e.source, e.n_sample, e.sum_sample, srcs.bp,
      |  CAST(e.sum_sample AS DOUBLE) * 10000.0 / CAST(srcs.bp AS DOUBLE) AS ht_total,
      |  t.true_total, t.n_docs,
      |  CAST(e.sum_sample AS DOUBLE) * 10000.0 / CAST(srcs.bp AS DOUBLE)
      |    - CAST(t.true_total AS DOUBLE) AS err
      |FROM est e JOIN srcs USING (source) JOIN truth t ON e.source = t.source
      |ORDER BY e.source""".stripMargin

  /** Kaplan–Meier time-to-churn curve over user activity —
    * [[graft.operators.Survival.kaplanMeier]]: duration runs from a
    * user's first active day to the last day BEFORE their first
    * >2-day silence (event) or to their last observed day (censored);
    * exact grid counts, duration-ordered factor product. */
  private def q243(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, d, "events")
    val days = ev.filter(col("ts").isNotNull)
      .select(col("user_id").as("u"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("u")).orderBy(col("day"))
    val durs = days
      .withColumn("__gap", datediff(lead(col("day"), 1).over(w), col("day")))
      .groupBy(col("u"))
      .agg(min(col("day")).as("__f"), max(col("day")).as("__l"),
        min(when(col("__gap") > 2, col("day"))).as("__ev"))
      .select(
        datediff(coalesce(col("__ev"), col("__l")), col("__f")).as("dur"),
        col("__ev").isNotNull.as("event"))
    graft.operators.Survival.kaplanMeier(durs, "dur", "event")
  }

  private val q243Sql =
    """WITH d0 AS (
      |  SELECT user_id AS u, CAST(ts AS DATE) AS dy FROM events
      |  WHERE ts IS NOT NULL GROUP BY 1, 2),
      |g AS (
      |  SELECT u, dy,
      |    datediff('day', dy, lead(dy) OVER (PARTITION BY u ORDER BY dy)) AS gap
      |  FROM d0),
      |dur AS (
      |  SELECT datediff('day', MIN(dy),
      |      COALESCE(MIN(CASE WHEN gap > 2 THEN dy END), MAX(dy))) AS t,
      |    (MIN(CASE WHEN gap > 2 THEN dy END) IS NOT NULL) AS ev
      |  FROM g GROUP BY u),
      |grid AS (
      |  SELECT t, CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS c
      |  FROM dur GROUP BY t),
      |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n FROM grid),
      |ar AS (
      |  SELECT t, d, c,
      |    tot.n - CAST(SUM(d + c) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      + d + c AS n_risk
      |  FROM grid CROSS JOIN tot),
      |evt AS (SELECT * FROM ar WHERE d > 0)
      |SELECT e1.t, e1.n_risk, e1.d AS n_events, e1.c AS n_censored,
      |  list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
      |    list(CAST(e2.n_risk - e2.d AS DOUBLE) / CAST(e2.n_risk AS DOUBLE)
      |      ORDER BY e2.t)), (a, b) -> a * b) AS surv
      |FROM evt e1 JOIN evt e2 ON e2.t <= e1.t
      |GROUP BY e1.t, e1.n_risk, e1.d, e1.c
      |ORDER BY e1.t""".stripMargin

  /** Link-prediction training table: co-supply supplier pairs labeled
    * by [[graft.operators.NegativeSampling.labeledPairs]] and
    * featurized by [[graft.operators.GraphFeatures.affiliationFeatures]]
    * (common neighbors / Adamic–Adar / preferential attachment over
    * shared parts) — the full (features, label) table a ranker trains
    * on, no model in the loop. */
  private def q244(s: SparkSession, d: String): DataFrame = {
    val sp = t(s, d, "lineitem")
      .select(col("l_suppkey").cast("long").as("s"),
        col("l_partkey").cast("long").as("p")).distinct()
    val co = sp.as("a")
      .join(sp.as("b"), col("a.p") === col("b.p") && col("a.s") < col("b.s"))
      .select(col("a.s").as("s1"), col("b.s").as("s2")).distinct()
    val labeled = graft.operators.NegativeSampling.labeledPairs(co, "s1", "s2",
      k = 5, buckets = 64, seed = 3L)
    graft.operators.GraphFeatures.affiliationFeatures(labeled, "left", "right",
        sp, "s", "p")
      .select(col("left"), col("right"), col("label"), col("cn"),
        round(col("aa"), 6).as("aa"), col("pa"))
      .orderBy(col("label"), col("left"), col("right"))
  }

  private val q244Sql =
    """WITH sp AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
      |              CAST(l_partkey AS BIGINT) AS p FROM lineitem),
      |co AS (SELECT DISTINCT a.s AS l, b.s AS r
      |       FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s),
      |reps AS (
      |  SELECT ((r % 2147483648) * 2654435761) % 4294967296 // 67108864 AS bkt,
      |    MIN(r) AS r
      |  FROM (SELECT DISTINCT r FROM co) GROUP BY 1),
      |cand AS (
      |  SELECT DISTINCT lj.l, reps.r FROM (
      |    SELECT l, ((xor((l * 31 + j.j) % 2147483648, 3)) * 2654435761)
      |      % 4294967296 // 67108864 AS bkt
      |    FROM (SELECT DISTINCT l FROM co)
      |    CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS j) j) lj
      |  JOIN reps ON lj.bkt = reps.bkt),
      |neg AS (SELECT cand.l, cand.r FROM cand ANTI JOIN co
      |        ON cand.l = co.l AND cand.r = co.r),
      |lab AS (SELECT l, r, 1 AS label FROM co
      |        UNION ALL SELECT l, r, 0 FROM neg),
      |degl AS (SELECT s, COUNT(*) AS d FROM sp GROUP BY s),
      |degr AS (SELECT p, COUNT(*) AS dr FROM sp GROUP BY p),
      |shared AS (
      |  SELECT lab.l, lab.r, sp1.p, degr.dr
      |  FROM lab JOIN sp sp1 ON sp1.s = lab.l
      |  JOIN sp sp2 ON sp2.s = lab.r AND sp2.p = sp1.p
      |  JOIN degr ON degr.p = sp1.p),
      |feats AS (
      |  SELECT l, r, COUNT(*) AS cn,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(CASE WHEN dr > 1 THEN 1.0 / ln(CAST(dr AS DOUBLE))
      |           ELSE 0.0 END ORDER BY p)), (a, b) -> a + b) AS aa
      |  FROM shared GROUP BY l, r)
      |SELECT lab.l AS "left", lab.r AS "right", lab.label,
      |  CAST(COALESCE(feats.cn, 0) AS BIGINT) AS cn,
      |  round(COALESCE(feats.aa, 0.0), 6) AS aa,
      |  CAST(da.d * db.d AS BIGINT) AS pa
      |FROM lab LEFT JOIN feats ON lab.l = feats.l AND lab.r = feats.r
      |JOIN degl da ON da.s = lab.l JOIN degl db ON db.s = lab.r
      |ORDER BY label, lab.l, lab.r""".stripMargin

  /** The non-repetition Gopher rule battery with per-rule verdicts —
    * [[graft.operators.QualityFilters.gopherRules]] (Rae et al. 2021,
    * table A1; the repetition half is q84). Reference analog: the
    * quality gate ahead of vectorize-on-write ingestion. */
  private def q424(s: SparkSession, d: String): DataFrame =
    QualityFilters.gopherRules(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q424Sql = {
    val stop = QualityFilters.GopherStopwords
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH f AS (SELECT doc_id,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS w, text
       |  FROM documents),
       |g AS (SELECT doc_id,
       |  CAST(len(w) AS BIGINT) AS n_words,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(w, x -> CAST(length(x) AS BIGINT))),
       |    (a, b) -> a + b) AS sum_len,
       |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
       |    AS BIGINT) AS n_alpha,
       |  CAST(length(text) - length(replace(text, '#', ''))
       |    AS BIGINT) AS n_hash,
       |  CAST((length(text) - length(replace(text, '...', ''))) // 3
       |    AS BIGINT) AS n_ell,
       |  CAST(len(list_intersect(
       |    list_filter(string_split(lower(text), ' '), x -> x <> ''),
       |    $stop)) AS BIGINT) AS n_req_stopwords
       |FROM f),
       |r AS (SELECT doc_id, n_words,
       |  round(CASE WHEN n_words = 0 THEN 0.0
       |    ELSE sum_len * 1.0 / n_words END, 6) AS mean_word_len,
       |  round(CASE WHEN n_words = 0 THEN 0.0
       |    ELSE (n_hash + n_ell) * 1.0 / n_words END, 6) AS symbol_word_ratio,
       |  round(CASE WHEN n_words = 0 THEN 0.0
       |    ELSE n_alpha * 1.0 / n_words END, 6) AS frac_alpha_words,
       |  n_req_stopwords FROM g)
       |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
       |  frac_alpha_words, n_req_stopwords,
       |  n_words BETWEEN 50 AND 100000 AS pass_word_count,
       |  mean_word_len BETWEEN 3.0 AND 10.0 AS pass_word_len,
       |  symbol_word_ratio <= 0.1 AS pass_symbol,
       |  frac_alpha_words >= 0.8 AS pass_alpha,
       |  n_req_stopwords >= 2 AS pass_stopwords,
       |  (n_words BETWEEN 50 AND 100000)
       |    AND (mean_word_len BETWEEN 3.0 AND 10.0)
       |    AND symbol_word_ratio <= 0.1 AND frac_alpha_words >= 0.8
       |    AND n_req_stopwords >= 2 AS keep
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** DSIR importance selection (Xie et al. 2023) — hashed uni+bigram
    * LM log-ratio scores against a curated target slice (sources
    * src0/src1), exact top-50 by rounded score —
    * [[graft.operators.Dsir.selectTopK]]. The oracle replays the
    * char-fold bucket hash, both smoothed LMs, and the cut. */
  private def q425(s: SparkSession, d: String): DataFrame =
    Dsir.selectTopK(t(s, d, "documents"), "doc_id", "text",
      isTarget = col("source").isin("src0", "src1"), k = 50)

  private val q425Sql =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS w,
      |    source IN ('src0', 'src1') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, t, unnest(list_concat(w,
      |    list_transform(range(len(w) - 1),
      |      i -> w[CAST(i + 1 AS INTEGER)] || ' ' ||
      |           w[CAST(i + 2 AS INTEGER)]))) AS g
      |  FROM docs),
      |feat AS (
      |  SELECT doc_id, t,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(g, ''),
      |        c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) % 4096 AS b,
      |    COUNT(*) AS n
      |  FROM grams GROUP BY 1, 2, 3),
      |lm AS (SELECT b,
      |    CAST(SUM(CASE WHEN t THEN n ELSE 0 END) AS BIGINT) AS ct,
      |    CAST(SUM(CASE WHEN NOT t THEN n ELSE 0 END) AS BIGINT) AS cr
      |  FROM feat GROUP BY b),
      |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
      |    CAST(SUM(cr) AS BIGINT) AS nr FROM lm),
      |lam AS (SELECT b,
      |    ln((ct + 1) * 1.0 / (nt + 4096)) -
      |    ln((cr + 1) * 1.0 / (nr + 4096)) AS ld
      |  FROM lm, tot)
      |SELECT doc_id, round(SUM(n * ld), 6) AS score
      |FROM feat JOIN lam USING (b) WHERE NOT t
      |GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

  /** Epoch-repeat schedule under a 4× token budget —
    * [[graft.operators.DomainMix.repeatSchedule]] (Muennighoff et al.
    * 2022's data-constrained scaling audit). The oracle replays the
    * group sums, the uniform allocation, the epoch cap, and the
    * exponential-decay effective-token yield. */
  private def q426(s: SparkSession, d: String): DataFrame =
    DomainMix.repeatSchedule(t(s, d, "documents"), "source",
        size(graft.functions.TextFunctions.words(col("text"))).cast("long"))
      .orderBy(col("source"))

  private val q426Sql =
    """WITH g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
      |      AS BIGINT) AS unique_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(unique_tokens) AS BIGINT) AS ut,
      |    COUNT(*) AS ng FROM g),
      |a AS (SELECT source, n_docs, unique_tokens,
      |    ut * 4.0 / ng AS alloc,
      |    (ut * 4.0 / ng) / unique_tokens AS epochs_raw,
      |    least((ut * 4.0 / ng) / unique_tokens, 16.0) AS epochs
      |  FROM g CROSS JOIN tot),
      |e AS (SELECT source, n_docs, unique_tokens, alloc, epochs_raw, epochs,
      |    least(alloc, unique_tokens * 1.0) +
      |      unique_tokens * 15.0 *
      |        (1.0 - exp(-greatest(epochs - 1.0, 0.0) / 15.0)) AS eff
      |  FROM a)
      |SELECT source, n_docs, unique_tokens,
      |  round(alloc, 6) AS alloc_tokens,
      |  round(epochs, 6) AS epochs,
      |  epochs_raw > 16.0 AS capped,
      |  round(eff, 6) AS effective_tokens,
      |  round(eff / alloc, 6) AS utilization
      |FROM e ORDER BY source""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("q424_gopher_rules", q424, Some(q424Sql)),
    Q("q426_repeat_schedule", q426, Some(q426Sql)),
    Q("q425_dsir_selection", q425, Some(q425Sql), headline = true),
    Q("q222_vocab_growth", q222, Some(q222Sql)),
    Q("q223_fleiss_kappa", q223, Some(q223Sql)),
    Q("q224_calibration_ece", q224, Some(q224Sql)),
    Q("q225_conformal_threshold", q225, Some(q225Sql)),
    Q("q226_boilerplate_segments", q226, Some(q226Sql), headline = true),
    Q("q227_luhn_redact", q227, Some(q227Sql)),
    Q("q228_degree_assortativity", q228, Some(q228Sql)),
    Q("q229_seasonal_decompose", q229, Some(q229Sql)),
    Q("q230_rfm_scores", q230, Some(q230Sql)),
    Q("q231_nearest_join", q231, Some(q231Sql)),
    Q("q232_negative_samples", q232, Some(q232Sql)),
    Q("q233_exact_quantiles", q233, Some(q233Sql)),
    Q("q421_grouped_quantiles", q421, Some(q421Sql)),
    Q("q234_k_anonymity", q234, Some(q234Sql)),
    Q("q235_streaming_seasonal", q235, Some(q235Sql)),
    Q("q236_matryoshka_audit", q236, Some(q236Sql)),
    Q("q237_apportionment", q237, Some(q237Sql)),
    Q("q238_churn_labels", q238, Some(q238Sql)),
    Q("q239_query_expansion", q239, Some(q239Sql)),
    Q("q240_class_separability", q240, Some(q240Sql)),
    Q("q241_incremental_boilerplate", q241, Some(q241Sql)),
    Q("q242_ht_estimate", q242, Some(q242Sql)),
    Q("q243_kaplan_meier", q243, Some(q243Sql)),
    Q("q244_link_features", q244, Some(q244Sql)))
}
