package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.TextFunctions._
import graft.operators.{Clusters, Decontaminate, Dedup, Packing, QualityFilters, Splits}

/** Text EVALUATION-AND-CURATION operators, split out of
  * [[TextQueries]] in round 17: dataset fingerprints, curriculum
  * ordering, drift/AUC/confusion evaluation, record linkage, bootstrap
  * and quantile normalization, BPE apply (the train half q137 stays
  * with the dedup family), stratified k-fold, mixing, survivorship and
  * PII incidence audits. Same oracle discipline as the parent file.
  */
object TextEvalQueries extends QuerySet {

  /** Per-source dataset fingerprints ([[graft.operators.Fingerprint]]):
    * order-independent release checksums over (doc_id, text, lang,
    * n_chars) — one narrow pass, no sort, and the oracle PROVES the
    * cross-engine property the operator exists for: DuckDB recomputes
    * every checksum from the raw parquet and must match bit-for-bit. */
  private def q196(s: SparkSession, d: String): DataFrame =
    graft.operators.Fingerprint.groupChecksum(t(s, d, "documents"),
      "source", Seq("doc_id", "text", "lang", "n_chars"))
      .orderBy(col("source"))

  private val q196Sql =
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
      |  FROM j)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(h) % 4611686018427387904 AS BIGINT) AS checksum
      |FROM h GROUP BY source ORDER BY source""".stripMargin

  /** Curriculum scheduling ([[graft.operators.Splits.curriculumOrder]])
    * over the trainable-LM difficulty signal: q185's integer surprisal
    * shards the corpus into bits-bands (easy → hard), the q92 seeded
    * order shuffles each band reproducibly — one composed DAG whose
    * oracle replays scoring, sharding, and ranking end to end. */
  private def q199(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val model = graft.operators.NgramLm.train(
      docs.filter(col("doc_id") % 3 === 0), "text")
    val scored = graft.operators.NgramLm.score(docs, "doc_id", "text", model)
    Splits.curriculumOrder(scored, "doc_id", "surprisal_bits", seed = 11L)
      .select(col("doc_id"), col("shard"), col("curriculum_rank"))
      .orderBy(col("shard"), col("curriculum_rank"))
  }

  private val q199Sql =
    """WITH rw AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents WHERE doc_id % 3 = 0),
      |v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
      |      FROM (SELECT unnest(w) AS t FROM rw)),
      |rbg AS (SELECT unnest(list_transform(range(len(w) - 1),
      |          i -> {'w1': w[i+1], 'w2': w[i+2]})) AS b
      |        FROM rw WHERE len(w) >= 2),
      |c2 AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12
      |       FROM rbg GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      |tw AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |       FROM documents),
      |tbg AS (SELECT doc_id, unnest(list_transform(range(len(w) - 1),
      |          i -> {'w1': w[i+1], 'w2': w[i+2]})) AS b
      |        FROM tw WHERE len(w) >= 2),
      |p AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM tbg),
      |sc AS (SELECT doc_id,
      |         CAST(length(bin(COALESCE(c1, 0) + v)) -
      |              length(bin(COALESCE(c12, 0) + 1)) AS BIGINT) AS s
      |       FROM p LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
      |            CROSS JOIN v),
      |agg AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS sb FROM sc GROUP BY doc_id),
      |fin AS (SELECT d.doc_id, CAST(COALESCE(sb, 0) AS BIGINT) AS sb
      |        FROM documents d LEFT JOIN agg USING (doc_id)),
      |sch AS (SELECT doc_id,
      |          CAST(length(bin(greatest(sb, 0) + 1)) AS INTEGER) AS shard,
      |          (xor(doc_id % 2147483648, 11) * 2654435761) % 4294967296 AS k
      |        FROM fin)
      |SELECT doc_id, shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT)
      |    AS curriculum_rank
      |FROM sch ORDER BY shard, curriculum_rank""".stripMargin

  /** Two-sample KS drift, each source vs its complement, over doc
    * length — distribution-SHAPE drift beside q182's token-mix TV. The
    * sup runs on the pooled value grid with exact BIGINT numerators
    * (D·n_s·n_rest), one pinned double division closes; see
    * [[graft.operators.Drift.ksPerSource]] for the algebra and the
    * |values|×|sources| grid scale shape (corpus scanned once, never
    * shuffled). */
  private def q200(s: SparkSession, d: String): DataFrame =
    graft.operators.Drift.ksPerSource(
        t(s, d, "documents").select(col("source"), col("n_chars")),
        "n_chars", "source")
      .select(col("source"), col("n_source"), col("n_rest"),
        col("ks_num"), col("ks"))
      .orderBy(col("source"))

  private val q200Sql =
    """WITH c AS (SELECT source, n_chars AS v, COUNT(*) AS cnt
      |           FROM documents GROUP BY 1, 2),
      |vt AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS ct FROM c GROUP BY v),
      |ns AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS nsrc FROM c GROUP BY source),
      |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM vt),
      |grid AS (SELECT ns.source, vt.v, vt.ct, COALESCE(c.cnt, 0) AS cnt, ns.nsrc
      |         FROM vt CROSS JOIN ns
      |         LEFT JOIN c ON c.source = ns.source AND c.v = vt.v),
      |cum AS (SELECT source, nsrc,
      |          SUM(cnt) OVER (PARTITION BY source ORDER BY v) AS cums,
      |          SUM(ct) OVER (PARTITION BY source ORDER BY v) AS cumt
      |        FROM grid),
      |m AS (SELECT source, nsrc, (SELECT n FROM tot) - nsrc AS nrest,
      |        MAX(ABS(cums * ((SELECT n FROM tot) - nsrc)
      |                - (cumt - cums) * nsrc)) AS ks_num
      |      FROM cum GROUP BY source, nsrc)
      |SELECT source, nsrc AS n_source, nrest AS n_rest,
      |  CAST(ks_num AS BIGINT) AS ks_num,
      |  CAST(ks_num AS DOUBLE) / CAST(nsrc * nrest AS DOUBLE) AS ks
      |FROM m ORDER BY source""".stripMargin

  /** Rank-sum / ROC-AUC separability audit: per source, does document
    * LENGTH separate English from non-English docs? AUC = P(len⁺ >
    * len⁻) with ties at ½ — the validity check a curator runs before
    * trusting a cheap score as a filter. Exact 2·U₁ BIGINT via the
    * tie-averaged rank identity; see [[graft.operators.RankTests]]. */
  private def q201(s: SparkSession, d: String): DataFrame =
    graft.operators.RankTests.aucPerGroup(
        t(s, d, "documents").select(col("source"), col("lang"), col("n_chars")),
        "source", "n_chars", col("lang") === "en")
      .select(col("source"), col("n_pos"), col("n_neg"), col("u2"), col("auc"))
      .orderBy(col("source"))

  private val q201Sql =
    """WITH r AS (SELECT source, n_chars, (lang = 'en') AS pos,
      |    RANK() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
      |    COUNT(*) OVER (PARTITION BY source, n_chars) AS tie
      |  FROM documents),
      |g AS (SELECT source,
      |    CAST(SUM(CASE WHEN pos THEN 2 * rk + tie - 1 ELSE 0 END) AS BIGINT) AS r2,
      |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    COUNT(*) AS n
      |  FROM r GROUP BY source)
      |SELECT source, n1 AS n_pos, n - n1 AS n_neg,
      |  r2 - n1 * (n1 + 1) AS u2,
      |  CASE WHEN n1 = 0 OR n = n1 THEN NULL
      |    ELSE CAST(r2 - n1 * (n1 + 1) AS DOUBLE)
      |         / CAST(2 * n1 * (n - n1) AS DOUBLE) END AS auc
      |FROM g ORDER BY source""".stripMargin

  /** Blocked fuzzy record linkage over part names — the pairwise
    * entity-resolution form of q39's probe scan: block on (first
    * token, token count), verify candidates with threshold-bounded
    * levenshtein ≤ 2, and emit the bounded per-record face (candidate
    * count, match count, deterministic best match). Pair space is
    * Σ|block|², never n²; see [[graft.operators.Linkage]]. */
  private def q202(s: SparkSession, d: String): DataFrame = {
    val words = split(col("p_name"), " ")
    val bk = concat_ws("|", element_at(words, 1), size(words).cast("string"))
    graft.operators.Linkage.bestMatch(
        t(s, d, "part").select(col("p_partkey"), col("p_name")),
        "p_partkey", "p_name", bk, maxDist = 2)
      .select(col("id"), col("n_block"), col("n_match"),
        col("best_dist"), col("best_id"))
      .orderBy(col("id"))
  }

  private val q202Sql =
    """WITH p AS (SELECT p_partkey, p_name,
      |    string_split(p_name, ' ')[1] || '|'
      |      || CAST(len(string_split(p_name, ' ')) AS VARCHAR) AS bk
      |  FROM part),
      |pairs AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
      |    levenshtein(a.p_name, b.p_name) AS dist
      |  FROM p a JOIN p b ON a.bk = b.bk AND a.p_partkey <> b.p_partkey),
      |agg AS (SELECT id_a, COUNT(*) AS n_block,
      |    CAST(SUM(CASE WHEN dist <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
      |    MIN(CASE WHEN dist <= 2 THEN dist * 10000000 + id_b END) AS best
      |  FROM pairs GROUP BY id_a)
      |SELECT p.p_partkey AS id,
      |  COALESCE(n_block, 0) AS n_block, COALESCE(n_match, 0) AS n_match,
      |  CAST(best // 10000000 AS BIGINT) AS best_dist,
      |  CAST(best % 10000000 AS BIGINT) AS best_id
      |FROM p LEFT JOIN agg ON agg.id_a = p.p_partkey
      |ORDER BY id""".stripMargin

  /** Poisson-bootstrap CI for mean doc length per source — the
    * corpus-scale resampling scheme (per-row independent Poisson(1)
    * weights, B replicates in ONE narrow pass; shuffle carries
    * sources×B summary rows, never corpus×B). Weights come from a
    * deterministic integer hash through precomputed inverse-CDF grid
    * thresholds, replicate means are exact-BIGINT ratios, and the CI
    * bounds are exact order statistics over the B means — the whole
    * pipeline replays bit-for-bit in SQL. See
    * [[graft.operators.Bootstrap]]. */
  private def q203(s: SparkSession, d: String): DataFrame =
    graft.operators.Bootstrap.poissonCi(
        t(s, d, "documents").select(col("source"), col("doc_id"), col("n_chars")),
        "source", "n_chars", "doc_id", b = 200)
      .orderBy(col("source"))

  private val q203Sql =
    """WITH b AS (SELECT unnest(range(200)) AS b),
      |u AS (SELECT d.source, d.n_chars, b.b,
      |    ((xor(d.doc_id % 2147483648, (b.b * 1315423911) % 2147483648))
      |      * 2654435761) % 4294967296 AS u
      |  FROM documents d CROSS JOIN b),
      |w AS (SELECT source, n_chars, b,
      |    CASE WHEN u >= 1580030168 THEN 1 ELSE 0 END
      |    + CASE WHEN u >= 3160060337 THEN 1 ELSE 0 END
      |    + CASE WHEN u >= 3950075421 THEN 1 ELSE 0 END
      |    + CASE WHEN u >= 4213413783 THEN 1 ELSE 0 END
      |    + CASE WHEN u >= 4279248373 THEN 1 ELSE 0 END
      |    + CASE WHEN u >= 4292415291 THEN 1 ELSE 0 END AS wt
      |  FROM u),
      |rep AS (SELECT source, b,
      |    CAST(SUM(wt) AS BIGINT) AS den,
      |    CAST(SUM(n_chars * wt) AS BIGINT) AS num
      |  FROM w GROUP BY source, b HAVING SUM(wt) > 0),
      |m AS (SELECT source, b, CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS mean_b,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE), b) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS nb
      |  FROM rep),
      |ci AS (SELECT source,
      |    MAX(CASE WHEN rn = CAST(floor(0.025 * (nb - 1)) AS BIGINT) + 1
      |             THEN mean_b END) AS lo,
      |    MAX(CASE WHEN rn = CAST(floor(0.975 * (nb - 1)) AS BIGINT) + 1
      |             THEN mean_b END) AS hi
      |  FROM m GROUP BY source),
      |pt AS (SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sx
      |       FROM documents GROUP BY source)
      |SELECT p.source, n, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean, lo, hi
      |FROM pt p JOIN ci USING (source) ORDER BY source""".stripMargin

  /** Quantile normalization across sources: every source's doc-length
    * distribution mapped onto the POOLED distribution, so one global
    * threshold means the same thing for every feed. Element selection
    * on pure integer rank arithmetic (no interpolation); the pooled
    * ranking is a vocab-grid + `explode(sequence)` rank table — NEVER
    * a global window. See [[graft.operators.QuantileNorm]]. */
  private def q206(s: SparkSession, d: String): DataFrame =
    graft.operators.QuantileNorm.toPooled(
        t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", "doc_id")
      .select(col("doc_id"), col("source"), col("n_chars"), col("qnorm"))
      .orderBy(col("doc_id"))

  private val q206Sql =
    """WITH rows_ AS (SELECT doc_id, source, n_chars AS v FROM documents),
      |grid AS (SELECT v, COUNT(*) AS c FROM rows_ GROUP BY v),
      |g2 AS (SELECT v, c, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS hi FROM grid),
      |rt AS (SELECT v AS pv, unnest(range(hi - c + 1, hi + 1)) AS rank FROM g2),
      |n AS (SELECT COUNT(*) AS n FROM rows_),
      |rk AS (SELECT doc_id, source, v,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS r,
      |    COUNT(*) OVER (PARTITION BY source) AS ng
      |  FROM rows_),
      |tg AS (SELECT doc_id, source, v,
      |    CASE WHEN ng = 1 THEN ((SELECT n FROM n) - 1) // 2 + 1
      |         ELSE ((r - 1) * ((SELECT n FROM n) - 1)) // (ng - 1) + 1
      |    END AS rank
      |  FROM rk)
      |SELECT doc_id, source, v AS n_chars, pv AS qnorm
      |FROM tg JOIN rt USING (rank) ORDER BY doc_id""".stripMargin

  /** Entity resolution end to end (the Fellegi–Sunter pipeline
    * completed): q202's blocked fuzzy pairs → q85's connected
    * components → one canonical row per entity (cluster size + the
    * min-id member's name). One composed DAG of the engine's own
    * operators — a semantic change in the blocking, the band, or the
    * CC label rule breaks the hash (the q195 composition discipline).
    * CC's min-label IS the canonical member id, so the roll-up is one
    * aggregate + one join back for the name. */
  private def q209(s: SparkSession, d: String): DataFrame = {
    val part = t(s, d, "part").select(col("p_partkey"), col("p_name"))
    // collapse exact duplicates FIRST: a duplicate class of size m is
    // m² dist-0 pairs if linked raw (measured 37 s at sf0.1) but ONE
    // representative node here — the fuzzy join then runs on distinct
    // names only. Components are provably identical: within-class
    // edges only connect what the representative membership already
    // connects, and rep_id = min id of its class, so the component
    // min-label IS still the global min member id.
    val reps = part.groupBy(col("p_name"))
      .agg(min(col("p_partkey")).as("rep_id"), count(lit(1)).as("n_dup"))
    val words = split(col("p_name"), " ")
    val bk = concat_ws("|", element_at(words, 1), size(words).cast("string"))
    val pairs = graft.operators.Linkage.blockedPairs(
      reps, "rep_id", "p_name", bk, maxDist = 1)
    val cc = graft.operators.Clusters.connectedComponents(
      reps.select(col("rep_id")), "rep_id", pairs, "id_a", "id_b")
    cc.join(reps, "rep_id")
      .groupBy(col("cluster_id"))
      .agg(sum(col("n_dup")).as("n_members"))
      .join(part.select(col("p_partkey").as("cluster_id"),
        col("p_name").as("canonical_name")), "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("canonical_name"))
      .orderBy(col("cluster_id"))
  }

  private val q209Sql =
    """WITH RECURSIVE p AS (SELECT p_partkey, p_name,
      |    string_split(p_name, ' ')[1] || '|'
      |      || CAST(len(string_split(p_name, ' ')) AS VARCHAR) AS bk
      |  FROM part),
      |pairs AS (SELECT a.p_partkey AS ia, b.p_partkey AS ib
      |  FROM p a JOIN p b ON a.bk = b.bk AND a.p_partkey < b.p_partkey
      |  WHERE levenshtein(a.p_name, b.p_name) <= 1),
      |e AS (SELECT ia AS u, ib AS v FROM pairs UNION ALL SELECT ib, ia FROM pairs),
      |r(u, v) AS (SELECT p_partkey, p_partkey FROM part
      |            UNION SELECT r.u, e.v FROM r JOIN e ON r.v = e.u),
      |lab AS (SELECT u AS id, MIN(v) AS cluster_id FROM r GROUP BY u),
      |g AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      |      FROM lab GROUP BY cluster_id)
      |SELECT g.cluster_id, g.n_members, part.p_name AS canonical_name
      |FROM g JOIN part ON part.p_partkey = g.cluster_id
      |ORDER BY g.cluster_id""".stripMargin

  /** BPE ENCODE with the trained merge table — q137's other half: the
    * corpus vocabulary's encoding after the 12 learned merges, and the
    * gate compares the COMPLETE per-word token split ('~'-joined
    * symbols) plus token counts. Any divergence in merge choice,
    * application order, or token boundaries (e.g. a merge firing inside
    * a multi-char token) changes some word's encoding and breaks the
    * hash. The encoding is the merge loop's final word state: the corpus
    * is touched once for frequencies and never again. */
  private def q210(s: SparkSession, d: String): DataFrame = {
    val bpe = graft.functions.BpeTrainer.trainWords(t(s, d, "documents"), "text",
      numMerges = 12, site = "q210_bpe_apply")
    import s.implicits._
    bpe.words.map { case (w, cnt, toks) => (w, cnt, toks.mkString(" "), toks.length.toLong) }
      .toDF("w", "cnt", "toks", "n_tokens")
      .orderBy(col("w"))
  }

  // lazy: same unrolled-CTE training replay as q137Sql, but the word
  // column rides along so the final select carries each word's encoding
  private lazy val q210Sql: String = {
    val steps = 12
    val ctes = scala.collection.mutable.ArrayBuffer(
      """words AS MATERIALIZED (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w)""".stripMargin,
      """w0 AS MATERIALIZED (SELECT w, array_to_string(list_transform(range(length(w)), i -> w[i+1]), ' ') AS toks, cnt FROM words)""")
    for (s <- 1 to steps) {
      ctes += s"""p$s AS MATERIALIZED (
        |  SELECT z[1] || ' ' || z[2] AS pr, SUM(cnt) AS c
        |  FROM (SELECT unnest(list_zip(string_split(toks,' '), string_split(toks,' ')[2:])) AS z, cnt FROM w${s - 1})
        |  WHERE z[2] IS NOT NULL GROUP BY 1)""".stripMargin
      ctes += s"b$s AS (SELECT pr FROM p$s ORDER BY c DESC, pr LIMIT 1)"
      ctes += s"""b${s}x AS (SELECT ' ' || pr || ' ' AS pat, ' ' || replace(pr,' ','~') || ' ' AS rep FROM b$s)"""
      ctes += s"""w$s AS MATERIALIZED (SELECT w, trim(replace(replace(' ' || toks || ' ',
        |  (SELECT pat FROM b${s}x), (SELECT rep FROM b${s}x)),
        |  (SELECT pat FROM b${s}x), (SELECT rep FROM b${s}x))) AS toks, cnt FROM w${s - 1})""".stripMargin
    }
    "WITH " + ctes.mkString(",\n") +
      s"\nSELECT w, cnt, toks, CAST(len(string_split(toks, ' ')) AS BIGINT) AS n_tokens" +
      s"\nFROM w$steps ORDER BY w"
  }

  /** Leakage-safe GROUP k-fold over CONTENT: folds keyed by the exact
    * text (the dedup-aware CV protocol — a duplicated document must
    * never sit in both a training and an evaluation fold). The
    * no-straddle invariant is gated in-query (any content group seen
    * in two folds zeroes the output); the compared rows are the
    * per-fold document/group counts. See
    * [[graft.operators.Splits.withGroupKFold]]. */
  private def q211(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val f = Splits.withGroupKFold(docs, "text", k = 5)
    val straddle = f.groupBy(col("text"))
      .agg(countDistinct(col("fold")).as("nf"))
      .filter(col("nf") > 1).count()
    val out = f.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_groups"))
      .orderBy(col("fold"))
    if (straddle == 0L) out else out.limit(0)
  }

  private val q211Sql =
    """WITH k AS (SELECT doc_id, text,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) AS key
      |  FROM documents),
      |f AS (SELECT doc_id, text,
      |    CAST((((key % 2147483648) * 2654435761) % 4294967296) % 5 AS INT) AS fold
      |  FROM k)
      |SELECT fold, COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT text) AS BIGINT) AS n_groups
      |FROM f GROUP BY fold ORDER BY fold""".stripMargin

  /** Temperature-flattened language mixing END TO END (the multilingual
    * sampling-temperature recipe, α = ½): data-derived weights
    * w_g = (√p_g / Σ√p) · N / n_g through the deterministic resample —
    * the dominant language thins, the tail languages oversample, the
    * expected row count is preserved. Every float step is
    * engine-portable by construction (IEEE sqrt is correctly rounded,
    * the normalizer folds in sorted-key order, resample thresholds
    * resolve on the 0-9999 integer grid), so the oracle replays the
    * WEIGHT DERIVATION itself, not a literal constant (q101 gates the
    * resample mechanics; this gates the derivation feeding it). */
  private def q212(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("lang"))
    val w = Splits.temperatureWeights(docs, "lang", alpha = 0.5)
    Splits.resampleByWeight(docs, "doc_id", "lang", w, defaultWeight = 1.0)
      .select(col("doc_id"), col("lang"), col("copy_id"))
      .orderBy(col("doc_id"), col("copy_id"))
  }

  private val q212Sql =
    """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
      |           FROM documents GROUP BY lang),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
      |q AS (SELECT lang, n,
      |        sqrt(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) AS qv
      |      FROM c CROSS JOIN tot),
      |z AS (SELECT list_reduce(list(qv ORDER BY lang), (a, b) -> a + b) AS z
      |      FROM q),
      |w AS (SELECT lang,
      |        ((qv / (SELECT z FROM z)) * CAST((SELECT total FROM tot) AS DOUBLE))
      |          / CAST(n AS DOUBLE) AS w
      |      FROM q),
      |wf AS (SELECT lang, CAST(floor(w) AS BIGINT) AS base,
      |         CAST(floor((w - floor(w)) * 10000 + 0.5) AS BIGINT) AS cut
      |       FROM w),
      |x AS (SELECT doc_id, d.lang, base, cut,
      |        (doc_id % 2147483648) * 2654435761 % 4294967296 % 10000 AS b
      |      FROM documents d JOIN wf ON wf.lang = d.lang),
      |r AS (SELECT doc_id, lang,
      |        base + CASE WHEN b < cut THEN 1 ELSE 0 END AS reps FROM x)
      |SELECT doc_id, lang, CAST(unnest(range(reps)) AS BIGINT) AS copy_id
      |FROM r WHERE reps > 0 ORDER BY doc_id, copy_id""".stripMargin

  /** Operating-point selection: per source, the deepest length-ranked
    * document prefix keeping ≥ ½ precision against the en-language
    * weak label — "what cutoff keeps the filter this clean, and how
    * much survives it". Exact rational feasibility test, rank-based
    * boundary; NULL row for sources with no feasible prefix. See
    * [[graft.operators.RankTests.precisionThreshold]]. */
  private def q213(s: SparkSession, d: String): DataFrame =
    graft.operators.RankTests.precisionThreshold(
        t(s, d, "documents").select(col("source"), col("lang"),
          col("n_chars"), col("doc_id")),
        "source", "n_chars", col("lang") === "en", "doc_id",
        pNum = 1L, pDen = 2L)
      .select(col("source"), col("best_rank"), col("thr_score"),
        col("n_pos_kept"), col("prec"))
      .orderBy(col("source"))

  private val q213Sql =
    """WITH r AS (SELECT source, n_chars, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS cp
      |  FROM documents),
      |g AS (SELECT source,
      |        MAX(CASE WHEN cp * 2 >= rn * 1 THEN rn END) AS best_rank
      |      FROM r GROUP BY source)
      |SELECT g.source, CAST(best_rank AS BIGINT) AS best_rank,
      |  r.n_chars AS thr_score, CAST(r.cp AS BIGINT) AS n_pos_kept,
      |  CAST(r.cp AS DOUBLE) / CAST(r.rn AS DOUBLE) AS prec
      |FROM g LEFT JOIN r ON r.source = g.source AND r.rn = g.best_rank
      |ORDER BY g.source""".stripMargin

  /** Neyman-optimal eval-budget allocation across sources: 200 eval
    * slots split ∝ N_h·σ_h of doc length — the variance-minimizing
    * stratified design, derived exactly (integer moments, IEEE sqrt,
    * ordered-fold normalizer, half-up grid). Feeds q69's stratified
    * sampler. See [[graft.operators.Splits.neymanAllocation]]. */
  private def q216(s: SparkSession, d: String): DataFrame =
    Splits.neymanAllocation(
        t(s, d, "documents").select(col("source"), col("n_chars")),
        "source", "n_chars", nTotal = 200L)
      .select(col("source"), col("n_h"), col("sigma"), col("alloc"))
      .orderBy(col("source"))

  private val q216Sql =
    """WITH st AS (SELECT source, COUNT(*) AS n_h,
      |    CAST(SUM(n_chars) AS BIGINT) AS sx,
      |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
      |  FROM documents GROUP BY source),
      |s2 AS (SELECT source, n_h,
      |    sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE)
      |         / CAST(n_h * n_h AS DOUBLE)) AS sigma
      |  FROM st),
      |w AS (SELECT source, n_h, sigma, CAST(n_h AS DOUBLE) * sigma AS w FROM s2),
      |z AS (SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS z
      |      FROM w)
      |SELECT source, n_h, sigma,
      |  CAST(floor(CAST(200 AS DOUBLE) * w / (SELECT z FROM z) + 0.5) AS BIGINT)
      |    AS alloc
      |FROM w ORDER BY source""".stripMargin

  /** Declared-vs-detected language confusion — the metadata-trust
    * audit: a feed whose declared `lang` went wrong (mislabeled
    * scrape, wrong default) shows as off-diagonal mass before anyone
    * trains on "English" that isn't. One codegen lang-id projection
    * (q44's operator) + one map-side-combined count; the matrix is
    * |langs|² rows by construction. */
  private def q218(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("lang"), langId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_pred"))

  private val q218Sql = {
    def sl(lang: String) =
      StopwordLists.toMap.apply(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    val langs = StopwordLists.map(_._1)
    val scores = langs.map(l => s"len(list_intersect(w, ${sl(l)})) AS s_$l").mkString(",\n  ")
    val g = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = $g THEN '$l'").mkString("\n  ")
    s"""WITH w AS (SELECT lang, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
       |           FROM documents),
       |sc AS (SELECT lang,
       |  $scores
       |FROM w),
       |p AS (SELECT lang, CASE WHEN $g = 0 THEN 'und'
       |  $cases
       |  END AS lang_pred
       |FROM sc)
       |SELECT lang, lang_pred, COUNT(*) AS n
       |FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin
  }

  /** Dedup survivorship report — the per-source accounting every
    * curation run publishes: of each source's documents, how many fell
    * to exact dedup, how many to near-dup (Jaccard ≥ 0.85 on exact
    * survivors, larger id removed — the first-wins rule), how many
    * survive. One composed DAG of the audited q40 + q41 machinery;
    * the removal ledger columns must sum back to n_docs by
    * construction, so a drop anywhere breaks the hash. */
  private def q219(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("source"), col("text"))
    val keep = docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    val surv0 = docs.join(keep, Seq("doc_id"), "left_semi")
    val pairs = Dedup.ngramJaccardPairs(surv0, "doc_id", "text",
      n = 3, threshold = 0.85, hashShingles = true)
    val nearRemoved = pairs.select(col("b_id").as("doc_id")).distinct()
    val ex = docs.join(keep, Seq("doc_id"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_exact_removed"))
    val nr = surv0.join(nearRemoved, Seq("doc_id"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("n_near_removed"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(ex, Seq("source"), "left")
      .join(nr, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_exact_removed"), lit(0L)).as("n_exact_removed"),
        coalesce(col("n_near_removed"), lit(0L)).as("n_near_removed"),
        (col("n_docs") - coalesce(col("n_exact_removed"), lit(0L)) -
          coalesce(col("n_near_removed"), lit(0L))).as("n_survivors"))
      .orderBy(col("source"))
  }

  private val q219Sql =
    """WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
      |surv AS (SELECT d.doc_id, d.source, d.text
      |         FROM documents d JOIN keep USING (doc_id)),
      |w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |      FROM surv),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(len(w) - 2),
      |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
      |       FROM w WHERE len(w) >= 3),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT a_id, b_id FROM inter
      |          JOIN sizes sa ON sa.doc_id = a_id
      |          JOIN sizes sb ON sb.doc_id = b_id
      |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.85),
      |nrm AS (SELECT DISTINCT b_id AS doc_id FROM pairs),
      |base AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |ex AS (SELECT source, COUNT(*) AS n_exact_removed FROM documents
      |       WHERE doc_id NOT IN (SELECT doc_id FROM keep) GROUP BY source),
      |nrg AS (SELECT source, COUNT(*) AS n_near_removed
      |        FROM surv JOIN nrm USING (doc_id) GROUP BY source)
      |SELECT b.source, n_docs,
      |  CAST(COALESCE(n_exact_removed, 0) AS BIGINT) AS n_exact_removed,
      |  CAST(COALESCE(n_near_removed, 0) AS BIGINT) AS n_near_removed,
      |  n_docs - CAST(COALESCE(n_exact_removed, 0) AS BIGINT)
      |         - CAST(COALESCE(n_near_removed, 0) AS BIGINT) AS n_survivors
      |FROM base b LEFT JOIN ex USING (source) LEFT JOIN nrg USING (source)
      |ORDER BY source""".stripMargin

  /** PII incidence report — the corpus-level audit OVER q87's per-row
    * machinery: per nation-cohort, how many rows carry each PII kind
    * and the total match counts — the "how contaminated is this feed,
    * and is redaction load balanced" question a privacy review asks
    * before (and after) running the redactor. Same synthesized PII
    * and staged regex semantics as q87 (hash-green there), one
    * map-side-combined roll-up here. */
  private def q221(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PiiFunctions._
    val raw = concat(
      col("c_name"), lit(" <user"), col("c_custkey"), lit("@example.com> ip 10.0."),
      col("c_nationkey"), lit("."), col("c_custkey") % 200, lit(" tel 555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))
    val counts = piiCounts(raw).map { case (n, c) => c.cast("long").as(n) }
    t(s, d, "customer")
      .select(col("c_nationkey") +: counts: _*)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_emails")).as("total_emails"),
        sum(when(col("n_emails") > 0, 1L).otherwise(0L)).as("rows_with_email"),
        sum(col("n_ips")).as("total_ips"),
        sum(col("n_phones")).as("total_phones"))
      .orderBy(col("c_nationkey"))
  }

  private val q221Sql = {
    import graft.functions.PiiFunctions._
    s"""WITH raw AS (SELECT c_nationkey,
       |  c_name || ' <user' || c_custkey || '@example.com> ip 10.0.' || c_nationkey
       |    || '.' || (c_custkey % 200) || ' tel 555-'
       |    || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS t
       |  FROM customer),
       |steps AS (SELECT c_nationkey, t,
       |    regexp_replace(t, '$EmailRe', '<EMAIL>', 'g') AS t1,
       |    regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
       |      '$Ipv4Re', '<IP>', 'g') AS t2
       |  FROM raw),
       |cnt AS (SELECT c_nationkey,
       |    len(regexp_extract_all(t, '$EmailRe')) AS n_emails,
       |    len(regexp_extract_all(t1, '$Ipv4Re')) AS n_ips,
       |    len(regexp_extract_all(t2, '$PhoneRe')) AS n_phones
       |  FROM steps)
       |SELECT c_nationkey, COUNT(*) AS n_rows,
       |  CAST(SUM(n_emails) AS BIGINT) AS total_emails,
       |  CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS rows_with_email,
       |  CAST(SUM(n_ips) AS BIGINT) AS total_ips,
       |  CAST(SUM(n_phones) AS BIGINT) AS total_phones
       |FROM cnt GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin
  }

  override val queries: Seq[Q] = Seq(
    Q("q196_dataset_fingerprint", q196, Some(q196Sql)),
    Q("q199_curriculum_order", q199, Some(q199Sql)),
    Q("q200_ks_drift", q200, Some(q200Sql)),
    Q("q201_rank_auc", q201, Some(q201Sql)),
    Q("q202_record_linkage", q202, Some(q202Sql), headline = true),
    Q("q203_poisson_bootstrap", q203, Some(q203Sql)),
    Q("q206_quantile_normalize", q206, Some(q206Sql)),
    Q("q209_entity_groups", q209, Some(q209Sql), headline = true),
    Q("q210_bpe_apply", q210, Some(q210Sql)),
    Q("q211_group_kfold", q211, Some(q211Sql)),
    Q("q212_temperature_mix", q212, Some(q212Sql)),
    Q("q213_precision_threshold", q213, Some(q213Sql)),
    Q("q216_neyman_allocation", q216, Some(q216Sql)),
    Q("q218_lang_confusion", q218, Some(q218Sql)),
    Q("q219_dedup_survivorship", q219, Some(q219Sql)),
    Q("q221_pii_incidence", q221, Some(q221Sql)))
}
