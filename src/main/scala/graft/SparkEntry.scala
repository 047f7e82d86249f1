package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each query set covers one band of SURVEY §2's operator inventory; the
  * union is the engine's verifiable surface. Oracle SQL (DuckDB dialect,
  * ANSI subset) is provided for every SQL-expressible operator; the rest
  * (hash-seeded sketches, embedder-dependent ops) get rows-only checks
  * plus ScalaTest oracles.
  */
object SparkEntry {

  def querySets: Seq[QuerySet] =
    Seq(Relational, AdvancedQueries, VectorQueries, TextQueries,
      TextIndexQueries, TextEvalQueries, RagQueries,
      RankingQueries, StreamingQueries, CurationQueries, ExperimentQueries,
      PipelineQueries, GrowthQueries, AuditQueries, AuditTrendQueries,
      SignalQueries, InferenceQueries)

  private lazy val all: Seq[Q] = querySets.flatMap(_.queries)

  /** Flagship query on /root/testdata/sf0.001: the §7.2 RAG slice —
    * batch-embed the documents corpus, embed a probe question, exact
    * cosine top-10. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q60_rag_retrieval")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** The subset Bench times (headline = scale-sensitive plans). */
  def headlineQueries: Seq[String] = all.filter(_.headline).map(_.name)

  /** The local-iteration filter of Verify, Bench and ScaleSmoke:
    * `SPARK_GRAFT_ONLY=q85,q86` keeps the names that start with one of the
    * prefixes. Unset (the driver) = no filter. */
  def only: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)

  /** The names of `among`, in its order, that start with one of
    * `prefixes`; `None` keeps them all. */
  def select(among: Seq[String], prefixes: Option[Seq[String]]): Seq[String] =
    among.filter(n => prefixes.forall(_.exists(n.startsWith)))
}
