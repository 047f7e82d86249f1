package graft.search

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.functions.CosineSimilarity

/** Optimizer rule: cosine top-k over a written IVF index becomes a
  * centroid-pruned scan (SURVEY §4, the "IVF rewrite Rule").
  *
  * Matches the canonical exact-search shape
  * {{{  Limit k (Sort sim DESC (Project [.., sim = cosine_sim(vec, lit(q))] (scan ivfIndexPath)))  }}}
  * and, when the scanned path carries an [[IvfIndex]] sidecar, injects
  * `Filter(centroid_id IN nearestLists(q, nprobe))` beneath the Project —
  * which the datasource turns into partition pruning, so unprobed list
  * directories are never read.
  *
  * This trades exactness for IO (ANN), so it is OFF unless the user opts
  * in with `spark.graft.ivf.rewrite.enabled=true`; `spark.graft.ivf.nprobe`
  * (default 1) sets the probe width. Multi-assigned indexes are skipped:
  * they need an id-dedup the rule cannot infer generically.
  *
  * Install: `spark.experimental.extraOptimizations ++= Seq(IvfTopKRewrite(spark))`
  * or cluster-wide via `spark.sql.extensions=graft.GraftExtensions`.
  */
case class IvfTopKRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  // get-with-default, never `getOption`: on an unset key `getOption`
  // builds and catches an exception, and every session runs this rule on
  // each optimizer iteration of every plan
  private def enabled: Boolean =
    spark.conf.get("spark.graft.ivf.rewrite.enabled", "false") == "true"
  private def nprobe: Int = spark.conf.get("spark.graft.ivf.nprobe", "1").toInt

  // deliberately uncached: an index rewritten in place (write is
  // mode=overwrite) must be re-read, and a path that gains a sidecar
  // later must start matching. The read is one small-file FS round trip
  // and only happens for plans already matching the top-k shape —
  // comparable to the file listing Spark itself does at plan time.
  private def sidecarFor(rel: LogicalRelation): Option[IvfIndex] =
    rel.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        IvfIndex.readSidecar(spark, fs.location.rootPaths.head.toString)
          .filter(_.multiAssign <= 1)
      case _ => None
    }

  private def probeOf(e: Expression): Option[Array[Float]] = e match {
    case Literal(a: ArrayData,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _)) =>
      Some(a.toFloatArray())
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformDown {
      case gl @ GlobalLimit(_, LocalLimit(_, srt: Sort)) if srt.global =>
        (srt.order, srt.child) match {
          case (Seq(SortOrder(key: AttributeReference, Descending, _, _), _*),
                proj @ Project(projList, rel: LogicalRelation)) =>
            val rewritten = for {
              idx <- sidecarFor(rel)
              simAlias <- projList.collectFirst {
                case a @ Alias(cos: CosineSimilarity, _) if a.exprId == key.exprId => cos
              }
              probe <- probeOf(simAlias.right).orElse(probeOf(simAlias.left))
              centroidAttr <- rel.output.find(_.name == "centroid_id")
            } yield {
              val lists = idx.nearestLists(probe, math.min(nprobe, idx.numLists))
              val pruned = Filter(
                In(centroidAttr, lists.map(i => Literal(i))), rel)
              gl.withNewChildren(Seq(gl.child.withNewChildren(Seq(
                srt.withNewChildren(Seq(Project(projList, pruned)))))))
            }
            rewritten.getOrElse(gl)
          case _ => gl
        }
    }
}
