package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Decision-stump training — the best single (feature, threshold)
  * split by exact Gini impurity: the simplest model the engine can
  * TRAIN end to end relationally, and the unit of real systems
  * (boosting stumps, tree root finding, rule mining's first cut). The
  * curation use is diagnostic: "which single feature best separates
  * kept from dropped documents, and at what value" — an explanation,
  * not just a score.
  *
  * Threshold candidates come from each feature's exact quantile grid
  * (rank k·n/(t+1) order statistics — bounded and deterministic, never
  * the corpus's distinct values), so the candidate set is `thresholds`
  * per feature at ANY corpus size.
  *
  * ONE corpus scan (r20 — the r19 verdict's q263/q276 job-ladder
  * finding): the per-(feature, value) exact histogram with counts and
  * positive counts is the sufficient statistic for EVERYTHING the
  * stump needs — per-feature totals, the rank-located candidate
  * thresholds, and each candidate's exact (n_left, pos_left) cell (the
  * cumulative counts AT the candidate's histogram row). The previous
  * shape paid ~4 corpus passes across a ~24-job ladder (count, the
  * two-phase groupedRanks, and a cells+tot fan the final action could
  * not fully share); this computes the histogram once, caches the
  * grid-sized result, and finishes on bounded-grid windows. Histogram
  * size is bounded by the features' distinct-value domains (the house
  * rule: integral micro-scale features — lengths, token counts), not
  * the corpus; the cumulation is the two-level super-bucket scan
  * (ExactQuantile.cumulateBuckets's recipe), so a wide integer domain
  * never funnels one window task. Its broadcast offsets relation holds
  * one row per populated super-bucket of 2^[[SuperBits]] values, so a
  * feature whose value span needs more than [[MaxSuperBuckets]] of them
  * fails loudly instead of broadcasting a corpus-scale relation.
  *
  * Selection: minimize weighted Gini ⇔ maximize
  * h = ((posL² + negL²)·nR + (posR² + negR²)·nL) / (nL·nR). Both
  * engines derive h by the SAME single division of exact BIGINTs
  * (IEEE-correctly rounded ⇒ bit-identical), and the argmax
  * tie-breaks on (h desc, feature, threshold) — a total deterministic
  * order, so the trained stump replays exactly. */
object Stump {

  /** Width of a cumulation super-bucket: 2^16 consecutive values. */
  val SuperBits: Int = 16

  /** The most super-buckets one feature's value span (max - min) may
    * need: 2^16, i.e. a span below 2^32 values. It bounds the broadcast
    * offsets relation at 65536 rows per feature; a wider feature (cents
    * or bytes over ~4e9) must be rescaled first. */
  val MaxSuperBuckets: Long = 1L << 16

  /** Two-level exact cumulation of (count, pos) over the per-value
    * histogram — ExactQuantile.cumulateBuckets generalized to carry
    * the label sum alongside the row count (same three steps:
    * super-bucket totals, exclusive prefix over the super grid,
    * partitioned in-super cumsum + broadcast offset; integer sums at
    * every level, bit-identical on any partitioning). Adds __hi/__lo
    * (cumulative/exclusive row count) and __cp (cumulative pos). */
  private def cumulateHist(hist: DataFrame): DataFrame = {
    val withSb = hist.withColumn("__sb", shiftright(col("__x"), SuperBits))
    val superTotals = withSb.groupBy(col("feature"), col("__sb"))
      .agg(sum(col("__c")).as("__sc"), sum(col("__p")).as("__sp"))
    val wOff = Window.partitionBy(col("feature")).orderBy(col("__sb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = superTotals
      .withColumn("__offc", coalesce(sum(col("__sc")).over(wOff), lit(0L)))
      .withColumn("__offp", coalesce(sum(col("__sp")).over(wOff), lit(0L)))
      .select(col("feature"), col("__sb"), col("__offc"), col("__offp"))
    val wIn = Window.partitionBy(col("feature"), col("__sb")).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withSb.join(broadcast(offsets), Seq("feature", "__sb"))
      .withColumn("__hi", sum(col("__c")).over(wIn) + col("__offc"))
      .withColumn("__cp", sum(col("__p")).over(wIn) + col("__offp"))
      .withColumn("__lo", col("__hi") - col("__c"))
      .drop("__sb", "__offc", "__offp")
  }

  /** One row: the winning split — (feature, threshold, n_left,
    * pos_left, n_right, pos_right, gini). Rows with x ≤ threshold go
    * left. Feature columns must be integral (micro-scale first — the
    * [[ExactQuantile]] house rule); `labelCol` boolean-castable.
    *
    * Executes EAGERLY (the q299/q60 cache-release contract): the
    * histogram cache is materialized, consumed and released inside
    * this call, and the 1-row result returns as a local plan — jobs
    * run at call time, not when the caller first acts on the result. */
  def train(df: DataFrame, featureCols: Seq[String], labelCol: String,
            thresholds: Int = 16): DataFrame = {
    require(featureCols.nonEmpty && thresholds >= 1, "bad stump config")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(col(labelCol).isNotNull)
      .select(featureCols.map(f => col(f).cast("long").as(f)) :+
        col(labelCol).cast("boolean").as("__y"): _*)
    val fx = featureCols.map(f => struct(lit(f).as("feature"), col(f).as("__x")))
    val long = base.select(explode(array(fx: _*)).as("__fx"), col("__y"))
      .select(col("__fx.feature").as("feature"), col("__fx.__x").as("__x"),
        col("__y"))
      .filter(col("__x").isNotNull)
    // THE corpus scan: exact per-(feature, value) histogram — map-side
    // combined, grid-sized output, cached for the two bounded actions
    val hist = long.groupBy(col("feature"), col("__x"))
      .agg(count(lit(1)).as("__c"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__p"))
      .persist()
    try {
      // action 1 (materializes the cache): per-feature totals and value
      // range — the loud population and span checks plus the rank grid,
      // k rows to the driver
      val totRows = hist.groupBy(col("feature"))
        .agg(sum(col("__c")).as("n"), sum(col("__p")).as("pos"),
          min(col("__x")).as("lo"), max(col("__x")).as("hi"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      featureCols.foreach { f =>
        require(totRows.get(f).map(_._1).getOrElse(0L) >= 2,
          s"stump: feature $f has ${totRows.get(f).map(_._1).getOrElse(0L)} usable rows")
        val (_, _, lo, hi) = totRows(f)
        val supers = (hi >> SuperBits) - (lo >> SuperBits) + 1
        require(supers <= MaxSuperBuckets,
          s"stump: feature $f spans [$lo, $hi], which needs $supers super-buckets of " +
            s"2^$SuperBits values; Stump.MaxSuperBuckets is $MaxSuperBuckets — rescale the feature")
      }
      // candidate ranks: k·n/(t+1) for k = 1..t (exact integer
      // arithmetic, ranks never exceed n), one (feature, rank) row each
      val rankRows = featureCols.flatMap { f =>
        val n = totRows(f)._1
        (1 to thresholds).map(k => (k * n + thresholds) / (thresholds + 1))
          .filter(_ >= 1).distinct.map(r => (f, r))
      }
      val rdf = rankRows.toDF("feature", "__rank")
      val totDf = featureCols.map(f => (f, totRows(f)._1, totRows(f)._2))
        .toDF("feature", "n", "pos")
      val cum = cumulateHist(hist)
      // a rank's candidate value is the histogram row holding that
      // order statistic (__lo < rank ≤ __hi — counting duplicates,
      // exactly row_number-at-rank); that row's cumulative counts ARE
      // the candidate's exact cell: n_left = rows ≤ threshold, pos_left
      // = positives ≤ threshold. Multiple ranks landing on one value
      // collapse via distinct, as the quantile grid always did.
      val cells = cum.join(broadcast(rdf), Seq("feature"))
        .filter(col("__rank") > col("__lo") && col("__rank") <= col("__hi"))
        .select(col("feature"), col("__x").as("threshold"),
          col("__hi").as("n_left"), col("__cp").as("pos_left"))
        .distinct()
      val splits = cells.join(broadcast(totDf), Seq("feature"))
        .withColumn("n_right", col("n") - col("n_left"))
        .withColumn("pos_right", col("pos") - col("pos_left"))
        .filter(col("n_left") > 0 && col("n_right") > 0) // real splits only
      val negL = col("n_left") - col("pos_left")
      val negR = col("n_right") - col("pos_right")
      // h: one division of exact BIGINT products — bit-identical anywhere
      val h = ((col("pos_left") * col("pos_left") + negL * negL) * col("n_right")
        + (col("pos_right") * col("pos_right") + negR * negR) * col("n_left"))
        .cast("double") / (col("n_left") * col("n_right")).cast("double")
      val giniW = (col("n").cast("double") - h) / col("n").cast("double")
      val winner = splits.select(col("feature"), col("threshold"),
          col("n_left"), col("pos_left"), col("n_right"), col("pos_right"),
          h.as("__h"), round(giniW, 6).as("gini"))
        .orderBy(col("__h").desc, col("feature"), col("threshold"))
        .limit(1)
        .drop("__h")
      // action 2 (bounded-grid work over the cached histogram): localize
      // the 1-row result so the cache releases before return
      val out = winner.collect()
      spark.createDataFrame(
        spark.sparkContext.parallelize(out.toSeq, 1), winner.schema)
    } finally hist.unpersist(blocking = false)
  }
}
