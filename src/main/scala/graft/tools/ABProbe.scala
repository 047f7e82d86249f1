package graft.tools

/** Dev A/B harness (guide §1): `runMain graft.tools.ABProbe <sfDir>
  * <names>` — interleaved passes like Bench but with a FIXED pass count
  * (default 7, env SPARK_GRAFT_AB_PASSES) and min-of-last-3 published,
  * so a 10-20% change is resolvable above JIT warm-in noise. Dev-only:
  * the round artifact still comes from graft.Bench. */
object ABProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names0) = args
    val names = names0.split(",").toSeq
    val passesN = sys.env.getOrElse("SPARK_GRAFT_AB_PASSES", "7").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus, "graft-ab")
    val qmap = graft.SparkEntry.queries
    qmap("q01_agg_pricing")(spark, sfDir).count()
    def once(n: String): Double = {
      graft.store.Scratch.reset(spark)
      val t0 = System.nanoTime()
      try { qmap(n)(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[ab] $n failed: ${e.getMessage}"); -1.0 }
    }
    val passes = (1 to passesN).map(_ => names.map(n => n -> once(n)).toMap)
    names.foreach { n =>
      val xs = passes.map(_(n))
      val last3 = xs.takeRight(3)
      println(f"[ab] $n%-28s min3=${last3.min}%.3f  all=" +
        xs.map(x => f"$x%.2f").mkString(","))
    }
    spark.stop()
  }
}
