package graft

/** Dev utility: time arbitrary gate queries (headline or not) once each
  * — fills the gap between Bench (headline set, converged passes) and
  * ScaleSmoke (pinned 10× dir): `runMain graft.TimeQuery <sfDir>
  * <name1,name2,...>` prints one JSON line of single-shot seconds.
  * Single-shot by design: for trend-grade numbers use Bench. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.local(cpus, "graft-timequery")
    val qmap = SparkEntry.queries
    qmap("q01_agg_pricing")(spark, sfDir).count() // warm-up: codegen/JIT
    val results = names.split(",").toSeq.map { n =>
      graft.store.Scratch.reset(spark)
      val t0 = System.nanoTime()
      val rows = try qmap(n)(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[time] $n failed: ${e.getMessage}"); -1L }
      (n, (System.nanoTime() - t0) / 1e9, rows)
    }
    val qs = results.map { case (n, s, r) =>
      "\"" + n + "\":{\"sec\":" + f"$s%.2f" + ",\"rows\":" + r + "}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"time_query","sf":"$sfDir","queries":$qs,"cpus":$cpus}""")
    spark.stop()
  }
}
