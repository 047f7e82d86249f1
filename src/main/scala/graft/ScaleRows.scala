package graft

/** Per-query sf0.1 → sf1 scale-row measurement (the PLANS.md table
  * every new operator carries): times each named registered query once
  * at the real sf0.1 dir and once at the [[ScaleSmoke]] synthetic
  * sf1-equivalent (built on first use, workload-shape-preserving — see
  * ScaleSmoke's scaling notes), printing one JSON line per query.
  *
  * Usage: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleRows q401,q404"`
  * (optional args 2/3: srcDir outDir).
  *
  * BOTH scales get a warm-up run before their timed run (r18 verdict
  * task 3: the old single sf0.1 warm-up folded the FIRST index build /
  * per-process cache fill into the sf1 number — q159_serve read 19.6×
  * when its steady-state serve is flat). The published scale row is the
  * STEADY-STATE claim; the cold first-run number is still printed as
  * `sf1_cold_sec` so a build-cost regression stays visible. */
object ScaleRows {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleRows q401,q404[,...] [srcDir] [outDir]")
    val prefixes = args(0).split(",").toSeq
    val srcDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(2).getOrElse("/tmp/graft-sf1-r11")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, "graft-scale-rows")
    ScaleSmoke.buildIfMissing(spark, srcDir, outDir)
    val qmap = SparkEntry.queries
    val names = qmap.keys.toSeq.sorted
      .filter(n => prefixes.exists(n.startsWith))
    require(names.nonEmpty, s"no registered query matches $prefixes")
    def once(name: String, dir: String): Double = {
      graft.store.Scratch.reset(spark)
      val t0 = System.nanoTime()
      qmap(name)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { n =>
      once(n, srcDir) // warm-up: codegen/JIT + sf0.1 per-process caches
      val t01 = once(n, srcDir)
      val t1cold = once(n, outDir) // first sf1 run: index builds, cache fill
      val t1 = once(n, outDir)     // steady state — the published row
      println(f"""{"query":"$n","sf01_sec":$t01%.3f,"sf1_sec":$t1%.3f,"ratio":${t1 / t01}%.2f,"sf1_cold_sec":$t1cold%.3f}""")
    }
    spark.stop()
  }
}
