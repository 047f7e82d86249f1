package graft

/** Benchmark main — one JSON line on stdout, per the driver contract.
  * Times the headline (scale-sensitive) queries; `count()` forces full
  * plan execution without driver-side result materialization. */
object Bench {

  /** The BENCH_FULL no-clobber rule as a testable seam (r18: a filtered
    * SPARK_GRAFT_ONLY probe run overwrote the round's closing full-suite
    * artifact minutes before commit; the rule landed untested). A
    * FILTERED capture must never touch the artifact — returns whether a
    * write happened. */
  private[graft] def writeFullArtifact(path: java.nio.file.Path,
                                       filtered: Boolean,
                                       content: String): Boolean =
    if (filtered) false
    else {
      java.nio.file.Files.write(path, content.getBytes("UTF-8"))
      true
    }

  /** The false-plateau guard: true when at least 80% of the queries
    * timed in both captures moved more than 10% in the same direction —
    * the signature of a machine-wide shift (load, cores, thermal), not of
    * a code change. Failed (-1) timings are left out. */
  private[graft] def uniformDrift(prev: Map[String, Double], now: Map[String, Double]): Boolean = {
    val ratios = now.toSeq.collect { case (q, v) if v > 0 && prev.get(q).exists(_ > 0) => v / prev(q) }
    val moved = math.max(ratios.count(_ > 1.1), ratios.count(_ < 0.9))
    ratios.nonEmpty && moved >= 0.8 * ratios.size
  }

  /** `full_precision_queries` of an earlier BENCH_FULL.json; empty when
    * there is none or it does not parse. */
  private[graft] def previousQueries(path: java.nio.file.Path): Map[String, Double] =
    try {
      import scala.jdk.CollectionConverters._
      val qs = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(path)).get("full_precision_queries")
      qs.properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap
    } catch { case _: Exception => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, "graft-bench")
    // Local-iteration filter, mirroring Verify's: SPARK_GRAFT_ONLY=q155
    // times only matching headline queries. Unset (the driver) = all.
    val only = SparkEntry.only
    val names = SparkEntry.select(SparkEntry.headlineQueries, only)
    def loadavg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // QUIET-CAPTURE gate (r12 finding: the driver's capture ran at
    // loadavg 7-12 and read +15% across the board while the quiet
    // converged capture was flat): wait — bounded — for the 1-min load
    // to drop below the threshold before timing anything, so the
    // published BENCH_r{N}.json IS the round-over-round number instead
    // of a contention sample. The JSON records how long we waited and
    // the load the run actually started at; if the box never quiets
    // down within the budget we run anyway (a late number beats none)
    // and the elevated start load self-documents the capture.
    // r16 finding: the driver's capture STARTED at loadavg 5.69 (the
    // 900 s budget expired) and the whole kNN family read 1.3-1.6×
    // slower with zero code cause. The wait budget is now 3600 s, and
    // a capture that still starts loud self-labels `dirty_capture`
    // prominently in the JSON so a drifted number is machine-readably
    // untrustworthy rather than silently published as the round figure.
    val quietBelow = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_LOAD", "2.0").toDouble
    val quietWaitMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_WAIT_SEC", "3600").toLong
    val waitT0 = System.nanoTime()
    while (loadavg >= quietBelow &&
        (System.nanoTime() - waitT0) / 1e9 < quietWaitMax)
      Thread.sleep(5000)
    val quietWaited = (System.nanoTime() - waitT0) / 1e9
    val startLoad = loadavg
    val dirtyStart = startLoad >= quietBelow
    // one warm-up pass over a cheap query to absorb codegen/JIT cost
    SparkEntry.queries(names.head)(spark, sfDir).count()
    // POLLUTION TRIPWIRE (r13 finding: one query leaking localCheckpoint
    // blocks inflated every OTHER query's timing by 18-31% — the
    // published artifact regressed while the code got faster). Before
    // each timed query: clear the table cache, then sweep any persistent
    // RDDs the previous query left pinned (leaked checkpoints). The
    // per-pass swept count is published in the JSON — nonzero means some
    // query is not releasing its blocks and neighbors' timings would
    // have been contaminated without the sweep.
    var sweptInPass = 0
    var prevQuery = "warmup"
    // failures surface as -1 in the JSON, never as a fast-looking timing
    def once(name: String): Double = {
      // the reset drops cached intermediates so the second run measures
      // the query's real compute, not a warm cache (q42 caches its
      // minhash base), and the previous query's scratch dirs
      val run = graft.tools.Profile.once(spark, name, sfDir)
      sweptInPass += run.swept
      // attribution for the tripwire: WHICH query left the blocks
      if (run.swept > 0)
        System.err.println(s"[bench] swept ${run.swept} RDD(s) left by $prevQuery")
      prevQuery = name
      run.sec
    }
    def heapUsedMb: Long = {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / (1024L * 1024L)
    }
    // CONVERGED interleaved passes: full passes over the headline list,
    // repeated until TWO CONSECUTIVE pass totals agree within 5% (min
    // 3 passes, cap 8 — tightened from 10%/6 per the r16 verdict after
    // a 3-pass capture with a non-monotone tail published a 1.3-1.6×
    // uniform kNN drift). Per-query numbers are published from the
    // AGREEING PAIR (the min of the last two passes — the steady-state
    // estimator a transient co-scheduling stall cannot inflate), and
    // `published_pass` records which pass each query's number came from.
    // Interleaving spreads a transient co-scheduling stall across
    // different queries' single runs, which the per-query median then
    // rejects (observed: the same query swinging 0.7 s ↔ 7.7 s between
    // invocations with zero code change). The convergence rule makes the
    // capture self-interpreting: BENCH_r09's own passes (82→64→54 s,
    // still descending at the old fixed cutoff of 3) showed a warm-in
    // that never reached steady state; now the run keeps going until it
    // does — or says so (`converged:false` at the pass cap).
    //
    // Self-documentation: the JSON carries each pass's total, the OS
    // 1-min load average sampled before the run and after every pass,
    // and the convergence verdict, so a contention-inflated capture is
    // machine-readable as such (cold/contended signatures are a uniform
    // per-query multiplier + elevated loadavg, see PLANS.md).
    val loads = scala.collection.mutable.ArrayBuffer(loadavg)
    val swept = scala.collection.mutable.ArrayBuffer.empty[Int]
    val heaps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    def passTotal(p: Map[String, Double]): Double =
      names.map(n => math.max(p(n), 0.0)).sum
    val minPasses = 3
    val maxPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_PASSES", "8").toInt
    var converged = false
    while (passes.length < maxPasses && !converged) {
      sweptInPass = 0
      passes += names.map(n => n -> once(n)).toMap
      loads += loadavg
      swept += sweptInPass
      heaps += heapUsedMb
      if (passes.length >= minPasses) {
        converged = graft.tools.Profile.converged(passTotal(passes(passes.length - 3)),
          passTotal(passes(passes.length - 2)), passTotal(passes.last))
      }
    }
    // publish from the agreeing pair: per query, the faster of the last
    // two passes, with the pass index recorded (1-based)
    val lastIdx = passes.length - 1
    val results = names.map { name =>
      val a = passes(lastIdx - 1)(name)
      val b = passes(lastIdx)(name)
      if (a < 0 || b < 0) name -> (-1.0, -1)
      else if (a <= b) name -> (a, lastIdx) // 1-based: pass lastIdx-1+1
      else name -> (b, lastIdx + 1)
    }
    val total = results.map(_._2._1).sum
    def fmt(d: Double): String = "%.3f".format(d)
    // compact medians (ms precision): the artifact-survival budget — the
    // driver preserves only the LAST ~2 KB of stdout, so the line that
    // must survive whole is printed LAST and kept under that budget
    // (r17 finding: 40+ of 55 medians fell off the front of one big line
    // and the round artifact carried `parsed: null`)
    val qs = results.map { case (k, (v, _)) =>
      "\"" + k + "\":" + (if (v < 0) "-1" else fmt(v)) }
      .mkString("{", ",", "}")
    val publishedPass = results.map { case (k, (_, p)) => "\"" + k + "\":" + p }
      .mkString("{", ",", "}")
    val passTotals = passes.map(p => fmt(passTotal(p))).mkString("[", ",", "]")
    val loadsJson = loads.map(fmt).mkString("[", ",", "]")
    val sweptJson = swept.mkString("[", ",", "]")
    val heapsJson = heaps.mkString("[", ",", "]")
    // compared before BENCH_FULL.json is overwritten below
    val fullPath = java.nio.file.Paths.get("BENCH_FULL.json")
    val drift = uniformDrift(previousQueries(fullPath),
      results.map { case (k, (v, _)) => k -> v }.toMap)
    val diag = s"""{"metric":"bench_diag","published_pass":$publishedPass,"loadavg":$loadsJson,"heap_used_mb":$heapsJson,"quiet_waited_sec":${fmt(quietWaited)},"suspect_uniform_drift":$drift}"""
    val main = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","passes":$passTotals,"converged":$converged,"dirty_capture":$dirtyStart,"start_loadavg":${fmt(startLoad)},"swept_rdds":$sweptJson,"cpus":$cpus}"""
    // full-precision artifact to a file the tail cap cannot touch —
    // FULL runs only: a SPARK_GRAFT_ONLY probe run must never overwrite
    // the round's full-suite capture (r18: an isolated q260 probe
    // clobbered the closing artifact minutes before its commit)
    try {
      val full = s"""{"main":$main,"diag":$diag,"full_precision_queries":${
        results.map { case (k, (v, _)) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}")}}"""
      writeFullArtifact(fullPath, filtered = only.nonEmpty, full)
    } catch { case _: Exception => () }
    println(diag)
    // LAST line = the driver-contract metric line, sized for the tail
    println(main)
    if (main.length > 1900)
      System.err.println(s"[bench] WARNING: metric line ${main.length} B " +
        "may exceed the driver's ~2 KB tail capture")
    spark.stop()
  }
}
