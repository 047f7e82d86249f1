package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev utility (guide §1/§7): per-JOB wall breakdown of one gate query —
  * `runMain graft.tools.JobProfile <sfDir> <name>` runs the query once
  * (count action, cache-cleared) with a listener attached and prints one
  * line per Spark job: duration, #tasks, and the callsite description.
  * The gap column (job start − previous job end) exposes DRIVER-side
  * time (planning, FS commits, collect processing) that per-stage
  * metrics can't see — at local sf the fixed-cost queries (streaming
  * sinks, store commits) spend most of their wall there. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus, "graft-jobprofile")
    val qmap = graft.SparkEntry.queries
    qmap("q01_agg_pricing")(spark, sfDir).count() // warm-up
    // optional second warm pass of the target itself (per-process caches)
    if (sys.env.get("SPARK_GRAFT_PROFILE_WARM").contains("1")) {
      qmap(name)(spark, sfDir).count()
      graft.store.Scratch.reset(spark)
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String, Int)]()
    val taskCount = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val cs = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        val d0 = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .map(_.replace('\n', ' ').take(40)).getOrElse("")
        val desc = s"$cs | $d0"
        jobs.put(js.jobId, (js.time, desc, js.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, desc, nt) =>
          done.add((je.jobId, t0, je.time, desc, nt))
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for {s <- si.submissionTime; e <- si.completionTime}
          yield e - s).getOrElse(-1L)
        if (dur >= 150)
          System.out.println(f"[stage] ${si.stageId}%5d ${dur}%6dms " +
            f"tasks=${si.numTasks}%-4d ${si.name.take(90)}")
      }
    })
    val t0 = System.nanoTime()
    val rows = qmap(name)(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the listener bus drain
    val sorted = done.toArray(Array.empty[(Int, Long, Long, String, Int)])
      .sortBy(_._1)
    var prevEnd = 0L
    var jobSum = 0.0
    println(f"%njobId   dur_ms   gap_ms  tasks  description")
    sorted.foreach { case (id, s, e, desc, nt) =>
      val gap = if (prevEnd == 0) 0 else math.max(0, s - prevEnd)
      prevEnd = math.max(prevEnd, e)
      jobSum += (e - s) / 1e3
      println(f"$id%5d ${e - s}%8d ${gap}%8d $nt%6d  ${desc.take(100)}")
    }
    println(f"[profile] $name rows=$rows wall=$wall%.2fs jobs=${sorted.length} jobSum=$jobSum%.2fs")
    spark.stop()
  }
}
