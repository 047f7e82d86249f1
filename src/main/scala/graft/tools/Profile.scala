package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.{GraftSession, ScaleSmoke, SparkEntry}
import graft.store.Scratch

/** The one profiling entry point:
  * `runMain graft.tools.Profile <mode> <sfDir> <names>`, where `names` is
  * a comma-separated list of query-name prefixes or `headline` (the set
  * Bench times). The session takes `SPARK_GRAFT_CPUS` cores (default 8).
  *
  * Modes:
  *  - `time`: one timed run per query, one JSON line each;
  *  - `ab`: [[Passes]] interleaved passes over the names in one JVM,
  *    publishing the min of the last three, so a 10-20% change is
  *    resolvable above JIT warm-in noise — the paired A/B a performance
  *    claim needs (the round's artifact still comes from graft.Bench).
  *    Each line says whether its last three passes meet Bench's
  *    [[converged]] rule; `converged=false` marks a min3 taken while the
  *    name was still warming in;
  *  - `jobs`: one run per query with a line per Spark job (duration, gap
  *    since the previous job ended, tasks, call site) and every stage of
  *    150 ms or more. The gap column is driver-side time (planning, FS
  *    commits, collect processing) that per-stage metrics cannot see —
  *    at local sf the fixed-cost queries (streaming sinks, store commits)
  *    spend most of their wall there;
  *  - `plan`: the formatted physical plan of each query (broadcast joins,
  *    pushed filters, TakeOrderedAndProject, codegen), without running
  *    it; the selected names also go to stderr;
  *  - `scale`: `sfDir` is the sf0.1 source, and each query is timed there
  *    and at the [[ScaleSmoke]] sf1-equivalent (built on first use in the
  *    optional fourth argument, default `/tmp/graft-sf1-r11`), one JSON
  *    line each: the PLANS.md / [[graft.ScaleLedger]] scale row. Both
  *    scales are warmed before their timed run, so `sf1_sec` is steady
  *    state; the first sf1 run (index builds, per-process cache fill) is
  *    printed as `sf1_cold_sec` so a build-cost regression stays visible.
  *
  * The timing modes warm up on q01 and time every run through [[once]],
  * which Bench and ScaleSmoke share.
  */
object Profile {

  /** Passes of the `ab` mode. */
  val Passes = 7

  /** Bench's converged-pair rule over three consecutive timings: the last
    * two agree within 5%, and the last is not more than 10% below the
    * first (two agreeing passes on a still-falling curve are a warm-in
    * step, not a steady state). */
  def converged(t0: Double, t1: Double, t2: Double): Boolean =
    math.abs(t1 - t2) <= 0.05 * math.max(t1, t2) && t2 >= 0.9 * t0

  private val Modes = Set("time", "ab", "jobs", "plan", "scale")

  /** One Spark job of a run: wall-clock millis, tasks of its stages. */
  final case class Job(id: Int, startMs: Long, endMs: Long, tasks: Int, desc: String)

  final case class Stage(id: Int, ms: Long, tasks: Int, name: String)

  /** One timed run. `sec` and `rows` are -1 if the query failed; `swept`
    * counts the RDDs the previous query left pinned; `gapMs` is the wall
    * time no job covered. */
  final case class Run(name: String, sec: Double, rows: Long, swept: Int,
                       jobs: Seq[Job], stages: Seq[Stage], gapMs: Long) {
    def tasks: Int = jobs.map(_.tasks).sum
  }

  /** Records jobs and stages while a run is in flight. */
  private final class Recorder extends SparkListener {
    @volatile var recording = false
    private val started = new ConcurrentHashMap[Int, Job]()
    private val jobs = new ConcurrentLinkedQueue[Job]()
    private val stages = new ConcurrentLinkedQueue[Stage]()

    // SQL jobs set neither `callSite.short` nor a description. A job's
    // result stage (highest id) holds its call stack, user frames first;
    // a job run on a broadcast or subquery thread holds only that pool's
    // frames, so it also looks at the stack of the SQL execution it serves.
    private val execStacks = new ConcurrentHashMap[Long, String]()

    /** The first engine frame outside this tool. */
    private def engineFrame(stack: String): Option[String] =
      stack.linesIterator.find(f => f.startsWith("graft.") && !f.startsWith("graft.tools."))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if recording => execStacks.put(x.executionId, x.details)
      case _ =>
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = if (recording) {
      val stack = js.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val exec = Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execStacks.get(id.toLong)))
      val desc = (engineFrame(stack) ++ exec.flatMap(engineFrame) ++
        (exec.toSeq :+ stack).flatMap(_.linesIterator.nextOption())).headOption.getOrElse("")
      started.put(js.jobId, Job(js.jobId, js.time, -1L, js.stageInfos.map(_.numTasks).sum, desc))
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.remove(je.jobId)).foreach(j => jobs.add(j.copy(endMs = je.time)))

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (recording) {
      val si = sc.stageInfo
      val ms = (for (s <- si.submissionTime; e <- si.completionTime) yield e - s).getOrElse(-1L)
      stages.add(Stage(si.stageId, ms, si.numTasks, si.name))
    }

    def take(): (Seq[Job], Seq[Stage]) = {
      def drain[A](q: ConcurrentLinkedQueue[A]): List[A] =
        Iterator.continually(q.poll()).takeWhile(_ != null).toList
      started.clear()
      execStacks.clear()
      (drain(jobs).sortBy(_.id), drain(stages).sortBy(_.id))
    }
  }

  private var recorder: Option[(SparkContext, Recorder)] = None

  private def recorderOn(sc: SparkContext): Recorder = synchronized {
    recorder.collect { case (c, r) if c eq sc => r }.getOrElse {
      val r = new Recorder
      sc.addSparkListener(r)
      recorder = Some(sc -> r)
      r
    }
  }

  /** Wall time in [t0, t1] that no job covers. */
  private def gapMs(jobs: Seq[Job], t0: Long, t1: Long): Long = {
    val (gap, end) = jobs.sortBy(_.startMs).foldLeft((0L, t0)) { case ((g, c), j) =>
      (g + math.max(0L, j.startMs - c), math.max(c, j.endMs))
    }
    gap + math.max(0L, t1 - end)
  }

  /** The between-queries reset ([[Scratch.reset]]), then one timed
    * `count()` of `name` over `dir`. A failure is reported on stderr and
    * yields -1, never a fast-looking timing. The jobs of the run are all
    * seen: the listener bus is drained after the count. */
  def once(spark: SparkSession, name: String, dir: String): Run = {
    val swept = Scratch.reset(spark)
    val sc = spark.sparkContext
    val rec = recorderOn(sc)
    val query = SparkEntry.queries.get(name)
    GraftSqlBridge.drainListeners(sc)
    rec.recording = true
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val rows = try query.getOrElse(sys.error(s"no registered query $name"))(spark, dir).count()
    catch { case e: Throwable =>
      System.err.println(s"[profile] $name failed: ${e.getMessage}"); -1L }
    val sec = if (rows < 0) -1.0 else (System.nanoTime() - t0) / 1e9
    val t1Ms = System.currentTimeMillis()
    if (!GraftSqlBridge.drainListeners(sc))
      System.err.println(s"[profile] $name: listener bus busy after 10 s, job counts partial")
    rec.recording = false
    val (jobs, stages) = rec.take()
    Run(name, sec, rows, swept, jobs, stages, gapMs(jobs, t0Ms, t1Ms))
  }

  /** `headline`, or the registered names (sorted) matching the prefixes. */
  def select(names: String): Seq[String] = {
    val picked =
      if (names == "headline") SparkEntry.headlineQueries
      else SparkEntry.select(SparkEntry.queries.keys.toSeq.sorted, Some(names.split(",").toSeq))
    require(picked.nonEmpty, s"no registered query matches $names")
    picked
  }

  /** Runs `mode` over `names`, handing each output line to `out`. */
  def run(spark: SparkSession, mode: String, sfDir: String, names: Seq[String],
          out: String => Unit, sf1Dir: String = ScaleSmoke.DefaultOutDir): Unit = mode match {
    case "plan" =>
      System.err.println(s"[profile] plan: ${names.mkString(",")}")
      names.foreach { n =>
        out(s"\n===== $n =====")
        out(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode))
      }
    case "scale" =>
      ScaleSmoke.buildIfMissing(spark, sfDir, sf1Dir)
      names.foreach { n =>
        once(spark, n, sfDir) // warm-up: codegen/JIT + sf0.1 per-process caches
        val t01 = once(spark, n, sfDir).sec
        val t1cold = once(spark, n, sf1Dir).sec // index builds, cache fill
        val t1 = once(spark, n, sf1Dir).sec // steady state: the published row
        out(f"""{"query":"$n","sf01_sec":$t01%.3f,"sf1_sec":$t1%.3f,"ratio":${t1 / t01}%.2f,"sf1_cold_sec":$t1cold%.3f}""")
      }
    case _ =>
      once(spark, "q01_agg_pricing", sfDir) // warm-up: codegen/JIT
      mode match {
        case "time" => names.foreach(n => out(timeLine(once(spark, n, sfDir), sfDir, spark)))
        case "ab" =>
          val passes = Seq.fill(Passes)(names.map(n => once(spark, n, sfDir)))
          names.indices.foreach { i =>
            val xs = passes.map(_(i))
            val r = xs.last
            val last3 = xs.takeRight(3).map(_.sec)
            val Seq(t0, t1, t2) = last3
            val steady = last3.forall(_ >= 0) && converged(t0, t1, t2)
            out(f"[ab] ${names(i)}%-28s min3=${last3.min}%.3f  all=" +
              xs.map(x => f"${x.sec}%.2f").mkString(",") +
              s"  converged=$steady jobs=${r.jobs.size} tasks=${r.tasks} gap_ms=${r.gapMs}")
          }
        case "jobs" => names.foreach(n => jobTable(once(spark, n, sfDir)).foreach(out))
      }
  }

  private def timeLine(r: Run, sfDir: String, spark: SparkSession): String =
    f"""{"metric":"time_query","query":"${r.name}","sec":${r.sec}%.3f,"rows":${r.rows},""" +
      s""""jobs":${r.jobs.size},"tasks":${r.tasks},"gap_ms":${r.gapMs},""" +
      s""""sf":"$sfDir","cpus":${spark.sparkContext.defaultParallelism}}"""

  private def jobTable(r: Run): Seq[String] = {
    // the latest end among the jobs before each job (0 before the first)
    val prevEnds = r.jobs.scanLeft(0L)((end, j) => math.max(end, j.endMs))
    val lines = r.jobs.zip(prevEnds).map { case (j, prevEnd) =>
      val gap = if (prevEnd == 0) 0L else math.max(0L, j.startMs - prevEnd)
      f"${j.id}%5d ${j.endMs - j.startMs}%8d $gap%8d ${j.tasks}%6d  ${j.desc.take(100)}"
    }
    val slow = r.stages.filter(_.ms >= 150).map(s =>
      f"[stage] ${s.id}%5d ${s.ms}%6dms tasks=${s.tasks}%-4d ${s.name.take(90)}")
    val jobSum = r.jobs.map(j => j.endMs - j.startMs).sum / 1e3
    Seq("", "jobId   dur_ms   gap_ms  tasks  description") ++ lines ++ slow :+
      f"[profile] ${r.name} rows=${r.rows} wall=${r.sec}%.2fs jobs=${r.jobs.size} " +
      f"jobSum=$jobSum%.2fs gap=${r.gapMs}ms"
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Modes.contains(args(0)),
      "usage: Profile time|ab|jobs|plan|scale <sfDir> <prefix,...|headline> [sf1Dir]")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"),
      s"graft-profile-${args(0)}")
    try run(spark, args(0), args(1), select(args(2)), println(_),
      args.lift(3).getOrElse(ScaleSmoke.DefaultOutDir))
    finally spark.stop()
  }
}
