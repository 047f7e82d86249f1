package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSuite}

/** The one profiling entry point: its shared prelude (selection, the
  * timed run with its listener) and the `time` mode's output. */
class ProfileSpec extends AnyFunSuite with SparkSuite {

  private def lines(mode: String, names: Seq[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    Profile.run(spark, mode, sf, names, out += _)
    out.result()
  }

  private def field(line: String, key: String): Double =
    s""""$key":(-?[0-9.]+)""".r.findFirstMatchIn(line).map(_.group(1).toDouble)
      .getOrElse(fail(s"no $key in $line"))

  test("time on q01 prints one JSON line with its seconds, rows and jobs") {
    val Seq(line) = lines("time", Profile.select("q01"))
    assert(line.contains("\"query\":\"q01_agg_pricing\""), line)
    assert(field(line, "sec") >= 0 && field(line, "rows") > 0 && field(line, "jobs") >= 1, line)
  }

  test("a query that throws yields -1 and the later names still run") {
    val Seq(bad, good) = lines("time", Seq("q_not_registered", "q01_agg_pricing"))
    assert(field(bad, "sec") == -1 && field(bad, "rows") == -1, bad)
    assert(field(good, "rows") > 0, good)
  }

  test("jobs names each job from its result stage's call stack") {
    val out = lines("jobs", Profile.select("q01"))
    val Row = """\s*\d+\s+-?\d+\s+\d+\s+\d+  (.*)""".r
    val descs = out.collect { case Row(desc) => desc }
    assert(descs.nonEmpty, out.mkString("\n"))
    assert(descs.forall(_.trim.nonEmpty), out.mkString("\n"))
    assert(out.last.startsWith("[profile] q01_agg_pricing"), out.last)
  }

  test("ab applies Bench's converged-pair rule to each name's last passes") {
    // the still-falling q155 tails `ab` used to publish as steady state
    assert(!Profile.converged(1.66, 1.15, 0.95))
    assert(!Profile.converged(0.97, 0.97, 0.85))
    // agreeing pair, but more than 10% below the pass before: a warm-in step
    assert(!Profile.converged(1.20, 1.00, 1.00))
    assert(Profile.converged(0.10, 0.095, 0.094))
    val Seq(line) = lines("ab", Profile.select("q01"))
    assert(line.startsWith("[ab] q01_agg_pricing"), line)
    assert(line.contains(" converged=true ") || line.contains(" converged=false "), line)
  }

  test("headline selects exactly the headline queries") {
    assert(Profile.select("headline") == SparkEntry.headlineQueries)
  }

  test("the shared prefix selector matches the old Bench/Verify filter") {
    def old(among: Seq[String], only: Option[Seq[String]]): Seq[String] =
      among.filter(n => only.forall(_.exists(n.startsWith)))
    val inputs = Seq(None, Some(Seq("q01")), Some(Seq("q15", "q26")), Some(Seq("")),
      Some(Seq("zz")), Some(Seq("q1", "q172_")), Some(Seq("q172_sync")))
    for (among <- Seq(SparkEntry.headlineQueries, SparkEntry.queries.keys.toSeq);
         only <- inputs)
      assert(SparkEntry.select(among, only) == old(among, only), s"$only")
    assert(Profile.select("q15,q26") ==
      old(SparkEntry.queries.keys.toSeq.sorted, Some(Seq("q15", "q26"))))
  }
}
