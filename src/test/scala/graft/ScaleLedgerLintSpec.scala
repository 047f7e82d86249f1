package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale-row discipline as a LINT (r17 verdict task 6): every
  * headline (= scale-sensitive, bench-timed) query must carry a
  * measured sf0.1 → sf1 row in [[ScaleLedger]]. Registering a new
  * headline gate without measuring its 10× behavior fails the suite —
  * the row is the evidence the "would this hold at 100 TB" reflection
  * actually happened. */
class ScaleLedgerLintSpec extends AnyFunSuite {

  test("every headline query has a measured scale row") {
    val missing = SparkEntry.headlineQueries.filterNot(ScaleLedger.rows.contains)
    assert(missing.isEmpty,
      s"headline queries without a ScaleLedger row (run graft.tools.Profile scale " +
        s"and add the measured numbers): ${missing.mkString(", ")}")
  }

  test("ledger rows are sane: positive times, no superlinear blowup") {
    ScaleLedger.rows.foreach { case (q, r) =>
      assert(r.sf01Sec > 0 && r.sf1Sec > 0, s"$q carries a non-positive time")
      // 10x data must not cost more than ~12x time (allowing measurement
      // noise over the linear bound); far above that = superlinear
      // design. Rows are STEADY-STATE as of r19 (the scale rows warm both
      // scales), so cold-build folds no longer excuse a high ratio —
      // the only escape is the sub-second fixed-cost noise domain
      // (was `sf1 < 60`, which would have excused a real 19x serve
      // regression).
      assert(r.ratio < 12.0 || r.sf1Sec < 1.0,
        s"$q scales at ${r.ratio}x for 10x data — superlinear, investigate")
    }
  }

  test("ledger rows name real registered queries") {
    val registered = SparkEntry.queries.keySet
    val ghosts = ScaleLedger.rows.keySet.filterNot(registered.contains)
    assert(ghosts.isEmpty, s"ScaleLedger rows for unregistered queries: $ghosts")
  }
}
