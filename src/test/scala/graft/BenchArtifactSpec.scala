package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The BENCH_FULL artifact rules, specced so they cannot regress
  * silently (r18: a filtered probe run clobbered the round's closing
  * full-suite capture and was restored by hand; the fix landed minutes
  * later, untested):
  *  1. a FILTERED (SPARK_GRAFT_ONLY) capture never touches a
  *     pre-existing artifact — byte identity asserted;
  *  2. a FULL capture does overwrite it (that is the point);
  *  3. the artifact checked into the repo is schema-complete: a median
  *     for every headline query, none failed (-1), full-precision block
  *     present — a clobbered or truncated artifact fails the suite.
  */
class BenchArtifactSpec extends AnyFunSuite {

  test("a filtered capture never overwrites a pre-existing artifact") {
    val f = Files.createTempFile("bench-full-", ".json")
    val original = """{"main":{"the round's closing artifact":true}}"""
    Files.write(f, original.getBytes("UTF-8"))
    val wrote = Bench.writeFullArtifact(f, filtered = true,
      """{"main":{"a q260 probe run":true}}""")
    assert(!wrote)
    assert(new String(Files.readAllBytes(f), "UTF-8") == original,
      "filtered capture clobbered the artifact")
    Files.delete(f)
  }

  test("a full capture does overwrite") {
    val f = Files.createTempFile("bench-full-", ".json")
    Files.write(f, "old".getBytes("UTF-8"))
    val next = """{"main":{"fresh full capture":true}}"""
    assert(Bench.writeFullArtifact(f, filtered = false, next))
    assert(new String(Files.readAllBytes(f), "UTF-8") == next)
    Files.delete(f)
  }

  private val prev = (1 to 10).map(i => s"q$i" -> i.toDouble).toMap

  test("uniform drift: every query 20% faster is suspect") {
    assert(Bench.uniformDrift(prev, prev.map { case (k, v) => k -> v * 0.8 }))
  }

  test("uniform drift: 8 of 10 queries 15% slower is suspect") {
    val now = prev.map { case (k, v) => k -> (if (v <= 8) v * 1.15 else v) }
    assert(Bench.uniformDrift(prev, now))
  }

  test("uniform drift: mixed moves are not suspect, nor is a failed query") {
    val now = prev.map { case (k, v) => k -> (if (v <= 5) v * 1.3 else v * 0.7) }
    assert(!Bench.uniformDrift(prev, now))
    // q1 failing (-1) leaves 7 of 9 comparable queries faster: below 80%
    val failed = prev.map { case (k, v) => k -> (if (v <= 8) v * 0.8 else v) } + ("q1" -> -1.0)
    assert(!Bench.uniformDrift(prev, failed))
    assert(!Bench.uniformDrift(Map.empty, prev))
  }

  test("the previous artifact's full-precision timings are read back") {
    val f = Files.createTempFile("bench-full-", ".json")
    Files.write(f, """{"main":{},"full_precision_queries":{"q1":0.25,"q2":1.5}}""".getBytes("UTF-8"))
    assert(Bench.previousQueries(f) == Map("q1" -> 0.25, "q2" -> 1.5))
    Files.write(f, "not json".getBytes("UTF-8"))
    assert(Bench.previousQueries(f).isEmpty)
    Files.delete(f)
  }

  test("the repo artifact is schema-complete: every headline has a real median") {
    val path = java.nio.file.Paths.get("BENCH_FULL.json")
    assume(Files.exists(path), "no BENCH_FULL.json in the working tree")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readAllBytes(path))
    val main = root.get("main")
    assert(main != null && main.has("queries"), "artifact missing main.queries")
    val qs = main.get("queries")
    val headlines = SparkEntry.headlineQueries
    // every CURRENT headline must have a non-null, non-failed median —
    // allowing gates newer than the artifact (they get their first
    // median at the next full capture), but never a missing OLD one
    val artifactKeys = {
      val it = qs.fieldNames(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result().toSet
    }
    val stale = artifactKeys.diff(headlines.toSet)
    assert(stale.isEmpty, s"artifact carries non-headline keys: $stale " +
      "(a filtered capture's subset would look like this)")
    // a full capture times ALL headlines: an artifact with under 90% of
    // the current set is a probe-run clobber, not a version skew
    assert(artifactKeys.size >= (headlines.size * 9) / 10,
      s"artifact has ${artifactKeys.size} of ${headlines.size} headline " +
        "medians — looks like a filtered capture clobbered it")
    artifactKeys.foreach { k =>
      val v = qs.get(k)
      assert(v != null && v.isNumber && v.asDouble() >= 0.0,
        s"headline $k has a null/failed median: $v")
    }
    assert(root.has("full_precision_queries"),
      "artifact missing the full-precision block")
  }
}
