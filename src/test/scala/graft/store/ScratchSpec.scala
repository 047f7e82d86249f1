package graft.store

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSuite}

/** The one scratch lifecycle: every directory a query creates comes from
  * [[Scratch]], lives under its root, and is gone after the
  * between-queries sweep — except the directories a per-process cache
  * hands to a later query, which must survive it. */
class ScratchSpec extends AnyFunSuite with SparkSuite {

  private def root: Path = {
    val probe = Scratch.dir(spark, "spec-root")
    Scratch.release(probe)
    Paths.get(probe).getParent
  }

  /** Top-level `graft-*` entries of the JVM temp dir, minus the root. */
  private def tmpEntries(): Set[String] = {
    val except = root.getFileName.toString
    val kids = new java.io.File(System.getProperty("java.io.tmpdir")).list()
    kids.filter(n => n.startsWith("graft-") && n != except).toSet
  }

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq

  test("dir() lies under the root and sweep() deletes it; kept dirs survive") {
    val a = Scratch.dir(spark, "spec-a")
    val b = Scratch.keep(Scratch.dir(spark, "spec-b"))
    Files.write(Paths.get(a, "f"), Array[Byte](1))
    assert(Paths.get(a).getParent == root && Paths.get(b).getParent == root)
    assert(a != Scratch.dir(spark, "spec-a"), "dir() must never reuse a path")
    assert(Scratch.sweep() >= 2)
    assert(!Files.exists(Paths.get(a)), "sweep() left a registered dir")
    assert(Files.isDirectory(Paths.get(b)), "sweep() deleted a kept dir")
    Scratch.release(b)
    assert(!Files.exists(Paths.get(b)), "release() left a kept dir")
  }

  test("store and streaming gates leave no temp dir behind after the sweep") {
    Scratch.sweep()
    val before = tmpEntries()
    for (q <- Seq("q140_streaming_cdc_apply", "q62_store_delete"))
      assert(SparkEntry.queries(q)(spark, sf).count() > 0, q)
    Scratch.sweep()
    val left = tmpEntries() -- before
    assert(left.isEmpty, s"directories left outside the scratch root: $left")
  }

  test("cached index dirs survive the sweep between their producer and reader") {
    rows("q172_sync")
    Scratch.sweep()
    val swept = rows("q172_gate")
    rows("q172_sync")
    val unswept = rows("q172_gate")
    assert(swept.nonEmpty && swept == unswept)

    val serve = rows("q159_serve")
    Scratch.sweep()
    assert(serve.nonEmpty && rows("q159_serve") == serve)
  }
}
