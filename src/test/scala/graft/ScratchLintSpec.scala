package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one scratch lifecycle: a directory minted outside
  * [[graft.store.Scratch]] is invisible to the between-queries sweep and
  * to the exit hook, so it outlives every query (or spec) that made it. */
class ScratchLintSpec extends AnyFunSuite {

  private val owner = Paths.get("src/main/scala/graft/store/Scratch.scala")
  /** Inspects the JVM temp dir to prove nothing is left there. */
  private val inspector = Paths.get("src/test/scala/graft/store/ScratchSpec.scala")

  private val mkTemp = """createTempDirectory\(""".r
  /** Any mention of the temp-dir property. */
  private val tmpdir = """java\.io\.tmpdir""".r
  /** The property key as a string literal: every read of it. */
  private val tmpdirKey = "\"java\\.io\\.tmpdir\"".r

  private def sources(root: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private def matching(root: String, re: scala.util.matching.Regex): Seq[Path] =
    sources(root).flatMap { case (p, src) => re.findAllMatchIn(src).map(_ => p) }

  test("src/main makes temp directories only in store/Scratch.scala") {
    val calls = matching("src/main/scala", mkTemp)
    assert(calls == Seq(owner), s"createTempDirectory calls: $calls")
  }

  test("src/main reads java.io.tmpdir nowhere else") {
    val readers = matching("src/main/scala", tmpdir).filterNot(_ == owner)
    assert(readers.isEmpty, s"temp-dir readers outside Scratch: $readers")
  }

  test("src/test takes every directory from Scratch") {
    val calls = matching("src/test/scala", mkTemp)
    assert(calls.isEmpty, s"createTempDirectory calls: $calls")
  }

  test("src/test reads the JVM temp dir only in ScratchSpec") {
    val readers = matching("src/test/scala", tmpdirKey).distinct
    assert(readers == Seq(inspector), s"temp-dir readers: $readers")
  }
}
