package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one scratch lifecycle: a directory minted outside
  * [[graft.store.Scratch]] is invisible to the between-queries sweep and
  * to the exit hook, so it outlives every query that made it. */
class ScratchLintSpec extends AnyFunSuite {

  private val owner = Paths.get("src/main/scala/graft/store/Scratch.scala")

  private def sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  test("src/main makes temp directories only in store/Scratch.scala") {
    val calls = sources.flatMap { case (p, src) =>
      "createTempDirectory\\(".r.findAllMatchIn(src).map(_ => p)
    }
    assert(calls == Seq(owner), s"createTempDirectory calls: $calls")
  }

  test("src/main reads java.io.tmpdir nowhere else") {
    val readers = sources.collect {
      case (p, src) if p != owner && src.contains("java.io.tmpdir") => p
    }
    assert(readers.isEmpty, s"java.io.tmpdir outside Scratch: $readers")
  }
}
