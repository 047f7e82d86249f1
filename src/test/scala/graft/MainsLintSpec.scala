package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one profiling entry point: a dev measurement goes
  * into a mode of graft.tools.Profile, not into a main of its own that
  * copies the session, warm-up and timing prelude. */
class MainsLintSpec extends AnyFunSuite {

  test("src/main declares main only in Bench, Verify, ScaleSmoke, BpeTrainer and Profile") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val mains = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains("def main("))
      .map(p => root.relativize(p).toString.stripSuffix(".scala")).toSet
    finally walk.close()
    assert(mains == Set("graft/Bench", "graft/Verify", "graft/ScaleSmoke",
      "graft/functions/BpeTrainer", "graft/tools/Profile"),
      s"mains: $mains")
  }
}
