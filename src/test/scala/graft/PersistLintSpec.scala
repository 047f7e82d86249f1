package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one persistence path of mutable index state: an
  * index under `graft/search/` keeps what it mutates in a
  * [[graft.store.DocumentStore]] table, whose commit publishes a change
  * whole or not at all. A raw `.write.mode(` there is allowed only in
  * the two immutable build exports, `HnswIndex.write` and
  * `IvfIndex.write`. */
class PersistLintSpec extends AnyFunSuite {

  private val allowed = Set("HnswIndex.scala" -> "write", "IvfIndex.scala" -> "write")

  private val writeMode = """\.write\.mode\(""".r
  private val defName = """\bdef\s+(\w+)""".r

  /** The name of the last `def` that starts before `at` in `src`. */
  private def enclosingDef(src: String, at: Int): String =
    defName.findAllMatchIn(src.substring(0, at)).map(_.group(1)).toSeq.lastOption
      .getOrElse("<none>")

  /** (file name, enclosing def) of every raw write under graft/search. */
  private def rawWrites: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala/graft/search"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
      val src = Files.readString(p)
      writeMode.findAllMatchIn(src).map(m => p.getFileName.toString -> enclosingDef(src, m.start))
    } finally walk.close()
  }

  test("the enclosing-def lookup names the def a write sits in") {
    val src = "def a() = 1\n  def write(df: DataFrame) =\n    df\n      .write.mode(\"x\")"
    assert(enclosingDef(src, src.indexOf(".write")) == "write")
  }

  test("graft/search writes raw parquet only in HnswIndex.write and IvfIndex.write") {
    val writes = rawWrites
    assert(allowed.subsetOf(writes.toSet), s"the lint no longer sees the exports: $writes")
    assert(writes.filterNot(allowed.contains).isEmpty, s"raw writes: $writes")
  }
}
