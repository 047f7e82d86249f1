package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for parquet-mr's per-call Hadoop configuration: the
  * one-argument `ParquetFileReader.open` and `ParquetReader.builder`
  * each build a fresh `Configuration`, whose first lookup re-parses the
  * default XML resources out of the classpath jars — most of the cost of
  * reading a kB-sized file on the driver. src/main opens parquet files
  * only under a configuration its caller already holds. */
class ParquetConfLintSpec extends AnyFunSuite {

  private val open = """ParquetFileReader\.open\(""".r
  private val builder = """ParquetReader\.builder\(""".r

  private def sources(root: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  /** Top-level arguments of the call whose argument list starts at
    * `from` (just past its opening paren). */
  private def arity(src: String, from: Int): Int = {
    var depth = 0
    var commas = 0
    var i = from
    while (depth >= 0) {
      src(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => commas += 1
        case _ =>
      }
      i += 1
    }
    if (src.substring(from, i - 1).trim.isEmpty) 0 else commas + 1
  }

  test("the arity check counts only top-level arguments") {
    val call = "ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))"
    assert(arity(call, call.indexOf('(') + 1) == 1)
    val two = "ParquetFileReader.open(in, HadoopReadOptions.builder(conf, f).build())"
    assert(arity(two, two.indexOf('(') + 1) == 2)
  }

  test("src/main opens no parquet file with a one-argument ParquetFileReader.open") {
    val calls = sources("src/main/scala").flatMap { case (p, src) =>
      open.findAllMatchIn(src).filter(m => arity(src, m.end) == 1).map(_ => p)
    }
    assert(calls.isEmpty, s"one-argument ParquetFileReader.open calls: $calls")
  }

  test("src/main builds no ParquetReader") {
    val calls = sources("src/main/scala").flatMap { case (p, src) =>
      builder.findAllMatchIn(src).map(_ => p)
    }
    assert(calls.isEmpty, s"ParquetReader.builder calls: $calls")
  }
}
