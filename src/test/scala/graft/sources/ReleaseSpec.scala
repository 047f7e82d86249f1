package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.Scratch

class ReleaseSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private def corpus = Seq(
    (1L, "alpha", "a"), (2L, "beta", "a"), (3L, "gamma", "b"),
    (4L, "delta", "b"), (5L, "epsilon", "c")).toDF("id", "text", "src")

  test("publish then verify: every scope checks out") {
    val dir = Scratch.dir(spark, "release")
    Release.publish(corpus, dir, "id", Seq("id", "text", "src"), Some("src"))
    val rep = Release.verify(spark, dir, Seq("id", "text", "src"), Some("src"))
      .collect()
    assert(rep.length == 4) // table scope + 3 groups
    assert(rep.forall(_.getBoolean(5)), rep.mkString("; "))
  }

  test("a tampered copy fails loudly at the exact scope") {
    val dir = Scratch.dir(spark, "release")
    Release.publish(corpus, dir, "id", Seq("id", "text", "src"), Some("src"))
    // tamper: append a smuggled extra row as one more parquet file
    Seq((99L, "smuggled", "b")).toDF("id", "text", "src")
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    val rep = Release.verify(spark, dir, Seq("id", "text", "src"), Some("src"))
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(!rep("*"), "table scope must fail")
    assert(!rep("b"), "the tampered group must fail")
    assert(rep("a") && rep("c"), "untouched groups still verify")
  }

  test("the manifest is format-agnostic: ORC and parquet releases carry identical lines") {
    val dPar = Scratch.dir(spark, "release")
    val dOrc = Scratch.dir(spark, "release")
    Release.publish(corpus, dPar, "id", Seq("id", "text", "src"), Some("src"))
    Release.publish(corpus, dOrc, "id", Seq("id", "text", "src"), Some("src"),
      format = "orc")
    val mp = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dPar/_MANIFEST"))
    val mo = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dOrc/_MANIFEST"))
    assert(mp == mo, "value checksums must not depend on the container format")
    val rep = Release.verify(spark, dOrc, Seq("id", "text", "src"), Some("src"),
      format = "orc").collect()
    assert(rep.forall(_.getBoolean(5)))
  }

  test("a consumer engine only needs the files: fresh read verifies") {
    val dir = Scratch.dir(spark, "release")
    Release.publish(corpus, dir, "id", Seq("id", "text"))
    // no group accounting: single table line
    val rep = Release.verify(spark, dir, Seq("id", "text")).collect()
    assert(rep.length == 1 && rep.head.getBoolean(5))
    // and the data itself reads back complete
    assert(spark.read.parquet(s"$dir/data").count() == 5)
  }
}
