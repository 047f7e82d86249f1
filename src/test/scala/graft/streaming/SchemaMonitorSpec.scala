package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.store.DocumentStore
import graft.store.Scratch

class SchemaMonitorSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def store() = new DocumentStore(spark,
    Scratch.dir(spark, "schema-mon"))

  test("dominant-type flip across batches alerts once, then settles") {
    val st = store()
    val m = new SchemaMonitor(st, "led", "ver", "doc", Seq("k", "z"))
    def ints = (1 to 10).map(i => s"""{"k": $i}""").toDF("doc")
    def strs = (1 to 10).map(i => s"""{"k": "$i"}""").toDF("doc")
    m.applyBatch(ints, 0L)
    m.applyBatch(ints, 1L)
    m.applyBatch(strs, 2L) // the producer regression
    m.applyBatch(strs, 3L)
    val ver = st.read("ver").orderBy(col("field"), col("batch_id"))
      .collect().map(r => (r.getAs[String]("field"),
        r.getAs[Long]("batch_id"), r.getAs[String]("dom_type"),
        r.getAs[Boolean]("flipped"))).toSeq
    assert(ver.filter(_._1 == "k").map(v => (v._3, v._4)) ==
      Seq(("int", false), ("int", false), ("string", true),
        ("string", false)))
    // the never-present field stays 'missing' and never flips
    assert(ver.filter(_._1 == "z").forall(v => v._3 == "missing" && !v._4))
  }

  test("verdict sees only its own batch's ledger prefix (replay bound)") {
    val st = store()
    val m = new SchemaMonitor(st, "led", "ver", "doc", Seq("k"))
    m.applyBatch(Seq("""{"k": 1}""").toDF("doc"), 0L)
    m.applyBatch(Seq("""{"k": "x"}""").toDF("doc"), 1L)
    // replaying batch 0 after the flip landed must NOT see batch 1
    m.applyBatch(Seq("""{"k": 1}""").toDF("doc"), 0L)
    val b0 = st.read("ver").filter(col("batch_id") === 0L).head()
    assert(b0.getAs[String]("dom_type") == "int" &&
      !b0.getAs[Boolean]("flipped") && b0.isNullAt(
        b0.schema.fieldNames.indexOf("prev_type")))
  }

  test("mixed batch: dominance is max-by-(count, type), counts on record") {
    val st = store()
    val m = new SchemaMonitor(st, "led", "ver", "doc", Seq("k"))
    val mixed = ((1 to 6).map(i => s"""{"k": $i}""") ++
      (1 to 4).map(i => s"""{"k": "$i"}""")).toDF("doc")
    m.applyBatch(mixed, 0L)
    val v = st.read("ver").head()
    assert(v.getAs[String]("dom_type") == "int")
    assert(v.getAs[Long]("n_dom") == 6L && v.getAs[Long]("n_docs") == 10L)
    val led = st.read("led").collect()
      .map(r => r.getAs[String]("t") -> r.getAs[Long]("n")).toMap
    assert(led == Map("int" -> 6L, "string" -> 4L))
  }
}
