package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.Scratch

class JsonIngestSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // products.json blob shape (SharedLib/Models/Product.cs:8-35)
  private val productsJson =
    """[
      |  {"id": "p1", "categoryId": "c1", "categoryName": "Bikes", "sku": "BK-1",
      |   "name": "Mountain-100", "price": 3399.99,
      |   "tags": [{"id": "t1", "name": "new"}]},
      |  {"id": "p2", "categoryId": "c2", "categoryName": "Socks", "sku": "SO-1",
      |   "name": "Cosmic Socks", "price": 9.99, "tags": []}
      |]""".stripMargin

  test("S1: multiLine JSON array blob -> rows with nested tags") {
    val dir = Scratch.dir(spark, "json")
    Files.writeString(java.nio.file.Paths.get(dir, "products.json"), productsJson)
    val df = JsonIngest.readJsonArray(spark, s"$dir/products.json")
    assert(df.count() == 2)
    val socks = df.filter($"id" === "p2").head()
    assert(socks.getAs[String]("name") == "Cosmic Socks")
    assert(df.filter($"id" === "p1")
      .select(explode($"tags").as("t")).select($"t.name").head().getString(0) == "new")
  }

  test("S2: dataset of JSON strings parses distributed") {
    val ds = Seq("""{"a": 1, "b": "x"}""", """{"a": 2, "b": "y"}""").toDS()
    val df = JsonIngest.parseJsonStrings(spark, ds)
    assert(df.agg(sum($"a")).head().getLong(0) == 3)
  }

  test("supplied schema skips inference and types fields exactly") {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("price", DoubleType)))
    val ds = Seq("""{"id": "p1", "price": 3.5, "ignored": true}""").toDS()
    val df = JsonIngest.parseJsonStrings(spark, ds, Some(schema))
    assert(df.schema == schema)
    assert(df.head().getDouble(1) == 3.5)
  }
}
