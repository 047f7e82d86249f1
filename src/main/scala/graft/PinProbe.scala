package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Grounds the r15 census-pinning trade empirically (VERDICT r16 item 3):
  * the scan-count refactor made three cheap operators SLOWER at sf1
  * (q283_retention 1.96→3.27 s, q309_confusion 0.80→1.31 s, q286_cmh
  * 2.04→2.41 s) on an "inverts as data outgrows the fixed checkpoint
  * cost" argument that had not been measured. This probe measures it:
  * it builds an sf10-equivalent dir (copies× the sf0.1 tables the three
  * gates read, id-shifted so workload shape is preserved — the
  * ScaleSmoke idiom) and times each gate PINNED (production code) vs
  * NAIVE (-Dgraft.pin.disable=true re-scan plan) in alternating passes
  * within one JVM.
  *
  * Usage: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.PinProbe"`
  * (optional args: srcDir outDir; SPARK_GRAFT_COPIES=100). Prints one
  * JSON line of per-mode seconds (median of 3 passes). */
object PinProbe {

  private val IdStride = 100000000L

  private def shifted(src: DataFrame, copies: Int,
                      idCols: Seq[String]): DataFrame =
    (0 until copies).map { c =>
      if (c == 0) src
      else idCols.foldLeft(src)((d, ic) =>
        d.withColumn(ic, col(ic) + lit(c.toLong * IdStride)))
    }.reduce(_ unionByName _)

  private def buildIfMissing(spark: SparkSession, srcDir: String,
                             outDir: String, copies: Int): Unit = {
    val out = new java.io.File(outDir)
    if (new java.io.File(out, "_READY").exists()) return
    out.mkdirs()
    def write(df: DataFrame, name: String): Unit =
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
    def rd(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")
    // events: id/user shift — per-user streams isomorphic, users ×copies
    write(shifted(rd("events"), copies, Seq("event_id", "user_id")), "events")
    // documents: doc_id shift — lang distribution and the hash-pred
    // confusion census shape preserved, rows ×copies
    write(shifted(rd("documents"), copies, Seq("doc_id")), "documents")
    // orders+customer: custkey shift on BOTH sides — the join stays
    // 1:n isomorphic, segments (the strata grid) unchanged
    write(shifted(rd("orders"), copies, Seq("o_orderkey", "o_custkey")),
      "orders")
    write(shifted(rd("customer"), copies, Seq("c_custkey")), "customer")
    new java.io.File(srcDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .filterNot(f => Seq("events", "documents", "orders", "customer")
        .contains(f.getName.stripSuffix(".parquet")))
      .foreach { f =>
        val dst = new java.io.File(out, f.getName).toPath
        if (!java.nio.file.Files.exists(dst))
          java.nio.file.Files.createSymbolicLink(dst, f.toPath)
      }
    java.nio.file.Files.writeString(
      new java.io.File(out, "_READY").toPath, "ok")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "100").toInt
    val outDir = args.lift(1).getOrElse(s"/tmp/graft-pinprobe-x$copies")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, "graft-pinprobe")
    buildIfMissing(spark, srcDir, outDir, copies)
    val names = Seq("q283_cohort_retention", "q309_confusion_matrix",
      "q286_cmh_test")
    val qmap = SparkEntry.queries
    qmap("q01_agg_pricing")(spark, outDir).count() // warm-up
    def once(name: String, naive: Boolean): Double = {
      if (naive) sys.props.put("graft.pin.disable", "true")
      else sys.props.remove("graft.pin.disable")
      graft.store.Scratch.reset(spark)
      val t0 = System.nanoTime()
      qmap(name)(spark, outDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val rows = names.map { n =>
      // alternate modes, 3 passes each, median — one JVM, shared cache
      val pinned = Seq.fill(3)(once(n, naive = false)).sorted.apply(1)
      val naive = Seq.fill(3)(once(n, naive = true)).sorted.apply(1)
      f""""$n":{"pinned_sec":$pinned%.2f,"naive_sec":$naive%.2f}"""
    }
    sys.props.remove("graft.pin.disable")
    println(s"""{"metric":"pin_probe","copies":$copies,""" +
      s""""queries":${rows.mkString("{", ",", "}")},"cpus":$cpus}""")
    spark.stop()
  }
}
